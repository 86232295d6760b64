package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every profile shares [[base]]
  * (UTC session time zone, nanos-as-long parquet timestamps, UI off):
  *
  *  - `bench` ([[bench]]): the local-latency profile Bench times — AQE
  *    off, 8 shuffle partitions, 64 MB broadcast threshold. Bench,
  *    DevProfile, PlanDump, StageAudit and Stress (32-wide) run it.
  *  - `verify` ([[verify]]): Spark's default AQE, shuffle = cores.
  *    Verify and ScaleUp (32-wide) run it.
  *  - `cluster` ([[cluster]]): AQE on + [[GraftExtensions]], the
  *    100 TB-config overlay. `SPARK_GRAFT_AQE=1` lays it over the
  *    entry point's profile at every entry point, so Bench measures
  *    bench + AQE + extensions and Verify validates verify + AQE +
  *    extensions.
  *  - `test` ([[test]]): `local[4]`, 4 shuffle partitions, a temporary
  *    warehouse dir — the shared test session. Hermetic: no env var
  *    changes it.
  *
  * Environment (read only here, in [[resolve]] and [[cpus]]):
  * `SPARK_GRAFT_CPUS` sets `local[n]` (default: the host's cores),
  * `SPARK_GRAFT_AQE=1` selects the cluster overlay, and
  * `SPARK_GRAFT_CONF="k=v;k=v"` applies ad-hoc settings last.
  */
object Profiles {
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Extensions = "spark.sql.extensions"

  val base: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** 8 shuffle partitions keep every shuffle partition of the sub-second
    * sf0.1 suite in the 1–100 MB band; 32 pays 4× the task launches for
    * the same work. AQE's stage-by-stage replanning costs ~60–200 ms per
    * query on sub-second inputs, so it is off. 64 MB broadcast: the
    * default 10 MB narrowly excludes the ~15 MB orders table and forces
    * a 600 k-row shuffle in q14/q15. */
  def benchConf(shuffle: Int = 8): Map[String, String] = base ++ Map(
    Aqe -> "false",
    Shuffle -> shuffle.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString)

  /** Spark's defaults (AQE on, 10 MB broadcast) with one shuffle
    * partition per core. */
  def verifyConf(shuffle: Int): Map[String, String] =
    base + (Shuffle -> shuffle.toString)

  val cluster: Map[String, String] =
    Map(Aqe -> "true", Extensions -> "graft.GraftExtensions")

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `conf` under the environment's overrides. `SPARK_GRAFT_CONF` folds
    * LAST so an experiment's keys win over the profile; one that turns
    * AQE on also loads GraftExtensions unless it names
    * `spark.sql.extensions` itself — the AQE profile is documented WITH
    * the extension rules, and AQE without them is a different engine. */
  def resolve(conf: Map[String, String],
      env: Map[String, String] = sys.env): Map[String, String] = {
    val extra = env.getOrElse("SPARK_GRAFT_CONF", "").split(";").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k.trim -> v.trim
      }.toMap
    val implied =
      if (extra.get(Aqe).contains("true") && !extra.contains(Extensions))
        Map(Extensions -> cluster(Extensions))
      else Map.empty[String, String]
    val selected =
      if (env.get("SPARK_GRAFT_AQE").contains("1")) conf ++ cluster else conf
    selected ++ implied ++ extra
  }

  def bench(shuffle: Int = 8): SparkSession = local(benchConf(shuffle))

  def verify(shuffle: Int = cpus): SparkSession = local(verifyConf(shuffle))

  def test(): SparkSession = build("local[4]", base ++ Map(
    "spark.app.name" -> "graft-test",
    Shuffle -> "4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))

  private def local(conf: Map[String, String]): SparkSession = {
    val spark = build(s"local[$cpus]", resolve(conf))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def build(master: String, conf: Map[String, String]): SparkSession =
    conf.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  /** Run `body` with `conf` set on the live session, then restore every
    * key to its previous value (or unset it). */
  def withConf[T](spark: SparkSession, conf: (String, String)*)(body: => T): T = {
    val was = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
