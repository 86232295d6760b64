package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

object Catalog {
  /** Pass order: a permutation of the workload's queries drawn from the
    * seed and the pass index (the same pass index replays the same order). */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)
}

/** A query-catalog workload: one operation is one `SparkEntry.queries`
  * entry built and then written to the noop sink, which plans and runs
  * it; one pass runs every query of the workload once, in an order drawn
  * from the seed. */
final class Catalog(o: Opts) extends Workload {
  private val names = o.queries
  require(names.nonEmpty, "a catalog workload needs --queries")
  private val missing = names.filterNot(SparkEntry.queries.contains)
  require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")

  private var session: SparkSession = _
  def spark: SparkSession = session
  val spanPhases: Set[String] = Set("build")
  val round: Int = o.roundPasses

  def setup(): Map[String, Double] = {
    if (session != null) session.stop()
    val t0 = Clock.now()
    session = BenchSession.start(o)
    val t1 = Clock.now()
    // resolving a base relation reads the parquet footers; Tables memoizes
    // it per session, so each fresh session pays it once per table
    Tables.names.foreach(t => Tables.load(session, o.dataDir, t).schema)
    val t2 = Clock.now()
    Map("session_s" -> Clock.secs(t0, t1), "first_load_s" -> Clock.secs(t1, t2),
      "fixture_s" -> 0.0, "total_s" -> Clock.secs(t0, t2))
  }

  /** Dumps every query's output as parquet beside its oracle SQL, in the
    * layout `tools/compare.py` reads; the comparison itself runs after
    * the JVM exits. */
  def postcheck(segments: Seq[Segment]): Map[String, Any] = {
    val dumpDir = Paths.get(o.workDir, "dumps")
    FileTree.delete(dumpDir)
    Files.createDirectories(dumpDir)
    val errors = names.sorted.flatMap { q =>
      val err = try {
        SparkEntry.queries(q)(session, o.dataDir).repartition(1)
          .write.mode("overwrite").parquet(dumpDir.resolve(q).toString)
        None
      } catch { case e: Throwable => Some(q -> e.getClass.getName) }
      freeCheckpoints(blocking = true)
      err
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(dumpDir.resolve("oracle_sql.json"),
      Json.encode(oracle).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Map("dump_dir" -> dumpDir.toString, "dump_errors" -> errors,
      "oracle_missing" -> names.filterNot(oracle.contains))
  }

  def pass(ns: String, index: Int, traced: Boolean): Seq[Map[String, Any]] =
    Catalog.order(names, o.seed, index).map(q => op(s"$ns/$index/$q", q))

  /** build → noop write, each phase timed from here. The write plans the
    * query once, inside its own execution; a traced pass reads that
    * planning time from the execution (`plan_s`, a part of `write_s`). */
  private def op(id: String, q: String): Map[String, Any] = {
    val sc = session.sparkContext
    Trace.tagOp(sc, id)
    val step = new Steps(sc)
    var writeFromMs = Long.MaxValue
    val err = try {
      val df = step("build")(SparkEntry.queries(q)(session, o.dataDir))
      writeFromMs = System.currentTimeMillis()
      step("write")(df.write.mode("overwrite").format("noop").save())
      None
    } catch { case e: Throwable => Some(e.getClass.getName) }
    val end = Clock.now()
    val endMs = System.currentTimeMillis()
    Trace.clear(sc)
    freeCheckpoints(blocking = false)
    Map("id" -> id, "kind" -> q, "t_s" -> Clock.secs(step.start, end), "ok" -> err.isEmpty,
      "err" -> err, "build_s" -> step.seconds(0, end), "write_s" -> step.seconds(1, end),
      "plan_from_ms" -> writeFromMs, "plan_to_ms" -> endMs)
  }

  /** Iterative operators pin per-round checkpoint blocks; nothing outlives
    * its query, so release them between operations (outside the timing). */
  private def freeCheckpoints(blocking: Boolean): Unit =
    session.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
}
