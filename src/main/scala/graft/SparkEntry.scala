package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract (see SURVEY.md §7 + BASELINE.md): the declared query
  * inventory. Every entry in [[queries]] exercises one operator row from
  * SURVEY.md §2 (or a T2/T3 generalization) through the graft library, and
  * [[oracleSql]] carries the DuckDB-equivalent SQL the driver hash-checks
  * at sf0.01. Each query is one [[Query]] declared, builder beside oracle,
  * in its tier object under `graft.queries`; this object only indexes
  * them.
  */
object SparkEntry {
  private val declared: Map[String, Query] = Query.index(
    ReferenceQueries.all ++ GeneralQueries.all ++ TextQueries.all ++
      LanguageModelQueries.all ++ DedupQueries.all ++ VectorQueries.all ++
      MediaQueries.all ++ GraphQueries.all ++ TemporalQueries.all ++
      TabularQueries.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (name, q) => name -> q.build }

  /** A `def`: a fitted query's oracle appears once its builder has run. */
  def oracleSql: Map[String, String] =
    declared.flatMap { case (name, q) => q.oracle.map(name -> _) }

  /** The queries a comma-separated `SPARK_GRAFT_ONLY` names, or all of
    * them when it is unset. A name that matches no declared query fails
    * here, listing every such name: a typo must not turn a Verify dump,
    * a bench or an audit into a run over nothing. */
  def select(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { spec =>
      val names = spec.split(",").filter(_.nonEmpty).toSet
      val unknown = names.filterNot(queries.contains)
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY=$spec: unknown query name(s): " +
          (if (names.isEmpty) "(none given)" else unknown.toSeq.sorted.mkString(", ")))
      queries.filter { case (name, _) => names(name) }
    }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the
    * reference's headline semantic — keep-last dedup (latest order per
    * customer, SURVEY.md §2 O18+O19) — through the library operators. */
  def entry(spark: SparkSession): DataFrame =
    queries("q11_keeplast")(spark, "/root/testdata/sf0.001")
}
