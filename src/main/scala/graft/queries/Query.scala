package graft
package queries

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its builder over (session, sf dir), and
  * the DuckDB-equivalent SQL whose result its output must hash-match
  * (Verify + tools/compare.py; SURVEY.md §7 + BASELINE.md). Each query
  * is declared once, builder beside oracle, in its tier object; the only
  * constructors require an oracle, so a query without one does not
  * compile.
  *
  * Engine-parity rules used throughout (SURVEY.md §5):
  *  - money/quantity aggregates run in DECIMAL (exact, order-independent)
  *    and only the final value is cast to DOUBLE — bit-identical in both
  *    engines;
  *  - counts are BIGINT in both engines;
  *  - timestamps cross the boundary as formatted strings;
  *  - hashes are md5-based (Hashing.hexLong ≡ DuckDB
  *    `CAST(concat('0x', substr(md5(x),1,14)) AS BIGINT)`);
  *  - every computed column is aliased identically in Spark and SQL.
  */
final class Query private (val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracleOf: () => Option[String]) {
  /** The oracle SQL; None only for a fitted query whose builder has not
    * run yet in this JVM. */
  def oracle: Option[String] = oracleOf()
}

object Query {
  /** A query whose oracle is static SQL. */
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: String): Query =
    new Query(name, build, () => Some(oracle))

  /** A query whose oracle injects a model its builder fits (k-means
    * centroids, a PCA model, PQ codebooks): the fit is not
    * SQL-expressible, but everything after it is. The builder hands the
    * fitted model to `capture` (the fit is eager and bounded), and the
    * oracle renders from the last captured model.
    * Verify runs every builder BEFORE it dumps oracle_sql.json, so the
    * capture always comes from the data the dump was produced from. */
  def fitted[M](name: String,
      build: (SparkSession, String, M => Unit) => DataFrame,
      oracle: M => String): Query = {
    val model = new AtomicReference[Option[M]](None)
    new Query(name, (s, d) => build(s, d, m => model.set(Some(m))),
      () => model.get.map(oracle))
  }

  /** The queries by name; a name declared twice fails here, naming it,
    * instead of one declaration silently replacing the other. */
  def index(queries: Seq[Query]): Map[String, Query] = {
    val repeated = queries.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n
    }
    require(repeated.isEmpty,
      s"query name(s) declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}
