package graft

import graft.queries.Query

/** The query registry's contract: one declaration per name, a
  * SPARK_GRAFT_ONLY selector that refuses names it does not know, and an
  * oracle for every declared query once the fitted builders have run. */
class QueryRegistrySpec extends SparkSpec {
  private val fitted = Seq("q60_ivf_trained", "q154_pca_project",
    "q155_mahalanobis", "q156_pq_adc", "q160_zorder_cells")

  test("a name declared twice fails registry construction, naming it") {
    val q = Query("q_dup", (s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val other = Query("q_other", (s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val e = intercept[IllegalArgumentException](Query.index(Seq(q, other, q)))
    assert(e.getMessage.contains("declared more than once: q_dup"))
    assert(Query.index(Seq(q, other)).keySet == Set("q_dup", "q_other"))
  }

  test("the selector rejects unknown names, listing each of them") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_project,q999_nope,q00_typo")))
    assert(e.getMessage.contains("unknown query name(s): q00_typo, q999_nope"))
    intercept[IllegalArgumentException](SparkEntry.select(Some(",")))
    assert(SparkEntry.select(Some("q01_project,q10_topk")).keySet ==
      Set("q01_project", "q10_topk"))
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
  }

  test("every declared query has an oracle once the fitted builders ran (sf0.001)") {
    assume(new java.io.File(sf001).isDirectory)
    // the fits run eagerly while each builder constructs its DataFrame
    fitted.foreach(q => SparkEntry.queries(q)(spark, sf001))
    org.apache.spark.sql.GraftShims.release(spark)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }
}
