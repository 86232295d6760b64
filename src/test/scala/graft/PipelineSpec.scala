package graft

import org.apache.spark.sql.functions._
import graft.pipelines.SurveyPipelines
import graft.sinks.Sinks
import graft.sources.Readers

/** End-to-end pipeline tests over the FIXTURES.md §1 export shape,
  * exercising the SURVEY.md §7.4 semantic traps: keep-last tie-break,
  * empty-string-vs-null, membership-guarded cast, N-prefix NPS codes. */
class PipelineSpec extends SparkSpec {

  val TS = lit("2026-01-01 00:00:00")

  // Duplicate q06=BR1 with different datestamps (later must win), a tie
  // pair on q06=BR2 (later ingest position must win), an invalid grade
  // (dropped by membership), a missing q03 (dropped by dropna), an
  // empty-string email (kept), and an N-prefixed NPS code.
  val exportJson: String =
    """{ "responses": [
      { "1": { "id": "1", "datestamp": "2018-03-01 10:00:00", "submitdate": "2018-03-01 10:00:00", "startdate": "2018-03-01 09:58:00", "lastpage": "3", "startlanguage": "pt", "q01": "A4", "q03": "ana@example.com", "q06": "BR1", "q12": "mail", "q22": "R1" } },
      { "2": { "id": "2", "datestamp": "2018-03-02 10:00:00", "submitdate": "2018-03-02 10:00:00", "startdate": "2018-03-02 09:58:00", "lastpage": "3", "startlanguage": "pt", "q01": "A5", "q03": "bob@example.com", "q06": "BR1", "q12": "phone", "q22": "R2" } },
      { "3": { "id": "3", "datestamp": "2018-03-03 10:00:00", "submitdate": "2018-03-03 10:00:00", "startdate": "2018-03-03 09:58:00", "lastpage": "2", "startlanguage": "en", "q01": "A1", "q03": "", "q06": "BR2", "q12": "mail", "q22": "R3" } },
      { "4": { "id": "4", "datestamp": "2018-03-03 10:00:00", "submitdate": "2018-03-03 10:00:00", "startdate": "2018-03-03 09:58:00", "lastpage": "2", "startlanguage": "en", "q01": "A2", "q03": "eve@example.com", "q06": "BR2", "q12": "mail", "q22": "R4" } },
      { "5": { "id": "5", "datestamp": "2018-03-04 10:00:00", "submitdate": "2018-03-04 10:00:00", "startdate": "2018-03-04 09:58:00", "lastpage": "1", "startlanguage": "es", "q01": "free text", "q03": "zoe@example.com", "q06": "BR3", "q12": "mail", "q22": "R5" } },
      { "6": { "id": "6", "datestamp": "2018-03-05 10:00:00", "submitdate": "2018-03-05 10:00:00", "startdate": "2018-03-05 09:58:00", "lastpage": "3", "startlanguage": "pt", "q01": "N10", "q06": "BR4", "q12": "mail", "q22": "R6" } }
    ] }"""

  lazy val exported = Readers.surveyExportFromJson(spark, exportJson)

  test("unnest emits one row per response with index and ingest position (O7/O20)") {
    val out = SurveyPipelines.unnest(exported)
    assert(out.columns.toSeq == Seq("_ingest_pos", "index", "rec"))
    assert(out.count() == 6)
    val r = out.filter(col("index") === "3").select(col("rec").getItem("q03")).head()
    assert(r.getString(0) == "") // empty string preserved, not nullified
  }

  test("ordersShipped: dedup keeps latest per order, membership guards cast") {
    val out = SurveyPipelines.ordersShipped(exported, TS)
    val rows = out.orderBy("order_number")
      .select("order_number", "id_answer", "grade", "email").collect()
    // BR1: id=2 (later datestamp) wins, grade 5.0
    // BR2: id=4 (tie datestamp, later ingest pos) wins, grade 2.0
    // BR3: dropped ("free text" not in A1..A5); BR4: dropped (q03 missing)
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("BR1", "2", 5.0), ("BR2", "4", 2.0)))
    assert(rows.find(_.getString(0) == "BR2").get.getString(3) == "eve@example.com")
  }

  test("nps: subset dropna keeps empty-string email, strips A|N prefix") {
    val out = SurveyPipelines.nps(exported, TS)
    assert(out.columns.toSeq == Seq("id_answer", "date_sent", "last_page",
      "language", "start_date", "last_action_date", "nps", "email", "cohort",
      "updated_ts"))
    val npsIdx = out.columns.indexOf("nps")
    val byId = out.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(npsIdx)) None else Some(r.getDouble(npsIdx)))).toMap
    // response 6 has no q03 → dropped by subset dropna {email, nps};
    // response 5's "free text" survives (dropna runs on the RAW strings
    // before the cast) and casts to null.
    assert(byId.keySet == Set("1", "2", "3", "4", "5"))
    assert(byId("1").contains(4.0) && byId("2").contains(5.0))
    assert(byId("5").isEmpty) // un-guarded non-numeric → null, not a crash
    // id_answer for nps comes from the response-id map key
    assert(out.filter(col("email") === "").count() == 1) // empty string kept
  }

  test("returns: full dropna, final column order matches the reference") {
    val out = SurveyPipelines.returns(exported, TS)
    assert(out.columns.toSeq == Seq("id_answer", "date_sent", "grade",
      "email", "order_number", "return_order_number", "language",
      "updated_ts", "return_channel"))
    // response 6 lacks q03 → dropped by full dropna; "free text" grade
    // has no membership guard here → cast yields null (Spark cast
    // semantics; the reference would throw — fail-fast callers use
    // membership first)
    val ids = out.select("id_answer").collect().map(_.getString(0)).toSet
    assert(ids == Set("1", "2", "3", "4", "5"))
  }

  test("pipelines run end-to-end from a spool file (O3 path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spool").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/lime_export_1.txt"), exportJson)
    val fromFile = Readers.surveyExport(spark, s"$dir/lime_export_1.txt")
    assert(SurveyPipelines.ordersShipped(fromFile, TS).count() == 2)
  }
  for ((name, pipeline, shuffles) <- Seq(
      ("ordersShipped", SurveyPipelines.ordersShipped _, 1),
      ("nps", SurveyPipelines.nps _, 0),
      ("returns", SurveyPipelines.returns _, 0)))
    test(s"$name loaded by both sinks scans its export once") {
      val dir = java.nio.file.Files.createTempDirectory("graft_once").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/lime_export_1.txt"), exportJson)
      val (_, QueryTrace.Trace(_, stages)) = QueryTrace.of(spark) {
        val out = pipeline(Readers.surveyExport(spark, s"$dir/lime_export_1.txt"), TS)
        Sinks.csvDatedKey(out, dir, name, "20260101")
        Sinks.replaceWhere(out, s"$dir/wh", name, "date_sent", "2018-01-01")
      }
      val scans = stages.count(_.scansFile)
      val shuffleStages = stages.count(_.shuffleRecords > 0)
      assert(scans == 1)
      assert(shuffleStages == shuffles) // ordersShipped's keep-last, once
    }
}
