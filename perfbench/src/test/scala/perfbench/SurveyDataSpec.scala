package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.SurveyPipelines
import graft.sources.Readers

class SurveyDataSpec extends AnyFunSuite with BeforeAndAfterAll {
  // scratch space stays under the build's target directory
  private val scratch = Files.createDirectories(Paths.get("target", "spec-scratch"))
  private def tempDir(prefix: String): Path = Files.createTempDirectory(scratch, prefix)

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.local.dir", tempDir("spark-local").toString)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val orders = SurveyGen.surveys.head

  private def exports(seed: Long): Seq[String] =
    SurveyGen.surveys.flatMap { s =>
      val st = SurveyGen.stream(seed, s, 50, -6, 9)
      (0 to 9).map(n => SurveyGen.exportReply(SurveyGen.exportJson(SurveyGen.exportOf(st, n, 7))))
    }

  test("a given seed always generates the same exports; another seed does not") {
    assert(exports(7) == exports(7))
    assert(exports(7) != exports(8))
  }

  test("every FIXTURES.md §1 trap occurs in a generated stream") {
    val st = SurveyGen.stream(1, orders, 300, -6, 13)
    val byKey = st.groupBy(_.get("q06")).values.filter(_.size > 1)
    assert(byKey.exists(rs => rs.map(_.get("datestamp")).distinct.size > 1), "dup q06, later")
    assert(byKey.exists(rs => rs.map(_.get("datestamp")).distinct.size < rs.size), "dup q06, equal")
    assert(st.exists(r => !Set("A1", "A2", "A3", "A4", "A5").contains(r.get("q01"))))
    assert(st.exists(r => !r.get.contains("q03")))
    assert(st.exists(r => r.get.get("q03").contains("")))
    val nps = SurveyGen.stream(1, SurveyGen.surveys(1), 300, -6, 13)
    assert(nps.exists(_.get("q01").startsWith("N")))
  }

  private def sparkRows(survey: String, export: IndexedSeq[Response]): Seq[SurveyOracle.Row] = {
    val dir = tempDir("export")
    val f = dir.resolve("lime_export.txt")
    Files.writeString(f, SurveyGen.exportJson(export))
    val raw = Readers.surveyExport(spark, f.toString)
    val ts = lit("2018-03-08 06:00:00")
    val df = survey match {
      case "orders_shipped" => SurveyPipelines.ordersShipped(raw, ts)
      case "nps" => SurveyPipelines.nps(raw, ts)
      case "returns" => SurveyPipelines.returns(raw, ts)
    }
    val cols = SurveyOracle.columns(survey)
    df.collect().toSeq.map(r => cols.map(c => Option(r.getAs[Any](c)).map(_.toString)))
  }

  test("the oracle agrees with the Spark pipelines on a trap-heavy export") {
    for (s <- SurveyGen.surveys) {
      val export = SurveyGen.exportOf(SurveyGen.stream(3, s, 120, -6, 0), 0, 7)
      val want = SurveyOracle.pipeline(s.name, export, "2018-03-08 06:00:00")
      assert(want.nonEmpty && want.size < export.size, s.name)
      assert(SurveyOracle.diff(sparkRows(s.name, export), want).isEmpty, s.name)
    }
  }

  test("the survey oracle catches a planted keep-first result") {
    val export = SurveyGen.exportOf(SurveyGen.stream(3, orders, 120, -6, 0), 0, 7)
    val want = SurveyOracle.pipeline(orders.name, export, "ts")
    // the planted defect: keep the FIRST response per order number
    val keepFirst = export.filter(r => Seq("id", "datestamp", "q01", "q03", "q06")
        .forall(r.get.contains))
      .groupBy(_.get("q06")).values.map(_.head).toSeq
      .filter(r => Set("A1", "A2", "A3", "A4", "A5").contains(r.get("q01")))
      .map { r => val m = r.get
        Seq(Some(m("id")), Some(m("datestamp")), Some(m("q01").drop(1).toDouble.toString),
          Some(m("q03")), Some(m("q06")), Some("ts"))
      }
    assert(SurveyOracle.diff(keepFirst, want).nonEmpty)
  }

  test("cutoff retention keeps older and undated rows and replaces the rest") {
    def row(date: Option[String], id: String): SurveyOracle.Row = Seq(Some(id), date)
    val table = Seq(row(Some("2018-03-01 10:00:00"), "a"), row(Some("2018-03-03 00:00:01"), "b"),
      row(None, "c"))
    val batch = Seq(row(Some("2018-03-03 09:00:00"), "d"))
    assert(SurveyOracle.reload(table, batch, "2018-03-03").map(_.head.get) == Seq("a", "c", "d"))
  }

  test("a night of the workload passes its own checks, extract included when it succeeds") {
    val work = tempDir("survey")
    // one response per one-day window: an export small enough to decode
    val o = Opts("survey_nightly", "survey", 5, 1, trace = false, "", work.toString,
      work.resolve("out.json").toString,
      session = Seq("spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false"),
      warmupPasses = 0, queries = Nil, roundPasses = 0,
      surveyResponses = 1, surveyNights = 2, windowDays = 1)
    val w = new Survey(o)
    w.setup()
    val seg = new Segment("timed")
    seg.run(w, traced = false)
    seg.run(w, traced = false)
    val post = w.postcheck(Seq(seg))
    assert(post("problems") == Seq.empty)
    assert(seg.ops.forall(_("ok") == true), seg.ops.filterNot(_("ok") == true))
    assert(seg.ops.count(_("kind").toString.startsWith("extract:")) == 6)
    w.spark.stop()
  }
}
