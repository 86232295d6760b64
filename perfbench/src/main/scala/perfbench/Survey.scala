package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.pipelines.SurveyPipelines
import graft.sinks.Sinks
import graft.sources.{LimeSurveyClient, Readers, Transports}

/** Times every `post` of the transport it wraps. */
final class TimedTransport(inner: LimeSurveyClient.Transport) extends LimeSurveyClient.Transport {
  var calls = 0
  var nanos = 0L
  var replyBytes = 0L
  def post(url: String, body: String): String = {
    val t0 = Clock.now()
    try {
      val reply = inner.post(url, body)
      replyBytes += reply.length
      reply
    } finally { calls += 1; nanos += Clock.now() - t0 }
  }
}

/** The reference's nightly extract → transform → load job over seeded
  * LimeSurvey exports. One pass is one night; each night runs, per
  * survey, an `extract` (session key + `export_responses` through the
  * file-backed fake server, then the spool write) and a `reload` (the
  * night's spool dump → survey pipeline → dated CSV + `replaceWhere` into
  * the warehouse, cutoff = first day of the night's window). Nights run
  * in seasons of `surveyNights`; each season starts from an empty
  * warehouse, and a timed segment runs whole seasons, so every run times
  * the same nights. */
final class Survey(o: Opts) extends Workload {
  private val work = Paths.get(o.workDir)
  private val fixtures = work.resolve("fixtures")
  private val perDay = math.max(1, o.surveyResponses / o.windowDays)
  private val firstDay = -(o.windowDays - 1)
  private var streams: Map[String, IndexedSeq[Response]] = Map.empty

  private var session: SparkSession = _
  def spark: SparkSession = session
  val spanPhases: Set[String] = Set.empty
  val round: Int = o.surveyNights

  private def nightDir(n: Int) = fixtures.resolve(f"night-$n%02d")
  private def serverDir(n: Int, s: SurveySpec) = nightDir(n).resolve(s.name)
  private def dumpFile(n: Int, s: SurveySpec) = nightDir(n).resolve(s"lime_export_${s.sid}.txt")
  private def seasonDir(ns: String, season: Int) = work.resolve(s"$ns-$season")
  private def csvDir(dir: Path, s: SurveySpec, n: Int) =
    dir.resolve("limesurvey").resolve(s"${s.table}_${SurveyGen.dateKey(n)}.csv")
  private def cutoff(n: Int) = SurveyGen.date(n - o.windowDays + 1)
  private def updatedTs(n: Int) = s"${SurveyGen.date(n)} 06:00:00"
  private def export(s: SurveySpec, n: Int) = SurveyGen.exportOf(streams(s.name), n, o.windowDays)

  def setup(): Map[String, Double] = {
    if (session != null) session.stop()
    val t0 = Clock.now()
    session = BenchSession.start(o)
    val t1 = Clock.now()
    FileTree.delete(fixtures)
    streams = SurveyGen.surveys.map(s =>
      s.name -> SurveyGen.stream(o.seed, s, perDay, firstDay, o.surveyNights - 1)).toMap
    for (n <- 0 until o.surveyNights; s <- SurveyGen.surveys) {
      val doc = SurveyGen.exportJson(export(s, n))
      Files.createDirectories(serverDir(n, s))
      write(serverDir(n, s).resolve("get_session_key.json"), SurveyGen.SessionReply)
      write(serverDir(n, s).resolve("export_responses.json"), SurveyGen.exportReply(doc))
      write(dumpFile(n, s), doc)
    }
    val t2 = Clock.now()
    Map("session_s" -> Clock.secs(t0, t1), "first_load_s" -> 0.0,
      "fixture_s" -> Clock.secs(t1, t2), "total_s" -> Clock.secs(t0, t2))
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  def pass(ns: String, index: Int, traced: Boolean): Seq[Map[String, Any]] = {
    val season = index / o.surveyNights
    val night = index % o.surveyNights
    val dir = seasonDir(ns, season)
    if (night == 0) FileTree.delete(dir)
    SurveyGen.surveys.flatMap { s =>
      val base = Map("ns" -> ns, "season" -> season, "night" -> night, "survey" -> s.name)
      Seq(base ++ extract(s"$ns/$index/${s.name}/extract", s, night, dir),
        base ++ reload(s"$ns/$index/${s.name}/reload", s, night, dir, traced))
    }
  }

  private def extract(id: String, s: SurveySpec, n: Int, dir: Path): Map[String, Any] = {
    val sc = session.sparkContext
    Trace.tagOp(sc, id)
    val transport = new TimedTransport(Transports.fromSpec(s"file:${serverDir(n, s)}"))
    val spool = dir.resolve("spool").resolve(f"night-$n%02d").resolve(s.sid.toString)
    val step = new Steps(sc)
    val err = try {
      val json = step("client") {
        new LimeSurveyClient("remotecontrol", "perfbench", "perfbench", transport)
          .exportResponsesJson(s.sid)
      }
      step("spool")(Readers.writeSpool(Readers.surveyExportFromJson(session, json), spool.toString))
      None
    } catch { case e: Throwable => Some(e.getClass.getName) }
    val end = Clock.now()
    val endMs = System.currentTimeMillis()
    Trace.clear(sc)
    val rpcS = transport.nanos / 1e9
    Map("id" -> id, "kind" -> s"extract:${s.name}", "t_s" -> Clock.secs(step.start, end),
      "ok" -> err.isEmpty, "err" -> err, "rpc_calls" -> transport.calls, "rpc_s" -> rpcS,
      "reply_bytes" -> transport.replyBytes, "decode_s" -> (step.seconds(0, end) - rpcS),
      "spool_write_s" -> step.seconds(1, end), "spool" -> spool.toString,
      "plan_from_ms" -> step.startMs, "plan_to_ms" -> endMs)
  }

  private def pipeline(s: SurveySpec, export: DataFrame, n: Int): DataFrame = {
    val ts = lit(updatedTs(n))
    s.name match {
      case "orders_shipped" => SurveyPipelines.ordersShipped(export, ts)
      case "nps" => SurveyPipelines.nps(export, ts)
      case "returns" => SurveyPipelines.returns(export, ts)
    }
  }

  private def reload(id: String, s: SurveySpec, n: Int, dir: Path,
      traced: Boolean): Map[String, Any] = {
    val sc = session.sparkContext
    Trace.tagOp(sc, id)
    val wh = dir.resolve("warehouse")
    val step = new Steps(sc)
    val err = try {
      val raw = step("read")(Readers.surveyExport(session, dumpFile(n, s).toString))
      val df = step("transform")(pipeline(s, raw, n))
      step("csv")(Sinks.csvDatedKey(df, dir.toString, s.table, SurveyGen.dateKey(n)))
      step("replace")(Sinks.replaceWhere(df, wh.toString, s.table, "date_sent", cutoff(n)))
      None
    } catch { case e: Throwable => Some(e.getClass.getName) }
    val end = Clock.now()
    val endMs = System.currentTimeMillis()
    Trace.clear(sc)
    val written =
      if (!traced) Map.empty[String, Any]
      else {
        // both sinks rewrite their whole target: the night's CSV and the table
        val (cb, cf) = FileTree.usage(csvDir(dir, s, n))
        val (tb, tf) = FileTree.usage(wh.resolve(s.table))
        Map("bytes_written" -> (cb + tb), "files_written" -> (cf + tf), "table_bytes" -> tb)
      }
    Map("id" -> id, "kind" -> s"reload:${s.name}", "t_s" -> Clock.secs(step.start, end),
      "ok" -> err.isEmpty, "err" -> err, "read_s" -> step.seconds(0, end),
      "transform_s" -> step.seconds(1, end), "csv_s" -> step.seconds(2, end),
      "replace_s" -> step.seconds(3, end), "rows_in" -> export(s, n).size,
      "plan_from_ms" -> step.startMs, "plan_to_ms" -> endMs) ++ written
  }

  /** CSV rows under a Spark CSV output directory (one header per part). */
  private def csvRows(p: Path): Long =
    if (!Files.isDirectory(p)) -1L
    else {
      val parts = Files.list(p)
      try parts.iterator().asScala
        .filter(f => f.getFileName.toString.startsWith("part-"))
        .map(f => math.max(0L, Files.readAllLines(f, StandardCharsets.UTF_8).size - 1L)).sum
      finally parts.close()
    }

  /** The warehouse table's rows; none when no reload ever committed it. */
  private def readTable(wh: Path, s: SurveySpec): Seq[SurveyOracle.Row] = {
    val cols = SurveyOracle.columns(s.name)
    val dir = wh.resolve(s.table)
    if (!Files.exists(dir)) Seq.empty
    else session.read.parquet(dir.toString).collect().toSeq.map { r =>
      cols.map(c => Option(r.getAs[Any](c)).map(_.toString))
    }
  }

  /** Checks every reload against the oracle (the night's CSV row count;
    * the warehouse after each season's last night) and every successful
    * extract's spool against the generator's dump. A mismatch fails the
    * operation it belongs to. */
  def postcheck(segments: Seq[Segment]): Map[String, Any] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def fail(op: scala.collection.mutable.Map[String, Any], why: String): Unit = {
      op("ok") = false
      op("err") = Some("check: " + why)
      problems += s"${op("id")}: $why"
    }
    var stored = (0L, 0L)
    for (seg <- segments) {
      val bySeason = seg.ops.groupBy(_("season").asInstanceOf[Int])
      for ((season, ops) <- bySeason.toSeq.sortBy(_._1)) {
        val dir = seasonDir(seg.ns, season)
        val lastNight = ops.map(_("night").asInstanceOf[Int]).max
        for (s <- SurveyGen.surveys) {
          var table = Seq.empty[SurveyOracle.Row]
          for (n <- 0 to lastNight) {
            val batch = SurveyOracle.pipeline(s.name, export(s, n), updatedTs(n))
            table = SurveyOracle.reload(table, batch, cutoff(n))
            val op = ops.find(op => op("night") == n && op("kind") == s"reload:${s.name}").get
            val rows = csvRows(csvDir(dir, s, n))
            op("rows_out") = math.max(0L, rows)
            if (op("ok") == true && rows != batch.size)
              fail(op, s"csv rows $rows, oracle ${batch.size}")
          }
          val d = SurveyOracle.diff(readTable(dir.resolve("warehouse"), s), table)
          if (d.nonEmpty) ops.filter(_("kind") == s"reload:${s.name}").foreach(op =>
            fail(op, s"warehouse differs from oracle: ${d.take(3).mkString("; ")}"))
          if (seg.ns == "timed" && season == bySeason.keys.max) {
            val (bytes, _) = FileTree.usage(dir.resolve("warehouse").resolve(s.table))
            stored = (stored._1 + bytes, stored._2 + table.size)
          }
        }
      }
      for (op <- seg.ops if op("ok") == true && op("kind").toString.startsWith("extract:")) {
        val s = SurveyGen.surveys.find(_.name == op("survey")).get
        val n = op("night").asInstanceOf[Int]
        val got = session.read.schema(Readers.surveyExportSchema).json(op("spool").toString)
          .collect().toSeq
        val want = Readers.surveyExport(session, dumpFile(n, s).toString).collect().toSeq
        if (got != want) fail(op, "spool differs from the generator's dump")
      }
    }
    Map("problems" -> problems.take(20), "stored_bytes" -> stored._1,
      "live_rows" -> stored._2)
  }
}
