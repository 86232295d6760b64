package perfbench

import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.Base64

/** One of the reference's three nightly surveys. */
final case class SurveySpec(name: String, sid: Int, table: String)

/** One generated survey response: its id, the day it arrived, and its
  * column values in export order (an absent key is simply not listed). */
final case class Response(id: String, day: Int, fields: Seq[(String, String)]) {
  lazy val get: Map[String, String] = fields.toMap
}

/** Seeded generator of LimeSurvey `export_responses` exports in the
  * FIXTURES.md §1 shape. Each survey has one response stream; night `n`
  * exports the responses of the rolling window of days
  * `[n - windowDays + 1, n]`, in stream (ingest) order. The §1 traps occur
  * at fixed rates: a duplicate `q06` with a later or with an equal
  * `datestamp`, grades outside A1..A5, `N`-prefixed NPS codes, and a
  * missing or empty `q03`.
  *
  * FIXTURES.md §1 and SURVEY.md give the shape of an export but no
  * traffic figures. The rates below, the responses per export and the
  * twelve NPS cohorts are unverified assumptions of this benchmark, not
  * the reference's workload. */
object SurveyGen {
  val surveys: Seq[SurveySpec] = Seq(
    SurveySpec("orders_shipped", 101, "limesurvey_pedido_entregue_survey"),
    SurveySpec("nps", 102, "limesurvey_nps_survey"),
    SurveySpec("returns", 103, "limesurvey_return_order_survey"))

  val DupLaterRate = 0.04
  val DupEqualRate = 0.02
  val BadGradeRate = 0.04
  val NpsNRate = 0.10
  val MissingEmailRate = 0.02
  val EmptyEmailRate = 0.02
  /** Grades outside A1..A5: out of range, wrong letter, bare digit, and a
    * letter that strips to nothing. */
  val BadGrades: Seq[String] = Seq("A6", "B3", "5", "A")

  val Day0: LocalDate = LocalDate.of(2018, 3, 1)
  def date(day: Int): String = Day0.plusDays(day.toLong).toString
  def dateKey(day: Int): String = date(day).replace("-", "")
  private def clock(sec: Int): String =
    f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"

  /** Response stream of one survey over days `firstDay..lastDay`. */
  def stream(seed: Long, s: SurveySpec, perDay: Int, firstDay: Int,
      lastDay: Int): IndexedSeq[Response] = {
    val rng = new scala.util.Random(seed * 1000003L + s.sid)
    val out = IndexedSeq.newBuilder[Response]
    val recent = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var n = 0
    for (day <- firstDay to lastDay) {
      val times = Seq.fill(perDay)(rng.nextInt(86400)).sorted
      times.foreach { t =>
        n += 1
        val id = n.toString
        val r = rng.nextDouble()
        val (q06, datestamp) =
          if (s.name != "nps" && recent.nonEmpty && r < DupLaterRate + DupEqualRate) {
            val (prevKey, prevStamp) = recent(rng.nextInt(recent.size))
            if (r < DupLaterRate) (prevKey, s"${date(day)} ${clock(t)}")
            else (prevKey, prevStamp)
          } else if (s.name == "nps") (s"C${rng.nextInt(12)}", s"${date(day)} ${clock(t)}")
          else (f"BR${1000000 + n}%d", s"${date(day)} ${clock(t)}")
        val grade =
          if (s.name == "nps") {
            val v = rng.nextInt(11)
            if (rng.nextDouble() < NpsNRate) s"N$v" else s"A$v"
          } else if (rng.nextDouble() < BadGradeRate) BadGrades(rng.nextInt(BadGrades.size))
          else s"A${1 + rng.nextInt(5)}"
        val e = rng.nextDouble()
        val email =
          if (e < MissingEmailRate) None
          else if (e < MissingEmailRate + EmptyEmailRate) Some("")
          else Some(s"user${rng.nextInt(100000)}@example.com")
        val start = s"${date(day)} ${clock(math.max(0, t - 60 - rng.nextInt(600)))}"
        val lastPage = (1 + rng.nextInt(3)).toString
        val lang = Seq("pt", "en", "es")(rng.nextInt(3))
        val extra =
          if (s.name == "returns")
            Seq("q12" -> Seq("mail", "store", "pickup")(rng.nextInt(3)), "q22" -> s"R$q06")
          else Nil
        val fields = Seq("id" -> id, "submitdate" -> datestamp, "lastpage" -> lastPage,
          "startlanguage" -> lang, "startdate" -> start, "datestamp" -> datestamp,
          "q01" -> grade) ++ email.map("q03" -> _) ++ Seq("q06" -> q06) ++ extra
        out += Response(id, day, fields)
        recent += ((q06, datestamp))
        if (recent.size > 200) recent.remove(0)
      }
    }
    out.result()
  }

  /** Night `night`'s export: the window's responses in stream order. */
  def exportOf(stream: IndexedSeq[Response], night: Int, windowDays: Int): IndexedSeq[Response] =
    stream.filter(r => r.day > night - windowDays && r.day <= night)

  def responseJson(r: Response): String =
    "{" + Json.quote(r.id) + ":" + r.fields.map { case (k, v) =>
      Json.quote(k) + ":" + Json.quote(v) }.mkString("{", ",", "}") + "}"

  /** The decoded export document (`{"responses": [...]}`), which is also
    * the reference's `lime_export_<sid>.txt` spool dump. */
  def exportJson(rs: Seq[Response]): String =
    rs.map(responseJson).mkString("{\"responses\":[", ",", "]}")

  /** The server's `export_responses` reply: the export base64-encoded in
    * the `result` string, with `/` escaped as PHP's json_encode does. */
  def exportReply(exportJson: String): String = {
    val b64 = Base64.getEncoder.encodeToString(exportJson.getBytes(StandardCharsets.UTF_8))
    "{\"id\":2,\"result\":\"" + b64.replace("/", "\\/") + "\",\"error\":null}"
  }

  val SessionReply = "{\"id\":1,\"result\":\"perfbench-session-key\",\"error\":null}"
}

/** Brute-force reference for the three survey pipelines and the nightly
  * reload, in plain Scala over the generated records: null drops,
  * membership, keep-last by (datestamp, ingest position), regex-strip
  * numeric coercion, and cutoff retention. Cells are canonical strings
  * (`None` for null; doubles as `Double.toString`). */
object SurveyOracle {
  type Row = Seq[Option[String]]

  def columns(survey: String): Seq[String] = survey match {
    case "orders_shipped" =>
      Seq("id_answer", "date_sent", "grade", "email", "order_number", "updated_ts")
    case "nps" =>
      Seq("id_answer", "date_sent", "last_page", "language", "start_date",
        "last_action_date", "nps", "email", "cohort", "updated_ts")
    case "returns" =>
      Seq("id_answer", "date_sent", "grade", "email", "order_number",
        "return_order_number", "language", "updated_ts", "return_channel")
  }

  /** `regexp_replace(v, pattern, "")` then `try_cast(... AS DOUBLE)` for
    * the value shapes the generator emits (digits, or anything else). */
  def stripCast(v: String, pattern: String): Option[String] = {
    val s = v.replaceAll(pattern, "")
    if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toDouble.toString) else None
  }

  /** Rows the survey's pipeline should produce from one export. */
  def pipeline(survey: String, export: IndexedSeq[Response], updatedTs: String): Seq[Row] = {
    val ts = Some(updatedTs)
    survey match {
      case "orders_shipped" =>
        val keys = Seq("id", "datestamp", "q01", "q03", "q06")
        val kept = export.zipWithIndex.filter { case (r, _) => keys.forall(r.get.contains) }
        val latest = kept.groupBy(_._1.get("q06")).values.map(_.maxBy {
          case (r, pos) => (r.get("datestamp"), pos) })
        latest.toSeq.sortBy(_._2).map(_._1)
          .filter(r => Set("A1", "A2", "A3", "A4", "A5").contains(r.get("q01")))
          .map { r => val m = r.get
            Seq(Some(m("id")), Some(m("datestamp")), stripCast(m("q01"), "A"),
              Some(m("q03")), Some(m("q06")), ts)
          }
      case "nps" =>
        export.filter(r => r.get.contains("q03") && r.get.contains("q01")).map { r =>
          val m = r.get
          Seq(Some(r.id), m.get("submitdate"), m.get("lastpage"), m.get("startlanguage"),
            m.get("startdate"), m.get("datestamp"), stripCast(m("q01"), "A|N"),
            m.get("q03"), m.get("q06"), ts)
        }
      case "returns" =>
        val keys = Seq("id", "datestamp", "q01", "q03", "q06", "q12", "q22", "startlanguage")
        export.filter(r => keys.forall(r.get.contains)).map { r =>
          val m = r.get
          Seq(Some(m("id")), Some(m("datestamp")), stripCast(m("q01"), "A"),
            Some(m("q03")), Some(m("q06")), Some(m("q22")), Some(m("startlanguage")),
            ts, Some(m("q12")))
        }
    }
  }

  /** `Sinks.replaceWhere` on a table: keep rows dated before the cutoff
    * (or undated), then append the batch. */
  def reload(table: Seq[Row], batch: Seq[Row], cutoff: String): Seq[Row] =
    table.filter(r => r(1).forall(_ < cutoff)) ++ batch

  /** Multiset difference, described; empty when equal. */
  def diff(actual: Seq[Row], expected: Seq[Row]): Seq[String] = {
    def counts(rs: Seq[Row]) = rs.groupMapReduce(identity)(_ => 1)(_ + _)
    val a = counts(actual); val e = counts(expected)
    val missing = e.collect { case (r, n) if a.getOrElse(r, 0) < n => s"missing ${show(r)}" }
    val extra = a.collect { case (r, n) if e.getOrElse(r, 0) < n => s"unexpected ${show(r)}" }
    (missing ++ extra).toSeq.sorted
  }

  private def show(r: Row): String = r.map(_.getOrElse("NULL")).mkString("(", ", ", ")")
}
