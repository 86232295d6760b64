package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Survey-platform source connector (SURVEY.md §2.1 O1/O2/O5/O6 and the
  * §2.7 control-plane surface): a JSON-RPC-over-HTTP client in the style
  * of the LimeSurvey RemoteControl 2 API the reference consumes
  * (/root/reference/limesurvey.py:11-218), re-designed for an engine:
  *
  *  - The HTTP transport is injectable ([[Transport]]) so tests and
  *    offline runs substitute a file-backed fake; production uses
  *    [[HttpTransport]] (java.net.http, keep-alive by default).
  *  - RPC payloads are built with a real JSON encoder, not string
  *    interpolation (the reference's hand-built envelopes produce
  *    malformed JSON in release_session_key,
  *    /root/reference/limesurvey.py:109 — a bug not reproduced).
  *  - Errors fail fast; the reference swallows every exception to None
  *    (/root/reference/limesurvey.py:30-32), which SURVEY §7.5 lists as a
  *    non-goal.
  *  - Extraction results enter Spark as DataFrames immediately
  *    ([[responsesDF]]), so everything downstream is a lazy plan.
  *
  * Server-side pushdown hooks mirrored from the reference API surface:
  * completion-status/heading/response filters and the `fields` projection
  * on export (/root/reference/limesurvey.py:112-126 — projection
  * pushdown), `conditions` + offset/limit pagination on participants
  * (/root/reference/limesurvey.py:207-218 — filter/limit pushdown).
  */
object LimeSurveyClient {

  /** Pluggable POST transport: url, json body → json reply. */
  trait Transport { def post(url: String, body: String): String }

  /** The reference client's default 58-field survey-property projection
    * (/root/reference/limesurvey.py:53-70) — the widest control-plane
    * call; [[LimeSurveyClient.getSurveyProperties]] requests exactly
    * this set unless the caller narrows it. */
  val DefaultSurveyProperties: Seq[String] = Seq(
    "sid", "savetimings", "allowprev", "tokenanswerspersistence",
    "showgroupinfo", "showwelcome", "owner_id", "template", "printanswers",
    "assessments", "shownoanswer", "showprogress", "admin", "language",
    "ipaddr", "usecaptcha", "showqnumcode", "allowjumps", "active",
    "additional_languages", "refurl", "usetokens", "bouncetime",
    "navigationdelay", "expires", "datestamp", "datecreated",
    "bounce_email", "bounceprocessing", "nokeyboard", "startdate",
    "usecookie", "publicstatistics", "attributedescriptions",
    "bounceaccounttype", "alloweditaftercompletion", "adminemail",
    "allowregister", "publicgraphs", "emailresponseto",
    "bounceaccounthost", "googleanalyticsstyle", "anonymized",
    "allowsave", "listpublic", "emailnotificationto", "bounceaccountpass",
    "googleanalyticsapikey", "faxto", "autonumber_start", "htmlemail",
    "tokenlength", "bounceaccountencryption", "format", "autoredirect",
    "sendconfirmation", "showxquestions", "bounceaccountuser")

  /** Production transport: HTTP/1.1 keep-alive POST. Both timeouts are
    * finite — the auth handshake runs in the client CONSTRUCTOR, so a
    * black-holed endpoint without them would hang the driver thread
    * forever with no recovery path. */
  final class HttpTransport(connectTimeout: java.time.Duration =
        java.time.Duration.ofSeconds(30),
      requestTimeout: java.time.Duration = java.time.Duration.ofMinutes(2))
      extends Transport {
    private val client =
      HttpClient.newBuilder().connectTimeout(connectTimeout).build()
    def post(url: String, body: String): String = {
      val req = HttpRequest.newBuilder(URI.create(url))
        .header("content-type", "application/json")
        .timeout(requestTimeout)
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new RuntimeException(s"RPC HTTP ${resp.statusCode()}")
      resp.body()
    }
  }

  // -- minimal JSON encode/decode (no extra deps allowed) ---------------

  /** JSON string quote+escape — shared with [[graft.Verify]]'s
    * oracle_sql.json writer (one escaper to fix, not two drifting
    * copies). */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jval(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => d.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${jstr(k.toString)}:${jval(x)}" }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(jval).mkString("[", ",", "]")
  }

  /** Extract the JSON value of a top-level key from an RPC reply without a
    * JSON library: delegates to Spark's own parser at the call sites that
    * build DataFrames; driver-side string results use this narrow path.
    * The raw match is UNESCAPED before returning — PHP's json_encode
    * (what the LimeSurvey endpoint runs) escapes '/' as '\\/' by
    * default, and base64 payloads almost always contain '/', so the
    * verbatim match would feed backslashes into the base64 decoder. */
  private[graft] def topLevelString(json: String, key: String): String = {
    // A linear scan, not a regex: java.util.regex recurses once per
    // character through a string-body alternation and overflows the
    // default stack near 2,000 characters, and export replies run to
    // hundreds of KB. The first `"key"` followed by `:` and a string
    // value wins.
    val quoted = "\"" + key + "\""
    def skipWs(i: Int): Int = {
      var j = i
      while (j < json.length && json.charAt(j).isWhitespace) j += 1
      j
    }
    def at(i: Int, c: Char): Boolean = i < json.length && json.charAt(i) == c
    var from = json.indexOf(quoted)
    while (from >= 0) {
      val colon = skipWs(from + quoted.length)
      val open = skipWs(colon + 1)
      if (at(colon, ':') && at(open, '"')) {
        var end = open + 1
        while (end < json.length && json.charAt(end) != '"')
          end += (if (json.charAt(end) == '\\') 2 else 1)
        if (end < json.length) return unescapeJson(json.substring(open + 1, end))
      }
      from = json.indexOf(quoted, from + 1)
    }
    throw new RuntimeException(s"RPC reply missing string key '$key': ${json.take(200)}")
  }

  /** Decode the JSON string escapes of [[topLevelString]]'s raw match. */
  private[graft] def unescapeJson(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case '/' => sb += '/'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'b' => sb += '\b'; i += 2
          case 'f' => sb += '\f'; i += 2
          case 'u' if i + 5 < s.length =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => sb += other; i += 2 // lenient on unknown escapes
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}

/** One authenticated client session. `sessionKey` is obtained by the auth
  * handshake on construction (reference ctor /root/reference/limesurvey.py:12-21). */
class LimeSurveyClient(url: String, user: String, password: String,
    transport: LimeSurveyClient.Transport) {
  import LimeSurveyClient._

  private var rpcId = 0
  private def call(method: String, params: Map[String, Any]): String = {
    rpcId += 1
    transport.post(url, jval(Map(
      "method" -> method, "params" -> params, "id" -> rpcId)))
  }

  val sessionKey: String = topLevelString(
    call("get_session_key", Map("username" -> user, "password" -> password)),
    "result")

  private def sessioned(extra: Map[String, Any]): Map[String, Any] =
    Map("sSessionKey" -> sessionKey) ++ extra

  // -- O2: response export scan ----------------------------------------

  /** Raw export: base64 payload → UTF-8 JSON string
    * (/root/reference/limesurvey.py:112-126). `fields` is the server-side
    * column projection (pushdown hook). */
  def exportResponsesJson(surveyId: Int, status: String = "",
      heading: String = "", response: String = "",
      fields: Seq[String] = Nil): String = {
    val reply = call("export_responses", sessioned(Map(
      "iSurveyID" -> surveyId, "sDocumentType" -> "json",
      "sLanguageCode" -> null, "sCompletionStatus" -> status,
      "sHeadingType" -> heading, "sResponseType" -> response,
      "aFields" -> fields)))
    new String(Base64.getDecoder.decode(topLevelString(reply, "result")),
      StandardCharsets.UTF_8)
  }

  /** Export as a DataFrame in the survey-export shape (FIXTURES.md §1):
    * `responses: array<map<responseId, map<col, value>>>`. The single
    * driver-side string enters Spark immediately; all un-nesting is lazy
    * executor work ([[graft.pipelines.SurveyPipelines.unnest]]). */
  def responsesDF(spark: SparkSession, surveyId: Int, status: String = "",
      heading: String = "", response: String = "",
      fields: Seq[String] = Nil): DataFrame =
    Readers.surveyExportFromJson(spark,
      exportResponsesJson(surveyId, status, heading, response, fields))

  // -- O5/O6: catalog scans --------------------------------------------

  private def resultArrayDF(spark: SparkSession, reply: String,
      schema: StructType): DataFrame = {
    import spark.implicits._
    // fail fast on error replies (class contract): the API signals auth/
    // permission failures by making `result` an object or null — letting
    // from_json null that out and explode drop every row would render an
    // expired session key indistinguishable from "no surveys exist",
    // exactly the reference's swallow-to-None behavior this client
    // exists to not have
    val m = """"result"\s*:\s*([\[{"a-zA-Z0-9-])""".r
    m.findFirstMatchIn(reply).map(_.group(1)) match {
      case Some("[") => ()
      case other => throw new RuntimeException(
        s"RPC error reply (result is ${other.getOrElse("missing")}, " +
          s"not an array): ${reply.take(200)}")
    }
    spark.createDataset(Seq(reply)).toDF("j")
      .select(from_json(col("j"),
        StructType(Seq(StructField("result", ArrayType(schema))))).as("r"))
      .select(explode(col("r.result")).as("e"))
      .select(col("e.*"))
  }

  /** O6 — survey listing (/root/reference/limesurvey.py:200-205). */
  def listSurveys(spark: SparkSession): DataFrame =
    resultArrayDF(spark, call("list_surveys", sessioned(Map())),
      StructType(Seq(
        StructField("sid", StringType), StructField("surveyls_title", StringType),
        StructField("startdate", StringType), StructField("expires", StringType),
        StructField("active", StringType))))

  /** O6 — question-group listing projecting (gid, group_name) from the
    * nested id struct (/root/reference/limesurvey.py:166-181 reads
    * `g['id']['gid']` ≙ `col("id.gid")`). */
  def listGroups(spark: SparkSession, surveyId: Int): DataFrame =
    resultArrayDF(spark,
      call("list_groups", sessioned(Map("iSurveyID" -> surveyId))),
      StructType(Seq(
        StructField("id", StructType(Seq(
          StructField("gid", StringType), StructField("language", StringType)))),
        StructField("group_name", StringType))))
      .select(col("id.gid").as("gid"), col("group_name"))

  /** O6 — question listing projecting (qid, question)
    * (/root/reference/limesurvey.py:183-198). */
  def listQuestions(spark: SparkSession, surveyId: Int, groupId: Int): DataFrame =
    resultArrayDF(spark,
      call("list_questions", sessioned(Map(
        "iSurveyID" -> surveyId, "iGroupID" -> groupId))),
      StructType(Seq(
        StructField("qid", StringType), StructField("question", StringType))))

  /** O5 — paged participant scan with server-side predicate hook
    * (/root/reference/limesurvey.py:207-218): offset/limit pagination ≙
    * partitioned source read; `conditions` ≙ filter pushdown. */
  def listParticipants(spark: SparkSession, surveyId: Int, start: Int = 0,
      limit: Int = 1000000, unused: Boolean = false,
      attributes: Seq[String] = Nil,
      conditions: Map[String, String] = Map()): DataFrame =
    resultArrayDF(spark,
      call("list_participants", sessioned(Map(
        "iSurveyID" -> surveyId, "iStart" -> start, "iLimit" -> limit,
        "bUnused" -> unused, "aAttributes" -> attributes,
        "aConditions" -> conditions))),
      StructType(Seq(
        StructField("tid", StringType),
        StructField("participant_info", StructType(Seq(
          StructField("firstname", StringType),
          StructField("lastname", StringType),
          StructField("email", StringType)))))))

  // -- §2.7 control-plane (connector admin surface, not queries) --------

  def getSummary(surveyId: Int, stat: String = "all"): String =
    call("get_summary", sessioned(Map(
      "iSurveyID" -> surveyId, "sStatname" -> stat)))

  /** Survey property read with an explicit projection — the reference's
    * widest control-plane call, defaulting to its 58-field settings list
    * (/root/reference/limesurvey.py:51-78). */
  def getSurveyProperties(surveyId: Int,
      settings: Seq[String] = LimeSurveyClient.DefaultSurveyProperties): String =
    call("get_survey_properties", sessioned(Map(
      "iSurveyID" -> surveyId, "aSurveySettings" -> settings)))

  /** Well-formed teardown (the reference's is malformed JSON,
    * /root/reference/limesurvey.py:106-110). */
  def releaseSessionKey(): String =
    call("release_session_key", Map("sSessionKey" -> sessionKey))
}
