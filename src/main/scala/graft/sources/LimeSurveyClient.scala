package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonProcessingException, StreamReadConstraints}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeType

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
  *  - Replies decode with Jackson, which Spark ships ([[result]]).
  *  - Errors fail fast: a reply whose `result` is missing or of the wrong
  *    type is an [[RpcError]]. The reference swallows every exception to
  *    None (limesurvey.py:30-32), which SURVEY §7.5 lists as a non-goal.
  *  - The DSv2 connector ([[graft.sources.v2.LimeSurveyTableProvider]])
  *    sends every call through this class too: its driver logs in, and
  *    its executors wrap the issued key without logging in again.
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

  // -- JSON: one envelope encoder, one reply reader ---------------------
  // Envelopes are encoded here; replies decode with Jackson, which Spark
  // ships (no dependency beyond Spark's own jars).

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

  private def envelope(method: String, params: Map[String, Any], id: Int): String =
    jval(Map("method" -> method, "params" -> params, "id" -> id))

  /** An RPC reply that carries no usable `result`: the API reports a bad
    * login, an expired session key or a refused call by putting an object
    * such as `{"status": "Invalid session key"}` where the result belongs. */
  final class RpcError(message: String) extends RuntimeException(message)

  // An export's base64 payload is one JSON string as long as the whole
  // export, so the reader lifts Jackson's 20M-character string cap.
  private val json = new ObjectMapper(new JsonFactoryBuilder()
    .streamReadConstraints(StreamReadConstraints.builder()
      .maxStringLength(Int.MaxValue).build())
    .build())

  /** The statuses LimeSurvey's RemoteControl 2 handler sends where a
    * listing's array or an export's payload belongs when there are no
    * rows (older servers say `No Tokens found`): an empty result, not an
    * error. Any other status object (`Invalid session key`,
    * `No permission`, ...) is an [[RpcError]]. */
  private val NoRows = Seq("No survey participants found", "No Tokens found",
    "No surveys found", "No groups found", "No questions found",
    "No Data, could not get max id")

  /** The `result` node of a JSON-RPC reply, checked to be of a type in
    * `want`: a string for a login, an object for `get_summary`. A missing
    * or mistyped result, or a reply that is not JSON, throws [[RpcError]]
    * quoting the reply's head — never an empty result. Jackson decodes
    * every string escape, including the `\/` PHP's json_encode writes
    * into every base64 payload. */
  private[graft] def result(reply: String, want: JsonNodeType*): JsonNode =
    checked(reply, want, Nil).get

  /** [[result]] for a call that may have no rows (an array for a listing,
    * a string for an export): `None` for the API's no-rows status. */
  private[graft] def rowsResult(reply: String, want: JsonNodeType): Option[JsonNode] =
    checked(reply, Seq(want), NoRows)

  private def checked(reply: String, want: Seq[JsonNodeType],
      noRows: Seq[String]): Option[JsonNode] = {
    def fail(what: String) = new RpcError(s"RPC error reply ($what): ${reply.take(200)}")
    // parsed as UTF-8 bytes: Jackson reads a String over 32K characters
    // through a Reader, about twice as slowly on an export reply
    val node = (try json.readTree(reply.getBytes(StandardCharsets.UTF_8)) catch {
      case e: JsonProcessingException => throw fail(s"not JSON: ${e.getOriginalMessage}")
    }).get("result")
    val status = Option(node).filter(_.isObject).map(_.path("status").asText)
    if (status.exists(s => noRows.exists(s.startsWith))) None
    else if (node != null && want.contains(node.getNodeType)) Some(node)
    else {
      val got = if (node == null) "missing" else node.getNodeType.toString.toLowerCase
      val name = want.map(_.toString.toLowerCase).mkString(" or ")
      throw fail(s"result is $got, not ${if ("aeiou".contains(name.head)) "an" else "a"} $name")
    }
  }

  /** The session key a request's `params` carry, if any: the file fake
    * server ([[Transports.FileServerTransport]]) checks it as the real
    * endpoint does. */
  private[sources] def sessionKeyOf(params: JsonNode): Option[String] =
    Option(params.get("sSessionKey")).map(_.asText)

  private def login(url: String, user: String, password: String,
      transport: Transport): String =
    result(transport.post(url, envelope("get_session_key",
      Map("username" -> user, "password" -> password), 1)),
      JsonNodeType.STRING).textValue
}

/** One authenticated client session. The 4-argument constructor obtains
  * `sessionKey` by the auth handshake (reference ctor
  * limesurvey.py:12-21); the 3-argument one wraps a key
  * already issued, so the DSv2 connector's executors reuse the key its
  * driver obtained and never call `get_session_key`. */
class LimeSurveyClient(url: String, transport: LimeSurveyClient.Transport,
    val sessionKey: String) {
  import LimeSurveyClient._

  def this(url: String, user: String, password: String,
      transport: LimeSurveyClient.Transport) =
    this(url, transport, LimeSurveyClient.login(url, user, password, transport))

  private var rpcId = 1 // id 1 is the login's
  private def call(method: String, params: Map[String, Any]): String = {
    rpcId += 1
    transport.post(url, envelope(method, params, rpcId))
  }

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
    rowsResult(reply, JsonNodeType.STRING).fold("""{"responses":[]}""")(b64 =>
      new String(Base64.getDecoder.decode(b64.textValue), StandardCharsets.UTF_8))
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
    // fail fast on error replies (class contract): letting from_json null
    // an object result out and explode drop every row would render an
    // expired session key indistinguishable from "no surveys exist".
    // The no-rows status passes: from_json nulls it and explode drops it.
    rowsResult(reply, JsonNodeType.ARRAY)
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
      participantsReply(surveyId, start, limit, unused, attributes, conditions),
      StructType(Seq(
        StructField("tid", StringType),
        StructField("participant_info", StructType(Seq(
          StructField("firstname", StringType),
          StructField("lastname", StringType),
          StructField("email", StringType)))))))

  /** The raw reply of one [[listParticipants]] page: the DSv2 scan sends
    * one per partition from its executors. */
  def participantsReply(surveyId: Int, start: Int = 0,
      limit: Int = 1000000, unused: Boolean = false,
      attributes: Seq[String] = Nil,
      conditions: Map[String, String] = Map()): String =
    call("list_participants", sessioned(Map(
      "iSurveyID" -> surveyId, "iStart" -> start, "iLimit" -> limit,
      "bUnused" -> unused, "aAttributes" -> attributes,
      "aConditions" -> conditions)))

  /** O26 — one row insert (limesurvey.py:160-164); the
    * DSv2 write sends one per row, paced. Returns the new response's id
    * (a number, or a string on some servers); a refused insert, whose
    * `result` is a status object such as `{"status": "Unable to add
    * response"}`, throws [[RpcError]]. */
  def addResponse(surveyId: Int, row: Map[String, String]): String = {
    val reply = call("add_response", sessioned(Map(
      "iSurveyID" -> surveyId, "aResponseData" -> row)))
    result(reply, JsonNodeType.NUMBER, JsonNodeType.STRING).asText
  }

  // -- §2.7 control-plane (connector admin surface, not queries) --------

  /** Raw `get_summary` reply; the DSv2 connector reads its pushed
    * COUNT(*) and its streaming offsets from the statistics. */
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
