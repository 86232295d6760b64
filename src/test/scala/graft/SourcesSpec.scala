package graft

import java.nio.file.{Files, Paths}
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeType
import scala.jdk.CollectionConverters._

import graft.sources.{LimeSurveyClient, Readers}

class SourcesSpec extends SparkSpec {

  private def method(body: String): String =
    new ObjectMapper().readTree(body).get("method").asText()

  /** A reply's string `result` through the one reply reader. */
  private def text(reply: String): String =
    LimeSurveyClient.result(reply, JsonNodeType.STRING).textValue

  test("tsvWithPreHeader skips junk line, zips header with rows (O4)") {
    val dir = Files.createTempDirectory("graft_tsv").toString
    val f = s"$dir/import.txt"
    Files.writeString(Paths.get(f),
      "JUNK PREAMBLE LINE\nid\temail\tgrade\n1\ta@x.com\tA4\n2\tb@x.com\tA5\n\tshort\t\n")
    val df = Readers.tsvWithPreHeader(spark, f)
    assert(df.columns.toSeq == Seq("id", "email", "grade"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.length == 3)
    assert(rows.contains(("1", "a@x.com", "A4")))
    assert(rows.contains(("", "short", ""))) // short row padded, empties kept
  }

  /** File-backed fake transport: replays canned JSON-RPC replies keyed by
    * method name — the injectable-transport seam (SURVEY.md §7.1). */
  class FakeTransport extends LimeSurveyClient.Transport {
    var calls: List[(String, String)] = Nil
    def post(url: String, body: String): String = {
      val m = method(body)
      calls = (m, body) :: calls
      m match {
        case "get_session_key" => """{"id":1,"result":"SK123","error":null}"""
        case "export_responses" =>
          val payload = Base64.getEncoder.encodeToString(
            """{ "responses": [ { "9": { "id": "9", "datestamp": "2018-01-01 00:00:00", "q01": "A3", "q03": "x@y.z", "q06": "BR9" } } ] }"""
              .getBytes("UTF-8"))
          s"""{"id":2,"result":"$payload","error":null}"""
        case "list_surveys" =>
          """{"id":3,"result":[{"sid":"101","surveyls_title":"NPS","startdate":null,"expires":null,"active":"Y"}],"error":null}"""
        case "list_groups" =>
          """{"id":4,"result":[{"id":{"gid":"7","language":"en"},"group_name":"G1"}],"error":null}"""
        case "list_questions" =>
          """{"id":5,"result":[{"qid":"11","question":"How likely..."}],"error":null}"""
        case "list_participants" =>
          """{"id":6,"result":[{"tid":"1","participant_info":{"firstname":"A","lastname":"B","email":"a@b.c"}}],"error":null}"""
        case other => s"""{"id":0,"result":"ok:$other","error":null}"""
      }
    }
  }

  test("client authenticates then exports responses as a DataFrame (O1/O2)") {
    val t = new FakeTransport
    val c = new LimeSurveyClient("http://fake/rpc", "admin", "pw", t)
    assert(c.sessionKey == "SK123")
    val df = c.responsesDF(spark, 101)
    val out = graft.pipelines.SurveyPipelines.ordersShipped(df,
      org.apache.spark.sql.functions.lit("2026-01-01 00:00:00"))
    val row = out.head()
    assert(row.getAs[String]("order_number") == "BR9")
    assert(row.getAs[Double]("grade") == 3.0)
    // session key travels in the envelope of the export call
    assert(t.calls.head._2.contains("SK123"))
  }

  test("catalog listings project nested fields (O5/O6)") {
    val t = new FakeTransport
    val c = new LimeSurveyClient("http://fake/rpc", "admin", "pw", t)
    assert(c.listSurveys(spark).select("sid").head().getString(0) == "101")
    val g = c.listGroups(spark, 101).head()
    assert((g.getString(0), g.getString(1)) == ("7", "G1")) // id.gid flattened
    assert(c.listQuestions(spark, 101, 7).head().getString(0) == "11")
    assert(c.listParticipants(spark, 101, 0, 10)
      .select("participant_info.email").head().getString(0) == "a@b.c")
  }

  test("the reply reader decodes JSON escapes: PHP-style \\/ base64 survives (O2)") {
    // PHP's json_encode (the real endpoint) escapes '/' as '\/' — a
    // base64 payload nearly always contains '/', and the undecoded
    // match would feed backslashes straight into Base64.decode
    val payload = "ab/cd+ef/gh==" // base64-alphabet string with slashes
    val phpStyle = payload.replace("/", "\\/")
    val reply = s"""{"id":2,"result":"$phpStyle","error":null}"""
    assert(text(reply) == payload)
    // a >=1 MB export reply with a PHP-style \/ every ~64 chars decodes
    // byte for byte (a backtracking regex overflows the stack near 2 KB)
    val bytes = new Array[Byte](800 * 1024)
    new scala.util.Random(7).nextBytes(bytes)
    val big = Base64.getEncoder.encodeToString(bytes)
    assert(big.length >= 1024 * 1024 && big.count(_ == '/') > 10000)
    val bigReply = s"""{"id":2,"result":"${big.replace("/", "\\/")}","error":null}"""
    val decoded = text(bigReply)
    assert(decoded == big)
    assert(java.util.Arrays.equals(Base64.getDecoder.decode(decoded), bytes))
    // the full escape family round-trips
    assert(text("""{"result":"a\/b\\c\"d\neé"}""") == "a/b\\c\"d\neé")
    assert(text("""{"result":"plain"}""") == "plain")
    assert(text("{\"result\":\"caf\\u00e9\\t\\b\\f\"}") == "café\t\b\f")
  }

  test("catalog listing fails fast on an error reply instead of reading empty (O6)") {
    val t = new FakeTransport {
      override def post(url: String, body: String): String = {
        if (method(body) == "get_session_key") super.post(url, body)
        // the API signals auth failure as an OBJECT result
        else """{"id":3,"result":{"status":"Invalid session key"},"error":null}"""
      }
    }
    val c = new LimeSurveyClient("http://fake/rpc", "admin", "pw", t)
    val e = intercept[RuntimeException](c.listSurveys(spark))
    assert(e.getMessage.contains("not an array"), e.getMessage)
  }

  test("getSurveyProperties requests the reference's 58-field default projection") {
    val t = new FakeTransport
    val c = new LimeSurveyClient("http://fake/rpc", "admin", "pw", t)
    c.getSurveyProperties(101)
    val body = t.calls.head._2
    assert(method(body) == "get_survey_properties")
    assert(body.contains(""""aSurveySettings""""), body)
    // the reference's default list has 58 settings (limesurvey.py:54-70)
    assert(LimeSurveyClient.DefaultSurveyProperties.size == 58)
    LimeSurveyClient.DefaultSurveyProperties.foreach(f =>
      assert(body.contains("\"" + f + "\""), s"missing $f"))
    // narrowing works too
    c.getSurveyProperties(101, Seq("sid", "active"))
    val narrow = t.calls.head._2
    assert(narrow.contains(""""sid"""") && narrow.contains(""""active""""))
    assert(!narrow.contains(""""bounceaccountuser""""), narrow)
  }

  test("control-plane calls build well-formed JSON envelopes (§2.7)") {
    val t = new FakeTransport
    val c = new LimeSurveyClient("http://fake/rpc", "admin", "pw", t)
    c.getSummary(101); c.releaseSessionKey()
    // every recorded body must parse as JSON (reference bug §7.5 not ported)
    t.calls.foreach { case (_, body) =>
      assert(body.startsWith("{") && body.endsWith("}"))
      assert(method(body).nonEmpty)
    }
  }

  test("an export reply past Jackson's default string cap decodes") {
    // Jackson caps a JSON string at 20M characters by default; an
    // export's base64 payload is one string as long as the export
    val big = "QUJD" * 5000001
    assert(text(s"""{"id":2,"result":"$big","error":null}""") == big)
  }

  test("an error reply fails the login and the export with RpcError naming the status") {
    val status = """{"id":1,"result":{"status":"Invalid user name or password"},"error":null}"""
    val refused = new FakeTransport {
      override def post(url: String, body: String): String = status
    }
    val e = intercept[LimeSurveyClient.RpcError](
      new LimeSurveyClient("http://fake/rpc", "admin", "bad", refused))
    assert(e.getMessage.contains("not a string") &&
      e.getMessage.contains("Invalid user name or password"), e.getMessage)
    val expired = new FakeTransport {
      override def post(url: String, body: String): String =
        if (method(body) == "export_responses")
          """{"id":2,"result":{"status":"Invalid session key"},"error":null}"""
        else super.post(url, body)
    }
    val c = new LimeSurveyClient("http://fake/rpc", "admin", "pw", expired)
    val x = intercept[LimeSurveyClient.RpcError](c.exportResponsesJson(101))
    assert(x.getMessage.contains("Invalid session key"), x.getMessage)
    // a reply that is not JSON at all is the same named error
    intercept[LimeSurveyClient.RpcError](text("<html>502 Bad Gateway</html>"))
  }

  test("the API's no-rows statuses read as empty; any other status still fails") {
    def status(s: String) = s"""{"id":2,"result":{"status":"$s"},"error":null}"""
    assert(LimeSurveyClient.rowsResult(status("No survey participants found."),
      JsonNodeType.ARRAY).isEmpty)
    val empty = new FakeTransport {
      override def post(url: String, body: String): String = method(body) match {
        case "export_responses" => status("No Data, could not get max id.")
        case "list_surveys" => status("No surveys found")
        case "list_participants" => status("No permission")
        case _ => super.post(url, body)
      }
    }
    val c = new LimeSurveyClient("http://fake/rpc", "admin", "pw", empty)
    // an empty survey's export is an export with no responses
    assert(c.exportResponsesJson(101) == """{"responses":[]}""")
    assert(c.responsesDF(spark, 101).head().getSeq[Any](0).isEmpty)
    assert(c.listSurveys(spark).count() == 0)
    val e = intercept[LimeSurveyClient.RpcError](c.listParticipants(spark, 101))
    assert(e.getMessage.contains("No permission"), e.getMessage)
  }

  test("addResponse returns the new id and fails on a refused insert") {
    def inserting(result: String) = new FakeTransport {
      override def post(url: String, body: String): String =
        if (method(body) == "add_response") s"""{"id":2,"result":$result,"error":null}"""
        else super.post(url, body)
    }
    def add(result: String) = new LimeSurveyClient("http://fake/rpc", "admin", "pw",
      inserting(result)).addResponse(101, Map("q01" -> "A1"))
    assert(add("14") == "14")
    assert(add("\"15\"") == "15")
    val e = intercept[LimeSurveyClient.RpcError](
      add("""{"status":"Unable to add response"}"""))
    assert(e.getMessage.contains("Unable to add response"), e.getMessage)
  }

  test("a client built on an issued key never logs in") {
    val t = new FakeTransport
    val c = new LimeSurveyClient("http://fake/rpc", t, "SK123")
    c.getSummary(101)
    assert(t.calls.map(_._1) == List("get_summary"))
    assert(t.calls.head._2.contains(""""sSessionKey":"SK123""""))
  }

  test("LimeSurveyClient.scala is the only file in src/main that posts RPCs or names sSessionKey") {
    // one envelope encoder, one reply decoder, one login: a second
    // JSON-RPC stack would show up as a .post( call or a session-key
    // literal somewhere else
    val offenders = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "LimeSurveyClient.scala")
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains(".post(") || l.contains("sSessionKey") =>
          s"${p.getFileName}:${i + 1}: ${l.trim}"
      }).toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
