package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.sources.LimeSurveyClient.{HttpTransport, Transport}

/** Wire codec for `aConditions` values — the server-side predicate seam
  * extended beyond the reference's equality-only conditions
  * (/root/reference/limesurvey.py:214 passes a flat attr→value map).
  * Equality ships as the RAW value, so the reference-shaped clients
  * (the paged catalog scan's user-supplied condition maps) keep working
  * unchanged. Extended operators ship with an `op:` prefix on the
  * value: `gt:`/`ge:`/`lt:`/`le:` compare lexicographically (every
  * participant column is a string). Java String order only matches
  * Spark's UTF8String order when the first differing position involves
  * an ASCII unit, so the connector ENFORCES pure-ASCII bounds: a
  * non-ASCII range value never pushes and stays a residual Spark
  * filter (see LimeSurveyScanBuilder.pushFilters). `in:` carries
  * unit-separator-joined () operands. A literal equality value
  * that happens to LOOK like an operator prefix is never pushed by the
  * connector (it stays a residual Spark filter), so the server may
  * parse prefixes unconditionally. One condition per attribute — the
  * map key is the attribute, as in the reference API. */
object ConditionCodec {
  val InSep = ""
  private val Ops = Seq("gt:", "ge:", "lt:", "le:", "in:")
  def looksEncoded(v: String): Boolean = Ops.exists(v.startsWith)
  def matches(cond: String, actual: String): Boolean =
    if (cond.startsWith("gt:")) actual > cond.substring(3)
    else if (cond.startsWith("ge:")) actual >= cond.substring(3)
    else if (cond.startsWith("lt:")) actual < cond.substring(3)
    else if (cond.startsWith("le:")) actual <= cond.substring(3)
    else if (cond.startsWith("in:"))
      cond.substring(3).split(InSep, -1).contains(actual)
    else actual == cond
}

/** Transport construction from a string spec — the form a DataSource V2
  * connector needs, since executor-side readers only receive string
  * options. Specs:
  *
  *  - `http` — real JSON-RPC POSTs ([[LimeSurveyClient.HttpTransport]])
  *  - `file:<dir>` — a local fake *server*: replies with
  *    `<dir>/<method>.json` and honors `iStart`/`iLimit` paging params
  *    from the request envelope by slicing the canned result array, so
  *    pushdown behavior is observable end-to-end without a network.
  *    Like the real endpoint, it refuses a session key other than the
  *    one `<dir>/get_session_key.json` issues, and it answers an empty
  *    participants page with the no-rows status, not `[]`.
  */
object Transports {

  def fromSpec(spec: String): Transport = spec match {
    case "http" => new HttpTransport
    case s if s.startsWith("file:") => new FileServerTransport(s.stripPrefix("file:"))
    case other => throw new IllegalArgumentException(
      s"unknown transport spec '$other' (expected 'http' or 'file:<dir>')")
  }

  /** Replays canned per-method replies, emulating the server-side
    * handling of paging AND condition parameters (`aConditions`
    * equality filters apply BEFORE paging, as the real endpoint's SQL
    * WHERE would). Serializable: executors construct it from the spec
    * string. The last request envelope per JVM is recorded in
    * [[FileServerTransport.lastBody]] so specs can assert pushdown
    * reached the wire. */
  final class FileServerTransport(dir: String) extends Transport with Serializable {
    def post(url: String, body: String): String = {
      FileServerTransport.lastBody.set(body)
      FileServerTransport.record(body)
      val mapper = new ObjectMapper
      val req = mapper.readTree(body)
      val method = req.get("method").asText()
      val path = Paths.get(dir, s"$method.json")
      if (!Files.exists(path))
        throw new RuntimeException(s"fake server has no handler file for '$method'")
      def status(s: String) = s"""{"id":${req.get("id")},"result":{"status":"$s"},"error":null}"""
      val params = req.path("params")
      val login = Paths.get(dir, "get_session_key.json")
      // rewriting the login fixture expires every key issued before
      if (LimeSurveyClient.sessionKeyOf(params).exists(key => Files.exists(login) &&
          key != mapper.readTree(login.toFile).get("result").asText()))
        return status("Invalid session key")
      val raw = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      val paged = params.has("iStart") && params.has("iLimit")
      val conds = params.path("aConditions").properties().iterator().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
      if (!paged && conds.isEmpty) return raw
      val reply = mapper.readTree(raw)
      reply.get("result") match {
        case arr: ArrayNode =>
          // conditions ([[ConditionCodec]]: raw equality or op-prefixed
          // range/in) match top-level fields or participant_info
          val rows = arr.elements().asScala.filter(n => conds.forall { case (k, v) =>
            Seq(n.path(k), n.path("participant_info").path(k)).find(!_.isMissingNode)
              .exists(node => ConditionCodec.matches(v, node.asText()))
          }).toSeq
          val start = params.path("iStart").asInt()
          val page = if (paged) rows.slice(start, start + params.get("iLimit").asInt())
            else rows
          if (page.isEmpty && method == "list_participants")
            status("No survey participants found.")
          else {
            val out = reply.asInstanceOf[ObjectNode]
            out.set[JsonNode]("result", mapper.createArrayNode().addAll(page.asJava))
            mapper.writeValueAsString(out)
          }
        case _ => raw
      }
    }
  }

  object FileServerTransport {
    /** Last request body seen by any FileServerTransport in this JVM —
      * spec-only observability (local mode shares the JVM). */
    val lastBody = new java.util.concurrent.atomic.AtomicReference[String]("")

    /** Recent (nanoTime, body) posts in this JVM — lets write-path specs
      * assert RPC counts AND inter-arrival pacing. Test-only state:
      * clear before the scenario under test. BOUNDED (drops oldest past
      * the cap) so a long-lived file-transport process — a Verify run, a
      * paged pipeline — can't leak heap into an observability buffer it
      * never reads. */
    val posts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    private val MaxPosts = 4096

    private[Transports] def record(body: String): Unit = {
      posts.add((System.nanoTime(), body))
      while (posts.size() > MaxPosts) posts.poll()
    }
  }
}
