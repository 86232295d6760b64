package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `get_json_object(json, '$.key')` for one top-level key, with the
  * same result on every input.
  *
  * Why native: `get_json_object` (and `json_tuple`, `from_json`) wraps
  * every row in a new `ByteArrayInputStream` + `InputStreamReader` and a
  * fresh Jackson parser and generator — about 3.8 µs per row on a
  * `{"k": <int>}` payload, where a byte scan of the same row costs tens
  * of nanoseconds.
  *
  * Fast path ([[JsonField.scan]]): one pass over the UTF-8 bytes, no
  * allocation until the result is copied out. It serves a flat object
  * whose members are plain strings (printable ASCII, no escapes, at most
  * [[JsonField.MaxPlain]] bytes), integers (no leading zeros, no `-0`, at
  * most 18 digits), `true`, `false` and `null`, separated by JSON
  * whitespace. It scans the WHOLE object, as Spark's parser does after a
  * match: the first member of the key with a non-null value wins (later
  * duplicates are skipped, a `null` one is passed over), and a member
  * outside the fast grammar anywhere in the object sends the row to the
  * fallback, so a malformed tail gives what Spark gives.
  *
  * Fallback: anything else (escapes, non-ASCII, nesting, floats,
  * single quotes, non-object or trailing input) goes to Spark's own
  * `GetJsonObjectEvaluator` — one per expression instance when
  * interpreted, one per generated class (task) when codegen'd — so the
  * fallback is exact by construction. Codegen'd via a static call (the
  * [[Md5Long]] pattern).
  *
  * `key` is letters, digits and `_`: such a key is one plain path step,
  * `$.key`, for Spark's path parser.
  */
case class JsonField(child: Expression, key: String) extends UnaryExpression {
  require(JsonField.plainKey(key),
    s"json_field: key must be letters, digits or '_', got '$key'")

  @transient private lazy val keyBytes = key.getBytes(UTF_8)
  @transient private lazy val fallback = GetJsonObjectEvaluator(JsonField.path(key))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_field expects a string, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_field"

  override def nullSafeEval(s: Any): Any =
    JsonField.extract(s.asInstanceOf[UTF8String], keyBytes, fallback)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("jsonFieldKey", keyBytes, "byte[]")
    val pathRef = ctx.addReferenceObj("jsonFieldPath", JsonField.path(key))
    val cls = classOf[GetJsonObjectEvaluator].getName
    val fallbackRef = ctx.addMutableState(cls, "jsonFieldFallback",
      v => s"$v = new $cls($pathRef);", forceInline = true)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.JsonField.extract($c, $keyRef, $fallbackRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonField =
    copy(child = newChild)
}

object JsonField {
  /** [[scan]]: the object has no member of the key with a non-null value. */
  final val Absent = -1L
  /** [[scan]]: the input is outside the fast grammar. */
  final val Fallback = -2L
  /** Longest plain string the fast path takes (Jackson limits names to
    * 50,000 chars; longer strings are rare enough to fall back). */
  final val MaxPlain = 4096
  private final val MaxDigits = 18

  private val True = "true".getBytes(UTF_8)
  private val False = "false".getBytes(UTF_8)
  private val Null = "null".getBytes(UTF_8)

  def plainKey(key: String): Boolean =
    key.nonEmpty && key.forall(c => Character.isLetterOrDigit(c) || c == '_')

  def path(key: String): UTF8String = UTF8String.fromString("$." + key)

  def extract(json: UTF8String, key: Array[Byte],
      fallback: GetJsonObjectEvaluator): UTF8String = {
    val span = scan(json, key)
    if (span >= 0) {
      val len = (span & 0xffffffffL).toInt
      val out = new Array[Byte](len)
      Platform.copyMemory(json.getBaseObject, json.getBaseOffset + (span >>> 32),
        out, Platform.BYTE_ARRAY_OFFSET, len)
      UTF8String.fromBytes(out)
    } else if (span == Absent) null
    else {
      fallback.setJson(json)
      fallback.evaluate().asInstanceOf[UTF8String]
    }
  }

  /** The fast path: the byte span of the first non-null value of `key`
    * (a string's without its quotes), packed `start << 32 | length`;
    * [[Absent]] or [[Fallback]] otherwise. */
  def scan(json: UTF8String, key: Array[Byte]): Long = {
    val base = json.getBaseObject
    val off = json.getBaseOffset
    val n = json.numBytes
    var i = skipWs(base, off, n, 0)
    if (i >= n || at(base, off, i) != '{') return Fallback
    i = skipWs(base, off, n, i + 1)
    var found = Absent
    var open = !(i < n && at(base, off, i) == '}')
    if (!open) i += 1
    while (open) {
      if (i >= n || at(base, off, i) != '"') return Fallback
      val keyEnd = plainString(base, off, n, i + 1)
      if (keyEnd < 0) return Fallback
      val wanted = found == Absent && sameBytes(base, off, i + 1, keyEnd, key)
      i = skipWs(base, off, n, keyEnd + 1)
      if (i >= n || at(base, off, i) != ':') return Fallback
      i = skipWs(base, off, n, i + 1)
      if (i >= n) return Fallback
      val c = at(base, off, i)
      val start = if (c == '"') i + 1 else i
      val end =
        if (c == '"') plainString(base, off, n, start)
        else if (c == '-' || (c >= '0' && c <= '9')) integer(base, off, n, i)
        else if (c == 't') literal(base, off, n, i, True)
        else if (c == 'f') literal(base, off, n, i, False)
        else if (c == 'n') literal(base, off, n, i, Null)
        else -1
      if (end < 0) return Fallback
      if (wanted && c != 'n') found = (start.toLong << 32) | (end - start)
      i = skipWs(base, off, n, if (c == '"') end + 1 else end)
      if (i >= n) return Fallback
      val sep = at(base, off, i)
      if (sep == ',') i = skipWs(base, off, n, i + 1)
      else if (sep == '}') { i += 1; open = false }
      else return Fallback
    }
    if (skipWs(base, off, n, i) == n) found else Fallback
  }

  private def at(base: AnyRef, off: Long, i: Int): Byte = Platform.getByte(base, off + i)

  /** JSON whitespace: exactly the four bytes Jackson skips between tokens. */
  private def skipWs(base: AnyRef, off: Long, n: Int, from: Int): Int = {
    var i = from
    while (i < n && { val b = at(base, off, i); b == ' ' || b == '\t' || b == '\n' || b == '\r' })
      i += 1
    i
  }

  /** Index of the closing quote of a plain string starting at `from`, or
    * -1 on an escape, a control or non-ASCII byte (negative as a signed
    * byte), the end of input, or more than [[MaxPlain]] bytes. */
  private def plainString(base: AnyRef, off: Long, n: Int, from: Int): Int = {
    val limit = if (n - from > MaxPlain) from + MaxPlain else n
    var i = from
    while (i < limit) {
      val b = at(base, off, i)
      if (b == '"') return i
      if (b < 0x20 || b == '\\') return -1
      i += 1
    }
    -1
  }

  /** End of an integer starting at `from` (`-`? then `0` or `[1-9][0-9]*`,
    * not `-0`, at most [[MaxDigits]] digits), or -1. Jackson re-renders a
    * copied integer from its value, so these are the integers whose
    * source text is their rendering. */
  private def integer(base: AnyRef, off: Long, n: Int, from: Int): Int = {
    val digits = if (at(base, off, from) == '-') from + 1 else from
    var i = digits
    while (i < n && { val b = at(base, off, i); b >= '0' && b <= '9' }) i += 1
    val count = i - digits
    if (count == 0 || count > MaxDigits) -1
    else if (at(base, off, digits) == '0' && (count > 1 || digits > from)) -1
    else i
  }

  private def literal(base: AnyRef, off: Long, n: Int, from: Int,
      word: Array[Byte]): Int = {
    if (n - from < word.length) return -1
    var k = 0
    while (k < word.length) {
      if (at(base, off, from + k) != word(k)) return -1
      k += 1
    }
    from + word.length
  }

  private def sameBytes(base: AnyRef, off: Long, from: Int, to: Int,
      key: Array[Byte]): Boolean = {
    if (to - from != key.length) return false
    var k = 0
    while (k < key.length) {
      if (at(base, off, from + k) != key(k)) return false
      k += 1
    }
    true
  }
}
