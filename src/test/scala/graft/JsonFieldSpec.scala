package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GetJsonObject, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{JsonField, Native}

/** `Native.jsonField(json, key)` against `get_json_object(json,
  * '$.key')` on generated JSON — plain and escaped strings, non-ASCII
  * keys and values, nested values and siblings, duplicate keys, every
  * number form, literals, whitespace, truncation, trailing garbage,
  * non-object tops and SQL NULL — through both the interpreted and the
  * codegen'd path. The fixtures' `{"k": <int>}` rows never reach the
  * fallback, so the fast-path census below is the fast path's guard. */
class JsonFieldSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val keys = Seq("k", "v", "missing", "é", "k_2")

  private val ws = Gen.frequency(4 -> "", 3 -> " ", 1 -> "\t", 1 -> "\n", 1 -> "\r\n ")

  private val plainBody = Gen.listOf(Gen.oneOf(
    "a", "Z", "0", " ", "/", "-", "_", ":", ",", "{", "}", "[", "]", "'", "\u007f"))
    .map(_.take(8).mkString)

  private val stringBody = Gen.frequency(
    6 -> plainBody,
    1 -> Gen.oneOf("a\\/b", "q\\\"q", "back\\\\slash", "\\u00e9", "\\n", "x\\u0000"),
    1 -> Gen.oneOf("é", "日本", "naïve", "\u00e9t\u00e9"),
    1 -> Gen.oneOf("a\tb", "line\nbreak", "nul\u0000"))

  private val keyText = Gen.frequency(
    8 -> Gen.oneOf("k", "v", "missing", "é", "k_2"),
    3 -> Gen.oneOf("x", "K", "kk", "日本", "a b", ""),
    1 -> Gen.oneOf("\\u006b", "k\\u0000", "\\u00e9"))

  /** Values inside the fast grammar. */
  private val plainValue: Gen[String] = Gen.frequency(
    4 -> Gen.choose(-1000L, 1000L).map(_.toString),
    1 -> Gen.choose(Long.MinValue / 10, Long.MaxValue / 10).map(_.toString),
    2 -> Gen.oneOf("true", "false", "null"),
    3 -> plainBody.map("\"" + _ + "\""))

  private val value: Gen[String] = Gen.frequency(
    8 -> plainValue,
    1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
    1 -> Gen.oneOf("0", "-0", "007", "-01", "12345678901234567890123", "-", "+1"),
    1 -> Gen.oneOf("1.5", "-0.0", "1e3", "1E-2", "2.50", "0.1e+2", "1.", ".5"),
    1 -> Gen.oneOf("null", "nul", "True", "truex"),
    2 -> stringBody.map("\"" + _ + "\""),
    1 -> Gen.oneOf("'single'", "\"unterminated"),
    1 -> Gen.oneOf("{\"k\": 1}", "[1, \"a\", {\"k\": 2}]", "[]", "{}",
      "{\"a\": [true, null]}"))

  private def obj(key: Gen[String], value: Gen[String]): Gen[String] = for {
    n <- Gen.choose(0, 4)
    ms <- Gen.listOfN(n, for {
      k <- key; v <- value; a <- ws; b <- ws
    } yield "\"" + k + "\"" + a + ":" + b + v)
    sep <- ws; open <- ws; close <- ws
  } yield open + "{" + sep + ms.mkString(sep + "," + sep) + sep + "}" + close

  private val anyObj = obj(keyText, value)

  private val json: Gen[String] = Gen.frequency(
    8 -> obj(Gen.oneOf("k", "v", "missing", "x", "k_2"), plainValue),
    8 -> anyObj,
    2 -> anyObj.flatMap(o => Gen.choose(0, o.length).map(o.take)),
    2 -> Gen.zip(anyObj, Gen.oneOf(" x", "}", ",", "{}", "\"k\"", " \n")).map {
      case (o, t) => o + t },
    1 -> Gen.oneOf("[1]", "1", "\"k\"", "", "  ", "null", "true", "[{\"k\": 1}]",
      "{\"k\": 1,}", "{,}", "{\"k\" 1}", "{\"k\": 1 \"v\": 2}"))

  /** Duplicates and tails that a first-match scan would get wrong. */
  private val cases = Seq(
    "{\"k\": 1, \"k\": 2}", "{\"k\": null, \"k\": 2}", "{\"k\": null}",
    "{\"k\": 1, \"k\": }", "{\"k\": 1, \"x\": [}", "{\"k\": 1, \"x\": \"a\\/b\"}",
    "{\"k\": 1, \"x\": 1.5e3}", "{\"k\": 1} x", "{\"k\": \"\"}", "{\"k\":\"a\\/b\"}",
    "{\"k\": \"q\\\"q\"}", "{\"k\": \"é\"}", "{\"é\": 3}", "{\"\\u006b\": 4}",
    "{\"k\": \"a\tb\"}", "{\"k\": -0}", "{\"k\": 007}", "{\"k\": {\"k\": 1}}",
    "{\"k\": [1, 2]}", "{\"k\": true}", "{\"k\": false}", "\t{\n\"k\"\r: 5 }\n",
    "{\"k\": 1", "", "{}", "[{\"k\": 1}]")

  private def evaluators(key: String) = {
    val in = BoundReference(0, StringType, nullable = true)
    val want = GetJsonObject(in, Literal("$." + key))
    val native = JsonField(in, key)
    val compiled = GenerateMutableProjection.generate(Seq(native))
    (row: InternalRow) => {
      def str(v: Any) = Option(v).map(_.toString)
      val out = compiled(row)
      (str(want.eval(row)), str(native.eval(row)),
        if (out.isNullAt(0)) None else Some(out.getUTF8String(0).toString))
    }
  }

  test("jsonField == get_json_object, interpreted and codegen'd, on generated JSON") {
    val inputs = (samples(json, 600) ++ cases).distinct
    var found = 0
    var fallback = 0
    for (key <- keys) {
      val eval = evaluators(key)
      val keyBytes = key.getBytes("UTF-8")
      inputs.foreach { s =>
        val utf8 = UTF8String.fromString(s)
        val (want, interpreted, compiled) = eval(InternalRow(utf8))
        assert(interpreted == want, s"interpreted, key $key, input [$s]")
        assert(compiled == want, s"codegen'd, key $key, input [$s]")
        val span = JsonField.scan(utf8, keyBytes)
        if (span == JsonField.Fallback) fallback += 1
        else if (span >= 0) found += 1
      }
      assert(eval(InternalRow(null)) == ((None, None, None)), "SQL NULL")
    }
    // both paths carry a real share of the corpus (the fast path with a
    // value found, not only "absent"), so the comparison above tests the
    // fast path and not only Spark against itself
    val total = inputs.size * keys.size
    assert(found > total / 20 && fallback > total / 5,
      s"fast path found $found, fallback $fallback of $total")
    info(s"fast path found $found, fallback $fallback of $total")
  }

  test("the fast path, not the fallback, serves every fixture's props rows") {
    val k = "k".getBytes("UTF-8")
    val generated = samples(Gen.zip(Gen.choose(Long.MinValue / 10, Long.MaxValue / 10),
      ws, ws), 200).map { case (n, a, b) => s"$a{$b\"k\":$a$n$b}$a" }
    val fixtures = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").filter(d => new java.io.File(d, "events.parquet").exists)
      .flatMap(d => spark.read.parquet(s"$d/events.parquet").select("props")
        .distinct().collect().map(_.getString(0)))
    assert(fixtures.nonEmpty)
    (generated ++ fixtures).foreach { s =>
      val span = JsonField.scan(UTF8String.fromString(s), k)
      assert(span >= 0, s"[$s] left the fast path: $span")
    }
  }

  test("jsonField == get_json_object over the events table in a whole-stage plan") {
    val events = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("event_id"), concat(col("props"),
        when(col("event_id") % 3 === 0, lit(" x")).otherwise(lit(""))).as("j"))
    val a = events.select(col("event_id"), Native.jsonField(col("j"), "k").as("v"))
    val b = events.select(col("event_id"), get_json_object(col("j"), "$.k").as("v"))
    assert(a.queryExecution.executedPlan.toString.contains("*(1) Project [event_id"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(a.filter(col("v").isNotNull).count() > 0)
  }

  test("a key that is not one plain path step is refused") {
    Seq("", "a.b", "a[0]", "*", "a b").foreach { k =>
      intercept[IllegalArgumentException](Native.jsonField(col("j"), k))
    }
  }
}
