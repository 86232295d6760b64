package graft

import graft.pipelines.CurationPipeline

/** End-to-end funnel over a golden corpus with one doc per disposition:
  * the composed library operators must label each doc with the FIRST
  * stage that drops it, redact kept text, and chunk only survivors. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  // distinct 40+-token bodies per pair (a shared body would weld the
  // exact pair and the near pair into ONE MinHash cluster); the near
  // pair differs by one appended token — only 5 of ~41 5-shingles
  // change, safely inside MinHash recall
  private val bodyA = "the alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi " +
    "psi omega aa bb cc dd ee ff gg hh ii jj kk ll the of and to"
  private val bodyB = "the red orange yellow green blue indigo violet " +
    "crimson scarlet amber gold lime teal cyan azure navy plum rose coral " +
    "jade onyx pearl one two three four five six seven eight nine ten " +
    "eleven twelve the of and to"

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog contact user@example.com"),
    (2L, "zz yy"), // 2 tokens, no stopwords → quality drop
    (3L, s"$bodyA unique3"),
    (4L, s"$bodyA unique3"), // byte-identical to 3 → exact_dup
    (5L, s"$bodyB shared5"),
    (6L, s"$bodyB shared5 extra"), // near-dup of 5 (superset shingles)
    (7L, "the benchmark answer key secret sequence is hidden in this the text")
  ).toDF("doc_id", "text")

  private val evalDocs = Seq(
    "benchmark answer key secret sequence").toDF("text")

  test("dispositions label each doc with its first dropping stage") {
    val disp = CurationPipeline.dispositions(docs, evalDocs)
      .as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(disp.size == 7, "every input doc gets exactly one disposition")
    assert(disp(1L)._2 == "kept")
    assert(disp(2L)._2 == "quality")
    assert(disp(3L)._2 == "kept", "canonical min-id of the exact pair stays")
    assert(disp(4L)._2 == "exact_dup")
    assert(disp(5L)._2 == "kept", "canonical min-id of the near pair stays")
    assert(disp(6L)._2 == "near_dup")
    assert(disp(7L)._2 == "contaminated")
    // kept docs carry redacted text, dropped docs carry none
    assert(disp(1L)._3.get.contains("<EMAIL>") &&
      !disp(1L)._3.get.contains("user@example.com"))
    assert(disp(3L)._3.get == s"$bodyA unique3", "clean text untouched sans PII")
    Seq(2L, 4L, 6L, 7L).foreach(id => assert(disp(id)._3.isEmpty))
  }

  test("report and packed derive from the same disposition pass") {
    val disp = CurationPipeline.dispositions(docs, evalDocs)
    val rep = CurationPipeline.report(disp).as[(String, Long)].collect().toMap
    assert(rep == Map("kept" -> 3L, "quality" -> 1L, "exact_dup" -> 1L,
      "near_dup" -> 1L, "contaminated" -> 1L))
    val packed = CurationPipeline.packed(disp)
      .as[(Long, Long, String)].collect()
    assert(packed.map(_._1).toSet == Set(1L, 3L, 5L), "only kept docs chunk")
    // chunk 0 exists for every kept doc and every token is covered
    assert(packed.filter(_._2 == 0L).map(_._1).toSet == Set(1L, 3L, 5L))
    val doc3Tokens = packed.filter(_._1 == 3L).flatMap(_._3.split(" ")).toSet
    assert(doc3Tokens == s"$bodyA unique3".split(" ").toSet)
  }
}
