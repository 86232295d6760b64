package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{Dedup, TextAnalysis}

/** The standard pretraining-data curation funnel, composed end-to-end
  * from the library's operators (the LLM-pipeline counterpart of
  * [[SurveyPipelines]]' reference ETL): quality gate → exact dedup →
  * MinHash near-dedup → benchmark decontamination → PII redaction →
  * context-window chunking.
  *
  * Design: the funnel is ONE disposition pass, not five filtering jobs.
  * Each stage contributes its drop set (quality predicate, non-canonical
  * exact/near duplicates, contaminated ids) as a LEFT-JOINED flag, and a
  * single `coalesce` ladder labels every doc with the FIRST stage that
  * dropped it — so per-stage funnel counts come from one aggregate over
  * one pass, and the kept set is a filter on the same relation. Drop
  * sets are id-only (never text) and join on the doc key, so at 100 TB
  * each is a key-sized shuffle against the corpus, and the expensive
  * operators behind them (MinHash banding, shingle overlap) run on
  * their own already-reduced inputs.
  *
  * Stage order is the cheap-first contract of every production funnel:
  * the quality gate is a narrow per-row predicate that shrinks what the
  * dedup/decontamination stages must shuffle — their inputs are the
  * quality SURVIVORS, not the raw corpus. */
object CurationPipeline {

  final case class Config(
      qualityMin: Double = 0.5,
      minhashK: Int = 5,
      minhashPerms: Int = 16,
      minhashBands: Int = 4,
      decontamShingleK: Int = 5,
      chunkWidth: Int = 64,
      chunkStride: Int = 48)

  /** Per-doc disposition: doc_id, stage ("kept" or the first dropping
    * stage among quality / exact_dup / near_dup / contaminated), and for
    * kept docs the PII-redacted text (null otherwise). */
  def dispositions(docs: DataFrame, evalDocs: DataFrame,
      cfg: Config = Config()): DataFrame = {
    // widen the scan ONCE, at the root: every stage below composes
    // joins on top of `base`, and ensure NO-OPS on wide plans — so the
    // single-row-group documents scan otherwise pins the quality
    // survivors join, the dedup operators' shingle passes AND the final
    // disposition pass (redactPii regexes over every kept doc) to ONE
    // task (the q206 round-10 trap; measured ~1.4 s of serialized
    // 1-task stages in q124's 5.3 s, round 14)
    val base = graft.operators.Parallelism.ensure(
      docs.select(col("doc_id"), col("text")))
    val quality = TextAnalysis
      .qualityFeatures(base, col("text"))
      .select(col("doc_id"),
        (col("quality_score").isNotNull &&
          col("quality_score") >= cfg.qualityMin).as("__q_pass"))
    // dedup stages see only quality survivors — the funnel's cheap-first
    // contract — and emit id-only drop sets
    val qualified = base.join(quality.filter(col("__q_pass")).select("doc_id"),
      "doc_id")
    val exactDrop = qualified
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("__fp"))
      .join(Dedup.exact(qualified, "doc_id", lower(trim(col("text"))))
          .filter(col("n_dups") > 1)
          .select(col("fp").as("__grp_fp"), col("keep_id")),
        col("__fp") === col("__grp_fp"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as("__drop_id"))
    val comps = Dedup.connectedComponents(
      Dedup.minHashCandidates(qualified, "doc_id", col("text"),
        cfg.minhashK, cfg.minhashPerms, cfg.minhashBands))
    val nearDrop = comps.filter(col("doc") =!= col("component"))
      .select(col("doc").as("__near_id"))
    val contamDrop = Dedup.decontaminate(qualified, "doc_id", col("text"),
        evalDocs.select(col("text")), col("text"), cfg.decontamShingleK)
      .select(col("doc").as("__contam_id"))
    base
      .join(quality, Seq("doc_id"), "left")
      .join(exactDrop, col("doc_id") === col("__drop_id"), "left")
      .join(nearDrop, col("doc_id") === col("__near_id"), "left")
      .join(contamDrop, col("doc_id") === col("__contam_id"), "left")
      .select(col("doc_id"),
        when(!col("__q_pass"), "quality")
          .when(col("__drop_id").isNotNull, "exact_dup")
          .when(col("__near_id").isNotNull, "near_dup")
          .when(col("__contam_id").isNotNull, "contaminated")
          .otherwise("kept").as("stage"),
        col("text"))
      .withColumn("clean_text",
        when(col("stage") === "kept", TextAnalysis.redactPii(col("text"))))
      .drop("text")
  }

  /** Funnel report: docs per disposition stage, one aggregate. */
  def report(disp: DataFrame): DataFrame =
    disp.groupBy("stage").agg(count(lit(1)).as("n_docs"))

  /** Kept docs chunked into training context windows. */
  def packed(disp: DataFrame, cfg: Config = Config()): DataFrame =
    TextAnalysis.chunkTokens(
      disp.filter(col("stage") === "kept")
        .select(col("doc_id"), col("clean_text")),
      "doc_id", col("clean_text"), cfg.chunkWidth, cfg.chunkStride)
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("chunk_text"))
}
