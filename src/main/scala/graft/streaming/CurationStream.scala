package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TextAnalysis

/** Streaming twin of [[graft.pipelines.CurationPipeline]]: the funnel's
  * incremental prefix — per-row quality gate, watermark-bounded exact
  * dedup, PII redaction — runnable on a document EVENT stream with the
  * same dispositions and stage labels as the batch pass.
  *
  * What streams and what doesn't (the standard lambda split): the
  * quality gate and PII redaction are narrow per-row expressions
  * (identical Columns as batch); exact dedup is per-key state bounded
  * by the duplicate horizon. MinHash NEAR-dedup and benchmark
  * decontamination are corpus-global joins — a streaming engine cannot
  * label "near-duplicate of a document it hasn't seen yet" without
  * unbounded state, so those stages belong to the periodic batch
  * compaction over the accumulated corpus ([[graft.pipelines.CurationPipeline]]),
  * and this stream's `kept` is batch's `kept ∪ near_dup ∪ contaminated`.
  *
  * The dedup stage is `flatMapGroupsWithState` keyed by content
  * fingerprint rather than `dropDuplicatesWithinWatermark`, for one
  * reason: the funnel needs DISPOSITIONS, and drop-duplicates silently
  * swallows the dropped rows. Semantics match it exactly — first
  * arrival (event-time order, doc_id ties) inside the horizon is
  * `kept`, later arrivals are `exact_dup`, and the fingerprint state
  * expires on an event-time timer once the watermark passes
  * last-seen + horizon, so state is bounded by the duplicate horizon,
  * not the stream length.
  *
  * Scale shape: one hash shuffle on the fingerprint (the same shuffle
  * batch exact dedup pays), per-key state of one long; quality/redact
  * are stateless maps. Identical plan at 32 or 1000 executors. */
object CurationStream {

  /** One per-document funnel outcome; `clean_text` is redacted text for
    * kept docs, null otherwise — the batch dispositions contract. */
  case class Disposition(doc_id: Long, stage: String, clean_text: String)

  /** Dedup state per fingerprint (public: Spark's state encoder codegen
    * needs constructor access from generated code). */
  case class FpState(lastSeenMs: Long)

  /** Label every streamed document with its funnel stage. `docs` needs
    * (doc_id, text, ts); duplicates beyond `horizonMs` of the last
    * sighting re-qualify as kept (the bounded-state contract — mirror
    * the horizon in any batch comparison). */
  def dispositions(spark: SparkSession, docs: DataFrame,
      qualityMin: Double = 0.5,
      horizonMs: Long = 2L * 3600 * 1000,
      watermarkDelay: String = "2 hours"): DataFrame = {
    import spark.implicits._
    val scored = TextAnalysis
      .qualityFeatures(docs.select(col("doc_id"), col("text"), col("ts")),
        col("text"))
      .select(col("doc_id"), col("text"), col("ts"),
        (col("quality_score").isNotNull &&
          col("quality_score") >= qualityMin).as("__pass"))
    val failed = scored.filter(!col("__pass"))
      .select(col("doc_id"), lit("quality").as("stage"),
        lit(null).cast("string").as("clean_text"))
    val deduped = scored.filter(col("__pass"))
      .withWatermark("ts", watermarkDelay)
      .select(md5(lower(trim(col("text")))).as[String],
        col("doc_id").as[Long], col("ts").as[java.sql.Timestamp],
        col("text").as[String])
      .groupByKey(_._1)
      .flatMapGroupsWithState[FpState, (Long, String, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[(String, Long, java.sql.Timestamp, String)],
         state: GroupState[FpState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // first arrival wins: event-time order, doc_id ties — the
            // same canonical the batch funnel picks when ingest order
            // follows ids
            val batch = rows.toSeq.sortBy(t => (t._3.getTime, t._2))
            val seenBefore = state.exists
            val lastSeen = math.max(
              state.getOption.map(_.lastSeenMs).getOrElse(Long.MinValue),
              batch.map(_._3.getTime).max)
            state.update(FpState(lastSeen))
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, lastSeen + horizonMs))
            batch.iterator.zipWithIndex.map { case ((_, id, _, text), i) =>
              if (seenBefore || i > 0) (id, "exact_dup", null: String)
              else (id, "kept", text)
            }
          }
      }
      .toDF("doc_id", "stage", "__text")
      // redaction stays a narrow Column op on the kept branch — the
      // SAME expression the batch funnel applies
      .select(col("doc_id"), col("stage"),
        when(col("stage") === "kept",
          TextAnalysis.redactPii(col("__text"))).as("clean_text"))
    failed.unionByName(deduped)
  }

  /** Streaming incremental near-dedup — the q125 shard-vs-lake question
    * ("does this just-crawled document near-duplicate the lake") asked
    * per TRIGGER instead of per nightly shard: one row per streamed doc
    * that LSH-matches the static lake, with its distinct-match count and
    * smallest matching lake id — [[graft.operators.Dedup.incrementalNearDups]]'
    * exact output contract (`new_doc`, `n_matches`, `closest_existing`).
    *
    * Shape, all bounded: exact re-sends inside the watermark are
    * suppressed first (`dropDuplicatesWithinWatermark` on
    * (doc_id, content fingerprint) — state: one pair per doc per
    * horizon). Keying on the PAIR, not the fingerprint alone, is what
    * keeps per-doc output the contract: a DIFFERENT doc_id arriving
    * with byte-identical text inside the watermark still gets its own
    * near-dup verdict, exactly as the batch operator reports both
    * docs (StreamingSpec asserts this with twin-text distinct ids);
    * only true re-sends of the SAME doc are absorbed. Each
    * surviving row then evaluates its banded MinHash signature as a
    * narrow per-row expression ([[graft.operators.Dedup.rowBands]] —
    * each shingle md5-hashed once, no aggregate) and joins the
    * PRECOMPUTED lake index ([[graft.operators.Dedup.bandIndex]]:
    * build once per compaction, broadcast-or-shuffle — a stream-static
    * join is STATELESS); the per-doc match fold groups on
    * (doc_id, watermarked ts), so append mode finalizes each doc when
    * the watermark passes it. Same-side pairs (new∼new) are the batch
    * compaction's business, exactly as in the batch operator — the
    * static join structurally cannot produce them.
    *
    * Parity caveat (documented divergence, asserted in StreamingSpec):
    * the batch operator's `maxBucket` cap counts old+new docs per
    * bucket; a stream cannot know a bucket's future population, so the
    * cap applies at index-build time to the lake side only. */
  def incrementalNearDups(docs: DataFrame,
      lakeIndex: DataFrame, k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      watermarkDelay: String = "2 hours"): DataFrame = {
    val banded = docs
      .withColumn("__fp", md5(lower(trim(col("text")))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("doc_id", "__fp")
      .select(col("doc_id"), col("ts"),
        explode(graft.operators.Dedup.rowBands(col("text"), k, numPerm,
          bands)).as("__band"))
      .select(col("doc_id"), col("ts"),
        col("__band").getField("band_idx").as("band_idx"),
        col("__band").getField("band_hash").as("band_hash"))
    banded
      .join(lakeIndex, Seq("band_idx", "band_hash"))
      .groupBy(col("doc_id"), col("ts"))
      // distinct matches via collect_set (streaming aggregation cannot
      // express count(distinct)); state per doc is bounded by its lake
      // match count, itself bounded by bands × maxBucket
      .agg(collect_set(col("lake_doc")).as("__m"))
      .select(col("doc_id").as("new_doc"),
        size(col("__m")).cast("long").as("n_matches"),
        array_min(col("__m")).as("closest_existing"))
  }

  /** Stateless streaming NB quality gate — the deployment half of the
    * fastText-filter lifecycle: [[graft.operators.TextAnalysis.nbTrain]]
    * fits the model on the lake in batch; this gate scores the live
    * firehose against it. The B-row model collapses to ONE map row
    * crossed in by broadcast (the pqCodes broadcast-stat pattern) and
    * every doc scores in a pure per-row token fold —
    * `prior + Σ_tokens coalesce(llr[bucket(tok)], default_llr)` — so
    * there is NO explode, NO streaming aggregate and NO state: the
    * per-bucket `n·llr` sum of the batch operator IS the per-token
    * llr sum, and a batch-scored doc agrees with its stream score
    * bit-for-bit (StreamingSpec parity). Buckets live traffic hits
    * that training never observed earn the model's `default_llr`
    * (the zero-observation smoothing value) instead of silently
    * dropping the token like a join would.
    *
    * Input columns pass through; `n_toks`, `nb_micro`, `nb_pos` are
    * appended. Null-text rows score NULL and gate to false. */
  def nbQualityGate(docs: DataFrame, model: DataFrame,
      buckets: Int = 256): DataFrame = {
    val packed = broadcast(model.groupBy()
      .agg(map_from_entries(collect_list(struct(col("bucket"),
        col("llr")))).as("__llr"),
        max(col("prior")).as("__prior"),
        max(col("default_llr")).as("__dflt")))
    val toks = TextAnalysis.tokens(col("text"))
    docs.crossJoin(packed)
      .withColumn("n_toks",
        when(col("text").isNotNull, size(toks).cast("long")))
      .withColumn("nb_micro",
        when(col("text").isNotNull,
          col("__prior") + aggregate(toks, lit(0L), (acc, t) =>
            acc + coalesce(
              element_at(col("__llr"),
                pmod(graft.functions.Hashing.hexLong(t),
                  lit(buckets.toLong))),
              col("__dflt")))))
      .withColumn("nb_pos", coalesce(col("nb_micro") > 0L, lit(false)))
      .drop("__llr", "__prior", "__dflt")
  }

  /** The per-row fold every LM gate shares: the token-hash array binds
    * to a REAL column once, `nll_micro` is an exact long fold of
    * `nllAt` over the doc's order-n bucket windows (`nllAt` receives the
    * window's n bucket columns), `mean_micro` its integer mean and
    * `lm_pass` the fixed-threshold decision. Null text scores NULL;
    * docs under n tokens have no evidence (count 0, NULL mean); both
    * gate false and keep their row. */
  private def lmGate(docs: DataFrame, packed: DataFrame, order: Int,
      maxMeanMicro: Long, buckets: Int)(
      nllAt: Seq[Column] => Column): DataFrame = {
    val n = TextAnalysis.NgramCountCol(order)
    docs.crossJoin(packed)
      .withColumn("__h", TextAnalysis.tokenBuckets(col("text"), buckets))
      .withColumn(n,
        when(col("text").isNotNull,
          greatest(size(col("__h")) - (order - 1), lit(0)).cast("long")))
      .withColumn("nll_micro",
        when(col("text").isNotNull && size(col("__h")) >= order,
          aggregate(sequence(lit(0), size(col("__h")) - order), lit(0L),
            (acc, i) => acc + nllAt((1 to order).map(j =>
              element_at(col("__h"), (i + j).cast("int")))))))
      .withColumn("mean_micro",
        when(col(n) > 0L, expr(s"nll_micro div $n")))
      .withColumn("lm_pass",
        coalesce(col("mean_micro") <= maxMeanMicro, lit(false)))
      .drop("__h" +: packed.columns.toSeq: _*)
  }

  /** Stateless streaming CCNet perplexity gate — the deployment half
    * of the [[graft.operators.TextAnalysis.lmPerplexityBuckets]]
    * lifecycle ([[nbQualityGate]]'s pattern): train the hashed-bigram
    * LM on the reference lake in batch
    * ([[graft.operators.TextAnalysis.lmTrain]] — the `(b1,b2,c12)`
    * pair counts ARE the model), broadcast it packed into ONE row as
    * two maps (pair counts keyed `b1·B+b2`, margins keyed `b1`), and
    * score the live firehose per row with the batch operator's own
    * smoothing and quantizer ([[lmGate]]) — a batch-scored and a
    * stream-scored doc agree bit-for-bit (StreamingSpec parity). No
    * explode, no streaming aggregate, no state.
    *
    * The tercile CUT is corpus-relative and cannot stream; the gate
    * takes the fixed `maxMeanMicro` threshold instead (export the
    * batch run's head/middle boundary — CCNet itself deploys the
    * trained cut as a constant). Null-text docs score NULL and gate
    * false; docs with <2 tokens have no bigram evidence (`n_pairs`
    * 0, NULL mean) and gate false — the batch operator DROPS those
    * docs, the stream keeps the row so the caller sees a verdict per
    * doc. */
  def lmQualityGate(docs: DataFrame, model: DataFrame,
      maxMeanMicro: Long, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    val packed = broadcast(TextAnalysis.addOnePack(model, buckets,
      "__pm", "__c1"))
    lmGate(docs, packed, 2, maxMeanMicro, buckets) { b =>
      TextAnalysis.addOneNll(b(0), b(1), buckets, "__pm", "__c1")
    }
  }

  /** [[lmQualityGate]] with interpolated Kneser-Ney smoothing at order
    * n ∈ 2..5 ([[graft.operators.TextAnalysis.lmPerplexityBucketsKN]],
    * whose scaladoc carries the per-order bucket contract) over the
    * exported `(b1..bn, c12…n)` artifact
    * ([[graft.operators.TextAnalysis.lmTrain]] at that order — at
    * order 2 the SAME artifact the add-one gate uses, so upgrading a
    * deployed stream's smoothing is a config change, not a retrain).
    * Every level's table and margin, the continuation unigram and N_p
    * pack into ONE broadcast row of maps keyed by composite bucket
    * keys, and each window's chain folds through the batch scorer's own
    * [[graft.operators.TextAnalysis.knNll]] — no explode, no state; the
    * map probes are fine here because each micro-batch row scores a
    * bounded doc. Batch and stream agree bit-for-bit (StreamingSpec
    * parity). The count column is the batch scorer's (`n_pairs` …
    * `n_quints`). */
  def lmQualityGateKN(docs: DataFrame, model: DataFrame, order: Int,
      maxMeanMicro: Long, buckets: Int): DataFrame = {
    TextAnalysis.requireOrder(order)
    require(buckets >= 2, "need at least 2 hash buckets")
    val (levels, unigram, np) = TextAnalysis.knLevels(model, order, identity)
    // a bucket tuple's map key (…(k1·B + k2)·B + …)·B + kn — exact in a
    // long for every order and bucket count the long-bound contract admits
    def bucketKey(keys: Seq[Column]) =
      keys.reduceLeft((acc, k) => acc * lit(buckets.toLong) + k)
    def maps(df: DataFrame, keys: Seq[String], values: String*) = {
      val key = bucketKey(keys.map(col))
      val ms = values.map(v =>
        map_from_entries(collect_list(struct(key, col(v)))).as(v))
      df.groupBy().agg(ms.head, ms.tail: _*)
    }
    val packed = broadcast((levels.flatMap { lv =>
      val k = lv.keys.size
      Seq(maps(lv.table, lv.keys, s"__c$k"),
        maps(lv.margin, lv.keys.init, s"__s$k", s"__n$k"))
    } :+ maps(unigram, Seq(s"b$order"), "__u")).foldLeft(np)(_.crossJoin(_)))
    lmGate(docs, packed, order, maxMeanMicro, buckets) { b =>
      def at(m: String, keys: Seq[Column]) = coalesce(
        element_at(col(m), bucketKey(keys)), lit(0L))
      TextAnalysis.knNll((2 to order).map { k =>
        val ks = b.takeRight(k)
        (at(s"__c$k", ks), at(s"__s$k", ks.init), at(s"__n$k", ks.init))
      }, at("__u", Seq(b.last)), col("__np"), buckets)
    }
  }

  /** Stateless streaming Moore–Lewis gate — the deployment half of
    * [[graft.operators.TextAnalysis.crossEntropyDiffSelect]] (q169,
    * the [[lmQualityGate]] pattern doubled): BOTH exported
    * `(b1,b2,c12)` models — in-domain and general — pack into ONE
    * broadcast row as four maps, the token-hash array binds once, and
    * each doc's two nll folds run over the same array. `ced_micro` is
    * the batch operator's exact subtraction of integer-div means;
    * the corpus-relative mean cut cannot stream, so the gate takes
    * the batch run's exported cut as the fixed `maxCedMicro` (the
    * family convention: the tercile boundary for [[lmQualityGate]],
    * the Mahalanobis radius for the PCA gate). Batch-selected and
    * stream-passed agree bit-for-bit (StreamingSpec parity). Null
    * text / <2 tokens: no bigram evidence, NULL scores, gate false,
    * row kept. */
  def cedGate(docs: DataFrame, modelIn: DataFrame, modelGen: DataFrame,
      maxCedMicro: Long, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    val packed = broadcast(
      TextAnalysis.addOnePack(modelIn, buckets, "__pmi", "__c1i")
        .crossJoin(TextAnalysis.addOnePack(modelGen, buckets, "__pmg", "__c1g")))
    def foldNll(pm: String, c1: String): Column =
      when(col("text").isNotNull && size(col("__h")) >= 2,
        aggregate(sequence(lit(0), size(col("__h")) - 2), lit(0L),
          (acc, i) => acc + TextAnalysis.addOneNll(
            element_at(col("__h"), (i + 1).cast("int")),
            element_at(col("__h"), (i + 2).cast("int")), buckets, pm, c1)))
    docs.crossJoin(packed)
      .withColumn("__h", TextAnalysis.tokenBuckets(col("text"), buckets))
      .withColumn("n_pairs",
        when(col("text").isNotNull,
          greatest(size(col("__h")) - 1, lit(0)).cast("long")))
      .withColumn("nll_in_micro", foldNll("__pmi", "__c1i"))
      .withColumn("nll_gen_micro", foldNll("__pmg", "__c1g"))
      .withColumn("ced_micro",
        when(col("n_pairs") > 0L,
          expr("nll_in_micro div n_pairs") -
            expr("nll_gen_micro div n_pairs")))
      .withColumn("ced_pass",
        coalesce(col("ced_micro") < maxCedMicro, lit(false)))
      .drop("__h", "__pmi", "__c1i", "__pmg", "__c1g")
  }

  /** Incremental funnel report: docs per stage per event-time window —
    * the monitoring view ([[EventsStream.windowedExpectations]]'s shape
    * applied to the funnel itself). Counts are decomposable, so this is
    * a plain watermarked windowed hash-agg with bounded state. */
  def windowedReport(docs: DataFrame,
      qualityMin: Double = 0.5, windowLen: String = "1 hour",
      lateness: String = "2 hours"): DataFrame = {
    val scored = TextAnalysis
      .qualityFeatures(docs.select(col("doc_id"), col("text"), col("ts")),
        col("text"))
      .select(col("ts"),
        when(col("quality_score").isNotNull &&
          col("quality_score") >= qualityMin, "pass")
          .otherwise("quality").as("stage"))
    scored.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("stage"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("window.start").as("window_start"), col("stage"),
        col("n_docs"))
  }

  /** Stateless streaming C4 badword gate (Raffel 2020 §2.2) — the
    * deployment twin of
    * [[graft.operators.TextAnalysis.blocklistHit]] (q152) and the
    * simplest member of the gate family: the static list compiles to
    * a literal whole-token membership + padded-substring phrase test
    * inside the scan projection — no model row, no broadcast
    * variable, no state, no shuffle; a batch-flagged and a
    * stream-flagged doc agree bit-for-bit (StreamingSpec parity).
    * NULL text has no token evidence: `blocked` false, row kept so
    * the caller sees a verdict per doc (the family convention). */
  def blocklistGate(docs: DataFrame, words: Seq[String],
      phrases: Seq[String]): DataFrame =
    docs.withColumn("blocked",
      coalesce(
        graft.operators.TextAnalysis.blocklistHit(col("text"),
          words, phrases),
        lit(false)))

  /** Stateless streaming embedding-outlier gate — the deployment half
    * of the PCA lifecycle (q153–q155, the [[nbQualityGate]] pattern for
    * the vector modality): fit [[graft.operators.Pca]] on the reference
    * lake in batch, then score each live vector with the approximate
    * Mahalanobis distance Σ_k pc_k²/λ_k over the model's top
    * `components.length` components. The model rides in the PLAN as
    * literal arrays (no broadcast variable, no state, no shuffle — a
    * pure map), so batch and stream agree bit for bit and swapping in a
    * refit model is a query restart, not a topology change.
    *
    * Appends `md_micro` (exact micro fixed-point, the q155 quantizer)
    * and `md_ok` (distance ≤ `maxMdMicro`). Rows whose embedding is
    * null or not the model's arity score NULL and gate FALSE — the
    * batch operator drops them, the stream keeps the row so the caller
    * sees a verdict per vector. */
  def mahalanobisGate(vecs: DataFrame, embCol: String,
      model: graft.operators.Pca.PcaModel, k: Int,
      maxMdMicro: Long): DataFrame = {
    val dim = model.mean.length
    val embD = col(embCol).cast("array<double>")
    val muLit = typedLit(model.mean.toSeq)
    val wellFormed = size(col(embCol)) === dim
    val withPc = (1 to k).foldLeft(vecs) { (acc, kk) =>
      val vLit = typedLit(model.eigenvectors(kk - 1).toSeq)
      acc.withColumn(s"__pc$kk", when(wellFormed,
        aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (a, i) =>
          a + (element_at(embD, i + 1) - element_at(muLit, i + 1)) *
            element_at(vLit, i + 1))))
    }
    val md = (1 to k).map(kk =>
      (col(s"__pc$kk") * col(s"__pc$kk")) / lit(model.eigenvalues(kk - 1)))
      .reduce(_ + _)
    withPc
      .withColumn("md_micro",
        when(wellFormed, floor(md * lit(1e6) + lit(0.5)).cast("long")))
      .withColumn("md_ok", coalesce(col("md_micro") <= maxMdMicro, lit(false)))
      .drop((1 to k).map(kk => s"__pc$kk"): _*)
  }
}
