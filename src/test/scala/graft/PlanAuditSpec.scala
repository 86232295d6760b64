package graft

/** Plan-shape regression tests: the physical plans we actually want at
  * scale, asserted so a refactor can't silently regress them. Run at
  * sf0.001 — plan shape, not data volume, is what's under test.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.executedPlan.toString
  }

  /** Final adaptive plan after execution (for AQE-decided shapes). */
  private def finalPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.write.mode("overwrite").format("noop").save()
    df.queryExecution.executedPlan.toString
  }

  private def countOf(pattern: String, plan: String): Int =
    pattern.r.findAllIn(plan).size

  /** Keyed exchanges EXCLUDING explicit widening repartitions:
    * `Parallelism.ensure` hash-partitions on row content since round 14
    * (it printed as RoundRobinPartitioning before and was invisible to
    * these counts), and its exchanges carry the REPARTITION_BY_NUM
    * cause marker. Engine-inserted shuffles (ENSURE_REQUIREMENTS) — the
    * thing these audits guard — still count. */
  private def keyedShuffles(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Exchange hashpartitioning") &&
      !l.contains("REPARTITION_BY_NUM"))

  test("q03 dropna: native JSON scan on the scan task, no exchange") {
    val plan = planOf("q03_dropna_subset")
    // one stage: the byte scan is cheaper than any shuffle that would
    // spread it, and Jackson's per-row parser is gone
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(!plan.contains("get_json_object"), plan.take(1200))
    assert(plan.contains("json_field(props"), plan.take(1200))
  }

  test("q13 agg: shipdate filter is pushed to the parquet scan") {
    val plan = planOf("q13_agg_q1")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q13 agg: scan reads only the 6 needed lineitem columns of 11") {
    val plan = planOf("q13_agg_q1")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_discount", "l_shipdate").forall(read.contains), read)
    assert(!read.contains("l_partkey") && !read.contains("l_comment"), read)
  }

  test("q14 join: customer dim is broadcast, not shuffled") {
    val plan = planOf("q14_join_agg")
    assert(plan.contains("BroadcastHashJoin"))
    // the broadcast must be on the customer side (mktsegment filter scan)
    assert(plan.contains("BroadcastExchange"))
  }

  test("q15 snowflake: nation and region broadcast; no nested-loop join") {
    val plan = planOf("q15_join_multi")
    assert(countOf("BroadcastHashJoin", plan) >= 2, plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q11 keep-last: exactly one shuffle (window partitioning), no sort-merge join") {
    // keep-last partitions by key once, whichever form plans it (the
    // row_number() window or the arg-max hash aggregate below), and
    // never turns into a self-join against a per-key max
    val plan = planOf("q11_keeplast")
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(800))
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("q11 keep-last: partial + final HashAggregate around one shuffle, no sort or window") {
    val plan = planOf("q11_keeplast")
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(800))
    assert(countOf("HashAggregate", plan) == 2, plan.take(800))
    // "Sort" also catches SortAggregate; "Window" also WindowGroupLimit
    assert(!plan.contains("Sort") && !plan.contains("Window"), plan.take(800))
  }

  test("q10 top-k plans as TakeOrderedAndProject (no global sort shuffle)") {
    val plan = planOf("q10_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(800))
  }

  test("q29 minhash: no join anywhere; two hash shuffles (signatures, buckets)") {
    val plan = planOf("q29_dedup_minhash")
    assert(!plan.contains("Join"), plan.take(800))
    assert(keyedShuffles(plan) <= 3, plan.take(800))
    assert(plan.contains("partial_min"), "map-side partial aggregation missing")
  }

  test("q35 as-of: no shuffled join; only the broadcast key-domain semi-join") {
    val plan = planOf("q35_asof_join")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(800))
    // the only join is the broadcast semi pruning right keys
    assert(countOf("BroadcastHashJoin", plan) <= 1, plan.take(800))
    // exchanges: orders pre-aggregation, probe-key distinct (tiny), and
    // the as-of window partitioning — never one per matched row
    assert(countOf("Exchange hashpartitioning", plan) <= 3, plan.take(800))
  }

  test("q36 range join: bucketed equi-join, not BroadcastNestedLoop") {
    val plan = finalPlanOf("q36_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("q56: the optimizer RULE turns the nested-loop range join into an equi-join") {
    val plan = finalPlanOf("q56_range_join_rule")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the rewrite's bucket column is visible in the executed plan
    assert(plan.contains("__rjr"), plan.take(800))
  }

  test("q32 embedding near-dup: LSH bucket grouping, no join operator at all") {
    val plan = planOf("q32_embedding_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // group-by-bucket shape: candidates come from collect_list buckets,
    // not any self-join — the corpus subplan runs exactly once
    assert(!plan.contains("Join"), plan.take(800))
    assert(plan.contains("collect_list"), plan.take(800))
    // pair enumeration + cosine + threshold fused in one native generator:
    // only surviving pairs become rows (no O(bucket²) pair array)
    assert(plan.contains("cosine_pairs_within"), plan.take(800))
  }

  test("q41 percentile: codegen'd sort-based plan, no interpreted value buffer") {
    val plan = planOf("q41_percentile")
    assert(!plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(!plan.toLowerCase.contains("percentile"), plan.take(800))
  }

  test("q50 ivf: no eager job during plan construction (lazy stride anchors)") {
    import org.apache.spark.sql.functions.col
    // materialize the parquet footer-read first; it belongs to spark.read,
    // not to the operator under test
    val emb = Tables.embeddings(spark, sf001)
    val (_, QueryTrace.Trace(jobs, _)) = QueryTrace.of(spark)(
      graft.operators.Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 5), 10,
        stride = 30, nCells = 16, nProbe = 4)) // plan only, no action
    assert(jobs.isEmpty, s"plan construction launched ${jobs.size} job(s)")
  }

  test("q53 vocabulary: top-k via TakeOrderedAndProject, no global sort") {
    val plan = planOf("q53_vocabulary")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(800))
  }

  test("q52 stratified sample: pure narrow plan, zero exchanges") {
    val plan = planOf("q52_stratified_sample")
    assert(!plan.contains("Exchange"), plan.take(600))
  }

  test("q31 knn: query side broadcast so the corpus scans once without shuffle") {
    val plan = planOf("q31_knn_brute")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
    assert(plan.contains("BroadcastExchange"))
  }

  test("q31 knn: two-phase bounded top-k, not a per-query window funnel") {
    val plan = planOf("q31_knn_brute")
    // the round-2 scale-killer: row_number() over partitionBy(query_id)
    // shuffled every scored row into one task per query. Now the only
    // exchange on query_id sits ABOVE a partial top-k, so it carries at
    // most k rows per query per map partition.
    assert(!plan.contains("Window"), plan.take(800))
    assert(plan.contains("partial_top_k_by_score"), plan.take(800))
  }

  test("q50 ivf: narrow cell assignment — no window, no corpus shuffle before top-k") {
    val plan = planOf("q50_ivf_knn")
    assert(!plan.contains("Window"), plan.take(1200))
    // the only hash exchange is the final bounded top-k on the candidate
    // set (plus the single-row anchor-array agg's SinglePartition)
    assert(countOf("Exchange hashpartitioning", plan) <= 1, plan.take(1200))
    assert(countOf("top_k_by_score", plan) >= 2, plan.take(1200))
  }

  test("q58 decontamination: benchmark shingles broadcast; corpus shuffles only for the count") {
    val plan = planOf("q58_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(800))
    // exchanges: the benchmark-side distinct (tiny) + the final per-doc
    // count — the corpus side itself never shuffles before the join
    assert(keyedShuffles(plan) <= 2, plan.take(1000))
  }

  test("q59 pii redaction: pure narrow codegen'd map, zero exchanges") {
    val plan = planOf("q59_pii_redact")
    assert(keyedShuffles(plan) == 0, plan.take(800))
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("q61 postings: bounded top-k posting state + TakeOrderedAndProject, no global sort") {
    val plan = planOf("q61_postings")
    // posting lists accumulate through the bounded aggregate, never a
    // per-token collect_list of every doc id
    assert(plan.contains("top_k_by_score"), plan.take(800))
    assert(!plan.contains("collect_list"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(800))
  }

  test("q63 sessionization: lag + running sum + session agg share ONE exchange") {
    val plan = planOf("q63_sessions")
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(1000))
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("q68 salted sessionization: per-event exchange is on (user, salt), then only summaries shuffle") {
    val plan = planOf("q68_sessions_salted")
    assert(!plan.contains("Join"), plan.take(800))
    // phase 1 partitions the EVENT stream by (user, salt); phase 2's
    // exchanges (per-user merge window + final agg) carry mini-session
    // summaries only — bounded by session count, so the per-user
    // hash exchanges after phase 1 are fine at any skew
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.exists(e => e.contains("user_id") && e.contains("__salt")),
      exchanges.mkString("\n"))
  }

  test("q64 minhash estimate: the signature subplan is NOT duplicated (no self-join re-execution)") {
    val plan = planOf("q64_minhash_est")
    // signatures are one hash aggregate with 16 partial_min functions
    // (one per permutation). The composed formulation (candidates +
    // join signatures back per side) planned that subplan three times —
    // 48 partial_mins; the fused operator carries signatures through
    // the banding aggregation, so the subplan appears structurally once.
    assert(countOf("partial_min", plan) == 16, plan.take(1200))
    assert(!plan.contains("Join"), plan.take(800))
    // pair enumeration + agreement count fused in the native generator,
    // no O(bucket^2) array, no re-attach joins
    assert(plan.contains("sig_agree_pairs"), plan.take(800))
  }

  test("q66 bigram PMI: corpus token total crosses as a broadcast single row, never an eager count") {
    val plan = planOf("q66_bigram_pmi")
    // the 1-row total joins back via BroadcastNestedLoopJoin (a true
    // cross join of cardinality 1) or broadcast hash — never a shuffle
    // of the bigram table keyed on a constant, and never a collected
    // count() baked in as a literal (which would mean an eager job at
    // plan time)
    assert(plan.contains("BroadcastExchange"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("q62 histogram: one narrow bucket map, exchanges only for the 22-row aggregate") {
    val plan = planOf("q62_histogram")
    assert(!plan.contains("Join"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
    // bucket assignment is a codegen'd projection over the scan; the
    // only exchange carries (bucket, partial count) rows — one per
    // bucket per map partition, regardless of corpus size
    assert(countOf("Exchange hashpartitioning", plan) <= 1, plan.take(1000))
    assert(plan.contains("partial_count") || plan.contains("partial"), plan.take(1000))
  }

  test("q69 segment dedup: frequent-segment set crosses as a broadcast flag join, never a shuffle join") {
    val plan = planOf("q69_segment_dedup")
    // round 6: the anti-join became a broadcast LEFT join whose match
    // flag feeds the re-assembly aggregate (totals now come from the
    // same aggregate — no second corpus scan), so the shape to pin is
    // broadcast LeftOuter + exactly ONE doc-keyed aggregate pass
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    // segmentation is narrow: no exchange between the scan and the
    // first aggregate's partial side
    assert(plan.contains("partial_count"), plan.take(1200))
    // the old totals branch is gone: only ONE FileScan of documents
    // should remain... per structural instance of segs (explode feeds
    // the frequency agg and the probe side) — but no THIRD scan for a
    // size(chunks) projection
    assert(plan.sliding("FileScan".length).count(_ == "FileScan") <= 2,
      plan.take(1200))
  }

  test("q70 packing: the per-doc window is SHARD-partitioned; only shard summaries see a global window") {
    val plan = planOf("q70_pack_offsets")
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    // the corpus-sized window must carry the shard key in its partition
    // spec — an unpartitioned window over docs would be the one-task
    // scale-killer this operator exists to avoid
    assert(windows.exists(_.contains("__shard")), windows.mkString("\n"))
    assert(plan.contains("BroadcastExchange"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("q71 quantization is a pure narrow map: zero exchanges, zero joins") {
    val plan = planOf("q71_quantize_int8")
    assert(!plan.contains("Join"), plan.take(800))
    assert(keyedShuffles(plan) == 0, plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("q72 greedy packing: one shard exchange feeding the mapPartitions fold, nothing else") {
    val plan = planOf("q72_pack_greedy")
    assert(plan.contains("MapPartitions"), plan.take(800))
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(1200))
    assert(!plan.contains("Window") && !plan.contains("Join"), plan.take(800))
  }

  test("q73 mixture sampling: thresholds broadcast to the corpus scan, no corpus shuffle") {
    val plan = planOf("q73_mixture_sample")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    // the only hash exchanges aggregate the tiny stratum-count side
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("q74 bigram LM: equi-joins only, per-doc state bounded (sorted-list fold, no corpus window)") {
    val plan = planOf("q74_bigram_lm")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("q75 RRF: both legs bounded by top_k_by_score — no ranking window anywhere") {
    val plan = planOf("q75_rrf_fusion")
    // rank comes from the bounded two-phase aggregate in BOTH legs; an
    // un-partitioned row_number window over the corpus would be the
    // single-task funnel this operator exists to avoid
    assert(!plan.contains("Window"), plan.take(1000))
    assert(countOf("top_k_by_score", plan) >= 2, plan.take(1000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
    // the lexical overlap must compute ABOVE the widening exchange (the
    // q03 trap): nothing token-shaped below the REPARTITION_BY_NUM
    // widening
    val lines = plan.linesIterator.toSeq
    val exIdx = lines.indexWhere(_.contains("REPARTITION_BY_NUM"))
    assert(exIdx >= 0, plan.take(800))
    assert(!lines.drop(exIdx + 1).exists(_.contains("array_intersect")),
      lines.drop(exIdx + 1).filter(_.contains("array_intersect")).mkString("\n"))
  }

  test("whole-stage codegen covers the scan->agg path of q13") {
    // AQE wraps the unexecuted plan, hiding codegen subtrees from
    // explain — turn it off just for this inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = SparkEntry.queries("q13_agg_q1")(spark, sf001).queryExecution
      val s = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      // both the partial-agg (scan side) and final-agg stages are codegen'd
      val found = """Found (\d+) WholeStageCodegen subtrees""".r
        .findFirstMatchIn(s).map(_.group(1).toInt)
      assert(found.exists(_ >= 2), s.take(300))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("q76 rolling window: one exchange, RANGE frame, no join") {
    val plan = planOf("q76_rolling_spend")
    assert(!plan.contains("Join"), "rolling features must not plan a range self-join")
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(1200))
    assert(plan.contains("RangeFrame"), plan.take(1200))
  }

  test("q77 merge: union + one keep-last per key, no join operator") {
    val plan = planOf("q77_merge_upsert")
    assert(!plan.contains("Join"), plan.take(1200))
    // merge exchange + the round-13 source-side (key, version)
    // uniqueness guard aggregate's exchange
    assert(countOf("Exchange hashpartitioning", plan) == 2, plan.take(1200))
    // the merge is keepLast over the union; orders carries strings, so
    // it is the window form, whose map-side WindowGroupLimit below the
    // exchange bounds shuffle volume to two rows per key per partition
    val lines = plan.linesIterator.toSeq
    val merge = lines.indexWhere(_.contains("Window "))
    assert(merge >= 0, plan.take(1200))
    assert(lines.drop(merge).dropWhile(!_.contains("Exchange hashpartitioning"))
      .exists(_.contains("WindowGroupLimit")), plan.take(1200))
  }

  test("q79 bloom: the sketch probe filters the fact scan BELOW the join") {
    val plan = planOf("q79_bloom_join")
    val lines = plan.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("Join"))
    assert(joinIdx >= 0, plan.take(800))
    // plan prints top-down: the probe must sit under the join, on the
    // lineitem branch, so pruned rows never reach the join input
    assert(lines.drop(joinIdx).exists(_.contains("bloom_key_might_contain")),
      lines.mkString("\n").take(1500))
  }

  test("q82 reservoir: bounded two-phase top-k, no ranking window") {
    val plan = planOf("q82_reservoir")
    assert(!plan.contains("Window"), "per-stratum sample must not rank via a window")
    assert(plan.contains("partial_top_k_by_score"), plan.take(1200))
  }

  test("q85 snapshot diff: union + one aggregate, no join operator") {
    val plan = planOf("q85_snapshot_diff")
    assert(!plan.contains("Join"), plan.take(1200))
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(1200))
  }

  test("q87 bm25: no corpus-wide window; stats and df broadcast") {
    val plan = planOf("q87_bm25")
    assert(!plan.contains("Window"), plan.take(1200))
    assert(plan.contains("partial_top_k_by_score"), plan.take(1200))
    assert(countOf("BroadcastExchange", plan) >= 2, plan.take(1200))
  }

  test("q88 unpivot: a single Expand, no shuffle at all") {
    val plan = planOf("q88_unpivot")
    assert(plan.contains("Expand"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(1200))
  }

  test("q91/q93 distinct sketches: two narrow hash-aggs, no Expand, no countDistinct rewrite") {
    for (q <- Seq("q91_lc_distinct", "q93_hll_distinct")) {
      val plan = planOf(q)
      // register occupancy via two-level groupBy, NOT count(distinct):
      // the distinct-agg Expand rewrite would double the shuffled rows
      assert(!plan.contains("Expand"), s"$q\n" + plan.take(1200))
      assert(countOf("Exchange hashpartitioning", plan) == 2,
        s"$q\n" + plan.take(1200))
      assert(!plan.contains("Join"), s"$q\n" + plan.take(1200))
    }
  }

  test("q92 count-min: sketch broadcast back onto tokens; no sort-merge join") {
    val plan = planOf("q92_cms_bigrams")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("q94 interval merge: one group-key exchange shared by both windows; dims broadcast") {
    val plan = planOf("q94_interval_merge")
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("GreaterThanOrEqual(l_quantity,50.0)"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q95 resample: corpus-sized work is one map-side-combined agg; no cartesian") {
    val plan = planOf("q95_resample_locf")
    // the (key, bucket) last-value agg must partial-combine before its
    // shuffle — that's what bounds a billion-event key to one row per
    // bucket on the wire
    assert(plan.contains("partial_max_by"), plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q96 MAD: per-group stats broadcast; the corpus exchange is reused across passes") {
    // Under AQE exchange reuse is a runtime decision the plan string
    // doesn't surface; pin it on the AQE-off plan (the Bench profile),
    // where the static ReuseExchange rule must fire.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf("q96_mad_outliers")
      assert(countOf("BroadcastHashJoin", plan) >= 2, plan.take(1500))
      assert(plan.contains("ReusedExchange"), plan.take(1500))
      assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q47 pivot: one hash-agg pair over one exchange, pivot as projection") {
    // pinned because q47 is the one query whose driver-artifact number
    // has swung >3× between rounds with no code change: with the shape
    // asserted, any future swing is provably host noise, not a plan
    // regression
    val plan = planOf("q47_pivot")
    assert(countOf("Exchange hashpartitioning", plan) == 1, plan.take(1500))
    assert(countOf("HashAggregate", plan) == 2, plan.take(1500))
    assert(!plan.contains("Expand"), plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("q100 vocab coverage: window ranks the level histogram, never the vocabulary") {
    val plan = planOf("q100_vocab_coverage")
    // no per-token ranking anywhere — the crossing token is located by
    // integer division inside its count level
    assert(!plan.contains("row_number"), plan.take(1500))
    // the one window's input is the (count → token-count) histogram:
    // its child aggregate groups by __c, not by tok
    val lines = plan.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0, plan.take(1200))
    val below = lines.drop(wIdx + 1)
    assert(below.exists(_.contains("HashAggregate(keys=[__c")), plan.take(2000))
  }

  test("q78 semdedup: cell assignment computed once, not re-ranked per consumer") {
    val plan = planOf("q78_semdedup")
    // the checkpointed assignment feeds both consumers as a plain RDD
    // scan; if cosine_sim (the anchor-ranking expression) reappears in
    // the final plan, the corpus is being anchor-ranked a second time
    assert(plan.contains("Scan ExistingRDD"), plan.take(1200))
    assert(!plan.contains("cosine_sim("), plan.take(1500))
    // the within-cell pair generator is still the scoring engine
    assert(plan.contains("cosine_pairs_within"), plan.take(1500))
  }

  test("pageRank shuffle path: no |V| broadcast; one exchange per iteration") {
    // the 100×-scale plan: with the size gate forced off, every
    // iteration must be co-partitioned joins (the checkpointed edge
    // list's HashPartitioning(src) + the aggregate's HashPartitioning
    // (node) meet without an exchange) — the only shuffle per iteration
    // is the |E|→|V| destination aggregate, and NOTHING is broadcast
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf001).select("l_orderkey", "l_partkey")
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    val iters = 3
    val df = graft.operators.Graph.pageRank(e, "src", "dst", iters,
      broadcastMaxNodes = 0L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan.take(1500))
    assert(countOf("Exchange hashpartitioning", plan) == iters, plan.take(1500))
  }

  test("events loader still allows pushdown on non-converted columns") {
    val df = Tables.events(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("event_id") < 300)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_id), LessThan(event_id,300)]"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q115 EWMA / q117 SCD2: every window is KEY-partitioned, never corpus-global") {
    for (q <- Seq("q115_ewma", "q117_scd2")) {
      val plan = planOf(q)
      val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
      assert(windows.nonEmpty, s"$q: ${plan.take(600)}")
      // an unpartitioned window pulls the corpus through ONE task — the
      // documented scale-killer; every window spec must carry a key
      assert(windows.forall(w => !w.contains("Window [") ||
        w.contains("partitionBy") || !w.contains(", []")), windows.mkString("\n"))
      assert(plan.contains("hashpartitioning"), s"$q: no keyed exchange")
    }
  }

  test("q119 PQ codes: one-row broadcast codebook, per-row argmin, zero shuffles") {
    val plan = planOf("q119_pq_codes")
    // the codebook collapses to ONE broadcast array row; assignment is
    // a narrow projection - no CartesianProduct, no SortAggregate over
    // a per-codeword fan-out, no exchange on the corpus side
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("SortAggregate"), plan.take(1200))
    assert(keyedShuffles(plan) == 0, plan.take(1200))
  }

  test("q121 percent-rank: the global window runs over the DISTINCT-VALUE table, not the corpus") {
    val plan = planOf("q121_quantile_norm")
    val lines = plan.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, plan.take(800))
    // below the window (its input) there must be an aggregate (the
    // per-value counts) BEFORE any file scan: the window input is the
    // value table, not raw documents
    val below = lines.drop(winIdx + 1)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val scanIdx = below.indexWhere(_.contains("FileScan"))
    assert(aggIdx >= 0 && (scanIdx < 0 || aggIdx < scanIdx),
      below.take(8).mkString("\n"))
    // the rank table and the total attach back via broadcast, so the
    // corpus is never re-shuffled for the join
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("q127 winnowing: pure map + generate — no key shuffle, zero joins") {
    // the whole fingerprint pipeline is per-row (hashes, window minima,
    // per-doc distinct): the ONLY allowed exchange is Parallelism
    // .ensure's widening of the single-row-group scan
    val plan = planOf("q127_winnow_fingerprints")
    assert(keyedShuffles(plan) == 0 &&
      !plan.contains("Exchange rangepartitioning"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q128 DSIR: one corpus shuffle into the checkpoint, packed-model cross, doc agg exchange-free") {
    // the (doc,bucket) table is a doc-pinned checkpoint consumed by both
    // the weight-table build and the scoring pass (Scan ExistingRDD
    // twice); the whole weight table packs into ONE broadcast row that
    // crosses in (1-row BNLJ, the broadcast-stat pattern); and the
    // scoring groupBy(doc) rides the claimed layout — the final plan
    // holds NO doc-keyed exchange at all
    val plan = finalPlanOf("q128_dsir_weights")
    assert(countOf("Scan ExistingRDD", plan) >= 2, plan.take(1500))
    assert(countOf("hashpartitioning\\(doc#", plan) == 0, plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // nested-loop joins only as statistics-sized 1-row crosses (raw×tgt
    // model arrays; packed-model attach), never a corpus-sized one
    assert(countOf("BroadcastNestedLoopJoin", plan) <= 3, plan.take(1500))
  }

  test("q129 source overlap: the corpus-sized signature derivation runs ONCE") {
    // the pair self-join consumes the checkpointed |groups|-sized
    // signature table on both sides — the parquet scan + shingle
    // explode behind it must NOT appear in the final plan at all
    val plan = planOf("q129_source_overlap")
    assert(!plan.contains("FileScan"), plan.take(1500))
    assert(countOf("Scan ExistingRDD", plan) >= 2, plan.take(1500))
  }

  test("q133 span corruption: pure map — no key shuffle, zero joins, no window") {
    // the whole denoising-pair builder is per-row (block table bound
    // once, O(1) lookups): the ONLY allowed exchange is Parallelism
    // .ensure's widening of the single-row-group scan
    val plan = planOf("q133_span_corruption")
    assert(keyedShuffles(plan) == 0 &&
      !plan.contains("Exchange rangepartitioning"), plan.take(1200))
    assert(!plan.contains("Join") && !plan.contains("Window"), plan.take(1200))
  }

  test("q134 bitext mining: checkpointed candidates, no all-pairs join") {
    // the bucket self-join and cosine scoring run ONCE into the eager
    // candidate checkpoint; every downstream consumer (both k-sum
    // directions, the margin join, the top-1) reads the RDD — the
    // final plan may not touch the parquet scan, and nothing plans as
    // a cartesian/nested-loop (the mining join is bucket-equi)
    val plan = planOf("q134_bitext_margin")
    assert(!plan.contains("FileScan"), plan.take(1500))
    assert(countOf("Scan ExistingRDD", plan) >= 2, plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q131 NB classifier: one corpus exchange, weights broadcast back") {
    // the (doc, label, bucket) token aggregate feeds THREE consumers
    // (class counts, doc counts, the scoring join) — Spark must reuse
    // that one exchange, and the B-row weight table must broadcast.
    // Exchange reuse is a runtime decision under AQE the plan string
    // doesn't surface; pin it on the AQE-off plan (the q96 pattern).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf("q131_nb_classifier")
      // the (doc,label,bucket) table is a doc-pinned checkpoint (the
      // runtime lesson: plan-level ReusedExchange does NOT survive
      // broadcast-subquery job boundaries, so the corpus explode ran
      // once per consumer un-checkpointed) — consumed by the class
      // counts, the doc counts, and the scoring pass
      assert(countOf("Scan ExistingRDD", plan) >= 2, plan.take(1500))
      // both doc-keyed aggregates (doc counts, scoring) ride the
      // claimed layout: NO doc-keyed exchange anywhere
      assert(countOf("hashpartitioning\\(doc#", plan) == 0, plan.take(1500))
      assert(!plan.contains("CartesianProduct"), plan.take(1500))
      // nested-loop joins only as statistics-sized 1-row crosses
      // (classB-array×docCounts; packed-model attach), never
      // corpus-sized
      assert(countOf("BroadcastNestedLoopJoin", plan) <= 3, plan.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q132 ppl buckets: checkpointed LM packs into one cross, one corpus shuffle") {
    // the reference pair table is a checkpoint consumed by both packed
    // maps (pair counts + b1 margins — Scan ExistingRDD twice); the
    // packed model crosses in as ONE broadcast row; and the only
    // doc-keyed exchange is the deliberate up-front repartition the
    // score aggregate then rides exchange-free
    val plan = finalPlanOf("q132_ppl_buckets")
    assert(countOf("Scan ExistingRDD", plan) >= 2, plan.take(1500))
    assert(countOf("hashpartitioning\\(doc#", plan) == 1, plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(countOf("BroadcastNestedLoopJoin", plan) <= 2, plan.take(1500))
    // the only sort feeding a window is the doc-level tercile cut —
    // never a corpus-sized global sort before the score aggregate
    assert(plan.contains("Window"), plan.take(1500))
  }

  test("q114 label propagation: co-partitioned vote rounds, no cartesian anywhere") {
    val plan = planOf("q114_label_prop")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // the pinned edge checkpoint: each round's label attach reads the
    // materialized scan, not a re-derived candidate subplan
    assert(plan.contains("Scan ExistingRDD"), plan.take(1200))
  }
}
