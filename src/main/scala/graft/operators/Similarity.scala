/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two tiers:
  *
  *  - [[bruteForceKnn]] — exact cosine top-k of each query against the
  *    corpus. The query set is broadcast (it is small by construction),
  *    so the corpus is scanned once, partition-parallel, with NO shuffle
  *    until the final per-query top-k — a genuine two-phase bounded
  *    aggregate ([[graft.functions.TopKByScore]]): per-partition k-slot
  *    buffers map-side, k-row merges after the shuffle. This is the
  *    correctness baseline and is the right plan even at 100 TB when
  *    |queries| is modest.
  *  - [[lshKnn]] — random-hyperplane LSH: corpus and queries are bucketed
  *    by sign-bit signatures; candidates come from an equi-join on
  *    (table, bucket), then exact cosine re-ranks within buckets. Sublinear
  *    candidate sets at scale; recall tuned by (nTables, nBits).
  *
  * Cosine math is done in double precision via codegen'd higher-order
  * functions (`zip_with`/`aggregate`), deterministic fold order — this is
  * what lets the DuckDB oracle reproduce the exact values.
  */
package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShims.materialize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.Native

object Similarity {

  /** Per-query bounded top-k over a scored candidate set
    * (`query_id`, `neighbor_id`, `cos_sim`) — the two-phase replacement
    * for `row_number().over(Window.partitionBy("query_id"))`: a window
    * funnels EVERY scored row into one task per query (that task sorts
    * the whole corpus at 100 TB); [[graft.functions.TopKByScore]] keeps a
    * k-slot buffer per query per partition map-side, so the shuffle
    * carries ≤ k rows per query per partition and no task ever sorts
    * more than it merges. Ordering (cos_sim desc, neighbor_id asc) and
    * rank = position+1 reproduce the window formulation exactly — the
    * DuckDB oracles keep their row_number() form. Thin rename over the
    * generic [[Relational.topKPerGroup]], so there is exactly ONE
    * implementation of the unwrap/rank contract. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    Relational.topKPerGroup(scored, Seq("query_id"),
      col("cos_sim"), col("neighbor_id"), k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("score").as("cos_sim"), col("rank"))

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast(DoubleType) * v.cast(DoubleType)))

  /** Cosine similarity via the native fused-loop expression
    * (graft.functions.CosineSimilarity) — one codegen'd pass over both
    * arrays. Bit-identical to [[cosineComposable]]: same left-to-right
    * double accumulation order. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Native.cosineSim(a, b)

  /** The pure-builtin formulation (three interpreted HOF walks); kept as
    * the portability fallback and the spec-level cross-check of the
    * native expression. The zero-norm guard mirrors the native
    * expression's NULL contract — and is REQUIRED under Spark 4 ANSI
    * mode, where a plain `/` throws DIVIDE_BY_ZERO even for doubles. */
  def cosineComposable(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(null).cast(DoubleType))
      .otherwise(dot(a, b) / denom)
  }

  /** Exact top-k neighbors per query. `queries` must be small (it is
    * broadcast). Ranking key is (rounded cosine desc, corpus id asc) so
    * results are total-ordered and reproducible across engines. */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = Parallelism.ensure(corpus).as("c")
      .join(broadcast(queries.as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine(col("q.embedding"), col("c.embedding")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Predicate-filtered kNN — the metadata-constrained search behind
    * hard-negative mining (top-k similar vectors from a DIFFERENT
    * source/label) and any filtered-retrieval need. `keep` is a join
    * predicate over the aliased sides (`q.*` = query row, `c.*` =
    * corpus row) and runs IN the join condition: cheap attribute
    * comparisons reject a candidate before the fused cosine in the
    * projection ever runs (the q89 conjunct-order lesson), and the
    * scored relation entering the bounded top-k is already
    * filter-shrunk. Same zero-norm contract as [[bruteForceKnn]]:
    * null cosines are out of the ranking. */
  def filteredKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      keep: Column): DataFrame = {
    val scored = Parallelism.ensure(corpus).as("c")
      .join(broadcast(queries.as("q")),
        col("q.vec_id") =!= col("c.vec_id") && keep)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine(col("q.embedding"), col("c.embedding")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Denoised hard negatives (RocketQA, Qu et al. 2021 §4.1 — public):
    * [[filteredKnn]]'s hard negatives minus the FALSE negatives. A
    * plain "most similar with a different label" mine surfaces
    * unlabeled positives — candidates nearly as similar as the true
    * positive — and training on them as negatives is what RocketQA's
    * denoising removes. Here: per query, `pos_micro` is the best
    * same-label similarity (the labeled positive's score), and only
    * different-label candidates STRICTLY BELOW `pos_micro -
    * marginMicro` survive into the bounded top-k — hard, but provably
    * not positive-grade. Similarities are exact integer micro-cosines
    * (`floor(cos·1e6 + 0.5)`, the q134 determinism contract); ties
    * break by neighbor id.
    *
    * Queries with NO same-label partner have no positive to calibrate
    * against and are dropped (emitting uncalibrated negatives would be
    * exactly the noise this operator exists to remove).
    *
    * Shape: one scored query×corpus pass (queries are the
    * statistics-sized side, broadcast), the |queries|-row positive
    * table re-aggregated from it and broadcast back, then
    * [[Relational.topKPerGroup]]'s bounded per-group buffer — no
    * window, no corpus sort. */
  def denoisedHardNegatives(emb: DataFrame, isQuery: Column, k: Int,
      marginMicro: Long): DataFrame = {
    require(k >= 1, "need at least one negative")
    require(marginMicro >= 0L, "margin must be non-negative")
    // feeds the positive table AND the mine
    val scored = materialize(Parallelism.ensure(
        emb.select(col("vec_id"), col("embedding"), col("label"))).as("c")
      .join(broadcast(emb.filter(isQuery)
        .select(col("vec_id"), col("embedding"), col("label")).as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"),
        (col("q.label") === col("c.label")).as("__same"),
        col("c.vec_id").as("neighbor_id"),
        floor(cosine(col("q.embedding"), col("c.embedding")) * 1e6 + 0.5)
          .cast(LongType).as("cos_micro")))._1
    val pos = scored.filter(col("__same"))
      .groupBy("query_id").agg(max(col("cos_micro")).as("pos_micro"))
    val negs = scored.filter(!col("__same"))
      .join(broadcast(pos), Seq("query_id"))
      .filter(col("cos_micro") < col("pos_micro") - marginMicro)
    Relational.topKPerGroup(negs, Seq("query_id", "pos_micro"),
        col("cos_micro"), col("neighbor_id"), k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("score").cast(LongType).as("cos_micro"), col("pos_micro"),
        col("rank").cast(LongType).as("neg_rank"))
  }

  /** Embedding-truncation retrieval eval (the Matryoshka question,
    * Kusupati et al. 2022, public: how much of the full-dimension
    * neighborhood survives when vectors truncate to a prefix —
    * the measurement behind "can we store/search at d≪D"). For each
    * query: the exact top-`k` under the FULL cosine, the exact top-`k`
    * under the `truncDim`-prefix cosine, and the overlap —
    * `recall_micro = |overlap|·1e6 div k`. Exact integer
    * micro-cosines with id tie-breaks on BOTH rankings, so the
    * boundary of each top-k is deterministic cross-engine.
    *
    * Shape: ONE scored query×corpus pass computes both cosines
    * (queries are the statistics-sized broadcast side), two bounded
    * [[Relational.topKPerGroup]] buffers, and an overlap join of two
    * |queries|·k tables. */
  def truncationRecall(emb: DataFrame, isQuery: Column, k: Int,
      truncDim: Int): DataFrame = {
    require(k >= 1 && truncDim >= 1, "degenerate eval params")
    // both rankings read it
    val scored = materialize(Parallelism.ensure(
        emb.select(col("vec_id"), col("embedding"))).as("c")
      .join(broadcast(emb.filter(isQuery)
        .select(col("vec_id"), col("embedding")).as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        floor(cosine(col("q.embedding"), col("c.embedding")) * 1e6 + 0.5)
          .cast(LongType).as("cos_full"),
        floor(cosine(slice(col("q.embedding"), 1, truncDim),
          slice(col("c.embedding"), 1, truncDim)) * 1e6 + 0.5)
          .cast(LongType).as("cos_trunc")))._1
    def top(scoreCol: String) =
      Relational.topKPerGroup(scored.filter(col(scoreCol).isNotNull),
        Seq("query_id"), col(scoreCol), col("neighbor_id"), k)
        .select(col("query_id"), col("id").as("neighbor_id"))
    top("cos_full").as("f")
      .join(top("cos_trunc").as("t"),
        col("f.query_id") === col("t.query_id") &&
          col("f.neighbor_id") === col("t.neighbor_id"), "left")
      .groupBy(col("f.query_id").as("query_id"))
      .agg(sum(when(col("t.neighbor_id").isNotNull, 1L).otherwise(0L))
        .as("n_overlap"))
      .withColumn("recall_micro", expr(s"n_overlap * 1000000 div $k"))
  }

  /** Discount weights for [[ndcgEval]]: `floor(1e6 / log2(rank+1) + 0.5)`
    * for ranks 1..k, computed ONCE on the JVM and injected as plan-time
    * literals (the wall-clock-injection pattern) — the oracle SQL embeds
    * the SAME longs, so no cross-engine transcendental ever executes
    * inside either plan. */
  def dcgWeights(k: Int): Seq[Long] =
    (1 to k).map(r =>
      math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Graded retrieval eval — nDCG@k + MRR (Järvelin & Kekäläinen 2002;
    * the standard ranking metrics next to [[truncationRecall]]'s set
    * overlap): the system ranking is the truncated-prefix cosine top-k
    * (the Matryoshka deployment candidate), relevance grades come from
    * FULL-dimension cosine bands (`cos_full ≥ t3 → 3, ≥ t2 → 2,
    * ≥ t1 → 1, else 0`), and the ideal ranking takes the k best grades
    * over ALL candidates — so nDCG is a true ≤1 ratio, not a
    * retrieved-set-only rescaling.
    *
    * Exact integer contract: gains are `2^g − 1`, discounts are the
    * injected [[dcgWeights]] longs, `ndcg_micro = dcg·1e6 div idcg`
    * (both sides positive — `div` == SQL `//`), and
    * `rr_micro = 1e6 div rank` of the first grade-≥2 hit in the system
    * list (0 when none — the miss case must stay representable).
    * Ideal-ranking ties inside a grade band break by neighbor id via a
    * composite score `g·2^32 − neighbor_id`, exact in the top-k
    * buffer's double score (< 2^53) and mirrored verbatim in SQL.
    *
    * Shape: the ONE checkpointed query×corpus scored pass both rankings
    * read (queries broadcast — eval query sets are bounded by
    * construction), two bounded [[Relational.topKPerGroup]] buffers
    * (never a window over the corpus), and |Q|·k-row joins after. At
    * 100 TB the corpus moves once; everything downstream is
    * eval-set-sized. */
  def ndcgEval(emb: DataFrame, isQuery: Column, k: Int, truncDim: Int,
      t1: Long, t2: Long, t3: Long): DataFrame = {
    require(k >= 1 && truncDim >= 1 && t1 <= t2 && t2 <= t3,
      "degenerate eval params")
    val ws = dcgWeights(k)
    val wAt = (rank: Column) => // rank is 1..k by construction
      element_at(array(ws.map(lit): _*), rank.cast("int"))
    val grade = when(col("cos_full") >= t3, 3L)
      .when(col("cos_full") >= t2, 2L)
      .when(col("cos_full") >= t1, 1L).otherwise(0L)
    // system ranking, ideal ranking, n_rel
    val scored = materialize(Parallelism.ensure(
        emb.select(col("vec_id"), col("embedding"))).as("c")
      .join(broadcast(emb.filter(isQuery)
        .select(col("vec_id"), col("embedding")).as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        // nanvl → NULL: a zero-norm side has no cosine (and ANSI would
        // throw casting the NaN); NULL rows drop from both rankings
        floor(nanvl(cosine(col("q.embedding"), col("c.embedding")),
          lit(null).cast(DoubleType)) * 1e6 + 0.5)
          .cast(LongType).as("cos_full"),
        floor(nanvl(cosine(slice(col("q.embedding"), 1, truncDim),
          slice(col("c.embedding"), 1, truncDim)),
          lit(null).cast(DoubleType)) * 1e6 + 0.5)
          .cast(LongType).as("cos_trunc"))
      .withColumn("g", grade)
      .withColumn("gain", // 2^g − 1, unrolled: g is 0..3 by construction
        when(col("g") === 3L, 7L).when(col("g") === 2L, 3L)
          .when(col("g") === 1L, 1L).otherwise(0L)))._1
    val system = Relational.topKPerGroup(
        scored.filter(col("cos_trunc").isNotNull),
        Seq("query_id"), col("cos_trunc"), col("neighbor_id"), k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
      .join(scored.select(col("query_id"), col("neighbor_id"),
        col("g"), col("gain")), Seq("query_id", "neighbor_id"))
    val dcg = system.groupBy("query_id")
      .agg(sum(col("gain") * wAt(col("rank"))).as("dcg"),
        min(when(col("g") >= 2L, col("rank"))).as("__first_rel"))
    val ideal = Relational.topKPerGroup(scored.filter(col("g") > 0L),
        Seq("query_id"),
        col("g") * lit(4294967296L) - col("neighbor_id"),
        col("neighbor_id"), k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
      .join(scored.select(col("query_id"), col("neighbor_id"),
        col("gain")), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(sum(col("gain") * wAt(col("rank")))
        .as("idcg"))
    val nRel = scored.groupBy("query_id")
      .agg(sum(when(col("g") > 0L, 1L).otherwise(0L)).as("n_rel"))
    nRel.join(ideal, Seq("query_id"), "left")
      .join(dcg, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("dcg"), lit(0L)).as("dcg"),
        coalesce(col("idcg"), lit(0L)).as("idcg"),
        when(coalesce(col("idcg"), lit(0L)) > 0L,
          expr("coalesce(dcg, 0L) * 1000000 div idcg"))
          .otherwise(0L).as("ndcg_micro"),
        when(col("__first_rel").isNotNull,
          expr("1000000 div __first_rel")).otherwise(0L)
          .cast(LongType).as("rr_micro"))
  }

  /** Sign-bit signature under `nBits` pseudo-random hyperplanes, via the
    * native fused-loop expression (graft.functions.LshBucketSig). The
    * hyperplanes are derived deterministically from md5 of
    * (table, bit, dim) so the whole structure is reproducible without a
    * random-state side channel. */
  def lshBucket(emb: Column, table: Int, nBits: Int, dim: Int): Column =
    graft.functions.Native.lshBucket(emb, table, nBits, dim)

  /** The pure-builtin formulation (one column node per weight — fine for
    * small nBits·dim, but the expression tree grows as nBits×dim and its
    * generated code explodes at 8×64×4 tables); kept as the portability
    * fallback and the spec-level cross-check of the native expression. */
  def lshBucketComposable(emb: Column, table: Int, nBits: Int, dim: Int): Column = {
    (0 until nBits).map { bit =>
      val proj = (0 until dim).map { d =>
        val w = (graft.functions.Hashing
          .hexLong(lit(s"$table:$bit:$d")) % 1000L).cast(DoubleType) / 500.0 - 1.0
        emb.getItem(d).cast(DoubleType) * w
      }.reduce(_ + _)
      when(proj > 0, lit(1L) * (1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into cells;
    * each query probes only its `nProbe` nearest cells and re-ranks
    * exactly within them — the classic inverted-file scale path
    * (corpus scan cost per query drops from O(N) to O(N·nProbe/nCells)).
    *
    * The quantizer here is deterministic anchor sampling (every
    * `stride`-th vector by id), not trained k-means — reproducible
    * without a model artifact; production would swap in trained
    * centroids, the plan shape is identical. `stride` is a caller
    * parameter precisely so plan construction stays lazy: deriving it
    * from `corpus.count()` would run an eager full-scan job before the
    * query even plans (at 100 TB, a whole job just to pick a stride).
    *
    * Cell assignment is fully NARROW: the `nCells` anchors collapse to a
    * single array row (one tiny single-partition agg), cross-join
    * broadcast to every task, and each vector ranks them in-row
    * (`transform` + `array_sort` over nCells elements — sim desc,
    * cell_id asc, encoded as an ascending sort on (-sim, cell_id)). The
    * corpus is never shuffled and never row-expanded: no per-anchor
    * row explosion, no window exchange — the first corpus shuffle in the
    * whole query is the final bounded top-k aggregate. At 100 TB the
    * assignment is computed once and persisted alongside the embeddings
    * (a partition column), making each query a partition-pruned scan. */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      stride: Long, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val anchors = corpus
      .filter(pmod(col("vec_id"), lit(stride)) === 0 && col("vec_id") < stride * nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("anchor"))
    ivfKnnWith(anchors, corpus, queries, k, nProbe)
  }

  /** The quantizer collapsed to ONE array row (sorted by cell_id for
    * determinism) — broadcast to every task so cell ranking is a narrow
    * in-row computation. */
  private def anchorArray(anchors: DataFrame): DataFrame =
    anchors.agg(array_sort(collect_list(struct(col("cell_id"), col("anchor"))))
      .as("__anchors"))

  /** Narrow cell assignment: each vector ranks the broadcast anchors
    * in-row (ascending (-sim, cell_id) == sim desc, cell_id asc) and
    * keeps its `top` cells. No shuffle, no per-anchor row expansion. */
  private def assignCells(anchorArr: DataFrame, df: DataFrame,
      idAs: String, top: Int): DataFrame = {
    val emb = col(s"emb_$idAs")
    // NULL cosine (a zero-norm anchor or vector) must rank LAST, not
    // first: Spark's ascending struct sort puts NULL fields first, so a
    // single degenerate anchor would otherwise become every vector's
    // rank-1 cell and collapse the index. Coalescing the negated sim to
    // Double.MaxValue mirrors the oracle's `ORDER BY cos DESC` NULLS
    // LAST ranking, and an all-NULL vector falls back to the cell_id
    // tie-break in both engines.
    val ranked = array_sort(transform(col("__anchors"), a =>
      struct(coalesce(-cosine(emb, a.getField("anchor")), lit(Double.MaxValue))
        .as("neg"),
        a.getField("cell_id").as("cell_id"))))
    df.select(col("vec_id").as(idAs), col("embedding").as(s"emb_$idAs"))
      .crossJoin(broadcast(anchorArr))
      .select(col(idAs), emb, explode(slice(ranked, 1, top)).as("__sc"))
      .select(col(idAs), emb, col("__sc.cell_id").as("cell_id"))
  }

  /** IVF ANN against an explicit quantizer (`anchors`: cell_id, anchor
    * embedding) — the seam that lets [[ivfKnn]]'s deterministic stride
    * quantizer and [[trainIvfAnchors]]' k-means centroids share one
    * plan. */
  def ivfKnnWith(anchors: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val anchorArr = anchorArray(anchors)
    val cells = assignCells(anchorArr, corpus, "neighbor_id", 1)
    val probes = assignCells(anchorArr, queries, "query_id", nProbe)
    val scored = cells.join(broadcast(probes), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("emb_query_id"), col("emb_neighbor_id")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Recall@k audit of the IVF index against exact brute force — the
    * calibration a production ANN deployment ships next to its index
    * parameters (the q206 discipline applied to the vector tier;
    * VERDICT r12 item 8): approximate-search recall claims must be
    * measured ON THE CORPUS the index serves, at its scale, because
    * recall depends on how the data clusters relative to the coarse
    * quantizer — an sf0.01 spec number says nothing about the 10×
    * corpus. Per query: `n_true` exact top-k neighbors
    * ([[bruteForceKnn]]'s total order), `n_hit` of them surfaced by
    * [[ivfKnn]] at (stride, nCells, nProbe), and the exact integer
    * `recall_micro = n_hit·10⁶ div n_true`.
    *
    * Shape: the brute pass is one query-broadcast corpus scan into the
    * bounded top-k aggregate; the IVF pass is the narrow assignment +
    * probed-cell join; the reconciliation joins two k·|queries|-sized
    * results — audit cost is one extra exact pass over the corpus,
    * paid on a SAMPLED query set, never all-pairs. */
  def annRecallAudit(corpus: DataFrame, queries: DataFrame, k: Int,
      stride: Long, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val truth = bruteForceKnn(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfKnn(corpus, queries, k, stride, nCells, nProbe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_micro", expr("n_hit * 1000000 div n_true"))
  }

  /** Persist the IVF index: the corpus with its cell assignment, written
    * as parquet PARTITIONED BY cell_id — the "computed once, persisted
    * alongside the embeddings" production path the in-memory operators
    * document. At 100 TB this runs once per quantizer version; queries
    * then never scan the full corpus again (see [[ivfKnnIndexed]]). */
  def writeIvfIndex(anchors: DataFrame, corpus: DataFrame,
      path: String): Unit =
    assignCells(anchorArray(anchors), corpus, "vec_id", 1)
      .select(col("vec_id"), col("emb_vec_id").as("embedding"), col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)

  /** Query a persisted IVF index with PARTITION-PRUNED scans — the
    * physical realization of "corpus scan cost drops to
    * O(N·nProbe/nCells)": probes are assigned narrowly as usual, their
    * DISTINCT cell ids (bounded by nProbe·|queries| — an index lookup's
    * query set, not a corpus) are collected and pushed as a STATIC
    * partition filter, so the parquet scan lists and reads only the
    * probed cell directories. Static `IN` pruning is chosen over
    * Spark's dynamic partition pruning deliberately: DPP is a
    * cost-based heuristic (it can decline when stats mis-estimate the
    * benefit), while the probe set here is small by construction and
    * known before the scan — the collect is the documented, bounded
    * exception to the no-driver-loops rule (it returns DISTINCT cell
    * ids, so it is ≤ |cells| rows regardless of query-batch size).
    * The probe assignment is materialized ONCE via an eager
    * `localCheckpoint` (round 12): both the pruning collect and the
    * broadcast join read the cached blocks, so the assignment subplan
    * is never evaluated twice and a large query batch pays its
    * assignment cost exactly once (blocks are executor-resident and
    * freed on RDD GC — no persist/unpersist lifecycle leaks out of the
    * library call). IvfSpec asserts result parity with [[ivfKnnWith]],
    * the single evaluation (the executed plan scans the checkpoint
    * RDD, not the assignment subplan), AND the `cell_id IN (...)`
    * PartitionFilters in the executed plan. */
  def ivfKnnIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, anchors: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val probes = materialize(
      assignCells(anchorArray(anchors), queries, "query_id", nProbe))._1
    val probedCells = probes.select(col("cell_id").cast("long"))
      .distinct().collect().map(_.getLong(0))
    val idx = spark.read.parquet(indexPath)
      .filter(col("cell_id").isin(probedCells.toSeq: _*))
    val scored = idx.join(broadcast(probes), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("emb_query_id"), col("embedding")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Trained IVF quantizer: seeded k-means centroids over the corpus
    * embeddings — the production alternative to [[ivfKnn]]'s stride
    * anchors. Returns `(cell_id, anchor)` ready for [[ivfKnnWith]];
    * cells follow the data distribution, so probe recall at equal
    * `nProbe` is at least the stride quantizer's (spec-asserted).
    *
    * Spark-first: `org.apache.spark.ml.clustering.KMeans` (seeded
    * k-means|| init, dense-vector input via the public
    * `array_to_vector`), not a hand-rolled Lloyd loop — MLlib already
    * implements the distributed iterate-broadcast-aggregate shape.
    * NOTE: like every model fit (and [[Dedup.connectedComponents]]),
    * CALLING this trains eagerly — it is a driver-coordinated loop, not
    * a declarative plan. At 100 TB you train on a deterministic sample
    * ([[TextAnalysis.deterministicSample]] on the id) and persist the
    * centroid table next to the embeddings; the query path then just
    * reads it. */
  def trainIvfAnchors(corpus: DataFrame, nCells: Int, maxIter: Int = 10,
      seed: Long = 42): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    trainIvfCentroids(corpus, nCells, maxIter, seed).toDF("cell_id", "anchor")
  }

  /** The k-means fit itself, returning the centroids as a LOCAL seq
    * (they are ≤ nCells rows — a model artifact, not data). This is the
    * seam that lets a correctness harness inject the exact trained
    * centroids into an external engine's SQL (a VALUES CTE), making the
    * post-fit assignment + top-k hash-checkable even though the fit is
    * not SQL-expressible. */
  def trainIvfCentroids(corpus: DataFrame, nCells: Int, maxIter: Int = 10,
      seed: Long = 42): Seq[(Long, Array[Double])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = corpus.select(
      array_to_vector(col("embedding").cast("array<double>")).as("__feat"))
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__feat").fit(feats)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }.toSeq
  }

  /** Embedding near-dup pairs via sign-bit LSH blocking: vectors sharing
    * a bucket in ANY of `nTables` hyperplane tables are compared exactly,
    * and pairs whose rounded cosine exceeds `threshold` are emitted
    * (distinct, `vec_a < vec_b`).
    *
    * This is the content-blocked replacement for an all-pairs
    * `a.vec_id < b.vec_id` nested-loop join: same group-by-bucket shape
    * as Dedup.minHashCandidates — the corpus is scanned once, the plan is
    * two hash-partitioned shuffles (bucket groupBy, then distinct), there
    * is no join operator at all, and comparisons are O(Σ bucket²), never
    * O(n²) over the corpus. Buckets above `maxBucket` (degenerate
    * hyperplane cells) are dropped so no single task can be pinned by one
    * giant bucket. The hyperplanes are md5-derived ([[lshBucket]]), so an
    * external engine can reproduce the exact blocking in SQL. */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double,
      nTables: Int = 4, nBits: Int = 8, dim: Int = 64,
      maxBucket: Int = 10000): DataFrame = {
    val banded = Parallelism.ensure(corpus)
      .select(struct(col("vec_id").as("id"), col("embedding").as("emb")).as("ve"),
        explode(array((0 until nTables).map { t =>
          struct(lit(t).as("tbl"), lshBucket(col("embedding"), t, nBits, dim).as("bucket"))
        }: _*)).as("b"))
      .select(col("ve"), col("b.tbl"), col("b.bucket"))
    banded.groupBy("tbl", "bucket")
      .agg(collect_list(col("ve")).as("vs"))
      .filter(size(col("vs")).between(2, maxBucket))
      // fused native generator: enumerates the O(bucket²) pairs as a
      // primitive loop (embeddings extracted once, norms precomputed) and
      // emits ONLY pairs above threshold — the interpreted-HOF pair-array
      // form materialized every pair (two embedding copies each) as one
      // array value before scoring; see graft.functions.CosinePairsWithin
      .select(Native.cosinePairsWithin(col("vs"), threshold)
        .as(Seq("vec_a", "vec_b", "cos_sim")))
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a quantizer, then WITHIN
    * each cluster drop every vector that has a higher-similarity twin
    * with a smaller id — near-duplicate *meaning*, not near-duplicate
    * *text*, which catches paraphrases MinHash/SimHash can't.
    *
    * Survivor contract (deterministic, engine-portable): vector x is
    * dropped iff some y in the same cell has `y.id < x.id` and
    * `round(cos(x,y), 6) > threshold`. This is the pairwise-minimal
    * rule, not connected-component clustering — chains longer than one
    * hop keep their per-pair minima (for transitive-closure semantics
    * feed [[lshNearDupPairs]] into [[Dedup.connectedComponents]]).
    *
    * Shape: narrow in-row cell assignment against the broadcast
    * quantizer ([[assignCells]] — no shuffle, no row expansion), ONE
    * hash exchange grouping by cell, the fused native pair generator
    * within cells (O(Σ cell²) comparisons, O(matches) rows out), and a
    * left-anti join of the corpus against the follower set. Cells
    * bigger than `maxCell` are skipped (their members all survive) so a
    * degenerate quantizer can never pin one task — mirror the cap in
    * any external re-implementation. At 100 TB the quantizer comes from
    * [[trainIvfAnchors]] on a sample and cells are sized so cell² work
    * stays bounded (more cells = less work per cell). */
  def semDedup(anchors: DataFrame, corpus: DataFrame, threshold: Double,
      maxCell: Int = 10000): DataFrame = {
    // the assignment feeds BOTH the follower aggregate and the anti-join
    // probe side; without materialization nothing guarantees subplan
    // reuse and the corpus would be scanned and anchor-ranked twice —
    // localCheckpoint (the connectedComponents/pageRank precedent for
    // eager operators) computes the expensive narrow stage once
    val cells = materialize(
      assignCells(anchorArray(anchors), corpus, "vec_id", 1))._1
    val followers = cells
      .groupBy("cell_id")
      .agg(collect_list(struct(col("vec_id").as("id"),
        col("emb_vec_id").as("emb"))).as("vs"))
      .filter(size(col("vs")).between(2, maxCell))
      .select(Native.cosinePairsWithin(col("vs"), threshold)
        .as(Seq("vec_a", "vec_b", "cos_sim")))
      .select(col("vec_b").as("__follower")).distinct()
    cells.select(col("vec_id"), col("cell_id"))
      .join(followers, col("vec_id") === col("__follower"), "left_anti")
  }

  /** Scalar int8 quantization of an embedding column — the 4×-memory
    * compression an ANN index at 100 TB actually ships (a float32
    * corpus that doesn't fit executor memory often does at int8):
    * per-vector symmetric scale `max(|v|)/127`, values
    * `clamp(floor(v/scale + 0.5), -127, 127)`. Rounding is spelled
    * `floor(x + 0.5)` — NOT `round` — because Spark and SQL engines
    * disagree on half-value tie-breaking, and the quantizer must be a
    * bit-identical pure function in every engine that stores or
    * queries the index.
    *
    * Emitted per vector: the scale and a scalar DIGEST of the
    * quantized vector (L1 mass, min, max, reconstruction RMSE) rather
    * than the int8 array itself — the array would be the payload in a
    * production sink; the digest is what a correctness harness can
    * hash-compare. Pure per-row expressions: narrow, no shuffle,
    * arbitrarily parallel. */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id"): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    val maxAbs = aggregate(emb, lit(0.0), (acc, v) => greatest(acc, abs(v)))
    val scale = maxAbs / 127.0
    val qArr = when(maxAbs === 0.0, transform(emb, _ => lit(0L)))
      .otherwise(transform(emb, v =>
        least(greatest(floor(v / (maxAbs / 127.0) + 0.5), lit(-127L)), lit(127L))))
    df.select(col(idCol), emb.as("__e"), scale.as("__scale"), qArr.as("__q"))
      .select(col(idCol),
        round(col("__scale"), 9).as("scale"),
        aggregate(col("__q"), lit(0L), (acc, q) => acc + abs(q)).as("q_l1"),
        array_min(col("__q")).as("q_min"),
        array_max(col("__q")).as("q_max"),
        // try_divide: ANSI `/` throws DIVIDE_BY_ZERO on a zero-length
        // embedding (doubles included) — a degenerate row must yield a
        // NULL rmse, not kill the query
        round(
          sqrt(try_divide(
            aggregate(
              zip_with(col("__e"), col("__q"), (v, q) =>
                pow(v - q.cast(DoubleType) * col("__scale"), 2)),
              lit(0.0), (acc, x) => acc + x), size(col("__e")))),
          6).as("rmse"))
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion — the standard way a
    * retrieval pipeline combines a lexical ranking with a vector
    * ranking without score calibration: each candidate list contributes
    * `1 / (rrfK + rank)` and the fused score is their sum (docs absent
    * from a list contribute 0 from it).
    *
    * Scale shape — the trap here is ranking the CORPUS (an
    * un-partitioned `row_number` window = one task holds everything).
    * Both legs are bounded instead: the lexical leg keeps only docs
    * sharing ≥ 1 query term and cuts to `kCand` through the two-phase
    * bounded [[Relational.topKPerGroup]] aggregate (≤ kCand rows per
    * map partition cross the shuffle); the vector leg is
    * [[bruteForceKnn]]'s bounded top-k. Fusion then joins two ≤ kCand
    * row lists — driver-scale, not corpus-scale. */
  def rrfFusion(docs: DataFrame, idCol: String, text: Column,
      embeddings: DataFrame, queryTerms: Seq[String], queryVecId: Long,
      kCand: Int = 100, kOut: Int = 20, rrfK: Int = 60): DataFrame = {
    def overlap(t: Column) = size(array_intersect(
      array_distinct(TextAnalysis.tokens(t)),
      array(queryTerms.map(lit): _*)))
    // unpushable: a plain `__ov > 0` is deterministic, so Catalyst would
    // substitute the tokenize/intersect expression into it and push the
    // whole computation below the widening exchange onto the single
    // scan task — the substitution trap Parallelism.unpushable exists for
    val lexCand = Parallelism.ensure(
      docs.select(col(idCol).as("id"), text.as("__t")))
      .select(col("id"), overlap(col("__t")).as("__ov"))
      .filter(Parallelism.unpushable(col("__ov") > 0))
      .withColumn("__g", lit(0L))
    val lex = graft.operators.Relational
      .topKPerGroup(lexCand, Seq("__g"), col("__ov"), col("id"), kCand)
      .select(col("id").as("__dl"),
        col("rank").cast(org.apache.spark.sql.types.LongType).as("lex_rank"))
    val vec = bruteForceKnn(embeddings,
      embeddings.filter(col("vec_id") === queryVecId), kCand)
      .select(col("neighbor_id").as("__dv"),
        col("rank").cast(org.apache.spark.sql.types.LongType).as("vec_rank"))
    lex.join(vec, col("__dl") === col("__dv"), "full_outer")
      .select(coalesce(col("__dl"), col("__dv")).as(idCol),
        col("lex_rank"), col("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol)).limit(kOut)
  }

  /** LSH-bucketed ANN: candidates share a bucket in at least one table;
    * exact cosine re-rank within candidates. */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 4, nBits: Int = 8, dim: Int = 64): DataFrame = {
    def bucketed(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(s"emb_$idAs"),
        explode(array((0 until nTables).map { t =>
          struct(lit(t).as("tbl"),
            lshBucket(col("embedding"), t, nBits, dim).as("bucket"))
        }: _*)).as("b"))
        .select(col(idAs), col(s"emb_$idAs"), col("b.tbl"), col("b.bucket"))
    val c = bucketed(corpus, "neighbor_id")
    val q = bucketed(queries, "query_id")
    val cand = q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("emb_query_id"), col("emb_neighbor_id"))
      .distinct()
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      round(cosine(col("emb_query_id"), col("emb_neighbor_id")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Product-quantization codes (Jégou 2011): split each embedding into
    * `subspaces` contiguous sub-vectors and assign each to its nearest
    * codeword — the compressed representation ANN indexes store at
    * 100 TB scale (dim·4 bytes → `subspaces` bytes per vector; distances
    * then come from small lookup tables instead of full vectors). The
    * compression stage that pairs with [[ivfKnn]]'s coarse quantizer.
    *
    * `codebook` rows are (code_id, codeword) with codeword the FULL
    * dimension — subspace c's codeword is the same slice of it the
    * vector contributes (a per-subspace trained codebook drops in by
    * passing different vectors per code_id; the slicing contract is
    * identical).
    *
    * Determinism: squared-L2 per subspace is a LEFT FOLD over the slice
    * (`aggregate` over `zip_with` — array order, bit-identical to the
    * oracle's `list_reduce` fold), and the argmin fold keeps the FIRST
    * minimum in code-id order (strict `<` over the code-sorted array) —
    * the same tie semantics as `min(struct(dist, code_id))`.
    *
    * Shape — the 100 TB shape, not a join: the codebook (KB-sized by
    * construction) collapses to ONE array row crossed in by broadcast,
    * and every assignment is a per-row HOF argmin over that array —
    * NO per-codeword fan-out, NO aggregate (a `min(struct)` groupBy
    * plans as SortAggregate: struct buffers aren't hash-aggregable, so
    * the |codebook|×corpus fan-out would be SORTED), NO shuffle. The
    * whole operator is scan → broadcast cross (1 row) → project,
    * arbitrarily parallel. */
  def pqCodes(df: DataFrame, codebook: DataFrame, subspaces: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(subspaces >= 1, "need at least one subspace")
    val cbArr = codebook.agg(
      sort_array(collect_list(struct(col("code_id"),
        col("codeword").cast("array<double>").as("codeword")))).as("__cb"))
    // widen the corpus side: the per-row argmin folds otherwise run on
    // the single row-group scan task (355 ms serialized at sf0.1,
    // round-14 StageAudit sweep)
    val joined = Parallelism.ensure(
        df.select(col(idCol), col("embedding").cast("array<double>").as("__e")))
      .crossJoin(broadcast(cbArr))
      .withColumn("__len", expr(s"size(__e) div $subspaces").cast("int"))
    val codes = (0 until subspaces).map { s =>
      val start = (col("__len") * s + 1).cast("int")
      aggregate(col("__cb"),
        struct(lit(Double.MaxValue).as("d"), lit(-1L).as("c")),
        (acc, e) => {
          val dist = aggregate(
            zip_with(slice(col("__e"), start, col("__len")),
              slice(e.getField("codeword"), start, col("__len")),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (a2, x) => a2 + x)
          when(dist < acc.getField("d"),
            struct(dist.as("d"), e.getField("code_id").as("c")))
            .otherwise(acc)
        }).getField("c").as(s"code_$s")
    }
    joined.select(col(idCol) +: codes: _*)
  }

  /** Train a product-quantization codebook (Jégou et al. 2011 §II.C):
    * an independent k-means per SUBSPACE, returned in [[pqCodes]]'
    * full-dimension codeword layout — codeword c is the concatenation
    * over subspaces of each subspace's c-th centroid, so slice s of
    * codeword c IS subspace s's centroid c.
    *
    * Trained on a BOUNDED deterministic sample, Lloyd's on the driver:
    * PQ codebooks are standardly fit on a corpus sample (FAISS trains
    * on ~10⁵ vectors regardless of index size), so the cluster-side
    * work is ONE md5-ordered TakeOrdered pass — no per-subspace
    * barrier chains (8 concurrent ml.KMeans fits measured 2.4 s at
    * sf0.1 on 2 000 vectors; the sample fit is ~0.3 s and
    * corpus-size-independent). The sample is a bounded model-fit
    * artifact, the k-means-centroid precedent — never corpus-sized.
    * Deterministic: md5-ordered sample (vec_id tie-break), stride
    * init, argmin ties to the lowest code, empty clusters keep their
    * centroid. */
  def trainPqCodebook(corpus: DataFrame, subspaces: Int, nCodes: Int,
      maxIter: Int = 10, sampleSize: Int = 4096): Seq[(Long, Array[Double])] = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible by $subspaces")
    require(nCodes >= 1 && sampleSize >= nCodes, "need sampleSize >= nCodes")
    val len = dim / subspaces
    val sample: Array[Array[Double]] = corpus
      .filter(size(col("embedding")) === dim)
      .select(col("embedding").cast("array<double>").as("__e"),
        graft.functions.Hashing.hexLong(col("vec_id").cast("string")).as("__h"),
        col("vec_id"))
      .orderBy(col("__h"), col("vec_id")).limit(sampleSize)
      .select("__e").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= nCodes, s"corpus smaller than nCodes=$nCodes")
    val perSub = (0 until subspaces).map { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * len, (s + 1) * len))
      lloyd(pts, nCodes, maxIter)
    }
    (0 until nCodes).map { c =>
      c.toLong -> perSub.flatMap(cents => cents(c)).toArray
    }
  }

  /** Deterministic driver-side Lloyd's: stride init over the (already
    * deterministically ordered) points, first-minimum assignment,
    * empty clusters keep their previous centroid. */
  private def lloyd(pts: Array[Array[Double]], k: Int,
      maxIter: Int): Array[Array[Double]] = {
    val len = pts.head.length
    var cents = Array.tabulate(k)(c => pts((c.toLong * pts.length / k).toInt).clone())
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k, len)(0.0)
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < len) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < len) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(len)(i => sums(c)(i) / counts(c)))
      iter += 1
    }
    cents
  }

  /** PQ asymmetric-distance search (ADC — Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" §IV): approximate top-k
    * neighbors computed ENTIRELY from the stored PQ codes — the corpus'
    * full vectors are never touched at query time, which is the point
    * of PQ at 100 TB (codes are `subspaces` small ints per vector; the
    * scan reads bytes, not floats).
    *
    * Per query, the distance from its subvector q_s to every codeword
    * is precomputed ONCE into a lookup table (|queries| × subspaces ×
    * |codebook| cells — KB-sized), each cell quantized to exact micro
    * units; a vector's approximate distance is then the SUM of
    * `subspaces` table lookups keyed by its codes. Long cell sums make
    * the total order-free and bit-reproducible in SQL.
    *
    * Shape: the LUT packs into one small map per query, broadcast-
    * crossed into the codes scan (|queries| rows per code row — the
    * brute-force-knn convention that queries are few); scoring is a
    * pure per-row map lookup fold, and the only shuffle is the bounded
    * two-phase top-k. Requires a DENSE codebook (code_id 0..n−1): the
    * map key is `code_id · subspaces + s`.
    *
    * Ranking key (adc_micro asc, neighbor_id asc); self-pairs excluded
    * like [[bruteForceKnn]]. */
  def pqAdcKnn(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
      subspaces: Int, k: Int): DataFrame = {
    require(subspaces >= 1, "need at least one subspace")
    val qs = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__q"))
    val cb = codebook.select(col("code_id").cast(LongType).as("__cid"),
      col("codeword").cast("array<double>").as("__cw"))
    // LUT build: |queries| × |codebook| rows, subspaces cells each —
    // bounded by construction, never corpus-sized
    val lutCells = qs.crossJoin(broadcast(cb))
      .withColumn("__len", expr(s"size(__q) div $subspaces").cast("int"))
      .select(col("query_id"), explode(array((0 until subspaces).map { s =>
        val start = (col("__len") * s + 1).cast("int")
        val dist = aggregate(
          zip_with(slice(col("__q"), start, col("__len")),
            slice(col("__cw"), start, col("__len")),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
        struct((col("__cid") * subspaces + s).as("key"),
          floor(dist * lit(1e6) + lit(0.5)).cast(LongType).as("v"))
      }: _*)).as("__c"))
    val lut = lutCells.groupBy("query_id")
      .agg(map_from_entries(collect_list(col("__c"))).as("__lut"))
    val adc = (0 until subspaces).map(s =>
      element_at(col("__lut"), col(s"code_$s").cast(LongType) * subspaces + s))
      .reduce(_ + _)
    val scored = codes.crossJoin(broadcast(lut))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("adc_micro"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      -col("adc_micro"), col("neighbor_id"), k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        (-col("score")).cast(LongType).as("adc_micro"),
        col("rank").cast(LongType).as("pq_rank"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    * public; the CCMatrix/NLLB criterion): candidate translation pairs
    * (x ∈ src side, y ∈ tgt side) score by the RATIO margin
    * `cos(x,y) / ((avgₖ(x) + avgₖ(y)) / 2)` — how much closer y is to
    * x than x's and y's average k-neighborhoods — and each src keeps
    * its best-margin tgt above a threshold ("max" strategy). The
    * margin denominator is what kills hub vectors that are merely
    * close to everything.
    *
    * Candidates come from the [[lshKnn]] sign-bit bucket tables, NOT
    * an all-pairs cross: at CCMatrix scale mining runs against an ANN
    * index, and the margin statistics are computed over the SAME
    * candidate set both directions (one bucket join feeds x→y and
    * y→x neighborhoods). Only positive-cosine candidates mine (the
    * paper's similarity regime; it also keeps the exact-integer
    * margin's denominator positive).
    *
    * Determinism: cosines quantize to micro-units via
    * `floor(cos·1e6 + 0.5)` (the engine-portable quantizer — `round`
    * ties differ across engines); neighborhood sums/counts are exact
    * longs; the margin is ONE IEEE division of exact integers,
    * `floor(2·cntX·cntY·cos / (sumX·cntY + sumY·cntX) · 1e6 + 0.5)`,
    * so ranking and threshold compare identically everywhere.
    *
    * Shape: one bucket self-join (band-grouped, distinct pairs), the
    * bounded [[Relational.topKPerGroup]] two-phase top-k per side,
    * statistics-sized per-vector sum tables joined back onto the
    * src-side top-k, and a final bounded top-1 — no corpus window, no
    * all-pairs, no driver state. Buckets with more than `maxBucket`
    * members (both sides counted) are skipped — the q32/SemDeDup
    * degenerate-bucket contract: a low-variance embedding region must
    * not turn the candidate join quadratic or pin one task. The cap
    * table is corpus-dependent, so it joins WITHOUT a broadcast hint
    * (the `Dedup.bandIndex` lesson); mirror the cap in any external
    * re-implementation. */
  def bitextMarginMine(emb: DataFrame, isSrc: Column, k: Int,
      minMarginMicro: Long, nTables: Int = 4, nBits: Int = 8,
      dim: Int = 64, maxBucket: Int = 10000): DataFrame = {
    require(k >= 1, "need at least one neighbor")
    val tagged = Parallelism.ensure(
      emb.select(col("vec_id"), col("embedding"), isSrc.as("__src")))
    def bucketed(src: Boolean, idAs: String): DataFrame =
      tagged.filter(if (src) col("__src") else !col("__src"))
        .select(col("vec_id").as(idAs),
          col("embedding").as(s"emb_$idAs"),
          explode(array((0 until nTables).map { t =>
            struct(lit(t).as("tbl"),
              lshBucket(col("embedding"), t, nBits, dim).as("bucket"))
          }: _*)).as("b"))
        .select(col(idAs), col(s"emb_$idAs"), col("b.tbl"), col("b.bucket"))
    val srcB = bucketed(src = true, "src_id")
    val tgtB = bucketed(src = false, "tgt_id")
    val ok = srcB.select(col("tbl"), col("bucket"))
      .union(tgtB.select(col("tbl"), col("bucket")))
      .groupBy("tbl", "bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select(col("tbl"), col("bucket"))
    // both directions + the pair join consume it
    val cand = materialize(srcB.join(ok, Seq("tbl", "bucket"))
      .join(tgtB, Seq("tbl", "bucket"))
      .select(col("src_id"), col("tgt_id"),
        col("emb_src_id"), col("emb_tgt_id"))
      .distinct()
      .select(col("src_id"), col("tgt_id"),
        floor(cosine(col("emb_src_id"), col("emb_tgt_id")) * 1e6 + 0.5)
          .cast(LongType).as("cos_micro"))
      .filter(col("cos_micro") > 0L))._1
    def kSums(keyCol: String, otherCol: String): DataFrame =
      Relational.topKPerGroup(cand, Seq(keyCol), col("cos_micro"),
        col(otherCol), k)
        .groupBy(keyCol)
        .agg(sum(col("score").cast(LongType)).as(s"sum_$keyCol"),
          count(lit(1)).as(s"cnt_$keyCol"))
    val srcTopK = Relational.topKPerGroup(cand, Seq("src_id"),
      col("cos_micro"), col("tgt_id"), k)
      .select(col("src_id"), col("id").as("tgt_id"),
        col("score").cast(LongType).as("cos_micro"))
    val margins = srcTopK
      .join(kSums("src_id", "tgt_id"), Seq("src_id"))
      .join(kSums("tgt_id", "src_id"), Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("cos_micro"),
        floor(
          (lit(2.0) * col("cnt_src_id") * col("cnt_tgt_id") *
            col("cos_micro")).cast(DoubleType) /
            (col("sum_src_id") * col("cnt_tgt_id") +
              col("sum_tgt_id") * col("cnt_src_id")).cast(DoubleType)
            * 1e6 + 0.5).cast(LongType).as("margin_micro"))
    val best = Relational.topKPerGroup(margins.filter(
        col("margin_micro") > minMarginMicro),
      Seq("src_id"), col("margin_micro"), col("tgt_id"), 1)
      .select(col("src_id").as("__bsrc"), col("id").as("__btgt"))
    best.join(margins, col("__bsrc") === col("src_id") &&
        col("__btgt") === col("tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("cos_micro"),
        col("margin_micro"))
  }

  /** Morton/Z-order cell id from two pre-quantized non-negative
    * coordinates (Morton 1966; the data-layout primitive behind
    * multi-dimensional file clustering in modern lakehouses): bit i of
    * `qx` lands at z-bit 2i, bit i of `qy` at 2i+1, so points close in
    * BOTH dimensions share a z-prefix and sort into the same file/row
    * group — one clustered write turns later 2-D range predicates into
    * scan pruning. Compile-time-unrolled shift/mask sum (disjoint bits,
    * so + is |): pure codegen'd integer arithmetic, no UDF, and the
    * oracle mirrors it digit for digit. Inputs must already lie in
    * [0, 2^bits) — quantization is the caller's contract (it needs the
    * caller's range model). */
  def zorderCell(qx: Column, qy: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1,31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(qx, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(qy, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Johnson–Lindenstrauss random projection with ±1 entries
    * (Achlioptas 2003, "Database-friendly random projections": a
    * uniform ±1 matrix satisfies the JL distance-preservation lemma
    * with the same guarantees as Gaussian entries, and needs only
    * integer adds) — the TRAINING-FREE member of the
    * dimensionality-reduction tier: [[Pca.project]] needs a fit pass
    * and ships a model artifact; [[trainPqCodebook]] needs k-means;
    * this needs a seed string. Sketch first, train later is the
    * standard 100 TB move — the projection is a pure map any scan
    * task applies with no broadcast state at all.
    *
    * Signs are md5-derived plan-time constants
    * ([[graft.functions.Hashing.hexLongJvm]], the LSH-hyperplane
    * mechanism) riding in the plan as literal arrays; vectors
    * quantize to exact micro longs FIRST, so every projected
    * coordinate is an exact integer sum — identical in any engine,
    * no double fold-order hazard. Unnormalized: the canonical
    * 1/sqrt(k) rescale is a constant the consumer applies (keeping it
    * out preserves integer exactness).
    *
    * Output: one row per conforming vector (`size == dIn`; malformed
    * rows are excluded, the q153 contract) with kOut exact projected
    * micro-coordinates `rp_0..rp_{kOut-1}`. */
  def jlProject(df: DataFrame, dIn: Int, kOut: Int,
      seed: String = "rp", idCol: String = "vec_id"): DataFrame = {
    require(kOut >= 1 && dIn >= kOut, "need 1 <= kOut <= dIn")
    // widen the embeddings scan (373 ms serialized at sf0.1, round-14
    // StageAudit sweep); the dimension filter is pinned unpushable or
    // its substituted transform would drag the whole quantization
    // below the widening exchange (the q141 trap)
    val base = Parallelism.ensure(df.select(col(idCol), col("embedding")))
      .select(col(idCol),
        transform(col("embedding").cast("array<double>"),
          v => floor(v * lit(1e6) + lit(0.5)).cast(LongType)).as("__vm"))
      .filter(Parallelism.unpushable(size(col("__vm")) === dIn))
    val projs = (0 until kOut).map { j =>
      val signs = (0 until dIn).map(i =>
        if (graft.functions.Hashing.hexLongJvm(s"$seed:$j:$i") % 2 == 0)
          1L
        else -1L)
      aggregate(zip_with(col("__vm"), typedLit(signs), (v, s) => v * s),
        lit(0L), (a, x) => a + x).as(s"rp_$j")
    }
    base.select(col(idCol) +: projs: _*)
  }
}
