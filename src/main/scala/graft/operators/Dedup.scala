/** Deduplication operators for large-scale corpus curation.
  *
  * The reference's only dedup is keep-last-per-key
  * (/root/reference/lime_survey_orders_shipped.py:69-70 → Relational.keepLast);
  * this module adds the near-dup family a 100 TB training-data pipeline
  * needs: exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale notes (the design constraint throughout):
  *  - Nothing here is ever O(n²) over the corpus. Candidate generation is
  *    always an equi-join on a bucket key (band hash / simhash band / LSH
  *    bucket), i.e. one hash-partitioned shuffle; pair verification runs
  *    only within buckets.
  *  - Signatures are computed with built-in codegen'd expressions (md5/
  *    conv/aggregate/transform) — map-side, no UDF, no Python.
  *  - groupBy aggregations do map-side partial aggregation, so the shuffle
  *    carries one signature row per (doc, band), not one per shingle.
  */
package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShims.{materialize, Sum}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.Hashing

object Dedup {

  /** Exact dedup: keep the smallest `idCol` per identical content hash.
    * One shuffle on the 128-bit fingerprint. */
  def exact(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.withColumn("fp", Hashing.fingerprint(text))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Modulus for the MinHash permutation family: 2^31 - 1 (prime). The
    * product (P-1)*(P-1) < 2^63, so the affine-hash arithmetic never
    * overflows a signed 64-bit long in Spark or DuckDB. */
  val MinHashP = 2147483647L

  /** Member `p` of the affine hash family over a pre-reduced base hash
    * `h ∈ [0, P)`: `(a_p * h + b_p) mod P`. Fixed deterministic
    * coefficients — no random-state side channel, reproducible in SQL. */
  def minHashFamily(h: Column, p: Int): Column = {
    val a = (p * 1000003L + 17L) % MinHashP
    val b = (p * 999983L + 9176L) % MinHashP
    (h * a + b) % MinHashP
  }

  /** MinHash signatures: one row per doc with columns `mh0..mh{numPerm-1}`
    * = per-family minima over word `k`-shingles.
    *
    * Cost model (the reason for this shape): each shingle is md5-hashed
    * ONCE; the `numPerm` family members are derived arithmetically from
    * that one hash inside a codegen'd hash aggregate with map-side partial
    * aggregation — the shuffle carries one `numPerm`-column row per doc
    * per partition, not one row per shingle. (A per-row higher-order
    * `aggregate` over the shingle array would be interpreted, not
    * codegen'd, and cost `numPerm` md5s per shingle: measured 30s vs ~2s
    * on 5k docs / 250k shingles.) */
  def minHashSignatures(df: DataFrame, idCol: String, text: Column,
      k: Int, numPerm: Int): DataFrame = {
    val ex = Parallelism.ensure(df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__toks"))
      .select(col("doc"),
        explode(TextAnalysis.shinglesOfTokens(col("__toks"), k)).as("s"))
      .select(col("doc"), pmod(Hashing.hexLong(col("s")), lit(MinHashP)).as("h"))
    val mins = (0 until numPerm).map(p => min(minHashFamily(col("h"), p)).as(s"mh$p"))
    ex.groupBy("doc").agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding: docs sharing any band (of `bands` bands with
    * `numPerm/bands` rows each) become candidate pairs. Returns distinct
    * (a, b) with a < b.
    *
    * Plan shape: scan → explode shingles → hash-agg signatures (one
    * shuffle on doc) → explode bands → groupBy (band_idx, band_hash)
    * collecting the bucket → emit within-bucket pairs → distinct.
    * Grouping instead of a self-join means the signature subplan runs
    * ONCE (a self-join re-executes it per side — measured 2× cost) and
    * there is no join at all: two hash-partitioned shuffles total,
    * co-locatable at any executor count. Bucket sizes are bounded by
    * band selectivity (tune bands/rows for the target Jaccard
    * threshold); a degenerate band (empty/boilerplate docs hashing to
    * one bucket) is dropped once it exceeds `maxBucket`, so one bad
    * band can never pin a single task with an O(bucket²) pair
    * explosion at 100 TB — such a bucket carries no dedup signal
    * anyway (its pairs are boilerplate, not near-duplicates).
    */
  /** The LSH banding expression shared by [[minHashCandidates]] and
    * [[minHashCandidatesWithEstimate]]: one `(band_idx, band_hash)`
    * struct per band, hash = md5 of the band's comma-joined signature
    * slots — the single definition both the candidate and the fused
    * estimator pipelines (and their mirrored oracle SQL) must agree
    * with. */
  private def bandStructs(numPerm: Int, bands: Int): Column = {
    // a non-divisible combination would silently ignore the trailing
    // signature slots; bands > numPerm would hash md5("") for every
    // band of every doc — one global bucket, zero candidates, no error
    require(bands >= 1 && bands <= numPerm && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rows = numPerm / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        md5(concat_ws(",", (0 until rows).map(r =>
          col(s"mh${b * rows + r}")): _*)).as("band_hash"))
    }: _*)
  }

  /** Per-row banded MinHash signature — bit-identical `(band_idx,
    * band_hash)` structs to [[minHashSignatures]] + the banding
    * expression, computed as narrow ARRAY expressions (no explode, no
    * groupBy): the form a STREAMING row evaluates statelessly against a
    * precomputed static index ([[bandIndex]],
    * [[graft.streaming.CurationStream.incrementalNearDups]]).
    *
    * Each shingle is still md5-hashed exactly ONCE: the whole band
    * array is built inside a single `transform` over a one-element
    * wrapper so the hashed-shingle array binds to a lambda variable —
    * referenced `numPerm` times, EVALUATED once (Spark does not hoist
    * loop-invariant subtrees out of HOF lambdas; inlining the hash
    * array into each family's `array_min` would re-md5 every shingle
    * per permutation). Only the affine family minima re-derive per
    * permutation — integer arithmetic, not hashing. Batch corpus work
    * should keep using the aggregate form (codegen'd, map-side
    * combined — the measured cost note above); this one exists for
    * per-row/streaming evaluation. */
  def rowBands(text: Column, k: Int, numPerm: Int, bands: Int): Column = {
    require(bands >= 1 && bands <= numPerm && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rows = numPerm / bands
    // the token array binds to a lambda variable the same way the hash
    // array does one level up: shingles(text, k) would inline the split
    // into the shingle HOF, re-splitting once per shingle
    // (shinglesOfTokens's own contract) — wrap it so split runs once
    val hs = element_at(
      transform(array(TextAnalysis.tokens(text)), toksV =>
        transform(TextAnalysis.shinglesOfTokens(toksV, k),
          s => pmod(Hashing.hexLong(s), lit(MinHashP)))),
      1)
    element_at(
      transform(array(hs), hsv => {
        def mh(p: Int): Column =
          array_min(transform(hsv, h => minHashFamily(h, p)))
        array((0 until bands).map { b =>
          struct(lit(b).as("band_idx"),
            md5(concat_ws(",", (0 until rows).map(r =>
              mh(b * rows + r).cast("string")): _*)).as("band_hash"))
        }: _*)
      }),
      1)
  }

  /** Banded signature index of a STATIC corpus — `(band_idx, band_hash,
    * lake_doc)`, the persisted artifact an incremental/streaming ingest
    * joins its [[rowBands]] against (the "precomputed lake signatures"
    * [[incrementalNearDups]]' scaladoc promises). Buckets larger than
    * `maxBucket` are dropped at BUILD time — the side whose population
    * is knowable ahead of the stream — mirroring [[minHashCandidates]]'
    * degenerate-band cap: a boilerplate bucket carries no dedup signal
    * and would fan every matching stream row out `bucket`-fold. */
  def bandIndex(df: DataFrame, idCol: String, text: Column,
      k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val banded = minHashSignatures(df, idCol, text, k, numPerm)
      .select(col("doc").as("lake_doc"),
        explode(bandStructs(numPerm, bands)).as("band"))
      .select(col("lake_doc"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
    val kept = banded.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band_idx", "band_hash")
    banded.join(kept, Seq("band_idx", "band_hash"))
  }

  def minHashCandidates(df: DataFrame, idCol: String, text: Column,
      k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val sig = minHashSignatures(df, idCol, text, k, numPerm)
    val banded = sig.select(col("doc"),
      explode(bandStructs(numPerm, bands)).as("band"))
      .select(col("doc"), col("band.band_idx"), col("band.band_hash"))
    banded.groupBy("band_idx", "band_hash")
      .agg(collect_list(col("doc")).as("docs"))
      .filter(size(col("docs")).between(2, maxBucket))
      // lazy native pair generator (sorts the bucket itself): O(bucket)
      // peak memory instead of materializing the O(bucket²) pair array
      .select(graft.functions.Native.idPairs(col("docs"))
        .as(Seq("doc_a", "doc_b")))
      .distinct()
  }

  /** Bit-counter lane width for [[simHashSignatures]]: 4 ones-counters
    * packed per 64-bit sum buffer. Bounds the supported per-document
    * distinct-token count at 2^16-1 = 65 535 (≈ half a megabyte of text);
    * chunk larger documents (TextAnalysis.chunks) before fingerprinting. */
  private val SimHashLaneBits = 16
  private val SimHashLanes = 64 / SimHashLaneBits

  /** SimHash signatures: 56-bit locality-sensitive signature per doc —
    * bit i is the majority vote of bit i over the distinct-token hashes.
    * Near-dups differ in few bits.
    *
    * Shape: explode distinct tokens → hash once per token → groupBy doc
    * (map-side partial agg, so the shuffle carries one counter row per
    * doc per partition, not one row per token). The 56 per-bit ones-
    * counters are packed 4-per-long into 16-bit lanes, so the hash
    * aggregate carries 14 codegen'd sum buffers instead of 56 — measured
    * 2.4s → ~1s at sf0.1, same oracle SQL. Majority vote: bit set iff
    * 2·ones > n (ties → 0, matching the ±1-sum formulation). A per-row
    * expression tree would avoid the shuffle but recompute the token md5
    * once per bit — 56× the hash work. */
  def simHashSignatures(df: DataFrame, idCol: String, text: Column,
      bits: Int = 56): DataFrame = {
    val hashed = Parallelism.ensure(df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), explode(array_distinct(TextAnalysis.tokens(col("__t")))).as("tok"))
      .select(col("doc"), Hashing.hexLong(col("tok")).as("h"))
    val nPacked = (bits + SimHashLanes - 1) / SimHashLanes
    val packed = (0 until nPacked).map { j =>
      (0 until SimHashLanes).filter(l => j * SimHashLanes + l < bits).map { l =>
        val i = j * SimHashLanes + l
        shiftleft(shiftright(col("h"), i).bitwiseAND(1), SimHashLaneBits * l)
      }.reduce(_ + _).as(s"p$j")
    }
    val sums = (0 until nPacked).map(j => sum(col(s"p$j")).as(s"c$j")) :+
      count(lit(1)).as("n")
    val grouped = hashed.select(col("doc") +: packed: _*)
      .groupBy(col("doc")).agg(sums.head, sums.tail: _*)
    val laneMask = (1L << SimHashLaneBits) - 1
    val sig = (0 until bits).map { i =>
      val ones = shiftright(col(s"c${i / SimHashLanes}"), SimHashLaneBits * (i % SimHashLanes))
        .bitwiseAND(laneMask)
      when(ones * 2 > col("n"), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // a doc with more distinct tokens than a 16-bit lane can count
    // would carry into the neighboring bit's counter and corrupt the
    // signature SILENTLY — fail loudly instead (pre-chunk such docs
    // with TextAnalysis.chunks, or dedup on content fingerprints)
    grouped.select(col("doc"),
      when(col("n") > laneMask, raise_error(concat(
        lit(s"simhash lane overflow: doc "), col("doc").cast("string"),
        lit(s" has > $laneMask distinct tokens — pre-chunk before simhash"))))
        .otherwise(sig)
        .cast(org.apache.spark.sql.types.LongType).as("simhash"))
  }

  /** SimHash near-dup candidates: block on 4 × 14-bit sub-bands (docs
    * within Hamming distance 3 of each other share at least one band by
    * pigeonhole), then keep only pairs within `maxHamming` — the radius
    * the 4-band pigeonhole guarantees. Same group-by-bucket shape as
    * [[minHashCandidates]] — the signature subplan runs once, no
    * self-join; buckets above `maxBucket` are dropped (degenerate-band
    * guard, see there — a templated corpus can put 1/3 of all docs in
    * ONE band bucket, and its O(bucket²) pairs are boilerplate, not
    * near-duplicates). The Hamming filter runs during pair enumeration,
    * before the distinct shuffle, so far pairs never leave the bucket
    * task. */
  def simHashCandidates(df: DataFrame, idCol: String, text: Column,
      maxBucket: Int = 10000, maxHamming: Int = 3): DataFrame = {
    // the fixed 4x14-bit pigeonhole banding only guarantees recall up
    // to Hamming distance 3 (4 bands, d+1 <= 4); a larger radius would
    // silently miss pairs that differ in all four bands
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming ($maxHamming) beyond the 4-band pigeonhole guarantee (3)")
    val sig = simHashSignatures(df, idCol, text)
      .withColumnRenamed("simhash", "sh")
    val banded = sig.select(
      struct(col("doc"), col("sh")).as("ds"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band_idx"),
          shiftright(col("sh"), b * 14).bitwiseAND(0x3FFF).as("band_val"))
      }: _*)).as("band"))
      .select(col("ds"), col("band.band_idx"), col("band.band_val"))
    banded.groupBy("band_idx", "band_val")
      .agg(collect_list(col("ds")).as("docs"))
      .filter(size(col("docs")).between(2, maxBucket))
      // fused native generator: Hamming radius applied inside the pair
      // loop, so far pairs never become rows; O(bucket) peak memory
      .select(graft.functions.Native.hammingPairsWithin(col("docs"), maxHamming)
        .as(Seq("doc_a", "doc_b", "hamming")))
      .distinct()
  }

  /** Connected components over a near-dup candidate pair set — the
    * cluster step a global dedup pipeline needs between candidate
    * generation ([[minHashCandidates]] / [[simHashCandidates]]) and
    * keep-one-per-cluster: every doc is labeled with the MINIMUM doc id
    * reachable through candidate edges (the canonical survivor).
    *
    * Algorithm: hash-min label propagation WITH pointer jumping — each
    * iteration every vertex takes the min of its own and its neighbors'
    * labels (one join + one groupBy over the edge set), then applies one
    * label-of-label shortcut (a self-join on the LABEL table, which is
    * |V|-sized, not |E|-sized): `component := component(component)`.
    * The shortcut is what makes convergence O(log diameter) instead of
    * O(diameter) — the label table is a pointer forest, and jumping
    * halves its depth per round (the classic doubling argument), so a
    * diameter-10⁶ chain at 100 TB needs ~20 rounds, not 10⁶. The
    * invariant is preserved because a label is always the id of a node
    * known reachable from its owner, so label-of-label is reachable by
    * transitivity, and labels only ever decrease toward the component
    * min. Near-dup components are shallow almost-cliques (measured
    * diameter ≤ 3), so the jump is skipped for the first two rounds —
    * the common case converges without ever paying for it, and only a
    * genuinely deep graph reaches the doubling rounds.
    *
    * Lineage is truncated per iteration (localCheckpoint), so plans
    * don't grow with rounds. The previous label rides through the round
    * as `__old`, so the convergence probe is a limit-1 scan of the
    * already-checkpointed round result — not a second labels join.
    * Edges are hash-partitioned on the join key once before their
    * checkpoint (localCheckpoint preserves outputPartitioning), so each
    * round's edge join only exchanges the label side. The alternative
    * O(log n) scheme, large-star/small-star, additionally bounds
    * per-round degree; hash-min never materializes neighbor lists at
    * all (the min is a hash aggregate), so degree is not a concern
    * here.
    *
    * Returns (doc, component) for every doc appearing in `pairs`;
    * isolated docs (no candidate edge) are their own component by
    * definition and are simply absent.
    *
    * NOTE: unlike every declarative operator in this library, CALLING
    * this method executes the iterations (each round is checkpointed,
    * so downstream actions reuse the result instead of recomputing) —
    * an iterative fixpoint is a driver program, the same execution
    * model as MLlib's training loops. Plan-only inspection of a query
    * built on it therefore pays the clustering cost up front. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // symmetrize in ONE pass over the pair plan: the union-of-swap form
    // evaluated the whole candidate-pair subplan TWICE (one branch per
    // direction — measured 20 s task-sum on q195's fuzzy pairs, round
    // 14); a per-row explode of both orientations reads it once
    val edges = materialize(pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .repartition(col("dst")))._1
    var labels = materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))._1
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      // __chg rides along as a 0/1 long so the convergence test comes
      // out of the SAME action that materializes the round's checkpoint
      // (materialize's `Sum` probe) — the old shape paid a separate
      // isEmpty probe job per round (round 14)
      val propagated = labels
        .join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
        .withColumn("__chg",
          when(col("component") =!= col("__old"), 1L).otherwise(0L))
      // checkpoint BEFORE the jump, so the |E|-sized propagation subtree
      // (edges join + min aggregate) materializes exactly once per
      // round — the jump references the frame twice, which would
      // otherwise recompute that subtree twice. For the jump-free early
      // rounds this checkpoint IS the round result, so its fused sum is
      // the convergence test.
      val (checkpointed, chgEarly) =
        materialize(propagated, probe = Sum("__chg"))
      // pointer jump: component := component(component) — a self-join of
      // the CHECKPOINTED |V|-sized label frame only. Inner join is safe:
      // every label is the id of some labeled node. Skipped for the
      // first two rounds: shallow near-dup graphs (diameter ≤ 3, the
      // overwhelmingly common case) converge before it would help, so
      // they never pay the extra |V| self-join; anything still moving by
      // round 3 gets the doubling.
      // ... and checkpoint the jump result too (cheap, |V|-sized): it is
      // read by both sides of the next round, which would otherwise
      // re-run the self-join each time. A jumped component may differ
      // from __old even when the pre-jump round was stable only if the
      // jump moved a label, which itself implies __old ≠ component
      // somewhere — so the fused sum over the JUMPED frame is the same
      // convergence signal the old isEmpty probe read.
      if (iter < 2) {
        converged = chgEarly == 0L
        labels = checkpointed.select(col("id"), col("component"))
      } else {
        val jumped = checkpointed.as("x")
          .join(checkpointed.select(col("id").as("__pid"),
            col("component").as("__pcomp")), col("x.component") === col("__pid"))
          .select(col("x.id").as("id"),
            when(col("__pcomp") =!= col("x.__old"), 1L).otherwise(0L)
              .as("__chg"),
            col("__pcomp").as("component"))
        val (next, chg) =
          materialize(jumped, probe = Sum("__chg"))
        converged = chg == 0L
        labels = next.select(col("id"), col("component"))
      }
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
          "a component's diameter exceeds maxIter; raise it (iterations " +
          "are cheap: one join + one groupBy each) rather than accept " +
          "silently wrong cluster labels")
    labels.select(col("id").as("doc"), col("component"))
  }

  /** Keep-one-per-cluster — the final step of global dedup: drop every
    * doc whose component label is another doc (the cluster's canonical
    * min survives; near-dup followers go). A left-anti join against the
    * (small) follower set, so the corpus scans once and the join
    * broadcast-or-shuffles on the doc id. */
  def keepCanonical(docs: DataFrame, idCol: String,
      components: DataFrame): DataFrame =
    docs.join(
      components.filter(col("doc") =!= col("component"))
        .select(col("doc").as("__follower")),
      col(idCol) === col("__follower"), "left_anti")

  /** MinHash Jaccard ESTIMATE for a candidate pair set: the fraction of
    * agreeing signature slots — `|{p : mh_p(a) = mh_p(b)}| / numPerm` —
    * the O(numPerm) similarity proxy an LSH pipeline uses to triage
    * candidates BEFORE paying for an exact shingle-join verify
    * ([[ngramJaccard]]). Unbiased estimator of the true Jaccard;
    * stderr ≈ sqrt(j(1-j)/numPerm).
    *
    * Shape: the signature subplan runs once; two broadcast-or-shuffle
    * joins attach each side's numPerm-column row to the (small) pair
    * set; the comparison is a codegen'd per-row sum of equalities — no
    * shingle explosion anywhere near the pairs. */
  def minHashEstimate(docs: DataFrame, idCol: String, text: Column,
      pairs: DataFrame, k: Int, numPerm: Int): DataFrame = {
    val sig = minHashSignatures(docs, idCol, text, k, numPerm)
    val matches = (0 until numPerm)
      .map(p => when(col(s"a.mh$p") === col(s"b.mh$p"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sig.as("a"), col("doc_a") === col("a.doc"))
      .join(sig.as("b"), col("doc_b") === col("b.doc"))
      .select(col("doc_a"), col("doc_b"),
        round(matches.cast(DoubleType) / numPerm, 6).as("jaccard_est"))
  }

  /** b-bit minwise hashing (Li & König 2010, "b-Bit Minwise Hashing"):
    * store only the LOWEST b bits of each MinHash slot — a 64/b-fold
    * signature-storage compression (the paper's point: at web scale
    * the signature store dominates, and 2-bit slots with ~4× more
    * permutations beat full-width slots at equal storage) — and
    * correct the estimate for accidental low-bit collisions. With
    * collision probability C = 1/2^b for non-matching slots, E[A] =
    * C + (1−C)·J, so Ĵ = (A − C)/(1 − C); in exact integers over
    * `numPerm` slots that is `(n_agree·2^b − numPerm) · 1e6 div
    * (numPerm·(2^b − 1))`, clamped at zero BEFORE the division (both
    * engines' integer division agrees on non-negative operands; a
    * negative numerator would expose truncate-vs-floor divergence).
    *
    * Output per pair: the full-width agreement count and estimate
    * (the [[minHashEstimate]] baseline) next to the b-bit agreement
    * and corrected estimate — the compression trade-off as data.
    * Shape: the signature subplan runs once (checkpointed), two joins
    * attach it to the pair set, everything else is a codegen'd per-row
    * integer fold. */
  def bbitMinwiseEstimate(docs: DataFrame, idCol: String, text: Column,
      pairs: DataFrame, k: Int, numPerm: Int, b: Int): DataFrame = {
    require(b >= 1 && b <= 16, "b in [1, 16]")
    val m = 1L << b
    // joined on both sides of the pair set
    val sig = materialize(
      minHashSignatures(docs, idCol, text, k, numPerm))._1
    val agreeFull = (0 until numPerm)
      .map(p => when(col(s"a.mh$p") === col(s"b.mh$p"), 1L).otherwise(0L))
      .reduce(_ + _)
    val agreeB = (0 until numPerm)
      .map(p => when(col(s"a.mh$p") % m === col(s"b.mh$p") % m, 1L)
        .otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sig.as("a"), col("doc_a") === col("a.doc"))
      .join(sig.as("b"), col("doc_b") === col("b.doc"))
      .select(col("doc_a"), col("doc_b"),
        agreeFull.as("n_agree_full"), agreeB.as("n_agree_b"))
      .select(col("doc_a"), col("doc_b"),
        col("n_agree_full"), col("n_agree_b"),
        expr(s"n_agree_full * 1000000 div $numPerm").as("est_full_micro"),
        expr(s"greatest(0, n_agree_b * $m - $numPerm) * 1000000 div " +
          s"(${numPerm.toLong * (m - 1)})").as("est_b_micro"))
  }

  /** [[minHashCandidates]] and [[minHashEstimate]] fused into ONE pass:
    * the full signature rides through the banding aggregation next to
    * its doc id, and the within-bucket pair generator
    * ([[graft.functions.SigAgreePairs]]) counts agreeing signature
    * positions while it enumerates, so the Jaccard estimate costs zero
    * extra scans, joins, or shuffles over candidate generation alone.
    *
    * Versus composing the two operators (`minHashEstimate(docs, ...,
    * minHashCandidates(docs, ...))`): the composition plans the
    * signature subplan THREE times — once under the candidate pipeline
    * and once per join side re-attaching signatures to the emitted
    * pairs — and only runtime exchange reuse may dedupe them. Here it
    * is structurally once. The price is a wider banding shuffle (each
    * (doc, band) row carries the `numPerm`-long signature); at
    * numPerm = 16 that is 128 bytes/row against a shuffle it removes
    * two joins from — the right trade at any scale.
    *
    * A pair surviving in multiple bands is emitted once per band with
    * the same (signature-determined) agreement count; the final
    * group-by collapses duplicates exactly where [[minHashCandidates]]
    * runs its `distinct()`. Same estimator as [[minHashEstimate]]:
    * `round(n_agree / numPerm, 6)`, unbiased for the true Jaccard. */
  def minHashCandidatesWithEstimate(df: DataFrame, idCol: String, text: Column,
      k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val sig = minHashSignatures(df, idCol, text, k, numPerm)
    val sigArr = array((0 until numPerm).map(p => col(s"mh$p")): _*)
    val banded = sig.select(col("doc"), sigArr.as("sig"),
      explode(bandStructs(numPerm, bands)).as("band"))
      .select(col("doc"), col("sig"), col("band.band_idx"), col("band.band_hash"))
    banded.groupBy("band_idx", "band_hash")
      .agg(collect_list(struct(col("doc"), col("sig"))).as("entries"))
      .filter(size(col("entries")).between(2, maxBucket))
      .select(graft.functions.Native.sigAgreePairs(col("entries"))
        .as(Seq("doc_a", "doc_b", "n_agree")))
      // max == min == the only value: n_agree is a pure function of the
      // two signatures, identical from every band that emits the pair
      .groupBy("doc_a", "doc_b").agg(max(col("n_agree")).as("__n"))
      .select(col("doc_a"), col("doc_b"),
        round(col("__n").cast(DoubleType) / numPerm, 6).as("jaccard_est"))
  }

  /** Benchmark decontamination — the eval-set overlap check every
    * training corpus needs before release: a document is contaminated if
    * it shares at least one word `k`-shingle with any benchmark
    * document. Returns `(doc, n_contaminated)` — the count of DISTINCT
    * contaminated shingles per corpus doc (shingles are de-duplicated
    * per document by [[TextAnalysis.shingles]]); clean docs are absent
    * (filter with a left-anti join to drop contaminated ones).
    *
    * Scale shape: the benchmark side is small by construction (eval
    * sets, not corpora), so its distinct shingle set BROADCASTS; the
    * corpus scans once, narrow, and the only shuffle is the final
    * per-doc count. Shingle matching is an equi-join on the exact
    * shingle string — at 13-gram scale you'd swap the join key for
    * `Hashing.fingerprint(shingle)` to shrink the broadcast; the plan
    * shape is identical. */
  def decontaminate(docs: DataFrame, idCol: String, text: Column,
      bench: DataFrame, benchText: Column, k: Int = 5): DataFrame = {
    val docSh = Parallelism.ensure(docs.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__toks"))
      .select(col("doc"),
        explode(TextAnalysis.shinglesOfTokens(col("__toks"), k)).as("shingle"))
    // widen the bench side too: it is usually a narrow slice of a
    // single-row-group scan, and un-widened its whole shingle explode
    // runs as ONE task inside the broadcast build (423 ms serialized in
    // q124's profile, round 14). opaque pins the explode's inferred
    // size(arr)>0 filter above the widening exchange (the q141 trap).
    val benchSh = Parallelism.ensure(bench.select(benchText.as("__bt")))
      .select(TextAnalysis.tokens(col("__bt")).as("__btoks"))
      .select(explode(Parallelism.opaque(
        TextAnalysis.shinglesOfTokens(col("__btoks"), k))).as("shingle"))
      .distinct()
    docSh.join(broadcast(benchSh), "shingle")
      .groupBy("doc").agg(count(lit(1)).as("n_contaminated"))
  }

  /** Shared-passage clustering: [[connectedComponents]] over the
    * winnowing fingerprint graph — two docs edge when they share at
    * least `minShared` selected fingerprints
    * ([[TextAnalysis.winnowFingerprints]]' local guarantee: any common
    * `w+k-1`-token run shares one), and CC merges transitively. The
    * template/boilerplate family detector: where MinHash clusters
    * whole-document near-dups, this clusters documents stitched from
    * the SAME PASSAGES even when each document is globally dissimilar.
    *
    * Shape: per-row fingerprinting → one fingerprint-keyed posting
    * aggregate with the [[minHashCandidates]] degenerate-bucket cap
    * (`maxPostings` — a fingerprint shared by half the corpus is
    * boilerplate, not evidence, and would fan out O(bucket²)) → lazy
    * native pair generator → pair-count filter → the pinned-checkpoint
    * CC loop. */
  def passageClusters(docs: DataFrame, idCol: String, text: Column,
      k: Int = 4, w: Int = 4, minShared: Long = 2L,
      maxPostings: Int = 10000, maxIter: Int = 10): DataFrame = {
    require(minShared >= 1L, "minShared must be at least 1")
    val fps = TextAnalysis.winnowFingerprints(docs, idCol, text, k, w)
    val buckets = fps.groupBy("fingerprint")
      .agg(collect_list(col("doc")).as("docs"))
      .filter(size(col("docs")).between(2, maxPostings))
    val pairs =
      if (minShared == 1L)
        // connectivity-only threshold: a per-bucket STAR to the
        // bucket's min doc reaches the SAME connected components as
        // all-pairs — every bucket member is connected through the hub
        // — with O(|bucket|) edges instead of O(|bucket|²). The
        // quadratic form cliffs on big boilerplate families (a
        // 2,900-doc family at the 10× rehearsal mints 4.2M pairs per
        // shared fingerprint; at 100 TB a million-doc family would be
        // 5·10¹¹) — the star is the scale-correct construction
        // (round 12). minShared > 1 genuinely needs per-pair
        // multiplicities, so the pair generator below remains its path.
        buckets
          .select(array_min(col("docs")).as("doc_a"),
            explode(col("docs")).as("doc_b"))
          .filter(col("doc_a") =!= col("doc_b"))
          .distinct()
      else buckets
        .select(graft.functions.Native.idPairs(col("docs"))
          .as(Seq("doc_a", "doc_b")))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= minShared)
        .select("doc_a", "doc_b")
    connectedComponents(pairs, maxIter)
  }

  /** Exact directional containment verification (Broder 1997, "On the
    * resemblance and containment of documents" — public): for every
    * banded-MinHash candidate pair, the exact one-way containments
    * `C(A,B) = |S_A ∩ S_B| / |S_A|` and `C(B,A)` over the true shingle
    * sets. The SUBSUMPTION detector symmetric Jaccard cannot be: a
    * short document quoted whole inside a long one scores Jaccard
    * ≈ |A|/|B| (small) but containment C(A,B) ≈ 1 — the verification
    * stage that separates "near-identical twins" from
    * "one-swallowed-the-other" before choosing a dedup survivor.
    * Ratios cross engines as exact integers (`n·1e6 div |S|`).
    *
    * Shape: the capped candidate set bounds everything — shingles
    * re-explode ONLY for docs appearing in a candidate pair (semi
    * join), land in an eager checkpoint consumed by the two
    * intersection sides and the size table, and the intersection join
    * moves Σ_pairs |S_A ∩ S_B| rows, never a corpus cross. Candidate
    * pairs with NO true shared shingle (a band-hash collision) keep a
    * row with zero containment — the false-positive evidence, not a
    * silent drop. */
  def containmentVerify(df: DataFrame, idCol: String, text: Column,
      k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val cand = materialize(minHashCandidates(df, idCol, text, k, numPerm,
      bands, maxBucket))._1
    val ids = cand.select(col("doc_a").as("doc"))
      .union(cand.select(col("doc_b").as("doc"))).distinct()
    // widen BEFORE computing shingles: the raw projection repartitions
    // (a single-row-group scan is one task), the broadcast semi-join
    // preserves the width, and the shingle build + explode run wide —
    // un-widened, the whole re-explode pinned to one 2.4 s task
    // (measured at sf0.1, DevProfile)
    // sizes + both intersection sides
    val ex = materialize(Parallelism.ensure(
        df.select(col(idCol).as("doc"), text.as("__t")))
      .join(ids, Seq("doc"), "left_semi")
      // two-step token binding: an inlined tokens(__t) re-splits once
      // per shingle inside the HOF lambda (round-6 trap)
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__toks"))
      .select(col("doc"),
        explode(TextAnalysis.shinglesOfTokens(col("__toks"), k)).as("s")))._1
    val sizes = ex.groupBy("doc").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(ex.select(col("doc").as("doc_a"), col("s")), Seq("doc_a"))
      .join(ex.select(col("doc").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__ni"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("__ni"))
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("__ni").as("n_shared"),
        col("n_a"), col("n_b"),
        expr("__ni * 1000000 div n_a").as("cont_a_micro"),
        expr("__ni * 1000000 div n_b").as("cont_b_micro"))
  }

  /** Leakage-safe train/val/test assignment — split by NEAR-DUP
    * COMPONENT, not by document (Lee et al. 2022 §6's warning, public:
    * near-duplicates straddling a train/test boundary inflate eval
    * scores; the fix every careful corpus split ships is to assign
    * whole dup clusters to one side). Every document keys on its
    * near-dup component's canonical id (its own id when it duplicates
    * nothing), and the split is the md5-hash of that key mod 10 —
    * 8/1/1 train/val/test, deterministic, engine-portable, stable
    * under re-ingestion.
    *
    * Shape: the banded-candidate + pinned-checkpoint CC machinery
    * ([[minHashCandidates]] → [[connectedComponents]]), one left join
    * back onto the corpus id set, and a narrow hash map — no new
    * corpus-scale stage beyond what clustering already costs. */
  def leakageSafeSplit(df: DataFrame, idCol: String, text: Column,
      k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      maxBucket: Int = 10000, maxIter: Int = 10): DataFrame = {
    val comps = connectedComponents(
      minHashCandidates(df, idCol, text, k, numPerm, bands, maxBucket),
      maxIter)
    val keyed = df.select(col(idCol).as("doc"))
      .join(comps, Seq("doc"), "left")
      .withColumn("split_key", coalesce(col("component"), col("doc")))
    val bucket = pmod(Hashing.hexLong(col("split_key").cast("string")),
      lit(10L))
    keyed.select(col("doc"), col("split_key"),
      when(bucket < 8L, lit("train"))
        .when(bucket === 8L, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Dataset-level overlap matrix via MinHash signature agreement: the
    * Jaccard similarity between the UNION shingle sets of every pair of
    * document GROUPS (sources, crawls, snapshots), estimated as the
    * fraction of agreeing signature slots — the O(|groups|²·numPerm)
    * "how much does crawl B re-scrape crawl A" diagnostic that would
    * otherwise need a full cross-corpus shingle join. One row per
    * unordered group pair with the agreement count and the estimate.
    *
    * Shape: [[minHashSignatures]] keyed by the GROUP column (the min
    * over a group's shingles IS the min over the union of its docs'
    * shingle sets — no per-doc stage needed), producing a
    * |groups|-sized table; the pair comparison is a deliberate small
    * non-equi self-join of that statistics-sized table (|groups|² rows
    * total — groups are sources/crawls, thousands at most, never
    * corpus-scale). */
  def signatureOverlap(docs: DataFrame, groupCol: String, text: Column,
      k: Int = 5, numPerm: Int = 16): DataFrame = {
    // the |groups|-sized signature table is consumed by BOTH sides of
    // the pair self-join — checkpoint it so the corpus-sized shingle
    // explode behind it runs ONCE, not once per side (tiny table,
    // eager materialization is free; without it a 100 TB corpus would
    // scan twice)
    val sig = materialize(
      minHashSignatures(docs, groupCol, text, k, numPerm))._1
    val agree = (0 until numPerm)
      .map(p => when(col(s"a.mh$p") === col(s"b.mh$p"), 1L).otherwise(0L))
      .reduce(_ + _)
    sig.as("a").join(sig.as("b"), col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("source_a"), col("b.doc").as("source_b"),
        agree.as("n_agree"),
        round(agree.cast(DoubleType) / numPerm, 6).as("jaccard_est"))
  }

  /** Incremental-ingest near-dedup: which NEW documents (rows where
    * `isNew`) near-duplicate the EXISTING corpus — the nightly-shard
    * question ("what of today's crawl is already in the lake") asked
    * WITHOUT re-clustering the lake: candidate pairs come from the
    * usual banded MinHash pass over the union, and only pairs CROSSING
    * the shard boundary survive; same-side pairs (old∼old, new∼new)
    * are the full-compaction's business, not ingest's. One row per
    * matched new doc with its match count and the smallest existing
    * match id (the canonical it would collapse into).
    *
    * Scale shape: [[minHashCandidates]]' two shuffles + two key-sized
    * flag joins (unhinted — broadcast when the id table fits, co-hash
    * otherwise) + one aggregate on the pair table. At a real lake the
    * existing side's signatures/bands are precomputed and persisted;
    * the semantics here are the contract that path must preserve. */
  def incrementalNearDups(df: DataFrame, idCol: String, text: Column,
      isNew: Column, k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val cand = minHashCandidates(df, idCol, text, k, numPerm, bands, maxBucket)
    val flags = df.select(col(idCol).as("__id"), isNew.as("__new"))
    cand
      .join(flags.select(col("__id").as("doc_a"), col("__new").as("__na")),
        "doc_a")
      .join(flags.select(col("__id").as("doc_b"), col("__new").as("__nb")),
        "doc_b")
      .filter(col("__na") =!= col("__nb"))
      .select(
        when(col("__na"), col("doc_a")).otherwise(col("doc_b")).as("new_doc"),
        when(col("__na"), col("doc_b")).otherwise(col("doc_a"))
          .as("existing_doc"))
      .groupBy("new_doc")
      .agg(count(lit(1)).as("n_matches"),
        min(col("existing_doc")).as("closest_existing"))
  }

  /** Per-document n-gram novelty against a reference corpus — the
    * inverse of [[decontaminate]]'s contamination count: the fraction
    * of a document's DISTINCT `k`-shingles absent from the reference's
    * shingle set. The data-mixing signal for "how much does this shard
    * add": dedup-adjacent scoring (a near-copy of reference material
    * scores ~0, fresh text ~1) without hard-dropping anything.
    *
    * Shape (decontaminate's, plus a per-doc ratio): corpus shingles
    * explode over pre-split tokens, the reference set crosses as a
    * broadcast distinct (swap in fingerprints to shrink it at scale —
    * same note as decontaminate), one LEFT join marks membership, one
    * doc-keyed aggregate counts (total, novel). Every doc emits exactly
    * one row — short docs carry their whole-text shingle
    * ([[TextAnalysis.shingles]]' <k contract), so the group is never
    * empty. The ratio is quantized via floor(x·1e6 + 0.5) (round()
    * tie-breaking differs across engines). */
  def noveltyScore(docs: DataFrame, idCol: String, text: Column,
      reference: DataFrame, refText: Column, k: Int = 5): DataFrame = {
    val docSh = Parallelism.ensure(
      docs.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__toks"))
      .select(col("doc"),
        explode(TextAnalysis.shinglesOfTokens(col("__toks"), k)).as("shingle"))
    val refSh = reference
      .select(TextAnalysis.tokens(refText).as("__rtoks"))
      .select(explode(TextAnalysis.shinglesOfTokens(col("__rtoks"), k))
        .as("shingle"))
      .distinct()
      .select(col("shingle"), lit(true).as("__seen"))
    docSh.join(broadcast(refSh), Seq("shingle"), "left")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc"), col("n_shingles"), col("n_novel"),
        (floor(col("n_novel").cast(DoubleType) / col("n_shingles")
          * 1000000.0 + 0.5).cast(DoubleType) / 1000000.0).as("novelty"))
  }

  /** Segment-level frequency dedup — the RefinedWeb/Gopher "repeated
    * lines" filter generalized to fixed word windows: a segment
    * ([[TextAnalysis.chunks]] of `segWords`, no overlap) that appears in
    * at least `maxDocFreq` DISTINCT documents is boilerplate and is
    * struck from every document; each document is re-assembled from its
    * surviving segments in order (a document losing everything survives
    * as an empty string — it is the caller's filter decision, not this
    * operator's).
    *
    * Scale shape: segmentation is a narrow per-row expression (no
    * shuffle) over a PRE-SPLIT token column ([[TextAnalysis.chunksOfTokens]]
    * — inlining the split into the window lambda re-ran it per chunk,
    * ~10× the explode cost); the document-frequency aggregate is ONE
    * hash shuffle on the segment with map-side partial aggregation; the
    * frequent-segment set is then SMALL BY CONSTRUCTION (segments
    * repeated across ≥ `maxDocFreq` documents — boilerplate, headers,
    * license blobs) and crosses as a broadcast LEFT join whose match
    * flag feeds the re-assembly aggregate directly, so the corpus is
    * never shuffled to discover what to remove, and per-doc totals come
    * out of the SAME aggregate (counting all segments, collecting only
    * unflagged ones) instead of a second corpus scan + join; re-assembly
    * is one shuffle on the doc id. Every doc has ≥ 1 segment
    * ([[TextAnalysis.chunks]] yields at least one chunk, null text
    * included), so the per-doc group loses nothing the old
    * totals-left-join preserved. At a corpus where the frequent set
    * could outgrow a broadcast (pathologically low `maxDocFreq` over
    * 100 TB), drop the `broadcast` hint and let AQE pick the join — the
    * plan stays a flag join either way. */
  def segmentDedup(df: DataFrame, idCol: String, text: Column,
      segWords: Int = 5, maxDocFreq: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val segs = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__toks"))
      .select(col("doc"),
        posexplode(TextAnalysis.chunksOfTokens(col("__toks"), segWords, 0))
          .as(Seq("seg_idx", "seg")))
    val frequent = segs.groupBy("seg")
      .agg(count_distinct(col("doc")).as("__df"))
      .filter(col("__df") >= maxDocFreq)
      .select(col("seg"), lit(true).as("__boiler"))
    // one pass: flag boilerplate, then a single per-doc aggregate both
    // counts every segment (the totals the old plan re-derived from a
    // second size(chunks) scan) and re-assembles the unflagged ones in
    // order (collect_list skips the nulled-out flagged entries)
    segs.join(broadcast(frequent), Seq("seg"), "left")
      .groupBy("doc")
      .agg(
        array_sort(collect_list(when(col("__boiler").isNull,
          struct(col("seg_idx"), col("seg"))))).as("__ordered"),
        count(lit(1)).as("__n_total"))
      .select(col("doc").as(idCol),
        array_join(transform(col("__ordered"), s => s.getField("seg")), " ")
          .as("clean_text"),
        size(col("__ordered")).cast(LongType).as("n_kept"),
        (col("__n_total") - size(col("__ordered"))).cast(LongType)
          .as("n_removed"))
  }

  /** Sentence-level exact-duplicate strike — the C4 cleaning rule
    * (Raffel et al. 2020 §2.2, public: "we discarded any ... duplicate
    * lines/sentences across the dataset") in the [[segmentDedup]] shape
    * but keyed on REAL sentence boundaries: text splits on terminal
    * punctuation runs (`[.!?]+` plus trailing whitespace), each trimmed
    * non-empty sentence is the dedup unit, and a sentence appearing in
    * at least `maxDocFreq` DISTINCT documents (boilerplate, footers,
    * nav text) is struck from every document; documents re-assemble
    * from surviving sentences in order, re-joined with ". ". A document
    * that loses everything survives as the empty string; a document
    * with NO sentences (null/empty text) has nothing to dedup and is
    * not emitted.
    *
    * Scale shape (identical to [[segmentDedup]], argued there): the
    * sentence split is a narrow per-row expression — the array
    * projection is pinned with [[Parallelism.opaque]] because the
    * Generate-inferred `size(arr) > 0` predicate would otherwise push
    * the whole split below the widening exchange onto the single scan
    * task (the round-8 q144 trap, now CI-gated by StageAudit); the
    * document-frequency aggregate is ONE hash shuffle on the sentence
    * with map-side combine; the frequent set is small by construction
    * and crosses as a broadcast flag join; re-assembly is one shuffle
    * on the doc id. */
  def sentenceDedup(df: DataFrame, idCol: String, text: Column,
      maxDocFreq: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val sents = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), Parallelism.opaque(
        filter(transform(split(col("__t"), "[.!?]+\\s*"), s => trim(s)),
          s => s =!= lit(""))).as("__ss"))
      .select(col("doc"), posexplode(col("__ss")).as(Seq("sent_idx", "sent")))
    val frequent = sents.groupBy("sent")
      .agg(count_distinct(col("doc")).as("__df"))
      .filter(col("__df") >= maxDocFreq)
      .select(col("sent"), lit(true).as("__boiler"))
    sents.join(broadcast(frequent), Seq("sent"), "left")
      .groupBy("doc")
      .agg(
        array_sort(collect_list(when(col("__boiler").isNull,
          struct(col("sent_idx"), col("sent"))))).as("__ordered"),
        count(lit(1)).as("__n_total"))
      .select(col("doc").as(idCol),
        array_join(transform(col("__ordered"), s => s.getField("sent")), ". ")
          .as("clean_text"),
        size(col("__ordered")).cast(LongType).as("n_kept"),
        (col("__n_total") - size(col("__ordered"))).cast(LongType)
          .as("n_removed"))
  }

  /** Exact duplicate-substring spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", §3 ExactSubstr): every
    * OVERLAPPING k-token window whose content occurs at least `minCount`
    * times in the corpus marks its token range as duplicated; a doc's
    * overlapping marked ranges merge into maximal spans — the cut list
    * an exact-substring dedup pass would remove. Unlike [[segmentDedup]]
    * (non-overlapping segments, strike-everywhere) this is
    * position-aware: it reports WHERE the duplicated run sits, with
    * windows straddling a boilerplate boundary naturally excluded
    * (their context differs per doc).
    *
    * Windows travel as 56-bit md5-derived hashes, not strings — the
    * frequency shuffle carries 8 bytes/window instead of the window
    * text (the paper's suffix array serves the same role: dedup at
    * corpus scale without moving the text twice).
    *
    * Shape: one windowed-hash explode → frequency hash aggregate
    * (map-side combined, hash-keyed) → equi-join of positions against
    * the duplicated set → per-doc interval merge on the (doc)-keyed
    * exchange ([[Temporal.mergeIntervals]]). No driver state; the only
    * per-group ordering is a doc's own duplicated windows.
    *
    * Output: doc, span_id (1-based per doc, position order), start_tok /
    * end_tok (inclusive 0-based token indices), n_windows (duplicated
    * windows merged into the span). Adjacent-but-disjoint spans (gap of
    * exactly k tokens' worth of unique content) stay separate. */
  def duplicateSpans(df: DataFrame, idCol: String, text: Column,
      k: Int, minCount: Long = 2L): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    require(minCount >= 2, "minCount < 2 would mark every window")
    val toks = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__w"))
    val sh = toks.filter(size(col("__w")) >= k)
      .select(col("doc"), explode(
        transform(sequence(lit(0), size(col("__w")) - k), i =>
          struct(i.cast(org.apache.spark.sql.types.LongType).as("pos"),
            Hashing.hexLong(concat_ws(" ", slice(col("__w"), i + 1, lit(k))))
              .as("h")))).as("__s"))
      .select(col("doc"), col("__s.pos").as("pos"), col("__s.h").as("h"))
    val dup = sh.groupBy("h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select("h")
    // no broadcast hint: the duplicated set is corpus-dependent (can be
    // huge on a boilerplate-heavy crawl) — let the planner/AQE decide
    val hits = sh.join(dup, "h")
      .select(col("doc"), col("pos").as("__iv_s"),
        (col("pos") + lit((k - 1).toLong)).as("__iv_e"))
    Temporal.mergeIntervals(hits, "doc", "__iv_s", "__iv_e")
      .select(col("doc"), col("island").as("span_id"),
        col("window_start").as("start_tok"),
        col("window_end").as("end_tok"),
        col("n_intervals").as("n_windows"))
  }

  /** Exact n-gram Jaccard similarity for a candidate pair set (the
    * verify step after LSH banding): explode shingles, count
    * intersections via an equi-join on the shingle, divide by union. */
  def ngramJaccard(docs: DataFrame, idCol: String, text: Column,
      pairs: DataFrame, k: Int = 3): DataFrame = {
    // same single-partition trap as every shingle-exploding operator
    // here: small parquet scans as ONE task without the widening
    val sh = Parallelism.ensure(docs.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__toks"))
      .select(col("doc"),
        explode(TextAnalysis.shinglesOfTokens(col("__toks"), k)).as("shingle"))
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc") &&
        col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast(DoubleType) /
          (col("za.n_sh") + col("zb.n_sh") - col("n_inter")), 6).as("jaccard"))
  }

  /** Exact tf-WEIGHTED Jaccard for a candidate pair set —
    * Σ_t min(tf_a,tf_b) / Σ_t max(tf_a,tf_b) over TOKEN FREQUENCIES
    * (the generalized/weighted Jaccard similarity, the quantity
    * Ioffe 2010's consistent weighted sampling estimates; computed
    * here exactly). The repetition-aware verify step that
    * [[ngramJaccard]]'s distinct-shingle Jaccard structurally misses:
    * a doc that repeats its boilerplate footer 10× is tf-close to
    * another footer-heavy doc while their DISTINCT-token sets barely
    * differ from clean docs', and a one-liner contained in a long doc
    * set-overlaps heavily while its tf mass is a sliver of the union.
    *
    * Identity: Σmax = n_a + n_b − Σmin, so ONE equi-join on the token
    * computes Σmin = Σ_t least(tf_a, tf_b) and the per-doc token totals
    * supply the rest — exact longs until the final display division.
    * Scale shape: the tf table is a doc-partitioned narrow aggregate;
    * the pair join moves |pairs|·avg_distinct_tokens rows — pair-
    * scoped, never corpus². Pairs sharing no token report 0; a pair
    * with zero tf mass on BOTH sides reports NULL (0/0 is undefined,
    * not "identical"). */
  def weightedJaccard(docs: DataFrame, idCol: String, text: Column,
      pairs: DataFrame): DataFrame = {
    val tf = Parallelism.ensure(
        docs.filter(text.isNotNull)
          .select(col(idCol).as("doc"), text.as("__t")))
      // opaque: the Generate-inferred size(...)>0 predicate over a bare
      // tokens(__t) would substitute and push below the ensure exchange
      // onto the single scan task (the q141/q144 trap)
      .select(col("doc"),
        explode(Parallelism.opaque(TextAnalysis.tokens(col("__t"))))
          .as("token"))
      .groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val sizes = tf.groupBy("doc").agg(sum(col("tf")).as("n_tok"))
    val inter = pairs
      .join(tf.as("ta"), col("doc_a") === col("ta.doc"))
      .join(tf.as("tb"), col("doc_b") === col("tb.doc") &&
        col("ta.token") === col("tb.token"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("ta.tf"), col("tb.tf"))).as("n_min"))
    val na = coalesce(col("za.n_tok"), lit(0L))
    val nb = coalesce(col("zb.n_tok"), lit(0L))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_min"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc"), "left")
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc"), "left")
      .select(col("doc_a"), col("doc_b"), col("n_min"),
        (na + nb - col("n_min")).as("n_max"),
        when(na + nb - col("n_min") > 0L,
          round(col("n_min").cast(DoubleType) /
            (na + nb - col("n_min")), 6)).as("w_jaccard"))
  }

  /** Fragment stitching: find ordered fragment pairs whose k-token
    * boundary overlaps — A's LAST k tokens equal B's FIRST k (the crawl
    * re-assembly primitive: truncated fetches and paginated scrapes ship
    * as fragments with deliberate overlap, and the stitcher recovers the
    * join points before dedup ever sees the halves as "near-dups").
    * Pure key-equality semantics: every (a, b), a ≠ b, with
    * tail_k(a) = head_k(b) is reported with the shared boundary n-gram
    * and the stitched length `n_a + n_b - k`; coincidental boundary
    * matches are genuine key matches and surface honestly (the caller
    * filters by source/offset metadata it has and this operator
    * doesn't). Fragments shorter than k+1 tokens carry no usable
    * boundary and emit nothing — a k-token fragment would stitch on its
    * ENTIRE body, gluing chains.
    *
    * Scale shape: one narrow pass computes each fragment's two boundary
    * keys (no explode — two slice+concat projections), then ONE
    * equi-join on the k-gram key. Boundary-key collisions bound the
    * join fan-out the same way exact-dedup's fingerprint does; there is
    * no all-pairs stage. */
  def stitchFragments(frags: DataFrame, idCol: String, text: Column,
      k: Int = 5): DataFrame = {
    require(k >= 2, "k >= 2: a 1-token boundary stitches on stopwords")
    val toks = TextAnalysis.tokens(col("__t"))
    val keyed = Parallelism.ensure(
      frags.filter(text.isNotNull)
        .select(col(idCol).as("frag"), text.as("__t")))
      .select(col("frag"), size(toks).cast("long").as("__n"),
        concat_ws(" ", slice(toks, 1, k)).as("__head"),
        concat_ws(" ", slice(toks, -k, k)).as("__tail"))
      .filter(col("__n") >= k + 1)
    keyed.as("a").join(keyed.as("b"),
        col("a.__tail") === col("b.__head") &&
          col("a.frag") =!= col("b.frag"))
      .select(col("a.frag").as("left_id"), col("b.frag").as("right_id"),
        col("a.__tail").as("boundary"),
        (col("a.__n") + col("b.__n") - k).as("stitched_tokens"))
  }

  /** Exact set-similarity SELF-join by prefix filtering (AllPairs /
    * PPJoin family — Chaudhuri 2006 "A Primitive Operator for Similarity
    * Joins"; Vernica 2010 gives the MapReduce stage decomposition this
    * follows): every UNORDERED doc pair whose k-shingle Jaccard meets
    * `tauPct`/100, found WITHOUT enumerating all pairs and WITHOUT the
    * probabilistic misses of the MinHash/SimHash tier — the exact
    * complement to [[minHashCandidates]] when the contract is "no false
    * negatives" (e.g. a legal-hold dedup or a benchmark-decontamination
    * audit).
    *
    * The pruning identity: order the token universe by (df ASC, token
    * ASC) — rarest first — and keep each doc's first
    * `|T| - ceil(tau·|T|) + 1` tokens as its PREFIX. Two docs with
    * Jaccard ≥ tau share ≥ tau/(1+tau)·|T∪| tokens, more than each side
    * can exclude from its prefix, so every qualifying pair shares at
    * least one PREFIX token (Chaudhuri 2006 Lemma 1) — candidate
    * generation is an equi-join on prefix tokens only. The df-ascending
    * order makes those the RAREST tokens, so posting lists are short by
    * construction; `maxPostings` is the adversarial cap (a prefix token
    * in more than that many docs is dropped from candidate generation —
    * the [[minHashCandidates]] maxBucket trade, mirrored in the oracle:
    * a pair whose ONLY shared prefix token is capped is missed, and the
    * cap binding is a stress-harness concern, not a benign-corpus one).
    * The length filter (`100·min(|Ta|,|Tb|) ≥ tauPct·max(|Ta|,|Tb|)`,
    * integer-exact) prunes candidates before verification.
    *
    * Plan shape, 100 TB reading: one shingle explode (widened via
    * [[Parallelism.ensure]], projection pinned [[Parallelism.opaque]]
    * against the inferred-`size(arr)>0` pushdown trap), one token-keyed
    * df aggregate, one doc-keyed sort-collect (array per doc, no
    * window — WindowExec at ~1.3 µs/row is the thing to avoid on corpus
    * rows), a prefix-token equi-join bounded by capped rare-token
    * postings, and an array-intersect verification touching CANDIDATE
    * pairs only. Every stage is a bounded equi-join or map-side-partial
    * aggregate; nothing is all-pairs.
    *
    * Output: (doc_a < doc_b, overlap, jaccard) for pairs ≥ tau, with
    * `jaccard` quantized to 1e-6 by the shared floor(x·1e6+0.5)
    * contract. */
  def prefixFilterJoin(docs: DataFrame, idCol: String, text: Column,
      tauPct: Int, k: Int = 3, maxPostings: Long = 1000L): DataFrame = {
    require(tauPct >= 1 && tauPct <= 100, "tauPct in [1,100]")
    require(maxPostings >= 1L)
    // bind the token array to a REAL column before the shingle HOF:
    // passing tokens(__t) inline re-evaluates the split once per shingle
    // inside the transform lambda (no loop-invariant hoisting — the
    // round-6 trap, found live here in the r15 q208 plan dump)
    val sh = Parallelism.ensure(docs.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), TextAnalysis.tokens(col("__t")).as("__toks"))
      .select(col("doc"), explode(Parallelism.opaque(
        TextAnalysis.shinglesOfTokens(col("__toks"), k))).as("tk"))
    val df = sh.groupBy("tk").agg(count(lit(1)).as("__df"))
    // per-doc (df, token)-sorted array + length; aggregate, not window
    val perDoc = sh.join(df, "tk")
      .groupBy("doc")
      .agg(count(lit(1)).as("la"),
        array_sort(collect_list(struct(col("__df"), col("tk")))).as("__ts"))
    // prefix = first |T| - ceil(tau·|T|) + 1 rarest tokens;
    // ceil(tauPct·la/100) = (tauPct·la + 99) div 100, all-positive ints
    val pref = perDoc
      .select(col("doc"), col("la"),
        explode(slice(col("__ts"), lit(1),
          (col("la") - expr(s"($tauPct * la + 99) div 100") + lit(1))
            .cast("int"))).as("__p"))
      .select(col("doc"), col("la"),
        col("__p.__df").as("__df"), col("__p.tk").as("tk"))
      .filter(col("__df") <= maxPostings)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tk") === col("b.tk") && col("a.doc") < col("b.doc") &&
          lit(100) * least(col("a.la"), col("b.la")) >=
            lit(tauPct) * greatest(col("a.la"), col("b.la")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.la").as("la"), col("b.la").as("lb"))
      .distinct()
    // verification touches candidates only: per-pair sorted-array
    // intersect (arrays bounded by doc length)
    val arrs = perDoc.select(col("doc"),
      transform(col("__ts"), s => s.getField("tk")).as("__tok"))
    cand
      .join(arrs.as("xa"), col("doc_a") === col("xa.doc"))
      .join(arrs.as("xb"), col("doc_b") === col("xb.doc"))
      .select(col("doc_a"), col("doc_b"), col("la"), col("lb"),
        size(array_intersect(col("xa.__tok"), col("xb.__tok")))
          .cast("long").as("overlap"))
      .filter(lit(100) * col("overlap") >=
        lit(tauPct) * (col("la") + col("lb") - col("overlap")))
      .select(col("doc_a"), col("doc_b"), col("overlap"),
        (floor(col("overlap").cast(DoubleType) /
          (col("la") + col("lb") - col("overlap")) * 1e6 + 0.5) / 1e6)
          .as("jaccard"))
  }

  /** LSH recall/precision audit — the calibration check a production
    * dedup pipeline ships next to its banding parameters: ground truth
    * is the EXACT set-similarity join ([[prefixFilterJoin]], no false
    * negatives inside its documented `maxPostings` cap), candidates
    * are the [[minHashCandidates]] banding, and the audit row reports
    * how the banding's S-curve actually lands on THIS corpus —
    * `n_true` τ-pairs, `n_cand` banding pairs, `n_hit` their
    * intersection, exact-integer recall (hit/true) and precision
    * (hit/cand) in micro units. Measured, not assumed: the
    * 1−(1−J^r)^b theory curve says nothing about a corpus whose J mass
    * sits on the curve's shoulder, and every banding parameter change
    * should re-run this audit before it ships.
    *
    * Scale shape: both sides are the library's own capped bucket/
    * prefix equi-joins (never all-pairs); the reconciliation is one
    * full-outer join on canonical (doc_a < doc_b) pairs and a global
    * aggregate to ONE row. Zero-denominator cases surface as NULL
    * rather than a fake 0 or 100%. */
  /** LSH banding operating-point sweep — the recall/precision GRID a
    * production pipeline freezes its banding from ([[lshRecallAudit]]
    * audits one operating point; this audits every `(bands, rows)`
    * split of the same `numPerm`-permutation signature budget). One
    * output row per grid point: the banding's measured recall and
    * precision against the exact τ truth on THIS corpus — the
    * empirical S-curve sweep that replaces reading values off the
    * theoretical 1−(1−J^r)^b chart.
    *
    * Cost shape — everything expensive runs ONCE: signatures are
    * computed once and every grid point's bands explode out of the
    * same signature row (`|grid| · bands` structs per doc, hashes of
    * already-computed slots — no re-shingling, no re-md5 of shingles);
    * ground truth is one [[prefixFilterJoin]]; the reconciliation is
    * one full-outer join keyed by (grid point, pair) and one aggregate
    * to `|grid|` rows. Buckets stay capped per grid point (`maxBucket`
    * binds hardest at the r = 1 corner, where a single hot shingle
    * minimum herds a corpus fraction into one bucket — exactly the
    * degenerate mass a production sweep must exclude on BOTH sides,
    * cap mirrored in the oracle). */
  def lshBandingSweep(docs: DataFrame, idCol: String, text: Column,
      tauPct: Int, k: Int = 5, numPerm: Int = 16,
      bandGrid: Seq[Int] = Seq(1, 2, 4, 8, 16),
      maxBucket: Int = 10000, maxPostings: Long = 1000L): DataFrame = {
    require(bandGrid.nonEmpty && bandGrid.forall(b =>
      b >= 1 && b <= numPerm && numPerm % b == 0),
      s"every grid point must divide numPerm=$numPerm: $bandGrid")
    val sig = minHashSignatures(docs, idCol, text, k, numPerm)
    // all grid points' bands in ONE array: struct(bands, band_idx,
    // band_hash) — band_hash identical to bandStructs' definition
    val sweep = array(bandGrid.flatMap { b =>
      val rows = numPerm / b
      (0 until b).map { i =>
        struct(lit(b.toLong).as("bands"), lit(i).as("band_idx"),
          md5(concat_ws(",", (0 until rows).map(r =>
            col(s"mh${i * rows + r}")): _*)).as("band_hash"))
      }
    }: _*)
    val banded = sig.select(col("doc"), explode(sweep).as("bd"))
      .select(col("doc"), col("bd.bands").as("bands"),
        col("bd.band_idx").as("band_idx"), col("bd.band_hash").as("band_hash"))
    val cand = banded.groupBy("bands", "band_idx", "band_hash")
      .agg(collect_list(col("doc")).as("docs"))
      .filter(size(col("docs")).between(2, maxBucket))
      .select(col("bands"),
        graft.functions.Native.idPairs(col("docs")).as(Seq("doc_a", "doc_b")))
      .distinct()
      .withColumn("__c", lit(1L))
    val truth = prefixFilterJoin(docs, idCol, text, tauPct, k, maxPostings)
      .select(col("doc_a"), col("doc_b"),
        explode(array(bandGrid.map(b => lit(b.toLong)): _*)).as("bands"),
        lit(1L).as("__t"))
    val agg = truth.join(cand, Seq("bands", "doc_a", "doc_b"), "full_outer")
      .groupBy("bands")
      .agg(sum(coalesce(col("__t"), lit(0L))).as("__nt"),
        sum(coalesce(col("__c"), lit(0L))).as("__nc"),
        sum(when(col("__t").isNotNull && col("__c").isNotNull,
          1L).otherwise(0L)).as("__nh"))
    // grid skeleton: every operating point reports a row even when a
    // degenerate corpus yields zero pairs on both sides (the q206
    // empty-corpus contract, per grid point)
    val grid = docs.sparkSession.range(1)
      .select(explode(array(bandGrid.map(b => lit(b.toLong)): _*)).as("bands"))
    grid.join(broadcast(agg), Seq("bands"), "left")
      .select(col("bands"), (lit(numPerm.toLong) / col("bands"))
          .cast("long").as("rows_per_band"),
        coalesce(col("__nt"), lit(0L)).as("n_true"),
        coalesce(col("__nc"), lit(0L)).as("n_cand"),
        coalesce(col("__nh"), lit(0L)).as("n_hit"))
      .select(col("bands"), col("rows_per_band"),
        col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") > 0L, expr("n_hit * 1000000 div n_true"))
          .as("recall_micro"),
        when(col("n_cand") > 0L, expr("n_hit * 1000000 div n_cand"))
          .as("precision_micro"))
  }

  def lshRecallAudit(docs: DataFrame, idCol: String, text: Column,
      tauPct: Int, k: Int = 5, numPerm: Int = 16, bands: Int = 4,
      maxBucket: Int = 10000, maxPostings: Long = 1000L): DataFrame = {
    val truth = prefixFilterJoin(docs, idCol, text, tauPct, k, maxPostings)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__t"))
    val cand = minHashCandidates(docs, idCol, text, k, numPerm, bands,
        maxBucket)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(coalesce(sum(coalesce(col("__t"), lit(0L))), lit(0L))
          .as("n_true"),
        coalesce(sum(coalesce(col("__c"), lit(0L))), lit(0L))
          .as("n_cand"),
        coalesce(sum(when(col("__t").isNotNull && col("__c").isNotNull,
          1L).otherwise(0L)), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") > 0L, expr("n_hit * 1000000 div n_true"))
          .as("recall_micro"),
        when(col("n_cand") > 0L, expr("n_hit * 1000000 div n_cand"))
          .as("precision_micro"))
  }
}
