/** Bounded-memory cardinality and frequency sketches.
  *
  * The reference has no approximate analytics (its only aggregation is
  * a pandas groupBy, /root/reference/lime_survey_orders_shipped.py:69);
  * this module adds the sketch family a 100 TB pipeline needs when the
  * exact answer is an executor-memory bomb:
  *
  *  - [[linearCountDistinct]] — Whang et al.'s linear counting:
  *    COUNT(DISTINCT) with shuffle state bounded by `m` registers per
  *    group instead of one row per distinct value.
  *  - [[hllDistinct]] — Flajolet et al.'s HyperLogLog: the same bound
  *    with m as small as 64, at ~1.04/√m relative error.
  *  - [[countMinEstimates]] — Cormode–Muthukrishnan count–min sketch:
  *    frequency point-estimates from a d×w counter matrix (never
  *    underestimates; overestimates by bucket collisions only).
  *
  * NULL keys are dropped before sketching (SQL COUNT(DISTINCT) /
  * frequency-count semantics: NULL contributes no cardinality and no
  * occurrences) — without the explicit filter, Spark's groupBy would
  * keep a NULL register group that DuckDB's COUNT(DISTINCT) ignores,
  * and Spark's NULL-propagating concat would diverge from DuckDB's
  * NULL-skipping one inside the hash.
  *
  * Engine-parity notes (these feed the DuckDB oracle):
  *  - All hashing is [[Hashing.hexLong]] (md5-derived, bit-identical in
  *    both engines); Spark-only hashes are never used in output.
  *  - The HLL harmonic sum Σ 2^(−M_j) is computed in EXACT scaled
  *    integers: Σ 2^(51−M_j) with M_j ∈ [1, 51] over ≤64 registers is
  *    at most 64·2^50 = 2^56, which a signed long holds exactly — the
  *    cross-engine double fold-order trap (CLAUDE.md) never arises.
  *    The one long→double conversion rounds nearest-even identically
  *    in the JVM and in C, and the final ÷2^51 is a power of two
  *    (exact). `ln` crosses engines inside round(…, 6) like the PMI /
  *    entropy / LM oracles.
  *
  * Scale shape: every sketch is one hash-partitioned aggregation with
  * map-side partial combine; what crosses the wire per group is O(m)
  * (registers) or O(d·w) (counters), never O(distinct values).
  */
package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShims.materialize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

import graft.functions.Hashing

object Sketches {

  /** Linear counting (Whang/Vander-Zanden/Taylor 1990): hash each key
    * into one of `m` registers, count occupied registers `v`, estimate
    * distinct = m·ln(m/(m−v)). Returns one row per group:
    * (grp…, registers_hit, est_distinct) — est is NULL when the sketch
    * saturates (v = m), the honest "cardinality ≫ m" signal.
    *
    * The groupBy(grp, register) pre-aggregation means the shuffle
    * carries at most m rows per group however many input rows hit it —
    * the whole point vs exact COUNT(DISTINCT), whose shuffle carries
    * every distinct value. */
  def linearCountDistinct(df: DataFrame, grp: Seq[String], key: Column,
      m: Int = 4096): DataFrame = {
    val reg = Hashing.hexLong(concat(lit("lc:"), key.cast(StringType))) % m
    df.filter(key.isNotNull)
      .select(grp.map(col) :+ reg.as("__reg"): _*)
      .distinct() // occupied registers — two-level agg, no Expand rewrite
      .groupBy(grp.map(col): _*)
      .agg(count(lit(1)).as("registers_hit"))
      .select(grp.map(col) :+ col("registers_hit") :+
        round(when(col("registers_hit") < m,
          lit(m.toDouble) * log(lit(m.toDouble) /
            (lit(m.toLong) - col("registers_hit")).cast(DoubleType))), 6)
          .as("est_distinct"): _*)
  }

  /** HyperLogLog parameters for the 56-bit [[Hashing.hexLong]] hash:
    * p=6 → m=64 registers from the low bits; the remaining 50 bits feed
    * the rank, so ρ ∈ [1, 51] (51 = "suffix all zeros"). */
  val HllM = 64
  private val HllRhoMax = 51
  /** α_64 · 64² as a shared double literal — rendered with
    * Double.toString into BOTH the Spark plan and the oracle SQL so the
    * two engines parse the identical value. */
  val HllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM
  private val HllPow51 = 1L << HllRhoMax

  /** HyperLogLog (Flajolet et al. 2007) distinct estimate per group,
    * m=64 registers: register = hash mod 64, ρ = leading-zero rank of
    * the 50-bit suffix, register value M = max ρ. Estimate
    * α·m²/Σ2^(−M_j); when the raw estimate is ≤ 2.5m and some register
    * is still empty, the standard small-range correction switches to
    * linear counting over register occupancy. Output mirrors
    * [[linearCountDistinct]]: (grp…, registers_hit, est_distinct).
    *
    * Two narrow hash-aggregations, both map-side combined: 64 register
    * rows per group cross the first shuffle, one row the second. */
  def hllDistinct(df: DataFrame, grp: Seq[String], key: Column): DataFrame = {
    val m = HllM
    val h = Hashing.hexLong(concat(lit("hll:"), key.cast(StringType)))
    val suffix = shiftrightunsigned(h, 6)
    val rho = when(suffix === 0L, lit(HllRhoMax))
      .otherwise(lit(HllRhoMax) - length(bin(suffix)))
    val regs = df.filter(key.isNotNull)
      .select(grp.map(col) :+ (h % m).as("__reg") :+ rho.as("__rho"): _*)
      .groupBy((grp :+ "__reg").map(col): _*).agg(max(col("__rho")).as("__m"))
    // the Scala shiftleft() wrapper takes only a literal shift; the SQL
    // ShiftLeft expression accepts a column exponent
    val agg = regs.groupBy(grp.map(col): _*).agg(
      count(lit(1)).as("registers_hit"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($HllRhoMax - __m AS INT))"))
        .as("__s"))
    // harmonic denominator: occupied registers' Σ2^(51-M) plus 2^51
    // (= 2^-0 scaled) for each empty register — exact long arithmetic
    val zScaled = col("__s") +
      (lit(m.toLong) - col("registers_hit")) * lit(HllPow51)
    val estRaw = lit(HllAlphaM2) /
      (zScaled.cast(DoubleType) / lit(HllPow51.toDouble))
    val est = when(estRaw <= lit(2.5 * m) && col("registers_hit") < m,
      lit(m.toDouble) * log(lit(m.toDouble) /
        (lit(m.toLong) - col("registers_hit")).cast(DoubleType)))
      .otherwise(estRaw)
    agg.select(grp.map(col) :+ col("registers_hit") :+
      round(est, 6).as("est_distinct"): _*)
  }

  /** Count–min sketch (Cormode–Muthukrishnan 2005) frequency estimates:
    * build the d×w counter matrix over a token stream, then answer the
    * point query for every distinct token as min over its d counters.
    * Returns (token, n_true, est_cms); est_cms ≥ n_true always, with
    * equality unless the token collides in all d rows.
    *
    * The exact per-token pre-count is NOT cheating: incrementing
    * counters per occurrence and per pre-combined (token, count) row is
    * the same sum, and the pre-combine is what a map-side partial agg
    * does anyway. n_true rides along for free and makes the
    * overestimate auditable. The d×w matrix (≤ a few KB) is broadcast
    * back onto the token list, so the estimate join is shuffle-free;
    * Spark reuses the token-count exchange for both subtrees. */
  def countMinEstimates(tokens: DataFrame, tokCol: String,
      d: Int = 4, w: Int = 256): DataFrame = {
    val tc = tokens.filter(col(tokCol).isNotNull)
      .groupBy(col(tokCol)).agg(count(lit(1)).as("n_true"))
    val rows = tc.select(col(tokCol), col("n_true"),
      posexplode(array((0 until d).map(i =>
        Hashing.hexLong(concat(lit(s"$i:cms:"), col(tokCol))) % w): _*))
        .as(Seq("__i", "__b")))
    val sketch = rows.groupBy(col("__i"), col("__b"))
      .agg(sum(col("n_true")).as("__c"))
    rows.join(broadcast(sketch), Seq("__i", "__b"))
      .groupBy(col(tokCol), col("n_true"))
      .agg(min(col("__c")).as("est_cms"))
  }

  /** Pairwise HLL set-operation overlap (Flajolet 2007 §4's union
    * mergeability + inclusion–exclusion: HLL registers max-merge, so
    * `|A∪B|` comes from the merged sketch and `|A∩B| ≈ |A|+|B|−|A∪B|`
    * — the SKETCH twin of q129's exact source-overlap matrix, the form
    * that survives when the slices no longer fit a shuffle): per slice
    * ONE dense m-register row (64 longs), pair join bounded by
    * |slices|², every estimate an in-row fold — after the one
    * register aggregation the corpus is gone.
    *
    * Estimator parity with [[hllDistinct]] bit for bit: same md5
    * register/rho split, exact-integer harmonic sums (empty register =
    * 2^51 falls out of the dense fold at rho 0), same small-range
    * linear-counting correction. Downstream arithmetic uses the
    * ROUNDED estimates (round 6), so the oracle reproduces the
    * intersection and Jaccard from its own rounded values — no
    * unrounded double ever crosses an operator boundary. Intersection
    * clamps at 0 (inclusion–exclusion on sketches can go negative);
    * the clamp is part of the contract. */
  def hllOverlap(df: DataFrame, sliceCol: String, key: Column): DataFrame = {
    val m = HllM
    val h = Hashing.hexLong(concat(lit("hll:"), key.cast(StringType)))
    val suffix = shiftrightunsigned(h, 6)
    val rho = when(suffix === 0L, lit(HllRhoMax))
      .otherwise(lit(HllRhoMax) - length(bin(suffix)))
    val dense = df.filter(key.isNotNull && col(sliceCol).isNotNull)
      .select(col(sliceCol).as("__s"), (h % m).as("__reg"),
        rho.cast(LongType).as("__rho"))
      .groupBy("__s", "__reg").agg(max(col("__rho")).as("__m"))
      .groupBy("__s")
      .agg(sort_array(collect_list(struct(col("__reg"), col("__m"))))
        .as("__sp"))
      .withColumn("__arr", expr(s"transform(sequence(0, ${m - 1}), " +
        "r -> coalesce(element_at(map_from_entries(__sp), " +
        "CAST(r AS BIGINT)), 0L))"))
      .select(col("__s"), col("__arr"))
    def est(arr: String): Column = {
      val hits = expr(
        s"aggregate($arr, 0L, (a, x) -> a + IF(x > 0L, 1L, 0L))")
      val z = expr(s"aggregate($arr, 0L, (a, x) -> " +
        s"a + shiftleft(CAST(1 AS BIGINT), CAST($HllRhoMax - x AS INT)))")
      val estRaw = lit(HllAlphaM2) /
        (z.cast(DoubleType) / lit(HllPow51.toDouble))
      round(when(estRaw <= lit(2.5 * m) && hits < m,
        lit(m.toDouble) *
          log(lit(m.toDouble) / (lit(m.toLong) - hits).cast(DoubleType)))
        .otherwise(estRaw), 6)
    }
    dense.as("a").join(dense.as("b"), col("a.__s") < col("b.__s"))
      .select(col("a.__s").as("source_a"), col("b.__s").as("source_b"),
        col("a.__arr").as("__aa"), col("b.__arr").as("__ab"))
      .withColumn("__mg", expr(
        "zip_with(__aa, __ab, (x, y) -> greatest(x, y))"))
      .select(col("source_a"), col("source_b"),
        est("__aa").as("est_a"), est("__ab").as("est_b"),
        est("__mg").as("est_union"))
      .withColumn("est_intersection",
        round(greatest(lit(0.0), col("est_a") + col("est_b") -
          col("est_union")), 6))
      .withColumn("jaccard_est",
        round(col("est_intersection") / col("est_union"), 6))
  }

  /** DDSketch-style mergeable quantile sketch (Masson et al. 2019's
    * relative-error buckets, binary-exponent flavor): each positive
    * long value lands in the bucket keyed by its EXPONENT and top
    * `subBits` mantissa bits —
    * `shift = max(bitlen(v)−1−subBits, 0)`, `m = v >> shift`, bucket
    * range `[m<<shift, ((m+1)<<shift)−1]` — so bucket width is
    * ≤ 2^−subBits of the value: the quantile estimate's RELATIVE error
    * is bounded by the sketch, not by a fixed grid. Unlike the exact
    * percentile (q41's full-data histogram selection), the shuffled
    * state here is O(#buckets) per group (≤ 64·subBits² in practice,
    * independent of n), the counts are trivially MERGEABLE (sum), and
    * the whole structure streams — this is the quantile you actually
    * compute at 100 TB.
    *
    * All bucketing is exact integer bit arithmetic (`bin()` length /
    * `to_base(v,2)` length on the oracle side — no cross-engine log2),
    * the quantile rank is `max(1, ceil(n·q_micro/1e6))` as all-positive
    * integer ceil-division, and the estimate is the arithmetic bucket
    * midpoint `(lo+hi) div 2`. The answer bucket per (group, q) is the
    * FIRST bucket whose cumulative count reaches the rank; buckets are
    * disjoint ordered ranges, so `min(lo)`/`min(hi)` over the
    * qualifying set name the same bucket (no struct-argmin
    * SortAggregate). The cum-count window runs over the sketch table
    * only — statistics-sized, never the corpus. NULL and non-positive
    * values carry no quantile evidence and are excluded (mirror in any
    * re-implementation). */
  def ddsketchQuantiles(df: DataFrame, grp: Seq[String], valCol: Column,
      subBits: Int, qMicros: Seq[Long]): DataFrame =
    ddsketchExtract(ddsketchBuckets(df, grp, valCol, subBits), grp, qMicros)

  /** The sketch-build half of [[ddsketchQuantiles]]: one hash-aggregated
    * bucket-count table keyed (group, shift, m) — exactly the mergeable
    * state a STREAMING window can emit per watermark close (counts sum
    * across shards/batches by construction). */
  def ddsketchBuckets(df: DataFrame, grp: Seq[String], valCol: Column,
      subBits: Int): DataFrame = {
    val g = grp.map(col)
    withDdsketchBucket(
        df.filter(valCol.isNotNull && (valCol > 0L))
          .select(g :+ valCol.cast(LongType).as("__v"): _*), subBits)
      .groupBy(g :+ col("__shift") :+ col("__m"): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /** The exponent/mantissa-bit bucket key over a positive-long `__v`
    * column — the ONE implementation every sketch-grid consumer
    * ([[ddsketchBuckets]], [[ddsketchKS]]) shares. */
  private[operators] def withDdsketchBucket(df: DataFrame,
      subBits: Int): DataFrame = {
    require(subBits >= 1 && subBits <= 16, "subBits out of range")
    df.withColumn("__shift",
        greatest(length(bin(col("__v"))) - 1 - subBits, lit(0))
          .cast(IntegerType))
      .withColumn("__m", expr("shiftright(__v, __shift)"))
  }

  /** Kolmogorov–Smirnov two-sample statistic on the sketch grid
    * (Kolmogorov 1933 / Smirnov 1939: D = max |F_ref − F_cur| — the
    * bin-free distribution-drift test beside [[Temporal.psiDrift]]'s
    * binned divergence; PSI weighs WHERE mass moved, KS bounds the
    * worst single CDF gap). Computed exactly on the DDSketch-quantized
    * values: both periods bucket on the SHARED [[withDdsketchBucket]]
    * grid in one conditional pass (this IS the exact KS of the
    * quantized data — the quantization, ≤2^−subBits relative, is the
    * operator's stated resolution), then
    * `D = max |cumr·n_cur − cumc·n_ref|` over bucket boundaries as
    * exact longs and `ks_micro = D·1e6 div (n_ref·n_cur)` on positive
    * mass. The cumulative window runs over the per-group SKETCH table
    * only. Long bound: cum·n ≤ n², so n·1e3 must fit a long —
    * fine to ~3e7 rows per group per period at micro output; shard
    * groups beyond that. NULL/non-positive values excluded; groups
    * need both periods represented or KS is undefined (excluded). */
  def ddsketchKS(df: DataFrame, grpCol: String, isRef: Column,
      valCol: Column, subBits: Int = 8): DataFrame = {
    val base = df
      .filter(col(grpCol).isNotNull && isRef.isNotNull &&
        valCol.isNotNull && (valCol > 0L))
      .select(col(grpCol).as("g"), isRef.as("__ref"),
        valCol.cast(LongType).as("__v"))
    val buckets = withDdsketchBucket(base, subBits)
      .groupBy(col("g"), col("__shift"), col("__m"))
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("__cr"),
        sum(when(!col("__ref"), 1L).otherwise(0L)).as("__cc"))
      .withColumn("__lo", expr("shiftleft(__m, __shift)"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("__lo"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"))
    buckets // sketch-sized windows
      .withColumn("__cumr", sum(col("__cr")).over(wCum))
      .withColumn("__cumc", sum(col("__cc")).over(wCum))
      .withColumn("__nr", sum(col("__cr")).over(wAll))
      .withColumn("__nc", sum(col("__cc")).over(wAll))
      .filter(col("__nr") > 0L && col("__nc") > 0L)
      .groupBy(col("g"), col("__nr").as("n_ref"), col("__nc").as("n_cur"))
      .agg(max(abs(col("__cumr") * col("__nc") -
        col("__cumc") * col("__nr"))).as("__d"))
      .select(col("g"), col("n_ref"), col("n_cur"),
        expr("__d * 1000000 div (n_ref * n_cur)").as("ks_micro"))
  }

  /** Cardinality-sketch accuracy audit — the [[ddsketchAccuracyAudit]]
    * discipline applied to the HLL tier: [[hllDistinct]]'s estimates
    * reconciled against the exact per-group count-distinct. (CMS —
    * [[countMinEstimates]] — carries `n_true` by construction and
    * needs no separate audit; HLL is the one estimator whose truth the
    * declared output never showed.) `err` is the SIGNED relative error
    * `round((est − true)/true, 6)`; `within_3sigma` flags
    * |err| ≤ 3·1.04/√m — the published HLL standard error (Flajolet
    * et al. 2007), 0.39 at m = 64 — REPORTED, not enforced: the bound
    * is probabilistic, and an honest audit shows where the corpus
    * lands rather than filtering to the flattering subset. Exact half
    * is one count-distinct hash aggregate — the audit you run on the
    * validation slice before trusting the sketch fleet-wide. */
  def hllAccuracyAudit(df: DataFrame, grp: Seq[String],
      key: Column): DataFrame = {
    val sk = hllDistinct(df, grp, key)
    val exact = df.filter(key.isNotNull)
      .groupBy(grp.map(col): _*)
      .agg(countDistinct(key).as("n_true"))
    sk.join(exact, grp)
      .withColumn("err",
        round((col("est_distinct") - col("n_true")) / col("n_true"), 6))
      .withColumn("within_3sigma",
        // 3·(1.04/√m) HLL standard-error bound, derived from HllM so it
        // tracks the register count (0.39 at m = 64), rounded to the
        // 2-decimal display quantum the oracle mirrors
        when(abs(col("err")) <=
          math.rint(3 * 1.04 / math.sqrt(HllM) * 100) / 100,
          lit(1L)).otherwise(lit(0L)))
      .select(grp.map(col) ++ Seq(col("n_true"), col("registers_hit"),
        col("est_distinct"), col("err"), col("within_3sigma")): _*)
  }

  /** Exact φ-heavy hitters via the two-pass Misra–Gries shape — the
    * deterministic top-item primitive next to [[countMinEstimates]]'
    * point estimates: per group, EVERY item whose frequency reaches
    * ⌈n·φ⌉ with its EXACT count, computed without ever materializing
    * the full (group, item) frequency table.
    *
    * Pass 1 runs [[graft.functions.MisraGriesCandidates]] with
    * k = ⌊10⁶/φ_micro⌋ + 1 counters per group — O(k) state regardless
    * of group cardinality, map-side mergeable — whose invariant
    * (undercount ≤ n/(k+1), so every item with freq > n/(k+1) survives;
    * k+1 > 1/φ makes every ⌈n·φ⌉-frequent item such an item) guarantees
    * the candidate array is a SUPERSET of the answer. Pass 2 rescores
    * ONLY the ≤ k·|groups| candidates exactly (one size-gated broadcast
    * semi-join + hash count) and applies the threshold. The MG summary
    * itself is merge-order-dependent below the threshold; the rescored,
    * thresholded output is a pure function of the data — which is why
    * only pass 2's result is declarable. NULL items carry no frequency
    * evidence and are excluded (they still don't count toward n). */
  def heavyHitters(df: DataFrame, grp: Seq[String], itemCol: Column,
      phiMicro: Long): DataFrame = {
    require(phiMicro >= 1 && phiMicro <= 1000000L,
      "phi must be in (0, 1] micro")
    val k = (1000000L / phiMicro).toInt + 1
    val g = grp.map(col)
    val base = df.filter(itemCol.isNotNull)
      .select(g :+ itemCol.as("item"): _*)
    val cand = base.groupBy(g: _*)
      .agg(graft.functions.Native.misraGriesCandidates(col("item"), k)
        .as("__cands"), count(lit(1)).as("n"))
    val candItems = cand.select(
      g :+ col("n") :+ explode(col("__cands")).as("item"): _*)
    val freq = base
      .join(broadcast(candItems.select((g :+ col("item")): _*)),
        grp :+ "item", "leftsemi")
      .groupBy((grp :+ "item").map(col): _*)
      .agg(count(lit(1)).as("freq"))
    candItems.join(freq, grp :+ "item")
      .withColumn("threshold",
        expr(s"greatest(1, (n * $phiMicro + 999999) div 1000000)"))
      .filter(col("freq") >= col("threshold"))
      .select(g ++ Seq(col("item"), col("freq"), col("n"),
        col("threshold")): _*)
  }

  /** Sketch-accuracy audit — [[ddsketchQuantiles]]' estimates
    * RECONCILED against the exact nearest-rank statistics per
    * (group, quantile): the calibration row a 100 TB deployment ships
    * NEXT TO its sketch (the q206/q208 audit discipline applied to the
    * quantile tier — theory says the relative error is ≤ 2^−subBits;
    * the audit MEASURES it on this corpus and proves the exact value
    * landed inside the answer bucket). Columns: the sketch's `est`,
    * the exact value at rank max(1, ceil(n·q)) (computed over the
    * DISTINCT-VALUE table — the q190/q194 shape, windows over value
    * resolution, never corpus rows), `rel_err_micro` =
    * |est − exact|·1e6 div exact as exact longs, and `within_bucket`
    * (1 when exact ∈ [bucket_lo, bucket_hi] — the DDSketch containment
    * guarantee, which must hold unconditionally). The exact half makes
    * this an AUDIT query — run it on the validation slice that fits
    * exact selection, then trust the sketch on the 100 TB corpus. */
  def ddsketchAccuracyAudit(df: DataFrame, grp: Seq[String], valCol: Column,
      subBits: Int, qMicros: Seq[Long]): DataFrame = {
    val g = grp.map(col)
    // ONE corpus pass: the distinct-value table (g, __v, __c) is a
    // sufficient statistic for BOTH halves — the sketch's bucket
    // counts are Σ __c per (g, shift, m) over it, identical to
    // counting raw rows — so the audit aggregates the corpus once
    // (widened: the partial agg otherwise runs on the raw scan's few
    // tasks — a 0.4 s serialized stage at sf0.1, round 12) and
    // checkpoints only the value-resolution-sized result for the two
    // derived branches (lazy sharing re-runs the corpus pass per
    // broadcast branch — the q212 margin lesson).
    val dv = materialize(Parallelism.ensure(
        df.filter(valCol.isNotNull && (valCol > 0L))
          .select(g :+ valCol.cast(LongType).as("__v"): _*))
      .groupBy(g :+ col("__v"): _*).agg(count(lit(1)).as("__c")))._1
    val sk = ddsketchExtract(
      withDdsketchBucket(dv, subBits)
        .groupBy(g :+ col("__shift") :+ col("__m"): _*)
        .agg(sum(col("__c")).as("__c")),
      grp, qMicros)
    // exact nearest-rank via histogram selection (the
    // [[Quantiles.quantileContBucketed]] shape): a per-group cumulative
    // window over the distinct-VALUE table caps parallelism at
    // |groups| and ranks every value row — bucket the values instead,
    // find each target rank's bucket on the tiny cumulative histogram,
    // and rank only the candidate bucket's rows. Same selected values
    // bit-for-bit: exact = min __v with cumulative count >= target.
    val bucketWidth = 1L << 14
    val dvb = dv.withColumn("__b", expr(s"__v div $bucketWidth"))
    val hist = dvb.groupBy(g :+ col("__b"): _*)
      .agg(sum(col("__c")).as("__hc"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__b"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*)
    val targets = hist
      .withColumn("__cumb", sum(col("__hc")).over(wCum))
      .withColumn("__n", sum(col("__hc")).over(wAll))
      .select(g ++ Seq(col("__b"), col("__hc"), col("__cumb"),
        col("__n")) :+
        explode(array(qMicros.map(q => lit(q)): _*)).as("q_micro"): _*)
      .withColumn("__t",
        greatest(lit(1L), expr("(__n * q_micro + 999999) div 1000000")))
      .filter(col("__t") > col("__cumb") - col("__hc") &&
        col("__t") <= col("__cumb"))
      .select(g ++ Seq(col("__b"), col("q_micro"), col("__t"),
        (col("__cumb") - col("__hc")).as("__startc")): _*)
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy((g :+ col("q_micro")): _*).orderBy(col("__v"))
    val exact = dvb.join(broadcast(targets), grp :+ "__b")
      .withColumn("__cum", col("__startc") + sum(col("__c")).over(wLoc))
      .filter(col("__cum") >= col("__t"))
      .groupBy(g :+ col("q_micro"): _*)
      .agg(min(col("__v")).as("exact"))
    sk.join(exact, grp :+ "q_micro")
      .select(g ++ Seq(col("q_micro"), col("n"), col("est"), col("exact"),
        expr("abs(est - exact) * 1000000 div exact").as("rel_err_micro"),
        when(col("exact").between(col("bucket_lo"), col("bucket_hi")),
          lit(1L)).otherwise(lit(0L)).as("within_bucket")): _*)
  }

  /** The read-time half: quantile extraction over a persisted/sunk
    * bucket table (columns `__shift`, `__m`, `__c` + group columns;
    * duplicate bucket rows — e.g. one per micro-batch — are re-merged
    * first, the mergeability contract). Windows here run over the
    * SKETCH table only, never the corpus. */
  def ddsketchExtract(bucketRows: DataFrame, grp: Seq[String],
      qMicros: Seq[Long]): DataFrame = {
    require(qMicros.nonEmpty && qMicros.forall(q => q >= 1 && q <= 1000000),
      "quantiles must be in (0, 1] micro")
    val g = grp.map(col)
    val buckets = bucketRows
      .groupBy(g :+ col("__shift") :+ col("__m"): _*)
      .agg(sum(col("__c")).as("__c"))
      .withColumn("__lo", expr("shiftleft(__m, __shift)"))
      .withColumn("__hi", expr("shiftleft(__m + 1L, __shift) - 1L"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__lo"))
    val cum = buckets // sketch-sized: the window never sees the corpus
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(g: _*)))
      .withColumn("n_buckets", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(g: _*)))
    val sp = bucketRows.sparkSession
    import sp.implicits._
    cum.crossJoin(broadcast(qMicros.toDF("q_micro")))
      .withColumn("__r",
        greatest(lit(1L), expr("(n * q_micro + 999999) div 1000000")))
      .filter(col("__cum") >= col("__r"))
      .groupBy(g :+ col("q_micro") :+ col("n") :+ col("n_buckets"): _*)
      .agg(min(col("__lo")).as("bucket_lo"), min(col("__hi")).as("bucket_hi"))
      .withColumn("est", expr("(bucket_lo + bucket_hi) div 2"))
  }
}
