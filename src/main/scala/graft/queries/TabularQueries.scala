package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._
import graft.functions.Hashing
import graft.sinks.Warehouse

/** T3 tabular queries: sketches, quantiles, sampling, data-quality
  * gates, change data capture, grouping sets and layout audits
  * (`Sketches`, `Quantiles`, `Relational`, `Quality`, `Warehouse`). */
object TabularQueries {
  import Common._

  /** The q93 HLL estimate chain (m = 64, exact-integer harmonic sum,
    * linear-counting small-range correction) over an arbitrary group
    * expression — shared by q93 and the q217 accuracy audit, which
    * must reconcile against the IDENTICAL rounded estimate. */
  private def hllEstimateSql(grpExpr: String, outName: String): String = {
    val h = sqlHexLong("concat('hll:', CAST(user_id AS VARCHAR))")
    val alpha = Sketches.HllAlphaM2.toString
    s"""WITH h AS (SELECT $grpExpr AS g, $h AS hv FROM events
         WHERE user_id IS NOT NULL),
       b AS (SELECT g, hv % 64 AS reg, hv // 64 AS suf FROM h),
       r AS (SELECT g, reg,
             max(CASE WHEN suf = 0 THEN 51
                 ELSE 51 - length(bin(suf)) END) AS mr
             FROM b GROUP BY 1, 2),
       a AS (SELECT g, CAST(count(*) AS BIGINT) AS registers_hit,
             CAST(sum(CAST(1 AS BIGINT) << CAST(51 - mr AS INTEGER))
               AS BIGINT) AS s
             FROM r GROUP BY 1),
       f AS (SELECT g, registers_hit,
             CAST(s + (64 - registers_hit) * (CAST(1 AS BIGINT) << 51)
               AS DOUBLE) / CAST(2251799813685248 AS DOUBLE) AS z
             FROM a)
       SELECT g AS $outName, registers_hit,
         round(CASE WHEN CAST('$alpha' AS DOUBLE) / z <= CAST(160 AS DOUBLE)
                    AND registers_hit < 64
           THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE)
             / (64 - registers_hit))
           ELSE CAST('$alpha' AS DOUBLE) / z END, 6) AS est_distinct
       FROM f"""
  }

  val all: Seq[Query] = Seq(
    // per-source corpus datasheet (Gebru 2018; the Dodge 2021 C4
    // profile): size, token volume, mean doc length, exact-duplicate
    // exposure, language spread, null-text count. The corpus has zero
    // organic exact-dup texts (probed round 4), so the %41 stratum
    // ships one shared body — 13 docs across 13 of the 20 sources —
    // and the cross-source duplicate column provably fires both ways
    Query("q165_datasheet", (s, d) => {
      val spiked = when(col("doc_id") % 41 === 0,
        lit("duplicate boilerplate page about spark tables and joins"))
        .otherwise(col("text"))
      Quality.datasheet(Tables.documents(s, d), "source", "doc_id",
        spiked, col("lang"))
        .withColumnRenamed("slice", "source")
    },
      // same spike, same md5 fingerprint identity, same micro ratios
      """WITH d AS (SELECT source, lang,
           CASE WHEN doc_id % 41 = 0
             THEN 'duplicate boilerplate page about spark tables and joins'
             ELSE text END AS t
         FROM documents),
         p AS (SELECT source, lang, md5(t) AS fp,
           CASE WHEN t IS NULL THEN 0
                ELSE len(string_split(t, ' ')) END AS nt,
           CASE WHEN t IS NULL THEN 0 ELSE length(t) END AS nc
         FROM d),
         f AS (SELECT fp, count(*) AS c FROM p WHERE fp IS NOT NULL
               GROUP BY 1)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(sum(nt) * 1000000 // count(*) AS BIGINT)
             AS mean_toks_micro,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS dup_micro,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(CASE WHEN fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_text,
           CAST(sum(nc) AS BIGINT) AS n_chars
         FROM p LEFT JOIN f USING (fp) GROUP BY source"""),

    // CDC merge: a synthetic change batch (two update versions for
    // overlapping keys + inserts at shifted keys) applied to orders with
    // MERGE semantics — one union + one max_by aggregate (a sort
    // aggregate: struct buffers are not hash-aggregable), no join.
    // The batch is derived deterministically from the corpus so both
    // merge paths (update wins by version, insert lands) provably fire.
    Query("q77_merge_upsert", (s, d) => {
      val t = Tables.orders(s, d)
      val upd1 = t.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("R"))
        .withColumn("o_totalprice", col("o_totalprice") * 1.05)
        .withColumn("__v", lit(1L))
      val upd2 = t.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_orderstatus", lit("R2"))
        .withColumn("o_totalprice", col("o_totalprice") * 1.10)
        .withColumn("__v", lit(2L))
      // insert keys shift by 1e10 — ABOVE every real orderkey at every
      // corpus this runs on including the 10x rehearsal (ScaleUp ids
      // < 2^31): the old +1e8 offset collided with replica-1's real
      // keys at sf1 and manufactured (key, version) merge ties
      val ins = t.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000000L)
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("__v", lit(1L))
      Relational.mergeUpsert(t, upd1.unionByName(upd2).unionByName(ins),
          Seq("o_orderkey"), col("__v"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
    },
      """WITH src AS (
           SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
             o_totalprice * CAST(1.05 AS DOUBLE) AS o_totalprice, o_orderdate, 1 AS v
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, 'R2',
             o_totalprice * CAST(1.10 AS DOUBLE), o_orderdate, 2
           FROM orders WHERE o_orderkey % 20 = 0
           UNION ALL
           SELECT o_orderkey + 10000000000, o_custkey, 'N',
             o_totalprice, o_orderdate, 1
           FROM orders WHERE o_orderkey % 97 = 0),
         s1 AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY o_orderkey ORDER BY v DESC) AS rn FROM src)
           WHERE rn = 1),
         m AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM s1
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
           FROM orders t
           WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.o_orderkey = t.o_orderkey))
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate FROM m"""),

    // Bloom semi-join reduction: lineitem probed against a sketch of the
    // selective orders subset before the join — identical result to the
    // plain join (the oracle IS the plain join), smaller shuffle
    Query("q79_bloom_join", (s, d) => {
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").as("ok"), col("o_totalprice"))
      Bloom.prefilterJoin(Tables.lineitem(s, d), dim, "l_orderkey", "ok",
          expectedKeys = 20000L)
        .select(col("l_orderkey"),
          col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_quantity"), col("o_totalprice"))
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         l_quantity, o_totalprice
         FROM lineitem JOIN (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderpriority = '1-URGENT'
             AND o_totalprice > CAST(400000.0 AS DOUBLE)) o
         ON l_orderkey = o_orderkey"""),

    // incremental aggregate maintenance: per-customer rollup computed as
    // base-partition aggregate + delta-partition aggregate MERGED by the
    // re-aggregation algebra (sum-of-sums / sum-of-counts / max-of-maxes)
    // — the oracle recomputes from raw rows, so the hash gate proves the
    // merge is exact. At 100 TB the base partial is a persisted artifact;
    // only the delta touches raw data.
    Query("q80_incremental_agg", (s, d) => {
      val o = Tables.orders(s, d)
      val cut = lit(ts("1997-01-01 00:00:00"))
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_custkey").agg(
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("__cents"),
          max(col("o_orderdate")).as("__last"))
      Relational.mergePartialAggs(
          Seq(partial(o.filter(col("o_orderdate") < cut)),
            partial(o.filter(col("o_orderdate") >= cut))),
          Seq("o_custkey"),
          sumCols = Seq("n_orders", "__cents"), maxCols = Seq("__last"))
        .select(col("o_custkey"), col("n_orders"),
          fromCents(col("__cents"), 2).as("total_spend"),
          date_format(col("__last"), "yyyy-MM-dd").as("last_order"))
    },
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         strftime(max(o_orderdate), '%Y-%m-%d') AS last_order
         FROM orders GROUP BY 1"""),

    // per-source fixed-size deterministic sample (reservoir-style, but
    // reproducible): rank by a pure key hash through the bounded
    // two-phase top-k — balanced k-per-stratum without a corpus sort
    Query("q82_reservoir", (s, d) =>
      Relational.topKPerGroup(
        Tables.documents(s, d).withColumn("__score",
          (Hashing.hexLong(concat(lit("rsv:"), col("doc_id")))
            % lit(1099511627776L)).cast("double")),
        Seq("source"), col("__score"), col("doc_id"), 5)
        .select(col("source"), col("id").as("doc_id"),
          col("rank").cast(LongType).as("sample_rank")),
      {
      val h = sqlHexLong("concat('rsv:', CAST(doc_id AS VARCHAR))")
      s"""WITH s AS (SELECT source, doc_id,
           CAST($h % 1099511627776 AS DOUBLE) AS score FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
           ORDER BY score DESC, doc_id) AS rn FROM s)
         SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank
         FROM r WHERE rn <= 5"""
    }),

    // declarative data-quality gate: five expectations over orders in
    // ONE conditional-aggregation pass (the price cap provably fires on
    // this corpus — ~4% of orders exceed it)
    Query("q83_expectations", (s, d) =>
      Quality.expectations(Tables.orders(s, d), Seq(
        "price_nonneg" -> (col("o_totalprice") >= 0.0),
        "price_below_cap" -> (col("o_totalprice") < 450000.0),
        "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
        "date_in_window" ->
          (col("o_orderdate") >= lit(ts("1992-01-01 00:00:00")) &&
            col("o_orderdate") < lit(ts("1999-01-01 00:00:00"))),
        "custkey_present" -> col("o_custkey").isNotNull)),
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN NOT coalesce(o_totalprice >= 0.0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
           CAST(sum(CASE WHEN NOT coalesce(o_totalprice < 450000.0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
           CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), false) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
           CAST(sum(CASE WHEN NOT coalesce(o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
             AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00', false) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
           CAST(sum(CASE WHEN NOT coalesce(o_custkey IS NOT NULL, false) THEN 1 ELSE 0 END) AS BIGINT) AS v4
           FROM orders)
         SELECT * FROM (
           SELECT 'price_nonneg' AS rule, v0 AS n_violations, n_rows,
             CAST(v0 AS DOUBLE) / n_rows AS violation_rate FROM t
           UNION ALL SELECT 'price_below_cap', v1, n_rows, CAST(v1 AS DOUBLE) / n_rows FROM t
           UNION ALL SELECT 'status_domain', v2, n_rows, CAST(v2 AS DOUBLE) / n_rows FROM t
           UNION ALL SELECT 'date_in_window', v3, n_rows, CAST(v3 AS DOUBLE) / n_rows FROM t
           UNION ALL SELECT 'custkey_present', v4, n_rows, CAST(v4 AS DOUBLE) / n_rows FROM t)"""),

    // unpivot: the four lineitem measures to long form — one Expand
    // pass, no shuffle (the inverse of q47's pivot)
    Query("q88_unpivot", (s, d) =>
      Relational.melt(Tables.lineitem(s, d),
          Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("l_orderkey"),
          col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("metric"), col("value")),
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           'l_quantity' AS metric, l_quantity AS value FROM lineitem
         UNION ALL SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
           'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
           'l_discount', l_discount FROM lineitem
         UNION ALL SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
           'l_tax', l_tax FROM lineitem"""),

    // blocked fuzzy match: part names within edit distance 2, compared
    // only within a brand (plus the length band) — entity resolution
    // without an all-pairs join
    Query("q89_fuzzy_match", (s, d) =>
      Relational.fuzzySelfJoin(Tables.part(s, d), "p_partkey", "p_name",
        Seq("p_brand"), maxDist = 2, maxCell = 2048),
      """WITH pf AS (SELECT * FROM (SELECT p_partkey, p_name, p_brand,
             COUNT(*) OVER (PARTITION BY p_brand, length(p_name) // 3)
               AS __cn FROM part) WHERE __cn <= 2048)
         SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
         FROM pf a JOIN pf b
         ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
           AND abs(length(a.p_name) - length(b.p_name)) <= 2
         WHERE levenshtein(a.p_name, b.p_name) <= 2"""),

    // weighted sample without replacement (A-ES exponential race):
    // top-50 docs by the hash-derandomized race key, win probability
    // proportional to n_chars — the length-weighted mixing draw
    Query("q90_weighted_sample", (s, d) =>
      Relational.topKPerGroup(
        Tables.documents(s, d).withColumn("__score",
          TextAnalysis.weightedSampleScore(col("doc_id"), col("n_chars")))
          .withColumn("__g", lit(0L)),
        Seq("__g"), col("__score"), col("doc_id"), 50)
        // + 0.0 folds IEEE -0.0 to +0.0 (exact for every other value):
        // DuckDB's round keeps the sign of a tiny negative, Spark's
        // BigDecimal path drops it — normalize on BOTH sides
        .select(col("id").as("doc_id"),
          (round(col("score"), 6) + lit(0.0)).as("w_score"),
          col("rank").cast(LongType).as("sample_rank")),
      {
      val h = sqlHexLong("concat('ws:', CAST(doc_id AS VARCHAR))")
      s"""WITH s AS (SELECT doc_id,
           ln(CAST($h % 1099511627776 + 1 AS DOUBLE) / CAST(1099511627776 AS DOUBLE))
             / CAST(n_chars AS DOUBLE) AS sc
           FROM documents),
         r AS (SELECT doc_id,
             round(sc, 6) + CAST(0 AS DOUBLE) AS w_score, row_number() OVER (
             ORDER BY sc DESC, doc_id) AS rn FROM s)
         SELECT doc_id, w_score, CAST(rn AS BIGINT) AS sample_rank
         FROM r WHERE rn <= 50"""
    }),

    // linear-counting distinct sketch: per-event-type distinct users
    // with shuffle state bounded by 4096 registers, not one row per
    // distinct user — the COUNT(DISTINCT) that survives 100 TB
    Query("q91_lc_distinct", (s, d) =>
      Sketches.linearCountDistinct(Tables.events(s, d), Seq("event_type"),
        col("user_id"), m = 4096),
      {
      val h = sqlHexLong("concat('lc:', CAST(user_id AS VARCHAR))")
      s"""WITH r AS (SELECT event_type, $h % 4096 AS reg FROM events
           WHERE user_id IS NOT NULL),
         v AS (SELECT event_type, CAST(count(DISTINCT reg) AS BIGINT)
               AS registers_hit FROM r GROUP BY 1)
         SELECT event_type, registers_hit,
           CASE WHEN registers_hit < 4096 THEN
             round(CAST(4096 AS DOUBLE)
               * ln(CAST(4096 AS DOUBLE) / (4096 - registers_hit)), 6)
           END AS est_distinct
         FROM v"""
    }),

    // count-min sketch point estimates over the bigram stream: a 4×256
    // counter matrix answers every frequency query; n_true rides along
    // so the (one-sided) overestimate is auditable
    Query("q92_cms_bigrams", (s, d) =>
      Sketches.countMinEstimates(
        wide(Tables.documents(s, d).select(col("text")))
          .select(TextAnalysis.tokens(col("text")).as("__toks"))
          .select(explode(
            TextAnalysis.bigramsFromTokens(col("__toks"))).as("bigram")),
        "bigram", d = 4, w = 256),
      {
      val h = sqlHexLong("concat(CAST(i AS VARCHAR), ':cms:', bigram)")
      s"""WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT unnest([w[i] || ' ' || w[i+1]
                for i in range(1, len(w))]) AS bigram FROM toks),
         tc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_true
                FROM bg GROUP BY 1),
         rw AS (SELECT bigram, n_true, unnest([{'i': i, 'b': $h % 256}
                for i in range(0, 4)]) AS r FROM tc),
         rr AS (SELECT bigram, n_true, r.i AS i, r.b AS b FROM rw),
         sk AS (SELECT i, b, CAST(sum(n_true) AS BIGINT) AS c
                FROM rr GROUP BY 1, 2)
         SELECT rr.bigram, rr.n_true, CAST(min(sk.c) AS BIGINT) AS est_cms
         FROM rr JOIN sk ON rr.i = sk.i AND rr.b = sk.b
         GROUP BY 1, 2"""
    }),

    // HyperLogLog distinct sketch (m=64): same question as q91 at 64
    // registers of state — exact-integer harmonic sum, small-range
    // linear-counting correction
    Query("q93_hll_distinct", (s, d) =>
      Sketches.hllDistinct(Tables.events(s, d), Seq("event_type"),
        col("user_id")),
      hllEstimateSql("event_type", "event_type")),

    // cardinality-sketch accuracy audit: the q93 HLL estimator
    // reconciled against exact count-distinct per DAY — the grouping
    // where true active-user cardinality actually varies (per
    // event_type every group sees the same 150-user set, a degenerate
    // audit) — signed rel err + the published 3σ = 0.39 flag at m = 64
    // (reported, not enforced; the q214 discipline for the cardinality
    // tier — CMS q92 carries n_true by construction). Probed at
    // sf0.01: 30 days, 14 distinct true cardinalities, errs spread
    // −0.182..+0.081 — genuinely nonzero, all inside 3σ
    Query("q217_hll_accuracy", (s, d) =>
      Sketches.hllAccuracyAudit(
        Tables.events(s, d).withColumn("day",
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")),
        Seq("day"), col("user_id")),
      // q93's full estimate chain as a CTE (per DAY, where the true
      // active-user cardinality actually varies) + the exact
      // count-distinct, reconciled per group: signed rel err from the
      // SAME rounded estimate both engines emit, 3σ flag at the
      // published 1.04/√64
      s"""WITH est AS (
           ${hllEstimateSql("strftime(date_trunc('day', ts), '%Y-%m-%d')",
             "day")}),
         ex AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
                FROM events WHERE user_id IS NOT NULL GROUP BY 1)
         SELECT e.day, ex.n_true, e.registers_hit, e.est_distinct,
           round((e.est_distinct - ex.n_true) / ex.n_true, 6) AS err,
           CAST(CASE WHEN abs(round((e.est_distinct - ex.n_true)
               / ex.n_true, 6)) <= 0.39 THEN 1 ELSE 0 END AS BIGINT)
             AS within_3sigma
         FROM est e JOIN ex ON e.day = ex.day"""),

    // robust outlier profile: median/MAD fence per event type — the
    // same bits in both engines end-to-end, so even the fence
    // comparisons hash-match without a rounding tolerance
    Query("q96_mad_outliers", (s, d) =>
      Quantiles.madOutliers(Tables.events(s, d), Seq("event_type"),
        col("value"), k = 3.0)
        .select(col("event_type"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"), col("n_rows"),
          col("n_outliers")),
      {
      val scale = Quantiles.madScale(3.0)
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL),
         m AS (SELECT event_type, quantile_cont(v, 0.5) AS med
               FROM v GROUP BY 1),
         d AS (SELECT v.event_type, v.v, m.med, abs(v.v - m.med) AS dd
               FROM v JOIN m ON v.event_type = m.event_type),
         md AS (SELECT event_type, quantile_cont(dd, 0.5) AS mad
               FROM d GROUP BY 1)
         SELECT d.event_type, round(any_value(d.med), 6) AS med,
           round(any_value(md.mad), 6) AS mad,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN d.dd > md.mad * CAST('$scale' AS DOUBLE)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM d JOIN md ON d.event_type = md.event_type GROUP BY 1"""
    }),

    // chi-square association between document language and source —
    // corpus crosses one hash agg; margins re-aggregate the tiny cell
    // table and broadcast back
    Query("q97_chi_square", (s, d) =>
      Quantiles.chiSquare(Tables.documents(s, d), "lang", "source")
        .select(col("lang"), col("source"), col("n"),
          round(col("expected"), 6).as("expected"),
          round(col("chi2_cell"), 6).as("chi2_cell")),
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
           FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         ma AS (SELECT lang, CAST(sum(n) AS BIGINT) AS na FROM c GROUP BY 1),
         mb AS (SELECT source, CAST(sum(n) AS BIGINT) AS nb FROM c GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
         e AS (SELECT c.lang, c.source, c.n,
               CAST(ma.na AS DOUBLE) * CAST(mb.nb AS DOUBLE)
                 / CAST(t.nt AS DOUBLE) AS expected
               FROM c JOIN ma ON c.lang = ma.lang
                 JOIN mb ON c.source = mb.source CROSS JOIN t)
         SELECT lang, source, n, round(expected, 6) AS expected,
           round((CAST(n AS DOUBLE) - expected) * (CAST(n AS DOUBLE) - expected)
             / expected, 6) AS chi2_cell
         FROM e"""),

    // stratified weighted sampling: q90's A-ES race run per language —
    // rare strata keep their own top-k instead of being outdrawn
    Query("q98_weighted_sample_strat", (s, d) =>
      Relational.topKPerGroup(
        Tables.documents(s, d).withColumn("__score",
          TextAnalysis.weightedSampleScore(col("doc_id"), col("n_chars"))),
        Seq("lang"), col("__score"), col("doc_id"), 10)
        .select(col("lang"), col("id").as("doc_id"),
          (round(col("score"), 6) + lit(0.0)).as("w_score"),
          col("rank").cast(LongType).as("sample_rank")),
      {
      val h = sqlHexLong("concat('ws:', CAST(doc_id AS VARCHAR))")
      s"""WITH s AS (SELECT lang, doc_id,
           ln(CAST($h % 1099511627776 + 1 AS DOUBLE) / CAST(1099511627776 AS DOUBLE))
             / CAST(n_chars AS DOUBLE) AS sc
           FROM documents),
         r AS (SELECT lang, doc_id,
             round(sc, 6) + CAST(0 AS DOUBLE) AS w_score, row_number() OVER (
             PARTITION BY lang ORDER BY sc DESC, doc_id) AS rn FROM s)
         SELECT lang, doc_id, w_score, CAST(rn AS BIGINT) AS sample_rank
         FROM r WHERE rn <= 10"""
    }),

    // per-source quota cap (at most 3 docs per source, hash-chosen):
    // the per-domain curation cap, bounded two-phase top-k — no window
    Query("q102_domain_quota", (s, d) =>
      Relational.quotaCap(Tables.documents(s, d), Seq("source"),
        col("doc_id"), quota = 3)
        .select(col("source"), col("id").as("doc_id"), col("pick_rank")),
      """WITH h AS (SELECT source, doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))
               AS BIGINT) % 1099511627776 AS h40
           FROM documents WHERE doc_id IS NOT NULL),
         r AS (SELECT source, doc_id, row_number() OVER (
               PARTITION BY source ORDER BY h40, doc_id) AS rn FROM h)
         SELECT source, doc_id, CAST(rn AS BIGINT) AS pick_rank
         FROM r WHERE rn <= 3"""),

    // percentile winsorization of event values per type: p05/p95 fences
    // from the histogram-selection quantile pass, broadcast back, clamp
    // in one narrow map — outlier clipping before feature scaling
    Query("q109_winsorize", (s, d) =>
      Quantiles.winsorize(Tables.events(s, d), Seq("event_type"),
        col("value"), "event_id", 0.05, 0.95, width = 1.0)
        .select(col("id").as("event_id"), col("event_type"), col("value"),
          col("value_clipped"), col("is_clipped")),
      // quantile_cont fences bit-match the histogram-selection pass (the
      // q96 parity result), so clipping crosses without any tolerance
      """WITH f AS (SELECT event_type,
           quantile_cont(CAST(value AS DOUBLE), 0.05) AS lo,
           quantile_cont(CAST(value AS DOUBLE), 0.95) AS hi
           FROM events WHERE value IS NOT NULL GROUP BY 1)
         SELECT event_id, e.event_type, CAST(value AS DOUBLE) AS value,
           CASE WHEN value IS NULL THEN NULL
                ELSE least(greatest(CAST(value AS DOUBLE), lo), hi)
           END AS value_clipped,
           coalesce(CAST(value AS DOUBLE) < lo
             OR CAST(value AS DOUBLE) > hi, false) AS is_clipped
         FROM events e JOIN f USING (event_type)"""),

    // mergeable relative-error quantile sketch (DDSketch, binary
    // flavor): O(#buckets) state per group where q41's exact path
    // carries the data — the 100 TB quantile primitive
    Query("q177_ddsketch", (s, d) =>
      Sketches.ddsketchQuantiles(
        Tables.lineitem(s, d).withColumn("__cents",
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")),
        Seq("l_returnflag"), col("__cents"), subBits = 6,
        qMicros = Seq(500000L, 900000L, 990000L)),
      // same exponent/mantissa-bit bucketing via to_base(v,2) string
      // length (no cross-engine log2), same ceil-rank and midpoint
      """WITH v AS (SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL
             AND CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) > 0),
         bk AS (SELECT g, shift, m, CAST(count(*) AS BIGINT) AS c,
             (m << shift) AS lo, ((m + 1) << shift) - 1 AS hi
           FROM (SELECT g, v,
               greatest(length(to_base(v, 2)) - 1 - 6, 0) AS shift,
               v >> greatest(length(to_base(v, 2)) - 1 - 6, 0) AS m
             FROM v)
           GROUP BY 1, 2, 3),
         cum AS (SELECT g, lo, hi, c,
             sum(c) OVER (PARTITION BY g ORDER BY lo) AS cum,
             sum(c) OVER (PARTITION BY g) AS n,
             count(*) OVER (PARTITION BY g) AS nb
           FROM bk),
         qs(q_micro) AS (VALUES (500000), (900000), (990000)),
         pick AS (SELECT g, q_micro, n, nb,
             min(lo) AS bucket_lo, min(hi) AS bucket_hi
           FROM cum CROSS JOIN qs
           WHERE cum >= greatest(1, (n * q_micro + 999999) // 1000000)
           GROUP BY 1, 2, 3, 4)
         SELECT g AS l_returnflag, CAST(q_micro AS BIGINT) AS q_micro,
           CAST(n AS BIGINT) AS n, CAST(nb AS BIGINT) AS n_buckets,
           bucket_lo, bucket_hi,
           CAST((bucket_lo + bucket_hi) // 2 AS BIGINT) AS est
         FROM pick"""),

    // priority sampling with Horvitz–Thompson adjusted weights — the
    // sample that answers subset-SUM queries (DLT 2007): exactly k=100
    // orders drawn by the derandomized w/u priority race, each carrying
    // ŵ = max(w, τ); Σŵ over any subset unbiasedly estimates that
    // subset's true total-price mass. Probed at sf0.01: Σŵ estimates
    // the 15k-order corpus total within +7.3% (inside the ~1/√(k−1)
    // ≈ 10% one-realization band)
    Query("q218_priority_sample", (s, d) =>
      Relational.prioritySample(Tables.orders(s, d), col("o_orderkey"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"),
        k = 100),
      // the exact-integer priority race restated: same md5-dyadic u,
      // same truncated division, same (pri DESC, key) order and the
      // (k+1)-th-priority tau
      {
      val h = sqlHexLong("concat('ps:', CAST(key AS VARCHAR))")
      s"""WITH b AS (SELECT o_orderkey AS key,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS w
           FROM orders WHERE o_orderkey IS NOT NULL
             AND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0),
         p AS (SELECT key, w,
             (w * 1048576) // ($h % 1048576 + 1) AS pri FROM b),
         r AS (SELECT key, w, pri,
             row_number() OVER (ORDER BY pri DESC, key) AS rn FROM p),
         t AS (SELECT coalesce(max(CASE WHEN rn = 101 THEN pri END), 0)
                 AS tau FROM r WHERE rn <= 101)
         SELECT r.key, r.w, r.pri,
           CAST(greatest(r.w, t.tau) AS BIGINT) AS w_hat,
           CAST(rn AS BIGINT) AS rank
         FROM r CROSS JOIN t WHERE rn <= 100"""
    }),

    // exact φ-heavy hitters per source: Misra–Gries candidates (O(k)
    // state per group, mergeable, guaranteed superset of every item at
    // ⌈n·φ⌉) + exact candidate-only rescore — the deterministic top-k
    // primitive whose first pass never materializes the (group, item)
    // frequency table; φ = 0.2% → k = 501 counters
    Query("q215_heavy_hitters", (s, d) =>
      Sketches.heavyHitters(
        wide(Tables.documents(s, d)).filter(col("text").isNotNull)
          .select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("tok")),
        Seq("source"), col("tok"), phiMicro = 2000L),
      // the heavy-hitter CONTRACT is exact-thresholded output, so the
      // oracle is the plain frequency table + HAVING — the MG pass must
      // change nothing about WHAT qualifies, only how much state finding
      // it took
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS item
           FROM documents WHERE text IS NOT NULL),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM tok GROUP BY 1),
         f AS (SELECT source, item, CAST(count(*) AS BIGINT) AS freq
               FROM tok GROUP BY 1, 2)
         SELECT f.source, f.item, f.freq, n.n,
           CAST(greatest(1, (n.n * 2000 + 999999) // 1000000) AS BIGINT)
             AS threshold
         FROM f JOIN n USING (source)
         WHERE f.freq >= greatest(1, (n.n * 2000 + 999999) // 1000000)"""),

    // sketch-accuracy audit: q177's DDSketch estimates reconciled
    // against the exact nearest-rank statistics (distinct-value-table
    // selection) — measured relative error + the containment guarantee
    // (exact value inside the answer bucket) per (group, quantile);
    // the q206/q208 audit discipline applied to the quantile tier
    Query("q214_sketch_accuracy", (s, d) =>
      Sketches.ddsketchAccuracyAudit(
        Tables.lineitem(s, d).withColumn("__cents",
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")),
        Seq("l_returnflag"), col("__cents"), subBits = 6,
        qMicros = Seq(500000L, 900000L, 990000L)),
      // q177's sketch CTEs + exact nearest-rank selection over the
      // distinct-value table, reconciled per (group, quantile)
      """WITH v AS (SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL
             AND CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) > 0),
         bk AS (SELECT g, shift, m, CAST(count(*) AS BIGINT) AS c,
             (m << shift) AS lo, ((m + 1) << shift) - 1 AS hi
           FROM (SELECT g, v,
               greatest(length(to_base(v, 2)) - 1 - 6, 0) AS shift,
               v >> greatest(length(to_base(v, 2)) - 1 - 6, 0) AS m
             FROM v)
           GROUP BY 1, 2, 3),
         cum AS (SELECT g, lo, hi, c,
             sum(c) OVER (PARTITION BY g ORDER BY lo) AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM bk),
         qs(q_micro) AS (VALUES (500000), (900000), (990000)),
         pick AS (SELECT g, q_micro, n,
             min(lo) AS bucket_lo, min(hi) AS bucket_hi
           FROM cum CROSS JOIN qs
           WHERE cum >= greatest(1, (n * q_micro + 999999) // 1000000)
           GROUP BY 1, 2, 3),
         dv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
                FROM v GROUP BY 1, 2),
         cumv AS (SELECT g, v,
             sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM dv),
         ex AS (SELECT g, q_micro, min(v) AS exact
           FROM cumv CROSS JOIN qs
           WHERE cum >= greatest(1, (n * q_micro + 999999) // 1000000)
           GROUP BY 1, 2)
         SELECT p.g AS l_returnflag, CAST(p.q_micro AS BIGINT) AS q_micro,
           CAST(p.n AS BIGINT) AS n,
           CAST((p.bucket_lo + p.bucket_hi) // 2 AS BIGINT) AS est,
           CAST(e.exact AS BIGINT) AS exact,
           CAST(abs((p.bucket_lo + p.bucket_hi) // 2 - e.exact)
             * 1000000 // e.exact AS BIGINT) AS rel_err_micro,
           CAST(CASE WHEN e.exact BETWEEN p.bucket_lo AND p.bucket_hi
             THEN 1 ELSE 0 END AS BIGINT) AS within_bucket
         FROM pick p JOIN ex e ON p.g = e.g AND p.q_micro = e.q_micro"""),

    // pairwise HLL overlap: union by register max-merge, intersection
    // by inclusion-exclusion — the sketch twin of q129's exact matrix.
    // Slices = supplier shards; orders scatter across shards, so every
    // pair has partial (not degenerate) order-set overlap
    Query("q183_hll_overlap", (s, d) =>
      Sketches.hllOverlap(
        Tables.lineitem(s, d)
          .withColumn("shard", expr("l_suppkey % 8")),
        "shard", col("l_orderkey")),
      // q93's register build + estimator, dense 64-slot arrays, pair
      // max-merge; intersection/jaccard recomputed from ROUNDED estimates
      {
      val h = sqlHexLong("concat('hll:', CAST(l_orderkey AS VARCHAR))")
      val alpha = Sketches.HllAlphaM2.toString
      def zOf(arr: String) =
        s"CAST(list_sum([CAST(1 AS BIGINT) << CAST(51 - x AS INTEGER) for x in $arr]) AS BIGINT)"
      def hOf(arr: String) = s"len([x for x in $arr if x > 0])"
      def estOf(z: String, ht: String) =
        s"""round(CASE WHEN CAST('$alpha' AS DOUBLE) /
             (CAST($z AS DOUBLE) / CAST(2251799813685248 AS DOUBLE))
             <= CAST(160 AS DOUBLE) AND $ht < 64
           THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / (64 - $ht))
           ELSE CAST('$alpha' AS DOUBLE) /
             (CAST($z AS DOUBLE) / CAST(2251799813685248 AS DOUBLE))
           END, 6)"""
      s"""WITH h AS (SELECT l_suppkey % 8 AS s, $h AS hv FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
         r AS (SELECT s, hv % 64 AS reg,
             max(CASE WHEN hv // 64 = 0 THEN 51
                 ELSE 51 - length(bin(hv // 64)) END) AS mr
           FROM h GROUP BY 1, 2),
         d AS (SELECT sl.s, list(coalesce(r.mr, 0) ORDER BY i.i) AS arr
           FROM (SELECT DISTINCT s FROM r) sl
           CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
           LEFT JOIN r ON r.s = sl.s AND r.reg = i.i
           GROUP BY sl.s),
         p AS (SELECT a.s AS source_a, b.s AS source_b,
             a.arr AS aa, b.arr AS ab,
             [greatest(a.arr[k+1], b.arr[k+1]) for k in range(0, 64)] AS mg
           FROM d a JOIN d b ON a.s < b.s),
         z AS (SELECT source_a, source_b,
             ${zOf("aa")} AS za, ${hOf("aa")} AS ha,
             ${zOf("ab")} AS zb, ${hOf("ab")} AS hb,
             ${zOf("mg")} AS zu, ${hOf("mg")} AS hu
           FROM p),
         e AS (SELECT source_a, source_b,
             ${estOf("za", "ha")} AS est_a,
             ${estOf("zb", "hb")} AS est_b,
             ${estOf("zu", "hu")} AS est_union
           FROM z),
         i AS (SELECT *,
             round(greatest(CAST(0 AS DOUBLE),
               est_a + est_b - est_union), 6) AS est_intersection
           FROM e)
         SELECT source_a, source_b, est_a, est_b, est_union,
           est_intersection,
           round(est_intersection / est_union, 6) AS jaccard_est
         FROM i"""
    }),

    // exact Gini concentration of customer spend per market segment —
    // whales INJECTED into one segment (every 20th AUTOMOBILE customer
    // spends 20x) so the index separates; zero-spend customers count
    Query("q194_gini", (s, d) => {
      val spend = Tables.orders(s, d).groupBy("o_custkey")
        .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
          .as("__spend"))
      val joined = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("__sp", coalesce(col("__spend"), lit(0L)))
        .withColumn("__sp2",
          when(col("c_mktsegment") === "AUTOMOBILE" &&
            col("c_custkey") % 20 === 0, col("__sp") * 20L)
            .otherwise(col("__sp")))
      Relational.giniIndex(joined, "c_mktsegment", col("__sp2"))
        .select(col("g").as("c_mktsegment"), col("n_rows"), col("total"),
          col("scale_unit"), col("gini_micro"))
    },
      // same grouped-data Gini collapse, two-division overflow guard
      """WITH spend AS (SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS sp
           FROM orders GROUP BY 1),
         j AS (SELECT c.c_mktsegment AS g,
             CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                 AND c.c_custkey % 20 = 0
               THEN coalesce(sp, 0) * 20 ELSE coalesce(sp, 0) END AS v
           FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey),
         cnt AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
           FROM j WHERE g IS NOT NULL AND v >= 0 GROUP BY 1, 2),
         cum AS (SELECT g, v, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k,
             sum(c) OVER (PARTITION BY g) AS n,
             sum(v * c) OVER (PARTITION BY g) AS tot
           FROM cnt),
         sc AS (SELECT *, CASE
             WHEN CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) <= 9e15 THEN 1
             WHEN CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) <= 9e16 THEN 10
             WHEN CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) <= 9e17 THEN 100
             WHEN CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) <= 9e18 THEN 1000
             WHEN CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) <= 9e19 THEN 10000
             WHEN CAST(n AS DOUBLE) * CAST(tot AS DOUBLE) <= 9e20 THEN 100000
             ELSE 1000000 END AS s
           FROM cum),
         t AS (SELECT g, CAST(max(n) AS BIGINT) AS n_rows,
             CAST(max(tot) AS BIGINT) AS total,
             CAST(max(s) AS BIGINT) AS scale_unit,
             CAST(sum((v // s) * c * (2 * k + c - n)) AS BIGINT) AS t,
             CAST(sum((v // s) * c) AS BIGINT) AS ts
           FROM sc GROUP BY 1)
         SELECT g AS c_mktsegment, n_rows, total, scale_unit,
           CASE WHEN ts = 0 THEN NULL
             ELSE CAST((t * 1000 // (n_rows * ts)) * 1000
               + (t * 1000 % (n_rows * ts)) * 1000 // (n_rows * ts)
               AS BIGINT) END AS gini_micro
         FROM t WHERE total > 0"""),

    // KS two-sample drift on the sketch grid over q182's injected
    // drift: the bin-free worst-CDF-gap statistic beside PSI's
    // where-did-mass-move divergence
    Query("q192_ks_drift", (s, d) => {
      val isRef = col("ts") < lit("2024-01-16").cast("timestamp")
      val cents = expr("cast(floor(value * 100 + 0.5) as bigint)")
      val spiked = when(!isRef && col("event_type") === "error",
          cents + 5000L)
        .when(!isRef && col("event_type") === "purchase", cents * 2L)
        .otherwise(cents)
      Sketches.ddsketchKS(Tables.events(s, d), "event_type", isRef,
        spiked)
        .select(col("g").as("event_type"), col("n_ref"), col("n_cur"),
          col("ks_micro"))
    },
      // same shared sketch grid, exact cross-multiplied CDF gap
      """WITH base AS (SELECT * FROM (SELECT event_type AS g,
             ts < TIMESTAMP '2024-01-16' AS isref,
             CASE WHEN NOT (ts < TIMESTAMP '2024-01-16')
                 AND event_type = 'error'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT) + 5000
               WHEN NOT (ts < TIMESTAMP '2024-01-16')
                 AND event_type = 'purchase'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT) * 2
               ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS v
           FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL) WHERE v > 0),
         bk AS (SELECT g,
             greatest(length(to_base(v, 2)) - 1 - 8, 0) AS shift,
             v >> greatest(length(to_base(v, 2)) - 1 - 8, 0) AS m,
             CAST(count(*) FILTER (WHERE isref) AS BIGINT) AS cr,
             CAST(count(*) FILTER (WHERE NOT isref) AS BIGINT) AS cc
           FROM base GROUP BY 1, 2, 3),
         cum AS (SELECT g, cr, cc,
             sum(cr) OVER (PARTITION BY g ORDER BY (m << shift)) AS cumr,
             sum(cc) OVER (PARTITION BY g ORDER BY (m << shift)) AS cumc,
             sum(cr) OVER (PARTITION BY g) AS nr,
             sum(cc) OVER (PARTITION BY g) AS nc
           FROM bk)
         SELECT g AS event_type, CAST(nr AS BIGINT) AS n_ref,
           CAST(nc AS BIGINT) AS n_cur,
           CAST(max(abs(cumr * nc - cumc * nr)) * 1000000 // (nr * nc)
             AS BIGINT) AS ks_micro
         FROM cum WHERE nr > 0 AND nc > 0 GROUP BY g, nr, nc"""),

    // Poisson-bootstrap 95% CI of the mean order value per priority:
    // the ONE-PASS bootstrap (every replicate streams through the
    // same aggregation) — the uncertainty the sampling tier feeds
    Query("q189_bootstrap_ci", (s, d) =>
      Relational.poissonBootstrapCI(Tables.orders(s, d),
        "o_orderpriority", col("o_orderkey"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .select(col("g").as("o_orderpriority"), col("n_rows"),
          col("mean_micro"), col("n_replicates"), col("ci_lo_micro"),
          col("ci_hi_micro")),
      // same injected Poisson(1) inverse-CDF thresholds on the 2^20 hash
      // grid, two-division exact means, index-selected order statistics
      {
      val ts = graft.operators.Relational.poissonThresholds
      val nReps = 64; val alphaMicro = 25000L
      val rankLo = math.max(1L, (alphaMicro * nReps + 999999L) / 1000000L)
      val rankHi = nReps + 1L - rankLo
      val h = sqlHexLong(
        "concat('boot:', CAST(b AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR))")
      s"""WITH o AS (SELECT o_orderpriority AS g, o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
           FROM orders WHERE o_orderpriority IS NOT NULL
             AND o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
         r AS (SELECT g, o_orderkey, v, unnest(range(0, $nReps)) AS b
           FROM o),
         u AS (SELECT g, b, v, $h % 1048576 AS u FROM r),
         wt AS (SELECT g, b, v,
             CASE WHEN u < ${ts(0)} THEN 0 WHEN u < ${ts(1)} THEN 1
               WHEN u < ${ts(2)} THEN 2 WHEN u < ${ts(3)} THEN 3
               WHEN u < ${ts(4)} THEN 4 WHEN u < ${ts(5)} THEN 5
               ELSE 6 END AS w
           FROM u),
         m AS (SELECT g, b, CAST(sum(w * v) AS BIGINT) AS s,
             CAST(sum(w) AS BIGINT) AS n FROM wt GROUP BY 1, 2),
         mm AS (SELECT g,
             (s // n) * 1000000 + (s % n) * 1000000 // n AS m
           FROM m WHERE n > 0),
         ci AS (SELECT g, CAST(count(*) AS BIGINT) AS n_replicates,
             list(m ORDER BY m) AS ms FROM mm GROUP BY 1),
         base AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(v) AS BIGINT) AS s FROM o GROUP BY 1)
         SELECT ci.g AS o_orderpriority, base.n_rows,
           CAST((base.s // base.n_rows) * 1000000
             + (base.s % base.n_rows) * 1000000 // base.n_rows AS BIGINT)
             AS mean_micro,
           ci.n_replicates,
           CAST(ms[CAST(least($rankLo, n_replicates) AS INTEGER)]
             AS BIGINT) AS ci_lo_micro,
           CAST(ms[CAST(least($rankHi, n_replicates) AS INTEGER)]
             AS BIGINT) AS ci_hi_micro
         FROM ci JOIN base ON ci.g = base.g"""
    }),

    // full CUBE over (returnflag, linestatus): all four grouping sets
    // in one pass — the lattice q19/q113's ROLLUP only half-covers
    Query("q188_cube", (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast(LongType).as("level"),
          count(lit(1)).as("n_rows"),
          fromCents(sum(cents(col("l_extendedprice"))), 2).as("revenue"))
        .select("l_returnflag", "l_linestatus", "level", "n_rows",
          "revenue"),
      // money crosses as exact long cents summed then shifted (q113's
      // DECIMAL(18,2) shortcut is equivalent on two-decimal inputs)
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS level,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)"""),

    // Benford first-digit audit over three columns with genuinely
    // different conformity (prices, bounded quantities, totals) —
    // the forensic fabricated-numbers screen
    Query("q187_benford", (s, d) => {
      val li = Tables.lineitem(s, d)
      val vals = li.select(lit("extendedprice").as("metric"),
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
            .as("v"))
        .unionByName(li.select(lit("quantity").as("metric"),
          col("l_quantity").cast("long").as("v")))
        .unionByName(Tables.orders(s, d)
          .select(lit("totalprice").as("metric"),
            expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
              .as("v")))
      Relational.benfordAudit(vals, "metric", col("v"))
        .select(col("g").as("metric"), col("digit"), col("n_obs"),
          col("n"), col("p_micro"), col("e_micro"), col("dev_micro"),
          col("chi2"))
    },
      // same injected Benford micro masses, densified digits, ordered
      // chi-square fold under round(...,6)
      {
      val eList = graft.operators.Relational.benfordMicros.zipWithIndex
        .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
      s"""WITH vals AS (
           SELECT 'extendedprice' AS g,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
           FROM lineitem
           UNION ALL SELECT 'quantity', CAST(l_quantity AS BIGINT)
           FROM lineitem
           UNION ALL SELECT 'totalprice',
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           FROM orders),
         e(digit, e_micro) AS (VALUES $eList),
         c AS (SELECT g,
             CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(count(*) AS BIGINT) AS c
           FROM vals WHERE v IS NOT NULL AND v > 0 GROUP BY 1, 2),
         n AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         dn AS (SELECT n.g, CAST(e.digit AS BIGINT) AS digit,
             CAST(e.e_micro AS BIGINT) AS e_micro, n.n,
             coalesce(c.c, 0) AS c
           FROM n CROSS JOIN e
           LEFT JOIN c ON c.g = n.g AND c.digit = e.digit),
         x AS (SELECT g, round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list((c - n * e_micro / CAST(1000000 AS DOUBLE))
               * (c - n * e_micro / CAST(1000000 AS DOUBLE))
               / (n * e_micro / CAST(1000000 AS DOUBLE)) ORDER BY digit)),
             (a, t) -> a + t), 6) AS chi2
           FROM dn GROUP BY 1)
         SELECT dn.g AS metric, dn.digit, dn.c AS n_obs, dn.n,
           CAST(dn.c * 1000000 // dn.n AS BIGINT) AS p_micro, dn.e_micro,
           CAST(abs(dn.c * 1000000 // dn.n - dn.e_micro) AS BIGINT)
             AS dev_micro,
           x.chi2
         FROM dn JOIN x ON dn.g = x.g"""
    }),

    // SCD type-2 history: per-customer order-status runs with
    // [valid_from, next-start) validity spans from the orders log
    Query("q117_scd2", (s, d) =>
      Relational.scd2History(Tables.orders(s, d), "o_custkey",
        "o_orderdate", "o_orderkey", col("o_orderstatus"))
        .select(col("o_custkey"), col("version"),
          col("attr_value").as("o_orderstatus"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          col("n_rows").as("n_orders")),
      """WITH s AS (SELECT o_custkey AS k, o_orderdate AS t,
           o_orderkey AS id, o_orderstatus AS a FROM orders),
         f AS (SELECT k, t, id, a, CASE WHEN row_number() OVER w = 1
             OR lag(a) OVER w IS DISTINCT FROM a THEN 1 ELSE 0 END AS chg
           FROM s WINDOW w AS (PARTITION BY k ORDER BY t, id)),
         v AS (SELECT k, t, id, a, sum(chg) OVER
           (PARTITION BY k ORDER BY t, id ROWS UNBOUNDED PRECEDING) AS ver
           FROM f),
         r AS (SELECT k, ver, min(t) AS vf,
           CAST(count(*) AS BIGINT) AS n_orders, min(a) AS a
           FROM v GROUP BY 1, 2)
         SELECT k AS o_custkey, CAST(ver AS BIGINT) AS version,
           a AS o_orderstatus, strftime(vf, '%Y-%m-%d') AS valid_from,
           strftime(lead(vf) OVER (PARTITION BY k ORDER BY ver),
             '%Y-%m-%d') AS valid_to, n_orders
         FROM r"""),

    // percent-rank normalization of the quality score — rank transform
    // via the distinct-value table, NOT a corpus-wide one-task window
    Query("q121_quantile_norm", (s, d) =>
      Quantiles.percentRank(
        TextAnalysis.qualityFeatures(Tables.documents(s, d), col("text"))
          .select(col("doc_id"), col("quality_score")),
        col("quality_score")),
      """WITH q AS (SELECT doc_id,
           round(least(CAST(1 AS DOUBLE), CAST(len(string_split(text, ' ')) AS DOUBLE) / 64) * 0.5
             + least(CAST(1 AS DOUBLE), CAST(list_sum([CASE WHEN x IN ('the','a','of','and','to','in','is') THEN 1 ELSE 0 END for x in string_split(text, ' ')]) AS DOUBLE) / len(string_split(text, ' ')) * 5) * 0.5, 4) AS quality_score
         FROM documents),
         f AS (SELECT * FROM q WHERE quality_score IS NOT NULL),
         dv AS (SELECT quality_score, CAST(count(*) AS BIGINT) AS c
                FROM f GROUP BY 1),
         cv AS (SELECT quality_score, sum(c) OVER (ORDER BY quality_score
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS less
           FROM dv),
         n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM f)
         SELECT doc_id, quality_score,
           CASE WHEN nn > 1 THEN
             CAST(floor(CAST(less AS DOUBLE) / (nn - 1) * 1000000.0 + 0.5)
               AS DOUBLE) / 1000000.0
           ELSE CAST(0.0 AS DOUBLE) END AS pct_rank
         FROM f JOIN cv USING (quality_score) CROSS JOIN n"""),

    // hierarchical rollup: revenue at (region, nation) / (region) /
    // grand-total levels in ONE aggregation pass (Expand, not three
    // jobs); grouping_id disambiguates rolled NULLs from data NULLs
    // and shares the bitmask convention with the oracle's GROUPING()
    Query("q113_rollup_revenue", (s, d) => {
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(grouping_id().cast(LongType).as("level"),
          count(lit(1)).as("n_orders"),
          fromCents(sum(cents(col("o_totalprice"))), 2).as("revenue"))
        .select("r_name", "n_name", "level", "n_orders", "revenue")
    },
      // exact decimal money at every grouping level (the q13 contract);
      // GROUPING() bitmask matches grouping_id (first arg = MSB)
      """SELECT r_name, n_name,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS level,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)"""),

    // CDC extraction: diff two deterministic snapshots of orders (price
    // updates, shifted-key inserts, modular deletes) into a typed change
    // feed — the inverse of q77's merge, same union+aggregate shape
    Query("q85_snapshot_diff", (s, d) => {
      val t = Tables.orders(s, d)
      val changed = t.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 1.05)
            .otherwise(col("o_totalprice")))
      // +1e10, not +1e8: the q77 lesson — the insert offset must land
      // ABOVE every real orderkey at every corpus including the 10x
      // rehearsal, or shifted keys collide with replica-1's real ones
      val ins = t.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000000L)
        .withColumn("o_orderstatus", lit("N"))
      Relational.snapshotDiff(t, changed.unionByName(ins), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("change_type"),
          col("new.o_totalprice").as("new_totalprice"))
    },
      """WITH newt AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * CAST(1.05 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 13 <> 0
           UNION ALL
           SELECT o_orderkey + 10000000000, o_custkey, 'N', o_totalprice,
             o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 97 = 0),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'I'
                  WHEN n.o_orderkey IS NULL THEN 'D'
                  WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    OR o.o_custkey IS DISTINCT FROM n.o_custkey
                    OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
                    OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                  THEN 'U' END AS change_type,
             n.o_totalprice AS new_totalprice
           FROM orders o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey)
         SELECT o_orderkey, change_type, new_totalprice FROM j
         WHERE change_type IS NOT NULL"""),

    // bucketed content checksum of lineitem — the replica-verification
    // digest: 64 buckets, XOR of an md5-derived row hash over an
    // integer-rendered canonical row string
    Query("q86_checksum", (s, d) =>
      Quality.checksum(wide(Tables.lineitem(s, d)),
        pmod(col("l_orderkey"), lit(64)).cast(LongType),
        Hashing.hexLong(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")), cents(col("l_quantity")),
          col("l_returnflag"), col("l_linestatus")))),
      {
      val h = sqlHexLong("concat_ws('|', l_orderkey, l_linenumber, " +
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT), " +
        "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT), " +
        "l_returnflag, l_linestatus)")
      s"""SELECT l_orderkey % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(bit_xor($h) AS BIGINT) AS xor_hash
         FROM lineitem GROUP BY 1"""
    }),

    // min/max file-skipping audit: the what-if diagnostic behind
    // clustered layouts (q160's decision input) - 64 equal-width
    // files per candidate layout, four shipdate range probes against
    // per-file key statistics. Probed at sf0.01: ingest order skips
    // 0/64 files on every probe (this corpus's shipdates are
    // uncorrelated with orderkey, so every file straddles every
    // probe) while shipdate-clustered skips 58-61/64 (91-95%) - the
    // audit separates the layouts on every probe, which is exactly
    // the re-cluster decision it exists to inform
    Query("q174_pruning_audit", (s, d) => {
      val li = Tables.lineitem(s, d)
      val days = datediff(col("l_shipdate"), lit("1970-01-01"))
      def day(y: Int, m: Int, dd: Int): Long =
        java.time.LocalDate.of(y, m, dd).toEpochDay
      Warehouse.pruningAudit(li,
        Seq("ingest" -> col("l_orderkey"), "shipdate" -> days),
        days, nFiles = 64,
        Seq(("p1996h1", day(1996, 1, 1), day(1996, 6, 30)),
          ("p1997q1", day(1997, 1, 1), day(1997, 3, 31)),
          ("p1998h2", day(1998, 7, 1), day(1998, 12, 31)),
          ("p2001tail", day(2001, 6, 1), day(2001, 12, 31))))
    },
      // equal-width value-range files from one min/max row per layout;
      // the exact statistics test (kmax < lo OR kmin > hi)
      {
      def layoutSql(name: String, orderExpr: String): String =
        s"""SELECT '$name' AS layout, p.probe, n_files, n_skip,
            CAST(n_skip * 1000000 // n_files AS BIGINT) AS skip_micro
          FROM (
            SELECT probe,
              CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(CASE WHEN kmax < lo OR kmin > hi
                THEN 1 ELSE 0 END) AS BIGINT) AS n_skip
            FROM (
              SELECT CAST((o - mn) * 64 // (mx - mn + 1) AS BIGINT) AS f,
                min(k) AS kmin, max(k) AS kmax
              FROM (SELECT $orderExpr AS o,
                      date_diff('day', DATE '1970-01-01', l_shipdate) AS k
                    FROM lineitem
                    WHERE ($orderExpr) IS NOT NULL
                      AND l_shipdate IS NOT NULL) base,
                   (SELECT min($orderExpr) AS mn, max($orderExpr) AS mx
                    FROM lineitem
                    WHERE ($orderExpr) IS NOT NULL
                      AND l_shipdate IS NOT NULL) bounds
              GROUP BY 1) fs,
              (SELECT * FROM (VALUES
                ('p1996h1', date_diff('day', DATE '1970-01-01', DATE '1996-01-01'),
                            date_diff('day', DATE '1970-01-01', DATE '1996-06-30')),
                ('p1997q1', date_diff('day', DATE '1970-01-01', DATE '1997-01-01'),
                            date_diff('day', DATE '1970-01-01', DATE '1997-03-31')),
                ('p1998h2', date_diff('day', DATE '1970-01-01', DATE '1998-07-01'),
                            date_diff('day', DATE '1970-01-01', DATE '1998-12-31')),
                ('p2001tail', date_diff('day', DATE '1970-01-01', DATE '2001-06-01'),
                            date_diff('day', DATE '1970-01-01', DATE '2001-12-31')))
                v(probe, lo, hi)) pr
            GROUP BY probe) p"""
      s"""${layoutSql("ingest", "l_orderkey")}
         UNION ALL
         ${layoutSql("shipdate",
           "date_diff('day', DATE '1970-01-01', l_shipdate)")}"""
    }),

    // fixed-width value histogram (distribution profiling before
    // choosing curation cutoffs)
    Query("q62_histogram", (s, d) =>
      Quantiles.fixedWidthHistogram(Tables.orders(s, d),
        col("o_totalprice"), 0.0, 600000.0, 20),
      """WITH b AS (SELECT CASE WHEN o_totalprice < 0.0 THEN CAST(-1 AS BIGINT)
           WHEN o_totalprice >= 600000.0 THEN CAST(20 AS BIGINT)
           ELSE least(CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 30000.0) AS BIGINT),
                      CAST(19 AS BIGINT)) END AS bucket
         FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT bucket, 0.0 + bucket * 30000.0 AS bucket_lo,
           0.0 + (bucket + 1) * 30000.0 AS bucket_hi,
           CAST(count(*) AS BIGINT) AS n
         FROM b GROUP BY bucket"""),

    // PII redaction with typed placeholders + per-doc match count. The
    // corpus text is clean, so PII is injected deterministically by
    // doc_id (the q37 spike) — the oracle then exercises every pattern
    // and the sequential-replace order.
    // k-anonymity / l-diversity audit over quasi-identifiers — the
    // privacy risk report next to q59's direct-identifier redaction:
    // equivalence classes over (nation, segment, name-end digit — the
    // zip-like third quasi that keeps classes small as the corpus
    // grows) with under-k membership or under-l sensitive diversity
    // (sensitive = account balance sign). Probed: sf0.01 875
    // violations (78 k-only, 797 both); sf0.1 491 with ALL THREE flag
    // combinations (376 l-only, 52 k-only, 63 both)
    Query("q216_k_anonymity", (s, d) =>
      Relational.kAnonymityAudit(
        Tables.customer(s, d).withColumn("name_digit",
          substring(col("c_name"), -1, 1)),
        Seq("c_nationkey", "c_mktsegment", "name_digit"),
        when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("nonneg")),
        k = 8L, l = 2L),
      // plain equivalence-class aggregate + HAVING — the audit's whole
      // point is that the risk report is a trivially restatable fact
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
           right(c_name, 1) AS name_digit,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
             ELSE 'nonneg' END) AS BIGINT) AS n_sensitive
           FROM customer GROUP BY 1, 2, 3)
         SELECT c_nationkey, c_mktsegment, name_digit, n_rows, n_sensitive,
           CAST(CASE WHEN n_rows < 8 THEN 1 ELSE 0 END AS BIGINT)
             AS k_violation,
           CAST(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END AS BIGINT)
             AS l_violation
         FROM g WHERE n_rows < 8 OR n_sensitive < 2""")
  )
}
