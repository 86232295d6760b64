package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._

/** T3 corpus-statistics queries: vocabularies, n-gram association,
  * BPE merge training, n-gram language models and perplexity buckets,
  * the Naive Bayes quality classifier and its evaluation, and lexical
  * retrieval scoring (`TextAnalysis`). */
object LanguageModelQueries {
  import Common._

  /** Generated oracle for the q131 NB classifier — also the `nb` CTE of
    * the q148 calibration curve (nested WITH inside a subquery is
    * valid DuckDB). */
  private def nbClassifierOracle: String =
    nbClassifierOracleSpiked("""CASE WHEN source IN ('src0','src1')
      THEN text || ' curated encyclopedia reference citation archive'
      WHEN source = 'src2' THEN text || ' encyclopedia reference citation'
      ELSE text END""")

  /** The same NB chain under a caller-chosen spike CASE — the q164 PR
    * sweep trains on a label-noised variant (a quarter of the
    * positives unmarked) so recall genuinely trades against precision
    * across the cut sweep. */
  private def nbClassifierOracleSpiked(spiked: String): String = {
    val h = sqlHexLong("tok")
    s"""WITH docs AS (SELECT doc_id, source IN ('src0','src1') AS pos,
                        $spiked AS text
                      FROM documents WHERE text IS NOT NULL),
       tk AS (SELECT doc_id, pos, unnest(string_split(text, ' ')) AS tok FROM docs),
       perdoc AS (SELECT doc_id, pos, $h % 256 AS bucket,
                    CAST(count(*) AS BIGINT) AS n
                  FROM tk GROUP BY 1, 2, 3),
       cb AS (SELECT bucket,
                CAST(sum(CASE WHEN pos THEN n ELSE 0 END) AS BIGINT) AS p,
                CAST(sum(CASE WHEN pos THEN 0 ELSE n END) AS BIGINT) AS q
              FROM perdoc GROUP BY 1),
       dc AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS dPos,
                sum(CASE WHEN pos THEN 0 ELSE 1 END) AS dNeg
              FROM (SELECT DISTINCT doc_id, pos FROM perdoc)),
       tot AS (SELECT (SELECT sum(p) FROM cb) AS pTot,
                 (SELECT sum(q) FROM cb) AS qTot),
       wt AS (SELECT bucket,
           CAST(floor(ln(
             (CAST(p + 1 AS DOUBLE) / CAST(pTot + 256 AS DOUBLE)) *
             (CAST(qTot + 256 AS DOUBLE) / CAST(q + 1 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS llr,
           CAST(floor(ln(CAST(dPos + 1 AS DOUBLE) / CAST(dNeg + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS prior
         FROM cb CROSS JOIN tot CROSS JOIN dc)
       SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_toks,
         CAST(max(prior) + sum(n * llr) AS BIGINT) AS nb_micro,
         (max(prior) + sum(n * llr)) > 0 AS nb_pos
       FROM perdoc JOIN wt USING (bucket) GROUP BY 1"""
  }

  val all: Seq[Query] = Seq(
    // DSIR importance weights: hashed-bigram target/raw log-likelihood
    // ratio per doc (target = the q58/q124 %7 eval split)
    Query("q128_dsir_weights", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.dsirWeights(
        docs.filter(col("doc_id") % 7 =!= 0), "doc_id", col("text"),
        docs.filter(col("doc_id") % 7 === 0), col("text"))
        .select(col("doc").as("doc_id"), col("n_feats"), col("dsir_micro"))
    },
      {
      val h = sqlHexLong("bg")
      s"""WITH rawd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
         tgtd AS (SELECT text FROM documents WHERE doc_id % 7 = 0),
         rb AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
                FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rawd)),
         rperdoc AS (SELECT doc_id, $h % 256 AS bucket, CAST(count(*) AS BIGINT) AS n
                     FROM rb GROUP BY 1, 2),
         rbk AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS r FROM rperdoc GROUP BY 1),
         tb AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
                FROM (SELECT string_split(text, ' ') AS w FROM tgtd)),
         tbk AS (SELECT $h % 256 AS bucket, CAST(count(*) AS BIGINT) AS t FROM tb GROUP BY 1),
         tot AS (SELECT (SELECT sum(r) FROM rbk) AS rTot, (SELECT sum(t) FROM tbk) AS tTot),
         wt AS (SELECT rbk.bucket,
             CAST(floor(ln(
               (CAST(coalesce(t, 0) + 1 AS DOUBLE) / CAST(tTot + 256 AS DOUBLE)) *
               (CAST(rTot + 256 AS DOUBLE) / CAST(r + 1 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS qlr
           FROM rbk LEFT JOIN tbk USING (bucket) CROSS JOIN tot)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
           CAST(sum(n * qlr) AS BIGINT) AS dsir_micro
         FROM rperdoc JOIN wt USING (bucket) GROUP BY 1"""
    }),

    // fastText-style quality classifier: closed-form Naive Bayes over
    // hashed unigrams, trained in the same pass it scores (weak label =
    // "is this one of the two reference sources") — the GPT-3/LLaMA
    // "looks like the reference corpus" filter. The synthetic sources
    // share one vocabulary (NB would correctly put every doc in the
    // majority class — the decision never fires), so reference-style
    // vocabulary is injected deterministically: the labeled sources get
    // the full marker, unlabeled src2 a partial one — src2 docs leaning
    // positive is the classifier GENERALIZING off its weak labels,
    // which is what the oracle match exercises
    Query("q131_nb_classifier", (s, d) => {
      val spiked = concat(col("text"),
        when(col("source").isin("src0", "src1"),
          lit(" curated encyclopedia reference citation archive"))
          .when(col("source") === "src2",
            lit(" encyclopedia reference citation"))
          .otherwise(lit("")))
      TextAnalysis.nbClassifier(Tables.documents(s, d), "doc_id",
        spiked, col("source").isin("src0", "src1"))
        .select(col("doc").as("doc_id"), col("n_toks"), col("nb_micro"),
          col("nb_pos"))
    },
      nbClassifierOracle),

    // operating-point sweep for the q131 quality filter: precision /
    // recall at each exact score-decile cut (histogram-selection
    // quantiles -> one conditional aggregate; no ranking window).
    // Unlike q131's clean spike, a quarter of the labeled positives
    // (doc_id % 4 = 0) ship WITHOUT the marker vocabulary — label
    // noise — so high cuts trade recall for precision and BOTH curve
    // columns genuinely move across the sweep (probed at sf0.01:
    // precision 0.107->0.50 and recall 0.96->0.50, no constant column)
    Query("q164_pr_sweep", (s, d) => {
      val docs = Tables.documents(s, d)
      val spiked = concat(col("text"),
        when(col("source").isin("src0", "src1") && col("doc_id") % 4 =!= 0,
          lit(" curated encyclopedia reference citation archive"))
          .when(col("source") === "src2",
            lit(" encyclopedia reference citation"))
          .otherwise(lit("")))
      val scored = TextAnalysis.nbClassifier(docs, "doc_id", spiked,
        col("source").isin("src0", "src1"))
        .join(docs.select(col("doc_id").as("doc"), col("source")),
          Seq("doc"))
      TextAnalysis.thresholdSweep(scored, col("nb_micro"),
        col("source").isin("src0", "src1"))
    },
      // q131's scores re-labeled, exact decile cuts via quantile_cont
      // (interpolation bit-identical to the histogram-selection pass),
      // one conditional aggregate, 9 unrolled output rows
      {
      val ks = (1 to 9).map(_ * 10)
      val cuts = ks.map(k =>
        s"quantile_cont(s, 0.${k / 10}) AS t$k").mkString(", ")
      val condAggs = (ks.flatMap(k => Seq(
        s"sum(CASE WHEN s >= t$k THEN 1 ELSE 0 END) AS pred$k",
        s"sum(CASE WHEN s >= t$k AND y THEN 1 ELSE 0 END) AS tp$k",
        s"max(t$k) AS thr$k")) :+
        "sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos").mkString(", ")
      val rows = ks.map(k =>
        s"""SELECT CAST($k AS BIGINT) AS frac_pct, thr$k AS thr,
           CAST(pred$k AS BIGINT) AS n_pred, CAST(tp$k AS BIGINT) AS n_tp,
           CAST(pos AS BIGINT) AS n_pos,
           CAST(tp$k * 1000000 // nullif(pred$k, 0) AS BIGINT)
             AS precision_micro,
           CAST(tp$k * 1000000 // nullif(pos, 0) AS BIGINT)
             AS recall_micro FROM agg""").mkString("\n         UNION ALL ")
      val noised = nbClassifierOracleSpiked(
        """CASE WHEN source IN ('src0','src1') AND doc_id % 4 <> 0
        THEN text || ' curated encyclopedia reference citation archive'
        WHEN source = 'src2' THEN text || ' encyclopedia reference citation'
        ELSE text END""")
      s"""WITH nb AS ($noised),
         scored AS (SELECT n.doc_id, CAST(n.nb_micro AS DOUBLE) AS s,
             d.source IN ('src0', 'src1') AS y
           FROM nb n JOIN documents d USING (doc_id)),
         cuts AS (SELECT $cuts FROM scored),
         agg AS (SELECT $condAggs FROM scored CROSS JOIN cuts)
         $rows"""
    }),

    // CCNet perplexity terciles: hashed-bigram add-one LM trained on
    // the src0/src1 reference slice scores every doc; head = cleanest
    Query("q132_ppl_buckets", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.lmPerplexityBuckets(docs, "doc_id", col("text"),
        docs.filter(col("source").isin("src0", "src1")), col("text"))
        .select(col("doc").as("doc_id"), col("n_pairs"),
          col("nll_micro"), col("mean_micro"), col("ppl_bucket"))
    },
      {
      val h = sqlHexLong("w[i]")
      s"""WITH refz AS (
           SELECT unnest(h[1:len(h)-1]) AS b1, unnest(h[2:len(h)]) AS b2
           FROM (SELECT [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE source IN ('src0','src1') AND text IS NOT NULL))),
         refp AS (SELECT b1, b2, CAST(count(*) AS BIGINT) AS c12
                  FROM refz GROUP BY 1, 2),
         marg AS (SELECT b1, CAST(sum(c12) AS BIGINT) AS c1 FROM refp GROUP BY 1),
         dz AS (
           SELECT doc_id, unnest(h[1:len(h)-1]) AS b1, unnest(h[2:len(h)]) AS b2
           FROM (SELECT doc_id, [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE text IS NOT NULL))),
         dp AS (SELECT doc_id, b1, b2, CAST(count(*) AS BIGINT) AS m
                FROM dz GROUP BY 1, 2, 3),
         scored AS (
           SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_pairs,
             CAST(sum(m * CAST(floor(ln(
               CAST(coalesce(c1, 0) + 256 AS DOUBLE) /
               CAST(coalesce(c12, 0) + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nll_micro
           FROM dp LEFT JOIN marg USING (b1) LEFT JOIN refp USING (b1, b2)
           GROUP BY 1),
         mm AS (SELECT doc_id, n_pairs, nll_micro,
                  nll_micro // n_pairs AS mean_micro,
                  ntile(3) OVER (ORDER BY nll_micro // n_pairs, nll_micro, doc_id) AS t3
                FROM scored)
         SELECT doc_id, n_pairs, nll_micro, CAST(mean_micro AS BIGINT) AS mean_micro,
           CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
         FROM mm"""
    }),

    // multi-round BPE merge training (Sennrich 2016): eight greedy
    // rounds over the word-frequency vocabulary — pair counts, argmax
    // merge, left-to-right rewrite — the learned merge table a BPE
    // tokenizer ships; completes q116's single round
    Query("q136_bpe_train", (s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), col("text"),
        nMerges = 8),
      {
      // unrolled per-round CTEs (the q114 pattern): pair counts over
      // the symbolized vocabulary, deterministic argmax (count desc,
      // then pair), greedy left-to-right rewrite via a list_reduce
      // whose fold order matches the Spark aggregate() exactly
      // (non-overlapping: [a,a,a] + (a,a) -> [aa,a])
      def round(i: Int): String = {
        val prev = s"v${i - 1}"
        s"""p$i AS (SELECT s.a AS a, s.b AS b, CAST(sum(wc) AS BIGINT) AS n FROM
             (SELECT wc, unnest(list_transform(range(1, len(syms)),
                j -> struct_pack(a := syms[j], b := syms[j + 1]))) AS s
              FROM $prev WHERE len(syms) >= 2) GROUP BY 1, 2),
           b$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
           v$i AS (SELECT list_reduce(list_transform(syms, x -> [x]),
                (acc, x) -> CASE WHEN acc[-1] = b$i.a AND x[1] = b$i.b
                  THEN acc[1:len(acc) - 1] || [b$i.a || b$i.b]
                  ELSE acc || x END) AS syms, wc
              FROM $prev, b$i)"""
      }
      s"""WITH v0 AS (SELECT list_transform(range(1, length(word) + 1),
             i -> substr(word, i, 1)) AS syms,
             CAST(count(*) AS BIGINT) AS wc
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE length(word) >= 1 GROUP BY word),
         ${(1 to 8).map(round).mkString(",\n         ")}
         ${(1 to 8).map(i =>
           s"SELECT CAST($i AS BIGINT) AS round, a AS sym_a, b AS sym_b, " +
             s"n AS n_occurrences FROM b$i")
           .mkString("\n         UNION ALL ")}"""
    }),

    // BPE application: encode every word with the learned merges and
    // report per-doc subword counts + fertility (tokens per word) —
    // the standard tokenizer-quality metric
    Query("q137_bpe_fertility", (s, d) =>
      TextAnalysis.bpeSubwordStats(Tables.documents(s, d), "doc_id",
        col("text"), nMerges = 8)
        .select(col("doc").as("doc_id"), col("n_words"),
          col("n_subwords"), col("fertility_micro")),
      {
      // the q136 merge chain with `word` carried through the rewrites,
      // then each doc's word occurrences join the encoded vocabulary
      def round(i: Int): String = {
        val prev = s"v${i - 1}"
        s"""p$i AS (SELECT s.a AS a, s.b AS b, CAST(sum(wc) AS BIGINT) AS n FROM
             (SELECT wc, unnest(list_transform(range(1, len(syms)),
                j -> struct_pack(a := syms[j], b := syms[j + 1]))) AS s
              FROM $prev WHERE len(syms) >= 2) GROUP BY 1, 2),
           b$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
           v$i AS (SELECT word, list_reduce(list_transform(syms, x -> [x]),
                (acc, x) -> CASE WHEN acc[-1] = b$i.a AND x[1] = b$i.b
                  THEN acc[1:len(acc) - 1] || [b$i.a || b$i.b]
                  ELSE acc || x END) AS syms, wc
              FROM $prev, b$i)"""
      }
      s"""WITH dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           WHERE length(word) >= 1 GROUP BY 1, 2),
         v0 AS (SELECT word, list_transform(range(1, length(word) + 1),
             i -> substr(word, i, 1)) AS syms,
             CAST(sum(n) AS BIGINT) AS wc
           FROM dw GROUP BY word),
         ${(1 to 8).map(round).mkString(",\n         ")},
         enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS ns FROM v8)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
           CAST(sum(n * ns) AS BIGINT) AS n_subwords,
           CAST(sum(n * ns) * 1000000 // sum(n) AS BIGINT) AS fertility_micro
         FROM dw JOIN enc USING (word) GROUP BY 1"""
    }),

    // Zipf-law fit: integer-quantized OLS over (ln rank, ln freq) of
    // the top-1000 vocabulary — the corpus-health probe (natural text
    // sits near slope -1; template floods drift it)
    Query("q140_zipf_fit", (s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), col("text"),
        topV = 1000),
      {
      // regressors quantize to micro-nat longs; OLS sums are exact
      // integers; only the final divisions run in double — the same
      // expression over the same integers on both engines
      s"""WITH v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
           (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE length(word) >= 1 GROUP BY 1
           ORDER BY freq DESC, word LIMIT 1000),
         r AS (SELECT freq, row_number() OVER
             (ORDER BY freq DESC, word) AS rank FROM v),
         m AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
           FROM r),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy FROM m)
         SELECT n AS n_terms,
           CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) * 1e6 + 0.5)
             AS BIGINT) AS slope_micro,
           CAST(floor((CAST(sy AS DOUBLE) -
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) *
              CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) + 0.5)
             AS BIGINT) AS intercept_micro,
           CAST(floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
             NULLIF((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
              (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
               CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0) * 1e6 + 0.5)
             AS BIGINT) AS r2_micro
         FROM s"""
    }),

    // calibration curve of the q131 NB quality filter: decile bins of
    // the score vs actual label rate — "does the score mean anything"
    Query("q148_calibration", (s, d) => {
      val spiked = concat(col("text"),
        when(col("source").isin("src0", "src1"),
          lit(" curated encyclopedia reference citation archive"))
          .when(col("source") === "src2",
            lit(" encyclopedia reference citation"))
          .otherwise(lit("")))
      val docs = Tables.documents(s, d)
      val nb = TextAnalysis.nbClassifier(docs, "doc_id", spiked,
        col("source").isin("src0", "src1"))
      TextAnalysis.calibrationCurve(
        nb.join(docs.select(col("doc_id").as("doc"),
          col("source").isin("src0", "src1").as("__lbl")), Seq("doc")),
        "doc", col("nb_micro"), col("__lbl"))
    },
      s"""WITH nb AS ($nbClassifierOracle),
         lab AS (SELECT doc_id, source IN ('src0','src1') AS pos
                 FROM documents WHERE text IS NOT NULL),
         j AS (SELECT nb.doc_id, nb.nb_micro AS s, lab.pos
               FROM nb JOIN lab USING (doc_id)),
         b AS (SELECT s, pos,
             ntile(10) OVER (ORDER BY s, doc_id) AS bin FROM j)
         SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(min(s) AS BIGINT) AS min_score,
           CAST(max(s) AS BIGINT) AS max_score,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1000000 // count(*)
             AS BIGINT) AS pos_rate_micro
         FROM b GROUP BY 1"""),

    // CCNet terciles under interpolated Kneser-Ney-style smoothing
    // (q132's lifecycle, upgraded per-pair probability). Novel-script
    // words spiked onto non-reference docs land in hash buckets the
    // 31-word reference vocabulary never occupies, so the unseen-prefix
    // backoff branch (c1 = 0 → pure continuation) provably fires
    // alongside the discounted-seen and unseen-pair paths
    Query("q150_interp_ppl", (s, d) => {
      val docs = Tables.documents(s, d)
      val spiked = when(!col("source").isin("src0", "src1") &&
          col("doc_id") % 11 === 0,
        concat(col("text"), lit(" cuneiform hieroglyph abjad")))
        .otherwise(col("text"))
      TextAnalysis.lmPerplexityBucketsKN(docs, "doc_id", spiked,
        docs.filter(col("source").isin("src0", "src1")), col("text"),
        order = 2, buckets = 256)
        .select(col("doc").as("doc_id"), col("n_pairs"),
          col("nll_micro"), col("mean_micro"), col("ppl_bucket"))
    },
      {
      val h = sqlHexLong("w[i]")
      // p = [max(4·c12−3,0)·(np+B) + 3·n1·(ct+1)] / (4·c1·(np+B)),
      // backoff (ct+1)/(np+B) when c1 = 0 — integer num/den, one ln
      s"""WITH refz AS (
           SELECT unnest(h[1:len(h)-1]) AS b1, unnest(h[2:len(h)]) AS b2
           FROM (SELECT [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE source IN ('src0','src1') AND text IS NOT NULL))),
         refp AS (SELECT b1, b2, CAST(count(*) AS BIGINT) AS c12
                  FROM refz GROUP BY 1, 2),
         marg AS (SELECT b1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1 FROM refp GROUP BY 1),
         cont AS (SELECT b2, CAST(count(*) AS BIGINT) AS ct FROM refp GROUP BY 1),
         np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM refp),
         dz AS (
           SELECT doc_id, unnest(h[1:len(h)-1]) AS b1, unnest(h[2:len(h)]) AS b2
           FROM (SELECT doc_id, [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT doc_id, string_split(
                         CASE WHEN source NOT IN ('src0','src1') AND doc_id % 11 = 0
                              THEN text || ' cuneiform hieroglyph abjad'
                              ELSE text END, ' ') AS w FROM documents
                       WHERE text IS NOT NULL))),
         dp AS (SELECT doc_id, b1, b2, CAST(count(*) AS BIGINT) AS m
                FROM dz GROUP BY 1, 2, 3),
         scored AS (
           SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_pairs,
             CAST(sum(m * CAST(floor(ln(
               CAST(CASE WHEN coalesce(c1, 0) > 0
                    THEN 4 * c1 * (np + 256) ELSE np + 256 END AS DOUBLE) /
               CAST(CASE WHEN coalesce(c1, 0) > 0
                    THEN greatest(4 * coalesce(c12, 0) - 3, 0) * (np + 256)
                         + 3 * n1 * (coalesce(ct, 0) + 1)
                    ELSE coalesce(ct, 0) + 1 END AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nll_micro
           FROM dp LEFT JOIN marg USING (b1) LEFT JOIN refp USING (b1, b2)
                LEFT JOIN cont USING (b2) CROSS JOIN np
           GROUP BY 1),
         mm AS (SELECT doc_id, n_pairs, nll_micro,
                  nll_micro // n_pairs AS mean_micro,
                  ntile(3) OVER (ORDER BY nll_micro // n_pairs, nll_micro, doc_id) AS t3
                FROM scored)
         SELECT doc_id, n_pairs, nll_micro, CAST(mean_micro AS BIGINT) AS mean_micro,
           CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
         FROM mm"""
    }),

    // corpus vocabulary: top-200 tokens by occurrence with document
    // frequency (tokenizer/BPE-training prep; deterministic truncation)
    Query("q53_vocabulary", (s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "doc_id", col("text"), 200),
      """SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 200"""),

    // per-(doc, token) TF-IDF weights (retrieval/curation scoring)
    Query("q57_tfidf", (s, d) =>
      TextAnalysis.tfIdf(Tables.documents(s, d), "doc_id", col("text")),
      """WITH ex AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc, token, CAST(count(*) AS BIGINT) AS tf FROM ex GROUP BY 1, 2),
         dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM documents)
         SELECT doc, tf.token AS token, tf,
           round(ln(CAST(nd + 1 AS DOUBLE) / (df + 1)) + 1.0, 6) AS idf,
           round(tf * (ln(CAST(nd + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS tfidf
         FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n"""),

    // Heaps-law vocabulary-growth curve over 3-shingle TYPES — the
    // corpus-saturation diagnostic (probed: shingle types grow with a
    // real sublinear bend, beta ~0.85 at sf0.01 / ~0.74 at sf0.1, where
    // WORD vocabulary saturates at 31 by doc 16 and would be vacuous)
    Query("q159_heaps_law", (s, d) =>
      TextAnalysis.heapsLaw(Tables.documents(s, d), "doc_id", col("text")),
      // Heaps curve mirrored op for op: one type-keyed aggregate, the
      // micro-quantized-log least-squares slope in exact integer sums
      {
      val cuts = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
      val tcols = cuts.map(c =>
        s"sum(CASE WHEN doc_id < $c THEN 1 ELSE 0 END) AS t$c").mkString(", ")
      val vagg = cuts.map(c =>
        s"count(CASE WHEN m < $c THEN 1 END) AS v$c").mkString(", ")
      val nagg = cuts.map(c => s"CAST(sum(t$c) AS BIGINT) AS n$c").mkString(", ")
      val logs = cuts.map(c =>
        s"""CAST(floor(ln(CAST(n$c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x$c,
           CAST(floor(ln(CAST(v$c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y$c""")
        .mkString(", ")
      val np = cuts.size
      val sx = cuts.map(c => s"x$c").mkString(" + ")
      val sy = cuts.map(c => s"y$c").mkString(" + ")
      val sxy = cuts.map(c => s"x$c * y$c").mkString(" + ")
      val sxx = cuts.map(c => s"x$c * x$c").mkString(" + ")
      val unions = cuts.map(c =>
        s"""SELECT CAST($c AS BIGINT) AS cutoff, n$c AS n_tokens,
           CAST(v$c AS BIGINT) AS n_vocab, beta_micro FROM b""")
        .mkString("\n         UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
         sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           THEN [array_to_string(w[i+1:i+3], ' ') for i in range(0, len(w) - 2)]
           ELSE [array_to_string(w, ' ')] END AS s FROM toks),
         t AS (SELECT doc_id, unnest(s) AS tk FROM sh),
         g AS (SELECT tk, min(doc_id) AS m, $tcols FROM t GROUP BY tk),
         r AS (SELECT $vagg, $nagg FROM g),
         l AS (SELECT *, $logs FROM r),
         b AS (SELECT *, CAST(floor(
             CAST($np * ($sxy) - ($sx) * ($sy) AS DOUBLE) /
             CAST($np * ($sxx) - ($sx) * ($sx) AS DOUBLE)
             * 1000000.0 + 0.5) AS BIGINT) AS beta_micro FROM l)
         $unions"""
    }),

    // adjacent-bigram PMI (collocation mining / tokenizer prep)
    Query("q66_bigram_pmi", (s, d) =>
      TextAnalysis.bigramPmi(Tables.documents(s, d), "doc_id", col("text"),
        minCount = 2),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]} for i in range(1, len(w))]) AS b FROM toks),
         bc AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c_ab
                FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM uc)
         SELECT w1, w2, c_ab,
           round(ln(CAST(nn AS DOUBLE) * c_ab / (a.c * b.c)), 6) AS pmi
         FROM bc JOIN uc a ON bc.w1 = a.tok JOIN uc b ON bc.w2 = b.tok CROSS JOIN n"""),

    // self-trained bigram-LM mean log-probability per doc (the
    // KenLM-style quality proxy)
    Query("q74_bigram_lm", (s, d) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, d), "doc_id",
        col("text")),
      // per-doc fold over the SORTED log-prob list (the charEntropy
      // pattern) — never a scheduler-ordered float aggregation
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bgl AS (SELECT doc_id,
           unnest([struct_pack(w1 := w[i+1], w2 := w[i+2])
             for i in range(0, len(w) - 1)]) AS b
           FROM t WHERE len(w) >= 2),
         bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgl),
         c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cp FROM c12 GROUP BY 1),
         lp AS (SELECT bg.doc_id, ln(CAST(c12.c AS DOUBLE) / c1.cp) AS lp
           FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
         agg AS (SELECT doc_id, list_sort(list(lp)) AS lps FROM lp GROUP BY doc_id)
         SELECT doc_id AS doc, CAST(len(lps) AS BIGINT) AS n_bigrams,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), lps),
             (acc, x) -> acc + x) / len(lps), 6) AS lm_score
         FROM agg"""),

    // skip-gram PMI (forward window 3): collocations beyond adjacency —
    // per-row pair HOF, one corpus agg, vocab^2-bounded margins
    Query("q99_skipgram_pmi", (s, d) =>
      TextAnalysis.skipgramPmi(Tables.documents(s, d), col("text"),
        window = 3, minCount = 2),
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
         pr AS (SELECT flatten([[{'w1': w[i], 'w2': w[j]}
                for j in range(i + 1, least(i + 3, len(w)) + 1)]
                for i in range(1, len(w) + 1)]) AS ps FROM toks),
         pe AS (SELECT unnest(ps) AS p FROM pr),
         pc AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c_ab
                FROM pe GROUP BY 1, 2),
         la AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM pc GROUP BY 1),
         rb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b FROM pc GROUP BY 1),
         n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nn FROM pc)
         SELECT pc.w1, pc.w2, pc.c_ab,
           round(ln(CAST(nn AS DOUBLE) * c_ab / (la.c_a * rb.c_b)), 6) AS pmi
         FROM pc JOIN la ON pc.w1 = la.w1 JOIN rb ON pc.w2 = rb.w2
           CROSS JOIN n
         WHERE pc.c_ab >= 2"""),

    // vocabulary coverage curve: top-k tokens covering 50/90/99% of
    // occurrences — exact-integer crossing test, vocab-bounded window
    Query("q100_vocab_coverage", (s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), col("text"),
        Seq(50, 90, 99)),
      """WITH uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
           GROUP BY 1),
         st AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
                CAST(count(*) AS BIGINT) AS vocab_size FROM uc),
         r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rn,
               CAST(sum(c) OVER (ORDER BY c DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
               FROM uc),
         x AS (SELECT t.threshold, r.rn, st.vocab_size, st.total_tokens
               FROM r CROSS JOIN st
               CROSS JOIN (SELECT unnest([50, 90, 99]) AS threshold) t
               WHERE r.cum * 100 >= t.threshold * st.total_tokens)
         SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(min(rn) AS BIGINT) AS tokens_needed,
           CAST(any_value(vocab_size) AS BIGINT) AS vocab_size,
           CAST(any_value(total_tokens) AS BIGINT) AS total_tokens
         FROM x GROUP BY 1"""),

    // Jensen–Shannon divergence between per-source token distributions
    // (the corpus-drift statistic behind mixture re-weighting).
    // vocabTop = 20 BINDS on the 31-token corpus vocabulary, so the
    // bounded-support path is what the gate checks, not a no-op cap.
    Query("q105_source_jsd", (s, d) =>
      TextAnalysis.sourceJsd(Tables.documents(s, d), "source", col("text"),
        vocabTop = 20),
      // sum-merge of the two pair sides is exact (0.0 + x); the final
      // double fold runs over the token-sorted list in both engines
      """WITH st AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT source AS src, unnest(string_split(text, ' ')) AS tok
                 FROM documents) GROUP BY 1, 2),
         v AS (SELECT tok FROM (SELECT tok, sum(c) AS tc FROM st
               GROUP BY 1 ORDER BY tc DESC, tok LIMIT 20)),
         iv AS (SELECT st.* FROM st JOIN v USING (tok)),
         tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS t FROM iv GROUP BY 1),
         p AS (SELECT src, tok, CAST(c AS DOUBLE) / t AS p
               FROM iv JOIN tot USING (src)),
         srcs AS (SELECT DISTINCT src FROM p),
         pairs AS (SELECT a.src AS sa, b.src AS sb FROM srcs a, srcs b
                   WHERE a.src < b.src),
         side AS (SELECT sa AS source_a, sb AS source_b, tok,
                  p AS pa, CAST(0 AS DOUBLE) AS pb
                  FROM p JOIN pairs ON p.src = pairs.sa
                  UNION ALL
                  SELECT sa, sb, tok, CAST(0 AS DOUBLE), p
                  FROM p JOIN pairs ON p.src = pairs.sb),
         m AS (SELECT source_a, source_b, tok, sum(pa) AS pa, sum(pb) AS pb
               FROM side GROUP BY 1, 2, 3),
         t AS (SELECT source_a, source_b, tok,
               (CASE WHEN pa > 0 THEN pa * ln(pa * CAST(2.0 AS DOUBLE) / (pa + pb))
                     ELSE CAST(0 AS DOUBLE) END) * CAST(0.5 AS DOUBLE) +
               (CASE WHEN pb > 0 THEN pb * ln(pb * CAST(2.0 AS DOUBLE) / (pa + pb))
                     ELSE CAST(0 AS DOUBLE) END) * CAST(0.5 AS DOUBLE) AS term
               FROM m),
         agg AS (SELECT source_a, source_b,
                 list_sort(list(struct_pack(tok := tok, term := term))) AS ts
                 FROM t GROUP BY 1, 2)
         SELECT source_a, source_b,
           CAST(len(ts) AS BIGINT) AS n_tokens_support,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [x.term for x in ts]), (acc, y) -> acc + y), 6) AS jsd
         FROM agg"""),

    // word2vec negative-sampling table: unigram^0.75 draw weights in
    // exact integer milli-units (order-independent normalizer), shares
    // against the integer total
    Query("q108_neg_sampling", (s, d) =>
      TextAnalysis.negativeSamplingWeights(Tables.documents(s, d),
        col("text"), topK = 50),
      // sqrt-composed c^0.75 (no pow), integer weight units, integer total
      """WITH uc AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
           FROM (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents) GROUP BY 1),
         w AS (SELECT token, n_occurrences,
               CAST(floor(sqrt(CAST(n_occurrences AS DOUBLE)
                 * sqrt(CAST(n_occurrences AS DOUBLE))) * 1000.0) AS BIGINT)
                 AS weight_units FROM uc),
         t AS (SELECT CAST(sum(weight_units) AS BIGINT) AS tw FROM w)
         SELECT token, n_occurrences, weight_units,
           round(CAST(weight_units AS DOUBLE) / tw, 6) AS sample_share
         FROM w CROSS JOIN t
         ORDER BY n_occurrences DESC, token LIMIT 50"""),

    // trigram interpolated Kneser-Ney perplexity terciles — q150 one
    // order up, the first order where the KN recursion actually CHAINS
    // (trigram → continuation-count bigram → continuation unigram).
    // q150's novel-script spike makes the unseen-PREFIX backoff
    // (c12 = 0 → middle order) provably fire next to the
    // discounted-seen and unseen-triple paths
    Query("q201_interp_ppl_tri", (s, d) => {
      val docs = Tables.documents(s, d)
      val spiked = when(!col("source").isin("src0", "src1") &&
          col("doc_id") % 11 === 0,
        concat(col("text"), lit(" cuneiform hieroglyph abjad")))
        .otherwise(col("text"))
      TextAnalysis.lmPerplexityBucketsKN(docs, "doc_id", spiked,
        docs.filter(col("source").isin("src0", "src1")), col("text"),
        order = 3, buckets = 256)
        .select(col("doc").as("doc_id"), col("n_triples"),
          col("nll_micro"), col("mean_micro"), col("ppl_bucket"))
    },
      // q150's oracle one order up: the trigram/continuation-bigram/
      // continuation-unigram chain as exact integer ratios, one ln
      {
      val h = sqlHexLong("w[i]")
      s"""WITH refz AS (
           SELECT unnest(h[1:len(h)-2]) AS b1, unnest(h[2:len(h)-1]) AS b2,
             unnest(h[3:len(h)]) AS b3
           FROM (SELECT [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE source IN ('src0','src1') AND text IS NOT NULL)
                 WHERE len(w) >= 3)),
         refp AS (SELECT b1, b2, b3, CAST(count(*) AS BIGINT) AS c123
                  FROM refz GROUP BY 1, 2, 3),
         pre AS (SELECT b1, b2, CAST(sum(c123) AS BIGINT) AS c12,
                 CAST(count(*) AS BIGINT) AS n12 FROM refp GROUP BY 1, 2),
         cont AS (SELECT b2, b3, CAST(count(*) AS BIGINT) AS cp
                  FROM refp GROUP BY 1, 2),
         c2 AS (SELECT b2, CAST(sum(cp) AS BIGINT) AS cp2,
                CAST(count(*) AS BIGINT) AS n2 FROM cont GROUP BY 1),
         ctt AS (SELECT b3, CAST(count(*) AS BIGINT) AS ct3
                 FROM cont GROUP BY 1),
         np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM cont),
         dz AS (
           SELECT doc_id, unnest(h[1:len(h)-2]) AS b1,
             unnest(h[2:len(h)-1]) AS b2, unnest(h[3:len(h)]) AS b3
           FROM (SELECT doc_id, [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT doc_id, string_split(
                         CASE WHEN source NOT IN ('src0','src1') AND doc_id % 11 = 0
                              THEN text || ' cuneiform hieroglyph abjad'
                              ELSE text END, ' ') AS w FROM documents
                       WHERE text IS NOT NULL)
                 WHERE len(w) >= 3)),
         dp AS (SELECT doc_id, b1, b2, b3, CAST(count(*) AS BIGINT) AS m
                FROM dz GROUP BY 1, 2, 3, 4),
         terms AS (
           SELECT doc_id, m,
             CASE WHEN coalesce(cp2, 0) > 0
               THEN greatest(4 * coalesce(cp, 0) - 3, 0) * (np + 256)
                    + 3 * n2 * (coalesce(ct3, 0) + 1)
               ELSE coalesce(ct3, 0) + 1 END AS a2,
             CASE WHEN coalesce(cp2, 0) > 0
               THEN 4 * cp2 * (np + 256) ELSE np + 256 END AS d2,
             coalesce(c12, 0) AS c12x, coalesce(n12, 0) AS n12x,
             coalesce(c123, 0) AS c123x
           FROM dp LEFT JOIN pre USING (b1, b2)
                LEFT JOIN refp USING (b1, b2, b3)
                LEFT JOIN cont USING (b2, b3) LEFT JOIN c2 USING (b2)
                LEFT JOIN ctt USING (b3) CROSS JOIN np),
         scored AS (
           SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_triples,
             CAST(sum(m * CAST(floor(ln(
               CAST(CASE WHEN c12x > 0 THEN 4 * c12x * d2 ELSE d2 END
                 AS DOUBLE) /
               CAST(CASE WHEN c12x > 0
                    THEN greatest(4 * c123x - 3, 0) * d2 + 3 * n12x * a2
                    ELSE a2 END AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nll_micro
           FROM terms GROUP BY 1),
         mm AS (SELECT doc_id, n_triples, nll_micro,
                  nll_micro // n_triples AS mean_micro,
                  ntile(3) OVER (ORDER BY nll_micro // n_triples,
                    nll_micro, doc_id) AS t3
                FROM scored)
         SELECT doc_id, n_triples, nll_micro,
           CAST(mean_micro AS BIGINT) AS mean_micro,
           CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ppl_bucket
         FROM mm"""
    }),

    // 4-gram interpolated Kneser-Ney perplexity terciles — q201 one
    // order up, three full backoff levels chained (4-gram →
    // continuation trigram → continuation-of-continuation bigram →
    // continuation unigram), B = 64 per the order-4 exact-long bound.
    // Probed at sf0.01, ALL FIVE chain branches fire non-vacuously:
    // 3,287 discounted-seen quads / 4,024 unseen-quad-seen-prefix /
    // 17,698 unseen-prefix (→ continuation trigram) / 775
    // unseen-(b2,b3)-context (→ continuation bigram) / 41 of those in
    // b3 buckets the reference never produced (→ the add-one
    // continuation unigram floor)
    Query("q209_interp_ppl_quad", (s, d) => {
      val docs = Tables.documents(s, d)
      val spiked = when(!col("source").isin("src0", "src1") &&
          col("doc_id") % 11 === 0,
        concat(col("text"), lit(" cuneiform hieroglyph abjad")))
        .otherwise(col("text"))
      TextAnalysis.lmPerplexityBucketsKN(docs, "doc_id", spiked,
        docs.filter(col("source").isin("src0", "src1")), col("text"),
        order = 4, buckets = 64)
        .select(col("doc").as("doc_id"), col("n_quads"),
          col("nll_micro"), col("mean_micro"), col("ppl_bucket"))
    },
      // the q201 chain one order up at B=64: 4-gram → continuation
      // trigram → continuation-of-continuation bigram → continuation
      // unigram, the same rationalized integer chain with three
      // backoff levels (a1/d1 → a2/d2 → num/den)
      {
      val h = sqlHexLong("w[i]")
      s"""WITH refz AS (
           SELECT unnest(h[1:len(h)-3]) AS b1, unnest(h[2:len(h)-2]) AS b2,
             unnest(h[3:len(h)-1]) AS b3, unnest(h[4:len(h)]) AS b4
           FROM (SELECT [$h % 64 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE source IN ('src0','src1') AND text IS NOT NULL)
                 WHERE len(w) >= 4)),
         refp AS (SELECT b1, b2, b3, b4, CAST(count(*) AS BIGINT) AS c1234
                  FROM refz GROUP BY 1, 2, 3, 4),
         pre AS (SELECT b1, b2, b3, CAST(sum(c1234) AS BIGINT) AS c123,
                 CAST(count(*) AS BIGINT) AS n123 FROM refp GROUP BY 1, 2, 3),
         cont3 AS (SELECT b2, b3, b4, CAST(count(*) AS BIGINT) AS cp3
                   FROM refp GROUP BY 1, 2, 3),
         c23 AS (SELECT b2, b3, CAST(sum(cp3) AS BIGINT) AS cp3s,
                 CAST(count(*) AS BIGINT) AS n23 FROM cont3 GROUP BY 1, 2),
         contp AS (SELECT b3, b4, CAST(count(*) AS BIGINT) AS cpp
                   FROM cont3 GROUP BY 1, 2),
         c3 AS (SELECT b3, CAST(sum(cpp) AS BIGINT) AS cpp2,
                CAST(count(*) AS BIGINT) AS n3 FROM contp GROUP BY 1),
         ctt AS (SELECT b4, CAST(count(*) AS BIGINT) AS ct4
                 FROM contp GROUP BY 1),
         np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM contp),
         dz AS (
           SELECT doc_id, unnest(h[1:len(h)-3]) AS b1,
             unnest(h[2:len(h)-2]) AS b2, unnest(h[3:len(h)-1]) AS b3,
             unnest(h[4:len(h)]) AS b4
           FROM (SELECT doc_id, [$h % 64 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT doc_id, string_split(
                         CASE WHEN source NOT IN ('src0','src1') AND doc_id % 11 = 0
                              THEN text || ' cuneiform hieroglyph abjad'
                              ELSE text END, ' ') AS w FROM documents
                       WHERE text IS NOT NULL)
                 WHERE len(w) >= 4)),
         dp AS (SELECT doc_id, b1, b2, b3, b4, CAST(count(*) AS BIGINT) AS m
                FROM dz GROUP BY 1, 2, 3, 4, 5),
         t1 AS (
           SELECT doc_id, m,
             CASE WHEN coalesce(cpp2, 0) > 0
               THEN greatest(4 * coalesce(cpp, 0) - 3, 0) * (np + 64)
                    + 3 * n3 * (coalesce(ct4, 0) + 1)
               ELSE coalesce(ct4, 0) + 1 END AS a1,
             CASE WHEN coalesce(cpp2, 0) > 0
               THEN 4 * cpp2 * (np + 64) ELSE np + 64 END AS d1,
             coalesce(cp3, 0) AS cp3x, coalesce(cp3s, 0) AS cp3sx,
             coalesce(n23, 0) AS n23x,
             coalesce(c123, 0) AS c123x, coalesce(n123, 0) AS n123x,
             coalesce(c1234, 0) AS c1234x
           FROM dp LEFT JOIN pre USING (b1, b2, b3)
                LEFT JOIN refp USING (b1, b2, b3, b4)
                LEFT JOIN cont3 USING (b2, b3, b4)
                LEFT JOIN c23 USING (b2, b3)
                LEFT JOIN contp USING (b3, b4) LEFT JOIN c3 USING (b3)
                LEFT JOIN ctt USING (b4) CROSS JOIN np),
         t2 AS (
           SELECT doc_id, m, c123x, n123x, c1234x,
             CASE WHEN cp3sx > 0
               THEN greatest(4 * cp3x - 3, 0) * d1 + 3 * n23x * a1
               ELSE a1 END AS a2,
             CASE WHEN cp3sx > 0 THEN 4 * cp3sx * d1 ELSE d1 END AS d2
           FROM t1),
         scored AS (
           SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_quads,
             CAST(sum(m * CAST(floor(ln(
               CAST(CASE WHEN c123x > 0 THEN 4 * c123x * d2 ELSE d2 END
                 AS DOUBLE) /
               CAST(CASE WHEN c123x > 0
                    THEN greatest(4 * c1234x - 3, 0) * d2 + 3 * n123x * a2
                    ELSE a2 END AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nll_micro
           FROM t2 GROUP BY 1),
         mm AS (SELECT doc_id, n_quads, nll_micro,
                  nll_micro // n_quads AS mean_micro,
                  ntile(3) OVER (ORDER BY nll_micro // n_quads,
                    nll_micro, doc_id) AS t3
                FROM scored)
         SELECT doc_id, n_quads, nll_micro,
           CAST(mean_micro AS BIGINT) AS mean_micro,
           CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ppl_bucket
         FROM mm"""
    }),

    // 5-gram interpolated Kneser-Ney perplexity terciles — the
    // published CCNet filter order (Wenzek et al. 2020 use a 5-gram
    // KenLM), closing the LM tier's order ceiling: FOUR full backoff
    // levels chained (5-gram → continuation 4-gram → continuation
    // trigram → continuation bigram → continuation unigram), B = 32
    // per the order-5 exact-long bound. Spike appends FOUR novel
    // tokens so boundary quints cross old→new text at every offset.
    // Branch census at sf0.01 (probed): 3,055 discounted-seen quints /
    // 557 unseen-quint-seen-prefix / 7,084 unseen-prefix (→
    // continuation 4-gram) / 14,205 unseen-(b2,b3,b4) (→ continuation
    // trigram) / 387 unseen-(b3,b4) (→ continuation bigram) / 41
    // unseen-b4 (→ the add-one continuation-unigram floor) — ALL SIX
    // chain levels carry mass non-vacuously
    Query("q212_interp_ppl_quint", (s, d) => {
      val docs = Tables.documents(s, d)
      val spiked = when(!col("source").isin("src0", "src1") &&
          col("doc_id") % 11 === 0,
        concat(col("text"),
          lit(" cuneiform hieroglyph abjad syllabary")))
        .otherwise(col("text"))
      TextAnalysis.lmPerplexityBucketsKN(docs, "doc_id", spiked,
        docs.filter(col("source").isin("src0", "src1")), col("text"),
        order = 5, buckets = 32)
        .select(col("doc").as("doc_id"), col("n_quints"),
          col("nll_micro"), col("mean_micro"), col("ppl_bucket"))
    },
      {
      val h = sqlHexLong("w[i]")
      s"""WITH refz AS (
           SELECT unnest(h[1:len(h)-4]) AS b1, unnest(h[2:len(h)-3]) AS b2,
             unnest(h[3:len(h)-2]) AS b3, unnest(h[4:len(h)-1]) AS b4,
             unnest(h[5:len(h)]) AS b5
           FROM (SELECT [$h % 32 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE source IN ('src0','src1') AND text IS NOT NULL)
                 WHERE len(w) >= 5)),
         refp AS (SELECT b1, b2, b3, b4, b5,
                  CAST(count(*) AS BIGINT) AS c12345
                  FROM refz GROUP BY 1, 2, 3, 4, 5),
         pre AS (SELECT b1, b2, b3, b4, CAST(sum(c12345) AS BIGINT) AS c1234,
                 CAST(count(*) AS BIGINT) AS n1234
                 FROM refp GROUP BY 1, 2, 3, 4),
         cont4 AS (SELECT b2, b3, b4, b5, CAST(count(*) AS BIGINT) AS cp4
                   FROM refp GROUP BY 1, 2, 3, 4),
         c234 AS (SELECT b2, b3, b4, CAST(sum(cp4) AS BIGINT) AS cp4s,
                  CAST(count(*) AS BIGINT) AS n234 FROM cont4 GROUP BY 1, 2, 3),
         cont3 AS (SELECT b3, b4, b5, CAST(count(*) AS BIGINT) AS cpp3
                   FROM cont4 GROUP BY 1, 2, 3),
         c34 AS (SELECT b3, b4, CAST(sum(cpp3) AS BIGINT) AS cpp3s,
                 CAST(count(*) AS BIGINT) AS n34 FROM cont3 GROUP BY 1, 2),
         contp AS (SELECT b4, b5, CAST(count(*) AS BIGINT) AS cppp
                   FROM cont3 GROUP BY 1, 2),
         c4 AS (SELECT b4, CAST(sum(cppp) AS BIGINT) AS cppp2,
                CAST(count(*) AS BIGINT) AS n4 FROM contp GROUP BY 1),
         ctt AS (SELECT b5, CAST(count(*) AS BIGINT) AS ct5
                 FROM contp GROUP BY 1),
         np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM contp),
         dz AS (
           SELECT doc_id, unnest(h[1:len(h)-4]) AS b1,
             unnest(h[2:len(h)-3]) AS b2, unnest(h[3:len(h)-2]) AS b3,
             unnest(h[4:len(h)-1]) AS b4, unnest(h[5:len(h)]) AS b5
           FROM (SELECT doc_id, [$h % 32 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT doc_id, string_split(
                         CASE WHEN source NOT IN ('src0','src1') AND doc_id % 11 = 0
                              THEN text || ' cuneiform hieroglyph abjad syllabary'
                              ELSE text END, ' ') AS w FROM documents
                       WHERE text IS NOT NULL)
                 WHERE len(w) >= 5)),
         dp AS (SELECT doc_id, b1, b2, b3, b4, b5,
                CAST(count(*) AS BIGINT) AS m
                FROM dz GROUP BY 1, 2, 3, 4, 5, 6),
         t1 AS (
           SELECT doc_id, m,
             CASE WHEN coalesce(cppp2, 0) > 0
               THEN greatest(4 * coalesce(cppp, 0) - 3, 0) * (np + 32)
                    + 3 * n4 * (coalesce(ct5, 0) + 1)
               ELSE coalesce(ct5, 0) + 1 END AS a1,
             CASE WHEN coalesce(cppp2, 0) > 0
               THEN 4 * cppp2 * (np + 32) ELSE np + 32 END AS d1,
             coalesce(cpp3, 0) AS cpp3x, coalesce(cpp3s, 0) AS cpp3sx,
             coalesce(n34, 0) AS n34x,
             coalesce(cp4, 0) AS cp4x, coalesce(cp4s, 0) AS cp4sx,
             coalesce(n234, 0) AS n234x,
             coalesce(c1234, 0) AS c1234x, coalesce(n1234, 0) AS n1234x,
             coalesce(c12345, 0) AS c12345x
           FROM dp LEFT JOIN pre USING (b1, b2, b3, b4)
                LEFT JOIN refp USING (b1, b2, b3, b4, b5)
                LEFT JOIN cont4 USING (b2, b3, b4, b5)
                LEFT JOIN c234 USING (b2, b3, b4)
                LEFT JOIN cont3 USING (b3, b4, b5)
                LEFT JOIN c34 USING (b3, b4)
                LEFT JOIN contp USING (b4, b5) LEFT JOIN c4 USING (b4)
                LEFT JOIN ctt USING (b5) CROSS JOIN np),
         t2 AS (
           SELECT doc_id, m, cp4x, cp4sx, n234x, c1234x, n1234x, c12345x,
             CASE WHEN cpp3sx > 0
               THEN greatest(4 * cpp3x - 3, 0) * d1 + 3 * n34x * a1
               ELSE a1 END AS a2,
             CASE WHEN cpp3sx > 0 THEN 4 * cpp3sx * d1 ELSE d1 END AS d2
           FROM t1),
         t3 AS (
           SELECT doc_id, m, c1234x, n1234x, c12345x,
             CASE WHEN cp4sx > 0
               THEN greatest(4 * cp4x - 3, 0) * d2 + 3 * n234x * a2
               ELSE a2 END AS a3,
             CASE WHEN cp4sx > 0 THEN 4 * cp4sx * d2 ELSE d2 END AS d3
           FROM t2),
         scored AS (
           SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_quints,
             CAST(sum(m * CAST(floor(ln(
               CAST(CASE WHEN c1234x > 0 THEN 4 * c1234x * d3 ELSE d3 END
                 AS DOUBLE) /
               CAST(CASE WHEN c1234x > 0
                    THEN greatest(4 * c12345x - 3, 0) * d3 + 3 * n1234x * a3
                    ELSE a3 END AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nll_micro
           FROM t3 GROUP BY 1),
         mm AS (SELECT doc_id, n_quints, nll_micro,
                  nll_micro // n_quints AS mean_micro,
                  ntile(3) OVER (ORDER BY nll_micro // n_quints,
                    nll_micro, doc_id) AS t3n
                FROM scored)
         SELECT doc_id, n_quints, nll_micro,
           CAST(mean_micro AS BIGINT) AS mean_micro,
           CASE t3n WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ppl_bucket
         FROM mm"""
    }),

    // Burrows' Delta authorship attribution: each source writes with
    // a coded function-word mix ((N%3, N%4, N%5) repeat counts —
    // distinct per source); Delta must recover the hand from the rates
    Query("q191_burrows_delta", (s, d) => {
      val idx = "cast(substr(source, 4) as int)"
      val styled = concat(col("text"), lit(" "),
        expr(s"repeat('thus ', $idx % 3 + 1)"),
        expr(s"repeat('hence ', $idx % 4 + 1)"),
        expr(s"repeat('very ', $idx % 5 + 1)"), lit("quite"))
      TextAnalysis.burrowsDelta(Tables.documents(s, d), "doc_id",
        "source", styled, Seq("thus", "hence", "very", "quite"))
    },
      // same floor-mean/MD scaling, sign-split divisions, md5 tie-break
      {
      val ms = Seq("thus", "hence", "very", "quite")
      val cid = sqlHexLong("cand")
      val fCols = ms.zipWithIndex.map { case (w, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$w')) AS BIGINT) * 1000000 // n AS f$i"
      }.mkString(", ")
      val fbarCols = ms.indices.map(i =>
        s"CAST(sum(f$i) AS BIGINT) // count(*) AS fbar$i").mkString(", ")
      val mdCols = ms.indices.map(i =>
        s"greatest(CAST(sum(abs(f$i - fbar$i)) AS BIGINT) // max(nd), 1) AS md$i")
        .mkString(", ")
      val zCols = ms.indices.map(i =>
        s"""CASE WHEN f$i >= fbar$i
           THEN (f$i - fbar$i) * 1000000 // md$i
           ELSE -((fbar$i - f$i) * 1000000 // md$i) END AS z$i""")
        .mkString(", ")
      val szCols = ms.indices.map(i =>
        s"CAST(sum(z$i) AS BIGINT) AS sz$i").mkString(", ")
      val zcCols = ms.indices.map(i =>
        s"""CASE WHEN sz$i >= 0 THEN sz$i // ns
           ELSE -((-sz$i) // ns) END AS zc$i""").mkString(", ")
      val deltaExpr = ms.indices.map(i => s"abs(z$i - zc$i)")
        .mkString("(", " + ", s") // ${ms.length}")
      s"""WITH sp AS (SELECT doc_id, source, text || ' '
             || repeat('thus ', CAST(substr(source, 4) AS INTEGER) % 3 + 1)
             || repeat('hence ', CAST(substr(source, 4) AS INTEGER) % 4 + 1)
             || repeat('very ', CAST(substr(source, 4) AS INTEGER) % 5 + 1)
             || 'quite' AS tx
           FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         t AS (SELECT doc_id, source,
             [x for x in string_split(tx, ' ') if len(x) > 0] AS toks
           FROM sp),
         t2 AS (SELECT doc_id, source, toks,
             CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) > 0),
         r AS (SELECT doc_id, source, n, $fCols FROM t2),
         st AS (SELECT $fbarCols, CAST(count(*) AS BIGINT) AS nd FROM r),
         md AS (SELECT $mdCols FROM r CROSS JOIN st),
         z AS (SELECT doc_id, source, $zCols
           FROM r CROSS JOIN st CROSS JOIN md),
         c AS (SELECT source AS cand, $szCols,
             CAST(count(*) AS BIGINT) AS ns
           FROM z GROUP BY 1),
         cc AS (SELECT cand, $cid AS cid, $zcCols FROM c),
         d AS (SELECT z.doc_id, z.source, cc.cand, cc.cid,
             CAST($deltaExpr AS BIGINT) AS delta
           FROM z CROSS JOIN cc),
         p AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY delta, cid) AS rn FROM d)
         SELECT doc_id, source, cand AS predicted,
           delta AS delta_micro, source = cand AS correct
         FROM p WHERE rn = 1"""
    }),

    // exact tie-aware ROC AUC of the NB quality filter under q164's
    // noisy labels — the threshold-free ranking metric completing the
    // eval tier (PR sweep q164, calibration q148)
    Query("q190_auc", (s, d) => {
      val docs = Tables.documents(s, d)
      val spiked = concat(col("text"),
        when(col("source").isin("src0", "src1") && col("doc_id") % 4 =!= 0,
          lit(" curated encyclopedia reference citation archive"))
          .when(col("source") === "src2",
            lit(" encyclopedia reference citation"))
          .otherwise(lit("")))
      val scored = TextAnalysis.nbClassifier(docs, "doc_id", spiked,
          col("source").isin("src0", "src1"))
        .join(docs.select(col("doc_id").as("doc"), col("source")),
          Seq("doc"))
      TextAnalysis.aucExact(scored, col("nb_micro"),
        col("source").isin("src0", "src1"))
    },
      // Mann-Whitney with doubled tie halves over the distinct-score
      // table; same spiked NB scoring as q164
      {
      val noised = nbClassifierOracleSpiked(
        """CASE WHEN source IN ('src0','src1') AND doc_id % 4 <> 0
        THEN text || ' curated encyclopedia reference citation archive'
        WHEN source = 'src2' THEN text || ' encyclopedia reference citation'
        ELSE text END""")
      s"""WITH nb AS ($noised),
         scored AS (SELECT n.nb_micro AS s,
             d.source IN ('src0', 'src1') AS y
           FROM nb n JOIN documents d USING (doc_id)),
         bs AS (SELECT s,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cn
           FROM scored WHERE s IS NOT NULL GROUP BY 1),
         cw AS (SELECT s, cp, cn,
             coalesce(sum(cn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cnlt
           FROM bs)
         SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
           CAST(sum(cn) AS BIGINT) AS n_neg,
           CAST(CASE WHEN sum(cp) > 0 AND sum(cn) > 0
             THEN sum(cp * (2 * cnlt + cn)) * 1000000
               // (2 * sum(cp) * sum(cn))
             ELSE NULL END AS BIGINT) AS auc_micro
         FROM cw"""
    }),

    // first BPE merge round: weighted adjacent char-pair counts over
    // the corpus vocabulary (pair table bounded by vocab, not corpus)
    Query("q116_bpe_pairs", (s, d) =>
      TextAnalysis.bpePairStats(Tables.documents(s, d), col("text"),
        topK = 50),
      """WITH v AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM
           (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           WHERE length(word) >= 2 GROUP BY 1),
         p AS (SELECT unnest([substr(word, i, 2) for i in range(1, length(word))]) AS pair, wc FROM v)
         SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occurrences FROM p
         GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT 50"""),

    // collocation graph export: top-3 PMI partners per left token over
    // the q99 skip-gram statistics (vocab-partitioned window)
    Query("q122_colloc_graph", (s, d) => {
      val pmi = TextAnalysis.skipgramPmi(Tables.documents(s, d), col("text"),
        window = 3, minCount = 2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w1")).orderBy(col("pmi").desc, col("w2"))
      pmi.withColumn("partner_rank", row_number().over(w).cast(LongType))
        .filter(col("partner_rank") <= 3)
    },
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
         pr AS (SELECT flatten([[{'w1': w[i], 'w2': w[j]}
                for j in range(i + 1, least(i + 3, len(w)) + 1)]
                for i in range(1, len(w) + 1)]) AS ps FROM toks),
         pe AS (SELECT unnest(ps) AS p FROM pr),
         pc AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c_ab
                FROM pe GROUP BY 1, 2),
         la AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM pc GROUP BY 1),
         rb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b FROM pc GROUP BY 1),
         n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nn FROM pc),
         pm AS (SELECT pc.w1 AS w1, pc.w2 AS w2, pc.c_ab AS c_ab,
           round(ln(CAST(nn AS DOUBLE) * c_ab / (la.c_a * rb.c_b)), 6) AS pmi
           FROM pc JOIN la ON pc.w1 = la.w1 JOIN rb ON pc.w2 = rb.w2
             CROSS JOIN n
           WHERE pc.c_ab >= 2)
         SELECT w1, w2, c_ab, pmi, CAST(rn AS BIGINT) AS partner_rank FROM
           (SELECT *, row_number() OVER (PARTITION BY w1
              ORDER BY pmi DESC, w2) AS rn FROM pm)
         WHERE rn <= 3"""),

    // sparse 3-gram cosine top-pairs through the inverted-index join —
    // the lexical near-dup scorer next to the embedding tier; df band
    // [2, 50] caps per-term pair fan-out (and is part of the score's
    // definition, mirrored in the oracle)
    Query("q112_sparse_cosine", (s, d) =>
      TextAnalysis.sparseCosinePairs(Tables.documents(s, d), "doc_id",
        col("text"), ngram = 3, maxDf = 50, topK = 50),
      // integer tf dot products and norms; round before ORDER BY so both
      // engines rank the same ties, (doc_a, doc_b) breaks the rest
      """WITH toks AS (SELECT doc_id AS doc, string_split(text, ' ') AS w
           FROM documents),
         sh AS (SELECT doc, CASE WHEN len(w) >= 3
           THEN [array_to_string(w[i+1:i+3], ' ')
                 for i in range(0, len(w) - 2)]
           ELSE [] END AS terms FROM toks),
         tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc, unnest(terms) AS term FROM sh) GROUP BY 1, 2),
         dfc AS (SELECT term FROM
           (SELECT term, count(*) AS df FROM tf GROUP BY 1)
           WHERE df BETWEEN 2 AND 50),
         kept AS (SELECT tf.doc, tf.term, tf.tf FROM tf JOIN dfc USING (term)),
         norms AS (SELECT doc, CAST(sum(tf * tf) AS BIGINT) AS n2
           FROM kept GROUP BY 1),
         pairs AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
           CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
           FROM kept a JOIN kept b ON a.term = b.term AND a.doc < b.doc
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, dot,
           round(CAST(dot AS DOUBLE) /
             (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
             AS cosine
         FROM pairs
         JOIN norms na ON pairs.doc_a = na.doc
         JOIN norms nb ON pairs.doc_b = nb.doc
         ORDER BY cosine DESC, doc_a, doc_b LIMIT 50"""),

    // BM25 lexical retrieval over the q75 term set: probabilistic
    // ranking with term-sorted per-doc folds, top-20 through the
    // bounded two-phase aggregate
    Query("q87_bm25", (s, d) =>
      TextAnalysis.bm25(Tables.documents(s, d), "doc_id", col("text"),
        RrfTerms),
      {
      val terms = RrfTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT doc_id AS doc, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
         base AS (SELECT doc, w, CAST(len(w) AS DOUBLE) AS dl FROM d),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS N, avg(dl) AS avgdl FROM base),
         tf AS (SELECT doc, dl, term, CAST(count(*) AS DOUBLE) AS tf
           FROM (SELECT doc, dl, unnest(w) AS term FROM base)
           WHERE term IN ($terms) GROUP BY 1, 2, 3),
         dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         scored AS (SELECT doc, term,
           ln((N - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
             (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
             (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
               + CAST(0.75 AS DOUBLE) * dl / avgdl)) AS s
           FROM tf JOIN dfreq USING (term), stats),
         perdoc AS (SELECT doc, round(list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               [x.s for x in list_sort(list(struct_pack(term := term, s := s)))]),
             (acc, y) -> acc + y), 6) AS bm25
           FROM scored GROUP BY doc),
         r AS (SELECT doc, bm25, row_number() OVER (
             ORDER BY bm25 DESC, doc) AS rn FROM perdoc)
         SELECT doc AS doc_id, bm25, CAST(rn AS BIGINT) AS bm25_rank
         FROM r WHERE rn <= 20"""
    }),

    // Moore-Lewis cross-entropy difference selection: every doc scored
    // by an in-domain add-one bigram LM (trained on src0/src1) AND a
    // general LM (trained on the remaining sources); CED = mean_in -
    // mean_gen in exact micro-nats, selected below the corpus-mean CED
    // cut (the size-imbalance-calibrated operating point). Probed
    // non-vacuous at sf0.01: all 50 in-domain docs and a proper subset
    // of the general docs clear the cut - the decision fires both ways
    // and splits WITHIN the general group rather than memorizing the
    // source split.
    Query("q169_ced_select", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.crossEntropyDiffSelect(docs, "doc_id", col("text"),
        docs.filter(col("source").isin("src0", "src1")), col("text"),
        docs.filter(!col("source").isin("src0", "src1")), col("text"))
        .select(col("doc").as("doc_id"), col("n_pairs"),
          col("nll_in_micro"), col("nll_gen_micro"),
          col("mean_in_micro"), col("mean_gen_micro"),
          col("ced_micro"), col("selected"))
    },
      // two q132-shaped add-one LMs (in-domain / general) scored in one
      // pass; CED is a subtraction of two integer-div means
      {
      val h = sqlHexLong("w[i]")
      s"""WITH refzi AS (
           SELECT unnest(h[1:len(h)-1]) AS b1, unnest(h[2:len(h)]) AS b2
           FROM (SELECT [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE source IN ('src0','src1') AND text IS NOT NULL))),
         refpi AS (SELECT b1, b2, CAST(count(*) AS BIGINT) AS c12i
                   FROM refzi GROUP BY 1, 2),
         margi AS (SELECT b1, CAST(sum(c12i) AS BIGINT) AS c1i
                   FROM refpi GROUP BY 1),
         refzg AS (
           SELECT unnest(h[1:len(h)-1]) AS b1, unnest(h[2:len(h)]) AS b2
           FROM (SELECT [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE source NOT IN ('src0','src1')
                         AND text IS NOT NULL))),
         refpg AS (SELECT b1, b2, CAST(count(*) AS BIGINT) AS c12g
                   FROM refzg GROUP BY 1, 2),
         margg AS (SELECT b1, CAST(sum(c12g) AS BIGINT) AS c1g
                   FROM refpg GROUP BY 1),
         dz AS (
           SELECT doc_id, unnest(h[1:len(h)-1]) AS b1, unnest(h[2:len(h)]) AS b2
           FROM (SELECT doc_id, [$h % 256 for i in range(1, len(w) + 1)] AS h
                 FROM (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents WHERE text IS NOT NULL))),
         dp AS (SELECT doc_id, b1, b2, CAST(count(*) AS BIGINT) AS m
                FROM dz GROUP BY 1, 2, 3),
         scored AS (
           SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_pairs,
             CAST(sum(m * CAST(floor(ln(
               CAST(coalesce(c1i, 0) + 256 AS DOUBLE) /
               CAST(coalesce(c12i, 0) + 1 AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS nll_in_micro,
             CAST(sum(m * CAST(floor(ln(
               CAST(coalesce(c1g, 0) + 256 AS DOUBLE) /
               CAST(coalesce(c12g, 0) + 1 AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS nll_gen_micro
           FROM dp LEFT JOIN margi USING (b1)
                LEFT JOIN refpi USING (b1, b2)
                LEFT JOIN margg USING (b1)
                LEFT JOIN refpg USING (b1, b2)
           GROUP BY 1),
         mm AS (SELECT doc_id, n_pairs, nll_in_micro, nll_gen_micro,
                  CAST(nll_in_micro // n_pairs AS BIGINT) AS mean_in_micro,
                  CAST(nll_gen_micro // n_pairs AS BIGINT) AS mean_gen_micro
                FROM scored),
         cut AS (SELECT CAST(sum(mean_in_micro) // count(*) AS BIGINT)
                   - CAST(sum(mean_gen_micro) // count(*) AS BIGINT) AS c
                 FROM mm)
         SELECT doc_id, n_pairs, nll_in_micro, nll_gen_micro,
           mean_in_micro, mean_gen_micro,
           mean_in_micro - mean_gen_micro AS ced_micro,
           mean_in_micro - mean_gen_micro < (SELECT c FROM cut)
             AS selected
         FROM mm"""
    }),

    // TextRank keywords: PageRank (5 integer fixed-point rounds) over
    // the filtered-word co-occurrence graph (len>=4 content filter,
    // filter-then-window adjacency, both directions). The synthetic
    // corpus is a 31-word near-clique where every rank ties, so a
    // hub-and-satellite sublanguage is injected (the q130/q131
    // spike mechanism): 'quantum' bridges three doc_id-keyed
    // satellite chains plus the natural tail words. Probed at sf0.01:
    // 'quantum' is the top-1 keyword and the 31-node graph splits
    // into 4 distinct rank tiers (hub > natural clique > satellites)
    // - centrality genuinely reorders the near-uniform frequency
    // table
    Query("q172_textrank", (s, d) => {
      val spiked = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" quantum entangled lattice")))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" quantum spectral manifold")))
        .otherwise(concat(col("text"), lit(" quantum harmonic cascade")))
      TextAnalysis.textRankKeywords(Tables.documents(s, d), spiked)
    },
      // q84's unrolled integer PageRank over the md5-id word graph
      {
      val unit = "1000000000000"
      val h1 = sqlHexLong("w1")
      val h2 = sqlHexLong("w2")
      val hk = sqlHexLong("keyword")
      val rk = (1 to 5).map { k =>
        s"""r$k AS (SELECT n.node AS node,
           (SELECT b FROM base) + coalesce(CAST((85 * s.s) // 100 AS BIGINT), CAST(0 AS BIGINT)) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, CAST(sum(r${k - 1}.r // deg.deg) AS BIGINT) AS s
             FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
             JOIN deg ON e.src = deg.src GROUP BY 1) s
           ON n.node = s.node)"""
      }.mkString(",\n         ")
      s"""WITH tk AS (SELECT [x FOR x IN string_split(
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' quantum entangled lattice'
                  WHEN doc_id % 3 = 1
                  THEN text || ' quantum spectral manifold'
                  ELSE text || ' quantum harmonic cascade' END, ' ')
             IF len(x) >= 4] AS w
           FROM documents WHERE text IS NOT NULL),
         bp AS (SELECT unnest(w[1:len(w)-1]) AS w1,
             unnest(w[2:len(w)]) AS w2
           FROM tk WHERE len(w) >= 2),
         e AS (SELECT DISTINCT $h1 AS src, $h2 AS dst FROM bp
               WHERE w1 <> w2
               UNION SELECT DISTINCT $h2, $h1 FROM bp WHERE w1 <> w2),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                 FROM e GROUP BY 1),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         base AS (SELECT CAST((15 * ($unit // (SELECT n FROM nn))) // 100 AS BIGINT) AS b),
         r0 AS (SELECT node, CAST($unit // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
         $rk,
         vocab AS (SELECT DISTINCT keyword, $hk AS node FROM
           (SELECT unnest(w) AS keyword FROM tk))
         SELECT keyword, r AS rank_unit FROM r5 JOIN vocab USING (node)
         ORDER BY rank_unit DESC, keyword LIMIT 50"""
    }),

    // inverted-index posting lists: top tokens with counts, doc
    // frequency, and capped ascending doc-id postings (bounded top-k
    // aggregate — never a full collect_list per token). The posting
    // array crosses the correctness harness as a comma-joined string:
    // the pandas-side comparison cannot factorize array columns, so
    // every declared column must be scalar on both sides.
    Query("q61_postings", (s, d) =>
      TextAnalysis.postingLists(Tables.documents(s, d), "doc_id", col("text"),
        topTokens = 100, maxPostings = 20)
        .withColumn("postings",
          concat_ws(",", transform(col("postings"), x => x.cast("string")))),
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         pd AS (SELECT token, doc_id, count(*) AS c FROM ex GROUP BY 1, 2),
         agg AS (SELECT token, CAST(sum(c) AS BIGINT) AS n_occurrences,
           CAST(count(*) AS BIGINT) AS n_docs,
           array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings
           FROM pd GROUP BY token)
         SELECT token, n_occurrences, n_docs, postings FROM agg
         ORDER BY n_occurrences DESC, token LIMIT 100""")
  )
}
