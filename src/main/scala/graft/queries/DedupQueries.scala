package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._

/** T3 deduplication queries: exact, MinHash and SimHash near-dup
  * candidates, clusters and survivors, set-similarity joins, LSH
  * calibration audits, decontamination and the curation funnel
  * (`Dedup`). */
object DedupQueries {
  import Common._

  /** Graded near-dup twin corpus shared by the LSH calibration audits
    * (q206 single point, q208 sweep): documents spiked so doc_id%30 ∈
    * {1, 11, 21} become twins of doc_id−1 at three Jaccard grades
    * (+2 tokens ≈ J .93, +n/5 junk ≈ J .83, half-replaced ≈ J .3) —
    * the S-curve's head, shoulder, and tail all carry mass, so recall
    * and precision land strictly inside (0,1). Widen the LEFT scan
    * before the spike join: ensure() no-ops on the join's wide
    * lineage, so an un-widened single-row-group scan would pin the
    * downstream shingling of BOTH audit legs to one task (measured
    * 2×~2 s single-task stages at sf0.1); the broadcast right side is
    * fixture construction, not operator machinery. */
  private def gradedTwinSpike(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val prev = docs.select((col("doc_id") + lit(1L)).as("doc_id"),
      col("text").as("__pt"))
    val toks = TextAnalysis.tokens(col("__pt"))
    def junk(cnt: Column) = concat_ws(" ",
      transform(sequence(lit(1L), greatest(cnt, lit(1L))),
        i => concat(lit("aug"), col("doc_id").cast("string"),
          lit("x"), i.cast("string"))))
    wide(docs).join(broadcast(prev), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 30 === 1 && col("__pt").isNotNull,
          concat(col("__pt"), lit(" augx augy")))
        .when(col("doc_id") % 30 === 11 && col("__pt").isNotNull,
          concat(col("__pt"), lit(" "), junk(expr("cast(size(split(__pt, ' ')) as bigint) div 5"))))
        .when(col("doc_id") % 30 === 21 && col("__pt").isNotNull,
          concat(concat_ws(" ",
            slice(toks, lit(1), expr("cast(size(split(__pt, ' ')) div 2 as int)"))),
            lit(" "), junk(expr("cast(size(split(__pt, ' ')) as bigint) div 2"))))
        .otherwise(col("text")).as("text"))
  }

  private val MinhashK = 5
  private val MinhashPerms = 16
  private val MinhashBands = 4

  /** Shared CTE prefix of the MinHash oracles: shingles → per-shingle
    * md5 → affine-family minima (mirrors Dedup.minHashFamily exactly) →
    * LSH bands → capped buckets. */
  private def minhashCtes: String = minhashCtesFrom("documents")

  /** toks → shingles → md5 → per-family minima (the `mh` CTE), WITHOUT
    * a banding — shared by the fixed-banding chain below and the q208
    * sweep, whose banding is per grid point. */
  private def minhashMhCtesFrom(src: String): String = {
    val P = Dedup.MinHashP
    val mins = (0 until MinhashPerms).map { p =>
      val a = (p * 1000003L + 17L) % P
      val b = (p * 999983L + 9176L) % P
      s"min((h * $a + $b) % $P) AS mh$p"
    }.mkString(", ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       sh AS (SELECT doc_id, CASE WHEN len(w) >= $MinhashK
         THEN list_distinct([array_to_string(w[i+1:i+$MinhashK], ' ') for i in range(0, len(w) - ${MinhashK - 1})])
         ELSE [array_to_string(w, ' ')] END AS shingles FROM toks),
       ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       hh AS (SELECT doc_id, ${sqlHexLong("s")} % $P AS h FROM ex),
       mh AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id)"""
  }

  /** [[gradedTwinSpike]] restated as a CTE — the corpus under both LSH
    * calibration audits (q206/q208). */
  private def gradedSpikeCte: String =
    """spiked AS (
       SELECT d.doc_id,
         CASE WHEN d.doc_id % 30 = 1 AND p.text IS NOT NULL
                THEN p.text || ' augx augy'
              WHEN d.doc_id % 30 = 11 AND p.text IS NOT NULL
                THEN p.text || ' ' || array_to_string(
                  [concat('aug', d.doc_id, 'x', i) for i in
                   range(1, greatest(len(string_split(p.text, ' ')) // 5, 1) + 1)], ' ')
              WHEN d.doc_id % 30 = 21 AND p.text IS NOT NULL
                THEN array_to_string(string_split(p.text, ' ')
                    [1:len(string_split(p.text, ' ')) // 2], ' ')
                  || ' ' || array_to_string(
                  [concat('aug', d.doc_id, 'x', i) for i in
                   range(1, greatest(len(string_split(p.text, ' ')) // 2, 1) + 1)], ' ')
              ELSE d.text END AS text
       FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1)"""

  /** Exact τ ground truth over `spiked` at the MinHash shingle order —
    * q158's PPJoin shape (df-ascending prefix postings, maxPostings
    * 1000) ending in `truth(doc_a, doc_b)`. Shared by q206/q208. */
  private def ppjoinTruthCtes(tau: Int): String = {
    val k = MinhashK
    val shingleCase = s"""CASE WHEN len(w) >= $k
      THEN list_distinct([array_to_string(w[i+1:i+$k], ' ') for i in range(0, len(w) - ${k - 1})])
      ELSE [array_to_string(w, ' ')] END"""
    s"""stoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM spiked),
       ssh AS (SELECT doc_id, $shingleCase AS s FROM stoks),
       st AS (SELECT doc_id, unnest(s) AS tk FROM ssh),
       sdf AS (SELECT tk, count(*) AS dfc FROM st GROUP BY 1),
       slens AS (SELECT doc_id, count(*) AS la FROM st GROUP BY 1),
       spref AS (SELECT doc_id, la, tk FROM (
           SELECT st.doc_id, st.tk, sdf.dfc, l.la,
             row_number() OVER (PARTITION BY st.doc_id
               ORDER BY sdf.dfc, st.tk) AS rk
           FROM st JOIN sdf USING (tk) JOIN slens l ON l.doc_id = st.doc_id)
         WHERE rk <= la - (($tau * la + 99) // 100) + 1 AND dfc <= 1000),
       scand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.la AS la, b.la AS lb
         FROM spref a JOIN spref b ON a.tk = b.tk AND a.doc_id < b.doc_id
           AND 100 * least(a.la, b.la) >= $tau * greatest(a.la, b.la)),
       truth AS (SELECT c.doc_a, c.doc_b FROM (
           SELECT c.doc_a, c.doc_b, c.la, c.lb,
             CAST(count(*) AS BIGINT) AS overlap
           FROM scand c JOIN st x ON x.doc_id = c.doc_a
             JOIN st y ON y.doc_id = c.doc_b AND y.tk = x.tk
           GROUP BY 1, 2, 3, 4) c
         WHERE 100 * c.overlap >= $tau * (c.la + c.lb - c.overlap))"""
  }

  /** The same CTE chain over any (doc_id, text) relation name visible
    * in the enclosing scope — the curation-funnel oracle runs it over
    * the quality SURVIVORS, not the corpus. */
  private def minhashCtesFrom(src: String): String = {
    val rows = MinhashPerms / MinhashBands
    val bands = (0 until MinhashBands).map { b =>
      val cols = (0 until rows).map(r => s"mh${b * rows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $cols)) AS band_hash FROM mh"
    }.mkString(" UNION ALL ")
    // `ok` mirrors the operator's maxBucket degenerate-band cap exactly
    s"""${minhashMhCtesFrom(src)},
       banded AS ($bands),
       ok AS (SELECT band_idx, band_hash FROM banded
              GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $DefaultMaxBucket)"""
  }

  /** Generated oracle: dataset-level MinHash signature agreement keyed
    * by SOURCE (mirrors Dedup.signatureOverlap — the group min over a
    * source's shingle multiset is the min over the union of its docs'
    * shingle sets, so no per-doc stage appears on either side). */
  private def sourceOverlapOracle: String = {
    val P = Dedup.MinHashP
    val mins = (0 until MinhashPerms).map { p =>
      val a = (p * 1000003L + 17L) % P
      val b = (p * 999983L + 9176L) % P
      s"min((h * $a + $b) % $P) AS mh$p"
    }.mkString(", ")
    val agree = (0 until MinhashPerms)
      .map(p => s"(CASE WHEN a.mh$p = b.mh$p THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT source, CASE WHEN len(w) >= $MinhashK
         THEN list_distinct([array_to_string(w[i+1:i+$MinhashK], ' ') for i in range(0, len(w) - ${MinhashK - 1})])
         ELSE [array_to_string(w, ' ')] END AS shingles FROM toks),
       ex AS (SELECT source, unnest(shingles) AS s FROM sh),
       hh AS (SELECT source, ${sqlHexLong("s")} % $P AS h FROM ex),
       mh AS (SELECT source, $mins FROM hh GROUP BY source)
       SELECT a.source AS source_a, b.source AS source_b,
         CAST($agree AS BIGINT) AS n_agree,
         round(CAST($agree AS DOUBLE) / $MinhashPerms, 6) AS jaccard_est
       FROM mh a JOIN mh b ON a.source < b.source"""
  }

  /** Generated oracle: MinHash+LSH candidates, same algorithm in SQL
    * (one md5 per shingle, affine family `(a_p*h + b_p) mod P`). */
  private def minhashOracle: String = minhashOracleFrom("documents")

  private def minhashOracleFrom(src: String): String =
    s"""${minhashCtesFrom(src)}
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM banded a JOIN banded b
         ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       JOIN ok ON a.band_idx = ok.band_idx AND a.band_hash = ok.band_hash"""

  /** Generated oracle: signature-agreement Jaccard estimate for the
    * q29 candidate pairs (mirrors Dedup.minHashEstimate). */
  private def minhashEstOracle: String = {
    val agree = (0 until MinhashPerms)
      .map(p => s"(CASE WHEN x.mh$p = y.mh$p THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$minhashCtes,
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b
           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         JOIN ok ON a.band_idx = ok.band_idx AND a.band_hash = ok.band_hash)
       SELECT c.doc_a, c.doc_b,
         round(CAST($agree AS DOUBLE) / $MinhashPerms, 6) AS jaccard_est
       FROM cand c JOIN mh x ON c.doc_a = x.doc_id JOIN mh y ON c.doc_b = y.doc_id"""
  }

  /** Generated oracle: SimHash signatures, same bit-vote algorithm. */
  private def simhashOracle: String = {
    val bits = 56
    val votes = (0 until bits).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS s$i").mkString(", ")
    val sig = (0 until bits).map(i =>
      s"CASE WHEN s$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
       e AS (SELECT doc_id, ${sqlHexLong("u")} AS h FROM (SELECT doc_id, unnest(w) AS u FROM t)),
       v AS (SELECT doc_id, $votes FROM e GROUP BY doc_id)
       SELECT doc_id AS doc, CAST($sig AS BIGINT) AS simhash FROM v"""
  }

  val all: Seq[Query] = Seq(
    // exact dedup by normalized content hash (normalization applied at
    // the call site so the hashed value matches the oracle's
    // md5(lower(trim(text))) exactly, corpus-independent)
    Query("q28_dedup_exact", (s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", lower(trim(col("text")))),
      "SELECT md5(lower(trim(text))) AS fp, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups FROM documents GROUP BY 1"),

    // MinHash + LSH band-join near-dup candidates
    Query("q29_dedup_minhash", (s, d) =>
      Dedup.minHashCandidates(Tables.documents(s, d), "doc_id", col("text"),
        MinhashK, MinhashPerms, MinhashBands),
      minhashOracle),

    // SimHash signatures
    Query("q30_dedup_simhash", (s, d) =>
      Dedup.simHashSignatures(Tables.documents(s, d), "doc_id", col("text")),
      simhashOracle),

    // dataset-level overlap matrix: MinHash signature agreement between
    // SOURCES (group-level union-shingle Jaccard estimate)
    Query("q129_source_overlap", (s, d) =>
      Dedup.signatureOverlap(Tables.documents(s, d), "source",
        col("text")),
      sourceOverlapOracle),

    // shared-passage clusters: CC over the winnowing fingerprint graph.
    // The corpus has no natural shared passages, so two boilerplate
    // families are injected deterministically (>= w+k-1 = 7 tokens, the
    // winnowing guarantee) — the oracle match exercises real clustering
    Query("q130_passage_clusters", (s, d) => {
      val spiked = concat(col("text"),
        when(col("doc_id") % 17 === 0,
          lit(" shared boilerplate footer alpha beta gamma delta epsilon"))
          .when(col("doc_id") % 19 === 0,
            lit(" common navigation header one two three four five six"))
          .otherwise(lit("")))
      Dedup.passageClusters(Tables.documents(s, d), "doc_id", spiked,
        minShared = 1L)
    },
      {
      val spiked = """CASE WHEN doc_id % 17 = 0
        THEN text || ' shared boilerplate footer alpha beta gamma delta epsilon'
        WHEN doc_id % 19 = 0
        THEN text || ' common navigation header one two three four five six'
        ELSE text END"""
      val h = sqlHexLong("array_to_string(w[i+1:i+4], ' ')")
      s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split($spiked, ' ') AS w FROM documents),
         hs AS (SELECT doc_id, CASE WHEN len(w) >= 4
             THEN [$h for i in range(0, len(w) - 3)]
             ELSE [] END AS h FROM toks),
         fp AS (SELECT doc_id, CASE
             WHEN len(h) >= 4 THEN list_distinct([list_min(h[j+1:j+4]) for j in range(0, len(h) - 3)])
             WHEN len(h) >= 1 THEN [list_min(h)]
             ELSE [] END AS fps FROM hs),
         ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         ok AS (SELECT f FROM ex GROUP BY f HAVING count(*) BETWEEN 2 AND 10000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
                  JOIN ok ON a.f = ok.f),
         edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         nodes0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         l0 AS MATERIALIZED (SELECT node, node AS comp FROM nodes0),
         ${(1 to 10).map { k =>
        // min-label propagation with POINTER JUMPING, unrolled: the old
        // transitive-closure CTE materializes |component|^2 reachable
        // pairs, which the 10x corpus's ~29k-doc boilerplate families
        // turn into ~1e9 rows (>40 min, killed — round 13). Each round
        // here is one linear join+min; comp(comp) doubling covers
        // diameter 2^10, and the conv guard makes under-iteration LOUD
        // (zero output rows) instead of silently wrong.
        s"""l$k AS MATERIALIZED (SELECT n.node,
             least(n.comp, coalesce(nb.m, n.comp), coalesce(pj.comp, n.comp)) AS comp
           FROM l${k - 1} n
           LEFT JOIN (SELECT e.dst AS node, min(l.comp) AS m
             FROM edges e JOIN l${k - 1} l ON e.src = l.node
             GROUP BY 1) nb ON n.node = nb.node
           LEFT JOIN l${k - 1} pj ON n.comp = pj.node)"""
      }.mkString(",\n         ")},
         conv AS (SELECT count(*) AS c FROM edges e
           JOIN l10 a ON e.src = a.node JOIN l10 b ON e.dst = b.node
           WHERE a.comp <> b.comp)
         SELECT node AS doc, CAST(comp AS BIGINT) AS component
         FROM l10 WHERE (SELECT c FROM conv) = 0"""
    }),

    // exact directional containment over the LSH candidate pairs:
    // the subsumption detector symmetric Jaccard cannot be
    Query("q142_containment", (s, d) =>
      Dedup.containmentVerify(Tables.documents(s, d), "doc_id",
        col("text"), k = MinhashK, numPerm = MinhashPerms,
        bands = MinhashBands, maxBucket = DefaultMaxBucket),
      s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
           JOIN ok ON a.band_idx = ok.band_idx
             AND a.band_hash = ok.band_hash),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex
                GROUP BY 1),
         inter AS (SELECT c.doc_a, c.doc_b,
             CAST(count(*) AS BIGINT) AS ni
           FROM cand c JOIN ex x ON x.doc_id = c.doc_a
             JOIN ex y ON y.doc_id = c.doc_b AND y.s = x.s
           GROUP BY 1, 2)
         SELECT c.doc_a, c.doc_b,
           CAST(coalesce(i.ni, 0) AS BIGINT) AS n_shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST(coalesce(i.ni, 0) * 1000000 // sa.n AS BIGINT) AS cont_a_micro,
           CAST(coalesce(i.ni, 0) * 1000000 // sb.n AS BIGINT) AS cont_b_micro
         FROM cand c
         LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         JOIN sz sa ON sa.doc_id = c.doc_a
         JOIN sz sb ON sb.doc_id = c.doc_b"""),

    // BLEU modified n-gram precision over the mined near-dup pairs —
    // the multiset eval twin of q142's directional set containment:
    // repeated n-grams clip at the reference's multiplicity
    Query("q163_ngram_precision", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.clippedNgramPrecision(docs, "doc_id", col("text"),
        Dedup.minHashCandidates(docs, "doc_id", col("text"),
          k = MinhashK, numPerm = MinhashPerms, bands = MinhashBands,
          maxBucket = DefaultMaxBucket))
    },
      // same candidate CTE as q142; grams with MULTIPLICITY (no
      // list_distinct), clipped at the reference count per (n, gram)
      s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
           JOIN ok ON a.band_idx = ok.band_idx
             AND a.band_hash = ok.band_hash),
         ids AS (SELECT doc_a AS doc FROM cand
                 UNION SELECT doc_b FROM cand),
         tk AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents JOIN ids ON doc_id = doc),
         g1 AS (SELECT doc_id, 1 AS n, unnest(w) AS gram FROM tk),
         g2 AS (SELECT doc_id, 2 AS n,
             unnest([array_to_string(w[i+1:i+2], ' ')
                     for i in range(0, len(w) - 1)]) AS gram
           FROM tk WHERE len(w) >= 2),
         cnt AS (SELECT doc_id, n, gram, count(*) AS c
           FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
           GROUP BY 1, 2, 3),
         tot AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
                 FROM cnt GROUP BY 1, 2),
         clip AS (SELECT p.doc_a, p.doc_b, a.n,
             CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
           FROM cand p JOIN cnt a ON a.doc_id = p.doc_a
           JOIN cnt b ON b.doc_id = p.doc_b AND b.n = a.n
             AND b.gram = a.gram
           GROUP BY 1, 2, 3)
         SELECT p.doc_a, p.doc_b, CAST(t.n AS BIGINT) AS n,
           t.tot AS cand_ngrams,
           CAST(coalesce(c.clip, 0) AS BIGINT) AS clipped,
           CAST(coalesce(c.clip, 0) * 1000000 // t.tot AS BIGINT)
             AS p_micro
         FROM cand p JOIN tot t ON t.doc_id = p.doc_a
         LEFT JOIN clip c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
           AND c.n = t.n"""),

    // ROUGE-N recall + exact-identity F1 over the same mined pairs —
    // the summarization-eval twin completing the BLEU/chrF/ROUGE triple
    Query("q196_rouge", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.rougeN(docs, "doc_id", col("text"),
        Dedup.minHashCandidates(docs, "doc_id", col("text"),
          k = MinhashK, numPerm = MinhashPerms, bands = MinhashBands,
          maxBucket = DefaultMaxBucket))
    },
      // q163's CTEs; reference-side denominator + the exact F1 identity
      // 2PR/(P+R) = 2*clip/(tot_a + tot_b)
      s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
           JOIN ok ON a.band_idx = ok.band_idx
             AND a.band_hash = ok.band_hash),
         ids AS (SELECT doc_a AS doc FROM cand
                 UNION SELECT doc_b FROM cand),
         tk AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents JOIN ids ON doc_id = doc),
         g1 AS (SELECT doc_id, 1 AS n, unnest(w) AS gram FROM tk),
         g2 AS (SELECT doc_id, 2 AS n,
             unnest([array_to_string(w[i+1:i+2], ' ')
                     for i in range(0, len(w) - 1)]) AS gram
           FROM tk WHERE len(w) >= 2),
         cnt AS (SELECT doc_id, n, gram, count(*) AS c
           FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
           GROUP BY 1, 2, 3),
         tot AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
                 FROM cnt GROUP BY 1, 2),
         clip AS (SELECT p.doc_a, p.doc_b, a.n,
             CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
           FROM cand p JOIN cnt a ON a.doc_id = p.doc_a
           JOIN cnt b ON b.doc_id = p.doc_b AND b.n = a.n
             AND b.gram = a.gram
           GROUP BY 1, 2, 3)
         SELECT p.doc_a, p.doc_b, CAST(tb.n AS BIGINT) AS n,
           tb.tot AS ref_ngrams,
           CAST(coalesce(c.clip, 0) AS BIGINT) AS clipped,
           CAST(coalesce(c.clip, 0) * 1000000 // tb.tot AS BIGINT)
             AS r_micro,
           CAST(2 * coalesce(c.clip, 0) * 1000000 // (ta.tot + tb.tot)
             AS BIGINT) AS f1_micro
         FROM cand p JOIN tot tb ON tb.doc_id = p.doc_b
         JOIN tot ta ON ta.doc_id = p.doc_a AND ta.n = tb.n
         LEFT JOIN clip c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
           AND c.n = tb.n"""),

    // chrF2 (char n-gram F-score, orders 1-3, beta=2) over the same
    // mined candidate pairs - the tokenization-free eval twin of
    // q163's BLEU precision. Probed at sf0.01: 25 pairs, 25 distinct
    // chrf2 values spanning 0.977-0.999, precision != recall on all
    // 25 (the clip and both totals all bite)
    Query("q170_chrf", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.chrF(docs, "doc_id", col("text"),
        Dedup.minHashCandidates(docs, "doc_id", col("text"),
          k = MinhashK, numPerm = MinhashPerms, bands = MinhashBands,
          maxBucket = DefaultMaxBucket))
    },
      // char n-grams (spaces stripped) orders 1-3; per-order integer
      // micro P/R floored BEFORE the order average; F2 = 5PR // (4P+R)
      s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
           JOIN ok ON a.band_idx = ok.band_idx
             AND a.band_hash = ok.band_hash),
         ids AS (SELECT doc_a AS doc FROM cand
                 UNION SELECT doc_b FROM cand),
         ch AS (SELECT doc_id, replace(text, ' ', '') AS s
                FROM documents JOIN ids ON doc_id = doc
                WHERE text IS NOT NULL),
         gr AS (SELECT doc_id, n, unnest([s[i+1:i+n]
                  for i in range(0, len(s) - n + 1)]) AS gram
                FROM ch, (SELECT unnest([1, 2, 3]) AS n)
                WHERE len(s) >= n),
         cnt AS (SELECT doc_id, n, gram, count(*) AS c
                 FROM gr GROUP BY 1, 2, 3),
         tot AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
                 FROM cnt GROUP BY 1, 2),
         clip AS (SELECT p.doc_a, p.doc_b, a.n,
             CAST(sum(least(a.c, b.c)) AS BIGINT) AS m
           FROM cand p JOIN cnt a ON a.doc_id = p.doc_a
           JOIN cnt b ON b.doc_id = p.doc_b AND b.n = a.n
             AND b.gram = a.gram
           GROUP BY 1, 2, 3),
         po AS (SELECT p.doc_a, p.doc_b, ta.n,
             coalesce(c.m, 0) AS m, ta.tot AS t_a, tb.tot AS t_b
           FROM cand p
           JOIN tot ta ON ta.doc_id = p.doc_a
           JOIN tot tb ON tb.doc_id = p.doc_b AND tb.n = ta.n
           LEFT JOIN clip c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
             AND c.n = ta.n),
         agg AS (SELECT doc_a, doc_b,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(m * 1000000 // t_a) // count(*) AS BIGINT)
               AS chrp_micro,
             CAST(sum(m * 1000000 // t_b) // count(*) AS BIGINT)
               AS chrr_micro
           FROM po GROUP BY 1, 2)
         SELECT doc_a, doc_b, n_orders, chrp_micro, chrr_micro,
           CAST(coalesce(5 * chrp_micro * chrr_micro //
             nullif(4 * chrp_micro + chrr_micro, 0), 0) AS BIGINT)
             AS chrf2_micro
         FROM agg"""),

    // leakage-safe split: whole near-dup components share one side of
    // the train/val/test boundary, keyed on the cluster canonical
    Query("q146_leakage_split", (s, d) =>
      Dedup.leakageSafeSplit(Tables.documents(s, d), "doc_id",
        col("text"), MinhashK, MinhashPerms, MinhashBands)
        .select(col("doc").as("doc_id"), col("split_key"), col("split")),
      {
      val h = sqlHexLong("CAST(split_key AS VARCHAR)")
      s"""WITH RECURSIVE cand AS ($minhashOracle),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS doc, CAST(least(src, min(dst)) AS BIGINT)
                  AS component FROM reach GROUP BY src),
         keyed AS (SELECT d.doc_id AS doc,
             coalesce(c.component, d.doc_id) AS split_key
           FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id)
         SELECT doc AS doc_id, CAST(split_key AS BIGINT) AS split_key,
           CASE WHEN $h % 10 < 8 THEN 'train'
                WHEN $h % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
         FROM keyed"""
    }),

    // C4-style sentence-level dedup: the corpus has no punctuation, so
    // sentence boundaries are spiked in (a period every 8 words) plus
    // two shared boilerplate sentences on doc_id strata — the strike
    // provably fires (boilerplate struck from ~38/~29 docs) while every
    // natural 8-word sentence survives (decision fires both ways)
    Query("q149_sentence_dedup", (s, d) => {
      val spiked = concat(
        regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1. "),
        when(col("doc_id") % 13 === 0,
          lit(". all rights reserved contact us for details"))
          .when(col("doc_id") % 17 === 0,
            lit(". subscribe to our newsletter for updates"))
          .otherwise(lit("")))
      Dedup.sentenceDedup(Tables.documents(s, d), "doc_id", spiked,
        maxDocFreq = 3)
    },
      // same spike, same splitter ([.!?]+ runs + trailing whitespace,
      // trimmed non-empty), same df >= 3 strike, same '. ' re-join
      """WITH spiked AS (SELECT doc_id,
           regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1. ', 'g') ||
           CASE WHEN doc_id % 13 = 0 THEN '. all rights reserved contact us for details'
                WHEN doc_id % 17 = 0 THEN '. subscribe to our newsletter for updates'
                ELSE '' END AS text
         FROM documents),
         s0 AS (SELECT doc_id,
           [trim(x) for x in regexp_split_to_array(text, '[.!?]+\s*')
            if trim(x) <> ''] AS ss FROM spiked),
         sents AS (SELECT doc_id, unnest(ss) AS sent,
           generate_subscripts(ss, 1) - 1 AS sent_idx FROM s0),
         freq AS (SELECT sent FROM (SELECT sent, count(DISTINCT doc_id) AS df
           FROM sents GROUP BY sent) WHERE df >= 3),
         kept AS (SELECT s.* FROM sents s ANTI JOIN freq f USING (sent)),
         rebuilt AS (SELECT doc_id,
           string_agg(sent, '. ' ORDER BY sent_idx) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
         totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
           FROM sents GROUP BY doc_id)
         SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_kept, 0) AS n_kept,
           t.n_total - coalesce(r.n_kept, 0) AS n_removed
         FROM totals t LEFT JOIN rebuilt r USING (doc_id)"""),

    // simhash near-dup candidates: 4 × 14-bit pigeonhole bands over the
    // q30 signature, degenerate bands capped at 500 docs, pairs kept only
    // within the Hamming-3 radius the banding guarantees
    Query("q49_simhash_candidates", (s, d) =>
      Dedup.simHashCandidates(Tables.documents(s, d), "doc_id", col("text"),
        maxBucket = SimhashMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming")),
      simhashCandidatesOracle),

    // near-dup clusters: connected components over the q29 candidate
    // graph — every doc labeled with its cluster's minimum doc id (the
    // canonical survivor of a global dedup)
    Query("q51_dedup_components", (s, d) =>
      Dedup.connectedComponents(
        Dedup.minHashCandidates(Tables.documents(s, d), "doc_id", col("text"),
          MinhashK, MinhashPerms, MinhashBands)),
      // connected components = transitive closure (recursive CTE) over the
      // same candidate edges, min reachable id per doc
      s"""WITH RECURSIVE cand AS ($minhashOracle),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         SELECT src AS doc, CAST(least(src, min(dst)) AS BIGINT) AS component
         FROM reach GROUP BY src"""),

    // global dedup end-to-end: candidates -> clusters -> survivors (every
    // near-dup cluster keeps only its canonical min doc id)
    Query("q55_dedup_survivors", (s, d) => {
      val docs = Tables.documents(s, d)
      val comps = Dedup.connectedComponents(
        Dedup.minHashCandidates(docs, "doc_id", col("text"),
          MinhashK, MinhashPerms, MinhashBands))
      Dedup.keepCanonical(docs, "doc_id", comps)
        .select(col("doc_id"), col("lang"))
    },
      s"""WITH RECURSIVE cand AS ($minhashOracle),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         cc AS (SELECT src AS doc, least(src, min(dst)) AS component
                FROM reach GROUP BY src)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc FROM cc WHERE doc <> component)"""),

    // exact n-gram Jaccard over a declared pair set (the LSH verify step)
    Query("q34_jaccard", (s, d) => {
      val docs20 = Tables.documents(s, d).filter(col("doc_id") < 20)
      val pairs = docs20.select(col("doc_id").as("doc_a"))
        .join(docs20.select(col("doc_id").as("doc_b")), col("doc_a") < col("doc_b"))
      Dedup.ngramJaccard(docs20, "doc_id", col("text"), pairs, 3)
    },
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM d a, d b WHERE a.doc_id < b.doc_id),
         toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
         sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           THEN list_distinct([array_to_string(w[i+1:i+3], ' ') for i in range(0, len(w) - 2)])
           ELSE [array_to_string(w, ' ')] END AS shingles FROM toks),
         ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
         inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ni
                   FROM ex sa JOIN ex sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
                   GROUP BY 1, 2)
         SELECT p.doc_a, p.doc_b,
           round(CAST(COALESCE(i.ni, 0) AS DOUBLE) /
             (za.n + zb.n - COALESCE(i.ni, 0)), 6) AS jaccard
         FROM pairs p
         LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
         JOIN sizes za ON p.doc_a = za.doc_id
         JOIN sizes zb ON p.doc_b = zb.doc_id"""),

    // tf-weighted Jaccard over the q29 MinHash candidates — the
    // repetition-aware LSH verify step (Σmin/Σmax over token
    // frequencies, the quantity Ioffe 2010's consistent weighted
    // sampling estimates, computed exactly) next to q34's
    // distinct-shingle set Jaccard; non-vacuous at sf0.01 — 5 of the
    // 25 candidate pairs diverge >0.01 from the distinct-token set
    // Jaccard (e.g. pair (8,245): weighted .988 vs set .963)
    Query("q213_weighted_jaccard", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashCandidates(docs, "doc_id", col("text"),
        MinhashK, MinhashPerms, MinhashBands)
      Dedup.weightedJaccard(docs, "doc_id", col("text"), pairs)
    },
      // q29's banding CTE as the pair set, then exact Σmin/Σmax over
      // per-doc token frequencies (Σmax via na + nb − Σmin); tf is
      // restricted to candidate docs FIRST — without it DuckDB starts the
      // pair join from `a.token = b.token` (a corpus-wide token
      // self-join: 85 s at sf0.1 vs ~1 s with the restriction)
      s"""WITH cand AS ($minhashOracle),
         cdocs AS (SELECT doc_a AS d FROM cand
                   UNION SELECT doc_b FROM cand),
         tf AS (SELECT doc_id, u AS token, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS u
                      FROM documents WHERE text IS NOT NULL
                        AND doc_id IN (SELECT d FROM cdocs))
                GROUP BY 1, 2),
         sizes AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n
                   FROM tf GROUP BY 1),
         inter AS (SELECT c.doc_a, c.doc_b,
             CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS nmin
           FROM cand c
           JOIN tf a ON c.doc_a = a.doc_id
           JOIN tf b ON c.doc_b = b.doc_id AND a.token = b.token
           GROUP BY 1, 2)
         SELECT c.doc_a, c.doc_b,
           CAST(coalesce(i.nmin, 0) AS BIGINT) AS n_min,
           CAST(coalesce(za.n, 0) + coalesce(zb.n, 0)
             - coalesce(i.nmin, 0) AS BIGINT) AS n_max,
           CASE WHEN coalesce(za.n, 0) + coalesce(zb.n, 0)
                     - coalesce(i.nmin, 0) > 0
             THEN round(CAST(coalesce(i.nmin, 0) AS DOUBLE) /
               (coalesce(za.n, 0) + coalesce(zb.n, 0) - coalesce(i.nmin, 0)),
               6) END AS w_jaccard
         FROM cand c
         LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
         LEFT JOIN sizes za ON c.doc_a = za.doc_id
         LEFT JOIN sizes zb ON c.doc_b = zb.doc_id"""),

    // fragment stitching over a deterministic split of the corpus (the
    // q151 synthesize→recover round-trip pattern: every 5th doc ships
    // as two fragments with a 5-token deliberate overlap — paginated-
    // scrape shape — and the stitcher must re-find every cut point;
    // coincidental boundary matches surface honestly as key matches)
    Query("q161_fragment_stitch", (s, d) => {
      val toksOf = TextAnalysis.tokens(col("text"))
      val base = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          size(toksOf).cast(org.apache.spark.sql.types.LongType).as("__n"))
      val isSplit = col("doc_id") % 5 === 0 && col("__n") >= 12
      val fragA = base.filter(isSplit).select(
        (col("doc_id") * 10).as("frag_id"),
        concat_ws(" ", slice(toksOf, lit(1),
          (expr("__n div 2") + 5).cast("int"))).as("text"))
      val fragB = base.filter(isSplit).select(
        (col("doc_id") * 10 + 1).as("frag_id"),
        concat_ws(" ", slice(toksOf, (expr("__n div 2") + 1).cast("int"),
          col("__n").cast("int"))).as("text"))
      val whole = base.filter(!isSplit)
        .select((col("doc_id") * 10).as("frag_id"), col("text"))
      Dedup.stitchFragments(fragA.union(fragB).union(whole),
        "frag_id", col("text"), k = 5)
    },
      // fragmentation + boundary-key join mirrored op for op; the tail
      // slice is w[n-4:n] (DuckDB 1-based inclusive = Spark slice(-5,5))
      """WITH base AS (SELECT doc_id, text,
           len(string_split(text, ' ')) AS n,
           string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
         sp AS (SELECT * FROM base WHERE doc_id % 5 = 0 AND n >= 12),
         f AS (SELECT doc_id * 10 AS frag_id,
             array_to_string(w[1:(n // 2) + 5], ' ') AS text FROM sp
           UNION ALL SELECT doc_id * 10 + 1,
             array_to_string(w[(n // 2) + 1:n], ' ') FROM sp
           UNION ALL SELECT doc_id * 10, text FROM base
             WHERE NOT (doc_id % 5 = 0 AND n >= 12)),
         ky AS (SELECT frag_id, len(w2) AS n,
             array_to_string(w2[1:5], ' ') AS head,
             array_to_string(w2[len(w2) - 4:len(w2)], ' ') AS tail
           FROM (SELECT frag_id, string_split(text, ' ') AS w2 FROM f)
           WHERE len(w2) >= 6)
         SELECT a.frag_id AS left_id, b.frag_id AS right_id,
           a.tail AS boundary,
           CAST(a.n + b.n - 5 AS BIGINT) AS stitched_tokens
         FROM ky a JOIN ky b
           ON a.tail = b.head AND a.frag_id <> b.frag_id"""),

    // exact set-similarity SELF-join by prefix filtering (AllPairs /
    // PPJoin family): no false negatives, unlike the MinHash/SimHash
    // tier. Probed at sf0.01: 116 candidates of 124,750 possible pairs
    // (the rare-token prefix equi-join prunes ~1000x), 25 verified at
    // tau=0.6 — both the candidate filter AND the exact-Jaccard verify
    // step provably fire
    Query("q158_setsim_join", (s, d) =>
      Dedup.prefixFilterJoin(Tables.documents(s, d), "doc_id",
        col("text"), tauPct = 60),
      // prefix filter mirrored op for op: (df, token)-ranked prefix of
      // length |T| - ceil(tau|T|) + 1, candidate equi-join on prefix
      // tokens with the integer length filter, exact-overlap verify on
      // candidates only; the maxPostings=1000 cap mirrors the operator's
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
           THEN list_distinct([array_to_string(w[i+1:i+3], ' ') for i in range(0, len(w) - 2)])
           ELSE [array_to_string(w, ' ')] END AS s FROM toks),
         t AS (SELECT doc_id, unnest(s) AS tk FROM sh),
         df AS (SELECT tk, count(*) AS dfc FROM t GROUP BY 1),
         lens AS (SELECT doc_id, count(*) AS la FROM t GROUP BY 1),
         pref AS (SELECT doc_id, la, tk FROM (
             SELECT t.doc_id, t.tk, df.dfc, l.la,
               row_number() OVER (PARTITION BY t.doc_id
                 ORDER BY df.dfc, t.tk) AS rk
             FROM t JOIN df USING (tk) JOIN lens l ON l.doc_id = t.doc_id)
           WHERE rk <= la - ((60 * la + 99) // 100) + 1 AND dfc <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.la AS la, b.la AS lb
           FROM pref a JOIN pref b ON a.tk = b.tk AND a.doc_id < b.doc_id
             AND 100 * least(a.la, b.la) >= 60 * greatest(a.la, b.la)),
         ov AS (SELECT c.doc_a, c.doc_b, c.la, c.lb,
             CAST(count(*) AS BIGINT) AS overlap
           FROM cand c JOIN t x ON x.doc_id = c.doc_a
             JOIN t y ON y.doc_id = c.doc_b AND y.tk = x.tk
           GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, overlap,
           CAST(floor(CAST(overlap AS DOUBLE) / (la + lb - overlap)
             * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS jaccard
         FROM ov WHERE 100 * overlap >= 60 * (la + lb - overlap)"""),

    // benchmark decontamination: every 7th doc plays the eval set; the
    // rest of the corpus is checked for shared 5-shingles. Modulus
    // chosen so the overlap join provably fires on the corpus (12
    // contaminated docs / 636 shingle hits at sf0.01 — probed, not
    // assumed; %97 gave a single hit, too weak to catch a broken join)
    Query("q58_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 7 =!= 0), "doc_id", col("text"),
        docs.filter(col("doc_id") % 7 === 0), col("text"), MinhashK)
    },
      // same 5-shingle construction as the minhash oracle; every 7th doc
      // is the benchmark side
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(w) >= $MinhashK
           THEN list_distinct([array_to_string(w[i+1:i+$MinhashK], ' ') for i in range(0, len(w) - ${MinhashK - 1})])
           ELSE [array_to_string(w, ' ')] END AS shingles FROM toks),
         ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         bs AS (SELECT DISTINCT s FROM ex WHERE doc_id % 7 = 0)
         SELECT e.doc_id AS doc, CAST(count(*) AS BIGINT) AS n_contaminated
         FROM ex e JOIN bs USING (s) WHERE e.doc_id % 7 <> 0 GROUP BY 1"""),

    // RefinedWeb-style segment-frequency dedup: 5-word windows present
    // in >= 3 distinct docs are boilerplate, struck from every doc;
    // docs rebuild from surviving segments (empty string when nothing
    // survives). Thresholds probed against the corpus: 35 segments hit
    // df >= 3 at sf0.01, so the filter provably fires.
    Query("q69_segment_dedup", (s, d) =>
      Dedup.segmentDedup(Tables.documents(s, d), "doc_id", col("text"),
        segWords = 5, maxDocFreq = 3),
      // segment = non-overlapping 5-word window (pos // 5 reproduces
      // chunks(text, 5, 0)); boilerplate = segment in >= 3 distinct docs
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos FROM documents),
         seg AS (SELECT doc_id, pos // 5 AS seg_idx,
           string_agg(word, ' ' ORDER BY pos) AS seg FROM w GROUP BY doc_id, pos // 5),
         freq AS (SELECT seg FROM (SELECT seg, count(DISTINCT doc_id) AS df
           FROM seg GROUP BY seg) WHERE df >= 3),
         kept AS (SELECT s.* FROM seg s ANTI JOIN freq f ON s.seg = f.seg),
         rebuilt AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
         totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
           FROM seg GROUP BY doc_id)
         SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_kept, 0) AS n_kept,
           t.n_total - coalesce(r.n_kept, 0) AS n_removed
         FROM totals t LEFT JOIN rebuilt r USING (doc_id)"""),

    // entity resolution: q89's blocked fuzzy pairs closed transitively
    // into entities (the record-linkage end-game — pairs alone aren't
    // entities), canonical = min member key, singletons filtered
    Query("q195_entities", (s, d) => {
      val parts = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      val pairs = Relational.fuzzySelfJoin(Tables.part(s, d), "p_partkey",
          "p_name", Seq("p_brand"), maxDist = 2, maxCell = 2048)
        .select(col("key_a").as("doc_a"), col("key_b").as("doc_b"))
      Tables.part(s, d).select(col("p_partkey"))
        .join(Dedup.connectedComponents(pairs),
          col("p_partkey") === col("doc"), "left")
        .withColumn("entity_id",
          coalesce(col("component"), col("p_partkey")))
        .groupBy("entity_id").agg(count(lit(1)).as("n_members"))
        .join(parts.select(col("p_partkey").as("entity_id"),
          col("p_name").as("canonical_name")), Seq("entity_id"))
        .filter(col("n_members") >= 2L)
    },
      // q89's pair SQL + q51's recursive reachability closure
      """WITH RECURSIVE pf AS (SELECT * FROM (SELECT p_partkey, p_name,
             p_brand, COUNT(*) OVER (PARTITION BY p_brand,
               length(p_name) // 3) AS __cn FROM part)
           WHERE __cn <= 2048),
         cand AS (
           SELECT a.p_partkey AS doc_a, b.p_partkey AS doc_b
           FROM pf a JOIN pf b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             AND abs(length(a.p_name) - length(b.p_name)) <= 2
           WHERE levenshtein(a.p_name, b.p_name) <= 2),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r
                   JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS doc,
             least(src, min(dst)) AS component
           FROM reach GROUP BY src),
         ent AS (SELECT p.p_partkey,
             coalesce(c.component, p.p_partkey) AS entity_id
           FROM part p LEFT JOIN comp c ON p.p_partkey = c.doc),
         g AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
           FROM ent GROUP BY 1)
         SELECT g.entity_id, g.n_members, p.p_name AS canonical_name
         FROM g JOIN part p ON g.entity_id = p.p_partkey
         WHERE n_members >= 2"""),

    // Unicode-normalized exact dedup: "café" ships as precomposed
    // U+00E9 AND decomposed e+U+0301 — identical on screen, distinct
    // to a byte-level fingerprint (q28). The NFC key is
    // content-addressed: per decade, docs ≡3 and ≡7 (mod 10) carry the
    // SAME text in the two encodings and must collapse to ONE group —
    // the multilingual-corpus correctness q28's key silently lacks
    Query("q207_nfc_dedup", (s, d) => {
      val dec = expr("doc_id div 10").cast("string")
      val spiked = when(col("doc_id") % 10 === 3,
          concat(lit("Accent Family "), dec, lit(" caf"),
            lit("e\u0301"), lit(" menu")))
        .when(col("doc_id") % 10 === 7,
          concat(lit("Accent Family "), dec, lit(" caf\u00e9 menu")))
        .otherwise(col("text"))
      Dedup.exact(
        Tables.documents(s, d).select(col("doc_id"), spiked.as("text")),
        "doc_id",
        graft.functions.Native.nfcNormalize(lower(trim(col("text")))))
    },
      // q28's exact-dup oracle with DuckDB's own nfc_normalize as the
      // key (the operator's java.text.Normalizer twin — both implement
      // Unicode TR #15, so the md5s agree); chr(101)||chr(769) is the
      // decomposed e + combining acute, chr(233) the precomposed é
      """WITH spiked AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 3
                  THEN 'Accent Family ' || (doc_id // 10) || ' caf'
                    || chr(101) || chr(769) || ' menu'
                WHEN doc_id % 10 = 7
                  THEN 'Accent Family ' || (doc_id // 10) || ' caf'
                    || chr(233) || ' menu'
                ELSE text END AS text
           FROM documents)
         SELECT md5(nfc_normalize(lower(trim(text)))) AS fp,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
         FROM spiked GROUP BY 1"""),

    // LSH recall/precision audit — the calibration check a production
    // dedup pipeline ships next to its banding parameters: exact
    // τ=0.8 truth (q158's PPJoin machinery at the MinHash shingle
    // order) reconciled against the q29 banding candidates. The corpus
    // is spiked with GRADED near-dup twins (doc_id%30 ∈ {1,11,21}:
    // +2 tokens ≈ J .93, +n/5 junk ≈ J .83, half-replaced ≈ J .3) so
    // the S-curve's head, shoulder, and tail all carry mass: recall
    // and precision land strictly inside (0,1)
    Query("q206_lsh_recall_audit", (s, d) =>
      Dedup.lshRecallAudit(gradedTwinSpike(s, d), "doc_id", col("text"),
        tauPct = 80),
      // graded-twin spike, q158's PPJoin shape at the MinHash shingle
      // order as truth, the q29 banding CTE as candidates, one
      // full-outer reconciliation
      {
      s"""WITH $gradedSpikeCte,
         ${ppjoinTruthCtes(80)},
         cand AS (${minhashOracleFrom("spiked")}),
         audit AS (
           SELECT t.doc_a IS NOT NULL AS is_t, c.doc_a IS NOT NULL AS is_c
           FROM truth t FULL OUTER JOIN cand c
             ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         agg AS (SELECT
             CAST(coalesce(sum(CASE WHEN is_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true,
             CAST(coalesce(sum(CASE WHEN is_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cand,
             CAST(coalesce(sum(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
           FROM audit)
         SELECT n_true, n_cand, n_hit,
           CASE WHEN n_true > 0
             THEN CAST(n_hit * 1000000 // n_true AS BIGINT) END AS recall_micro,
           CASE WHEN n_cand > 0
             THEN CAST(n_hit * 1000000 // n_cand AS BIGINT) END AS precision_micro
         FROM agg"""
    }),

    // LSH banding operating-point sweep — the full (bands, rows) grid
    // of the 16-permutation budget over the same graded-twin corpus
    // and PPJoin τ=.8 truth as q206, one audit row per grid point.
    // Probed at sf0.01: recall_micro climbs 433333 (b=1, r=16) → 750000
    // (b=2) → 966666 (b=4) → 1000000 (b=8, b=16) — a 90% recall target
    // is crossed between b=2 and b=4, grid points on BOTH sides
    // (non-vacuous sweep) — while precision degrades 1000000 → 750000
    // toward the r=1 corner exactly as the S-curve predicts
    Query("q208_lsh_banding_sweep", (s, d) =>
      Dedup.lshBandingSweep(gradedTwinSpike(s, d), "doc_id", col("text"),
        tauPct = 80, bandGrid = Seq(1, 2, 4, 8, 16), maxBucket = 2000),
      // the q206 audit at EVERY (bands, rows) split of the 16-permutation
      // budget: same spiked corpus, same PPJoin truth, per-grid-point
      // banding/cap/reconciliation, grid-skeleton left join so every
      // operating point reports a row
      {
      val grid = Seq(1, 2, 4, 8, 16)
      val maxBucket = 2000
      val bandedUnion = grid.flatMap { b =>
        val rows = MinhashPerms / b
        (0 until b).map { i =>
          val cols = (0 until rows).map(r => s"mh${i * rows + r}").mkString(", ")
          s"SELECT doc_id, CAST($b AS BIGINT) AS bands, $i AS band_idx, " +
            s"md5(concat_ws(',', $cols)) AS band_hash FROM mh"
        }
      }.mkString(" UNION ALL ")
      val gridVals = grid.map(b => s"($b)").mkString(", ")
      s"""WITH $gradedSpikeCte,
         ${ppjoinTruthCtes(80)},
         cand AS (${minhashMhCtesFrom("spiked")},
           sbanded AS ($bandedUnion),
           sok AS (SELECT bands, band_idx, band_hash FROM sbanded
                   GROUP BY 1, 2, 3 HAVING count(*) BETWEEN 2 AND $maxBucket)
           SELECT DISTINCT a.bands, a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sbanded a JOIN sbanded b
             ON a.bands = b.bands AND a.band_idx = b.band_idx
               AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
           JOIN sok ON a.bands = sok.bands AND a.band_idx = sok.band_idx
             AND a.band_hash = sok.band_hash),
         truthx AS (SELECT CAST(g.bands AS BIGINT) AS bands, t.doc_a, t.doc_b
           FROM truth t CROSS JOIN (VALUES $gridVals) g(bands)),
         audit AS (
           SELECT coalesce(t.bands, c.bands) AS bands,
             t.doc_a IS NOT NULL AS is_t, c.doc_a IS NOT NULL AS is_c
           FROM truthx t FULL OUTER JOIN cand c
             ON t.bands = c.bands AND t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         agg AS (SELECT bands,
             CAST(coalesce(sum(CASE WHEN is_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true,
             CAST(coalesce(sum(CASE WHEN is_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cand,
             CAST(coalesce(sum(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
           FROM audit GROUP BY bands),
         sgrid AS (SELECT CAST(x AS BIGINT) AS bands FROM (VALUES $gridVals) v(x))
         SELECT g.bands, CAST($MinhashPerms // g.bands AS BIGINT) AS rows_per_band,
           CAST(coalesce(a.n_true, 0) AS BIGINT) AS n_true,
           CAST(coalesce(a.n_cand, 0) AS BIGINT) AS n_cand,
           CAST(coalesce(a.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN coalesce(a.n_true, 0) > 0
             THEN CAST(a.n_hit * 1000000 // a.n_true AS BIGINT) END AS recall_micro,
           CASE WHEN coalesce(a.n_cand, 0) > 0
             THEN CAST(a.n_hit * 1000000 // a.n_cand AS BIGINT) END AS precision_micro
         FROM sgrid g LEFT JOIN agg a ON a.bands = g.bands"""
    }),

    // n-gram novelty vs a held-out reference slice (doc_id % 50 == 0):
    // the soft inverse of q58's contamination count
    Query("q118_novelty", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.noveltyScore(docs.filter(col("doc_id") % 50 =!= 0), "doc_id",
        col("text"), docs.filter(col("doc_id") % 50 === 0), col("text"))
        .select(col("doc").as("doc_id"), col("n_shingles"),
          col("n_novel"), col("novelty"))
    },
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(w) >= $MinhashK
           THEN list_distinct([array_to_string(w[i+1:i+$MinhashK], ' ') for i in range(0, len(w) - ${MinhashK - 1})])
           ELSE [array_to_string(w, ' ')] END AS shingles FROM toks),
         ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         ref AS (SELECT DISTINCT s FROM ex WHERE doc_id % 50 = 0)
         SELECT e.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(floor(CAST(sum(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS novelty
         FROM ex e LEFT JOIN ref r ON e.s = r.s
         WHERE e.doc_id % 50 <> 0 GROUP BY 1"""),

    // incremental-ingest near-dedup: new shard (odd ids) vs the
    // existing lake — only boundary-crossing candidate pairs matter
    Query("q125_incremental_dedup", (s, d) =>
      Dedup.incrementalNearDups(Tables.documents(s, d), "doc_id",
        col("text"), col("doc_id") % 2 === 1),
      s"""WITH RECURSIVE cand AS ($minhashOracle),
         x AS (SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS new_doc,
                      CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS existing_doc
               FROM cand WHERE (doc_a % 2 = 1) <> (doc_b % 2 = 1))
         SELECT new_doc, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(existing_doc) AS BIGINT) AS closest_existing
         FROM x GROUP BY 1"""),

    // the WHOLE curation funnel oracle-gated end-to-end: quality gate ->
    // exact dedup -> MinHash near-dedup (connected components) ->
    // decontamination, one disposition per doc (q58's %7 eval split)
    Query("q124_curation_funnel", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.pipelines.CurationPipeline.dispositions(
        docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 7 === 0).select("text"))
        .select(col("doc_id"), col("stage"))
    },
      // the funnel's stages composed from the proven oracle fragments:
      // q65's quality formula, exact-dup groups, q51's recursive closure
      // over candidates-on-QUALIFIED, q58's shingle intersection
      {
      val k = MinhashK
      val shingleCase = s"""CASE WHEN len(w) >= $k
        THEN list_distinct([array_to_string(w[i+1:i+$k], ' ') for i in range(0, len(w) - ${k - 1})])
        ELSE [array_to_string(w, ' ')] END"""
      s"""WITH RECURSIVE
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
         evald AS (SELECT text FROM documents WHERE doc_id % 7 = 0),
         q0 AS (SELECT doc_id,
           round(least(CAST(1 AS DOUBLE), CAST(len(string_split(text, ' ')) AS DOUBLE) / 64) * 0.5
             + least(CAST(1 AS DOUBLE), CAST(list_sum([CASE WHEN x IN ('the','a','of','and','to','in','is') THEN 1 ELSE 0 END for x in string_split(text, ' ')]) AS DOUBLE) / len(string_split(text, ' ')) * 5) * 0.5, 4) AS qs
           FROM corpus),
         quality AS (SELECT doc_id, (qs IS NOT NULL AND qs >= 0.5) AS q_pass FROM q0),
         qualified AS (SELECT c.doc_id, c.text FROM corpus c
           JOIN quality USING (doc_id) WHERE q_pass),
         fps AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM qualified),
         grp AS (SELECT f, min(doc_id) AS keep_id, count(*) AS cnt
           FROM fps GROUP BY 1),
         exact_drop AS (SELECT fps.doc_id AS doc_id FROM fps
           JOIN grp ON fps.f = grp.f
           WHERE grp.cnt > 1 AND fps.doc_id <> grp.keep_id),
         cand AS (${minhashOracleFrom("qualified")}),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach AS (SELECT src, dst FROM edges
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         near_drop AS (SELECT src AS doc_id FROM reach GROUP BY src
                       HAVING src <> least(src, min(dst))),
         qsh AS (SELECT doc_id, unnest($shingleCase) AS s2 FROM
           (SELECT doc_id, string_split(text, ' ') AS w FROM qualified)),
         esh AS (SELECT DISTINCT unnest($shingleCase) AS s2 FROM
           (SELECT string_split(text, ' ') AS w FROM evald)),
         contam AS (SELECT DISTINCT q.doc_id FROM qsh q JOIN esh USING (s2))
         SELECT c.doc_id AS doc_id,
           CASE WHEN NOT q.q_pass THEN 'quality'
                WHEN c.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'exact_dup'
                WHEN c.doc_id IN (SELECT doc_id FROM near_drop) THEN 'near_dup'
                WHEN c.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
                ELSE 'kept' END AS stage
         FROM corpus c JOIN quality q USING (doc_id)"""
    }),

    // exact duplicate-substring spans (Lee et al. 2022 ExactSubstr):
    // overlapping 5-token windows occurring >= 2 times in the corpus,
    // merged into per-doc cut spans. A shared 11-token boilerplate
    // footer is injected on every 4th doc (the q37/q59 spike pattern)
    // so cross-doc runs provably fire; windows straddling the
    // boilerplate boundary differ per doc and are provably excluded.
    // The random corpus also contributes organic birthday-collision
    // 5-grams, so the operator is not only seeing the injected case.
    Query("q106_dup_spans", (s, d) => {
      val spiked = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(
          " all rights reserved unauthorized reproduction of this" +
            " document is strictly prohibited"))
          .otherwise(lit("")))
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", spiked, k = 5)
        .select(col("doc").as("doc_id"), col("span_id"), col("start_tok"),
          col("end_tok"), col("n_windows"))
    },
      // windows cross as the shared 56-bit md5 hash; interval merge is
      // the q94 running-max window over integer token positions
      {
      val boiler = " all rights reserved unauthorized reproduction of" +
        " this document is strictly prohibited"
      s"""WITH d AS (SELECT doc_id, string_split(text ||
           CASE WHEN doc_id % 4 = 0 THEN '$boiler' ELSE '' END, ' ') AS w
           FROM documents),
         sh AS (SELECT doc_id, unnest([{'pos': CAST(i AS BIGINT),
               'h': ${sqlHexLong("array_to_string(w[i+1:i+5], ' ')")}}
               for i in range(0, len(w) - 4)]) AS s
             FROM d WHERE len(w) >= 5),
         e AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM sh),
         dup AS (SELECT h FROM e GROUP BY h HAVING count(*) >= 2),
         hits AS (SELECT doc_id, pos AS s, pos + 4 AS en
                  FROM e JOIN dup USING (h)),
         m AS (SELECT doc_id, s, en, max(en) OVER (PARTITION BY doc_id
               ORDER BY s, en ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax FROM hits),
         f AS (SELECT doc_id, s, en,
               CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nw
               FROM m),
         i AS (SELECT doc_id, s, en, CAST(sum(nw) OVER (PARTITION BY doc_id
               ORDER BY s, en ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
               FROM f)
         SELECT doc_id, span_id, min(s) AS start_tok, max(en) AS end_tok,
           CAST(count(*) AS BIGINT) AS n_windows
         FROM i GROUP BY 1, 2"""
    }),

    // MinHash signature-agreement Jaccard estimate for the q29
    // candidate pairs — the O(numPerm) triage before exact verify.
    // Fused form: the signature subplan runs structurally ONCE (it
    // rides through the banding aggregation into the pair generator),
    // where composing minHashEstimate over minHashCandidates planned it
    // three times (candidates + both re-attach join sides).
    Query("q64_minhash_est", (s, d) =>
      Dedup.minHashCandidatesWithEstimate(Tables.documents(s, d), "doc_id",
        col("text"), MinhashK, MinhashPerms, MinhashBands),
      minhashEstOracle),

    // b-bit minwise compression (b=2: 2-bit slots, a 28x storage cut
    // on 56-bit mins) with the collision-corrected estimator, side by
    // side with the full-width estimate over the same candidate pairs
    Query("q167_bbit_minwise", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.bbitMinwiseEstimate(docs, "doc_id", col("text"),
        Dedup.minHashCandidates(docs, "doc_id", col("text"),
          MinhashK, MinhashPerms, MinhashBands, DefaultMaxBucket),
        MinhashK, MinhashPerms, b = 2)
    },
      // same signatures (mh CTE), low-2-bit agreement, the clamped
      // integer collision correction (n_b*4 - 16) * 1e6 // 48
      {
      val aFull = (0 until MinhashPerms)
        .map(p => s"(CASE WHEN x.mh$p = y.mh$p THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val aB = (0 until MinhashPerms)
        .map(p => s"(CASE WHEN x.mh$p % 4 = y.mh$p % 4 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""$minhashCtes,
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
           JOIN ok ON a.band_idx = ok.band_idx
             AND a.band_hash = ok.band_hash),
         ag AS (SELECT c.doc_a, c.doc_b,
             CAST($aFull AS BIGINT) AS n_agree_full,
             CAST($aB AS BIGINT) AS n_agree_b
           FROM cand c JOIN mh x ON x.doc_id = c.doc_a
           JOIN mh y ON y.doc_id = c.doc_b)
         SELECT doc_a, doc_b, n_agree_full, n_agree_b,
           CAST(n_agree_full * 1000000 // $MinhashPerms AS BIGINT)
             AS est_full_micro,
           CAST(greatest(0, n_agree_b * 4 - $MinhashPerms) * 1000000
             // (${MinhashPerms * 3}) AS BIGINT) AS est_b_micro
         FROM ag"""
    })
  )
}
