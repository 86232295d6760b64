package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._
import graft.functions.Hashing
import graft.sinks.Warehouse

/** T3 text-curation queries: per-document token statistics,
  * normalization, quality signals and filters, chunking and packing,
  * sampling and PII redaction (`TextAnalysis`). */
object TextQueries {
  import Common._

  /** q52 mixing rates: downsample English hard, others lightly. */
  private val StratRates = Map("en" -> 0.1, "de" -> 0.5)
  private val StratDefault = 0.9

  /** q152's static badword list (stand-in for C4's public blocklist,
    * chosen so it fires on a meaningful fraction of the synthetic
    * corpus: 'dup' hits ~5% of docs, each phrase ~6%). */
  private val BlocklistWords = Seq("dup")
  private val BlocklistPhrases = Seq("slow merge", "big batch")

  /** Generated oracle: marker-word language ID. */
  private def langidOracle: String = {
    val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      s"list_sum([CASE WHEN x IN ($set) THEN 1 ELSE 0 END for x in w]) AS score_$lang"
    }.mkString(", ")
    val names = TextAnalysis.langMarkers.map { case (l, _) => s"score_$l" }
    val best = s"greatest(${names.mkString(", ")})"
    val pick = TextAnalysis.langMarkers.map { case (l, _) =>
      s"WHEN score_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
       sc AS (SELECT doc_id, lang, $scores FROM t),
       b AS (SELECT *, $best AS best FROM sc)
       SELECT doc_id, CASE $pick ELSE 'und' END AS lang_pred, lang AS lang_declared FROM b"""
  }

  val all: Seq[Query] = Seq(
    // token statistics (whitespace + BPE-ish estimate)
    Query("q24_text_tokens", (s, d) =>
      wide(Tables.documents(s, d)).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens"),
        TextAnalysis.tokenCountEstimate(col("text")).cast(LongType).as("n_tokens_bpe"),
        length(col("text")).cast(LongType).as("n_chars_measured")),
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         CAST(len(string_split(text, ' ')) + list_sum([greatest(0, (length(x) - 1) // 4) for x in string_split(text, ' ')]) AS BIGINT) AS n_tokens_bpe,
         length(text) AS n_chars_measured FROM documents"""),

    // content fingerprints (md5 + polynomial rolling hash)
    Query("q25_text_fingerprint", (s, d) =>
      wide(Tables.documents(s, d)).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.rollingHash(col("text")).as("roll_hash")),
      s"""SELECT doc_id, md5(lower(trim(text))) AS fp,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           [${sqlHexLong("x")} % 2147483647 for x in string_split(text, ' ')]),
           (acc, v) -> (acc * 31 + v) % 2147483647) AS roll_hash
         FROM documents"""),

    // marker-word language ID
    Query("q26_text_langid", (s, d) =>
      wide(Tables.documents(s, d)).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_declared")),
      langidOracle),

    // quality-score features
    Query("q27_text_quality", (s, d) =>
      TextAnalysis.qualityFeatures(wide(Tables.documents(s, d)), col("text"))
        .select(col("doc_id"), col("n_tokens").cast(LongType).as("n_tokens"),
          col("avg_token_len"), col("stopword_ratio"), col("quality_score")),
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len,
         round(CAST(list_sum([CASE WHEN x IN ('the','a','of','and','to','in','is') THEN 1 ELSE 0 END for x in string_split(text, ' ')]) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio,
         round(least(CAST(1 AS DOUBLE), CAST(len(string_split(text, ' ')) AS DOUBLE) / 64) * 0.5
             + least(CAST(1 AS DOUBLE), CAST(list_sum([CASE WHEN x IN ('the','a','of','and','to','in','is') THEN 1 ELSE 0 END for x in string_split(text, ' ')]) AS DOUBLE) / len(string_split(text, ' ')) * 5) * 0.5, 4) AS quality_score
         FROM documents"""),

    // winnowing fingerprints (MOSS): window-min k-gram hashes — the
    // shared-passage detector; any w+k-1-token overlap shares one
    Query("q127_winnow_fingerprints", (s, d) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, d), "doc_id",
        col("text"))
        .select(col("doc").as("doc_id"), col("fingerprint")),
      // winnowing: positional 4-gram hashes, window-4 minima, distinct
      // per doc; <4 tokens -> none, <4 grams -> the single global min
      {
      val h = sqlHexLong("array_to_string(w[i+1:i+4], ' ')")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         hs AS (SELECT doc_id, CASE WHEN len(w) >= 4
             THEN [$h for i in range(0, len(w) - 3)]
             ELSE [] END AS h FROM toks),
         fp AS (SELECT doc_id, CASE
             WHEN len(h) >= 4 THEN list_distinct([list_min(h[j+1:j+4]) for j in range(0, len(h) - 3)])
             WHEN len(h) >= 1 THEN [list_min(h)]
             ELSE [] END AS fps FROM hs)
         SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint FROM fp"""
    }),

    // T5 span corruption: hash-derandomized block spans → (masked
    // input with sentinels, span target) pairs — denoising prep
    Query("q133_span_corruption", (s, d) =>
      TextAnalysis.spanCorruption(Tables.documents(s, d), "doc_id",
        col("text"))
        .select(col("doc").as("doc_id"), col("masked_input"),
          col("target"), col("n_spans"), col("n_masked")),
      {
      val h = sqlHexLong("(doc_id::VARCHAR || '#' || bb::VARCHAR)")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                     WHERE text IS NOT NULL),
         nb AS (SELECT doc_id, w,
                  CAST(ceil(CAST(len(w) AS DOUBLE) / 8) AS BIGINT) AS nblk
                FROM t),
         bs AS (SELECT doc_id, w, nblk,
             [(($h % 5 = 0) AND (bb * 8 + (($h >> 8) % 5) < len(w)))
               for bb in range(0, nblk)] AS ms,
             [(($h >> 8) % 5) for bb in range(0, nblk)] AS ss,
             [((($h >> 16) % 3) + 1) for bb in range(0, nblk)] AS ls
           FROM nb),
         built AS (SELECT doc_id, w, nblk, ms, ss, ls,
             [x for x in
               [CASE WHEN NOT (ms[(i // 8) + 1] AND (i % 8) >= ss[(i // 8) + 1]
                               AND (i % 8) < ss[(i // 8) + 1] + ls[(i // 8) + 1])
                  THEN w[i + 1]
                  WHEN (i % 8) = ss[(i // 8) + 1]
                  THEN '<extra_id_' || (i // 8)::VARCHAR || '>'
                  ELSE NULL END for i in range(0, len(w))]
              if x IS NOT NULL] AS inp,
             flatten([CASE WHEN ms[bb + 1]
                 THEN ['<extra_id_' || bb::VARCHAR || '>'] ||
                   w[(bb * 8 + ss[bb + 1] + 1) :
                     (bb * 8 + ss[bb + 1] +
                      least(ls[bb + 1], len(w) - (bb * 8 + ss[bb + 1])))]
                 ELSE [] END for bb in range(0, nblk)]) AS tgt,
             len([x for x in ms if x]) AS nsp
           FROM bs)
         SELECT doc_id, array_to_string(inp, ' ') AS masked_input,
           coalesce(array_to_string(tgt, ' '), '') AS target,
           CAST(nsp AS BIGINT) AS n_spans,
           CAST(len(w) - len(inp) + nsp AS BIGINT) AS n_masked
         FROM built"""
    }),

    // boilerplate density: fraction of each doc's winnowing
    // fingerprints shared corpus-wide (the q130 spike supplies real
    // template families; unspiked docs sit at zero)
    Query("q135_boilerplate_density", (s, d) => {
      val spiked = concat(col("text"),
        when(col("doc_id") % 17 === 0,
          lit(" shared boilerplate footer alpha beta gamma delta epsilon"))
          .when(col("doc_id") % 19 === 0,
            lit(" common navigation header one two three four five six"))
          .otherwise(lit("")))
      TextAnalysis.boilerplateDensity(Tables.documents(s, d), "doc_id",
        spiked)
        .select(col("doc").as("doc_id"), col("n_fp"), col("n_common"),
          col("boiler_micro"))
    },
      {
      val spiked = """CASE WHEN doc_id % 17 = 0
        THEN text || ' shared boilerplate footer alpha beta gamma delta epsilon'
        WHEN doc_id % 19 = 0
        THEN text || ' common navigation header one two three four five six'
        ELSE text END"""
      val h = sqlHexLong("array_to_string(w[i+1:i+4], ' ')")
      s"""WITH toks AS (SELECT doc_id, string_split($spiked, ' ') AS w FROM documents),
         hs AS (SELECT doc_id, CASE WHEN len(w) >= 4
             THEN [$h for i in range(0, len(w) - 3)]
             ELSE [] END AS h FROM toks),
         fp AS (SELECT doc_id, CASE
             WHEN len(h) >= 4 THEN list_distinct([list_min(h[j+1:j+4]) for j in range(0, len(h) - 3)])
             WHEN len(h) >= 1 THEN [list_min(h)]
             ELSE [] END AS fps FROM hs),
         ex AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS f FROM fp),
         freq AS (SELECT f, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS boiler_micro
         FROM ex JOIN freq USING (f) GROUP BY 1"""
    }),

    // contrastive span pairs (Contriever independent cropping):
    // hash-derandomized positive pairs for dense-retriever pretraining
    Query("q139_span_pairs", (s, d) =>
      TextAnalysis.contrastiveSpanPairs(Tables.documents(s, d), "doc_id",
        col("text"))
        .select(col("doc").as("doc_id"), col("a_start"), col("a_len"),
          col("span_a"), col("b_start"), col("b_len"), col("span_b")),
      {
      val h = sqlHexLong("doc_id || '#crop'")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w, $h AS h
           FROM documents WHERE text IS NOT NULL),
         p AS (SELECT doc_id, w,
             3 + ((h >> 8) % 4) AS a_len, 3 + ((h >> 24) % 4) AS b_len, h
           FROM d WHERE len(w) >= 8),
         s AS (SELECT doc_id, w, a_len, b_len,
             (h >> 16) % (len(w) - a_len + 1) AS a_start,
             (h >> 32) % (len(w) - b_len + 1) AS b_start
           FROM p)
         SELECT doc_id, CAST(a_start AS BIGINT) AS a_start,
           CAST(a_len AS BIGINT) AS a_len,
           array_to_string(w[a_start + 1 : a_start + a_len], ' ') AS span_a,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(b_len AS BIGINT) AS b_len,
           array_to_string(w[b_start + 1 : b_start + b_len], ' ') AS span_b
         FROM s"""
    }),

    // exact phrase occurrence search: per-row positional matching of a
    // token sequence ("table hash" occurs organically in the corpus)
    Query("q141_phrase_search", (s, d) =>
      TextAnalysis.phraseSearch(Tables.documents(s, d), "doc_id",
        col("text"), Seq("table", "hash"))
        .select(col("doc").as("doc_id"), col("n_matches"),
          col("first_pos")),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
         m AS (SELECT doc_id,
             [i for i in range(0, len(w) - 1)
              if w[i+1] = 'table' AND w[i+2] = 'hash'] AS hits
           FROM d WHERE len(w) >= 2)
         SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
           CAST(hits[1] AS BIGINT) AS first_pos
         FROM m WHERE len(hits) > 0"""),

    // token-budget subset selection: highest-quality docs under an
    // 8000-token training budget via histogram threshold — whole
    // buckets above the cut, a hash-ordered partial admit at the
    // boundary, no global sort
    Query("q143_budget_select", (s, d) => {
      val q = TextAnalysis.qualityFeatures(Tables.documents(s, d),
        col("text"))
      Relational.budgetedSelection(q, "doc_id", col("n_tokens"),
          col("quality_score"), budgetTokens = 8000L)
        .select(col("doc").as("doc_id"), col("n_toks"), col("q_bucket"))
    },
      {
      val h = sqlHexLong("CAST(doc_id AS VARCHAR)")
      val stop = "CASE WHEN x IN ('the','a','of','and','to','in','is') THEN 1 ELSE 0 END"
      s"""WITH d0 AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
           round(least(CAST(1 AS DOUBLE),
               CAST(len(string_split(text, ' ')) AS DOUBLE) / 64) * 0.5
             + least(CAST(1 AS DOUBLE),
               CAST(list_sum([$stop for x in string_split(text, ' ')]) AS DOUBLE)
                 / len(string_split(text, ' ')) * 5) * 0.5, 4) AS q
           FROM documents),
         d AS (SELECT doc_id, CAST(nt AS BIGINT) AS nt,
           CAST(least(floor(q * 1024), 1023) AS BIGINT) AS qb FROM d0),
         h AS (SELECT qb, CAST(sum(nt) AS BIGINT) AS bt FROM d GROUP BY 1),
         c AS (SELECT qb, bt, CAST(coalesce(sum(bt) OVER (ORDER BY qb DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS abv FROM h),
         dec AS (SELECT qb, (abv + bt <= 8000) AS fullb, 8000 - abv AS rem
                 FROM c WHERE abv < 8000),
         j AS (SELECT d.doc_id, d.nt, d.qb, fullb, rem
               FROM d JOIN dec USING (qb)),
         bnd AS (SELECT doc_id, nt, qb, rem, sum(nt) OVER (PARTITION BY qb
             ORDER BY $h, doc_id ROWS UNBOUNDED PRECEDING) AS run
           FROM j WHERE NOT fullb)
         SELECT doc_id, nt AS n_toks, qb AS q_bucket FROM j WHERE fullb
         UNION ALL
         SELECT doc_id, nt, qb FROM bnd WHERE run <= rem"""
    }),

    // content-defined chunking: shift-resistant rolling-hash cuts —
    // the chunk-level dedup unit fixed-size chunking cannot provide
    Query("q144_cdc_chunks", (s, d) =>
      TextAnalysis.contentDefinedChunks(Tables.documents(s, d), "doc_id",
        col("text"), k = 4, divisor = 8L)
        .select(col("doc").as("doc_id"), col("chunk_idx"), col("start"),
          col("len"), col("chunk_fp")),
      {
      val wh = sqlHexLong("array_to_string(w[c - 3 : c], ' ')")
      val cf = sqlHexLong("array_to_string(w[s + 1 : e], ' ')")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
         cu AS (SELECT doc_id, w, CASE WHEN len(w) >= 4
             THEN [c for c in [j + 4 for j in range(0, len(w) - 3)]
                   if $wh % 8 = 0]
             ELSE [] END AS cuts FROM d),
         sp AS (SELECT doc_id, w,
             [0] || cuts AS ss, cuts || [len(w)] AS es FROM cu),
         z AS (SELECT doc_id, w, unnest(ss) AS s, unnest(es) AS e FROM sp),
         f AS (SELECT doc_id, w, s, e,
             row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS ci
           FROM z WHERE e > s)
         SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start, CAST(e - s AS BIGINT) AS len,
           $cf AS chunk_fp
         FROM f"""
    }),

    // temperature-flattened mixture allocation (mT5 α=0.5) with
    // water-filling: √-capacity weights, saturated languages taken
    // whole, their excess re-levelled onto the rest
    Query("q145_mixture_waterfill", (s, d) =>
      TextAnalysis.mixtureWaterfill(
        Tables.documents(s, d)
          .withColumn("__nt", size(TextAnalysis.tokens(col("text")))),
        "lang", col("__nt"), budgetTokens = 24000L)
        .select(col("source").as("lang"), col("cap_tokens"),
          col("alloc_tokens"), col("capped")),
      """WITH caps AS (SELECT lang AS source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
           FROM documents GROUP BY 1),
         x AS (SELECT source, cap, sqrt(CAST(cap AS DOUBLE)) AS w,
             CAST(cap AS DOUBLE) / sqrt(CAST(cap AS DOUBLE)) AS r
           FROM caps),
         s AS (SELECT *,
             CAST(coalesce(sum(cap) OVER (ORDER BY r, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS prefc,
             sum(w) OVER (ORDER BY r, source
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sufw,
             lag(r) OVER (ORDER BY r, source) AS prevr
           FROM x),
         lamr AS (SELECT *,
             (CAST(24000 AS DOUBLE) - CAST(prefc AS DOUBLE)) / sufw AS lam
           FROM s),
         lvl AS (SELECT max(CASE WHEN lam <= r
               AND coalesce(lam >= prevr, TRUE) THEN lam END) AS lamstar,
             CAST(sum(cap) AS BIGINT) AS total FROM lamr)
         SELECT source AS lang, cap AS cap_tokens,
           CAST(CASE WHEN total <= 24000 THEN cap
             WHEN r <= lamstar THEN cap
             ELSE floor(lamstar * w) END AS BIGINT) AS alloc_tokens,
           (total <= 24000 OR r <= lamstar) AS capped
         FROM lamr, lvl"""),

    // C4-style badword blocklist disposition (drop any page containing a
    // listed word or phrase), aggregated per source. The list mixes a
    // whole-token word ('dup', ~5% df on the corpus) with two adjacency
    // phrases so BOTH match kinds provably fire — and every source keeps
    // a nonzero blocked AND kept count (probed; distribution recorded in
    // COVERAGE.md). Zero-shuffle scan expression + one tiny aggregation.
    Query("q152_blocklist", (s, d) => {
      val blocked = TextAnalysis.blocklistHit(col("text"),
        BlocklistWords, BlocklistPhrases)
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"), blocked.as("__b"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__b"), 1L).otherwise(0L)).as("n_blocked"),
          sum(when(!col("__b"), col("n_chars")).otherwise(0L)).as("kept_chars"))
    },
      // same list, same whole-token / padded-adjacency match semantics
      s"""WITH f AS (SELECT source, n_chars,
           (${(BlocklistWords.map(w =>
             s"list_contains(string_split(text, ' '), '$w')") ++
             BlocklistPhrases.map(p =>
               s"contains(' ' || text || ' ', ' $p ')")).mkString(" OR ")}) AS b
         FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN NOT b THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         FROM f GROUP BY 1"""),

    // curation content flags (email/url/digit-run detection). The
    // corpus text contains none of these, so flaggable content is
    // injected deterministically by doc_id — the oracle match then
    // exercises both regex branches instead of passing on all-false.
    Query("q37_content_flags", (s, d) => {
      val spiked = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" contact user@example.com"))
          .when(col("doc_id") % 11 === 0, lit(" see https://example.com/x"))
          .when(col("doc_id") % 13 === 0, lit(" ref 123456789"))
          .otherwise(lit("")))
      val flags = TextAnalysis.contentFlags(spiked)
      wide(Tables.documents(s, d)).select(
        col("doc_id") +: flags.map { case (n, c) => c.as(n) }: _*)
    },
      """WITH spiked AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 7 = 0 THEN ' contact user@example.com'
                WHEN doc_id % 11 = 0 THEN ' see https://example.com/x'
                WHEN doc_id % 13 = 0 THEN ' ref 123456789'
                ELSE '' END AS text
         FROM documents)
         SELECT doc_id,
         regexp_matches(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+') AS has_email,
         regexp_matches(lower(text), 'https?://[a-z0-9./_%+-]+') AS has_url,
         regexp_matches(lower(text), '[0-9]{8}') AS has_long_digits
         FROM spiked"""),

    // repetition quality signals (distinct ratio, top-token share)
    Query("q38_repetition", (s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", col("text")),
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         g AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2)
         SELECT doc_id AS doc, CAST(sum(c) AS BIGINT) AS n_tokens,
           round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio,
           round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_token_share
         FROM g GROUP BY doc_id"""),

    // context-window chunking (token windows with overlap); tokens are
    // projected into a column BEFORE the window HOF — inlined, the split
    // re-runs per chunk (no loop-invariant hoisting in lambdas)
    Query("q39_chunking", (s, d) =>
      wide(Tables.documents(s, d))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunksOfTokens(col("__toks"), 32, 8)))
        .select(col("doc_id"), col("pos").cast(LongType).as("chunk_idx"),
          col("col").as("chunk")),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         c AS (SELECT doc_id,
           [array_to_string(w[i*24+1 : i*24+32], ' ')
            for i in range(0, greatest(1, CAST(ceil(CAST(len(w) - 8 AS DOUBLE) / 24) AS BIGINT)))] AS chunks
           FROM t)
         SELECT doc_id, unnest(range(0, len(chunks))) AS chunk_idx,
           unnest(chunks) AS chunk FROM c"""),

    // reproducible hash sampling (dataset mixing)
    Query("q40_sample", (s, d) =>
      Tables.orders(s, d)
        .filter(TextAnalysis.deterministicSample(col("o_orderkey"), 0.1))
        .select("o_orderkey", "o_custkey"),
      {
      s"SELECT o_orderkey, o_custkey FROM orders WHERE " +
        s"${sqlHexLong("CAST(o_orderkey AS VARCHAR)")} % 10000 < 1000"
    }),

    // stratified deterministic sampling (dataset mixing): per-language
    // rates — downsample dominant strata, keep rare ones whole
    Query("q52_stratified_sample", (s, d) =>
      Tables.documents(s, d)
        .filter(TextAnalysis.stratifiedSample(col("doc_id"), col("lang"),
          StratRates, StratDefault))
        .select(col("doc_id"), col("lang")),
      {
      val cases = StratRates.toSeq.sortBy(_._1).map { case (s, f) =>
        s"WHEN lang = '${s.replace("'", "''")}' THEN ${(f * 10000).toLong}"
      }.mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         WHERE ${sqlHexLong("CAST(doc_id AS VARCHAR)")} % 10000 <
           (CASE $cases ELSE ${(StratDefault * 10000).toLong} END)"""
    }),

    // canonicalization before fingerprinting (lowercase, strip
    // punctuation, collapse whitespace) + a changed flag. The corpus text
    // is already clean, so punctuation is injected deterministically by
    // doc_id — the oracle then exercises every branch of the normalizer.
    Query("q54_normalize", (s, d) => {
      val spiked = when(col("doc_id") % 5 === 0,
        concat(lit("  \"Hello,  WORLD!\"  ("), col("text"), lit(") ...")))
        .otherwise(col("text"))
      wide(Tables.documents(s, d)).select(col("doc_id"),
        TextAnalysis.normalize(spiked).as("norm_text"),
        (TextAnalysis.normalize(spiked) =!= col("text")).as("changed"))
    },
      // DuckDB regexp_replace needs the 'g' flag for replace-all (Spark's
      // default); the strip class escapes its single quotes for SQL
      {
      val strip = TextAnalysis.NormalizeStrip.replace("'", "''")
      val spiked = """CASE WHEN doc_id % 5 = 0
        THEN '  "Hello,  WORLD!"  (' || text || ') ...' ELSE text END"""
      val norm =
        s"trim(regexp_replace(regexp_replace(lower($spiked), '$strip', '', 'g'), '\\s+', ' ', 'g'))"
      s"""SELECT doc_id, $norm AS norm_text, $norm <> text AS changed
         FROM documents"""
    }),

    // C4 line-level structural cleaning (Raffel 2020 §2.2's line
    // rules). The corpus has no newlines or punctuation, so page
    // structure is spiked deterministically: a period+newline every 6
    // words makes well-formed lines (the trailing partial line lacks
    // terminal punctuation and is struck — the punctuation rule fires
    // on every doc), docs on the %19 stratum keep their original
    // single unpunctuated line (short_page fires), and junk lines are
    // appended by stratum — lorem-ipsum (%13) and curly-brace (%17)
    // pages drop whole, javascript banner lines (%11) and 2-word
    // lines (%7) are struck line-level. Every rule provably fires
    // both ways; when-chain order mirrors the oracle CASE order.
    Query("q162_line_clean", (s, d) => {
      val structured = when(col("doc_id") % 19 === 0, col("text"))
        .otherwise(regexp_replace(col("text"),
          "((?:\\S+ ){5}\\S+) ", "$1.\n"))
      val junk = when(col("doc_id") % 13 === 0,
          lit("\nlorem ipsum dolor sit amet."))
        .when(col("doc_id") % 17 === 0, lit("\nfunction() { return x; }"))
        .when(col("doc_id") % 11 === 0,
          lit("\nplease enable javascript to view this content."))
        .when(col("doc_id") % 7 === 0, lit("\nshort line."))
        .otherwise(lit(""))
      TextAnalysis.lineClean(Tables.documents(s, d), "doc_id",
        concat(structured, junk))
    },
      // same spike (CASE order mirrors the when-chain), same trimmed
      // non-empty line split, same three line rules and two page rules
      """WITH spiked AS (SELECT doc_id,
           (CASE WHEN doc_id % 19 = 0 THEN text
                 ELSE regexp_replace(text, '((?:\S+ ){5}\S+) ',
                   '\1.' || chr(10), 'g') END)
           || (CASE WHEN doc_id % 13 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet.'
               WHEN doc_id % 17 = 0
                 THEN chr(10) || 'function() { return x; }'
               WHEN doc_id % 11 = 0
                 THEN chr(10) || 'please enable javascript to view this content.'
               WHEN doc_id % 7 = 0 THEN chr(10) || 'short line.'
               ELSE '' END) AS text
         FROM documents),
         ls AS (SELECT doc_id,
           [trim(x) for x in string_split(text, chr(10))
            if trim(x) <> ''] AS ls FROM spiked),
         j AS (SELECT doc_id, ls,
           len([l for l in ls if contains(l, '{') OR contains(l, '}')
                OR contains(l, 'lorem ipsum')]) > 0 AS pf,
           [l for l in ls if regexp_matches(l, '[.!?"]$')
              AND len([w for w in regexp_split_to_array(l, ' +')
                       if w <> '']) >= 3
              AND NOT contains(l, 'javascript')] AS kept
         FROM ls)
         SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CASE WHEN pf THEN 'page_filter'
                WHEN len(kept) < 3 THEN 'short_page'
                ELSE 'kept' END AS disposition,
           CASE WHEN NOT pf AND len(kept) >= 3
                THEN array_to_string(kept, chr(10)) ELSE '' END AS clean_text
         FROM j"""),

    // per-language top-quality docs: the grouped bounded top-k through
    // the same aggregate the ANN tier uses (data-mixing / curation pick)
    Query("q65_top_quality_docs", (s, d) => {
      val q = TextAnalysis.qualityFeatures(wide(Tables.documents(s, d)), col("text"))
        // aggregate semantics: unscoreable (null-quality) docs are out of
        // the ranking on BOTH sides — TopKByScore skips null scores, and
        // the oracle filters them before its window, so the contracts
        // agree even on a corpus with null text
        .filter(col("quality_score").isNotNull)
      Relational.topKPerGroup(q, Seq("lang"), col("quality_score"), col("doc_id"), 3)
        .select(col("lang"), col("id").as("doc_id"),
          col("score").as("quality_score"), col("rank").cast(LongType).as("q_rank"))
    },
      """WITH q AS (SELECT doc_id, lang,
           round(least(CAST(1 AS DOUBLE), CAST(len(string_split(text, ' ')) AS DOUBLE) / 64) * 0.5
             + least(CAST(1 AS DOUBLE), CAST(list_sum([CASE WHEN x IN ('the','a','of','and','to','in','is') THEN 1 ELSE 0 END for x in string_split(text, ' ')]) AS DOUBLE) / len(string_split(text, ' ')) * 5) * 0.5, 4) AS quality_score
         FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang
           ORDER BY quality_score DESC, doc_id) AS rn FROM q
           WHERE quality_score IS NOT NULL)
         SELECT lang, doc_id, quality_score, CAST(rn AS BIGINT) AS q_rank
         FROM r WHERE rn <= 3"""),

    // per-doc character entropy (gibberish/boilerplate signal);
    // deterministic sorted-histogram fold for engine parity
    Query("q67_char_entropy", (s, d) =>
      TextAnalysis.charEntropy(Tables.documents(s, d), "doc_id", col("text")),
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
         cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM ch
                WHERE c <> '' GROUP BY 1, 2),
         h AS (SELECT doc_id, list(n ORDER BY c) AS hist,
               CAST(sum(n) AS BIGINT) AS t FROM cc GROUP BY 1)
         SELECT doc_id AS doc, t AS n_chars,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [-(CAST(n AS DOUBLE) / t) * ln(CAST(n AS DOUBLE) / t) for n in hist]),
             (acc, v) -> acc + v), 6) AS char_entropy
         FROM h"""),

    // concat-and-chunk sequence packing: global token offsets in doc_id
    // order, cut into 512-token context windows. Two-level cumsum (range
    // shards + broadcast shard prefixes) — never a global one-task
    // window; the oracle's single SUM() OVER (ORDER BY doc_id) is the
    // semantic contract the sharded form must reproduce exactly.
    Query("q70_pack_offsets", (s, d) =>
      TextAnalysis.packOffsets(Tables.documents(s, d), "doc_id", col("text"),
        contextTokens = 512, shardSize = 100L),
      // the single global running sum IS the contract; the Spark side must
      // reproduce it exactly from range shards + broadcast prefixes
      """WITH n AS (SELECT doc_id,
           CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_offset FROM n)
         SELECT doc_id, n_tokens, start_offset,
           start_offset // 512 AS chunk_first,
           CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
                ELSE start_offset // 512 END AS chunk_last,
           (CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
                 ELSE start_offset // 512 END) - start_offset // 512 + 1 AS n_chunks
         FROM o"""),

    // greedy no-split packing (the SFT layout): 128-token bins, greedy
    // state confined to 100-id range shards. The oracle replays the
    // same greedy fold as a per-shard recursive CTE.
    Query("q72_pack_greedy", (s, d) =>
      TextAnalysis.packGreedy(Tables.documents(s, d), "doc_id", col("text"),
        capacity = 128, shardSize = 100L),
      // the greedy fold replayed as a per-shard recursive CTE: row n
      // derives its (bin, fill) from row n-1; recursion depth = docs per
      // shard (= shardSize at dense ids), all shards advance in parallel
      """WITH RECURSIVE n AS (SELECT doc_id,
           CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n_tokens,
           doc_id // 100 AS shard FROM documents),
         r AS (SELECT shard, doc_id, n_tokens,
           row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM n),
         g AS (
           SELECT shard, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.shard, r.doc_id, r.n_tokens, r.rn,
             CASE WHEN g.fill > 0 AND g.fill + r.n_tokens > 128
                  THEN g.bin + 1 ELSE g.bin END,
             CASE WHEN g.fill > 0 AND g.fill + r.n_tokens > 128
                  THEN r.n_tokens ELSE g.fill + r.n_tokens END
           FROM g JOIN r ON r.shard = g.shard AND r.rn = g.rn + 1)
         SELECT doc_id, n_tokens, shard, bin FROM g"""),

    // temperature-0.5 mixture sampling over the skewed lang strata
    // (en 218 / fr 64 at sf0.01): rare languages upsample, the overall
    // take lands near 50%
    Query("q73_mixture_sample", (s, d) =>
      TextAnalysis.mixtureSample(Tables.documents(s, d), col("lang"),
        col("doc_id"), targetFraction = 0.5)
        .select("doc_id", "lang"),
      // rates fold over the SORTED stratum array (bit-deterministic);
      // sqrt, not pow(x, 0.5) — only sqrt is IEEE-guaranteed identical
      {
      s"""WITH cnt AS (SELECT lang AS s, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY lang),
         a AS (SELECT list_sort(list(struct_pack(s := s, n := n))) AS arr FROM cnt),
         t AS (SELECT
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [sqrt(CAST(x.n AS DOUBLE)) for x in arr]), (p, q) -> p + q) AS sw,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             [x.n for x in arr]), (p, q) -> p + q) AS nt,
           unnest(arr) AS x FROM a),
         thr AS (SELECT x.s AS lang,
           CAST(floor(least(1.0, 0.5 * nt * sqrt(CAST(x.n AS DOUBLE)) /
             (sw * CAST(x.n AS DOUBLE))) * 10000) AS BIGINT) AS thr FROM t)
         SELECT d.doc_id, d.lang FROM documents d
         JOIN thr ON d.lang = thr.lang
         WHERE ${sqlHexLong("CAST(d.doc_id AS VARCHAR)")} % 10000 < thr.thr"""
    }),

    // overlapping token chunks (width 40, stride 30 — 10-token overlap):
    // the RAG/pretraining windowing pass, one row per chunk, pure narrow
    Query("q101_chunk_overlap", (s, d) =>
      TextAnalysis.chunkTokens(Tables.documents(s, d), "doc_id",
        col("text"), width = 40, stride = 30),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         n AS (SELECT doc_id, w, len(w) AS n FROM d WHERE len(w) > 0),
         e AS (SELECT doc_id, w, n,
               unnest(range(0, (n + 29) // 30)) AS i FROM n),
         c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
               CAST(i * 30 AS BIGINT) AS start_tok,
               list_slice(w, i * 30 + 1, least(i * 30 + 40, n)) AS cw
               FROM e)
         SELECT doc_id, chunk_idx, start_tok,
           CAST(len(cw) AS BIGINT) AS n_tokens,
           array_to_string(cw, ' ') AS chunk_text
         FROM c"""),

    // Gopher repetition rules (Rae et al. 2021 Table A1): duplicate /
    // top n-gram character fractions per doc for n = 2, 3 — the
    // repetition quality gate beyond q38's unigram stats. The corpus'
    // 31-token vocabulary makes duplicate bigrams (and some trigrams)
    // provably present, so both fractions fire.
    Query("q103_gopher_rep", (s, d) =>
      TextAnalysis.gopherRepetition(Tables.documents(s, d), "doc_id",
        col("text"), Seq(2, 3))
        .select(col("doc").as("doc_id"), col("n_chars"),
          col("top2gram_frac"), col("dup2gram_frac"),
          col("top3gram_frac"), col("dup3gram_frac")),
      // max over (count, len) structs is the same lexicographic order in
      // both engines — the deterministic "most frequent, longest on ties"
      // top pick without a second aggregation
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
           CAST(length(text) AS BIGINT) AS n_chars FROM documents),
         g2 AS (SELECT doc_id, unnest([array_to_string(w[i+1:i+2], ' ')
                for i in range(0, len(w) - 1)]) AS g
                FROM d WHERE len(w) >= 2),
         c2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c,
                CAST(length(g) AS BIGINT) AS l FROM g2 GROUP BY 1, 2),
         s2 AS (SELECT doc_id, max(struct_pack(c := c, l := l)) AS top,
                CAST(sum(CASE WHEN c > 1 THEN c * l ELSE 0 END) AS BIGINT)
                  AS dup FROM c2 GROUP BY 1),
         g3 AS (SELECT doc_id, unnest([array_to_string(w[i+1:i+3], ' ')
                for i in range(0, len(w) - 2)]) AS g
                FROM d WHERE len(w) >= 3),
         c3 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c,
                CAST(length(g) AS BIGINT) AS l FROM g3 GROUP BY 1, 2),
         s3 AS (SELECT doc_id, max(struct_pack(c := c, l := l)) AS top,
                CAST(sum(CASE WHEN c > 1 THEN c * l ELSE 0 END) AS BIGINT)
                  AS dup FROM c3 GROUP BY 1)
         SELECT d.doc_id, d.n_chars,
           round(CAST(coalesce((s2.top).c * (s2.top).l, 0) AS DOUBLE)
             / d.n_chars, 6) AS top2gram_frac,
           round(CAST(coalesce(s2.dup, 0) AS DOUBLE) / d.n_chars, 6)
             AS dup2gram_frac,
           round(CAST(coalesce((s3.top).c * (s3.top).l, 0) AS DOUBLE)
             / d.n_chars, 6) AS top3gram_frac,
           round(CAST(coalesce(s3.dup, 0) AS DOUBLE) / d.n_chars, 6)
             AS dup3gram_frac
         FROM d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)"""),

    // Flesch-Kincaid grade + reading ease over the period-spiked corpus
    // (q149's sentence spike): the classic surface-readability pair
    Query("q178_readability", (s, d) =>
      TextAnalysis.readability(Tables.documents(s, d), "doc_id",
        regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1. ")),
      // same vowel-group syllable heuristic, positive ratios under //,
      // constants subtracted after the divisions
      """WITH sp AS (SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1. ', 'g') AS tx
           FROM documents WHERE text IS NOT NULL),
         w AS (SELECT doc_id,
             [x for x in string_split(replace(tx, '.', ' '), ' ')
              if len(x) > 0] AS ws,
             greatest(1, len(regexp_extract_all(tx, '\.'))) AS n_sentences
           FROM sp),
         c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
             CAST(n_sentences AS BIGINT) AS n_sentences,
             CAST(list_sum([greatest(1,
               len(regexp_extract_all(x, '[aeiouy]+'))) for x in ws])
               AS BIGINT) AS n_syllables
           FROM w WHERE len(ws) > 0)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(390000 * n_words // n_sentences
             + 11800000 * n_syllables // n_words
             - 15590000 AS BIGINT) AS fk_grade_micro,
           CAST(206835000 - 1015000 * n_words // n_sentences
             - 84600000 * n_syllables // n_words AS BIGINT) AS ease_micro
         FROM c"""),

    // the training-shard writer composition — the actual deliverable of
    // a training-data pipeline: tokenize → q70 concat-pack →
    // deterministic shard-of-start assignment → per-shard manifest
    // (doc count, token count, id range, q86-style XOR content
    // checksum) that the oracle recomputes from the raw corpus
    Query("q200_shard_manifest", (s, d) =>
      Warehouse.trainingShardManifest(Tables.documents(s, d), "doc_id",
        col("text"), contextTokens = 512, shardTokens = 4096L),
      // q70's global-offset pack + shard-of-start + q86's XOR digest,
      // recomputed from the raw corpus
      {
      val h = sqlHexLong(
        "concat_ws('|', doc_id, n_tokens, start_offset, fp)")
      s"""WITH n AS (SELECT doc_id, md5(text) AS fp,
           CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT)
             AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, fp, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset FROM n),
         s AS (SELECT *, start_offset // 4096 AS shard_id FROM o)
         SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(bit_xor($h) AS BIGINT) AS xor_hash
         FROM s GROUP BY 1"""
    }),

    // TextTiling topic segmentation: lexical-cohesion valleys over
    // block gaps; doc_id%7 gets a second topic appended so a true
    // boundary exists — natural docs supply the no-boundary mass
    Query("q185_texttiling", (s, d) =>
      TextAnalysis.textTiling(Tables.documents(s, d), "doc_id",
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" " + Seq.fill(6)(
            "galaxy nebula quasar pulsar comet meteor orbit cosmos")
            .mkString(" "))))
          .otherwise(col("text")),
        blockSize = 8, windowBlocks = 2, minDepthMicro = 400000L),
      // same 1-based inclusive window slices, distinct-set Jaccard in
      // exact integers, ±peakSpan LOCAL peak windows for the depth score
      // (ROWS BETWEEN 3 PRECEDING/FOLLOWING — the full-span form overfires;
      // see TextAnalysis.textTiling scaladoc)
      {
      val topicB = Seq.fill(6)(
        "galaxy nebula quasar pulsar comet meteor orbit cosmos")
        .mkString(" ")
      s"""WITH sp AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' $topicB'
               ELSE text END AS tx
           FROM documents WHERE text IS NOT NULL),
         t AS (SELECT doc_id,
             [x for x in string_split(tx, ' ') if len(x) > 0] AS toks
           FROM sp),
         p AS (SELECT doc_id, toks,
             CAST((len(toks) + 7) // 8 - 1 AS INTEGER) AS ng FROM t),
         gp AS (SELECT doc_id, toks, ng,
             CAST(unnest(range(1, ng + 1)) AS INTEGER) AS g
           FROM p WHERE ng >= 1),
         wnd AS (SELECT doc_id, ng, g,
             list_distinct(toks[greatest(1, (g - 2) * 8 + 1):g * 8]) AS dl,
             list_distinct(toks[g * 8 + 1:least(g + 2, ng + 1) * 8]) AS dr
           FROM gp),
         sm AS (SELECT doc_id, ng, g,
             CAST(len(list_filter(dl, x -> list_contains(dr, x)))
               AS BIGINT) AS i,
             CAST(len(dl) AS BIGINT) AS a, CAST(len(dr) AS BIGINT) AS b
           FROM wnd),
         sv AS (SELECT doc_id, ng, g,
             i * 1000000 // (a + b - i) AS sim FROM sm),
         dp AS (SELECT doc_id, CAST(g AS BIGINT) AS gap,
             CAST(g * 8 AS BIGINT) AS pos_tokens, sim AS sim_micro,
             max(sim) OVER (PARTITION BY doc_id ORDER BY g
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             + max(sim) OVER (PARTITION BY doc_id ORDER BY g
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
             - 2 * sim AS depth_micro
           FROM sv)
         SELECT doc_id, gap, pos_tokens,
           CAST(sim_micro AS BIGINT) AS sim_micro,
           CAST(depth_micro AS BIGINT) AS depth_micro,
           depth_micro >= 400000 AS is_boundary
         FROM dp"""
    }),

    // mixed-script spoofing profile over a homoglyph-spiked corpus:
    // doc_id%11 gets Cyrillic look-alike 'a's, %13 a CJK spam run
    Query("q184_script_mix", (s, d) =>
      TextAnalysis.scriptProfile(
        Tables.documents(s, d).withColumn("text",
          when(col("doc_id") % 11 === 0,
            regexp_replace(col("text"), "a", "а"))
            .otherwise(col("text"))),
        "doc_id",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" 购买 现在")))
          .otherwise(col("text"))),
      // same explicit BMP ranges (RE2 accepts \x{...} classes), same
      // spikes, positive-mass micro ratio
      """WITH sp AS (SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN tx0 || ' 购买 现在'
               ELSE tx0 END AS tx
           FROM (SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN regexp_replace(text, 'a', 'а', 'g')
                 ELSE text END AS tx0
             FROM documents WHERE text IS NOT NULL)),
         c AS (SELECT doc_id, CAST(length(tx) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(tx, '[A-Za-z]')) AS BIGINT)
               AS n_latin,
             CAST(len(regexp_extract_all(tx, '[\x{0400}-\x{04FF}]'))
               AS BIGINT) AS n_cyrillic,
             CAST(len(regexp_extract_all(tx, '[\x{4E00}-\x{9FFF}]'))
               AS BIGINT) AS n_cjk,
             CAST(len(regexp_extract_all(tx, '[0-9]')) AS BIGINT)
               AS n_digit
           FROM sp WHERE length(tx) > 0)
         SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_digit,
           CAST((n_cyrillic + n_cjk) * 1000000 // n_chars AS BIGINT)
             AS foreign_micro,
           n_latin > 0 AND n_cyrillic + n_cjk >= 3 AS mixed
         FROM c"""),

    // Pareto frontier of the length-vs-lexical-diversity tradeoff:
    // the docs no other doc beats on BOTH n_tokens and type-token
    // ratio — every frontier row is an optimal curation operating point
    Query("q181_pareto", (s, d) =>
      Relational.paretoFrontier(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"),
            TextAnalysis.tokens(col("text")).as("__t"))
          .select(col("doc_id"), size(col("__t")).cast("long").as("n_toks"),
            size(array_distinct(col("__t"))).cast("long").as("n_dist"))
          .filter(col("n_toks") > 0L)
          .withColumn("ttr_micro", expr("n_dist * 1000000 div n_toks")),
        "doc_id", col("n_toks"), col("ttr_micro"), bucketWidth = 32L)
        .select(col("doc_id"), col("x").as("n_toks"),
          col("y").as("ttr_micro")),
      // the textbook NOT EXISTS dominance form (the bucket prefilter is
      // a pure optimization — removal provably preserves the frontier)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
         p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS x,
             CAST(CAST(len(list_distinct(w)) AS BIGINT) * 1000000
               // len(w) AS BIGINT) AS y
           FROM t WHERE len(w) > 0)
         SELECT d.doc_id, d.x AS n_toks, d.y AS ttr_micro FROM p d
         WHERE NOT EXISTS (SELECT 1 FROM p o
           WHERE o.x >= d.x AND o.y >= d.y
             AND (o.x > d.x OR o.y > d.y))"""),

    // train/val/test split assignment + leakage audit: content
    // fingerprints spanning more than one hash-assigned split
    Query("q120_split_leakage", (s, d) => {
      val split = when(pmod(Hashing.hexLong(col("doc_id")
          .cast(org.apache.spark.sql.types.StringType)), lit(100)) < 80, "train")
        .when(pmod(Hashing.hexLong(col("doc_id")
          .cast(org.apache.spark.sql.types.StringType)), lit(100)) < 90, "val")
        .otherwise("test")
      Tables.documents(s, d)
        // the leakage key is the 8-token opening prefix: exact-dup
        // bodies are rare in a curated corpus, shared boilerplate
        // openings are the thing that actually straddles splits.
        // NULL text must stay NULL: concat_ws over a null array yields
        // "" (so fp = md5("")), while the oracle's array_to_string over
        // a NULL split yields NULL — today's corpus has no null docs,
        // but the fingerprint must not silently diverge if a
        // re-materialization introduces them
        .select(when(col("text").isNotNull, md5(concat_ws(" ",
            slice(TextAnalysis.tokens(col("text")), 1, 8)))).as("fp"),
          split.as("split"), col("doc_id"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("split")).as("n_splits"),
          array_join(array_sort(collect_set(col("split"))), ",").as("splits"))
        .filter(col("n_splits") >= 2)
    },
      {
      val hex = sqlHexLong("CAST(doc_id AS VARCHAR)")
      s"""WITH s AS (SELECT doc_id,
           md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
           CASE WHEN $hex % 100 < 80 THEN 'train'
                WHEN $hex % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM documents)
         SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
         FROM s GROUP BY fp HAVING count(DISTINCT split) >= 2"""
    }),

    // padding-waste audit of length-bucketed batching: tokens lost to
    // padding per power-of-two sequence bucket
    Query("q123_padding_waste", (s, d) => {
      val n = size(TextAnalysis.tokens(col("text"))).cast(LongType)
      val bucket = when(n <= 16, 16L).when(n <= 32, 32L)
        .when(n <= 64, 64L).when(n <= 128, 128L).otherwise(-1L)
      Tables.documents(s, d)
        .select(n.as("__n"), bucket.as("seq_bucket"))
        .groupBy("seq_bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__n")).as("total_tokens"),
          sum(when(col("seq_bucket") > 0, col("seq_bucket") - col("__n"))
            .otherwise(0L)).as("total_padding"))
        .select(col("seq_bucket"), col("n_docs"), col("total_tokens"),
          col("total_padding"),
          when(col("seq_bucket") > 0,
            floor(col("total_padding").cast("double") /
              (col("n_docs") * col("seq_bucket")) * 1000000.0 + 0.5)
              .cast("double") / 1000000.0)
            .otherwise(lit(0.0)).as("padding_ratio"))
    },
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents),
         b AS (SELECT n, CAST(CASE WHEN n <= 16 THEN 16
             WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
             WHEN n <= 128 THEN 128
             ELSE -1 END AS BIGINT) AS seq_bucket FROM t)
         SELECT seq_bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN seq_bucket > 0 THEN seq_bucket - n ELSE 0 END)
             AS BIGINT) AS total_padding,
           CASE WHEN seq_bucket > 0 THEN
             CAST(floor(CAST(sum(CASE WHEN seq_bucket > 0 THEN seq_bucket - n
               ELSE 0 END) AS DOUBLE) / (count(*) * seq_bucket)
               * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
           ELSE CAST(0.0 AS DOUBLE) END AS padding_ratio
         FROM b GROUP BY seq_bucket"""),

    Query("q59_pii_redact", (s, d) => {
      val spiked = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" contact user@example.com"))
          .when(col("doc_id") % 11 === 0, lit(" see https://example.com/x"))
          .when(col("doc_id") % 13 === 0, lit(" ref 1234567890"))
          .otherwise(lit("")))
      wide(Tables.documents(s, d)).select(col("doc_id"),
        TextAnalysis.redactPii(spiked).as("redacted"),
        TextAnalysis.piiMatchCount(spiked).as("n_pii"))
    },
      {
      // regex constants embed verbatim: DuckDB single-quoted strings do
      // not process backslash escapes, so `\.` crosses unchanged
      val url = TextAnalysis.PiiUrlRe
      val email = TextAnalysis.PiiEmailRe
      val digits = TextAnalysis.PiiDigitsRe
      s"""WITH spiked AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 7 = 0 THEN ' contact user@example.com'
                WHEN doc_id % 11 = 0 THEN ' see https://example.com/x'
                WHEN doc_id % 13 = 0 THEN ' ref 1234567890'
                ELSE '' END AS text
         FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '$url', '<URL>', 'g'), '$email', '<EMAIL>', 'g'), '$digits', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '$url'))
              + len(regexp_extract_all(text, '$email'))
              + len(regexp_extract_all(text, '$digits')) AS BIGINT) AS n_pii
         FROM spiked"""
    })
  )
}
