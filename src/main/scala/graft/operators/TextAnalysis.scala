package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShims.{materialize, Claim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.Hashing

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All are
  * narrow (per-row) transformations built from codegen'd built-in
  * expressions — they scale embarrassingly: no shuffle, no state, pure
  * map over however many partitions the 100 TB scan produces.
  */
object TextAnalysis {

  /** Whitespace tokenization. Single-space split (matches DuckDB
    * `string_split(text, ' ')` for oracle parity; a production tokenizer
    * would split on `\\s+`). */
  def tokens(text: Column): Column = split(text, " ")

  /** Adjacent-bigram strings ("w1 w2") — the token stream the bigram-PMI
    * and count-min queries share. Empty/1-token docs yield an empty
    * array (mirrors the oracle's `range(1, len(w))` comprehension). */
  def bigrams(text: Column): Column = bigramsFromTokens(tokens(text))

  /** [[bigrams]] over a PRE-SPLIT token array — the hot-path form (the
    * [[chunksOfTokens]] contract: an inlined split re-runs per bigram
    * inside the window lambda). */
  def bigramsFromTokens(toks: Column): Column =
    transform(bigramsOf(toks),
      p => concat(p.getField("w1"), lit(" "), p.getField("w2")))

  /** BPE-ish subword token-count estimate: words plus an extra token per
    * 4 chars of long words (a cheap, deterministic proxy for byte-pair
    * merges — real BPE needs a vocab file). */
  def tokenCountEstimate(text: Column): Column = {
    val words = tokens(text)
    size(words).cast(LongType) +
      aggregate(words, lit(0L),
        (acc, w) => acc + greatest(lit(0L), floor((length(w) - 1) / 4)))
  }

  /** Quality-score features: length, token stats, stopword ratio,
    * alphabetic ratio — the usual cheap filters applied before expensive
    * dedup/training steps. Deterministic; each feature is SQL-expressible
    * for the oracle. */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val nTok = size(toks)
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val stopCount = aggregate(toks, lit(0),
      (acc, w) => acc + when(w.isin(stop: _*), 1).otherwise(0))
    df.withColumn("n_chars_m", length(text))
      .withColumn("n_tokens", nTok)
      .withColumn("avg_token_len",
        round((length(text) - nTok + 1).cast(DoubleType) / nTok, 4))
      .withColumn("stopword_ratio",
        round(stopCount.cast(DoubleType) / nTok, 4))
      .withColumn("quality_score",
        round(least(lit(1.0), nTok.cast(DoubleType) / 64) * 0.5
          + least(lit(1.0), stopCount.cast(DoubleType) / nTok * 5) * 0.5, 4))
  }

  /** Marker-word language ID: score each candidate language by the count
    * of its high-frequency function words, pick the argmax (ties broken by
    * language code order). An n-gram heuristic in the classic
    * stopword-profile style; deterministic and engine-portable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "pt" -> Seq("o", "a", "de", "que", "em"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    langMarkers.map { case (lang, markers) =>
      lang -> aggregate(toks, lit(0),
        (acc, w) => acc + when(w.isin(markers: _*), 1).otherwise(0))
    }
  }

  /** Predicted language: argmax of marker scores, `und` when all zero. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    // greatest(...) then first lang matching it, in fixed code order
    val best = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    // foldRight means earlier langs override later ones on ties
    pick
  }

  /** 128-bit content fingerprint (md5 of normalized text). */
  def fingerprint(text: Column): Column =
    Hashing.fingerprint(lower(trim(text)))

  /** Polynomial rolling hash over tokens, mod 2^31-ish so the arithmetic
    * never overflows a signed 64-bit intermediate in either engine
    * (DuckDB errors on BIGINT overflow; Spark wraps — keep both exact). */
  def rollingHash(text: Column): Column = {
    val M = 2147483647L // 2^31 - 1
    aggregate(tokens(text), lit(0L),
      (acc, w) => (acc * 31L + pmod(Hashing.hexLong(w), lit(M))) % M)
  }

  /** Content flags for curation filtering: email / URL / long-digit-run
    * detection via regexes kept simple enough to behave identically in
    * Java regex (Spark) and RE2 (DuckDB) — lowercase input, no
    * backreferences, explicit classes. Narrow per-row map, codegen'd. */
  def contentFlags(text: Column): Seq[(String, Column)] = {
    val lower_ = lower(text)
    Seq(
      "has_email" -> lower_.rlike("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"),
      "has_url" -> lower_.rlike("https?://[a-z0-9./_%+-]+"),
      "has_long_digits" -> lower_.rlike("[0-9]{8}")) // ids/phones/cards
  }

  /** C4-style blocklist hit (Raffel et al. 2020 §2.2: drop any page
    * containing a word from a fixed badword list; entries may be single
    * words or multi-word phrases). Whole-token semantics: a word entry
    * matches only a complete whitespace token, a phrase entry only an
    * adjacent token run — substring matches inside longer words do NOT
    * fire (the classic "classic" problem with naive contains).
    *
    * The list is a tiny static asset, so the test compiles to a literal
    * array-membership + padded-substring check inside the scan
    * projection: zero shuffle, zero state, no broadcast needed — the
    * 100 TB plan is a pure map over the scan, and a consuming query's
    * only exchange is its own aggregation. */
  def blocklistHit(text: Column, words: Seq[String],
      phrases: Seq[String]): Column = {
    require(words.nonEmpty || phrases.nonEmpty, "empty blocklist")
    val wordHit = words.headOption.map(_ =>
      arrays_overlap(tokens(text), typedLit(words)))
    // single-space-joined corpus: padding both sides turns token-run
    // adjacency into an exact substring test (mirrors the oracle's
    // contains(' ' || text || ' ', ' phrase '))
    val padded = concat(lit(" "), text, lit(" "))
    val phraseHits = phrases.map(p => padded.contains(lit(s" $p ")))
    (wordHit.toSeq ++ phraseHits).reduce(_ || _)
  }

  /** PII redaction patterns — explicit character classes only, so Java
    * regex (Spark) and RE2 (DuckDB) match identically: no lookaround, no
    * backreferences, no inline flags. */
  // the class includes @ : ? = & # ~ so userinfo (alice@host), ports,
  // and query strings are swallowed by the URL pass — without @ a
  // https://alice@bank.example/x would redact to '<URL>@bank.example/x'
  // and leak the host (and the email pass can't catch it: '>' precedes
  // the '@'). All chars are literal inside a class in BOTH Java regex
  // and RE2, so engine parity holds.
  val PiiUrlRe = "https?://[a-zA-Z0-9./_%+&?=#:@~-]+"
  val PiiEmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
  val PiiDigitsRe = "[0-9]{9,}"

  /** PII redaction for training-data curation: masks URLs, then emails,
    * then long digit runs (ids/phones/cards) with typed placeholders.
    * Order matters and is part of the contract — URLs can contain both
    * `@` and digit runs, so they are masked first; the replacement
    * tokens themselves match none of the later patterns. Pure narrow
    * codegen'd per-row map: three sequential `regexp_replace` passes, no
    * shuffle, no UDF — at 100 TB this runs in the scan stage. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiUrlRe, "<URL>"),
        PiiEmailRe, "<EMAIL>"),
      PiiDigitsRe, "<NUM>")

  /** Count of PII matches in `text` (pre-redaction, all three patterns).
    * Counted on the ORIGINAL text so the number reports what was there,
    * not what survived earlier passes. */
  def piiMatchCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(PiiUrlRe), lit(0))) +
      size(regexp_extract_all(text, lit(PiiEmailRe), lit(0))) +
      size(regexp_extract_all(text, lit(PiiDigitsRe), lit(0)))).cast(LongType)

  /** Repetition statistics (Gopher-style quality signals): distinct-token
    * ratio and the frequency share of the most common token. Shape:
    * explode → per-(doc, token) count (map-side combined) → per-doc
    * aggregate — two hash shuffles keyed by doc, no O(n²). */
  def repetitionStats(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val ex = df.select(col(idCol).as("doc"), explode(tokens(text)).as("tok"))
    ex.groupBy("doc", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_tok_count"))
      .select(col("doc"),
        col("n_tokens").cast(LongType).as("n_tokens"),
        round(col("n_distinct").cast(DoubleType) / col("n_tokens"), 6)
          .as("distinct_ratio"),
        round(col("top_tok_count").cast(DoubleType) / col("n_tokens"), 6)
          .as("top_token_share"))
  }

  /** Fixed-size token chunks with overlap — the standard LLM-ingest
    * windowing (context-length packing). Chunk i covers tokens
    * `[i*(size-overlap), i*(size-overlap)+size)`; the last chunk may be
    * shorter; texts shorter than one chunk yield themselves. Pure
    * per-row expression — chunking 100 TB is a narrow map followed by
    * whatever explode the caller does. */
  def chunks(text: Column, chunkTokens: Int, overlap: Int): Column =
    chunksOfTokens(tokens(text), chunkTokens, overlap)

  /** [[chunks]] over a PRE-SPLIT token array. Operators on a hot path
    * must project `tokens(text)` into a real column and pass it here:
    * the window builder is a `transform` lambda, and Spark does NOT
    * hoist loop-invariant subexpressions out of HOF lambdas — inlining
    * `tokens(text)` re-runs the split ONCE PER CHUNK (measured ~1 ms/doc
    * at 400 chunks on sf0.1 docs, the whole cost of q69's explode
    * stages). A column reference makes it one split per row.
    *
    * Null contract (engine parity — concat_ws would yield "" in Spark
    * but NULL in SQL engines' array_to_string): a null token array
    * (null text) yields one null chunk. */
  def chunksOfTokens(toks: Column, chunkTokens: Int, overlap: Int): Column = {
    require(chunkTokens > overlap && overlap >= 0,
      "need chunkTokens > overlap >= 0")
    val step = chunkTokens - overlap
    val nChunks = greatest(lit(1L),
      ceil((size(toks) - lit(overlap)).cast(DoubleType) / step).cast(LongType))
    val windows = transform(sequence(lit(0L), nChunks - 1),
      i => concat_ws(" ", slice(toks, (i * step + 1).cast("int"), lit(chunkTokens))))
    when(toks.isNull,
      array(lit(null).cast(org.apache.spark.sql.types.StringType)))
      .otherwise(windows)
  }

  /** Characters stripped by [[normalize]] — an explicit ASCII
    * punctuation set rather than a unicode category class, so the regex
    * means the same thing in every engine's dialect (java.util.regex
    * and RE2 disagree on some \\p{...} classes). */
  val NormalizeStrip = """[.,!?;:'"()\[\]{}]"""

  /** Canonicalize text before fingerprinting/dedup: lowercase, strip
    * punctuation ([[NormalizeStrip]]), collapse whitespace runs to one
    * space, trim. Pure per-row expression — narrow, codegen'd,
    * engine-portable. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), NormalizeStrip, ""),
      "\\s+", " "))

  /** Corpus-level vocabulary statistics — the input to tokenizer/BPE
    * training and stopword discovery: per distinct token, the total
    * occurrence count and the document frequency, truncated to the
    * top-k by count.
    *
    * Scale shape: explode tokens (narrow, in the scan tasks) → ONE hash
    * aggregate on the token keyed across the corpus — `count(*)` is
    * map-side combined, and the doc frequency uses the expand-based
    * distinct-count path (partial aggregation per (token, doc), then
    * merge), so the shuffle carries per-partition partials, never one
    * row per occurrence. Top-k is TakeOrderedAndProject — no global
    * sort. The total order (count desc, token asc) makes the truncation
    * deterministic and oracle-reproducible. */
  def vocabulary(df: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    val ex = Parallelism.ensure(df.select(col(idCol).as("__doc"), text.as("__t")))
      .select(col("__doc"), explode(tokens(col("__t"))).as("token"))
    ex.groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("__doc")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)
  }

  /** Per-(doc, token) TF-IDF weights — the classic retrieval/curation
    * scorer: `tf` is the in-document term count, idf the smoothed
    * `ln((N+1)/(df+1)) + 1` (every token keeps a positive weight, no
    * division by zero on unseen terms).
    *
    * Scale shape: explode → ONE hash aggregate on (doc, token) with
    * map-side combine; document frequency re-aggregates that result
    * (already one row per doc-token, so df = count per token); the
    * corpus size joins in as a broadcast 1-ROW aggregate — deriving N
    * from a driver-side `count()` would run an eager job at plan time
    * (the ivfKnn lesson).
    *
    * `broadcastVocab` guards the doc-frequency join hint: the df side is
    * one row PER DISTINCT TOKEN, so at web-corpus scale (100 TB, open
    * vocabulary: typos, code, URLs) it can exceed any broadcast limit.
    * `true` (default) forces the broadcast — right whenever the
    * vocabulary is known bounded (natural-language tokens, a tokenizer
    * vocab). `false` leaves the join unhinted: Catalyst/AQE picks
    * broadcast when the measured size allows and falls back to a shuffle
    * hash join on `token` when it doesn't — the safe corpus-scale
    * setting. Results are identical either way (spec-checked). */
  def tfIdf(df: DataFrame, idCol: String, text: Column,
      broadcastVocab: Boolean = true): DataFrame = {
    val ex = Parallelism.ensure(df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), explode(tokens(col("__t"))).as("token"))
    val tf = ex.groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("__n"))
    val idf = log((col("__n") + 1).cast(DoubleType) / (col("df") + 1)) + 1.0
    tf.join(if (broadcastVocab) broadcast(docFreq) else docFreq, "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc"), col("token"), col("tf"),
        round(idf, 6).as("idf"),
        round(col("tf") * idf, 6).as("tfidf"))
  }

  /** Inverted-index posting lists: the `topTokens` highest-occurrence
    * tokens, each with its total count, document frequency, and the
    * first `maxPostings` doc ids (ascending) that contain it — the
    * retrieval-index build step of a corpus pipeline.
    *
    * Scale shape: one (token, doc) hash aggregate with map-side combine,
    * then one per-token aggregate. The posting list is NOT a
    * `collect_list` (whose state for a stopword token is every doc id in
    * the corpus): it reuses [[graft.functions.TopKByScore]] with
    * score = -doc_id, so aggregation state is bounded at `maxPostings`
    * per token per partition no matter how hot the token. Final top-k by
    * occurrences plans as TakeOrderedAndProject. */
  def postingLists(df: DataFrame, idCol: String, text: Column,
      topTokens: Int = 100, maxPostings: Int = 20): DataFrame = {
    val ex = Parallelism.ensure(df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), explode(tokens(col("__t"))).as("token"))
    val perDoc = ex.groupBy("token", "doc").agg(count(lit(1)).as("c"))
    perDoc.groupBy("token")
      .agg(sum(col("c")).as("n_occurrences"),
        count(lit(1)).as("n_docs"),
        graft.functions.Native.topKByScore(
          (-col("doc")).cast(DoubleType), col("doc"), maxPostings).as("__tk"))
      .select(col("token"), col("n_occurrences"), col("n_docs"),
        transform(col("__tk"), p => p.getField("id")).as("postings"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(topTokens)
  }

  /** Top-k most-similar document pairs by sparse n-gram cosine over an
    * inverted-index join — the lexical twin of the dense-embedding
    * near-dup tier ([[Similarity]]), for corpora whose vectors are term
    * counts (vocab-dimensional, so dense kernels don't apply). Terms
    * are overlapping word `ngram`s counted WITH multiplicity (unigrams
    * are legal but degenerate on a small-vocabulary corpus — every
    * token is a stopword; n-grams carry the specificity, the same
    * reason MinHash shingles at k≥3).
    *
    * Determinism: term frequencies are exact longs, so the pair dot
    * product and the norm sums are order-independent integer sums; the
    * only doubles are one sqrt/division per output row (IEEE-exact on
    * integer inputs) rounded BEFORE the final ordering — no tolerance
    * anywhere, same contract as [[bm25]].
    *
    * Scale shape: the index keeps only terms with document frequency in
    * [2, maxDf] — df=1 terms cannot pair (dropping them is pure
    * pruning) and hotter terms have C(df,2) pair fan-out (the [[Dedup]]
    * `maxBucket` lesson: an uncapped hot term is a quadratic blowup;
    * the cap is part of the operator's DEFINITION — cosine in the
    * banded term space, identical docs still score 1.0 — and mirrors
    * in the oracle). Pair-table bound: the pre-aggregation self-join
    * emits Σ_banded-terms C(df_t, 2) ≤ |banded terms| · C(maxDf, 2)
    * rows, independent of corpus shape — a near-clique of D > maxDf
    * documents sharing a full term set contributes ZERO pair rows
    * (each shared term has df = D > maxDf and is pruned), so the
    * adversarial worst case for an inverted-index join cannot occur
    * (DedupSpec pins this with a 300-doc clique). The tf table is checkpointed hash-partitioned on
    * term ONCE, so the df aggregate, the band join, and BOTH sides of
    * the pair self-join are exchange-free on the pinned layout (the
    * banded index is checkpointed again with the layout claimed — it
    * feeds three consumers); the per-doc norm aggregate and the two
    * norm attaches move only index- and pair-sized data. Final top-k
    * is a bounded TakeOrdered, never a corpus sort. */
  def sparseCosinePairs(df: DataFrame, idCol: String, text: Column,
      ngram: Int = 3, maxDf: Int = 50, topK: Int = 50,
      broadcastNorms: Boolean = true): DataFrame = {
    require(ngram >= 1, "ngram must be >= 1")
    require(maxDf >= 2, "maxDf must be >= 2")
    require(topK > 0, "topK must be positive")
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // the exploded n-grams hash-repartition on term directly, so the tf
    // aggregate is exchange-free on that layout and the checkpoint
    // CLAIMS it — one wide shuffle instead of the former
    // groupBy-exchange + checkpoint-repartition pair
    val ex = Parallelism.ensure(df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), tokens(col("__t")).as("__toks"))
      .select(col("doc"),
        explode(ngramsOf(col("__toks"), ngram)).as("term"))
      .repartition(p, col("term"))
    val tf = materialize(ex.groupBy("term", "doc").agg(count(lit(1)).as("tf")),
      Claim(p, "term"))._1
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select("term")
    val kept = materialize(tf.join(dfc, "term"), Claim(p, "term"))._1
    // the norm table is one row per doc: broadcast-attach it by default
    // (un-hinted, Spark reads the checkpoint-derived aggregate as
    // unsized and plans two SortMergeJoins — measured at sf0.1, the two
    // pair-table exchanges+sorts were ~40% of the query's save job).
    // At a corpus scale where |docs| outgrows the driver, pass
    // broadcastNorms=false for the shuffle path — identical rows
    // (spec'd, the tfIdf broadcastVocab contract).
    val hint: DataFrame => DataFrame =
      if (broadcastNorms) broadcast(_) else identity
    val norms = kept.groupBy("doc").agg(sum(col("tf") * col("tf")).as("__n2"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.term") === col("b.term") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    pairs
      .join(hint(norms.select(col("doc").as("doc_a"), col("__n2").as("__na"))),
        "doc_a")
      .join(hint(norms.select(col("doc").as("doc_b"), col("__n2").as("__nb"))),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("dot"),
        round(col("dot").cast(DoubleType) /
          (sqrt(col("__na").cast(DoubleType)) *
            sqrt(col("__nb").cast(DoubleType))), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  /** Adjacent-token bigram statistics with pointwise mutual information —
    * the collocation/phrase-mining step of tokenizer and data-mixing
    * prep: `pmi(a,b) = ln(N · c_ab / (c_a · c_b))` over corpus counts,
    * keeping bigrams with `c_ab >= minCount`.
    *
    * Shape: ONE corpus explode → hash-agg on (token, successor-or-NULL)
    * (map-side combined), materialized once; unigram margins and the
    * corpus token total then re-aggregate that vocab²-bounded table
    * (c_a(w) = Σ_w2 T(w,·) — the NULL-successor unit makes the margin
    * exact for doc-final tokens) and join back per side — broadcast
    * when the vocabulary is bounded, shuffle otherwise (unhinted:
    * Catalyst/AQE decides, the tfIdf lesson). The ln is one
    * deterministic per-row evaluation — no cross-row double
    * accumulation, so oracle parity needs no fold-order care. */
  def bigramPmi(df: DataFrame, idCol: String, text: Column,
      minCount: Long = 2): DataFrame = {
    val toks = Parallelism.ensure(df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), tokens(col("__t")).as("__w"))
    val n = size(col("__w"))
    // ONE corpus pass feeds bigram counts AND both unigram margins: each
    // token occurrence emits (w1 = token, w2 = successor-or-NULL — the
    // doc-final token carries a NULL successor), so after the (w1, w2)
    // aggregate the unigram count of w is exactly Σ_w2 T(w, ·) and the
    // corpus token total is Σ T. The round-6 first cut aggregated
    // unigrams in a SECOND corpus pass referenced by three broadcast
    // subtrees — ReuseExchange does not fire across broadcast
    // boundaries, so the corpus explode replanned up to 4×.
    val units = transform(sequence(lit(1), n), i =>
      struct(element_at(col("__w"), i).as("w1"),
        when(i < n, element_at(col("__w"), i + 1))
          .otherwise(lit(null).cast("string")).as("w2")))
    // guard: sequence(1, 0) DESCENDS, so empty token arrays must
    // short-circuit (split never yields one, but the contract is free)
    val t = materialize(toks.select(explode(when(n >= 1, units)
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("__c")))._1
    val uni = t.groupBy("w1").agg(sum(col("__c")).as("c"))
    val total = uni.select(sum(col("c")).as("__n"))
    t.filter(col("w2").isNotNull && col("__c") >= minCount)
      .select(col("w1"), col("w2"), col("__c").as("c_ab"))
      .join(uni.select(col("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w1").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("__n").cast(DoubleType) * col("c_ab") /
          (col("c_a") * col("c_b"))), 6).as("pmi"))
  }

  /** Skip-gram PMI: collocation statistics over ordered token pairs
    * within a forward window of `window` positions — the word2vec-era
    * generalization of adjacent-bigram PMI ([[bigramPmi]] is the
    * `window = 1` special case with unigram margins). Margins are the
    * DIRECTIONAL pair margins (left-slot count, right-slot count) over
    * the unfiltered pair table, so PMI is contingency-consistent;
    * `minCount` prunes the output only, never the margins.
    *
    * Shape: pair generation is a per-row HOF (no self-join, no corpus
    * window) feeding ONE corpus-sized hash aggregation; margins and the
    * total re-aggregate the vocab²-bounded pair-count table and
    * broadcast back. The c_a·c_b long product mirrors [[bigramPmi]]'s
    * oracle arithmetic exactly (same operation order, same overflow
    * envelope). */
  def skipgramPmi(df: DataFrame, text: Column, window: Int,
      minCount: Long): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val toks = Parallelism.ensure(df.select(text.as("__t")))
      .select(tokens(col("__t")).as("__w"))
    val n = size(col("__w"))
    val pairStructs = flatten(transform(sequence(lit(1), n - 1), i =>
      transform(sequence(i + 1, least(i + window, n)), j =>
        struct(element_at(col("__w"), i).as("w1"),
          element_at(col("__w"), j).as("w2")))))
    // guard: Spark's sequence(a, b) DESCENDS when a > b, so empty and
    // one-token docs must short-circuit to an empty pair list
    // the pair-count table feeds FOUR consumers (both margins, the
    // total, and the output rows); materialize it once — without the
    // checkpoint each broadcast subtree replans the corpus explode +
    // aggregate from scratch (ReuseExchange does not fire across the
    // broadcast boundaries; measured 3 redundant corpus stages at
    // sf0.1). The checkpointed relation is vocab²-bounded, never
    // corpus-sized, and no layout contract is needed: every consumer
    // re-aggregates on a different key.
    val pairs = materialize(toks.select(explode(when(n >= 2, pairStructs)
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab")))._1
    val la = pairs.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val rb = pairs.groupBy(col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val tot = pairs.agg(sum(col("c_ab")).as("__n"))
    pairs.filter(col("c_ab") >= minCount)
      .join(broadcast(la), "w1").join(broadcast(rb), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("__n").cast(DoubleType) * col("c_ab") /
          (col("c_a") * col("c_b"))), 6).as("pmi"))
  }

  /** Vocabulary coverage curve: for each percentage threshold, how many
    * of the most frequent tokens are needed to cover that share of all
    * token occurrences — the statistic behind vocabulary-size /
    * tokenizer-budget decisions. Thresholds are integer percents and
    * the crossing test is `cum·100 ≥ t·total` in exact longs — no
    * doubles anywhere, so engine parity is trivial.
    *
    * Shape — histogram selection, NOT a vocabulary-wide ranking window
    * (the [[quantileByCount]] / [[packOffsets]] family): the token
    * counts collapse to a histogram of count LEVELS (`__c` → how many
    * tokens have that count), whose size is the number of DISTINCT
    * frequencies — O(√corpus) under Zipf, thousands where the
    * vocabulary is billions (URLs, code identifiers), so the one
    * unpartitioned window here ranks a provably tiny relation. The
    * threshold's crossing token is then located inside its level by
    * exact integer division: ranking ties (same count) break token-asc
    * and each tie contributes the same count, so
    * `j = ceil((t·total − 100·cum_before) / (100·c))` tokens of the
    * crossing level are needed — identical to `min(rn)` over a full
    * per-token ranking, with no per-token state anywhere. */
  def vocabCoverage(df: DataFrame, text: Column,
      thresholds: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0 && t <= 100))
    val uc = Parallelism.ensure(df.select(text.as("__t")))
      .select(explode(tokens(col("__t"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("__c"))
    // the level histogram: one row per distinct token frequency
    val levels = uc.groupBy(col("__c")).agg(count(lit(1)).as("__k"))
    val wLvl = Window.orderBy(col("__c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lv = levels
      .withColumn("__tok_before", coalesce(sum(col("__k")).over(wLvl), lit(0L)))
      .withColumn("__cum_before",
        coalesce(sum(col("__k") * col("__c")).over(wLvl), lit(0L)))
    val stats = levels.agg(sum(col("__k") * col("__c")).as("total_tokens"),
      sum(col("__k")).as("vocab_size"))
    lv.crossJoin(broadcast(stats))
      .select(explode(array(thresholds.map(t => lit(t.toLong)): _*))
        .as("threshold"), col("__c"), col("__k"),
        col("__tok_before"), col("__cum_before"),
        col("total_tokens"), col("vocab_size"))
      // the unique crossing level: coverage not yet reached before it,
      // reached by its end
      .filter(col("__cum_before") * 100L <
          col("threshold") * col("total_tokens") &&
        (col("__cum_before") + col("__k") * col("__c")) * 100L >=
          col("threshold") * col("total_tokens"))
      .select(col("threshold"),
        (col("__tok_before") +
          expr("(threshold * total_tokens - 100 * __cum_before" +
            " + 100 * __c - 1) div (100 * __c)")).as("tokens_needed"),
        col("vocab_size"), col("total_tokens"))
  }

  /** Character-level Shannon entropy per document (nats) — the cheap
    * gibberish/boilerplate detector that complements token-level quality
    * signals (random bytes score high, repeated padding scores low).
    *
    * Determinism contract: entropy is a SUM of `-p·ln p` terms whose
    * floating-point value depends on accumulation order, so the fold
    * runs over the per-doc character histogram SORTED BY CHARACTER —
    * both engines fold the identical sequence left-to-right
    * (`aggregate` here, `list_reduce` over a `list(... ORDER BY ...)`
    * in the oracle). A plain SUM() aggregate would be
    * partition-order-dependent and flap the hash compare.
    *
    * Shape: explode chars → (doc, char) hash agg (map-side combined) →
    * per-doc sorted histogram → one tiny in-row fold (alphabet-sized,
    * interpreted but ~dozens of elements). Two doc-keyed shuffles. */
  def charEntropy(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val ex = Parallelism.ensure(df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), explode(split(col("__t"), "")).as("ch"))
      // Spark's split keeps a trailing "" element (java split limit -1);
      // DuckDB's string_split('') does not — drop it on both sides
      .filter(col("ch") =!= "")
    val hist = ex.groupBy("doc", "ch").agg(count(lit(1)).as("n"))
      .groupBy("doc")
      .agg(array_sort(collect_list(struct(col("ch"), col("n")))).as("__h"),
        sum(col("n")).as("__t"))
    hist.select(col("doc"),
      col("__t").cast(LongType).as("n_chars"),
      round(aggregate(col("__h"), lit(0.0), (acc, s) => {
        val p = s.getField("n").cast(DoubleType) / col("__t")
        acc - p * log(p)
      }), 6).as("char_entropy"))
  }

  /** The shared sampling hash: key → [0, 10000). Both samplers MUST use
    * this same expression — the stratified sampler's "equal to the flat
    * sampler at the same rate" guarantee depends on it. */
  private def sampleHash(key: Column): Column =
    pmod(Hashing.hexLong(key.cast(org.apache.spark.sql.types.StringType)),
      lit(10000L))

  private def sampleThreshold(fraction: Double): Long = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction not in [0,1]")
    (fraction * 10000).toLong
  }

  /** Deterministic hash sampling for reproducible dataset mixing: keeps
    * a row iff `hexLong(key) % 10000 < fraction*10000`. Unlike
    * `df.sample`, the decision is a pure function of the key — stable
    * across runs, engines, partitionings, and retries, and expressible
    * in the oracle. */
  def deterministicSample(key: Column, fraction: Double): Column =
    sampleHash(key) < sampleThreshold(fraction)

  /** Weighted-sampling race key (Efraimidis–Spirakis A-ES,
    * exponential-race form): the global top-k rows by this score are a
    * weighted sample WITHOUT replacement — each row wins proportionally
    * to `weight`, with no corpus scan beyond the one that ranks
    * (compose with [[Relational.topKPerGroup]] for the bounded top-k).
    * Derandomized like every sampler here: `u = (hexLong(key) mod 2^40
    * + 1) / 2^40` is an EXACT dyadic rational in (0, 1] (the divisor is
    * a power of two, so the division is lossless), and the race key is
    * `ln(u)/weight` — an Exp(weight) variate negated, ranked DESC
    * (closer to 0 wins). `ln` is the one non-correctly-rounded step; it
    * already crosses engines bit-stably in the LM/BM25/entropy oracles.
    * A zero weight yields a NULL score (`try_divide` — ANSI `/` throws
    * on ANY zero divisor, doubles included) and the bounded top-k skips
    * NULL scores, so degenerate rows are never drawn. */
  def weightedSampleScore(key: Column, weight: Column): Column = {
    val m = 1099511627776L // 2^40
    try_divide(
      log((Hashing.hexLong(concat(lit("ws:"), key)) % m + 1L)
        .cast(DoubleType) / lit(m.toDouble)),
      weight.cast(DoubleType))
  }

  /** Stratified deterministic sampling for dataset mixing: the keep
    * decision is [[deterministicSample]]'s hash test, but the fraction
    * is looked up per stratum (e.g. per language — upsample rare
    * languages, downsample dominant ones). Strata not in `rates` fall
    * back to `defaultRate`. Same reproducibility contract: a pure
    * function of (key, stratum), stable across runs/engines/retries,
    * and a nested sample (all rates scaled down) is a subset. */
  def stratifiedSample(key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): Column = {
    val threshold = rates.foldLeft(lit(sampleThreshold(defaultRate))) {
      case (acc, (s, f)) => when(stratum === s, lit(sampleThreshold(f))).otherwise(acc)
    }
    sampleHash(key) < threshold
  }

  /** Concat-and-chunk sequence packing — the GPT-style pretraining
    * layout: all documents are laid end-to-end in `idCol` order into one
    * global token stream, which is cut every `contextTokens`; each
    * document gets its global start offset and the span of context
    * windows (chunks) it lands in. Documents are never reordered or
    * bin-packed — the packer is a pure offset computation, so the
    * output is a deterministic function of the corpus.
    *
    * Scale shape — the naive formulation is a global running sum, i.e.
    * an un-partitioned Window that drags the WHOLE corpus through one
    * task. This is the two-level form instead: token counts cumsum
    * WITHIN range shards of `shardSize` ids (parallel windows), shard
    * totals (one tiny row per shard) prefix-sum in a bounded window,
    * and the shard prefix re-attaches by broadcast — the same
    * mini-summary pattern as [[Temporal.sessionizeSalted]]. No stage
    * ever holds more than one shard of one window's state. */
  def packOffsets(df: DataFrame, idCol: String, text: Column,
      contextTokens: Int, shardSize: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc"),
      coalesce(size(tokens(text)).cast(LongType), lit(0L)).as("n_tokens"),
      floor(col(idCol) / shardSize).as("__shard"))
    val wLocal = Window.partitionBy(col("__shard")).orderBy(col("doc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn("__local_start",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    // one row per shard; the global prefix over them is a bounded
    // window (|shards| rows), never the corpus
    val wShard = Window.orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = base.groupBy("__shard")
      .agg(sum(col("n_tokens")).as("__shard_total"))
      .withColumn("__prefix",
        coalesce(sum(col("__shard_total")).over(wShard), lit(0L)))
      .select("__shard", "__prefix")
    local.join(broadcast(prefixes), Seq("__shard"))
      .withColumn("start_offset", col("__prefix") + col("__local_start"))
      // `div` not floor(a / b): offsets are exact longs and the double
      // division loses integer exactness past 2^53 cumulative tokens
      .withColumn("chunk_first", expr(s"start_offset div $contextTokens"))
      .withColumn("chunk_last",
        when(col("n_tokens") > 0,
          expr(s"(start_offset + n_tokens - 1) div $contextTokens"))
          .otherwise(expr(s"start_offset div $contextTokens")))
      .select(col("doc").as(idCol), col("n_tokens"), col("start_offset"),
        col("chunk_first"), col("chunk_last"),
        (col("chunk_last") - col("chunk_first") + 1).as("n_chunks"))
  }

  /** Overlapping token chunking — the RAG/pretraining windowing step
    * ([[packOffsets]] covers the disjoint-packing form; this is the
    * strided form retrieval corpora use): each document's token stream
    * is cut into windows of `width` tokens every `stride` tokens
    * (consecutive chunks share `width − stride` tokens when
    * stride < width), emitting one row per chunk with its index, start
    * offset, token count, and re-joined text. With stride ≤ width every
    * token position is covered and the last chunk may be short; a
    * stride > width is the SAMPLING variant — windows with deliberate
    * gaps — not full coverage.
    *
    * Shape: pure narrow — the window starts are an in-row `sequence`
    * posexploded against the one tokenization, the slices are in-row
    * `slice`/`concat_ws`. No shuffle, no per-doc state beyond the row,
    * arbitrarily parallel; row expansion is the output contract
    * (≈ n/stride chunks per doc), not an intermediate. Empty/NULL texts
    * yield no chunks. Tokenization happens ABOVE the widening exchange
    * ([[Parallelism.ensure]] takes the raw text) so a single-row-group
    * parquet source can't pin the tokenize+slice work to one task. */
  def chunkTokens(df: DataFrame, idCol: String, text: Column,
      width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1)
    val sz = org.apache.spark.sql.functions.size _
    val base = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), tokens(col("__t")).as("__w"))
      .select(col("doc"), col("__w"), sz(col("__w")).as("__n"))
      .filter(col("__n") > 0)
    val cw = slice(col("__w"), col("start_tok") + 1, lit(width))
    base
      .select(col("doc"), col("__w"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col("doc").as(idCol),
        col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("start_tok").cast(LongType).as("start_tok"),
        sz(cw).cast(LongType).as("n_tokens"),
        concat_ws(" ", cw).as("chunk_text"))
  }

  /** Temperature-based mixture sampling — the dataset-mixing step that
    * rebalances sources before training: stratum `s` is kept at a rate
    * proportional to `count(s)^temperature / count(s)`, so rare strata
    * are upsampled relative to dominant ones (temperature < 1 flattens
    * the mix; 1.0 is proportional; 0 is uniform-per-stratum), scaled so
    * the expected overall keep fraction is `targetFraction`. The keep
    * decision is [[deterministicSample]]'s pure hash test — stable
    * across runs, engines, partitionings, retries.
    *
    * Determinism at the bit level (the oracle hash-compares): per-stratum
    * rates are computed by folding over the stratum counts in SORTED
    * stratum order inside the plan (one tiny row: the distinct-stratum
    * array), never by a float aggregation whose partial-sum order the
    * scheduler picks. `temperature = 0.5` is spelled `sqrt`, which IEEE
    * requires correctly rounded in every engine — `pow(x, 0.5)` is not
    * so guaranteed and is reserved for the non-gated general case.
    *
    * Scale shape: one count aggregate (map-side combined), a one-row
    * fold, and a broadcast join of the per-stratum thresholds — the
    * corpus is scanned once and never shuffled. */
  def mixtureSample(df: DataFrame, stratum: Column, key: Column,
      targetFraction: Double, temperature: Double = 0.5): DataFrame = {
    require(targetFraction >= 0 && targetFraction <= 1,
      s"targetFraction $targetFraction not in [0,1]")
    def w(n: Column): Column =
      if (temperature == 0.5) sqrt(n.cast(DoubleType))
      else pow(n.cast(DoubleType), temperature)
    val arr = df.groupBy(stratum.as("__s")).agg(count(lit(1)).as("__n"))
      .agg(array_sort(collect_list(struct(col("__s"), col("__n"))))
        .as("__arr"))
    val thresholds = arr
      .select(col("__arr"),
        aggregate(col("__arr"), lit(0.0),
          (acc, x) => acc + w(x.getField("__n"))).as("__sw"),
        aggregate(col("__arr"), lit(0L),
          (acc, x) => acc + x.getField("__n")).as("__nt"))
      .select(explode(col("__arr")).as("__x"), col("__sw"), col("__nt"))
      // stratum keep-probability p_s = n^T / Σn^T; expected picks from s
      // = targetFraction · N · p_s; per-row rate = picks / n =
      // targetFraction · N · n^T / (Σn^T · n). (Spelling matters for the
      // oracle: the n^T/n factor is NOT reduced algebraically — the SQL
      // mirror computes the same ops in the same order.)
      .select(col("__x.__s").as("__stratum"),
        floor(least(lit(1.0),
          lit(targetFraction) * col("__nt") * w(col("__x.__n")) /
            (col("__sw") * col("__x.__n").cast(DoubleType))) * 10000)
          .cast(LongType).as("__thr"))
    // <=> not ===: a NULL stratum is a real group (it was counted into
    // the totals above); null-rejecting equality would silently drop
    // every NULL-stratum row while still deflating the other strata's
    // rates with the phantom group
    df.join(broadcast(thresholds), stratum <=> col("__stratum"))
      .filter(sampleHash(key) < col("__thr"))
      .drop("__stratum", "__thr")
  }

  /** Bigram language-model quality score — the KenLM-perplexity proxy of
    * a curation pipeline, self-trained on the corpus: each document
    * scores the mean log-probability of its adjacent-bigram transitions,
    * `avg(ln(c(w1 w2) / c_prefix(w1)))` with counts from the corpus
    * itself (every scored bigram therefore exists — no smoothing term
    * needed). Low scores flag improbable token sequences (garbled text,
    * wrong-language fragments); the score feeds quality cutoffs like
    * [[qualityFeatures]]'s.
    *
    * Determinism: per-document scores fold over the SORTED per-doc
    * log-probability list (the [[charEntropy]] pattern) — never a
    * scheduler-ordered float aggregation — so the result is
    * bit-reproducible and oracle-checkable at round(6).
    *
    * Scale shape: one bigram-count aggregate, a prefix-count aggregate
    * derived FROM the bigram table (no second corpus scan), and two
    * co-partitioned equi-joins on the bigram/prefix keys; per-doc state
    * is bounded by document length. */
  def bigramLmScore(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val grams = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), tokens(col("__t")).as("__toks"))
      .select(col("doc"), explode(bigramsOf(col("__toks"))).as("bg"))
      .select(col("doc"), col("bg.w1"), col("bg.w2"))
    val bgCounts = grams.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val prefCounts = bgCounts.groupBy("w1").agg(sum("__c12").as("__c1"))
    grams
      .join(bgCounts, Seq("w1", "w2"))
      .join(prefCounts, Seq("w1"))
      .select(col("doc"),
        log(col("__c12").cast(DoubleType) / col("__c1")).as("__lp"))
      .groupBy("doc")
      .agg(array_sort(collect_list(col("__lp"))).as("__lps"))
      .select(col("doc"),
        size(col("__lps")).cast(LongType).as("n_bigrams"),
        round(
          aggregate(col("__lps"), lit(0.0), (acc, x) => acc + x) /
            size(col("__lps")), 6).as("lm_score"))
  }

  /** Adjacent bigrams of a token array as `struct<w1, w2>` — empty for
    * texts shorter than two tokens. */
  private def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => struct(element_at(toks, i + 1).as("w1"),
          element_at(toks, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Greedy no-split bin packing — the SFT-style packer ([[packOffsets]]
    * is the pretraining one): documents are NOT split across context
    * windows; in `idCol` order, each doc joins the current bin unless it
    * would overflow `capacity` tokens, which closes the bin and opens
    * the next. A single doc larger than `capacity` gets a bin of its
    * own. Emits `(id, n_tokens, shard, bin)` — `bin` numbering is per
    * shard, so the packing is embarrassingly parallel BY CONSTRUCTION:
    * greedy state never crosses a range shard of `shardSize` ids, the
    * documented trade (bins at shard boundaries may be under-full by
    * one doc's worth) that makes 100 TB packing a per-shard sequential
    * scan instead of a global one.
    *
    * Implementation is the honest shape for a stateful sequential scan
    * Catalyst cannot express: repartition by shard, sort each partition
    * by (shard, id), and run the greedy fold in `mapPartitions` —
    * constant memory, one pass, state reset on shard change. This is
    * the documented last-resort tier (same as the multimodal codec
    * seam): no window, aggregate, or join computes reset-on-overflow
    * running sums. */
  def packGreedy(df: DataFrame, idCol: String, text: Column,
      capacity: Int, shardSize: Long = 100000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast(LongType).as("id"),
      coalesce(size(tokens(text)).cast(LongType), lit(0L)).as("n_tokens"),
      floor(col(idCol) / shardSize).cast(LongType).as("shard"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .as[(Long, Long, Long)]
    base.mapPartitions { it =>
      var shard = Long.MinValue
      var bin = 0L
      var fill = 0L
      it.map { case (id, n, sh) =>
        if (sh != shard) { shard = sh; bin = 0L; fill = 0L }
        if (fill > 0L && fill + n > capacity) { bin += 1L; fill = 0L }
        fill += n
        (id, n, sh, bin)
      }
    }.toDF("id", "n_tokens", "shard", "bin")
      .withColumnRenamed("id", idCol)
  }

  /** BM25 lexical relevance of each document against a term set —
    * [[graft.operators.Similarity.rrfFusion]]'s raw-overlap leg upgraded
    * to the standard probabilistic ranking (Robertson/Lucene form):
    * `Σ_t ln((N − df + 0.5)/(df + 0.5) + 1) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl))`. Docs sharing no term are absent.
    *
    * Determinism contract for cross-engine parity: corpus stats ride a
    * broadcast 1-row aggregate (avgdl is exact — doc lengths are
    * integer-valued doubles, so the sum is associative); the per-doc
    * sum folds the (term, score) list TERM-SORTED (the q74 pattern —
    * an unordered SUM would drift in the last bits with shuffle
    * order); the fold seeds at +0.0 and rounds once at the end.
    *
    * Shape: the explode keeps ONLY query terms (the filter lands
    * before the per-term aggregate, so the shuffle carries matches,
    * not the corpus vocabulary), df/stats broadcast back, and the
    * final ranking is the bounded two-phase top-k — no corpus-wide
    * window anywhere. */
  def bm25(df: DataFrame, idCol: String, text: Column,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      kOut: Int = 20): DataFrame = {
    val base = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      // NULL-text docs carry no length and can never match a term: drop
      // them BEFORE the stats so __N and __avgdl describe the same
      // corpus (count(*) would include them while avg skips them)
      .filter(col("__t").isNotNull)
      .select(col("doc"), tokens(col("__t")).as("__w"))
      .select(col("doc"), col("__w"),
        size(col("__w")).cast(DoubleType).as("__dl"))
    val stats = base.agg(count(lit(1)).cast(DoubleType).as("__N"),
      avg(col("__dl")).as("__avgdl"))
    val tf = base
      .select(col("doc"), col("__dl"), explode(col("__w")).as("__term"))
      .filter(col("__term").isin(queryTerms: _*))
      .groupBy("doc", "__term", "__dl")
      .agg(count(lit(1)).cast(DoubleType).as("__tf"))
    val dfreq = tf.groupBy("__term")
      .agg(count(lit(1)).cast(DoubleType).as("__df"))
    // every constant a literal and every operator in source order, so
    // the oracle SQL reproduces the float chain token for token
    val idf = log((col("__N") - col("__df") + lit(0.5)) /
      (col("__df") + lit(0.5)) + lit(1.0))
    val tfNorm = col("__tf") * (lit(k1) + lit(1.0)) /
      (col("__tf") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl")))
    val scored = tf.join(broadcast(dfreq), Seq("__term"))
      .crossJoin(broadcast(stats))
      .select(col("doc"), col("__term"), (idf * tfNorm).as("__s"))
    val perDoc = scored.groupBy("doc")
      .agg(array_sort(collect_list(struct(col("__term"), col("__s"))))
        .as("__ts"))
      .select(col("doc"),
        round(aggregate(col("__ts"), lit(0.0),
          (acc, x) => acc + x.getField("__s")), 6).as("__score"))
    Relational.topKPerGroup(perDoc.withColumn("__g", lit(0L)), Seq("__g"),
        col("__score"), col("doc"), kOut)
      .select(col("id").as("doc_id"), col("score").as("bm25"),
        col("rank").cast(LongType).as("bm25_rank"))
  }

  /** Word k-shingles (distinct), the MinHash input unit. Texts shorter
    * than k tokens contribute one whole-text shingle (sequence() would
    * otherwise run backwards on a negative length). */
  def shingles(text: Column, k: Int): Column =
    shinglesOfTokens(tokens(text), k)

  /** [[shingles]] over a PRE-SPLIT token array — same contract as
    * [[chunksOfTokens]]: hot paths must project `tokens(text)` into a
    * real column first, because the window lambda re-evaluates an
    * inlined split once per shingle (no loop-invariant hoisting in HOF
    * lambdas). */
  def shinglesOfTokens(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Overlapping word n-gram strings ("w1 … wn") of the given order —
    * the Gopher-repetition unit. Docs shorter than n tokens yield an
    * empty array (no n-gram exists; sequence() would run backwards). */
  private def ngramsOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Gopher-style repetition quality signals (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", Table A1): per document and
    * n-gram order, the fraction of characters covered by (a) the most
    * frequent n-gram and (b) all n-grams occurring more than once.
    * Coverage uses the standard occurrences×len(gram) approximation
    * (overlaps double-counted, as in the public reproductions), over
    * the doc's total char count.
    *
    * Ties for "most frequent" break by LONGEST gram (max chars at the
    * top count) — a by-value rule both engines can state exactly, where
    * arg-max-by-count would be nondeterministic under ties.
    *
    * Shape: ALL orders ride ONE explode into one (doc, order, gram)
    * hash aggregate with map-side combine — the [[repetitionStats]]
    * shape, a single shuffle for the whole statistic family (per-order
    * passes would pay the corpus scan + shuffle once per n). The
    * per-doc rollup picks each order's top by conditional struct max
    * and its dup mass by conditional sum — one more tiny aggregate, no
    * windows, no driver state. Docs with no n-gram of an order (fewer
    * than n tokens) report 0.0. */
  def gopherRepetition(df: DataFrame, idCol: String, text: Column,
      orders: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(orders.nonEmpty && orders.forall(_ >= 2), "orders must be >= 2")
    val base = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), tokens(col("__t")).as("__toks"),
        length(col("__t")).cast(LongType).as("n_chars"))
    val docs = base.select(col("doc"), col("n_chars"))
    val tagged = concat(orders.map(n =>
      transform(ngramsOf(col("__toks"), n),
        g => struct(lit(n).as("n"), g.as("g")))): _*)
    val gc = base
      .select(col("doc"), explode(tagged).as("__ng"))
      .groupBy(col("doc"), col("__ng.n").as("__n"), col("__ng.g").as("__g"))
      .agg(count(lit(1)).as("__c"))
      .select(col("doc"), col("__n"), col("__c"),
        length(col("__g")).cast(LongType).as("__len"))
    // single-pass top pick per order: max over (count, len) structs is
    // the lexicographic order BOTH engines define (the tie rule costs no
    // second aggregation); max/sum ignore the other orders' NULLs
    val aggs = orders.flatMap(n => Seq(
      max(when(col("__n") === n, struct(col("__c"), col("__len"))))
        .as(s"__top$n"),
      sum(when(col("__n") === n && col("__c") > 1,
        col("__c") * col("__len")).otherwise(0L)).as(s"__dup$n")))
    val stats = gc.groupBy("doc").agg(aggs.head, aggs.tail: _*)
    docs.join(stats, Seq("doc"), "left")
      .select(Seq(col("doc"), col("n_chars")) ++ orders.flatMap(n => Seq(
        round(coalesce(col(s"__top$n.__c") * col(s"__top$n.__len"), lit(0L))
          .cast(DoubleType) / col("n_chars"), 6).as(s"top${n}gram_frac"),
        round(coalesce(col(s"__dup$n"), lit(0L))
          .cast(DoubleType) / col("n_chars"), 6).as(s"dup${n}gram_frac"))): _*)
  }

  /** Word2vec-style negative-sampling weight table: every token's
    * unigram-count^0.75 draw weight (Mikolov et al. 2013 §2.2 — the
    * smoothing that keeps frequent tokens from dominating the negative
    * draw), scaled to exact integer milli-units so the corpus-wide
    * normalizer is an order-independent integer sum — a double weight
    * sum would depend on partial-aggregation order and break the hash
    * gate. c^0.75 is computed as sqrt(c·sqrt(c)): IEEE sqrt is
    * correctly-rounded in every engine, `pow` is not (the q73 lesson).
    *
    * Shape: one token hash aggregate, a 1-row broadcast total, a
    * bounded TakeOrdered for the top slice — no windows, no driver
    * state. */
  def negativeSamplingWeights(df: DataFrame, text: Column,
      topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val uc = Parallelism.ensure(df.select(text.as("__t")))
      .select(explode(tokens(col("__t"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
    val c = col("n_occurrences").cast(DoubleType)
    val weighted = uc.withColumn("weight_units",
      floor(sqrt(c * sqrt(c)) * 1000.0).cast(LongType))
    val tot = weighted.agg(sum(col("weight_units")).as("__tw"))
    weighted.crossJoin(broadcast(tot))
      .select(col("token"), col("n_occurrences"), col("weight_units"),
        round(col("weight_units").cast(DoubleType) / col("__tw"), 6)
          .as("sample_share"))
      .orderBy(col("n_occurrences").desc, col("token")).limit(topK)
  }

  /** Jensen–Shannon divergence between the token distributions of every
    * pair of corpus slices (sources) — the drift/contamination statistic
    * behind mixture re-weighting decisions. Distributions are restricted
    * to the global top-`vocabTop` tokens (count desc, token asc — fully
    * deterministic) and renormalized within that support, which bounds
    * every downstream relation by vocabTop regardless of corpus size.
    *
    * JSD(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = ½(P+Q), natural log; a token
    * absent from one side contributes only through the present side
    * (p·ln(p/m) with q=0). Per-pair terms fold over the token-sorted
    * vocabulary array — the [[bigramLmScore]] determinism pattern — so
    * the double sum has one order in any engine at any parallelism.
    * (A token absent from BOTH sides of a pair folds in an exact +0.0,
    * which leaves every finite double accumulator bit-identical — so
    * folding the full vocabulary equals folding each pair's support
    * set, and the pre-round-6 union-expand oracle still matches.)
    *
    * Shape — ONE linear job, no self-join, no checkpoint (the round-7
    * rewrite; the previous expand-and-merge plan spent ~1 s of stage
    * scheduling on statistics-sized relations): the corpus collapses to
    * per-token rows carrying their (source, count) entry lists, a
    * bounded TakeOrdered keeps the top-`vocabTop` of them, those K rows
    * collapse to a SINGLE array row, and the native
    * [[graft.functions.SourceJsdPairs]] generator folds all S²/2
    * pairwise divergences from it in one primitive loop (a column-HOF
    * pair fold here re-paid ~270 ms of codegen on every execution —
    * fresh lambda ids defeat the codegen cache). The only corpus-sized
    * stages are the token explode and its (src, tok) aggregate;
    * everything after the top-K limit is a few KB on one task. */
  def sourceJsd(df: DataFrame, sliceCol: String, text: Column,
      vocabTop: Int): DataFrame = {
    require(vocabTop > 0, "vocabTop must be positive")
    val st = Parallelism.ensure(
      df.select(col(sliceCol).as("src"), text.as("__t")))
      .select(col("src"), explode(tokens(col("__t"))).as("tok"))
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("__c"))
    // per-token entry lists; top-K by global count (count desc, token
    // asc) via TakeOrdered — never a vocabulary-wide window
    val byTok = st.groupBy("tok").agg(sum(col("__c")).as("__tc"),
        sort_array(collect_list(struct(col("src"), col("__c").as("c"))))
          .as("__es"))
      .orderBy(col("__tc").desc, col("tok")).limit(vocabTop)
    // ONE row: the whole top-K vocabulary, token-ascending (the fold
    // order the oracle reproduces)
    byTok.agg(
        sort_array(collect_list(struct(col("tok"), col("__es")))).as("__v"))
      .select(graft.functions.Native.sourceJsdPairs(col("__v"))
        .as(Seq("source_a", "source_b", "n_tokens_support", "jsd")))
  }

  /** First-round BPE merge statistics: corpus counts of adjacent
    * CHARACTER pairs inside words — exactly the quantity byte-pair-
    * encoding training maximizes per merge round (Sennrich 2016 §3:
    * count symbol pairs over the word-frequency vocabulary, merge the
    * most frequent). One round, run on plain characters, is the honest
    * dependency-free slice of tokenizer training: the engine-shaped
    * part (vocabulary aggregate, pair expansion, weighted count) is the
    * part that matters at corpus scale — iterating merges re-runs the
    * same plan over a rewritten vocabulary.
    *
    * Shape: token explode → vocabulary hash-aggregate (corpus-sized
    * input, vocab-sized output, map-side combined) → per-word pair
    * expansion via `substring(word, i, 2)` (vocab × word-length rows —
    * bounded by the VOCABULARY, not the corpus: a word's pairs are
    * counted once and weighted by its frequency) → pair hash-aggregate
    * → bounded top-k. Pair counts credit every occurrence WITH
    * multiplicity inside the word ("aaa" contributes "aa" twice per
    * occurrence), the BPE contract. Words shorter than 2 chars have no
    * pair — filtered BEFORE the expansion: Spark's `sequence(1, 0)`
    * runs BACKWARDS (step -1), which would mint phantom pairs. */
  def bpePairStats(df: DataFrame, text: Column, topK: Int = 50): DataFrame = {
    require(topK > 0, "topK must be positive")
    val vocab = Parallelism.ensure(df.select(text.as("__t")))
      .select(explode(tokens(col("__t"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    vocab
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(topK)
  }

  /** Multi-round BPE merge training (Sennrich 2016 §3, public): the
    * iterative completion of [[bpePairStats]] — run `nMerges` greedy
    * rounds, each counting adjacent symbol pairs over the
    * word-frequency vocabulary (weighted by word count, with
    * multiplicity), merging the most frequent pair corpus-wide
    * (tie-break: count desc, then (sym_a, sym_b) ascending — fully
    * deterministic), and rewriting every word's symbol sequence with a
    * greedy LEFT-TO-RIGHT non-overlapping fold ("aaa" + merge (a,a) →
    * ["aa","a"], the reference implementation's scan order). Returns
    * the learned merge table `(round, sym_a, sym_b, n_occurrences)` —
    * the artifact a BPE tokenizer ships.
    *
    * Shape (the CC/PageRank iterative contract): the corpus is
    * touched ONCE — the word-frequency vocabulary aggregate — and
    * every round runs over the VOCAB-bounded symbol table: pair
    * explode (vocab × word length), pair hash-aggregate, a bounded
    * `orderBy.limit(1)` argmax, then a narrow per-row rewrite fold
    * into a fresh eager checkpoint (lineage would otherwise stack one
    * fold per round). The one `.collect()` moves exactly ONE row per
    * round to the driver (the chosen pair — the merge decision every
    * executor must agree on next round; same bounded-driver-state
    * class as the IVF probe list). Rounds stop early when no pair
    * remains (every word fully merged). */
  def bpeTrain(df: DataFrame, text: Column, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "need at least one merge round")
    val spark = df.sparkSession
    val vocab0 = Parallelism.ensure(df.select(text.as("__t")))
      .select(explode(tokens(col("__t"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    val (merges, _) = bpeMergeLoop(vocab0, nMerges)
    import spark.implicits._
    merges.toDF("round", "sym_a", "sym_b", "n_occurrences")
      .select(col("round").cast(LongType), col("sym_a"), col("sym_b"),
        col("n_occurrences"))
  }

  /** The shared merge loop: takes a `(word, wc)` vocabulary, runs the
    * greedy rounds, returns the learned merges AND the final
    * `(word, syms, wc)` symbolized vocabulary (what [[bpeSubwordStats]]
    * encodes against). */
  private def bpeMergeLoop(vocab0: DataFrame, nMerges: Int):
      (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = materialize(vocab0
      .select(col("word"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"), col("wc")))._1
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] as a, syms[i + 1] as b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((round, a, b, n))
        val merged = a + b
        vocab = materialize(vocab.select(col("word"),
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, s) => when(size(acc) > 0 &&
                element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
              .otherwise(concat(acc, array(s)))).as("syms"),
          col("wc")))._1
        round += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** BPE tokenization statistics — the APPLICATION half of [[bpeTrain]]
    * and the standard tokenizer-quality metric (fertility = subword
    * tokens per word, Rust et al. 2021, public): train `nMerges`
    * merges on the corpus's own vocabulary, encode every word with
    * them, and report per-document word/subword counts and the exact
    * integer fertility ratio.
    *
    * Shape: ONE corpus pass into a checkpointed `(doc, word, n)`
    * occurrence table; the vocabulary (and the whole merge loop) runs
    * over its word-level projection, so each distinct word is encoded
    * ONCE no matter how often it occurs; the per-doc roll-up is an
    * unhinted join of the occurrence table against the vocab-bounded
    * `(word, n_subwords)` encoding and one aggregate. */
  def bpeSubwordStats(df: DataFrame, idCol: String, text: Column,
      nMerges: Int = 8): DataFrame = {
    require(nMerges >= 1, "need at least one merge round")
    val docWord = materialize(Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), explode(tokens(col("__t"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("doc", "word").agg(count(lit(1)).as("n")))._1
    val vocab0 = docWord.groupBy("word").agg(sum(col("n")).as("wc"))
    val (_, encoded) = bpeMergeLoop(vocab0, nMerges)
    docWord
      .join(encoded.select(col("word"),
        size(col("syms")).cast(LongType).as("__ns")), "word")
      .groupBy("doc")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("__ns")).as("n_subwords"))
      .withColumn("fertility_micro",
        expr("n_subwords * 1000000 div n_words"))
  }

  /** Contrastive span-pair sampling (Contriever's independent cropping
    * — Izacard et al. 2021 §4.1, public): every sufficiently long
    * document yields TWO independently cropped token spans, the
    * positive pair for unsupervised dense-retriever pretraining.
    * Sampling is hash-derandomized (the q40/q90/q133 determinism
    * contract): span lengths and starts draw on DISJOINT bit ranges of
    * one md5 per doc (shifts, not divisions), so the same doc always
    * crops the same way, on any engine. Spans may overlap — Contriever
    * explicitly permits it. Docs with fewer than `minTokens` tokens
    * (≥ `minLen + lenSpread - 1`, so every start modulus is positive)
    * are dropped.
    *
    * Shape: pure per-row map — token array projected ONCE (the
    * HOF-hoisting contract), no shuffle, no state. */
  def contrastiveSpanPairs(df: DataFrame, idCol: String, text: Column,
      minTokens: Int = 8, minLen: Int = 3, lenSpread: Int = 4): DataFrame = {
    require(minLen >= 1 && lenSpread >= 1, "degenerate crop params")
    require(minTokens >= minLen + lenSpread - 1,
      "minTokens must cover the longest crop")
    val toks = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t"))
        .filter(text.isNotNull))
      .withColumn("__w", tokens(col("__t")))
      .filter(size(col("__w")) >= minTokens)
    val h = Hashing.hexLong(concat(col("doc").cast("string"), lit("#crop")))
    def len(shift: Int): Column =
      lit(minLen.toLong) + pmod(shiftright(h, shift), lit(lenSpread.toLong))
    def start(shift: Int, lenCol: Column): Column =
      pmod(shiftright(h, shift),
        size(col("__w")).cast(LongType) - lenCol + 1L)
    def span(startCol: Column, lenCol: Column): Column =
      concat_ws(" ", slice(col("__w"), (startCol + 1L).cast("int"),
        lenCol.cast("int")))
    toks
      .withColumn("a_len", len(8))
      .withColumn("a_start", start(16, col("a_len")))
      .withColumn("b_len", len(24))
      .withColumn("b_start", start(32, col("b_len")))
      .select(col("doc"),
        col("a_start"), col("a_len"), span(col("a_start"), col("a_len")).as("span_a"),
        col("b_start"), col("b_len"), span(col("b_start"), col("b_len")).as("span_b"))
  }

  /** Temperature-flattened mixture allocation with water-filling
    * (the multilingual/multi-source sampling budgeter — mT5's
    * α = 0.5 temperature, Xue et al. 2021 §3.3, public): split a
    * token budget across sources in proportion to √capacity, but a
    * source cannot contribute more tokens than it HAS — its excess
    * re-distributes among the others (water-filling), recursively,
    * in closed form: sources sort by the saturation ratio
    * `r_s = cap_s / √cap_s`, and the unique water level λ solves
    * `Σ min(cap_s, λ·w_s) = B` on the one sorted interval where it is
    * consistent. √ (not a general power) because IEEE `sqrt` is
    * correctly rounded on every engine — `pow(x, 0.5)` is not, and
    * the oracle match depends on it.
    *
    * Output: one row per source — `(source, cap_tokens, alloc_tokens,
    * capped)`; allocations floor to exact longs, so Σ alloc ≤ B with
    * at most |sources| tokens of rounding slack. When total capacity
    * fits the budget every source is simply taken whole.
    *
    * Shape: one corpus aggregate to the |sources|-row capacity table;
    * everything after is windows over that statistics-sized table and
    * a one-row broadcast back. */
  def mixtureWaterfill(df: DataFrame, groupCol: String, nToks: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0L, "budget must be positive")
    val caps = df.groupBy(col(groupCol).as("source"))
      .agg(sum(nToks.cast(LongType)).as("cap_tokens"))
      .withColumn("__w", sqrt(col("cap_tokens").cast(DoubleType)))
      .withColumn("__r", col("cap_tokens").cast(DoubleType) / col("__w"))
    val ord = Window.orderBy(col("__r"), col("source"))
    val rows = caps
      .withColumn("__prefC", coalesce(sum(col("cap_tokens")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__sufW", sum(col("__w")).over(
        ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("__prevR", lag(col("__r"), 1).over(ord))
      .withColumn("__lam",
        (lit(budgetTokens.toDouble) - col("__prefC").cast(DoubleType)) /
          col("__sufW"))
      .withColumn("__valid",
        col("__lam") <= col("__r") &&
          coalesce(col("__lam") >= col("__prevR"), lit(true)))
    val level = broadcast(rows.agg(
      max(when(col("__valid"), col("__lam"))).as("__lamStar"),
      sum(col("cap_tokens")).as("__total")))
    rows.crossJoin(level)
      .select(col("source"), col("cap_tokens"),
        when(col("__total") <= budgetTokens, col("cap_tokens"))
          .when(col("__r") <= col("__lamStar"), col("cap_tokens"))
          .otherwise(floor(col("__lamStar") * col("__w")).cast(LongType))
          .as("alloc_tokens"),
        (col("__total") <= budgetTokens || col("__r") <= col("__lamStar"))
          .as("capped"))
  }

  /** Classifier calibration curve (the reliability diagram as data —
    * Niculescu-Mizil & Caruana 2005, public): bucket scored documents
    * into `nBins` equal-population score bins and report each bin's
    * positive rate — the table that says whether a quality filter's
    * score MEANS anything (monotone pos_rate ⇒ usable threshold;
    * flat ⇒ the filter is noise). Bins cut by `ntile` over
    * (score, id) — the id tie-break makes equal scores split
    * deterministically, cross-engine.
    *
    * Shape: the ntile window runs over DOC-LEVEL rows (one per scored
    * doc — the statistics-sized class, q121/q132's bound), then one
    * `nBins`-row aggregate. Rates cross as exact integers. */
  def calibrationCurve(df: DataFrame, idCol: String, score: Column,
      isPositive: Column, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "need at least two bins")
    val binned = df.select(col(idCol).as("__id"), score.as("__s"),
        isPositive.as("__p"))
      .filter(col("__s").isNotNull)
      .withColumn("bin", ntile(nBins).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__s"), col("__id"))))
    binned.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__p"), 1L).otherwise(0L)).as("n_pos"),
        min(col("__s")).as("min_score"),
        max(col("__s")).as("max_score"))
      .select(col("bin").cast(LongType).as("bin"), col("n"), col("n_pos"),
        col("min_score"), col("max_score"),
        expr("n_pos * 1000000 div n").as("pos_rate_micro"))
  }

  /** Zipf-law fit of the corpus frequency distribution (Zipf 1949,
    * public; the standard sanity probe on a training corpus — natural
    * text sits near slope −1, and a drifted slope flags boilerplate
    * floods or template spam): ordinary least squares over
    * (ln rank, ln frequency) of the top-`topV` vocabulary.
    *
    * Determinism contract (the repo's exact-math discipline): the
    * per-rank regressors quantize to micro-nat LONGS first
    * (`floor(ln(·)·1e6 + 0.5)`), the five OLS sums are EXACT integer
    * aggregates over ≤ topV terms, and only the final slope/intercept/
    * r² divisions run in double — an identical expression over
    * identical integers on any engine. Output is ONE row: `n_terms`,
    * `slope_micro`, `intercept_micro`, `r2_micro`.
    *
    * Shape: corpus explode → vocab hash-aggregate (map-side combined)
    * → bounded top-V (`orderBy.limit`, never a vocab-wide window) →
    * rank window + OLS over the V-row statistics table. */
  def zipfFit(df: DataFrame, text: Column, topV: Int = 1000): DataFrame = {
    require(topV >= 3, "need at least 3 ranks to fit")
    val vocab = Parallelism.ensure(df.select(text.as("__t")))
      .select(explode(tokens(col("__t"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(topV)
    val ranked = vocab.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("word"))))
    val micro = ranked.select(
      floor(log(col("rank").cast(DoubleType)) * 1e6 + 0.5)
        .cast(LongType).as("x"),
      floor(log(col("freq").cast(DoubleType)) * 1e6 + 0.5)
        .cast(LongType).as("y"))
    val sums = micro.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    // identical double formula over exact integer sums on every engine
    val n = col("n").cast(DoubleType)
    def d(c: String) = col(c).cast(DoubleType)
    // degenerate variances null out (nullif — ANSI double division by
    // zero THROWS): zero x-variance has no fit at all; a zero-variance
    // y (perfectly flat corpus) still has slope/intercept but r² is 0/0
    def nz(c: Column): Column = nullif(c, lit(0.0))
    val slope = (n * d("sxy") - d("sx") * d("sy")) /
      nz(n * d("sxx") - d("sx") * d("sx"))
    val intercept = (d("sy") - slope * d("sx")) / n
    val r2 = ((n * d("sxy") - d("sx") * d("sy")) *
      (n * d("sxy") - d("sx") * d("sy"))) /
      nz((n * d("sxx") - d("sx") * d("sx")) *
        (n * d("syy") - d("sy") * d("sy")))
    // slope and r² are unitless → scale to micro; the intercept is in
    // the regressors' own micro-nat units already — no second scaling
    sums.select(col("n").as("n_terms"),
      floor(slope * 1e6 + 0.5).cast(LongType).as("slope_micro"),
      floor(intercept + 0.5).cast(LongType).as("intercept_micro"),
      floor(r2 * 1e6 + 0.5).cast(LongType).as("r2_micro"))
  }

  /** Exact phrase occurrence search — the positional-match primitive
    * behind blocklist filtering and quote detection: how often does
    * the exact token sequence `phrase` occur in each document, and
    * where does it first occur. Matching is LOCAL to a document, so
    * the whole operator is a pure per-row fold over the token array
    * (the Spark-first answer: no positional inverted index, no join —
    * an index only pays when the corpus is read many times per query,
    * and then it is [[postingLists]]' job). Docs with zero matches are
    * dropped.
    *
    * Shape: token array projected ONCE (the HOF-hoisting contract),
    * one aggregate fold per row counting aligned windows, no shuffle. */
  def phraseSearch(df: DataFrame, idCol: String, text: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty),
      "phrase must be non-empty tokens")
    val m = phrase.length
    val toks = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t"))
        .filter(text.isNotNull))
      .withColumn("__w", tokens(col("__t")))
      .filter(size(col("__w")) >= m)
    // per-position test = m scalar element_at comparisons, short-
    // circuited on the first mismatch — NOT a slice + array-equality,
    // which allocates an m-element array per position (measured ~2× the
    // whole query); count and first position fold in ONE pass over a
    // struct accumulator
    val hit = (i: Column) => phrase.zipWithIndex.map { case (t, j) =>
      element_at(col("__w"), (i + j + 1).cast("int")) === lit(t)
    }.reduce(_ && _)
    toks
      .withColumn("__m",
        aggregate(sequence(lit(0), size(col("__w")) - m),
          struct(lit(0L).as("n"), lit(-1L).as("p")),
          (acc, i) => when(hit(i),
            struct((acc.getField("n") + 1L).as("n"),
              when(acc.getField("p") >= 0L, acc.getField("p"))
                .otherwise(i.cast(LongType)).as("p")))
            .otherwise(acc)))
      // unpushable: a plain n>0 filter substitutes the WHOLE match fold
      // (token split inlined, re-run per element) into the predicate
      // and pushes it below the widening exchange onto the single scan
      // task — measured 1.06 s of a 1.3 s query (the Parallelism.ensure
      // sharp edge)
      .filter(Parallelism.unpushable(col("__m.n") > 0L))
      .select(col("doc"), col("__m.n").as("n_matches"),
        col("__m.p").as("first_pos"))
  }

  /** Content-defined chunking (Muthitacharoen et al. 2001, the LBFS
    * rolling-hash cut rule — public; the shift-resistant segmentation
    * storage dedup and chunk-level corpus dedup both build on): a cut
    * falls AFTER token `i` exactly when the hash of the `k`-token
    * window ending at `i` is ≡ 0 (mod `divisor`) — a boundary decided
    * only by LOCAL content, so inserting text before a chunk moves the
    * chunk's OFFSET but not its boundaries or fingerprint, which is
    * precisely what fixed-size chunking ([[chunks]]) cannot give:
    * there a one-token insertion re-aligns every downstream chunk and
    * defeats chunk-hash dedup. Expected chunk length ≈ `divisor`
    * tokens. Docs shorter than `k` tokens have no window and yield one
    * whole-doc chunk.
    *
    * Output: one row per chunk — `(doc, chunk_idx, start, len,
    * chunk_fp)`, the fingerprint being the md5-long of the
    * space-joined chunk tokens (group by `chunk_fp` for corpus-wide
    * chunk dedup).
    *
    * Shape: pure per-row — window hashes, cut list and span table are
    * all HOF folds over the ONCE-projected token array; one explode to
    * chunk rows, no shuffle, no state. */
  def contentDefinedChunks(df: DataFrame, idCol: String, text: Column,
      k: Int = 4, divisor: Long = 8L): DataFrame = {
    require(k >= 1, "window must be at least 1 token")
    require(divisor >= 2L, "divisor < 2 cuts after every token")
    val base = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t"))
        .filter(text.isNotNull))
      .withColumn("__w", tokens(col("__t")))
    val n = size(col("__w"))
    // cut positions (exclusive end of a chunk): window start j spans
    // tokens j..j+k-1, so the cut falls at j+k
    val cuts = filter(
      transform(sequence(lit(0), n - k),
        j => (j + k).cast(LongType)),
      c => pmod(Hashing.hexLong(
        concat_ws(" ", slice(col("__w"), (c - k + 1).cast("int"), lit(k)))),
        lit(divisor)) === 0L)
    val starts = concat(array(lit(0L)), col("__cuts"))
    val ends = concat(col("__cuts"), array(n.cast(LongType)))
    base
      .withColumn("__cuts", when(n >= k, cuts)
        .otherwise(array().cast("array<bigint>")))
      // opaque: the Generate-inferred size(__spans)>0 predicate would
      // otherwise substitute this whole chain below the widening
      // exchange onto the single scan task (Parallelism.opaque scaladoc;
      // measured 2.5 s of the 2.9 s query)
      .withColumn("__spans", Parallelism.opaque(filter(
        zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e"))),
        sp => sp.getField("e") > sp.getField("s"))))
      .select(col("doc"), col("__w"),
        posexplode(col("__spans")).as(Seq("chunk_idx", "sp")))
      .select(col("doc"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("sp.s").as("start"),
        (col("sp.e") - col("sp.s")).as("len"),
        Hashing.hexLong(concat_ws(" ",
          slice(col("__w"), (col("sp.s") + 1L).cast("int"),
            (col("sp.e") - col("sp.s")).cast("int")))).as("chunk_fp"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS scheme, public): hash every positional word `k`-gram, slide a
    * window of `w` consecutive hashes, keep each window's MINIMUM — the
    * guarantee is LOCAL: any shared run of `w + k - 1` tokens between
    * two documents shares at least one selected fingerprint, while only
    * ~`2/(w+1)` of all k-gram hashes are kept. The partial-overlap
    * detector that document-level MinHash cannot be (MinHash answers
    * "how similar are these documents", winnowing answers "do they
    * share ANY sufficiently long passage") and [[graft.operators.Dedup.duplicateSpans]]'
    * cheap cousin (spans needs a corpus-wide frequency pass; winnowing
    * is per-row). Join fingerprints to find cross-doc shared passages.
    *
    * Short-doc contract (mirrored in the oracle): fewer than `k` tokens
    * → no k-gram → no fingerprints; fewer than `w` k-grams → one
    * fingerprint, the global minimum.
    *
    * Shape: narrow per-row expression tree (hash array projected ONCE
    * into the window fold — the HOF-hoisting contract) + one distinct
    * explode: embarrassingly parallel, no corpus state. */
  def winnowFingerprints(df: DataFrame, idCol: String, text: Column,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k-gram size and window must be positive")
    val toks = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t")))
      .select(col("doc"), tokens(col("__t")).as("__w"))
    val grams = when(size(col("__w")) >= k,
      transform(sequence(lit(0), size(col("__w")) - k),
        i => Hashing.hexLong(concat_ws(" ", slice(col("__w"), i + 1, lit(k))))))
      .otherwise(array().cast("array<bigint>"))
    val withHashes = toks.select(col("doc"), grams.as("__h"))
    val fps = when(size(col("__h")) >= w,
      array_distinct(transform(sequence(lit(0), size(col("__h")) - w),
        j => array_min(slice(col("__h"), j + 1, lit(w))))))
      .when(size(col("__h")) >= 1, array(array_min(col("__h"))))
      .otherwise(array().cast("array<bigint>"))
    withHashes.select(col("doc"), explode(fps).as("fingerprint"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public): hashed
    * bigram features score each raw document by how target-like its
    * feature distribution is,
    * `w(d) = Σ_b n_d(b) · qlr(b)` with
    * `qlr(b) = floor(ln((t_b+1)/(T+B) · (R+B)/(r_b+1)) · 1e6 + 0.5)` —
    * the add-one-smoothed target/raw log-likelihood ratio per hash
    * bucket, quantized to integer micro-nats so the per-doc fold is an
    * exact long sum. Positive weights = bigram profile leans toward
    * the target corpus; the resampling step keeps the top mass.
    *
    * Shape: raw and target each explode ONCE (the raw side into a
    * doc-pinned checkpoint, the target inside the single
    * model-broadcast job); the whole B-entry weight table packs into
    * ONE broadcast row with the totals folded in-row, and scoring is a
    * per-row map lookup + an exchange-free groupBy(doc) on the pinned
    * layout — one corpus-sized shuffle total, everything else
    * bucket-bounded. Buckets absent from the target still score
    * (smoothing), exactly as in the paper. */
  def dsirWeights(df: DataFrame, idCol: String, text: Column,
      target: DataFrame, targetText: Column,
      buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    // token array projected into a REAL column before the bigram HOF —
    // an inlined split would re-run once per bigram (no hoisting in
    // lambda subtrees)
    def buckify(shaped: DataFrame, keys: Seq[String]): DataFrame =
      shaped
        .withColumn("__w", tokens(col("__t")))
        .select(keys.map(col) :+
          explode(bigramsFromTokens(col("__w"))).as("__bg"): _*)
        .withColumn("bucket",
          pmod(Hashing.hexLong(col("__bg")), lit(buckets.toLong)))
        .groupBy((keys :+ "bucket").map(col): _*)
        .agg(count(lit(1)).as("n"))
    // ONE raw-corpus shuffle, made once: hash-repartition on doc up
    // front (widens single-row-group scans too), aggregate exchange-free
    // on that layout, checkpoint CLAIMING it — the table feeds both the
    // weight-table build and the scoring pass, and runtime broadcast
    // jobs do not reuse a plan-level exchange (the q131 measurement).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val perDoc = materialize(
      buckify(df.select(col(idCol).as("doc"), text.as("__t"))
        .repartition(par, col("doc")), Seq("doc")), Claim(par, "doc"))._1
    val rawB = perDoc.groupBy("bucket").agg(sum(col("n")).as("r"))
    val tgtB = buckify(Parallelism.ensure(
      target.select(targetText.as("__t"))), Nil)
      .withColumnRenamed("n", "t")
    // the whole weight table packs into ONE broadcast row (the q131
    // shape): raw and target bucket arrays collect, totals fold in-row,
    // and the qlr map derives per-entry — one broadcast-build job, ONE
    // target-corpus pass, instead of the former totals→weights chain
    // that re-ran the target explode per broadcast job. Same smoothing,
    // same quantizer — the oracle is unchanged.
    def fold(arr: Column, f: String): Column =
      aggregate(arr, lit(0L), (acc, x) => acc + x.getField(f))
    val packed = broadcast(rawB
      .groupBy().agg(collect_list(struct(col("bucket"), col("r"))).as("__rb"))
      .crossJoin(tgtB.groupBy()
        .agg(map_from_entries(collect_list(struct(col("bucket"), col("t"))))
          .as("__tm"),
          sum(col("t")).as("tTot")))
      .select(map_from_entries(transform(col("__rb"), e =>
        struct(e.getField("bucket"),
          floor(log(
            ((coalesce(element_at(col("__tm"), e.getField("bucket")),
              lit(0L)) + lit(1L)).cast(DoubleType) /
              (col("tTot") + lit(buckets.toLong)).cast(DoubleType)) *
              ((fold(col("__rb"), "r") + lit(buckets.toLong))
                .cast(DoubleType) /
                (e.getField("r") + lit(1L)).cast(DoubleType))) * 1e6 + 0.5)
            .cast(LongType)))).as("__qlr")))
    perDoc.crossJoin(packed)
      .groupBy("doc")
      .agg(sum(col("n")).as("n_feats"),
        sum(col("n") * element_at(col("__qlr"), col("bucket")))
          .as("dsir_micro"))
  }

  /** fastText-style quality/domain classifier (the GPT-3 / LLaMA
    * "looks like the reference corpus" filter — Brown et al. 2020 §A,
    * Touvron et al. 2023 §2, both public): a closed-form Naive Bayes
    * over hashed unigram features. Training and scoring are ONE pass:
    * every doc carries its weak label (`isPositive`), the per-bucket
    * class counts come from the same exploded token table that scores
    * the docs, and
    * `llr(b) = floor(ln((p_b+1)/(P+B) · (N+B)/(n_b+1)) · 1e6 + 0.5)`
    * (add-one smoothing, quantized to integer micro-nats — the same
    * determinism contract as [[dsirWeights]]) plus the class prior
    * `floor(ln((docsPos+1)/(docsNeg+1)) · 1e6 + 0.5)` give
    * `score(d) = prior + Σ_b n_d(b)·llr(b)`; `nb_pos = score > 0`.
    *
    * Not [[dsirWeights]]: DSIR ranks raw docs by importance for
    * RESAMPLING (bigram features, no prior, no decision); this is a
    * per-doc CLASSIFICATION — prior-adjusted log-posterior odds and a
    * keep/drop verdict — the decision the fastText filter actually
    * makes.
    *
    * Shape: one corpus-sized shuffle on (doc, label, bucket); the
    * B-row weight table (re-aggregated from that table, never a second
    * corpus pass) and the 1-row totals broadcast back. The doc counts
    * for the prior aggregate the DOC-LEVEL scored table (one row per
    * doc — statistics-sized), not the (doc,bucket) table: a distinct
    * over doc×B rows would be a second corpus-scale shuffle for a
    * 2-number answer. `split` yields ≥1 token for every non-null doc,
    * so no doc is lost; null-text docs are dropped (no features, no
    * score). */
  def nbClassifier(df: DataFrame, idCol: String, text: Column,
      isPositive: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    // ONE corpus shuffle total: the raw docs hash-repartition on doc up
    // front (this also widens a single-row-group scan, so no
    // Parallelism.ensure round-robin is needed), the (doc,label,bucket)
    // aggregate is then exchange-free (HashPartitioning(doc) satisfies
    // the grouping's ClusteredDistribution), and the checkpoint CLAIMS
    // that layout instead of re-shuffling. Checkpointing at all is what
    // matters: the table feeds THREE jobs (model broadcast, doc counts,
    // the scoring pass), and plan-level ReusedExchange does NOT survive
    // the broadcast-subquery job boundary at runtime — measured at
    // sf0.1, the corpus tokenize+explode stage ran 4× un-checkpointed
    // (DevProfile). The pinned doc layout also makes the scoring
    // groupBy(doc) exchange-free (the model attaches by broadcast,
    // which preserves partitioning).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val perDoc = materialize(
      df.select(col(idCol).as("doc"), isPositive.as("__pos"),
          text.as("__t")).filter(col("__t").isNotNull)
        .repartition(par, col("doc"))
        .withColumn("__w", tokens(col("__t")))
        .select(col("doc"), col("__pos"), explode(col("__w")).as("__tok"))
        .withColumn("bucket",
          pmod(Hashing.hexLong(col("__tok")), lit(buckets.toLong)))
        .groupBy("doc", "__pos", "bucket")
        .agg(count(lit(1)).as("n")), Claim(par, "doc"))._1
    // The WHOLE model packs into ONE broadcast row (the nbQualityGate
    // deployment shape): the B-row class counts collapse to an array,
    // totals fold over that array in the same row, the llr map derives
    // per-entry, and the doc-count prior crosses in from a second tiny
    // aggregate — one broadcast-build job instead of the former
    // totals→weights→prior chain of three sequential barrier jobs
    // (measured at sf0.1: 17 short stages → 11, ~0.95 s → ~0.6 s; the
    // llr/prior math is bit-identical, so the oracle is unchanged).
    val classB = perDoc.groupBy("bucket").agg(
      sum(when(col("__pos"), col("n")).otherwise(0L)).as("p"),
      sum(when(!col("__pos"), col("n")).otherwise(0L)).as("q"))
    // doc-level class membership: groupBy(doc) is exchange-free on the
    // pinned layout, so the doc counts cost one pass over the checkpoint
    val docCounts = perDoc.groupBy("doc")
      .agg(max(when(col("__pos"), 1L).otherwise(0L)).as("__p"))
      .agg(sum(col("__p")).as("dPos"),
        (count(lit(1)) - sum(col("__p"))).as("dNeg"))
    def llrOf(p: Column, q: Column, pTot: Column, qTot: Column): Column =
      floor(log(
        ((p + lit(1L)).cast(DoubleType) /
          (pTot + lit(buckets.toLong)).cast(DoubleType)) *
          ((qTot + lit(buckets.toLong)).cast(DoubleType) /
            (q + lit(1L)).cast(DoubleType))) * 1e6 + 0.5).cast(LongType)
    val packed = broadcast(classB
      .groupBy()
      .agg(collect_list(struct(col("bucket"), col("p"), col("q")))
        .as("__cb"))
      .crossJoin(docCounts)
      .select(
        map_from_entries(transform(col("__cb"), e =>
          struct(e.getField("bucket"),
            llrOf(e.getField("p"), e.getField("q"),
              aggregate(col("__cb"), lit(0L),
                (acc, x) => acc + x.getField("p")),
              aggregate(col("__cb"), lit(0L),
                (acc, x) => acc + x.getField("q")))))).as("__llr"),
        floor(log((col("dPos") + lit(1L)).cast(DoubleType) /
          (col("dNeg") + lit(1L)).cast(DoubleType)) * 1e6 + 0.5)
          .cast(LongType).as("__prior")))
    perDoc.crossJoin(packed)
      .groupBy("doc")
      .agg(sum(col("n")).as("n_toks"),
        (max(col("__prior")) +
          sum(col("n") * element_at(col("__llr"), col("bucket"))))
          .as("nb_micro"))
      .withColumn("nb_pos", col("nb_micro") > 0L)
  }

  /** Boilerplate density: the fraction of a document's winnowing
    * fingerprints ([[winnowFingerprints]] — the local shared-passage
    * detector) that are CORPUS-COMMON (appear in ≥ `minDocs` distinct
    * documents). High density marks template-stamped pages — nav
    * chrome, footers, licence blocks — the passage-level signal the
    * RefinedWeb/Dolma line removes before training, and the scalar
    * summary of the q130 passage graph (density says "how templated",
    * the clusters say "templated WITH whom"). Ratio crosses engines as
    * the exact integer `n_common·1e6 div n_fp`.
    *
    * Shape: the narrow fingerprint map, one fingerprint-keyed count
    * aggregate (bounded by distinct fingerprints), a co-partitioned
    * join back on the same key, one per-doc aggregate. Docs too short
    * to fingerprint are dropped (mirrored in the oracle). */
  def boilerplateDensity(df: DataFrame, idCol: String, text: Column,
      k: Int = 4, w: Int = 4, minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2, "a fingerprint is 'common' from 2 docs up")
    val fps = winnowFingerprints(df, idCol, text, k, w)
    val freq = fps.groupBy("fingerprint")
      .agg(count_distinct(col("doc")).as("__df"))
    fps.join(freq, Seq("fingerprint"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boiler_micro", expr("n_common * 1000000 div n_fp"))
  }

  /** The deployable half of [[nbClassifier]]: train the weight table
    * once on a labeled lake and export it as data — (bucket, llr,
    * prior, default_llr) — so a stream (or another engine) can score
    * without touching the training corpus. `llr`/`prior` are exactly
    * [[nbClassifier]]'s micro-nat quantities (same smoothing, same
    * quantizer, so a batch-scored doc and a stream-scored doc agree
    * bit-for-bit); `default_llr` is the zero-observation bucket's
    * value `floor(ln(1/(P+B) · (Q+B)/1) · 1e6 + 0.5)` — the score a
    * NEVER-seen feature bucket earns, which the one-pass batch
    * operator cannot encounter but live traffic will.
    *
    * Shape: the training half of [[nbClassifier]] (one corpus shuffle,
    * B-bounded re-aggregates); the doc counts for the prior aggregate
    * the distinct (doc,label) pairs of the SAME exchange. */
  def nbTrain(df: DataFrame, idCol: String, text: Column,
      isPositive: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    val perDoc = Parallelism.ensure(
      df.select(col(idCol).as("doc"), isPositive.as("__pos"),
        text.as("__t")).filter(col("__t").isNotNull))
      .withColumn("__w", tokens(col("__t")))
      .select(col("doc"), col("__pos"), explode(col("__w")).as("__tok"))
      .withColumn("bucket",
        pmod(Hashing.hexLong(col("__tok")), lit(buckets.toLong)))
      .groupBy("doc", "__pos", "bucket")
      .agg(count(lit(1)).as("n"))
    val classB = perDoc.groupBy("bucket").agg(
      sum(when(col("__pos"), col("n")).otherwise(0L)).as("p"),
      sum(when(!col("__pos"), col("n")).otherwise(0L)).as("q"))
    val docCounts = perDoc.select(col("doc"), col("__pos")).distinct()
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("dPos"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("dNeg"))
    val totals = broadcast(
      classB.agg(sum(col("p")).as("pTot"), sum(col("q")).as("qTot"))
        .crossJoin(docCounts))
    def llrOf(p: Column, q: Column) = floor(log(
      ((p + lit(1L)).cast(DoubleType) /
        (col("pTot") + lit(buckets.toLong)).cast(DoubleType)) *
        ((col("qTot") + lit(buckets.toLong)).cast(DoubleType) /
          (q + lit(1L)).cast(DoubleType))) * 1e6 + 0.5).cast(LongType)
    classB.crossJoin(totals)
      .select(col("bucket"),
        llrOf(col("p"), col("q")).as("llr"),
        floor(log((col("dPos") + lit(1L)).cast(DoubleType) /
          (col("dNeg") + lit(1L)).cast(DoubleType)) * 1e6 + 0.5)
          .cast(LongType).as("prior"),
        llrOf(lit(0L), lit(0L)).as("default_llr"))
  }

  /** Bucketed token hashes `pmod(md5Long(token), B)` over [[tokens]] —
    * the one token-hash transform of the hashed n-gram LMs, shared by
    * the batch n-gram table and the stream gates. Bind it to a REAL
    * column before any per-position HOF (the hoisting contract: each
    * token is md5'd once, not once per n-gram). */
  def tokenBuckets(text: Column, buckets: Int): Column =
    transform(tokens(text), t => pmod(Hashing.hexLong(t), lit(buckets.toLong)))

  /** Row-count column of an order-n LM score: the number of scored
    * n-grams per doc. */
  private[graft] val NgramCountCol =
    Map(2 -> "n_pairs", 3 -> "n_triples", 4 -> "n_quads", 5 -> "n_quints")

  /** The bucket columns `b1..bn` and the count column `c12…n` of an
    * order-n [[lmTrain]] model. */
  private def bucketCols(order: Int): Seq[String] = (1 to order).map(i => s"b$i")
  private def countCol(order: Int): String = "c" + (1 to order).mkString

  private[graft] def requireOrder(order: Int): Unit =
    if (order < 2 || order > 5) throw new IllegalArgumentException(
      s"n-gram order $order is outside 2..5: the exact-integer long-bound " +
        "contract of TextAnalysis.lmPerplexityBucketsKN covers orders 2 to 5")

  /** Per-key hashed n-gram bucket multiset over a `__t`-text frame —
    * `(keys…, b1..bn, m)`, the shared sufficient statistic of every LM
    * here (the trained model and the scored corpus alike). Docs under
    * n tokens contribute nothing. */
  private def ngramTable(shaped: DataFrame, keys: Seq[String], order: Int,
      buckets: Int): DataFrame = {
    val bs = bucketCols(order)
    shaped
      .withColumn("__h", tokenBuckets(col("__t"), buckets))
      .select(keys.map(col) :+ explode(when(size(col("__h")) >= order,
        transform(sequence(lit(0), size(col("__h")) - order),
          i => struct(bs.zipWithIndex.map { case (b, j) =>
            element_at(col("__h"), i + (j + 1)).as(b) }: _*)))
        .otherwise(array().cast(
          bs.map(_ + ":bigint").mkString("array<struct<", ",", ">>"))))
        .as("__p"): _*)
      .select(keys.map(col) ++ bs.map(b => col(s"__p.$b")): _*)
      .groupBy((keys ++ bs).map(col): _*)
      .agg(count(lit(1)).as("m"))
  }

  /** The scored corpus as per-doc n-gram multisets on an up-front doc
    * hash layout, so every later per-doc aggregate is exchange-free. */
  private def docNgrams(df: DataFrame, idCol: String, text: Column,
      order: Int, buckets: Int): DataFrame =
    ngramTable(df.select(col(idCol).as("doc"), text.as("__t"))
      .filter(col("__t").isNotNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("doc")), Seq("doc"), order, buckets)

  /** CCNet's keep/drop cut over a doc-level score table: `ppl_bucket`
    * head/middle/tail terciles ordered by the exact integer mean, with
    * (nll, doc) tie-breaks — fully deterministic, hash-matchable. The
    * window runs over one row per doc (the statistics-sized class, the
    * q121 percent-rank bound). */
  private def pplTerciles(scored: DataFrame): DataFrame = {
    val tercile = ntile(3).over(
      Window.orderBy(col("mean_micro"), col("nll_micro"), col("doc")))
    scored.withColumn("ppl_bucket",
      when(tercile === 1, lit("head"))
        .when(tercile === 2, lit("middle"))
        .otherwise(lit("tail")))
  }

  /** The deployable half of the hashed n-gram LMs (the nbTrain
    * pattern): train on a reference corpus once and export the model AS
    * DATA — observed n-gram counts `(b1..bn, c12…n)`, e.g.
    * `(b1, b2, c12)` at order 2, the model's complete sufficient
    * statistic (margins, smoothing, discounts and continuation counts
    * all derive from it) — so a stream
    * ([[graft.streaming.CurationStream.lmQualityGate]],
    * [[graft.streaming.CurationStream.lmQualityGateKN]]) or another
    * engine scores without touching the training corpus. Same
    * bucketing, same counts: a batch-scored doc and a stream-scored doc
    * agree bit-for-bit (StreamingSpec parity). The add-one scorers use
    * order 2; the interpolated-KN chain takes orders 2..5 with the
    * bucket counts of [[lmPerplexityBucketsKN]]'s long-bound contract. */
  def lmTrain(reference: DataFrame, refText: Column, order: Int = 2,
      buckets: Int = 256): DataFrame = {
    requireOrder(order)
    require(buckets >= 2, "need at least 2 hash buckets")
    ngramTable(Parallelism.ensure(
      reference.select(refText.as("__t")).filter(col("__t").isNotNull)),
      Nil, order, buckets)
      .withColumnRenamed("m", countCol(order))
  }

  /** An order-2 [[lmTrain]] model packed into ONE broadcastable row for
    * add-one scoring ([[addOneNll]]): pair counts keyed b1·B+b2 (map
    * `pm`) and prefix totals keyed b1 (map `c1`). */
  private[graft] def addOnePack(model: DataFrame, buckets: Int, pm: String,
      c1: String): DataFrame =
    model.groupBy().agg(map_from_entries(collect_list(struct(
        col("b1") * buckets + col("b2"), col("c12")))).as(pm))
      .crossJoin(model.groupBy("b1").agg(sum(col("c12")).as("c1"))
        .groupBy().agg(map_from_entries(collect_list(struct(
          col("b1"), col("c1")))).as(c1)))

  /** Add-one per-pair negative log probability in integer micro-nats,
    * `floor(ln((c1+B)/(c12+1))·1e6 + 0.5)`, over an [[addOnePack]] row:
    * one ln of a ratio of exactly-represented integers, ≥ 0 because
    * c1 ≥ c12. */
  private[graft] def addOneNll(b1: Column, b2: Column, buckets: Int,
      pm: String, c1: String): Column =
    floor(log(
      (coalesce(element_at(col(c1), b1), lit(0L)) + lit(buckets.toLong))
        .cast(DoubleType) /
        (coalesce(element_at(col(pm), b1 * buckets + b2), lit(0L)) +
          lit(1L)).cast(DoubleType)) * 1e6 + 0.5).cast(LongType)

  /** CCNet-style LM perplexity bucketing (Wenzek et al. 2020 §3.3,
    * public): a hashed-bigram add-one language model trained on a
    * reference corpus scores every document by mean negative log
    * probability, and documents land in head/middle/tail terciles —
    * CCNet keeps "head" as the cleanest crawl slice. KenLM's 5-gram is
    * replaced by the bucket-bounded bigram
    * `p(w2|w1) ≈ (c12+1)/(c1+B)` over B² hash cells, so the whole
    * model is two broadcastable count tables and the per-doc score
    * `nll(d) = Σ_pairs floor(ln((c1+B)/(c12+1)) · 1e6 + 0.5)` is an
    * exact long sum of non-negative micro-nats. The tercile cut orders
    * docs by the exact integer mean `nll div n` ([[pplTerciles]]).
    *
    * Not [[bigramLmScore]]: q74's LM is self-trained on the scored
    * corpus over EXACT token bigrams (every scored transition exists —
    * no smoothing, no unseen-bigram path, no selection decision); here
    * a held-out reference model scores text the reference never saw —
    * the smoothed unseen-pair penalty IS the signal — and the tercile
    * cut is CCNet's keep/drop decision.
    *
    * Shape: the reference pass runs ONCE into a checkpointed ≤B²-row
    * pair table, and the model — pair counts AND the b1 margins derived
    * from them — packs into ONE broadcast row as maps
    * ([[addOnePack]]; separate margin/model broadcasts each re-ran the
    * reference explode at runtime, the q131 broadcast-job reuse
    * measurement). The per-pair nll is then a pure lookup, and the doc
    * aggregate is exchange-free on the up-front doc hash layout. Docs
    * with <2 tokens have no bigrams and are dropped (mirrored in the
    * oracle). */
  def lmPerplexityBuckets(df: DataFrame, idCol: String, text: Column,
      reference: DataFrame, refText: Column,
      buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    val model = materialize(lmTrain(reference, refText, 2, buckets))._1
    pplTerciles(docNgrams(df, idCol, text, 2, buckets)
      .crossJoin(broadcast(addOnePack(model, buckets, "__pm", "__c1")))
      .withColumn("nll",
        addOneNll(col("b1"), col("b2"), buckets, "__pm", "__c1"))
      .groupBy("doc")
      .agg(sum(col("m")).as("n_pairs"),
        sum(col("m") * col("nll")).as("nll_micro"))
      .withColumn("mean_micro", expr("nll_micro div n_pairs")))
  }

  /** One level of the interpolated-KN chain over the last k bucket
    * columns `keys`: its n-gram table (`__c<k>` — raw counts at the top
    * level, Kneser-Ney continuation counts N1+(·w…) below it) and the
    * table's prefix margin keyed by `keys.init` (`__s<k>` = Σ counts,
    * `__n<k>` = distinct successors, the λ numerator). */
  private[graft] case class KnLevel(keys: Seq[String], table: DataFrame,
      margin: DataFrame)

  /** The per-level statistics of an order-n [[lmTrain]] model, top level
    * first, plus the continuation unigram (`__u`, distinct predecessors
    * of b_n among the bigram level's pairs) and `__np` (the bigram
    * level's distinct pair total). Each level below the top is the
    * distinct-predecessor count of the level above, so the whole chain
    * derives from the one exported table. `pin` places each derived
    * continuation table: the batch scorer checkpoints it (the cascade —
    * every margin is then one statistics-sized aggregate over a cached
    * table), the stream gate leaves it lazy inside its one packed row. */
  private[graft] def knLevels(model: DataFrame, order: Int,
      pin: DataFrame => DataFrame): (Seq[KnLevel], DataFrame, DataFrame) = {
    val bs = bucketCols(order)
    val tables = (order - 1 to 2 by -1).scanLeft(
        model.withColumnRenamed(countCol(order), s"__c$order")) {
      (above, k) => pin(above.groupBy(bs.takeRight(k).map(col): _*)
        .agg(count(lit(1)).as(s"__c$k")))
    }
    val levels = tables.zip(order to 2 by -1).map { case (t, k) =>
      val keys = bs.takeRight(k)
      KnLevel(keys, t, t.groupBy(keys.init.map(col): _*)
        .agg(sum(col(s"__c$k")).as(s"__s$k"), count(lit(1)).as(s"__n$k")))
    }
    (levels, tables.last.groupBy(bs.last).agg(count(lit(1)).as("__u")),
      tables.last.groupBy().agg(count(lit(1)).as("__np")))
  }

  /** Per-n-gram negative log probability (integer micro-nats) of the
    * interpolated absolute-discount chain with Kneser-Ney continuation
    * lower orders (Ney, Essen & Kneser 1994; Kneser & Ney 1995 —
    * public; CCNet's KenLM applies modified KN at order 5). With
    * D = 3/4, for the levels k = n..2 of [[knLevels]]:
    *
    *   p_k(w|ctx) = max(c_k − D, 0)/s_k + D·n_k/s_k · p_{k−1}(w|ctx')
    *   p_1(w)     = (u + 1) / (N_p + B)   (add-one, so unseen
    *     successors keep non-zero mass and Σ p_1 = 1)
    *
    * where c_k is the level's count of the n-gram's last k buckets,
    * s_k/n_k its prefix margin; a prefix the level never saw (s_k = 0)
    * backs off to the level below alone. D stays RATIONAL, so
    * multiplying through keeps the whole probability one
    * integer-over-integer ratio, folded bottom-up with Z = N_p + B:
    *
    *   a_1 = u + 1,  d_1 = Z
    *   a_k = max(4·c_k − 3, 0)·d_{k−1} + 3·n_k·a_{k−1},  d_k = 4·s_k·d_{k−1}
    *     (a_k = a_{k−1}, d_k = d_{k−1} when s_k = 0)
    *   nll = floor(ln(d_n / a_n)·1e6 + 0.5)
    *
    * — the micro-nat quantizer of [[lmPerplexityBuckets]]; each level's
    * discounted mass telescopes to exactly 1, so d_n ≥ a_n and nll ≥ 0.
    * `levels` holds each level's (c_k, s_k, n_k) bottom-up (k = 2..n),
    * already coalesced to 0 where unseen. */
  private[graft] def knNll(levels: Seq[(Column, Column, Column)],
      unigram: Column, np: Column, buckets: Int): Column = {
    val (num, den) = levels.foldLeft(
        (unigram + lit(1L), np + lit(buckets.toLong))) {
      case ((a, d), (c, s, n)) =>
        (when(s > 0L, greatest(lit(4L) * c - lit(3L), lit(0L)) * d +
          lit(3L) * n * a).otherwise(a),
          when(s > 0L, lit(4L) * s * d).otherwise(d))
    }
    floor(log(den.cast(DoubleType) / num.cast(DoubleType)) * 1e6 + 0.5)
      .cast(LongType)
  }

  /** [[lmPerplexityBuckets]] with interpolated Kneser-Ney smoothing at
    * any order n ∈ 2..5 — the fidelity upgrade toward CCNet's KenLM
    * filter (Wenzek et al. 2020 §3.3; n = 5 is the published order):
    * add-one flattens the head of the distribution (every unseen pair
    * costs ln(c1+B), however predictive the prefix), while absolute
    * discounting preserves observed mass and the continuation levels
    * score unseen n-grams by how promiscuous their suffix is — the KN
    * insight ([[knNll]]). Same lifecycle, quantizer and tercile cut;
    * the per-doc count column is `n_pairs`, `n_triples`, `n_quads` or
    * `n_quints`, and docs under n tokens score nothing and are dropped
    * (a mean over nothing is not "head").
    *
    * Long-bound contract. d_n = 4^(n−1)·s_n·Π_{k<n} s_k·Z with every
    * lower-level margin s_k ≤ B² and Z ≤ B² + B, so the exact-integer
    * chain overflows nothing while the top-level prefix total s_n stays
    * under the bound below; shard the reference beyond it (a per-shard
    * model is still one table). The bucket count is therefore a
    * function of the order — one factor of B² per order up:
    *
    * {{{
    * order  B    d_n ≤            prefix bound (tokens)   corpus-wide (uniform hashing)
    *   2    256  s_n·2.6·10⁵      c1    ≲ 3·10¹³          ≈ 9·10¹⁵ over B
    *   3    256  s_n·2.8·10¹¹     c12   ≲ 3·10⁷           ≈ 10¹¹  over B²
    *   4    64   s_n·4.5·10¹²     c123  ≲ 2·10⁶           ≈ 5·10¹¹ over B³ = 262 144
    *   5    32   s_n·2.9·10¹⁴     c1234 ≲ 3·10⁴           ≈ 3·10¹⁰ over B⁴ = 1 048 576
    * }}}
    *
    * One bucket count up collapses the bound: order 4 at B = 256 caps a
    * prefix at ~500 tokens, order 5 at B = 64 at ~128. Orders outside
    * 2..5 fail with an `IllegalArgumentException`.
    *
    * Shape, one for every order: ONE checkpointed reference pass into
    * the ≤Bⁿ-row model; the continuation tables as a checkpointed
    * cascade ([[knLevels]] — a union-of-branches collapse of the margins
    * measured 2.5× slower at orders 4 and 5: branches cannot share the
    * model-sized first aggregate, since exchange reuse never fires
    * across branches that prune different columns); then one size-gated
    * BROADCAST HASH JOIN per statistic — O(1) hashed probe per corpus
    * n-gram inside whole-stage codegen, no extra corpus exchange
    * (broadcast joins keep the per-doc partitioning). Not map literals:
    * Catalyst `element_at` on a MapType is a LINEAR scan (16.6k entries
    * × 7 lookups measured 10.5 s task-sum at sf0.1, ~12× the hash-join
    * form). Broadcast bound: the model saturates at Bⁿ rows (16.7M at
    * order 3, B = 256; 33.5M at order 5, B = 32); every margin ≤ Bⁿ⁻¹ —
    * past the autoBroadcast threshold the planner falls back to a
    * shuffle join. */
  def lmPerplexityBucketsKN(df: DataFrame, idCol: String, text: Column,
      reference: DataFrame, refText: Column, order: Int,
      buckets: Int): DataFrame = {
    val model = materialize(lmTrain(reference, refText, order, buckets))._1
    val (levels, unigram, np) = knLevels(model, order, materialize(_)._1)
    def z(c: String) = coalesce(col(c), lit(0L))
    val nll = knNll(levels.reverse.map { lv =>
      val k = lv.keys.size
      (z(s"__c$k"), z(s"__s$k"), z(s"__n$k"))
    }, z("__u"), col("__np"), buckets)
    val n = NgramCountCol(order)
    pplTerciles(levels
      .foldLeft(docNgrams(df, idCol, text, order, buckets)) { (acc, lv) =>
        acc.join(broadcast(lv.margin), lv.keys.init, "left")
          .join(broadcast(lv.table), lv.keys, "left")
      }
      .join(broadcast(unigram), Seq(s"b$order"), "left")
      .crossJoin(broadcast(np))
      .withColumn("nll", nll)
      .groupBy("doc")
      .agg(sum(col("m")).as(n), sum(col("m") * col("nll")).as("nll_micro"))
      .withColumn("mean_micro", expr(s"nll_micro div $n")))
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4, public): the
    * denoising-pretraining prep that turns each document into a
    * (masked input, span target) pair. Tokens partition into fixed
    * blocks of `blockLen`; a block is masked when
    * `hash(doc # block) % maskMod == 0` (hash-derandomized — same doc
    * always corrupts the same way, the q40/q90 determinism contract),
    * and within a masked block the span start/length also derive from
    * the hash, so span boundaries vary like T5's sampled spans. The
    * input keeps unmasked tokens and one `<extra_id_B>` sentinel per
    * masked block; the target lists each sentinel followed by the
    * tokens it swallowed. Sentinels are numbered by BLOCK ORDINAL
    * rather than T5's sequential counter: the numbering is then a pure
    * per-token function — a sequential counter needs a prefix count
    * over all earlier blocks, which is either O(blocks²) per doc or a
    * corpus-wide window; block ordinals keep the whole operator narrow
    * (input/target pairing is unaffected — ids match between the two
    * sides, which is all the denoising objective needs).
    *
    * Shape: pure per-row map — the block table is projected into a
    * REAL column once per doc (the HOF-hoisting contract) and every
    * token does one O(1) `element_at` lookup; no shuffle, no state,
    * no window. */
  def spanCorruption(df: DataFrame, idCol: String, text: Column,
      blockLen: Int = 8, maskMod: Int = 5): DataFrame = {
    // blockLen >= 4 so the span-start modulus (blockLen - 3) is >= 1:
    // smaller blocks would divide by zero (ANSI) or by a negative, and
    // a 3-token span could overrun the block
    require(blockLen >= 4 && maskMod >= 2, "degenerate corruption params")
    val toks = Parallelism.ensure(
      df.select(col(idCol).as("doc"), text.as("__t"))
        .filter(text.isNotNull))
      .withColumn("__w", tokens(col("__t")))
    // per-block mask decisions, bound ONCE: (masked, start, len) per
    // block — start/len carve a 1..3-token span inside the block
    val nBlocks = ceil(size(col("__w")).cast(DoubleType) / blockLen)
      .cast(LongType)
    val blocks = toks
      .withColumn("__nb", nBlocks)
      .withColumn("__bs", transform(sequence(lit(0L), col("__nb") - 1L,
        lit(1L)),
        b => {
          val h = Hashing.hexLong(concat(col("doc").cast("string"),
            lit("#"), b.cast("string")))
          // mask decision, span start and span length draw on DISJOINT
          // bit ranges of the 56-bit hash (shifts, not divisions — a
          // 56-bit value doesn't survive a double division) so they
          // vary independently; a mask only counts when its span start
          // lands on an existing token (short final block), keeping
          // input sentinels and target spans in 1:1 correspondence
          val s = pmod(shiftright(h, 8), lit((blockLen - 3).toLong))
          struct(
            (pmod(h, lit(maskMod.toLong)) === 0L &&
              b * blockLen + s < size(col("__w"))).as("m"),
            s.as("s"),
            (pmod(shiftright(h, 16), lit(3L)) + 1L).as("l"))
        }))
    // token i is swallowed when its block is masked and its offset
    // falls in [s, s+l); the FIRST swallowed offset emits the sentinel
    def blk(i: Column) = element_at(col("__bs"), ((i.cast(LongType) /
      blockLen).cast(LongType) + 1L).cast("int"))
    def sentinel(b: Column) = concat(lit("<extra_id_"),
      b.cast(LongType).cast("string"), lit(">"))
    val inputToks = filter(
      transform(sequence(lit(0), size(col("__w")) - 1), i => {
        val o = i.cast(LongType) % blockLen
        val bs = blk(i)
        val inSpan = bs.getField("m") && o >= bs.getField("s") &&
          o < bs.getField("s") + bs.getField("l")
        when(!inSpan, element_at(col("__w"), i + 1))
          .when(o === bs.getField("s"),
            sentinel((i.cast(LongType) / blockLen).cast(LongType)))
          .otherwise(lit(null))
      }), x => x.isNotNull)
    val targetToks = flatten(filter(
      transform(sequence(lit(0L), col("__nb") - 1L, lit(1L)), b => {
        val bs = element_at(col("__bs"), (b + 1L).cast("int"))
        when(bs.getField("m"),
          concat(array(sentinel(b)),
            slice(col("__w"), (b * blockLen + bs.getField("s") + 1L)
              .cast("int"),
              least(bs.getField("l"),
                size(col("__w")) - (b * blockLen + bs.getField("s")))
                .cast("int"))))
      }), x => x.isNotNull))
    blocks.select(col("doc"),
      concat_ws(" ", inputToks).as("masked_input"),
      concat_ws(" ", targetToks).as("target"),
      aggregate(col("__bs"), lit(0L),
        (acc, b) => acc + when(b.getField("m"), 1L).otherwise(0L))
        .as("n_spans"),
      (size(col("__w")).cast(LongType) - size(inputToks) +
        aggregate(col("__bs"), lit(0L), (acc, b) =>
          acc + when(b.getField("m"), 1L).otherwise(0L)))
        .as("n_masked"))
  }

  /** Heaps-law vocabulary-growth curve (Heaps 1978; Baeza-Yates 1999
    * §6.3 gives the V = K·N^β fit) over k-shingle TYPES — the corpus
    * saturation diagnostic a curation pass reads before deciding whether
    * more raw data still buys new content: a dedup-healthy corpus grows
    * types sublinearly (β < 1) but steadily; β collapsing toward 0 at
    * the tail means new documents are re-treading old n-grams (crawl
    * exhaustion or a broken dedup upstream). Shingle types rather than
    * word types because a bounded-vocabulary corpus (this one: 31 words)
    * saturates instantly while its k-gram space keeps growing — the same
    * reason the dedup tier fingerprints shingles, not words.
    *
    * Semantics: for each doc-id cutoff c, `n_tokens` = total shingle
    * OCCURRENCES in docs with id < c and `n_vocab` = distinct shingle
    * types first seen below c; `beta_micro` is the least-squares slope
    * of ln V against ln N over all checkpoints, computed from
    * micro-quantized logs in exact integer arithmetic (one double
    * division at the end — the engine-portable determinism contract).
    * Cutoffs beyond the corpus repeat the full-corpus point: the honest
    * tail of a saturation curve, and a defined value at every scale.
    *
    * Scale shape: ONE corpus explode (widened; array pinned
    * [[Parallelism.opaque]]) into ONE shingle-keyed aggregate carrying
    * min-first-doc plus per-cutoff occurrence counts (map-side partials;
    * output bounded by the type vocabulary), then a single-row reduce —
    * the fit itself never sees corpus-sized data. */
  def heapsLaw(df: DataFrame, idCol: String, text: Column, k: Int = 3,
      cutoffs: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L,
        2048L)): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs == cutoffs.sorted.distinct,
      "cutoffs must be ascending and distinct")
    val ex = Parallelism.ensure(
      df.filter(text.isNotNull)
        .select(col(idCol).cast(LongType).as("doc"), text.as("__t")))
      .select(col("doc"), explode(Parallelism.opaque({
        // NON-distinct k-grams (occurrences, not the dedup tier's
        // distinct sets), short docs falling back to one whole-text
        // shingle — the shinglesOfTokens fallback without its distinct
        val toks = tokens(col("__t"))
        when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k),
            i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
          .otherwise(array(concat_ws(" ", toks)))
      })).as("tk"))
    val perType = ex.groupBy("tk").agg(
      min(col("doc")).as("__m"),
      cutoffs.map(c =>
        sum(when(col("doc") < c, 1L).otherwise(0L)).as(s"__t$c")): _*)
    val row = perType.agg(
      count(when(col("__m") < cutoffs.head, 1)).as(s"__v${cutoffs.head}"),
      (cutoffs.tail.map(c =>
        count(when(col("__m") < c, 1)).as(s"__v$c")) ++
       cutoffs.map(c => sum(col(s"__t$c")).as(s"__n$c"))): _*)
    // micro-quantized logs, then the closed-form least-squares slope in
    // exact integer sums; the single double division is last
    val withLogs = row.select(col("*") +:
      cutoffs.flatMap(c => Seq(
        floor(log(col(s"__n$c").cast(DoubleType)) * 1e6 + 0.5)
          .cast(LongType).as(s"__x$c"),
        floor(log(col(s"__v$c").cast(DoubleType)) * 1e6 + 0.5)
          .cast(LongType).as(s"__y$c"))): _*)
    val n = lit(cutoffs.size.toLong)
    val sx = cutoffs.map(c => col(s"__x$c")).reduce(_ + _)
    val sy = cutoffs.map(c => col(s"__y$c")).reduce(_ + _)
    val sxy = cutoffs.map(c => col(s"__x$c") * col(s"__y$c")).reduce(_ + _)
    val sxx = cutoffs.map(c => col(s"__x$c") * col(s"__x$c")).reduce(_ + _)
    withLogs
      .select(
        floor((n * sxy - sx * sy).cast(DoubleType) /
          (n * sxx - sx * sx).cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType).as("beta_micro"),
        explode(array(cutoffs.map(c => struct(
          lit(c).as("cutoff"),
          col(s"__n$c").as("n_tokens"),
          col(s"__v$c").as("n_vocab"))): _*)).as("__r"))
      .select(col("__r.cutoff"), col("__r.n_tokens"),
        col("__r.n_vocab"), col("beta_micro"))
  }

  /** C4-style line-level structural cleaning (Raffel et al. 2020 §2.2,
    * the rules that operate on LINES rather than tokens or pages'
    * vocabulary — the complement of [[blocklistHit]] (word/phrase page
    * drop) and [[Dedup.sentenceDedup]] (corpus-frequency sentence
    * strike), both already covered):
    *
    *   - a line survives only if it ends in terminal punctuation
    *     (`. ! ? "`), carries at least `minWords` whitespace words, and
    *     does not mention `javascript` (C4 drops the boilerplate
    *     "enable javascript" banner lines this way);
    *   - a page is dropped WHOLE when any line carries a curly brace
    *     (leftover code) or the phrase "lorem ipsum" (placeholder
    *     text), or when fewer than `minLines` lines survive the line
    *     rules.
    *
    * Pure per-row narrow compute: the line array binds ONCE as a real
    * column (Spark never hoists loop-invariant subtrees out of HOF
    * lambdas), every rule is a codegen'd built-in over that array, and
    * nothing shuffles — at 100 TB this is a map over the scan. Routed
    * through [[Parallelism.ensure]] so a single-row-group parquet file
    * still computes wide.
    *
    * Output one row per input doc — the disposition ledger a curation
    * run wants, not just the survivors: doc id, n_lines (non-empty
    * input lines), n_kept (lines passing the line rules, reported even
    * for dropped pages), disposition ('kept' | 'page_filter' |
    * 'short_page'), and clean_text (kept lines re-joined with
    * newlines; empty unless kept). NULL text behaves as the empty
    * page: 0 lines, 'short_page'. */
  def lineClean(df: DataFrame, idCol: String, text: Column,
      minWords: Int = 3, minLines: Int = 3): DataFrame = {
    require(minWords >= 1 && minLines >= 1, "thresholds must be positive")
    val base = Parallelism.ensure(
      df.select(col(idCol).as("doc"), coalesce(text, lit("")).as("__t")))
      .select(col("doc"),
        filter(transform(split(col("__t"), "\n"), l => trim(l)),
          l => l =!= lit("")).as("__ls"))
    val wordsOf = (l: Column) =>
      size(filter(split(l, " +"), w => w =!= lit("")))
    base
      .select(col("doc"), col("__ls"),
        exists(col("__ls"), l => l.contains("{") || l.contains("}") ||
          l.contains("lorem ipsum")).as("__pf"),
        filter(col("__ls"), l =>
          l.rlike("[.!?\"]$") && wordsOf(l) >= minWords &&
            !l.contains("javascript")).as("__kept"))
      .select(col("doc").as(idCol),
        size(col("__ls")).cast(LongType).as("n_lines"),
        size(col("__kept")).cast(LongType).as("n_kept"),
        when(col("__pf"), lit("page_filter"))
          .when(size(col("__kept")) < minLines, lit("short_page"))
          .otherwise(lit("kept")).as("disposition"),
        when(!col("__pf") && size(col("__kept")) >= minLines,
          array_join(col("__kept"), "\n")).otherwise(lit(""))
          .as("clean_text"))
  }

  /** BLEU-style clipped n-gram precision (Papineni et al. 2002 §2.1,
    * "modified n-gram precision") for a declared (candidate, reference)
    * pair set — the MT/summarization eval primitive, and the MULTISET
    * upgrade of the dedup tier's set-overlap scores
    * ([[Dedup.ngramJaccard]]: symmetric distinct sets;
    * [[Dedup.containmentVerify]]: directional distinct sets): each
    * candidate n-gram occurrence is credited at most
    * min(count_cand, count_ref) times, so a degenerate "the the the"
    * candidate cannot farm credit from one reference "the".
    *
    * Shape (the q142 candidate-verification shape): the corpus touches
    * only docs appearing in `pairs` (semi-join on the widened scan,
    * tokens checkpointed once), n-grams explode WITH multiplicity into
    * one (doc, n, gram, count) table checkpointed and shared by the
    * totals aggregate and both sides of the pair equi-join — clipped
    * sums join on (gram, n), never all-pairs, so fan-out is bounded by
    * the pair list the caller mined (capped LSH candidates in the
    * declared query). Precisions cross as exact integer micro-ratios.
    *
    * Output: one row per (pair, order n in 1..maxOrder) with the
    * candidate's n-gram total, the clipped overlap, and
    * p_micro = clipped·1e6 div total. A candidate with fewer than n
    * tokens has no order-n grams and emits no order-n row; a
    * zero-overlap pair keeps its zero row. */
  def clippedNgramPrecision(docs: DataFrame, idCol: String, text: Column,
      pairs: DataFrame, maxOrder: Int = 2): DataFrame = {
    val (totals, clip) = pairNgramOverlap(docs, idCol, text, pairs, maxOrder)
    pairs
      .join(totals.select(col("doc").as("doc_a"), col("n"), col("__tot")),
        Seq("doc_a"))
      .join(clip, Seq("doc_a", "doc_b", "n"), "left")
      .na.fill(0L, Seq("__clip"))
      .select(col("doc_a"), col("doc_b"), col("n").cast(LongType).as("n"),
        col("__tot").as("cand_ngrams"), col("__clip").as("clipped"),
        expr("__clip * 1000000 div __tot").as("p_micro"))
  }

  /** The shared multiset-overlap core of [[clippedNgramPrecision]] and
    * [[rougeN]]: semi-joined corpus, ONE checkpointed per-doc
    * (doc, n, gram, count) table feeding the per-doc totals AND both
    * pair-join sides, clipped overlap per (pair, order). */
  private def pairNgramOverlap(docs: DataFrame, idCol: String,
      text: Column, pairs: DataFrame,
      maxOrder: Int): (DataFrame, DataFrame) = {
    require(maxOrder >= 1, "maxOrder >= 1")
    val ids = pairs.select(col("doc_a").as("doc"))
      .union(pairs.select(col("doc_b").as("doc"))).distinct()
    val toks = materialize(Parallelism.ensure(
        docs.select(col(idCol).as("doc"), text.as("__t")))
      .join(ids, Seq("doc"), "left_semi")
      .select(col("doc"), tokens(col("__t")).as("__w")))._1
    val grams = (1 to maxOrder).map { n =>
      toks.filter(size(col("__w")) >= n)
        .select(col("doc"), lit(n).as("n"),
          explode(Parallelism.opaque(
            if (n == 1) col("__w")
            else transform(sequence(lit(0), size(col("__w")) - n),
              i => concat_ws(" ", slice(col("__w"), i + 1, lit(n))))))
            .as("gram"))
    }.reduce(_ union _)
    val counts = materialize(grams.groupBy("doc", "n", "gram")
      .agg(count(lit(1)).as("__c")))._1
    val totals = counts.groupBy("doc", "n").agg(sum(col("__c")).as("__tot"))
    val clip = pairs
      .join(counts.select(col("doc").as("doc_a"), col("n"), col("gram"),
        col("__c").as("__ca")), Seq("doc_a"))
      .join(counts.select(col("doc").as("doc_b"), col("n"), col("gram"),
        col("__c").as("__cb")), Seq("doc_b", "n", "gram"))
      .groupBy("doc_a", "doc_b", "n")
      .agg(sum(least(col("__ca"), col("__cb"))).as("__clip"))
    (totals, clip)
  }

  /** ROUGE-N recall + F1 (Lin 2004 — the summarization-eval twin of
    * q163's BLEU precision: BLEU asks "how much of the CANDIDATE is in
    * the reference", ROUGE asks "how much of the REFERENCE did the
    * candidate recover"; doc_a plays candidate, doc_b reference). Same
    * multiset-clipped overlap machinery and lifecycle as
    * [[clippedNgramPrecision]] — the one checkpointed per-doc n-gram
    * count table feeds totals and both pair-join sides — with the
    * recall denominator (reference totals) and the EXACT integer F1
    * identity `F1 = 2PR/(P+R) = 2·clip/(tot_a+tot_b)` (no
    * micro-ratio composition, no rounding drift; all-positive `div`).
    * A pair lacking order-n grams on EITHER side carries no score at
    * that order and is excluded (the chrF short-side contract — F1
    * needs both denominators). */
  def rougeN(docs: DataFrame, idCol: String, text: Column,
      pairs: DataFrame, maxOrder: Int = 2): DataFrame = {
    val (totals, clip) = pairNgramOverlap(docs, idCol, text, pairs, maxOrder)
    pairs
      .join(totals.select(col("doc").as("doc_b"), col("n"),
        col("__tot").as("__totb")), Seq("doc_b"))
      .join(totals.select(col("doc").as("doc_a"), col("n"),
        col("__tot").as("__tota")), Seq("doc_a", "n"))
      .join(clip, Seq("doc_a", "doc_b", "n"), "left")
      .na.fill(0L, Seq("__clip"))
      .select(col("doc_a"), col("doc_b"), col("n").cast(LongType).as("n"),
        col("__totb").as("ref_ngrams"), col("__clip").as("clipped"),
        expr("__clip * 1000000 div __totb").as("r_micro"),
        expr("2 * __clip * 1000000 div (__tota + __totb)").as("f1_micro"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing order into text" — public): [[Graph.pageRank]] over the
    * word co-occurrence graph — tokens passing the content filter
    * (here `length ≥ minLen`, the public implementations' POS-filter
    * proxy) become nodes, adjacency IN THE FILTERED SEQUENCE (the
    * standard filter-then-window construction) becomes an undirected
    * edge, and the stationary mass ranks corpus keywords. The
    * graph-global counterpart of the frequency lenses (TF-IDF weighs
    * repetition, PMI weighs pairwise association; TextRank weighs
    * CENTRALITY — a word bridging many contexts outranks an equally
    * frequent word locked in one collocation).
    *
    * Determinism: words map to md5-derived long node ids
    * ([[graft.functions.Hashing.hexLong]], the engine-portable id
    * contract), ranks are [[Graph.pageRank]]'s exact fixed-point
    * longs, and the top-k orders by (rank desc, keyword asc) — total
    * because keywords are distinct.
    *
    * Scale shape: edges and vocab are two narrow passes over one
    * filtered-token projection (the array binds to a REAL column
    * before the bigram HOF — the hoisting contract); pageRank brings
    * its own pinned-checkpoint iteration machinery; top-k is a
    * TakeOrdered. */
  def textRankKeywords(docs: DataFrame, text: Column, minLen: Int = 4,
      iters: Int = 5, topK: Int = 50): DataFrame = {
    require(minLen >= 1 && topK >= 1)
    val ft = Parallelism.ensure(docs.select(text.as("__t")))
      .filter(col("__t").isNotNull)
      .select(filter(tokens(col("__t")),
        w => length(w) >= minLen).as("__fw"))
    val bp = ft.filter(size(col("__fw")) >= 2)
      .select(explode(Parallelism.opaque(bigramsOf(col("__fw"))))
        .as("__p"))
      .select(col("__p.w1"), col("__p.w2"))
      .filter(col("w1") =!= col("w2"))
    // symmetrize in ONE pass (the CC round-14 explode form): the union
    // form evaluated the whole bigram pipeline once per branch, and
    // binding the two md5s to real columns first hashes each word once
    val edges = bp
      .select(Hashing.hexLong(col("w1")).as("__h1"),
        Hashing.hexLong(col("w2")).as("__h2"))
      .select(explode(array(
        struct(col("__h1").as("src"), col("__h2").as("dst")),
        struct(col("__h2").as("src"), col("__h1").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    val ranks = Graph.pageRank(edges, "src", "dst", iters)
    val vocab = ft.select(explode(col("__fw")).as("keyword")).distinct()
      .select(col("keyword"), Hashing.hexLong(col("keyword")).as("node"))
    ranks.join(vocab, "node")
      .select(col("keyword"), col("rank_unit"))
      .orderBy(col("rank_unit").desc, col("keyword"))
      .limit(topK)
  }

  /** chrF — character n-gram F-score (Popović 2015, "chrF: character
    * n-gram F-score for automatic MT evaluation" — public): the
    * tokenization-free eval twin of [[clippedNgramPrecision]]'s BLEU
    * precision, and the standard quality score for mined bitext
    * (CCMatrix/NLLB report chrF alongside the q134 margin). Whitespace
    * is stripped, n-grams run over raw characters, and both PRECISION
    * and RECALL aggregate into F_β (β = 2: recall-weighted, the chrF2
    * default) — robust to morphology/segmentation differences that
    * zero out word-level BLEU.
    *
    * Per pair and order n: m = Σ_g min(count_a(g), count_b(g))
    * (multiset clip), P_n = m/|a-grams|, R_n = m/|b-grams|; orders
    * missing on EITHER side (doc shorter than n chars) contribute
    * nothing and are excluded from the order average (the chrF
    * reference behavior for short segments). Everything crosses as
    * exact integer micro-ratios over all-positive masses (`div` ==
    * `//`): per-order P/R micro-ratios average via integer div over
    * n_orders, and F2 = 5·P·R div (4P+R) stays within long range
    * (5·10¹² max).
    *
    * Scale shape (the q163 lifecycle): corpus semi-joined to the
    * capped candidate docs, ONE checkpointed (doc, n, gram, count)
    * char-gram table shared by totals and both pair-join sides —
    * gram-keyed equi-joins bounded by the pair cap, never all-pairs.
    * Output: doc_a, doc_b, n_orders, chrp_micro, chrr_micro,
    * chrf2_micro. */
  def chrF(docs: DataFrame, idCol: String, text: Column,
      pairs: DataFrame, maxOrder: Int = 3): DataFrame = {
    require(maxOrder >= 1, "maxOrder >= 1")
    val ids = pairs.select(col("doc_a").as("doc"))
      .union(pairs.select(col("doc_b").as("doc"))).distinct()
    // the stripped char string lands in a REAL column before the
    // n-gram HOF (the hoisting contract: one regexp pass per doc, not
    // one per gram)
    val chars = materialize(Parallelism.ensure(
        docs.select(col(idCol).as("doc"), text.as("__t")))
      .join(ids, Seq("doc"), "left_semi")
      .filter(col("__t").isNotNull)
      .select(col("doc"), regexp_replace(col("__t"), " ", "").as("__s")))._1
    val grams = (1 to maxOrder).map { n =>
      chars.filter(length(col("__s")) >= n)
        .select(col("doc"), lit(n).as("n"),
          explode(Parallelism.opaque(
            transform(sequence(lit(0), length(col("__s")) - n),
              i => col("__s").substr(i + 1, lit(n))))).as("gram"))
    }.reduce(_ union _)
    val counts = materialize(grams.groupBy("doc", "n", "gram")
      .agg(count(lit(1)).as("__c")))._1
    val totals = counts.groupBy("doc", "n").agg(sum(col("__c")).as("__tot"))
    val clip = pairs
      .join(counts.select(col("doc").as("doc_a"), col("n"), col("gram"),
        col("__c").as("__ca")), Seq("doc_a"))
      .join(counts.select(col("doc").as("doc_b"), col("n"), col("gram"),
        col("__c").as("__cb")), Seq("doc_b", "n", "gram"))
      .groupBy("doc_a", "doc_b", "n")
      .agg(sum(least(col("__ca"), col("__cb"))).as("__m"))
    val perOrder = pairs
      .join(totals.select(col("doc").as("doc_a"), col("n"),
        col("__tot").as("__ta")), Seq("doc_a"))
      .join(totals.select(col("doc").as("doc_b"), col("n"),
        col("__tot").as("__tb")), Seq("doc_b", "n"))
      .join(clip, Seq("doc_a", "doc_b", "n"), "left")
      .na.fill(0L, Seq("__m"))
    perOrder
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("__m * 1000000 div __ta")).as("__sp"),
        sum(expr("__m * 1000000 div __tb")).as("__sr"))
      .withColumn("chrp_micro", expr("__sp div n_orders"))
      .withColumn("chrr_micro", expr("__sr div n_orders"))
      .withColumn("chrf2_micro", coalesce(
        expr("5 * chrp_micro * chrr_micro div " +
          "nullif(4 * chrp_micro + chrr_micro, 0)"), lit(0L)))
      .select(col("doc_a"), col("doc_b"), col("n_orders"),
        col("chrp_micro"), col("chrr_micro"), col("chrf2_micro"))
  }

  /** Exact tie-aware ROC AUC — the Mann–Whitney identity (Hanley &
    * McNeil 1982): AUC = P(score⁺ > score⁻) + ½P(tie), computed WITHOUT
    * doubles by doubling — per distinct score s,
    * `2·numerator += cp(s)·(2·CN_<(s) + cn(s))`, so ties contribute
    * their exact half and `auc_micro = num2·1e6 div (2·n⁺·n⁻)` on
    * positive mass. The threshold-free companion of [[thresholdSweep]]
    * (one number per filter, no operating point chosen) and
    * [[calibrationCurve]] (which checks the scores' meaning, not their
    * ranking). NULL scores carry no ranking evidence and are excluded;
    * NULL labels are negatives (the q164 contract); degenerate
    * one-class inputs return NULL, not a fake 0.5.
    *
    * Scale: the corpus collapses to the DISTINCT-SCORE table in one
    * hash aggregate; the cumulative window runs over that table, whose
    * size is bounded by the score's own resolution (micro-quantized
    * classifier scores, not corpus rows). */
  def aucExact(df: DataFrame, score: Column, label: Column): DataFrame = {
    val base = df.filter(score.isNotNull)
      .select(score.as("__s"), coalesce(label, lit(false)).as("__l"))
    val byScore = base.groupBy("__s")
      .agg(sum(when(col("__l"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__l"), 1L).otherwise(0L)).as("__cn"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    byScore
      .withColumn("__cnlt", coalesce(sum(col("__cn")).over(w), lit(0L)))
      .agg(sum(expr("__cp * (2 * __cnlt + __cn)")).as("__auc2"),
        sum(col("__cp")).as("n_pos"), sum(col("__cn")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          expr("__auc2 * 1000000 div (2 * n_pos * n_neg)"))
          .otherwise(lit(null)).as("auc_micro"))
  }

  /** Operating-point selection for a quality filter: precision and
    * recall at every score-decile threshold — the PR sweep a pipeline
    * runs before FREEZING a classifier's cut, companion to
    * [[calibrationCurve]] ("are the scores honest?" vs this operator's
    * "where do we cut, and what does each cut cost?").
    *
    * Thresholds are the EXACT interpolated score quantiles from the
    * histogram-selection machinery ([[Quantiles.quantileContBucketed]]
    * — no corpus-wide ranking window, ever), broadcast back as one
    * row; the sweep itself is then ONE conditional aggregate over the
    * scored table: for each threshold t, n_pred = |score ≥ t| and
    * n_tp = |score ≥ t ∧ label|. The only doubles are the
    * interpolated thresholds themselves, bit-identical cross-engine
    * (the q109/q41 quantile contract); precision/recall cross as
    * exact integer micro-ratios. NULL scores never pass a threshold;
    * NULL labels count as negatives.
    *
    * Output: one row per requested fraction: frac_pct, thr (the
    * interpolated cut), n_pred, n_tp, n_pos (corpus positives),
    * precision_micro, recall_micro. */
  def thresholdSweep(scored: DataFrame, score: Column, label: Column,
      fracs: Seq[Double] = (1 to 9).map(_ / 10.0),
      width: Double = 1e6): DataFrame = {
    require(fracs.nonEmpty && fracs == fracs.sorted.distinct &&
      fracs.forall(p => p > 0.0 && p < 1.0),
      "fracs must be ascending, distinct, strictly inside (0, 1)")
    def tName(p: Double): String = s"__t${math.round(p * 100)}"
    // two passes (cut selection, sweep): checkpoint so the upstream
    // scoring subplan runs once, not once per job
    val base = materialize(scored.select(score.cast(DoubleType).as("__s"),
      coalesce(label, lit(false)).as("__y")))._1
    val cuts = Quantiles.quantileContBucketed(base, Seq.empty,
      Seq(("s", col("__s"), width, fracs.map(p => (tName(p), p)))))
    val aggs =
      fracs.flatMap { p =>
        Seq(
          sum(when(col("__s") >= col(tName(p)), 1L).otherwise(0L))
            .as(s"__pred${math.round(p * 100)}"),
          sum(when(col("__s") >= col(tName(p)) && col("__y"), 1L)
            .otherwise(0L)).as(s"__tp${math.round(p * 100)}"),
          max(col(tName(p))).as(tName(p)))
      } :+ sum(when(col("__y"), 1L).otherwise(0L)).as("__pos")
    val one = base.crossJoin(broadcast(cuts)).agg(aggs.head, aggs.tail: _*)
    one
      .select(explode(array(fracs.map { p =>
        val k = math.round(p * 100)
        struct(lit(k).as("frac_pct"), col(tName(p)).as("thr"),
          col(s"__pred$k").as("n_pred"), col(s"__tp$k").as("n_tp"),
          col("__pos").as("n_pos"))
      }: _*)).as("__r"))
      .select(col("__r.frac_pct"), col("__r.thr"), col("__r.n_pred"),
        col("__r.n_tp"), col("__r.n_pos"),
        expr("__r.n_tp * 1000000 div nullif(__r.n_pred, 0)")
          .as("precision_micro"),
        expr("__r.n_tp * 1000000 div nullif(__r.n_pos, 0)")
          .as("recall_micro"))
  }

  /** Moore–Lewis cross-entropy difference selection (Moore & Lewis
    * 2010, "Intelligent selection of language model training data" —
    * public): score every document with TWO [[lmTrain]] add-one
    * hashed-bigram LMs — one trained on the IN-DOMAIN slice, one on a
    * GENERAL slice — and keep documents where
    * `H_in(d) − H_gen(d) < threshold`: text the target domain predicts
    * better than the background does. The third selection lens next to
    * DSIR (importance ratios, q128) and the NB classifier (posterior
    * odds, q131): CED cancels the "easy text scores well everywhere"
    * confound that a single-LM perplexity cut (q132) suffers from.
    *
    * Determinism contract: both per-pair nlls use the exact
    * [[lmPerplexityBuckets]] quantizer (one ln of a ratio of
    * exactly-represented integers → micro-nats), per-doc sums are long
    * folds, means are integer `div`, and the CED is a subtraction of
    * two already-floored means — bit-identical across engines.
    *
    * Scale shape: each model is a ≤B²-row pair table packed into ONE
    * broadcast row (the q131/q132 single-broadcast fix — no corpus
    * re-read per consumer); the corpus is exploded into bigram buckets
    * ONCE and both folds score in the SAME aggregate, so adding the
    * second model costs zero extra shuffles. Output: doc, n_pairs,
    * nll_in_micro, nll_gen_micro, mean_in_micro, mean_gen_micro,
    * ced_micro, selected. Docs with <2 tokens carry no bigram evidence
    * and are dropped (the q132 contract).
    *
    * Operating point: a raw `CED < 0` cut is miscalibrated when the
    * two training slices differ in size (add-one smoothing shifts the
    * smaller model's every score up by roughly ln(|gen|/|in|), so
    * nothing — or everything — clears zero). The default
    * `thresholdMicro = None` therefore cuts at the CORPUS-MEAN CED
    * (`Σced div n`, exact integer arithmetic, one extra
    * statistics-sized aggregate broadcast back) — "more in-domain than
    * the average document", the relative operating point Moore & Lewis
    * tune by held-out perplexity; pass `Some(t)` to pin an absolute
    * micro-nat threshold instead. */
  def crossEntropyDiffSelect(df: DataFrame, idCol: String, text: Column,
      inDomain: DataFrame, inText: Column,
      general: DataFrame, genText: Column,
      buckets: Int = 256, thresholdMicro: Option[Long] = None): DataFrame = {
    require(buckets >= 2, "need at least 2 hash buckets")
    def pack(reference: DataFrame, refText: Column,
        pm: String, c1: String): DataFrame = addOnePack(
      materialize(lmTrain(reference, refText, 2, buckets))._1, buckets, pm, c1)
    def nll(pm: String, c1: String): Column =
      addOneNll(col("b1"), col("b2"), buckets, pm, c1)
    val packed = broadcast(
      pack(inDomain, inText, "__pmi", "__c1i")
        .crossJoin(pack(general, genText, "__pmg", "__c1g")))
    val scored = docNgrams(df, idCol, text, 2, buckets)
      .crossJoin(packed)
      .withColumn("__ni", nll("__pmi", "__c1i"))
      .withColumn("__ng", nll("__pmg", "__c1g"))
      .groupBy("doc")
      .agg(sum(col("m")).as("n_pairs"),
        sum(col("m") * col("__ni")).as("nll_in_micro"),
        sum(col("m") * col("__ng")).as("nll_gen_micro"))
      .withColumn("mean_in_micro", expr("nll_in_micro div n_pairs"))
      .withColumn("mean_gen_micro", expr("nll_gen_micro div n_pairs"))
      .withColumn("ced_micro",
        col("mean_in_micro") - col("mean_gen_micro"))
    thresholdMicro match {
      case Some(t) =>
        scored.withColumn("selected", col("ced_micro") < lit(t))
      case None =>
        // two consumers (cut selection, decision): checkpoint so the
        // scoring subplan runs once (the thresholdSweep lifecycle);
        // the cut is ONE row broadcast into the projection. Built from
        // two ALL-POSITIVE integer divisions (Σmean_in div n −
        // Σmean_gen div n), never `Σced div n`: ced sums can go
        // negative, where Spark's `div` truncates toward zero but SQL
        // `//` floors — the q84 positive-mass contract
        val base = materialize(scored)._1
        base.crossJoin(broadcast(base.agg(
            (expr("sum(mean_in_micro) div count(1)") -
              expr("sum(mean_gen_micro) div count(1)")).as("__cut"))))
          .withColumn("selected", col("ced_micro") < col("__cut"))
          .drop("__cut")
    }
  }

  /** Burrows' Delta stylometric attribution (Burrows 2002; Argamon
    * 2008's analysis — the standard authorship-attribution measure:
    * docs and author profiles live in a space of STANDARDIZED
    * function-word rates, and Delta is the mean absolute difference of
    * standardized scores; here the integer-exact variant — rates scale
    * by the corpus floor-mean and mean-absolute-deviation instead of
    * mean/σ, so no sqrt and no double ever enters a comparison).
    * The provenance lens the dedup tier lacks: near-dup finds COPIES,
    * Delta finds the same HAND.
    *
    * Pipeline (all exact longs): per doc, marker rates
    * `f = count·1e6 div n_tokens`; per marker over the corpus,
    * `fbar = Σf div n` and `md = Σ|f−fbar| div n` (ONE statistics row,
    * broadcast — never a corpus collect); standardized
    * `z = sign-split (f−fbar)·1e6 div max(md,1)` (negative numerators
    * are exactly where div and // diverge); per candidate source the
    * centroid `zc = sign-split Σz div n_src`; and
    * `delta(doc, src) = Σ_w |z − zc| div K`. Attribution = the
    * min-delta source via the bounded [[Relational.topKPerGroup]]
    * heap (score −delta, smallest source index breaks ties) — no
    * doc×source window. Docs with no tokens are excluded; the marker
    * list is the caller's curated function-word set (Burrows' top-K
    * frequency list is one choice of it). */
  def burrowsDelta(df: DataFrame, idCol: String, srcCol: String,
      textCol: Column, markers: Seq[String]): DataFrame = {
    require(markers.nonEmpty && markers == markers.distinct,
      "markers must be distinct and non-empty")
    import org.apache.spark.sql.types.LongType
    val k = markers.length
    val base = Parallelism.ensure(
        df.filter(textCol.isNotNull && col(srcCol).isNotNull)
          .select(col(idCol), col(srcCol).as("__src"), textCol.as("__tx")))
      .withColumn("__t", filter(tokens(col("__tx")), t => length(t) > 0))
      .withColumn("__n", size(col("__t")).cast(LongType))
      // unpushable: the predicate references size(filter(tokens(__tx)))
      // — pushed below the ensure exchange it would re-tokenize the
      // whole corpus on the single scan task (the q141/q144 trap)
      .filter(Parallelism.unpushable(col("__n") > 0L))
    // 3 jobs read it
    val rated = materialize(markers.zipWithIndex.foldLeft(base) {
      case (acc, (w, i)) =>
      acc.withColumn(s"__f$i",
        expr(s"CAST(size(filter(__t, x -> x = '$w')) AS BIGINT)" +
          " * 1000000 div __n"))
    }.drop("__tx", "__t"))._1
    // pass 1: corpus floor-means (one statistics row)
    val statAggs = markers.indices.map(i =>
      sum(col(s"__f$i")).as(s"__sf$i")) :+ count(lit(1)).as("__nd")
    val stats = rated.agg(statAggs.head, statAggs.tail: _*)
      .select(markers.indices.map(i =>
        expr(s"__sf$i div __nd").as(s"__fbar$i")) :+ col("__nd"): _*)
    val withBar = rated.crossJoin(broadcast(stats))
    // pass 2: mean absolute deviations (one statistics row, floor ≥ 1)
    val mdAggs = markers.indices.map(i =>
      sum(abs(col(s"__f$i") - col(s"__fbar$i"))).as(s"__sad$i")) :+
      max(col("__nd")).as("__nd2")
    val mds = withBar.agg(mdAggs.head, mdAggs.tail: _*)
      .select(markers.indices.map(i =>
        expr(s"greatest(__sad$i div __nd2, 1)").as(s"__md$i")): _*)
    // standardized scores, sign-split (negative numerators are where
    // div and // diverge)
    // centroids AND the doc side read it
    val z = materialize(markers.indices.foldLeft(
        withBar.crossJoin(broadcast(mds))) {
      (acc, i) =>
        acc.withColumn(s"__z$i", expr(
          s"CASE WHEN __f$i >= __fbar$i" +
            s" THEN (__f$i - __fbar$i) * 1000000 div __md$i" +
            s" ELSE -((__fbar$i - __f$i) * 1000000 div __md$i) END"))
    }.select(col(idCol) +: col("__src") +:
      markers.indices.map(i => col(s"__z$i")): _*))._1
    // per-source centroids (sign-split floor means), md5-keyed for the
    // deterministic tie-break the top-k heap needs
    val cAggs = markers.indices.map(i =>
      sum(col(s"__z$i")).as(s"__sz$i")) :+ count(lit(1)).as("__ns")
    val centroids = z.groupBy(col("__src").as("cand"))
      .agg(cAggs.head, cAggs.tail: _*)
      .select(col("cand") +:
        graft.functions.Hashing.hexLong(col("cand")).as("__cid") +:
        markers.indices.map(i => expr(
          s"CASE WHEN __sz$i >= 0 THEN __sz$i div __ns" +
            s" ELSE -((-__sz$i) div __ns) END").as(s"__zc$i")): _*)
    val deltas = z.crossJoin(broadcast(centroids))
      .withColumn("__delta", expr(
        markers.indices.map(i => s"abs(__z$i - __zc$i)")
          .mkString("(", " + ", s") div $k"))) // ≥ 0: plain div is safe
    val best = Relational.topKPerGroup(
        deltas.withColumn("__negd", -col("__delta")),
        Seq(idCol), col("__negd"), col("__cid"), 1)
      .select(col(idCol), col("id").as("__cid"))
      .join(broadcast(centroids.select(col("cand").as("predicted"),
        col("__cid"))), Seq("__cid"))
    deltas.join(best.withColumnRenamed("predicted", "__pred"),
        Seq(idCol))
      .filter(col("cand") === col("__pred"))
      .select(col(idCol), col("__src").as("source"),
        col("__pred").as("predicted"), col("__delta").as("delta_micro"),
        (col("__src") === col("__pred")).as("correct"))
  }

  /** TextTiling topic segmentation (Hearst 1997 — lexical-cohesion
    * valleys as topic boundaries; the document-STRUCTURE operator the
    * chunking tier lacks: q39/q101 cut at fixed sizes, this cuts where
    * the vocabulary actually shifts, the right pre-chunker for RAG and
    * for long-document packing). Jaccard-cohesion variant: at every
    * block gap, similarity of the `windowBlocks`-block windows on each
    * side is `|distinct∩|·1e6 div |distinct∪|` (exact integers — the
    * cosine of Hearst §3.1 swapped for the set form the oracle can
    * mirror token-for-token), and a gap is a boundary when its DEPTH
    * `(lpeak−v)+(rpeak−v)` reaches `minDepthMicro`, where the peaks
    * are the highest similarity within `peakSpan` gaps on each side —
    * the bounded stand-in for Hearst's hill-climb to the nearest
    * local maximum (a FULL-span peak overfires: every gap in a
    * two-topic document would see the far topic's high plateau and
    * score deep; measured 67% of spiked-doc gaps flagging vs 24%
    * local — the local form is the paper's intent and the one that
    * marks the junction, not the whole document).
    *
    * Shape: pure per-row narrow compute routed through
    * [[Parallelism.ensure]]: the token array binds ONCE, the gap-sim
    * array binds ONCE more (the HOF-hoisting contract — inlining
    * re-evaluates the whole sim vector per depth term), then one
    * explode to (doc, gap) rows. No shuffle before the output; docs
    * with fewer than two blocks have no gap and are excluded BEFORE
    * the sequence builds (Spark's `sequence(1, 0)` DESCENDS). */
  def textTiling(df: DataFrame, idCol: String, textCol: Column,
      blockSize: Int = 8, windowBlocks: Int = 2,
      minDepthMicro: Long = 400000L, peakSpan: Int = 3): DataFrame = {
    require(blockSize >= 1 && windowBlocks >= 1 && peakSpan >= 1,
      "degenerate tiling params")
    val k = blockSize; val w = windowBlocks; val h = peakSpan
    import org.apache.spark.sql.types.LongType
    val base = Parallelism.ensure(
        df.filter(textCol.isNotNull).select(col(idCol), textCol.as("__tx")))
      .withColumn("__t", filter(tokens(col("__tx")), t => length(t) > 0))
      .withColumn("__ng",
        (expr(s"(size(__t) + ${k - 1}) div $k") - 1).cast("int"))
      // unpushable: pushed below the ensure exchange this predicate
      // substitutes the token-split expression and serializes the whole
      // tokenization onto the single scan task (the q141/q144 trap)
      .filter(Parallelism.unpushable(col("__ng") >= 1))
    // each window's distinct set and the intersection bind ONCE per gap
    // (the element_at(transform(array(...)), 1) binding idiom — Spark
    // does not hoist repeated subtrees out of HOF lambdas)
    val sims = base.withColumn("__sims", expr(
      s"""transform(sequence(1, __ng), g ->
            element_at(transform(array(struct(
                array_distinct(slice(__t, greatest(1, (g - $w) * $k + 1),
                  g * $k - greatest(1, (g - $w) * $k + 1) + 1)) AS dl,
                array_distinct(slice(__t, g * $k + 1,
                  least(g + $w, __ng + 1) * $k - g * $k)) AS dr)),
              p -> element_at(transform(
                array(CAST(size(array_intersect(p.dl, p.dr)) AS BIGINT)),
                i -> i * 1000000 div (CAST(size(p.dl) AS BIGINT)
                  + CAST(size(p.dr) AS BIGINT) - i)), 1)), 1))"""))
    sims
      .withColumn("__gap", explode(expr(
        s"""transform(sequence(1, __ng), g -> struct(
             CAST(g AS BIGINT) AS gap,
             element_at(__sims, g) AS sim_micro,
             array_max(slice(__sims, greatest(1, g - $h),
                 g - greatest(1, g - $h) + 1))
               + array_max(slice(__sims, g, least($h + 1, __ng - g + 1)))
               - 2 * element_at(__sims, g) AS depth_micro))""")))
      .select(col(idCol), col("__gap.gap").as("gap"),
        (col("__gap.gap") * k).cast(LongType).as("pos_tokens"),
        col("__gap.sim_micro"), col("__gap.depth_micro"),
        (col("__gap.depth_micro") >= minDepthMicro).as("is_boundary"))
  }

  /** Unicode script profile + mixed-script flag (the homoglyph/
    * spoofing signal — UTS #39 confusable detection's corpus-scale
    * cousin, and a standard web-crawl spam facet next to the C4
    * blocklist and the quality rules: Latin text salted with Cyrillic
    * look-alikes or an unrelated CJK run is a strong junk predictor).
    * Per doc: code-point counts per script range (explicit BMP ranges,
    * portable across regex engines — no engine-named \\p classes),
    * `foreign_micro = (cyrillic+cjk)·1e6 div n_chars` (positive mass),
    * and `mixed` = Latin present AND ≥ `minForeign` foreign code
    * points. Pure per-row narrow scan expression, zero shuffle; empty
    * and NULL texts carry no profile and are excluded. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: Column,
      minForeign: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.LongType
    def cnt(pat: String) =
      regexp_count(col("__tx"), lit(pat)).cast(LongType)
    // widen before the regexp counts (328 ms serialized at sf0.1,
    // round-14 StageAudit sweep). r15 (VERDICT item 5): widen the
    // 2-column SELECTION, not the full frame — ensure(df) un-pruned the
    // scan to every source column (q184 shipped doc_id,text,lang,
    // source,n_chars through the exchange for a 2-column query). The
    // caller-supplied textCol evaluates below the exchange on the scan
    // task, which is fine for this operator's callers (cheap when/
    // concat spikes); the heavy regexp_count projections stay above,
    // wide. StageAudit guards the serialized-stage regression class.
    Parallelism.ensure(df.select(col(idCol), textCol.as("__tx")))
      .filter(col("__tx").isNotNull)
      .withColumn("n_chars", length(col("__tx")).cast(LongType))
      .filter(col("n_chars") > 0L)
      .withColumn("n_latin", cnt("[A-Za-z]"))
      .withColumn("n_cyrillic", cnt("[\\x{0400}-\\x{04FF}]"))
      .withColumn("n_cjk", cnt("[\\x{4E00}-\\x{9FFF}]"))
      .withColumn("n_digit", cnt("[0-9]"))
      .withColumn("foreign_micro",
        expr("(n_cyrillic + n_cjk) * 1000000 div n_chars"))
      .withColumn("mixed",
        col("n_latin") > 0L &&
          col("n_cyrillic") + col("n_cjk") >= minForeign.toLong)
      .drop("__tx")
  }

  /** Flesch–Kincaid grade + Flesch reading ease (Kincaid et al. 1975 /
    * Flesch 1948 — the classic surface readability pair, a quality-tier
    * member next to the Gopher rules and the stopword/length signals;
    * readability bands are a standard curation facet for educational-
    * content selection). Syllables use the public vowel-group heuristic
    * `max(1, #[aeiouy]+ runs)` per word; sentences count terminal
    * periods (`max(1, #'.')`).
    *
    * Exact-integer contract: both formulas decompose into all-POSITIVE
    * scaled ratios computed with `div` (== SQL `//` on positive mass),
    * constants subtracted AFTER the divisions — so the possibly-negative
    * final values never route a negative through the floor-vs-truncate
    * divergence: `fk = 390000·W div S + 11800000·Syl div W − 15590000`,
    * `ease = 206835000 − 1015000·W div S − 84600000·Syl div W`.
    *
    * Pure per-row narrow compute: the word array binds ONCE to a real
    * column (the HOF-hoisting contract), one codegen'd fold counts
    * syllables, zero shuffles. Empty/null texts (W = 0) carry no
    * readability and are excluded — mirror `n_words > 0`. */
  def readability(df: DataFrame, idCol: String, textCol: Column): DataFrame =
    // widen the whole frame FIRST (ensure(df), not ensure(select)): the
    // caller's textCol often carries a spike expression, and selecting
    // below the exchange would evaluate it on the single scan task —
    // q178 ran fully serialized (615 ms at sf0.1, round-14 StageAudit
    // sweep). The n_words filter is pinned unpushable: substituted, it
    // would drag the whole tokenization below the widening exchange
    // (the q141 trap).
    Parallelism.ensure(df)
      .select(col(idCol),
        filter(tokens(regexp_replace(textCol, "\\.", " ")),
          w => length(w) > 0).as("__w"),
        greatest(lit(1L),
          regexp_count(textCol, lit("\\.")).cast(LongType)).as("n_sentences"))
      .withColumn("n_words", size(col("__w")).cast(LongType))
      .filter(Parallelism.unpushable(col("n_words") > 0L))
      .withColumn("n_syllables",
        aggregate(col("__w"), lit(0L), (acc, w) => acc +
          greatest(lit(1L), regexp_count(w, lit("[aeiouy]+")).cast(LongType))))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (expr("390000 * n_words div n_sentences") +
          expr("11800000 * n_syllables div n_words") -
          lit(15590000L)).as("fk_grade_micro"),
        (lit(206835000L) -
          expr("1015000 * n_words div n_sentences") -
          expr("84600000 * n_syllables div n_words")).as("ease_micro"))
}
