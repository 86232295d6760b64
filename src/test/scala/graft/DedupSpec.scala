package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (4L, "completely different content about spark catalyst optimizer rules here"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", col("text"))
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L))) // docs 1,2 collapse to keep_id=1
    assert(out.count(_._2 == 1L) == 3)
  }

  test("minhash LSH finds near-dup pair, not unrelated docs") {
    val cand = Dedup.minHashCandidates(docs, "doc_id", col("text"), 5, 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L))) // identical docs always collide
    assert(cand.contains((1L, 3L)) || cand.contains((2L, 3L))) // near-dup
    assert(!cand.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated isolated
  }

  test("simhash signatures: identical docs equal, near-dups close, unrelated far") {
    val sig = Dedup.simHashSignatures(docs, "doc_id", col("text"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("simhash candidates pair identical docs with hamming 0") {
    val cand = Dedup.simHashCandidates(docs, "doc_id", col("text"))
      .as[(Long, Long, Int)].collect()
    assert(cand.exists(c => c._1 == 1L && c._2 == 2L && c._3 == 0))
  }

  test("bucket cap: results unchanged when no bucket exceeds the cap; giant buckets dropped") {
    val base = Dedup.minHashCandidates(docs, "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    val generous = Dedup.minHashCandidates(docs, "doc_id", col("text"),
      maxBucket = 1000000).as[(Long, Long)].collect().toSet
    assert(base == generous) // cap is invisible when no bucket exceeds it
    val capped1 = Dedup.minHashCandidates(docs, "doc_id", col("text"),
      maxBucket = 1).as[(Long, Long)].collect()
    assert(capped1.isEmpty) // every >1 bucket dropped -> no candidates
    val sh = Dedup.simHashCandidates(docs, "doc_id", col("text"), maxBucket = 1)
      .as[(Long, Long, Int)].collect()
    assert(sh.isEmpty)
  }

  test("segmentDedup strikes cross-doc repeated segments, rebuilds in order, keeps emptied docs") {
    // "a b c d e" is a full 5-word segment shared by 3 docs (df=3 →
    // boilerplate at maxDocFreq=3); each doc also has unique tail words
    val segDocs = Seq(
      (1L, "a b c d e one two three four five six"),
      (2L, "a b c d e unrelated middle words here now extra"),
      (3L, "a b c d e"), // nothing but boilerplate → empty survivor
      (4L, "entirely distinct text with no shared segments at all padding")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(segDocs, "doc_id", col("text"), 5, 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 4) // every doc survives as a row
    assert(out(1L)._2 == "one two three four five six" && out(1L)._4 == 1L)
    assert(out(2L)._2 == "unrelated middle words here now extra")
    assert(out(3L)._2 == "" && out(3L)._3 == 0L && out(3L)._4 == 1L)
    // untouched doc: full text back, zero removed
    assert(out(4L)._2 == segDocs.filter(col("doc_id") === 4L)
      .select("text").as[String].head() && out(4L)._4 == 0L)
    // below the threshold nothing is removed
    val loose = Dedup.segmentDedup(segDocs, "doc_id", col("text"), 5, 4)
      .as[(Long, String, Long, Long)].collect()
    assert(loose.forall(_._4 == 0L))
  }

  test("sentenceDedup strikes cross-doc repeated sentences, rebuilds in order, drops sentence-free docs") {
    val docs = Seq(
      (1L, "unique opening thought. all rights reserved. closing remark one"),
      (2L, "another different start! all rights reserved. second tail"),
      (3L, "all rights reserved."), // nothing but boilerplate → empty survivor
      (4L, "totally clean document? with two sentences"),
      (5L, ""), (6L, null.asInstanceOf[String]) // no sentences → no row
    ).toDF("doc_id", "text")
    val out = Dedup.sentenceDedup(docs, "doc_id", col("text"), maxDocFreq = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L)) // 5/6 have nothing to dedup
    assert(out(1L)._2 == "unique opening thought. closing remark one" &&
      out(1L)._3 == 2L && out(1L)._4 == 1L)
    assert(out(2L)._2 == "another different start. second tail")
    assert(out(3L)._2 == "" && out(3L)._3 == 0L && out(3L)._4 == 1L)
    assert(out(4L)._2 == "totally clean document. with two sentences" &&
      out(4L)._4 == 0L)
    // below the threshold nothing is removed (df=3 < maxDocFreq=4)
    val loose = Dedup.sentenceDedup(docs, "doc_id", col("text"), maxDocFreq = 4)
      .as[(Long, String, Long, Long)].collect()
    assert(loose.forall(_._4 == 0L))
  }

  test("duplicateSpans: cross-doc window, within-doc merge, two islands, clean docs absent") {
    val docs = Seq(
      // docs 1/2 share exactly one 5-gram "z a b c d" → one span [2,6]
      (1L, "x y z a b c d e"),
      (2L, "q r z a b c d w"),
      // periodic doc: every window repeats (period 5) → ONE merged
      // full-doc span covering all 11 windows
      (3L, "m n o p q m n o p q m n o p q"),
      // two separated duplicated runs → two distinct islands
      (4L, "z a b c d u1 u2 u3 u4 u5 u6 z a b c d"),
      // all-unique doc and a too-short doc → no output rows
      (5L, "aa bb cc dd ee ff gg"),
      (6L, "hh ii")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", col("text"), k = 5)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out((1L, 1L)) == ((2L, 6L, 1L)))
    assert(out((2L, 1L)) == ((2L, 6L, 1L)))
    assert(out((3L, 1L)) == ((0L, 14L, 11L)))
    assert(out((4L, 1L)) == ((0L, 4L, 1L)))
    assert(out((4L, 2L)) == ((11L, 15L, 1L)))
    assert(!out.keySet.exists { case (d, _) => d == 5L || d == 6L })
    assert(out.size == 5)
  }

  test("connectedComponents labels every doc with its cluster's min id") {
    // two chains (1-2-3 via shared middle, 4-5) and an isolated edge pair;
    // chain 1-2, 2-3 means 3 reaches 1 only transitively
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      8L -> 8L, 9L -> 8L))
    // a long path needs diameter iterations, not 1
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chain = Dedup.connectedComponents(path).as[(Long, Long)].collect().toMap
    assert((1L to 8L).forall(chain(_) == 1L))
    assert(Dedup.connectedComponents(spark.emptyDataset[(Long, Long)]
      .toDF("doc_a", "doc_b")).count() == 0)
  }

  test("connectedComponents converges in O(log diameter): 200-node path within 10 rounds") {
    // plain hash-min propagation moves the min label one hop per round,
    // so a 200-node path would blow the default maxIter=10 guard; the
    // pointer-jumping shortcut must cover it in ~log2(200) ≈ 8 rounds
    val path = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(path).as[(Long, Long)].collect().toMap
    assert(out.size == 200 && (1L to 200L).forall(out(_) == 1L))
  }

  test("decontaminate counts shared shingles against the benchmark; clean docs absent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 5-shingles with bench
      (2L, "totally unrelated words appear in this document text"),
      (3L, "alpha beta gamma delta epsilon")       // one shingle, shared
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, "doc_id", col("text"), bench, col("text"), 5)
      .as[(Long, Long)].collect().toMap
    // doc 1 has shingles {a b g d e, b g d e z} both in bench; doc 3 has
    // exactly one; doc 2 none -> absent
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("redactPii masks urls, emails, digit runs in order and counts matches") {
    val df = Seq(
      (1L, "mail user@example.com or visit https://example.com/a ref 1234567890"),
      (2L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.redactPii(col("text")).as("r"),
      TextAnalysis.piiMatchCount(col("text")).as("n"))
      .as[(Long, String, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(1L)._1 == "mail <EMAIL> or visit <URL> ref <NUM>")
    assert(out(1L)._2 == 3L)
    assert(out(2L) == ("nothing sensitive here", 0L))
    // userinfo/port/query URLs are swallowed whole — no host/path leak
    val tricky = Seq((3L, "see https://alice@bank.example.com:8080/statement?acct=99 ok"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.redactPii(col("text")).as("r")).as[String].head()
    assert(tricky == "see <URL> ok", tricky)
  }

  test("stratifiedSample: per-stratum rates, deterministic, subset of flat sample") {
    import graft.operators.TextAnalysis
    val df = (1 to 4000).map(i => (i.toLong, if (i % 2 == 0) "en" else "fr"))
      .toDF("k", "lang")
    val kept = df.filter(TextAnalysis.stratifiedSample(col("k"), col("lang"),
      Map("en" -> 0.1), 0.8)).as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(byLang("en") / 2000.0 - 0.1) < 0.03, byLang.toString)
    assert(math.abs(byLang("fr") / 2000.0 - 0.8) < 0.03, byLang.toString)
    // per-stratum decisions equal the flat sample at the same rate
    val flatEn = df.filter(col("lang") === "en")
      .filter(TextAnalysis.deterministicSample(col("k"), 0.1))
      .as[(Long, String)].collect().toSet
    assert(kept.filter(_._2 == "en").toSet == flatEn)
  }

  test("ngram jaccard verifies candidates: dup=1.0, near-dup high, ordered pairs") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val j = Dedup.ngramJaccard(docs, "doc_id", col("text"), pairs, 3)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) == 0.0)
  }

  test("weightedJaccard: hand-checked tf min/max, repetition contrast, zero-mass NULL") {
    val wdocs = Seq(
      (1L, "a a a b"), (2L, "a b b b"), (3L, "a a a b"),
      (4L, "c c"),
      (5L, null.asInstanceOf[String]), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.weightedJaccard(wdocs, "doc_id", col("text"), pairs)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // tf {a:3,b:1} vs {a:1,b:3}: Σmin = 2, Σmax = 4+4−2 = 6 → 1/3 —
    // while the DISTINCT-token sets are both {a,b} (set Jaccard 1.0):
    // the repetition-aware metric separates what the set metric can't
    assert(out((1L, 2L)) == ((2L, 6L, Some(0.333333))))
    assert(out((1L, 3L)) == ((4L, 4L, Some(1.0))))     // identical
    assert(out((1L, 4L)) == ((0L, 6L, Some(0.0))))     // disjoint
    assert(out((5L, 6L)) == ((0L, 0L, None)))          // 0/0 → NULL
  }

  test("stitchFragments: boundary joins, chains, short-fragment exclusion") {
    val frags = Seq(
      (1L, "a b c d e f g h"),          // tail5 = "d e f g h"
      (2L, "d e f g h x y z"),          // head5 matches 1 -> (1,2)
      (3L, "x y z q r s t u v"),        // head5 "x y z q r" ≠ any tail
      (4L, "g h x y z m n o p"),        // head5 = tail5(2) -> (2,4): chain
      (5L, "d e f g h"),                // EXACTLY k tokens: excluded
      (6L, null.asInstanceOf[String])).toDF("frag_id", "text")
    val out = Dedup.stitchFragments(frags, "frag_id", col("text"), k = 5)
      .as[(Long, Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out == Map(
      (1L, 2L) -> (("d e f g h", 8L + 8L - 5L)),
      (2L, 4L) -> (("g h x y z", 8L + 9L - 5L))), out.toString)
  }

  test("prefixFilterJoin: exact — agrees with brute-force Jaccard over all pairs") {
    // mixed corpus: an exact dup pair, a near-dup pair, unrelated docs,
    // a short-text fallback shingle, a doc whose length ratio fails tau
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),        // dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),         // near-dup of 1
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "one two three four five six seven eight nine eleven"),  // near-dup of 4
      (6L, "completely different words entirely here now"),
      (7L, "xy zz"),                                                // < k fallback
      (8L, "alpha beta gamma")).toDF("doc_id", "text")
    val got = Dedup.prefixFilterJoin(corpus, "doc_id", col("text"), tauPct = 60)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // brute force over every pair with the same shingle definition
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
      else Set(w.mkString(" "))
    }
    val texts = corpus.as[(Long, String)].collect().toMap
    val expect = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = sh(texts(a)); sb = sh(texts(b))
      ov = (sa & sb).size; un = (sa | sb).size
      if 100 * ov >= 60 * un
    } yield (a, b) -> (ov.toLong,
      math.floor(ov.toDouble / un * 1e6 + 0.5) / 1e6)).toMap
    assert(got == expect, s"got $got expected $expect")
    assert(got.contains((1L, 2L)) && got((1L, 2L))._2 == 1.0)
    assert(got.contains((1L, 3L)) && got.contains((4L, 5L)))
  }

  test("prefixFilterJoin: maxPostings cap drops pairs whose only shared prefix token is hot") {
    // ten docs all sharing one rare-ish token set; cap=1 makes every
    // prefix token (df=10) over-posted -> zero candidates survive,
    // while the default cap finds all 45 identical pairs
    val clones = (1L to 10L).map(i => (i, "red green blue cyan magenta"))
      .toDF("doc_id", "text")
    assert(Dedup.prefixFilterJoin(clones, "doc_id", col("text"),
      tauPct = 60).count() == 45L)
    assert(Dedup.prefixFilterJoin(clones, "doc_id", col("text"),
      tauPct = 60, maxPostings = 1L).count() == 0L)
  }

  test("embedding cosine near-dup: parallel vectors similarity 1") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(2.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val sim = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(sim((1L, 2L)) - 1.0) < 1e-9)
    assert(math.abs(sim((1L, 3L))) < 1e-9)
  }

  test("passageClusters: docs stitched from one passage cluster; minShared gates") {
    import spark.implicits._
    // a 10-token shared passage (>= w+k-1 = 7 guarantees >= 1 shared
    // fingerprint) embedded in otherwise-unrelated documents
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one two three four $passage five six seven eight"),
      (2L, s"red blue green yellow $passage purple orange pink teal"),
      (3L, s"north south east west $passage up down left right"),
      (4L, "totally unrelated content with absolutely no shared runs"),
      (5L, "another independent document about something else entirely"))
      .toDF("doc_id", "text")
    val cc = Dedup.passageClusters(docs, "doc_id", col("text"),
        minShared = 1L)
      .as[(Long, Long)].collect().toMap
    // the passage family collapses to one component labeled by its min
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L, cc.toString)
    // unrelated docs have no candidate edge: absent by CC contract
    assert(!cc.contains(4L) && !cc.contains(5L), cc.toString)
    // minShared above the evidence level drops the single-passage family
    val strict = Dedup.passageClusters(docs, "doc_id", col("text"),
        minShared = 50L)
      .as[(Long, Long)].collect()
    assert(strict.isEmpty, strict.mkString(";"))
  }

  test("lshRecallAudit: exact twins hit, dissimilar docs in neither side, counts exact") {
    import spark.implicits._
    def sent(seed: String) = (1 to 30)
      .map(i => s"$seed${(i * 7) % 13}").mkString(" ")
    val docs = Seq(
      (1L, sent("alpha")), (2L, sent("alpha")),   // identical: J = 1
      (3L, sent("beta")), (4L, sent("beta") + " xq yq"), // near twin
      (5L, sent("gamma")),                         // singleton
      (6L, "short"))                               // sub-shingle doc
      .toDF("doc_id", "text")
    val out = Dedup.lshRecallAudit(docs, "doc_id", col("text"),
        tauPct = 80)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    val (nTrue, nCand, nHit, recall, precision) = out
    // identical + near-twin pairs are true; J=1 pairs are ALWAYS
    // candidates (all bands agree), so hit >= 1; consistency bounds
    assert(nTrue == 2L, out.toString)
    assert(nHit <= math.min(nTrue, nCand) && nHit >= 1L, out.toString)
    assert(recall.contains(nHit * 1000000L / nTrue))
    assert(precision.contains(nHit * 1000000L / nCand))
    // empty corpus: zeros and NULL ratios, not fake 0% or 100%
    val empty = Dedup.lshRecallAudit(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", col("text"), tauPct = 80)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    assert(empty == ((0L, 0L, 0L, None, None)), empty.toString)
  }

  test("lshBandingSweep: one row per grid point, truth constant, recall " +
      "monotone non-decreasing in bands, b=16 superset, empty-corpus skeleton") {
    import spark.implicits._
    def sent(seed: String) = (1 to 30)
      .map(i => s"$seed${(i * 7) % 13}").mkString(" ")
    val docs = Seq(
      (1L, sent("alpha")), (2L, sent("alpha")),          // J = 1
      (3L, sent("beta")), (4L, sent("beta") + " xq yq"), // near twin
      (5L, sent("gamma")), (6L, "short"))
      .toDF("doc_id", "text")
    val grid = Seq(1, 2, 4, 8, 16)
    val out = Dedup.lshBandingSweep(docs, "doc_id", col("text"),
        tauPct = 80, bandGrid = grid)
      .as[(Long, Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == grid.map(_.toLong), out.mkString(";"))
    assert(out.map(r => r._1 * r._2).forall(_ == 16L), "bands*rows != numPerm")
    // truth side is banding-independent; candidate volume (and so
    // recall) can only grow as bands increase on a fixed permutation
    // budget: every r-row band agreement at b bands implies agreement
    // of some finer band at 2b bands... not in general — but the J=1
    // pair agrees on EVERY split, so n_hit >= 1 everywhere, and the
    // b=16/r=1 point is a superset of every coarser banding's pairs
    assert(out.map(_._3).distinct.length == 1, "truth varies with banding")
    val byBands = out.map(r => r._1 -> r).toMap
    assert(grid.forall(b => byBands(b.toLong)._5 >= 1L), out.mkString(";"))
    assert(grid.forall(b => byBands(16L)._4 >= byBands(b.toLong)._4),
      "r=1 candidates must contain every coarser banding's pairs")
    // ratio arithmetic exact
    out.foreach { r =>
      if (r._3 > 0) assert(r._6.contains(r._5 * 1000000L / r._3), r.toString)
      if (r._4 > 0) assert(r._7.contains(r._5 * 1000000L / r._4), r.toString)
    }
    // empty corpus: full grid skeleton, zero counts, NULL ratios
    val empty = Dedup.lshBandingSweep(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", col("text"), tauPct = 80, bandGrid = grid)
      .as[(Long, Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(empty.length == grid.length, empty.mkString(";"))
    assert(empty.forall(r => r._3 == 0 && r._4 == 0 && r._5 == 0 &&
      r._6.isEmpty && r._7.isEmpty), empty.mkString(";"))
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("readability: hand-computed FK/ease, vowelless min-1 syllable, null/empty dropped") {
    val rows = Seq((1L, "the cat. a dog runs."), (2L, "xyz qrst"),
      (3L, ""), (4L, null.asInstanceOf[String]))
    val out = TextAnalysis.readability(rows.toDF("doc_id", "text"),
        "doc_id", col("text"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1: W=5 S=2 Syl=5 -> fk = 390000*5 div 2 + 11800000*5 div 5
    //   - 15590000 = -2815000; ease = 206835000 - 2537500 - 84600000
    // doc 2: no period -> S clamps to 1; vowelless words count 1
    //   syllable each -> W=2 S=1 Syl=2
    assert(out == Seq(
      (1L, 5L, 2L, 5L, -2815000L, 119697500L),
      (2L, 2L, 1L, 2L, -3010000L, 120205000L)), out.toString)
    // multi-vowel-group word: 'aerie' = [ae],[ie] -> 2 syllables
    val syl = TextAnalysis.readability(Seq((9L, "aerie")).toDF("doc_id",
        "text"), "doc_id", col("text"))
      .select("n_syllables").as[Long].head()
    assert(syl == 2L)
  }

  test("rougeN: hand-checked recall/F1, clip bites, short side drops its order") {
    val docs = Seq((1L, "a b a"), (2L, "a b b b"), (3L, "x"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 1L)).toDF("doc_a", "doc_b")
    val out = TextAnalysis.rougeN(docs, "doc_id", col("text"), pairs)
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2, r._3) -> r).toMap
    // (1,2) n=1: cand {a:2,b:1}, ref {a:1,b:3} -> clip 2 (the a clips
    // at the REFERENCE count), R = 2/4, F1 = 2*2/(3+4)
    assert(out((1L, 2L, 1L)) == ((1L, 2L, 1L, 4L, 2L, 500000L, 571428L)),
      out.toString)
    // (1,2) n=2: clip {"a b"} = 1 of ref 3, F1 = 2/(2+3)
    assert(out((1L, 2L, 2L)) == ((1L, 2L, 2L, 3L, 1L, 333333L, 400000L)),
      out.toString)
    // (3,1): the 1-token candidate has no bigrams -> order 2 excluded,
    // order 1 scores (x misses entirely: recall 0)
    assert(out.contains((3L, 1L, 1L)) && !out.contains((3L, 1L, 2L)),
      out.keys.toString)
    assert(out((3L, 1L, 1L))._6 == 0L, out.toString)
  }

  test("entity resolution: fuzzy pairs close transitively, canonical = min key, blocks isolate") {
    import graft.operators.{Dedup, Relational}
    // a 3-link chain whose ENDS are 2 edits apart through the middle —
    // pairwise matching alone gives 3 pairs, resolution gives 1 entity
    val parts = Seq(
      (1L, "B1", "widget alpha"), (2L, "B1", "widget alphb"),
      (3L, "B1", "widget alphc"), (4L, "B1", "completely different"),
      (5L, "B2", "widget alpha")) // same name, other block: isolated
      .toDF("p_partkey", "p_brand", "p_name")
    val pairs = Relational.fuzzySelfJoin(parts, "p_partkey", "p_name",
        Seq("p_brand"), maxDist = 2)
      .select(col("key_a").as("doc_a"), col("key_b").as("doc_b"))
    val out = parts.select(col("p_partkey"))
      .join(Dedup.connectedComponents(pairs),
        col("p_partkey") === col("doc"), "left")
      .withColumn("entity_id", coalesce(col("component"), col("p_partkey")))
      .groupBy("entity_id").agg(count(lit(1)).as("n_members"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 1L), out.toString)
  }

  test("burrowsDelta: recovers the hand exactly on separated styles, junk dropped") {
    val a = "alpha beta thus thus thus thus"   // author A: thus-heavy
    val b = "alpha beta very very very very"   // author B: very-heavy
    val rows = (1L to 5L).map(i => (i, "A", a)) ++
      (6L to 10L).map(i => (i, "B", b)) ++
      Seq((11L, "A", ""), (12L, null.asInstanceOf[String], a),
        (13L, "A", null.asInstanceOf[String]))
    val out = TextAnalysis.burrowsDelta(rows.toDF("doc_id", "src", "text"),
        "doc_id", "src", col("text"), Seq("thus", "very"))
      .as[(Long, String, String, Long, Boolean)].collect()
    assert(out.length == 10, out.mkString(","))          // junk excluded
    assert(out.forall(_._5), out.mkString(","))          // all attributed
    // identical docs sit ON their centroid: delta exactly 0
    assert(out.forall(_._4 == 0L), out.mkString(","))
    // and the styles are genuinely separated: cross-author delta > 0
    val deltas = TextAnalysis.burrowsDelta(
        rows.toDF("doc_id", "src", "text"), "doc_id", "src",
        col("text"), Seq("thus", "very"))
    assert(deltas.filter(col("doc_id") === 1L)
      .select("predicted").as[String].head() == "A")
  }

  test("aucExact: perfect/reversed/tied rankings, half-credit ties, degenerate NULL") {
    def run(rows: Seq[(java.lang.Long, java.lang.Boolean)]) =
      TextAnalysis.aucExact(rows.toDF("s", "y"), col("s"), col("y"))
        .as[(Long, Long, Option[Long])].head()
    assert(run(Seq((10L, true), (9L, true), (2L, false), (1L, false)))
      == ((2L, 2L, Some(1000000L))))
    assert(run(Seq((1L, true), (2L, false))) == ((1L, 1L, Some(0L))))
    assert(run(Seq((5L, true), (5L, false), (5L, true), (5L, false)))
      == ((2L, 2L, Some(500000L)))) // all tied: exactly chance
    // one tie pair + one win: (1 + 0.5) / 2 = 0.75
    assert(run(Seq((2L, true), (2L, false), (1L, false)))
      == ((1L, 2L, Some(750000L))))
    // NULL score drops; NULL label is a negative
    assert(run(Seq((2L, true), (1L, null.asInstanceOf[java.lang.Boolean]),
      (null.asInstanceOf[java.lang.Long], false)))
      == ((1L, 1L, Some(1000000L))))
    // one-class input: NULL, not a fake 0.5
    assert(run(Seq((2L, true), (1L, true))) == ((2L, 0L, None)))
  }

  test("textTiling: junction valley deepest and flagged, uniform doc flat, short doc excluded") {
    val a = (1 to 4).flatMap(_ => (1 to 8).map(i => s"a$i")).mkString(" ")
    val b = (1 to 4).flatMap(_ => (1 to 8).map(i => s"b$i")).mkString(" ")
    val rows = Seq(
      (1L, s"$a $b"),            // two topics, junction at token 32
      (2L, s"$a $a"),            // one topic: all gaps flat
      (3L, "tiny doc"),          // < 2 blocks: no gap rows
      (4L, null.asInstanceOf[String]))
    val out = TextAnalysis.textTiling(rows.toDF("doc_id", "text"),
        "doc_id", col("text"), blockSize = 8, windowBlocks = 2,
        minDepthMicro = 400000L)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // sims per gap: same-topic windows are identical 8-word sets
    // (sim 1.0), straddling windows halve, the junction hits 0
    assert(d1.map(_._4).toSeq ==
      Seq(1000000L, 1000000L, 500000L, 0L, 500000L, 1000000L, 1000000L),
      d1.mkString(","))
    val junction = d1(3)
    assert(junction._3 == 32L && junction._5 == 2000000L && junction._6,
      junction.toString)
    assert(junction._5 == d1.map(_._5).max) // the deepest valley
    // topic-interior gaps at full similarity never flag
    assert(!d1.head._6 && !d1.last._6, d1.mkString(","))
    // uniform doc: every gap sim 1.0, depth 0, no boundary
    val d2 = out.filter(_._1 == 2L)
    assert(d2.nonEmpty && d2.forall(r => r._4 == 1000000L && r._5 == 0L
      && !r._6), d2.mkString(","))
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("scriptProfile: per-script counts, mixed needs latin AND foreign mass, junk dropped") {
    val rows = Seq(
      (1L, "abc где xyz"),            // 3 cyrillic + latin: mixed
      (2L, "hello world"),            // pure latin: not mixed
      (3L, "普通话 test 123"), // 3 CJK + latin + digits: mixed
      (4L, "где только"), // no latin: NOT mixed
      (5L, "ab ж cd"),           // 1 foreign char < minForeign: not mixed
      (6L, ""), (7L, null.asInstanceOf[String]))
    val out = TextAnalysis.scriptProfile(rows.toDF("doc_id", "text"),
        "doc_id", col("text"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.size == 5, out.toString)
    // "abc где xyz": 11 chars, 6 latin, 3 cyrillic -> 272727 micro
    assert(out(1L) == ((1L, 11L, 6L, 3L, 0L, 0L, 272727L, true)), out.toString)
    assert(out(2L)._8 == false && out(2L)._4 == 0L, out.toString)
    assert(out(3L)._5 == 3L && out(3L)._6 == 3L && out(3L)._8 == true,
      out.toString)
    assert(out(4L)._8 == false && out(4L)._3 == 0L, out.toString)
    assert(out(5L)._8 == false && out(5L)._4 == 1L, out.toString)
  }

  test("shingles: k-grams for long text, whole text for short (minhash input)") {
    val df = Seq("a b c d e f", "tiny").toDF("text")
      .select(TextAnalysis.shingles(col("text"), 5).as("s"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) == Seq("a b c d e", "b c d e f"))
    assert(out(1) == Seq("tiny"))
  }

  test("bm25 ranks tf saturation, rare-term boost, and length normalization") {
    // four docs, terms {x, y}: doc 1 has x once, doc 2 has x thrice
    // (tf saturates but still wins), doc 3 has only the RARER term y
    // (higher idf per occurrence), doc 4 shares nothing (absent)
    val docs = Seq(
      (1L, "x a b c"),
      (2L, "x x x c"),
      (3L, "y a b c"),
      (4L, "a b c d")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, "doc_id", col("text"), Seq("x", "y"))
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(2L) > out(1L), "higher tf must score higher at equal dl")
    assert(out(3L) > out(1L), "a rarer term (df=1 vs df=2) outscores a common one")
    // hand-check doc 1: N=4, df(x)=2, tf=1, dl=4, avgdl=4
    // idf = ln((4-2+0.5)/(2+0.5)+1) = ln(2); tfn = 1*2.2/(1+1.2*1) = 1
    val expected = BigDecimal(math.log(2.0) * (1.0 * 2.2 / 2.2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == expected, s"got ${out(1L)}, want $expected")
  }

  test("bm25 length normalization: same tf in a shorter doc scores higher") {
    val docs = Seq(
      (1L, "x a"),
      (2L, "x a b c d e f g")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, "doc_id", col("text"), Seq("x"))
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out(1L) > out(2L))
  }

  test("weightedSampleScore: scale-invariant ranking, heavy enrichment, zero sinks") {
    import graft.operators.Relational
    val docs = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) 20L else 1L)).toDF("id", "w")
    def top(df: org.apache.spark.sql.DataFrame, k: Int) = Relational
      .topKPerGroup(df.withColumn("__s",
        TextAnalysis.weightedSampleScore(col("id"), col("w")))
        .withColumn("__g", lit(0L)), Seq("__g"), col("__s"), col("id"), k)
      .select("id").as[Long].collect().toSeq
    val a = top(docs, 40)
    // deterministic: a pure function of (key, weight)
    assert(a == top(docs, 40))
    // scaling every weight by a constant cannot change the order
    assert(a == top(docs.withColumn("w", col("w") * 7L), 40))
    // 20:1 weights on a 50/50 corpus: heavies must dominate the draw
    val heavies = a.count(_ % 2 == 0)
    assert(heavies > 30, s"only $heavies/40 heavy rows sampled")
    // zero weight -> -inf race key: never drawn while positive rows remain
    val withZero = docs.withColumn("w", when(col("id") <= 100L, 0L).otherwise(col("w")))
    assert(top(withZero, 50).forall(_ > 100L))
  }

  test("skipgramPmi: window pairs, contingency margins, degenerate docs") {
    val docs = Seq("a b c d", "x", "").toDF("text")
    val out = TextAnalysis.skipgramPmi(docs, col("text"), window = 2,
      minCount = 1)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // forward pairs within distance 2 of "a b c d" only
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"),
      ("c", "d")))
    // N=5; left margins a:2 b:2 c:1, right margins b:1 c:2 d:2
    assert(math.abs(out(("a", "b"))._2 - math.log(5.0 / 2)) < 1e-6)
    assert(math.abs(out(("c", "d"))._2 - math.log(5.0 / 2)) < 1e-6)
    assert(out(("a", "b"))._1 == 1L)
  }

  test("vocabCoverage: exact-integer crossing ranks") {
    val docs = Seq("a a a a", "b b c").toDF("text")
    val out = TextAnalysis.vocabCoverage(docs, col("text"), Seq(50, 90, 99))
      .select("threshold", "tokens_needed", "vocab_size", "total_tokens")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // counts a:4 b:2 c:1, total 7: 50% at rank 1; 90%/99% need all 3
    assert(out(50L) == ((50L, 1L, 3L, 7L)))
    assert(out(90L) == ((90L, 3L, 3L, 7L)))
    assert(out(99L) == ((99L, 3L, 3L, 7L)))
  }

  test("negativeSamplingWeights: c^0.75 milli-units, exact shares, topK order") {
    val docs = Seq("a a a a a a a a a a a a a a a a", "b c").toDF("text")
    val out = TextAnalysis.negativeSamplingWeights(docs, col("text"), topK = 2)
      .select("token", "n_occurrences", "weight_units", "sample_share")
      .as[(String, Long, Long, Double)].collect()
    // a:16 -> 16^0.75 = 8 -> 8000 units; b,c:1 -> 1000 units each;
    // total 10000. topK=2 keeps a plus the lexicographic tie-winner b.
    assert(out.toSeq == Seq(
      ("a", 16L, 8000L, 0.8), ("b", 1L, 1000L, 0.1)))
  }

  test("sparseCosinePairs: hand-checked 3-gram cosines, df=1 terms prune, topK cuts") {
    val docs = Seq(
      (1L, "a b c d"),     // grams: "a b c", "b c d"
      (2L, "a b c d"),     // identical -> cosine 1.0 with doc 1
      (3L, "a b c x"),     // shares "a b c"; "b c x" is df=1 (pruned)
      (4L, "z z z z z"),   // "z z z" x3
      (5L, "z z z z")      // "z z z" x2 -> colinear with doc 4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.sparseCosinePairs(docs, "doc_id", col("text"),
        ngram = 3, maxDf = 50, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // norms: d1=d2=2, d3=1, d4=9, d5=4; dots: (1,2)=2, (1,3)=(2,3)=1,
    // (4,5)=6. Ties order by (doc_a, doc_b); topK=3 cuts one 0.707107.
    assert(out == Seq(
      (1L, 2L, 2L, 1.0), (4L, 5L, 6L, 1.0), (1L, 3L, 1L, 0.707107)))
    // the un-hinted norm-attach path (for |docs| past driver scale)
    // returns identical rows — the tfIdf broadcastVocab contract
    val shuffled = TextAnalysis.sparseCosinePairs(docs, "doc_id",
        col("text"), ngram = 3, maxDf = 50, topK = 3,
        broadcastNorms = false)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(shuffled == out)
  }

  test("sparseCosinePairs: a near-clique larger than maxDf cannot blow the pair join") {
    // 300 docs sharing the ENTIRE banded term set — the adversarial case
    // for any inverted-index pair join: uncapped, the shared terms alone
    // fan out 300*299/2 ≈ 45k pairs PER TERM. The [2, maxDf] band makes
    // those terms df=300 > maxDf -> pruned, so the clique contributes
    // ZERO pair rows; only the df-banded decoy terms pair.
    val clique = (1L to 300L).map(i => (i, "q w e r t y u i"))
    val decoys = Seq((1001L, "m n o p"), (1002L, "m n o p"), (1003L, "m n o z"))
    val docs = (clique ++ decoys).toDF("doc_id", "text")
    val out = TextAnalysis.sparseCosinePairs(docs, "doc_id", col("text"),
        ngram = 3, maxDf = 50, topK = 1000)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // correctness: only decoy pairs survive — (1001,1002) identical in
    // banded space (cosine 1.0 via "m n o" df=3 + "n o p" df=2), and
    // (1001,1003)/(1002,1003) share "m n o" only
    assert(out.map(p => (p._1, p._2)).toSet ==
      Set((1001L, 1002L), (1001L, 1003L), (1002L, 1003L)))
    assert(out.head == ((1001L, 1002L, 2L, 1.0)))
    assert(out.count(_._4 == 1.0) == 1, "clique pairs must not appear at all")
    // a clique exactly AT maxDf still pairs completely (cap is inclusive)
    val atCap = (1L to 5L).map(i => (i, "h j k l")).toDF("doc_id", "text")
    val capOut = TextAnalysis.sparseCosinePairs(atCap, "doc_id", col("text"),
        ngram = 3, maxDf = 5, topK = 100)
      .as[(Long, Long, Long, Double)].collect()
    assert(capOut.length == 10 && capOut.forall(_._4 == 1.0)) // C(5,2)
  }

  test("bpePairStats: multiplicity inside words, vocab weighting, no phantom pairs") {
    val docs = Seq("aaa bb x", "aaa").toDF("text")
    // vocab: aaa:2 (pairs aa,aa), bb:1 (pair bb); "x" has no pair and
    // must NOT mint one via a backwards sequence(1, 0)
    val out = TextAnalysis.bpePairStats(docs, col("text"), topK = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("aa", 4L), ("bb", 1L)))
  }

  test("bpeTrain: agrees with a JVM reference BPE; best count monotone; greedy fold order") {
    // tiny in-test reference implementation (Sennrich 2016's algorithm
    // verbatim: count weighted adjacent pairs, merge the argmax
    // left-to-right, repeat) — the distributed trainer must agree
    // exactly, tie-breaks included
    def jvmBpe(words: Map[String, Long], n: Int): Seq[(Int, String, String, Long)] = {
      var vocab = words.map { case (w, c) => (w.map(_.toString).toList, c) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to n) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          syms.zip(syms.tail).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + c)
        }
        if (counts.nonEmpty) {
          val ((a, b), cnt) = counts.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }.head
          out += ((r, a, b, cnt))
          vocab = vocab.map { case (syms, c) =>
            val acc = scala.collection.mutable.ListBuffer.empty[String]
            syms.foreach { s =>
              if (acc.nonEmpty && acc.last == a && s == b)
                acc(acc.size - 1) = a + b
              else acc += s
            }
            (acc.toList, c)
          }
        }
      }
      out.toSeq
    }
    // "ababab" exercises the greedy non-overlap fold; "aaa" the
    // self-pair multiplicity; low/lower/lowest the classic example
    val docs = Seq("low low low lower lowest", "ababab ababab aaa aaa aaa")
      .toDF("text")
    val words = Map("low" -> 3L, "lower" -> 1L, "lowest" -> 1L,
      "ababab" -> 2L, "aaa" -> 3L)
    val expected = jvmBpe(words, 6)
    val got = TextAnalysis.bpeTrain(docs, col("text"), nMerges = 6)
      .as[(Long, String, String, Long)].collect().toSeq
      .map(r => (r._1.toInt, r._2, r._3, r._4))
    assert(got == expected, s"\ngot      $got\nexpected $expected")
    // the winning count is monotonically non-increasing: merges only
    // remove occurrences of existing pairs, and a freshly created pair
    // (x, ab) can never occur more often than the merge that minted ab
    assert(got.map(_._4) == got.map(_._4).sorted.reverse, got.toString)
    // early exhaustion: single-char words offer no pair — no rounds run
    val none = TextAnalysis.bpeTrain(Seq("a b c").toDF("text"),
      col("text"), nMerges = 3)
    assert(none.count() == 0)
  }

  test("bpeSubwordStats: fertility over the learned merges, hand-checked") {
    // corpus "aa aa ab": vocab aa:2 ab:1. Round 1 merges (a,a) n=2 →
    // aa=[aa] (1 sym), ab stays [a,b]. Round 2 merges (a,b) n=1 →
    // ab=[ab]. Doc 1 = "aa aa ab": 3 words, 1+1+1 subwords after 2
    // merges → fertility 1.0; with nMerges=1 it is (1+1+2)/3
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val two = TextAnalysis.bpeSubwordStats(docs, "doc_id", col("text"),
      nMerges = 2).as[(Long, Long, Long, Long)].collect().toSeq
    assert(two == Seq((1L, 3L, 3L, 1000000L)), two.toString)
    val one = TextAnalysis.bpeSubwordStats(docs, "doc_id", col("text"),
      nMerges = 1).as[(Long, Long, Long, Long)].collect().toSeq
    assert(one == Seq((1L, 3L, 4L, 1333333L)), one.toString)
  }

  test("heapsLaw: hand-checked counts per cutoff; slope matches a JVM least-squares twin") {
    // doc 0: 4 tokens -> 2 trigrams (1 repeated pair of types? no - both
    // distinct); doc 1 repeats doc 0 exactly (0 new types); doc 2 is new
    // content; doc 3 is short (<3 tokens -> whole-text fallback shingle);
    // a null-text doc must be ignored entirely
    val docs = Seq(
      (0L, "a b c d"), (1L, "a b c d"), (2L, "x y z w"), (3L, "q r"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val cuts = Seq(1L, 2L, 3L, 4L)
    val out = TextAnalysis.heapsLaw(docs, "doc_id", col("text"),
        k = 3, cutoffs = cuts)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // occurrences: docs 0,1 have 2 trigrams each, doc 2 has 2, doc 3 has
    // 1 fallback shingle; types: doc 0 mints 2, doc 1 mints 0, doc 2
    // mints 2, doc 3 mints 1
    val expectNV = Map(1L -> (2L, 2L), 2L -> (4L, 2L), 3L -> (6L, 4L),
      4L -> (7L, 5L))
    assert(out.view.mapValues(v => (v._1, v._2)).toMap == expectNV, out.toString)
    // JVM twin of the micro-quantized log fit
    val pts = cuts.map { c =>
      val (nt, nv) = expectNV(c)
      (math.floor(math.log(nt.toDouble) * 1e6 + 0.5).toLong,
        math.floor(math.log(nv.toDouble) * 1e6 + 0.5).toLong)
    }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val beta = math.floor((n * sxy - sx * sy).toDouble /
      (n * sxx - sx * sx).toDouble * 1e6 + 0.5).toLong
    assert(out.values.map(_._3).toSet == Set(beta),
      s"beta ${out.values.map(_._3).toSet} vs $beta")
    assert(beta > 0L && beta < 1000000L, "sublinear growth on this corpus")
  }

  test("lineClean: line rules, page rules, rule order, null text") {
    val docs = Seq(
      // 3 good lines -> kept; the unpunctuated and 2-word lines struck
      (0L, "one two three four.\nfive six seven eight!\nnine ten eleven?\nno terminal punct here\ntiny line."),
      // javascript line struck even though well-formed
      (1L, "good line one here.\nplease enable javascript now ok.\nanother good line here.\nthird good line stays."),
      // lorem ipsum anywhere drops the page, even with 3 good lines
      (2L, "good line one here.\ngood line two here.\ngood line three here.\nlorem ipsum dolor"),
      // curly brace drops the page; page_filter WINS over short_page
      (3L, "if (x) { return; }"),
      // only 2 survivors < minLines=3 -> short_page
      (4L, "good line one here.\ngood line two here.\nno punct line"),
      // quote counts as terminal punctuation
      (5L, "he said \"hello there everyone.\"\nsecond good line here.\nthird good line stays."),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lineClean(docs, "doc_id", col("text"))
      .as[(Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(0L) == ((5L, 3L, "kept",
      "one two three four.\nfive six seven eight!\nnine ten eleven?")))
    assert(out(1L) == ((4L, 3L, "kept",
      "good line one here.\nanother good line here.\nthird good line stays.")))
    assert(out(2L)._3 == "page_filter" && out(2L)._2 == 3L &&
      out(2L)._4 == "")
    assert(out(3L)._3 == "page_filter", "brace page drop beats short_page")
    assert(out(4L) == ((3L, 2L, "short_page", "")))
    assert(out(5L)._3 == "kept" && out(5L)._2 == 3L)
    assert(out(6L) == ((0L, 0L, "short_page", "")), "null text = empty page")
  }

  test("bbitMinwiseEstimate: identical=1, collision correction, clamp at zero") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.bbitMinwiseEstimate(docs, "doc_id", col("text"),
        pairs, k = 3, numPerm = 16, b = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // identical docs: every slot agrees at any width
    assert(out((1L, 2L)) == ((16L, 16L, 1000000L, 1000000L)))
    // disjoint docs: full-width slots never agree; 2-bit slots collide
    // at ~1/4 by chance and the correction must NOT report similarity
    val (af, ab, ef, eb) = out((1L, 3L)) match { case t => t }
    assert(af == 0L && ef == 0L)
    // JVM twin of the corrected estimator incl. the zero clamp
    assert(eb == math.max(0L, ab * 4 - 16) * 1000000L / 48L)
    assert(eb <= 250000L, s"corrected estimate should be near zero, got $eb")
  }

  test("clippedNgramPrecision: multiset clipping, missing orders, zero-overlap rows") {
    val docs = Seq(
      (1L, "the the the the"),     // degenerate candidate
      (2L, "the cat sat"),         // reference with ONE 'the'
      (3L, "a b c"), (4L, "x y z"),// zero overlap pair
      (5L, "q"), (6L, "q r"))      // 1-token candidate: no bigram row
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 1L))
      .toDF("doc_a", "doc_b")
    val out = TextAnalysis.clippedNgramPrecision(docs, "doc_id",
        col("text"), pairs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> ((r._4, r._5, r._6))).toMap
    // candidate 'the the the the' vs ref with one 'the': clip = 1 of 4
    assert(out((1L, 2L, 1L)) == ((4L, 1L, 250000L)))
    // its bigrams 'the the' x3: ref has none -> zero row kept
    assert(out((1L, 2L, 2L)) == ((3L, 0L, 0L)))
    // reversed direction: candidate 'the cat sat' finds its one 'the'
    assert(out((2L, 1L, 1L)) == ((3L, 1L, 333333L)))
    // zero unigram overlap keeps a zero row
    assert(out((3L, 4L, 1L)) == ((3L, 0L, 0L)))
    // 1-token candidate has unigram row but NO order-2 row
    assert(out((5L, 6L, 1L)) == ((1L, 1L, 1000000L)))
    assert(!out.contains((5L, 6L, 2L)))
  }

  test("thresholdSweep: hand-checked PR points, null score/label, division guards") {
    // scores 1..10; positives at 2, 9, 10; a NULL score and NULL label
    val scored = (Seq((1.0, Some(false)), (2.0, Some(true)),
      (3.0, Some(false)), (4.0, Some(false)), (5.0, Some(false)),
      (6.0, Some(false)), (7.0, Some(false)), (8.0, Some(false)),
      (9.0, Some(true)), (10.0, Some(true))) :+
      ((Double.NaN, Some(true))) :+ ((0.5, None)))
      .map { case (s, y) => (if (s.isNaN) None else Some(s), y) }
      .toDF("s", "y")
    val out = TextAnalysis.thresholdSweep(scored, col("s"), col("y"),
        fracs = Seq(0.5), width = 1.0)
      .as[(Long, Double, Long, Long, Long, Long, Long)].collect()
    assert(out.length == 1)
    val (pct, thr, nPred, nTp, nPos, prec, rec) = out.head match {
      case (a, b, c, d, e, f, g) => (a, b, c, d, e, f, g)
    }
    assert(pct == 50L)
    // 11 non-null scores (0.5, 1..10): median = 5.0 interpolated
    assert(thr == 5.0, thr.toString)
    // >= 5.0: scores 5..10 -> 6 predicted, tp = {9, 10} = 2
    assert((nPred, nTp) == ((6L, 2L)))
    // positives: rows 2, 9, 10 and the null-SCORE positive counts in
    // n_pos (it exists, the filter just can never admit it)
    assert(nPos == 4L)
    assert(prec == 333333L && rec == 500000L)
    // degenerate: no positives at all -> recall NULL, not a crash
    val none = TextAnalysis.thresholdSweep(
        Seq((1.0, false), (2.0, false)).toDF("s", "y"),
        col("s"), col("y"), fracs = Seq(0.5), width = 1.0)
      .select(col("recall_micro")).collect()
    assert(none.head.isNullAt(0))
  }

  test("zipfFit: recovers slope -1 on a true Zipf sample; flat corpus fits flat") {
    import spark.implicits._
    // freq(rank) = round(3000 / rank) for 60 ranks: ln-ln is a straight
    // line of slope -1; the fit must recover it with high r²
    val zipf = (1 to 60).flatMap(r =>
      Seq.fill(math.round(3000.0 / r).toInt)(s"w$r"))
    val docs = zipf.grouped(200).map(_.mkString(" ")).toSeq.toDF("text")
    val fit = TextAnalysis.zipfFit(docs, col("text"), topV = 60)
      .as[(Long, Long, Long, Long)].head()
    assert(fit._1 == 60L, fit.toString)
    assert(fit._2 > -1050000L && fit._2 < -950000L, fit.toString) // ~ -1
    assert(fit._4 > 990000L, fit.toString)                        // r² ~ 1
    // a uniform corpus is NOT Zipf: slope exactly 0 (zero y-variance
    // zeroes the covariance) and r² is a degenerate 0/0 → NULL — the
    // template-spam signal the probe exists to raise
    val flat = (1 to 60).flatMap(r => Seq.fill(50)(s"u$r"))
    val flatFit = TextAnalysis.zipfFit(
        flat.grouped(200).map(_.mkString(" ")).toSeq.toDF("text"),
        col("text"), topV = 60)
      .as[(Long, Option[Long], Option[Long], Option[Long])].head()
    assert(flatFit._2.contains(0L) && flatFit._4.isEmpty, flatFit.toString)
  }

  test("phraseSearch: overlapping matches counted, first position exact, misses dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x table hash y table hash z"),  // 2 matches at 1 and 4
      (2L, "a a a"),                        // for the overlap probe below
      (3L, "table x hash"),                 // no adjacent match
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.phraseSearch(docs, "doc_id", col("text"),
        Seq("table", "hash"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 1L)), out.toString)
    // overlapping occurrences each count ("a a a" has "a a" at 0 and 1)
    val ov = TextAnalysis.phraseSearch(docs, "doc_id", col("text"),
        Seq("a", "a"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(ov == Seq((2L, 2L, 0L)), ov.toString)
  }

  test("containmentVerify: subsumption scores 1.0 one way, Jaccard-small the other") {
    import spark.implicits._
    val quoted = "the quick brown fox jumps over the lazy dog"       // 9 toks → 5 shingles
    val host = quoted + " while the busy crow watches from a fence " +
      "and the wind turns the mill in the gray morning light"
    val docs = Seq((1L, quoted), (2L, host), (3L, "entirely unrelated text"))
      .toDF("doc_id", "text")
    // single-row bands (bands = numPerm): a containment pair has small
    // JACCARD, so multi-row bands rarely recall it — the resemblance-LSH
    // limitation this verifier exists to score past once a candidate
    // source (single-row bands, shared fingerprints) surfaces the pair
    val out = Dedup.containmentVerify(docs, "doc_id", col("text"),
        numPerm = 16, bands = 16)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // the quoted doc LSH-pairs with its host; the unrelated doc pairs
    // with nothing
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)), out.toString)
    val (_, _, shared, nA, nB, contA, contB) = out.head
    // every shingle of the quoted doc appears in the host → C(A,B)=1.0
    assert(shared == nA && contA == 1000000L, out.toString)
    // ...but the host is much bigger: C(B,A) is the Jaccard-small side
    assert(nB > nA && contB < 400000L, out.toString)
  }

  test("contentDefinedChunks: shift-resistant boundaries, coverage exact, short docs whole") {
    import spark.implicits._
    val body = (1 to 120).map(i => s"tok${i % 37}x$i").mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, "shifted prefix inserted here " + body), // 4-token shift
      (3L, "tiny doc"))                             // < k: one chunk
      .toDF("doc_id", "text")
    val out = TextAnalysis.contentDefinedChunks(docs, "doc_id",
        col("text"), k = 4, divisor = 8L)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // chunks tile the doc exactly: starts chain, lengths sum to n
    Seq(1L, 2L).foreach { id =>
      val cs = out(id)
      cs.sliding(2).foreach { case Seq(a, b) =>
        assert(a._3 + a._4 == b._3, cs.toString) }
      assert(cs.map(_._4).sum == (if (id == 1L) 120 else 124), cs.toString)
    }
    // SHIFT RESISTANCE: once past the insertion, doc 2 re-synchronizes —
    // the tail chunk fingerprints of doc 1 reappear verbatim in doc 2
    // (fixed-size chunking would re-align every chunk and share none)
    val fp1 = out(1L).map(_._5).toSet
    val shared = out(2L).map(_._5).count(fp1.contains)
    assert(shared >= out(1L).size - 2, s"shared=$shared of ${out(1L).size}")
    // the short doc is one whole-doc chunk
    assert(out(3L) == Seq((3L, 0L, 0L, 2L, out(3L).head._5)), out(3L).toString)
  }

  test("mixtureWaterfill: saturated sources taken whole, excess re-levelled, budget met") {
    import spark.implicits._
    // caps: a=100, b=400, c=10000; weights √cap = 10, 20, 100.
    // B=3000: uncapped λ₀ = 3000/130 ≈ 23 → a wants 230 > 100 (cap),
    // b wants 461 > 400 (cap); remaining 2500 levels onto c alone:
    // λ = 25 → c gets 2500 < 10000. Exact closed form, by hand.
    val rows = Seq.fill(100)(("a", 1L)) ++
      Seq.fill(100)(("b", 4L)) ++
      Seq.fill(100)(("c", 100L))
    val df = rows.toDF("src", "nt")
    val out = TextAnalysis.mixtureWaterfill(df, "src", col("nt"), 3000L)
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("a", 100L, 100L, true), ("b", 400L, 400L, true),
      ("c", 10000L, 2500L, false)), out.toString)
    // a budget covering everything takes every source whole
    val all = TextAnalysis.mixtureWaterfill(df, "src", col("nt"), 99999L)
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(all == Seq(("a", 100L, 100L, true), ("b", 400L, 400L, true),
      ("c", 10000L, 10000L, true)), all.toString)
  }

  test("leakageSafeSplit: near-dup components never straddle a split boundary") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again tonight"
    // docs 1,2,3 are a near-dup family (identical text); 4,5 another;
    // 6..25 singletons — plenty of split_keys so all sides populate
    val docs = (Seq((1L, t), (2L, t), (3L, t + " coda"),
      (4L, "pack my box with five dozen liquor jugs now"),
      (5L, "pack my box with five dozen liquor jugs now")) ++
      (6L to 25L).map(i => (i, s"unique doc number $i with words w${i}a w${i}b w${i}c w${i}d")))
      .toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", col("text"))
      .as[(Long, Long, String)].collect().toSeq
    assert(out.size == 25)
    val byDoc = out.map(r => r._1 -> r).toMap
    // family members share the canonical key AND the split — the
    // leakage guarantee
    assert(Set(1L, 2L, 3L).map(byDoc(_)._2).size == 1, out.toString)
    assert(Set(1L, 2L, 3L).map(byDoc(_)._3).size == 1, out.toString)
    assert(byDoc(4L)._2 == byDoc(5L)._2 && byDoc(4L)._3 == byDoc(5L)._3)
    // singletons key on themselves
    assert(byDoc(7L)._2 == 7L, out.toString)
    // global invariant: one split per split_key, always
    assert(out.groupBy(_._2).forall(_._2.map(_._3).distinct.size == 1))
  }

  test("noveltyScore: fraction of distinct shingles absent from the reference") {
    val corpus = Seq((1L, "a b c d e f"), (2L, "hi there")).toDF("doc_id", "text")
    val ref = Seq("z a b c d e").toDF("text") // shingles: "z a b c d", "a b c d e"
    val out = Dedup.noveltyScore(corpus, "doc_id", col("text"), ref, col("text"))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // doc 1: shingles {"a b c d e" (seen), "b c d e f" (novel)} -> 0.5
    assert(out(1L) == ((1L, 2L, 1L, 0.5)))
    // short doc: one whole-text shingle, not in the reference -> 1.0
    assert(out(2L) == ((2L, 1L, 1L, 1.0)))
  }

  test("incrementalNearDups: only boundary-crossing pairs; same-side dups stay out") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base, false),          // existing
      (2L, base, true),           // new, dup of 1 (and of 3)
      (3L, base, true),           // new, dup of 1 (and of 2)
      (4L, "completely different content with no overlap at all", false))
      .toDF("doc_id", "text", "is_new")
    val out = Dedup.incrementalNearDups(docs, "doc_id", col("text"),
        col("is_new"))
      .as[(Long, Long, Long)].collect().toSet
    // 2 and 3 each match existing doc 1; their mutual (new, new) pair
    // and any (old, old) pair must NOT be reported
    assert(out == Set((2L, 1L, 1L), (3L, 1L, 1L)), out.toString)
  }

  test("langId picks marker-majority language, und when none") {
    val df = Seq(
      "the cat is of the house and the dog",
      "der hund und die katze ist das haus",
      "xyzzy qwerty").toDF("text")
      .select(TextAnalysis.langId(col("text")).as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "de", "und"))
  }

  test("normalize: lowercases, strips punctuation, collapses whitespace") {
    val out = Seq("""  "Hello,  WORLD!"  (ok) ...  """, "already clean", "")
      .toDF("t").select(TextAnalysis.normalize(col("t"))).as[String].collect()
    assert(out(0) == "hello world ok")
    assert(out(1) == "already clean")
    assert(out(2) == "")
  }

  test("keepCanonical drops near-dup followers, keeps cluster minima and isolated docs") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "y")).toDF("doc_id", "text")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc", "component")
    val kept = Dedup.keepCanonical(docs, "doc_id", comps)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 7L)) // 2,3 follow 1; 7 isolated (absent from comps)
  }

  test("tfIdf: rare tokens outweigh common ones; tf scales linearly") {
    val docs = Seq((1L, "a a rare"), (2L, "a x"), (3L, "a y")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(docs, "doc_id", col("text"))
      .as[(Long, String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._5)).toMap
    // 'a' in every doc (df=3): idf = ln(4/4)+1 = 1.0
    assert(out((2L, "a")) == ((1L, 1.0)))
    assert(out((1L, "a")) == ((2L, 2.0))) // tf=2 doubles the score
    // 'rare' (df=1): idf = ln(4/2)+1 > 1 -> outweighs a same-tf common token
    assert(out((1L, "rare"))._2 > out((2L, "a"))._2)
    assert(math.abs(out((1L, "rare"))._2 - (math.log(2.0) + 1)) < 1e-6)
  }

  test("vocabulary: top-k tokens by count with doc frequency, deterministic order") {
    val docs = Seq(
      (1L, "a a a b c"), (2L, "a b b z"), (3L, "c c q")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(docs, "doc_id", col("text"), 3)
      .as[(String, Long, Long)].collect().toSeq
    // a: 4 occurrences in 2 docs; b and c tie at 3 -> token asc breaks it
    assert(out == Seq(("a", 4L, 2L), ("b", 3L, 2L), ("c", 3L, 2L)))
  }

  test("rollingHash is deterministic and order-sensitive") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
      .select(TextAnalysis.rollingHash(col("text")).as("h"))
    val out = df.as[Long].collect()
    assert(out(0) == out(2) && out(0) != out(1))
  }

  test("contentFlags detect emails, urls, digit runs") {
    val df = Seq(
      "contact me at Bob.Smith+x@Example.ORG today",
      "see https://docs.example.com/path_1 for details",
      "card 12345678 on file",
      "nothing suspicious here").toDF("text")
    val flags = TextAnalysis.contentFlags(col("text"))
    val out = df.select(flags.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)))
    assert(out(0) == ((true, false, false)))
    assert(out(1) == ((false, true, false)))
    assert(out(2) == ((false, false, true)))
    assert(out(3) == ((false, false, false)))
  }

  test("repetitionStats: repeated text scores low distinct ratio") {
    val df = Seq((1L, "spam spam spam spam ham"),
      (2L, "all words here are unique")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((0.4, 0.8)))  // 2 distinct of 5; 'spam' 4/5
    assert(out(2L) == ((1.0, 0.2)))  // all unique
  }

  test("chunks: overlapping windows cover all tokens; short text = itself") {
    val df = Seq("t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", "tiny text").toDF("text")
      .select(TextAnalysis.chunks(col("text"), 4, 1).as("c"))
    val out = df.as[Seq[String]].collect()
    // n=10, size=4, overlap=1, step=3 -> ceil(9/3)=3 chunks
    assert(out(0) == Seq("t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"))
    assert(out(1) == Seq("tiny text"))
    // consecutive chunks share exactly `overlap` tokens
    assert(out(0)(0).split(" ").last == out(0)(1).split(" ").head)
    // null text yields one null chunk (oracle parity), not ""
    val nullOut = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(TextAnalysis.chunks(col("text"), 4, 1).as("c"))
      .as[Seq[String]].head()
    assert(nullOut == Seq(null))
  }

  test("deterministicSample is stable and close to the target fraction") {
    val df = (1 to 10000).map(_.toLong).toDF("k")
    val kept = df.filter(TextAnalysis.deterministicSample(col("k"), 0.2))
      .as[Long].collect().toSet
    val kept2 = df.filter(TextAnalysis.deterministicSample(col("k"), 0.2))
      .as[Long].collect().toSet
    assert(kept == kept2) // pure function of key
    assert(math.abs(kept.size / 10000.0 - 0.2) < 0.02)
    // nested property: a 10% sample is a subset of the 20% sample
    val kept10 = df.filter(TextAnalysis.deterministicSample(col("k"), 0.1))
      .as[Long].collect().toSet
    assert(kept10.subsetOf(kept))
  }

  test("packOffsets: sharded cumsum equals the global contract; docs straddle windows") {
    // doc_id 0..99, doc i has i+1 tokens; shardSize=10 forces 10 shards
    // whose prefixes must chain exactly
    val docs = (0L until 100L)
      .map(i => (i, (0 to i.toInt).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packOffsets(docs, "doc_id", col("text"),
      contextTokens = 7, shardSize = 10L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1)
    // global contract: start_offset = sum of all earlier docs' tokens
    var expect = 0L
    out.foreach { case (id, n, start, cf, cl, nc) =>
      assert(n == id + 1)
      assert(start == expect, s"doc $id: start=$start expected=$expect")
      assert(cf == start / 7 && cl == (start + n - 1) / 7)
      assert(nc == cl - cf + 1)
      expect += n
    }
    // long docs genuinely span multiple 7-token windows
    assert(out.exists(_._6 > 2))
    // shardSize larger than the corpus (single shard) is identical
    val one = TextAnalysis.packOffsets(docs, "doc_id", col("text"), 7, 1000000L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(one.toSeq == out.toSeq)
  }

  test("packGreedy: no bin overflows unless one oversize doc; greedy replay matches; shards reset") {
    val docs = Seq(
      (0L, 40L), (1L, 50L), (2L, 45L),            // 40+50 fit 128; 45 overflows -> bin 1
      (3L, 200L),                                 // oversize: own bin
      (4L, 10L), (5L, 10L),
      (100L, 100L), (101L, 100L)                  // next shard: bins restart at 0
    ).map { case (id, n) => (id, (1L to n).map(_ => "w").mkString(" ")) }
      .toDF("doc_id", "text")
    val out = TextAnalysis.packGreedy(docs, "doc_id", col("text"), 128, 100L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    // local greedy replay over (shard, id) order
    var (sh, bin, fill) = (Long.MinValue, 0L, 0L)
    out.foreach { case (id, n, s, b) =>
      if (s != sh) { sh = s; bin = 0L; fill = 0L }
      if (fill > 0 && fill + n > 128) { bin += 1; fill = 0L }
      fill += n
      assert(b == bin, s"doc $id: bin $b, replay says $bin")
    }
    assert(byId(2L)._4 == 1L)       // 45 pushed to the next bin
    assert(byId(3L)._4 == 2L)       // oversize doc isolated in its own bin
    assert(byId(4L)._4 == 3L)       // ...and closes it for the next doc
    assert(byId(100L)._4 == 0L)     // shard 1 restarts numbering
    // no bin except the oversize one exceeds capacity
    val fills = out.groupBy(r => (r._3, r._4)).map { case (_, rs) => rs.map(_._2).sum }
    assert(fills.count(_ > 128) == 1)
  }

  test("mixtureSample: rare strata upsample, temperature 1.0 is flat, deterministic") {
    val df = ((1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 450).map(i => (i.toLong, "small"))).toDF("id", "src")
    val kept = TextAnalysis.mixtureSample(df, col("src"), col("id"), 0.5)
      .as[(Long, String)].collect()
    val kept2 = TextAnalysis.mixtureSample(df, col("src"), col("id"), 0.5)
      .as[(Long, String)].collect()
    assert(kept.toSet == kept2.toSet) // pure function of (key, stratum)
    val rateBig = kept.count(_._2 == "big") / 400.0
    val rateSmall = kept.count(_._2 == "small") / 50.0
    assert(rateSmall > rateBig, s"small=$rateSmall big=$rateBig")
    assert(math.abs(kept.length / 450.0 - 0.5) < 0.1)
    // temperature 1.0 is proportional mixing: EVERY stratum keeps at the
    // flat target rate itself — not merely "both rates similar" (a bug
    // scaling both rates by 100x would pass a similarity-only check)
    val flat = TextAnalysis.mixtureSample(df, col("src"), col("id"), 0.5, 1.0)
      .as[(Long, String)].collect()
    val fBig = flat.count(_._2 == "big") / 400.0
    val fSmall = flat.count(_._2 == "small") / 50.0
    assert(math.abs(fBig - 0.5) < 0.1, s"big=$fBig")
    assert(math.abs(fSmall - 0.5) < 0.15, s"small=$fSmall")
    // temperature 0: uniform-per-stratum — equal EXPECTED picks per
    // stratum: picks = tF*N/|strata| = 112.5 per stratum, so the small
    // stratum (50 rows) clamps to keep-all
    val uni = TextAnalysis.mixtureSample(df, col("src"), col("id"), 0.5, 0.0)
      .as[(Long, String)].collect()
    assert(uni.count(_._2 == "small") == 50, s"small kept ${uni.count(_._2 == "small")}")
    assert(math.abs(uni.count(_._2 == "big") - 112.5) < 40.0)
  }

  test("bigramLmScore: common transitions outscore rare ones; deterministic chains score 0") {
    // 'a' is followed by 'b' 5 times and by 'c' 2 times corpus-wide, so
    // P(b|a)=5/7, P(c|a)=2/7; doc 2's chain has single-successor
    // prefixes only (P=1 everywhere -> score exactly 0)
    val docs = Seq(
      (1L, "a b a b a b a b"),     // mostly the common a->b transition
      (2L, "p q r s t u v w"),     // deterministic chain
      (3L, "a b"),                 // single bigram
      (4L, "a c a c")              // the rare a->c transition
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", col("text"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 7L && out(2L)._2 == 7L && out(3L)._2 == 1L && out(4L)._2 == 3L)
    assert(out.values.forall(_._3 <= 0.0)) // log-probs never positive
    assert(out(2L)._3 == 0.0)
    // hand-check: doc1 = (4 ln(5/7) + 3 ln 1)/7; doc4 = (2 ln(2/7) + ln 1)/3
    assert(math.abs(out(1L)._3 - 4 * math.log(5.0 / 7) / 7) < 1e-6)
    assert(math.abs(out(4L)._3 - 2 * math.log(2.0 / 7) / 3) < 1e-6)
    assert(out(1L)._3 > out(4L)._3)
  }

  test("quality features bounded and consistent") {
    val out = TextAnalysis.qualityFeatures(
      Seq("the quick brown fox is here of course").toDF("text"), col("text"))
      .select("n_tokens", "stopword_ratio", "quality_score").head()
    assert(out.getInt(0) == 8)
    assert(out.getDouble(1) > 0 && out.getDouble(1) <= 1)
    assert(out.getDouble(2) >= 0 && out.getDouble(2) <= 1)
  }

  test("gopherRepetition: hand-checked fractions, tie rule, short docs") {
    // doc 1: "ab cd ab cd ab" (14 chars) — bigrams: "ab cd"×2,
    // "cd ab"×2 → every bigram duplicated: dup2 = (2·5 + 2·5)/14;
    // top2: counts tie at 2, lengths tie at 5 → 2·5/14.
    // trigrams: "ab cd ab"×2, "cd ab cd"×1 → top3 = dup3 = 2·8/14.
    // doc 2: all-distinct tokens → dup = 0, top2 count 1.
    // doc 3: one token → no bigram/trigram exists → all 0.0.
    val docs = Seq(
      (1L, "ab cd ab cd ab"),
      (2L, "one two three"),
      (3L, "solo")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs, "doc_id", col("text"))
      .as[(Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 == 14L)
    assert(out(1L)._3 == r6(10.0 / 14))
    assert(out(1L)._4 == r6(20.0 / 14))
    assert(out(1L)._5 == r6(16.0 / 14))
    assert(out(1L)._6 == r6(16.0 / 14))
    assert(out(2L)._4 == 0.0 && out(2L)._6 == 0.0)
    // counts tie at 1 → the LONGER bigram "two three" (9 chars) wins
    assert(out(2L)._3 == r6(9.0 / 13), "top bigram ties break by length")
    assert(out(3L)._3 == 0.0 && out(3L)._4 == 0.0 &&
      out(3L)._5 == 0.0 && out(3L)._6 == 0.0)
  }

  test("sourceJsd: zero for identical slices, ln 2 for disjoint, cap binds") {
    val docs = Seq(
      ("s1", "a a b"), ("s2", "a a b"), // identical distributions
      ("s3", "c c c") // disjoint support from s1/s2
    ).toDF("source", "text")
    val out = TextAnalysis.sourceJsd(docs, "source", col("text"), 100)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out(("s1", "s2"))._4 == 0.0)
    // disjoint supports: JSD = ln 2 exactly (every term is p·ln 2 / 2
    // twice over) — the theoretical maximum
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("s1", "s3"))._4 == ln2)
    assert(out(("s2", "s3"))._4 == ln2)
    // vocabTop = 1 keeps only the globally most frequent token ("a",
    // 4 occurrences vs c's 3): s3 has NO in-vocab token, so it leaves
    // the pair table entirely (no distribution to compare)
    val capped = TextAnalysis.sourceJsd(docs, "source", col("text"), 1)
      .as[(String, String, Long, Double)].collect()
    assert(capped.map(r => (r._1, r._2)).toSet == Set(("s1", "s2")))
    assert(capped.forall(_._3 == 1L))
  }

  test("bigram interp-KN: JVM-twin exact scores, all three backoff branches fire") {
    import spark.implicits._
    val refTexts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown cat naps under the warm sun")
    val reference = refTexts.toDF("text")
    val B = 256L
    def bk(t: String) = graft.functions.Hashing.hexLongJvm(t) % B
    // a first word whose BUCKET collides with no reference word's — a
    // raw unseen word can still hash onto a seen prefix (B = 256),
    // which silently turns the unseen-prefix probe into a seen one
    val refBuckets = refTexts.flatMap(_.split(" ")).map(bk).toSet
    val fresh = Iterator.from(0).map(i => s"w$i")
      .find(w => !refBuckets.contains(bk(w))).get
    val docTexts = Map(
      1L -> "the quick brown fox jumps",    // seen pairs
      2L -> "the fox naps",                 // seen prefix, unseen pair
      3L -> s"$fresh quick",                // unseen prefix
      4L -> "quick brown cat naps under the sun")
    val docs = docTexts.toSeq.toDF("doc_id", "text")
    def pairs(s: String) = s.split(" ").map(bk).sliding(2)
      .filter(_.length == 2).map(a => (a(0), a(1))).toSeq
    val c12 = refTexts.flatMap(pairs).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val pre = c12.groupBy { case ((b1, _), _) => b1 }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val ct2 = c12.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val z = c12.size.toLong + B
    val branches = scala.collection.mutable.Set.empty[String]
    def nll(t: (Long, Long)): Long = {
      val (b1, b2) = t
      val ct = ct2.getOrElse(b2, 0L)
      val (c1, n1) = pre.getOrElse(b1, (0L, 0L))
      val c = c12.getOrElse(t, 0L)
      branches += (if (c1 > 0 && c > 0) "seen"
        else if (c1 > 0) "unseen-pair" else "unseen-prefix")
      val (num, den) =
        if (c1 > 0) (math.max(4 * c - 3, 0) * z + 3 * n1 * (ct + 1),
          4 * c1 * z)
        else (ct + 1, z)
      math.floor(math.log(den.toDouble / num.toDouble) * 1e6 + 0.5).toLong
    }
    val expected = docTexts.map { case (id, s) =>
      val ps = pairs(s)
      id -> ((ps.size.toLong, ps.map(nll).sum))
    }
    val out = TextAnalysis.lmPerplexityBucketsKN(
        docs, "doc_id", col("text"), reference, col("text"), 2, 256)
      .select(col("doc"), col("n_pairs"), col("nll_micro"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out == expected, s"$out vs $expected")
    // all three branches fired across the planted docs
    assert(branches == Set("seen", "unseen-pair", "unseen-prefix"),
      branches.toString)
    // every score non-negative (the telescoping den >= num contract)
    assert(out.values.forall(_._2 >= 0L), out.toString)
  }

  test("trigram interp-KN: JVM-twin exact scores, full backoff chain fires") {
    import spark.implicits._
    val refTexts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown cat naps under the warm sun")
    val reference = refTexts.toDF("text")
    val B = 256L
    def bk(t: String) = graft.functions.Hashing.hexLongJvm(t) % B
    // a first word whose BUCKET collides with no reference word's — a
    // raw unseen word can still hash onto a seen prefix pair (B = 256),
    // which silently turns the unseen-prefix probe into a seen one
    val refBuckets = refTexts.flatMap(_.split(" ")).map(bk).toSet
    val fresh = Iterator.from(0).map(i => s"w$i")
      .find(w => !refBuckets.contains(bk(w))).get
    val docTexts = Map(
      1L -> "the quick brown fox jumps",    // seen triples
      2L -> "qqq www eee rrr",              // unseen prefix AND context
      3L -> s"$fresh quick brown",          // unseen prefix, seen context
      4L -> "the quick brown cat naps under the",
      5L -> "the quick cat")                // seen prefix, unseen triple
    val docs = docTexts.toSeq.toDF("doc_id", "text")
    def tris(s: String) = s.split(" ").map(bk).sliding(3)
      .filter(_.length == 3).map(a => (a(0), a(1), a(2))).toSeq
    val c123 = refTexts.flatMap(tris).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val pre = c123.groupBy { case ((b1, b2, _), _) => (b1, b2) }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val cont = c123.keys.map { case (b1, b2, b3) => ((b2, b3), b1) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val c2 = cont.groupBy(_._1._1)
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val ct3 = cont.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val z = cont.size.toLong + B
    val branches = scala.collection.mutable.Set.empty[String]
    def nll(t: (Long, Long, Long)): Long = {
      val (b1, b2, b3) = t
      val ct = ct3.getOrElse(b3, 0L)
      val (cp2, n2) = c2.getOrElse(b2, (0L, 0L))
      val cp = cont.getOrElse((b2, b3), 0L)
      val (a2, d2) =
        if (cp2 > 0) (math.max(4 * cp - 3, 0) * z + 3 * n2 * (ct + 1),
          4 * cp2 * z)
        else (ct + 1, z)
      val (c12, n12) = pre.getOrElse((b1, b2), (0L, 0L))
      val c = c123.getOrElse(t, 0L)
      branches += (if (c12 > 0 && c > 0) "seen"
        else if (c12 > 0) "unseen-triple"
        else if (cp2 > 0) "unseen-prefix" else "unseen-context")
      val (num, den) =
        if (c12 > 0) (math.max(4 * c - 3, 0) * d2 + 3 * n12 * a2,
          4 * c12 * d2)
        else (a2, d2)
      math.floor(math.log(den.toDouble / num.toDouble) * 1e6 + 0.5).toLong
    }
    val expected = docTexts.map { case (id, s) =>
      val ts = tris(s)
      id -> ((ts.size.toLong, ts.map(nll).sum))
    }
    val out = TextAnalysis.lmPerplexityBucketsKN(
        docs, "doc_id", col("text"), reference, col("text"), 3, 256)
      .select(col("doc"), col("n_triples"), col("nll_micro"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out == expected, s"$out vs $expected")
    // the chain is non-vacuous: all four branches fired across the docs
    assert(branches == Set("seen", "unseen-triple", "unseen-prefix",
      "unseen-context"), branches.toString)
  }

  test("4-gram interp-KN: JVM-twin exact scores, all five backoff branches fire") {
    import spark.implicits._
    val refTexts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown cat naps under the warm sun")
    val reference = refTexts.toDF("text")
    val B = 64L
    def bk(t: String) = graft.functions.Hashing.hexLongJvm(t) % B
    // words whose BUCKETS collide with no reference word's (B = 64
    // makes accidental collisions likely — pick explicitly fresh ones)
    val refBuckets = refTexts.flatMap(_.split(" ")).map(bk).toSet
    val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
    val used = scala.collection.mutable.Set.empty[Long] ++= refBuckets
    var wi = 0
    while (fresh.size < 5) {
      val w = s"w$wi"
      if (!used.contains(bk(w))) { fresh += w; used += bk(w) }
      wi += 1
    }
    val Seq(f1, f2, f3, f4, f5) = fresh.toSeq
    val docTexts = Map(
      1L -> "the quick brown fox jumps",   // seen quads
      2L -> s"the quick brown $f1",        // seen prefix, unseen quad
      3L -> s"$f1 quick brown fox",        // unseen prefix, seen (b2,b3)
      4L -> s"$f1 $f2 brown fox",          // unseen (b2,b3), seen b3
      5L -> s"$f2 $f3 $f4 $f5")            // deepest: unseen b3 context
    val docs = docTexts.toSeq.toDF("doc_id", "text")
    def quads(s: String) = s.split(" ").map(bk).sliding(4)
      .filter(_.length == 4).map(a => (a(0), a(1), a(2), a(3))).toSeq
    val c1234 = refTexts.flatMap(quads).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val pre = c1234.groupBy { case ((b1, b2, b3, _), _) => (b1, b2, b3) }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val cont3 = c1234.keys.map { case (b1, b2, b3, b4) => ((b2, b3, b4), b1) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val c23 = cont3.groupBy { case ((b2, b3, _), _) => (b2, b3) }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val contp = cont3.keys.map { case (b2, b3, b4) => ((b3, b4), b2) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val c3 = contp.groupBy(_._1._1)
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val ct4m = contp.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val z = contp.size.toLong + B
    val branches = scala.collection.mutable.Set.empty[String]
    def nll(t: (Long, Long, Long, Long)): Long = {
      val (b1, b2, b3, b4) = t
      val ct = ct4m.getOrElse(b4, 0L)
      val (cpp2, n3) = c3.getOrElse(b3, (0L, 0L))
      val cpp = contp.getOrElse((b3, b4), 0L)
      val (a1, d1) =
        if (cpp2 > 0) (math.max(4 * cpp - 3, 0) * z + 3 * n3 * (ct + 1),
          4 * cpp2 * z)
        else (ct + 1, z)
      val (cp3s, n23) = c23.getOrElse((b2, b3), (0L, 0L))
      val cp3 = cont3.getOrElse((b2, b3, b4), 0L)
      val (a2, d2) =
        if (cp3s > 0) (math.max(4 * cp3 - 3, 0) * d1 + 3 * n23 * a1,
          4 * cp3s * d1)
        else (a1, d1)
      val (c123, n123) = pre.getOrElse((b1, b2, b3), (0L, 0L))
      val c = c1234.getOrElse(t, 0L)
      branches += (if (c123 > 0 && c > 0) "seen"
        else if (c123 > 0) "unseen-quad"
        else if (cp3s > 0) "unseen-prefix"
        else if (cpp2 > 0) "unseen-ctx23" else "unseen-ctx3")
      val (num, den) =
        if (c123 > 0) (math.max(4 * c - 3, 0) * d2 + 3 * n123 * a2,
          4 * c123 * d2)
        else (a2, d2)
      math.floor(math.log(den.toDouble / num.toDouble) * 1e6 + 0.5).toLong
    }
    val expected = docTexts.map { case (id, s) =>
      val qs = quads(s)
      id -> ((qs.size.toLong, qs.map(nll).sum))
    }
    val out = TextAnalysis.lmPerplexityBucketsKN(
        docs, "doc_id", col("text"), reference, col("text"), 4, 64)
      .select(col("doc"), col("n_quads"), col("nll_micro"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out == expected, s"$out vs $expected")
    // all five chain branches fired across the planted docs
    assert(branches == Set("seen", "unseen-quad", "unseen-prefix",
      "unseen-ctx23", "unseen-ctx3"), branches.toString)
    // every score non-negative (the telescoping den >= num contract)
    assert(out.values.forall(_._2 >= 0L), out.toString)
  }

  test("5-gram interp-KN: JVM-twin exact scores, all six backoff branches fire") {
    import spark.implicits._
    val refTexts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown cat naps under the warm sun")
    val reference = refTexts.toDF("text")
    val B = 32L
    def bk(t: String) = graft.functions.Hashing.hexLongJvm(t) % B
    // words whose BUCKETS collide with no reference word's and with
    // none of each other's (B = 32 makes accidental collisions likely)
    val refBuckets = refTexts.flatMap(_.split(" ")).map(bk).toSet
    val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
    val used = scala.collection.mutable.Set.empty[Long] ++= refBuckets
    var wi = 0
    while (fresh.size < 5) {
      val w = s"w$wi"
      if (!used.contains(bk(w))) { fresh += w; used += bk(w) }
      wi += 1
    }
    val Seq(f1, f2, f3, f4, f5) = fresh.toSeq
    val docTexts = Map(
      1L -> "the quick brown fox jumps",       // seen quints
      2L -> s"the quick brown fox $f1",        // seen prefix, unseen quint
      3L -> s"$f1 quick brown fox jumps",      // unseen prefix, seen (b2..b4)
      4L -> s"$f1 $f2 brown fox jumps",        // unseen (b2,b3,b4), seen (b3,b4)
      5L -> s"$f1 $f2 $f3 fox jumps",          // unseen (b3,b4), seen b4
      6L -> s"$f1 $f2 $f3 $f4 $f5")            // deepest: unseen b4 context
    val docs = docTexts.toSeq.toDF("doc_id", "text")
    def quints(s: String) = s.split(" ").map(bk).sliding(5)
      .filter(_.length == 5).map(a => (a(0), a(1), a(2), a(3), a(4))).toSeq
    val c12345 = refTexts.flatMap(quints).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val pre = c12345.groupBy { case ((b1, b2, b3, b4, _), _) => (b1, b2, b3, b4) }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val cont4 = c12345.keys
      .map { case (b1, b2, b3, b4, b5) => ((b2, b3, b4, b5), b1) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val c234 = cont4.groupBy { case ((b2, b3, b4, _), _) => (b2, b3, b4) }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val cont3 = cont4.keys.map { case (b2, b3, b4, b5) => ((b3, b4, b5), b2) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val c34 = cont3.groupBy { case ((b3, b4, _), _) => (b3, b4) }
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val contp = cont3.keys.map { case (b3, b4, b5) => ((b4, b5), b3) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val c4 = contp.groupBy(_._1._1)
      .map { case (k, m) => k -> ((m.values.sum, m.size.toLong)) }
    val ct5m = contp.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val z = contp.size.toLong + B
    val branches = scala.collection.mutable.Set.empty[String]
    def nll(t: (Long, Long, Long, Long, Long)): Long = {
      val (b1, b2, b3, b4, b5) = t
      val ct = ct5m.getOrElse(b5, 0L)
      val (cppp2, n4) = c4.getOrElse(b4, (0L, 0L))
      val cppp = contp.getOrElse((b4, b5), 0L)
      val (a1, d1) =
        if (cppp2 > 0) (math.max(4 * cppp - 3, 0) * z + 3 * n4 * (ct + 1),
          4 * cppp2 * z)
        else (ct + 1, z)
      val (cpp3s, n34) = c34.getOrElse((b3, b4), (0L, 0L))
      val cpp3 = cont3.getOrElse((b3, b4, b5), 0L)
      val (a2, d2) =
        if (cpp3s > 0) (math.max(4 * cpp3 - 3, 0) * d1 + 3 * n34 * a1,
          4 * cpp3s * d1)
        else (a1, d1)
      val (cp4s, n234) = c234.getOrElse((b2, b3, b4), (0L, 0L))
      val cp4 = cont4.getOrElse((b2, b3, b4, b5), 0L)
      val (a3, d3) =
        if (cp4s > 0) (math.max(4 * cp4 - 3, 0) * d2 + 3 * n234 * a2,
          4 * cp4s * d2)
        else (a2, d2)
      val (c1234, n1234) = pre.getOrElse((b1, b2, b3, b4), (0L, 0L))
      val c = c12345.getOrElse(t, 0L)
      branches += (if (c1234 > 0 && c > 0) "seen"
        else if (c1234 > 0) "unseen-quint"
        else if (cp4s > 0) "unseen-prefix"
        else if (cpp3s > 0) "unseen-ctx234"
        else if (cppp2 > 0) "unseen-ctx34" else "unseen-ctx4")
      val (num, den) =
        if (c1234 > 0) (math.max(4 * c - 3, 0) * d3 + 3 * n1234 * a3,
          4 * c1234 * d3)
        else (a3, d3)
      math.floor(math.log(den.toDouble / num.toDouble) * 1e6 + 0.5).toLong
    }
    val expected = docTexts.map { case (id, s) =>
      val qs = quints(s)
      id -> ((qs.size.toLong, qs.map(nll).sum))
    }
    val out = TextAnalysis.lmPerplexityBucketsKN(
        docs, "doc_id", col("text"), reference, col("text"), 5, 32)
      .select(col("doc"), col("n_quints"), col("nll_micro"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out == expected, s"$out vs $expected")
    // all six chain branches fired across the planted docs
    assert(branches == Set("seen", "unseen-quint", "unseen-prefix",
      "unseen-ctx234", "unseen-ctx34", "unseen-ctx4"), branches.toString)
    // every score non-negative (the telescoping den >= num contract)
    assert(out.values.forall(_._2 >= 0L), out.toString)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("zorderCell: hand-checked interleave; quadrant blocks share z-prefixes") {
    val pts = Seq((0L, 0L), (3L, 5L), (1L, 0L), (0L, 1L), (7L, 7L),
      (2L, 2L), (3L, 3L), (4L, 4L))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Similarity.zorderCell(col("x"), col("y"), 3).as("z"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // JVM reference interleave
    def ref(x: Long, y: Long): Long =
      (0 until 3).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == ref(x, y), s"($x,$y)")
    }
    // spot values: x bits land even, y bits odd
    assert(got((1L, 0L)) == 1L && got((0L, 1L)) == 2L)
    assert(got((3L, 5L)) == 39L && got((7L, 7L)) == 63L)
    // locality: a 2^k-aligned quadrant is one contiguous z-prefix —
    // points in the same 2x2 block share z div 4; crossing the block
    // boundary changes the prefix
    assert(got((2L, 2L)) / 4 == got((3L, 3L)) / 4)
    assert(got((3L, 3L)) / 4 != got((4L, 4L)) / 4)
  }

  test("jlProject: exact JVM twin, malformed rows dropped, distances roughly preserved") {
    def signs(j: Int, d: Int): Seq[Long] = (0 until d).map(i =>
      if (graft.functions.Hashing.hexLongJvm(s"rp:$j:$i") % 2 == 0) 1L
      else -1L)
    def refProj(v: Seq[Double], k: Int): Seq[Long] = {
      val vm = v.map(x => math.floor(x * 1e6 + 0.5).toLong)
      (0 until k).map(j => signs(j, v.size).zip(vm).map {
        case (s, x) => s * x
      }.sum)
    }
    // deterministic pseudo-random 8-dim vectors
    val vecs = (0 until 6).map { n =>
      (n.toLong, (0 until 8).map(i =>
        math.sin(n * 17.0 + i * 3.0)).toArray)
    }
    val df = (vecs :+ ((99L, Array(1.0, 2.0)))) // malformed arity
      .toDF("vec_id", "embedding")
    val out = Similarity.jlProject(df, dIn = 8, kOut = 4)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(c => r.getLong(c)).toSeq).toMap
    assert(!out.contains(99L), "malformed row must be excluded")
    vecs.foreach { case (id, v) =>
      assert(out(id) == refProj(v.toSeq, 4), s"vec $id")
    }
    // JL expectation: E[|p(u)-p(v)|^2] = k * |u-v|^2 (in micro^2 units)
    // — with k=4 the concentration is loose, so assert within 3x
    val (u, w) = (vecs(0)._2, vecs(1)._2)
    val d2 = u.zip(w).map { case (a, b) =>
      val dd = (a - b) * 1e6; dd * dd
    }.sum
    val p2 = out(0L).zip(out(1L)).map { case (a, b) =>
      val dd = (a - b).toDouble; dd * dd
    }.sum
    assert(p2 > 4 * d2 / 3.0 && p2 < 4 * d2 * 3.0,
      s"projected $p2 vs expected ~${4 * d2}")
  }

  test("pqCodes: per-subspace argmin, code tie to smallest id, codebook slicing") {
    // dim 4, 2 subspaces of 2; codewords chosen so assignments differ
    // per subspace: vec (1,0, 0,9) -> sub0 matches cw0 (1,0), sub1
    // matches cw1 (.,., 0,9)
    val cb = Seq(
      (0L, Array(1f, 0f, 5f, 5f)),
      (1L, Array(0f, 1f, 0f, 9f))).toDF("code_id", "codeword")
    val vecs = Seq(
      (10L, Array(1f, 0f, 0f, 9f)),   // codes (0, 1)
      (11L, Array(0f, 1f, 5f, 5f)),   // codes (1, 0)
      (12L, Array(0.5f, 0.5f, 5f, 5f))) // sub0 EQUIDISTANT -> tie -> code 0
      .toDF("vec_id", "embedding")
    val out = Similarity.pqCodes(vecs, cb, subspaces = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(10L) == ((0L, 1L)))
    assert(out(11L) == ((1L, 0L)))
    assert(out(12L) == ((0L, 0L)), "equidistant subspace must tie to min code_id")
  }

  test("pqAdcKnn: code-only distances match a driver recomputation; recall vs exact") {
    val emb = Tables.embeddings(spark, sf001)
    val trained = Similarity.trainPqCodebook(emb, subspaces = 8, nCodes = 16)
    val codebook = trained.map { case (id, cw) => (id, cw) }
      .toDF("code_id", "codeword")
    val codes = Similarity.pqCodes(emb, codebook, subspaces = 8)
    val queries = emb.filter(col("vec_id") < 3)
    val out = Similarity.pqAdcKnn(codes, codebook, queries, 8, 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 30 && out.forall(_._3 >= 0))
    // driver recomputation: adc(q, x) = Σ_s floor(‖q_s − cw(code_s)_s‖²·1e6 + .5)
    val cw = trained.toMap
    val cds = codes.collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toArray).toMap
    val qv = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def adc(q: Array[Double], x: Long): Long =
      (0 until 8).map { s =>
        val c = cw(cds(x)(s))
        var d = 0.0
        var i = 8 * s
        while (i < 8 * (s + 1)) {
          val t = q(i) - c(i); d += t * t; i += 1
        }
        math.floor(d * 1e6 + 0.5).toLong
      }.sum
    out.foreach { case (qid, nid, m, _) =>
      assert(m == adc(qv(qid), nid), s"adc($qid,$nid)")
    }
    // sanity recall: ADC top-10 finds a nontrivial share of the exact
    // top-10 (8 codewords × 4 subspaces is a coarse quantizer — the
    // property is overlap, not equality)
    val exact = Similarity.bruteForceKnn(emb, queries, 10)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().groupBy(_._1).map { case (q, a) =>
        q -> a.map(_._2).toSet }
    val hits = out.groupBy(_._1).map { case (q, a) =>
      a.map(_._2).count(exact(q)) }.sum
    assert(hits >= 6, s"ADC recall collapsed: $hits/30 exact-top-10 hits")
  }

  test("percentRank: distinct-value ranking, ties share a rank, nulls excluded") {
    import graft.operators.Quantiles
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 20.0), (4L, 40.0), (5L, 50.0))
      .toDF("id", "v")
    val out = Quantiles.percentRank(df, col("v"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 0.25 && out(3L) == 0.25) // both above exactly 1 of 4
    assert(out(4L) == 0.75)
    assert(out(5L) == 1.0)
    // nulls: excluded from ranks AND from n
    val withNull = Seq((1L, java.lang.Double.valueOf(1.0)),
      (2L, null.asInstanceOf[java.lang.Double]),
      (3L, java.lang.Double.valueOf(3.0))).toDF("id", "v")
    val o2 = Quantiles.percentRank(withNull, col("v"))
      .as[(Long, Double, Double)].collect()
    assert(o2.map(_._1).toSet == Set(1L, 3L))
    assert(o2.find(_._1 == 3L).get._3 == 1.0)
    // single row: guard pins 0.0 instead of 0/0
    val one = Quantiles.percentRank(Seq((1L, 9.9)).toDF("id", "v"), col("v"))
      .as[(Long, Double, Double)].collect()
    assert(one.head._3 == 0.0)
  }

  val corpus = (0 until 50).map { i =>
    (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
  }.toDF("vec_id", "embedding")

  test("bruteForceKnn returns k ranked neighbors per query, no self-match") {
    val out = Similarity.bruteForceKnn(corpus,
      corpus.filter(col("vec_id") < 2), 5)
    val byQuery = out.as[(Long, Long, Double, Int)].collect().groupBy(_._1)
    assert(byQuery.keySet == Set(0L, 1L))
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      assert(rows.sortBy(_._4).map(_._3).sliding(2).forall(p => p(0) >= p(1)))
      assert(!rows.exists(r => r._2 == r._1)) // self excluded
    }
  }

  test("filteredKnn: predicate excludes same-label candidates; true keeps brute-force") {
    val labeled = corpus.withColumn("source",
      concat(lit("s"), (col("vec_id") % 2).cast("string")))
    val q = labeled.filter(col("vec_id") < 2)
    val out = Similarity.filteredKnn(labeled, q, 5,
      col("q.source") =!= col("c.source"))
      .as[(Long, Long, Double, Int)].collect()
    // every returned neighbor is cross-label (query parity != neighbor)
    assert(out.nonEmpty && out.forall(r => r._1 % 2 != r._2 % 2))
    // a tautological predicate reproduces bruteForceKnn exactly
    val all = Similarity.filteredKnn(labeled, q, 5, lit(true))
      .as[(Long, Long, Double, Int)].collect().toSet
    val brute = Similarity.bruteForceKnn(corpus,
      corpus.filter(col("vec_id") < 2), 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(all == brute)
  }

  test("lshNearDupPairs: identical vectors share every bucket and are always found") {
    // ids i and i+20 carry identical embeddings -> same bucket in every
    // table -> the pair must survive blocking, with cosine 1.0
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin((i % 20) * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(vecs, 0.99, nTables = 2, nBits = 4, dim = 8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.forall(p => p._1 < p._2))
    (0 until 20).foreach { i =>
      assert(pairs.exists(p => p._1 == i && p._2 == i + 20L), s"missing pair $i")
    }
    // cap sanity: maxBucket = 1 drops every bucket -> empty
    assert(Similarity.lshNearDupPairs(vecs, 0.99, nTables = 2, nBits = 4,
      dim = 8, maxBucket = 1).count() == 0)
  }

  test("semDedup drops the larger-id twin within a cell, keeps cross-cell twins") {
    // anchors = two orthogonal axes; vectors hug one axis each, so cell
    // membership is unambiguous. In cell 0: ids 1/2 identical (2 drops),
    // id 3 orthogonal-ish stays. Ids 4 (cell 1) duplicates id 1 but in
    // the OTHER cell -> survives (SemDeDup is per-cluster by design).
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val anchors = Seq(
      (0L, v(1, 0, 0, 0)), (1L, v(0, 1, 0, 0))
    ).toDF("cell_id", "anchor")
    val corpus = Seq(
      (1L, v(1, 0, 0.1, 0)),
      (2L, v(1, 0, 0.1, 0)),    // identical to 1, same cell -> dropped
      (3L, v(1, 0.2, -0.9, 0)), // cell 0 but dissimilar -> survives
      (4L, v(0.1, 1, 0.01, 0))  // cell 1 -> survives regardless
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(anchors, corpus, 0.9)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 3L, 4L))
    assert(out(1L) == 0L && out(3L) == 0L && out(4L) == 1L)
  }

  test("semDedup: pairwise-minimal chain keeps only the smallest id; maxCell skips big cells") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val anchors = Seq((0L, v(1, 0, 0, 0))).toDF("cell_id", "anchor")
    val chain = Seq(                    // all mutually similar, one cell
      (5L, v(1, 0.01, 0, 0)),
      (6L, v(1, 0.02, 0, 0)),
      (7L, v(1, 0.03, 0, 0))
    ).toDF("vec_id", "embedding")
    assert(Similarity.semDedup(anchors, chain, 0.9)
      .as[(Long, Long)].collect().toMap.keySet == Set(5L))
    // a cell above maxCell is skipped: everything survives
    assert(Similarity.semDedup(anchors, chain, 0.9, maxCell = 2)
      .count() == 3)
  }

  test("semDedup survives zero-norm vectors: NULL cosine never marks a follower") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val anchors = Seq((0L, v(1, 0, 0, 0))).toDF("cell_id", "anchor")
    val corpus = Seq(
      (1L, v(1, 0, 0, 0)),
      (2L, v(0, 0, 0, 0)),   // zero-norm: NULL against everything
      (3L, v(0, 0, 0, 0))
    ).toDF("vec_id", "embedding")
    assert(Similarity.semDedup(anchors, corpus, -2.0).count() == 3)
  }

  test("lshNearDupPairs survives zero-norm embeddings: NULL cosine drops the pair, no crash") {
    // zero-norm cosine is NULL (the DuckDB-division contract shared by
    // the native expression, the composable form, and the oracle SQL),
    // and NULL > threshold filters the pair in every formulation — so
    // the zero vectors' pairs are absent and nothing crashes
    val vecs = ((0 until 10).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    } :+ (10L, Array.fill(8)(0f)) :+ (11L, Array.fill(8)(0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(vecs, -2.0, nTables = 2, nBits = 2, dim = 8)
      .as[(Long, Long, Double)].collect()
    // threshold -2 keeps every finite pair; zero-vector pairs (NULL
    // cosine, including the identical 10-11 pair) are dropped
    assert(pairs.nonEmpty)
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L))
    assert(pairs.forall(p => !p._3.isNaN))
    // the composable pipeline agrees: NULL cosine never passes a filter
    val ref = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(Similarity.cosineComposable(col("a.embedding"), col("b.embedding")), 6).as("c"))
      .filter(col("c") > -2.0)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(!ref.exists(p => p._1 >= 10L || p._2 >= 10L))
    assert(pairs.map(p => (p._1, p._2)).toSet.subsetOf(ref))
  }

  test("quantizeInt8: known vectors round-trip; zero vector degrades to zeros") {
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(-2.0f, 2.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id")
      .as[(Long, Double, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // v1: scale 1/127; q = [127, floor(-63.5+0.5)=-63, 0, floor(31.75+0.5)=32]
    val (_, s1, l1, mn1, mx1, e1) = out(1L)
    assert(math.abs(s1 - 1.0 / 127.0) < 1e-9)
    assert(l1 == 127L + 63L + 0L + 32L && mn1 == -63L && mx1 == 127L)
    assert(e1 > 0 && e1 < 0.01) // small but nonzero reconstruction error
    // zero vector: scale 0, all-zero digest, rmse 0 (no divide-by-zero)
    assert(out(2L) == ((2L, 0.0, 0L, 0L, 0L, 0.0)))
    // symmetric full-scale vector: extremes hit exactly; the interior
    // values quantize to 64 (floor(63.5+0.5)) and -63 (floor(-63.0))
    val (_, s3, l3, mn3, mx3, e3) = out(3L)
    assert(math.abs(s3 - 2.0 / 127.0) < 1e-9)
    assert(mn3 == -127L && mx3 == 127L && l3 == 127L + 127L + 64L + 63L && e3 < 0.01)
  }

  test("rrfFusion: fused score is exactly the sum of leg contributions; order and cut hold") {
    val docs = Seq(
      (0L, "anchor row carries the vector only"),
      (1L, "query target words all three match"),
      (2L, "query target only two match here"),
      (3L, "query alone single match"),
      (4L, "nothing relevant lexically at all"),
      (5L, "also nothing shared with the terms")
    ).toDF("doc_id", "text")
    val vecs = (0 until 6).map { i =>
      // doc 4 nearly parallel to the query vector (doc 0), doc 5 close
      val base = Array.tabulate(8)(j => if (j == 0) 1.0f else 0.1f * i)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val out = Similarity.rrfFusion(docs, "doc_id", col("text"), vecs,
      Seq("query", "target", "words"), 0L, kCand = 4, kOut = 10, rrfK = 60)
      .as[(Long, Option[Long], Option[Long], Double)].collect()
    assert(out.nonEmpty && out.length <= 10)
    // self-consistency: score equals the reconstruction from its ranks
    out.foreach { case (id, lr, vr, s) =>
      val expect = lr.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        vr.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(s - expect) < 1e-6, s"doc $id")
      assert(lr.nonEmpty || vr.nonEmpty)
    }
    // descending score, doc_id tie-break
    val scores = out.map(r => (-r._4, r._1)).toSeq
    assert(scores == scores.sorted)
    // the full-overlap doc is lexical rank 1; doc 0 (the query vector
    // itself) is excluded from the vector leg but may rank lexically
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2.contains(1L))
    assert(byId.get(0L).forall(_._3.isEmpty))
  }

  test("chiSquare: hand-checked 2x2 contingency; margins and expectation exact") {
    import graft.operators.Quantiles
    val df = (Seq.fill(4)(("x", "p")) ++ Seq(("x", "q")) ++
      Seq(("y", "p")) ++ Seq.fill(4)(("y", "q"))).toDF("a", "b")
    val out = Quantiles.chiSquare(df, "a", "b")
      .select("a", "b", "n", "expected", "chi2_cell")
      .as[(String, String, Long, Double, Double)].collect()
    assert(out.length == 4)
    // N=10, all margins 5 -> every expectation 2.5; (4-2.5)^2/2.5 = 0.9
    assert(out.forall(_._4 == 2.5))
    assert(out.forall(r => math.abs(r._5 - 0.9) < 1e-12))
    assert(out.map(_._3).sorted.toSeq == Seq(1L, 1L, 4L, 4L))
  }

  test("madOutliers: hand-checked median/MAD fence, zero-MAD group, nulls ignored") {
    import graft.operators.Quantiles
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
      ("a", null),
      ("b", 10.0), ("b", 10.0), ("b", 10.0), ("b", 10.0)
    ).toDF("g", "v")
    val out = Quantiles.madOutliers(df, Seq("g"), col("v"), k = 3.0)
      .select("g", "med", "mad", "n_rows", "n_outliers")
      .as[(String, Double, Double, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // a: med 3, devs (2,1,0,1,97) -> mad 1, fence 4.4478 -> only 97 out
    assert(out("a") == (("a", 3.0, 1.0, 5L, 1L)))
    // b: constant group -> mad 0, fence 0, strict > keeps zero outliers
    assert(out("b") == (("b", 10.0, 0.0, 4L, 0L)))
  }

  test("winsorize: clamps to quantile fences, nulls pass through unclipped") {
    import graft.operators.Quantiles
    val df = Seq[(Long, String, java.lang.Double)](
      (1L, "a", 0.0), (2L, "a", 10.0), (3L, "a", 20.0), (4L, "a", 30.0),
      (5L, "a", 40.0), (6L, "a", 50.0), (7L, "a", 60.0), (8L, "a", 70.0),
      (9L, "a", 80.0), (10L, "a", 90.0), (11L, "a", 1000.0),
      (12L, "a", null)
    ).toDF("id", "g", "v")
    val out = Quantiles.winsorize(df, Seq("g"), col("v"), "id",
        pLo = 0.10, pHi = 0.90, width = 10.0)
      .select("id", "value", "value_clipped", "is_clipped")
      .as[(Long, Option[Double], Option[Double], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // 11 non-null values: p10 = 10.0, p90 = 90.0 (exact rank positions)
    assert(out(1L) == ((1L, Some(0.0), Some(10.0), true)))     // below lo
    assert(out(2L) == ((2L, Some(10.0), Some(10.0), false)))   // at fence
    assert(out(6L) == ((6L, Some(50.0), Some(50.0), false)))   // interior
    assert(out(10L) == ((10L, Some(90.0), Some(90.0), false))) // at fence
    assert(out(11L) == ((11L, Some(1000.0), Some(90.0), true)))// above hi
    assert(out(12L) == ((12L, None, None, false)))             // null rides
    assert(out.size == 12)
  }

  test("quantileCont matches percentile() exactly, incl. ties; nulls ignored") {
    import graft.operators.Quantiles
    val rnd = new scala.util.Random(7)
    val data = (1 to 500).map { i =>
      val g = s"g${i % 3}"
      // ties on purpose: values drawn from a small integer range + noise
      val v: java.lang.Double =
        if (i % 41 == 0) null else rnd.nextInt(20) + (if (i % 2 == 0) 0.25 else 0.0)
      (g, v)
    }.toDF("g", "v")
    val expected = data.groupBy("g")
      .agg(expr("percentile(v, 0.5)").as("p50"), expr("percentile(v, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val got = Quantiles.quantileCont(data, Seq("g"), col("v"),
      Seq(("p50", 0.5), ("p90", 0.9)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (g, (p50, p90)) =>
      assert(java.lang.Double.doubleToLongBits(p50) ==
        java.lang.Double.doubleToLongBits(expected(g)._1), s"$g p50")
      assert(java.lang.Double.doubleToLongBits(p90) ==
        java.lang.Double.doubleToLongBits(expected(g)._2), s"$g p90")
    }
    // histogram-selection form agrees bit-for-bit too, at several widths
    // (bucketing is internal — width must not affect the result)
    Seq(0.5, 3.0, 1000.0).foreach { width =>
      val b = Quantiles.quantileContBucketed(data, Seq("g"),
        Seq(("v", col("v"), width, Seq(("p50", 0.5), ("p90", 0.9)))))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(b.keySet == expected.keySet)
      b.foreach { case (g, (p50, p90)) =>
        assert(java.lang.Double.doubleToLongBits(p50) ==
          java.lang.Double.doubleToLongBits(expected(g)._1), s"width $width $g p50")
        assert(java.lang.Double.doubleToLongBits(p90) ==
          java.lang.Double.doubleToLongBits(expected(g)._2), s"width $width $g p90")
      }
    }
  }

  test("sessionize: gap splits sessions, seq increments, duration from span") {
    import graft.operators.Temporal
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00")),
      (2L, 7L, ts("2024-01-01 10:10:00")),  // same session (10 min gap)
      (3L, 7L, ts("2024-01-01 11:00:00")),  // 50 min gap -> new session
      (4L, 8L, ts("2024-01-01 10:00:00"))   // other user
    ).toDF("event_id", "user_id", "ts")
    val out = Temporal.sessionize(ev, "user_id", "ts", "event_id", 1800)
      .select("user_id", "session_seq", "n_events", "duration_secs")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((7L, 1L, 2L, 600L), (7L, 2L, 1L, 0L), (8L, 1L, 1L, 0L)))
  }

  test("minHashEstimate: identical docs estimate 1.0; estimates in [0,1]") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (4L, "completely different content about spark catalyst optimizer rules here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashCandidates(docs, "doc_id", col("text"), 5, 16, 4)
    val est = Dedup.minHashEstimate(docs, "doc_id", col("text"), pairs, 5, 16)
      .as[(Long, Long, Double)].collect()
    assert(est.nonEmpty)
    val exact = est.find(p => p._1 == 1L && p._2 == 2L).get
    assert(exact._3 == 1.0) // identical docs agree on every slot
    assert(est.forall(p => p._3 >= 0.0 && p._3 <= 1.0))
  }

  test("minHashCandidatesWithEstimate == minHashEstimate over minHashCandidates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (4L, "completely different content about spark catalyst optimizer rules here"),
      (5L, "the quick brown fox jumps over a sleepy dog again and again today")
    ).toDF("doc_id", "text")
    val composed = Dedup.minHashEstimate(docs, "doc_id", col("text"),
      Dedup.minHashCandidates(docs, "doc_id", col("text"), 5, 16, 4), 5, 16)
      .as[(Long, Long, Double)].collect().toSet
    val fused = Dedup.minHashCandidatesWithEstimate(docs, "doc_id", col("text"),
      5, 16, 4).as[(Long, Long, Double)].collect().toSet
    assert(fused == composed, s"fused=$fused composed=$composed")
    assert(fused.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("bigramPmi: collocations score high, cross-products low; minCount filters") {
    val docs = Seq(
      (1L, "new york new york new york stock exchange"),
      (2L, "york new stock market and new york again"),
      (3L, "the stock market fell")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramPmi(docs, "doc_id", col("text"), minCount = 2)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // "new york" co-occurs 4x; pmi = ln(N * c_ab / (c_a * c_b))
    val (cab, pmi) = out(("new", "york"))
    assert(cab == 4L)
    val n = 20.0 // total tokens (8 + 8 + 4)
    assert(math.abs(pmi - math.round(math.log(n * 4 / (5.0 * 5.0)) * 1e6) / 1e6) < 1e-9)
    // "stock market" appears twice -> kept; singleton bigrams filtered
    assert(out.contains(("stock", "market")))
    assert(!out.contains(("stock", "exchange"))) // c_ab = 1 < minCount
  }

  test("charEntropy: uniform text maxes entropy, single-char text scores 0") {
    val docs = Seq(
      (1L, "abcd"),     // 4 distinct chars, uniform -> ln(4)
      (2L, "aaaa"),     // single char -> 0
      (3L, "aabb")      // 2 distinct uniform -> ln(2)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, "doc_id", col("text"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((4L, math.round(math.log(4) * 1e6) / 1e6)))
    assert(out(2L) == ((4L, 0.0)))
    assert(out(3L) == ((4L, math.round(math.log(2) * 1e6) / 1e6)))
  }

  test("topKPerGroup == per-group window ranking") {
    import graft.operators.Relational
    val df = Seq(
      ("g1", 1L, 0.5), ("g1", 2L, 0.9), ("g1", 3L, 0.9), ("g1", 4L, 0.1),
      ("g2", 5L, 0.3)
    ).toDF("g", "item", "s")
    val out = Relational.topKPerGroup(df, Seq("g"), col("s"), col("item"), 2)
      .as[(String, Long, Double, Int)].collect().toSet
    assert(out == Set(("g1", 2L, 0.9, 1), ("g1", 3L, 0.9, 2), ("g2", 5L, 0.3, 1)))
  }

  test("postingLists: counts, doc frequency, capped ascending postings, total order") {
    val docs = Seq(
      (5L, "b a a"), (3L, "a b"), (9L, "a c"), (1L, "c")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.postingLists(docs, "doc_id", col("text"),
      topTokens = 2, maxPostings = 2)
      .as[(String, Long, Long, Seq[Long])].collect()
    // 'a' has 4 occurrences over docs {3,5,9}; postings capped at the 2
    // SMALLEST doc ids; 'b' (2 occ) vs 'c' (2 occ): tie broken by token
    assert(out.toSeq == Seq(("a", 4L, 3L, Seq(3L, 5L)), ("b", 2L, 2L, Seq(3L, 5L))))
  }

  test("fixedWidthHistogram: bucket edges, counts, under/overflow rows") {
    import graft.operators.Quantiles
    val df = Seq(-5.0, 0.0, 1.0, 9.99, 10.0, 15.0, 99.9, 100.0, 250.0)
      .toDF("v")
    val out = Quantiles.fixedWidthHistogram(df, col("v"), 0.0, 100.0, 10)
      .as[(Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(-1L) == (-1L, -10.0, 0.0, 1L))        // underflow: -5
    assert(out(0L) == (0L, 0.0, 10.0, 3L))           // 0, 1, 9.99
    assert(out(1L) == (1L, 10.0, 20.0, 2L))          // 10, 15
    assert(out(9L) == (9L, 90.0, 100.0, 1L))         // 99.9
    assert(out(10L) == (10L, 100.0, 110.0, 2L))      // overflow: 100, 250
    assert(out.values.map(_._4).sum == 9L)
  }

  test("fixedWidthHistogram: inexact width can't push in-range values to overflow; nulls dropped") {
    import graft.operators.Quantiles
    // width = 1/3 is inexact: floor(0.9999999999999999 / width) = 3,
    // which the clamp must pull back into the last REAL bucket (2)
    val df = Seq[java.lang.Double](0.9999999999999999, 1.0, null, 0.1)
      .toDF("v")
    val out = Quantiles.fixedWidthHistogram(df, col("v"), 0.0, 1.0, 3)
      .as[(Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out == Map(0L -> 1L, 2L -> 1L, 3L -> 1L)) // null row dropped
  }

  test("lshKnn recall against brute force is substantial") {
    val queries = corpus.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceKnn(corpus, queries, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshKnn(corpus, queries, 3, nTables = 6, nBits = 4, dim = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx).toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("trained k-means IVF recall >= stride-anchor IVF recall on the fixture") {
    val queries = corpus.filter(col("vec_id") < 5)
    def recallOf(approx: org.apache.spark.sql.DataFrame, exact: Set[(Long, Long)]) = {
      val got = approx.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      exact.count(got).toDouble / exact.size
    }
    val exact = Similarity.bruteForceKnn(corpus, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val stride = recallOf(
      Similarity.ivfKnn(corpus, queries, 5, stride = 10, nCells = 4, nProbe = 2), exact)
    val anchors = Similarity.trainIvfAnchors(corpus, nCells = 4)
    assert(anchors.count() == 4)
    val trained = recallOf(
      Similarity.ivfKnnWith(anchors, corpus, queries, 5, nProbe = 2), exact)
    assert(trained >= stride, s"trained recall $trained < stride recall $stride")
    assert(trained > 0.5, s"trained recall $trained implausibly low")
  }

  test("annRecallAudit: exact per-query recall vs brute force; full " +
      "probe sweep recovers recall 1") {
    val queries = corpus.filter(col("vec_id") < 5)
    // independent truth: set-intersect the two operators' outputs
    val exact = Similarity.bruteForceKnn(corpus, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.ivfKnn(corpus, queries, 5,
        stride = 10, nCells = 4, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val audit = Similarity.annRecallAudit(corpus, queries, 5,
        stride = 10, nCells = 4, nProbe = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(audit.keySet == exact.keySet)
    audit.foreach { case (q, (nTrue, nHit, micro)) =>
      val t = exact(q); val hits = t.intersect(approx.getOrElse(q, Set.empty))
      assert(nTrue == t.size && nHit == hits.size, s"query $q")
      assert(micro == nHit * 1000000L / nTrue, s"query $q micro")
    }
    // probing EVERY cell makes IVF exhaustive -> recall exactly 1
    val full = Similarity.annRecallAudit(corpus, queries, 5,
        stride = 10, nCells = 4, nProbe = 4)
      .select("recall_micro").as[Long].collect()
    assert(full.nonEmpty && full.forall(_ == 1000000L), full.toSeq)
  }

  test("a zero-norm anchor never captures the corpus (NULL sim ranks last)") {
    // A degenerate (zero-norm) anchor yields NULL cosine against every
    // vector; NULL struct fields sort FIRST in Spark's ascending array
    // sort, so without the NULLS-LAST coalesce in assignCells one dead
    // anchor would become every vector's rank-1 cell and the IVF index
    // would collapse into a single cell. With it, results are identical
    // to the quantizer without the dead anchor.
    val queries = corpus.filter(col("vec_id") < 5)
    val good = Similarity.trainIvfAnchors(corpus, nCells = 4)
    val dead = Seq((99L, Array.fill(8)(0.0))).toDF("cell_id", "anchor")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val clean = rows(Similarity.ivfKnnWith(good, corpus, queries, 5, nProbe = 2))
    val withDead =
      rows(Similarity.ivfKnnWith(good.union(dead), corpus, queries, 5, nProbe = 2))
    assert(withDead == clean)
  }

  test("bounded top-k aggregate == window row_number across many partitions, ties included") {
    import org.apache.spark.sql.expressions.Window
    // duplicate embeddings (i and i+50 identical) force exact cos_sim
    // ties, so the (score desc, id asc) tie-break is actually exercised;
    // vec 100 is ZERO-NORM (cosine = NULL — ranks last in a desc window
    // in both engines and is skipped by the aggregate, so it must be
    // absent from every top-k on this corpus, and must not poison the
    // k-buffer); 13 partitions force real partial/merge shuffle traffic
    val vecs = ((0 until 100).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin((i % 50) * 8 + d).toFloat))
    } :+ (100L, Array.fill(8)(0f))).toDF("vec_id", "embedding").repartition(13)
    val queries = vecs.filter(col("vec_id") < 4)
    val scored = vecs.as("c").join(broadcast(queries.as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(Similarity.cosine(col("q.embedding"), col("c.embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect()
        .map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3), t._4)).toSet
    val reference = rows(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7))
    val got = rows(Similarity.bruteForceKnn(vecs, queries, 7))
    assert(got == reference)
    // the zero-norm neighbor (NULL cosine) is in no query's top-k
    assert(!got.exists(_._2 == 100L))
    assert(got.size == 4 * 7)
  }

  test("cosine_pairs_within == composable enumerate+score+filter on the same buckets") {
    // reference: all distinct unordered pairs scored with the composable
    // cosine + round(6) + threshold — the generator must agree exactly
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 3 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val thr = 0.2
    val ref = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(Similarity.cosineComposable(col("a.embedding"), col("b.embedding")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") > thr)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // one bucket holding the whole corpus => generator enumerates all pairs
    val bucket = vecs.agg(collect_list(struct(col("vec_id").as("id"),
      col("embedding").as("emb"))).as("vs"))
    val got = bucket.select(graft.functions.Native.cosinePairsWithin(col("vs"), thr)
        .as(Seq("vec_a", "vec_b", "cos_sim")))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(ref(k)), s"pair $k")
    }
  }

  test("winnowFingerprints: local guarantee, short-doc contract, sparsity") {
    import spark.implicits._
    // k=4, w=4: any shared run of w+k-1 = 7 tokens must share >= 1
    // fingerprint (the winnowing guarantee) even when the surroundings
    // differ completely
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"red blue green $shared yellow purple"),
      (3L, "completely different words with no overlap at all here"),
      (4L, "tiny doc"),               // < k tokens: no fingerprints
      (5L, "exactly four tokens here"), // 4 tokens = 1 gram: single min
      (6L, s"one two three $shared four five six")) // duplicate of 1
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", col("text"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty, s"${fps(1L)} vs ${fps(2L)}")
    assert((fps(1L) intersect fps(3L)).isEmpty)
    assert(!fps.contains(4L))
    assert(fps(5L).size == 1)
    assert(fps(6L) == fps(1L)) // fingerprints are a pure content function
    // sparsity: far fewer fingerprints than k-grams (density ~ 2/(w+1))
    val grams1 = docs.filter(col("doc_id") === 1).select(
      size(split(col("text"), " "))).head().getInt(0) - 3
    assert(fps(1L).size < grams1, s"${fps(1L).size} of $grams1 grams kept")
  }

  test("dsirWeights: target-like docs score above off-target docs") {
    import spark.implicits._
    val targetish = "the model learns from curated data with careful review"
    val junk = "zzz qqq xxx www vvv uuu ttt sss rrr ppp"
    val raw = Seq((1L, targetish), (2L, junk), (3L, targetish + " indeed"))
      .toDF("doc_id", "text")
    val target = Seq(Tuple1(targetish), Tuple1(targetish + " always"))
      .toDF("text")
    val w = TextAnalysis.dsirWeights(raw, "doc_id", col("text"),
      target, col("text"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // n_feats = bigram instance count
    assert(w(1L)._2 == targetish.split(" ").length - 1, w.toString)
    // per-feature average log-ratio: target-like docs positive-leaning,
    // junk (absent from target) strictly below them
    val avg1 = w(1L)._3.toDouble / w(1L)._2
    val avg2 = w(2L)._3.toDouble / w(2L)._2
    assert(avg1 > avg2, s"target-like $avg1 !> junk $avg2")
    assert(avg1 > 0 && avg2 < 0, s"$avg1 / $avg2")
  }

  test("nbClassifier: generalizes off weak labels; decision is the score sign") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good clean prose text", true),
      (2L, "good clean prose words", true),
      (3L, "spam junk garbage links", false),
      (4L, "spam junk garbage noise", false),
      (5L, "good clean prose again", false), // pos vocab, neg label
      (6L, null.asInstanceOf[String], false))
      .toDF("doc_id", "text", "lbl")
    val out = TextAnalysis.nbClassifier(docs, "doc_id", col("text"),
      col("lbl"))
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 5, "null-text doc must be dropped")
    assert(out(1L)._2 == 4L) // n_toks
    assert(out(1L)._3 > 0L && out(1L)._4, out.toString) // clearly positive
    assert(out(3L)._3 < 0L && !out(3L)._4, out.toString) // clearly negative
    // the whole point: doc 5 is LABELED negative but carries the
    // positive class's vocabulary — NB generalizes past its weak label
    assert(out(5L)._3 > out(3L)._3, out.toString)
    assert(out(5L)._4, s"pos-vocab doc should classify positive: $out")
    // decision == sign of the score, everywhere
    out.values.foreach(r => assert(r._4 == (r._3 > 0L)))
  }

  test("lmPerplexityBuckets: reference-like docs land in head, unseen text in tail") {
    import spark.implicits._
    val ref = Seq.fill(3)("the cat sat on the mat").zipWithIndex
      .map(_.swap).toDF("i", "text")
    val docs = Seq(
      (1L, "the cat sat on the mat"), // every transition seen
      (2L, "mat the on sat cat the"), // seen tokens, unseen transitions
      (3L, "zz yy xx ww vv qq"),      // nothing seen
      (4L, "solo"))                    // <2 tokens: dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmPerplexityBuckets(docs, "doc_id",
      col("text"), ref, col("text"))
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 3, "1-token doc must be dropped")
    assert(out(1L)._2 == 5L) // n_pairs = tokens - 1
    // reference-like text scores strictly lower mean nll than unseen
    assert(out(1L)._4 < out(2L)._4 && out(1L)._4 < out(3L)._4, out.toString)
    // ntile(3) over 3 docs: exactly one per bucket, ordered by mean nll
    assert(out(1L)._5 == "head", out.toString)
    assert(Set(out(2L)._5, out(3L)._5) == Set("middle", "tail"))
    // nll is a sum of non-negative micro-nat terms
    out.values.foreach(r => assert(r._3 >= 0L && r._4 >= 0L))
  }

  test("boilerplateDensity: template docs score, unique docs at zero, exact ratio") {
    import spark.implicits._
    val footer = "copyright acme corp all rights reserved worldwide" // 7 toks
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot " + footer),
      (2L, "golf hotel india juliet kilo lima mike " + footer),
      (3L, "november oscar papa quebec romeo sierra tango uniform victor"),
      (4L, "xx"))                                    // <k tokens: dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateDensity(docs, "doc_id", col("text"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 3, "sub-k-gram doc must be dropped")
    // the winnowing guarantee: a shared >= w+k-1-token passage shares
    // at least one fingerprint — both template docs score
    assert(out(1L)._3 > 0 && out(2L)._3 > 0, out.toString)
    // a doc with no shared passage sits at exactly zero
    assert(out(3L)._3 == 0L && out(3L)._4 == 0L, out.toString)
    // ratio is the exact integer division, and common <= total
    out.values.foreach { case (_, nFp, nCommon, micro) =>
      assert(nCommon <= nFp)
      assert(micro == nCommon * 1000000L / nFp)
    }
  }

  test("contrastiveSpanPairs: crops in bounds, deterministic, short docs dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 40).map("w" + _).mkString(" ")),
      (2L, "a b c d e f g h"),                 // exactly minTokens
      (3L, "too short"),                        // dropped
      (4L, null.asInstanceOf[String]))          // dropped
      .toDF("doc_id", "text")
    def run() = TextAnalysis.contrastiveSpanPairs(docs, "doc_id", col("text"))
      .as[(Long, Long, Long, String, Long, Long, String)].collect()
      .sortBy(_._1)
    val out = run()
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(run().toSeq == out.toSeq) // hash-derandomized: identical reruns
    out.foreach { case (id, as, al, sa, bs, bl, sb) =>
      val toks = (if (id == 1L) (1 to 40).map("w" + _) else "abcdefgh".map(_.toString)).toSeq
      // lengths in [3, 6], spans inside the doc, text matches position
      assert(al >= 3 && al <= 6 && bl >= 3 && bl <= 6, out.mkString(";"))
      assert(as >= 0 && as + al <= toks.size && bs >= 0 && bs + bl <= toks.size)
      assert(sa == toks.slice(as.toInt, (as + al).toInt).mkString(" "))
      assert(sb == toks.slice(bs.toInt, (bs + bl).toInt).mkString(" "))
    }
    // the two crops are independent draws: not forced identical
    assert(out.exists(r => (r._2, r._3) != (r._5, r._6)), out.mkString(";"))
  }

  test("spanCorruption: sentinels pair 1:1, token conservation, deterministic") {
    import spark.implicits._
    val long = (1 to 400).map("w" + _).mkString(" ") // 50 blocks
    val docs = Seq((1L, long), (2L, "tiny doc"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def run() = TextAnalysis.spanCorruption(docs, "doc_id", col("text"))
      .as[(Long, String, String, Long, Long)].collect().sortBy(_._1)
    val out = run()
    assert(out.length == 2, "null-text doc must be dropped")
    // blockLen < 4 would make the span-start modulus (blockLen - 3)
    // zero or negative — rejected up front, not at runtime
    intercept[IllegalArgumentException] {
      TextAnalysis.spanCorruption(docs, "doc_id", col("text"), blockLen = 3)
    }
    val byId = out.map(r => r._1 -> r).toMap
    // 50 blocks at 1/5 mask rate: some span must fire (hash-determined)
    assert(byId(1L)._4 > 0, byId(1L).toString)
    out.foreach { case (_, inp, tgt, nSpans, nMasked) =>
      val sent = "<extra_id_\\d+>".r
      val inpSent = sent.findAllIn(inp).toList
      val tgtSent = sent.findAllIn(tgt).toList
      // every input sentinel reappears in the target, in order, 1:1
      assert(inpSent == tgtSent, s"$inpSent vs $tgtSent")
      assert(inpSent.length == nSpans)
      // conservation: real input tokens + swallowed tokens = original
      val inpReal = inp.split(" ").count(t => !t.startsWith("<extra_id_"))
      val tgtReal = if (tgt.isEmpty) 0
        else tgt.split(" ").count(t => !t.startsWith("<extra_id_"))
      assert(tgtReal == nMasked, s"$tgtReal != $nMasked")
      val total = byId.values.find(_._2 == inp).get
      assert(inpReal + nMasked ==
        (if (total._1 == 1L) 400 else 2), (inp, tgt).toString)
      // swallowed spans are 1-3 tokens each
      assert(nMasked >= nSpans && nMasked <= 3 * nSpans)
    }
    // hash-derandomized: identical on re-run
    assert(run().toSeq == out.toSeq)
  }

  test("denoisedHardNegatives: false negatives inside the margin excluded, no-positive queries dropped") {
    import spark.implicits._
    // query 1 (label 0): positive 2 at cos≈1; vec 10 (label 5) is an
    // UNLABELED POSITIVE (cos≈1, within the margin of pos) — must be
    // denoised away; vecs 11,12 (label 5) are genuinely dissimilar —
    // the surviving hard negatives. Query 3 (label 9) has no same-label
    // partner → no calibration → dropped entirely.
    val vecs: Seq[(Long, Array[Float], Int)] = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0.99f, 0.1f, 0f, 0f), 0),      // labeled positive
      (10L, Array(0.995f, 0.05f, 0f, 0f), 5),   // false negative
      (11L, Array(0.5f, 0.8f, 0f, 0f), 5),      // hard negative
      (12L, Array(0f, 1f, 0f, 0f), 5),          // easy negative
      (3L, Array(0f, 0f, 1f, 0f), 9))
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val out = Similarity.denoisedHardNegatives(emb,
        col("vec_id").isin(1L, 3L), k = 5, marginMicro = 50000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.forall(_._1 == 1L), out.toString) // query 3 dropped
    val negIds = out.sortBy(_._5).map(_._2)
    // 10 denoised away; 3 and 12 tie at cos 0 → id-ascending order
    assert(negIds == Seq(11L, 3L, 12L), out.toString)
    // the excluded candidate really was the MOST similar — plain kNN
    // would have ranked it first (non-vacuity of the denoising)
    val plain = Similarity.filteredKnn(
        emb, emb.filter(col("vec_id") === 1L), 1,
        col("q.label") =!= col("c.label"))
      .as[(Long, Long, Double, Long)].collect()
    assert(plain.head._2 == 10L, plain.toSeq.toString)
    // pos_micro is the labeled positive's exact micro-cosine
    val a = vecs(0)._2.map(_.toDouble); val b = vecs(1)._2.map(_.toDouble)
    val cosAB = a.zip(b).map { case (x, y) => x * y }.sum /
      (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    assert(out.head._4 == math.floor(cosAB * 1e6 + 0.5).toLong, out.toString)
  }

  test("truncationRecall: prefix ranking overlap counted exactly") {
    import spark.implicits._
    // query 0 = (1, 0). Full cosines: 1 → 1.0, 2 → 0.316, 3 → 0.6 so
    // full top-2 = {1, 3}. The 1-dim prefix sees only x: all three
    // score cos 1 (a 1-dim cosine is a sign), the tie breaks by id,
    // trunc top-2 = {1, 2} → overlap {1} → recall 0.5
    val vecs: Seq[(Long, Array[Float])] = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(2f, 0f)),
      (2L, Array(1f, -3f)),
      (3L, Array(3f, 4f)))
    val out = Similarity.truncationRecall(
        vecs.toDF("vec_id", "embedding"), col("vec_id") === 0L,
        k = 2, truncDim = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 1L, 500000L)), out.toString)
  }

  test("ndcgEval: hand-computed DCG/IDCG/MRR, zero-norm prefix query degrades to dcg=0") {
    import spark.implicits._
    val w = Similarity.dcgWeights(2)
    assert(w == Seq(1000000L, 630930L), w.toString)
    // query 0 = (1,0), truncDim 1 (x only). Full cosines / grades
    // (t3=.9, t2=.6, t1=.3): v1 .99995 g3, v2 .4472 g1, v3 -.894 g0,
    // v4 .7071 g2, v5 0 g0. Trunc ranking: v1=v2=v4 tie at 1.0, id
    // order -> system top-2 = [v1 g3, v2 g1]; ideal top-2 = [v1, v4].
    // Query 5 = (0,1): the 1-dim prefix has zero norm -> every trunc
    // cosine is NULL -> empty system list, dcg 0, rr 0 — while the
    // full-dim grades still give idcg > 0 (the left-join path).
    val vecs: Seq[(Long, Array[Float])] = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.01f)), (2L, Array(1f, 2f)),
      (3L, Array(-1f, 0.5f)), (4L, Array(1f, 1f)), (5L, Array(0f, 1f)))
    val out = Similarity.ndcgEval(vecs.toDF("vec_id", "embedding"),
        col("vec_id").isin(0L, 5L), k = 2, truncDim = 1,
        t1 = 300000L, t2 = 600000L, t3 = 900000L)
      .as[(Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val dcg0 = 7L * w(0) + 1L * w(1)  // system [g3, g1]
    val idcg0 = 7L * w(0) + 3L * w(1) // ideal  [g3, g2]
    val idcg5 = 3L * w(0) + 3L * w(1) // v2, v4 both g2
    assert(out == Seq(
      (0L, 3L, dcg0, idcg0, dcg0 * 1000000L / idcg0, 1000000L),
      (5L, 3L, 0L, idcg5, 0L, 0L)), out.toString)
  }

  test("calibrationCurve: equal-population bins, deterministic tie split, exact rates") {
    import spark.implicits._
    // 10 docs, scores 1..10, positives = scores 7..10 plus a noisy 2
    val rows = (1 to 10).map(i =>
      (i.toLong, i.toLong * 10, i >= 7 || i == 2))
    val out = TextAnalysis.calibrationCurve(
        rows.toDF("doc_id", "s", "lbl"), "doc_id", col("s"), col("lbl"),
        nBins = 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the noisy positive (score 20) lands in bin 1: rate 0.5 there,
    // clean zeros in 2-3, saturated 4-5 — the miscalibration visible
    assert(out == Seq(
      (1L, 2L, 1L, 10L, 20L, 500000L),
      (2L, 2L, 0L, 30L, 40L, 0L),
      (3L, 2L, 0L, 50L, 60L, 0L),
      (4L, 2L, 2L, 70L, 80L, 1000000L),
      (5L, 2L, 2L, 90L, 100L, 1000000L)), out.toString)
  }

  test("bitextMarginMine: true twin mines, hub pairs suppressed by the margin") {
    import spark.implicits._
    // src 1 has a genuine translation twin (tgt 10) plus weak 0.3-cos
    // noise neighbors on both sides -> ratio margin well above 1.05.
    // src 2 is a "hub": equally close to three tgt vectors -> its best
    // cos matches its average neighborhood, margin ~1.0, mined AWAY.
    val emb: Seq[(Long, Array[Float], Long)] = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0L),          // src twin
      (2L, Array(0f, 1f, 0f, 0f), 0L),          // src hub
      (3L, Array(0.02f, 1f, 0.01f, 0f), 0L),    // second src hub: keeps
                                                // tgt neighborhoods
                                                // strong on BOTH sides
      (10L, Array(0.99f, 0.1f, 0f, 0f), 5L),    // tgt twin of 1
      (11L, Array(0.3f, 0f, 0.95f, 0f), 5L),    // weak noise near 1
      (12L, Array(0.3f, 0f, 0f, 0.95f), 5L),    // weak noise near 1
      (20L, Array(0.01f, 1f, 0.05f, 0f), 5L),   // hub partners of 2/3,
      (21L, Array(0f, 1f, 0.05f, 0.01f), 5L),   // all ~equally close
      (22L, Array(0.01f, 1f, 0f, 0.05f), 5L))
    val df = emb.toDF("vec_id", "embedding", "label")
    val out = Similarity.bitextMarginMine(df, col("label") < 5, k = 2,
      minMarginMicro = 1050000L, nTables = 8, nBits = 2, dim = 4)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // the twin pair survives with a decisive margin
    assert(out.contains(1L), out.toString)
    assert(out(1L)._2 == 10L, out.toString)
    assert(out(1L)._4 > 1050000L, out.toString)
    // cos_micro is the quantized exact cosine of the mined pair
    val a = emb(0)._2.map(_.toDouble); val b = emb(3)._2.map(_.toDouble)
    val cos = a.zip(b).map { case (x, y) => x * y }.sum /
      (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    assert(out(1L)._3 == math.floor(cos * 1e6 + 0.5).toLong, out.toString)
    // the hubs' margins cannot clear the threshold: best ~= average
    assert(!out.contains(2L) && !out.contains(3L), out.toString)
    assert(out.keySet == Set(1L), out.toString)
  }

  test("bitextMarginMine: degenerate buckets skip under maxBucket, never mine") {
    import spark.implicits._
    // six near-identical vectors share every LSH bucket in every table:
    // with the cap below the membership the bucket is degenerate and
    // contributes NO candidates; with a loose cap the twins mine
    val vecs: Seq[(Long, Array[Float], Long)] =
      (0 until 3).map(i => (i.toLong, Array(1f, i * 1e-4f, 0f, 0f), 0L)) ++
      (0 until 3).map(i => (10L + i, Array(1f, 0f, i * 1e-4f, 0f), 5L))
    val df = vecs.toDF("vec_id", "embedding", "label")
    def mine(cap: Int) = Similarity.bitextMarginMine(df, col("label") < 5,
      k = 2, minMarginMicro = 0L, nTables = 8, nBits = 2, dim = 4,
      maxBucket = cap).count()
    assert(mine(5) == 0L, "6-member buckets must be skipped at cap 5")
    assert(mine(100) > 0L, "loose cap must mine the twins")
  }

  test("signatureOverlap: identical groups agree on every slot, disjoint on few") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog tonight"
    val b = "pack my box with five dozen liquor jugs right now"
    val c = "sphinx of black quartz judge my vow in time"
    val docs = Seq(
      ("s1", a), ("s1", b),
      ("s2", a), ("s2", b),         // s2 == s1 content: J = 1
      ("s3", c))                     // disjoint content
      .toDF("source", "text")
    val out = Dedup.signatureOverlap(docs, "source", col("text"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out.size == 3) // C(3,2) unordered pairs
    assert(out(("s1", "s2"))._3 == 16L, out.toString) // all slots agree
    assert(out(("s1", "s2"))._4 == 1.0)
    // disjoint shingle sets: agreement only by affine-min coincidence
    assert(out(("s1", "s3"))._3 < 16L, out.toString)
    assert(out(("s2", "s3"))._3 == out(("s1", "s3"))._3) // same content
  }

  test("tfIdf: unhinted vocab join path returns identical rows to the broadcast path") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha delta"),
      (3L, "beta beta epsilon zeta")).toDF("doc_id", "text")
    def rows(b: Boolean) =
      TextAnalysis.tfIdf(docs, "doc_id", col("text"), broadcastVocab = b)
        .as[(Long, String, Long, Double, Double)].collect().toSet
    assert(rows(false) == rows(true))
  }

  test("crossEntropyDiffSelect: JVM-twin exact arithmetic, both decisions fire, evidence contract") {
    import spark.implicits._
    val B = 256
    val inDom = Seq("alpha beta gamma alpha beta", "beta gamma alpha beta")
    val gen = Seq("delta epsilon zeta delta epsilon", "epsilon zeta delta")
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),   // in-domain-looking -> selected
      (2L, "delta epsilon zeta"),       // general-looking -> rejected
      (3L, "solo"),                     // 1 token: no bigram, dropped
      (4L, null.asInstanceOf[String]))  // null text dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.crossEntropyDiffSelect(docs, "doc_id",
        col("text"),
        inDom.toDF("text"), col("text"), gen.toDF("text"), col("text"),
        buckets = B)
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L), "only docs with >=2 tokens score")

    // JVM twin: identical bucketing, counts, quantizer
    def bk(t: String): Long = functions.Hashing.hexLongJvm(t) % B
    def pairs(s: String): Seq[(Long, Long)] = {
      val h = s.split(" ").map(bk)
      h.dropRight(1).zip(h.drop(1)).toSeq
    }
    def model(corpus: Seq[String]): (Map[(Long, Long), Long], Map[Long, Long]) = {
      val p = corpus.flatMap(pairs).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      (p, p.groupBy(_._1._1).map { case (b1, m) => b1 -> m.values.sum })
    }
    val (pmI, c1I) = model(inDom)
    val (pmG, c1G) = model(gen)
    def nll(pm: Map[(Long, Long), Long], c1: Map[Long, Long],
        p: (Long, Long)): Long =
      math.floor(math.log(
        (c1.getOrElse(p._1, 0L) + B).toDouble /
          (pm.getOrElse(p, 0L) + 1L).toDouble) * 1e6 + 0.5).toLong
    val exp = Seq(1L -> "alpha beta gamma alpha",
      2L -> "delta epsilon zeta").map { case (id, text) =>
      val ps = pairs(text)
      val eIn = ps.map(nll(pmI, c1I, _)).sum
      val eGen = ps.map(nll(pmG, c1G, _)).sum
      id -> ((ps.size.toLong, eIn, eGen, eIn / ps.size, eGen / ps.size))
    }.toMap
    // the default operating point: corpus-mean CED from two
    // all-positive integer divisions (the Spark-div == SQL-// contract)
    val cut = exp.values.map(_._4).sum / exp.size -
      exp.values.map(_._5).sum / exp.size
    for ((id, (ePairs, eIn, eGen, eMi, eMg)) <- exp) {
      val (_, nPairs, nllIn, nllGen, mIn, mGen, ced, sel) = out(id)
      assert(nPairs == ePairs)
      assert((nllIn, nllGen) == ((eIn, eGen)), s"doc $id micro-nats")
      assert(mIn == eMi && mGen == eMg)
      assert(ced == mIn - mGen && sel == (ced < cut))
    }
    // decisions genuinely fire both ways on the disjoint vocabularies
    assert(out(1L)._8 && !out(2L)._8)
    // pinned absolute threshold overrides the mean cut
    val pinned = TextAnalysis.crossEntropyDiffSelect(docs, "doc_id",
        col("text"),
        inDom.toDF("text"), col("text"), gen.toDF("text"), col("text"),
        buckets = B, thresholdMicro = Some(Long.MaxValue))
      .select(col("selected")).as[Boolean].collect()
    assert(pinned.length == 2 && pinned.forall(identity))
  }

  test("chrF: hand-checked P/R/F2, whitespace stripped, short-side order exclusion") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ab ab"), (2L, "abab"),      // identical after space strip
      (3L, "abc"), (4L, "abcabc"),      // P=1, R degrades per order
      (5L, "ab"), (6L, "abcd"),         // doc5 has no order-3 grams
      (7L, "a"), (8L, "a"))             // single-char pair: 1 order
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val out = TextAnalysis.chrF(docs, "doc_id", col("text"), pairs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // spaces MUST not count as characters: 'ab ab' == 'abab' exactly
    assert(out((1L, 2L)) == ((3L, 1000000L, 1000000L, 1000000L)))
    // P_n = 1 every order; R = (3/6, 2/5, 1/4) floored then averaged
    val r34 = (500000L + 400000L + 250000L) / 3
    val f34 = 5L * 1000000L * r34 / (4L * 1000000L + r34)
    assert(out((3L, 4L)) == ((3L, 1000000L, r34, f34)))
    // doc5 'ab' has no order-3 grams -> only orders 1-2 average
    // o1: m=2 of a=2/b=4 -> P=1e6, R=500000; o2: m=1 of 1/3 ->
    // P=1e6, R=333333
    val r56 = (500000L + 333333L) / 2
    val f56 = 5L * 1000000L * r56 / (4L * 1000000L + r56)
    assert(out((5L, 6L)) == ((2L, 1000000L, r56, f56)))
    assert(out((7L, 8L)) == ((1L, 1000000L, 1000000L, 1000000L)))
  }

  test("textRankKeywords: hub centrality, content filter, filter-then-window adjacency") {
    import spark.implicits._
    def run(texts: Seq[String], k: Int = 50): Seq[(String, Long)] =
      TextAnalysis.textRankKeywords(texts.toDF("text"), col("text"),
        topK = k).as[(String, Long)].collect().toSeq
    // star: alpha co-occurs with all three spokes -> highest rank;
    // the symmetric spokes tie and order alphabetically
    val star = run(Seq("alpha beta", "alpha gamma", "alpha delta"))
    assert(star.map(_._1) == Seq("alpha", "beta", "delta", "gamma"),
      star.toString)
    assert(star.head._2 > star(1)._2)
    assert(star(1)._2 == star(2)._2 && star(2)._2 == star(3)._2)
    // the content filter drops short words BEFORE windowing, so a
    // filtered word does not break adjacency: identical graphs
    assert(run(Seq("alpha xx beta", null)) == run(Seq("alpha beta")))
    // no output keyword under the length filter; <2 filtered tokens
    // contribute no edges (and a no-edge corpus returns empty)
    assert(star.forall(_._1.length >= 4))
    assert(run(Seq("solitary", "aa bb cc")).isEmpty)
  }
}
