package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.pipelines.SurveyPipelines
import graft.sources.Readers
import graft.operators.Multimodal

/** Degenerate-input behavior: empty tables, empty strings, single rows.
  * At 100 TB some partition, some day, WILL be empty — operators must
  * return empty results, not throw. */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup family on empty input returns empty, does not throw") {
    assert(Dedup.exact(emptyDocs, "doc_id", col("text")).count() == 0)
    assert(Dedup.minHashCandidates(emptyDocs, "doc_id", col("text")).count() == 0)
    assert(Dedup.simHashSignatures(emptyDocs, "doc_id", col("text")).count() == 0)
    assert(Dedup.simHashCandidates(emptyDocs, "doc_id", col("text")).count() == 0)
  }

  test("round-2 operators on degenerate input: empty, null strata, lone groups") {
    // vocabulary of an empty corpus is empty, not a crash
    assert(TextAnalysis.vocabulary(emptyDocs, "doc_id", col("text"), 10).count() == 0)
    // null stratum falls to the default rate (stratum === s is null-safe false)
    val withNull = Seq((1L, "en"), (2L, null: String)).toDF("k", "lang")
    val kept = withNull.filter(TextAnalysis.stratifiedSample(col("k"), col("lang"),
      Map("en" -> 0.0), 1.0)).as[(Long, String)].collect()
    assert(kept.map(_._1).toSeq == Seq(2L)) // en dropped (rate 0), null kept (default 1.0)
    // empty near-dup pair set -> empty components (no iterations run)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    // LSH near-dup pairs over an empty corpus
    assert(Similarity.lshNearDupPairs(emptyVecs, 0.5, nTables = 1, nBits = 2,
      dim = 2).count() == 0)
    // quantiles of a single-row group: every fraction is that value
    val one = Seq(("g", 42.0)).toDF("g", "v")
    val q = Quantiles.quantileContBucketed(one, Seq("g"),
      Seq(("v", col("v"), 10.0, Seq(("p25", 0.25), ("p75", 0.75))))).head()
    assert(q.getDouble(1) == 42.0 && q.getDouble(2) == 42.0)
  }

  test("similarity on empty corpus/queries returns empty") {
    assert(Similarity.bruteForceKnn(emptyVecs, emptyVecs, 5).count() == 0)
    val one = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.bruteForceKnn(one, one, 5).count() == 0) // only self
  }

  test("keepLast and topK on empty input return empty") {
    val e = Seq.empty[(String, String)].toDF("k", "t")
    assert(Relational.keepLast(Seq("k"), Seq(col("t").desc))(e).count() == 0)
    assert(Relational.topK(5, Seq(col("t").desc))(e).count() == 0)
  }

  test("asofJoin with empty right yields all-null asof columns") {
    val l = Seq((1L, "A", 10)).toDF("id", "k", "t")
    val r = Seq.empty[(String, Int, Double)].toDF("rk", "rt", "px")
    val out = Temporal.asofJoin(l, r, "k", "rk", "t", "rt")
    assert(out.count() == 1)
    assert(out.head().isNullAt(out.columns.indexOf("asof_px")))
  }

  test("empty-text documents survive the text operators") {
    val docs = Seq((1L, ""), (2L, "real text here")).toDF("doc_id", "text")
    assert(TextAnalysis.qualityFeatures(docs, col("text")).count() == 2)
    assert(docs.select(TextAnalysis.langId(col("text"))).count() == 2)
    // empty text forms a single empty-string shingle, not a crash
    assert(Dedup.minHashSignatures(docs, "doc_id", col("text"), 5, 4).count() == 2)
  }

  test("round-3 operators on degenerate input: empty corpora, single tokens, empty text") {
    // decontamination: empty benchmark => no doc can be contaminated
    val docs = Seq((1L, "some real text here")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(docs, "doc_id", col("text"),
      emptyDocs, col("text")).count() == 0)
    // minhash estimate over an empty pair set is empty
    assert(Dedup.minHashEstimate(docs, "doc_id", col("text"),
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), 5, 16).count() == 0)
    // bigrams need >= 2 tokens: single-token and empty-text docs yield none
    val tiny = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramPmi(tiny, "doc_id", col("text"), 1).count() == 0)
    // char entropy of empty text: no chars survive the empty-split filter
    val ent = TextAnalysis.charEntropy(tiny, "doc_id", col("text"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(ent.get(2L).isEmpty && ent(1L) == 4L)
    // posting lists / per-group top-k on empty input are empty
    assert(TextAnalysis.postingLists(emptyDocs, "doc_id", col("text")).count() == 0)
    assert(Relational.topKPerGroup(
      Seq.empty[(String, Long, Double)].toDF("g", "i", "s"),
      Seq("g"), col("s"), col("i"), 3).count() == 0)
    // sessionize on empty events is empty; histogram on empty df is empty
    assert(Temporal.sessionize(
      Seq.empty[(Long, Long, java.sql.Timestamp)].toDF("event_id", "user_id", "ts"),
      "user_id", "ts", "event_id", 1800).count() == 0)
    assert(Quantiles.fixedWidthHistogram(
      Seq.empty[Double].toDF("v"), col("v"), 0.0, 1.0, 4).count() == 0)
  }

  test("round-4 operators on degenerate input: empty corpora, empty text, lone strata") {
    // segment dedup: empty corpus empty; single doc can never hit df>=2
    assert(Dedup.segmentDedup(emptyDocs, "doc_id", col("text")).count() == 0)
    val solo = Seq((1L, "only one document here now")).toDF("doc_id", "text")
    val sd = Dedup.segmentDedup(solo, "doc_id", col("text"), 5, 2)
      .as[(Long, String, Long, Long)].head()
    assert(sd._2 == "only one document here now" && sd._4 == 0L)
    // packers: empty in, empty out; empty-text doc packs as 1 token
    // (split("") = [""], the cross-engine contract) at offset order
    assert(TextAnalysis.packOffsets(emptyDocs, "doc_id", col("text"), 512).count() == 0)
    assert(TextAnalysis.packGreedy(emptyDocs, "doc_id", col("text"), 512).count() == 0)
    val tiny = Seq((1L, ""), (2L, "a b")).toDF("doc_id", "text")
    val po = TextAnalysis.packOffsets(tiny, "doc_id", col("text"), 512)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(po.map(_._2).toSeq == Seq(1L, 2L) && po.map(_._3).toSeq == Seq(0L, 1L))
    // mixture sampling: a single stratum keeps ~targetFraction; empty in, empty out
    assert(TextAnalysis.mixtureSample(emptyDocs, col("text"), col("doc_id"), 0.5)
      .count() == 0)
    val oneStratum = (1 to 200).map(i => (i.toLong, "only")).toDF("id", "src")
    val keptOne = TextAnalysis.mixtureSample(oneStratum, col("src"), col("id"), 0.5)
      .count()
    assert(math.abs(keptOne / 200.0 - 0.5) < 0.12, s"kept $keptOne/200")
    // bigram LM: docs with < 2 tokens contribute and receive nothing
    val lm = TextAnalysis.bigramLmScore(
      Seq((1L, "solo"), (2L, ""), (3L, "a b")).toDF("doc_id", "text"),
      "doc_id", col("text"))
      .as[(Long, Long, Double)].collect()
    assert(lm.map(_._1).toSet == Set(3L) && lm.head._3 == 0.0)
    // int8 quantization on empty input is empty
    assert(Similarity.quantizeInt8(emptyVecs, "vec_id").count() == 0)
  }

  test("resizePartitions handles empty payloads without crashing") {
    val docs = Seq((1L, ""), (2L, "content")).toDF("doc_id", "text")
    val out = Multimodal.resizePartitions(spark,
      Multimodal.withPayload(docs, "text"), "doc_id", 8, 8).collect()
    assert(out.find(_.doc_id == 1L).get.payload.isEmpty)
    assert(out.find(_.doc_id == 2L).get.payload.nonEmpty)
  }

  test("TSV rows shorter than the header pad with null under ANSI mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_short").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/t.txt"),
      "JUNK\na\tb\tc\n1\tonly-two\n")
    val row = Readers.tsvWithPreHeader(spark, s"$dir/t.txt").head()
    assert(row.getString(0) == "1" && row.getString(1) == "only-two")
    assert(row.isNullAt(2)) // genuinely missing field -> null, not a crash
  }

  test("throttledRows does not inject a phantom id field") {
    val df = Seq(("x", "y")).toDF("a", "b") // no id column
    ThrottleProbe.seen.clear()
    graft.sinks.Sinks.throttledRows(df, 0)(m => ThrottleProbe.seen.add(m))
    assert(ThrottleProbe.snapshot().head.keySet == Set("a", "b"))
  }

  test("pipelines over an export with zero responses return empty frames") {
    val exported = Readers.surveyExportFromJson(spark, """{ "responses": [] }""")
    val ts = lit("2026-01-01 00:00:00")
    assert(SurveyPipelines.ordersShipped(exported, ts).count() == 0)
    assert(SurveyPipelines.nps(exported, ts).count() == 0)
    assert(SurveyPipelines.returns(exported, ts).count() == 0)
  }

  test("round-4 operators on degenerate input: empty tables, absent matches") {
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    // funnel with no step-1 events anywhere: empty, not a crash
    assert(Temporal.funnel(emptyEvents, "user_id", "ts", "event_type",
      Seq("view", "click")).count() == 0)
    // rolling window over empty input
    val emptyOrders = Seq.empty[(Long, java.sql.Timestamp, Long)]
      .toDF("k", "t", "v")
    assert(Temporal.rollingWindow(emptyOrders, "k", "t", col("v"), 60).count() == 0)
    // bm25 with terms absent from the corpus: empty ranking
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(TextAnalysis.bm25(docs, "doc_id", col("text"),
      Seq("zz_not_here")).count() == 0)
    // snapshotDiff of identical snapshots: no changes
    val snap = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    assert(Relational.snapshotDiff(snap, snap, Seq("k")).count() == 0)
    // checksum of an empty table: no buckets
    assert(Quality.checksum(Seq.empty[(Long, String)].toDF("id", "p"),
      pmod(col("id"), lit(8)),
      graft.functions.Hashing.hexLong(col("p"))).count() == 0)
    // mergePartialAggs with a single partial is the identity re-aggregate
    val part = Seq(("a", 2L, 5.0)).toDF("k", "cnt", "s")
    val merged = Relational.mergePartialAggs(Seq(part), Seq("k"),
      sumCols = Seq("cnt", "s")).as[(String, Long, Double)].collect()
    assert(merged.toSeq == Seq(("a", 2L, 5.0)))
  }

  test("round-4 closers on degenerate input: empty tables, lone rows, single categories") {
    val emptyKeyed = Seq.empty[(String, String)].toDF("g", "k")
    assert(Sketches.linearCountDistinct(emptyKeyed, Seq("g"), col("k")).count() == 0)
    assert(Sketches.hllDistinct(emptyKeyed, Seq("g"), col("k")).count() == 0)
    assert(Sketches.countMinEstimates(
      Seq.empty[String].toDF("t"), "t").count() == 0)
    // one key -> both sketches report exactly 1 (lc exact; HLL's
    // small-range correction IS linear counting: 64*ln(64/63))
    val one = Seq(("g", "k1")).toDF("g", "k")
    val lc1 = Sketches.linearCountDistinct(one, Seq("g"), col("k"))
      .select("registers_hit").as[Long].head()
    assert(lc1 == 1L)
    val hll1 = Sketches.hllDistinct(one, Seq("g"), col("k"))
      .select("est_distinct").as[Double].head()
    assert(math.abs(hll1 - 64.0 * math.log(64.0 / 63.0)) < 1e-6)
    // interval/resample/stat operators: empty in, empty out
    val emptyIv = Seq.empty[(String, Long, Long)].toDF("g", "s", "e")
    assert(Temporal.mergeIntervals(emptyIv, "g", "s", "e").count() == 0)
    val emptyEv = Seq.empty[(Long, Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "event_id", "ts", "value")
    assert(Temporal.resampleLocf(emptyEv, "user_id", "ts", col("value"),
      "event_id", 3600L).count() == 0)
    assert(Quantiles.madOutliers(emptyEv, Seq("user_id"), col("value")).count() == 0)
    // single event: one grid row, observed, no fill
    val lone = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 5.0))
      .toDF("user_id", "event_id", "ts", "value")
    assert(Temporal.resampleLocf(lone, "user_id", "ts", col("value"),
      "event_id", 3600L).select("n_obs").as[Long].collect().toSeq == Seq(1L))
    // chi-square on a single category: expectation == count, chi2 == 0
    val oneCat = Seq(("x", "p"), ("x", "p"), ("x", "p")).toDF("a", "b")
    val cs = Quantiles.chiSquare(oneCat, "a", "b")
      .select("n", "expected", "chi2_cell")
      .as[(Long, Double, Double)].head()
    assert(cs == ((3L, 3.0, 0.0)))
    // text closers: empty corpus and all-empty text yield empty/zeroed
    val noText = Seq.empty[String].toDF("text")
    assert(TextAnalysis.skipgramPmi(noText, col("text"), 3, 1).count() == 0)
    assert(TextAnalysis.vocabCoverage(Seq("").toDF("text"), col("text"),
      Seq(50)).select("tokens_needed").as[Long].head() == 1L)
  }

  test("asofJoin: NULL keys never match (SQL equality), left NULL rows survive unmatched") {
    val left = Seq[(java.lang.Long, Long)]((null, 10L), (1L, 10L))
      .toDF("k", "t")
    val right = Seq[(java.lang.Long, Long, String)]((null, 5L, "ghost"),
      (1L, 5L, "real")).toDF("k", "t", "v")
    val out = Temporal.asofJoin(left, right, "k", "k", "t", "t")
      .select(col("k"), col("asof_v")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0)) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) == "real")
    assert(out(null) == null, "NULL-key left row must not match a NULL-key right row")
  }

  test("LSH parameter misuse fails loudly instead of silently degrading") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    // non-divisible bands would drop signature slots; bands > numPerm
    // would put every doc in one md5(\"\") bucket
    intercept[IllegalArgumentException] {
      Dedup.minHashCandidates(docs, "doc_id", col("text"), numPerm = 16, bands = 5)
    }
    // beyond the 4-band pigeonhole guarantee -> incomplete recall
    intercept[IllegalArgumentException] {
      Dedup.simHashCandidates(docs, "doc_id", col("text"), maxHamming = 5)
    }
  }

  test("multimodal kernels survive NULL payloads (dirty row must not kill the task)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, "hello world".getBytes("UTF-8"))),
      schema)
    val dec = Multimodal.decodePartitions(spark, df, "doc_id").collect()
    assert(dec.length == 2 && dec.exists(_.n_bytes == 0L))
    assert(Multimodal.resizePartitions(spark, df, "doc_id", 4, 4).count() == 2)
    assert(Multimodal.sampleFramesPartitions(spark, df, "doc_id").count() >= 2)
  }

  test("pageRank tolerates self-loops and an empty edge list") {
    // a self-loop contributes its own mass back to itself — well-defined
    val selfy = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("s", "d")
    val r = Graph.pageRank(selfy, "s", "d", 3)
      .as[(Long, Long)].collect().toMap
    assert(r.keySet == Set(1L, 2L) && r.values.forall(_ > 0L))
    assert(Graph.pageRank(Seq.empty[(Long, Long)].toDF("s", "d"),
      "s", "d", 2).count() == 0)
  }

  test("event-time contract: every corpus shape loads ts as TIMESTAMP with identical micros") {
    import org.apache.spark.sql.types._
    // (a) both historical parquet shapes normalize to the same instants:
    // nanos-as-long (legacy corpus) and NTZ micros (2026-08 corpus)
    val micros = Seq(1700000000000000L, 1700000123456789L)
    val asLong = micros.map(_ * 1000L).toDF("ts") // nanos as long
    val asNtz = spark.createDataFrame(
      java.util.Arrays.asList(micros.map(us =>
        org.apache.spark.sql.Row(java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC))): _*),
      StructType(Seq(StructField("ts", TimestampNTZType))))
    val fromLong = Tables.normalizeEventTime(asLong)
    val fromNtz = Tables.normalizeEventTime(asNtz)
    assert(fromLong.schema("ts").dataType == TimestampType)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    val toMicros = (df: org.apache.spark.sql.DataFrame) =>
      df.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
    assert(toMicros(fromLong) == micros)
    assert(toMicros(fromNtz) == micros, "NTZ cast under a UTC session must be bit-identical")
    // (b) pin the live corpus: every scale dir must load as TIMESTAMP so a
    // re-materialization cannot silently shift event-time semantics again
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val t = Tables.events(spark, dir).schema("ts").dataType
      assert(t == TimestampType, s"$dir events.ts loaded as $t, want TIMESTAMP")
    }
    // (c) the streaming source sees the SAME normalized type (watermarkable)
    val stream = graft.streaming.EventsStream.readEvents(spark, s"$sf001/events.parquet")
    assert(stream.schema("ts").dataType == TimestampType)
    assert(stream.withWatermark("ts", "1 hour").isStreaming)
  }

  test("round-6 operators on degenerate input: empty corpora, lone rows, empty codebooks") {
    // EWMA: empty in, empty out; all-null values dropped entirely
    val emptyEv = Seq.empty[(Long, Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "event_id", "ts", "value")
    assert(Temporal.ewmaSmooth(emptyEv, "user_id", "ts", "event_id",
      col("value"), 4).count() == 0)
    // BPE pairs: empty corpus and pairless (all 1-char words) corpora
    assert(TextAnalysis.bpePairStats(
      Seq.empty[String].toDF("text"), col("text")).count() == 0)
    assert(TextAnalysis.bpePairStats(
      Seq("a b c").toDF("text"), col("text")).count() == 0)
    // novelty: empty reference -> everything fully novel
    val docs = Seq((1L, "some words here")).toDF("doc_id", "text")
    val nov = Dedup.noveltyScore(docs, "doc_id", col("text"),
      Seq.empty[String].toDF("text"), col("text"))
      .as[(Long, Long, Long, Double)].head()
    assert(nov == ((1L, 1L, 1L, 1.0)))
    // SCD2: empty log empty; single row -> one open version-1 span
    val emptyLog = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("k", "ts", "id", "a")
    assert(Relational.scd2History(emptyLog, "k", "ts", "id", col("a"))
      .count() == 0)
    val lone = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      9L, "X")).toDF("k", "ts", "id", "a")
    val span = Relational.scd2History(lone, "k", "ts", "id", col("a"))
      .as[(Long, Long, String, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .head()
    assert(span._2 == 1L && span._3 == "X" && span._5 == null && span._6 == 1L)
    // percentRank: empty and all-null inputs yield empty, not a crash
    assert(Quantiles.percentRank(
      Seq.empty[(Long, java.lang.Double)].toDF("id", "v"), col("v"))
      .count() == 0)
    // PQ codes: empty codebook -> sentinel -1 codes, never a crash;
    // empty corpus -> empty
    val vecs = Seq((1L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val emptyCb = Seq.empty[(Long, Array[Float])].toDF("code_id", "codeword")
    val pq = Similarity.pqCodes(vecs, emptyCb, 2)
      .as[(Long, Long, Long)].head()
    assert(pq == ((1L, -1L, -1L)))
    assert(Similarity.pqCodes(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      emptyCb, 2).count() == 0)
  }

  test("corpus contract: every table loads the same schema at every scale, key types pinned") {
    import org.apache.spark.sql.types._
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    // cross-scale identity: a re-materialization that shifts any column
    // type at one SF (the events NTZ break, round 5) must fail HERE,
    // not three operators downstream
    for (t <- Tables.names) {
      val schemas = dirs.map(d => Tables.load(spark, d, t).schema.map(f =>
        (f.name, f.dataType.simpleString)))
      assert(schemas.distinct.length == 1,
        s"$t schema differs across scales: $schemas")
    }
    // pinned critical types (post-loader where a loader normalizes)
    val ev = Tables.events(spark, dirs.head).schema
    assert(ev("ts").dataType == TimestampType)
    assert(ev("value").dataType == DoubleType)
    val emb = Tables.embeddings(spark, dirs.head).schema
    assert(emb("embedding").dataType == ArrayType(FloatType, containsNull = true) ||
      emb("embedding").dataType == ArrayType(FloatType, containsNull = false),
      emb("embedding").dataType.toString)
    val doc = Tables.documents(spark, dirs.head).schema
    assert(doc("text").dataType == StringType && doc("doc_id").dataType == LongType)
    val li = Tables.lineitem(spark, dirs.head).schema
    assert(li("l_extendedprice").dataType == DoubleType &&
      li("l_quantity").dataType == DoubleType)
  }

  test("text tier over a real corpus slice with injected NULL/empty docs") {
    // the q120 lesson generalized: an oracle hash-match can pass while a
    // null/empty doc silently crashes (ANSI) or silently vanishes where
    // the contract says "scored null". Run the tier over sf0.001
    // documents UNIONED with adversarial rows and pin each operator's
    // null-doc contract.
    val clean = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).limit(200).cache()
    val nClean = clean.count()
    val spiked = clean.unionByName(Seq(
      (900001L, null.asInstanceOf[String]), // null text
      (900002L, ""),                        // empty string
      (900003L, "   "),                     // whitespace only
      (900004L, "solo"))                    // one token, no bigrams
      .toDF("doc_id", "text")).cache()
    try {
      val adversarial = Set(900001L, 900002L, 900003L, 900004L)
      // quality features: every row keeps a verdict (null text scores 0
      // via the length gate, never throws)
      val q = TextAnalysis.qualityFeatures(spiked, col("text"))
      assert(q.count() == nClean + 4)
      // exact dedup survives (a null/empty fingerprint must not seed a
      // false multi-doc dup family)
      val exact = Dedup.exact(spiked, "doc_id", col("text"))
      assert(exact.filter(col("keep_id").isin(adversarial.toSeq: _*) &&
        col("n_dups") > 1).count() == 0)
      // MinHash banding: adversarial docs may only pair with each other
      // (empty/whitespace shingle to the same empty-string shingle),
      // never drag a real doc into a cluster
      val cand = Dedup.minHashCandidates(spiked, "doc_id", col("text"))
      assert(cand.filter(
        (col("doc_a").isin(adversarial.toSeq: _*) &&
          !col("doc_b").isin(adversarial.toSeq: _*)) ||
        (col("doc_b").isin(adversarial.toSeq: _*) &&
          !col("doc_a").isin(adversarial.toSeq: _*))).count() == 0)
      // winnowing fingerprints: too-short docs contribute nothing
      val fps = TextAnalysis.winnowFingerprints(spiked, "doc_id",
        col("text"))
      assert(fps.filter(col("doc") === 900001L).count() == 0)
      // NB classifier: null text dropped (no features), the rest scored
      val nb = TextAnalysis.nbClassifier(spiked, "doc_id", col("text"),
        col("doc_id") % 2 === 0)
      assert(nb.count() == nClean + 3)
      assert(nb.filter(col("doc") === 900001L).count() == 0)
      // DSIR weights: null dropped, single-token doc has ZERO bigram
      // features and must not surface with a phantom weight
      val dsir = TextAnalysis.dsirWeights(spiked, "doc_id", col("text"),
        clean.limit(50), col("text"))
      assert(dsir.filter(col("doc").isin(900001L, 900004L)).count() == 0)
      // perplexity buckets: evidence-free docs drop, everything else
      // scores (null reference rows are filtered by the trainer too)
      val ppl = TextAnalysis.lmPerplexityBuckets(spiked, "doc_id",
        col("text"), spiked, col("text"))
      assert(ppl.filter(col("doc").isin(900001L, 900004L)).count() == 0)
      assert(ppl.count() >= nClean)
      // span corruption: null dropped, the rest emit valid pairs
      val span = TextAnalysis.spanCorruption(spiked, "doc_id", col("text"))
      assert(span.filter(col("doc") === 900001L).count() == 0)
      assert(span.count() == nClean + 3)
      // boilerplate density: whitespace/empty docs are too short to
      // fingerprint — absent, not NaN
      val boiler = TextAnalysis.boilerplateDensity(spiked, "doc_id",
        col("text"))
      assert(boiler.filter(col("doc") === 900002L).count() == 0)
      assert(boiler.filter(col("boiler_micro").isNull).count() == 0)
      // non-vacuity: the clean slice actually exercised the operators
      assert(q.filter(col("quality_score") > 0).count() > 0)
      assert(fps.count() > 0 && nb.count() > 0)
    } finally { clean.unpersist(); spiked.unpersist() }
  }

  test("typed pipeline outputs round-trip through their case classes") {
    val json = """{ "responses": [
      { "1": { "id": "1", "datestamp": "2018-03-01 10:00:00", "submitdate": "2018-03-01 10:00:00", "startdate": "x", "lastpage": "3", "startlanguage": "pt", "q01": "A4", "q03": "a@x.com", "q06": "BR1", "q12": "mail", "q22": "R1" } }
    ] }"""
    val exported = Readers.surveyExportFromJson(spark, json)
    val ts = lit("2026-01-01 00:00:00")
    val o = SurveyPipelines.ordersShippedTyped(exported, ts).collect()
    assert(o.toSeq == Seq(SurveyPipelines.OrdersShippedRow(
      "1", "2018-03-01 10:00:00", 4.0, "a@x.com", "BR1", "2026-01-01 00:00:00")))
    val n = SurveyPipelines.npsTyped(exported, ts).head()
    assert(n.nps.contains(4.0) && n.cohort == "BR1")
    val r = SurveyPipelines.returnsTyped(exported, ts).head()
    assert(r.grade.contains(4.0) && r.return_channel == "mail")
  }
}
