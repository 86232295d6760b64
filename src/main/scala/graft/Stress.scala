package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, TextAnalysis}
import graft.pipelines.CurationPipeline

/** Adversarial scale/skew stress harness for the heavy tier.
  *
  * Measures the nine operators whose 100×-scale claims otherwise rest
  * on plan reading (every sf0.1 bench stage is sub-second — a
  * driver-side or skew bottleneck would be invisible there) over the
  * [[StressData]] adversaries at increasing scales, and grades
  * input→time scaling against a per-op near-linearity bound.
  *
  * Protocol: inputs are materialized to parquet ONCE per scale (so op
  * timings measure the operator, not the generator), every op runs once
  * untimed at the smallest scale (codegen + parquet-footer warm-up,
  * the Bench protocol), then each (op, scale) runs timed, ascending.
  * Iteration counts are FIXED across scales (PageRank 5, LPA 3, CC
  * maxIter 12 with a constant 200-chain) so the scaling ratio measures
  * data volume, not round count. Graph ops run with their broadcast
  * gates CLOSED (`broadcastMaxNodes = 0`) — the shuffle-join plan is
  * the one that exists at 10⁹ nodes, so it is the one under stress.
  *
  * Near-linearity grade: for each op,
  * `t(sHi) / max(t(sLo), 0.8) ≤ (sHi/sLo)^expo` with expo 1.25 for the
  * linear-shuffle tier, 1.5 for triangles (O(m^1.5) worst case) and
  * 1.35 for df-bounded cosine (block count scales linearly but each
  * block's pair fan-out is quadratic-in-clique, capped by maxDf). The
  * 0.8 s floor keeps sub-second fixed costs (job scheduling, checkpoint
  * round-trips) from minting fake super-linear ratios.
  *
  * Output: one JSON line on stdout + the full artifact at
  * `target/stress_full.json` (stdout tails truncate; same contract as
  * Bench). Scales via SPARK_GRAFT_STRESS_SCALES (default "1,3,10" —
  * scale 10 ≈ 10× sf0.1 rows: 50k docs, 5.6M edges, 1M pair rows,
  * a 10⁵-degree hub), op filter via SPARK_GRAFT_STRESS_OPS.
  */
object Stress {

  final case class Sizes(docs: Long, nodes: Long, randomEdges: Long,
      hubDegree: Long, pairRows: Long, bitextRows: Long, partRows: Long,
      imgRows: Long, audRows: Long, vidRows: Long)

  def sizes(scale: Int): Sizes = Sizes(
    docs = 5000L * scale,
    nodes = 20000L * scale,
    randomEdges = 550000L * scale,
    hubDegree = 10000L * scale,
    pairRows = 100000L * scale,
    bitextRows = 2000L * scale,
    partRows = 20000L * scale,
    imgRows = 20000L * scale,
    audRows = 20000L * scale,
    vidRows = 20000L * scale)

  def dataDir(scale: Int): String = s"target/stress_data/s$scale"

  /** Generate + persist the three adversarial inputs for one scale. */
  def writeInputs(spark: SparkSession, scale: Int): Unit = {
    val s = sizes(scale)
    val dir = dataDir(scale)
    val docs = StressData.corpus(spark, s.docs)
    docs.write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    StressData.evalDocs(spark.read.parquet(s"$dir/corpus.parquet"))
      .write.mode("overwrite").parquet(s"$dir/eval.parquet")
    StressData.hubGraph(spark, s.nodes, s.randomEdges, s.hubDegree)
      .write.mode("overwrite").parquet(s"$dir/edges.parquet")
    StressData.componentPairs(spark, s.pairRows)
      .write.mode("overwrite").parquet(s"$dir/pairs.parquet")
    StressData.bitext(spark, s.bitextRows)
      .write.mode("overwrite").parquet(s"$dir/bitext.parquet")
    // vocab scales WITH the corpus: the trainer's per-round tables are
    // vocab-bounded, so a fixed vocabulary would leave the rounds
    // constant-size at 10× and stress only the one corpus aggregate
    StressData.bpeCorpus(spark, s.docs, vocab = 2000 * scale)
      .write.mode("overwrite").parquet(s"$dir/bpe.parquet")
    StressData.partNames(spark, s.partRows)
      .write.mode("overwrite").parquet(s"$dir/parts.parquet")
    StressData.imageCorpus(spark, s.imgRows)
      .write.mode("overwrite").parquet(s"$dir/images.parquet")
    StressData.audioCorpus(spark, s.audRows)
      .write.mode("overwrite").parquet(s"$dir/audio.parquet")
    StressData.videoCorpus(spark, s.vidRows)
      .write.mode("overwrite").parquet(s"$dir/video.parquet")
  }

  /** The graded ops: name → (build result from the scale's parquet
    * inputs). Each is the library entry point, not a reimplementation. */
  def ops(spark: SparkSession, scale: Int): Seq[(String, () => DataFrame)] = {
    val dir = dataDir(scale)
    def corpus = spark.read.parquet(s"$dir/corpus.parquet")
    def eval = spark.read.parquet(s"$dir/eval.parquet")
    def edges = spark.read.parquet(s"$dir/edges.parquet")
    def pairs = spark.read.parquet(s"$dir/pairs.parquet")
    def bitext = spark.read.parquet(s"$dir/bitext.parquet")
    def parts = spark.read.parquet(s"$dir/parts.parquet")
    Seq(
      "connected_components" -> (() =>
        Dedup.connectedComponents(pairs, maxIter = 12)),
      "pagerank" -> (() =>
        Graph.pageRank(edges, "src", "dst", iters = 5, broadcastMaxNodes = 0L)),
      "label_prop" -> (() =>
        Graph.labelPropagation(edges, "src", "dst", iters = 3,
          broadcastMaxNodes = 0L)),
      "triangles" -> (() =>
        Graph.triangleCounts(edges, "src", "dst", broadcastMaxEdges = 0L)),
      // k=3, 5 fixed peels, gate closed: the 10⁵-spoke star peels in
      // round 1 (spoke degree 1 < 3 — one |E|-sized vote absorbs the
      // hub key's 10⁵ rows via map-side partials), then the Zipf tail
      // cascades; each round is one co-partitioned semi-join + one
      // |E|→|V| vote shuffle over the SHRINKING survivor graph
      "kcore" -> (() =>
        Graph.kCore(edges, "src", "dst", k = 3, rounds = 5,
          broadcastMaxNodes = 0L)),
      "duplicate_spans" -> (() =>
        Dedup.duplicateSpans(corpus, "doc_id", col("text"), k = 8)),
      // broadcastNorms=false: the |docs|-sized norm table must take the
      // shuffle path here — the plan that exists when docs outgrow the
      // driver is the one under stress (the graph-gate convention)
      "sparse_cosine" -> (() =>
        TextAnalysis.sparseCosinePairs(corpus, "doc_id", col("text"),
          ngram = 3, maxDf = 64, topK = 50, broadcastNorms = false)),
      // 32 perms / 8 bands: at the corpus's within-block Jaccard (~0.6)
      // the default 16/4 signature has ~50% pair recall — correct LSH
      // behavior, but the stress wants (a) the 2× signature width under
      // load and (b) near-fully-connected blocks so the CC stage carries
      // real cluster mass
      "curation_funnel" -> (() =>
        CurationPipeline.dispositions(corpus, eval,
          CurationPipeline.Config(minhashPerms = 32, minhashBands = 8))),
      // maxPostings 500: the footer spike puts n/3 docs on the same
      // footer fingerprints (1,667 postings at scale 1, 16,667 at 10),
      // so the boilerplate cap BINDS at every scale — un-capped, those
      // lists alone are O((n/3)²) pairs and one corpus-third component
      "passage_clusters" -> (() =>
        Dedup.passageClusters(
          corpus.withColumn("text",
            StressData.footerSpike(col("text"), col("doc_id"))),
          "doc_id", col("text"), maxPostings = 500)),
      // maxBucket 500: the 30% anchor cluster (600 members at scale 1,
      // 6,000 at 10) shares every table's bucket, so the degenerate-
      // bucket cap BINDS at every scale; background buckets stay at
      // ~n/2^8 members and carry the real mining load
      "bitext_margin" -> (() =>
        graft.operators.Similarity.bitextMarginMine(bitext,
          col("label") < 5, k = 4, minMarginMicro = 1050000L,
          nTables = 4, nBits = 8, dim = 64, maxBucket = 500)),
      // fixed 8 rounds at every scale (the iteration-count contract);
      // the adversary's long-tail long words grow the vocab-bounded
      // pair table linearly with scale while the Zipf head drives the
      // merge decisions — the two axes of the trainer's cost model
      "bpe_train" -> (() =>
        TextAnalysis.bpeTrain(spark.read.parquet(s"$dir/bpe.parquet"),
          col("text"), nMerges = 8)),
      // maxPostings 500: the clone family (n/7 docs sharing a FULL
      // body — 714 postings per prefix token at scale 1, 7,143 at 10)
      // binds the cap at every scale; un-capped, ~13 prefix tokens
      // each mint O((n/7)²) candidate pairs. The within-block template
      // pairs (prefix dfs at clique size 40) carry the real join load
      "prefix_join" -> (() =>
        Dedup.prefixFilterJoin(
          corpus.withColumn("text",
            StressData.cloneSpike(col("text"), col("doc_id"))),
          "doc_id", col("text"), tauPct = 60, maxPostings = 500)),
      // maxCell 2048: the hot brand is ONE (block, length-bucket) cell
      // of n/3 rows (6,667 at scale 1, 66,667 at 10) that the length
      // band cannot split — the cap excludes it at every scale;
      // un-capped it alone is O((n/3)²) thresholded-DP probes whose
      // near-identical digit strings all PAY the DP. Background typo
      // twins ride in ~bounded cells (brand space scales with n) and
      // carry the real per-cell DP load; the q195 composition (pairs →
      // CC closure → entity groups) keeps the downstream stages in the
      // measurement
      // maxBucket 2000: the placeholder family (n/3 identical flat
      // images — every web corpus's default-avatar/tracking-pixel
      // mass) is ONE bucket in EVERY band at any scale; the cap
      // excludes it, background per-family twins survive with exact
      // recall. Decode is the real javax.imageio path per payload —
      // the stress measures pixel-decode throughput scaling too, not
      // just the banding join
      "image_neardup" -> (() =>
        graft.operators.Multimodal.imageNearDup(spark,
          spark.read.parquet(s"$dir/images.parquet"), "doc_id",
          maxBucket = 2000)),
      // maxBucket 2000: the silent-clip family (n/3 identical all-zero
      // WAVs — envelope hash 0, one bucket in every band) is excluded
      // at every scale; per-family twins ride in ~2-member buckets.
      // Decode is the production decodeWavPcmDirect chunk walk per
      // payload at 32 threads — the q203 AudioSystem per-call global
      // lock was invisible below exactly this shape
      "audio_neardup" -> (() =>
        graft.operators.Multimodal.audioNearDup(spark,
          spark.read.parquet(s"$dir/audio.parquet"), "doc_id",
          maxBucket = 2000)),
      // maxBucket 2000: n/3 reels open on the decoy-flat frame (dHash
      // 0, one bucket in every band); real RIFF demux + PNG frame
      // decode per payload carries the decode-throughput axis
      "video_neardup" -> (() =>
        graft.operators.Multimodal.videoNearDup(spark,
          spark.read.parquet(s"$dir/video.parquet"), "doc_id",
          maxBucket = 2000)),
      "fuzzy_entities" -> (() => {
        val pairs = graft.operators.Relational.fuzzySelfJoin(
            parts, "key", "name", Seq("brand"), maxDist = 2,
            maxCell = 2048)
          .select(col("key_a").as("doc_a"), col("key_b").as("doc_b"))
        parts.select(col("key"))
          .join(Dedup.connectedComponents(pairs),
            col("key") === col("doc"), "left")
          .withColumn("entity_id", coalesce(col("component"), col("key")))
          .groupBy("entity_id").agg(count(lit(1)).as("n_members"))
          .filter(col("n_members") >= 2L)
      }),
      // Misra–Gries heavy hitters under the Zipf token stream with a
      // HUB group: every third doc's tokens land in ONE group (a third
      // of the corpus in one MG buffer), the rest spread over 16. The
      // hub group's distinct-token tail (corpus vocab ≫ k = 201)
      // churns the counters constantly — the amortized-shrink path is
      // exactly what's under load — while per-group state stays 201
      // counters per partial REGARDLESS of scale, and the exact
      // rescore pass stays candidate-sized (≤ 17·k items semi-joined)
      "heavy_hitters" -> (() =>
        graft.operators.Sketches.heavyHitters(
          corpus.select(
            when(col("doc_id") % 3 === 0, lit("hub"))
              .otherwise(concat(lit("g"),
                (col("doc_id") % 16).cast("string"))).as("grp"),
            explode(TextAnalysis.tokens(col("text"))).as("tok")),
          Seq("grp"), col("tok"), phiMicro = 5000L)))
  }

  /** Per-op scaling exponent (see scaladoc above). */
  val scalingExpo: Map[String, Double] = Map(
    "triangles" -> 1.5,
    "sparse_cosine" -> 1.35).withDefaultValue(1.25)

  final case class Measure(op: String, scale: Int, sec: Double)

  /** Run the graded ops at each scale (ascending), one timed pass each
    * after a warm pass at the smallest scale. Returns all measurements. */
  def runAll(spark: SparkSession, scales: Seq[Int],
      opFilter: Option[Set[String]] = None): Seq[Measure] = {
    val sorted = scales.distinct.sorted
    require(sorted.nonEmpty)
    sorted.foreach(writeInputs(spark, _))
    def selected(scale: Int) =
      ops(spark, scale).filter { case (n, _) => opFilter.forall(_.contains(n)) }
    require(selected(sorted.head).nonEmpty, "no ops matched" +
      opFilter.fold("")(f => s" filter=${f.mkString(",")}"))
    // warm pass: codegen, parquet reader, shuffle paths
    selected(sorted.head).foreach { case (_, build) =>
      build().write.mode("overwrite").format("noop").save()
    }
    sorted.flatMap { scale =>
      selected(scale).map { case (name, build) =>
        val t0 = System.nanoTime()
        build().write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[stress] $name s$scale: $sec%.2f s")
        Measure(name, scale, sec)
      }
    }
  }

  /** Grade lowest-vs-highest-scale ratios against the per-op bound. */
  def grade(ms: Seq[Measure]): Seq[(String, Double, Double, Boolean)] = {
    val byOp = ms.groupBy(_.op)
    byOp.toSeq.sortBy(_._1).flatMap { case (op, runs) =>
      val lo = runs.minBy(_.scale)
      val hi = runs.maxBy(_.scale)
      if (lo.scale == hi.scale) None
      else {
        val ratio = hi.sec / math.max(lo.sec, 0.8)
        val bound = math.pow(hi.scale.toDouble / lo.scale, scalingExpo(op))
        Some((op, ratio, bound, ratio <= bound))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Profiles.bench(shuffle = 32)
    val scales = sys.env.getOrElse("SPARK_GRAFT_STRESS_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val opFilter = sys.env.get("SPARK_GRAFT_STRESS_OPS")
      .map(_.split(",").toSet)
    val ms = runAll(spark, scales, opFilter)
    val graded = grade(ms)
    val opsJson = ms.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, runs) =>
      "\"" + op + "\":{" + runs.sortBy(_.scale)
        .map(m => "\"s" + m.scale + "\":" + f"${m.sec}%.3f")
        .mkString(",") + "}"
    }.mkString("{", ",", "}")
    val gradeJson = graded.map { case (op, ratio, bound, ok) =>
      "\"" + op + "\":{\"ratio\":" + f"$ratio%.2f" +
        ",\"bound\":" + f"$bound%.2f" + ",\"pass\":" + ok + "}"
    }.mkString("{", ",", "}")
    val allPass = graded.forall(_._4)
    val total = ms.filter(_.scale == scales.max).map(_.sec).sum
    val json = s"""{"metric":"stress","value":$total,"unit":"sec",""" +
      s""""scales":[${scales.mkString(",")}],"ops":$opsJson,""" +
      s""""scaling":$gradeJson,"all_linear":$allPass}"""
    println(json)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "target/stress_full.json"))
    if (out.getParent != null)
      java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
