package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._
import graft.functions.Hashing

/** T3 embedding queries: exact and approximate nearest neighbours
  * (LSH, IVF, product quantization), distributed PCA, quantization and
  * retrieval evaluation (`Similarity`, `Pca`). */
object VectorQueries {
  import Common._

  private val EmbDim = 64
  private val LshTables = 4
  private val LshBits = 8

  private val IvfStride = 30L
  private val IvfCells = 16
  private val IvfProbe = 4

  /** Generated oracle: IVF ANN — stride-anchor quantizer, argmax-cosine
    * cell assignment, nProbe probe, exact re-rank (mirrors
    * Similarity.ivfKnn; cosine fold order is bit-identical, so the
    * unrounded ORDER BY in the assignment windows agrees too). */
  private def ivfOracle: String = {
    val anchorMax = IvfStride * IvfCells
    ivfOracleFrom(
      s"""a AS (SELECT vec_id AS cell_id, emb AS aemb FROM c
             WHERE vec_id % $IvfStride = 0 AND vec_id < $anchorMax)""")
  }

  /** Generated oracle: ANN recall audit — [[ivfOracle]]'s candidate
    * chain and q31's brute-force chain over the same 1-in-40 sampled
    * query set, reconciled per query into exact integer recall. */
  private def annRecallOracle: String = {
    val anchorMax = IvfStride * IvfCells
    def cos(a: String, b: String) = cosineSql(a, b)
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       a AS (SELECT vec_id AS cell_id, emb AS aemb FROM c
             WHERE vec_id % $IvfStride = 0 AND vec_id < $anchorMax),
       cells AS (SELECT vec_id AS neighbor_id, emb AS cemb, cell_id FROM (
         SELECT c.vec_id AS vec_id, c.emb AS emb, a.cell_id AS cell_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY ${cos("c.emb", "a.aemb")} DESC, a.cell_id) AS rk
         FROM c, a) WHERE rk = 1),
       q AS (SELECT vec_id, emb FROM c WHERE vec_id % 40 = 0),
       probes AS (SELECT vec_id AS query_id, emb AS qemb, cell_id FROM (
         SELECT q.vec_id AS vec_id, q.emb AS emb, a.cell_id AS cell_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY ${cos("q.emb", "a.aemb")} DESC, a.cell_id) AS rk
         FROM q, a) WHERE rk <= $IvfProbe),
       icand AS (SELECT query_id, neighbor_id,
           round(${cos("qemb", "cemb")}, 6) AS cos_sim
         FROM probes JOIN cells USING (cell_id) WHERE query_id <> neighbor_id),
       ivf AS (SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS rn FROM icand
         WHERE cos_sim IS NOT NULL) WHERE rn <= 10),
       bcand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(${cos("q.emb", "c.emb")}, 6) AS cos_sim
         FROM q, c WHERE q.vec_id <> c.vec_id),
       brute AS (SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS rn FROM bcand
         WHERE cos_sim IS NOT NULL) WHERE rn <= 10)
       SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_true,
         CAST(count(i.neighbor_id) AS BIGINT) AS n_hit,
         CAST(count(i.neighbor_id) * 1000000 // count(*) AS BIGINT)
           AS recall_micro
       FROM brute b LEFT JOIN ivf i
         ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       GROUP BY 1"""
  }

  /** The shared post-quantizer IVF oracle: argmax-cosine cell
    * assignment, nProbe probe, exact re-rank (mirrors
    * Similarity.ivfKnnWith; cosine fold order is bit-identical, so the
    * unrounded ORDER BY in the assignment windows agrees too). The
    * quantizer arrives as a CTE named `a(cell_id, aemb)` — stride-
    * filtered from the corpus for q50, an injected VALUES table of
    * trained centroids for q60. The `cos_sim IS NOT NULL` guard
    * mirrors TopKByScore's null-score skip (zero-norm embeddings are
    * out of the ranking on BOTH sides). */
  private def ivfOracleFrom(anchorsCte: String): String = {
    def cos(a: String, b: String) = cosineSql(a, b)
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       $anchorsCte,
       cells AS (SELECT vec_id AS neighbor_id, emb AS cemb, cell_id FROM (
         SELECT c.vec_id AS vec_id, c.emb AS emb, a.cell_id AS cell_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY ${cos("c.emb", "a.aemb")} DESC, a.cell_id) AS rk
         FROM c, a) WHERE rk = 1),
       q AS (SELECT vec_id, emb FROM c WHERE vec_id < 5),
       probes AS (SELECT vec_id AS query_id, emb AS qemb, cell_id FROM (
         SELECT q.vec_id AS vec_id, q.emb AS emb, a.cell_id AS cell_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY ${cos("q.emb", "a.aemb")} DESC, a.cell_id) AS rk
         FROM q, a) WHERE rk <= $IvfProbe),
       cand AS (SELECT query_id, neighbor_id, round(${cos("qemb", "cemb")}, 6) AS cos_sim
         FROM probes JOIN cells USING (cell_id) WHERE query_id <> neighbor_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, neighbor_id) AS rn FROM cand
         WHERE cos_sim IS NOT NULL)
       SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS knn_rank
       FROM r WHERE rn <= 10"""
  }

  /** Double literals that round-trip bit-exactly into DuckDB: Java's
    * shortest-repr `Double.toString` parses back to the identical IEEE
    * bits under any correctly-rounded strtod, so the injected centroid
    * VALUES reproduce the trained quantizer exactly. */
  private def sqlDouble(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite centroid component: $v")
    s"CAST(${java.lang.Double.toString(v)} AS DOUBLE)"
  }

  private val PqSubspaces = 8
  private val PqCodes = 16

  /** Shared injected-literal projection CTE: `p AS (SELECT <keep>,
    * p1..pk FROM e)` with the captured mean and top-k eigenvectors as
    * inline DOUBLE-list literals and the per-row centered dot product
    * as the same left-to-right fold [[cosineSql]] uses. */
  private def pcaProjCte(m: Pca.PcaModel, k: Int, keep: String): String = {
    def lst(a: Array[Double]): String =
      "[" + a.map(sqlDouble).mkString(", ") + "]"
    val mu = lst(m.mean)
    val pcs = m.eigenvectors.take(k).zipWithIndex.map { case (v, k0) =>
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         [(emb[i+1] - $mu[i+1]) * ${lst(v)}[i+1] for i in range(0, 64)]),
         (acc, x) -> acc + x) AS p${k0 + 1}"""
    }.mkString(", ")
    s"""e AS (SELECT $keep, CAST(embedding AS DOUBLE[]) AS emb
         FROM embeddings WHERE len(embedding) = 64),
       p AS (SELECT $keep, $pcs FROM e)"""
  }

  /** SQL mirror of Similarity.lshBucket / functions.LshBucketSig: same
    * md5-derived weights (inlined as integer constants via
    * Hashing.hexLongJvm — bit-identical to md5 in either engine), same
    * left-to-right double fold, same sign test per bit. */
  private def lshBucketSql(embExpr: String, table: Int, nBits: Int,
      dim: Int): String =
    (0 until nBits).map { bit =>
      val proj = (0 until dim).map { dd =>
        val k = Hashing.hexLongJvm(s"$table:$bit:$dd") % 1000L
        s"$embExpr[${dd + 1}] * (CAST($k AS DOUBLE)/500.0 - 1.0)"
      }.mkString(" + ")
      s"(CASE WHEN ($proj) > 0 THEN CAST(${1L << bit} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  private def cosineSql(ae: String, be: String): String = {
    def dotp(u: String, v: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$u[i+1] * $v[i+1] for i in range(0, 64)]), (acc, x) -> acc + x)"
    s"${dotp(ae, be)} / (sqrt(${dotp(ae, ae)}) * sqrt(${dotp(be, be)}))"
  }

  val all: Seq[Query] = Seq(
    // exact cosine top-k (ANN correctness baseline)
    Query("q31_knn_brute", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 5), 10)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
          col("rank").cast(LongType).as("knn_rank"))
    },
      {
      val cos = cosineSql("qe", "ce")
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
         sim AS (SELECT query_id, neighbor_id, round($cos, 6) AS cos_sim
                 FROM q, c WHERE query_id <> neighbor_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
               FROM sim WHERE cos_sim IS NOT NULL)
         SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS knn_rank FROM r WHERE rn <= 10"""
    }),

    // embedding near-dup pairs, content-blocked by sign-bit LSH buckets
    // (exact cosine within buckets; no join operator, never all-pairs)
    Query("q32_embedding_neardup", (s, d) =>
      Similarity.lshNearDupPairs(Tables.embeddings(s, d), 0.3,
        nTables = LshTables, nBits = LshBits, dim = EmbDim),
      {
      val cos = cosineSql("x.emb", "y.emb")
      val branches = (0 until LshTables).map(t =>
        s"SELECT vec_id, emb, $t AS tbl, ${lshBucketSql("emb", t, LshBits, EmbDim)} AS bucket FROM e")
        .mkString(" UNION ALL ")
      // `ok` mirrors the operator's maxBucket degenerate-bucket cap
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         b AS ($branches),
         ok AS (SELECT tbl, bucket FROM b
                GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $DefaultMaxBucket)
         SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b, round($cos, 6) AS cos_sim
         FROM b x JOIN b y
           ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
         JOIN ok ON x.tbl = ok.tbl AND x.bucket = ok.bucket
         WHERE round($cos, 6) > 0.3"""
    }),

    // LSH-bucketed ANN: q31's top-k through q32's sign-bit buckets —
    // candidates share a bucket in >=1 table, exact cosine re-rank,
    // bounded two-phase top-k (sublinear candidate sets at scale)
    Query("q126_lsh_knn", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshKnn(emb, emb.filter(col("vec_id") < 5), 10,
        nTables = LshTables, nBits = LshBits, dim = EmbDim)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
          col("rank").cast(LongType).as("knn_rank"))
    },
      // q126: q31's ranking shape over q32's bucket-blocked candidate set
      // (dedup'd pair candidates, no maxBucket cap — lshKnn has none)
      {
      val cos = cosineSql("qe.emb", "ce.emb")
      val branches = (0 until LshTables).map(t =>
        s"SELECT vec_id, $t AS tbl, ${lshBucketSql("emb", t, LshBits, EmbDim)} AS bucket FROM e")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         b AS ($branches),
         cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
                  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
         sim AS (SELECT query_id, neighbor_id, round($cos, 6) AS cos_sim
                 FROM cand JOIN e qe ON cand.query_id = qe.vec_id
                           JOIN e ce ON cand.neighbor_id = ce.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
               FROM sim WHERE cos_sim IS NOT NULL)
         SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS knn_rank
         FROM r WHERE rn <= 10"""
    }),

    // Johnson-Lindenstrauss +-1 random projection (Achlioptas 2003):
    // 64 -> 16 dims with md5-derived plan-time signs, exact integer
    // micro sums — the training-free reduction next to PCA (fit) and
    // PQ (k-means). Pure map, zero broadcast state
    Query("q166_jl_project", (s, d) =>
      Similarity.jlProject(Tables.embeddings(s, d), dIn = 64, kOut = 16),
      // the sign matrix rebuilt in SQL from the same md5 formula
      // (hexLongJvm's DuckDB twin), the same micro quantization, exact
      // integer sums pivoted to the 16 rp columns
      {
      val sg = sqlHexLong("'rp:' || j || ':' || i")
      val pivot = (0 until 16).map(j =>
        s"CAST(max(CASE WHEN j = $j THEN p END) AS BIGINT) AS rp_$j")
        .mkString(", ")
      s"""WITH e AS (SELECT vec_id,
           [CAST(floor(x * 1000000 + 0.5) AS BIGINT)
            for x in CAST(embedding AS DOUBLE[])] AS vm
         FROM embeddings WHERE len(embedding) = 64),
         u AS (SELECT vec_id, unnest(vm) AS v,
           generate_subscripts(vm, 1) - 1 AS i FROM e),
         s AS (SELECT j, i,
             CASE WHEN $sg % 2 = 0 THEN 1 ELSE -1 END AS sg
           FROM (SELECT unnest(range(0, 16)) AS j)
           CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT vec_id, j, sum(sg * v) AS p
           FROM u JOIN s USING (i) GROUP BY 1, 2)
         SELECT vec_id, $pivot FROM p GROUP BY vec_id"""
    }),

    // margin-based bitext mining (CCMatrix criterion): labels 0-4 play
    // the source language, 5-9 the target; LSH-bucketed candidates,
    // ratio margin over both k-neighborhoods, best pair per src above
    // a 1.05 margin
    Query("q134_bitext_margin", (s, d) =>
      Similarity.bitextMarginMine(Tables.embeddings(s, d),
        col("label") < 5, k = 4, minMarginMicro = 1050000L,
        nTables = LshTables, nBits = LshBits, dim = EmbDim,
        maxBucket = DefaultMaxBucket),
      {
      val cos = cosineSql("se.emb", "te.emb")
      val branches = (0 until LshTables).map(t =>
        s"SELECT vec_id, label, $t AS tbl, ${lshBucketSql("emb", t, LshBits, EmbDim)} AS bucket FROM e")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
         b AS ($branches),
         ok AS (SELECT tbl, bucket FROM b
                GROUP BY 1, 2 HAVING count(*) <= $DefaultMaxBucket),
         cand AS (SELECT DISTINCT s.vec_id AS src_id, t.vec_id AS tgt_id
                  FROM b s JOIN b t ON s.tbl = t.tbl AND s.bucket = t.bucket
                  JOIN ok ON s.tbl = ok.tbl AND s.bucket = ok.bucket
                  WHERE s.label < 5 AND t.label >= 5),
         cm AS (SELECT src_id, tgt_id,
                  CAST(floor($cos * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS cos_micro
                FROM cand JOIN e se ON cand.src_id = se.vec_id
                          JOIN e te ON cand.tgt_id = te.vec_id),
         cp AS (SELECT * FROM cm WHERE cos_micro > 0),
         st AS (SELECT *, row_number() OVER (PARTITION BY src_id
                  ORDER BY cos_micro DESC, tgt_id) AS rn FROM cp),
         ss AS (SELECT src_id, CAST(sum(cos_micro) AS BIGINT) AS sumX,
                  CAST(count(*) AS BIGINT) AS cntX
                FROM st WHERE rn <= 4 GROUP BY 1),
         tt AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
                  ORDER BY cos_micro DESC, src_id) AS rn FROM cp),
         ts AS (SELECT tgt_id, CAST(sum(cos_micro) AS BIGINT) AS sumY,
                  CAST(count(*) AS BIGINT) AS cntY
                FROM tt WHERE rn <= 4 GROUP BY 1),
         mg AS (SELECT st.src_id, st.tgt_id, st.cos_micro,
                  CAST(floor(
                    (CAST(2 AS DOUBLE) * cntX * cntY * st.cos_micro) /
                    CAST(sumX * cntY + sumY * cntX AS DOUBLE)
                    * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS margin_micro
                FROM st JOIN ss USING (src_id) JOIN ts USING (tgt_id)
                WHERE st.rn <= 4),
         best AS (SELECT *, row_number() OVER (PARTITION BY src_id
                    ORDER BY margin_micro DESC, tgt_id) AS brn
                  FROM mg WHERE margin_micro > 1050000)
         SELECT src_id, tgt_id, cos_micro, margin_micro
         FROM best WHERE brn = 1"""
    }),

    // denoised hard negatives (RocketQA): different-label top-k
    // calibrated against the labeled positive — candidates within the
    // margin of pos_micro are likely unlabeled positives and excluded
    Query("q138_denoised_negatives", (s, d) =>
      Similarity.denoisedHardNegatives(Tables.embeddings(s, d),
        col("vec_id") < 40, k = 5, marginMicro = 20000L),
      {
      val cos = cosineSql("qe", "e.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             label FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qe, label AS ql
               FROM e WHERE vec_id < 40),
         sim AS (SELECT query_id, ql, e.vec_id AS neighbor_id,
                 e.label AS cl,
                 CAST(floor($cos * 1e6 + 0.5) AS BIGINT) AS cos_micro
                 FROM q, e WHERE query_id <> e.vec_id),
         pos AS (SELECT query_id, max(cos_micro) AS pos_micro FROM sim
                 WHERE ql = cl GROUP BY 1),
         negs AS (SELECT s.query_id, neighbor_id, cos_micro, pos_micro
                  FROM sim s JOIN pos USING (query_id)
                  WHERE ql <> cl AND cos_micro < pos_micro - 20000),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_micro DESC, neighbor_id) AS rn FROM negs)
         SELECT query_id, neighbor_id, cos_micro, pos_micro,
           CAST(rn AS BIGINT) AS neg_rank FROM r WHERE rn <= 5"""
    }),

    // Matryoshka truncation eval: how much of the full-dim top-10
    // survives at a 16-dim prefix — exact recall per query
    Query("q147_trunc_recall", (s, d) =>
      Similarity.truncationRecall(Tables.embeddings(s, d),
        col("vec_id") < 30, k = 10, truncDim = 16),
      {
      def dotp(u: String, v: String, d: Int) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$u[i+1] * $v[i+1] for i in range(0, $d)]), (acc, x) -> acc + x)"
      def cosD(d: Int) =
        s"${dotp("qe", "e.emb", d)} / (sqrt(${dotp("qe", "qe", d)}) * sqrt(${dotp("e.emb", "e.emb", d)}))"
      def topk(scoreCol: String) =
        s"""SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER
               (PARTITION BY query_id ORDER BY $scoreCol DESC, neighbor_id)
               AS rn FROM sim WHERE $scoreCol IS NOT NULL)
           WHERE rn <= 10"""
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qe FROM e
               WHERE vec_id < 30),
         sim AS (SELECT query_id, e.vec_id AS neighbor_id,
             CAST(floor(${cosD(64)} * 1e6 + 0.5) AS BIGINT) AS cos_full,
             CAST(floor(${cosD(16)} * 1e6 + 0.5) AS BIGINT) AS cos_trunc
           FROM q, e WHERE query_id <> e.vec_id),
         f AS (${topk("cos_full")}),
         t AS (${topk("cos_trunc")})
         SELECT f.query_id,
           CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_overlap,
           CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000 // 10 AS BIGINT) AS recall_micro
         FROM f LEFT JOIN t ON f.query_id = t.query_id
           AND f.neighbor_id = t.neighbor_id
         GROUP BY 1"""
    }),

    // IVF ANN: stride-sampled coarse quantizer, nProbe-cell probe, exact
    // re-rank within probed cells — fully deterministic, oracle-checked
    Query("q50_ivf_knn", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 5), 10,
        stride = IvfStride, nCells = IvfCells, nProbe = IvfProbe)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
          col("rank").cast(LongType).as("knn_rank"))
    },
      ivfOracle),

    // recall@10 of the q50 IVF index vs exact brute force on a
    // 1-in-40 sampled query set — the q206 audit discipline applied to
    // the vector tier (recall is a property of THIS corpus at THIS
    // scale, so the same query re-runs at the 10x rehearsal corpus and
    // its recall lands in BASELINE.md)
    Query("q224_ann_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.annRecallAudit(emb, emb.filter(col("vec_id") % 40 === 0),
        10, stride = IvfStride, nCells = IvfCells, nProbe = IvfProbe)
    },
      annRecallOracle),

    // trained-quantizer IVF ANN (seeded k-means centroids through the
    // ivfKnnWith seam). The k-means FIT is not SQL-expressible, but
    // everything after the centroids is: the builder captures the
    // <= IvfCells trained centroids (a model artifact, driver-local by
    // construction) and the oracle injects them as a VALUES CTE — the
    // same shape of side-channel as the injected wall-clock literals —
    // so the assignment + top-k is fully hash-checked like q50's.
    // Result quality is additionally spec-gated (SimilaritySpec:
    // trained recall >= stride-anchor recall vs brute force).
    Query.fitted[Seq[(Long, Array[Double])]]("q60_ivf_trained", (s, d, capture) => {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.trainIvfCentroids(emb, IvfCells, maxIter = 5)
      capture(cents)
      val sess = s
      import sess.implicits._
      Similarity.ivfKnnWith(
        cents.toDF("cell_id", "anchor"),
        emb, emb.filter(col("vec_id") < 5), 10, nProbe = IvfProbe)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
          col("rank").cast(LongType).as("knn_rank"))
    },
      // oracle from the captured <= IvfCells centroids: a VALUES CTE
      // through the shared post-quantizer oracle. Absent only if q60
      // never ran or failed, in which case an oracle would be meaningless
      // anyway.
      cents => {
        val rows = cents.map { case (id, arr) =>
          s"(CAST($id AS BIGINT), [${arr.map(sqlDouble).mkString(", ")}])"
        }.mkString(", ")
        ivfOracleFrom(
          s"a AS (SELECT cell_id, aemb FROM (VALUES $rows) AS t(cell_id, aemb))")
      }),

    // distributed PCA, part 1 — the fused-moment covariance pass: ONE
    // corpus scan expands each embedding into d first + d(d+1)/2 pair
    // moments, hash-aggregated as exact fixed-point longs (map-side
    // partials keep the shuffle O(d²) per task at any corpus size).
    // Fully SQL-checkable with no injection: this gate covers the
    // numeric input the eigensolve consumes.
    Query("q153_pca_cov", (s, d) =>
      Pca.covarianceUT(Pca.moments(Tables.embeddings(s, d), "embedding", 64)),
      // same fused moments (first moments tagged j = -1), same exact
      // fixed-point 1e12 quantization, same end-stage double arithmetic
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE len(embedding) = 64),
         ue AS (SELECT vec_id, unnest(range(0, 64)) AS i, unnest(emb) AS x FROM e),
         p2 AS (SELECT a.i AS i, b.i AS j,
             CAST(floor((a.x * b.x) * 1e12 + 0.5) AS BIGINT) AS xy
           FROM ue a JOIN ue b ON a.vec_id = b.vec_id AND a.i <= b.i),
         p1 AS (SELECT i, -1 AS j, CAST(floor(x * 1e12 + 0.5) AS BIGINT) AS xy
           FROM ue),
         m AS (SELECT i, j, count(*) AS n_vecs, CAST(sum(xy) AS BIGINT) AS s
           FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) GROUP BY 1, 2)
         SELECT s2.i, s2.j, CAST(s2.n_vecs AS BIGINT) AS n_vecs,
           (CAST(s2.s AS DOUBLE) / 1e12) / CAST(s2.n_vecs AS DOUBLE)
             - ((CAST(a.s AS DOUBLE) / 1e12) / CAST(s2.n_vecs AS DOUBLE))
               * ((CAST(b.s AS DOUBLE) / 1e12) / CAST(s2.n_vecs AS DOUBLE)) AS cov
         FROM m s2 JOIN m a ON a.j = -1 AND s2.i = a.i
           JOIN m b ON b.j = -1 AND s2.j = b.i
         WHERE s2.j >= 0"""),

    // distributed PCA, part 2 — end-to-end: driver fit from the bounded
    // moment table (Jacobi eigensolve; the k-means-fit precedent), then
    // a distributed projection onto the top 4 components as a pure map
    // (model as literal arrays), aggregated per label via exact
    // nano-fixed-point sums. The captured model is injected into the
    // oracle (q60's centroid mechanism), so projection + aggregation
    // are fully hash-checked.
    Query.fitted[Pca.PcaModel]("q154_pca_project", (s, d, capture) => {
      val emb = Tables.embeddings(s, d)
      val model = Pca.fit(
        Pca.moments(emb, "embedding", 64).collect().toSeq, 64)
      capture(model)
      val proj = Pca.project(emb, "embedding", model.mean,
        model.eigenvectors.take(4))
      val fps = proj.select(col("label") +: (1 to 4).map(k =>
        floor(col(s"pc$k") * lit(1e9) + lit(0.5)).cast(LongType)
          .as(s"__fp$k")): _*)
      val agg = fps.groupBy("label").agg(count(lit(1)).as("n_vecs"),
        (1 to 4).map(k => sum(col(s"__fp$k")).as(s"__s$k")): _*)
      agg.select(col("label") +: col("n_vecs") +: (1 to 4).map(k =>
        ((col(s"__s$k").cast("double") / lit(1e9)) /
          col("n_vecs").cast("double")).as(s"mean_pc$k")): _*)
    },
      // oracle from the captured model (bounded: 64 means + 4×64
      // eigenvector components): the captured mean and top-4
      // eigenvectors as inline DOUBLE-list literals, the per-row centered
      // dot product as the same left-to-right fold [[cosineSql]] uses, and
      // the per-label means as exact nano-fixed-point integer sums.
      m => {
        val means = (1 to 4).map(k =>
          s"""(CAST(CAST(sum(CAST(floor(p$k * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
           AS DOUBLE) / 1e9) / CAST(count(*) AS DOUBLE) AS mean_pc$k""")
          .mkString(", ")
        s"""WITH ${pcaProjCte(m, 4, "label")}
           SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, $means
           FROM p GROUP BY 1"""
      }),

    // distributed PCA, part 3 — embedding-space outlier mining: the
    // approximate Mahalanobis distance Σ_k pc_k²/λ_k over the top-8
    // components (the curation step that drops noise/contamination
    // vectors before semantic dedup). Same fit, then a pure-map score
    // and the bounded two-phase global top-k — no window, no global
    // sort; exact micro fixed-point crosses the engine boundary.
    Query.fitted[Pca.PcaModel]("q155_mahalanobis", (s, d, capture) => {
      val emb = Tables.embeddings(s, d)
      val model = Pca.fit(
        Pca.moments(emb, "embedding", 64).collect().toSeq, 64)
      capture(model)
      val proj = Pca.project(emb, "embedding", model.mean,
        model.eigenvectors.take(8))
      val md = (1 to 8).map(k =>
        (col(s"pc$k") * col(s"pc$k")) / lit(model.eigenvalues(k - 1)))
        .reduce(_ + _)
      val scored = proj.select(col("vec_id"),
        floor(md * lit(1e6) + lit(0.5)).cast(LongType).as("md_micro"))
      Relational.topKPerGroup(scored, Seq.empty, col("md_micro"),
        col("vec_id"), 20)
        .select(col("id").as("vec_id"),
          col("score").cast(LongType).as("md_micro"),
          col("rank").cast(LongType).as("out_rank"))
    },
      // oracle from this query's own capture of q154's deterministic fit
      // (so each query's oracle stands alone): the captured model's
      // top-8 projection, Σ pc²/λ left-to-right, micro quantize,
      // row_number top-20 (mirrors the bounded two-phase top-k).
      m => {
        val md = (1 to 8).map(k =>
          s"(p$k * p$k) / ${sqlDouble(m.eigenvalues(k - 1))}").mkString(" + ")
        s"""WITH ${pcaProjCte(m, 8, "vec_id")},
           md AS (SELECT vec_id,
             CAST(floor(($md) * 1e6 + 0.5) AS BIGINT) AS md_micro FROM p),
           r AS (SELECT *, row_number() OVER
             (ORDER BY md_micro DESC, vec_id) AS rn FROM md)
           SELECT vec_id, md_micro, CAST(rn AS BIGINT) AS out_rank
           FROM r WHERE rn <= 20"""
      }),

    // per-vector symmetric int8 quantization digest (scale, L1, min/max,
    // reconstruction RMSE) — the ANN-index compression path
    Query("q71_quantize_int8", (s, d) =>
      Similarity.quantizeInt8(wide(Tables.embeddings(s, d)), "vec_id"),
      // quantizer parity: floor(x + 0.5), never round() — engines
      // disagree on half-value ties; fold order mirrors the Spark
      // aggregate (left-to-right, 0-seeded)
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         m AS (SELECT vec_id, emb,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [abs(emb[i+1]) for i in range(0, 64)]),
             (acc, x) -> CASE WHEN x > acc THEN x ELSE acc END) AS max_abs FROM c),
         q AS (SELECT vec_id, emb, max_abs / 127.0 AS scale,
           CASE WHEN max_abs = 0 THEN [CAST(0 AS BIGINT) for i in range(0, 64)]
             ELSE [CAST(least(greatest(floor(emb[i+1] / (max_abs / 127.0) + 0.5),
               -127), 127) AS BIGINT) for i in range(0, 64)] END AS qv FROM m)
         SELECT vec_id, round(scale, 9) AS scale,
           list_reduce(list_prepend(CAST(0 AS BIGINT), [abs(x) for x in qv]),
             (acc, x) -> acc + x) AS q_l1,
           list_min(qv) AS q_min, list_max(qv) AS q_max,
           round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [pow(emb[i+1] - qv[i+1] * scale, 2) for i in range(0, 64)]),
             (acc, x) -> acc + x) / 64), 6) AS rmse
         FROM q"""),

    // hybrid retrieval: lexical term-overlap top-100 + vector top-100
    // from doc 0's embedding, fused by reciprocal rank (K=60), top-20
    Query("q75_rrf_fusion", (s, d) =>
      Similarity.rrfFusion(Tables.documents(s, d), "doc_id", col("text"),
        Tables.embeddings(s, d), RrfTerms, queryVecId = 0L),
      // both legs bounded to 100 then fused: 1/(60+rank) summed, absent
      // legs contribute 0; CAST(1.0 AS DOUBLE) because DuckDB's bare 1.0
      // is DECIMAL and decimal division would not match Spark's double
      {
      val cos = cosineSql("qe", "ce")
      val terms = RrfTerms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      s"""WITH lex0 AS (SELECT doc_id,
           len(list_intersect(list_distinct(string_split(text, ' ')),
             [$terms])) AS ov FROM documents),
         lexr AS (SELECT doc_id, CAST(row_number() OVER
             (ORDER BY ov DESC, doc_id) AS BIGINT) AS lex_rank
           FROM lex0 WHERE ov > 0
           QUALIFY lex_rank <= 100),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
           FROM embeddings),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
           WHERE vec_id = 0),
         sim AS (SELECT neighbor_id, round($cos, 6) AS cos_sim
           FROM c, q WHERE neighbor_id <> 0),
         vr AS (SELECT neighbor_id AS doc_id, CAST(row_number() OVER
             (ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS vec_rank
           FROM sim WHERE cos_sim IS NOT NULL
           QUALIFY vec_rank <= 100)
         SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
           l.lex_rank AS lex_rank, v.vec_rank AS vec_rank,
           round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0) +
                 coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0), 6)
             AS rrf_score
         FROM lexr l FULL OUTER JOIN vr v ON l.doc_id = v.doc_id
         ORDER BY rrf_score DESC, doc_id LIMIT 20"""
    }),

    // SemDeDup: cluster embeddings with the stride quantizer, drop
    // in-cell vectors with a smaller-id twin above cosine 0.2; output
    // the semantic-dedup survivor set with its cell assignment
    Query("q78_semdedup", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val anchors = emb
        .filter(pmod(col("vec_id"), lit(IvfStride)) === 0 &&
          col("vec_id") < IvfStride * IvfCells)
        .select(col("vec_id").as("cell_id"), col("embedding").as("anchor"))
      Similarity.semDedup(anchors, emb, 0.2)
    },
      {
      val cos = cosineSql("x.emb", "y.emb")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         a AS (SELECT vec_id AS cell_id, emb AS aemb FROM c
               WHERE vec_id % $IvfStride = 0 AND vec_id < ${IvfStride * IvfCells}),
         cells AS (SELECT vec_id, emb, cell_id FROM (
           SELECT c.vec_id AS vec_id, c.emb AS emb, a.cell_id AS cell_id,
             row_number() OVER (PARTITION BY c.vec_id
               ORDER BY ${cosineSql("c.emb", "a.aemb")} DESC, a.cell_id) AS rk
           FROM c, a) WHERE rk = 1),
         ok AS (SELECT cell_id FROM cells
                GROUP BY 1 HAVING count(*) BETWEEN 2 AND $DefaultMaxBucket),
         f AS (SELECT DISTINCT y.vec_id AS follower
               FROM cells x JOIN cells y
                 ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
               JOIN ok ON y.cell_id = ok.cell_id
               WHERE round($cos, 6) > 0.2)
         SELECT vec_id, cell_id FROM cells
         WHERE vec_id NOT IN (SELECT follower FROM f)"""
    }),

    // graded retrieval eval: nDCG@10 + MRR of the 16-dim truncated
    // ranking against full-dim relevance bands — the ranking-quality
    // metrics next to q147's set recall (thresholds probed at sf0.01:
    // every band fires, 2 queries have zero grade-3 docs)
    Query("q176_ndcg", (s, d) =>
      Similarity.ndcgEval(Tables.embeddings(s, d),
        col("vec_id") < 30, k = 10, truncDim = 16,
        t1 = 180000L, t2 = 250000L, t3 = 320000L),
      // the same injected integer discount weights, grade bands, and
      // composite ideal-tiebreak score; rankings as row_number windows
      {
      def dotp(u: String, v: String, d: Int) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$u[i+1] * $v[i+1] for i in range(0, $d)]), (acc, x) -> acc + x)"
      def cosD(d: Int) =
        s"${dotp("qe", "e.emb", d)} / (sqrt(${dotp("qe", "qe", d)}) * sqrt(${dotp("e.emb", "e.emb", d)}))"
      val wRows = graft.operators.Similarity.dcgWeights(10).zipWithIndex
        .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")
      s"""WITH w(rnk, wt) AS (VALUES $wRows),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qe FROM e
               WHERE vec_id < 30),
         sim AS (SELECT query_id, e.vec_id AS neighbor_id,
             CAST(floor(${cosD(64)} * 1e6 + 0.5) AS BIGINT) AS cos_full,
             CAST(floor(${cosD(16)} * 1e6 + 0.5) AS BIGINT) AS cos_trunc
           FROM q, e WHERE query_id <> e.vec_id),
         g AS (SELECT *, CASE WHEN cos_full >= 320000 THEN 3
               WHEN cos_full >= 250000 THEN 2
               WHEN cos_full >= 180000 THEN 1 ELSE 0 END AS g,
             CASE WHEN cos_full >= 320000 THEN 7
               WHEN cos_full >= 250000 THEN 3
               WHEN cos_full >= 180000 THEN 1 ELSE 0 END AS gain
           FROM sim),
         sys AS (SELECT query_id, neighbor_id, g, gain, rn FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos_trunc DESC, neighbor_id) AS rn
             FROM g WHERE cos_trunc IS NOT NULL) WHERE rn <= 10),
         dcg AS (SELECT query_id,
             CAST(sum(gain * wt) AS BIGINT) AS dcg,
             min(CASE WHEN g >= 2 THEN rn END) AS first_rel
           FROM sys JOIN w ON sys.rn = w.rnk GROUP BY 1),
         idl AS (SELECT query_id, gain, rn FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY g * 4294967296 - neighbor_id DESC) AS rn
             FROM g WHERE g > 0) WHERE rn <= 10),
         idcg AS (SELECT query_id,
             CAST(sum(gain * wt) AS BIGINT) AS idcg
           FROM idl JOIN w ON idl.rn = w.rnk GROUP BY 1),
         nr AS (SELECT query_id, CAST(sum(CASE WHEN g > 0 THEN 1
               ELSE 0 END) AS BIGINT) AS n_rel
           FROM g GROUP BY 1)
         SELECT nr.query_id, nr.n_rel,
           CAST(coalesce(dcg.dcg, 0) AS BIGINT) AS dcg,
           CAST(coalesce(idcg.idcg, 0) AS BIGINT) AS idcg,
           CAST(CASE WHEN coalesce(idcg.idcg, 0) > 0
             THEN coalesce(dcg.dcg, 0) * 1000000 // idcg.idcg
             ELSE 0 END AS BIGINT) AS ndcg_micro,
           CAST(CASE WHEN dcg.first_rel IS NOT NULL
             THEN 1000000 // dcg.first_rel ELSE 0 END AS BIGINT)
             AS rr_micro
         FROM nr LEFT JOIN idcg ON nr.query_id = idcg.query_id
           LEFT JOIN dcg ON nr.query_id = dcg.query_id"""
    }),

    // product-quantization codes: 4 subspaces of 16 dims, 8 stride-
    // anchor codewords — the vector-compression stage next to q50's
    // coarse quantizer
    Query("q119_pq_codes", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val codebook = emb
        .filter(pmod(col("vec_id"), lit(30)) === 0 && col("vec_id") < 240)
        .select(expr("vec_id div 30").as("code_id"),
          col("embedding").as("codeword"))
      Similarity.pqCodes(emb, codebook, subspaces = 4)
    },
      {
      def dist(s: Int): String =
        s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           [(c.e[i+1] - cb.cw[i+1]) * (c.e[i+1] - cb.cw[i+1])
            for i in range(${16 * s}, ${16 * (s + 1)})]),
           (acc, x) -> acc + x)"""
      def arg(s: Int): String =
        s"""a$s AS (SELECT vec_id, code_id FROM
           (SELECT vec_id, code_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d$s, code_id) AS rk
            FROM d) WHERE rk = 1)"""
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cb AS (SELECT vec_id // 30 AS code_id, e AS cw FROM c
                WHERE vec_id % 30 = 0 AND vec_id < 240),
         d AS (SELECT c.vec_id AS vec_id, cb.code_id AS code_id,
           ${(0 until 4).map(s => s"${dist(s)} AS d$s").mkString(", ")}
           FROM c, cb),
         ${(0 until 4).map(arg).mkString(",\n         ")}
         SELECT a0.vec_id AS vec_id,
           CAST(a0.code_id AS BIGINT) AS code_0,
           CAST(a1.code_id AS BIGINT) AS code_1,
           CAST(a2.code_id AS BIGINT) AS code_2,
           CAST(a3.code_id AS BIGINT) AS code_3
         FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id)
           JOIN a3 USING (vec_id)"""
    }),

    // PQ asymmetric-distance search (ADC): approximate top-10 per query
    // computed ENTIRELY from the stored codes — per-subspace k-means
    // codebooks (the real PQ trainer, 8 subspaces × 16 codes; captured
    // and injected into the oracle, q60's mechanism), per-query LUT of
    // micro-quantized subspace distances (order-free long sums)
    // broadcast into the codes scan, bounded two-phase top-k. The
    // query-time plan never touches a corpus vector.
    Query.fitted[Seq[(Long, Array[Double])]]("q156_pq_adc", (s, d, capture) => {
      val emb = Tables.embeddings(s, d)
      val cb = Similarity.trainPqCodebook(emb, PqSubspaces, PqCodes)
      capture(cb)
      val sess = s
      import sess.implicits._
      val codebook = cb.toDF("code_id", "codeword")
      // wide(): the per-subspace argmin folds are the heavy narrow
      // compute, and the embeddings parquet scans as ONE partition
      val codes = Similarity.pqCodes(wide(emb), codebook, PqSubspaces)
      Similarity.pqAdcKnn(codes, codebook,
        emb.filter(col("vec_id") < 5), PqSubspaces, k = 10)
    },
      // oracle from the captured codebooks (bounded: PqCodes full-dim
      // codewords): the trained codewords as a VALUES CTE,
      // then the full code-assignment + LUT + top-k chain mirrored
      // (per-subspace slice folds identical to q119's; per-cell micro
      // quantization makes the total an order-free BIGINT sum).
      cbRows => {
        val m = PqSubspaces
        val len = 64 / m
        def dist(s: Int, a: String, b: String): String =
          s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           [($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])
            for i in range(${len * s}, ${len * (s + 1)})]),
           (acc, x) -> acc + x)"""
        def arg(s: Int): String =
          s"""a$s AS (SELECT vec_id, code_id FROM
           (SELECT vec_id, code_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY d$s, code_id) AS rk
            FROM d) WHERE rk = 1)"""
        val values = cbRows.map { case (id, cw) =>
          s"(CAST($id AS BIGINT), [${cw.map(sqlDouble).mkString(", ")}])"
        }.mkString(", ")
        val codeCols = (0 until m).map(s => s"a$s.code_id AS c$s").mkString(", ")
        val codeJoins = (1 until m).map(s => s"JOIN a$s USING (vec_id)").mkString(" ")
        val cellJoins = (1 until m).map(s =>
          s"JOIN cells c$s ON c$s.query_id = c0.query_id AND c$s.code_id = cd.c$s")
          .mkString("\n             ")
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           cb AS (SELECT code_id, cw FROM (VALUES $values) AS t(code_id, cw)),
           d AS (SELECT c.vec_id AS vec_id, cb.code_id AS code_id,
             ${(0 until m).map(s => s"${dist(s, "c.e", "cb.cw")} AS d$s").mkString(", ")}
             FROM c, cb),
           ${(0 until m).map(arg).mkString(",\n           ")},
           codes AS MATERIALIZED (SELECT a0.vec_id AS vec_id, $codeCols
             FROM a0 $codeJoins),
           q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id < 5),
           cells AS MATERIALIZED (SELECT q.query_id AS query_id, cb.code_id AS code_id,
             ${(0 until m).map(s =>
               s"CAST(floor(${dist(s, "q.qe", "cb.cw")} * 1e6 + 0.5) AS BIGINT) AS m$s")
               .mkString(", ")}
             FROM q, cb),
           ad AS (SELECT c0.query_id AS query_id, cd.vec_id AS neighbor_id,
               ${(0 until m).map(s => s"c$s.m$s").mkString(" + ")} AS adc_micro
             FROM codes cd
               JOIN cells c0 ON c0.code_id = cd.c0
               $cellJoins
             WHERE c0.query_id <> cd.vec_id),
           r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY adc_micro, neighbor_id) AS rn FROM ad)
           SELECT query_id, neighbor_id, adc_micro, CAST(rn AS BIGINT) AS pq_rank
           FROM r WHERE rn <= 10"""
      }),

    // Z-order (Morton) locality cells over the top-2 PCA plane — the
    // data-layout primitive behind multi-dimensional file clustering:
    // write the lake sorted by z_cell and 2-D range predicates become
    // scan pruning. Same captured-model mechanism as q154; the
    // quantization range is computed INTERNALLY on both sides (PCA
    // scores are bit-identical across engines — identical IEEE fold
    // order — so min/max and the floor-quantized cells agree exactly)
    Query.fitted[Pca.PcaModel]("q160_zorder_cells", (s, d, capture) => {
      val emb = Tables.embeddings(s, d)
      val model = Pca.fit(
        Pca.moments(emb, "embedding", 64).collect().toSeq, 64)
      capture(model)
      // wide(): the two 64-term projection folds are the heavy narrow
      // compute, and the embeddings parquet scans as ONE partition
      val proj = Pca.project(wide(emb), "embedding", model.mean,
        model.eigenvectors.take(2))
      val rng = proj.agg(
        min(col("pc1")).as("__n1"), max(col("pc1")).as("__x1"),
        min(col("pc2")).as("__n2"), max(col("pc2")).as("__x2"))
      def qz(p: Column, lo: Column, hi: Column): Column =
        when(hi > lo,
          least(floor((p - lo) / (hi - lo) * 32.0), lit(31.0)))
          .otherwise(lit(0.0)).cast(LongType)
      proj.crossJoin(broadcast(rng))
        .select(Similarity.zorderCell(
          qz(col("pc1"), col("__n1"), col("__x1")),
          qz(col("pc2"), col("__n2"), col("__x2")), 5).as("z_cell"))
        .groupBy("z_cell").agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("n_vecs").desc, col("z_cell")).limit(50)
    },
      // oracle from this query's own capture (q154's rule); only the
      // model crosses — the z-quantization RANGE is recomputed inside
      // both engines from the bit-identical projections. The captured
      // model goes through the
      // shared projection CTE, range + quantization + the unrolled
      // bit-interleave mirrored digit for digit (disjoint bits: + is |).
      m => {
        val z = (0 until 5).map(i =>
          s"(((qx >> $i) & 1) << ${2 * i}) + (((qy >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        def qz(p: String, lo: String, hi: String): String =
          s"""CAST(CASE WHEN $hi > $lo
           THEN least(floor(($p - $lo) / ($hi - $lo) * 32.0),
             CAST(31 AS DOUBLE))
           ELSE 0 END AS BIGINT)"""
        s"""WITH ${pcaProjCte(m, 2, "vec_id")},
           rng AS (SELECT min(p1) AS n1, max(p1) AS x1,
             min(p2) AS n2, max(p2) AS x2 FROM p),
           qq AS (SELECT ${qz("p1", "n1", "x1")} AS qx,
             ${qz("p2", "n2", "x2")} AS qy FROM p CROSS JOIN rng),
           cells AS (SELECT $z AS z_cell,
             CAST(count(*) AS BIGINT) AS n_vecs FROM qq GROUP BY 1)
           SELECT z_cell, n_vecs FROM cells
           ORDER BY n_vecs DESC, z_cell LIMIT 50"""
      }),

    // predicate-filtered kNN: hard negatives for contrastive training —
    // top-10 most-similar vectors whose SOURCE differs from the
    // query's. The source attribute rides a co-keyed join (vec_id =
    // doc_id); the mismatch predicate runs in the join condition, ahead
    // of the fused cosine.
    Query("q107_hard_negatives", (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val corpus = Tables.embeddings(s, d)
        .join(src, col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("embedding"), col("source"))
      Similarity.filteredKnn(corpus, corpus.filter(col("vec_id") < 5), 10,
        col("q.source") =!= col("c.source"))
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
          col("rank").cast(LongType).as("neg_rank"))
    },
      // same cosine + null-skip contract as q31; the source-mismatch
      // predicate filters candidates before ranking
      {
      val cos = cosineSql("qe", "s.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         s AS (SELECT e.vec_id, e.emb, d.source FROM e
               JOIN documents d ON e.vec_id = d.doc_id),
         q AS (SELECT vec_id AS query_id, emb AS qe, source AS qsrc
               FROM s WHERE vec_id < 5),
         sim AS (SELECT query_id, s.vec_id AS neighbor_id,
                 round($cos, 6) AS cos_sim
                 FROM q, s WHERE query_id <> s.vec_id AND s.source <> qsrc),
         r AS (SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rn
               FROM sim WHERE cos_sim IS NOT NULL)
         SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS neg_rank
         FROM r WHERE rn <= 10"""
    })
  )
}
