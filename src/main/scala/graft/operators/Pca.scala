package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Distributed principal-component analysis over an embedding column —
  * the whitening / dimensionality-reduction step training-data
  * pipelines run before clustering-based curation (e.g. the cluster
  * space SemDeDup variants operate in) or an ANN index build.
  *
  * Split exactly like the k-means quantizer
  * ([[Similarity.trainIvfCentroids]]):
  *
  *  - the MOMENTS pass is distributed and is the only part that touches
  *    the corpus: ONE scan expands each row into its d first moments
  *    plus d(d+1)/2 pairwise second moments and hash-aggregates them
  *    with map-side partial aggregation, so the shuffle carries at most
  *    d(d+3)/2 rows per task regardless of corpus size. Sums are exact
  *    fixed-point longs (the house money-cents contract, scale 1e12):
  *    the fold-order nondeterminism of a parallel double sum never
  *    appears, and a SQL engine reproduces the covariance bit-for-bit.
  *  - the EIGENSOLVE consumes the d×d covariance on the driver (a model
  *    artifact like k-means centroids — d(d+3)/2 aggregate cells, NOT
  *    data) via cyclic Jacobi rotations.
  *  - the PROJECTION pass is distributed and embarrassingly parallel:
  *    the mean and top-k eigenvectors travel as literal arrays inside a
  *    codegen'd per-row fold (same deterministic left-to-right
  *    accumulation as [[Similarity.dot]]), so there is no shuffle, no
  *    broadcast variable, no UDF.
  *
  * Fixed-point capacity: |x| ≤ 1-ish components give |x·y·1e12| ≤ 1e12
  * per row, so a long sum holds ~9×10⁶ rows per group at worst-case
  * correlation; at lake scale the same plan swaps the long for a
  * DECIMAL(38,12) sum (still exact, still order-free).
  */
object Pca {

  /** Exact-integer moment scale: components and their pairwise products
    * quantize to 1e-12 before summation. */
  val FpScale = 1e12

  /** First moments are tagged j = −1 so one aggregation serves both
    * moment orders (and Spark's exchange reuse keeps it one scan even
    * when the result feeds two branches). */
  val FirstMomentTag = -1

  /** The fused moment aggregate: one row per (i, j) with j = −1 for the
    * d first moments and i ≤ j for the d(d+1)/2 second moments —
    * `n_vecs` (rows with a well-formed embedding) and the exact
    * fixed-point sum `s`.
    *
    * One corpus pass through the native
    * [[graft.functions.MomentSketch]] aggregate: each task folds its
    * rows into a single O(d²) long buffer in a primitive loop (~µs/row;
    * the first cut generated-and-exploded a 2 144-struct array per row
    * through interpreted HOF lambdas — 42 ms/row at d = 64, three
    * thousand times slower), partials merge by element-wise add, and
    * only the final one-row sketch explodes into the bounded
    * d(d+3)/2-row moment table. The shuffle carries one buffer per map
    * partition — corpus-size-independent. */
  def moments(corpus: DataFrame, embCol: String, dim: Int): DataFrame = {
    val base = Parallelism.ensure(
      corpus.filter(size(col(embCol)) === dim)
        .select(col(embCol).cast("array<double>").as("__e")))
    base.agg(graft.functions.Native.momentSketch(col("__e"), dim, FpScale)
        .as("__m"))
      .select(col("__m.n").as("n_vecs"), explode(col("__m.cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("n_vecs"),
        col("c.s").as("s"))
      .filter(col("n_vecs") > 0)
  }

  /** Centered covariance (upper triangle) from the fused moments:
    * cov_ij = S_xy/n − (S_x/n)(S_y/n), each term derived from the exact
    * integer sums at the very end with one double division per factor —
    * the arithmetic a SQL oracle mirrors operation for operation. The
    * i/j moment decorations are broadcast self-joins of the d-row
    * first-moment slice. */
  def covarianceUT(moments: DataFrame): DataFrame = {
    val fp = lit(FpScale)
    val n = col("n_vecs").cast(DoubleType)
    def m1(s: Column) = (s.cast(DoubleType) / fp) / n
    val first = moments.filter(col("j") === FirstMomentTag)
    moments.filter(col("j") =!= FirstMomentTag)
      .join(broadcast(first.select(col("i").as("__fi"), col("s").as("sxi"))),
        col("i") === col("__fi"))
      .join(broadcast(first.select(col("i").as("__fj"), col("s").as("sxj"))),
        col("j") === col("__fj"))
      .select(col("i"), col("j"), col("n_vecs"),
        ((col("s").cast(DoubleType) / fp) / n - m1(col("sxi")) * m1(col("sxj")))
          .as("cov"))
  }

  /** Driver-side model fit from ONE collect of the bounded moment table
    * (d(d+3)/2 rows — a model artifact, the k-means-centroid
    * precedent): rebuilds mean and covariance with the identical double
    * arithmetic as [[covarianceUT]], then Jacobi-solves. */
  def fit(momentRows: Seq[Row], dim: Int): PcaModel = {
    require(momentRows.length == dim * (dim + 3) / 2,
      s"expected ${dim * (dim + 3) / 2} moment cells, got ${momentRows.length}")
    val sx = new Array[Long](dim)
    val sxy = Array.fill(dim, dim)(0L)
    var n = 0L
    momentRows.foreach { r =>
      val (i, j, s) = (r.getInt(0), r.getInt(1), r.getLong(3))
      n = r.getLong(2)
      if (j == FirstMomentTag) sx(i) = s
      else { sxy(i)(j) = s; sxy(j)(i) = s }
    }
    val nD = n.toDouble
    val mu = sx.map(s => (s.toDouble / FpScale) / nD)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      (sxy(i)(j).toDouble / FpScale) / nD -
        ((sx(i).toDouble / FpScale) / nD) * ((sx(j).toDouble / FpScale) / nD))
    val (vals, vecs) = symEigen(cov)
    PcaModel(n, mu, vals, vecs)
  }

  /** Eigenpairs of a small symmetric matrix by cyclic Jacobi rotation —
    * deterministic (fixed sweep order, fixed threshold), O(d³) per
    * sweep, driver-only, d ≤ a few hundred. Returns (eigenvalues desc,
    * eigenvectors as rows) with each vector's largest-|component| entry
    * made positive (a reproducible sign convention). Standard
    * algorithm: Golub & Van Loan, Matrix Computations §8.5. */
  def symEigen(m: Array[Array[Double]], maxSweeps: Int = 64,
      tol: Double = 1e-14): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < maxSweeps && offDiag(a) > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > tol / (d.toDouble * d)) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val vec = Array.tabulate(d)(k => v(k)(i))
      val mx = vec.indices.maxBy(k => (math.abs(vec(k)), -k))
      if (vec(mx) < 0) vec.map(x => -x) else vec
    }.toArray
    (vals, vecs)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    math.sqrt(s)
  }

  /** Project each row onto the top-k components: pc_k = Σ_i (x_i − μ_i)
    * v_k_i, a codegen'd per-row left-to-right fold over literal model
    * arrays — no shuffle, pure map (the model rides in the plan like
    * [[Similarity.pqCodes]]' codebook). Appends `pc1..pck`; rows whose
    * embedding is malformed (wrong arity) are dropped, mirroring the
    * fit's filter. */
  def project(df: DataFrame, embCol: String, mu: Array[Double],
      components: Array[Array[Double]]): DataFrame = {
    val dim = mu.length
    val embD = col(embCol).cast("array<double>")
    val muLit = typedLit(mu.toSeq)
    // the arity filter sits BELOW the widening exchange (a written
    // filter above an ensure would push down and drag the projection
    // folds onto the single scan task — the q141/q144 trap; round 9
    // caught exactly that here via StageAudit: 484 ms on one task)
    val wide = Parallelism.ensure(df.filter(size(col(embCol)) === dim))
    components.zipWithIndex.foldLeft(wide) {
      case (acc, (vk, k)) =>
        val vLit = typedLit(vk.toSeq)
        acc.withColumn(s"pc${k + 1}",
          aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (a, i) =>
            a + (element_at(embD, i + 1) - element_at(muLit, i + 1)) *
              element_at(vLit, i + 1)))
    }
  }

  final case class PcaModel(nVecs: Long, mean: Array[Double],
      eigenvalues: Array[Double], eigenvectors: Array[Array[Double]])
}
