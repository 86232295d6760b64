package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}

/** Bridge between the Column API and raw Catalyst expressions (Spark 4
  * split Column from Expression behind ColumnNode; GraftShims crosses it
  * for the classic backend). Lets library code use native expressions
  * like [[CosineSimilarity]] without requiring callers to configure
  * `spark.sql.extensions` — SQL users get the same functions via
  * [[graft.GraftExtensions]]. */
object Native {
  def expr(c: Column): Expression = GraftShims.expressionOf(c)
  def column(e: Expression): Column = GraftShims.columnOf(e)

  /** Codegen'd fused cosine similarity (see [[CosineSimilarity]]). */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expr(a), expr(b)))

  /** Codegen'd random-hyperplane LSH bucket (see [[LshBucketSig]]). */
  def lshBucket(emb: Column, table: Int, nBits: Int, dim: Int): Column =
    column(LshBucketSig(expr(emb), table, nBits, dim))

  /** Bounded two-phase top-k aggregate (see [[TopKByScore]]). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    column(TopKByScore(expr(score), expr(id), k).toAggregateExpression())

  /** Keep-last arg-max aggregate (see [[KeepLast]]): the `payload` of
    * the row ranked first by `order`; an order column without a
    * direction ranks ascending, as in `Window.orderBy`. */
  def keepLast(order: Seq[Column], payload: Seq[Column]): Column =
    column(KeepLast(order.map(expr(_) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }), payload.map(expr)).toAggregateExpression())

  /** Fused within-bucket cosine pair generator (see [[CosinePairsWithin]]). */
  def cosinePairsWithin(bucket: Column, threshold: Double): Column =
    column(CosinePairsWithin(expr(bucket), threshold))

  /** Lazy within-bucket id pair generator (see [[IdPairs]]). */
  def idPairs(bucket: Column): Column =
    column(IdPairs(expr(bucket)))

  /** Packed-long variant (see [[IdPairsPacked]]): one `(a<<32)|b`
    * column, ids must fit [0, 2^31) or the generator throws. */
  def idPairsPacked(bucket: Column): Column =
    column(IdPairsPacked(expr(bucket)))

  /** `get_json_object(json, '$.key')` for one top-level key, on a byte
    * scan instead of a per-row Jackson parser (see [[JsonField]]). */
  def jsonField(json: Column, key: String): Column =
    column(JsonField(expr(json), key))

  /** Fused 56-bit engine-portable md5 hash (see [[Md5Long]]). */
  def md5Long(c: Column): Column =
    column(Md5Long(expr(c)))

  /** One-pass exact fixed-point moment aggregate (see [[MomentSketch]]). */
  def momentSketch(emb: Column, dim: Int, scale: Double): Column =
    column(MomentSketch(expr(emb), dim, scale).toAggregateExpression())

  /** Fused within-bucket Hamming pair generator (see [[HammingPairsWithin]]). */
  def hammingPairsWithin(bucket: Column, maxHamming: Int): Column =
    column(HammingPairsWithin(expr(bucket), maxHamming))

  /** Fused within-bucket signature-agreement pair generator (see
    * [[SigAgreePairs]]). */
  def sigAgreePairs(bucket: Column): Column =
    column(SigAgreePairs(expr(bucket)))

  /** All-pairs source JSD over a one-row vocabulary array (see
    * [[SourceJsdPairs]]). */
  def sourceJsdPairs(vocab: Column): Column =
    column(SourceJsdPairs(expr(vocab)))

  /** Capped distinct-set aggregate with O(maxSize) per-group state (see
    * [[BoundedDistinctSet]]). */
  def boundedDistinctSet(v: Column, maxSize: Int): Column =
    column(BoundedDistinctSet(expr(v), maxSize).toAggregateExpression())

  /** Unicode NFC canonical composition (see [[NfcNormalize]]). */
  def nfcNormalize(s: Column): Column = column(NfcNormalize(expr(s)))

  /** Theil–Sen pairwise-slope fold (see [[TheilSenSlopes]]). */
  def theilSenSlopes(events: Column): Column =
    column(TheilSenSlopes(expr(events)))

  /** Misra–Gries heavy-hitter candidate aggregate with O(k) per-group
    * state (see [[MisraGriesCandidates]]). */
  def misraGriesCandidates(item: Column, k: Int): Column =
    column(MisraGriesCandidates(expr(item), k).toAggregateExpression())
}
