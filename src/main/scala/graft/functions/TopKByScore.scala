package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded partial top-k state: the k best (score, id) pairs under
  * (score desc, id asc), kept sorted best-first in two primitive arrays.
  * Insertion is a linear shift — k is small (an ANN k, not a row count),
  * so the branchy binary-search variant isn't worth it.
  *
  * Score comparison uses `java.lang.Double.compare`, NOT `>`/`==`:
  * Spark's SQL ordering ranks NaN above every other double, while
  * primitive `NaN > x` is always false — which would both mis-rank a
  * NaN score (should it ever reach this aggregate; the library's cosine
  * returns NULL, not NaN, for degenerate vectors) and, once a NaN sat
  * in the last slot, permanently reject every later insert. */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  @inline private def beats(s: Double, id: Long, i: Int): Boolean = {
    val c = java.lang.Double.compare(s, scores(i))
    c > 0 || (c == 0 && id < ids(i))
  }

  def insert(s: Double, id: Long): Unit = {
    if (size == k && !beats(s, id, k - 1)) return
    var pos = if (size == k) k - 1 else { size += 1; size - 1 }
    while (pos > 0 && beats(s, id, pos - 1)) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
    }
    scores(pos) = s; ids(pos) = id
  }
}

/** Two-phase bounded top-k aggregate: per group, the k largest
  * (`score` desc, `id` asc) pairs as `array<struct<score,id>>` in rank
  * order.
  *
  * This is the scale-safe replacement for
  * `row_number().over(Window.partitionBy(group))` + `filter(rank <= k)`:
  * a window has no partial pushdown, so at 100 TB every scored row
  * shuffles to its group's single task, which then sorts the whole
  * group. This aggregate keeps a k-slot buffer per group per partition
  * (map-side partial aggregation under ObjectHashAggregate), so the
  * shuffle carries at most k rows per group per map partition and no
  * task ever holds more than k·|groups-in-partition| entries — bounded
  * state per group. It is not sort-free: once a task's hash map holds
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128)
  * groups, ObjectHashAggregate falls back to sorting the task's
  * remaining input by group key (`numTasksFallBacked` in its SQL
  * metrics counts the tasks that did).
  *
  * Ordering matches the window formulation exactly (score desc, id asc
  * tie-break), so rank = array position + 1 reproduces `row_number`.
  * Null scores/ids are skipped (a window would rank them; callers here
  * score with non-null cosine expressions).
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k >= 1, s"top-k requires k >= 1, got $k")

  override def children: Seq[Expression] = Seq(score, id)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_k_by_score expects (double, bigint), got " +
        s"(${score.dataType.catalogString}, ${id.dataType.catalogString})")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by_score"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(Array.tabulate[Any](buf.size) { i =>
      new GenericInternalRow(Array[Any](buf.scores(i), buf.ids(i)))
    })

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    buf.size = n
    var i = 0
    while (i < n) { buf.scores(i) = bb.getDouble; buf.ids(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}
