package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Keep-last as one declarative arg-max aggregate: per group, the
  * `payload` of the row that ranks first under `order`, as a struct
  * named after the payload columns.
  *
  * The buffer is a `seen` flag, a `tied` flag, the order values and
  * every payload column (an order column that is also a payload column
  * shares its slot). Update and merge take the incoming row only when it
  * ranks STRICTLY first, honouring each `SortOrder`'s direction and null
  * ordering exactly as `row_number()` over the same order does (the
  * comparisons are Spark's own: NaN above every double, -0.0 equal to
  * 0.0). A row that ties the kept one on the whole order sets `tied`,
  * and the result raises [[KeepLast.TieMessage]]: which of two tied
  * rows is "last" is not defined, so no row is picked silently.
  *
  * When every buffer field is fixed-width (`UnsafeRow.isMutable`: no
  * string, binary, array, map or struct) Spark plans the aggregate as
  * `HashAggregate` (partial) → `Exchange` → `HashAggregate`: map-side
  * partial aggregation into a mutable UnsafeRow buffer, whole-stage
  * code-generated, with no sort anywhere. A variable-width buffer plans
  * a non-code-generated `SortAggregate` instead, which is why
  * [[graft.operators.Relational.keepLast]] only takes this form for
  * fixed-width buffers. */
case class KeepLast(order: Seq[SortOrder], payload: Seq[Expression])
  extends DeclarativeAggregate {

  override def children: Seq[Expression] = order ++ payload
  override def nullable: Boolean = true
  override def dataType: DataType = result.dataType
  override def prettyName: String = "keep_last"

  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  private lazy val tied = AttributeReference("tied", BooleanType, nullable = false)()
  private lazy val values = payload.zipWithIndex.map {
    case (n: NamedExpression, _) => AttributeReference(n.name, n.dataType)()
    case (p, i) => AttributeReference(s"col${i + 1}", p.dataType)()
  }
  private lazy val ranks = order.map { o =>
    val i = payload.indexWhere(_.semanticEquals(o.child))
    if (i >= 0) values(i) else AttributeReference("rank", o.dataType)()
  }
  /** Every data slot with the input expression that fills it. */
  private lazy val slots: Seq[(AttributeReference, Expression)] =
    values.zip(payload) ++
      ranks.zip(order.map(_.child)).filterNot(s => values.contains(s._1))

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    seen +: tied +: slots.map(_._1)

  override lazy val initialValues: Seq[Expression] =
    Literal(false) +: Literal(false) +: slots.map(s => Literal(null, s._1.dataType))

  /** 1 when row `a` ranks strictly before row `b` under `order`, -1 when
    * `b` ranks before `a`, 0 when they tie on every order column. */
  private def compare(a: Seq[Expression], b: Seq[Expression]): Expression =
    order.indices.foldRight[Expression](Literal(0)) { (i, rest) =>
      val (x, y) = (a(i), b(i))
      val nullsFirst = order(i).nullOrdering == NullsFirst
      val before = If(IsNull(x), Literal(nullsFirst),
        If(IsNull(y), Literal(!nullsFirst),
          if (order(i).isAscending) LessThan(x, y) else GreaterThan(x, y)))
      If(EqualNullSafe(x, y), rest, If(before, Literal(1), Literal(-1)))
    }

  override lazy val updateExpressions: Seq[Expression] = {
    val c = compare(order.map(_.child), ranks)
    val take = Or(Not(seen), GreaterThan(c, Literal(0)))
    Literal(true) +:
      If(take, Literal(false), Or(tied, And(seen, EqualTo(c, Literal(0))))) +:
      slots.map { case (slot, in) => If(take, in, slot) }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val c = compare(ranks.map(_.right), ranks.map(_.left))
    val take = And(seen.right, Or(Not(seen.left), GreaterThan(c, Literal(0))))
    val tie = And(And(seen.left, seen.right), EqualTo(c, Literal(0)))
    Or(seen.left, seen.right) +:
      If(take, tied.right, Or(tied.left, tie)) +:
      slots.map { case (slot, _) => If(take, slot.right, slot.left) }
  }

  private lazy val result = CreateStruct(values)

  override lazy val evaluateExpression: Expression =
    If(Not(seen), Literal(null, result.dataType),
      If(tied, RaiseError(Literal(KeepLast.TieMessage)).copy(dataType = result.dataType),
        result))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KeepLast =
    copy(order = newChildren.take(order.length).map(_.asInstanceOf[SortOrder]),
      payload = newChildren.drop(order.length))
}

object KeepLast {
  /** The one error both keep-last forms raise on a tie. */
  val TieMessage: String = "graft.keepLast: two rows of one key tie on the " +
    "whole order - which is last is undefined; add a tie-breaker column " +
    "(an ingest position) to the order"
}
