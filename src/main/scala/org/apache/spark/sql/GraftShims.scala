package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType

/** Access shim for `private[sql]` bridge points (the standard pattern for
  * Spark extension libraries): Spark 4 separates the public Column API
  * from Catalyst expressions behind ColumnNode; these two calls cross
  * that boundary for the classic (non-Connect) backend so graft can use
  * its native expressions from the Column API without requiring
  * `spark.sql.extensions` configuration.
  *
  * It also holds graft's one materialization primitive, [[materialize]],
  * which needs the `private[sql]` `LogicalRDD` constructor. Living in
  * `org.apache.spark.sql` has a second use: Spark's call-site capture
  * skips this package, so every job [[materialize]] runs is named after
  * the operator line that called it (`materialize at Graph.scala:95`). */
object GraftShims {
  def columnOf(e: Expression): Column = new Column(ExpressionColumnNode(e))
  def expressionOf(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The physical layout a [[materialize]]d table is known to have. */
  sealed trait Layout

  /** Whatever the input's executed plan reports — exactly what
    * `Dataset.localCheckpoint` records. Under AQE a plan holding an
    * exchange reads as Unknown, so the layout is forgotten. */
  case object AsIs extends Layout

  /** Hash-repartition to `numParts` on `keys` first, then pin
    * `HashPartitioning(keys, numParts)`. The explicit-count repartition
    * is one AQE never coalesces, so the pin holds under every profile
    * and iterative consumers (PageRank) co-partition against the table
    * for free instead of re-exchanging it once per iteration. */
  final case class Hash(numParts: Int, keys: String*) extends Layout {
    require(numParts > 0 && keys.nonEmpty)
  }

  /** Pin `HashPartitioning(keys, numParts)` WITHOUT shuffling: the caller
    * asserts the input already has that layout — true when every
    * row-moving op since such a repartition preserved it (narrow ops, or
    * a join/aggregate over co-partitioned inputs). A FALSE claim silently
    * mis-joins downstream; keep it to derivations that provably keep
    * the layout. */
  final case class Claim(numParts: Int, keys: String*) extends Layout {
    require(numParts > 0 && keys.nonEmpty)
  }

  /** The scalar the materializing action computes on the way. */
  sealed trait Probe

  /** The row count (size gates: broadcast thresholds, teleport shares). */
  case object Count extends Probe

  /** `max` of a LONG column, nulls skipped; `Long.MinValue` when no
    * non-null value exists. */
  final case class Max(col: String) extends Probe

  /** `sum` of a LONG column, nulls skipped; 0 when no non-null value
    * exists (an iterative fit's convergence test). */
  final case class Sum(col: String) extends Probe

  /** Eager local checkpoint of `df` in `layout`, returning the
    * checkpointed table and `probe` over it. One Spark job: the probe
    * is the action that materializes the blocks, so a caller that needs
    * a size or a driver-side decision pays no second scan for it. The
    * blocks live on the executor that computed them and stay until
    * [[release]]. Unknown key or probe columns throw
    * `IllegalArgumentException` before any job runs. */
  def materialize(df: DataFrame, layout: Layout = AsIs,
      probe: Probe = Count): (DataFrame, Long) = {
    val output = df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.output
    def attr(name: String) = output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no column $name in ${output.map(_.name).mkString(", ")}"))
    val (input, pinned) = layout match {
      case AsIs => (df, None)
      case Hash(n, keys @ _*) =>
        val part = HashPartitioning(keys.map(attr), n)
        (df.repartition(n, keys.map(df.col): _*), Some(part))
      case Claim(n, keys @ _*) => (df, Some(HashPartitioning(keys.map(attr), n)))
    }
    val i = probe match {
      case Count => -1
      case Max(c) => output.indexOf(longAttr(attr(c)))
      case Sum(c) => output.indexOf(longAttr(attr(c)))
    }
    val ds = input.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    def fold(zero: Long)(f: (Long, Long) => Long): Long = rdd.aggregate(zero)(
      (acc, row) => if (row.isNullAt(i)) acc else f(acc, row.getLong(i)), f)
    val value = probe match {
      case Count => rdd.count()
      case Max(_) => fold(Long.MinValue)(math.max)
      case Sum(_) => fold(0L)(_ + _)
    }
    val relation = pinned match {
      case Some(part) => LogicalRDD(output, rdd, part, Nil, isStreaming = false,
        None)(ds.sparkSession, None, None)
      case None => LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    }
    (classic.Dataset.ofRows(ds.sparkSession, relation), value)
  }

  private def longAttr(a: Attribute): Attribute =
    if (a.dataType == LongType) a else throw new IllegalArgumentException(
      s"probe column ${a.name} is ${a.dataType.simpleString}, not bigint")

  /** Drop every persisted block — the per-query release between queries
    * (iterative operators pin per-round blocks, and 224 queries of them
    * OOM'd an 8g driver). Blocking, so a slow asynchronous release
    * cannot pile up against the next query. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}
