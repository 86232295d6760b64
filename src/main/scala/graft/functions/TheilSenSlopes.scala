package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Native Theil–Sen kernel: given one key's event array
  * `array<struct<us: bigint, id: bigint, v: double>>`, returns
  * `struct<n_pairs: bigint, slope_micro: bigint>` — the count of valid
  * (Δt ≠ 0) pairs and the LOWER MEDIAN of the quantized pairwise slopes
  * `floor(Δv·10¹² / Δt_us + 0.5)` over the (us, id, v)-lexicographically
  * sorted series. `slope_micro` is NULL (and n_pairs 0) when no pair
  * carries a slope.
  *
  * Why a native expression instead of the nested
  * `transform(sequence..., transform(sequence...))` + flatten + filter +
  * array_sort HOF pipeline (the round-8 shape): at maxEvents = 128 each
  * key folds 8,128 slopes, and the HOF route pays per-slope Catalyst
  * interpretation plus FOUR full array materializations (inner arrays,
  * flatten, filter, sort) before `element_at` reads one element. The
  * fused loop here runs the O(n²) fold over primitive arrays and one
  * `Arrays.sort(long[])` — measured 12.3 → 1.3 s task-sum on q175 at
  * sf0.1 (the [[CosinePairsWithin]] argument, scalar form).
  *
  * Determinism contract (DuckDB oracle parity): the slope replicates the
  * Catalyst expression `floor((v_j − v_i) · 1e12 / cast(Δus as double)
  * + 0.5)` with identical double op order; pair order is i < j over the
  * sorted series (Δt > 0 for distinct timestamps, so the floor's
  * asymmetry under sign flip never bites); the sort matches
  * `sort_array`'s struct comparison (us, then id, then v). Input element
  * sort happens HERE, so callers pass the raw `collect_list` — one less
  * per-row array pass.
  *
  * CodegenFallback: one eval call per GROUP (not per event or per pair);
  * the surrounding aggregate stages stay codegen'd.
  */
case class TheilSenSlopes(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(a, b, c)), _)
        if a.dataType == LongType && b.dataType == LongType &&
          c.dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"theil_sen_slopes expects array<struct<bigint, bigint, double>>, " +
        s"got ${t.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_pairs", LongType, nullable = false),
    StructField("slope_micro", LongType, nullable = true)))

  override def nullable: Boolean = true
  override def prettyName: String = "theil_sen_slopes"

  protected override def nullSafeEval(arr: Any): Any = {
    val data = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = data.numElements()
    val us = new Array[Long](n)
    val id = new Array[Long](n)
    val v = new Array[Double](n)
    var m = 0
    var i = 0
    while (i < n) {
      // defensive: a null struct or null field carries no event (the
      // callers filter them upstream; skipping matches that contract)
      if (!data.isNullAt(i)) {
        val st = data.getStruct(i, 3)
        if (!st.isNullAt(0) && !st.isNullAt(1) && !st.isNullAt(2)) {
          us(m) = st.getLong(0); id(m) = st.getLong(1); v(m) = st.getDouble(2)
          m += 1
        }
      }
      i += 1
    }
    if (m < 2) return new GenericInternalRow(Array[Any](0L, null))
    // sort_array order on struct<us,id,v>: us, then id, then v
    val order = Array.range(0, m).sortWith { (a, b) =>
      if (us(a) != us(b)) us(a) < us(b)
      else if (id(a) != id(b)) id(a) < id(b)
      else v(a) < v(b)
    }
    val slopes = new Array[Long](m * (m - 1) / 2)
    var k = 0
    var a = 0
    while (a < m - 1) {
      val ia = order(a)
      var b = a + 1
      while (b < m) {
        val ib = order(b)
        val dt = us(ib) - us(ia)
        if (dt != 0L) {
          slopes(k) = math.floor((v(ib) - v(ia)) * 1e12 / dt.toDouble + 0.5).toLong
          k += 1
        }
        b += 1
      }
      a += 1
    }
    if (k == 0) return new GenericInternalRow(Array[Any](0L, null))
    java.util.Arrays.sort(slopes, 0, k)
    // lower median: 1-indexed element (k + 1) div 2
    new GenericInternalRow(Array[Any](k.toLong, slopes((k + 1) / 2 - 1)))
  }

  override protected def withNewChildInternal(newChild: Expression): TheilSenSlopes =
    copy(child = newChild)
}
