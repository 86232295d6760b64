package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.KeepLast
import graft.operators.Relational

/** `Relational.keepLast`'s two forms — the hash arg-max aggregate
  * (fixed-width input) and the window (a string column in the input) —
  * against a brute-force keep-last over generated rows: asc/desc,
  * NULLS FIRST/LAST, null keys, null order values, ties, five order
  * column types, and empty input. Plus the plan each form must take. */
class KeepLastSpec extends SparkSpec {
  import spark.implicits._

  /** (row id, key, primary order code, secondary order value). */
  type Row = (Long, Option[Int], Option[Int], Option[Long])

  /** A small code domain with nulls so the primary column ties often;
    * the secondary is unique per row in half the samples (no tie is
    * possible) and a small domain with nulls in the other half. */
  private def rowsGen(tieProne: Boolean): Gen[List[Row]] = Gen.listOf(for {
    k <- Gen.option(Gen.choose(0, 3))
    p <- Gen.option(Gen.choose(0, 5))
    s <- Gen.option(Gen.choose(0L, 2L))
  } yield (k, p, s)).map(_.take(40).zipWithIndex.map { case ((k, p, s), i) =>
    (i.toLong, k, p, if (tieProne) s else Some(i.toLong))
  })

  /** How a primary code becomes a typed value, and its rank among the
    * codes under Spark's ordering (doubles: -0.0 equals 0.0, NaN is the
    * largest value). */
  private case class Typed(name: String, value: Column => Column,
      rank: Int => Int = identity)

  private val types = Seq(
    Typed("long", c => c.cast("long")),
    // the `when`: element_at of an array literal at a null index reads
    // 0.0 on Spark 4.1.2, not null
    Typed("double", c => when(c.isNotNull, element_at(
      typedLit(Seq(-2.0, -0.0, 0.0, 1.5, Double.PositiveInfinity, Double.NaN)),
      c + 1)), Seq(0, 1, 1, 2, 3, 4)),
    Typed("date", c => date_add(lit("2020-01-01").cast("date"), c)),
    Typed("timestamp", c => timestamp_seconds(c * 3600)),
    Typed("decimal", c => (c * 1.25).cast("decimal(10,2)")))

  /** Negative when `a` ranks before `b` under one sort column. */
  private def cmp(a: Option[Long], b: Option[Long], asc: Boolean,
      nullsFirst: Boolean): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => if (nullsFirst) -1 else 1
    case (_, None) => if (nullsFirst) 1 else -1
    case (Some(x), Some(y)) => if (asc) x.compare(y) else y.compare(x)
  }

  /** Per key, the winning row id, or None when the top two rows tie. */
  private def bruteForce(rows: Seq[Row], t: Typed,
      dirs: Seq[(Boolean, Boolean)]): Option[Map[Option[Int], Long]] = {
    def key(r: Row) = Seq(r._3.map(c => t.rank(c).toLong), r._4)
    def compare(a: Row, b: Row): Int = key(a).zip(key(b)).zip(dirs)
      .map { case ((x, y), (asc, nf)) => cmp(x, y, asc, nf) }
      .find(_ != 0).getOrElse(0)
    val winners = rows.groupBy(_._2).map { case (k, g) =>
      val sorted = g.sortWith(compare(_, _) < 0)
      k -> (if (sorted.length > 1 && compare(sorted(0), sorted(1)) == 0) None
        else Some(sorted.head._1))
    }
    if (winners.values.exists(_.isEmpty)) None
    else Some(winners.map { case (k, w) => k -> w.get })
  }

  private def sortOrder(c: Column, asc: Boolean, nullsFirst: Boolean): Column =
    (asc, nullsFirst) match {
      case (true, true) => c.asc_nulls_first
      case (true, false) => c.asc_nulls_last
      case (false, true) => c.desc_nulls_first
      case (false, false) => c.desc_nulls_last
    }

  /** On one partition every row goes through update; on more, partial
    * buffers also merge. */
  private def input(rows: Seq[Row], t: Typed, partitions: Int): DataFrame =
    rows.toDF("id", "k", "p_code", "s")
      .select(col("id"), col("k"), t.value(col("p_code")).as("p"), col("s"))
      .repartition(partitions)

  private def run(df: DataFrame, dirs: Seq[(Boolean, Boolean)]): Either[String, Map[Option[Int], Long]] = {
    val order = Seq(sortOrder(col("p"), dirs(0)._1, dirs(0)._2),
      sortOrder(col("s"), dirs(1)._1, dirs(1)._2))
    try Right(Relational.keepLast(Seq("k"), order)(df)
      .select("k", "id").as[(Option[Int], Long)].collect().toMap)
    catch { case e: Exception => Left(e.getMessage) }
  }

  private def samples(tieProne: Boolean, n: Int, seed: Long): Seq[List[Row]] =
    (0 until n).flatMap(i =>
      rowsGen(tieProne).apply(Gen.Parameters.default, Seed(seed + i)))

  private val dirCases = for {
    asc <- Seq(true, false); nullsFirst <- Seq(true, false)
  } yield Seq((asc, nullsFirst), (!asc, !nullsFirst))

  types.zipWithIndex.foreach { case (t, ti) =>
    test(s"keepLast on a ${t.name} order: hash and window forms equal brute force") {
      var ties = 0
      for (((dirs, tieProne), ci) <- dirCases.flatMap(d =>
          Seq((d, false), (d, true))).zipWithIndex) {
        val rows = samples(tieProne, 1, ti * 100L + ci).head
        val fixed = input(rows, t, 1 + (ci / 2) % 3)
        val expected = bruteForce(rows, t, dirs)
        if (expected.isEmpty) ties += 1
        for ((form, df) <- Seq("hash" -> fixed,
            "window" -> fixed.withColumn("tag", col("id").cast("string")))) {
          run(df, dirs) match {
            case Right(got) => assert(expected.contains(got),
              s"$form form, dirs $dirs, input $rows")
            case Left(msg) => assert(expected.isEmpty && msg.contains(KeepLast.TieMessage),
              s"$form form, dirs $dirs: $msg, input $rows")
          }
        }
      }
      assert(ties > 0 && ties < dirCases.length * 2, s"ties fired in $ties cases")
    }
  }

  test("keepLast on empty input returns no rows in both forms") {
    val empty = Seq.empty[Row].toDF("id", "k", "p", "s")
    for (df <- Seq(empty, empty.withColumn("tag", lit("x"))))
      assert(Relational.keepLast(Seq("k"), Seq(col("p").desc, col("s").desc))(df)
        .count() == 0)
  }

  test("keepLast keeps the input's column names, order and types") {
    val df = Seq((1L, "2020-01-01", 7, 0.5)).toDF("id", "d", "k", "x")
      .withColumn("d", col("d").cast("date"))
    for (in <- Seq(df, df.withColumn("tag", lit("x")))) {
      val out = Relational.keepLast(Seq("k"), Seq(col("d").desc, col("id").desc))(in)
      assert(out.schema.map(f => (f.name, f.dataType)) ==
        in.schema.map(f => (f.name, f.dataType)))
    }
  }

  private def operators(df: DataFrame): Seq[String] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collect { case p => p.nodeName }
      .filterNot(n => n.startsWith("WholeStageCodegen") || n == "InputAdapter")
    finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("fixed-width input plans two HashAggregates and one Exchange, no sort") {
    val ops = operators(Relational.keepLast(Seq("k"), Seq(col("p").desc, col("s").desc))(
      Seq((1L, 1, 2.0, 3L)).toDF("id", "k", "p", "s")))
    assert(ops.count(_ == "HashAggregate") == 2, ops)
    assert(ops.count(_ == "Exchange") == 1, ops)
    assert(!ops.exists(Set("Sort", "Window", "WindowGroupLimit", "SortAggregate")), ops)
  }

  test("a string payload plans the window") {
    val ops = operators(Relational.keepLast(Seq("k"), Seq(col("p").desc, col("s").desc))(
      Seq((1L, 1, 2.0, 3L, "a")).toDF("id", "k", "p", "s", "tag")))
    assert(ops.contains("Window"), ops)
    assert(!ops.exists(_.endsWith("Aggregate")), ops)
  }
}
