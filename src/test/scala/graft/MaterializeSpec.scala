package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftShims, Row}
import org.apache.spark.sql.GraftShims._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** The one materialization primitive: every layout × probe returns the
  * input's rows and the brute-force aggregate, in exactly one job named
  * after its caller; `Hash`/`Claim` pins survive AQE; `AsIs` records what
  * `Dataset.localCheckpoint` records; and no other file in `src/main`
  * checkpoints or releases blocks by hand. */
class MaterializeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val n = 3

  /** 200 rows over 17 keys; `v` is a long with negatives and every fifth
    * value NULL, `s` a non-long column. */
  private def input: DataFrame = spark.range(200).select(
    (col("id") % 17).as("k"),
    when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 3 - 250).as("v"),
    col("id").cast("string").as("s"))

  /** `Claim` only holds on an input already in its layout. */
  private def inputFor(layout: Layout): DataFrame = layout match {
    case Claim(p, keys @ _*) => input.repartition(p, keys.map(col): _*)
    case _ => input
  }

  private val layouts = Seq(AsIs, Hash(n, "k"), Claim(n, "k"))
  private val probes = Seq(Count, Max("v"), Sum("v"))
  private def label(l: Layout) = l match {
    case Hash(p, keys @ _*) => s"Hash($p, ${keys.mkString(", ")})"
    case Claim(p, keys @ _*) => s"Claim($p, ${keys.mkString(", ")})"
    case AsIs => "AsIs"
  }

  private def bruteForce(rows: Seq[Row], probe: Probe): Long = {
    val vs = rows.filterNot(_.isNullAt(1)).map(_.getLong(1))
    probe match {
      case Count => rows.size.toLong
      case Max(_) => if (vs.isEmpty) Long.MinValue else vs.max
      case Sum(_) => vs.sum
    }
  }

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  for (layout <- layouts; probe <- probes)
    test(s"${label(layout)} x $probe: the input's rows and the brute-force probe") {
      val df = inputFor(layout)
      val (out, value) = materialize(df, layout, probe)
      assert(value == bruteForce(df.collect().toSeq, probe))
      assert(sorted(out) == sorted(df))
    }

  test("nulls are skipped: an all-NULL probe column gives MinValue and 0") {
    val nulls = input.withColumn("v", lit(null).cast("long"))
    layouts.foreach { layout =>
      val df = layout match {
        case Claim(p, k) => nulls.repartition(p, col(k))
        case _ => nulls
      }
      assert(materialize(df, layout, Max("v"))._2 == Long.MinValue, layout)
      assert(materialize(df, layout, Sum("v"))._2 == 0L, layout)
      assert(materialize(df, layout, Count)._2 == 200L, layout)
    }
  }

  test("an empty input gives MinValue for Max, 0 for Sum and Count") {
    val empty = input.filter(lit(false))
    layouts.foreach { layout =>
      assert(materialize(empty, layout, Max("v"))._2 == Long.MinValue, layout)
      assert(materialize(empty, layout, Sum("v"))._2 == 0L, layout)
      assert(materialize(empty, layout, Count)._2 == 0L, layout)
    }
  }

  test("each call runs exactly one job (the bench profile's AQE off)") {
    Profiles.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      for (layout <- layouts; probe <- probes) {
        val df = inputFor(layout)
        val (_, QueryTrace.Trace(jobs, _)) = QueryTrace.of(spark)(materialize(df, layout, probe))
        assert(jobs.size == 1, s"$layout x $probe ran ${jobs.size} jobs")
      }
    }
  }

  test("the stage name holds the caller's file:line") {
    Profiles.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val ((_, line), QueryTrace.Trace(jobs, _)) = QueryTrace.of(spark)(
        (materialize(input, Hash(n, "k")), new Throwable().getStackTrace.head.getLineNumber))
      val stages = jobs.flatMap(_.stages)
      assert(stages.size == 2, stages) // the repartition's map stage + the probe
      stages.foreach(s => assert(s == s"materialize at MaterializeSpec.scala:$line", stages))
    }
  }

  test("under AQE a Hash or Claim result joined or grouped on its keys plans no new Exchange") {
    Profiles.withConf(spark, "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def exchanges(df: DataFrame): Int = {
        df.collect()
        collect(df.queryExecution.executedPlan) { case e: Exchange => e }.size
      }
      val other = input.select(col("k"), (col("v") * 2).as("w"))
      Seq(Hash(n, "k"), Claim(n, "k")).foreach { layout =>
        val a = materialize(inputFor(layout), layout)._1
        val b = materialize(layout match {
          case Claim(p, k) => other.repartition(p, col(k))
          case _ => other
        }, layout)._1
        assert(exchanges(a.groupBy("k").agg(sum("v"))) == 0, layout)
        assert(exchanges(a.join(b, "k")) == 0, layout)
      }
      // the control: a plain local checkpoint of the same hash layout
      // forgets it under AQE, so the same aggregate re-exchanges
      val plain = input.repartition(n, col("k")).localCheckpoint()
      assert(exchanges(plain.groupBy("k").agg(sum("v"))) == 1)
    }
  }

  test("AsIs keeps the partitioning and ordering Dataset.localCheckpoint records") {
    val shapes = Seq(input, input.repartition(n, col("k")),
      input.repartition(n, col("k")).sortWithinPartitions("v"))
    for (aqe <- Seq("false", "true"); df <- shapes)
      Profiles.withConf(spark, "spark.sql.adaptive.enabled" -> aqe) {
        val ours = materialize(df)._1.queryExecution.executedPlan
        val theirs = df.localCheckpoint().queryExecution.executedPlan
        assert(ours.outputPartitioning == theirs.outputPartitioning, s"aqe=$aqe")
        assert(ours.outputOrdering == theirs.outputOrdering, s"aqe=$aqe")
      }
  }

  test("an unknown key or probe column throws IllegalArgumentException naming it, before any job") {
    Seq[(Layout, Probe, String)](
      (Hash(n, "nokey"), Count, "no column nokey"),
      (Claim(n, "k", "nokey"), Count, "no column nokey"),
      (AsIs, Max("nocol"), "no column nocol"),
      (Hash(n, "k"), Sum("nocol"), "no column nocol"),
      (AsIs, Max("s"), "probe column s is string")
    ).foreach { case (layout, probe, named) =>
      val (e, QueryTrace.Trace(jobs, _)) = QueryTrace.of(spark)(intercept[IllegalArgumentException](
        materialize(input, layout, probe)))
      assert(e.getMessage.contains(named), e.getMessage)
      assert(jobs.isEmpty, s"$layout x $probe ran $jobs")
    }
  }

  test("release drops the blocks materialize pinned") {
    materialize(input)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftShims.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("src/main checkpoints and releases blocks only through GraftShims") {
    val offenders = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftShims.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains(".localCheckpoint(") ||
              l.contains("getPersistentRDDs") => s"${p.getFileName}:${i + 1}: ${l.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
