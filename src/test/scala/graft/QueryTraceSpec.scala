package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.functions._

/** The shape of the one trace record, and which jobs its scope catches. */
class QueryTraceSpec extends SparkSpec {
  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  test("an aggregate's map stage records its tasks, max >= median and its shuffle records") {
    val (_, trace) = QueryTrace.of(spark)(
      noop(spark.range(0, 100000, 1, 4).groupBy(col("id") % 10).count()))
    val Seq(map) = trace.stages.filter(_.shuffleRecords > 0)
    assert(map.tasks == 4 && map.maxTaskMs >= map.medTaskMs && map.taskMs >= map.maxTaskMs, trace)
    assert(trace.jobs.nonEmpty && trace.jobs.forall(j => j.endMs >= j.startMs), trace)
  }

  test("a materialize job run while a DataFrame is built is in the trace") {
    val (_, trace) = QueryTrace.of(spark)(
      noop(GraftShims.materialize(spark.range(0, 1000, 1, 4).toDF())._1.filter(col("id") > 10)))
    GraftShims.release(spark)
    assert(trace.jobs.size == 2, trace)
    assert(trace.jobs.head.stages.forall(_.startsWith("materialize at QueryTraceSpec.scala:")),
      trace)
  }

  test("a job another thread runs under another group is not in the trace") {
    val sc = spark.sparkContext
    val (_, trace) = QueryTrace.of(spark) {
      val other = new Thread(() => {
        sc.setJobGroup("another-group", "not traced")
        sc.parallelize(1 to 30, 3).count()
      })
      other.start()
      other.join()
      sc.parallelize(1 to 20, 2).count()
    }
    assert(trace.jobs.size == 1 && trace.stages.map(_.tasks) == Seq(2), trace)
  }

  test("a parquet scan stage scans a file; a stage reading materialized blocks does not") {
    val dir = Files.createTempDirectory("graft_trace").resolve("t").toString
    spark.range(0, 100, 1, 2).write.parquet(dir)
    val table = spark.read.parquet(dir) // its schema job runs here, untraced
    val (_, scan) = QueryTrace.of(spark)(noop(table))
    val (pinned, _) = GraftShims.materialize(table)
    val (_, blocks) = QueryTrace.of(spark)(noop(pinned))
    GraftShims.release(spark)
    assert(scan.stages.nonEmpty && scan.stages.forall(_.scansFile), scan)
    assert(blocks.stages.nonEmpty && blocks.stages.forall(!_.scansFile), blocks)
  }
}
