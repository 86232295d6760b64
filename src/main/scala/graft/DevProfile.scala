package graft
import org.apache.spark.sql.GraftShims

/** Dev-only stage profiler: runs one SparkEntry query under the Bench
  * session profile and prints its [[QueryTrace]] — per-job driver gaps
  * and per-stage wall-clock + task totals — so "where did the 800 ms go"
  * is a measurement instead of a guess.
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.DevProfile q105_source_jsd [iters]"
  * Not part of any gate; the driver never runs it. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Profiles.bench()
    val fn = SparkEntry.queries(name)
    def run(): Unit = fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JVM warm
    run() // codegen warm
    GraftShims.release(spark)
    (1 to iters).foreach { it =>
      val (total, trace) = QueryTrace.of(spark) {
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e6
      }
      GraftShims.release(spark)
      println(f"== iter $it: total $total%.1f ms, ${trace.jobs.size} jobs, ${trace.stages.size} stages")
      // driver-side gaps (planning, codegen, checkpoint bookkeeping) vs
      // in-job wall: a job's gap runs from the latest end of the jobs
      // before it, so a job started while another runs has none
      trace.jobs.foldLeft(trace.jobs.headOption.fold(0L)(_.startMs)) { (latestEnd, j) =>
        val gap = math.max(0L, j.startMs - latestEnd)
        println(f"   job ${j.id}%3d gap-before $gap%5d ms, ran ${j.endMs - j.startMs}%5d ms")
        math.max(latestEnd, j.endMs)
      }
      trace.stages.foreach { s =>
        println(f"   stage ${s.wallMs}%5d ms wall  ${s.taskMs}%6d ms task-sum  ${s.tasks}%3d tasks  ${s.name.take(90)}")
      }
    }
    println(fn(spark, sfDir).queryExecution.executedPlan.toString.linesIterator
      .take(60).mkString("\n"))
    spark.stop()
  }
}
