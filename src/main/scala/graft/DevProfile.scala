package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd}
import scala.collection.mutable

/** Dev-only stage profiler: runs one SparkEntry query under the Bench
  * session profile and prints per-stage wall-clock + task totals, so
  * "where did the 800 ms go" is a measurement instead of a guess.
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.DevProfile q105_source_jsd [iters]"
  * Not part of any gate; the driver never runs it. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Profiles.bench()
    case class St(name: String, ms: Long, tasks: Int, taskMs: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    val jobEnds = mutable.ArrayBuffer.empty[(Int, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = (for {s <- i.submissionTime; c <- i.completionTime} yield c - s).getOrElse(-1L)
        stages += St(i.name.takeWhile(_ != '\n').take(90), ms, i.numTasks,
          i.taskMetrics.executorRunTime)
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs += ((js.jobId, System.currentTimeMillis(), js.stageInfos.map(_.stageId).mkString(",")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobEnds += ((je.jobId, System.currentTimeMillis()))
    })
    val fn = SparkEntry.queries(name)
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // JVM warm
    fn(spark, sfDir).write.mode("overwrite").format("noop").save() // codegen warm
    (1 to iters).foreach { it =>
      stages.clear(); jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val total = (System.nanoTime() - t0) / 1e6
      println(f"== iter $it: total $total%.1f ms, ${jobs.size} jobs, ${stages.size} stages")
      // driver-side gaps: time between consecutive jobs (planning,
      // codegen, checkpoint bookkeeping) vs in-job wall
      if (sys.env.contains("SPARK_GRAFT_JOBGAPS")) {
        val ends = jobEnds.toMap
        val ordered = jobs.sortBy(_._2)
        var prevEnd = 0L
        ordered.foreach { case (id, start, _) =>
          val gap = if (prevEnd == 0) 0 else start - prevEnd
          val dur = ends.get(id).map(_ - start).getOrElse(-1L)
          println(f"   job $id%3d gap-before $gap%5d ms, ran $dur%5d ms")
          prevEnd = ends.getOrElse(id, start)
        }
      }
      jobEnds.clear()
      stages.foreach { s =>
        println(f"   stage ${s.ms}%5d ms wall  ${s.taskMs}%6d ms task-sum  ${s.tasks}%3d tasks  ${s.name}")
      }
    }
    println(fn(spark, sfDir).queryExecution.executedPlan.toString.linesIterator
      .take(60).mkString("\n"))
    spark.stop()
  }
}
