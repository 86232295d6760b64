package graft

import org.apache.spark.GraftListenerShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The one trace of what driver code ran on the cluster: StageAudit's
  * gates, DevProfile's printout and the specs' job and stage counts read
  * it. [[of]] scopes it by a fresh job group, which Spark carries into
  * the broadcast and subquery threads a query starts; a job another
  * thread runs under another group is not traced. Traces do not nest. */
object QueryTrace {
  /** A job; its stage names include the skipped ones. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Seq[String])
  /** A completed stage; `taskMs` sums its tasks' executor run time, and
    * `maxTaskMs`/`medTaskMs` are taken over its task attempts. */
  final case class Stage(name: String, tasks: Int, taskMs: Long,
      maxTaskMs: Long, medTaskMs: Long, wallMs: Long,
      scansFile: Boolean, shuffleRecords: Long) {
    def skewRatio: Double = maxTaskMs.toDouble / math.max(1L, medTaskMs)
  }
  /** Jobs in start order, stages in completion order. */
  final case class Trace(jobs: Seq[Job], stages: Seq[Stage])

  /** Runs `body` under a fresh job group and returns its result with the
    * trace of that group, read once the listener bus has drained. */
  def of[T](spark: SparkSession)(body: => T): (T, Trace) = {
    val sc = spark.sparkContext
    val group = s"graft-trace-${java.util.UUID.randomUUID()}"
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageIds = mutable.Set.empty[Int]
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val recorder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageInfos.map(_.name))
          stageIds ++= e.stageIds
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        if (stageIds(e.stageId) && e.taskMetrics != null)
          taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskMetrics.executorRunTime
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val i = e.stageInfo
        if (stageIds(i.stageId)) {
          val ts = taskMs.remove(i.stageId).map(_.toVector.sorted).getOrElse(Vector.empty)
          stages += Stage(i.name, i.numTasks, i.taskMetrics.executorRunTime,
            maxTaskMs = ts.lastOption.getOrElse(0L),
            medTaskMs = if (ts.isEmpty) 0L else ts(ts.size / 2),
            wallMs = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s)
              .getOrElse(-1L),
            scansFile = i.rddInfos.exists(_.name == "FileScanRDD"),
            shuffleRecords = i.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    sc.addSparkListener(recorder)
    sc.setJobGroup(group, "graft.QueryTrace")
    try {
      val r = body
      GraftListenerShims.waitListenerBusEmpty(sc)
      (r, jobs.synchronized(Trace(jobs.values.toList, stages.toList)))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(recorder)
    }
  }
}
