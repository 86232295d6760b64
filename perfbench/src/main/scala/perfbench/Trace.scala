package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark job, stage and task counters, collected by a listener the
  * benchmark registers on traced segments only. Each job is attributed
  * to the operation and phase the benchmark thread had tagged when the
  * job was submitted (Spark copies thread-local properties onto jobs,
  * including broadcast and subquery jobs started on helper threads). */
final class JobRecorder extends SparkListener {
  private final class JobRec(val op: String, val phase: String, val startMs: Long) {
    var endMs: Long = -1
  }
  private final class StageRec {
    val durations = mutable.ArrayBuffer.empty[Long]
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = new JobRec(prop(Trace.OpKey), prop(Trace.PhaseKey), e.time)
    // a stage belongs to the job that created it; later jobs list it as
    // skipped when they reuse its shuffle output
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new StageRec)
    st.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until every started job has delivered its end event (task
    * events precede it on the same listener queue). */
  def awaitQuiet(timeoutMs: Long = 30000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = synchronized(jobs.values.count(_.endMs < 0))
    while (pending > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    pending == 0
  }

  /** Counters of one operation. `spanPhases` excludes the phases whose
    * own span already accounts for their time (build, planning) from the
    * job-covered interval used for the gap. */
  def summary(op: String, spanPhases: Set[String]): Map[String, Any] = synchronized {
    val mine = jobs.filter(_._2.op == op)
    val ids = mine.keySet
    val ran = stageJob.collect { case (s, j) if ids.contains(j) && stages.contains(s) => s }
    val st = ran.toSeq.map(stages)
    def durMs(j: JobRec) = math.max(0L, j.endMs - j.startMs)
    val buildJobs = mine.values.filter(_.phase == "build")
    val taskSumMs = st.map(_.durations.sum).sum
    // straggler ratio: task-time-weighted mean of max/median task time over
    // stages with at least four tasks
    val skew = st.filter(_.durations.size >= 4).map { s =>
      val d = s.durations.sorted
      val med = math.max(1L, d(d.size / 2))
      (d.last.toDouble / med, d.sum.toDouble)
    }
    val skewWeight = skew.map(_._2).sum
    Map(
      "jobs" -> mine.size,
      "build_jobs" -> buildJobs.size,
      "build_job_s" -> buildJobs.map(durMs).sum / 1e3,
      "job_wall_s" -> mine.values.map(durMs).sum / 1e3,
      "covered_s" -> unionMs(mine.values
        .filterNot(j => spanPhases.contains(j.phase))
        .map(j => (j.startMs, math.max(j.startMs, j.endMs))).toSeq) / 1e3,
      "stages" -> st.size,
      "tasks" -> st.map(_.durations.size).sum,
      "task_sum_s" -> taskSumMs / 1e3,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "spill_bytes" -> st.map(_.spill).sum,
      "skew_ratio" -> (if (skewWeight > 0)
        skew.map { case (r, w) => r * w }.sum / skewWeight else 1.0),
      "skew_weight_s" -> skewWeight / 1e3)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Planning time of every named SQL execution, read from the execution's
  * own `QueryPlanningTracker` (analysis, optimization and physical
  * planning of the plan that ran), by a `QueryExecutionListener` the
  * benchmark registers on traced segments only. So each plan is timed
  * once, by the execution that uses it. Spark delivers the callbacks
  * asynchronously, after each execution ends. */
final class PlanRecorder extends QueryExecutionListener {
  /** (epoch ms at which the execution's first phase started, phase ms) */
  private val recs = mutable.ArrayBuffer.empty[(Long, Long)]

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  private def add(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      recs += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  /** Waits until every execution that ended so far has been delivered:
    * runs a small marker execution and waits for its callback, which the
    * listener bus delivers after those of all earlier executions. */
  def awaitDelivered(spark: org.apache.spark.sql.SparkSession, timeoutMs: Long = 30000): Boolean = {
    val mark = System.currentTimeMillis()
    spark.range(1).collect()
    val deadline = mark + timeoutMs
    def seen = synchronized(recs.exists(_._1 >= mark))
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    seen
  }

  /** Planning seconds of the executions that started in `[fromMs, toMs]`. */
  def seconds(fromMs: Long, toMs: Long): Double = synchronized {
    recs.collect { case (start, ms) if start >= fromMs && start <= toMs => ms }.sum / 1e3
  }
}

/** The consecutive timed phases of one operation. Each phase is tagged
  * for the job recorder; a phase that throws runs to the operation's end
  * and the phases after it read zero. */
final class Steps(sc: SparkContext) {
  private val marks = mutable.ArrayBuffer(Clock.now())
  def start: Long = marks.head
  /** Epoch milliseconds at the start, the clock Spark's own trackers use. */
  val startMs: Long = System.currentTimeMillis()

  def apply[T](phase: String)(f: => T): T = {
    Trace.phase(sc, phase)
    val r = f
    marks += Clock.now()
    r
  }

  def seconds(i: Int, end: Long): Double =
    if (i + 1 < marks.size) Clock.secs(marks(i), marks(i + 1))
    else if (i + 1 == marks.size) Clock.secs(marks(i), end)
    else 0.0
}

/** Thread-local tags that attribute Spark jobs to benchmark operations. */
object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  def tagOp(sc: SparkContext, op: String): Unit = sc.setLocalProperty(OpKey, op)
  def phase(sc: SparkContext, name: String): Unit = sc.setLocalProperty(PhaseKey, name)
  def clear(sc: SparkContext): Unit = {
    sc.setLocalProperty(OpKey, null); sc.setLocalProperty(PhaseKey, null)
  }
}
