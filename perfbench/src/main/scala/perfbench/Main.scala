package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload as the run loop sees it. A pass runs every operation kind
  * of the workload once; `ns` keeps the state of warm-up, timed and traced
  * passes apart, and `index` seeds the pass. */
trait Workload {
  /** One set-up: session start, fixture generation and first table loads.
    * Returns the timed components in seconds (key `total_s` included). */
  def setup(): Map[String, Double]
  def pass(ns: String, index: Int, traced: Boolean): Seq[Map[String, Any]]
  /** Untimed output check after the timed passes; may mark operations
    * failed. */
  def postcheck(segments: Seq[Segment]): Map[String, Any]
  def spark: SparkSession
  /** Phases whose own span covers their jobs (excluded from the gap). */
  def spanPhases: Set[String]
  /** Passes that make one timed unit: a timed segment runs whole rounds,
    * and a round that outlasts the run keeps the number of timed
    * operations, and so the tail percentile, the same on every run. */
  def round: Int
}

final class Segment(val ns: String) {
  val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val passWalls = mutable.ArrayBuffer.empty[Double]
  def passes: Int = passWalls.size
  def wallS: Double = passWalls.sum

  def run(w: Workload, traced: Boolean): Unit = {
    val (ops1, t) = Clock.timed(w.pass(ns, passes, traced))
    ops ++= ops1.map(mutable.Map.from(_))
    passWalls += t
  }

  def record: Map[String, Any] = Map("ns" -> ns, "passes" -> passes,
    "wall_s" -> wallS, "pass_s" -> passWalls, "ops" -> ops.map(_.toMap))
}

/** Runs one workload: set-up cycles, a fixed number of warm-up passes, a
  * timed segment of whole rounds of passes, an optional traced replay of
  * the same passes, and the untimed output check. Writes the raw record as JSON
  * for `run.py` to summarize. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupCycles = 3

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val w: Workload = o.kind match {
      case "catalog" => new Catalog(o)
      case "survey" => new Survey(o)
      case other => throw new IllegalArgumentException(s"unknown workload kind '$other'")
    }
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val (r, t) = Clock.timed(f); phases(name) = t; r
    }
    val setups = phase("setup")((1 to SetupCycles).map(_ => w.setup()))

    // warm-up: a fixed number of whole passes per workload, so every run
    // starts timing at the same point of the JIT's warm-up curve
    val warm = (0 until o.warmupPasses).map(i =>
      Clock.timed(w.pass("warmup", i, traced = false))._2)
    phases("warmup") = warm.sum

    val timed = new Segment("timed")
    val segments = if (!o.trace) {
      runFor(o.seconds)((1 to w.round).foreach(_ => timed.run(w, traced = false)))
      Seq(timed)
    } else {
      // each timed pass is paired with its traced replay, so both see the
      // same point of the JIT's warm-up curve; the pair's order alternates
      // so neither side always runs on the other's warm caches
      val traced = new Segment("traced")
      val jobs = new JobRecorder
      val plans = new PlanRecorder
      val sc = w.spark.sparkContext
      def tracedPass(): Unit = {
        sc.addSparkListener(jobs)
        w.spark.listenerManager.register(plans)
        traced.run(w, traced = true)
        plans.awaitDelivered(w.spark)
        jobs.awaitQuiet()
        w.spark.listenerManager.unregister(plans)
        sc.removeSparkListener(jobs)
      }
      runFor(o.seconds) {
        (1 to w.round).foreach { _ =>
          if (timed.passes % 2 == 0) { timed.run(w, traced = false); tracedPass() }
          else { tracedPass(); timed.run(w, traced = false) }
        }
      }
      traced.ops.foreach { op =>
        op ++= jobs.summary(op("id").toString, w.spanPhases)
        op("plan_s") = plans.seconds(op("plan_from_ms").asInstanceOf[Long],
          op("plan_to_ms").asInstanceOf[Long])
      }
      Seq(timed, traced)
    }
    val post = phase("postcheck")(w.postcheck(segments))
    Json.write(Paths.get(o.out), Map(
      "workload" -> o.workload, "kind" -> o.kind, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cores" -> BenchSession.cores,
      "settings" -> o.session.toMap,
      "setup" -> setups, "warmup_s" -> warm,
      "segments" -> segments.map(_.record), "postcheck" -> post, "phases_s" -> phases))
    w.spark.stop()
  }

  /** Repeats `round` until `seconds` have elapsed (at least once). */
  def runFor(seconds: Double)(round: => Unit): Unit = {
    val t0 = Clock.now()
    round
    while (Clock.secs(t0, Clock.now()) < seconds) round
  }
}
