package graft

import org.apache.spark.sql.functions._

/** CI gate for the one-task-stage trap (VERDICT r8 #5): round 8 caught
  * pushdown-below-`Parallelism.ensure` by hand three times
  * (q141/q142/q144); this spec makes the next instance fail the build
  * instead of costing a close. Runs the full declared-query sweep at
  * sf0.01 — plan STRUCTURE is under audit, but the trap's signature is
  * task-time concentration, which needs enough data to register.
  */
class StageAuditSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.01"

  // ONE 224-query sweep shared by the concentration and skew assertions
  // (a second full sweep would double the suite's heaviest spec)
  private var sweepCache: Option[Seq[StageAudit.QueryAudit]] = None
  private def sweepAudits: Seq[StageAudit.QueryAudit] = synchronized {
    sweepCache.getOrElse {
      val a = StageAudit.sweep(spark, sf01, SparkEntry.select())
      sweepCache = Some(a)
      a
    }
  }

  test("no declared query concentrates >50% of its task time in one task (sf0.01 sweep)") {
    assume(new java.io.File(sf01).isDirectory)
    val audits = sweepAudits
    assert(audits.nonEmpty)
    val v = StageAudit.violations(audits)
    assert(v.isEmpty, "single-task-dominated queries (pushdown-below-ensure " +
      "trap or an undocumented serial floor — fix the plan or allowlist " +
      "with a cited analysis):\n" + v.mkString("\n"))
  }

  test("negative control: a planted pushdown-below-ensure trap IS flagged") {
    assume(new java.io.File(sf01).isDirectory)
    // The exact round-8 trap shape: heavy narrow compute above an
    // `ensure` widening, then a filter on the COMPUTED column written
    // WITHOUT Parallelism.unpushable. Predicate pushdown substitutes the
    // full expression into the predicate and drags it below the
    // RoundRobin exchange onto the single scan task.
    def trap = {
      val docs = operators.Parallelism.ensure(
        Tables.documents(spark, sf01).select("doc_id", "text"))
      val heavy = docs.withColumn("h",
        aggregate(transform(sequence(lit(1), lit(600)),
            i => xxhash64(col("text"), i)),
          lit(0L), (acc, x) => acc.bitwiseXOR(x)))
      // project only doc_id: the computed column must appear ONLY in
      // the (pushed) predicate, as in the real q141 instance — carrying
      // `h` into the output would recompute the fold wide above the
      // exchange and dilute the single-task concentration under audit
      heavy.filter(col("h") =!= 0L).select("doc_id")
    }
    // sanity: the substitution really happened (the trap is live, not
    // hypothetical) — the filter sits below the exchange in the plan
    val plan = trap.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    // ensure's widening exchange (content-hash REPARTITION_BY_NUM since
    // round 14; RoundRobinPartitioning before)
    val exIdx = lines.indexWhere(_.contains("REPARTITION_BY_NUM"))
    assert(exIdx >= 0, plan.take(800))
    assert(lines.drop(exIdx + 1).exists(_.contains("xxhash64")),
      "trap did not arm (pushdown rules changed?):\n" + plan.take(1500))
    // The control pins the trap's SIGNATURE — all compute concentrated
    // into one task — which is host-speed-invariant; the 400 ms
    // production floor is a noise margin (every real instance, q141/
    // q142/q144, sat far above it at sf0.01), and tying the control to
    // it makes the test flake on a warm JIT (this trap measured 109 ms
    // single-task on a hot suite run vs ~500 ms cold).
    val audit = StageAudit.auditOne(spark, "planted_trap", trap)
    assert(audit.fraction >= StageAudit.MaxFraction,
      s"audit missed the planted trap's task-time concentration: $audit")
    assert(audit.violatesAt(60L), s"planted trap too light to register: $audit")
  }

  test("...and the same compute with unpushable() passes the audit") {
    assume(new java.io.File(sf01).isDirectory)
    def fixed = {
      val docs = operators.Parallelism.ensure(
        Tables.documents(spark, sf01).select("doc_id", "text"))
      val heavy = docs.withColumn("h",
        aggregate(transform(sequence(lit(1), lit(600)),
            i => xxhash64(col("text"), i)),
          lit(0L), (acc, x) => acc.bitwiseXOR(x)))
      heavy.filter(operators.Parallelism.unpushable(col("h") =!= 0L))
        .select("doc_id")
    }
    val audit = StageAudit.auditOne(spark, "pinned_trap", fixed)
    assert(audit.fraction < StageAudit.MaxFraction,
      s"pinned version still single-task: $audit")
  }

  test("no declared query skews a heavy widened stage >4x max/median (sf0.01 sweep)") {
    assume(new java.io.File(sf01).isDirectory)
    // Insurance ordered by VERDICT r14 item 4: `Parallelism.ensure`
    // hash-partitions on row CONTENT, so a future call site widening a
    // low-entropy frame would herd duplicate rows onto one partition —
    // a skewed stage, not a single-task one, invisible to the
    // concentration gate above. Shares the sweep's audits (sweepAudits)
    // rather than paying a second 224-query run.
    val sk = StageAudit.skewViolations(sweepAudits)
    assert(sk.isEmpty, "queries with a skewed heavy multi-task stage " +
      "(max/median >= 4x — low-entropy content-hash widening, a hot key, " +
      "or an unbalanced bucket; fix the layout or allowlist with a cited " +
      "analysis):\n" + sk.mkString("\n"))
  }

  test("negative control: a planted low-entropy widening skew IS flagged") {
    assume(new java.io.File(sf01).isDirectory)
    // The exact hazard the skew gate guards: ensure() content-hashes the
    // widened frame's rows, so a near-constant projection sends every
    // row to ONE of the N partitions. Heavy per-row compute above the
    // exchange then runs as a skewed multi-task stage (N tasks, one
    // busy) — fraction stays below the one-task gate's radar because
    // the stage is not single-task.
    // k must be DATA-DERIVED (a literal would constant-fold the whole
    // per-row chain away at plan time) and single-valued (a 2-value key
    // can land on 2 of the 4 local partitions, making the median itself
    // a busy task and hiding the ratio): substring(text, 1, 0) is ''
    // for every row and no optimizer rule knows that.
    def skewTrap = {
      val docs = operators.Parallelism.ensure(
        Tables.documents(spark, sf01)
          .select(substring(col("text"), 1, 0).as("k")))
      docs.withColumn("h",
        aggregate(transform(sequence(lit(1), lit(20000)),
            i => xxhash64(col("k"), i)),
          lit(0L), (acc, x) => acc.bitwiseXOR(x)))
        .groupBy(col("h")).count()
    }
    val audit = StageAudit.auditOne(spark, "planted_skew", skewTrap)
    assert(audit.skewWorst.isDefined,
      s"audit missed the planted skew's max/median concentration: $audit")
    assert(audit.skewsAt(60L), s"planted skew too light to register: $audit")
  }
}
