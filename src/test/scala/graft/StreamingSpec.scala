package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

class StreamingSpec extends SparkSpec {

  test("sessionize accumulates per-user state across restarts (checkpointed)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val events = input.toDF().toDF("user_id", "value")
    val q = EventsStream.sessionize(spark, events)
      .writeStream.outputMode("update").format("memory")
      .queryName("sessions")
      .start()
    try {
      input.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 2.0)) // state must carry over between batches
      q.processAllAvailable()
      // update mode appends each batch's updated rows to the memory
      // table; the max per user is the final state
      val rows = spark.table("sessions")
        .groupBy("userId").agg(max("nEvents").as("n"), max("totalValue").as("v"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(rows(1L) == ((3L, 17.0))) // 2 events batch1 + 1 event batch2
      assert(rows(2L) == ((1L, 1.0)))
    } finally q.stop()
  }

  test("sessionWindows closes sessions by event-time timeout and in-batch gaps") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val q = EventsStream.sessionWindows(spark, events,
      gapMs = 30L * 60 * 1000, watermarkDelay = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("session_windows").start()
    try {
      // user 1: two events 10 min apart -> one session 10:00-10:10
      input.addData((1L, t("2026-01-01 10:00:00")), (1L, t("2026-01-01 10:10:00")))
      q.processAllAvailable()
      // user 2 at 13:00 — advances the NEXT batch's watermark past 10:40
      input.addData((2L, t("2026-01-01 13:00:00")))
      q.processAllAvailable()
      // user 2 again 3h later: in-batch gap split closes the 13:00 session;
      // the watermark (12:59:50) times out user 1's open session
      input.addData((2L, t("2026-01-01 16:00:00")))
      q.processAllAvailable()
      val rows = spark.table("session_windows")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(rows.contains((1L, t("2026-01-01 10:00:00"),
        t("2026-01-01 10:10:00"), 2L)), rows.toString) // timeout-closed
      assert(rows.contains((2L, t("2026-01-01 13:00:00"),
        t("2026-01-01 13:00:00"), 1L)), rows.toString) // gap-split-closed
      // the 16:00 session is still open -> not emitted
      assert(!rows.exists(r => r._2 == t("2026-01-01 16:00:00")), rows.toString)
    } finally q.stop()
  }

  test("sessionWindows handles cross-batch out-of-order events") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventsStream.sessionWindows(spark, input.toDF().toDF("user_id", "ts"),
      gapMs = 30L * 60 * 1000, watermarkDelay = "6 hours") // wide watermark: late data in scope
      .writeStream.outputMode("append").format("memory")
      .queryName("ooo_sessions").start()
    try {
      input.addData((1L, t("2026-01-01 12:00:00")))
      q.processAllAvailable()
      // late, within gap of the open session's START: must extend start
      input.addData((1L, t("2026-01-01 11:45:00")))
      q.processAllAvailable()
      // late, > gap BEFORE the session: emitted as its own singleton
      input.addData((1L, t("2026-01-01 09:00:00")))
      q.processAllAvailable()
      // advance watermark far enough to time out the open session
      input.addData((2L, t("2026-01-02 00:00:00")))
      q.processAllAvailable()
      input.addData((2L, t("2026-01-02 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ooo_sessions")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(rows.contains((1L, t("2026-01-01 09:00:00"),
        t("2026-01-01 09:00:00"), 1L)), rows.toString) // stray singleton
      assert(rows.contains((1L, t("2026-01-01 11:45:00"),
        t("2026-01-01 12:00:00"), 2L)), rows.toString) // start extended backwards
    } finally q.stop()
  }

  test("sessionWindows merges co-batch stragglers into one session, not singletons") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventsStream.sessionWindows(spark, input.toDF().toDF("user_id", "ts"),
      gapMs = 30L * 60 * 1000, watermarkDelay = "6 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("straggler_sessions").start()
    try {
      input.addData((1L, t("2026-01-01 12:00:00")))
      q.processAllAvailable()
      // two in-watermark stragglers 10s apart, both > gap before the
      // open session and delivered TOGETHER: one 2-event session, not
      // two singletons. NOT emitted yet: the watermark (06:00) hasn't
      // passed 08:30, so a further straggler could still legally extend
      // it — premature emission was the split-session bug
      input.addData((1L, t("2026-01-01 08:00:00")),
        (1L, t("2026-01-01 08:00:10")))
      q.processAllAvailable()
      val early = spark.table("straggler_sessions")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(!early.exists(_._2 == t("2026-01-01 08:00:00")), early.toString)
      // advance the watermark past 08:30 -> the merged pair is released
      input.addData((2L, t("2026-01-02 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("straggler_sessions")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(rows.contains((1L, t("2026-01-01 08:00:00"),
        t("2026-01-01 08:00:10"), 2L)), rows.toString)
      assert(!rows.exists(r => r._4 == 1L && r._2 == t("2026-01-01 08:00:00")),
        rows.toString)
    } finally q.stop()
  }

  test("sessionWindows: an in-watermark straggler bridges two bursts into ONE session") {
    // the review-found split-session scenario: events at 10:00:00 and
    // 10:30:05 (just past the 30-min gap) arrive together; a straggler
    // at 10:29:58 — INSIDE the 6h watermark — then bridges them. The
    // eager close-all-but-last rule would already have emitted
    // [10:00,10:00] and the output would show two overlapping sessions;
    // watermark-gated closing emits exactly one merged session.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventsStream.sessionWindows(spark, input.toDF().toDF("user_id", "ts"),
      gapMs = 30L * 60 * 1000, watermarkDelay = "6 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("bridge_sessions").start()
    try {
      input.addData((1L, t("2026-01-01 10:00:00")), (1L, t("2026-01-01 10:30:05")))
      q.processAllAvailable()
      input.addData((1L, t("2026-01-01 10:29:58"))) // the bridge
      q.processAllAvailable()
      input.addData((2L, t("2026-01-02 00:00:00"))) // release the watermark
      q.processAllAvailable()
      val rows = spark.table("bridge_sessions")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
        .filter(_._1 == 1L).toSet
      assert(rows == Set((1L, t("2026-01-01 10:00:00"),
        t("2026-01-01 10:30:05"), 3L)), rows.toString)
    } finally q.stop()
  }

  test("sessionize timeout evicts state and emits the final session once") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val st = TestGroupState.create[EventsStream.UserSession](
      Optional.of(EventsStream.UserSession(7L, 5L, 9.5)),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Object].asInstanceOf[Optional[Long]],
      hasTimedOut = true)
    val out = EventsStream.sessionizeUpdate(7L, Iterator.empty, st,
      Some("10 minutes"))
    // the fired timer emits the last session and REMOVES the state —
    // re-arming + re-emitting every trigger was the leak
    assert(out == EventsStream.UserSession(7L, 5L, 9.5))
    assert(st.isRemoved)
    // and the normal path still accumulates + arms the timer
    val st2 = TestGroupState.create[EventsStream.UserSession](
      Optional.empty[EventsStream.UserSession](),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Object].asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    val out2 = EventsStream.sessionizeUpdate(7L, Iterator((7L, 2.0), (7L, 3.0)),
      st2, Some("10 minutes"))
    assert(out2 == EventsStream.UserSession(7L, 2L, 5.0))
    assert(st2.exists) // state updated (duration timer armed, not removed)
  }

  test("dedupedEvents drops within-watermark duplicates across batches, bounded state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("event_id", "ts")
    val q = EventsStream.dedupedEvents(events, Seq("event_id"), "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_ev")
      .start()
    try {
      input.addData(
        (1L, t("2026-01-01 10:00:00")),
        (1L, t("2026-01-01 10:01:00")), // in-batch duplicate
        (2L, t("2026-01-01 10:02:00")))
      q.processAllAvailable()
      input.addData((2L, t("2026-01-01 10:03:00"))) // cross-batch duplicate
      q.processAllAvailable()
      val ids = spark.table("dedup_ev").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L)) // each key exactly once
    } finally q.stop()
  }

  test("stream-stream correlation join matches the batch join; stream-static enrich is stateless") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_join").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = EventsStream.readEvents(spark, dir)
    val joined = EventsStream.correlatedEvents(stream, "click", "purchase",
      "30 minutes", "2 hours")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ev_corr").option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt_j").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream-stream join query timed out")
    val streamed = spark.table("ev_corr").select("event_a", "event_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch truth: same predicate over the static table
    val ev = graft.Tables.events(spark, sf001)
    val a = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("ua"), col("event_id").as("ea"), col("ts").as("ta"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ub"), col("event_id").as("eb"), col("ts").as("tb"))
    val batch = a.join(b, col("ua") === col("ub") &&
        col("tb") >= col("ta") &&
        col("tb") <= col("ta") + expr("interval 30 minutes"))
      .select("ea", "eb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)     // the predicate fires on the corpus
    assert(streamed == batch)  // AvailableNow processes everything
    // stream-static: broadcast lookup join plans without watermarks and
    // enriches every row (left join keeps unmatched events)
    val dim = graft.Tables.customer(spark, sf001)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enriched = EventsStream.enrichEvents(stream, dim)
    assert(enriched.isStreaming)
    val q2 = enriched.select("event_id", "c_mktsegment")
      .writeStream.outputMode("append").format("memory")
      .queryName("ev_enrich").option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt_e").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000), "stream-static enrich query timed out")
    val n = spark.table("ev_enrich").count()
    assert(n == ev.count()) // stateless: every event passes through once
  }

  test("tumbling-window stream over events matches the batch plan (q23 twin)") {
    // the streaming file source needs a directory, not a single file
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = EventsStream.readEvents(spark, dir)
    assert(stream.isStreaming)
    val agg = EventsStream.tumblingCounts(stream, "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("ev_counts").option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // Append mode emits only windows closed by the watermark; compare
    // those against the same windows computed in batch.
    val streamed = spark.table("ev_counts")
    // batch truth INCLUDING the money sum, in q23's exact-cents form —
    // the value totals must agree bit-for-bit, not just the counts
    val batch = graft.Tables.events(spark, sf001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + lit(0.5))).cast("decimal(38,0)") /
          lit(100L).cast("decimal(6,0)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
    val s = streamed.select("window_start", "event_type", "n_events", "total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val b = batch.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b)) // every emitted window agrees with batch
  }

  test("windowedExpectations matches the batch quality gate per window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_q").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val rules = Seq(
      "value_nonneg" -> (col("value") >= 0.0),
      "no_errors" -> (col("event_type") =!= "error"))
    val q = EventsStream.windowedExpectations(
        EventsStream.readEvents(spark, dir), rules, "1 hour", "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("ev_quality").option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt_q").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))
    val s = spark.table("ev_quality")
      .select("window_start", "rule", "n_violations", "n_rows")
      .collect().map(key).toSet
    // batch twin: same rules per 1h event-time window
    val ev = graft.Tables.events(spark, sf001)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(!coalesce(col("value") >= 0.0, lit(false)), 1L)
          .otherwise(0L)).as("v0"),
        sum(when(!coalesce(col("event_type") =!= "error", lit(false)), 1L)
          .otherwise(0L)).as("v1"))
    val b = ev.collect().flatMap { r =>
      val w = r.getStruct(0).getTimestamp(0)
      Seq((w, "value_nonneg", r.getLong(2), r.getLong(1)),
        (w, "no_errors", r.getLong(3), r.getLong(1)))
    }.toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b), (s -- b).take(3).toString)
    // the error-rule provably fires on this corpus
    assert(s.exists(r => r._2 == "no_errors" && r._3 > 0))
  }

  test("windowed DDSketch stream: sunk buckets extract bit-identically to the batch sketch") {
    import graft.operators.Sketches
    val dir = java.nio.file.Files.createTempDirectory("graft_events_dd").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val cents = expr("cast(floor(value * 100 + 0.5) as bigint)")
    val q = EventsStream.windowedValueSketch(
        EventsStream.readEvents(spark, dir), cents, subBits = 6,
        windowLen = "6 hours", lateness = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("ev_ddsketch").option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt_dd").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val qs = Seq(500000L, 990000L)
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    // read-time extraction over the sunk mergeable bucket rows
    val streamed = Sketches.ddsketchExtract(
        spark.table("ev_ddsketch"), Seq("window_start"), qs)
      .collect().map(key).toSet
    // one-shot batch sketch over the same event-time windows
    val batch = Sketches.ddsketchQuantiles(
        graft.Tables.events(spark, sf001)
          .select(window(col("ts"), "6 hours").getField("start")
            .as("window_start"), cents.as("v")),
        Seq("window_start"), col("v"), subBits = 6, qMicros = qs)
      .collect().map(key).toSet
    assert(streamed.nonEmpty)
    // bit parity on every CLOSED window; the one window the watermark
    // never passes (the stream's tail) is the only permitted absence
    assert(streamed.subsetOf(batch),
      s"only-streamed=${(streamed -- batch).take(2)}")
    val missingWindows = (batch -- streamed).map(_._1)
    val lastWindow = batch.map(_._1).max
    assert(missingWindows.forall(_ == lastWindow),
      s"non-tail windows missing: ${missingWindows.filter(_ != lastWindow)}")
  }

  test("distinctSketch: streaming register state agrees exactly with the batch sketch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val events = input.toDF().toDF("event_type", "user_id")
    val q = EventsStream.distinctSketch(spark, events, m = 256)
      .writeStream.outputMode("update").format("memory")
      .queryName("distinct_sketch").start()
    try {
      val batch1 = (1L to 120L).map(i => ("click", i))
      val batch2 = (61L to 180L).map(i => ("click", i)) :+ (("view", 1L))
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*) // 60 repeats must not move the sketch
      q.processAllAvailable()
      val last = spark.table("distinct_sketch")
        .groupBy("event_type").agg(max("registers_hit").as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the batch sketch over the SAME union is the oracle: identical
      // hash, identical registers, identical occupancy
      val all = (batch1 ++ batch2).toDF("event_type", "user_id")
      val batch = Sketches.linearCountDistinct(all, Seq("event_type"),
        col("user_id"), m = 256)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(last == batch, s"stream $last vs batch $batch")
      assert(last("click") > 100) // 180 keys into 256 registers
    } finally q.stop()
  }

  /** Four distinct long texts (quality-passing: 64+ tokens, stopword-
    * heavy), so only the INTENDED pairs collide in any dedup stage. */
  private def curationCorpus = {
    val p1 = "the quick brown fox jumps over the lazy dog " * 8
    val p2 = "pack my box with five dozen liquor jugs and the vexed wizards frown " * 6
    val p3 = "a wizard of odd magic is keen to vex the daft jump in fog " * 6
    val p4 = "sphinx of black quartz judge my vow and keep the faith in time " * 6
    val evalRun = "zebra quagga okapi tapir manatee dugong narwhal"
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val rows = Seq(
      (1L, p1 + "alpha", t(1)),   // kept (canonical of the exact group)
      (2L, p1 + "alpha", t(2)),   // exact_dup of 1
      (3L, p2 + "delta", t(3)),   // near-dup pair with 4 (batch-only stage)
      (4L, p2 + "echo", t(4)),
      (5L, p3 + "bravo", t(5)),   // kept, unrelated
      (6L, p4 + evalRun, t(6)),   // contaminated (batch-only stage)
      (7L, "x", t(7)),            // quality fail
      (8L, "spam", t(8)))         // quality fail
    (rows, Seq(Tuple1("benchmark question " + evalRun)))
  }

  test("streaming curation funnel agrees with the batch funnel on the same corpus") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.pipelines.CurationPipeline
    implicit val sqlCtx = spark.sqlContext
    val (rows, evalRows) = curationCorpus
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = CurationStream.dispositions(spark,
        input.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("curation_stream").start()
    val stream = try {
      input.addData(rows: _*)
      q.processAllAvailable()
      spark.table("curation_stream").as[(Long, String, String)]
        .collect().toSeq
    } finally q.stop()
    val batch = CurationPipeline.dispositions(
        rows.toDF("doc_id", "text", "ts").drop("ts"),
        evalRows.toDF("text"))
      .as[(Long, String, String)].collect().toSeq
    def stages(d: Seq[(Long, String, String)]) =
      d.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val s = stages(stream); val b = stages(batch)
    // every doc gets exactly one disposition on both sides
    assert(stream.map(_._1).sorted == rows.map(_._1).sorted)
    // stage-for-stage parity on the streamable stages
    assert(s("quality") == b("quality"), s"$s vs $b")
    assert(s("exact_dup") == b("exact_dup"), s"$s vs $b")
    assert(s("exact_dup") == Set(2L)) // canonical = earliest arrival = min id
    // the stream's kept is batch kept + the corpus-global stages (near
    // dedup + decontamination run in the batch compaction — lambda split)
    assert(s("kept") ==
      b.getOrElse("kept", Set.empty) ++ b.getOrElse("near_dup", Set.empty)
        ++ b.getOrElse("contaminated", Set.empty), s"$s vs $b")
    // the batch-only stages actually fired on this corpus (the parity
    // assertion above must not pass vacuously)
    assert(b.getOrElse("near_dup", Set.empty).nonEmpty, b.toString)
    assert(b.getOrElse("contaminated", Set.empty) == Set(6L), b.toString)
    // redaction parity on the common kept docs
    val sText = stream.collect { case (id, "kept", txt) => id -> txt }.toMap
    val bText = batch.collect { case (id, "kept", txt) => id -> txt }.toMap
    bText.keys.foreach(id => assert(sText(id) == bText(id)))
  }

  test("streaming incremental near-dedup agrees with the batch shard-vs-lake operator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val tA = "the quick brown fox jumps over the lazy dog again and again tonight"
    val tB = "pack my box with five dozen liquor jugs and the vexed wizards frown"
    val tC = "a wizard of odd magic is keen to vex the daft jump in fog"
    val novel = "sphinx of black quartz judge my vow and keep the faith in time"
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // the LAKE: static, indexed once (the persisted-compaction artifact)
    val lake = Seq((1L, tA), (2L, tB), (3L, tA + " coda"), (5L, tC))
      .toDF("doc_id", "text")
    val lakeIndex = Dedup.bandIndex(lake, "doc_id", col("text"),
      k = 5, numPerm = 16, bands = 4).cache()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = CurationStream.incrementalNearDups(
        input.toDF().toDF("doc_id", "text", "ts"), lakeIndex)
      .writeStream.outputMode("append").format("memory")
      .queryName("inc_near_dups").start()
    val stream = try {
      input.addData(
        (101L, tA, t("2026-01-01 10:00:00")),    // identical to lake 1
        (102L, novel, t("2026-01-01 10:01:00")), // matches nothing
        (103L, tC, t("2026-01-01 10:02:00")),    // identical to lake 5
        (104L, tB, t("2026-01-01 10:03:00")),
        // a DIFFERENT doc with text identical to 101's, inside the same
        // watermark window: the dedup keys on (doc_id, fingerprint), so
        // this doc is NOT swallowed — it gets its own verdict, exactly
        // as the batch operator reports both docs
        (105L, tA, t("2026-01-01 10:04:00")))
      q.processAllAvailable()
      // an exact RE-SEND of the SAME doc inside the watermark is
      // suppressed by the (doc_id, fingerprint) dedup — no second
      // evaluation, no second output row
      input.addData((103L, tC, t("2026-01-01 10:30:00")))
      q.processAllAvailable()
      // advance the watermark past the docs so append finalizes them
      input.addData((999L, "flush marker", t("2026-01-01 13:30:00")))
      q.processAllAvailable()
      spark.table("inc_near_dups").as[(Long, Long, Long)].collect().toSeq
    } finally q.stop()
    // batch twin over the same union (shard pre-deduped, as the stream's
    // fingerprint stage guarantees): identical banded-MinHash hashes on
    // both paths → identical matches, counts, and canonical ids
    val union = lake.withColumn("is_new", lit(false))
      .unionByName(Seq((101L, tA), (102L, novel), (103L, tC), (104L, tB),
        (105L, tA), (999L, "flush marker"))
        .toDF("doc_id", "text").withColumn("is_new", lit(true)))
    val batch = Dedup.incrementalNearDups(union, "doc_id", col("text"),
      col("is_new"), k = 5, numPerm = 16, bands = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(stream.toSet == batch.toSet, s"stream=$stream batch=$batch")
    // non-vacuous: the identical-text probes matched their lake twins
    val byDoc = stream.map(r => r._1 -> r).toMap
    assert(byDoc(101L)._3 == 1L, byDoc.toString) // closest_existing
    assert(byDoc(103L)._3 == 5L, byDoc.toString)
    assert(byDoc(104L)._3 == 2L, byDoc.toString)
    // the twin-text distinct doc got its own verdict (not swallowed by
    // 101's identical fingerprint)
    assert(byDoc(105L)._3 == 1L, byDoc.toString)
    assert(!byDoc.contains(102L) && !byDoc.contains(999L), byDoc.toString)
    // exactly one row per matched doc despite the 103 re-send
    assert(stream.size == stream.map(_._1).distinct.size, stream.toString)
    lakeIndex.unpersist()
  }

  test("windowedReport: per-window funnel stage counts with bounded state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog " * 8
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = CurationStream.windowedReport(
        input.toDF().toDF("doc_id", "text", "ts"), windowLen = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_report").start()
    try {
      // window 10:00: 2 pass + 1 fail; window 11:00: 1 fail
      input.addData((1L, good, t("2026-01-01 10:05:00")),
        (2L, good + "x", t("2026-01-01 10:20:00")),
        (3L, "junk", t("2026-01-01 10:40:00")),
        (4L, "x", t("2026-01-01 11:10:00")))
      q.processAllAvailable()
      // advance the watermark past both windows so they emit
      input.addData((5L, good, t("2026-01-02 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("funnel_report")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(rows.contains((t("2026-01-01 10:00:00"), "pass", 2L)), rows.toString)
      assert(rows.contains((t("2026-01-01 10:00:00"), "quality", 1L)), rows.toString)
      assert(rows.contains((t("2026-01-01 11:00:00"), "quality", 1L)), rows.toString)
    } finally q.stop()
  }

  test("streaming exact-dedup state expires with the horizon: later re-arrival re-qualifies") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog " * 8
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = CurationStream.dispositions(spark,
        input.toDF().toDF("doc_id", "text", "ts"),
        horizonMs = 2L * 3600 * 1000, watermarkDelay = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("curation_horizon").start()
    try {
      // batch 1: doc + in-horizon duplicate
      input.addData((1L, text, t("2026-01-01 10:00:00")),
        (2L, text, t("2026-01-01 10:30:00")))
      q.processAllAvailable()
      // batch 2: unrelated filler 4h later advances the watermark past
      // lastSeen(10:30) + horizon(2h) -> fingerprint state expires
      input.addData((3L, "a wizard of odd magic is keen to vex the daft jump in fog " * 6,
        t("2026-01-01 14:00:00")))
      q.processAllAvailable()
      // batch 3: the same content re-arrives beyond the horizon
      input.addData((4L, text, t("2026-01-01 14:30:00")))
      q.processAllAvailable()
      val out = spark.table("curation_horizon").as[(Long, String, String)]
        .collect().map(r => r._1 -> r._2).toMap
      assert(out(1L) == "kept" && out(2L) == "exact_dup")
      assert(out(4L) == "kept", // horizon passed: NOT a duplicate anymore
        s"re-arrival beyond the horizon must re-qualify: $out")
    } finally q.stop()
  }

  test("streaming NB quality gate scores bit-identically to the batch classifier") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val lake = Seq(
      (1L, "good clean prose text", true),
      (2L, "good clean prose words", true),
      (3L, "spam junk garbage links", false),
      (4L, "spam junk garbage noise", false),
      (5L, "good clean prose again", false))
      .toDF("doc_id", "text", "lbl")
    val model = TextAnalysis.nbTrain(lake, "doc_id", col("text"),
      col("lbl")).cache()
    // batch truth from the one-pass classifier over the SAME corpus
    val batch = TextAnalysis.nbClassifier(lake, "doc_id", col("text"),
      col("lbl")).as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // a doc of tokens whose hash buckets training never observed —
    // verified against the model itself so the assert can't rot if the
    // corpus or bucket hash changes
    val trained = model.select("bucket").as[Long].collect().toSet
    val novelToks = Seq("qqq", "vvv", "www", "xyzzy", "plugh", "zzz9")
      .filter(t => !trained(
        java.lang.Math.floorMod(graft.functions.Hashing.hexLongJvm(t), 256L)))
      .take(3)
    assert(novelToks.size == 3, s"need 3 novel-bucket tokens, got $novelToks")
    val novelDoc = novelToks.mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = CurationStream.nbQualityGate(
        input.toDF().toDF("doc_id", "text"), model)
      .select(col("doc_id"), col("n_toks"), col("nb_micro"), col("nb_pos"))
      .writeStream.outputMode("append").format("memory")
      .queryName("nb_gate").start()
    val out = try {
      input.addData(lake.as[(Long, String, Boolean)].collect()
        .map(r => (r._1, r._2)).toSeq: _*)
      input.addData((100L, novelDoc), (101L, null.asInstanceOf[String]))
      q.processAllAvailable()
      spark.table("nb_gate").as[(Long, Option[Long], Option[Long], Boolean)]
        .collect().map(r => r._1 -> r).toMap
    } finally q.stop()
    // every lake doc: stream score == batch score, bit for bit
    lake.as[(Long, String, Boolean)].collect().foreach { case (id, _, _) =>
      assert(out(id)._2.contains(batch(id)._2) &&
        out(id)._3.contains(batch(id)._3) && out(id)._4 == batch(id)._4,
        s"doc $id: stream ${out(id)} vs batch ${batch(id)}")
    }
    // the novel doc earns exactly prior + 3 * default_llr — unseen
    // buckets score through the smoothing default, not a dropped join
    val (prior, dflt) = model.select("prior", "default_llr")
      .as[(Long, Long)].head()
    assert(out(100L)._3.contains(prior + 3 * dflt), out(100L).toString)
    // null text: no score, gated false, row not swallowed
    assert(out(101L)._3.isEmpty && !out(101L)._4, out(101L).toString)
  }

  test("streaming LM perplexity gate scores bit-identically to the batch buckets") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown cat naps under the warm sun",
      "a quick brown fox and a lazy dog meet again")
      .toDF("text")
    val docs = Seq(
      (1L, "the quick brown fox jumps again"),   // reference-like → low nll
      (2L, "zzz qqq vvv www unseen gibberish"),  // unseen pairs → high nll
      (3L, "the quick brown cat naps"),
      (4L, "solo"),                               // <2 tokens: no evidence
      (5L, null.asInstanceOf[String]))            // null text
      .toDF("doc_id", "text")
    val model = TextAnalysis.lmTrain(reference, col("text")).cache()
    val batch = TextAnalysis.lmPerplexityBuckets(
        docs, "doc_id", col("text"), reference, col("text"))
      .select(col("doc"), col("n_pairs"), col("nll_micro"),
        col("mean_micro"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // threshold between the clean and gibberish means: the gate decision
    // must fire BOTH ways (the q131 non-vacuity lesson)
    val cut = (batch(1L)._4 + batch(2L)._4) / 2
    val input = MemoryStream[(Long, String)]
    val q = CurationStream.lmQualityGate(
        input.toDF().toDF("doc_id", "text"), model, maxMeanMicro = cut)
      .select(col("doc_id"), col("n_pairs"), col("nll_micro"),
        col("mean_micro"), col("lm_pass"))
      .writeStream.outputMode("append").format("memory")
      .queryName("lm_gate").start()
    val out = try {
      input.addData(docs.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      spark.table("lm_gate")
        .as[(Long, Option[Long], Option[Long], Option[Long], Boolean)]
        .collect().map(r => r._1 -> r).toMap
    } finally q.stop()
    // scored docs: stream == batch, bit for bit
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id)._2.contains(batch(id)._2) &&
        out(id)._3.contains(batch(id)._3) &&
        out(id)._4.contains(batch(id)._4),
        s"doc $id: stream ${out(id)} vs batch ${batch(id)}")
    }
    // the decision fires both ways around the cut
    assert(out(1L)._5 && out(3L)._5 && !out(2L)._5, out.toString)
    // batch DROPS the <2-token and null docs; the stream keeps the rows
    // with no evidence and gates them false (per-doc verdict contract)
    assert(!batch.contains(4L) && !batch.contains(5L))
    assert(out(4L)._2.contains(0L) && out(4L)._4.isEmpty && !out(4L)._5,
      out(4L).toString)
    assert(out(5L)._2.isEmpty && out(5L)._4.isEmpty && !out(5L)._5,
      out(5L).toString)
    model.unpersist()
  }

  // One stream/batch parity test per interpolated-KN order, each over
  // its own fixture: docs 1 and 3 are reference-like, doc 2 walks the
  // full backoff chain, doc 4 is one token short of an n-gram.
  private val knBuckets = Map(2 -> 256, 3 -> 256, 4 -> 64, 5 -> 32)
  Seq(
    (2, "interpolated-KN LM", "n_pairs", Seq(
      (1L, "the quick brown fox jumps again"),
      (2L, "zzz qqq vvv www unseen gibberish"),
      (3L, "the quick brown cat naps"),
      (4L, "solo"))),
    (3, "trigram interp-KN", "n_triples", Seq(
      (1L, "the quick brown fox jumps again"),
      (2L, "zzz qqq vvv www unseen gibberish"),
      (3L, "the quick brown cat naps"),
      (4L, "solo duo"))),
    (4, "4-gram interp-KN", "n_quads", Seq(
      (1L, "the quick brown fox jumps again"),
      (2L, "zzz qqq vvv www unseen gibberish"),
      (3L, "the quick brown cat naps"),
      (4L, "one two three"))),
    (5, "5-gram interp-KN", "n_quints", Seq(
      (1L, "the quick brown fox jumps over again"),
      (2L, "zzz qqq vvv www unseen gibberish"),
      (3L, "the quick brown cat naps under"),
      (4L, "one two three four")))
  ).foreach { case (order, label, nCol, texts) =>
    test(s"streaming $label gate scores bit-identically to the batch buckets") {
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.CurationStream
      import graft.operators.TextAnalysis
      implicit val sqlCtx = spark.sqlContext
      val reference = Seq(
        "the quick brown fox jumps over the lazy dog",
        "the quick brown cat naps under the warm sun",
        "a quick brown fox and a lazy dog meet again")
        .toDF("text")
      val docs = (texts :+ ((5L, null.asInstanceOf[String])))
        .toDF("doc_id", "text")
      def batchAt(o: Int) = TextAnalysis.lmPerplexityBucketsKN(
        docs, "doc_id", col("text"), reference, col("text"), o, knBuckets(o))
      // the exported (b1..bn, c12…n) artifact is the model — the stream
      // never sees the reference corpus; at order 2 it is the SAME
      // artifact the add-one gate uses
      val model = TextAnalysis.lmTrain(reference, col("text"), order,
        knBuckets(order)).cache()
      val batch = batchAt(order)
        .select(col("doc"), col(nCol), col("nll_micro"), col("mean_micro"))
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      // threshold between the clean and gibberish means: the gate
      // decision must fire BOTH ways (the q131 non-vacuity lesson)
      val cut = (batch(1L)._4 + batch(2L)._4) / 2
      val input = MemoryStream[(Long, String)]
      val q = CurationStream.lmQualityGateKN(
          input.toDF().toDF("doc_id", "text"), model, order,
          maxMeanMicro = cut, buckets = knBuckets(order))
        .select(col("doc_id"), col(nCol), col("nll_micro"),
          col("mean_micro"), col("lm_pass"))
        .writeStream.outputMode("append").format("memory")
        .queryName(s"lm_gate_kn$order").start()
      val out = try {
        input.addData(docs.as[(Long, String)].collect().toSeq: _*)
        q.processAllAvailable()
        spark.table(s"lm_gate_kn$order")
          .as[(Long, Option[Long], Option[Long], Option[Long], Boolean)]
          .collect().map(r => r._1 -> r).toMap
      } finally q.stop()
      Seq(1L, 2L, 3L).foreach { id =>
        assert(out(id)._2.contains(batch(id)._2) &&
          out(id)._3.contains(batch(id)._3) &&
          out(id)._4.contains(batch(id)._4),
          s"doc $id: stream ${out(id)} vs batch ${batch(id)}")
      }
      assert(out(1L)._5 && out(3L)._5 && !out(2L)._5, out.toString)
      // batch drops the <n-token and null docs; the stream keeps them,
      // gated false (per-doc verdict contract)
      assert(!batch.contains(4L) && !batch.contains(5L))
      assert(out(4L)._2.contains(0L) && out(4L)._4.isEmpty && !out(4L)._5,
        out(4L).toString)
      assert(out(5L)._2.isEmpty && !out(5L)._5, out(5L).toString)
      // non-vacuous next to the scorer one step down: order n−1 (a
      // different bucket width and one backoff level less), and add-one
      // smoothing at order 2
      val lower = (if (order == 2) TextAnalysis.lmPerplexityBuckets(
          docs, "doc_id", col("text"), reference, col("text"))
        else batchAt(order - 1))
        .select(col("doc"), col("nll_micro")).as[(Long, Long)]
        .collect().toMap
      assert(Seq(1L, 2L, 3L).exists(id => lower(id) != batch(id)._3),
        s"order-$order interpolated chain collapsed to the scores one step down")
      model.unpersist()
    }
  }

  test("streaming Moore-Lewis CED gate scores bit-identically to the batch selection") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val inDom = Seq("alpha beta gamma alpha beta", "beta gamma alpha beta")
      .toDF("text")
    val gen = Seq("delta epsilon zeta delta epsilon", "epsilon zeta delta")
      .toDF("text")
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),   // in-domain-looking
      (2L, "delta epsilon zeta"),       // general-looking
      (3L, "solo"),                     // <2 tokens: no evidence
      (4L, null.asInstanceOf[String]))  // null text
      .toDF("doc_id", "text")
    val batch = TextAnalysis.crossEntropyDiffSelect(docs, "doc_id",
        col("text"), inDom, col("text"), gen, col("text"))
      .select(col("doc"), col("n_pairs"), col("nll_in_micro"),
        col("nll_gen_micro"), col("ced_micro"), col("selected"))
      .as[(Long, Long, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // deploy the batch run's operating point as the fixed stream cut
    val cut = (batch(1L)._5 + batch(2L)._5) / 2
    val mIn = TextAnalysis.lmTrain(inDom, col("text")).cache()
    val mGen = TextAnalysis.lmTrain(gen, col("text")).cache()
    val input = MemoryStream[(Long, String)]
    val q = CurationStream.cedGate(
        input.toDF().toDF("doc_id", "text"), mIn, mGen,
        maxCedMicro = cut)
      .select(col("doc_id"), col("n_pairs"), col("nll_in_micro"),
        col("nll_gen_micro"), col("ced_micro"), col("ced_pass"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ced_gate").start()
    val out = try {
      input.addData(docs.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      spark.table("ced_gate")
        .as[(Long, Option[Long], Option[Long], Option[Long],
          Option[Long], Boolean)]
        .collect().map(r => r._1 -> r).toMap
    } finally q.stop()
    // scored docs: stream == batch, bit for bit, and the decision
    // fires both ways around the deployed cut
    Seq(1L, 2L).foreach { id =>
      assert(out(id)._2.contains(batch(id)._2) &&
        out(id)._3.contains(batch(id)._3) &&
        out(id)._4.contains(batch(id)._4) &&
        out(id)._5.contains(batch(id)._5),
        s"doc $id: stream ${out(id)} vs batch ${batch(id)}")
    }
    assert(out(1L)._6 && !out(2L)._6, out.toString)
    // batch drops no-evidence docs; the stream keeps and gates false
    assert(!batch.contains(3L) && !batch.contains(4L))
    assert(out(3L)._2.contains(0L) && out(3L)._5.isEmpty && !out(3L)._6)
    assert(out(4L)._2.isEmpty && out(4L)._5.isEmpty && !out(4L)._6)
    mIn.unpersist(); mGen.unpersist()
  }

  test("streaming blocklist gate flags bit-identically to the batch blocklistHit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val words = Seq("badword", "slur")
    val phrases = Seq("bad phrase", "worse yet")
    val docs = Seq(
      (1L, "clean text entirely fine"),
      (2L, "contains a badword here"),              // word hit
      (3L, "this has a bad phrase inside"),         // phrase hit
      (4L, "badwording is NOT a hit"),              // substring ≠ token
      (5L, "bad phrasejoined does not hit"),        // adjacency broken
      (6L, "worse yet"),                            // phrase = whole text
      (7L, null.asInstanceOf[String]))              // null: kept, false
    // batch truth over the same rows
    val batch = docs.toDF("doc_id", "text")
      .select(col("doc_id"), coalesce(
        TextAnalysis.blocklistHit(col("text"), words, phrases),
        lit(false)).as("b"))
      .as[(Long, Boolean)].collect().toMap
    assert(batch == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false,
      5L -> false, 6L -> true, 7L -> false), batch.toString)
    val input = MemoryStream[(Long, String)]
    val q = CurationStream.blocklistGate(
        input.toDF().toDF("doc_id", "text"), words, phrases)
      .writeStream.outputMode("append").format("memory")
      .queryName("bl_gate").start()
    val out = try {
      input.addData(docs: _*)
      q.processAllAvailable()
      spark.table("bl_gate").select("doc_id", "blocked")
        .as[(Long, Boolean)].collect().toMap
    } finally q.stop()
    assert(out == batch, s"stream $out vs batch $batch")
  }

  test("streaming Mahalanobis embedding gate scores bit-identically to the batch scorer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CurationStream
    import graft.operators.Pca
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf001)
    val model = Pca.fit(Pca.moments(emb, "embedding", 64).collect().toSeq, 64)
    // batch truth: q155's exact chain (project → Σ pc²/λ → micro)
    val proj = Pca.project(emb, "embedding", model.mean,
      model.eigenvectors.take(4))
    val md = (1 to 4).map(k =>
      (col(s"pc$k") * col(s"pc$k")) / lit(model.eigenvalues(k - 1)))
      .reduce(_ + _)
    val batch = proj.select(col("vec_id"),
      floor(md * lit(1e6) + lit(0.5)).cast("long").as("m"))
      .as[(Long, Long)].collect().toMap
    // pick a threshold that splits the corpus so the gate fires both ways
    val cut = batch.values.toSeq.sorted.apply(batch.size / 2)
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val q = CurationStream.mahalanobisGate(
        input.toDF().toDF("vec_id", "embedding"), "embedding", model, 4, cut)
      .select(col("vec_id"), col("md_micro"), col("md_ok"))
      .writeStream.outputMode("append").format("memory")
      .queryName("md_gate").start()
    val out = try {
      input.addData(rows: _*)
      input.addData((9001L, Seq(1.0f)), (9002L, null.asInstanceOf[Seq[Float]]))
      q.processAllAvailable()
      spark.table("md_gate").as[(Long, Option[Long], Boolean)]
        .collect().map(r => r._1 -> r).toMap
    } finally q.stop()
    rows.foreach { case (id, _) =>
      assert(out(id)._2.contains(batch(id)), s"vec $id: ${out(id)} vs ${batch(id)}")
      assert(out(id)._3 == (batch(id) <= cut), s"vec $id gate")
    }
    assert(out.values.count(_._3) > 0 && out.values.count(!_._3) > 0,
      "threshold never fired both ways")
    // malformed arity / null embedding: NULL score, gated false, row kept
    assert(out(9001L)._2.isEmpty && !out(9001L)._3, out(9001L).toString)
    assert(out(9002L)._2.isEmpty && !out(9002L)._3, out(9002L).toString)
  }

  /** Canned fake-server replies for the LimeSurvey streaming tests:
    * `n` responses and 10 participants, with get_summary counts kept
    * CONSISTENT with the row fixtures (the offset basis). */
  private def writeSurveyReplies(dir: String, n: Int,
      key: String = "SK-stream-spec"): Unit = {
    import java.nio.file.{Files, Paths}
    Files.writeString(Paths.get(dir, "get_session_key.json"),
      s"""{"id":1,"result":"$key","error":null}""")
    val rows = (1 to n).map { i =>
      s"""{ "${i + 10}": { "id": "${i + 10}", "datestamp": "2018-01-0$i 10:00:00",
         "q01": "A$i", "q03": "u$i@x.com", "q06": "BR${i + 10}" } }"""
    }.mkString("{ \"responses\": [", ",", "] }")
    val b64 = java.util.Base64.getEncoder.encodeToString(rows.getBytes("UTF-8"))
    Files.writeString(Paths.get(dir, "export_responses.json"),
      s"""{"id":1,"result":"$b64","error":null}""")
    val participants = (0 until 10).map { i =>
      s"""{"tid":"$i","participant_info":{"firstname":"F$i","lastname":"L$i","email":"p$i@x.com"}}"""
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(dir, "list_participants.json"),
      s"""{"id":2,"result":$participants,"error":null}""")
    Files.writeString(Paths.get(dir, "get_summary.json"),
      s"""{"id":3,"result":{"token_count":"10","full_responses":"$n"},"error":null}""")
  }

  test("LimeSurvey streaming ingest: AvailableNow parity with batch, incremental restart") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ck").toString
    writeSurveyReplies(dir, 3)
    def streamDF(table: String) = spark.readStream.format("limesurvey")
      .option("transport", s"file:$dir").option("table", table)
      .option("surveyId", "101").option("pageSize", "4")
      .option("maxPages", "3").load()
    def batchDF(table: String) = spark.read.format("limesurvey")
      .option("transport", s"file:$dir").option("table", table)
      .option("surveyId", "101").option("pageSize", "4")
      .option("maxPages", "3").load()
    // parquet sink, not memory: the memory sink refuses checkpoint
    // recovery, and the restart leg is the point of this test
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
    def drain(table: String, sink: String, checkpoint: String): Unit = {
      val q = streamDF(table).writeStream.outputMode("append")
        .format("parquet").option("path", s"$outDir/$sink")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // responses: stream == batch (the parity contract)
    drain("responses", "resp", ckpt)
    val streamed = spark.read.parquet(s"$outDir/resp").collect()
      .map(_.getValuesMap[String](Seq("index", "q01", "q06"))).toSet
    val batch = batchDF("responses").collect()
      .map(_.getValuesMap[String](Seq("index", "q01", "q06"))).toSet
    assert(streamed == batch && batch.size == 3, s"$streamed vs $batch")
    // participants: per-page partitions become the microbatch windows
    val pCkpt = java.nio.file.Files.createTempDirectory("graft_stream_pk").toString
    drain("participants", "part", pCkpt)
    assert(spark.read.parquet(s"$outDir/part").collect()
      .map(_.getAs[String]("email")).toSet ==
      (0 until 10).map(i => s"p$i@x.com").toSet)
    // incremental restart: two NEW responses arrive; the same checkpoint
    // resumes from offset 3 and ships ONLY rows 4..5 — the incremental
    // path the batch connector lacks (it would re-export everything)
    writeSurveyReplies(dir, 5)
    drain("responses", "resp", ckpt)
    val after = spark.read.parquet(s"$outDir/resp").collect()
      .map(_.getAs[String]("index")).toSeq
    assert(after.size == 5 && after.toSet == Set("11", "12", "13", "14", "15"),
      s"expected exactly the 2 new rows appended once: $after")
  }

  /** The connector's microbatch stream for `table`, built the way Spark
    * builds it, with `filters` offered for pushdown; driven by hand so
    * a test controls what happens between triggers. */
  private def surveyStream(dir: String, table: String,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.v2.{LimeSurveyTable, LimeSurveyTableProvider}
    val opts = new CaseInsensitiveStringMap(Map("transport" -> s"file:$dir",
      "table" -> table, "surveyId" -> "101", "pageSize" -> "4").asJava)
    val provider = new LimeSurveyTableProvider
    val builder = provider.getTable(provider.inferSchema(opts), Array.empty,
      opts.asCaseSensitiveMap()).asInstanceOf[LimeSurveyTable].newScanBuilder(opts)
    builder.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(filters)
    builder.build().toMicroBatchStream(
      java.nio.file.Files.createTempDirectory("graft_stream_ck").toString)
  }

  /** One microbatch's rows, column 0 as strings, read through the
    * stream's own partitions and reader factory. */
  private def readBatch(stream: org.apache.spark.sql.connector.read.streaming.MicroBatchStream,
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Seq[String] = {
    val factory = stream.createReaderFactory()
    stream.planInputPartitions(start, end).toSeq.flatMap { p =>
      val r = factory.createReader(p)
      Iterator.continually(r).takeWhile(_.next()).map(_.get().getUTF8String(0).toString).toList
    }
  }

  test("LimeSurvey streaming ingest logs in per trigger, so an expired key never fails the query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_key").toString
    writeSurveyReplies(dir, 3)
    val stream = surveyStream(dir, "responses")
    val first = stream.latestOffset()
    assert(readBatch(stream, stream.initialOffset(), first) == Seq("11", "12", "13"))
    // the server expires the first key and issues another on the next
    // login; two responses arrive meanwhile
    writeSurveyReplies(dir, 5, key = "SK-stream-spec-2")
    val second = stream.latestOffset()
    assert(readBatch(stream, first, second) == Seq("14", "15"))
  }

  test("LimeSurvey streaming ingest: a filtered window past the matches reads no rows") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_empty").toString
    writeSurveyReplies(dir, 3)
    // token_count (10) counts unfiltered rows, so windows [4, 8) and
    // [8, 10) hold no match: their pages are the no-rows status
    val stream = surveyStream(dir, "participants", Array(EqualTo("email", "p2@x.com")))
    assert(readBatch(stream, stream.initialOffset(), stream.latestOffset()) == Seq("2"))
  }
}
