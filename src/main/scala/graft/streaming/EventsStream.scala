package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table shape (TESTDATA.md):
  * the streaming story of SURVEY.md §7.2 T3. The reference is batch-only
  * (SURVEY.md §1.1 — no streams), so this is a generalization: the same
  * tumbling-window aggregation as batch query q23_time_bucket, run
  * incrementally with a watermark, plus a stateful sessionization example
  * for custom per-key state.
  *
  * Scale shape: a windowed streaming agg is a hash shuffle on
  * (window, event_type) with partial aggregation and RocksDB-or-memory
  * state per partition — the same plan at 32 or 1000 executors.
  */
object EventsStream {

  /** File-source stream of events rows (schema fixed from a sample batch
    * read — streaming sources require explicit schemas). Event time is
    * normalized via [[graft.Tables.normalizeEventTime]]: both historical
    * corpus shapes (nanos-as-long, NTZ micros) become session-UTC
    * TIMESTAMP, which `withWatermark` requires — an NTZ event-time column
    * throws EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE at analysis. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    graft.Tables.normalizeEventTime(spark.readStream.schema(schema).parquet(dir))
  }

  /** Tumbling-window counts with a watermark: the streaming twin of the
    * q23_time_bucket batch plan (same groupBy, incremental execution,
    * late data beyond `lateness` dropped deterministically). */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // money rule (CLAUDE.md / q23's batch twin): sum exact long cents
      // (floor(v*100+0.5)), shift back via exact decimal division, cast
      // to double LAST — per-row decimal casts allocate BigDecimals and
      // round half-up, diverging from the batch aggregate on .xx5 values
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + lit(0.5))).cast("decimal(38,0)") /
          lit(100L).cast("decimal(6,0)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Windowed DDSketch value-distribution stream — the deployment twin
    * of [[graft.operators.Sketches.ddsketchQuantiles]] (the
    * latency/spend-percentile monitor you actually run on a live
    * stream): per tumbling window, emit the MERGEABLE bucket rows
    * (shift, m, count) at watermark close; quantile extraction happens
    * at read time over the sunk sketch table via
    * [[graft.operators.Sketches.ddsketchExtract]], which re-merges
    * duplicate bucket rows by construction — so a window split across
    * recoveries/micro-batches still extracts the exact same quantiles
    * (StreamingSpec asserts bit parity with the one-shot batch sketch).
    * State per window is O(#buckets), independent of event volume —
    * this is the quantile monitor that survives 100 TB/day. The
    * bucketing IS the batch operator's (one implementation, zero
    * drift). */
  def windowedValueSketch(events: DataFrame, valCol: Column,
      subBits: Int = 6, windowLen: String = "1 hour",
      lateness: String = "2 hours"): DataFrame =
    graft.operators.Sketches.ddsketchBuckets(
        events.withWatermark("ts", lateness)
          .select(window(col("ts"), windowLen).as("__wnd"),
            valCol.as("__val")),
        Seq("__wnd"), col("__val"), subBits)
      .select(col("__wnd.start").as("window_start"),
        col("__shift"), col("__m"), col("__c"))

  /** Streaming exact dedup with BOUNDED state: drops rows whose key was
    * already seen among rows whose event time is within the watermark —
    * the streaming twin of [[graft.operators.Dedup.exact]]'s keep-first
    * semantics for the at-least-once-delivery case (replayed/duplicate
    * events inside the lateness horizon). `dropDuplicatesWithinWatermark`
    * is the scale-safe choice: plain `dropDuplicates` on a stream keeps
    * EVERY key forever (state grows with the corpus); here state expires
    * with the watermark, so memory is bounded by the duplicate horizon,
    * not the stream length. */
  def dedupedEvents(events: DataFrame, keys: Seq[String],
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Per-user session state for the custom-state path
    * (`mapGroupsWithState`): running event count + last value per user.
    * Pass `idleTimeout` to evict idle state on a processing-time timer —
    * note that pending timers keep a Trigger.AvailableNow query alive, so
    * timer-based eviction belongs to continuously-running deployments,
    * not run-to-completion batches. */
  case class UserSession(userId: Long, nEvents: Long, totalValue: Double)

  def sessionize(spark: SparkSession, events: DataFrame,
      idleTimeout: Option[String] = None): DataFrame = {
    import spark.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    // a NULL user_id/value would kill the query at the non-nullable
    // decode — a malformed row must not take down the stream
    events.filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf)(sessionizeUpdate(_, _, _, idleTimeout))
      .toDF()
  }

  /** The [[sessionize]] state transition, exposed for direct spec driving
    * (TestGroupState). The timed-out branch is the EVICTION the timeout
    * exists for: emit the final session once and drop the state —
    * without it a fired timer would re-arm itself and re-emit the
    * unchanged session every trigger, and idle keys would never leave
    * the store (unbounded state, the opposite of the documented
    * contract). */
  private[graft] def sessionizeUpdate(userId: Long,
      rows: Iterator[(Long, Double)], state: GroupState[UserSession],
      idleTimeout: Option[String]): UserSession =
    if (state.hasTimedOut) {
      val last = state.get
      state.remove()
      last
    } else {
      val prev = state.getOption.getOrElse(UserSession(userId, 0L, 0.0))
      var n = prev.nEvents; var tot = prev.totalValue
      rows.foreach { case (_, v) => n += 1; tot += v }
      val next = UserSession(userId, n, tot)
      state.update(next)
      idleTimeout.foreach(state.setTimeoutDuration)
      next
    }

  /** A closed user session: bounded by `gap` of inactivity. */
  case class SessionWindow(userId: Long, sessionStart: java.sql.Timestamp,
      sessionEnd: java.sql.Timestamp, nEvents: Long)

  /** Open-session accumulator (flatMapGroupsWithState state). */
  case class OpenSession(startMs: Long, endMs: Long, n: Long)

  /** Gap-based session windows via `flatMapGroupsWithState` with
    * EVENT-time timeouts — the custom-state shape for emit-on-close
    * semantics (mapGroupsWithState must emit exactly one row per group
    * per batch; closed sessions need zero-or-many).
    *
    * A session is emitted ONLY once the watermark passes
    * `sessionEnd + gap` — the point after which no admissible event can
    * extend or bridge it. Closing earlier (the tempting
    * "an in-batch event arrived > gap later" rule) is WRONG under the
    * watermark contract: an in-watermark straggler landing between two
    * already-seen events can bridge them into one true session, and an
    * eagerly-emitted fragment can never be retracted in Append mode —
    * the stream would show two overlapping sessions for data the
    * watermark promised to handle. So state holds the LIST of pending
    * merged intervals (everything the watermark hasn't released), each
    * batch gap-merges (batch events + pending) in time order, emits the
    * released prefix, and re-arms the event-time timer at the earliest
    * pending release point.
    *
    * Event-time timeouts, not processing-time: they are driven by the
    * watermark, so a Trigger.AvailableNow run completes (pending
    * processing-time timers would keep it alive forever — round-1 trap),
    * and results are deterministic functions of the data, not of
    * wall-clock scheduling.
    *
    * Scale shape: state per user is the pending-interval list — bounded
    * by the number of >gap-separated bursts inside one watermark delay
    * (one interval in the common delay ≤ gap case), hash-partitioned by
    * user — the same plan at 32 or 1000 executors. */
  def sessionWindows(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "10 seconds"): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[OpenSession], SessionWindow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[List[OpenSession]]) =>
          def close(s: OpenSession) = SessionWindow(userId,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n)
          val wm = state.getCurrentWatermarkMs
          // time-ordered gap-merge over (batch events + pending
          // intervals); a timeout invocation is the same fold with an
          // empty batch
          val items = (rows.map(t => OpenSession(t._2.getTime, t._2.getTime, 1))
            .toSeq ++ state.getOption.getOrElse(Nil))
            .sortBy(s => (s.startMs, s.endMs))
          var merged = List.empty[OpenSession] // reverse time order
          items.foreach { it =>
            merged = merged match {
              case h :: t if it.startMs <= h.endMs + gapMs =>
                OpenSession(math.min(h.startMs, it.startMs),
                  math.max(h.endMs, it.endMs), h.n + it.n) :: t
              case l => it :: l
            }
          }
          val (done, open) = merged.reverse
            .partition(s => s.endMs + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // earliest pending release, clamped strictly past the
            // watermark (the engine rejects timers at/behind it)
            state.setTimeoutTimestamp(
              math.max(wm + 1, open.map(_.endMs + gapMs).min))
          }
          done.map(close).iterator
      }
      .toDF()
  }

  /** Streaming distinct-count sketch: a linear-counting register bitmap
    * per group, maintained in `mapGroupsWithState` — COUNT(DISTINCT)
    * over an unbounded stream with state bounded at m/8 bytes per group
    * (512 B at m=4096), instead of one state row per distinct key.
    * Emits the running (registers_hit, est_distinct) per group per
    * micro-batch; the estimate is NULL once the sketch saturates.
    *
    * The register function is [[graft.functions.Hashing.hexLongJvm]] —
    * the documented bit-identical JVM twin of the md5 expression the
    * batch [[graft.operators.Sketches.linearCountDistinct]] uses — so
    * the streaming running state agrees EXACTLY (same registers, same
    * occupancy) with the batch sketch over the same prefix of events:
    * the lambda-architecture property, spec-asserted. NULL keys carry
    * no cardinality, mirroring the batch operator. */
  def distinctSketch(spark: SparkSession, events: DataFrame,
      groupCol: String = "event_type", keyCol: String = "user_id",
      m: Int = 4096): DataFrame = {
    import spark.implicits._
    require(m % 64 == 0, "m must be a multiple of 64")
    events.select(col(groupCol).as[String],
      col(keyCol).cast("string").as[String])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[(String, String)],
         state: GroupState[Array[Long]]) =>
          val bits = state.getOption.getOrElse(new Array[Long](m / 64))
          rows.foreach { case (_, k) =>
            if (k != null) {
              val reg = (graft.functions.Hashing.hexLongJvm("lc:" + k) % m).toInt
              bits(reg >> 6) |= 1L << (reg & 63)
            }
          }
          state.update(bits)
          val v = bits.map(java.lang.Long.bitCount(_).toLong).sum
          val est = if (v < m)
            Some(m.toDouble * math.log(m.toDouble / (m - v))) else None
          (g, v, est)
      }
      .toDF(groupCol, "registers_hit", "est_distinct")
  }

  /** Stream-static enrichment join: the streaming side joins a batch
    * dimension (user profile, source metadata) with a broadcast hash
    * join — STATELESS on the stream side (the static plan is
    * re-evaluated per micro-batch, so a refreshed dim parquet is picked
    * up without restarting the query). The everyday lookup-join of an
    * event pipeline; needs no watermark because nothing is buffered. */
  def enrichEvents(events: DataFrame, dim: DataFrame,
      on: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(on), "left")

  /** Stream-stream self-join: correlate each `typeA` event with the
    * `typeB` events the SAME user produced within `horizon` after it
    * (click→purchase attribution, error→retry correlation, …).
    *
    * The scale contract is the TIME-RANGE predicate + watermarks on
    * BOTH sides: they are what lets the engine expire buffered rows —
    * a stream-stream join without a time bound must hold every row
    * forever (unbounded state). Here each side's state is bounded by
    * `lateness` + `horizon` of events, hash-partitioned by user: the
    * same plan at 32 or 1000 executors. Inner join: a `typeA` event
    * with no `typeB` inside the horizon emits nothing (outer variants
    * additionally wait for the watermark before emitting nulls). */
  def correlatedEvents(events: DataFrame, typeA: String, typeB: String,
      horizon: String = "30 minutes", lateness: String = "2 hours"): DataFrame = {
    val a = events.filter(col("event_type") === typeA)
      .select(col("user_id").as("user_a"), col("event_id").as("event_a"),
        col("ts").as("ts_a"))
      .withWatermark("ts_a", lateness)
    val b = events.filter(col("event_type") === typeB)
      .select(col("user_id").as("user_b"), col("event_id").as("event_b"),
        col("ts").as("ts_b"))
      .withWatermark("ts_b", lateness)
    a.join(b,
      col("user_a") === col("user_b") &&
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr(s"interval $horizon"))
      .select(col("user_a").as("user_id"), col("event_a"), col("event_b"),
        col("ts_a"), col("ts_b"))
  }

  /** Streaming data-quality gate — [[graft.operators.Quality.expectations]]
    * evaluated incrementally per event-time window: one row per
    * (window, rule) with its violation count and rate, so an ingest
    * monitor sees WHEN quality degraded, not just that it did. The
    * conditional sums are decomposable aggregates, so the plan is the
    * same watermarked windowed hash-agg as [[tumblingCounts]] — bounded
    * state, late data beyond `lateness` dropped; a NULL rule result
    * counts as a violation (the batch operator's contract). */
  def windowedExpectations(events: DataFrame,
      rules: Seq[(String, Column)], windowLen: String = "1 hour",
      lateness: String = "2 hours"): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case ((_, c), i) =>
        sum(when(!coalesce(c, lit(false)), 1L).otherwise(0L)).as(s"__v$i")
    }
    val pairs = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col(s"__v$i").as("n_violations"))
    }
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start"), col("__n"),
        explode(array(pairs: _*)).as("r"))
      .select(col("window_start"), col("r.rule").as("rule"),
        col("r.n_violations").as("n_violations"), col("__n").as("n_rows"),
        (col("r.n_violations").cast("double") / col("__n"))
          .as("violation_rate"))
  }
}
