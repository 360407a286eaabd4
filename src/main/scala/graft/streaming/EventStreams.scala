package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each transform takes a DataFrame that may be batch (read.parquet) or
  * streaming (readStream) — the plans are identical; only the sink
  * differs. The reference has no streaming surface at all (SURVEY.md
  * §2 "Streaming: none"); this is the north-star extension, built on
  * watermarks + windowed aggregation + mapGroupsWithState.
  *
  * Scale notes: state is keyed (user_id / window start), so it
  * hash-partitions across executors; watermarks bound state size;
  * session state carries only (start, last, count, sum) — O(1) per key.
  */
object EventStreams {

  /** java.sql.Timestamp -> microseconds since epoch with FLOOR
    * semantics, matching the batch kernels' unix_micros for pre-1970
    * event times too: getTime truncates toward zero, so the
    * whole-second part must divide with floorDiv (getNanos is the
    * non-negative sub-second part and needs no correction).
    */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Inverse of [[micros]]: microseconds since epoch -> Timestamp,
    * floor-consistent for negative epochs (floorDiv/floorMod keep the
    * sub-second part non-negative, as Timestamp.setNanos requires).
    */
  private def microsToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Set an event-time timeout at `deadlineUs`, CEIL'd to millis (a
    * timeout must never fire EARLY — firing a ms late is harmless
    * because the same watermark that fires it also bounds admissible
    * data) and clamped above the current watermark
    * (setTimeoutTimestamp rejects past deadlines for very late data).
    * In BATCH execution the watermark node is eliminated and
    * getCurrentWatermarkMs throws — timeouts never fire there, so any
    * deadline works. ONE definition: this exact clamp was previously
    * copy-pasted per operator and the rounding had already drifted
    * (sessionize ceiled, debounce/attribution floored).
    */
  private[streaming] def setEventTimeTimeout(state: GroupState[_],
                                             deadlineUs: Long): Unit = {
    val wm = scala.util.Try(state.getCurrentWatermarkMs())
      .getOrElse(Long.MinValue)
    state.setTimeoutTimestamp(
      math.max(Math.floorDiv(deadlineUs + 999L, 1000L), wm + 1))
  }

  /** File-source stream over an events parquet directory (the deploy
    * shape: new files land, Spark incrementally processes them).
    * Normalizes the timestamp encoding (nanos-as-long or NTZ) the same
    * way the batch reader does.
    */
  def readEventStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 1): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    graft.ops.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
  }

  /** Tumbling-window per-type counts with a 30-minute watermark for
    * late data.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Int, total_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState with an
    * EVENT-TIME timeout: a session closes when a later event arrives
    * past the gap, or when the watermark passes (last event + gap) —
    * without the timeout path a churned user's last session would sit
    * in state forever and never be emitted. Event-time (not
    * processing-time) keeps the operator deterministic and replayable.
    * Input must carry a watermark on `ts` (applied here).
    *
    * Gap comparisons are in MICROSECONDS (state stores epoch-micros),
    * matching the batch kernels' unix_micros arithmetic exactly — the
    * fixtures carry sub-millisecond timestamps, and a ms-truncated gap
    * would diverge from [[sessionizeBatch]]/q138 at the boundary.
    * Stream==batch parity on event-time-ordered input is spec-gated
    * (EventStreamsSpec), the q111/q123/q133 regime.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: flush and clear
            val st = state.get
            state.remove()
            Iterator.single(Session(userId, microsToTs(st.start),
              microsToTs(st.last), st.n, st.sum))
          } else {
            // events within a micro-batch are not ordered: sort the
            // batch (event_id tie-break mirrors the batch window order)
            val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                // admissible late data (within the watermark) may be
                // out of order ACROSS micro-batches. An event merges
                // when it CHAINS to the session under the gap rule on
                // either side: within gap of the last event (the
                // in-order case) AND no farther than gap BEFORE the
                // session start — an older event than that belongs to
                // a separate earlier session (the batch kernel would
                // split there), so merging it would glue sessions the
                // gap rule separates.
                case Some(st) if t >= st.start - gapUs && t - st.last <= gapUs =>
                  cur = Some(st.copy(start = math.min(st.start, t),
                    last = math.max(st.last, t), n = st.n + 1, sum = st.sum + e.value))
                case Some(st) if t - st.last > gapUs =>
                  closed += Session(userId, microsToTs(st.start),
                    microsToTs(st.last), st.n, st.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(_) =>
                  // too old to chain (t < start - gap): emit as its own
                  // completed session, state untouched. Best effort —
                  // peers of this straggler that arrived in time are
                  // already emitted and cannot be re-opened.
                  closed += Session(userId, microsToTs(t), microsToTs(t),
                    1, e.value)
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              setEventTimeTimeout(state, st.last + gapUs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: drop repeated event_ids arriving within the
    * watermark horizon (at-least-once upstream -> exactly-once
    * downstream). `dropDuplicatesWithinWatermark` keeps per-key state
    * only until the watermark passes, so state is bounded — the
    * streaming twin of the batch `dropDuplicates` dedup path.
    */
  def dedupStream(events: DataFrame,
                  watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  case class DebState(lastTsUs: Long)
  case class DebouncedEvent(user_id: Long, event_type: String,
                            event_id: Long, ts: Timestamp)

  /** Streaming twin of the batch q111 debounce: drop an event when the
    * SAME (user, event_type) fired within the preceding
    * `windowMinutes` (lag semantics — each event compares to its
    * immediate predecessor, kept or not). State per key is ONLY the
    * last-seen event time (O(1)) and expires via event-time timeout
    * one window after that event. Expiry is correctness-neutral by
    * construction: a key whose state timed out can only receive
    * events more than a window after the last one, which the lag
    * rule keeps anyway — so the TTL bounds state to recently-active
    * keys without changing output. Batch-identical for in-order
    * streams (spec-gated against q111); micro-batch internal order is
    * restored by a per-key sort, as in [[sessionize]]. Comparisons
    * are in MICROSECONDS to match the batch unix_micros predicate
    * exactly at sub-second gaps.
    */
  def debounce(spark: SparkSession, events: Dataset[Event],
               windowMinutes: Int = 5,
               watermarkDelay: String = "10 minutes"): Dataset[DebouncedEvent] = {
    import spark.implicits._
    val gapUs = windowMinutes * 60L * 1000000L

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebState, DebouncedEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, String), evs: Iterator[Event], state: GroupState[DebState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var last = state.getOption.map(_.lastTsUs)
            val out = Seq.newBuilder[DebouncedEvent]
            sorted.foreach { e =>
              val t = micros(e.ts)
              if (last.forall(t - _ > gapUs))
                out += DebouncedEvent(key._1, key._2, e.event_id, e.ts)
              // NEVER regress state on an admissible late straggler
              // (t < last): the straggler itself is judged against the
              // newest time seen (conservative — a burst duplicate is
              // never emitted), and keeping last at its max preserves
              // batch-identical decisions for every in-order event
              // after it. Unconditional assignment here would make a
              // later in-order event compare against the STALE old
              // time and re-emit inside a burst the batch lag rule
              // drops.
              last = Some(last.fold(t)(math.max(_, t)))
            }
            last.foreach { l =>
              state.update(DebState(l))
              setEventTimeTimeout(state, l + gapUs)
            }
            out.result().iterator
          }
      }
  }

  case class AttrState(clickTsUs: Long, clickId: Long)
  case class Attribution(event_id: Long, user_id: Long, ts_s: String,
                         click_id: Option[Long], gap_s: Option[Long])

  // Per-zone formatter cache: the formatter itself is not
  // serializable, so closures capture only the session's ZONE STRING
  // and build/reuse the formatter executor-side. The zone must be the
  // SESSION timezone, not hardcoded UTC — batch q133 renders ts_s via
  // date_format (session zone), and a UTC-pinned stream formatter
  // would silently break stream==batch parity the moment the session
  // runs anywhere else (specs pass in UTC either way).
  private val attrFmtCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.time.format.DateTimeFormatter]()
  private def attrFmt(zone: String): java.time.format.DateTimeFormatter =
    attrFmtCache.computeIfAbsent(zone, z =>
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneId.of(z)))

  /** Streaming twin of the batch q133 last-touch attribution: every
    * purchase is credited to the same user's most recent click at or
    * before it, expiring after `windowUs`. State per user is ONE
    * (click ts, click id) pair — O(1), the streaming shape of the
    * batch as-of join — and expires via event-time timeout one
    * attribution window after the click (correctness-neutral: a
    * purchase arriving after the timeout is past the window for that
    * click anyway, so it is unattributed under both rules).
    *
    * Per-trigger ordering: within a micro-batch the per-user events
    * are sorted by (ts, click-before-purchase, event_id), so a
    * same-instant click attributes at gap 0 and same-ts click ties
    * resolve to the max event_id — the exact batch tie rules. Like
    * [[debounce]], batch parity holds for per-user event-time-ordered
    * arrival across triggers (spec-gated against the q133 kernel); a
    * late purchase after a NEWER click has entered state stays
    * unattributed rather than mis-attributed (the state click is
    * ignored when it postdates the purchase).
    */
  def attribution(spark: SparkSession, events: Dataset[Event],
                  windowUs: Long = 3600000000L,
                  watermarkDelay: String = "10 minutes"): Dataset[Attribution] = {
    import spark.implicits._
    // captured as a plain string (see attrFmt) at plan-build time
    val zoneId = spark.sessionState.conf.sessionLocalTimeZone

    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, Attribution](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Event], state: GroupState[AttrState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = evs.toSeq.sortBy(e =>
              (micros(e.ts), e.event_type != "click", e.event_id))
            var last = state.getOption
            val out = Seq.newBuilder[Attribution]
            sorted.foreach { e =>
              val t = micros(e.ts)
              if (e.event_type == "click") {
                if (last.forall(s => t > s.clickTsUs ||
                    (t == s.clickTsUs && e.event_id > s.clickId)))
                  last = Some(AttrState(t, e.event_id))
              } else {
                val m = last.filter(s =>
                  s.clickTsUs <= t && t - s.clickTsUs <= windowUs)
                // floorDiv, not /: truncation-toward-zero renders a
                // pre-1970 23:59:59.9995 as 1970-01-01 00:00:00 (the
                // micros()/microsToTs() pair floors for this reason)
                out += Attribution(e.event_id, user,
                  attrFmt(zoneId).format(
                    java.time.Instant.ofEpochMilli(Math.floorDiv(t, 1000L))),
                  m.map(_.clickId), m.map(s => (t - s.clickTsUs) / 1000000L))
              }
            }
            last.foreach { s =>
              state.update(s)
              setEventTimeTimeout(state, s.clickTsUs + windowUs)
            }
            out.result().iterator
          }
      }
  }

  case class RateState(open: Map[Long, Long], n: Long, sx: Long, sxx: Long)
  case class RateAnomaly(user_id: Long, day: Long, cnt: Long,
                         mean_cnt: Double, std_cnt: Double)

  /** Streaming per-user event-rate anomalies — the PREQUENTIAL twin of
    * the batch q123: each completed day is judged against the stats of
    * the days that came BEFORE it (mean + `sigma`·sample-std from
    * exact integer sums n/Σx/Σx², the q122 arithmetic), then folded
    * into them. A day closes only when the WATERMARK passes its end —
    * late events inside the delay still land in their open day, so the
    * counts are exact and stream == batch
    * ([[graft.ops.Extended.q123]]) on any in-watermark arrival order.
    *
    * State per user: the open-day counts (bounded by the watermark
    * horizon — at "1 day" delay at most ~2 open days) + three longs of
    * history. Closure runs on data arrival AND on event-time timeout,
    * so idle users flush their trailing days deterministically.
    */
  def rateAnomalies(spark: SparkSession, events: Dataset[Event],
                    sigma: Double = 3.0,
                    watermarkDelay: String = "1 day"): Dataset[RateAnomaly] = {
    import spark.implicits._
    val baseUs = 1704067200000000L
    val dayUs = 86400000000L

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateAnomaly](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Event], state: GroupState[RateState]) =>
          var st = state.getOption.getOrElse(RateState(Map.empty, 0L, 0L, 0L))
          if (!state.hasTimedOut) {
            val byDay = evs.toSeq.groupBy(e =>
              Math.floorDiv(micros(e.ts) - baseUs, dayUs))
            st = st.copy(open = byDay.foldLeft(st.open) { case (m, (d, es)) =>
              m.updated(d, m.getOrElse(d, 0L) + es.size)
            })
          }
          // close every open day the watermark has passed, oldest first
          val wmMs = scala.util.Try(state.getCurrentWatermarkMs())
            .getOrElse(Long.MinValue)
          val out = Seq.newBuilder[RateAnomaly]
          st.open.keys.toSeq.sorted
            .takeWhile(d => (baseUs + (d + 1) * dayUs) / 1000 <= wmMs)
            .foreach { d =>
              val cnt = st.open(d)
              if (st.n >= 2) {
                val mean = st.sx.toDouble / st.n.toDouble
                val std = math.sqrt(
                  (st.n * st.sxx - st.sx * st.sx).toDouble /
                    (st.n * (st.n - 1)).toDouble)
                if (cnt.toDouble > mean + sigma * std)
                  out += RateAnomaly(user, d, cnt, mean, std)
              }
              st = RateState(st.open - d, st.n + 1, st.sx + cnt,
                st.sxx + cnt * cnt)
            }
          state.update(st)
          // wake when the earliest still-open day completes (day ends
          // are exact ms multiples, so the shared CEIL is a no-op)
          st.open.keys.minOption.foreach { d =>
            setEventTimeTimeout(state, baseUs + (d + 1) * dayUs)
          }
          out.result().iterator
      }
  }

  /** Stream-stream interval join: attribute each purchase to the same
    * user's click(s) in the preceding `maxLagMinutes`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire join state — the canonical bounded-state
    * stream-stream join. Works identically on batch frames.
    */
  def attributionJoin(events: DataFrame,
                      maxLagMinutes: Int = 60,
                      watermarkDelay: String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermarkDelay)
    clicks.join(purchases,
      expr(s"""c_user = p_user
              |AND purchase_ts >= click_ts
              |AND purchase_ts <= click_ts + INTERVAL $maxLagMinutes MINUTES"""
        .stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Checkpointed parquet sink for any of the streaming transforms:
    * exactly-once file output via the checkpoint's write-ahead commit
    * log — a restarted query resumes from the checkpoint and never
    * duplicates committed batches. `Trigger.AvailableNow` drains the
    * available input then stops (the batch-backfill deploy shape).
    */
  def writeParquetStream(df: DataFrame, outDir: String,
                         checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Batch-mode sessionization of the same semantics via window
    * functions (lag + cumulative session-id), for the stored events
    * table — demonstrates the batch/stream duality of the operator.
    * Gap arithmetic is in integer MICROSECONDS (unix_micros), the same
    * comparison [[sessionize]] makes on its state — sub-millisecond
    * event times sessionize identically on both paths (spec-gated).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // a user's first row (lag null) starts session 1 explicitly — a
    // null-condition when() would fall to otherwise(0), not to null
    val prev = lag(col("ts"), 1).over(byUser)
    val newSession =
      when(prev.isNull
        || unix_micros(col("ts")) - unix_micros(prev) > gapUs, 1)
        .otherwise(0)
    events
      .withColumn("is_new", newSession)
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
  }
}
