package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import graft.functions.Fns._

/** One event, as the streaming sessionizer consumes it. */
case class SessEvent(userId: Long, tsS: Long, eventId: Long, eventType: String)

/** One change event, as the streaming SCD2 builder consumes it (µs
  * timestamp kept — the batch window orders on full precision). */
case class Scd2Event(userId: Long, tsUs: Long, eventId: Long,
                     eventType: String, value: Double)

/** Per-key open SCD2 version carried between micro-batches. */
case class Scd2Open(version: Long, eventId: Long, eventType: String,
                    value: Double, fromUs: Long)

/** One CLOSED SCD2 version — the streaming twin emits a version the
  * moment its successor arrives; the open head stays in state. */
case class Scd2Closed(user_id: Long, source_event_id: Long, attr_type: String,
                      attr_value: Double, version: Long,
                      effective_from_s: Long, effective_from_us: Long,
                      effective_to_s: Long)

/** Per-user open-session state carried between micro-batches. */
case class SessState(seq: Long, start: Long, last: Long, n: Long, types: Set[String])

/** One closed session, matching Features.sessionize's grain. */
case class SessionOut(session_id: String, user_id: Long, session_seq: Long,
                      n_events: Long, start_s: Long, end_s: Long,
                      duration_s: Long, n_event_types: Long)

/** Structured Streaming over the events stream.
  *
  * The streaming jobs are the readStream twins of the batch operators
  * (windowTumbling, incrementalMerge): same transforms, plus watermarks
  * for state bounding. File-source parquet here; at scale the source
  * swaps for Kafka with no change below `.withWatermark`.
  */
object EventStream {

  /** Streaming events with the same encoding-adaptive ts handling as
    * graft.Tables.events, through the [[Staging.read]] file source (a
    * real deployment points this at the landing directory / Kafka
    * instead). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // Same contract as Tables.events: assert, never mutate, host session
    // state. The nanos escape hatch (like the UTC zone) is pinned at
    // session build by the graft entry points; flipping it here would be
    // exactly the mid-session conf mutation the loader contract bans.
    // (It only matters if the generator reverts events.ts to
    // TIMESTAMP(NANOS), in which case the batch loader fails loudly
    // first with the same remedy.)
    Tables.requireUtcSession(spark)
    Tables.normalizeEventTs(Staging.read(spark, dir, "events"))
  }

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark —
    * streaming twin of Joins.windowTumbling. Runs the stream to
    * completion against the memory sink and returns the result table. */
  def windowedCounts(spark: SparkSession, dir: String,
                     queryName: String = "stream_windowed"): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))
    // Update mode so the 2h watermark actually bounds window state
    // (Complete mode ignores watermarks and retains every window forever).
    Sinks.drain(agg, OutputMode.Update(), queryName)
  }

  /** SLIDING 1-hour/15-minute windowed aggregation — streaming twin of
    * Joins.windowSliding. Each event feeds its 4 covering windows; the
    * 2-hour watermark closes windows (and drops their state) once event
    * time passes window end + 2h, so state is bounded by
    * (width/slide)·active-window count regardless of stream length. */
  def slidingCounts(spark: SparkSession, dir: String,
                    queryName: String = "stream_sliding"): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))
    Sinks.drain(agg, OutputMode.Update(), queryName)
  }

  /** Streaming builder of the day-grain quantile state — the readStream
    * twin of [[graft.ml.Approx.quantileState]], closing the rollup loop:
    * the stream maintains the mergeable (event_type, day, bin) counts
    * (grouping on a 1-day event-time window so the 2-day watermark
    * actually evicts closed days from state — a derived date column
    * would never age out), and [[graft.ml.Approx.quantileEstimates]]
    * reads the SAME state rows the batch path builds, so streaming and
    * batch quantile marts can never drift. State is bounded at
    * types × open-days × bins regardless of stream length. */
  def quantileStateStream(spark: SparkSession, dir: String,
                          queryName: String = "stream_qstate"): DataFrame = {
    val agg = readEvents(spark, dir)
      .filter(col("value").isNotNull)
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"),
        graft.ml.Approx.qBin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), to_date(col("window.start")).as("day"),
        col("bin"), col("n"))
    // The Update-mode memory sink APPENDS one row per key per trigger that
    // touched it — if the file source ever splits the input across
    // micro-batches (maxFilesPerTrigger, real multi-wave arrivals), stale
    // earlier emissions for a key sit beside the final one and downstream
    // aggregation double-counts. The state's n per (event_type, day, bin)
    // is monotone non-decreasing across emissions (a streaming count only
    // accumulates), so max(n) per key IS the latest emission — dedupe
    // here instead of assuming the single-micro-batch drain.
    Sinks.drain(agg, OutputMode.Update(), queryName)
      .groupBy(col("event_type"), col("day"), col("bin"))
      .agg(max(col("n")).as("n"))
  }

  /** Streaming exact dedup on event_id with a watermark bounding the
    * dedup state — the streaming twin of Dedup.exact (late duplicates
    * beyond the watermark age out of state instead of growing it
    * forever). The event-time column MUST be part of the dedup key:
    * StreamingDeduplicateExec only evicts state whose event-time falls
    * behind the watermark when that column is in the subset —
    * dropDuplicates("event_id") alone would keep one state row per
    * distinct event_id FOREVER (unbounded on a real landing stream). A
    * true duplicate delivery carries the same event time, so keying on
    * (event_id, ts) dedups identically while making eviction work. */
  def dedupedEvents(spark: SparkSession, dir: String,
                    queryName: String = "stream_dedup"): DataFrame = {
    val out = readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
      .select(col("event_id"), col("user_id"), col("event_type"))
    Sinks.drain(out, OutputMode.Append(), queryName)
  }

  private def closeSession(userId: Long, s: SessState): SessionOut =
    SessionOut(s"$userId-${s.seq}", userId, s.seq, s.n,
      s.start, s.last, s.last - s.start, s.types.size.toLong)

  /** The ONE session fold both sessionizers share (sort the micro-batch
    * slice, close every gap-terminated session, carry the open head):
    * returns the new open state and the closed sessions in emit order.
    * A single definition so a tie-break or gap-logic fix can never
    * apply to one twin and not the other. */
  private def foldSessions(userId: Long, rows: Iterator[SessEvent],
                           st0: Option[SessState], gapS: Long)
      : (Option[SessState], List[SessionOut]) = {
    val sorted = rows.toSeq.sortBy(e => (e.tsS, e.eventId))
    var st = st0
    var out = List.empty[SessionOut]
    sorted.foreach { e =>
      st match {
        case None =>
          st = Some(SessState(1L, e.tsS, e.tsS, 1L, Set(e.eventType)))
        case Some(s) if e.tsS - s.last > gapS =>
          out ::= closeSession(userId, s)
          st = Some(SessState(s.seq + 1, e.tsS, e.tsS, 1L, Set(e.eventType)))
        case Some(s) =>
          st = Some(s.copy(last = e.tsS, n = s.n + 1, types = s.types + e.eventType))
      }
    }
    (st, out.reverse)
  }

  /** Streaming sessionizer via flatMapGroupsWithState — the custom-state
    * twin of Features.sessionize (>30-min gap closes a session). Each
    * micro-batch sorts its per-user slice, closes every session a gap
    * terminates, and carries the open session in state; the final
    * still-open session per user stays in state on a finite input —
    * [[sessionizedTimeoutStream]] is the production variant that
    * flushes it with an event-time timeout once the watermark passes
    * last_s + gap. */
  def sessionized(spark: SparkSession, dir: String,
                  queryName: String = "stream_sessions"): DataFrame = {
    import spark.implicits._
    val fn = (userId: Long, rows: Iterator[SessEvent],
              state: GroupState[SessState]) => {
      val (st, out) = foldSessions(userId, rows, state.getOption, graft.ml.Features.SessionGapS)
      st.foreach(state.update)
      out.iterator
    }
    val sessions = readEvents(spark, dir)
      .select(col("user_id").cast("long").as("userId"),
        epochS(col("ts")).as("tsS"),
        col("event_id").cast("long").as("eventId"),
        col("event_type").as("eventType"))
      .as[SessEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
    Sinks.drain(sessions.toDF(), OutputMode.Append(), queryName)
  }

  /** Sessionizer with the PRODUCTION flush: same gap-close logic as
    * [[sessionized]], plus an event-time timeout that emits each key's
    * final open session once the watermark passes last_s + gap — so
    * state is bounded (every session leaves state ≤ gap after its last
    * event, in event time) and the stream's output converges to the
    * FULL batch sessionize, not just its gap-closed prefix. Input must
    * carry the event-time watermark; this wires it from tsS.
    *
    * ORDERING CONTRACT: with EventTimeTimeout, Spark silently DROPS
    * input rows older than the watermark. `watermarkDelayS` is the
    * cross-micro-batch disorder the stream tolerates before an event is
    * lost (and its session under-counted vs batch): the 0 s default
    * matches the single-batch test harness where batch equivalence is
    * asserted; a real deployment sets it to its source's observed
    * disorder bound (each open session then lingers in state at most
    * gap + delay past its last event). */
  def sessionizedTimeoutStream(events: org.apache.spark.sql.Dataset[SessEvent],
                               gapS: Long = graft.ml.Features.SessionGapS,
                               watermarkDelayS: Long = 0L)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val fn = (userId: Long, rows: Iterator[SessEvent],
              state: GroupState[SessState]) => {
      if (state.hasTimedOut) {
        // watermark passed last + gap: no event can extend this session
        val s = state.get
        state.remove()
        Iterator.single(closeSession(userId, s))
      } else {
        val (st, out) = foldSessions(userId, rows, state.getOption, gapS)
        st.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp((s.last + gapS) * 1000L)
        }
        out.iterator
      }
    }
    events
      .withColumn("ts", timestamp_seconds(col("tsS")))
      .withWatermark("ts", s"$watermarkDelayS seconds")
      .as[SessEvent]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Streaming model-performance monitor — the readStream twin of
    * graft.ml.Monitoring.modelPerf (the reference's
    * ModelPerformanceMonitor consumes a live prediction stream;
    * ml_monitoring_system.py:371-430). Confusion counters + accuracy
    * per tumbling event-time window, watermark-bounded state; the
    * scoring and the windowed aggregate are the SAME code the batch
    * path runs, so streaming==batch holds exactly. */
  def performanceMonitor(spark: SparkSession, dir: String,
                         queryName: String = "stream_perf"): DataFrame = {
    val scored = graft.ml.Monitoring.score(readEvents(spark, dir), flipAt = 13)
      .withWatermark("ts", "2 hours")
    // Update (not Complete) mode: Complete ignores the watermark entirely, so
    // window state would grow forever on an unbounded stream. In Update mode
    // the 2h watermark evicts finalized windows; the single-batch file source
    // emits each window exactly once, so streaming==batch still holds.
    Sinks.drain(graft.ml.Monitoring.windowedPerf(scored), OutputMode.Update(), queryName)
  }

  /** Core stateful SCD2 transform: per-key state holds the OPEN version;
    * each arriving change closes its predecessor (emitted immediately,
    * Append mode) and becomes the new open head.
    *
    * ORDERING CONTRACT: events must arrive in per-key event-time order
    * ACROSS micro-batches (within a batch the slice is sorted here).
    * There is no reorder buffer; a straggler older than the open head
    * would otherwise silently corrupt the version chain (close the head
    * with a negative duration and mis-number every later version), so
    * such events are NOT applied — they are emitted as DEAD-LETTER rows
    * with `version = -1` (effective_to_s carries the open head's start,
    * the instant the straggler lost to) so bad input fails loudly and a
    * downstream quarantine can route on it. On a genuinely out-of-order
    * source, front this with a watermark + sort stage (or widen
    * micro-batches) before the stateful step. */
  def scd2ClosedStream(events: org.apache.spark.sql.Dataset[Scd2Event])
      : org.apache.spark.sql.Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    val fn = (userId: Long, rows: Iterator[Scd2Event],
              state: GroupState[Scd2Open]) => {
      // micro-batch slice sorted the way the batch window orders
      val sorted = rows.toSeq.sortBy(e => (e.tsUs, e.eventId))
      var st = state.getOption
      var out = List.empty[Scd2Closed]
      sorted.foreach { e =>
        st match {
          // cross-batch straggler = anything that sorts BEFORE the open
          // head under the batch order (tsUs, eventId) — the eventId
          // tie-break included: an equal-timestamp event with a smaller
          // id would, in the batch builder, PRECEDE the head, so applying
          // it as a successor here would silently renumber the chain.
          // Dead-letter it, state untouched.
          case Some(o) if e.tsUs < o.fromUs ||
              (e.tsUs == o.fromUs && e.eventId < o.eventId) =>
            out ::= Scd2Closed(userId, e.eventId, e.eventType, e.value,
              -1L, e.tsUs / 1000000L, e.tsUs, o.fromUs / 1000000L)
          case _ =>
            st.foreach { o =>
              out ::= Scd2Closed(userId, o.eventId, o.eventType, o.value,
                o.version, o.fromUs / 1000000L, o.fromUs, e.tsUs / 1000000L)
            }
            st = Some(Scd2Open(st.map(_.version + 1).getOrElse(1L),
              e.eventId, e.eventType, e.value, e.tsUs))
        }
      }
      st.foreach(state.update)
      out.reverse.iterator
    }
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
  }

  /** Streaming SCD2 builder — the live twin of the reference's flagship
    * scd_type2_macro (graft.operators.Scd2.build runs it as one batch
    * window pass). Emitted rows carry the batch builder's exact column
    * set for closed versions, so on an in-order source
    * streaming == batch.filter(!is_current) holds row-for-row; late
    * events surface as `change_reason = 'LATE_DEAD_LETTER'` rows (see
    * [[scd2ClosedStream]]). */
  def scd2Stream(spark: SparkSession, dir: String,
                 queryName: String = "stream_scd2"): DataFrame = {
    import spark.implicits._
    val closed = scd2ClosedStream(readEvents(spark, dir)
      .select(col("user_id").cast("long").as("userId"),
        unix_micros(col("ts")).as("tsUs"),
        col("event_id").cast("long").as("eventId"),
        col("event_type").as("eventType"),
        col("value").cast("double").as("value"))
      .as[Scd2Event])
    // finish with the batch builder's derived columns (same expressions:
    // µs-keyed scd_key and the shared rowHash, exactly as Scd2.build)
    Sinks.drain(closed.toDF(), OutputMode.Append(), queryName)
      .select(
        surrogateKey(col("user_id"), col("effective_from_us")).as("scd_key"),
        col("user_id"), col("source_event_id"), col("attr_type"),
        col("attr_value"), col("version"),
        col("effective_from_s"), col("effective_from_us"), col("effective_to_s"),
        lit(false).as("is_current"),
        when(col("version") === -1, "LATE_DEAD_LETTER")
          .when(col("version") === 1, "NEW")
          .otherwise("UPDATED").as("change_reason"),
        rowHash(col("attr_type"), fmt2(col("attr_value"))).as("change_hash"))
  }

  /** Streaming drift monitor — the readStream twin of the reference's
    * DriftDetector monitoring loop (ml_monitoring_system.py:312-358
    * consumes live feature batches against a stored reference
    * distribution). The reference histogram is computed batch-side once
    * and inlined into the streaming plan as literals; per-window PSI is
    * the SAME [[graft.ml.Monitoring.windowedDrift]] aggregation the
    * batch path runs, so streaming==batch holds exactly. */
  def driftMonitor(spark: SparkSession, dir: String,
                   queryName: String = "stream_drift"): DataFrame = {
    val ref = graft.ml.Monitoring.referenceHistogram(graft.Tables.events(spark, dir))
    // Update mode for the same state-bounding reason as performanceMonitor.
    val out = graft.ml.Monitoring
      .windowedDrift(readEvents(spark, dir).withWatermark("ts", "2 hours"), ref)
    Sinks.drain(out, OutputMode.Update(), queryName)
  }

  /** The two sides of the stream-stream attribution join: purchases and
    * non-purchase touches, filtered branches of ONE file-stream source (a
    * stream self-join — a second readEvents would stage the table twice
    * and double the per-batch file listing for no semantic difference).
    * Each branch carries its own watermark: stream-stream joins require a
    * watermark on both inputs — that, plus the time-interval join
    * condition, is what lets Spark evict matched-out state instead of
    * buffering both streams forever. */
  private def purchaseTouchStreams(spark: SparkSession, dir: String,
                                   watermark: String) = {
    val events = readEvents(spark, dir)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val touches = events
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), col("ts").as("t_ts"))
      .withWatermark("t_ts", watermark)
    (purchases, touches)
  }

  /** Stream-stream INTERVAL JOIN, un-sunk — the streaming twin of the
    * [[graft.operators.Analytics.attribution]] pair stream: every
    * purchase joined to every touch by the same user in the preceding
    * `lookback`. Inner matches emit the moment both sides have arrived
    * (no watermark wait), so a finite stream yields exactly the batch
    * join; the watermarks + the two-sided time bound are what cap the
    * buffered state on an INFINITE stream — each side holds at most
    * `lookback + watermark` of history per user, evicted as the global
    * watermark advances, regardless of stream length. Returned before
    * any sink so callers can attach their own and specs can inspect the
    * state operators the plan produces; [[touchPurchaseJoin]] /
    * [[touchPurchaseJoinOuter]] drive it through the memory sink. */
  def touchPurchaseJoined(spark: SparkSession, dir: String,
                          lookback: String = "1 hour",
                          watermark: String = "2 hours",
                          joinType: String = "inner"): DataFrame = {
    val (purchases, touches) = purchaseTouchStreams(spark, dir, watermark)
    purchases.join(touches,
        col("p_user") === col("t_user") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr(s"INTERVAL $lookback"),
        joinType)
      .select(col("purchase_id"), col("touch_id"), col("touch_type"),
        epochS(col("p_ts")).as("p_ts_s"), epochS(col("t_ts")).as("t_ts_s"))
  }

  /** [[touchPurchaseJoined]] (inner) drained through the memory sink —
    * returns the complete match table of the finite stream. */
  def touchPurchaseJoin(spark: SparkSession, dir: String,
                        queryName: String = "stream_ssjoin",
                        lookback: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    Sinks.drain(touchPurchaseJoined(spark, dir, lookback, watermark),
      OutputMode.Append(), queryName)

  /** LEFT-OUTER stream-stream interval join — same pair stream, but a
    * purchase with NO touch in its lookback window still emits (null
    * touch columns): the "direct purchase" rows the attribution mart
    * labels `direct`. Unlike the inner join, the null rows can only be
    * declared once the touch-side watermark has passed the purchase's
    * whole lookback window — so on a finite stream the LAST `watermark`
    * of purchases stays buffered (correctly: a matching touch could
    * still arrive) and never emits a null row. Specs compare against
    * batch on the provably-flushed region only. */
  def touchPurchaseJoinOuter(spark: SparkSession, dir: String,
                             queryName: String = "stream_ssjoin_outer",
                             lookback: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame =
    Sinks.drain(touchPurchaseJoined(spark, dir, lookback, watermark, "left_outer"),
      OutputMode.Append(), queryName)

  /** Custom keyed state via mapGroupsWithState: running event count per
    * user (the minimal production shape for per-entity state machines —
    * session trackers, fraud counters, CDC merge). */
  def runningUserCounts(spark: SparkSession, dir: String,
                        queryName: String = "stream_user_counts"): DataFrame = {
    import spark.implicits._
    val updateFn = (userId: Long, rows: Iterator[(Long, Long)],
                    state: GroupState[Long]) => {
      val n = state.getOption.getOrElse(0L) + rows.size
      state.update(n)
      (userId, n)
    }
    val counts = readEvents(spark, dir)
      .select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateFn)
      .toDF("user_id", "n_events")
    Sinks.drain(counts, OutputMode.Update(), queryName)
      .groupBy("user_id").agg(max("n_events").as("n_events"))
  }
}
