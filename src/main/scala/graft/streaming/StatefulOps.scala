package graft.streaming

import graft.model.ChangeEvent
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Stateful streaming operators beyond the reference's surface
  * (SURVEY.md §2.2: session windows, stream-stream joins, custom
  * state via mapGroupsWithState). The reference's only state is its
  * progress marker; these are the Spark-native stateful capabilities
  * a CDC consumer actually needs downstream.
  *
  * Scale notes: all state here is keyed and lives in the state store
  * (RocksDB-backed on a real cluster), partitioned by the group key —
  * state size is bounded by watermark/timeout, never by stream length.
  */
object StatefulOps {

  /** State TTL requires processing-time mode (Spark's transformWithState
    * contract: TTL expiry is evaluated against the batch's processing
    * timestamp); without a TTL the processors run in TimeMode.None. The
    * twins below all take a TTLConfig so a production deployment bounds
    * state to the eviction horizon — an evicted key re-entering is
    * simply treated as NEW (funnel restarts at stage 1, retention
    * re-anchors the cohort, attribution forgets the last touch, quota
    * counters reset), the documented semantics of a bounded-memory
    * incremental operator. */
  private def timeModeFor(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()

  /** Session windows per (table, action): events within `gap` of each
    * other merge into one session — the event-time generalization of
    * the mux's "flush after quiet period". */
  def sessionCounts(envelopes: DataFrame, gap: String = "5 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    envelopes
      .withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap).as("s"), col("table"))
      .agg(count(lit(1)).as("n"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col("table"), col("n"))

  /** Stream-stream inner join: deletes matched to the insert of the
    * same row (by table + row id) within an hour — the "short-lived
    * rows" detector. Both sides carry watermarks and the join
    * condition bounds event-time distance, so per-key state expires. */
  def shortLivedRows(envelopes: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val rowId = element_at(col("columns"), "id")
    val ins = envelopes.filter(col("action") === ChangeEvent.Insert)
      .select(col("table").as("i_table"), rowId.as("i_id"),
        col("timestamp").as("i_ts"))
      .withWatermark("i_ts", horizon)
    val del = envelopes.filter(col("action") === ChangeEvent.Delete)
      .select(col("table").as("d_table"), rowId.as("d_id"),
        col("timestamp").as("d_ts"))
      .withWatermark("d_ts", horizon)
    ins.join(del,
      col("i_table") === col("d_table") && col("i_id") === col("d_id") &&
        col("d_ts") >= col("i_ts") &&
        col("d_ts") <= col("i_ts") + expr(s"INTERVAL $horizon"))
      .select(col("i_table").as("table"), col("i_id").as("row_id"),
        col("i_ts"), col("d_ts"),
        (unix_millis(col("d_ts")) - unix_millis(col("i_ts"))).as("lifetime_ms"))
  }

  /** Stream-stream LEFT OUTER join: every insert, annotated with its
    * matching delete if one arrived within the horizon — or nulls once
    * the watermark proves no delete can still come. The outer side
    * emits ONLY at watermark expiry (that is the proof of absence), so
    * `deleted_at IS NULL` rows are the durable survivors. Same bounded
    * per-key state as the inner variant. */
  def insertOutcomes(envelopes: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val rowId = element_at(col("columns"), "id")
    val ins = envelopes.filter(col("action") === ChangeEvent.Insert)
      .select(col("table").as("i_table"), rowId.as("i_id"),
        col("timestamp").as("i_ts"))
      .withWatermark("i_ts", horizon)
    val del = envelopes.filter(col("action") === ChangeEvent.Delete)
      .select(col("table").as("d_table"), rowId.as("d_id"),
        col("timestamp").as("d_ts"))
      .withWatermark("d_ts", horizon)
    ins.join(del,
      col("i_table") === col("d_table") && col("i_id") === col("d_id") &&
        col("d_ts") >= col("i_ts") &&
        col("d_ts") <= col("i_ts") + expr(s"INTERVAL $horizon"),
      "leftOuter")
      .select(col("i_table").as("table"), col("i_id").as("row_id"),
        col("i_ts").as("inserted_at"), col("d_ts").as("deleted_at"))
  }

  /** Per-table cumulative change counters via mapGroupsWithState — the
    * reference's per-source event counters (postgres.go:431-447) as
    * durable keyed state: survives across micro-batches and restarts
    * (checkpointed), emits a running (table, inserts, updates, deletes)
    * row each batch the table appears in. */
  case class TableCounts(table: String, inserts: Long, updates: Long, deletes: Long)

  def runningCounts(envelopes: Dataset[ChangeEvent]): Dataset[TableCounts] = {
    import envelopes.sparkSession.implicits._
    envelopes.groupByKey(_.table)
      .mapGroupsWithState[TableCounts, TableCounts](GroupStateTimeout.NoTimeout) {
        (table: String, events: Iterator[ChangeEvent], state: GroupState[TableCounts]) =>
          val prev = state.getOption.getOrElse(TableCounts(table, 0, 0, 0))
          var (i, u, d) = (prev.inserts, prev.updates, prev.deletes)
          events.foreach { e =>
            e.action match {
              case ChangeEvent.Insert => i += 1
              case ChangeEvent.Update => u += 1
              case ChangeEvent.Delete => d += 1
              case _ =>
            }
          }
          val next = TableCounts(table, i, u, d)
          state.update(next)
          next
      }
  }

  /** Output mode required by runningCounts sinks. */
  val runningCountsOutputMode: OutputMode = OutputMode.Update()

  /** Stream-static enrichment join: each change event picks up its
    * table's static dimension row (owner, tier, …). The static side is
    * broadcast — re-resolved per micro-batch, so a dimension refresh
    * lands without restarting the stream. No state, no watermark: the
    * static side is never late. */
  def enriched(envelopes: DataFrame, tableDim: DataFrame): DataFrame =
    envelopes.join(org.apache.spark.sql.functions.broadcast(tableDim),
      Seq("table"), "left")

  case class WalAnomaly(table: String, walPosition: Long, lastWal: Long)

  /** Spark-4-native custom state (`transformWithState`): per-table WAL
    * monotonicity monitor. The reference trusts its WAL positions to
    * only move forward (postgres.go:350, 358-377); this operator turns
    * that assumption into a checked invariant — any event whose
    * walPosition is ≤ the table's high-water mark is emitted as an
    * anomaly (a replay, a rewind, or an out-of-order source).
    *
    * `StatefulProcessor` + `ValueState` is the modern replacement for
    * (flat)mapGroupsWithState: typed named state cells, TTL support,
    * timers — and it REQUIRES the RocksDB state store provider, which
    * is how it stays off-heap at scale. State here is one long per
    * table — O(tables), nothing more. */
  final class WalMonitorProcessor
      extends StatefulProcessor[String, ChangeEvent, WalAnomaly] {
    @transient private var lastWal: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastWal = getHandle.getValueState[Long]("lastWal", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(table: String, rows: Iterator[ChangeEvent],
        tv: TimerValues): Iterator[WalAnomaly] = {
      var last = if (lastWal.exists()) lastWal.get() else -1L
      val out = scala.collection.mutable.ArrayBuffer[WalAnomaly]()
      rows.foreach { e =>
        if (e.walPosition <= last) out += WalAnomaly(table, e.walPosition, last)
        else last = e.walPosition
      }
      lastWal.update(last)
      out.iterator
    }
  }

  /** WAL-regression anomalies per table (see [[WalMonitorProcessor]]).
    * Requires `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (enforced by transformWithState). */
  def walAnomalies(envelopes: Dataset[ChangeEvent]): Dataset[WalAnomaly] = {
    import envelopes.sparkSession.implicits._
    envelopes.groupByKey(_.table)
      .transformWithState(new WalMonitorProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  case class TableSession(table: String, start_ms: Long, end_ms: Long, n: Long)

  /** Closed-session emission via flatMapGroupsWithState + event-time
    * timeout: a per-table session stays open while events keep arriving
    * within `gapSec`; once the watermark passes last-event + gap, the
    * timeout fires and the CLOSED session is emitted exactly once.
    * This is the custom-state generalization of `session_window` —
    * the shape to reach for when the per-group logic outgrows what
    * windows express (mixed timeout kinds, speculative emits, side
    * outputs). State is one small tuple per active key, watermark-
    * bounded — O(active keys), never O(stream). */
  def closedSessions(envelopes: Dataset[ChangeEvent], gapSec: Long = 60)
      : Dataset[TableSession] = {
    import envelopes.sparkSession.implicits._
    envelopes
      .withWatermark("timestamp", "0 seconds")
      .groupByKey(_.table)
      .flatMapGroupsWithState[TableSession, TableSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (table: String, events: Iterator[ChangeEvent],
         state: GroupState[TableSession]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator(closed)
          } else {
            val ts = events.map(_.timestamp.getTime).toSeq
            val cur = state.getOption.getOrElse(
              TableSession(table, ts.min, ts.max, 0L))
            val next = TableSession(table,
              math.min(cur.start_ms, ts.min),
              math.max(cur.end_ms, ts.max),
              cur.n + ts.size)
            state.update(next)
            // A timeout at-or-before the current watermark throws
            // IllegalArgumentException and kills the whole query; clamp
            // so a group whose session end trails the global watermark
            // times out on the very next batch instead of crashing.
            state.setTimeoutTimestamp(
              math.max(next.end_ms + gapSec * 1000,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class FunnelEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  /** A user newly reaching funnel stage 1/2/3 (view / click-after-view /
    * purchase-after-click) at event-time `tus` (µs). Emitted at most
    * once per (user, stage), so stage counts are plain row counts. */
  case class FunnelHit(user_id: Long, stage: Int, tus: Long)

  private[graft] case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** The ordered-funnel transition shared by BOTH funnel processors:
    * advance a stage only on an event STRICTLY AFTER the previous
    * stage's entry — the batch query's conditional min-aggregate
    * semantics. Folds `rows` (sorted by event time) into (state',
    * emitted hits). Its batch-split law — splitting a sorted sequence
    * anywhere and threading the state yields the same hits as one
    * pass — is ScalaCheck'd in FunnelLaws; that law IS the
    * micro-batch-boundary correctness argument. */
  private[graft] def advanceFunnel(user: Long, s0: FunnelState,
      rows: Seq[FunnelEvent]): (FunnelState, Seq[FunnelHit]) = {
    var s = s0
    val out = scala.collection.mutable.ArrayBuffer[FunnelHit]()
    rows.foreach { e =>
      val tus = micros(e.ts)
      e.event_type match {
        case "view" if s.t1 < 0 =>
          s = s.copy(t1 = tus); out += FunnelHit(user, 1, tus)
        case "click" if s.t1 >= 0 && s.t2 < 0 && tus > s.t1 =>
          s = s.copy(t2 = tus); out += FunnelHit(user, 2, tus)
        case "purchase" if s.t2 >= 0 && s.t3 < 0 && tus > s.t2 =>
          s = s.copy(t3 = tus); out += FunnelHit(user, 3, tus)
        case _ =>
      }
    }
    (s, out.toSeq)
  }

  /** The incremental twin of the batch ordered funnel
    * (`EventOps.qFunnel`): per-user stage entry times as keyed
    * `transformWithState` state (three longs — O(users), constant per
    * key), advancing stages via [[advanceFunnel]] — the same semantics
    * as the batch conditional min-aggregates. Events are sorted by
    * event time WITHIN each batch, so a replay of a fixture in
    * timestamp order produces stage counts identical to the batch
    * query (asserted in StatefulOpsSpec); out-of-order arrivals ACROSS
    * batches cannot retro-lower an already-claimed stage time — the
    * inherent incremental-vs-batch gap. NOTE on lateness and state:
    * without a TTL (`TimeMode.None`) transformWithState applies NO
    * late-record filtering and NO eviction — the upstream watermark
    * only governs downstream operators — so the stage guards must stay
    * safe under arbitrarily late input, and state is O(all users ever
    * seen). Pass a `ttl` to bound state to the eviction horizon
    * (O(users active within TTL)): an evicted user re-entering
    * restarts at stage 1 — see [[timeModeFor]]. */
  final class FunnelProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, FunnelEvent, FunnelHit] {
    @transient private var st: ValueState[FunnelState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], ttl)
    override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
        tv: TimerValues): Iterator[FunnelHit] = {
      val s0 = if (st.exists()) st.get() else FunnelState(-1L, -1L, -1L)
      val (s, out) = advanceFunnel(user, s0,
        rows.toSeq.sortBy(e => micros(e.ts)))
      st.update(s)
      out.iterator
    }
  }

  /** Watermarked streaming funnel over a `FunnelEvent` stream — see
    * [[FunnelProcessor]]. Requires the RocksDB state store provider
    * (transformWithState's contract). */
  def streamingFunnel(events: Dataset[FunnelEvent],
      watermark: String = "1 hour",
      ttl: TTLConfig = TTLConfig.NONE): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  /** EVENT-TIME eviction shell shared by the funnel / attribution /
    * retention twins: instead of a processing-time TTL, each key
    * carries ONE armed event-time timer at (last activity + horizon);
    * when the WATERMARK proves the key has been inactive that long,
    * the timer fires and the state is cleared — eviction keyed to the
    * data's own clock, deterministic under replay (a reprocessed
    * stream evicts at the same points, which a wall-clock TTL cannot
    * promise). State is O(keys active within the horizon) plus one
    * timer each. Trade-off vs the TTL variants: event-time mode
    * applies Spark's late-record filtering, so events at or below the
    * watermark never reach the processor — the right contract for
    * analytics state, stricter than the TTL twins' accept-anything
    * behavior. Subclasses own the domain state cells and the
    * per-batch fold; the shell owns the activity clock, the in-band
    * eviction check, timer re-arming, and the stale-timer guard. */
  private[graft] abstract class EventTimeEvictor[K, I, O](horizonMs: Long)
      extends StatefulProcessor[K, I, O] {
    @transient private var lastSeenMs: ValueState[Long] = _
    /** Create the domain state cells (called from init). */
    protected def initState(): Unit
    /** Clear every domain state cell — eviction must drop the key's
      * whole incarnation at once (one eviction clock for all cells). */
    protected def clearState(): Unit
    /** Fold this batch's rows (already sorted by [[sortKey]]) into the
      * domain state. `fresh` means the in-band check just evicted the
      * key — treat it as never seen even if a cleared cell still
      * claims to exist within this batch. */
    protected def advance(key: K, sorted: Seq[I], fresh: Boolean): Iterator[O]
    /** Replay-deterministic within-batch order (post-shuffle order is
      * not contractual). */
    protected def sortKey(row: I): (Long, Long)
    /** The row's event time in ms — feeds the inactivity clock. */
    protected def eventMs(row: I): Long

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastSeenMs = getHandle.getValueState[Long]("lastSeen",
        Encoders.scalaLong, TTLConfig.NONE)
      initState()
    }
    override def handleInputRows(key: K, rows: Iterator[I],
        tv: TimerValues): Iterator[O] = {
      // Spark delivers a batch's INPUT ROWS before its expired timers,
      // and the delete-then-register below would cancel a not-yet-fired
      // expired timer — so the eviction check must ALSO run in-band: if
      // the current watermark already proves the inactivity horizon
      // passed, this key re-enters as new right here, independent of
      // timer scheduling. Keeps eviction watermark-exact under
      // back-to-back data batches and with no-data microbatches off.
      val prevSeen =
        if (lastSeenMs.exists()) lastSeenMs.get() else Long.MinValue
      val evicted = prevSeen != Long.MinValue &&
        tv.getCurrentWatermarkInMs() >= prevSeen + horizonMs
      if (evicted) clearState()
      val sorted = rows.toSeq.sortBy(sortKey)
      // RUNNING max of activity time, never a plain overwrite: a late
      // (above-watermark) event from the past must not pull the
      // inactivity deadline backwards and evict an active key early.
      // After an eviction the clock re-anchors to this batch alone.
      val lastMs = math.max(
        if (evicted) Long.MinValue else prevSeen,
        sorted.map(eventMs).max)
      val out = advance(key, sorted, evicted)
      lastSeenMs.update(lastMs)
      // one armed timer per key: re-arm the inactivity deadline at
      // each batch the key appears in (delete-then-register keeps it
      // single); clamp above the current watermark — an already-passed
      // deadline must still fire, on the very next batch
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(
        math.max(lastMs + horizonMs, tv.getCurrentWatermarkInMs() + 1))
      out
    }
    override def handleExpiredTimer(key: K, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[O] = {
      // STALE-TIMER GUARD: if this batch's input rows already
      // re-anchored the key (data delivered before expired timers),
      // the deadline implied by the CURRENT activity clock is newer
      // than the timer that just fired — deleting an expired-but-
      // unfired timer is not contractual across Spark versions, so a
      // stale fire must not wipe the fresh incarnation. Evict only
      // when the fired timer still proves the full horizon idle.
      val seen = if (lastSeenMs.exists()) lastSeenMs.get() else Long.MinValue
      if (seen == Long.MinValue || seen + horizonMs <= info.getExpiryTimeInMs()) {
        clearState()
        lastSeenMs.clear()
      }
      Iterator.empty
    }
  }

  /** Event-time eviction for the funnel — see [[EventTimeEvictor]].
    * An evicted user's next view restarts the funnel at stage 1. */
  final class FunnelProcessorEventTime(horizonMs: Long)
      extends EventTimeEvictor[Long, FunnelEvent, FunnelHit](horizonMs) {
    @transient private var st: ValueState[FunnelState] = _
    override protected def initState(): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], TTLConfig.NONE)
    override protected def clearState(): Unit = st.clear()
    override protected def sortKey(e: FunnelEvent): (Long, Long) = (micros(e.ts), 0L)
    override protected def eventMs(e: FunnelEvent): Long = e.ts.getTime
    override protected def advance(user: Long, sorted: Seq[FunnelEvent],
        fresh: Boolean): Iterator[FunnelHit] = {
      val s0 = if (st.exists() && !fresh) st.get() else FunnelState(-1L, -1L, -1L)
      val (s, out) = advanceFunnel(user, s0, sorted)
      st.update(s)
      out.iterator
    }
  }

  /** [[streamingFunnel]] with event-time inactivity eviction — see
    * [[FunnelProcessorEventTime]]. RocksDB state store required. */
  def streamingFunnelEventTime(events: Dataset[FunnelEvent],
      watermark: String = "1 hour", horizonMs: Long = 86400000L)
      : Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessorEventTime(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class PathEvent(user_id: Long, event_id: Long, event_type: String,
      ts: java.sql.Timestamp)
  case class PathHit(user_id: Long, session_id: Long, path: String)

  /** (session counter, last event micros, last-two event types of the
    * open session, events seen in the open session saturated at 3).
    * The warm-up is counted EXPLICITLY (ADVICE r9): the old
    * `e1.isEmpty` sentinel made a genuinely-empty `event_type`
    * suppress trigram emission, silently diverging from the batch
    * twin whose `concat_ws` happily emits empty segments. */
  private[graft] case class PathState(sid: Long, lastTus: Long,
      e1: String, e2: String, nSeen: Int)

  /** The session-trigram transition shared by the streaming processor
    * and PathLaws: fold `rows` (sorted by (tus, event_id)) into
    * (state', emitted (session_id, path) trigrams). A >30-minute gap
    * opens a new session (trigram windows never span it — the batch
    * `EventOps.sessionTrigrams` semantics); within a session each
    * event completes one trigram once two predecessors exist.
    * Split law (PathLaws): cutting the sorted sequence anywhere and
    * threading the state emits exactly the one-pass trigrams — the
    * micro-batch-boundary correctness argument. In-order delivery per
    * user is the contract, as for the funnel twin. */
  private[graft] def advancePaths(st0: Option[PathState],
      rows: Seq[(Long, Long, String)]): (PathState, Seq[(Long, String)]) = {
    var st = st0.getOrElse(PathState(0L, Long.MinValue, "", "", 0))
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    rows.foreach { case (tus, _, et) =>
      if (st.lastTus == Long.MinValue || tus - st.lastTus > 1800000000L)
        st = PathState(st.sid + 1, tus, "", et, 1)
      else {
        if (st.nSeen >= 2) out += ((st.sid, s"${st.e1}>${st.e2}>$et"))
        st = PathState(st.sid, tus, st.e2, et, math.min(st.nSeen + 1, 3))
      }
    }
    (st, out.toSeq)
  }

  /** The incremental twin of the batch session-path relation
    * (`EventOps.sessionTrigrams`, whose top-20 rollup is
    * `q_event_paths`): per-user (session counter, last-2 events) as
    * keyed `transformWithState` state — O(users), constant bytes per
    * key — emitting each completed trigram exactly once. Replayed
    * over a fixture in (ts, event_id) order the emissions equal the
    * batch relation row-for-row (StatefulOpsSpec); the downstream
    * top-k is an ordinary streaming aggregation over the emitted
    * paths. Same lateness/TTL contract as [[FunnelProcessor]]. */
  final class PathsProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, PathEvent, PathHit] {
    @transient private var st: ValueState[PathState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PathState]("paths",
        Encoders.product[PathState], ttl)
    override def handleInputRows(user: Long, rows: Iterator[PathEvent],
        tv: TimerValues): Iterator[PathHit] = {
      val s0 = if (st.exists()) Some(st.get()) else None
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        .map(e => (micros(e.ts), e.event_id, e.event_type))
      val (s, out) = advancePaths(s0, sorted)
      st.update(s)
      out.iterator.map { case (sid, p) => PathHit(user, sid, p) }
    }
  }

  /** Watermarked streaming session-path miner — see [[PathsProcessor]].
    * Requires the RocksDB state store provider. */
  def streamingEventPaths(events: Dataset[PathEvent],
      watermark: String = "1 hour",
      ttl: TTLConfig = TTLConfig.NONE): Dataset[PathHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new PathsProcessor(ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  case class TouchEvent(event_id: Long, user_id: Long, event_type: String,
      ts: java.sql.Timestamp)
  case class AttributionHit(purchase_id: Long, touch_id: Long, latency_us: Long)

  private[graft] case class TouchState(tus: Long, id: Long)

  /** Full-precision event-time µs from a java.sql.Timestamp (getTime
    * alone is ms-truncated; the nanos field carries the sub-second).
    * floorDiv, not `/`: getTime truncates toward zero while getNanos
    * is always non-negative, so plain division is ~1s high for any
    * pre-epoch timestamp. */
  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** The incremental twin of batch last-touch attribution
    * (`EventOps.qAttribution`): per-user state is ONE (time, id) pair —
    * the latest click/view seen — and each purchase emits its
    * attribution immediately if the touch is AT OR BEFORE it and
    * within the 1-hour window (the `tus >= s.tus` guard: a late
    * purchase arriving after a newer touch must not be credited to
    * that FUTURE touch with negative latency; the batch twin's
    * trailing ROWS frame can only see earlier touches). Same
    * semantics as the batch ignore-nulls `last()` over the trailing
    * ROWS frame when events replay in (time, id) order (asserted
    * row-identical in StatefulOpsSpec); state is O(users) × one
    * struct, the smallest possible — same lateness caveat and TTL
    * bound as [[FunnelProcessor]] (an evicted user's next purchase
    * simply finds no touch to credit). */
  private[graft] val AttributionMaxLagUs = 3600L * 1000000L

  /** The last-touch transition the attribution processor folds
    * through: clicks/views replace the remembered touch; a purchase
    * credits the touch if it is at-or-before the purchase and within
    * [[AttributionMaxLagUs]]. `s0` is null when no touch is known.
    * Its batch-split law (cutting a sorted sequence anywhere and
    * threading the touch state yields the one-pass hits) is
    * ScalaCheck'd in AttributionLaws — the micro-batch-boundary
    * correctness argument. */
  private[graft] def advanceAttribution(s0: TouchState,
      rows: Seq[TouchEvent]): (TouchState, Seq[AttributionHit]) = {
    var s = s0
    val out = scala.collection.mutable.ArrayBuffer[AttributionHit]()
    rows.foreach { e =>
      val tus = micros(e.ts)
      e.event_type match {
        case "click" | "view" => s = TouchState(tus, e.event_id)
        case "purchase" if s != null && tus >= s.tus &&
            tus - s.tus <= AttributionMaxLagUs =>
          out += AttributionHit(e.event_id, s.id, tus - s.tus)
        case _ =>
      }
    }
    (s, out.toSeq)
  }

  final class AttributionProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, TouchEvent, AttributionHit] {
    @transient private var st: ValueState[TouchState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TouchState]("touch",
        Encoders.product[TouchState], ttl)
    override def handleInputRows(user: Long, rows: Iterator[TouchEvent],
        tv: TimerValues): Iterator[AttributionHit] = {
      val s0 = if (st.exists()) st.get() else null
      val (s, out) = advanceAttribution(s0,
        rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)))
      if (s != null) st.update(s)
      out.iterator
    }
  }

  /** Watermarked streaming last-touch attribution — see
    * [[AttributionProcessor]]. RocksDB state store required. */
  def streamingAttribution(events: Dataset[TouchEvent],
      watermark: String = "1 hour",
      ttl: TTLConfig = TTLConfig.NONE): Dataset[AttributionHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor(ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  /** Event-time eviction for last-touch attribution — see
    * [[EventTimeEvictor]]. An evicted user's next purchase finds no
    * touch to credit (the remembered touch is forgotten at the
    * inactivity horizon, independent of [[AttributionMaxLagUs]]). */
  final class AttributionProcessorEventTime(horizonMs: Long)
      extends EventTimeEvictor[Long, TouchEvent, AttributionHit](horizonMs) {
    @transient private var st: ValueState[TouchState] = _
    override protected def initState(): Unit =
      st = getHandle.getValueState[TouchState]("touch",
        Encoders.product[TouchState], TTLConfig.NONE)
    override protected def clearState(): Unit = st.clear()
    override protected def sortKey(e: TouchEvent): (Long, Long) =
      (micros(e.ts), e.event_id)
    override protected def eventMs(e: TouchEvent): Long = e.ts.getTime
    override protected def advance(user: Long, sorted: Seq[TouchEvent],
        fresh: Boolean): Iterator[AttributionHit] = {
      val s0 = if (st.exists() && !fresh) st.get() else null
      val (s, out) = advanceAttribution(s0, sorted)
      if (s != null) st.update(s)
      out.iterator
    }
  }

  /** [[streamingAttribution]] with event-time inactivity eviction —
    * see [[AttributionProcessorEventTime]]. RocksDB state store
    * required. */
  def streamingAttributionEventTime(events: Dataset[TouchEvent],
      watermark: String = "1 hour", horizonMs: Long = 86400000L)
      : Dataset[AttributionHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessorEventTime(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class RetentionEvent(user_id: Long, ts: java.sql.Timestamp)
  /** User's first activity in a (cohort_day, week_offset) cell —
    * emitted once per cell, so cell counts are plain row counts. */
  case class RetentionHit(user_id: Long, cohort_day: Long, week_offset: Long)

  private[graft] case class RetentionState(cohort: Long, weeksMask: Long)

  /** The incremental twin of batch cohort retention
    * (`EventOps.qRetention`): per-user state is the cohort day (day of
    * first event) plus a BITMASK of week offsets already credited —
    * two longs per user for the common case. Weeks 0–63 live in the
    * mask; weeks BEYOND the 64-week mask horizon (a years-long stream)
    * spill into a `MapState` keyed by week offset, so no cell is ever
    * dropped and no data-dependent assert can kill the query — the
    * emit-once contract holds across the whole stream lifetime, with
    * map entries only for the rare far-horizon weeks. Each
    * (user, week) cell emits exactly once, so the streaming cell
    * counts equal the batch COUNT(DISTINCT user) per
    * (cohort_day, week_offset) under in-order replay (asserted in
    * StatefulOpsSpec). Same lateness caveat and TTL bound as
    * [[FunnelProcessor]] (an evicted user re-anchors their cohort at
    * the next event); events earlier than the recorded cohort day are
    * dropped (see below). */
  private val RetentionDayUs = 86400000000L

  /** The cohort-retention transition the streaming processor folds
    * through: the first event anchors the cohort day; each event's
    * week offset emits once — weeks 0–63 tracked in the bitmask, far
    * weeks in the `far` set (the MapState's pure image). Events before
    * the cohort are dropped (the incremental cohort cannot be
    * retro-lowered, and a negative week must never reach the shift —
    * 1L << -1 wraps to bit 63). `s0` is null for a fresh user. Its
    * batch-split law — including splits that land ON the week-64
    * bitmask/map boundary — is ScalaCheck'd in RetentionLaws. */
  private[graft] def advanceRetention(user: Long, s0: RetentionState,
      far0: Set[Long], rows: Seq[RetentionEvent])
      : (RetentionState, Set[Long], Seq[RetentionHit]) = {
    var s = s0
    var far = far0
    val out = scala.collection.mutable.ArrayBuffer[RetentionHit]()
    rows.foreach { e =>
      val day = Math.floorDiv(micros(e.ts), RetentionDayUs)
      if (s == null) s = RetentionState(day, 0L)
      if (day >= s.cohort) {
        val week = (day - s.cohort) / 7
        if (week < 64) {
          if ((s.weeksMask & (1L << week)) == 0L) {
            s = s.copy(weeksMask = s.weeksMask | (1L << week))
            out += RetentionHit(user, s.cohort, week)
          }
        } else if (!far(week)) {
          far += week
          out += RetentionHit(user, s.cohort, week)
        }
      }
    }
    (s, far, out.toSeq)
  }

  final class RetentionProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, RetentionEvent, RetentionHit] {
    @transient private var st: ValueState[RetentionState] = _
    @transient private var farWeeks: MapState[Long, Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[RetentionState]("retention",
        Encoders.product[RetentionState], ttl)
      farWeeks = getHandle.getMapState[Long, Boolean]("farWeeks",
        Encoders.scalaLong, Encoders.scalaBoolean, ttl)
    }
    override def handleInputRows(user: Long, rows: Iterator[RetentionEvent],
        tv: TimerValues): Iterator[RetentionHit] = {
      val s0 = if (st.exists()) st.get() else null
      // a fresh OR TTL-evicted user must not inherit far-week cells
      // from a previous incarnation: stale entries are keyed by offsets
      // from the OLD cohort and would wrongly suppress new-cohort cells
      if (s0 == null) farWeeks.clear()
      val far0: Set[Long] =
        if (s0 == null) Set.empty else farWeeks.keys().toSet
      val (s, far, out) = advanceRetention(user, s0, far0,
        rows.toSeq.sortBy(e => micros(e.ts)))
      if (s != null) st.update(s)
      // BOTH state cells must ride ONE eviction clock: st.update above
      // refreshes the bitmask's TTL on any activity, but MapState TTL
      // is per-entry-from-last-write — without a matching refresh, a
      // continuously-active user's old far-week entry could expire and
      // the cell re-emit (emit-once broken). Rewriting the (rare)
      // far-week keys when a TTL is set keeps value and map expiring
      // together: active user keeps both, fully-idle user loses both.
      val toWrite = if (ttl != TTLConfig.NONE) far else far -- far0
      toWrite.foreach(k => farWeeks.updateValue(k, true))
      out.iterator
    }
  }

  /** Watermarked streaming cohort retention — see
    * [[RetentionProcessor]]. RocksDB state store required. */
  def streamingRetention(events: Dataset[RetentionEvent],
      watermark: String = "1 hour",
      ttl: TTLConfig = TTLConfig.NONE): Dataset[RetentionHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new RetentionProcessor(ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  /** Event-time eviction for cohort retention — see
    * [[EventTimeEvictor]]. An evicted user re-anchors their cohort at
    * the next event; the far-week map rides the same eviction clock
    * as the bitmask (both cells clear together, so the emit-once
    * contract holds per incarnation). */
  final class RetentionProcessorEventTime(horizonMs: Long)
      extends EventTimeEvictor[Long, RetentionEvent, RetentionHit](horizonMs) {
    @transient private var st: ValueState[RetentionState] = _
    @transient private var farWeeks: MapState[Long, Boolean] = _
    override protected def initState(): Unit = {
      st = getHandle.getValueState[RetentionState]("retention",
        Encoders.product[RetentionState], TTLConfig.NONE)
      farWeeks = getHandle.getMapState[Long, Boolean]("farWeeks",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override protected def clearState(): Unit = { st.clear(); farWeeks.clear() }
    override protected def sortKey(e: RetentionEvent): (Long, Long) =
      (micros(e.ts), 0L)
    override protected def eventMs(e: RetentionEvent): Long = e.ts.getTime
    override protected def advance(user: Long, sorted: Seq[RetentionEvent],
        fresh: Boolean): Iterator[RetentionHit] = {
      val s0 = if (st.exists() && !fresh) st.get() else null
      // a fresh user must not inherit far-week cells from a previous
      // incarnation (stale offsets keyed to the OLD cohort)
      if (s0 == null) farWeeks.clear()
      val far0: Set[Long] =
        if (s0 == null) Set.empty else farWeeks.keys().toSet
      val (s, far, out) = advanceRetention(user, s0, far0, sorted)
      if (s != null) st.update(s)
      (far -- far0).foreach(k => farWeeks.updateValue(k, true))
      out.iterator
    }
  }

  /** [[streamingRetention]] with event-time inactivity eviction — see
    * [[RetentionProcessorEventTime]]. RocksDB state store required. */
  def streamingRetentionEventTime(events: Dataset[RetentionEvent],
      watermark: String = "1 hour", horizonMs: Long = 86400000L)
      : Dataset[RetentionHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new RetentionProcessorEventTime(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class MetricEvent(event_id: Long, event_type: String, value: Double,
      ts: java.sql.Timestamp)
  /** An arriving metric flagged as an outlier against the running
    * per-type statistics AT ARRIVAL TIME (prefix stats). */
  case class OutlierHit(event_id: Long, event_type: String, value: Double,
      z: Double)

  private[graft] case class WelfordState(n: Long, mean: Double, m2: Double)

  /** One Welford update: numerically stable running (n, mean, M2).
    * Accuracy vs the two-pass reference is ScalaCheck'd in
    * WelfordLaws. */
  private[graft] def welfordStep(s: WelfordState, v: Double): WelfordState = {
    val n1 = s.n + 1
    val d = v - s.mean
    val mean1 = s.mean + d / n1
    WelfordState(n1, mean1, s.m2 + d * (v - mean1))
  }

  /** The incremental twin of the batch z-score outlier scan
    * (`EventOps.qZscoreOutliers`): per-type running (count, mean, M2)
    * maintained by WELFORD'S update — the numerically stable one-pass
    * recurrence (naive Σx²−(Σx)² cancels catastrophically on a long
    * stream; the batch twin dodges that with exact decimal sums, which
    * a per-event state cell cannot afford). Each event is scored
    * against the statistics of everything BEFORE it (score-then-update
    * — the only decision a live detector can make; the batch twin sees
    * the whole distribution, so flagged sets differ by design near the
    * threshold), after a `minN` warm-up. State is one (n, mean, m2)
    * triple per event type — O(types) scalars. Same TTL knob as the
    * other twins. */
  final class ZscoreProcessor(minN: Long, threshold: Double,
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, MetricEvent, OutlierHit] {
    @transient private var st: ValueState[WelfordState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[WelfordState]("welford",
        Encoders.product[WelfordState], ttl)
    override def handleInputRows(eventType: String, rows: Iterator[MetricEvent],
        tv: TimerValues): Iterator[OutlierHit] = {
      var s = if (st.exists()) st.get() else WelfordState(0L, 0.0, 0.0)
      val out = scala.collection.mutable.ArrayBuffer[OutlierHit]()
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        if (s.n >= minN) {
          val sd = math.sqrt(s.m2 / s.n)
          if (sd > 0) {
            val z = (e.value - s.mean) / sd
            if (math.abs(z) >= threshold)
              out += OutlierHit(e.event_id, eventType, e.value, z)
          }
        }
        s = welfordStep(s, e.value)
      }
      st.update(s)
      out.iterator
    }
  }

  /** Streaming z-score outlier detection — see [[ZscoreProcessor]].
    * RocksDB state store required. */
  def streamingZscoreOutliers(events: Dataset[MetricEvent],
      watermark: String = "1 hour", minN: Long = 30, threshold: Double = 3.0,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[OutlierHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .transformWithState(new ZscoreProcessor(minN, threshold, ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  case class DailyCount(event_type: String, day: Long, cnt: Long)
  case class EwmaPoint(event_type: String, day: Long, cnt: Long,
    ewma_scaled: Long)
  /** Last ≤20 daily counts, most-recent-first; `lastDay` = counts.head's day. */
  case class EwmaState(lastDay: Long, counts: Seq[Long])

  private[graft] val EwmaHorizon = 20

  /** The EWMA transition for ONE event type: given the stored tail and
    * this batch's ascending (day, cnt) rows, reconstruct the zero-count
    * GAP DAYS since the last seen day by shifting the tail (the
    * streaming gap fill — a quiet day must decay the average exactly
    * like the batch spine's zero row), emit the fixed-point smoothed
    * value (weight of lag i = 2^(19−i), exact Long — identical to the
    * batch `EventOps.qEwmaDaily` formula), and advance the tail.
    * Re-delivered days (day ≤ lastDay) are dropped — replay-idempotent.
    * Split law (any batch cut + threaded state = one-pass) is
    * ScalaCheck'd in EwmaLaws. */
  private[graft] def advanceEwma(st0: Option[EwmaState],
      rows: Seq[(Long, Long)]): (Option[EwmaState], Seq[(Long, Long, Long)]) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    rows.sortBy(_._1).foreach { case (day, cnt) =>
      if (!st.exists(_.lastDay >= day)) {
        val tail: Seq[Long] = st match {
          case None => Seq.empty
          case Some(EwmaState(last, counts)) =>
            val gap = math.min(day - last - 1, EwmaHorizon.toLong).toInt
            (Seq.fill(gap)(0L) ++ counts).take(EwmaHorizon - 1)
        }
        val window = (cnt +: tail).padTo(EwmaHorizon, 0L)
        val scaled = window.zipWithIndex.map {
          case (c, i) => c * (1L << (EwmaHorizon - 1 - i)) }.sum
        out += ((day, cnt, scaled))
        st = Some(EwmaState(day, cnt +: tail))
      }
    }
    (st, out.toSeq)
  }

  final class EwmaProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, DailyCount, EwmaPoint] {
    @transient private var st: ValueState[EwmaState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EwmaState]("ewmaTail",
        Encoders.product[EwmaState], ttl)
    override def handleInputRows(eventType: String, rows: Iterator[DailyCount],
        tv: TimerValues): Iterator[EwmaPoint] = {
      val st0 = if (st.exists()) Some(st.get()) else None
      val (st1, out) = advanceEwma(st0, rows.map(r => (r.day, r.cnt)).toSeq)
      st1.foreach(st.update)
      out.iterator.map { case (d, c, s) => EwmaPoint(eventType, d, c, s) }
    }
  }

  /** STREAMING EWMA twin of the batch `EventOps.qEwmaDaily`: the input
    * is the daily per-type count stream (what a windowed upstream agg
    * emits — zero-count days never arrive, which is exactly why the
    * processor's gap shift exists), state is one ≤20-long tail per
    * event type (O(types × horizon) — TTL-boundable like every twin
    * here), and each arriving day emits the same exact fixed-point
    * smoothed value as the batch spine query at that (type, day) —
    * asserted row-for-row in StatefulOpsSpec. RocksDB state store
    * required. */
  def streamingEwma(counts: Dataset[DailyCount],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[EwmaPoint] = {
    import counts.sparkSession.implicits._
    counts.groupByKey(_.event_type)
      .transformWithState(new EwmaProcessor(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  /** Per-user daily purchase spend, integer cents — what a windowed
    * upstream (user, day) rollup emits (the [[DailyCount]] convention:
    * quiet days never arrive). */
  case class PurchaseDay(user_id: Long, day: Long, cents: Long)
  /** One user-day's contribution to the experiment's day-d arm
    * moments: Δn (1 on the user's entry day), ΔΣ = cents added, and
    * ΔΣ² = cum² − prev² — the TELESCOPING identity that makes the
    * monitor incremental: summing a user's deltas through day d
    * reproduces m(d), m(d)² exactly, so a rollup of deltas equals the
    * batch monitor's carry-forward moments without ever revisiting a
    * user's history. */
  case class MomentDelta(day: Long, arm: Int, dn: Long, dsum: Long,
    dsumsq: Long)
  case class SeqMonState(lastDay: Long, cum: Long)

  /** The md5 50/50 assignment, JVM-side — bit-identical to the column
    * form every batch A/B query uses (`SamplingOps.bucket100 % 2`:
    * first 4 hex chars of md5 of the decimal string). */
  private[graft] def md5Arm(userId: Long): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(userId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(4)
    Integer.parseInt(hex, 16) % 100 % 2
  }

  /** The sequential-monitor transition for ONE user: ascending
    * purchase days accumulate into the running cents total; each new
    * day emits its moment delta. Re-delivered or out-of-order days
    * (day ≤ lastDay) are dropped — replay-idempotent, the
    * [[advanceEwma]] discipline. Exactness: all Longs; cum² is exact
    * up to cum < 3.0e9 cents (~$30M per user), documented headroom for
    * any per-user spend this pipeline meters. Split law + telescoping
    * law + re-delivery law are ScalaCheck'd in SeqMonitorLaws. */
  private[graft] def advanceSeqMoments(st0: Option[SeqMonState], arm: Int,
      rows: Seq[(Long, Long)]): (Option[SeqMonState], Seq[MomentDelta]) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer[MomentDelta]()
    rows.sortBy(_._1).foreach { case (day, cents) =>
      if (!st.exists(_.lastDay >= day)) {
        val prev = st.map(_.cum).getOrElse(0L)
        val cum = prev + cents
        out += MomentDelta(day, arm, if (st.isEmpty) 1L else 0L, cents,
          cum * cum - prev * prev)
        st = Some(SeqMonState(day, cum))
      }
    }
    (st, out.toSeq)
  }

  final class SeqMonitorProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, PurchaseDay, MomentDelta] {
    @transient private var st: ValueState[SeqMonState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SeqMonState]("seqMonCum",
        Encoders.product[SeqMonState], ttl)
    override def handleInputRows(userId: Long, rows: Iterator[PurchaseDay],
        tv: TimerValues): Iterator[MomentDelta] = {
      val st0 = if (st.exists()) Some(st.get()) else None
      val (st1, out) = advanceSeqMoments(st0, md5Arm(userId),
        rows.map(r => (r.day, r.cents)).toSeq)
      st1.foreach(st.update)
      out.iterator
    }
  }

  /** STREAMING twin of the batch mSPRT monitor
    * (`EventOps.qAbSequential`) — sequential testing is the statistic
    * DESIGNED for streams, so the always-valid monitor should never
    * need a batch rescan: state is ONE (lastDay, cum) pair per user
    * (O(users), TTL-boundable), each arriving user-day emits its
    * moment DELTA, and the day-level readout is a days-sized rollup
    * of deltas ([[sequentialReadout]]) that telescopes to the batch
    * monitor's carry-forward moments EXACTLY (asserted row-for-row in
    * StatefulOpsSpec). The heavy half (per-user accumulation) scales
    * with arrival volume; the scalar half reads a days × arms
    * relation. RocksDB state store required. */
  def streamingSeqMonitor(purchases: Dataset[PurchaseDay],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[MomentDelta] = {
    import purchases.sparkSession.implicits._
    purchases.groupByKey(_.user_id)
      .transformWithState(new SeqMonitorProcessor(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  /** Day-level readout over the accumulated delta table: per-day
    * per-arm delta sums, cumulative over days (the telescoping sum),
    * then the SHARED scalar pipeline `EventOps.msprtScalars` — the
    * same expression tree as the batch monitor, so identical integer
    * moments yield identical IEEE doubles. Every window here reads
    * the days-sized post-aggregate relation. Readout rows appear on
    * days WITH arrivals — on a corpus-quiet day no delta exists and
    * the monitor's value is by definition the previous day's (the
    * batch spine repeats that row; the stream simply doesn't emit
    * one). */
  def sequentialReadout(deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(a: Int, c: String) =
      sum(when(col("arm") === a, col(c)).otherwise(0L)).as(c + (if (a == 0) "a" else "b"))
    val perDay = deltas.groupBy(col("day")).agg(
      side(0, "dn"), side(1, "dn"), side(0, "dsum"), side(1, "dsum"),
      side(0, "dsumsq"), side(1, "dsumsq"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.operators.EventOps.msprtScalars(perDay
      .withColumn("n_a", sum(col("dna")).over(w))
      .withColumn("n_b", sum(col("dnb")).over(w))
      .withColumn("sa", sum(col("dsuma")).over(w).cast("double"))
      .withColumn("sb", sum(col("dsumb")).over(w).cast("double"))
      .withColumn("ssa", sum(col("dsumsqa")).over(w).cast("double"))
      .withColumn("ssb", sum(col("dsumsqb")).over(w).cast("double"))
      .select("day", "n_a", "n_b", "sa", "sb", "ssa", "ssb"))
  }

  case class QuotaDoc(doc_id: Long, source: String, ts: java.sql.Timestamp)

  /** The quota-admission transition: admit while the running count is
    * under quota. Split law (any batch cut + threaded count = one-pass
    * admissions) is ScalaCheck'd in QuotaLaws — with the (time, id)
    * sort in the processor it is the replay-determinism argument. */
  private[graft] def advanceQuota(n0: Long, quota: Long,
      rows: Seq[QuotaDoc]): (Long, Seq[QuotaDoc]) = {
    var n = n0
    val out = scala.collection.mutable.ArrayBuffer[QuotaDoc]()
    rows.foreach { d => if (n < quota) { out += d; n += 1 } }
    (n, out.toSeq)
  }

  /** Streaming per-source QUOTA sampler — the ingest-side counterpart
    * of batch mixture sampling (`SamplingOps.qMixtureSample`): admit
    * the first `quota(source)` documents per source and drop the rest.
    * Batch mixture picks by hash order for append-stability; a stream
    * cannot know the final hash order, so the streaming-native
    * semantics is FIRST-N BY ARRIVAL — the standard budget cap on a
    * live crawl. State is one long per source (O(domains)); admission
    * is deterministic given the input order, so a checkpoint replay of
    * the same batches re-admits the same documents. */
  final class QuotaProcessor(quotas: Map[String, Long], defaultQuota: Long,
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, QuotaDoc, QuotaDoc] {
    @transient private var admitted: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long]("admitted",
        Encoders.scalaLong, ttl)
    override def handleInputRows(source: String, rows: Iterator[QuotaDoc],
        tv: TimerValues): Iterator[QuotaDoc] = {
      val quota = quotas.getOrElse(source, defaultQuota)
      val n0 = if (admitted.exists()) admitted.get() else 0L
      // within-batch order after the keyed shuffle is not contractual:
      // sort by (event time, id) so admission is deterministic under
      // replay, like the other processors here
      val (n, out) = advanceQuota(n0, quota,
        rows.toSeq.sortBy(d => (micros(d.ts), d.doc_id)))
      admitted.update(n)
      out.iterator
    }
  }

  /** Quota-capped document stream — see [[QuotaProcessor]]. RocksDB
    * state store required. */
  def quotaSampled(docs: Dataset[QuotaDoc], quotas: Map[String, Long],
      defaultQuota: Long = Long.MaxValue,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[QuotaDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new QuotaProcessor(quotas, defaultQuota, ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  case class DomainDoc(doc_id: Long, host: String, q_level: Long, h: Long,
      ts: java.sql.Timestamp)
  case class DomainVerdict(doc_id: Long, host: String, host_docs: Long,
      host_q_sum: Long, verdict: String)

  /** Per-host running (document count, quality-level sum) — the two
    * longs that decide a host's fate in the batch
    * `SamplingOps.qDomainFilter`. */
  private[graft] case class DomainState(nDocs: Long, qSum: Long)

  /** The batch verdict algebra, shared by the streaming transition and
    * the StatefulOpsSpec batch-parity assert: integer cross-multiplies
    * on mille-scaled means (no double compare), hash-threshold quota —
    * verbatim `qDomainFilter`'s SQL expressions in Scala. `globalMilli`
    * (corpus mean quality ×1000) and `cap` (per-host admission target)
    * are FROZEN REFERENCES: a live curation pass takes them from the
    * last corpus snapshot, exactly as C4-style recrawl pipelines pin
    * thresholds per release. */
  private[graft] def domainVerdict(nDocs: Long, qSum: Long, h: Long,
      globalMilli: Long, cap: Long): String =
    if ((qSum * 1000 / nDocs) * 100 < globalMilli * 97) "drop_domain_quality"
    else if (h * nDocs >= cap * 1000000L) "drop_domain_quota"
    else "keep"

  /** The per-host domain-stats transition: fold (doc_id, q_level, h)
    * arrivals into the running two-long state, emitting each document
    * with its host's stats AT ARRIVAL TIME and the provisional verdict
    * under the frozen global references (the prefix-stats shape of the
    * monitoring twins: batch assigns every doc its host's FINAL
    * verdict; the stream's verdict at a host's last arrival equals the
    * batch verdict for that host — asserted in StatefulOpsSpec). Split
    * law ScalaCheck'd in DomainLaws. */
  private[graft] def advanceDomainStats(st0: Option[DomainState],
      globalMilli: Long, cap: Long, rows: Seq[(Long, Long, Long)])
      : (DomainState, Seq[(Long, Long, Long, String)]) = {
    var st = st0.getOrElse(DomainState(0L, 0L))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    rows.foreach { case (docId, q, h) =>
      st = DomainState(st.nDocs + 1, st.qSum + q)
      out += ((docId, st.nDocs, st.qSum,
        domainVerdict(st.nDocs, st.qSum, h, globalMilli, cap)))
    }
    (st, out.toSeq)
  }

  final class DomainFilterProcessor(globalMilli: Long, cap: Long,
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, DomainDoc, DomainVerdict] {
    @transient private var st: ValueState[DomainState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DomainState]("domain",
        Encoders.product[DomainState], ttl)
    override def handleInputRows(host: String, rows: Iterator[DomainDoc],
        tv: TimerValues): Iterator[DomainVerdict] = {
      // ascending doc_id within the batch — replay-deterministic like
      // every processor here
      val sorted = rows.toSeq.sortBy(_.doc_id)
        .map(d => (d.doc_id, d.q_level, d.h))
      val s0 = if (st.exists()) Some(st.get()) else None
      val (s1, out) = advanceDomainStats(s0, globalMilli, cap, sorted)
      st.update(s1)
      out.iterator.map { case (id, n, q, v) => DomainVerdict(id, host, n, q, v) }
    }
  }

  /** Ingest-side DOMAIN FILTER twin of the batch
    * `SamplingOps.qDomainFilter`: per-host state is exactly two longs
    * (count, quality sum — O(hosts) total), each arriving document
    * emits its host's running stats and the provisional keep/drop
    * verdict against the frozen corpus references. The semantics
    * difference from batch is the one every prefix twin here carries:
    * batch judges with final host stats, the stream judges with
    * stats-so-far — they agree at each host's last arrival, and the
    * stream needs no second pass. RocksDB state store required. */
  def streamingDomainFilter(docs: Dataset[DomainDoc], globalMilli: Long,
      cap: Long, watermark: String = "1 hour",
      ttl: TTLConfig = TTLConfig.NONE): Dataset[DomainVerdict] = {
    import docs.sparkSession.implicits._
    docs.withWatermark("ts", watermark)
      .groupByKey(_.host)
      .transformWithState(new DomainFilterProcessor(globalMilli, cap, ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  case class DocShingle(doc_id: Long, shingle: String)
  case class NovelFlag(doc_id: Long, shingle: String, novel: Boolean)

  /** The novelty transition for ONE shingle key: given the stored
    * first-seen doc (if any) and this batch's ascending doc ids, the
    * novelty flag goes to the smallest doc id exactly when the shingle
    * was never seen; the stored first-seen doc never changes once set.
    * Split law (any batch cut of the ascending stream + threaded state
    * = one-pass flags) is ScalaCheck'd in NoveltyLaws — the
    * replay-determinism argument for the processor below. */
  private[graft] def advanceNovelty(first0: Option[Long],
      docs: Seq[Long]): (Long, Seq[(Long, Boolean)]) = {
    val first = first0.getOrElse(docs.head)
    (first, docs.map(d => d -> (first0.isEmpty && d == docs.head)))
  }

  final class NoveltyProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, DocShingle, NovelFlag] {
    @transient private var firstDoc: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      firstDoc = getHandle.getValueState[Long]("firstDoc",
        Encoders.scalaLong, ttl)
    override def handleInputRows(shingle: String, rows: Iterator[DocShingle],
        tv: TimerValues): Iterator[NovelFlag] = {
      // within-batch order after the keyed shuffle is not contractual:
      // ascending doc_id makes the flag assignment deterministic under
      // replay, like the other processors here
      val docs = rows.map(_.doc_id).toSeq.sorted
      val st = if (firstDoc.exists()) Some(firstDoc.get()) else None
      val (first, flags) = advanceNovelty(st, docs)
      firstDoc.update(first)
      flags.iterator.map { case (d, nv) => NovelFlag(d, shingle, nv) }
    }
  }

  /** Ingest-side NOVELTY twin of the batch `TextOps.qNovelty`: each
    * arriving document is shingled in-stream by the SAME definition as
    * the batch family (`DedupOps.shingled` — no drift) and every
    * (doc, shingle) row is flagged novel iff this shingle was never
    * seen before on the stream. The per-doc novelty fraction is a
    * stateless rollup of these flags (any consumer groupBy — kept out
    * of this operator so it stays ONE stateful stage, append-mode,
    * TimeMode.None: replay-deterministic with sleep-free tests).
    *
    * Semantics vs batch: batch novelty anchors first occurrence at the
    * MINIMUM doc_id; the stream anchors at FIRST ARRIVAL (ties within
    * a batch broken by ascending doc_id) — identical whenever ingestion
    * follows doc_id order, which is exactly the batch query's
    * definition of ingestion order (asserted in StatefulOpsSpec).
    * State is one long per distinct shingle — the TTL knob bounds it
    * to the novelty horizon in production (an evicted shingle
    * re-entering counts as new, the documented bounded-memory
    * semantics shared by every twin here). RocksDB state store
    * required. */
  def streamingNovelty(docs: DataFrame, watermark: String = "10 minutes",
      ttl: TTLConfig = TTLConfig.NONE): Dataset[NovelFlag] = {
    import docs.sparkSession.implicits._
    graft.operators.DedupOps.shingled(
        docs.withWatermark("ts", watermark)
          .select(col("doc_id"), col("ts"), col("text")))
      .select(col("doc_id"), col("shingle")).as[DocShingle]
      .groupByKey(_.shingle)
      .transformWithState(new NoveltyProcessor(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  case class CrawlDoc(doc_id: Long, source: String, fp: String,
      ts: java.sql.Timestamp)
  case class CrawlStatus(doc_id: Long, source: String, status: String)

  /** The crawl-delta transition for ONE doc_id: fold fingerprint
    * observations (in arrival order) over the stored last-seen
    * fingerprint — "added" on first sight, "changed" when the
    * fingerprint moved, "unchanged" otherwise. Split law (any batch
    * cut of the observation sequence with threaded state = one-pass
    * statuses) is ScalaCheck'd in CrawlLaws. */
  private[graft] def advanceCrawl(st0: Option[String], fps: Seq[String])
      : (Option[String], Seq[String]) = {
    var prev = st0
    val out = fps.map { fp =>
      val s = prev match {
        case None => "added"
        case Some(p) if p != fp => "changed"
        case _ => "unchanged"
      }
      prev = Some(fp)
      s
    }
    (prev, out)
  }

  final class CrawlDeltaProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, CrawlDoc, CrawlStatus] {
    @transient private var lastFp: ValueState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastFp = getHandle.getValueState[String]("lastFp",
        Encoders.STRING, ttl)
    override def handleInputRows(docId: Long, rows: Iterator[CrawlDoc],
        tv: TimerValues): Iterator[CrawlStatus] = {
      // ascending (ts, fp) — replay-deterministic like every
      // processor here (one observation per crawl per doc in
      // practice; the tie-break matters only for same-instant dupes)
      val sorted = rows.toSeq.sortBy(d => (d.ts.getTime, d.fp))
      val st = if (lastFp.exists()) Some(lastFp.get()) else None
      val (fp1, statuses) = advanceCrawl(st, sorted.map(_.fp))
      fp1.foreach(lastFp.update)
      sorted.zip(statuses).iterator
        .map { case (d, s) => CrawlStatus(d.doc_id, d.source, s) }
    }
  }

  /** Ingest-side CRAWL-DELTA twin of the batch
    * `DedupOps.qCrawlDelta`: the recrawl stream carries (doc_id,
    * source, fingerprint) observations; per-doc state is the last-
    * seen fingerprint, and each arrival classifies itself as added /
    * changed / unchanged on the spot — so `added`+`changed` docs can
    * re-enter the dedup/tokenize stages incrementally, without
    * waiting for the end-of-crawl snapshot join. `removed` is the one
    * class an arrival stream cannot emit (absence is not an event):
    * that sweep stays the batch query's full-outer join, exactly the
    * division of labor real recrawl pipelines use. State is one
    * fingerprint string per crawled doc — O(corpus), the honest cost
    * of incremental change detection (same argument as the novelty
    * twin's O(shingles)); the TTL knob bounds it to the recrawl
    * horizon. RocksDB state store required. */
  def streamingCrawlDelta(docs: Dataset[CrawlDoc],
      watermark: String = "1 hour",
      ttl: TTLConfig = TTLConfig.NONE): Dataset[CrawlStatus] = {
    import docs.sparkSession.implicits._
    docs.withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .transformWithState(new CrawlDeltaProcessor(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  /** Ingest-side DECONTAMINATION twin of the batch
    * `SamplingOps.qDecontaminate`: each arriving document (doc_id,
    * text, ts) is shingled in-stream by the SAME tokenizer + shingle
    * definition as the batch family (`DedupOps.shingled` — one
    * definition, no drift), joined stream-static against the benchmark
    * shingle set (broadcast: the holdout slice is small, and the static
    * side re-resolves each micro-batch so a bench refresh lands without
    * a restart), and flagged once its distinct shared-shingle count
    * reaches `minHits`. The watermark is applied to the RAW stream —
    * before the shingle explode — so every arriving row advances it,
    * including docs too short to shingle. The aggregation is a
    * watermarked tumbling-window groupBy (each document carries ONE
    * event time, so the window is a formality that gives the agg its
    * completion trigger): flags emit in append mode when the watermark
    * passes the window, and state is bounded by the window horizon.
    * `size(collect_set(...))` stands in for COUNT DISTINCT, which
    * streaming aggregation does not support — exact because the set is
    * per (doc, window). Flags equal the batch twin's `contaminated`
    * column for the same bench slice (asserted in StatefulOpsSpec). */
  def streamingContamination(docs: DataFrame, benchShingles: DataFrame,
      watermark: String = "10 minutes",
      minHits: Int = graft.operators.SamplingOps.DeconMinHits): DataFrame = {
    val sh = graft.operators.DedupOps.shingled(
      docs.withWatermark("ts", watermark)
        .select(col("doc_id"), col("ts"), col("text")))
    sh.join(broadcast(benchShingles), "shingle")
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(size(collect_set(col("shingle"))).as("n_shingle_hits"))
      .filter(col("n_shingle_hits") >= minHits)
      .select(col("doc_id"), col("n_shingle_hits"))
  }

  /** STREAMING near-dup filter: the incremental twin of the batch
    * simhash dedup — each arriving document is fingerprinted with the
    * per-row `DedupOps.simhashExpr` (an HOF fold: no explode, no
    * aggregation, so it composes freely with the stateful operator
    * below) and only the FIRST document per fingerprint inside the
    * watermark horizon survives. This is the "dedupe the crawl as it
    * lands" operator of a training-data ingest pipeline: state is
    * keyed by the 16-bit fingerprint and evicted at the watermark, so
    * it is bounded by the near-dup rate × horizon, never by stream
    * length. Exact-duplicate and token-permuted replays collapse (the
    * fingerprint is a set function); genuinely new text passes. */
  def nearDupFiltered(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("simhash", graft.operators.DedupOps.simhashExpr(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("simhash")

  /** STREAMING incremental similarity — the serving path of the stored
    * ANN index ([[graft.operators.SimilarityOps.simIndex]]) as a
    * stream-static classification, the streaming twin of the batch
    * `sim_incremental` query. Each arriving vector (`vec_id`, `v`,
    * `nrm`) buckets at the index's FROZEN geometry map-side, candidates
    * come from the (tbl, bucket) LEFT-OUTER equi-join against the
    * static exploded index (left-outer so collision-free arrivals
    * still classify as `new`), and the per-arrival argmax is a
    * `max(struct(cosine, -base_id))` aggregate — the same
    * (cosine DESC, base_id ASC) tie-break as the batch twin without a
    * window function (streams cannot rank). The cosine, the match bar
    * and the verdict are the batch's own `SimilarityOps.simCosine`,
    * `simMatch` and `simStatus`. Run with OutputMode.Update: each
    * arrival's verdict emits in its batch.
    *
    * The batch query keeps its own shape: it deduplicates candidate
    * pairs before scoring them and ranks with a window, which a stream
    * cannot do; on this twin's shape it ran slower in A/B pairs.
    *
    * Scale: the index side is static and hash-partitioned by bucket;
    * per-batch cost tracks the ARRIVAL rate × bucket occupancy, never
    * the corpus. State is one aggregation row per arrival key, which
    * is what makes re-delivered arrivals idempotent (same verdict
    * re-emitted, no duplicates downstream with an upsert sink); a
    * production deployment bounds it with the state-store TTL knob
    * exactly like the other twins. */
  def streamingSimIncremental(arrivals: DataFrame, index: DataFrame,
      k: Int): DataFrame = {
    import graft.operators.DedupOps
    import graft.operators.SimilarityOps.{simCosine, simMatch, simStatus}
    val idxb = index
      .select(col("vec_id").as("base_id"), col("v").as("bv"),
        col("nrm").as("bn"), explode(col("buckets")).as("bb"))
      .select(col("base_id"), col("bv"), col("bn"),
        col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))
    DedupOps.signLshBucketsWith(arrivals, k, 64 / k,
        col("v").as("qv"), col("nrm").as("qn"))
      .join(idxb, Seq("tbl", "bucket"), "left_outer")
      .withColumn("cosine", simCosine)
      .withColumn("best0", when(simMatch(col("cosine")),
        struct(col("cosine").as("c"), (-col("base_id")).as("nb"))))
      .groupBy(col("vec_id"))
      .agg(max(col("best0")).as("best"))
      .select(col("vec_id"), simStatus(col("best")),
        (-col("best.nb")).as("match_id"), round(col("best.c"), 6).as("cosine_r"))
  }

  /** STREAMING text dedup classification — the serving path of the
    * stored SIGNATURE index ([[graft.operators.DedupOps.baseSignatures]])
    * as a stream-static classification: each arriving document gets
    * the batch family's verdict ('exact' | 'near' | 'new', smallest
    * matching base doc as evidence) the moment it lands, against the
    * frozen index. The streaming half of the recrawl flow whose batch
    * half is `dedup_delta_classify`.
    *
    * The batch twin derives the minhash signature by explode +
    * groupBy-min; a stream takes the IDENTICAL band keys map-side from
    * `DedupOps.minhashBandArray`, so the arrival pays zero stateful
    * shuffle before the two stream-static equi-joins (fingerprint
    * equality for 'exact'; (band, bkey) collision + the batch's
    * `DedupOps.verifiedNear` against the stored shingle set for
    * 'near'), and the verdict is the batch's `DedupOps.dupVerdict`.
    * The only aggregation is the per-doc verdict rollup —
    * one state row per arrival key, so re-delivery is idempotent.
    * Run with OutputMode.Update. Scale: index side static,
    * hash-partitioned on the join keys; per-batch cost tracks arrival
    * rate × band occupancy, never corpus size. */
  def streamingTextClassify(docs: DataFrame, index: DataFrame): DataFrame = {
    import graft.operators.DedupOps.{dupVerdict, minhashBandArray, shingleArray, verifiedNear}
    val toks = split(col("text"), " ")
    val withSh = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("fp"),
      when(size(toks) >= 3, shingleArray(toks))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")).as("sa"))
    val streamBands = withSh
      .filter(size(col("sa")) > 0)
      .select(col("doc_id"), col("sa"), size(col("sa")).as("na"),
        explode(minhashBandArray(col("sa"))).as("bb"))
      .select(col("doc_id"), col("sa"), col("na"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val idxFp = index.select(col("doc_id").as("base_id"), col("fp"))
    val idxBands = index
      .select(col("doc_id").as("base_id"), explode(col("bands")).as("bb"))
      .select(col("base_id"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val idxSets = index.select(col("doc_id").as("base_id"),
      col("ss").as("sb"), col("n_shingles").as("nb"))
    // left-outer so collision-free arrivals still reach the rollup
    val exactArm = withSh.select(col("doc_id"), col("fp"))
      .join(idxFp, Seq("fp"), "left_outer")
      .select(col("doc_id"), lit("exact").as("kind"), col("base_id"))
    val nearArm = streamBands
      .join(idxBands, Seq("band", "bkey"))
      .join(idxSets, "base_id")
      .transform(verifiedNear)
      .select(col("doc_id"), lit("near").as("kind"), col("base_id"))
    exactArm.unionByName(nearArm)
      .groupBy(col("doc_id"))
      .agg(
        min(when(col("kind") === "exact", col("base_id"))).as("exact_match_id"),
        min(when(col("kind") === "near", col("base_id"))).as("near_match_id"))
      .select(col("doc_id") +: dupVerdict: _*)
  }

  /** STREAMING PERPLEXITY FILTER — the serving path of the CCNet
    * bucket sampler (`sample_perplexity_buckets`) as a stream-static
    * pipeline: the unigram LM is the frozen stored artifact
    * (`TextOps.lmStored` — static side of a vocabulary-keyed
    * equi-join), the per-language tercile CUTOFFS are frozen at train
    * time (`SamplingOps.perplexityCutoffs`, a languages-sized
    * broadcast), and each arriving document scores in one explode +
    * join + per-doc aggregate, then buckets by threshold comparison
    * map-side. This is how the published filter deploys: the
    * reference model and its cutoffs come from the trusted training
    * pass; the stream is every incoming shard.
    *
    * Parity with the batch twin: tokens outside the frozen vocabulary
    * contribute nothing (same inner join), the score is the batch's
    * own `TextOps.lmDocScore`, the tercile is
    * `SamplingOps.perplexityBucket` over the frozen cutoffs and the
    * keep rule `SamplingOps.perplexityKept`. Buckets agree exactly off
    * the two boundary scores — ON a boundary the batch ntile splits
    * score-ties by doc_id where a threshold must choose the better
    * bucket (documented at `SamplingOps.perplexityCutoffs`).
    * State: ONE aggregation row per arriving doc (the per-doc score
    * rollup), so re-delivery is idempotent under OutputMode.Update;
    * bounded with the state-store TTL knob like the other twins.
    * Scale: per-batch cost tracks arrival rate × doc length; the LM
    * side is static and hash-partitioned on the token key; nothing
    * grows with corpus size. */
  def streamingPerplexityFilter(docs: DataFrame, lm: DataFrame,
      nTotal: Long, cutoffs: DataFrame): DataFrame = {
    import graft.operators.SamplingOps.{perplexityBucket, perplexityKept}
    docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tk"))
      .join(lm, "tk")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(log(col("c"))).as("slc"))
      .withColumn("score_r", graft.operators.TextOps.lmDocScore(
        col("slc") / col("n_tokens"), nTotal))
      .join(broadcast(cutoffs), Seq("lang"))
      .withColumn("bucket", perplexityBucket(col("score_r")))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("score_r"), col("bucket"), perplexityKept(col("bucket")).as("kept"))
  }

  // ================= streaming k-anonymity monitor =================

  /** One arriving document's privacy-relevant projection: the QI tuple
    * (lang, source) plus the length used for the sensitive-attribute
    * bucket — exactly the 3 columns the batch report scans. */
  case class KAnonDoc(doc_id: Long, lang: String, source: String,
    n_chars: Long)
  /** The current risk row for one equivalence class — same columns as
    * the batch `text_k_anonymity` report. */
  case class KAnonClass(lang: String, source: String, class_n: Long,
    k_risky: Boolean, n_buckets: Long, l_risky: Boolean)
  case class KAnonState(class_n: Long, buckets: Seq[Long])

  /** The k-anonymity transition for ONE equivalence class: the batch's
    * arrivals add to the class count and union into the distinct
    * sensitive-bucket set (kept sorted so state equality is structural).
    * Pure — split / order-invariance / monotonicity laws are
    * ScalaCheck'd in KAnonLaws.
    *
    * DELIVERY CONTRACT (the [[advanceWalGaps]] discipline, stated
    * rather than hidden): the class COUNT is duplicate-sensitive —
    * micro-batch replay after failure is exactly-once with respect to
    * state (the store versions per batch, so a replayed batch re-runs
    * against the pre-batch snapshot), but a SOURCE that delivers the
    * same document in two different batches double-counts it, exactly
    * as a streaming `groupBy.count` would. A deployment on an
    * at-least-once transport puts the watermarked `dropDuplicates`
    * stage (the C2 dedup twin) upstream — the composition the spec
    * exercises. The bucket SET is union-idempotent regardless. */
  private[graft] def advanceKAnon(st0: Option[KAnonState],
      buckets: Seq[Long]): KAnonState = {
    val n = st0.map(_.class_n).getOrElse(0L) + buckets.length
    val bs = (st0.map(_.buckets).getOrElse(Nil) ++ buckets).distinct.sorted
    KAnonState(n, bs)
  }

  final class KAnonProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[(String, String), KAnonDoc, KAnonClass] {
    @transient private var st: ValueState[KAnonState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KAnonState]("kAnonClass",
        Encoders.product[KAnonState], ttl)
    override def handleInputRows(key: (String, String),
        rows: Iterator[KAnonDoc], tv: TimerValues): Iterator[KAnonClass] = {
      val st0 = if (st.exists()) Some(st.get()) else None
      // Long `/` TRUNCATES toward zero — the shared bucket convention
      // (Spark DIV and DuckDB integer `//` both truncate; floorDiv
      // would drift on a corrupt negative length)
      val st1 = advanceKAnon(st0, rows.map(
        _.n_chars / graft.operators.TextOps.KAnonBucketWidth).toSeq)
      st.update(st1)
      Iterator.single(KAnonClass(key._1, key._2, st1.class_n,
        st1.class_n < graft.operators.TextOps.KAnonK,
        st1.buckets.length.toLong,
        st1.buckets.length < graft.operators.TextOps.KAnonL))
    }
  }

  /** STREAMING PRIVACY MONITOR — the live twin of the batch
    * k-anonymity / l-diversity report
    * ([[graft.operators.TextOps.qKAnonymity]]): each arriving document
    * updates its (lang, source) equivalence class and the class's
    * CURRENT risk row is re-emitted, so the release gate watches
    * re-identification risk decay as classes fill instead of waiting
    * for the nightly report — a class is "risky until proven
    * populated", and the k=5 / l=3 flags flip monotonically from
    * risky to safe (class count and bucket diversity only grow).
    * Thresholds and the bucket width are the batch query's own
    * constants, so the twins cannot drift.
    *
    * State is one (count, distinct-bucket seq) per equivalence class:
    * O(classes × length-buckets) — (langs × sources × ~max-doc-len /
    * bucket-width), METADATA scale at 100 TB, never row scale (the
    * doc_ids themselves are not retained; see [[advanceKAnon]] for the
    * duplicate-delivery contract that buys that bound). Fed the same
    * corpus in any batch split and arrival order, the latest row per
    * class equals the batch report row-for-row — asserted at two cuts
    * in StatefulOpsSpec. RocksDB state store required. */
  def streamingKAnonMonitor(docs: Dataset[KAnonDoc],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KAnonClass] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(d => (d.lang, d.source))
      .transformWithState(new KAnonProcessor(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  // ================= streaming BM25 serving =================

  /** STREAMING BM25 scoring — the serving path of the stored model
    * (`TextOps.bm25Stored`) as a STATELESS map-only projection, the
    * strongest serving shape of the twins here: the model is
    * terms-sized, so its df values and the (N, avgdl) scalars FOLD
    * INTO THE PLAN AS LITERALS (the broadcast-literal pattern every
    * k-row model query uses) and each arriving document scores in one
    * codegen'd expression — per-term tf from an array `filter` count
    * (the same number the batch explode counts), no explode, no join,
    * no aggregation, NO STATE. A streaming `groupBy` here would
    * double-count re-delivered documents (tf saturation is not a
    * ratio — doubling tf CHANGES the score, unlike the perplexity
    * filter's average); a pure projection is idempotent by
    * construction instead.
    *
    * Each addend is the batch scorer's own `TextOps.bm25Kernel`, called
    * with the literals; constant folding evaluates the idf with the
    * same Spark expression the batch evaluates per row. The per-doc
    * sum runs in fixed term order — within the round-6 ln-sum
    * convention the batch ranker itself carries. Asserted against the
    * batch top-20 in StatefulOpsSpec. Scale: per-batch cost tracks
    * arrival volume × doc length; nothing grows with corpus size or
    * time. */
  def streamingBm25(docs: DataFrame, df: DataFrame,
      n: Long, sumdl: Long): DataFrame = {
    import graft.operators.TextOps.{Bm25Terms, bm25Kernel}
    // the model may be the FULL stored vocabulary — restrict to the
    // query's terms BEFORE folding into the plan (a vocabulary-sized
    // expression tree would stall codegen; the query is what bounds
    // the projection, exactly as it bounds the batch posting join)
    val model: Seq[(String, Double)] = df
      .filter(col("tk").isin(Bm25Terms: _*)).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)
    // a duplicate term would mint two identically named tf_N columns
    // and only fail later as an opaque ambiguous-reference
    // AnalysisException: state the contract with a readable message
    require(model.map(_._1).distinct.size == model.size,
      s"streamingBm25: model must have one row per term, got duplicates: " +
        model.groupBy(_._1).filter(_._2.size > 1).keys.mkString(", "))
    val toks = split(col("text"), " ")
    // per-term tf computed ONCE into a column (an HOF subtree per
    // occurrence would re-tokenize the text several times per term —
    // codegen does not guarantee subexpression elimination for
    // lambda-bearing HOFs); a long, as the batch tf count is
    val withTf = docs.select(col("doc_id") +: size(toks).as("dl") +:
      model.zipWithIndex.map { case ((t, _), i) =>
        size(filter(toks, x => x === t)).cast("long").as(s"tf_$i") }: _*)
    val addends = model.zipWithIndex.map { case ((_, dfv), i) =>
      val tf = col(s"tf_$i")
      when(tf > 0, bm25Kernel(tf, lit(dfv), col("dl"), lit(n.toDouble),
        lit(sumdl.toDouble / n))).otherwise(lit(0.0))
    }
    val hits = model.indices.map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
    // foldLeft, not reduce: an all-OOV query (empty model) must score
    // every doc 0 and emit nothing, matching the batch ranker's empty
    // top-20 — not throw at plan construction
    withTf.select(col("doc_id"),
        hits.foldLeft(lit(0L))(_ + _).as("n_hit"),
        round(addends.foldLeft(lit(0.0))(_ + _), 6).as("score_r"))
      .filter(col("n_hit") > 0)
  }

  // ================= streaming Dirichlet query likelihood =================

  /** STREAMING Dirichlet query-likelihood scoring — the serving twin
    * of `TextOps.qQlDirichlet`, the same stateless map-only shape as
    * [[streamingBm25]]: the model is three collection frequencies
    * plus the token total, folded into the plan as literals, and each
    * arriving document scores in one codegen'd expression (per-term tf
    * via array `filter` count, dl via `size`): no explode, no join, no
    * aggregation, NO STATE, hence idempotent under re-delivery by
    * construction. Unlike the BM25 twin it emits EVERY arrival — in QL
    * every document ranks (the no-hit mass is the pure length prior),
    * exactly as the batch ranker scores every doc before its top-20
    * cut.
    *
    * The matched addends and the document score are the batch's own
    * `TextOps.qlAddend` and `TextOps.qlScore`, over this projection's
    * columns and the folded ctf literals. The matched sum folds in
    * sorted term order where the batch's `sum` order is engine-chosen:
    * the round-6 ln-sum convention every LM query carries, pinned
    * row-exact by StatefulOpsSpec. Scale: per-batch cost tracks
    * arrival volume × doc length; nothing grows with corpus size or
    * time. */
  def streamingQlDirichlet(docs: DataFrame, ctf: Map[String, Long],
      c: Long): DataFrame = {
    import graft.operators.TextOps.{Bm25Terms, qlAddend, qlScore}
    // the batch ranker's own contract: a query term the corpus never
    // saw has no log — fail readably, not with a NaN score
    require(Bm25Terms.forall(ctf.contains),
      "streamingQlDirichlet: query terms absent from the model: " +
        Bm25Terms.filterNot(ctf.contains).mkString(", "))
    val terms = Bm25Terms.sorted
    val toks = split(col("text"), " ")
    // per-term tf computed ONCE into a column (the streamingBm25 rule)
    val withTf = docs.select(col("doc_id") +: size(toks).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        size(filter(toks, x => x === t)).cast("long").as(s"tf_$i") }: _*)
    val addends = terms.zipWithIndex.map { case (t, i) =>
      val tf = col(s"tf_$i")
      when(tf > 0, qlAddend(tf, lit(ctf(t)), c)).otherwise(lit(0.0))
    }
    val hits = terms.indices.map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
    withTf.select(col("doc_id"),
      hits.foldLeft(lit(0L))(_ + _).as("n_hit"),
      qlScore(addends.foldLeft(lit(0.0))(_ + _), col("dl"), ctf, c).as("score_r"))
  }

  // ================= streaming weighted reservoir =================

  /** One keyed arrival of the weighted draw: the doc, its weight, and
    * its deterministic race key (computed by the SHARED
    * `SamplingOps.reservoirKeyed` column pipeline — the stream races
    * the same keys as the batch draw). */
  case class ResDoc(doc_id: Long, w: Long, e1000_r: Double)
  /** A shard's current reservoir, re-emitted per batch with a
    * monotone version so the latest emission per shard is
    * identifiable in an append sink. */
  case class ResEmit(shard: Long, ver: Long, doc_id: Long, w: Long,
    e1000_r: Double)
  case class ResState(ver: Long, docs: Seq[ResDoc])

  /** The reservoir transition for one shard: union, dedup, keep the k
    * smallest keys (doc_id tie-break). A pure min-merge — idempotent
    * under re-delivery and order-invariant, the [[mergeMinima]]
    * discipline (a top-k set, unlike a count, absorbs duplicates for
    * free). Laws in ReservoirLaws. */
  private[graft] def mergeReservoir(st: Seq[ResDoc],
      arrivals: Seq[ResDoc], k: Int): Seq[ResDoc] =
    (st ++ arrivals).distinct.sortBy(d => (d.e1000_r, d.doc_id)).take(k)

  final class ReservoirProcessor(k: Int, ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, ResDoc, ResEmit] {
    @transient private var st: ValueState[ResState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ResState]("reservoir",
        Encoders.product[ResState], ttl)
    override def handleInputRows(shard: Long, rows: Iterator[ResDoc],
        tv: TimerValues): Iterator[ResEmit] = {
      val st0 = if (st.exists()) st.get() else ResState(0L, Nil)
      val merged = mergeReservoir(st0.docs, rows.toSeq, k)
      val st1 = ResState(st0.ver + 1, merged)
      st.update(st1)
      merged.iterator.map(d =>
        ResEmit(shard, st1.ver, d.doc_id, d.w, d.e1000_r))
    }
  }

  /** STREAMING weighted reservoir — the A-ExpJ serving shape of the
    * batch `sample_weighted_reservoir`: because the race keys are
    * deterministic and a top-k set is a pure min-merge, the stream
    * needs no jump trickery — each shard keeps its k smallest keys
    * (O(shards × k) state, constant), re-emitting its reservoir per
    * batch, and [[reservoirReadout]] merges the latest shard
    * reservoirs into the global top-k. At ANY cut the readout equals
    * the batch draw over the docs seen so far, exactly (asserted
    * two-cut in StatefulOpsSpec) — the property that lets a crawler
    * maintain the training sample online instead of re-drawing per
    * epoch. Sharding is by doc_id mod [[ReservoirShards]]: any
    * partition works for a min-merge; mod keeps replay deterministic.
    * RocksDB state store required. */
  val ReservoirShards = 8
  def streamingWeightedReservoir(docs: Dataset[ResDoc],
      k: Int = graft.operators.SamplingOps.ReservoirK,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[ResEmit] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.doc_id % ReservoirShards)
      .transformWithState(new ReservoirProcessor(k, ttl),
        timeModeFor(ttl), OutputMode.Append())
  }

  /** Merge the latest per-shard reservoirs into the global ranked
    * top-k — identical columns and ordering to the batch query.
    *
    * TTL CONTRACT (r12 review): "latest" is selected by the shard's
    * monotone state version, which RESTARTS at 1 if a TTL evicts the
    * shard's state — a readout over a sink that still holds
    * pre-eviction emissions would then pin the frozen pre-eviction
    * reservoir forever. A deployment that sets a TTL treats eviction
    * as intentional forgetting and must age the sink on the same
    * horizon (retention ≤ TTL) so post-restart versions are again the
    * maximum; with the default TTLConfig.NONE (every spec here) the
    * version never restarts and the readout is exact at any cut. */
  def reservoirReadout(emitted: DataFrame,
      k: Int = graft.operators.SamplingOps.ReservoirK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    emitted
      .withColumn("maxv", max(col("ver")).over(
        Window.partitionBy(col("shard"))))
      .filter(col("ver") === col("maxv"))
      .orderBy(col("e1000_r"), col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("e1000_r"), col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("w"), col("e1000_r"))
      .orderBy(col("rank"))
  }

  // ================= streaming IVFPQ/ADC serving =================

  /** One scored candidate for an arriving query vector: the corpus
    * neighbor's id and its exact integer ADC distance. */
  case class AdcCand(q_id: Long, n_id: Long, adc_dist: Long)
  /** An arrival's current top-k, re-emitted per batch with a monotone
    * version so the latest emission per query is identifiable in an
    * append sink (the [[ResEmit]] convention; the same TTL contract
    * as [[reservoirReadout]] applies to `ver`). */
  case class AdcEmit(q_id: Long, ver: Long, rank: Int, n_id: Long,
    adc_dist: Long)
  case class AdcState(ver: Long, cands: Seq[AdcCand])

  /** The top-k transition for one query: union, dedup, keep the k
    * smallest distances (n_id tie-break — the batch search's ORDER BY
    * adc_dist, n_id verbatim). A pure min-merge: idempotent under
    * re-delivery and order-invariant, the [[mergeReservoir]]
    * discipline. Laws in AdcTopKLaws. */
  private[graft] def mergeAdc(st: Seq[AdcCand], arrivals: Seq[AdcCand],
      k: Int): Seq[AdcCand] =
    (st ++ arrivals).distinct.sortBy(c => (c.adc_dist, c.n_id)).take(k)

  final class AdcProcessor(k: Int, ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, AdcCand, AdcEmit] {
    @transient private var st: ValueState[AdcState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[AdcState]("adc_topk",
        Encoders.product[AdcState], ttl)
    override def handleInputRows(qId: Long, rows: Iterator[AdcCand],
        tv: TimerValues): Iterator[AdcEmit] = {
      val st0 = if (st.exists()) st.get() else AdcState(0L, Nil)
      val merged = mergeAdc(st0.cands, rows.toSeq, k)
      val st1 = AdcState(st0.ver + 1, merged)
      st.update(st1)
      merged.iterator.zipWithIndex.map { case (c, i) =>
        AdcEmit(qId, st1.ver, i + 1, c.n_id, c.adc_dist) }
    }
  }

  /** STREAMING IVFPQ/ADC serving — the live twin of the stored-index
    * search (`sim_ivfpq_stored`), closing the one serving asymmetry
    * the ANN stack had left (the sign-LSH index already serves via
    * [[streamingSimIncremental]]): each arriving query vector
    * (vec_id, v, nrm) is encoded ENTIRELY map-side at the frozen
    * model — cell argmax against the K coarse-centroid literals (the
    * identical dot/norm arithmetic as the batch `cellAssignments`,
    * ties to the smaller cid) and its M×K integer ADC lookup table
    * from the codebook literals — then candidates come from the (cid)
    * stream-static equi-join against the stored `pq_index` code
    * artifact and score with the shared [[graft.operators
    * .SimilarityOps.adcDist]] expression: M integer adds per pair,
    * the corpus floats never load. Exact integer distances ⇒ no
    * float-rank hazard anywhere.
    *
    * The per-arrival top-k is a [[mergeAdc]] min-merge in
    * transformWithState — O(arrivals × k) state, idempotent under
    * re-delivery by construction (a collect_list aggregate would
    * double-count replays; a min-merge absorbs them) — re-emitting
    * the query's current ranked top-k per batch; [[adcReadout]]
    * selects the latest emission per query. At any cut the readout
    * over the seen arrivals equals the batch search's verdicts
    * row-for-row (asserted two-cut in StatefulOpsSpec).
    *
    * Scale: the index side is the 32×-compressed static code table,
    * hash-partitioned by cell; per-batch cost tracks arrival rate ×
    * cell occupancy ÷ K; model state (K centroids + M×K codebook)
    * rides in the plan as literals. RocksDB state store required. */
  def streamingIvfPqServe(arrivals: DataFrame, codes: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)], cb: Seq[Seq[Seq[Long]]],
      k: Int = 3, ttl: TTLConfig = TTLConfig.NONE): Dataset[AdcEmit] = {
    import arrivals.sparkSession.implicits._
    import graft.operators.SimilarityOps
    import graft.functions.VectorFunctions
    // argmax over K cosine literals: struct max = (ccos DESC, cid ASC)
    // — negating the cid (exact for integers) flips its tie direction,
    // matching the batch window's ORDER BY ccos DESC, cid
    val best = array_max(array(cents.map { case (cid, cv, cn) =>
      struct((VectorFunctions.dot(col("v"), typedlit(cv)) /
        (col("nrm") * lit(cn))).as("c"), lit(-cid).as("nc")) }: _*))
    val q = arrivals
      .withColumn("cid", -best.getField("nc"))
      .withColumn("qv", SimilarityOps.pqQuant(col("v")))
      .withColumn("lut", SimilarityOps.pqDists(typedlit(cb)))
      .select(col("vec_id"), col("cid"), col("lut"))
    q.join(codes, Seq("cid"))
      .filter(col("n_id") =!= col("vec_id"))
      .select(col("vec_id").as("q_id"), col("n_id"),
        SimilarityOps.adcDist(col("lut"), col("codes")).as("adc_dist"))
      .as[AdcCand]
      .groupByKey(_.q_id)
      .transformWithState(new AdcProcessor(k, ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  /** Latest per-query top-k from the append sink — identical columns
    * and ordering to the batch `sim_ivfpq_stored` result. Same
    * ver/TTL contract as [[reservoirReadout]]. */
  def adcReadout(emitted: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    emitted
      .withColumn("maxv", max(col("ver")).over(
        Window.partitionBy(col("q_id"))))
      .filter(col("ver") === col("maxv"))
      .select(col("q_id"), col("rank"), col("n_id"), col("adc_dist"))
      .orderBy("q_id", "rank")
  }

  /** STREAMING IVFADC,R (r16) — the exact-refine readout for the
    * re-rank twin. The STREAMING stage is [[streamingIvfPqServe]] run
    * at k = [[graft.operators.SimilarityOps.RerankShortlist]]: the
    * stateful part maintains each query's ADC shortlist, the same
    * stage split as the batch `sim_ivfpq_rerank` (whose refine is
    * likewise a post-shortlist step over ≤ queries×R rows). This
    * readout takes the LATEST shortlist per query from the append
    * sink, fetches ONLY those ids' float vectors (an equi-join whose
    * probe side is the ~100-row readout — the batch twin's
    * id-pushdown fetch re-expressed batch-side), and re-ranks by
    * exact cosine against the arrival's OWN vector: `qVecs` is the
    * arrival features as they streamed — arrivals compute their own
    * features, the corpus never does. Identical columns and ordering
    * to `sim_ivfpq_rerank`; idempotence under re-delivery is
    * inherited from the shortlist min-merge. */
  def rerankReadout(emitted: DataFrame, qVecs: DataFrame,
      corpus: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = emitted
      .withColumn("maxv", max(col("ver")).over(
        Window.partitionBy(col("q_id"))))
      .filter(col("ver") === col("maxv"))
      .select(col("q_id"), col("n_id"), col("adc_dist"))
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    latest
      .join(corpus.select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn")), Seq("n_id"))
      .join(qVecs.select(col("vec_id").as("q_id"), col("v").as("qvf"),
        col("nrm").as("qn")), Seq("q_id"))
      .withColumn("cosine",
        graft.operators.DedupOps.dot(col("qvf"), col("nv")) /
          (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("adc_dist"),
        round(col("cosine"), 6).as("cosine_r"))
      .orderBy("q_id", "rank")
  }

  // ================= streaming Kneser-Ney serving =================

  /** One arriving bigram occurrence with its model counts (None where
    * the reference model has no row — the batch's LEFT-join nulls)
    * and its `TextOps.knLogp` log-probability. */
  case class KnBigram(doc_id: Long, w1: String, w2: String,
    c2: Option[Long], c1: Option[Long], logp: Double)
  /** The scored row — identical columns to the batch
    * `text_lm_kn_stored` result. */
  case class KnScore(doc_id: Long, n_bigrams: Long, n_unseen_ctx: Long,
    n_interp: Long, avg_logp: Double, held_out: Boolean)

  /** The per-document KN rollup over the doc's scored bigram rows —
    * the batch `knScored` aggregation as a fold: distinct bigrams with
    * occurrence counts, the cnt-weighted logp sum over bigrams in
    * sorted (w1, w2) order, and the batch's round-6 (BigDecimal
    * HALF_UP — Spark `round`'s implementation). The batch sum's
    * accumulation order is engine-chosen, so row-exact parity is the
    * round-6 ln-sum convention pinned by the spec. */
  private[graft] def knRollup(docId: Long, rows: Seq[KnBigram]): KnScore = {
    val grouped = rows.groupBy(r => (r.w1, r.w2)).toSeq.sortBy(_._1)
      .map { case (_, v) => (v.head, v.length.toLong) }
    var nb = 0L; var nuc = 0L; var ni = 0L; var s = 0.0
    grouped.foreach { case (r, cnt) =>
      nb += cnt
      if (r.c1.isEmpty) nuc += cnt
      if (r.c1.isDefined && r.c2.isEmpty) ni += cnt
      s += cnt * r.logp
    }
    KnScore(docId, nb, nuc, ni,
      java.math.BigDecimal.valueOf(s / nb)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue,
      docId % 10 != 0)
  }

  /** First-delivery-wins per document: the scored row IS the state, so
    * a re-delivered document re-emits its stored row bit-for-bit
    * instead of re-counting — TRUE idempotence, stronger than the
    * perplexity filter's ratio-invariance (whose counts double on
    * re-delivery). DELIVERY CONTRACT (the [[advanceKAnon]] discipline):
    * a document arrives ATOMICALLY (one row → its bigram rows explode
    * within the same micro-batch); a source that splits one document's
    * text across batches would score the first fragment only. */
  final class KnServeProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, KnBigram, KnScore] {
    @transient private var st: ValueState[KnScore] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KnScore]("knScore",
        Encoders.product[KnScore], ttl)
    override def handleInputRows(docId: Long, rows: Iterator[KnBigram],
        tv: TimerValues): Iterator[KnScore] =
      if (st.exists()) Iterator.single(st.get())
      else {
        val sc = knRollup(docId, rows.toSeq)
        st.update(sc)
        Iterator.single(sc)
      }
  }

  /** STREAMING KNESER-NEY serving — the last stored LM gains its
    * serving twin (BM25 and Dirichlet QL already have theirs): score
    * arriving documents against the frozen `kn_ctx_ref` /
    * `kn_cont_ref` statistic tables + the `bigram_lm_ref` bigram
    * counts (`TextOps.knStored`), T from the artifact meta. Unlike
    * those two, the KN model is VOCABULARY-sized — it cannot fold as
    * literals — so the shape is [[streamingTextClassify]]'s
    * stream-static equi-join, NOT the literal-fold projection: the
    * arrival's map-side bigram explode (the batch's own `bigramsOf`
    * column pipeline) LEFT-joins the three vocabulary-keyed static
    * relations (hash-partitioned on w1/w2 — broadcast-able in
    * production), each row takes its logp from the batch's own
    * `TextOps.knLogp`, and one [[KnServeProcessor]] keyed by doc_id
    * folds the doc's rows. Zero model-side
    * aggregation, zero driver actions — the stored twin's serving
    * guarantee, kept under streaming.
    *
    * At any cut the emitted rows equal `text_lm_kn_stored`'s rows for
    * exactly the delivered documents (two-cut replay + re-delivery
    * idempotence asserted in StatefulOpsSpec). State: one scored row
    * per arriving doc — O(arrivals), TTL-boundable; per-batch cost
    * tracks arrival volume × doc length, nothing grows with corpus
    * size. RocksDB state store required. */
  def streamingKneserNey(docs: DataFrame, c2: DataFrame, ctx: DataFrame,
      cont: DataFrame, t: Long,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KnScore] = {
    import docs.sparkSession.implicits._
    graft.operators.TextOps.bigramsOf(docs)
      .join(c2, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .select(col("doc_id"), col("w1"), col("w2"),
        col("c2"), col("c1"), graft.operators.TextOps.knLogp(t).as("logp"))
      .as[KnBigram]
      .groupByKey(_.doc_id)
      .transformWithState(new KnServeProcessor(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  // ================= composed streaming ingest pipeline =================

  /** The END-TO-END streaming ingest — the live twin of the batch
    * corpus build (`CorpusPipeline.qPipelineCorpus`), composed from
    * this module's stages in the order a crawler's firehose needs
    * them: (1) per-document quality gate (map-only column algebra —
    * token count + TTR-damped-by-stopwords score, the same arithmetic
    * as `TextOps.gatedDocs`), (2) streaming near-dup drop
    * ([[nearDupFiltered]] — simhash first-wins within the watermark),
    * (3) per-source quota admission ([[quotaSampled]] — first-N by
    * arrival). Stages compose as Dataset transforms, so the whole
    * pipeline is ONE streaming query: one stateful dedup, one keyed
    * quota state, everything else codegen'd projection.
    *
    * Determinism: each stage is individually replay-deterministic
    * (map-only / first-wins / sorted admission), so the composition
    * is too — the spec cuts the stream mid-way and still matches the
    * three batch stages applied in the same order. */
  def streamingIngest(docs: DataFrame, quotas: Map[String, Long],
      minTokens: Int = 3, minQuality: Double = 0.1,
      watermark: String = "10 minutes"): Dataset[QuotaDoc] = {
    import docs.sparkSession.implicits._
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = size(filter(toks,
      t => t.isin("the", "a", "of", "and", "to"))).cast("double") / nTok
    val gated = docs
      .withColumn("quality", ttr * (lit(1.0) - stopRatio))
      .filter(nTok >= minTokens && col("quality") >= minQuality)
      .select(col("doc_id"), col("source"), col("text"), col("ts"))
    quotaSampled(
      nearDupFiltered(gated, watermark)
        .select(col("doc_id"), col("source"), col("ts")).as[QuotaDoc],
      quotas)
  }

  // ================= streaming WAL continuity audit =================

  case class WalPos(stream: String, wal: Long)
  case class WalGap(stream: String, gap_from: Long, gap_to: Long,
    missing: Long, cum_missing: Long)

  /** The WAL-gap transition for one stream: thread (last position,
    * cumulative missing) across the batch's positions in ascending
    * order; positions ≤ the last seen are replays and emit nothing.
    *
    * DELIVERY-ORDER CONTRACT (r8 advice): "≤ last seen ⇒ replay" is
    * only sound when positions arrive in (micro-batch-wise) ascending
    * order — the guarantee a WAL shipper gives, since a WAL is read
    * sequentially from a single cursor. Under CROSS-BATCH REORDERING
    * (a genuinely late position first delivered after a later one
    * already advanced the cursor) the late position is treated as a
    * replay and dropped, so a previously-reported gap is never
    * retro-filled and the stream's audit diverges from the batch
    * [[graft.operators.CdcOps.qWalGaps]] run over the full log. The
    * batch-equality claim therefore holds exactly for in-order
    * delivery, and the split law (WalGapLaws) quantifies over SORTED
    * inputs for the same reason — both made explicit by the
    * 'out-of-order delivery is NOT replay-safe' law in WalGapLaws. A
    * deployment whose transport reorders across batches must either
    * re-sequence upstream (the reference's commit-ordering stage) or
    * track filled positions within a watermark and emit corrections.
    * Pure — split/replay laws in WalGapLaws. */
  private[graft] def advanceWalGaps(st0: Option[(Long, Long)],
      wals: Seq[Long]): (Option[(Long, Long)], Seq[(Long, Long, Long, Long)]) = {
    var last = st0.map(_._1).getOrElse(Long.MinValue)
    var cum = st0.map(_._2).getOrElse(0L)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    wals.sorted.foreach { w =>
      if (w > last) {
        if (last != Long.MinValue && w - last > 1) {
          cum += w - last - 1
          out += ((last + 1, w - 1, w - last - 1, cum))
        }
        last = w
      }
    }
    (Some((last, cum)), out.toSeq)
  }

  final class WalGapProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, WalPos, WalGap] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("walGap",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), ttl)
    override def handleInputRows(stream: String, rows: Iterator[WalPos],
        tv: TimerValues): Iterator[WalGap] = {
      val st0 = if (st.exists()) Some(st.get()) else None
      val (st1, out) = advanceWalGaps(st0, rows.map(_.wal).toSeq)
      st1.foreach(st.update)
      out.iterator.map { case (f, t, m, c) => WalGap(stream, f, t, m, c) }
    }
  }

  /** STREAMING WAL continuity audit — the live twin of the batch
    * `CdcOps.qWalGaps`: gaps surface the moment the position AFTER
    * the hole arrives, instead of at the nightly audit. State is two
    * Longs per stream; replayed positions are no-ops, so checkpoint
    * recovery emits identically. Fed the same change stream it equals
    * the batch query row-for-row (StatefulOpsSpec, mid-stream cut).
    * RocksDB state store required. */
  def streamingWalGaps(positions: Dataset[WalPos],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[WalGap] = {
    import positions.sparkSession.implicits._
    positions.groupByKey(_.stream)
      .transformWithState(new WalGapProcessor(ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  // ================= streaming CUSUM drift detector =================

  case class CusumState(s: Long, lastDay: Long)
  case class CusumPoint(event_type: String, day: Long, cnt: Long,
    cusum: Long, drift_alarm: Boolean)

  /** The CUSUM transition for one key: thread S_i = max(0, S_{i−1} +
    * (x_i − target − slack)) across the batch's days in ascending
    * order, ignoring re-delivered (≤ last seen) days so replays are
    * no-ops. Pure — the split law in CusumLaws is the replay-equality
    * argument. */
  private[graft] def advanceCusum(st0: Option[CusumState],
      target: Long, slack: Long,
      days: Seq[(Long, Long)]): (Option[CusumState], Seq[(Long, Long, Long)]) = {
    var s = st0.map(_.s).getOrElse(0L)
    var last = st0.map(_.lastDay).getOrElse(Long.MinValue)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    days.sortBy(_._1).foreach { case (day, cnt) =>
      if (day > last) {
        s = math.max(0L, s + (cnt - target - slack))
        last = day
        out += ((day, cnt, s))
      }
    }
    (Some(CusumState(s, last)), out.toSeq)
  }

  final class CusumProcessor(targets: Map[String, Long],
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, DailyCount, CusumPoint] {
    @transient private var st: ValueState[CusumState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CusumState]("cusum",
        Encoders.product[CusumState], ttl)
    override def handleInputRows(eventType: String, rows: Iterator[DailyCount],
        tv: TimerValues): Iterator[CusumPoint] = {
      val target = targets.getOrElse(eventType, 0L)
      val st0 = if (st.exists()) Some(st.get()) else None
      val (st1, out) = advanceCusum(st0, target, target / 20,
        rows.map(r => (r.day, r.cnt)).toSeq)
      st1.foreach(st.update)
      out.iterator.map { case (d, c, s) =>
        CusumPoint(eventType, d, c, s, s > target) }
    }
  }

  /** STREAMING CUSUM twin of the batch `EventOps.qCusumDrift`: the
    * batch twin computes its target (the series median) from the full
    * history — a stream cannot, so the PRODUCTION split is exactly
    * this API: the nightly batch publishes per-type targets, the
    * stream threads the one-Long recurrence against them and raises
    * the alarm the moment a day's rollup arrives. State is (S, last
    * day) per type; re-delivered days are no-ops, so checkpoint
    * replay emits identically. Fed batch-median targets, the stream's
    * (day, cusum, alarm) rows equal the batch query's — asserted in
    * StatefulOpsSpec across a mid-stream cut. RocksDB state store
    * required. */
  def streamingCusum(counts: Dataset[DailyCount], targets: Map[String, Long],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[CusumPoint] = {
    import counts.sparkSession.implicits._
    counts.groupByKey(_.event_type)
      .transformWithState(new CusumProcessor(targets, ttl), timeModeFor(ttl),
        OutputMode.Append())
  }

  // ================= streaming KMV cardinality sketch =================

  case class SegmentUser(segment: String, user_id: Long)
  case class KmvState(minima: Seq[Long])
  case class KmvPoint(segment: String, n_minima: Int, v_k: Long, est_card: Long)

  /** The batch twin's 48-bit hash (md5 of the decimal user id, first
    * 12 hex chars) as a plain JVM function — bit-identical to the
    * Column expression in `EventOps.qKmvOverlap` and the DuckDB
    * oracle, so the streamed minima are the SAME longs. */
  private[graft] def h48(userId: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(userId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(12), 16)
  }

  /** The KMV transition: fold a batch of hashes into the k minima.
    * A SET of minima (distinct + sorted + take k) makes the merge
    * associative, commutative, and duplicate-idempotent — the
    * ScalaCheck'd split law in KmvLaws is exactly why any batch cut
    * (and any replay) converges to the same sketch. */
  private[graft] def mergeMinima(cur: Seq[Long], incoming: Seq[Long],
      k: Int): Seq[Long] =
    (cur ++ incoming).distinct.sorted.take(k)

  /** est = n while the sketch is exact (fewer than k minima), else
    * (k−1)·2⁴⁸ DIV v_k — the batch twin's estimator verbatim. */
  private[graft] def kmvEstimate(minima: Seq[Long], k: Int): Long =
    if (minima.size < k) minima.size.toLong
    else (k - 1).toLong * (1L << 48) / minima.last

  final class KmvProcessor(k: Int, ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, SegmentUser, KmvPoint] {
    @transient private var st: ValueState[KmvState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KmvState]("kmvMinima",
        Encoders.product[KmvState], ttl)
    override def handleInputRows(segment: String, rows: Iterator[SegmentUser],
        tv: TimerValues): Iterator[KmvPoint] = {
      val cur = if (st.exists()) st.get().minima else Seq.empty[Long]
      val m = mergeMinima(cur, rows.map(r => h48(r.user_id)).toSeq, k)
      st.update(KmvState(m))
      Iterator.single(KmvPoint(segment, m.size,
        if (m.isEmpty) 0L else m.last, kmvEstimate(m, k)))
    }
  }

  /** STREAMING KMV twin of the batch `EventOps.qKmvOverlap`: maintain
    * each segment's k-minimum-values sketch incrementally as users
    * arrive — the live audience-size counter whose state is k longs
    * per segment FOREVER, versus the batch twin's full distinct set.
    * Each micro-batch emits the segment's current (n_minima, v_k,
    * estimate); because KMV merge is a set union of minima, any two
    * final segment sketches combine DOWNSTREAM into the same union
    * sketch / overlap estimate the batch query computes — asserted
    * against `qKmvOverlap`'s row in StatefulOpsSpec. RocksDB state
    * store required. */
  def streamingKmv(users: Dataset[SegmentUser], k: Int = 64,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KmvPoint] = {
    import users.sparkSession.implicits._
    users.groupByKey(_.segment)
      .transformWithState(new KmvProcessor(k, ttl), timeModeFor(ttl),
        OutputMode.Append())
  }
}
