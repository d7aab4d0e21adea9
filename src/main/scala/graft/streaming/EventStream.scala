package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Typed row for the stateful sessionizer (top-level so Catalyst's
  * generated encoder code can reference it). */
case class SessEvent(ts: Timestamp, user_id: Long, value: Double, event_id: Long)

/** Per-user open-session state: all times epoch-MICROS — event
  * timestamps carry sub-millisecond components, and comparing gaps at
  * millisecond precision could split/merge a session differently from
  * a µs-exact batch twin on a boundary-straddling pair. */
case class SessState(start: Long, last: Long, n: Long, sumValue: Double, firstEvent: Long)

/** A closed session as emitted downstream. */
case class SessionOut(user_id: Long, session_start: Timestamp, session_end: Timestamp,
    n_events: Long, sum_value: Double, first_event: Long)

/** Typed row for the stateful debouncer. */
case class DebEvent(ts: Timestamp, user_id: Long, event_type: String, event_id: Long)

/** Per-(user,type) debounce state: the last event's epoch-µs — kept OR
  * dropped, because the lag rule gaps against the previous EVENT. */
case class DebState(lastUs: Long)

/** A kept (non-noise) event as emitted downstream. */
case class DebOut(user_id: Long, event_type: String, event_id: Long)

/** Typed row for the stateful transition extractor. */
case class TransEvent(ts: Timestamp, user_id: Long, event_type: String, event_id: Long)

/** Per-user "last event seen" — epoch-µs + id for deterministic
  * ordering, plus the type the next pair leads with. */
case class TransState(lastUs: Long, lastId: Long, lastType: String)

/** One consecutive-event transition as emitted downstream. */
case class TransOut(user_id: Long, prev_type: String, event_type: String)

/** One buffered (above-watermark, not yet finalized) event inside
  * [[TransBufState]]. */
case class BufEvent(us: Long, id: Long, tpe: String)

/** Per-user state for the WATERMARK-BUFFERED transition extractor:
  * the last FINALIZED event (the one the next finalized pair leads
  * with), plus every event still above the watermark in (µs, id)
  * order. Buffer size is bounded by the user's events inside the
  * watermark window, never history. */
case class TransBufState(last: Option[TransState], buf: Seq[BufEvent])

/** Structured Streaming twins of the batch event analytics in
  * [[graft.operators.EventsOps]] (the reference engine is batch-only —
  * SURVEY.md §2.10 — so this is pure extension surface).
  *
  * Each transform takes an unbounded DataFrame with the `events`
  * schema (`ts TIMESTAMP, user_id, event_type, value, event_id`) from
  * any `readStream` source and returns a streaming DataFrame; callers
  * pick the sink/trigger. State is always watermark-bounded so long
  * runs cannot accumulate unbounded state — the property that matters
  * at production scale.
  */
object EventStream {

  /** Tumbling 1-hour counts per event type — the streaming twin of
    * q_events_hourly. Watermark 2h bounds both late data and state.
    * The value sum uses the portable fixed-point convention
    * ([[graft.functions.Portable.exactSum]]) so the result is
    * bit-identical to the batch twin at any micro-batch split — the
    * property that lets q_stream_hourly share the batch oracle. */
  def hourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Portable.exactSum(col("value")).as("sum_value"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** 30-minute-gap sessions per user — the streaming twin of
    * q_events_sessions, via the native session_window (the batch query
    * builds the same sessions with lag + cumulative sum). */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
      .select(col("user_id"), col("win.start").as("session_start"),
        col("n_events"), col("first_event"))

  /** Streaming exact dedup by event_id — the streaming face of the
    * dedup pillar: dropDuplicates state is GC'd past the watermark,
    * so the dedup window is explicit (2h) instead of unbounded. */
  def deduped(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream attribution join — purchases matched to the same
    * user's clicks in the preceding hour (the streaming face of
    * q_asof_join's click→purchase pairing). Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire click state past (watermark − 1h): state size
    * follows the join window, not the stream's history.
    */
  def attributed(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("ts").as("click_ts"), col("user_id").as("click_user"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("ts").as("purchase_ts"), col("user_id").as("purchase_user"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("purchase_user") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** The interval join behind [[attributedOuter]], [[attributedFull]]
    * and [[attributedLast]]: one watermark on the event stream, the
    * click and purchase sides each keeping their own event type plus
    * `sentinelType` (see [[attributedOuter]] for why the sentinel must
    * pass both filters), joined as `joinType` on same user and click
    * within the hour at or before the purchase. */
  private def attributionJoin(events: DataFrame,
      sentinelType: Option[String], joinType: String): DataFrame = {
    val wm = events.withWatermark("ts", "2 hours")
    def keep(t: String) = sentinelType match {
      case Some(st) => col("event_type").isin(t, st)
      case None => col("event_type") === t
    }
    val clicks = wm
      .filter(keep("click"))
      .select(col("ts").as("click_ts"), col("user_id").as("click_user"),
        col("event_id").as("click_id"))
    val purchases = wm
      .filter(keep("purchase"))
      .select(col("ts").as("purchase_ts"), col("user_id").as("purchase_user"),
        col("event_id").as("purchase_id"), col("value"))
    purchases.join(clicks,
      col("purchase_user") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
  }

  /** LEFT-OUTER stream-stream attribution — [[attributed]] plus the
    * rows production attribution actually needs: purchases with NO
    * click in the preceding hour, emitted with null click columns.
    *
    * Outer semantics change the mechanics in two ways:
    *
    *  - An unmatched purchase can only be declared unmatched once the
    *    watermark proves no qualifying click can still arrive
    *    (watermark past purchase_ts, i.e. past the click window's
    *    upper bound), so null rows emit on watermark advance — the
    *    sentinel-flush contract, where the inner join needed none.
    *  - In a bounded replay, something must DRIVE the watermark past
    *    the newest purchases or they never finalize — and it cannot
    *    be a row of a third event type that the side filters drop:
    *    Catalyst pushes the event-type filters below the
    *    EventTimeWatermark node (they don't reference the watermark
    *    column), so each side's watermark tracks only the rows its
    *    filter keeps. `sentinelType` therefore names an event type
    *    that passes BOTH side filters; such a far-future row advances
    *    both watermark nodes, can only ever pair with itself (its
    *    event time is outside every real row's join interval — the
    *    caller drops its self-match by user id), and every pending
    *    purchase finalizes. A live deployment passes None: real
    *    click/purchase traffic advances the watermark there.
    *
    * Click state is still expired past (watermark − 1h); purchase
    * state holds only watermark-pending purchases. State follows the
    * join window at 100 TB exactly like the inner variant.
    */
  def attributedOuter(events: DataFrame,
      sentinelType: Option[String] = None): DataFrame = {
    attributionJoin(events, sentinelType, "left_outer")
      .select(col("purchase_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** FULL-OUTER stream-stream attribution — [[attributedOuter]] plus
    * the other side's orphans: clicks that led to NO purchase within
    * the following hour emit with null purchase columns (the
    * funnel-leak face — unconverted clicks are the rows a marketing
    * attribution pipeline bills against), alongside unmatched
    * purchases and matched pairs. The watermark discipline is
    * symmetric and per-side:
    *
    *  - an unmatched PURCHASE finalizes once the watermark passes
    *    purchase_ts (no qualifying click at-or-before it can still
    *    arrive — the [[attributedOuter]] rule);
    *  - an unmatched CLICK finalizes once the watermark passes
    *    click_ts + 1h (the last purchase that could still claim it
    *    sits at the top of the click's forward window).
    *
    * Neither side's null row may emit before ITS proof — the
    * EventStreamSpec full-outer test pins both holds and both
    * releases. The same pass-both-filters sentinel drives the bounded
    * replay (it can only self-match; the caller drops it by user id);
    * a live deployment passes None. State: click side expired past
    * (watermark − 1h), purchase side holds watermark-pending
    * purchases — both follow the join window at 100 TB, never
    * history. user_id coalesces across sides (exactly one is non-null
    * on an orphan row).
    */
  def attributedFull(events: DataFrame,
      sentinelType: Option[String] = None): DataFrame = {
    attributionJoin(events, sentinelType, "full_outer")
      .select(coalesce(col("purchase_user"), col("click_user")).as("user_id"),
        col("purchase_id"), col("click_id"), col("purchase_ts"),
        col("click_ts"), col("value"))
  }

  /** LAST-click attribution — the production attribution MODEL on top
    * of the interval join: each purchase is credited to the single
    * latest click in its preceding hour (ties by highest click id).
    * This chains TWO stateful operators — the stream-stream interval
    * join feeding a windowed aggregation keyed by (purchase window,
    * purchase) — the multiple-stateful-operator shape Structured
    * Streaming supports when the downstream agg is event-time
    * windowed (an arbitrary groupBy(purchase_id) would be rejected:
    * without a window the agg's state could never be finalized or
    * GC'd). The agg emits once the watermark passes the purchase's
    * window, so the bounded replay needs the same pass-both-filters
    * sentinel as [[attributedOuter]] — and the sentinel's self-match
    * lands in a year-2100 window that never finalizes, keeping it out
    * of the sink by construction. The max(struct(click_ts, click_id))
    * agg is the deterministic last-click pick; state per operator is
    * join-window-bounded clicks + one row per open purchase window.
    */
  def attributedLast(events: DataFrame,
      sentinelType: Option[String] = None): DataFrame = {
    attributionJoin(events, sentinelType, "inner")
      .groupBy(window(col("purchase_ts"), "1 hour"),
        col("purchase_user"), col("purchase_id"), col("value"))
      .agg(max(struct(col("click_ts"), col("click_id"))).as("last"))
      .select(col("purchase_user").as("user_id"), col("purchase_id"),
        col("last.click_id").as("last_click_id"),
        col("last.click_ts").as("last_click_ts"), col("value"))
  }

  private val GapUs: Long = 30L * 60 * 1000 * 1000

  /** java.sql.Timestamp ↔ epoch-micros, preserving the µs component
    * (Timestamp.getTime alone truncates to millis; the fractional
    * second lives in getNanos). */
  private def tsToUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Custom-state sessionizer via flatMapGroupsWithState — the same
    * 30-minute-gap sessions as [[sessions]], but with hand-rolled
    * per-user state instead of session_window: the shape to reach for
    * when session semantics outgrow a gap (caps, value-dependent
    * splits, per-session sketches). A session closes either when a
    * later event of the same user arrives past the gap (emitted that
    * batch) or when the event-time timeout fires after the watermark
    * passes last+gap. State is one small record per ACTIVE user —
    * bounded by concurrent users, not history — and is always freed
    * by timeout, so a 100 TB/day stream holds state ∝ live sessions.
    */
  def sessionizedState(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("ts", "user_id", "value", "event_id").as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionFn)
      .toDF()
  }

  private def toOut(user: Long, s: SessState): SessionOut =
    SessionOut(user, usToTs(s.start), usToTs(s.last),
      s.n, s.sumValue, s.firstEvent)

  private def sessionFn(user: Long, evs: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(toOut(user, _)).iterator
      state.remove()
      out
    } else {
      // Within-batch order is arbitrary; sort by µs event time (id as
      // a deterministic tiebreak) before folding into sessions.
      val sorted = evs.toIndexedSeq.sortBy(e => (tsToUs(e.ts), e.event_id))
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur = state.getOption
      for (e <- sorted) {
        val t = tsToUs(e.ts)
        cur match {
          case Some(s) if t - s.last <= GapUs =>
            cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
              sumValue = s.sumValue + e.value))
          case Some(s) =>
            closed += toOut(user, s)
            cur = Some(SessState(t, t, 1, e.value, e.event_id))
          case None =>
            cur = Some(SessState(t, t, 1, e.value, e.event_id))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // The timeout timestamp must sit strictly past the current
        // watermark or Spark rejects it (a session whose gap already
        // elapsed just times out on the next batch). The timeout API
        // is millisecond-based: round the µs close time UP so the
        // timeout never fires before the gap truly elapsed.
        state.setTimeoutTimestamp(
          math.max(Math.floorDiv(s.last + GapUs + 999L, 1000L),
            state.getCurrentWatermarkMs() + 1))
      }
      closed.iterator
    }
  }

  private val DebounceGapUs: Long = 5L * 60 * 1000 * 1000

  /** Stateful 5-minute DEBOUNCE — the streaming face of q_debounce
    * with EXACTLY its lag-rule semantics: an event is noise iff the
    * same (user, type) key fired within the preceding 5 minutes,
    * gapping against the previous EVENT (kept or dropped), so a storm
    * stays suppressed until a true 5-minute silence re-admits the key.
    *
    * Deliberately NOT dropDuplicatesWithinWatermark — the semantic
    * seam: the built-in suppresses per key while its state lives, and
    * state eviction is driven by the WATERMARK, which advances only
    * between micro-batches — a bounded replay (one big batch)
    * degenerates to one-event-per-key, and even live its re-admission
    * boundary is watermark-lag-dependent, not the 5-minute lag rule.
    * Hand-rolled state pins the batch twin's semantics: each batch
    * sorts its group's events by (µs, id) and folds the gap test;
    * state (one µs per key) bridges micro-batch boundaries
    * (EventStreamSpec pins a storm spanning three batches).
    *
    * State is freed by an event-time timeout at last+gap, which is
    * provably a semantic NO-OP for every event the stream admits:
    * debounceFn explicitly drops input older than the current
    * watermark (flatMapGroupsWithState leaves late-row filtering to
    * the user function — without the guard, a >2h-late event arriving
    * after its key's state was evicted would gap against nothing and
    * be wrongly re-admitted), so eviction requires watermark >
    * last+gap, every surviving event has t ≥ watermark > last+gap,
    * and the gap rule keeps it as a first occurrence anyway — state
    * is bounded by keys ACTIVE within the gap window, never history
    * (the dropDuplicates cardinality class avoided), and
    * beyond-watermark input is dropped rather than mis-gapped, the
    * standard streaming lateness contract. */
  def debounceState(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("ts", "user_id", "event_type", "event_id").as[DebEvent]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(debounceFn)
      .toDF()
  }

  private def debounceFn(key: (Long, String), evs: Iterator[DebEvent],
      state: GroupState[DebState]): Iterator[DebOut] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // Late-row guard (see scaladoc): state may already have been
      // evicted for anything below the watermark, so admitting such a
      // row could mis-gap it. getCurrentWatermarkMs is 0 until the
      // first watermark, which keeps everything — correct: nothing
      // can have been evicted yet either.
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val sorted = evs.toIndexedSeq.filter(e => tsToUs(e.ts) >= wmUs)
        .sortBy(e => (tsToUs(e.ts), e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[DebOut]
      var last = state.getOption.map(_.lastUs)
      for (e <- sorted) {
        val t = tsToUs(e.ts)
        if (last.forall(l => t - l >= DebounceGapUs))
          out += DebOut(key._1, key._2, e.event_id)
        last = Some(t)
      }
      last.foreach { l =>
        state.update(DebState(l))
        // Millisecond timeout API: round the µs close time UP, and sit
        // strictly past the current watermark (Spark rejects earlier).
        state.setTimeoutTimestamp(
          math.max(Math.floorDiv(l + DebounceGapUs + 999L, 1000L),
            state.getCurrentWatermarkMs() + 1))
      }
      out.iterator
    }
  }

  /** Stateful consecutive-event TRANSITION extraction — the streaming
    * face of q_event_transitions' lag: per-user state is the LAST
    * event seen (µs time + id + type); each batch sorts its events by
    * (µs, id), emits one (prev_type, event_type) pair per event that
    * has a predecessor (the state bridges batch boundaries), and
    * stores the new last event. NoTimeout is deliberate: the batch
    * twin's lag() pairs consecutive events across ANY gap, so evicting
    * state would silently drop the pair a user's next event owes —
    * state is one small record per user EVER seen (the dropDuplicates
    * cardinality class, ∝ users not events), the cost of exact global
    * lag semantics. A deployment that accepts gap-bounded pairs swaps
    * in an event-time timeout and gets session-bounded state.
    */
  def transitionsState(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("ts", "user_id", "event_type", "event_id").as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(transFn)
      .toDF()
  }

  /** WATERMARK-BUFFERED transition extraction — the production-grade
    * face of [[transitionsState]] for OUT-OF-ORDER streams. The plain
    * variant pairs by fold order: per-user state is just the last
    * event seen, so a user's later event arriving a batch EARLIER
    * gets paired first and the stream diverges from the batch twin's
    * lag(). This variant buffers events and finalizes a pair only
    * once the WATERMARK strictly passes the earlier event's time:
    *
    *  - each batch admits rows at-or-above the watermark (the
    *    debounce late-row discipline: anything below may already have
    *    been finalized past, so pairing it would be out of order —
    *    dropped, the standard lateness contract), merges them into
    *    the per-user buffer, and pops the (µs, id)-sorted prefix
    *    strictly BELOW the watermark, pairing each popped event
    *    against the previous finalized one;
    *  - a popped event's successor is safe to wait for: every future
    *    admitted event sits at-or-above the watermark, hence strictly
    *    after everything popped — so the finalized pair sequence is
    *    EXACTLY the batch lag() over the admitted rows, whatever
    *    batch slicing or arrival order the stream had
    *    (EventStreamSpec pins an adversarial out-of-order replay);
    *  - an event-time timeout at the earliest buffered µs drains the
    *    buffer as the watermark advances without new data for the
    *    key (Spark's no-data micro-batches fire it).
    *
    * State is the last finalized event plus the events inside the
    * watermark window — bounded by `delay`, never history (the
    * sessionizer's cardinality class, unlike [[transitionsState]]'s
    * one-record-per-user-ever). The cost of exactness under
    * disorder: emission latency = the watermark delay. */
  def transitionsBuffered(events: DataFrame,
      delay: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .selectExpr("ts", "user_id", "event_type", "event_id").as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(transBufFn)
      .toDF()
  }

  private def transBufFn(user: Long, evs: Iterator[TransEvent],
      state: GroupState[TransBufState]): Iterator[TransOut] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption.getOrElse(TransBufState(None, Nil))
    val incoming =
      if (state.hasTimedOut) IndexedSeq.empty[BufEvent]
      else evs.filter(e => tsToUs(e.ts) >= wmUs)
        .map(e => BufEvent(tsToUs(e.ts), e.event_id, e.event_type))
        .toIndexedSeq
    val buf = (st.buf ++ incoming).sortBy(e => (e.us, e.id))
    // Strictly below the watermark pops; exactly-at stays (a same-µs
    // sibling can still be admitted, and the id tiebreak must see
    // them together).
    val (ready, pending) = buf.partition(_.us < wmUs)
    val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
    var last = st.last
    for (e <- ready) {
      last.foreach(s => out += TransOut(user, s.lastType, e.tpe))
      last = Some(TransState(e.us, e.id, e.tpe))
    }
    if (pending.isEmpty && last.isEmpty) state.remove()
    else {
      state.update(TransBufState(last, pending))
      // Wake when the watermark strictly passes the earliest buffered
      // event (ms-rounded UP; must sit past the current watermark).
      pending.headOption.foreach { h =>
        state.setTimeoutTimestamp(
          math.max(Math.floorDiv(h.us, 1000L) + 1L,
            state.getCurrentWatermarkMs() + 1L))
      }
    }
    out.iterator
  }

  private def transFn(user: Long, evs: Iterator[TransEvent],
      state: GroupState[TransState]): Iterator[TransOut] = {
    val sorted = evs.toIndexedSeq.sortBy(e => (tsToUs(e.ts), e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
    var last = state.getOption
    for (e <- sorted) {
      last.foreach(s => out += TransOut(user, s.lastType, e.event_type))
      last = Some(TransState(tsToUs(e.ts), e.event_id, e.event_type))
    }
    last.foreach(state.update)
    out.iterator
  }

  /** Mergeable fixed-range histogram of `value` — the streaming face
    * of q_quantile_sketch: bin counts are additive state, so stream-
    * and batch-computed histograms agree EXACTLY (EventStreamSpec
    * asserts it). The [mn, mx) range is a deployment input (e.g.
    * yesterday's batch min/max): a stream cannot see a global
    * min/max, and pinning the range is precisely what makes the
    * sketch mergeable across micro-batches and against batch history.
    * State is `bins` counters regardless of stream volume.
    *
    * Out-of-range contract: values outside [mn, mx) clamp SYMMETRICALLY
    * into the edge bins — below-range into bin 0, above-range into bin
    * bins-1 — so a drifting live range never emits bins a batch-history
    * merge partner can't have, and the edge-bin counts flag the drift. */
  def histogram(events: DataFrame, mn: Double, mx: Double,
      bins: Int = 1024): DataFrame =
    events
      .select(greatest(lit(0L), least(lit(bins.toLong - 1),
        floor((col("value") - mn) * bins / (mx - mn)).cast("long"))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
}
