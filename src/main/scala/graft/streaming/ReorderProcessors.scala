package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** WATERMARK REORDER BUFFER — the Flink-parity out-of-order front end
  * shared by the S20b/S4c/S21b hardened trio. The in-order processors
  * (SkipMatch/TemporalJoin/Abandon) assume each key's events arrive in
  * global (ts, event_id) order across micro-batches — true on the clean
  * replay, false on any real stream. This base class restores that
  * order under disorder bounded by the watermark delay, exactly the way
  * Flink's CEP and temporal-join operators do it: per key, BUFFER every
  * event until the watermark clears its event time, then release the
  * cleared prefix in (ts, event_id) order into the wrapped fold.
  *
  * Release rule (and why it is safe): an event flushes when
  * ts_ms < wm, with wm = the batch's event-time watermark
  * (`TimerValues.getCurrentWatermarkInMs` — max event time of PRIOR
  * batches minus the delay). Spark admits a row into batch b only if
  * its ts clears the LAGGING filter watermark wm(b−1) (the one-batch
  * commit lag, calibrated for S7), so every row that can still arrive
  * at or after batch b carries ts ≥ wm(b−1); monotonicity then puts
  * all future arrivals at ts ≥ wm(b) — strictly above everything the
  * bound releases. Rows below even the CURRENT wm (admitted through
  * the lag window; none exist on the `ooo` fixture, whose disorder is
  * bounded at 23 h < the 24 h delay) are DROPPED and counted — Flink's
  * late-row semantics — rather than applied out of order.
  *
  * Flush triggers: a single WALKING timer per key at
  * (min buffered ts_ms) + 1 — it fires at the first batch whose
  * wm > min ts (the inclusive-at-equality timer contract pinned by
  * the r16 probe), the flush releases everything below that batch's
  * wm (always at least the minimum event, so progress is strict), and
  * the timer re-arms at the new minimum + 1. Plus an opportunistic
  * flush on every input batch. The walking timer keeps the release
  * horizon EXACT by induction — the emitted set is precisely
  * {e : ts_ms(e) < final wm}, the closed form the oracles model: a
  * stranded event would need the chain to stop while its ts is below
  * the final watermark, but the chain only stops when the remaining
  * minimum's ts ≥ the last wm. Timer-store traffic is
  * O(keys × batches), not O(events) — a naive per-event timer costs a
  * RocksDB timer write AND a fired-timer invocation per event (the
  * first cut measured ~40% slower at sf0.1 on exactly that).
  * AvailableNow's trailing watermark-advance batch fires the last
  * chain step; `onWatermark` (the S21b sweep hook) runs after every
  * flush in the SAME invocation, so work whose deadline the final
  * watermark already passed cannot be stranded behind a timer
  * registered in the past.
  *
  * State budget: the buffer holds, per key, the current batch's rows
  * plus rows younger than the delay — rate × (trigger interval +
  * delay), the standard Flink temporal-join bound; the high-water mark
  * is exported through [[ReorderingProcessor.maxBuffered]] (a
  * process-local diagnostic gauge — exact under local[*], per-executor
  * maxima on a cluster) and pinned in StreamingSpec against the
  * fixture's per-user volumes. Unlike the in-order trio's per-batch
  * sort (bounded by what one micro-batch can hold), the buffer
  * persists across batches in the state store — RocksDB, the declared
  * backend — so a hyperactive key degrades to disk, not heap.
  *
  * 100 TB: one user_id shuffle (unchanged from the wrapped operators),
  * per-event work O(log buffer) amortized for the sort at release,
  * timers RocksDB-range-scanned per batch — O(fired), not
  * O(registered). */
abstract class ReorderingProcessor[I, O](ie: Encoder[I])(
    implicit ct: scala.reflect.ClassTag[I])
    extends StatefulProcessor[Long, I, O] {

  /** Event time (µs) and tie-break id of an event. */
  protected def tsuOf(e: I): Long
  protected def idOf(e: I): Long

  /** Create the wrapped fold's state; called from init. */
  protected def initCore(): Unit

  /** Apply watermark-cleared events — ALREADY in (tsu, id) order — to
    * the wrapped fold; eager (state updates happen before return). */
  protected def applyOrdered(key: Long, events: Seq[I]): Seq[O]

  /** Watermark-driven work independent of event arrival (the S21b
    * sweep); runs after every flush with the same wm. */
  protected def onWatermark(key: Long, wmMs: Long): Seq[O] = Seq.empty

  /** LATE-DATA SIDE OUTPUT (Flink's `sideOutputLateData` tag): called
    * with the rows the drop branch is about to discard — admitted by
    * Spark's lagging input filter but already below this batch's
    * operative watermark, sorted in (tsu, id) order. Default = emit
    * nothing (the pre-S24 behavior: drop and count); S24 overrides it
    * to emit tagged rows alongside the main fold so late data lands in
    * an auditable channel instead of vanishing into a gauge. Never
    * called with an empty seq. */
  protected def onLate(key: Long, events: Seq[I]): Seq[O] = Seq.empty

  @transient private var buf: ListState[I] = _
  // same-(key, wm) short-circuit for timer storms: within a batch the
  // watermark is constant, so after one flush+sweep at (key, wm) every
  // further fired timer for the same key is a provable no-op — skip it
  // without touching the state store. (Input rows actually run BEFORE
  // expired timers within a data batch — the TWS scheduling contract
  // corrected in r19, see TimerOrderProbe — but the memo never relied
  // on the order: flush is idempotent at a fixed (key, wm) whichever
  // path ran first.) Transient per-partition memo (one entry), rebuilt
  // free after restart; input handling never consults it.
  @transient private var lastTimerKey: Long = _
  @transient private var lastTimerWm: Long = _
  @transient private var lastTimerSet: Boolean = false

  final override def init(outputMode: OutputMode,
                          timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[I]("reorderBuf", ie, TTLConfig.NONE)
    lastTimerSet = false
    initCore()
  }

  /** Merge incoming rows into the buffer, release the cleared prefix
    * in order, rewrite the kept suffix. */
  private def flush(key: Long, wmMs: Long, incoming: Seq[I]): Seq[O] = {
    val buffered: Seq[I] =
      if (buf.exists()) buf.get().toSeq else Seq.empty
    val all = buffered ++ incoming
    val (ready, keep) = all.partition(e => tsuOf(e) / 1000 < wmMs)
    if (ready.nonEmpty || incoming.nonEmpty) {
      // one bulk put (or clear) per rewrite, not a row-at-a-time append
      if (keep.isEmpty) buf.clear() else buf.put(keep.toArray)
      // re-arm the walking release timer at the new minimum (+1: fires
      // once the watermark strictly clears it)
      if (keep.nonEmpty)
        getHandle.registerTimer(keep.iterator.map(tsuOf).min / 1000 + 1)
    }
    ReorderingProcessor.note(keep.size)
    if (ready.isEmpty) Seq.empty
    else applyOrdered(key, ready.sortBy(e => (tsuOf(e), idOf(e))))
  }

  final override def handleInputRows(key: Long, rows: Iterator[I],
                                     timers: TimerValues): Iterator[O] = {
    val wm = timers.getCurrentWatermarkInMs()
    // Flink late-row semantics: a row already below the operative
    // watermark (admitted through Spark's one-batch filter lag) cannot
    // be applied in order — drop and count (and hand to the side-output
    // hook), never reorder the past.
    val (late, incoming) = rows.toSeq.partition(e => tsuOf(e) / 1000 < wm)
    val lateOut =
      if (late.isEmpty) Seq.empty
      else {
        ReorderingProcessor.lateDropped.addAndGet(late.size)
        onLate(key, late.sortBy(e => (tsuOf(e), idOf(e))))
      }
    (lateOut ++ flush(key, wm, incoming) ++ onWatermark(key, wm)).iterator
  }

  final override def handleExpiredTimer(key: Long, timers: TimerValues,
                                        info: ExpiredTimerInfo)
      : Iterator[O] = {
    val wm = timers.getCurrentWatermarkInMs()
    if (lastTimerSet && lastTimerKey == key && lastTimerWm == wm)
      return Iterator.empty // flushed+swept at this (key, wm) already
    lastTimerKey = key; lastTimerWm = wm; lastTimerSet = true
    (flush(key, wm, Seq.empty) ++ onWatermark(key, wm)).iterator
  }
}

object ReorderingProcessor {
  /** Buffer high-water mark (rows kept per key after a flush) and
    * late-drop counter — process-local diagnostics for the
    * StreamingSpec bounded-buffer and zero-drop pins; exact under
    * local[*] (one JVM), per-executor on a cluster. Never read by the
    * operators themselves. */
  val maxBuffered = new java.util.concurrent.atomic.AtomicLong(0)
  val lateDropped = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def resetGauges(): Unit = { maxBuffered.set(0); lateDropped.set(0) }
  private[streaming] def note(n: Int): Unit =
    maxBuffered.getAndUpdate(m => math.max(m, n.toLong))
}

/** S20b — the skip-till-next-match DP behind the reorder buffer. */
class ReorderedSkipMatch(pattern: String, windowUs: Long)
    extends ReorderingProcessor[FunnelEvent, (Long, Long)](
      Encoders.product[FunnelEvent]) {
  require(pattern.length >= 2, s"pattern too short for a sequence: $pattern")
  @transient private var st: ValueState[SkipMatchState] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[SkipMatchState](
      "skipmatch", Encoders.product[SkipMatchState], TTLConfig.NONE)
  override protected def tsuOf(e: FunnelEvent): Long = e.tsu
  override protected def idOf(e: FunnelEvent): Long = e.event_id
  override protected def applyOrdered(user: Long,
                                      events: Seq[FunnelEvent])
      : Seq[(Long, Long)] = {
    val n = pattern.length
    val m = Option(st.get()).map(_.m.toArray)
      .getOrElse(Array.fill(n - 1)(-1L))
    val out = SkipMatchProcessor.stepAll(pattern, windowUs, m, user, events)
    st.update(SkipMatchState(m.toSeq))
    out
  }
}

/** S4c — the temporal dim join behind the reorder buffer. */
class ReorderedTemporalJoin(midCents: Long, highCents: Long)
    extends ReorderingProcessor[TemporalEvent, (Long, Long, String)](
      Encoders.product[TemporalEvent]) {
  @transient private var st: ValueState[Scd2State] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[Scd2State](
      "scd2dim", Encoders.product[Scd2State], TTLConfig.NONE)
  override protected def tsuOf(e: TemporalEvent): Long = e.tsu
  override protected def idOf(e: TemporalEvent): Long = e.event_id
  override protected def applyOrdered(user: Long,
                                      events: Seq[TemporalEvent])
      : Seq[(Long, Long, String)] = {
    val (cur, out) = TemporalJoinProcessor.applyOrdered(
      midCents, highCents, Option(st.get()), user, events)
    cur.foreach(st.update)
    out
  }
}

/** S18b — SCD2 dimension maintenance behind the reorder buffer: S18's
  * maintainer (see [[Scd2Processor]]) hardened for a DISORDERED
  * purchase stream — the realistic CDC-ingest case, where the version
  * train must still come out in event-time order or downstream as-of
  * joins read torn history. The wrapped fold is
  * [[Scd2Processor.applyOrdered]] (single-sourced with the in-order
  * S18, so the two cannot drift); state = ONE Scd2State tuple per user
  * on top of the shared buffer. A version emits when its CLOSING
  * purchase is released, so the emitted set is exactly S18's closed
  * form restricted to the release horizon — the s18b oracle. */
class ReorderedScd2(midCents: Long, highCents: Long)
    extends ReorderingProcessor[Scd2Event, (Long, String, Long, Long)](
      Encoders.product[Scd2Event]) {
  @transient private var st: ValueState[Scd2State] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[Scd2State](
      "scd2", Encoders.product[Scd2State], TTLConfig.NONE)
  override protected def tsuOf(e: Scd2Event): Long = e.tsu
  override protected def idOf(e: Scd2Event): Long = e.event_id
  override protected def applyOrdered(user: Long, events: Seq[Scd2Event])
      : Seq[(Long, String, Long, Long)] = {
    val (cur, out) = Scd2Processor.applyOrdered(
      midCents, highCents, Option(st.get()), user, events)
    cur.foreach(st.update)
    out
  }
}

/** S8d — the flagship funnel behind the reorder buffer: the 24-hour
  * (s8c) form, which converts NATURALLY at every shipped sf, so the
  * disordered plain `ooo` replay is non-vacuous without the funnel
  * injection (whose synthetic chain timestamps sit past the natural
  * range and would catapult the watermark over the whole corpus —
  * the reason the injected variant cannot be composed with `ooo`).
  * The wrapped fold is [[FunnelProcessor.applyOrdered]] (single-
  * sourced with the in-order S8/S8b/S8c); every event a conversion
  * depends on is strictly earlier than its purchase, so the purchase's
  * release point sees exactly the in-order prefix — the oracle is
  * s8c's nested-EXISTS restricted to purchases under the release
  * horizon. */
class ReorderedFunnel(windowUs: Long)
    extends ReorderingProcessor[FunnelEvent, (Long, Long)](
      Encoders.product[FunnelEvent]) {
  @transient private var st: ValueState[FunnelState] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], TTLConfig.NONE)
  override protected def tsuOf(e: FunnelEvent): Long = e.tsu
  override protected def idOf(e: FunnelEvent): Long = e.event_id
  override protected def applyOrdered(user: Long, events: Seq[FunnelEvent])
      : Seq[(Long, Long)] = {
    val prev = Option(st.get()).getOrElse(FunnelState(Nil, Nil))
    val (next, out) = FunnelProcessor.applyOrdered(
      windowUs, prev, user, events)
    st.update(next)
    out
  }
}

/** S22b — the CDC/retraction consumer behind the reorder buffer: the
  * changelog is the MOST order-sensitive input in the engine (an
  * upsert/delete pair applied backwards leaves the key alive instead
  * of dead — not just a reordered output, a wrong final state), and a
  * real Debezium-style feed arrives disordered across partitions. The
  * wrapped fold is [[CdcProcessor.applyOps]] (single-sourced with the
  * in-order S22); state = the key's current value, cleared on delete,
  * on top of the shared buffer. Deltas emit when their op is released,
  * so the emitted set telescopes over exactly the released per-key
  * (ts, event_id) prefix — the s22b oracle's horizon restriction. */
class ReorderedCdc
    extends ReorderingProcessor[CdcOp, (Long, Long, Long)](
      Encoders.product[CdcOp]) {
  @transient private var st: ValueState[Long] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[Long](
      "cur", Encoders.scalaLong, TTLConfig.NONE)
  override protected def tsuOf(e: CdcOp): Long = e.tsu
  override protected def idOf(e: CdcOp): Long = e.event_id
  override protected def applyOrdered(user: Long, ops: Seq[CdcOp])
      : Seq[(Long, Long, Long)] = {
    val cur0 = if (st.exists()) Some(st.get()) else None
    val (cur, out) = CdcProcessor.applyOps(cur0, user, ops)
    cur match {
      case Some(v) => st.update(v)
      case None    => st.clear()
    }
    out
  }
}

/** S33c — the RETRACT-STREAM PRODUCER behind the watermark reorder
  * buffer: the producer is ORDER-SENSITIVE by construction (a running
  * sum's (−old, +new) pairs depend on the per-key prefix — disorder
  * would emit retractions of values never published), which makes it
  * the S-series operator that NEEDS the buffer most: a real CDC
  * producer fed by an out-of-order source must reorder before it may
  * speak. Fold single-sourced with [[RetractProcessor]] (refine);
  * buffer/late semantics inherited from [[ReorderingProcessor]]. */
class ReorderedRetract
    extends ReorderingProcessor[RetractOp, RetractRow](
      Encoders.product[RetractOp]) {
  @transient private var st: ValueState[Long] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[Long](
      "agg", Encoders.scalaLong, TTLConfig.NONE)
  override protected def tsuOf(e: RetractOp): Long = e.tsu
  override protected def idOf(e: RetractOp): Long = e.event_id
  override protected def applyOrdered(user: Long, ops: Seq[RetractOp])
      : Seq[RetractRow] = {
    val cur0 = if (st.exists()) Some(st.get()) else None
    val (cur, out) = RetractProcessor.refine(cur0, user, ops)
    cur.foreach(st.update)
    out
  }
}

/** S24 — the S8d funnel with a LATE-DATA SIDE OUTPUT (Flink's
  * `sideOutputLateData` + `getSideOutput` pair, re-expressed as a
  * tagged union on the one output stream Spark's TWS provides): rows
  * the reorder buffer's drop branch discards emit as
  * (user, event_id, 'late') alongside the fold's
  * (user, purchase_id, 'conv') conversions, so late data lands in an
  * auditable channel instead of vanishing into a gauge. Runs on the
  * `ooolate` replay, whose % 23 == 5 beyond-delay subset makes the
  * branch fire deterministically (see the Replayer variant note — the
  * r17 verdict's "untested branch": the plain ooo fixture's disorder
  * is bounded BELOW the delay by design, so until S24 the drop path
  * had no positive test).
  *
  * Semantics the oracle models in closed form: a row is late iff its
  * ts_ms is below the operative watermark of its arrival batch
  * (floor-ms(max ts arrived in PRIOR batches) − 24 h — computable
  * because the fixture's file assignment is deterministic); late rows
  * are EXCLUDED from the fold, so conversions are s8c's 24 h funnel
  * over the SURVIVING rows, restricted to purchases under the final
  * release horizon. The s24 oracle uses exact (ts, event_id) row
  * comparisons (the tie-exact form), not the s8 family's ts-only
  * convention. */
class ReorderedFunnelLate(windowUs: Long)
    extends ReorderingProcessor[FunnelEvent, (Long, Long, String)](
      Encoders.product[FunnelEvent]) {
  @transient private var st: ValueState[FunnelState] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], TTLConfig.NONE)
  override protected def tsuOf(e: FunnelEvent): Long = e.tsu
  override protected def idOf(e: FunnelEvent): Long = e.event_id
  override protected def applyOrdered(user: Long, events: Seq[FunnelEvent])
      : Seq[(Long, Long, String)] = {
    val prev = Option(st.get()).getOrElse(FunnelState(Nil, Nil))
    val (next, out) = FunnelProcessor.applyOrdered(
      windowUs, prev, user, events)
    st.update(next)
    out.map { case (u, pid) => (u, pid, "conv") }
  }
  override protected def onLate(user: Long, events: Seq[FunnelEvent])
      : Seq[(Long, Long, String)] =
    events.map(e => (user, e.event_id, "late"))
}

/** S24b — the CDC/retraction consumer with the LATE-DATA SIDE OUTPUT:
  * the [[ReorderingProcessor.onLate]] hook exercised on the MOST
  * order-sensitive fold (a reversed upsert/delete pair corrupts final
  * state, so dropping a late op silently is the worst place to do it —
  * exactly where an auditable late channel matters most). Applied ops
  * emit (user, seq_id, delta, 'delta'); dropped ops emit
  * (user, event_id, 0, 'late'). Proves the side-output face is a
  * property of the reorder buffer, not of the S24 funnel host. */
class ReorderedCdcLate
    extends ReorderingProcessor[CdcOp, (Long, Long, Long, String)](
      Encoders.product[CdcOp]) {
  @transient private var st: ValueState[Long] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[Long](
      "cur", Encoders.scalaLong, TTLConfig.NONE)
  override protected def tsuOf(e: CdcOp): Long = e.tsu
  override protected def idOf(e: CdcOp): Long = e.event_id
  override protected def applyOrdered(user: Long, ops: Seq[CdcOp])
      : Seq[(Long, Long, Long, String)] = {
    val cur0 = if (st.exists()) Some(st.get()) else None
    val (cur, out) = CdcProcessor.applyOps(cur0, user, ops)
    cur match {
      case Some(v) => st.update(v)
      case None    => st.clear()
    }
    out.map { case (u, sid, d) => (u, sid, d, "delta") }
  }
  override protected def onLate(user: Long, ops: Seq[CdcOp])
      : Seq[(Long, Long, Long, String)] =
    ops.map(o => (user, o.event_id, 0L, "late"))
}

/** S21b — timer-fired abandonment behind the reorder buffer. The sweep
  * convention is STRICT (deadline < wm, deadline timers at
  * deadline + 1) where the in-order S21 is inclusive: a suppressing
  * purchase at ts_ms == deadline may still sit in the buffer when
  * wm == deadline (the release bound is strict), so firing at equality
  * could emit an answered view. Strictness shifts the stream-tail
  * horizon by one ms-boundary case: a view emits iff unanswered AND
  * deadline_ms < final wm — the s21b oracle models exactly that. */
class ReorderedAbandon(windowUs: Long)
    extends ReorderingProcessor[FunnelEvent, (Long, Long)](
      Encoders.product[FunnelEvent]) {
  @transient private var st: ValueState[AbandonState] = _
  override protected def initCore(): Unit =
    st = getHandle.getValueState[AbandonState](
      "abandon", Encoders.product[AbandonState], TTLConfig.NONE)
  override protected def tsuOf(e: FunnelEvent): Long = e.tsu
  override protected def idOf(e: FunnelEvent): Long = e.event_id
  override protected def applyOrdered(user: Long,
                                      events: Seq[FunnelEvent])
      : Seq[(Long, Long)] = {
    val pending0 = Option(st.get()).map(_.views.toList).getOrElse(Nil)
    val (pending, deadlines) =
      AbandonProcessor.applyOrdered(windowUs, pending0, events)
    deadlines.distinct.foreach(d => getHandle.registerTimer(d + 1))
    st.update(AbandonState(pending))
    Seq.empty
  }
  override protected def onWatermark(user: Long,
                                     wmMs: Long): Seq[(Long, Long)] = {
    val winMs = windowUs / 1000
    val prev = Option(st.get()).map(_.views.toList).getOrElse(Nil)
    val (expired, keep) = prev.partition(v => v._1 / 1000 + winMs < wmMs)
    if (expired.isEmpty) Seq.empty
    else {
      st.update(AbandonState(keep))
      expired.sortBy(v => (v._1, v._2)).map(v => (user, v._2))
    }
  }
}
