package graft.streaming

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, StatefulProcessorHandle, StatefulProcessorWithInitialState, TimeMode, TimerValues, TTLConfig, ValueState}

/** What a runner applies to each key: a [[KeyedFold]] or a
  * [[TimeoutFold]], over one state variable. */
sealed trait KeyedOp[I <: Timed, S, O] {
  def stateName: String
  def stateEncoder: Encoder[S]

  /** Apply `events` — ALREADY in (tsu, event_id) order — to the key's
    * `state` and return the rows to emit. A [[TimeoutFold]] emits
    * nothing here; it registers a timer at each deadline + `lagMs`. */
  private[streaming] def run(state: ValueState[S],
      handle: StatefulProcessorHandle, key: Long, events: Seq[I],
      lagMs: Long): Seq[O]

  /** Expire every deadline ≤ `horizonMs`; the rows that emits. */
  private[streaming] def sweep(state: ValueState[S], key: Long,
                               horizonMs: Long): Seq[O]
}

/** A stateful operator as a pure per-key fold: the name and encoder of
  * its one state variable, and a step that applies one key's events —
  * ALREADY in (tsu, event_id) order — to the key's state (None = the
  * key holds none) and returns the next state and the rows to emit.
  * Two processors run every fold on transformWithState:
  * [[InOrderProcessor]] for in-order input and [[ReorderingProcessor]]
  * behind the watermark reorder buffer. The state variable's name is
  * part of the checkpoint: S31 reads "funnel" and S31b "abandon"
  * through the state-store source, and S26's two state versions share
  * "funnel". */
final case class KeyedFold[I <: Timed, S, O](
    stateName: String, stateEncoder: Encoder[S],
    step: (Option[S], Long, Seq[I]) => (Option[S], Seq[O]))
    extends KeyedOp[I, S, O] {

  /** The same fold with every emitted row mapped by `f`. */
  def mapOut[P](f: O => P): KeyedFold[I, S, P] =
    KeyedFold(stateName, stateEncoder, (prev, key, events) => {
      val (next, out) = step(prev, key, events)
      (next, out.map(f))
    })

  /** Apply `events` to the key's `state`: read it, step, write it back.
    * The state is updated when the step returns Some, and cleared when
    * it returns None for a key that held state. */
  private[streaming] def applyTo(state: ValueState[S], key: Long,
                                 events: Seq[I]): Seq[O] = {
    // an absent value reads as null (boxed, for a primitive S too)
    val prev = Option(state.get())
    val (next, out) = step(prev, key, events)
    next match {
      case Some(v) => state.update(v)
      case None    => if (prev.isDefined) state.clear()
    }
    out
  }

  private[streaming] def run(state: ValueState[S],
      handle: StatefulProcessorHandle, key: Long, events: Seq[I],
      lagMs: Long): Seq[O] = applyTo(state, key, events)

  private[streaming] def sweep(state: ValueState[S], key: Long,
                               horizonMs: Long): Seq[O] = Seq.empty
}

/** A timeout operator (S21, S21b, S21c, S31b — Flink's
  * `notFollowedBy … within` with its onTimer firing): a [[KeyedFold]]
  * whose step emits the ms deadlines of the views it opens, and a sweep
  * `expire(key, state, horizonMs)` that drops every view whose deadline
  * is ≤ `horizonMs` and returns the kept state and the expired views'
  * rows, in (tsu, event_id) order. A sweep that expires nothing leaves
  * the state as it was.
  *
  * Answered views are pruned from state by the step; their timers are
  * left to fire and sweep nothing (one no-op firing each) rather than
  * tracked for deleteTimer — timer count per key is bounded by the
  * user's view rate × (W + delay) either way. S31b reads that
  * difference back: a registered timer outlives its answered view. */
final case class TimeoutFold[I <: Timed, S, O](
    fold: KeyedFold[I, S, Long], expire: (Long, S, Long) => (S, Seq[O]))
    extends KeyedOp[I, S, O] {

  def stateName: String = fold.stateName
  def stateEncoder: Encoder[S] = fold.stateEncoder

  private[streaming] def run(state: ValueState[S],
      handle: StatefulProcessorHandle, key: Long, events: Seq[I],
      lagMs: Long): Seq[O] = {
    fold.applyTo(state, key, events).distinct
      .foreach(d => handle.registerTimer(d + lagMs))
    Seq.empty
  }

  private[streaming] def sweep(state: ValueState[S], key: Long,
                               horizonMs: Long): Seq[O] =
    Option(state.get()).fold(Seq.empty[O]) { prev =>
      val (next, out) = expire(key, prev, horizonMs)
      if (out.nonEmpty) state.update(next)
      out
    }
}

/** A processor of keyed state on transformWithState, with the run
  * policy of every pipeline it runs ([[UserEvent.keyed]]): its time
  * mode, its input's watermark delay, and whether the run keeps the
  * trailing no-data micro-batch. A run with no timer and no reorder
  * buffer emits only on data, so it may skip that batch; a timer or
  * reorder run emits on the final watermark advance, which only that
  * batch makes. */
sealed trait KeyedRunner[I, O] extends StatefulProcessor[Long, I, O] {
  def timeMode: TimeMode
  def watermarkDelay: Option[String]
  def finalBatch: Boolean
}

/** Runs a [[KeyedFold]] over input that arrives in event-time order:
  * each call sorts the key's rows of one micro-batch by
  * (tsu, event_id) and applies them. Across batches the clean replay
  * is (ts, event_id)-ordered per key (pinned in StreamingSpec
  * "replay-order contract"), so every row of a call follows the rows
  * the state has absorbed. No watermark, no trailing batch.
  *
  * `ttl` (S25) evicts a key's state once it goes unwritten that long;
  * TTL requires TimeMode.ProcessingTime, the run's time mode when a
  * TTL is given (TimeMode.None otherwise). A query that passes a keyed
  * initial state (S31's rescale recipe) seeds each key's state with it
  * as is.
  *
  * The sort buffer is bounded by ONE key's volume in ONE micro-batch:
  * transient heap, never state, freed at key end. It cannot exceed
  * what a single trigger delivers for a single key, so a hyperactive
  * key is throttled upstream by the trigger's
  * maxFilesPerTrigger/maxOffsetsPerTrigger admission, the knob a
  * production deployment already sizes for executor heap. An operator
  * cap would silently change results (dropped events = missed matches
  * or joins). [[ReorderingProcessor]] persists its buffer in the state
  * store instead, so there disorder volume degrades to disk. */
final class InOrderProcessor[I <: Timed, S, O](fold: KeyedFold[I, S, O],
                                               ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessorWithInitialState[Long, I, O, S]
    with KeyedRunner[I, O] {

  def timeMode: TimeMode =
    if (ttl.ttlDuration.isZero) TimeMode.None() else TimeMode.ProcessingTime()
  def watermarkDelay: Option[String] = None
  def finalBatch: Boolean = false

  @transient private var st: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[S](fold.stateName, fold.stateEncoder, ttl)

  override def handleInitialState(key: Long, initialState: S,
                                  timerValues: TimerValues): Unit =
    st.update(initialState)

  override def handleInputRows(key: Long, rows: Iterator[I],
                               timerValues: TimerValues): Iterator[O] =
    fold.applyTo(st, key, Timed.order(rows.toSeq)).iterator
}

/** Runs a [[TimeoutFold]] over input that arrives in event-time order
  * (S21, S21c, S31b), on the event-time watermark
  * ([[Replayer.WatermarkDelay]]) and with the trailing no-data batch,
  * whose watermark advance fires the last deadlines. Each call applies
  * the key's rows of one micro-batch in (tsu, event_id) order and
  * registers a timer at each deadline; a fired timer sweeps EVERY view
  * whose deadline ≤ its expiry, not just the one it was registered
  * for — robust to shared-expiry coalescing, and exact either way
  * (deadline ≤ fired expiry ≤ wm).
  *
  * Mechanics (pinned on this Spark build by TimerOrderProbe): a timer
  * registered at expiry E ms fires in the first micro-batch whose
  * watermark ≥ E (inclusive at equality); the watermark is
  * floor-ms(max event ts seen in PRIOR batches) − delay. Within one
  * DATA batch, input rows run BEFORE expired timers; a "timers-first"
  * order shows only in the NO-DATA batch that `noDataMicroBatches`
  * interposes whenever the watermark advances with no input pending.
  * For a timeout the distinction is immaterial: the firing batch's
  * watermark requires a PRIOR event at ts ≥ deadline + delay, and an
  * answering purchase (ts ≤ deadline) precedes that event in stream
  * order, so it always lands in a strictly earlier batch (StreamingSpec
  * pins the no-data-batch firing and the prior-batch suppression).
  * Views whose deadline the final watermark never reaches correctly
  * never emit; the oracles model that horizon exactly.
  *
  * 100 TB: one user_id shuffle, state = open views per user (rate × W),
  * timers RocksDB-range-scanned per batch — O(fired), not
  * O(registered). */
final class TimeoutProcessor[I <: Timed, S, O](timeouts: TimeoutFold[I, S, O])
    extends StatefulProcessor[Long, I, O] with KeyedRunner[I, O] {

  def timeMode: TimeMode = TimeMode.EventTime()
  def watermarkDelay: Option[String] = Some(Replayer.WatermarkDelay)
  def finalBatch: Boolean = true

  @transient private var st: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[S](timeouts.stateName,
      timeouts.stateEncoder, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[I],
                               timerValues: TimerValues): Iterator[O] =
    timeouts.run(st, getHandle, key, Timed.order(rows.toSeq), 0L).iterator

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[O] =
    timeouts.sweep(st, key, info.getExpiryTimeInMs()).iterator
}

/** WATERMARK REORDER BUFFER — the Flink-parity out-of-order front end
  * of a [[KeyedOp]], on the event-time watermark
  * ([[Replayer.OooDelay]]) and with the trailing no-data batch, whose
  * watermark advance fires the last release. [[InOrderProcessor]] assumes each key's events
  * arrive in global (ts, event_id) order across micro-batches — true
  * on the clean replay, false on any real stream. This processor
  * restores that order under disorder bounded by the watermark delay,
  * exactly the way Flink's CEP and temporal-join operators do it: per
  * key, BUFFER every event until the watermark clears its event time,
  * then release the cleared prefix in (ts, event_id) order into the
  * fold.
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
  * TimerOrderProbe), the flush releases everything below that batch's
  * wm (always at least the minimum event, so progress is strict), and
  * the timer re-arms at the new minimum + 1. Plus an opportunistic
  * flush on every input batch. The walking timer keeps the release
  * horizon EXACT by induction — the emitted set is precisely
  * {e : ts_ms(e) < final wm}, the closed form the oracles model: a
  * stranded event would need the chain to stop while its ts is below
  * the final watermark, but the chain only stops when the remaining
  * minimum's ts ≥ the last wm. Timer-store traffic is
  * O(keys × batches), not O(events) — a per-event timer would cost a
  * RocksDB timer write AND a fired-timer invocation per event.
  * AvailableNow's trailing watermark-advance batch fires the last
  * chain step.
  *
  * A [[TimeoutFold]] (S21b) registers each released view's timer at
  * deadline + 1 and sweeps deadline < wm, after every flush in the SAME
  * invocation, so a view whose deadline the final watermark already
  * passed cannot be stranded behind a timer registered in the past.
  * The sweep is STRICT where the in-order [[TimeoutProcessor]] is
  * inclusive: a suppressing purchase at ts_ms == deadline may still
  * sit in the buffer when wm == deadline (the release bound is
  * strict), so firing at equality could emit an answered view. A view
  * emits iff unanswered AND deadline_ms < final wm — the s21b oracle's
  * model.
  *
  * LATE-DATA SIDE OUTPUT (Flink's `sideOutputLateData` tag): `onLate`
  * gets the rows the drop branch is about to discard — admitted by
  * Spark's lagging input filter but already below this batch's
  * operative watermark — sorted in (tsu, event_id) order, never empty.
  * The default emits nothing (drop and count); S24 and S24b tag them
  * onto the one output stream, so late data lands in an auditable
  * channel instead of vanishing into a gauge.
  *
  * State budget: the buffer holds, per key, the current batch's rows
  * plus rows younger than the delay — rate × (trigger interval +
  * delay), the standard Flink temporal-join bound; the high-water mark
  * is exported through [[ReorderingProcessor.maxBuffered]] (a
  * process-local diagnostic gauge — exact under local[*], per-executor
  * maxima on a cluster) and pinned in StreamingSpec against the
  * fixture's per-user volumes. Unlike [[InOrderProcessor]]'s per-batch
  * sort (bounded by what one micro-batch can hold), the buffer
  * persists across batches in the state store — RocksDB, the declared
  * backend — so a hyperactive key degrades to disk, not heap.
  *
  * 100 TB: one user_id shuffle (unchanged from the in-order form),
  * per-event work O(log buffer) amortized for the sort at release,
  * timers RocksDB-range-scanned per batch — O(fired), not
  * O(registered). */
final class ReorderingProcessor[I <: Timed, S, O](
    op: KeyedOp[I, S, O], eventEncoder: Encoder[I],
    onLate: (Long, Seq[I]) => Seq[O] = (_: Long, _: Seq[I]) => Seq.empty[O])(
    implicit ct: scala.reflect.ClassTag[I])
    extends StatefulProcessor[Long, I, O] with KeyedRunner[I, O] {

  def timeMode: TimeMode = TimeMode.EventTime()
  def watermarkDelay: Option[String] = Some(Replayer.OooDelay)
  def finalBatch: Boolean = true

  @transient private var buf: ListState[I] = _
  @transient private var st: ValueState[S] = _
  // same-(key, wm) short-circuit for timer storms: within a batch the
  // watermark is constant, so after one flush+sweep at (key, wm) every
  // further fired timer for the same key is a provable no-op — skip it
  // without touching the state store. (Input rows run BEFORE expired
  // timers within a data batch — the TWS scheduling contract pinned by
  // TimerOrderProbe — but the memo never relies on the order: flush is
  // idempotent at a fixed (key, wm) whichever path ran first.)
  // Transient per-partition memo (one entry), rebuilt free after
  // restart; input handling never consults it.
  @transient private var lastTimerKey: Long = _
  @transient private var lastTimerWm: Long = _
  @transient private var lastTimerSet: Boolean = false

  override def init(outputMode: OutputMode,
                          timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[I]("reorderBuf", eventEncoder,
      TTLConfig.NONE)
    st = getHandle.getValueState[S](op.stateName, op.stateEncoder,
      TTLConfig.NONE)
    lastTimerSet = false
  }

  /** Merge incoming rows into the buffer, release the cleared prefix
    * in order, rewrite the kept suffix. */
  private def flush(key: Long, wmMs: Long, incoming: Seq[I]): Seq[O] = {
    val buffered: Seq[I] =
      if (buf.exists()) buf.get().toSeq else Seq.empty
    val all = buffered ++ incoming
    val (ready, keep) = all.partition(_.tsu / 1000 < wmMs)
    if (ready.nonEmpty || incoming.nonEmpty) {
      // one bulk put (or clear) per rewrite, not a row-at-a-time append
      if (keep.isEmpty) buf.clear() else buf.put(keep.toArray)
      // re-arm the walking release timer at the new minimum (+1: fires
      // once the watermark strictly clears it)
      if (keep.nonEmpty)
        getHandle.registerTimer(keep.iterator.map(_.tsu).min / 1000 + 1)
    }
    ReorderingProcessor.note(keep.size)
    if (ready.isEmpty) Seq.empty
    else op.run(st, getHandle, key, Timed.order(ready), 1L)
  }

  override def handleInputRows(key: Long, rows: Iterator[I],
                               timers: TimerValues): Iterator[O] = {
    val wm = timers.getCurrentWatermarkInMs()
    // Flink late-row semantics: a row already below the operative
    // watermark (admitted through Spark's one-batch filter lag) cannot
    // be applied in order — drop and count (and hand to the side-output
    // hook), never reorder the past.
    val (late, incoming) = rows.toSeq.partition(_.tsu / 1000 < wm)
    val lateOut =
      if (late.isEmpty) Seq.empty
      else {
        ReorderingProcessor.lateDropped.addAndGet(late.size)
        onLate(key, Timed.order(late))
      }
    // the sweep expires every deadline < wm (see the scaladoc)
    (lateOut ++ flush(key, wm, incoming) ++ op.sweep(st, key, wm - 1))
      .iterator
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[O] = {
    val wm = timers.getCurrentWatermarkInMs()
    if (lastTimerSet && lastTimerKey == key && lastTimerWm == wm)
      return Iterator.empty // flushed+swept at this (key, wm) already
    lastTimerKey = key; lastTimerWm = wm; lastTimerSet = true
    (flush(key, wm, Seq.empty) ++ op.sweep(st, key, wm - 1)).iterator
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
