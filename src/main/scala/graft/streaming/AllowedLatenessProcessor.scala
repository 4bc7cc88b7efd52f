package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One event of the allowed-lateness windowed count: the tumbling hour
  * it belongs to (µs start), its type, event time and id. */
case class LateWinEvent(win_us: Long, event_type: String,
                        tsu: Long, event_id: Long) extends Timed

/** Per-(window, type) pane state: running count and whether the pane
  * has fired at least once. */
case class LateWinState(n: Long, fired: Boolean)

/** S29 — ALLOWED LATENESS window re-fire (Flink's
  * `allowedLateness(...)` on a tumbling event-time window): the middle
  * member of the late-data triad whose two ends the engine already
  * ships (S24: beyond-delay rows to a side output; S28: update-mode
  * re-emission machinery). Keyed by (window-start µs, event_type); a
  * tumbling hourly count that
  *
  *   1. fires ON TIME when the SEMANTIC watermark passes the window
  *      end (kind='ontime', the count accumulated so far);
  *   2. RE-FIRES for every later micro-batch that delivers late rows
  *      while semantic wm < end + allowance (kind='update', the
  *      REFINED cumulative count — Flink fires per late element;
  *      micro-batch execution coalesces to one refined pane per
  *      batch, the same refinement sequence at batch granularity);
  *   3. routes rows arriving at semantic wm ≥ end + allowance to the
  *      late side channel (kind='late', one row per event,
  *      ref_id = event_id — the S24 audit-channel shape), never
  *      touching window state.
  *
  * THE TWO-CLOCK CONSTRUCTION (why the query declares a 72 h
  * watermark for 24 h semantics): Flink's window operator sees every
  * element no matter how late — lateness handling is the operator's
  * own. Spark prefilters stateful-operator input against the
  * watermark, so a row the allowance should still admit would be
  * silently eaten upstream if the query declared the semantic 24 h
  * delay. The standard remedy: declare the OUTER delay = semantic
  * delay + allowance (72 h) — Spark's filter then keeps exactly the
  * rows the allowance covers — and run the pane lifecycle on the
  * SEMANTIC watermark, reconstructed inside the processor as
  * `getCurrentWatermarkInMs() + allowMs` (outer wm + allowance =
  * max-prior-event-time − semantic delay). Timers live on the outer
  * clock: the on-time fire is registered at end − allowance (outer
  * wm ≥ end − allowance ⟺ semantic wm ≥ end) and state cleanup at
  * end (⟺ semantic wm ≥ end + allowance).
  *
  * Within a DATA batch input rows run BEFORE expired timers (the TWS
  * scheduling contract pinned by TimerOrderProbe — a "timers-first"
  * order shows only in the interposed no-data batches of MemoryStream
  * tests), so in-allowance rows arriving in
  * the very fire batch fold INTO the on-time pane (the input path
  * emits it, the timer then no-ops on fired state); rows arriving in
  * LATER in-allowance batches produce the genuine re-fires. The
  * oracle models exactly that, and the `refire` fixture's time-split
  * files make both cases (and the late channel) non-vacuous — see
  * Replayer's variant note for why id-contiguous files cannot.
  *
  * First-pane edge (exercised by the fixture: windows whose every row
  * is displaced): if the FIRST row of a window arrives when semantic
  * wm ≥ end (no state, no timer yet), the pane fires immediately from
  * the input path — Flink's EventTimeTrigger.onElement does exactly
  * this for a late element creating a window — so the first emission
  * is always 'ontime' and carries whatever that batch delivered.
  *
  * State lifecycle (the 100 TB bound): state lives from a window's
  * first non-late row until the CLEANUP timer at semantic
  * end + allowance — exactly Flink's window-state retention under
  * allowedLateness. The cleanup branch also emits a still-pending
  * on-time pane before clearing (both expiry timestamps can land in
  * one micro-batch when the watermark jumps more than the allowance,
  * and the fire/cleanup expiry order within a batch is not part of
  * the pinned contract, so cleanup is emission-safe on its own).
  * Per-key state is ONE (count, fired) tuple — O(open windows ×
  * types) total, independent of row volume; one shuffle by
  * (window, type).
  */
class AllowedLatenessProcessor(allowMs: Long)
    extends StatefulProcessor[(Long, String), LateWinEvent,
                              (Long, String, String, Long, Long)] {

  // built once, on the driver, and carried with the processor: `init`
  // runs once per partition per micro-batch
  private val stateEncoder = Encoders.product[LateWinState]

  @transient private var st: ValueState[LateWinState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[LateWinState](
      "lateWin", stateEncoder, TTLConfig.NONE)

  private def endMs(key: (Long, String)): Long =
    key._1 / 1000 + 3600000L

  override def handleInputRows(key: (Long, String),
                               rows: Iterator[LateWinEvent],
                               timers: TimerValues)
      : Iterator[(Long, String, String, Long, Long)] = {
    // semantic watermark = outer watermark + allowance (see scaladoc)
    val wm = timers.getCurrentWatermarkInMs() + allowMs
    val end = endMs(key)
    val rs = rows.toSeq
    if (wm >= end + allowMs) {
      // beyond allowance: the side channel. State may STILL be live at
      // this point — when a single batch carries input while jumping
      // the watermark past end+allowance, input runs before the
      // cleanup timer (TimerOrderProbe), so an unfired pane can
      // coexist with late rows here; it is emitted and cleared by the
      // same-batch cleanup timer's pendingFire. Either way this branch
      // must not touch it.
      Timed.order(rs).iterator
        .map(e => (key._1, key._2, "late", e.event_id, 0L))
    } else {
      val prev = Option(st.get()).getOrElse {
        // first non-late row of this window: bound the state lifetime
        // and (unless the pane must fire right now) arm the on-time
        // fire — both timers on the OUTER clock
        getHandle.registerTimer(end)
        if (wm < end) getHandle.registerTimer(end - allowMs)
        LateWinState(0L, fired = false)
      }
      val n = prev.n + rs.size
      if (wm >= end) {
        // in-allowance: refine the pane (first emission is the pane's
        // on-time fire — see the first-pane edge in the scaladoc)
        val kind = if (prev.fired) "update" else "ontime"
        st.update(LateWinState(n, fired = true))
        Iterator.single((key._1, key._2, kind, 0L, n))
      } else {
        st.update(LateWinState(n, prev.fired))
        Iterator.empty
      }
    }
  }

  override def handleExpiredTimer(key: (Long, String),
                                  timers: TimerValues,
                                  info: ExpiredTimerInfo)
      : Iterator[(Long, String, String, Long, Long)] = {
    val end = endMs(key)
    val cur = Option(st.get())
    val pendingFire = cur match {
      case Some(v) if !v.fired && v.n > 0 =>
        Iterator.single((key._1, key._2, "ontime", 0L, v.n))
      case _ => Iterator.empty
    }
    if (info.getExpiryTimeInMs() >= end) {
      // cleanup (outer wm ≥ end ⟺ semantic wm ≥ end + allowance):
      // emit a still-pending on-time pane first (fire and cleanup can
      // expire in the same batch in either order), then drop the
      // window's state for good
      st.clear()
      pendingFire
    } else {
      // on-time fire (outer wm ≥ end − allowance ⟺ semantic wm ≥ end)
      cur.foreach(v => if (!v.fired && v.n > 0)
        st.update(LateWinState(v.n, fired = true)))
      pendingFire
    }
  }
}
