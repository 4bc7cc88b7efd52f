package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Per-user S21 state: views whose abandonment window is still open —
  * (tsu, event_id) pairs, pruned on answer or expiry. */
case class AbandonState(views: Seq[(Long, Long)])

/** S21 — TIMEOUT-emission absence CEP on event-time TIMERS (Flink's
  * `notFollowedBy … within` with its true onTimer firing shape, and
  * the first operator here to exercise the transformWithState timer
  * API): a view with NO purchase by the same user in [view, view+W]
  * emits an abandonment row WHEN ITS DEADLINE EXPIRES — i.e. when the
  * event-time watermark passes view_ts + W — not retrospectively at
  * some later event (S14's absence operator computes its pattern at
  * the purchase; this one must fire on the NON-arrival of one, which
  * only a timer can observe).
  *
  * Mechanics (empirically pinned on this Spark build by
  * TimerOrderProbe): a timer registered at expiry E ms fires in the
  * first micro-batch whose event-time watermark ≥ E (inclusive at
  * equality); the watermark is floor-ms(max event ts seen in PRIOR
  * batches) − delay. Within one DATA batch, input rows run BEFORE
  * expired timers; a "timers-first" order shows only in the NO-DATA
  * batch that the default `noDataMicroBatches` interposes whenever the
  * watermark advances with no input pending (MemoryStream tests with
  * per-batch processAllAvailable always get one; a continuous file
  * replay with files still queued does not). For THIS operator the
  * distinction is immaterial: a same-batch answering purchase would now suppress
  * (input applies first), but on an event-time-ordered stream that
  * row cannot exist — the firing batch's watermark requires a PRIOR
  * event at ts ≥ deadline + delay, and an answering purchase
  * (ts ≤ deadline) precedes that event in stream order, so it always
  * lands in a strictly earlier batch (StreamingSpec pins the
  * no-data-batch-mediated firing on a same-batch construction, and
  * suppression from the prior batch; TimerOrderProbe pins both
  * scheduling halves directly). Deadlines are registered at
  * (tsu div 1000) + W_ms — the same floor the oracle's horizon model
  * uses.
  *
  * Answered views are pruned from state immediately; their timers are
  * left to fire and sweep nothing (one no-op firing each) rather than
  * tracked for deleteTimer — timer count per key is bounded by the
  * user's view rate × (W + delay) either way, the same trailing-window
  * budget S14 carries. Views whose deadline the final watermark never
  * reaches (the stream-tail horizon) correctly never emit; the oracle
  * models that horizon exactly (the s5b watermark-model discipline).
  *
  * 100 TB: one user_id shuffle, state = open views per user (bounded
  * by rate × W), timers are RocksDB-range-scanned per batch — O(fired)
  * per batch, not O(registered). */
class AbandonProcessor(windowUs: Long)
    extends StatefulProcessor[Long, FunnelEvent, (Long, Long)] {

  @transient private var st: ValueState[AbandonState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[AbandonState](
      "abandon", Encoders.product[AbandonState], TTLConfig.NONE)

  private def winMs = windowUs / 1000

  override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
                               timers: TimerValues): Iterator[(Long, Long)] = {
    val pending0 = Option(st.get()).map(_.views.toList).getOrElse(Nil)
    val (pending, deadlines) = AbandonProcessor.applyOrdered(windowUs,
      pending0, Timed.order(rows.toSeq))
    deadlines.foreach(getHandle.registerTimer)
    st.update(AbandonState(pending))
    Iterator.empty
  }

  override def handleExpiredTimer(user: Long, timers: TimerValues,
                                  info: ExpiredTimerInfo)
      : Iterator[(Long, Long)] = {
    val horizon = info.getExpiryTimeInMs
    val prev = Option(st.get()).map(_.views.toList).getOrElse(Nil)
    // sweep EVERY pending view whose deadline cleared, not just the
    // one this timer was registered for — robust to shared-expiry
    // coalescing, and exact either way (deadline ≤ fired expiry ≤ wm)
    val (expired, keep) = prev.partition(v => v._1 / 1000 + winMs <= horizon)
    st.update(AbandonState(keep))
    expired.sortBy(v => (v._1, v._2)).map(v => (user, v._2)).iterator
  }
}

/** S21b — timer-fired abandonment behind the watermark reorder buffer:
  * [[AbandonProcessor.fold]] keeps the open views, each released view
  * registers a timer at its deadline + 1, and the sweep runs on every
  * watermark. The sweep convention is STRICT (deadline < wm) where the
  * in-order S21 is inclusive: a suppressing purchase at
  * ts_ms == deadline may still sit in the buffer when wm == deadline
  * (the release bound is strict), so firing at equality could emit an
  * answered view. Strictness shifts the stream-tail horizon by one
  * ms-boundary case: a view emits iff unanswered AND
  * deadline_ms < final wm — the s21b oracle models exactly that. */
class ReorderedAbandon(windowUs: Long)
    extends ReorderingProcessor(AbandonProcessor.fold(windowUs),
      FunnelEvent.encoder) {

  override protected def applyOrdered(user: Long, events: Seq[FunnelEvent])
      : Seq[(Long, Long)] = {
    events.filter(_.event_type == "view")
      .map(AbandonProcessor.deadlineMs(windowUs, _)).distinct
      .foreach(d => getHandle.registerTimer(d + 1))
    super.applyOrdered(user, events)
  }

  override protected def onWatermark(user: Long,
                                     wmMs: Long): Seq[(Long, Long)] = {
    val winMs = windowUs / 1000
    val prev = Option(state.get()).map(_.views.toList).getOrElse(Nil)
    val (expired, keep) = prev.partition(v => v._1 / 1000 + winMs < wmMs)
    if (expired.isEmpty) Seq.empty
    else {
      state.update(AbandonState(keep))
      expired.sortBy(v => (v._1, v._2)).map(v => (user, v._2))
    }
  }
}

/** Per-user S21c state: open views with their partial-match payload —
  * (view_tsu, view_id, n_clicks, max_click_id; −1 = none yet). */
case class PartialState(views: Seq[(Long, Long, Long, Long)])

/** S21c — TIMED-OUT PARTIAL MATCHES (Flink CEP's
  * `timedOutPartialMatches` side output): where S21 emits only the bare
  * (user, view_id) absence fact, this processor emits the PARTIAL
  * SEQUENCE the pattern had accumulated when its window expired — the
  * view plus the clicks seen before timeout (count and max id), i.e.
  * "view → click → ¬purchase within 2 h" with the prefix payload. Timer
  * mechanics, suppression rule and firing horizon are EXACTLY S21's
  * (see AbandonProcessor's scaladoc for the pinned scheduling /
  * same-batch-impossibility argument — it covers the click payload too:
  * any click with tsu ≤ deadline precedes the watermark-driving event
  * in stream order and so lands in a strictly earlier batch than the
  * firing); StreamingSpec pins that the (user, view_id) projection of
  * this operator's output equals S21's output row-for-row.
  *
  * A click joins every open view whose window covers it (tsu ≤ view +
  * W; tsu ≥ view holds by application order). An answering purchase
  * discards the partial match — Flink reports it as a COMPLETED match
  * elsewhere, not a timeout. State = open views × payload (two extra
  * longs over S21's), same rate × W budget.
  *
  * 100 TB: one user_id shuffle, state bounded by rate × W per user,
  * timers RocksDB-range-scanned per batch — O(fired). */
class PartialTimeoutProcessor(windowUs: Long)
    extends StatefulProcessor[Long, FunnelEvent, (Long, Long, Long, Long)] {

  @transient private var st: ValueState[PartialState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[PartialState](
      "partial", Encoders.product[PartialState], TTLConfig.NONE)

  private def winMs = windowUs / 1000

  override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
                               timers: TimerValues)
      : Iterator[(Long, Long, Long, Long)] = {
    val pending0 = Option(st.get()).map(_.views.toList).getOrElse(Nil)
    val (pending, deadlines) = PartialTimeoutProcessor.applyOrdered(
      windowUs, pending0, Timed.order(rows.toSeq))
    deadlines.foreach(getHandle.registerTimer)
    st.update(PartialState(pending))
    Iterator.empty
  }

  override def handleExpiredTimer(user: Long, timers: TimerValues,
                                  info: ExpiredTimerInfo)
      : Iterator[(Long, Long, Long, Long)] = {
    val horizon = info.getExpiryTimeInMs
    val prev = Option(st.get()).map(_.views.toList).getOrElse(Nil)
    val (expired, keep) = prev.partition(v => v._1 / 1000 + winMs <= horizon)
    st.update(PartialState(keep))
    expired.sortBy(v => (v._1, v._2))
      .map(v => (user, v._2, v._3, v._4)).iterator
  }
}

object PartialTimeoutProcessor {
  /** The ordered fold, unit-testable without a streaming harness: apply
    * `events` — ALREADY in (tsu, event_id) order — to the open-view
    * payload list; returns the new list and the ms deadlines to
    * register. Clicks update every open view whose window covers them;
    * an answering purchase removes the view (completed, not timed out). */
  def applyOrdered(windowUs: Long,
                   pending0: List[(Long, Long, Long, Long)],
                   events: Seq[FunnelEvent])
      : (List[(Long, Long, Long, Long)], Seq[Long]) = {
    val winMs = windowUs / 1000
    var pending = pending0
    val deadlines = scala.collection.mutable.ListBuffer[Long]()
    events.foreach { e =>
      e.event_type match {
        case "view" =>
          pending ::= ((e.tsu, e.event_id, 0L, -1L))
          deadlines += e.tsu / 1000 + winMs
        case "click" =>
          pending = pending.map(v =>
            if (e.tsu <= v._1 + windowUs)
              (v._1, v._2, v._3 + 1, math.max(v._4, e.event_id))
            else v)
        case "purchase" =>
          pending = pending.filterNot(v =>
            v._1 <= e.tsu && e.tsu <= v._1 + windowUs)
        case _ => ()
      }
    }
    (pending, deadlines.toSeq)
  }
}

object AbandonProcessor {
  /** The open-view list as a keyed fold for [[ReorderedAbandon]]: the
    * "abandon" state, which S31b reads back; it emits nothing itself —
    * rows emit from the watermark sweep. */
  def fold(windowUs: Long)
      : KeyedFold[FunnelEvent, AbandonState, (Long, Long)] =
    KeyedFold("abandon", Encoders.product[AbandonState],
      (prev, _, events) => {
        val (pending, _) = applyOrdered(windowUs,
          prev.fold(List.empty[(Long, Long)])(_.views.toList), events)
        (Some(AbandonState(pending)), Seq.empty)
      })

  /** The ms deadline (view_ts_ms + W_ms) of a view's window. */
  def deadlineMs(windowUs: Long, view: FunnelEvent): Long =
    view.tsu / 1000 + windowUs / 1000

  /** The ordered event step: apply `events` — ALREADY in
    * (tsu, event_id) order — to the open-view list; returns the new
    * list and the deadlines of its views, which the in-order processor
    * registers timers for verbatim ([[ReorderedAbandon]] registers
    * deadline+1 — its strict-sweep convention). */
  def applyOrdered(windowUs: Long, pending0: List[(Long, Long)],
                   events: Seq[FunnelEvent])
      : (List[(Long, Long)], Seq[Long]) = {
    var pending = pending0
    val deadlines = scala.collection.mutable.ListBuffer[Long]()
    events.foreach { e =>
      e.event_type match {
        case "view" =>
          pending ::= ((e.tsu, e.event_id))
          deadlines += deadlineMs(windowUs, e)
        case "purchase" =>
          pending = pending.filterNot(v =>
            v._1 <= e.tsu && e.tsu <= v._1 + windowUs)
        case _ => ()
      }
    }
    (pending, deadlines.toSeq)
  }
}
