package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-user S21 state: views whose abandonment window is still open —
  * (tsu, event_id) pairs, pruned on answer or expiry. */
case class AbandonState(views: Seq[(Long, Long)])

/** Per-user S21c state: open views with their partial-match payload —
  * (view_tsu, view_id, n_clicks, max_click_id; −1 = none yet). */
case class PartialState(views: Seq[(Long, Long, Long, Long)])

object PartialTimeoutProcessor {
  /** S21c — TIMED-OUT PARTIAL MATCHES (Flink CEP's
    * `timedOutPartialMatches` side output): where S21 emits only the
    * bare (user, view_id) absence fact, this fold emits the PARTIAL
    * SEQUENCE the pattern had accumulated when its window expired — the
    * view plus the clicks seen before timeout (count and max id), i.e.
    * "view → click → ¬purchase within 2 h" with the prefix payload.
    * Timer mechanics, suppression rule and firing horizon are EXACTLY
    * S21's ([[TimeoutProcessor]] — its same-batch-impossibility
    * argument covers the click payload too: any click with
    * tsu ≤ deadline precedes the watermark-driving event in stream
    * order and so lands in a strictly earlier batch than the firing);
    * StreamingSpec pins that the (user, view_id) projection of this
    * operator's output equals S21's output row-for-row.
    *
    * A click joins every open view whose window covers it (tsu ≤ view +
    * W; tsu ≥ view holds by application order). An answering purchase
    * discards the partial match — Flink reports it as a COMPLETED match
    * elsewhere, not a timeout. State = open views × payload (two extra
    * longs over S21's), same rate × W budget. */
  def timeouts(windowUs: Long)
      : TimeoutFold[FunnelEvent, PartialState, (Long, Long, Long, Long)] =
    TimeoutFold(
      KeyedFold("partial", Encoders.product[PartialState],
        (prev, _, events) => {
          val (pending, deadlines) = applyOrdered(windowUs,
            prev.fold(List.empty[(Long, Long, Long, Long)])(_.views.toList),
            events)
          (Some(PartialState(pending)), deadlines)
        }),
      (user, st, horizonMs) => {
        val (expired, keep) =
          st.views.partition(v => v._1 / 1000 + windowUs / 1000 <= horizonMs)
        (PartialState(keep), expired.sortBy(v => (v._1, v._2))
          .map(v => (user, v._2, v._3, v._4)))
      })

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
  /** S21 — TIMEOUT-emission absence CEP on event-time TIMERS (Flink's
    * `notFollowedBy … within` with its true onTimer firing shape): a
    * view with NO purchase by the same user in [view, view+W] emits an
    * abandonment row (user, view_id) WHEN ITS DEADLINE EXPIRES — when
    * the event-time watermark passes view_ts + W — not retrospectively
    * at some later event (S14's absence operator computes its pattern
    * at the purchase; this one must fire on the NON-arrival of one,
    * which only a timer can observe). Deadlines are (tsu div 1000) +
    * W_ms, the same floor the oracle's horizon model uses.
    *
    * The open views live in the "abandon" state, which S31b reads back.
    * S21, S21c and S31b run it through [[TimeoutProcessor]], S21b
    * behind the reorder buffer ([[ReorderingProcessor]]'s strict
    * sweep). */
  def timeouts(windowUs: Long)
      : TimeoutFold[FunnelEvent, AbandonState, (Long, Long)] =
    TimeoutFold(
      KeyedFold("abandon", Encoders.product[AbandonState],
        (prev, _, events) => {
          val (pending, deadlines) = applyOrdered(windowUs,
            prev.fold(List.empty[(Long, Long)])(_.views.toList), events)
          (Some(AbandonState(pending)), deadlines)
        }),
      (user, st, horizonMs) => {
        val (expired, keep) =
          st.views.partition(v => v._1 / 1000 + windowUs / 1000 <= horizonMs)
        (AbandonState(keep),
          expired.sortBy(v => (v._1, v._2)).map(v => (user, v._2)))
      })

  /** The ms deadline (view_ts_ms + W_ms) of a view's window. */
  def deadlineMs(windowUs: Long, view: FunnelEvent): Long =
    view.tsu / 1000 + windowUs / 1000

  /** The ordered event step: apply `events` — ALREADY in
    * (tsu, event_id) order — to the open-view list; returns the new
    * list and the deadlines of its views, at which the timers are
    * registered ([[ReorderingProcessor]] registers deadline+1 — its
    * strict-sweep convention). */
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
