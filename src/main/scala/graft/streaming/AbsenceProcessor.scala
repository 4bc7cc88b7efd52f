package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-user state for S14: trailing-window view and click timestamps. */
case class AbsenceState(views: Seq[Long], clicks: Seq[Long])

object AbsenceProcessor {
  /** S14 — CEP ABSENCE pattern (`notFollowedBy` in Flink-CEP terms): a
    * purchase is an "impulse" conversion when the user's latest view v*
    * within the trailing window precedes it with NO click in
    * [v*, purchase]. The S8 funnel family tests event EXISTENCE;
    * negation is the pattern class it cannot express (`exists`
    * composes monotonically across batches, absence needs the full
    * intervening history — held here as bounded per-user
    * trailing-window state).
    *
    * Semantics (oracle-replayed): for purchase p, v* = max view ts with
    * p − window ≤ v* ≤ p; emit (user, purchase_id) iff v* exists and no
    * click c satisfies v* ≤ c ≤ p (boundaries inclusive on both ends).
    * Events apply in (ts, event_id) order, so state pruned to the
    * trailing window below max seen ts is exact.
    *
    * Requires the RocksDB state store provider (a transformWithState
    * constraint — also the declared 100 TB state backend). State cost:
    * two timestamp lists per user bounded by the user's event rate ×
    * window, identical to the funnel's budget. */
  def fold(windowUs: Long)
      : KeyedFold[FunnelEvent, AbsenceState, (Long, Long)] =
    KeyedFold("absence", Encoders.product[AbsenceState],
      (prev, user, events) => {
        val (next, out) = applyOrdered(windowUs,
          prev.getOrElse(AbsenceState(Nil, Nil)), user, events)
        (Some(next), out)
      })

  /** The absence step: apply `events` — ALREADY in (tsu, event_id)
    * order — to the trailing-window lists; returns the pruned state and
    * the (user, purchase_id) impulse conversions. */
  def applyOrdered(windowUs: Long, prev: AbsenceState, user: Long,
                   events: Seq[FunnelEvent])
      : (AbsenceState, Seq[(Long, Long)]) = {
    var views = prev.views.toList
    var clicks = prev.clicks.toList
    val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
    var maxTs = 0L
    events.foreach { e =>
      maxTs = math.max(maxTs, e.tsu)
      e.event_type match {
        case "view"  => views ::= e.tsu
        case "click" => clicks ::= e.tsu
        case "purchase" =>
          val inWin = views.filter(v => v <= e.tsu && v >= e.tsu - windowUs)
          if (inWin.nonEmpty) {
            val vstar = inWin.max
            if (!clicks.exists(c => c >= vstar && c <= e.tsu))
              out += ((user, e.event_id))
          }
        case _ => ()
      }
    }
    views = views.filter(_ >= maxTs - windowUs)
    clicks = clicks.filter(_ >= maxTs - windowUs)
    (AbsenceState(views, clicks), out.toSeq)
  }
}
