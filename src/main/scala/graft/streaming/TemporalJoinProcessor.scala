package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.{col, when}

/** One event routed to the S4b temporal join (keyed by user_id
  * upstream): purchases double as dimension input (they move the SCD2
  * band) and every event is a fact probe. */
case class TemporalEvent(tsu: Long, event_id: Long, isPurchase: Boolean,
                         cents: Long) extends Timed

/** Every event probes; only a purchase carries cents. */
object TemporalEvent extends UserEvent[TemporalEvent] {
  private def isPurchase = col("event_type") === "purchase"
  def wire = Seq(tsu, col("event_id"), isPurchase.as("isPurchase"),
    when(isPurchase, cents).otherwise(0L).as("cents"))
}

object TemporalJoinProcessor {
  /** S4b — STREAMING TEMPORAL DIM JOIN (Flink's event-time temporal
    * table join over a CDC-maintained dimension): each fact event joins
    * the S18 SCD2 version in effect at its EVENT TIME. Executed the way
    * Flink executes it — the versioned build side is not re-keyed and
    * re-shuffled as a version stream; it accumulates in keyed state
    * co-located with the probes, and each probe looks the band up at
    * its own timestamp. The dimension semantics are S18's exactly: the
    * same Scd2State tuple, the same exact-integer cents accumulation,
    * the same band thresholds (single-sourced via [[Scd2Bands.bandOf]],
    * so this operator provably consumes the same dimension S18
    * publishes).
    *
    * Version semantics: versions are [valid_from, valid_to) with
    * valid_from = the transition purchase's ts (inclusive): the
    * transition purchase itself joins the band it opens (its cents are
    * applied BEFORE its own probe emits). Rows apply in strict
    * (tsu, event_id) order — exactly the oracle's window total order,
    * so a same-(user, ts) purchase/non-purchase pair resolves by
    * event_id on both sides (a dim-before-fact tie rule here would give
    * a lower-event_id non-purchase the post-purchase band while the
    * oracle's window gives it the pre-purchase cum — safe on the
    * shipped corpus, which has zero same-(user, ts) pairs, but wrong on
    * any corpus with ties). An event before its user's first purchase
    * has no version in effect and emits band 'none'.
    *
    * 100 TB: one user_id shuffle shared by both roles, state = ONE
    * Scd2State tuple per user (bands monotone — no version history
    * retained), O(1) work per event. S4c runs it behind the watermark
    * reorder buffer for out-of-order input — buffer bounded by
    * rate × (trigger + delay), Flink's temporal-join operator exactly. */
  def fold(midCents: Long, highCents: Long)
      : KeyedFold[TemporalEvent, Scd2State, (Long, Long, String)] =
    KeyedFold("scd2dim", Encoders.product[Scd2State],
      applyOrdered(midCents, highCents, _, _, _))

  /** The temporal-join step, unit-testable without a streaming
    * harness: apply `events` — ALREADY in (tsu, event_id) order — to
    * the dimension state, returning the new state and the emitted
    * (user, event_id, band) rows. A purchase's cents apply before its
    * own probe emits (inclusive valid_from). */
  def applyOrdered(midCents: Long, highCents: Long,
                   cur0: Option[Scd2State], user: Long,
                   events: Seq[TemporalEvent])
      : (Option[Scd2State], Seq[(Long, Long, String)]) = {
    var cur = cur0
    val out = scala.collection.mutable.ListBuffer[(Long, Long, String)]()
    events.foreach { e =>
      if (e.isPurchase) {
        val cum = cur.map(_.cumCents).getOrElse(0L) + e.cents
        val nb = Scd2Bands.bandOf(cum, midCents, highCents)
        cur = cur match {
          case Some(s0) if nb == s0.band => Some(s0.copy(cumCents = cum))
          case _                         => Some(Scd2State(nb, e.tsu, cum))
        }
      }
      out += ((user, e.event_id, cur.map(_.band).getOrElse("none")))
    }
    (cur, out.toSeq)
  }
}

/** The S18/S4b dimension's band function, single-sourced so the
  * maintainer and the temporal join cannot drift. */
object Scd2Bands {
  def bandOf(cumCents: Long, midCents: Long, highCents: Long): String =
    if (cumCents < midCents) "low"
    else if (cumCents < highCents) "mid"
    else "high"
}
