package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col

/** One purchase routed to the S18 dimension maintainer (keyed by
  * user_id upstream). */
case class Scd2Event(tsu: Long, event_id: Long, cents: Long) extends Timed

object Scd2Event extends UserEvent[Scd2Event] {
  def wire = Seq(tsu, col("event_id"), cents.as("cents"))
  override def purchasesOnly = true
}

/** The S18 per-user dimension state: current band, when it was
  * entered, and the running spend that determines it. */
case class Scd2State(band: String, sinceUs: Long, cumCents: Long)

object Scd2Processor {
  /** S18 — STREAMING SCD2 dimension maintenance (the CDC-apply face of
    * J16, which builds the same shape in batch): per user, the running
    * purchase spend maps to a tier band; when a purchase moves the user
    * across a threshold, the maintainer emits the CLOSED version row
    * [valid_from, valid_to) for the band just left and opens the next
    * — exactly the upsert train a warehouse's dimension table consumes.
    * Emission is change-driven (append mode, no per-event output); the
    * still-open current version never emits, so the oracle models
    * closed versions only. Running spend is exact integer cents (the
    * a15 round-to-cents idiom, proven engine≡DuckDB). Bands are
    * monotone (spend only grows), so a user emits ≤ |bands|−1 closed
    * versions ever — state is ONE tuple per user, the smallest any
    * SCD2 maintainer can carry.
    *
    * S18b runs it behind the reorder buffer for a DISORDERED purchase
    * stream — the realistic CDC-ingest case, where the version train
    * must still come out in event-time order or downstream as-of joins
    * read torn history. A version emits when its CLOSING purchase is
    * released, so the emitted set is exactly S18's closed form
    * restricted to the release horizon — the s18b oracle. */
  def fold(midCents: Long, highCents: Long)
      : KeyedFold[Scd2Event, Scd2State, (Long, String, Long, Long)] =
    KeyedFold("scd2", Encoders.product[Scd2State],
      applyOrdered(midCents, highCents, _, _, _))

  /** The SCD2 step: apply `purchases` — ALREADY in (tsu, event_id)
    * order — to the dimension state; returns the new state and the
    * closed version rows (user, band, vf_us, vt_us). */
  def applyOrdered(midCents: Long, highCents: Long,
                   cur0: Option[Scd2State], user: Long,
                   purchases: Seq[Scd2Event])
      : (Option[Scd2State], Seq[(Long, String, Long, Long)]) = {
    var cur = cur0
    val out = scala.collection.mutable.ListBuffer[(Long, String, Long, Long)]()
    purchases.foreach { e =>
      val cum = cur.map(_.cumCents).getOrElse(0L) + e.cents
      val nb = Scd2Bands.bandOf(cum, midCents, highCents)
      cur match {
        case None =>
          cur = Some(Scd2State(nb, e.tsu, cum))
        case Some(s0) if nb != s0.band =>
          out += ((user, s0.band, s0.sinceUs, e.tsu))
          cur = Some(Scd2State(nb, e.tsu, cum))
        case Some(s0) =>
          cur = Some(s0.copy(cumCents = cum))
      }
    }
    (cur, out.toSeq)
  }
}
