package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One purchase routed to the S18 dimension maintainer (keyed by
  * user_id upstream). */
case class Scd2Event(tsu: Long, event_id: Long, cents: Long)

object Scd2Event extends UserEvent[Scd2Event] {
  def wire = Seq(tsu, col("event_id"), cents.as("cents"))
}

/** The S18 per-user dimension state: current band, when it was
  * entered, and the running spend that determines it. */
case class Scd2State(band: String, sinceUs: Long, cumCents: Long)

/** S18 — STREAMING SCD2 dimension maintenance (the CDC-apply face of
  * J16, which builds the same shape in batch): per user, the running
  * purchase spend maps to a tier band; when a purchase moves the user
  * across a threshold, the maintainer emits the CLOSED version row
  * [valid_from, valid_to) for the band just left and opens the next
  * — exactly the upsert train a warehouse's dimension table consumes.
  * Emission is change-driven (append mode, no per-event output); the
  * still-open current version never emits, so the oracle models closed
  * versions only. Running spend is exact integer cents (the a15
  * round-to-cents idiom, proven engine≡DuckDB). Within a batch rows
  * sort by (ts, event_id); across batches the clean replay is
  * ts-ordered per key (the S8 funnel's standing assumption). Bands are
  * monotone (spend only grows), so a user emits ≤ |bands|−1 closed
  * versions ever — state is ONE tuple per user, the smallest any
  * SCD2 maintainer can carry. */
class Scd2Processor(midCents: Long, highCents: Long)
    extends StatefulProcessor[Long, Scd2Event, (Long, String, Long, Long)] {

  @transient private var st: ValueState[Scd2State] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[Scd2State](
      "scd2", Encoders.product[Scd2State], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[Scd2Event],
                               timers: TimerValues)
      : Iterator[(Long, String, Long, Long)] = {
    val (cur, out) = Scd2Processor.applyOrdered(midCents, highCents,
      Option(st.get()), user, rows.toSeq.sortBy(e => (e.tsu, e.event_id)))
    cur.foreach(st.update)
    out.iterator
  }
}

object Scd2Processor {
  /** The ordered fold shared with the out-of-order (watermark-
    * reordering) S18b variant: apply `purchases` — ALREADY in
    * (tsu, event_id) order — to the dimension state; returns the new
    * state and the closed version rows (user, band, vf_us, vt_us). */
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
