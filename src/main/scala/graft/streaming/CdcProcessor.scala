package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col

/** One changelog row for the S22 retraction consumer: an UPSERT sets
  * the key's current value to `cents`; a DELETE removes the key. */
case class CdcOp(tsu: Long, event_id: Long, isUpsert: Boolean, cents: Long)
    extends Timed

/** A replayed event as an op: delete iff event_id % 5 == 0, else an
  * upsert of the row's cents. */
object CdcOp extends UserEvent[CdcOp] {
  def wire = Seq(tsu, col("event_id"),
    (col("event_id") % 5 =!= 0).as("isUpsert"), cents.as("cents"))
}

/** A delta row carrying its op's EVENT TIME — the S22c output shape:
  * downstream event-time operators (the windowed aggregate) window on
  * `ts`, which transformWithState's eventTimeColumnName overload marks
  * as the new event-time column. */
case class CdcDelta(user_id: Long, seq_id: Long, delta: Long,
                    ts: java.sql.Timestamp)

object CdcTimedProcessor {
  /** S22c — the CDC consumer whose deltas feed a DOWNSTREAM EVENT-TIME
    * WINDOWED AGGREGATE in the SAME streaming query (Flink: a retract
    * stream flowing into a windowed group-agg): S22's step
    * ([[CdcProcessor.applyOps]]), but each emitted delta carries its
    * op's event time so Spark's chained-stateful support (the
    * eventTimeColumnName transformWithState overload) can window it — a
    * delete's −v delta lands in the delete's OWN hour and reduces
    * exactly that window's net. State and scale budget identical to
    * S22. */
  val fold: KeyedFold[CdcOp, Long, CdcDelta] =
    KeyedFold("cur", Encoders.scalaLong, (cur0, user, ops) => {
      val tsuById = ops.iterator.map(o => o.event_id -> o.tsu).toMap
      val (cur, out) = CdcProcessor.applyOps(cur0, user, ops)
      (cur, out.map { case (u, sid, d) =>
        CdcDelta(u, sid, d, tsOf(tsuById(sid)))
      })
    })

  /** Exact µs → java.sql.Timestamp (setNanos carries the full
    * microsecond fraction — no millis truncation). */
  def tsOf(tsu: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(tsu, 1000L))
    t.setNanos((Math.floorMod(tsu, 1000000L) * 1000L).toInt)
    t
  }
}

object CdcProcessor {
  /** S22 — CDC/RETRACTION CONSUMER (Flink's retract-stream
    * aggregate): a keyed aggregate fed by a CHANGELOG —
    * insert/update/delete rows, the shape a Debezium-style CDC source
    * or S18's own version train delivers —
    * rather than append-only facts. Every other S-series operator only
    * accumulates; this one must UN-count: a delete retracts the key's
    * current contribution from every downstream aggregate.
    *
    * Execution is the Flink changelog model re-expressed on
    * transformWithState: state = the key's CURRENT value (one row per
    * live key, cleared on delete — the retract-stream invariant), and
    * each applied op emits a DELTA row (new − old; a delete emits
    * −current). Downstream aggregates then consume deltas additively —
    * sum(delta) per group telescopes to the sum of live values, so the
    * retraction semantics ride ordinary append-mode aggregation. A
    * delete on an absent key is a NO-OP and emits nothing (the
    * n_changes column distinguishes effective ops — the oracle models
    * it via lag(op): the key is live iff its most recent op was an
    * upsert).
    *
    * The changelog is derived deterministically from `events` (op =
    * delete iff event_id % 5 == 0, else upsert of the row's cents;
    * applied in the (ts, event_id) replay order — the S8/S14/S18
    * batch-sequential contract), so the DuckDB oracle can replay it in
    * closed form: per-key final value via the last op, effective-change
    * counts via lag. Delete-then-reinsert keys occur naturally at every
    * shipped sf and the fold is unit-pinned on that path.
    *
    * 100 TB: one key shuffle, RocksDB state = 1 value per LIVE key
    * (deletes free state — the only S-series operator whose state can
    * SHRINK), O(1) per op, downstream group deltas map-side combine.
    *
    * S22b runs it behind the watermark reorder buffer: the changelog is
    * the MOST order-sensitive input in the engine (an upsert/delete
    * pair applied backwards leaves the key alive instead of dead — not
    * just a reordered output, a wrong final state), and a real
    * Debezium-style feed arrives disordered across partitions. Deltas
    * emit when their op is released, so the emitted set telescopes over
    * exactly the released per-key (ts, event_id) prefix — the s22b
    * oracle's horizon restriction. S24b adds the late-data side output
    * on top: dropping a late op silently is the worst place to do it,
    * so its late ops emit tagged rows. */
  val fold: KeyedFold[CdcOp, Long, (Long, Long, Long)] =
    KeyedFold("cur", Encoders.scalaLong, applyOps)

  /** The changelog step, unit-testable without a streaming harness:
    * apply `ops` — ALREADY in (tsu, event_id) order — to the key's
    * current value; returns the new value (None = deleted/absent) and
    * the emitted (user, seq, delta) rows. Upserts always emit (delta
    * may be 0 — still an effective change); a delete emits −current
    * only when the key is live. */
  def applyOps(cur0: Option[Long], user: Long, ops: Seq[CdcOp])
      : (Option[Long], Seq[(Long, Long, Long)]) = {
    var cur = cur0
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
    ops.foreach { o =>
      if (o.isUpsert) {
        out += ((user, o.event_id, o.cents - cur.getOrElse(0L)))
        cur = Some(o.cents)
      } else cur match {
        case Some(v) => out += ((user, o.event_id, -v)); cur = None
        case None    => ()
      }
    }
    (cur, out.toSeq)
  }
}
