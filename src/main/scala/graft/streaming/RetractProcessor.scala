package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col

/** One input record for the S33 retract-stream producer: an
  * append-only fact whose `cents` accumulates into the key's running
  * aggregate. */
case class RetractOp(tsu: Long, event_id: Long, cents: Long) extends Timed

object RetractOp extends UserEvent[RetractOp] {
  def wire = Seq(tsu, col("event_id"), cents.as("cents"))
}

/** One emitted refinement row. `kind` is Flink's retract-stream flag
  * spelled out: "retract" carries the PREVIOUSLY EMITTED aggregate
  * value (the −old half of the pair), "upsert" the new aggregate. `ts`
  * is the triggering record's event time so a downstream event-time
  * operator can window the train (the S33b chained face). */
case class RetractRow(user_id: Long, seq_id: Long, kind: String,
                      agg_cents: Long, ts: java.sql.Timestamp)

object RetractProcessor {
  /** S33 — RETRACT-STREAM PRODUCER (Flink's `toRetractStream`, the
    * producing half of the CDC axis): S22/S22b/S22c CONSUME a
    * changelog; this operator EMITS one. A keyed running aggregate
    * (sum of cents per user over the append-only event replay) that,
    * on EVERY refinement, emits the (−old, +new) DELTA PAIR — first a
    * "retract" row carrying the previously emitted aggregate, then an
    * "upsert" row carrying the new one — so a
    * downstream consumer that cannot diff state (a plain sum, a
    * non-stateful sink) stays correct by construction: summing
    * sign(kind)·agg_cents telescopes to the key's current aggregate.
    *
    * Refinement granularity is PER INPUT RECORD (Flink's contract — one
    * retraction pair per arriving row), applied in (tsu, event_id)
    * order within the batch; across batches the clean replay is
    * ts-ordered (the S8/S14/S18 batch-sequential contract), so the full
    * per-key refinement sequence is the global (ts, event_id) order and
    * the DuckDB oracle replays it in closed form: run = running
    * sum(cents) over (user ORDER BY ts, event_id); each record emits
    * retract(lag(run)) — absent for the key's first record ever — and
    * upsert(run). State = ONE value per key (the last emitted
    * aggregate), exactly Flink's retract-agg state budget.
    *
    * 100 TB: one key shuffle, O(1) state per key, O(1) work per record;
    * emission volume is 2× input (the price of retraction semantics —
    * identical to Flink's), and the train itself needs no further
    * shuffle: the pair is produced where the key lives.
    *
    * S33c runs it behind the watermark reorder buffer: the producer is
    * ORDER-SENSITIVE by construction (disorder would emit retractions of
    * values never published), so a real CDC producer fed by an
    * out-of-order source must reorder before it may speak. */
  val fold: KeyedFold[RetractOp, Long, RetractRow] =
    KeyedFold("agg", Encoders.scalaLong, refine)

  /** The refinement step, unit-testable without a streaming harness:
    * apply `ops` — ALREADY in (tsu, event_id) order — to the key's
    * last emitted aggregate; returns the new aggregate (None only when
    * ops is empty and cur0 was None) and the emitted retract/upsert
    * pairs. The first-ever record of a key emits NO retraction (there
    * is no previous emission to retract — the Flink accumulate-only
    * first row). */
  def refine(cur0: Option[Long], user: Long, ops: Seq[RetractOp])
      : (Option[Long], Seq[RetractRow]) = {
    var cur = cur0
    val out = scala.collection.mutable.ListBuffer[RetractRow]()
    ops.foreach { o =>
      val ts = CdcTimedProcessor.tsOf(o.tsu)
      cur.foreach { old =>
        out += RetractRow(user, o.event_id, "retract", old, ts)
      }
      val next = cur.getOrElse(0L) + o.cents
      out += RetractRow(user, o.event_id, "upsert", next, ts)
      cur = Some(next)
    }
    (cur, out.toSeq)
  }
}
