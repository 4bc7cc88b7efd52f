package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col

/** One element of a per-key count window: event time (µs, tie-broken
  * by event_id) and the integer-cents payload the window aggregates. */
case class CountEvent(tsu: Long, event_id: Long, cents: Long) extends Timed

object CountEvent extends UserEvent[CountEvent] {
  def wire = Seq(tsu, col("event_id"), cents.as("cents"))
}

/** Open count-window state: index of the window being filled, how many
  * elements it holds, their cents sum and max event id. */
case class CountWinState(idx: Long, n: Long, cents: Long, maxId: Long)

/** Open sliding-count-window state: total elements seen and the last
  * (size − 1) cents values in arrival order (the overlap the next
  * trigger re-aggregates). */
case class CountSlideState(seen: Long, tail: Seq[Long])

object CountSlideProcessor {
  /** S27b — SLIDING COUNT WINDOWS (Flink's `countWindow(size, slide)`):
    * every SLIDE-th element per key triggers an emission aggregating the
    * last min(SIZE, seen) elements — overlapping element-count windows,
    * the second half of the count-trigger axis S27's tumbling form
    * opened. State = the last (SIZE − 1) values per key (the overlap),
    * strictly bounded; emission volume = input/SLIDE. Data-driven
    * trigger (TimeMode.None), exact closed form: a ROWS BETWEEN
    * (SIZE−1) PRECEDING AND CURRENT ROW frame filtered to every SLIDE-th
    * rank. */
  def fold(size: Int, slide: Int)
      : KeyedFold[CountEvent, CountSlideState, (Long, Long, Long, Long)] = {
    require(size >= 1 && slide >= 1,
      s"count window size/slide must be >= 1: $size/$slide")
    KeyedFold("countslide", Encoders.product[CountSlideState],
      (prev, user, events) => {
        val (next, out) = applyOrdered(size, slide,
          prev.getOrElse(CountSlideState(0L, Nil)), events)
        (Some(next), out.map { case (idx, n, cents) => (user, idx, n, cents) })
      })
  }

  /** The sliding step, unit-testable without a streaming harness: apply
    * `events` — ALREADY in (tsu, event_id) order — to the overlap tail;
    * every slide-th element emits (trigger_idx, n_in_window, cents sum
    * over the last min(size, seen) elements). */
  def applyOrdered(size: Int, slide: Int, st0: CountSlideState,
                   events: Seq[CountEvent])
      : (CountSlideState, Seq[(Long, Long, Long)]) = {
    var seen = st0.seen
    var tail = st0.tail.toList // oldest-first, at most size − 1 values
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
    events.foreach { e =>
      seen += 1
      val window = tail :+ e.cents // last min(size, seen) values
      if (seen % slide == 0)
        out += ((seen / slide - 1, window.size.toLong, window.sum))
      tail = window.takeRight(size - 1)
    }
    (CountSlideState(seen, tail), out.toSeq)
  }
}

object CountWindowProcessor {
  /** S27 — COUNT WINDOWS (Flink's `countWindow(n)`): a per-key tumbling
    * window of SIZE, measured in elements rather than time — a window
    * closes (and emits its aggregate) the moment its SIZE-th element
    * arrives, a trigger Spark's `window()` (time-based only) cannot
    * express; the TWS re-expression is the natural one: per key, an
    * O(1) open-window accumulator (index, count, sum, max id), advanced
    * in the replay's (ts, event_id) order. Emission is DATA-driven
    * (TimeMode.None — the count trigger needs no watermark), so the
    * incomplete tail window per key correctly never emits, and the
    * closed-form oracle is exact: rank each key's events by
    * (ts, event_id), group by rank div SIZE, keep full groups.
    *
    * 100 TB: one key shuffle, O(1) state per key (the smallest stateful
    * budget in the S-series alongside S20's DP slots), one output row
    * per SIZE inputs — emission volume is input/SIZE. */
  def fold(size: Int)
      : KeyedFold[CountEvent, CountWinState, (Long, Long, Long, Long)] = {
    require(size >= 1, s"count window size must be >= 1: $size")
    KeyedFold("countwin", Encoders.product[CountWinState],
      (prev, user, events) => {
        val (next, out) = applyOrdered(size,
          prev.getOrElse(CountWinState(0L, 0L, 0L, -1L)), events)
        (Some(next), out.map { case (idx, cents, maxId) =>
          (user, idx, cents, maxId)
        })
      })
  }

  /** The count-window step, unit-testable without a streaming harness:
    * apply `events` — ALREADY in (tsu, event_id) order — to the open
    * window; emits (idx, cents, maxId) for every window that fills. */
  def applyOrdered(size: Int, st0: CountWinState, events: Seq[CountEvent])
      : (CountWinState, Seq[(Long, Long, Long)]) = {
    var st = st0
    val out = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
    events.foreach { e =>
      val n = st.n + 1
      val cents = st.cents + e.cents
      val maxId = math.max(st.maxId, e.event_id)
      st =
        if (n == size) {
          out += ((st.idx, cents, maxId))
          CountWinState(st.idx + 1, 0L, 0L, -1L)
        } else CountWinState(st.idx, n, cents, maxId)
    }
    (st, out.toSeq)
  }
}
