package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** S8 funnel on the Spark 4 `transformWithState` API — the one
  * s8_funnel/s8b/s8c path (SURVEY §2.9 names TWS primary; wired via
  * Streams.funnelTws).
  *
  * Requires the RocksDB state store provider (a transformWithState
  * constraint, which is also the declared 100 TB state backend).
  * A purchase converts when some
  * click ≤ it has a view ≤ that click with view ≥ purchase − windowUs;
  * state pruned to the trailing window per user. The window is a
  * constructor parameter: s8/s8b run the 1-hour form, s8c the 24-hour
  * form that converts NATURALLY at every shipped sf (14 purchases at
  * sf0.001, 143 at sf0.01) — state stays bounded by the per-user
  * trailing window either way.
  *
  * `ttl` (S25): a real processing-time state TTL — Spark evicts a
  * user's FunnelState once it goes unwritten for the duration (TTL
  * requires TimeMode.ProcessingTime; the s8-family queries pass NONE
  * and keep TimeMode.None). Production use: bound state on unbounded
  * key spaces where the watermark cannot (a user who never returns
  * holds trailing-window state forever without it). */
class FunnelProcessor(windowUs: Long = 3600L * 1000000L,
                      ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, FunnelEvent, (Long, Long)] {

  @transient private var st: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], ttl)

  override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
                               timers: TimerValues): Iterator[(Long, Long)] = {
    val prev = Option(st.get()).getOrElse(FunnelState(Nil, Nil))
    val (next, out) = FunnelProcessor.applyOrdered(windowUs, prev, user,
      rows.toSeq.sortBy(e => (e.tsu, e.event_id)))
    st.update(next)
    out.iterator
  }
}

/** The EVOLVED funnel state (S26): v1's fields plus a per-user
  * conversion counter — the additive-field upgrade shape. Option[Long]
  * so the Avro state encoding gives the new field a null default and
  * v1 rows written before the upgrade decode cleanly. */
case class FunnelStateV2(views: Seq[Long], pairs: Seq[(Long, Long)],
                         nConv: Option[Long])

/** S26 — the funnel AFTER a STATE SCHEMA UPGRADE (Flink's
  * savepoint-upgrade story re-expressed on Spark's TWS schema
  * evolution): reads the SAME "funnel" column family a
  * [[FunnelProcessor]] run wrote before the restart, under an EVOLVED
  * state class that adds a conversion counter. Requires the Avro state
  * encoding (`spark.sql.streaming.stateStore.encodingFormat=avro` —
  * UnsafeRow encoding fails fast on any schema change); the fold is
  * single-sourced with v1 (FunnelProcessor.applyOrdered), so the
  * upgrade changes STATE SHAPE, never semantics — the s26 oracle is
  * the plain s8b funnel. */
class FunnelProcessorV2(windowUs: Long)
    extends StatefulProcessor[Long, FunnelEvent, (Long, Long)] {

  @transient private var st: ValueState[FunnelStateV2] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelStateV2](
      "funnel", Encoders.product[FunnelStateV2], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
                               timers: TimerValues): Iterator[(Long, Long)] = {
    val prev = Option(st.get())
      .getOrElse(FunnelStateV2(Nil, Nil, None))
    val (next, out) = FunnelProcessor.applyOrdered(windowUs,
      FunnelState(prev.views, prev.pairs), user,
      rows.toSeq.sortBy(e => (e.tsu, e.event_id)))
    st.update(FunnelStateV2(next.views, next.pairs,
      Some(prev.nConv.getOrElse(0L) + out.size)))
    out.iterator
  }
}

/** S31's rescale-migration processor: the SAME funnel fold, accepting
  * a bulk-loaded initial state (Spark's
  * `StatefulProcessorWithInitialState` — the TWS overload that seeds a
  * FRESH checkpoint from a keyed state Dataset). This is the write
  * half of the tested rescale path: a TWS checkpoint pins its shuffle
  * partitions (restored from the offsets log — the resume-under-a-
  * different-conf pin in StreamingSpec "S31"), so changing state
  * parallelism means EXPORT (the s31 state source read) → REBUILD
  * (this processor under the new partition count) — Flink's
  * savepoint-rescale recipe re-expressed on Spark primitives. The fold
  * is delegated to [[FunnelProcessor.applyOrdered]], so migrated and
  * uninterrupted runs cannot drift semantically. */
class FunnelProcessorWithInit(windowUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, FunnelEvent, (Long, Long), FunnelState] {

  @transient private var st: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

  override def handleInitialState(user: Long, initialState: FunnelState,
      timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
    st.update(initialState)

  override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
                               timers: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long)] = {
    val prev = Option(st.get()).getOrElse(FunnelState(Nil, Nil))
    val (next, out) = FunnelProcessor.applyOrdered(windowUs, prev, user,
      rows.toSeq.sortBy(e => (e.tsu, e.event_id)))
    st.update(next)
    out.iterator
  }
}

object FunnelProcessor {
  /** The funnel fold shared with the out-of-order (watermark-
    * reordering) S8d variant: apply `events` — ALREADY in
    * (tsu, event_id) order — to the trailing-window state; returns the
    * pruned state and the (user, purchase_id) conversions. Pruning
    * against the chunk's max ts is semantics-preserving at any chunk
    * boundary: a pruned view/pair sits more than a window below every
    * later event and so could never satisfy the conversion predicate. */
  def applyOrdered(windowUs: Long, prev: FunnelState, user: Long,
                   events: Seq[FunnelEvent])
      : (FunnelState, Seq[(Long, Long)]) = {
    var views = prev.views.toList
    var pairs = prev.pairs.toList
    val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
    var maxTs = 0L
    events.foreach { e =>
      maxTs = math.max(maxTs, e.tsu)
      e.event_type match {
        case "view" => views ::= e.tsu
        case "click" =>
          val v = views.filter(_ <= e.tsu)
          if (v.nonEmpty) pairs ::= (e.tsu, v.max)
        case "purchase" =>
          if (pairs.exists { case (c, v) => c <= e.tsu && v >= e.tsu - windowUs })
            out += ((user, e.event_id))
        case _ => ()
      }
    }
    views = views.filter(_ >= maxTs - windowUs)
    pairs = pairs.filter(_._2 >= maxTs - windowUs)
    (FunnelState(views, pairs), out.toSeq)
  }
}
