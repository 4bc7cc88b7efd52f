package graft.streaming

import org.apache.spark.sql.Encoders

/** The EVOLVED funnel state (S26): v1's fields plus a per-user
  * conversion counter — the additive-field upgrade shape. Option[Long]
  * so the Avro state encoding gives the new field a null default and
  * v1 rows written before the upgrade decode cleanly. */
case class FunnelStateV2(views: Seq[Long], pairs: Seq[(Long, Long)],
                         nConv: Option[Long])

object FunnelProcessor {
  /** S8 funnel — the one s8_funnel/s8b/s8c path (SURVEY §2.9 names
    * transformWithState primary), on the RocksDB state store (a
    * transformWithState constraint, which is also the declared 100 TB
    * state backend). A purchase converts when some click ≤ it has a
    * view ≤ that click with view ≥ purchase − windowUs; state pruned
    * to the trailing window per user. s8/s8b run the 1-hour form, s8c
    * the 24-hour form that converts NATURALLY at every shipped sf (14
    * purchases at sf0.001, 143 at sf0.01) — state stays bounded by the
    * per-user trailing window either way.
    *
    * S8d runs the 24-hour form behind the reorder buffer on the
    * disordered plain `ooo` replay, which is non-vacuous without the
    * funnel injection (whose synthetic chain timestamps sit past the
    * natural range and would catapult the watermark over the whole
    * corpus — the reason the injected variant cannot be composed with
    * `ooo`). Every event a conversion depends on is strictly earlier
    * than its purchase, so the purchase's release point sees exactly
    * the in-order prefix — the s8d oracle is s8c's nested-EXISTS
    * restricted to purchases under the release horizon.
    *
    * S25 runs it with a real processing-time state TTL (an
    * [[InOrderProcessor]] parameter): Spark evicts a user's
    * FunnelState once it goes unwritten for the duration. Production
    * use: bound state on unbounded key spaces where the watermark
    * cannot (a user who never returns holds trailing-window state
    * forever without it).
    *
    * S31's rescale recipe seeds a FRESH checkpoint from an exported
    * keyed state through the initial-state overload: a TWS checkpoint
    * pins its shuffle partitions (restored from the offsets log — the
    * resume-under-a-different-conf pin in StreamingSpec "S31"), so
    * changing state parallelism means EXPORT (the s31 state source
    * read) → REBUILD (this fold under the new partition count) —
    * Flink's savepoint-rescale recipe re-expressed on Spark
    * primitives; migrated and uninterrupted runs share this fold, so
    * they cannot drift. */
  def fold(windowUs: Long)
      : KeyedFold[FunnelEvent, FunnelState, (Long, Long)] =
    KeyedFold("funnel", Encoders.product[FunnelState],
      (prev, user, events) => {
        val (next, out) = applyOrdered(windowUs,
          prev.getOrElse(FunnelState(Nil, Nil)), user, events)
        (Some(next), out)
      })

  /** S26 — the funnel AFTER a STATE SCHEMA UPGRADE (Flink's
    * savepoint-upgrade story re-expressed on Spark's TWS schema
    * evolution): reads the SAME "funnel" column family a [[fold]] run
    * wrote before the restart, under an EVOLVED state class that adds
    * a conversion counter. Requires the Avro state encoding
    * (`spark.sql.streaming.stateStore.encodingFormat=avro` — UnsafeRow
    * encoding fails fast on any schema change); the step is v1's
    * [[applyOrdered]], so the upgrade changes STATE SHAPE, never
    * semantics — the s26 oracle is the plain s8b funnel. */
  def foldV2(windowUs: Long)
      : KeyedFold[FunnelEvent, FunnelStateV2, (Long, Long)] =
    KeyedFold("funnel", Encoders.product[FunnelStateV2],
      (prev, user, events) => {
        val v1 = prev.getOrElse(FunnelStateV2(Nil, Nil, None))
        val (next, out) = applyOrdered(windowUs,
          FunnelState(v1.views, v1.pairs), user, events)
        (Some(FunnelStateV2(next.views, next.pairs,
          Some(v1.nConv.getOrElse(0L) + out.size))), out)
      })

  /** The funnel step: apply `events` — ALREADY in (tsu, event_id)
    * order — to the trailing-window state; returns the pruned state
    * and the (user, purchase_id) conversions. Pruning against the
    * chunk's max ts is semantics-preserving at any chunk boundary: a
    * pruned view/pair sits more than a window below every later event
    * and so could never satisfy the conversion predicate. */
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
