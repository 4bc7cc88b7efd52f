package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders,
  KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** An event a [[KeyedFold]] applies: its event time in epoch micros
  * and the id that breaks ties between equal times. */
trait Timed {
  def tsu: Long
  def event_id: Long
}

object Timed {
  /** `events` in (tsu, event_id) order, the one order every fold
    * applies its events in. */
  def order[E <: Timed](events: Seq[E]): Seq[E] =
    events.sortBy(e => (e.tsu, e.event_id))
}

/** An event type of the per-user keyed-state pipelines. Its companion
  * extends this with the type's wire format: the columns, named after
  * the type's fields, that a replayed `events` row projects into.
  * `user_id` is not part of it: [[UserEvent.byUser]] adds it as the
  * grouping key. A type whose events are purchases only says so in
  * `purchasesOnly`. */
abstract class UserEvent[E <: Product with Timed : TypeTag] {
  def wire: Seq[Column]

  def purchasesOnly: Boolean = false

  private[streaming] lazy val encoder: Encoder[E] = Encoders.product[E]

  /** Event time as epoch micros: exact long comparisons, no millis
    * truncation. */
  protected def tsu: Column = unix_micros(col("ts")).as("tsu")

  /** `value` as exact integer cents. */
  protected def cents: Column = round(col("value") * 100, 0).cast("long")
}

object UserEvent {
  /** The one typed per-user source: the replay of `variant`, only its
    * purchases when the event type is purchases-only, watermarked on
    * `ts` by `watermark` when given, projected into `E` and grouped by
    * `user_id`. The filter comes before the watermark, so a
    * purchase-only stream's watermark tracks purchases alone (the S18b
    * oracle's horizon). */
  def byUser[E <: Product with Timed](s: SparkSession, d: String,
      variant: String, event: UserEvent[E],
      watermark: Option[String] = None): KeyValueGroupedDataset[Long, E] = {
    val src = Replayer.stream(s, d, variant)
    val kept =
      if (event.purchasesOnly) src.filter(col("event_type") === "purchase")
      else src
    watermark.fold(kept)(kept.withWatermark("ts", _))
      .select(col("user_id") +: event.wire: _*)
      .groupBy(col("user_id"))
      .as[Long, E](Encoders.scalaLong, event.encoder)
  }

  /** The one keyed-state pipeline: [[byUser]] watermarked by the delay
    * `runner` declares, run through `runner` on transformWithState in
    * its time mode, the output columns named `cols`. Streams runs it
    * under the confs the runner declares. */
  def keyed[E <: Product with Timed, O <: Product : TypeTag](
      s: SparkSession, d: String, variant: String, event: UserEvent[E],
      runner: KeyedRunner[E, O], cols: String*): DataFrame =
    byUser(s, d, variant, event, runner.watermarkDelay)
      .transformWithState(runner, runner.timeMode, OutputMode.Append())(
        Encoders.product[O])
      .toDF(cols: _*)
}
