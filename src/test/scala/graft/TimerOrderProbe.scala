package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

/** Sequence-stamped probe state: one counter per key, bumped by every
  * handler invocation so the within-batch handler ORDER is observable
  * from the output alone. */
case class ProbeSeq(n: Long)

/** Probe processor for the TWS scheduling pins: emits
  * ("input"|"timer", seq, watermark) from the respective handler; the
  * tuple key and dual timers mirror the allowed-lateness operator's
  * shape (S29), whose oracle depends on this contract. */
class OrderProbeProcessor
    extends StatefulProcessor[(Long, String), (Long, String, Long),
                              (String, Long, Long)] {
  @transient private var seq: ValueState[ProbeSeq] = _
  override def init(o: OutputMode, t: TimeMode): Unit =
    seq = getHandle.getValueState[ProbeSeq](
      "seq", Encoders.product[ProbeSeq], TTLConfig.NONE)
  private def next(): Long = {
    val n = Option(seq.get()).map(_.n).getOrElse(0L) + 1
    seq.update(ProbeSeq(n)); n
  }
  override def handleInputRows(key: (Long, String),
                               rows: Iterator[(Long, String, Long)],
                               timers: TimerValues)
      : Iterator[(String, Long, Long)] = {
    val rs = rows.toSeq
    if (Option(seq.get()).isEmpty) {
      getHandle.registerTimer(rs.head._3 / 1000 + 1000)
      getHandle.registerTimer(rs.head._3 / 1000 + 1000 + 3600000)
    }
    Iterator.single(("input", next(), timers.getCurrentWatermarkInMs()))
  }
  override def handleExpiredTimer(key: (Long, String),
                                  timers: TimerValues,
                                  info: ExpiredTimerInfo)
      : Iterator[(String, Long, Long)] =
    Iterator.single(("timer", next(), timers.getCurrentWatermarkInMs()))
}

/** THE TWS SCHEDULING CONTRACT (pinned round 19, supersedes the r16
  * probe's "timers fire before input" reading): within one DATA
  * micro-batch, input rows are processed BEFORE expired timers — the
  * executor iterator is newData ++ timers (verified against the
  * Spark 4.1.2 TransformWithStateExec.processDataWithPartition
  * bytecode, and pinned black-box below). The earlier reading held
  * only because `noDataMicroBatches` (default on) slips a NO-DATA
  * batch in whenever the watermark advances while no input is
  * pending — MemoryStream tests with per-batch processAllAvailable
  * always get one, so timers appear to fire "before" the next data
  * batch. On a continuous file replay (maxFilesPerTrigger=1 with
  * files still queued) there is NO intervening no-data batch, so a
  * timer that becomes eligible in a batch that ALSO carries input for
  * its key runs AFTER that input — exactly the case the S29
  * allowed-lateness oracle must model (its fire-batch late rows fold
  * into the on-time pane). Both halves pinned here:
  *   1. no-data batches disabled → the timer fires inside the next
  *      DATA batch, AFTER that batch's input for the same key;
  *   2. default config → the timer fires in the interposed no-data
  *      batch, BEFORE the next data batch's input.
  * The inclusive-at-equality expiry bound (deadline == wm fires) and
  * the S21 emission semantics are unaffected (the S21 spec pins
  * those). */
class TimerOrderProbe extends AnyFunSuite {
  private val s = TestSpark.spark

  private def run(noDataBatches: Boolean): Seq[(String, Long, Long)] = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val mem = MemoryStream[(Long, Long)]
    val ev = mem.toDF().toDF("user_id", "tsu")
      .withColumn("ts", expr("timestamp_micros(tsu)"))
      .withWatermark("ts", "2 seconds")
      .select(col("user_id"), lit("k").as("tag"), col("tsu"))
      .as[(Long, String, Long)]
    val out = ev.groupByKey(e => (e._1, e._2))
      .transformWithState(new OrderProbeProcessor(),
        TimeMode.EventTime(), OutputMode.Append())
    val name = "probe_" + java.util.UUID.randomUUID().toString.take(8)
    val ckpt = graft.core.Scratch.checkpoint()
    val q = graft.core.ConfScope.withConf(s,
        graft.streaming.Streams.RocksDbConf +
        ("spark.sql.streaming.noDataMicroBatches.enabled" ->
          noDataBatches.toString)) {
      out.toDF("kind", "seq", "wm").writeStream
        .format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt).start()
    }
    try {
      // batch 1: key (7,k) @10s -> timers at 11s and 11s+1h
      mem.addData((7L, 10000000L)); q.processAllAvailable()
      // batch 2: key (8,k) @13s -> watermark advances to 11s after it
      mem.addData((8L, 13000000L)); q.processAllAvailable()
      // next data batch: key 7 input @14s (far above the watermark —
      // unambiguously NOT late-filtered)
      mem.addData((7L, 14000000L)); q.processAllAvailable()
      s.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    } finally { q.stop(); graft.core.Scratch.delete(ckpt) }
  }

  test("TWS scheduling: within a DATA batch, input rows run BEFORE " +
       "expired timers for the same key (no-data batches disabled " +
       "to force the timer into the data batch)") {
    val rows = run(noDataBatches = false)
    val key7 = rows.filter(r => r._1 == "input" || r._1 == "timer")
      .sortBy(_._2)
    // key 7's last data batch: input seq must precede the timer seq,
    // both at the SAME watermark (11s) — same batch, input first
    val atWm = rows.filter(_._3 == 11000).sortBy(_._2)
    assert(atWm.map(_._1) == Seq("input", "timer"),
      s"expected input-then-timer within the data batch, got $atWm " +
      s"(all: $key7)")
  }

  test("TWS scheduling: with no-data batches enabled (default), the " +
       "timer fires in an interposed NO-DATA batch before the next " +
       "data batch") {
    val rows = run(noDataBatches = true)
    val atWm = rows.filter(_._3 == 11000).sortBy(_._2)
    assert(atWm.map(_._1) == Seq("timer", "input"),
      s"expected the no-data batch to fire the timer first, got $atWm")
  }
}
