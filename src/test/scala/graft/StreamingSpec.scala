package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Scratch, Tables}
import graft.streaming.Replayer

/** Streaming-specific tiers: SRC5 (memory/rate test sources), SNK2
  * (checkpointed exactly-once restart), S9 (output modes), and the
  * single most valuable property of the whole S-series — stream-vs-batch
  * equivalence (SURVEY §5.2 t3).
  */
class StreamingSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.Sf

  test("SNK4: upsert sink commits one snapshot per batch and re-runs " +
       "to the identical table") {
    def run() = SparkEntry.queries("snk4_upsert")(s, sf).collect()
      .map(_.toSeq).toSeq
    val r1 = run()
    assert(r1.nonEmpty)
    // batch-id-named snapshots: exactly one per data batch of the replay
    // (path construction shared with the sink itself, not duplicated)
    val root = Scratch.dir("upsert", sf)
    val listing = Files.list(root)
    val names =
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.map(_.getFileName.toString).toSet
      } finally listing.close()
    assert(names == (0 until Replayer.NumFiles).map(i => s"v$i").toSet,
      s"expected one vN snapshot per replay batch, got $names")
    // idempotence: a full re-run (fresh checkpoint, same batch ids)
    // overwrites the same paths and yields the identical committed table
    assert(run() == r1, "re-running the upsert changed the committed table")
  }

  test("S11: the chained pipeline executes TWO stateful operators in " +
       "one streaming query (dedup + windowed agg)") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s11_pin").toString
    val q = Streams.s11Plan(s, sf).writeStream.format("memory")
      .queryName("s11_pin").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName))
      .distinct.toSet
    assert(ops == Set("dedupeWithinWatermark", "stateStoreSave"),
      s"expected dedup + agg state stores in ONE query, got $ops")
    // and the chain is not vacuous: the agg emitted rows and the dedup
    // store saw real keys (the duplicate-DROP proof is the s11 oracle
    // hash — counts would differ if the injected dups passed through)
    assert(s.table("s11_pin").count() > 0, "chained query emitted nothing")
    val dedupKeys = q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName == "dedupeWithinWatermark")
      .map(_.numRowsUpdated).sum
    assert(dedupKeys > 0, "dedup state was never exercised")
  }

  test("S11 bounded state at 10x replay: both state stores plateau " +
       "(dedup ~ watermark span, agg ~ open windows), not with ingest") {
    import graft.streaming.Streams
    // dup10: every event re-sent 9x in later files — 10x the ingested
    // rows over the same distinct keys. If either store scaled with
    // ingest instead of its declared bound, this replay exposes it.
    val ckpt = Scratch.fresh("graft_s11_bound").toString
    val q = Streams.s11Plan(s, sf, variant = "dup10").writeStream
      .format("memory").queryName("s11_bound").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def rowsOf(op: String): Seq[Long] = q.recentProgress.toSeq
      .flatMap(_.stateOperators.filter(_.operatorName == op)
        .map(_.numRowsTotal))
    val dedup = rowsOf("dedupeWithinWatermark")
    val agg = rowsOf("stateStoreSave")
    assert(dedup.nonEmpty && agg.nonEmpty, "missing state operators")

    val nDistinct = Tables.events(s, sf).count()
    val ingested = q.recentProgress.map(_.numInputRows).sum
    assert(ingested >= 9 * nDistinct, // cap-at-last-file keeps all copies
      s"fixture not 10x: ingested $ingested of ${10 * nDistinct}")
    // dedup store: keyed by event_id, holds only keys within the
    // watermark horizon. The replay files are contiguous ts ranges, so
    // the live span at any batch is ~one file's worth of distinct keys
    // (+ the 10-minute tail of the previous) — NEVER the whole corpus,
    // and NEVER a function of the 10x ingest.
    val filesWorth = (nDistinct + Replayer.NumFiles - 1) / Replayer.NumFiles
    assert(dedup.max <= 2 * filesWorth,
      s"dedup state ${dedup.max} exceeds ~watermark-span bound " +
      s"${2 * filesWorth} (distinct=$nDistinct, ingested=$ingested)")
    assert(dedup.max < nDistinct,
      s"dedup state ${dedup.max} reached corpus size — eviction dead")

    // agg store: one row per OPEN (window, segment) group. Conservation
    // (as in the S1 append pin): every purchase group is either closed
    // (emitted) or still open (in state) — and eviction ran mid-replay.
    val totalGroups = Tables.events(s, sf)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(s, sf),
            col("user_id") === col("c_custkey"))
      .select(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .distinct().count()
    val emitted = s.table("s11_bound").count()
    assert(emitted + agg.last == totalGroups,
      s"emitted=$emitted + open=${agg.last} != groups=$totalGroups")
    assert(agg.max < totalGroups,
      s"agg state peaked at ${agg.max} of $totalGroups groups — " +
      "window eviction never ran during the replay")
  }

  test("events event_id is unique — the precondition that makes " +
       "upsertMerge's struct-max agree with the (ts, event_id) oracle") {
    // upsertMerge's max(struct(ts, event_id, event_type, value)) can
    // only diverge from the oracle's ORDER BY ts DESC, event_id DESC if
    // two rows of one user share (ts, event_id); global event_id
    // uniqueness rules that out. Loud failure here beats a silent hash
    // divergence in snk4_upsert.
    val ev = Tables.events(s, sf)
    val n = ev.count()
    val nd = ev.select(countDistinct(col("event_id"))).head().getLong(0)
    assert(n == nd, s"event_id not unique: $n rows, $nd distinct")
  }

  test("events (user_id, ts) pairs are tie-free — the precondition the " +
       "s8-family oracles' ts-only comparisons lean on") {
    // The s8/s8b/s8c/s8d oracles compare c.ts <= p.ts / v.ts <= c.ts
    // while the engine folds in strict (ts, event_id) order: a click
    // sharing (user_id, ts) with its purchase but carrying a higher
    // event_id would count for the oracle yet be unseen by the fold.
    // Zero same-(user_id, ts) pairs makes the two definitions equal;
    // assert it loudly so a regenerated corpus that violates it fails
    // here instead of as an opaque hash mismatch (advisor r17).
    val ev = Tables.events(s, sf)
    val ties = ev.groupBy(col("user_id"), col("ts"))
      .count().filter(col("count") > 1).count()
    assert(ties == 0, s"$ties same-(user_id, ts) event pairs exist — " +
      "the s8-family oracles' ts-only tie convention no longer holds")
  }

  test("SNK4: a checkpoint restart resumes the merge from the " +
       "committed v(id-1) snapshot") {
    import graft.streaming.Streams
    val dir = Replayer.ensure(s, sf, "clean")
    val schema = s.read.parquet(dir).schema
    val ckpt = Scratch.fresh("graft_snk4_ckpt").toString
    val root = Scratch.fresh("graft_snk4_snap")
    def stream() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

    // phase 1: a RESTRICTED glob (first 3 of the 5 replay files) drained
    // to completion — a deterministic strict prefix, the same shape as
    // the RocksDB restart test in ScaleSpec. (The previous poll-then-
    // stop() could drain all 5 batches on a fast machine, making phase 2
    // vacuous — the exact flakiness that test's comment documents.)
    def streamPrefix() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/batch0[0-2].parquet")
    val q1 = streamPrefix().writeStream
      .foreachBatch(Streams.upsertMerge(root) _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination() // "crash" after a committed strict prefix
    assert(q1.recentProgress.map(_.numInputRows).sum > 0,
      "phase 1 processed nothing — no prefix was committed")

    // phase 2: restart from the same checkpoint; the first resumed batch
    // must find phase 1's last snapshot ON DISK (no driver state
    // survives the "crash") and keep merging into it
    val q2 = stream().writeStream.foreachBatch(Streams.upsertMerge(root) _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(q2.recentProgress.map(_.numInputRows).sum > 0,
      "phase 2 processed nothing — the restart path was not exercised")

    // the committed table equals the batch argmax per key
    val got = s.read.parquet(Scratch.latest(root, "v").get.toString)
      .select(col("user_id"), col("best.event_id").as("last_event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = s.read.parquet(dir)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"))).as("b"))
      .select(col("user_id"), col("b.event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp, "restarted upsert table diverged from batch argmax")
  }

  test("S10: rank windows ON a streaming DataFrame are rejected — the " +
       "executable reason for the agg-stream + batch-rank shape") {
    val dir = Replayer.ensure(s, sf, "clean")
    val schema = s.read.parquet(dir).schema
    val st = s.readStream.schema(schema).parquet(dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"))
    val bad = st.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(w))
    val ckpt = Scratch.fresh("graft_s10_neg").toString
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      val q = bad.writeStream.format("memory").queryName("s10_neg")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    assert(e.getMessage.toLowerCase.contains("window")
        || e.getMessage.toLowerCase.contains("streaming"),
      s"unexpected rejection message: ${e.getMessage.take(200)}")
  }

  test("SRC5: MemoryStream source feeds a streaming aggregation") {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val mem = MemoryStream[Int]
    val agg = mem.toDF().groupBy((col("value") % 2).as("par"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    val q = agg.writeStream.format("memory").queryName("src5_t")
      .outputMode("complete").start()
    mem.addData(1 to 100: _*)
    q.processAllAvailable()
    val out = s.table("src5_t").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    q.stop()
    assert(out(0) == (50L, 2550L) && out(1) == (50L, 2500L))
  }

  test("SRC5: rate source produces rows under a processing-time trigger") {
    import graft.streaming.RateSource
    val name = "src5_rate_" + java.util.UUID.randomUUID().toString.take(8)
    // modest rate: the assertions below (non-empty + gap-free) hold at
    // any row count, so a slow CI machine only makes the test shorter
    val q = RateSource(rowsPerSecond = 50).stream(s)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (s.table(name).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    q.stop()
    val rows = s.table(name).collect()
    assert(rows.nonEmpty, "rate source produced no rows in 30 s")
    // schema contract: (timestamp, value) with gap-free value sequence
    val vals = rows.map(_.getLong(1)).sorted
    assert(vals.head == 0L && vals.last == vals.length - 1,
      s"rate values not gap-free from 0: head=${vals.head} last=${vals.last} n=${vals.length}")
  }

  test("StreamSource: the same aggregation runs unchanged over file-replay" +
       " and memory sources") {
    import graft.streaming.{FileReplaySource, StreamSource, WrappedSource}
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    // source-agnostic query: counts per event_type
    def counts(src: StreamSource) = src.stream(s)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    def drain(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val name = "srctrait_" + java.util.UUID.randomUUID().toString.take(8)
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val fromFiles = drain(counts(FileReplaySource(sf)))
    val mem = MemoryStream[(Long, String)]
    Tables.events(s, sf).select(col("event_id"), col("event_type"))
      .collect().grouped(500).foreach { chunk =>
        mem.addData(chunk.map(r => (r.getLong(0), r.getString(1))).toSeq)
      }
    val fromMemory = drain(counts(
      WrappedSource(mem.toDF().toDF("event_id", "event_type"))))
    assert(fromFiles == fromMemory && fromFiles.nonEmpty,
      s"file=$fromFiles vs memory=$fromMemory")
  }

  test("SNK2: kill-and-restart from checkpoint is exactly-once") {
    val dir = Replayer.ensure(s, sf, "clean")
    val schema = s.read.parquet(dir).schema
    val ckpt = Scratch.fresh("graft_snk2_ckpt").toString
    val out = Scratch.fresh("graft_snk2_out").toString
    // phase 1's source dir holds only 2 of the 5 replay files, so the
    // strict-prefix premise holds BY CONSTRUCTION no matter how many
    // trigger firings land before the kill (racing stop() against the
    // fast trigger was the flake mode the restart tests exhibited);
    // this test keeps the parquet FORMAT sink on purpose — its
    // _spark_metadata-log exactly-once across the restart is the thing
    // under test (the stateful restarts pin the foreachBatch face)
    val srcDir = Scratch.fresh("graft_snk2_src")
    val parts = {
      val ls = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally ls.close()
    }
    assert(parts.size == Replayer.NumFiles, s"expected 5 files: $parts")
    def stage(ps: Seq[java.nio.file.Path]): Unit = ps.foreach(p =>
      Files.copy(p, srcDir.resolve(p.getFileName.toString)))
    stage(parts.take(2))
    def stream() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      .select(col("event_id"), col("event_type"))

    // phase 1: process the staged prefix, then "crash" mid-stream
    val q1 = stream().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
           System.nanoTime() < deadline) Thread.sleep(100)
    q1.stop() // mid-stream kill
    val partial = s.read.parquet(out).count()
    assert(partial > 0 && partial < 1000,
      s"restart test needs a strict prefix, got $partial rows")

    // phase 2: the rest of the files land, restart from the same
    // checkpoint, drain
    stage(parts.drop(2))
    val q2 = stream().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()

    // exactly-once: final table equals the uninterrupted batch result
    val fin = s.read.parquet(out)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val exp = Tables.events(s, sf)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(fin.getLong(0) == exp.getLong(0), "row count diverged after restart")
    assert(fin.getLong(1) == exp.getLong(1), "content checksum diverged")
  }

  test("S1 stream equals the same aggregation run as a batch query") {
    val streamed = SparkEntry.queries("s1_tumbling")(s, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                 r.getDouble(3))).toSet
    val batch = Tables.events(s, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,4)")).cast("double").as("sv"))
      .select(col("window.start"), col("event_type"), col("n"), col("sv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                 r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("S1 production shape: append mode keeps state bounded once the " +
       "watermark advances") {
    // The canonical S1 runs complete mode for the oracle harness; the
    // declared 100 TB production path is append + watermark. This pins
    // that claim executably: state rows must plateau at the open-window
    // set, never accumulate the full window history.
    val src = Replayer.stream(s, sf, "clean")
      .withWatermark("ts", Replayer.WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val name = "s1_append_" + java.util.UUID.randomUUID().toString.take(8)
    val ckpt = Scratch.checkpoint()
    val q = src.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally Scratch.delete(ckpt)
    val stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    // every (window, event_type) group the replay contains — what a
    // no-eviction run would be holding at the end
    val totalGroups = Tables.events(s, sf)
      .select(window(col("ts"), "1 hour"), col("event_type"))
      .distinct().count()
    val emitted = s.table(name).count()
    assert(stateRows.nonEmpty && emitted > 0,
      s"append run produced no progress/output (state=${stateRows.toSeq})")
    // conservation: every group is either closed (emitted) or still open
    // (in state) — nothing dropped, nothing double-held
    assert(emitted + stateRows.last == totalGroups,
      s"emitted=$emitted + state=${stateRows.last} != groups=$totalGroups")
    // bounded: eviction ran DURING the replay — at no batch did state
    // hold the full window history (watermark evicts closed windows)
    assert(stateRows.max < totalGroups,
      s"state peaked at ${stateRows.max} of $totalGroups groups — " +
      "watermark eviction never ran during the replay")
  }

  test("S2 production shape: append-mode sliding windows keep state " +
       "bounded once the watermark advances") {
    // s2b_sliding_append is the hash-gated production variant; this pins
    // its scale claim executably: sliding windows multiply state by
    // window/slide (4x here), and the watermark must evict closed
    // windows DURING the replay, never hold the full 4x window history.
    val src = Replayer.stream(s, sf, "clean")
      .withWatermark("ts", Replayer.WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val name = "s2_append_" + java.util.UUID.randomUUID().toString.take(8)
    val ckpt = Scratch.checkpoint()
    val q = src.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally Scratch.delete(ckpt)
    val stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    // the full 4x-fanned (window, event_type) group set a no-eviction
    // run would hold at the end
    val totalGroups = Tables.events(s, sf)
      .select(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .distinct().count()
    val emitted = s.table(name).count()
    assert(stateRows.nonEmpty && emitted > 0,
      s"append run produced no progress/output (state=${stateRows.toSeq})")
    // conservation: every sliding group is either closed (emitted) or
    // still open (in state)
    assert(emitted + stateRows.last == totalGroups,
      s"emitted=$emitted + state=${stateRows.last} != groups=$totalGroups")
    // bounded: eviction ran during the replay
    assert(stateRows.max < totalGroups,
      s"state peaked at ${stateRows.max} of $totalGroups groups — " +
      "watermark eviction never ran during the replay")
  }

  test("watermark model pin (Spark 4.1.2): engine-reported watermark " +
       "equals the oracle's modeled horizon on the two-sided join") {
    // The s5b/s5c oracles hard-code three Spark-internal mechanics,
    // calibrated on the PINNED Spark 4.1.2 build: the query-global
    // watermark is the MIN over both sides' event-time maxima, event-time
    // stats are tracked in MILLISECONDS, and AvailableNow runs a final
    // watermark-advance batch. If a Spark upgrade changes any of these,
    // this assertion fails loudly here instead of as an opaque oracle
    // hash mismatch on s5b/s5c.
    val src = Replayer.stream(s, sf, "clean")
    val p = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
              col("user_id").as("p_user"))
      .withWatermark("p_ts", Replayer.WatermarkDelay)
    val c = src.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
              col("user_id").as("c_user"))
      .withWatermark("c_ts", Replayer.WatermarkDelay)
    val joined = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    val name = "wmpin_" + java.util.UUID.randomUUID().toString.take(8)
    val ckpt = Scratch.checkpoint()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally Scratch.delete(ckpt)
    val reported = java.time.Instant.parse(
      q.lastProgress.eventTime.get("watermark")).toEpochMilli
    val ev = Tables.events(s, sf)
    // Timestamp.getTime floors to millis — exactly the modeled trunc_ms
    def sideMax(t: String): Long = ev.filter(col("event_type") === t)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val modeled = math.min(sideMax("purchase"), sideMax("click")) -
      10L * 60L * 1000L
    assert(reported == modeled,
      s"watermark drift: engine=$reported modeled=$modeled " +
      "(min-across-sides / ms-truncation / final-advance-batch mechanics " +
      "changed — recalibrate the s5b/s5c oracles)")
  }

  test("S8b: the transformWithState funnel converts each injected chain " +
       "exactly once on the chain-injected replay") {
    // the "funnel" variant injects deterministic view→click→purchase
    // chains (4 at sf0.001), so the funnel logic is positively exercised
    val tws = SparkEntry.queries("s8b_funnel_injected")(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tws.nonEmpty,
      "chain-injected replay must produce conversions — empty result " +
      "means the funnel never fired")
    // every injected chain converts exactly once, for a synthetic user
    assert(tws.keys.forall(_ >= Replayer.FunnelUserBase) &&
           tws.values.forall(_ == 1L),
      s"expected one conversion per synthetic chain user, got ${tws.toSeq.sorted}")
  }

  test("S8: the funnel fires on NATURAL sf0.1 data and matches the " +
       "batch reference exactly") {
    // complements s8b's synthetic proof: sf0.1 is the smallest scale
    // where the natural corpus contains real view→click→purchase
    // conversions (s8_funnel's sf0.01 oracle match is 0 = 0), so this is
    // the one non-injected positive check of the streaming state machine
    val sf01 = "/root/testdata/sf0.1"
    val streamed = SparkEntry.queries("s8_funnel")(s, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty,
      "expected natural conversions at sf0.1 — none found")
    // batch reference = the oracle's funnel definition as joins (Spark
    // SQL can't correlate an EXISTS two levels deep): purchase converts
    // when some click ≤ it has a view ≤ that click within 1 h before
    // the purchase
    val ev = Tables.events(s, sf01)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
              col("event_id").as("pid"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
    val batch = p
      .join(c, Seq("user_id")).filter(col("cts") <= col("pts"))
      .join(v, Seq("user_id"))
      .filter(col("vts") <= col("cts") &&
              col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("pid")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"streamed=${streamed.toSeq.sorted} vs batch=${batch.toSeq.sorted}")
  }

  test("S13: cross-batch rejection against the REFRESHED index, and the " +
       "stream itself is stateless") {
    val (log, q) = graft.streaming.Streams.s13Run(s, sf)
    val rows = log.collect().map { r =>
      r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("batch_id"), r.getAs[String]("status"),
         r.getAs[Long]("canon_doc_id"))
    }.toMap
    // state lives ONLY in the batch-id-addressed snapshots — the
    // streaming query itself must open zero state stores
    assert(q.recentProgress.filter(_.numInputRows > 0)
      .flatMap(_.stateOperators).isEmpty, "s13 opened a state store")
    // constant-B carriers (doc_id % 21 == 0, % 13 != 0): no historical
    // doc holds B, so the FIRST arrival is accepted and every later
    // carrier must reject against the refreshed (not static) index
    val bIds = rows.keys.filter(i => i % 21 == 0 && i % 13 != 0).toSeq.sorted
    assert(bIds.size >= 3, s"expected several B carriers, got $bIds")
    assert(rows(bIds.head)._2 == "accepted", s"first B: ${rows(bIds.head)}")
    bIds.tail.foreach { i =>
      assert(rows(i)._2 == "dup" && rows(i)._3 == bIds.head,
        s"B carrier $i: ${rows(i)}")
    }
    // the property S12 cannot express: a duplicate REJECTED in batch N
    // whose canonical doc was ACCEPTED in an earlier batch M < N
    val cross = bIds.tail.filter(i => rows(i)._1 > rows(bIds.head)._1)
    assert(cross.nonEmpty, "no B carrier landed in a later batch than " +
      s"the accepted one (batches: ${bIds.map(rows(_)._1)})")
    // constant-A carriers (doc_id % 13 == 0) reject against v_init: the
    // historical index seeded by hist docs 13, 26, …
    val aIds = rows.keys.filter(_ % 13 == 0).toSeq.sorted
    assert(aIds.nonEmpty)
    aIds.foreach { i =>
      assert(rows(i)._2 == "dup" && rows(i)._3 == 13L,
        s"A carrier $i: ${rows(i)}")
    }
    // write-amplification pin: the per-batch index write is EXACTLY the
    // batch's accepted rows (landing as partition bid=k), never a
    // snapshot rewrite of the whole index — bytes written ∝ |batch|,
    // not |index| (same schema every leaf, so rows are the byte proxy)
    val store = s.read.parquet(
      graft.streaming.Streams.s13StoreDir(sf).toString)
    val perBid = store.groupBy(col("bid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val acceptedPerBatch = rows.values.toSeq
      .filter(_._2 == "accepted").groupBy(_._1.toInt)
      .view.mapValues(_.size.toLong).toMap
    val seedRows = perBid.getOrElse(-1, 0L)
    assert(seedRows > 0, "seed index partition bid=-1 missing")
    acceptedPerBatch.foreach { case (b, n) =>
      assert(perBid.getOrElse(b, 0L) == n,
        s"batch $b wrote ${perBid.getOrElse(b, 0L)} index rows, " +
        s"accepted $n — per-batch write must be the accepted delta")
    }
    assert(perBid.keys.filter(_ >= 0).forall(acceptedPerBatch.contains),
      s"index has bid partitions beyond the accepted deltas: $perBid")
    assert(store.count() == seedRows + acceptedPerBatch.values.sum,
      "index total != seed + sum of accepted deltas")
  }

  test("S15: heavy-hitter state stays bounded on the high-cardinality " +
       "key — watermark eviction runs during the replay, nothing is " +
       "dropped or double-held") {
    // the S1 production-shape pin, on S15's (window × user_id) state —
    // the key whose cardinality makes heavy-hitter state a real budget
    val name = "s15_pin_" + java.util.UUID.randomUUID().toString.take(8)
    val ckpt = Scratch.checkpoint()
    val q = graft.streaming.Streams.s15Agg(s, sf).writeStream
      .format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally Scratch.delete(ckpt)
    val stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    val totalGroups = Tables.events(s, sf)
      .select(window(col("ts"), "1 hour"), col("user_id"))
      .distinct().count()
    val emitted = s.table(name).count()
    assert(stateRows.nonEmpty && emitted > 0,
      s"append run produced no progress/output (state=${stateRows.toSeq})")
    // conservation: every (window, user) group is either closed
    // (emitted) or still open (in state)
    assert(emitted + stateRows.last == totalGroups,
      s"emitted=$emitted + state=${stateRows.last} != groups=$totalGroups")
    // bounded: at no batch did state hold the full history
    assert(stateRows.max < totalGroups,
      s"state peaked at ${stateRows.max} of $totalGroups groups — " +
      "watermark eviction never ran during the replay")
    // and the canonical query's rank stage only ever sees closed
    // windows: top-3 per window, ranks contiguous, ties user-ordered
    val out = SparkEntry.queries("s15_heavy_hitters")(s, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.nonEmpty, "no closed windows — test vacuous")
    out.groupBy(_._1).foreach { case (w, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length),
        s"ranks not contiguous for window $w")
      rows.sortBy(_._4).toSeq.sliding(2).foreach {
        case Seq((_, u1, n1, _), (_, u2, n2, _)) =>
          assert(n1 > n2 || (n1 == n2 && u1 < u2),
            s"rank order violated in window $w")
        case _ =>
      }
    }
  }

  test("S16: drift TV distance equals an in-memory exact-integer " +
       "reference over closed windows, and the stream is non-flat") {
    val evs = Tables.events(s, sf).select("ts", "event_type").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)))
    val maxTs = evs.map(_._1).max
    val hour = 3600000L
    val closed = evs.map { case (t, ty) => ((t / hour) * hour, ty) }
      .filter { case (w, _) => w + hour < maxTs - 600000L }
    val hist: Map[Long, Map[String, Long]] = closed.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap)
      .toMap
    val wins = hist.keys.toSeq.sorted
    val ref = wins.sliding(2).collect { case Seq(pw, w) =>
      val (cur, prv) = (hist(w), hist(pw))
      val n = cur.values.sum; val m = prv.values.sum
      val tvnum = (cur.keySet ++ prv.keySet).toSeq.map(t =>
        math.abs(cur.getOrElse(t, 0L) * m - prv.getOrElse(t, 0L) * n)).sum
      (w, pw, tvnum * 1000000L / (n * m))
    }.toSeq
    assert(ref.nonEmpty, "fewer than 2 closed windows — test vacuous")
    assert(ref.exists(_._3 > 0L),
      "every window pair has an identical mix — drift signal vacuous")
    val got = SparkEntry.queries("s16_drift")(s, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
                 r.getLong(2))).toSeq
    assert(got == ref, s"engine ${got.take(3)} vs ref ${ref.take(3)}")
  }

  test("S14: the absence pattern equals an in-memory reference, and " +
       "the negation clause is positively exercised") {
    val ev = Tables.events(s, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val win = 3600L * 1000000L
    val byUser = ev.groupBy(_._1)
    val ref = byUser.toSeq.flatMap { case (u, rows) =>
      val views = rows.filter(_._4 == "view").map(_._3)
      val clicks = rows.filter(_._4 == "click").map(_._3)
      rows.filter(_._4 == "purchase").flatMap { case (_, pid, pts, _) =>
        val inWin = views.filter(v => v <= pts && v >= pts - win)
        if (inWin.nonEmpty && {
          val vstar = inWin.max
          !clicks.exists(c => c >= vstar && c <= pts)
        }) Some((u, pid)) else None
      }
    }.sorted
    val out = SparkEntry.queries("s14_absence")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == ref, s"engine ${out.take(5)} vs ref ${ref.take(5)}")
    assert(out.nonEmpty, "no natural impulse purchases — test vacuous")
    // negation control at sf0.1 (the smallest scale with naturally
    // click-BLOCKED purchases — 3 of them): some purchase with an
    // in-window view must be withheld because a click intervened;
    // without such a case the NOT-EXISTS clause is untested (the s8
    // natural-positive precedent, inverted)
    val sf01 = "/root/testdata/sf0.1"
    val ev1 = Tables.events(s, sf01)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val out1 = SparkEntry.queries("s14_absence")(s, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = ev1.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val views = rows.filter(_._4 == "view").map(_._3)
      val clicks = rows.filter(_._4 == "click").map(_._3)
      rows.filter(_._4 == "purchase").filter { case (_, _, pts, _) =>
        val inWin = views.filter(v => v <= pts && v >= pts - win)
        inWin.nonEmpty && {
          val vstar = inWin.max
          clicks.exists(c => c >= vstar && c <= pts)
        }
      }.map { case (_, pid, _, _) => (u, pid) }
    }
    assert(blocked.nonEmpty, "no click-blocked purchase at sf0.1 — negation vacuous")
    blocked.foreach { bp =>
      assert(!out1.contains(bp), s"blocked purchase $bp wrongly emitted")
    }
  }

  test("S9: windowed aggregation rejects append output without watermark") {
    val ckpt = Scratch.checkpoint()
    val err = try intercept[Exception] {
      Replayer.stream(s, sf, "clean") // no withWatermark
        .groupBy(window(col("ts"), "1 hour")).count()
        .writeStream.format("memory").queryName("s9_bad")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    } finally Scratch.delete(ckpt)
    assert(err.getMessage.toLowerCase.contains("watermark") ||
           err.getMessage.toLowerCase.contains("append"))
  }

  test("S12: the ingestion gate is STATELESS (no state stores, no " +
       "watermark) and consumes the replay one file per micro-batch") {
    // the 100 TB claim: a broadcast signature index + map-side anti join
    // means the intake tier carries zero streaming state — each arriving
    // file is one bounded task wave, nothing buffered across batches
    import org.apache.spark.sql.functions._
    val toks = split(col("text"), " ")
    val sig = sha2(concat_ws(" ", array_sort(array_distinct(toks))), 256)
    val hist = broadcast(graft.core.Tables.documents(s, sf)
      .filter(col("doc_id") % 7 =!= 0).select(sig.as("sig")).distinct())
    val gated = Replayer.streamDocs(s, sf)
      .filter(col("doc_id") % 7 === 0)
      .withColumn("sig", sig)
      .join(hist, Seq("sig"), "left_anti")
      .withColumn("n_toks", size(toks).cast("long"))
    val ckpt = Scratch.checkpoint()
    val q = try {
      val q = gated.writeStream.format("memory").queryName("s12_pin")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    } finally Scratch.delete(ckpt)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.flatMap(_.stateOperators).isEmpty,
      "the stateless gate opened a state store")
    assert(progress.length == Replayer.NumFiles,
      s"expected ${Replayer.NumFiles} data micro-batches, got ${progress.length}")
    assert(s.table("s12_pin").count() > 0, "gate emitted nothing")
  }

  test("fixtures: regenerating the source table IN PLACE invalidates " +
       "the replay fixture (fingerprinted dir, stale sibling swept)") {
    // the r9/r10 failure class: the driver rewrites /root/testdata at
    // the same path; a path-keyed fixture would keep serving old data
    import org.apache.spark.sql.functions._
    val sfTmp = Scratch.fresh("fixfp").toString
    graft.core.Tables.documents(s, sf).limit(50)
      .write.mode("overwrite").parquet(s"$sfTmp/documents.parquet")
    val d1 = Replayer.ensureDocs(s, sfTmp)
    // regenerate in place: same path, new physical files
    graft.core.Tables.documents(s, sf).limit(50)
      .withColumn("text", concat(col("text"), lit(" regen")))
      .write.mode("overwrite").parquet(s"$sfTmp/documents.parquet")
    val d2 = Replayer.ensureDocs(s, sfTmp)
    assert(d1 != d2, "regenerated source served the stale fixture dir")
    assert(!Files.exists(java.nio.file.Paths.get(d1)),
      "stale fixture dir not swept")
    // and the fresh fixture carries the regenerated content
    assert(s.read.parquet(d2).filter(col("text").endsWith("regen")).count()
      === 50L)
  }

  test("S17: the left-semi interval join emits each matched purchase " +
       "exactly once — 1h counts equal s5's countDistinct; at 24h, " +
       "where multi-click purchases exist, semi still equals the " +
       "batch EXISTS reference") {
    val semi = SparkEntry.queries("s17_semi_interval")(s, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inner = SparkEntry.queries("s5_interval_join")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(semi.nonEmpty, "semi join matched nothing — test vacuous")
    // same matched-purchase multiset as the inner join's countDistinct
    assert(semi == inner.map(r => r._1 -> r._3).toMap,
      "semi counts diverge from the inner join's distinct purchases")
    // emit-once, positively exercised: at the 24 h width the natural
    // corpus has purchases with MULTIPLE in-window clicks (21 of 71 at
    // sf0.001 — at 1 h the click density never doubles up), so a
    // per-pair emitter would overcount below
    val ev = graft.core.Tables.events(s, sf)
      .select("event_id", "user_id", "ts", "event_type")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val pairs = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - org.apache.spark.sql.functions
          .expr("INTERVAL 24 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .groupBy(col("p_user"), col("p_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(_._3 > 1L),
      "no 24h purchase has multiple clicks — emit-once untested")
    val refWide = pairs.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2).sum)).toMap
    val semiWide = graft.streaming.Streams.s17Run(s, sf, windowHours = 24)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(semiWide == refWide,
      s"24h semi ${semiWide.toSeq.sortBy(_._1).take(3)} vs " +
      s"batch reference ${refWide.toSeq.sortBy(_._1).take(3)}")
  }

  test("S18: streaming SCD2 maintenance equals an in-memory replay, " +
       "versions chain gaplessly with monotone bands, someone closes " +
       "two versions, and the thresholds are load-bearing") {
    def replayRef(mid: Long, high: Long): Seq[(Long, String, Long, Long)] = {
      val pu = graft.core.Tables.events(s, sf)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), org.apache.spark.sql.functions
          .unix_micros(col("ts")).as("tsu"), col("event_id"),
          org.apache.spark.sql.functions
            .round(col("value") * 100, 0).cast("long").as("cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      def bandOf(c: Long) =
        if (c < mid) "low" else if (c < high) "mid" else "high"
      pu.groupBy(_._1).toSeq.flatMap { case (u, g) =>
        var cum = 0L
        var cur: Option[(String, Long)] = None
        val out = scala.collection.mutable.ListBuffer[(Long, String, Long, Long)]()
        g.sortBy(e => (e._2, e._3)).foreach { e =>
          cum += e._4
          val nb = bandOf(cum)
          cur match {
            case None => cur = Some((nb, e._2))
            case Some((b0, t0)) if nb != b0 =>
              out += ((u, b0, t0, e._2)); cur = Some((nb, e._2))
            case _ => ()
          }
        }
        out
      }.sortBy(v => (v._1, v._3))
    }
    def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val got = SparkEntry.queries("s18_scd2_stream")(s, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        us(r.getTimestamp(2)), us(r.getTimestamp(3)))).toSeq
    val ref = replayRef(40000L, 100000L)
    assert(got == ref, s"engine ${got.take(3)} vs ref ${ref.take(3)}")
    assert(got.nonEmpty, "no closed version emitted — test vacuous")
    // hygiene: per user, versions chain (valid_to == next valid_from),
    // bands strictly escalate, intervals are non-degenerate
    val rank = Map("low" -> 0, "mid" -> 1, "high" -> 2)
    got.groupBy(_._1).values.foreach { vs =>
      val sorted = vs.sortBy(_._3)
      sorted.foreach { v => assert(v._3 < v._4,
        s"degenerate interval $v") }
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4 == b._3, s"version gap between $a and $b")
          assert(rank(a._2) < rank(b._2),
            s"bands must escalate under growing spend: $a then $b")
        case _ => ()
      }
    }
    assert(got.groupBy(_._1).values.exists(_.size >= 2),
      "nobody closed two versions — the high tier never engaged")
    // threshold sensitivity: a different mid threshold must change the
    // emitted version multiset (the dial is not decorative)
    val alt = graft.streaming.Streams.s18Run(s, sf, 20000L, 100000L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        us(r.getTimestamp(2)), us(r.getTimestamp(3)))).toSeq
    assert(alt == replayRef(20000L, 100000L),
      "alternate-threshold run diverges from its reference")
    assert(alt != got, "changing the mid threshold changed nothing")
  }

  test("replay-order contract: event_id order IS ts order in the " +
       "events table (zero inversions), so the clean replay's " +
       "contiguous-id batches deliver every key's events in global " +
       "(ts, event_id) order — the standing assumption of the " +
       "batch-sequential stateful processors (S8 funnel, S14 absence, " +
       "S18 SCD2)") {
    val evs = graft.core.Tables.events(s, sf)
      .select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .sortBy(_._1)
    val inversions = evs.sliding(2).count {
      case Array(a, b) => a._2 > b._2
      case _ => false
    }
    assert(inversions == 0,
      s"$inversions ts inversions in event_id order — a driver " +
      "regeneration broke the replay-order contract; the S8/S14/S18 " +
      "cross-batch ordering assumption no longer holds and those " +
      "processors need per-key reorder buffers")
  }

  test("S19: every manifest version is a batch-atomic prefix of the " +
       "stream (version k's ids == batch dirs 0..k's ids exactly), the " +
       "chain strictly extends, and junk in the data root is invisible " +
       "to every version") {
    import graft.queries.SourcesSinks
    // the query runs the stream and leaves the layout behind
    val finalRows = SparkEntry.queries("s19_stream_snapshot")(s, sf)
      .collect()
    assert(finalRows.nonEmpty, "empty final snapshot")
    val root = Scratch.dir("s19snap", sf)
    val mdir = root.resolve("manifests")
    import scala.jdk.CollectionConverters._
    val versions = {
      val ls = java.nio.file.Files.list(mdir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".list"))
        .map(_.stripPrefix("v").stripSuffix(".list").toLong).toSeq.sorted
      finally ls.close()
    }
    assert(versions.size >= 3,
      s"expected >=3 micro-batch versions, got $versions")
    def manifestFiles(v: Long): Seq[String] = java.nio.file.Files
      .readString(mdir.resolve(s"v$v.list"))
      .split("\n").toSeq.filter(_.nonEmpty)
    // chain: each version's file set strictly extends the previous
    versions.sliding(2).foreach {
      case Seq(a, b) =>
        val (fa, fb) = (manifestFiles(a).toSet, manifestFiles(b).toSet)
        assert(fa.subsetOf(fb) && fa.size < fb.size,
          s"version $b does not strictly extend $a")
      case _ => ()
    }
    // batch-atomic prefix: version k's ids == union of batch dirs 0..k
    def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("event_id").collect().map(_.getLong(0)).toSet
    val batchIds = versions.map { v =>
      v -> idsOf(s.read.parquet(
        root.resolve("data").resolve(s"b$v").toString))
    }.toMap
    var acc = Set.empty[Long]
    versions.foreach { v =>
      acc = acc ++ batchIds(v)
      val snap = idsOf(SourcesSinks.snk9ReadSnapshot(s,
        mdir.resolve(s"v$v.list").toString))
      assert(snap == acc,
        s"version $v is not the exact batch prefix (${snap.size} vs " +
        s"${acc.size} ids)")
    }
    // junk isolation: a torn writer's file in a data dir changes nothing
    val b0 = root.resolve("data").resolve("b0")
    val one = SourcesSinks.listParquet(b0).head
    val junk = b0.resolve("part-junk-torn.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(one), junk)
    try versions.foreach { v =>
      val snap = idsOf(SourcesSinks.snk9ReadSnapshot(s,
        mdir.resolve(s"v$v.list").toString))
      assert(snap.size == versions.take(versions.indexOf(v) + 1)
          .map(batchIds(_).size).sum,
        s"junk leaked into version $v")
    } finally java.nio.file.Files.delete(junk)
  }

  test("S18: kill-and-restart from checkpoint leaves the emitted " +
       "version train exactly-once (the SNK2 pin on the stateful " +
       "processor whose replay-idempotence was comment-argued only)") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s18_ckpt").toString
    val out = Scratch.fresh("graft_s18_out").toString
    // the RocksDB provider conf must be in effect AT QUERY START (the
    // conf snapshot happens there), so withConf wraps start(), not
    // just the writer construction
    def start(t: Trigger, poisonFrom: Long) =
      graft.core.ConfScope.withConf(s,
          graft.streaming.Streams.RocksDbConf) {
        Streams.s18Versions(s, sf, midCents = 40000L, highCents = 100000L)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            if (id >= poisonFrom) throw new RuntimeException("injected crash")
            df.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt)
          .trigger(t).start()
      }
    // phase 1: commit a strict prefix of the replay, then CRASH
    // mid-stream on batch 2 (deterministic — racing stop() against the
    // fast trigger flaked under full-suite load; the poisoned batch
    // writes nothing, so the replayed batch lands exactly once)
    val q1 = start(Trigger.ProcessingTime("100 milliseconds"), 2L)
    try { q1.awaitTermination(); fail("poison batch never fired") }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getMessage).contains("injected crash") ||
          Option(e.getCause).exists(c =>
            String.valueOf(c.getMessage).contains("injected crash")),
          s"query died of the wrong cause: $e")
    }
    // phase 2: restart from the same checkpoint (state restores to the
    // last committed batch; the in-flight batch replays), drain
    val q2 = start(Trigger.AvailableNow(), Long.MaxValue)
    q2.awaitTermination()
    // exactly-once: the restarted train equals the uninterrupted run's
    // version multiset — a double-emitted or lost closed version breaks
    val fin = s.read.parquet(out)
      .select(col("user_id"), col("band"), col("vf_us"), col("vt_us"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val ref = Streams.s18Run(s, sf, midCents = 40000L, highCents = 100000L)
      .select(col("user_id"), col("band"),
        unix_micros(col("valid_from")), unix_micros(col("valid_to")))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(fin.nonEmpty, "no versions emitted — test vacuous")
    assert(fin.toSeq == ref.toSeq,
      s"restarted version train diverged: ${fin.length} rows vs " +
      s"reference ${ref.length}")
  }

  test("S19: kill-and-restart keeps the manifest chain intact — " +
       "already-published versions are byte-identical after the " +
       "restart and the final snapshot equals the batch table") {
    import graft.streaming.Streams
    val root = Scratch.fresh("graft_s19_restart")
    val ckpt = Scratch.fresh("graft_s19r_ckpt").toString
    val mdir = root.resolve("manifests")
    def manifests: Map[String, String] =
      if (!Files.isDirectory(mdir)) Map.empty
      else {
        val ls = Files.list(mdir)
        try {
          import scala.jdk.CollectionConverters._
          ls.iterator().asScala.filter(_.toString.endsWith(".list"))
            .map(p => p.getFileName.toString -> Files.readString(p)).toMap
        } finally ls.close()
      }
    // phase 1: publish a strict prefix, then CRASH mid-stream — a
    // poison foreachBatch that throws on batch 2, DETERMINISTIC where
    // racing stop() against a fast 100 ms trigger is not (under full-
    // suite machine load the trigger can publish all 5 files before a
    // polled stop() lands, voiding the strict-prefix premise — the
    // observed flake). The failed batch never publishes, so exactly
    // {v0, v1} exist at the crash; batch 2 replays at restart.
    val q1 = Replayer.stream(s, sf, "clean").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id >= 2L) throw new RuntimeException("injected crash")
        Streams.s19PublishBatch(root)(df, id)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try { q1.awaitTermination(); fail("poison batch never fired") }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getMessage).contains("injected crash") ||
          Option(e.getCause).exists(c =>
            String.valueOf(c.getMessage).contains("injected crash")),
          s"query died of the wrong cause: $e")
    }
    val published = manifests
    assert(published.keySet == Set("v0.list", "v1.list"),
      s"crash point drifted — expected exactly {v0, v1}, got " +
      s"${published.keySet}")
    def stream() = Replayer.stream(s, sf, "clean").writeStream
      .foreachBatch(Streams.s19PublishBatch(root) _)
      .option("checkpointLocation", ckpt)
    // phase 2: restart; the in-flight batch replays (same id → same
    // dir rewrite → same manifest content), later batches extend
    val q2 = stream().trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val after = manifests
    published.foreach { case (name, content) =>
      assert(after(name).split("\n").toSet == content.split("\n").toSet,
        s"pre-restart manifest $name changed file set across the restart")
    }
    assert(after.size == Replayer.NumFiles,
      s"expected ${Replayer.NumFiles} versions, got ${after.keySet}")
    // chain: each version strictly extends the previous
    val ordered = after.toSeq
      .sortBy(_._1.stripPrefix("v").stripSuffix(".list").toLong)
      .map(_._2.split("\n").toSet)
    ordered.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b) && a.size < b.size,
        "manifest chain does not strictly extend across the restart")
    }
    // final snapshot == the batch table (nothing dropped or doubled)
    val latest = mdir.resolve(s"v${after.size - 1}.list").toString
    val snap = graft.queries.SourcesSinks.snk9ReadSnapshot(s, latest)
      .agg(count(lit(1)), sum(col("event_id"))).head()
    val exp = Tables.events(s, sf)
      .agg(count(lit(1)), sum(col("event_id"))).head()
    assert((snap.getLong(0), snap.getLong(1)) ==
           (exp.getLong(0), exp.getLong(1)),
      "restarted snapshot diverged from the batch table")
  }

  test("S21: timer-fired abandonment equals the in-memory reference, " +
       "and all three outcome classes are naturally exercised " +
       "(answered, abandoned, horizon-suppressed)") {
    val delayMs = 600000L // Replayer.WatermarkDelay
    val winUs = graft.streaming.Streams.AbandonWindowUs
    val ev = Tables.events(s, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val wmMs = ev.map(_._3).max / 1000 - delayMs
    val byUser = ev.groupBy(_._1)
    var answered, suppressed = 0
    val ref = byUser.toSeq.flatMap { case (u, rows) =>
      val purchases = rows.filter(_._4 == "purchase").map(_._3)
      rows.filter(_._4 == "view").flatMap { case (_, vid, vts, _) =>
        val ans = purchases.exists(p => p >= vts && p <= vts + winUs)
        val fired = vts / 1000 + winUs / 1000 <= wmMs
        if (ans) { answered += 1; None }
        else if (!fired) { suppressed += 1; None }
        else Some((u, vid))
      }
    }.sorted
    val out = SparkEntry.queries("s21_abandon_timer")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == ref, s"engine ${out.take(5)}... vs ref ${ref.take(5)}...")
    assert(out.nonEmpty, "no abandoned views — test vacuous")
    assert(answered > 0, "no answered view — the purchase negation is untested")
    assert(suppressed > 0,
      "no horizon-suppressed view — the watermark-tail model is untested")
  }

  test("S21: a deadline equal to the watermark fires (inclusive " +
       "boundary), the no-data batch that follows a watermark advance " +
       "fires pending timers BEFORE the next data batch arrives, and " +
       "an answering purchase from the PRIOR batch — the only place " +
       "an ordered stream can put it — suppresses the emission") {
    import graft.streaming.{AbandonProcessor, FunnelEvent, TimeoutProcessor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val winUs = 1000000L // 1 s window, 2 s watermark delay
    // scenario: 0 = no purchase (control — must emit, and the deadline
    // lands EXACTLY on the watermark, pinning the inclusive boundary);
    // 1 = purchase added after the watermark-advancing batch (an
    // out-of-order-only construction: its ts ≤ deadline < deadline +
    // delay, yet it arrives after the event that advanced the
    // watermark) — the interposed NO-DATA batch (default
    // noDataMicroBatches, run as soon as the watermark advances with
    // no input pending — the scheduling contract pinned by
    // TimerOrderProbe, r19) has already fired the timer, so it CANNOT
    // suppress; 2 = purchase in the prior batch, where an event-time-
    // ordered stream always delivers it — must suppress.
    def run(scenario: Int): Seq[(Long, Long)] = {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val ev = mem.toDF().toDF("event_id", "tsu", "user_id", "event_type")
        .withColumn("ts", expr("timestamp_micros(tsu)"))
        .withWatermark("ts", "2 seconds")
        .select(col("event_id"), col("tsu"), col("user_id"),
          col("event_type")).as[FunnelEvent]
      val out = ev.groupByKey(_.user_id)
        .transformWithState(
          new TimeoutProcessor(AbandonProcessor.timeouts(winUs)),
          TimeMode.EventTime(), OutputMode.Append())
      val name = "s21_pin_" + java.util.UUID.randomUUID().toString.take(8)
      val ckpt = Scratch.checkpoint()
      val q = graft.core.ConfScope.withConf(s,
          graft.streaming.Streams.RocksDbConf) {
        out.toDF("user_id", "view_id").writeStream
          .format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", ckpt).start()
      }
      try {
        // batch 1: view@10s (deadline 11s); in-order scenario 2 also
        // delivers the answering purchase@10.9s here
        if (scenario == 2)
          mem.addData((1L, 10000000L, 7L, "view"),
                      (2L, 10900000L, 7L, "purchase"))
        else mem.addData((1L, 10000000L, 7L, "view"))
        q.processAllAvailable()
        // batch 2: filler@13s → the post-batch watermark = 13−2 =
        // 11s, EXACTLY the deadline; the engine then interposes a
        // NO-DATA batch (wm = 11s) that fires the timer before any
        // later data batch
        mem.addData((3L, 13000000L, 8L, "click"))
        q.processAllAvailable()
        // next data batch (wm = 11s): scenario 1 slips the answering
        // purchase@11.0s (== wm, not late-filtered) into it — too late
        // to suppress, the no-data batch has already fired
        if (scenario == 1) mem.addData((4L, 11000000L, 7L, "purchase"))
        else mem.addData((4L, 14000000L, 8L, "click"))
        q.processAllAvailable()
        s.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      } finally { q.stop(); Scratch.delete(ckpt) }
    }
    assert(run(0) == Seq((7L, 1L)),
      "control: deadline at exactly the watermark must fire (inclusive)")
    assert(run(1) == Seq((7L, 1L)),
      "no-data-batch firing violated: a purchase added after the " +
      "watermark-advancing batch suppressed a timer the interposed " +
      "no-data batch should already have fired")
    assert(run(2).isEmpty,
      "an in-order answering purchase (prior batch) failed to suppress")
  }

  test("S21: registered timers SURVIVE a kill-and-restart — deadlines " +
       "pending at the crash still fire after recovery and the " +
       "emission multiset matches the uninterrupted run") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s21_ckpt").toString
    val out = Scratch.fresh("graft_s21_out").toString
    def start(t: Trigger, poisonFrom: Long) =
      graft.core.ConfScope.withConf(s,
          graft.streaming.Streams.RocksDbConf) {
        Streams.s21Abandoned(s, sf)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            if (id >= poisonFrom) throw new RuntimeException("injected crash")
            df.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt)
          .trigger(t).start()
      }
    // phase 1: absorb a strict prefix of the replay — views register
    // timers whose deadlines lie beyond the kill point — then CRASH
    // mid-stream on batch 2 (deterministic, not a stop() race; the
    // poisoned batch writes nothing, so the replay lands exactly once)
    val q1 = start(Trigger.ProcessingTime("100 milliseconds"), 2L)
    try { q1.awaitTermination(); fail("poison batch never fired") }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getMessage).contains("injected crash") ||
          Option(e.getCause).exists(c =>
            String.valueOf(c.getMessage).contains("injected crash")),
          s"query died of the wrong cause: $e")
    }
    // phase 2: recover — pending timers must be restored with the
    // state and fire as the watermark advances through the rest of
    // the replay (and its trailing watermark-advance batch)
    val q2 = start(Trigger.AvailableNow(), Long.MaxValue)
    q2.awaitTermination()
    val fin = s.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val ref = SparkEntry.queries("s21_abandon_timer")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fin.nonEmpty, "no abandonments emitted — test vacuous")
    assert(fin == ref,
      s"restarted run diverged: ${fin.length} rows vs reference " +
      s"${ref.length} — pending timers were lost or double-fired")
  }

  test("S21c: the partial-match fold counts in-window clicks, ignores " +
       "out-of-window ones, and drops answered views — and the engine's " +
       "(user, view) projection equals S21's output exactly") {
    import graft.streaming.{FunnelEvent, PartialTimeoutProcessor, Streams}
    val W = 2L * 3600L * 1000000L // 2 h in µs
    def e(id: Long, tsu: Long, typ: String) = FunnelEvent(id, tsu, 7L, typ)
    // view v1 at t=0 with in-window clicks at +10m/+20m; view v2 at +1h
    // answered by a purchase at +2h30m (inside v2's [1h, 3h] window,
    // outside v1's [0, 2h] — v1 stays open); a click at +3h falls
    // outside v1's window and must not count
    val min = 60L * 1000000L
    val (pending, deadlines) = PartialTimeoutProcessor.applyOrdered(
      W, Nil, Seq(
        e(1, 0, "view"),
        e(2, 10 * min, "click"),
        e(3, 20 * min, "click"),
        e(4, 60 * min, "view"),
        e(5, 150 * min, "purchase"), // answers v2 only (v1 window ends 120m)
        e(6, 180 * min, "click")     // outside v1's window — not counted
      ))
    assert(deadlines == Seq(0L / 1000 + W / 1000, 60 * min / 1000 + W / 1000))
    assert(pending == List((0L, 1L, 2L, 3L)),
      s"expected v1 open with 2 clicks (max id 3), v2 answered; got $pending")
    // engine vs S21: same timers, same horizon — the projection must be
    // row-identical; the payload face is gated by the s21c oracle hash
    val partials = Streams.queries("s21c_partial_timeout")(s, sf).collect()
    val proj = partials.map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s21 = Streams.queries("s21_abandon_timer")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(proj == s21,
      "s21c's (user, view) projection diverged from s21's output")
    // and the payload is non-vacuous at this sf: some partial carries
    // at least one click (−1 sentinel otherwise)
    assert(partials.exists(_.getLong(2) > 0),
      "no timed-out partial carries a click — payload face vacuous")
  }

  test("S4b: the temporal join's bands agree with an as-of join " +
       "against S18's OWN version stream, a version-straddling event " +
       "and a pre-first-version event both exist and carry the right " +
       "band, and a transition purchase joins the band it opens") {
    val out = SparkEntry.queries("s4b_temporal_join")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.nonEmpty)
    val bandOf = out.map(r => (r._1, r._2) -> r._3).toMap
    val ev = Tables.events(s, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // S18's closed versions ARE the dimension this join consumes: every
    // event inside a closed version [from, to) must carry ITS band —
    // the J8 as-of machinery as the oracle, driven by s18Run's output
    val versions = graft.streaming.Streams
      .s18Run(s, sf, midCents = 40000L, highCents = 100000L)
      .select(col("user_id"), col("band"),
        unix_micros(col("valid_from")).as("vf"),
        unix_micros(col("valid_to")).as("vt"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(versions.nonEmpty, "no closed versions — test vacuous")
    val vByUser = versions.groupBy(_._1)
    var straddlers = 0
    ev.foreach { case (u, id, t, _) =>
      vByUser.getOrElse(u, Array.empty).foreach { case (_, band, vf, vt) =>
        if (t >= vf && t < vt) {
          straddlers += 1
          assert(bandOf((u, id)) == band,
            s"event $id of user $u at $t inside [$vf,$vt) carries " +
            s"${bandOf((u, id))}, version says $band")
        }
      }
    }
    assert(straddlers > 0, "no event falls inside any closed version — " +
      "the straddling case is vacuous")
    // pre-first-version: band 'none' iff the event precedes the user's
    // first purchase, and such events exist
    val firstPurchase = ev.filter(_._4 == "purchase").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val nones = out.filter(_._3 == "none")
    assert(nones.nonEmpty, "no pre-first-version events — vacuous")
    val evTs = ev.map(e => (e._1, e._2) -> e._3).toMap
    nones.foreach { case (u, id, _) =>
      assert(firstPurchase.get(u).forall(evTs((u, id)) < _),
        s"event $id of user $u got 'none' after its first purchase")
    }
    out.filter(_._3 != "none").foreach { case (u, id, _) =>
      assert(firstPurchase(u) <= evTs((u, id)),
        s"event $id of user $u got a band before any purchase")
    }
    // inclusive-start convention: the purchase that OPENS each closed
    // version (at ts == valid_from) joins that version's band
    val purchaseAt = ev.filter(_._4 == "purchase")
      .map(e => (e._1, e._3) -> e._2).toMap
    var openers = 0
    versions.foreach { case (u, band, vf, _) =>
      purchaseAt.get((u, vf)).foreach { pid =>
        openers += 1
        assert(bandOf((u, pid)) == band,
          s"opening purchase $pid of user $u joins ${bandOf((u, pid))}," +
          s" not the band it opens ($band)")
      }
    }
    assert(openers > 0, "no opening purchase found — inclusive-start vacuous")
  }

  test("S20: streaming skip-till-next-match completions equal the W9b " +
       "batch fold per user (the whole-corpus equivalence pin)") {
    val out = SparkEntry.queries("s20_stream_pattern")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty, "no natural completions — test vacuous")
    val streamCounts = out.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val batchCounts = graft.queries.Windows.w9bCounts(
        Tables.events(s, sf), "vcp", graft.queries.Windows.SkipWindowUs,
        graft.queries.Windows.MaxEventsPerKey)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .filter(_._2 > 0L).toMap
    assert(streamCounts == batchCounts,
      s"stream $streamCounts vs batch fold $batchCounts")
  }

  test("S20: a repeated-letter pattern emits exactly the batch fold's " +
       "completions, and state stays ONE row under a hyperactive key") {
    // synthetic keyed sequence exercising the simultaneous-slot-update
    // subtlety (pattern 'vcv': the completing letter also feeds slot 0
    // for future matches) plus a 1 s horizon that both admits and
    // rejects completions; one hyperactive key carries every event, so
    // a per-event or per-history state design would show >1 state row
    // or growth across batches
    import graft.streaming.{FunnelEvent, InOrderProcessor,
      SkipMatchProcessor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val winUs = 1000000L // 1 s
    val types = Seq("view", "click", "view", "view", "click", "purchase",
      "view", "click", "view", "click", "view")
    // event i at t = 400ms·i: some vcv chains fit in 1 s, some don't
    val evs = types.zipWithIndex.map { case (t, i) =>
      FunnelEvent(i.toLong, 400000L * i, 7L, t)
    }
    val expected = graft.queries.Windows.w9bCounts(
        evs.toDF().withColumn("ts", expr("timestamp_micros(tsu)")),
        "vcv", winUs, 1 << 20)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(expected(7L) > 0, "synthetic sequence has no completions — vacuous")
    val mem = MemoryStream[FunnelEvent]
    val completions = mem.toDS().groupByKey(_.user_id)
      .transformWithState(
        new InOrderProcessor(SkipMatchProcessor.fold("vcv", winUs)),
        TimeMode.None(), OutputMode.Append())
    val name = "s20_pin_" + java.util.UUID.randomUUID().toString.take(8)
    val ckpt = Scratch.checkpoint()
    val q = graft.core.ConfScope.withConf(s,
        graft.streaming.Streams.RocksDbConf) {
      completions.toDF("user_id", "completion_id").writeStream
        .format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt).start()
    }
    try {
      // 4 micro-batches: DP state must carry across batch boundaries
      evs.grouped(3).foreach { chunk =>
        mem.addData(chunk: _*); q.processAllAvailable()
      }
    } finally { q.stop(); Scratch.delete(ckpt) }
    val emitted = s.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // fold-equivalent count, completing events identified exactly: the
    // fold counts completions at 'v' events whose (v,c) prefix start
    // clears t − 1 s — recompute per event from the same DP by hand
    assert(emitted.map(_._1).forall(_ == 7L))
    assert(emitted.length.toLong == expected(7L),
      s"stream emitted ${emitted.length} vs batch fold ${expected(7L)}")
    // bounded state: ONE key → exactly one state row at every batch,
    // regardless of how many events it has absorbed
    val stateRows = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    assert(stateRows.nonEmpty && stateRows.max == 1L,
      s"state rows per batch = ${stateRows.toSeq} — expected constant 1")
  }

  test("S20c: strict contiguity — an intervening event breaks the match " +
       "skip-till-next-match allows (the Flink next-vs-followedBy axis), " +
       "the window rejects, the fold is batch-chunking-invariant, and " +
       "the canonical funnel-replay run is non-vacuous") {
    import graft.streaming.{FunnelEvent, SkipMatchProcessor,
      StrictMatchProcessor, StrictState}
    val winUs = 3600L * 1000000L
    val min = 60L * 1000000L
    def ev(i: Int, t: String) = FunnelEvent(i.toLong, min * i, 7L, t)
    val empty = StrictState("x", -1L, "x", -1L)
    // the axis pin: v, x(intervening click-bait 'other'), c, p
    val broken = Seq(ev(0, "view"), ev(1, "other"), ev(2, "click"),
      ev(3, "purchase"))
    assert(StrictMatchProcessor.stepAll(winUs, empty, 7L, broken)._2.isEmpty,
      "strict matched through an intervening event")
    val m = Array.fill(2)(-1L)
    assert(SkipMatchProcessor.stepAll("vcp", winUs, m, 7L, broken)
      .nonEmpty, "skip-till-next-match should match across the gap")
    // consecutive triple matches; a repeated middle letter does not
    // (l2 must be the view itself — Flink next() semantics)
    val clean3 = Seq(ev(0, "view"), ev(1, "click"), ev(2, "purchase"))
    assert(StrictMatchProcessor.stepAll(winUs, empty, 7L, clean3)._2 ==
      Seq((7L, 2L)))
    val doubled = Seq(ev(0, "view"), ev(1, "click"), ev(2, "click"),
      ev(3, "purchase"))
    assert(StrictMatchProcessor.stepAll(winUs, empty, 7L, doubled)._2.isEmpty,
      "strict matched with a repeated middle letter")
    // window: v at t=0, c/p beyond 1 h from the view
    val slow = Seq(FunnelEvent(0L, 0L, 7L, "view"),
      FunnelEvent(1L, winUs - min, 7L, "click"),
      FunnelEvent(2L, winUs + min, 7L, "purchase"))
    assert(StrictMatchProcessor.stepAll(winUs, empty, 7L, slow)._2.isEmpty,
      "strict matched outside the window")
    // chunking invariance: folding event-by-event threading state must
    // equal the single-batch fold (the cross-micro-batch contract)
    val all = broken ++ clean3.map(e => e.copy(event_id = e.event_id + 10,
      tsu = e.tsu + min * 10))
    val oneShot = StrictMatchProcessor.stepAll(winUs, empty, 7L, all)
    val threaded = all.foldLeft((empty, Seq.empty[(Long, Long)])) {
      case ((st0, acc), e) =>
        val (st1, out) = StrictMatchProcessor.stepAll(winUs, st0, 7L, Seq(e))
        (st1, acc ++ out)
    }
    assert(threaded == oneShot, "fold is not chunking-invariant")
    // the canonical run finds the injected chains (4 at sf0.001)
    val canonical = SparkEntry.queries("s20c_strict_pattern")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(canonical.nonEmpty, "funnel replay produced no strict matches")
    assert(canonical.forall(_._1 >= Replayer.FunnelUserBase),
      "a natural user matched strictly — the vacuity premise changed; " +
      "re-check the oracle-side non-vacuity note")
  }

  test("OOO sextet: the reorder buffer makes S20b/S4c/S21b/S18b/S22b/" +
       "S8d replay-order-invariant (disordered ooo replay ≡ ordered " +
       "clean replay), the " +
       "fixture genuinely disorders, nothing is late-dropped, and the " +
       "buffer stays within the batch + delay-window bound") {
    import graft.streaming.{ReorderingProcessor, Streams}
    // the ooo fixture displaces rows across files but keeps the event
    // set identical — disorder, not loss
    def fileOf(dir: String): Map[Long, String] =
      s.read.parquet(dir)
        .select(col("event_id"), input_file_name().as("f"))
        .collect()
        .map(r => r.getLong(0) -> r.getString(1).split("/").last).toMap
    val fc = fileOf(Replayer.ensure(s, sf, "clean"))
    val fo = fileOf(Replayer.ensure(s, sf, "ooo"))
    assert(fc.keySet == fo.keySet, "ooo fixture changed the event set")
    val displaced = fc.keys.count(k => fc(k) != fo(k))
    assert(displaced > 0, "ooo fixture displaced nothing — test vacuous")
    ReorderingProcessor.resetGauges()
    val sextet = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      ("s20b", v => Streams.s20bRun(s, sf, v)),
      ("s4c", v => Streams.s4cRun(s, sf, v)),
      ("s21b", v => Streams.s21bRun(s, sf, v)),
      ("s18b", v => Streams.s18bRun(s, sf, v)),
      ("s22b", v => Streams.s22bRun(s, sf, v)),
      ("s8d", v => Streams.s8dRun(s, sf, v)))
    sextet.foreach { case (name, run) =>
      val ooo = run("ooo").collect().map(_.toSeq).toSeq
      val clean = run("clean").collect().map(_.toSeq).toSeq
      assert(ooo.nonEmpty, s"$name emitted nothing — vacuous")
      assert(ooo == clean,
        s"$name: disordered replay diverged from the ordered replay")
    }
    assert(ReorderingProcessor.lateDropped.get() == 0L,
      "a row arrived below the operative watermark — the fixture's " +
      "23 h displacement bound or the safety argument broke")
    val hw = ReorderingProcessor.maxBuffered.get()
    assert(hw > 0L, "the buffer never held a row — reordering vacuous")
    // bound: one batch's per-key rows (wm lags a batch, so an arriving
    // file buffers whole) + the prior span's trailing 24 h window
    val ev = Tables.events(s, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = ev.length.toLong
    val per = (n + Replayer.NumFiles - 1) / Replayer.NumFiles
    val oooFileIdx = fo.map { case (id, f) => id -> f } // batchNN.parquet
    val m1 = ev.groupBy(e => (e._1, oooFileIdx(e._3)))
      .values.map(_.length).max
    val dUs = Replayer.OooDelayMs * 1000L
    val m2 = ev.groupBy(_._1).values.map { es =>
      val ts = es.map(_._2).sorted
      ts.map(t => ts.count(u => u > t - dUs && u <= t)).max
    }.max
    assert(hw <= (m1 + m2).toLong,
      s"buffer high-water $hw exceeds the batch+delay bound ${m1 + m2}")
  }

  test("S5 family ooo invariance: Spark's symmetric-hash interval join " +
       "needs no reorder buffer — with a watermark delay covering the " +
       "disorder, the ooo replay's full-outer join equals clean's " +
       "row-for-row, outer rows included") {
    // The reorder-buffer sextet hardened the CUSTOM stateful folds;
    // the s5 interval-join family rides Spark's own stream-stream join
    // state, which handles bounded disorder BY DESIGN (rows buffer in
    // join state until the watermark proves no partner can arrive).
    // This pin closes the ooo-invariance story for the whole S-series:
    // run the s5c full-outer shape (it subsumes inner/left — matched
    // rows and both outer sides) at the 24 h OooDelay on both replays
    // and require identical multisets. Final results agree because the
    // two variants share the data, the global max (hence the final
    // eviction horizon), and disorder (23 h) < delay (24 h) keeps every
    // joinable partner in state at arrival.
    def run(variant: String): Seq[(Option[Long], Option[Long])] = {
      val src = Replayer.stream(s, sf, variant)
      val p = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
                col("user_id").as("p_user"))
        .withWatermark("p_ts", Replayer.OooDelay)
      val c = src.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
                col("user_id").as("c_user"))
        .withWatermark("c_ts", Replayer.OooDelay)
      val j = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"), "fullOuter")
      val name = "s5ooo_" + variant
      val ckpt = Scratch.fresh("graft_s5ooo").toString
      val q = j.select(col("p_id"), col("c_id")).writeStream
        .format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
         if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq.sorted
    }
    val clean = run("clean")
    assert(clean.exists(t => t._1.nonEmpty && t._2.nonEmpty) &&
           clean.exists(_._2.isEmpty) && clean.exists(_._1.isEmpty),
      "clean full-outer run lacks matched or outer rows — pin vacuous")
    val ooo = run("ooo")
    assert(ooo == clean,
      "the interval join diverged between the ooo and clean replays — " +
      "Spark's join-state disorder handling or the fixture bound broke")
  }

  test("S24: the ooolate replay fires the late-drop branch — the side " +
       "output equals the closed-form drop set, the gauge matches, the " +
       "main fold equals the funnel over clean-minus-drops, and the " +
       "channel is inert on plain ooo") {
    import graft.streaming.{FunnelEvent, FunnelProcessor, FunnelState,
      ReorderingProcessor, Streams}
    val evs = Tables.events(s, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"))
      .collect()
      .map(r => FunnelEvent(r.getLong(0), r.getLong(2), r.getLong(1),
        r.getString(3)))
    // replay the ooolate displacement + watermark trajectory in closed
    // form (the s24 oracle's g24/m24/w24 chain, driver-side)
    val n = evs.length.toLong
    val bsz = (n + Replayer.NumFiles - 1) / Replayer.NumFiles
    def b0(id: Long): Int =
      math.min(id / bsz, (Replayer.NumFiles - 1).toLong).toInt
    val fmax = evs.groupBy(e => b0(e.event_id))
      .view.mapValues(_.map(_.tsu).max).toMap
    val h23 = 23L * 3600 * 1000000L
    val h24 = 24L * 3600 * 1000000L
    def assigned(e: FunnelEvent): Int = {
      val b = b0(e.event_id)
      val move = (e.event_id % 2 == 0 && e.tsu > fmax(b) - h23) ||
        (e.event_id % 23 == 5 && e.tsu <= fmax(b) - h24)
      math.min(b + (if (move) 1 else 0), Replayer.NumFiles - 1)
    }
    val byB = evs.groupBy(assigned)
    val mb = (0 until Replayer.NumFiles).map(b =>
      (0 to b).flatMap(byB.get).flatten.map(_.tsu).max)
    def wm(b: Int): Long =
      if (b == 0) Long.MinValue else mb(b - 1) / 1000 - 86400000L
    val late = evs.filter(e => e.tsu / 1000 < wm(assigned(e)))
      .map(e => (e.user_id, e.event_id)).toSet
    assert(late.nonEmpty,
      "fixture produced no beyond-delay rows — the drop branch is " +
      "untested (vacuous)")
    val surviving = evs.filterNot(e => late((e.user_id, e.event_id)))
    val finalWm = evs.map(_.tsu).max / 1000 - 86400000L
    val expectedConv = surviving.groupBy(_.user_id).toSeq.flatMap {
      case (u, es) =>
        val sorted = es.sortBy(e => (e.tsu, e.event_id)).toSeq
        val (_, out) =
          FunnelProcessor.applyOrdered(h24, FunnelState(Nil, Nil), u, sorted)
        val released =
          es.filter(e => e.tsu / 1000 < finalWm).map(_.event_id).toSet
        out.filter { case (_, pid) => released(pid) }
    }.toSet
    ReorderingProcessor.resetGauges()
    val rows = Streams.s24Run(s, sf, "ooolate").collect()
    val gotLate = rows.filter(_.getString(2) == "late")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotConv = rows.filter(_.getString(2) == "conv")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotLate.size + gotConv.size == rows.length,
      "duplicate or unknown-tag rows in the s24 output")
    assert(gotLate == late,
      s"late side output diverged from the closed-form drop set: " +
      s"engine ${gotLate.size} rows, model ${late.size}")
    assert(ReorderingProcessor.lateDropped.get() == late.size.toLong,
      "lateDropped gauge disagrees with the emitted late channel")
    assert(gotConv == expectedConv,
      "main fold diverged from the funnel over clean-minus-drops")
    // plain ooo (disorder bounded under the delay): the side output is
    // inert and the conversions equal s8d's — the tag adds a channel,
    // never perturbs the fold
    val oooRows = Streams.s24Run(s, sf, "ooo").collect()
    assert(!oooRows.exists(_.getString(2) == "late"),
      "late rows emitted on the bounded-disorder ooo replay")
    val convCounts = oooRows.filter(_.getString(2) == "conv")
      .groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    val s8d = Streams.s8dRun(s, sf, "ooo").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(convCounts == s8d,
      "s24's conv channel diverged from s8d on the same replay")
  }

  test("S24b: the late side output is FOLD-INDEPENDENT — the CDC " +
       "host's late channel equals the funnel host's on the same " +
       "replay, and it is inert on plain ooo") {
    import graft.streaming.Streams
    // the drop set is a property of (fixture, watermark), not of the
    // wrapped fold: both hosts must tag exactly the same rows late
    val cdcRows = Streams.s24bRun(s, sf, "ooolate").collect()
    val cdcLate = cdcRows.filter(_.getString(3) == "late")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val funLate = Streams.s24Run(s, sf, "ooolate").collect()
      .filter(_.getString(2) == "late")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cdcLate.nonEmpty, "CDC host dropped nothing — vacuous")
    assert(cdcLate == funLate,
      "the two hosts' late channels diverged — the drop set leaked " +
      "fold-specific behavior")
    val ooo = Streams.s24bRun(s, sf, "ooo").collect()
    assert(!ooo.exists(_.getString(3) == "late"),
      "late rows emitted on the bounded-disorder ooo replay")
  }

  test("S29: genuine post-fire re-fires exist (update batches strictly " +
       "after the pane's fire batch), the late channel equals the " +
       "model's beyond-allowance set, every update refines exactly its " +
       "window's final count, and the machinery is inert on clean") {
    import graft.streaming.Streams
    // driver-side replica of the refire fixture's displacement +
    // watermark chain (the s29 oracle's md29/g29/m29/w29 model)
    val evs = Tables.events(s, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val hourUs = 3600L * 1000000L
    val dayUs = 24L * hourUs
    val allowMs = Streams.S29AllowMs
    val outerMs = 72L * 3600 * 1000
    val maxTsu = evs.map(_._2).max
    val md = maxTsu - maxTsu % dayUs // floor-day anchor (UTC, µs)
    def assigned(e: (Long, Long, String)): Int = {
      val (id, tsu, _) = e
      if (id % 3 == 1 && tsu > md - 4 * dayUs - 25 * hourUs &&
          tsu < md - 4 * dayUs) 3
      else if (id % 3 == 1 && tsu > md - 3 * dayUs - 25 * hourUs &&
          tsu < md - 3 * dayUs) 4
      else if (id % 5 == 2 && tsu <= md - 4 * dayUs - 80 * hourUs) 1
      else if (tsu < md - 4 * dayUs) 0
      else if (tsu < md - 3 * dayUs) 1
      else if (tsu < md - 2 * dayUs) 2
      else if (tsu < md - 1 * dayUs) 3
      else 4
    }
    val byB = evs.groupBy(assigned)
    val mb = (0 until Replayer.NumFiles).map(b =>
      (0 to b).flatMap(byB.get).flatten.map(_._2).max)
    def wmo(b: Int): Long = // outer operative watermark, ms
      if (b == 0) Long.MinValue else mb(b - 1) / 1000 - outerMs
    val fwOuter = maxTsu / 1000 - outerMs
    def endOf(tsu: Long): Long = (tsu - tsu % hourUs) / 1000 + 3600000L
    // per-row class at arrival: late / upd (in-allowance) / acc
    sealed trait Cls; case object Acc extends Cls
    case object Upd extends Cls; case object LateC extends Cls
    def clsOf(e: (Long, Long, String)): Cls = {
      val w = wmo(assigned(e)); val end = endOf(e._2)
      if (w >= end) LateC else if (w >= end - allowMs) Upd else Acc
    }
    val modelLate = evs.filter(e => clsOf(e) == LateC).map(_._1).toSet
    // per-key fire batch and update-emission batches
    def keyOf(e: (Long, Long, String)) = (e._2 - e._2 % hourUs, e._3)
    val byKey = evs.groupBy(keyOf)
    val fireBatch: Map[(Long, String), Option[Int]] = byKey.map {
      case (k, _) =>
        val end = endOf(k._1 + 1) // any tsu in the window works
        val fb = (1 until Replayer.NumFiles)
          .find(b => wmo(b) >= end - allowMs)
          .orElse(if (fwOuter >= end - allowMs) Some(5) else None)
        k -> fb
    }
    val modelUpdates: Map[(Long, String), Seq[Int]] = byKey.flatMap {
      case (k, es) =>
        val accN = es.count(e => clsOf(e) == Acc)
        val updBatches = es.filter(e => clsOf(e) == Upd)
          .map(assigned).distinct.sorted
        val emitting =
          if (accN > 0) updBatches.filter(b => fireBatch(k).exists(b > _))
          else updBatches.drop(1) // first upd batch is the pane's ontime
        if (emitting.nonEmpty) Some(k -> emitting.toSeq) else None
    }.toMap
    assert(modelLate.nonEmpty, "no beyond-allowance rows — late vacuous")
    assert(modelUpdates.nonEmpty, "no predicted re-fires — vacuous")
    // every modeled update batch is strictly after the pane's fire
    // batch — the GENUINE re-fire (same-batch arrivals fold into the
    // on-time pane under the input-before-timers contract)
    modelUpdates.foreach { case (k, bs) =>
      val fb = fireBatch(k)
      assert(fb.isDefined && bs.forall(_ > fb.get),
        s"model self-check: update batches $bs not after fire $fb for $k")
    }
    val rows = Streams.s29Run(s, sf, "refire").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val gotLate = rows.filter(_._3 == "late").map(_._4).toSet
    assert(gotLate == modelLate,
      s"late channel != model beyond-allowance set " +
      s"(got ${gotLate.size}, want ${modelLate.size})")
    val gotUpdates = rows.filter(_._3 == "update")
      .groupBy(r => (r._1.getTime * 1000L, r._2))
      .view.mapValues(_.length).toMap
    assert(gotUpdates == modelUpdates.map { case (k, bs) => k -> bs.size },
      s"update emissions diverged from the model " +
      s"(got ${gotUpdates.size} keys, want ${modelUpdates.size})")
    // refinement pin: per updated key the pane sequence strictly
    // increases from ontime through updates, and the FINAL value equals
    // every non-late row of the window — each re-fire refined exactly
    // its own window, nothing leaked across windows
    gotUpdates.keys.foreach { case k @ (winUs, typ) =>
      val seq = rows.filter(r =>
          r._1.getTime * 1000L == winUs && r._2 == typ &&
          (r._3 == "ontime" || r._3 == "update"))
        .map(_._5).sorted
      assert(seq.distinct.size == seq.size && seq.size >= 2,
        s"pane sequence for $k not strictly increasing: $seq")
      val expected = byKey((winUs, typ))
        .count(e => !modelLate(e._1)).toLong
      assert(seq.last == expected,
        s"window $k: final pane ${seq.last} != non-late rows $expected")
    }
    // inertness on the clean replay (same runner, id-split files): no
    // row arrives late, so no update, no late; ontime panes equal the
    // hourly counts for windows under the final-semantic-watermark
    // horizon end ≤ floor-ms(max) − 24 h (outer + allowance)
    val cleanRows = Streams.s29Run(s, sf, "clean").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(!cleanRows.exists(r => r._3 == "update" || r._3 == "late"),
      "allowance machinery fired on the clean replay")
    val expectedOntime = evs.groupBy(keyOf)
      .collect { case ((winUs, typ), es)
          if winUs / 1000 + 3600000L - allowMs <= fwOuter =>
        ((winUs, typ), es.length.toLong) }
      .toMap
    val gotOntime = cleanRows.filter(_._3 == "ontime")
      .map(r => ((r._1.getTime * 1000L, r._2), r._5)).toMap
    assert(gotOntime == expectedOntime,
      s"clean ontime panes diverged from hourly counts " +
      s"(got ${gotOntime.size}, want ${expectedOntime.size})")
  }

  test("S31: the rescale recipe — a TWS checkpoint PINS its shuffle " +
       "partitions on resume (the offsets-log conf wins over the " +
       "session's), and export→rebuild via the state source + the " +
       "initial-state overload migrates to a DIFFERENT parallelism " +
       "with the emission multiset preserved") {
    import graft.streaming.{FunnelEvent, FunnelProcessor,
      InOrderProcessor, FunnelState, Replayer, Streams}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import s.implicits._
    val winUs = 3600L * 1000000L
    val fullDir = Replayer.ensure(s, sf, "funnel")
    // stage the tail files (3, 4) into their own source dir for the
    // migrated query — a FRESH checkpoint must not re-read the head
    val dirB = Scratch.fresh("graft_s31_tail")
    Seq(3, 4).foreach { i =>
      val name = f"batch$i%02d.parquet"
      val srcP = Paths.get(fullDir, name)
      val dst = dirB.resolve(name)
      Files.copy(srcP, dst)
      Files.setLastModifiedTime(dst, Files.getLastModifiedTime(srcP))
    }
    val schema = s.read.parquet(fullDir).schema
    def src(dir: String) =
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .select(col("event_id"), unix_micros(col("ts")).as("tsu"),
          col("user_id"), col("event_type"))
        .as[FunnelEvent]
    def fold(ev: org.apache.spark.sql.Dataset[FunnelEvent]) =
      ev.groupByKey(_.user_id)
        .transformWithState(new InOrderProcessor(FunnelProcessor.fold(winUs)),
          TimeMode.None(), OutputMode.Append())
        .toDF("user_id", "purchase_id")
    def collectRun(out: org.apache.spark.sql.DataFrame, ckpt: String,
                   parts: String, poisonFrom: Long): Seq[(Long, Long)] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val q = graft.core.ConfScope.withConf(s,
          Map("spark.sql.shuffle.partitions" -> parts) ++
          Streams.RocksDbConf) {
        out.writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            if (id >= poisonFrom) throw new RuntimeException("injected crash")
            b.collect().foreach(r => buf.add((r.getLong(0), r.getLong(1))))
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      }
      try q.awaitTermination()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          assert(String.valueOf(e.getMessage).contains("injected crash") ||
            Option(e.getCause).exists(c =>
              String.valueOf(c.getMessage).contains("injected crash")),
            s"query died of the wrong cause: $e")
      }
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }
    // phase 1 at parallelism 2: head files 0-2, then a poison crash
    val ckpt1 = Scratch.fresh("graft_s31_ck1").toString
    val e1 = collectRun(fold(src(fullDir)), ckpt1, "2", 3L)
    assert(e1.nonEmpty, "phase 1 produced no conversions — vacuous")
    // EXPORT: the s31 state source read at the last committed batch
    val exported = s.read.format("statestore")
      .option("stateVarName", "funnel").option("batchId", 2)
      .load(ckpt1)
      .select(col("key.value").as("user_id"),
        col("value.views").as("views"), col("value.pairs").as("pairs"))
      .as[(Long, Seq[Long], Seq[(Long, Long)])].collect()
    assert(exported.nonEmpty, "no state exported at the crash point")
    // REBUILD at parallelism 4: fresh checkpoint over the tail files,
    // state seeded through the initial-state overload
    val initDs = s.createDataset(exported.toIndexedSeq
        .map { case (u, v, p) => (u, FunnelState(v, p)) })
      .groupByKey(_._1).mapValues(_._2)
    val migrated = src(dirB.toString).groupByKey(_.user_id)
      .transformWithState(new InOrderProcessor(FunnelProcessor.fold(winUs)),
        TimeMode.None(), OutputMode.Append(), initDs)
      .toDF("user_id", "purchase_id")
    val ckpt2 = Scratch.fresh("graft_s31_ck2").toString
    val e2 = collectRun(migrated, ckpt2, "4", 99L)
    // the migrated halves must equal an uninterrupted run exactly
    val ckptR = Scratch.fresh("graft_s31_ckr").toString
    val ref = collectRun(fold(src(fullDir)), ckptR, "2", 99L)
    assert((e1 ++ e2).sorted == ref.sorted,
      s"migration changed the result: ${(e1 ++ e2).size} vs ${ref.size}")
    assert(e2.nonEmpty,
      "no post-migration conversions — the rebuilt state is untested " +
      "(chains must straddle the crash point)")
    // RESUME PIN: restarting ckpt1 under session parallelism 4 silently
    // keeps the checkpoint's 2 — the offsets log is authoritative, so
    // the dial CANNOT be turned in place (what makes export→rebuild
    // the migration path, not a workaround)
    val e3 = collectRun(fold(src(fullDir)), ckpt1, "4", 99L)
    assert((e1 ++ e3).sorted == ref.sorted,
      "resume after crash diverged from the uninterrupted run")
    val off3 = new String(Files.readAllBytes(
      Paths.get(ckpt1, "offsets", "3")))
    assert(off3.contains("\"spark.sql.shuffle.partitions\":\"2\""),
      s"resumed batch 3 did not pin the checkpoint's partitions: $off3")
  }

  test("S32: the window join executes THREE stateful operators in one " +
       "streaming query (two windowed aggs + a symmetric-hash join " +
       "over their outputs), all non-vacuous") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s32_pin").toString
    val q = Streams.s32Plan(s, sf).writeStream.format("memory")
      .queryName("s32_pin").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one progress entry carries ALL of the query's state operators —
    // count the multiset (two aggs share an operatorName)
    val perBatch = q.recentProgress.map(_.stateOperators.toSeq
      .map(_.operatorName).sorted).filter(_.nonEmpty)
    assert(perBatch.nonEmpty, "no stateful progress recorded")
    assert(perBatch.head ==
      Seq("stateStoreSave", "stateStoreSave", "symmetricHashJoin"),
      s"expected 2 agg stores + 1 join store in ONE query, " +
      s"got ${perBatch.head}")
    assert(s.table("s32_pin").count() > 0, "window join emitted nothing")
    // the join store saw real rows (both sides non-vacuous)
    val joinRows = q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName == "symmetricHashJoin")
      .map(_.numRowsUpdated).sum
    assert(joinRows > 0, "join state was never exercised")
  }

  test("S32b/S32c: the outer window join's matched rows ≡ the inner " +
       "join, inner ∪ anti ≡ outer (the partition identity), and the " +
       "anti face is non-vacuous") {
    val outer = SparkEntry.queries("s32b_window_join_outer")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val inner = SparkEntry.queries("s32_window_join")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        Some(r.getLong(3))))
    val anti = SparkEntry.queries("s32c_window_join_anti")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(anti.nonEmpty, "anti face vacuous — every window purchased")
    assert(outer.filter(_._4.isDefined).toSeq == inner.toSeq,
      "outer's matched rows diverge from the inner join")
    assert(outer.filter(_._4.isEmpty).map(r => (r._1, r._2, r._3)).toSeq ==
      anti.toSeq, "outer's null-extended rows diverge from the anti face")
    assert(outer.length == inner.length + anti.length,
      "inner ∪ anti ≠ outer")
  }

  test("S32d/S32e: the window-join face set is algebraically closed — " +
       "semi ∪ anti partitions the view side, full restricted to " +
       "view-present rows ≡ left outer, and the right-only face " +
       "(purchases in unviewed buckets) is non-vacuous") {
    val semi = SparkEntry.queries("s32d_window_join_semi")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    val anti = SparkEntry.queries("s32c_window_join_anti")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    val outer = SparkEntry.queries("s32b_window_join_outer")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val full = SparkEntry.queries("s32e_window_join_full")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    // semi ∪ anti ≡ the view side (disjoint, exhaustive)
    assert((semi.map(r => (r._1, r._2)).toSet intersect
      anti.map(r => (r._1, r._2)).toSet).isEmpty, "semi ∩ anti ≠ ∅")
    assert((semi ++ anti).sortBy(r => (r._1.getTime, r._2)).toSeq ==
      outer.map(r => (r._1, r._2, r._3)).sortBy(r => (r._1.getTime, r._2))
        .toSeq, "semi ∪ anti ≠ the outer join's view side")
    // full's view-present restriction ≡ left outer
    assert(full.filter(_._3.isDefined)
      .map(r => (r._1, r._2, r._3.get, r._4)).toSeq == outer.toSeq,
      "full outer's view-present rows diverge from left outer")
    // the right-only face exists: purchases in buckets nobody viewed
    val rightOnly = full.filter(_._3.isEmpty)
    assert(rightOnly.nonEmpty,
      "no purchase-only (window, bucket) — the full face is vacuous")
    assert(rightOnly.forall(_._4.isDefined),
      "a full-outer row with BOTH sides null")
  }

  test("S32b: null-extended rows emit only at EVICTION — every " +
       "unmatched row's window end is at or below the operative " +
       "watermark of its emission batch") {
    import graft.streaming.{Replayer, Streams}
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Boolean)]() // (batchId, winEndMs, isNull)
    val ckpt = Scratch.fresh("graft_s32b_pin").toString
    val q = Streams.s32Plan(s, sf, "left_outer")
      .select(col("window.end").as("we"), col("n_purchases"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.collect().foreach(r =>
          got.add((id, r.getTimestamp(0).getTime, r.isNullAt(1))))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Scratch.delete(ckpt)
    // operative watermark per batch, from Spark's own progress
    val wmByBatch = q.recentProgress.map { p =>
      val w = Option(p.eventTime.get("watermark"))
        .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)
      p.batchId -> w
    }.toMap
    import scala.jdk.CollectionConverters._
    val rows = got.asScala.toSeq
    val nullRows = rows.filter(_._3)
    assert(nullRows.nonEmpty, "no null-extended emission captured")
    nullRows.foreach { case (b, endMs, _) =>
      assert(wmByBatch(b) >= endMs,
        s"null-extended row (window end $endMs) emitted in batch $b " +
        s"whose operative watermark ${wmByBatch(b)} had not evicted it")
    }
  }

  test("S31b: the savepoint's two artifacts diverge exactly by the " +
       "answered views — every pending view's deadline has a " +
       "registered timer, and the timer-minus-view difference (the " +
       "no-op timers answered views leave behind) is non-empty") {
    val rows = SparkEntry.queries("s31b_timer_export")(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val timers = rows.filter(_._2 == "timer").map(r => (r._1, r._3)).toSet
    val views = rows.filter(_._2 == "view").map(r => (r._1, r._3)).toSet
    assert(timers.nonEmpty && views.nonEmpty,
      s"vacuous export: ${timers.size} timers, ${views.size} views")
    assert(views.subsetOf(timers),
      "a pending view's deadline has no registered timer — the timer " +
      "registry lost an armed deadline")
    assert((timers -- views).nonEmpty,
      "no answered-view no-op timers — the channel asymmetry the " +
      "export exists to surface is untested")
    // and the asymmetry is EXACTLY the answered views: recompute the
    // answered set from the batch table
    val ev = Tables.events(s, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val wm = ev.map(_._2).max / 1000 - 600000L
    val dayUs = 24L * 3600 * 1000000L
    val answeredDl = ev.filter(_._3 == "view").filter { v =>
      v._2 / 1000 + 86400000L > wm &&
      ev.exists(p => p._3 == "purchase" && p._1 == v._1 &&
        p._2 >= v._2 && p._2 <= v._2 + dayUs)
    }.map(v => (v._1, v._2 / 1000 + 86400000L)).toSet
    assert(timers -- views == answeredDl,
      "timer-minus-view set is not exactly the answered views' deadlines")
  }

  test("S20e: the after-match-skip axis — on v,v,c,p the skip DP " +
       "completes once where no-skip enumerates both overlapping " +
       "tuples, and on the corpus the distinct-purchase projection of " +
       "the all-matches set equals S20's completion set exactly") {
    import graft.streaming.{AllMatchesProcessor, AllMatchState,
      FunnelEvent, SkipMatchProcessor}
    val winUs = graft.queries.Windows.SkipWindowUs
    // crafted prefix: two views share the same click+purchase tail —
    // one completion under skip-till-next-match, TWO match tuples
    // under no-skip (the defining difference of the strategy axis)
    val seq = Seq(
      FunnelEvent(1, 1000000L, 7, "view"),
      FunnelEvent(2, 2000000L, 7, "view"),
      FunnelEvent(3, 3000000L, 7, "click"),
      FunnelEvent(4, 4000000L, 7, "purchase"))
    val m = Array.fill(2)(-1L)
    val skipOut = SkipMatchProcessor.stepAll("vcp", winUs, m, 7, seq)
    assert(skipOut == Seq((7L, 4L)),
      s"skip DP should complete exactly once on v,v,c,p: $skipOut")
    val (_, allOut) = AllMatchesProcessor.stepAll(
      winUs, AllMatchState(Nil, Nil), 7, seq)
    assert(allOut.toSet == Set((7L, 1L, 3L, 4L), (7L, 2L, 3L, 4L)),
      s"no-skip should enumerate both overlapping tuples: $allOut")
    // a second purchase re-matches the SAME constituents under no-skip
    // (nothing is consumed), unlike consuming skip strategies
    val (_, allOut2) = AllMatchesProcessor.stepAll(
      winUs, AllMatchState(Nil, Nil), 7,
      seq :+ FunnelEvent(5, 5000000L, 7, "purchase"))
    assert(allOut2.size == 4,
      s"candidates must survive a completed match (no-skip): $allOut2")
    // corpus-level projection: a purchase has ≥1 match tuple iff the
    // skip DP completes on it — the two strategies agree on WHICH
    // purchases match, differing only in enumeration
    val tuples = SparkEntry.queries("s20e_all_matches")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(tuples.nonEmpty, "no match tuples on the corpus — vacuous")
    assert(tuples.distinct.length == tuples.length,
      "duplicate match tuples emitted")
    val s20Set = SparkEntry.queries("s20_stream_pattern")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tuples.map(t => (t._1, t._4)).toSet == s20Set,
      "distinct-purchase projection of all-matches != S20 completions")
    // and somewhere the enumeration is genuinely wider than the
    // skip report (an overlapping match exists on the natural corpus)
    assert(tuples.length > s20Set.size,
      "no overlapping matches on the corpus — the axis pin is vacuous")
  }

  test("S30: cumulate panes emit exactly once, grow monotonically " +
       "within their window, and a fully-released window's last pane " +
       "carries the full 6 h count") {
    val rows = SparkEntry.queries("s30_cumulate")(s, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
        r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty, "no cumulate panes emitted")
    // emit-once: the (win_start, pane_end, type) key is unique — append
    // mode fires each pane exactly when the watermark passes it
    assert(rows.map(r => (r._1, r._2, r._3)).distinct.length == rows.length,
      "a pane emitted more than once")
    // window-to-date growth: within (win_start, type), counts are
    // nondecreasing in pane_end, and some window genuinely grows
    // (a strict increase exists) — the cumulate face is non-vacuous
    var strictGrowth = false
    rows.groupBy(r => (r._1, r._3)).foreach { case (k, panes) =>
      val seq = panes.sortBy(_._2).map(_._4)
      assert(seq.zip(seq.tail).forall { case (a, b) => a <= b },
        s"window $k: pane counts not nondecreasing: ${seq.mkString(",")}")
      if (seq.zip(seq.tail).exists { case (a, b) => a < b })
        strictGrowth = true
    }
    assert(strictGrowth, "no window ever grew across panes — vacuous")
    // completeness: a window whose LAST pane (start + 6 h) was released
    // carries the full window count from the batch table
    val ev = Tables.events(s, sf)
      .select(unix_micros(col("ts")).as("tsu"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val sixH = 6L * 3600 * 1000000L
    val fullPanes = rows.filter(r => r._2 == r._1 + sixH / 1000)
    assert(fullPanes.nonEmpty, "no fully-released window — vacuous")
    fullPanes.foreach { case (ws, _, typ, n) =>
      val expected = ev.count(e => e._2 == typ &&
        e._1 >= ws * 1000 && e._1 < ws * 1000 + sixH).toLong
      assert(n == expected,
        s"window ($ws, $typ): last pane $n != full count $expected")
    }
  }

  test("S21b: the reorder buffer SURVIVES a kill-and-restart — buffered " +
       "events, walking release timers and deadline timers pending at " +
       "the crash are restored from the checkpoint and the emission " +
       "multiset matches the uninterrupted disordered run") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s21b_ckpt").toString
    val out = Scratch.fresh("graft_s21b_out").toString
    // both phases sink via the SAME foreachBatch append (a format
    // "parquet" sink would leave a _spark_metadata log that hides
    // phase-1 files from the final read); a poisoned batch writes
    // nothing, so the replayed batch lands exactly once
    def start(t: Trigger, poisonFrom: Long) =
      graft.core.ConfScope.withConf(s,
          graft.streaming.Streams.RocksDbConf) {
        Streams.s21bAbandoned(s, sf, "ooo")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            if (id >= poisonFrom) throw new RuntimeException("injected crash")
            df.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt)
          .trigger(t).start()
      }
    // phase 1: absorb a strict prefix of the disordered replay — the
    // buffer holds displaced rows and the walking timer is armed past
    // the kill point — then CRASH mid-stream on batch 2 (deterministic,
    // unlike racing stop() against a fast trigger under suite load —
    // the flake mode the S19 restart test exhibited)
    val q1 = start(Trigger.ProcessingTime("100 milliseconds"), 2L)
    try { q1.awaitTermination(); fail("poison batch never fired") }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getMessage).contains("injected crash") ||
          Option(e.getCause).exists(c =>
            String.valueOf(c.getMessage).contains("injected crash")),
          s"query died of the wrong cause: $e")
    }
    // phase 2: recover — the RocksDB-checkpointed reorder buffer and
    // both timer families must resume exactly (the transient
    // same-(key,wm) memo rebuilds empty, by design); batch 2 replays
    val q2 = start(Trigger.AvailableNow(), Long.MaxValue)
    q2.awaitTermination()
    val fin = s.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val ref = SparkEntry.queries("s21b_abandon_ooo")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fin.nonEmpty, "no abandonments emitted — test vacuous")
    assert(fin == ref,
      s"restarted run diverged: ${fin.length} rows vs reference " +
      s"${ref.length} — buffer or timers lost/double-fired on recovery")
  }

  test("S4b: a same-(user, ts) tie resolves by event_id — the " +
       "non-purchase with the LOWER id carries the pre-purchase band, " +
       "the purchase itself the band it opens (advisor r16: correctness " +
       "must not depend on the corpus having no ties)") {
    import graft.streaming.{TemporalEvent, TemporalJoinProcessor}
    val events = Seq(
      TemporalEvent(1000L, 5L, isPurchase = false, 0L),
      TemporalEvent(2000L, 7L, isPurchase = false, 0L), // tie, lower id
      TemporalEvent(2000L, 8L, isPurchase = true, 50000L), // opens 'mid'
      TemporalEvent(2000L, 9L, isPurchase = false, 0L), // tie, higher id
      TemporalEvent(3000L, 10L, isPurchase = true, 60000L)) // cum → 'high'
    val (st, out) = TemporalJoinProcessor.applyOrdered(
      40000L, 100000L, None, 42L,
      events.sortBy(e => (e.tsu, e.event_id)))
    assert(out == Seq((42L, 5L, "none"), (42L, 7L, "none"),
      (42L, 8L, "mid"), (42L, 9L, "mid"), (42L, 10L, "high")),
      s"tie order wrong: $out")
    assert(st.map(_.band) == Some("high"))
  }

  test("S22: the CDC fold retracts — delete-then-reinsert, no-op delete " +
       "on an absent key, delta telescoping — and the corpus exercises " +
       "both retraction and reinsertion end-to-end") {
    import graft.streaming.{CdcOp, CdcProcessor}
    val ops = Seq(
      CdcOp(1000L, 1L, isUpsert = true, 500L), // insert: +500
      CdcOp(2000L, 2L, isUpsert = true, 300L), // update: −200
      CdcOp(3000L, 5L, isUpsert = false, 0L), // delete: retract −300
      CdcOp(4000L, 10L, isUpsert = false, 0L), // no-op delete: no emission
      CdcOp(5000L, 11L, isUpsert = true, 700L)) // reinsert from dead: +700
    val (cur, out) = CdcProcessor.applyOps(None, 9L, ops)
    assert(out == Seq((9L, 1L, 500L), (9L, 2L, -200L), (9L, 5L, -300L),
      (9L, 11L, 700L)), s"fold emitted $out")
    assert(cur == Some(700L))
    assert(out.map(_._3).sum == 700L,
      "deltas must telescope to the final live value")
    // trailing effective delete leaves the key dead and nets to zero
    val (cur2, out2) = CdcProcessor.applyOps(None, 9L, Seq(
      CdcOp(1L, 1L, isUpsert = true, 42L),
      CdcOp(2L, 2L, isUpsert = false, 0L)))
    assert(cur2.isEmpty && out2.map(_._3).sum == 0L)
    // corpus non-vacuity: some key is effectively deleted then reinserted
    val rows = Tables.events(s, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val reinserted = rows.groupBy(_._1).values.exists { es =>
      val ups = es.sortBy(e => (e._2, e._3)).map(_._3 % 5 != 0)
      ups.zip(ups.drop(1)).zipWithIndex.exists { case ((up, del), i) =>
        up && !del && ups.drop(i + 2).contains(true) }
    }
    assert(reinserted,
      "no delete-then-reinsert key in the corpus — retraction vacuous")
    // end-to-end: effective deletes really subtract (Σ n_changes above
    // the upsert count proves deletes landed; they can only lower net)
    val res = SparkEntry.queries("s22_cdc_aggregate")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(res.nonEmpty)
    val nUpserts = rows.count(_._3 % 5 != 0).toLong
    assert(res.map(_._3).sum > nUpserts,
      "no effective delete reached the aggregate — retraction vacuous")
  }

  test("S35: the streamed index answers EXACTLY the batch-built index's " +
       "query (answer-preserving incremental construction), and " +
       "recall@5 vs arrived-subset brute force holds after EVERY batch") {
    import graft.llm.Llm
    import graft.streaming.Replayer
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val streamed = SparkEntry.queries("s35_index_refresh")(s, sf).collect()
    val batch = SparkEntry.queries("l3c_ivf_topk")(s, sf).collect()
    assert(streamed.map(key).toSeq == batch.map(key).toSeq,
      "streamed-index answer diverged from the batch-built index")
    // per-batch prefixes: the canonical run left the batch-id snapshots
    val idxRoot = Scratch.dir("s35index", sf).resolve("index")
    val cdf = Llm.coarseCells(s, sf)
    val allE = Llm.vecsOf(Tables.embeddings(s, sf))
    val nVec = allE.count()
    val bsz = (nVec + Replayer.NumFiles - 1) / Replayer.NumFiles
    (0 until Replayer.NumFiles).foreach { b =>
      val dirs = (0 to b).map(i => idxRoot.resolve(s"b$i").toString)
        .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      assert(dirs.size == b + 1, s"missing snapshot dirs through batch $b")
      val assigns = s.read.parquet(dirs: _*)
      val arrived = allE.filter(col("vec_id") < (b + 1) * bsz)
      val ans = Llm.scoreExactTopK(arrived,
        Llm.candidatesFromAssigns(arrived, cdf, assigns,
          Llm.IvfNprobe, Llm.IvfQids), Llm.IvfQids, 5)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val everyPair = arrived.select(col("vec_id").as("vid"))
        .crossJoin(arrived.filter(col("vec_id").isin(Llm.IvfQids: _*))
          .select(col("vec_id").as("qid")))
        .filter(col("vid") =!= col("qid"))
        .select(col("qid"), col("vid"))
      val brute = Llm.scoreExactTopK(arrived, everyPair, Llm.IvfQids, 5)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val recalls = Llm.IvfQids.map(_.toLong).map { q =>
        val a = ans.filter(_._1 == q).map(_._2).toSet
        val e = brute.filter(_._1 == q).map(_._2).toSet
        (a intersect e).size.toDouble / e.size
      }
      info(f"batch $b recall@5 per qid: ${recalls.map(r => f"$r%.2f").mkString(", ")}")
      assert(recalls.sum / recalls.size >= 0.6,
        s"batch $b mean recall ${recalls.sum / recalls.size} below 0.6")
    }
  }

  test("S34: the operative watermark is the MIN across sources — the " +
       "engine's watermark equals the 48 h LAGGARD's, and the fast " +
       "stream's last two days stay frozen") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s34_pin").toString
    val q = Streams.s34Plan(s, sf, "shift48").writeStream.format("memory")
      .queryName("s34_pin").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Scratch.delete(Paths.get(ckpt).toString)
    val wmMs = q.recentProgress.flatMap(p =>
      Option(p.eventTime.get("watermark"))
        .map(java.time.Instant.parse(_).toEpochMilli)).max
    val maxUs = Tables.events(s, sf)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val lagWmMs = Math.floorDiv(maxUs - 48L * 3600 * 1000000L, 1000L) - 600000L
    val fastWmMs = Math.floorDiv(maxUs, 1000L) - 600000L
    assert(wmMs == lagWmMs,
      s"engine watermark $wmMs ≠ the laggard's $lagWmMs (min policy)")
    // frozen tail: fast data extends two days past every emitted window
    val maxEndMs = s.table("s34_pin")
      .agg(max(unix_micros(col("window.end")))).head().getLong(0) / 1000L
    assert(maxEndMs <= lagWmMs && fastWmMs - maxEndMs > 40L * 3600000L,
      s"expected a ≈48 h frozen fast tail, emitted through $maxEndMs " +
      s"with fast watermark $fastWmMs")
  }

  test("S34: a STOPPED source stalls the engine watermark and freezes " +
       "append output — the production incident the idleness dial exists " +
       "for") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s34stop_pin").toString
    val q = Streams.s34Plan(s, sf, "shift48stop").writeStream
      .format("memory").queryName("s34stop_pin").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Scratch.delete(Paths.get(ckpt).toString)
    val wmMs = q.recentProgress.flatMap(p =>
      Option(p.eventTime.get("watermark"))
        .map(java.time.Instant.parse(_).toEpochMilli)).max
    // the stalled horizon: the laggard's LAST delivered file (file 1)
    val evs = Tables.events(s, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("tsu")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bsz = (evs.length + Replayer.NumFiles - 1) / Replayer.NumFiles
    val lagStopUs = evs.filter(_._1 < 2L * bsz).map(_._2).max -
      48L * 3600 * 1000000L
    val stallMs = Math.floorDiv(lagStopUs, 1000L) - 600000L
    assert(wmMs == stallMs,
      s"engine watermark $wmMs ≠ the stopped source's stall $stallMs")
    // append output froze there: nothing emitted past the stall, and
    // the frozen mass is real (days of fast windows never emitted)
    val emitted = s.table("s34stop_pin")
    val maxEndMs = emitted.agg(max(unix_micros(col("window.end"))))
      .head().getLong(0) / 1000L
    val fastWmMs = Math.floorDiv(evs.map(_._2).max, 1000L) - 600000L
    assert(maxEndMs <= stallMs, "a window emitted past the stalled watermark")
    assert(fastWmMs - stallMs > 24L * 3600000L,
      "fixture skew too small for a meaningful freeze")
  }

  test("S34b: the idleness dial's release dynamics are in the hash — " +
       "nothing releases at the stalled batch 2, the frozen tail " +
       "releases exactly at batch 3, and release batches are monotone " +
       "in window end") {
    val rows = SparkEntry.queries("s34b_idleness_dial")(s, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    val byBatch = rows.groupBy(_._4).view.mapValues(_.length).toMap
    assert(!byBatch.contains(2L),
      s"windows released at the stalled batch 2: $byBatch")
    assert(byBatch.contains(3L) && byBatch(3L) > 0,
      s"the dial released nothing at batch 3: $byBatch")
    assert(byBatch.keySet.subsetOf(Set(0L, 1L, 3L, 4L)),
      s"unexpected release batches: ${byBatch.keySet}")
    // monotone: a window released later never ends earlier
    val maxEndPerBatch = rows.groupBy(_._4).view
      .mapValues(_.map(_._1).max).toMap.toSeq.sortBy(_._1)
    maxEndPerBatch.sliding(2).foreach {
      case Seq((b1, e1), (b2, e2)) =>
        assert(e1 < e2, s"release not monotone: batch $b1 max $e1 ≥ " +
          s"batch $b2 max $e2")
      case _ => ()
    }
    // and the batch-3 releases sit ABOVE the stalled horizon: they are
    // the windows the engine's min policy would have frozen forever
    val evs = Tables.events(s, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("tsu")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bsz = (evs.length + Replayer.NumFiles - 1) / Replayer.NumFiles
    val stallUs = evs.filter(_._1 < 2L * bsz).map(_._2).max -
      48L * 3600 * 1000000L - 600L * 1000000L
    rows.filter(_._4 >= 3L).foreach { r =>
      assert((r._1 + 3600000L) * 1000L >= stallUs,
        s"a post-dial release below the stalled horizon: $r")
    }
  }

  test("S20f: the greedy-loop fold — restart on a newer view, self-loop " +
       "absorption, until(p) leaving the loop untouched, repeated " +
       "letters, and cross-batch state carry") {
    import graft.streaming.{FunnelEvent, OneOrMoreProcessor, OneOrMoreState}
    def ev(t: Long, id: Long, ty: String) = FunnelEvent(id, t, 9L, ty)
    val win = 1000L
    // v c c v c p: the second view restarts the greedy loop → cnt 1
    val (st1, out1) = OneOrMoreProcessor.stepAll(win,
      OneOrMoreState(-1L, -1L, 0L), 9L, Seq(
        ev(10, 1, "view"), ev(11, 2, "click"), ev(12, 3, "click"),
        ev(20, 4, "view"), ev(21, 5, "click"), ev(22, 6, "purchase")))
    assert(out1 == Seq((9L, 6L, 1L)), s"got $out1")
    assert(st1 == OneOrMoreState(20L, 20L, 1L))
    // until: the purchase never enters the loop — a later click under
    // the SAME anchor keeps absorbing (repeated-letter continuation)
    val (st2, out2) = OneOrMoreProcessor.stepAll(win, st1, 9L, Seq(
      ev(23, 7, "click"), ev(24, 8, "purchase")))
    assert(out2 == Seq((9L, 8L, 2L)), s"got $out2")
    assert(st2.cnt == 2L)
    // no view yet: clicks are not a loop; purchase can't complete
    val (_, out3) = OneOrMoreProcessor.stepAll(win,
      OneOrMoreState(-1L, -1L, 0L), 9L, Seq(
        ev(10, 1, "click"), ev(11, 2, "purchase")))
    assert(out3.isEmpty)
    // window: an anchor older than p − win does not complete
    val (_, out4) = OneOrMoreProcessor.stepAll(win,
      OneOrMoreState(-1L, -1L, 0L), 9L, Seq(
        ev(10, 1, "view"), ev(11, 2, "click"), ev(2000, 3, "purchase")))
    assert(out4.isEmpty)
  }

  test("S20f: same completions as S20 (the quantifier changes the " +
       "payload, not match existence), and the loop genuinely absorbs " +
       "more than one click somewhere in the corpus") {
    val s20 = SparkEntry.queries("s20_stream_pattern")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s20f = SparkEntry.queries("s20f_oneormore")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(s20f.map(r => (r._1, r._2)).toSet == s20,
      "S20f's completion set diverged from S20's")
    assert(s20f.forall(_._3 >= 1L), "a completion with an empty loop")
    assert(s20f.exists(_._3 > 1L),
      "every loop count is 1 — the unbounded quantifier is vacuous here")
  }

  test("S33c: the reordered retract producer is replay-order-invariant " +
       "— the disordered ooo replay's released train equals the clean " +
       "replay's, and it is still a valid retract stream") {
    import graft.streaming.Streams
    def run(variant: String) = Streams.s33cRun(s, sf, variant).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val ooo = run("ooo")
    val clean = run("clean")
    assert(ooo.nonEmpty && ooo.toSeq == clean.toSeq,
      "disorder changed the released retract train — the buffer leaked order")
    // pair validity survives the buffer: every retraction carries the
    // previous emission within the released prefix
    ooo.groupBy(_._1).foreach { case (user, rows) =>
      var last: Option[Long] = None
      rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (seq, pair) =>
        val ret = pair.filter(_._3 == "retract").map(_._4)
        last.foreach(prev => assert(ret.toSeq == Seq(prev),
          s"user $user seq $seq retracted ${ret.toSeq} ≠ $prev"))
        if (last.isEmpty) assert(ret.isEmpty)
        last = Some(pair.filter(_._3 == "upsert").head._4)
      }
    }
  }

  test("S33b: kill-and-restart restores the retract producer AND the " +
       "windowed aggregate from one checkpoint — the run completes to " +
       "exactly the uninterrupted result") {
    import graft.streaming.Streams
    import org.apache.spark.sql.DataFrame
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      (java.sql.Timestamp, Long, Long, Long)]()
    def collect(df: DataFrame, id: Long): Unit =
      df.select(col("window.start"), col("grp"), col("net_cents"),
          col("n_rows")).collect()
        .foreach(r => buf.add(
          (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    val ckpt = Scratch.fresh("graft_s33b_ckpt").toString
    val q1 = graft.core.ConfScope.withConf(s, Streams.RocksDbConf) {
      Streams.s33bPlan(s, sf).writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          if (id >= 3L) throw new RuntimeException("injected crash")
          collect(df, id)
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    try { q1.awaitTermination(); fail("poison batch never fired") }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getMessage).contains("injected crash") ||
          Option(e.getCause).exists(c =>
            String.valueOf(c.getMessage).contains("injected crash")),
          s"query died of the wrong cause: $e")
    }
    // restart: the producer's per-key aggregates AND the open windows
    // recover; the replayed batch 3 re-emits exactly once
    graft.core.ConfScope.withConf(s, Streams.RocksDbConf) {
      val q = Streams.s33bPlan(s, sf).writeStream
        .foreachBatch(collect _)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    import scala.jdk.CollectionConverters._
    val got = buf.asScala.toSeq.sortBy(t => (t._1.getTime, t._2))
    val expected = Streams.queries("s33b_retract_consumed")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(t => (t._1.getTime, t._2))
    assert(got == expected,
      "kill-and-restart diverged from the uninterrupted chained result")
  }

  test("S34b: kill-and-restart restores the COORDINATOR's durable state " +
       "(per-source maxima, idle counters, prevWm) — a fresh driver " +
       "process resumes from the persisted coordinator files and the " +
       "final release train is identical to the uninterrupted run") {
    import graft.streaming.{Replayer, Streams}
    val root = Scratch.fresh("graft_s34b_restart")
    val stage = root.resolve("stage"); val out = root.resolve("out")
    Files.createDirectories(stage)
    val ckpt = Scratch.fresh("graft_s34b_ckpt").toString
    // phase 1: poison at batch 3 — the batch whose watermark jump IS
    // the idleness release, so the restart must restore the laggard's
    // idle count to make the same decision
    try {
      Streams.s34bAttempt(s, sf, stage, out, Some(ckpt), Some(3L))
      fail("poison batch never fired")
    } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getMessage).contains("s34b poison") ||
          Option(e.getCause).exists(c =>
            String.valueOf(c.getMessage).contains("s34b poison")),
          s"query died of the wrong cause: $e")
    }
    // the first attempt committed coordinator state through batch 2
    assert(Files.exists(stage.resolve("coord_b2.properties")),
      "phase 1 left no durable coordinator state")
    assert(!Files.exists(stage.resolve("coord_b3.properties")),
      "the poisoned batch must not have committed coordinator state")
    // phase 2: a FRESH coordinator (new instance = restarted driver)
    // resumes from the same checkpoint + staging roots
    Streams.s34bAttempt(s, sf, stage, out, Some(ckpt), None)
    Scratch.delete(ckpt)
    val got = s.read.parquet(Scratch.committed(out, "b").map(_.toString): _*)
      .select(col("win_start"), col("event_type"), col("n"),
        col("rel_b"))
      .orderBy(col("win_start"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    val expected = SparkEntry.queries("s34b_idleness_dial")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq,
      "restarted coordinator diverged from the uninterrupted release train")
    Scratch.delete(root.toString)
  }

  test("S36: batch-atomic lookup staleness is REAL — displaced events " +
       "are enriched with their ARRIVAL batch's dim version, some key's " +
       "enrichment differs from the event-time version, and the lookup " +
       "total genuinely diverges from the event-time-correct total") {
    import graft.streaming.Streams
    val evs = Tables.events(s, sf)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // re-derive the late replay's batch assignment (the Replayer
    // contract: home = id-order batch; %97 rows arrive two later)
    val bsz = (evs.length + Replayer.NumFiles - 1) / Replayer.NumFiles
    def home(id: Long) = math.min(id / bsz, (Replayer.NumFiles - 1).toLong)
    def arrival(id: Long) =
      math.min(home(id) + (if (id % 97 == 0) 2L else 0L),
        (Replayer.NumFiles - 1).toLong)
    def version(b: Long) = if (b >= 4) 4L else if (b >= 2) 2L else 0L
    val divergent = evs.filter { case (id, uid, _) =>
      Streams.s36Mult(version(arrival(id)), uid % 10) !=
        Streams.s36Mult(version(home(id)), uid % 10)
    }
    assert(divergent.nonEmpty, "no displaced key's enrichment differs " +
      "between arrival-batch and event-time dim versions — vacuous pin")
    // the shipped result prices by ARRIVAL version (= the hash-gated
    // closed form) and that total differs from the event-time total
    val got = SparkEntry.queries("s36_lookup_join")(s, sf).collect()
      .map(_.getLong(3)).sum
    val arrivalTotal = evs.iterator.map { case (id, uid, c) =>
      c * Streams.s36Mult(version(arrival(id)), uid % 10) }.sum
    val eventTimeTotal = evs.iterator.map { case (id, uid, c) =>
      c * Streams.s36Mult(version(home(id)), uid % 10) }.sum
    assert(got == arrivalTotal,
      s"lookup total $got ≠ arrival-version closed form $arrivalTotal")
    assert(got != eventTimeTotal,
      "lookup total equals the event-time total — staleness invisible")
  }

  test("S33: the refinement fold emits one (−old, +new) pair per record " +
       "— no retraction before a key's first emission, and the pair " +
       "chain survives a batch boundary via the carried state") {
    import graft.streaming.{RetractOp, RetractProcessor}
    // first batch: 2 records — record 1 emits upsert only
    val (cur1, out1) = RetractProcessor.refine(None, 7L, Seq(
      RetractOp(1000L, 1L, 500L), RetractOp(2000L, 2L, 300L)))
    assert(out1.map(r => (r.seq_id, r.kind, r.agg_cents)) == Seq(
      (1L, "upsert", 500L),
      (2L, "retract", 500L), (2L, "upsert", 800L)), s"got $out1")
    assert(cur1 == Some(800L))
    // second batch: the retraction must target the CARRIED emission
    val (cur2, out2) = RetractProcessor.refine(cur1, 7L,
      Seq(RetractOp(3000L, 3L, -100L)))
    assert(out2.map(r => (r.seq_id, r.kind, r.agg_cents)) == Seq(
      (3L, "retract", 800L), (3L, "upsert", 700L)))
    assert(cur2 == Some(700L))
    // empty batch is a no-op
    assert(RetractProcessor.refine(cur2, 7L, Nil) == (cur2, Nil))
  }

  test("S33: the emitted train is a valid retract stream — every " +
       "retraction carries exactly the previous emission, and the " +
       "signed sum (a non-stateful consumer) equals the batch aggregate") {
    val train = SparkEntry.queries("s33_retract_stream")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(train.nonEmpty)
    val expected = Tables.events(s, sf)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    train.groupBy(_._1).foreach { case (user, rows) =>
      // per record: retract (if any) precedes upsert at the same seq
      val bySeq = rows.groupBy(_._2).toSeq.sortBy(_._1)
      var lastEmitted: Option[Long] = None
      bySeq.foreach { case (seq, pair) =>
        val ret = pair.filter(_._3 == "retract")
        val ups = pair.filter(_._3 == "upsert")
        assert(ups.size == 1, s"user $user seq $seq: ${ups.size} upserts")
        lastEmitted match {
          case None => assert(ret.isEmpty,
            s"user $user first record retracted $ret")
          case Some(prev) =>
            assert(ret.map(_._4).toSeq == Seq(prev),
              s"user $user seq $seq retracted ${ret.map(_._4)} ≠ $prev")
        }
        lastEmitted = Some(ups.head._4)
      }
      // telescoping: Σ sign·agg == final value == the batch aggregate
      val signed = rows.iterator.map(r =>
        if (r._3 == "retract") -r._4 else r._4).sum
      assert(signed == expected(user),
        s"user $user signed sum $signed ≠ batch ${expected(user)}")
    }
  }

  test("S33b: the retract producer and the windowed aggregate run as " +
       "TWO state stores in ONE query, and some closed window contains " +
       "a genuine retraction") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s33b_pin").toString
    val q = graft.core.ConfScope.withConf(s, Streams.RocksDbConf) {
      val q = Streams.s33bPlan(s, sf).writeStream.format("memory")
        .queryName("s33b_pin").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName))
      .distinct.toSet
    assert(ops.size == 2 && ops.contains("stateStoreSave") &&
      ops.exists(_.toLowerCase.contains("transformwithstate")),
      s"expected TWS + windowed-agg state stores in ONE query, got $ops")
    assert(s.table("s33b_pin").count() > 0, "chained query emitted nothing")
    // non-vacuity: some user has a SECOND-or-later record inside a
    // window the final watermark closed — that record emitted a
    // retraction that flowed through the gated aggregate
    val evs = Tables.events(s, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val horizonUs = evs.map(_._2).max - 600L * 1000000L
    val closedRetracts = evs.groupBy(_._1).values.exists { es =>
      es.sortBy(e => (e._2, e._3)).drop(1).exists(e =>
        (e._2 / 3600000000L) * 3600000000L + 3600000000L < horizonUs)
    }
    assert(closedRetracts,
      "no retraction inside a closed window — the chained face is vacuous")
  }

  test("S22c: the changelog consumer and the windowed aggregate run as " +
       "TWO state stores in ONE query, and closed windows genuinely " +
       "contain retractions") {
    import graft.streaming.Streams
    val ckpt = Scratch.fresh("graft_s22c_pin").toString
    val q = graft.core.ConfScope.withConf(s, Streams.RocksDbConf) {
      val q = Streams.s22cPlan(s, sf).writeStream.format("memory")
        .queryName("s22c_pin").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName))
      .distinct.toSet
    assert(ops.size == 2 && ops.contains("stateStoreSave") &&
      ops.exists(_.toLowerCase.contains("transformwithstate")),
      s"expected TWS + windowed-agg state stores in ONE query, got $ops")
    assert(s.table("s22c_pin").count() > 0, "chained query emitted nothing")
    // non-vacuity of the retraction junction: some EFFECTIVE delete
    // (previous op was an upsert) falls inside a window the final
    // watermark closed, so the gated result really exercises a
    // retraction flowing through the window aggregate
    val evs = Tables.events(s, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val maxTsu = evs.map(_._2).max
    val horizonUs = maxTsu - 600L * 1000000L // final wm = max − 10 min
    val closedDeletes = evs.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2, e._3))
      sorted.zip((null: (Long, Long, Long)) +: sorted.init).filter {
        case (cur, prev) =>
          cur._3 % 5 == 0 && prev != null && prev._3 % 5 != 0 &&
            (cur._2 / 3600000000L) * 3600000000L + 3600000000L < horizonUs
      }
    }
    assert(closedDeletes.nonEmpty,
      "no effective delete inside a closed window — retraction face vacuous")
  }

  test("S22c: kill-and-restart restores BOTH chained state stores — " +
       "the CDC values and the open windows recover from one checkpoint " +
       "and the run completes to exactly the uninterrupted result") {
    import graft.streaming.Streams
    import org.apache.spark.sql.DataFrame
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      (java.sql.Timestamp, Long, Long, Long)]()
    def collect(df: DataFrame, id: Long): Unit =
      df.select(col("window.start"), col("grp"), col("net_cents"),
          col("n_changes")).collect()
        .foreach(r => buf.add(
          (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    val ckpt = Scratch.fresh("graft_s22c_ckpt").toString
    // phase 1: crash DETERMINISTICALLY on batch 3 via a poison
    // foreachBatch (the s19/SNK2 discipline — never race stop()); the
    // poisoned batch collects nothing, so its rows arrive exactly once
    // via the restart replay
    val q1 = graft.core.ConfScope.withConf(s, Streams.RocksDbConf) {
      Streams.s22cPlan(s, sf).writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          if (id >= 3L) throw new RuntimeException("injected crash")
          collect(df, id)
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    try { q1.awaitTermination(); fail("poison batch never fired") }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(String.valueOf(e.getMessage).contains("injected crash") ||
          Option(e.getCause).exists(c =>
            String.valueOf(c.getMessage).contains("injected crash")),
          s"query died of the wrong cause: $e")
    }
    // phase 2: restart from the checkpoint — batch 3 replays (its CDC
    // values and open windows restored from the two stores' commits),
    // later batches extend
    val q2 = graft.core.ConfScope.withConf(s, Streams.RocksDbConf) {
      val q = Streams.s22cPlan(s, sf).writeStream
        .foreachBatch(collect _)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val restartOps = q2.recentProgress
      .flatMap(_.stateOperators.map(_.operatorName)).distinct.toSet
    assert(restartOps.size == 2 && restartOps.contains("stateStoreSave"),
      s"restarted query did not run both state stores: $restartOps")
    import scala.jdk.CollectionConverters._
    val got = buf.asScala.toSeq.sortBy(t => (t._1.getTime, t._2))
    val expected = Streams.queries("s22c_cdc_windowed")(s, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(t => (t._1.getTime, t._2))
    assert(got == expected,
      "restarted chained query diverged from the uninterrupted result — " +
      "a CDC value or an open window was lost or doubled across the crash")
  }

  test("S25: a real state TTL evicts cross-batch funnel state — rows " +
       "are physically removed (TTL metric > 0) and straddling chains " +
       "no longer convert (s25 strictly under s8b)") {
    import graft.streaming.Streams
    val (df, q) = Streams.s25Run(s, sf)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s8b = SparkEntry.queries("s8b_funnel_injected")(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "TTL funnel emitted nothing — vacuous")
    assert(got.forall { case (u, n) => n <= s8b.getOrElse(u, 0L) },
      "the TTL run converted a purchase the un-TTL'd funnel does not")
    assert(got.values.sum < s8b.values.sum,
      "TTL evicted nothing — every cross-boundary chain still converted")
    // the GONE proof: Spark's TTL cleanup physically removed state rows
    val removed = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(o =>
        Option(o.customMetrics.get("numValuesRemovedDueToTTLExpiry")))
      .map(_.longValue).sum
    assert(removed > 0, "no state row was removed by TTL expiry")
  }

  test("S28: update mode genuinely re-emits — windows straddling a " +
       "file boundary update more than once") {
    import graft.streaming.Streams
    val rows = Streams.queries("s28_update_mode")(s, sf).collect()
    assert(rows.nonEmpty, "update-mode run emitted nothing")
    assert(rows.exists(_.getLong(2) > 1),
      "every window updated exactly once — the update-vs-append " +
      "distinction is vacuous on this fixture")
  }

  test("S27: the count-window fold closes windows on exactly the Nth " +
       "element across chunk boundaries, the tail never emits, and " +
       "chunking is invariant") {
    import graft.streaming.{CountEvent, CountWinState, CountWindowProcessor}
    val es = (1L to 12L).map(i => CountEvent(i * 1000, i, i))
    val z = CountWinState(0L, 0L, 0L, -1L)
    // chunks 5/4/3: the second window (elements 6..10) straddles chunks
    val (st1, o1) = CountWindowProcessor.applyOrdered(5, z, es.slice(0, 5))
    val (st2, o2) = CountWindowProcessor.applyOrdered(5, st1, es.slice(5, 9))
    val (st3, o3) = CountWindowProcessor.applyOrdered(5, st2, es.slice(9, 12))
    val all = o1 ++ o2 ++ o3
    assert(all == Seq((0L, 15L, 5L), (1L, 40L, 10L)),
      s"expected two closed windows, got $all")
    assert(st3 == CountWinState(2L, 2L, 23L, 12L),
      s"open tail window state wrong: $st3")
    val (stw, ow) = CountWindowProcessor.applyOrdered(5, z, es)
    assert(ow == all && stw == st3, "fold is not chunking-invariant")
  }

  test("S27b: the sliding count-window fold triggers every slide-th " +
       "element over the last min(size, seen) values, rides the warm-up " +
       "ramp, and is chunking-invariant") {
    import graft.streaming.{CountEvent, CountSlideProcessor, CountSlideState}
    val es = (1L to 10L).map(i => CountEvent(i * 1000, i, i))
    val z = CountSlideState(0L, Nil)
    // size 4, slide 3: triggers at elements 3 (warm-up: 3 values),
    // 6 (full: 3..6? no — last 4 = 3,4,5,6) and 9 (last 4 = 6,7,8,9)
    val (stw, ow) = CountSlideProcessor.applyOrdered(4, 3, z, es)
    assert(ow == Seq((0L, 3L, 6L), (1L, 4L, 18L), (2L, 4L, 30L)),
      s"sliding triggers wrong: $ow")
    assert(stw == CountSlideState(10L, Seq(8L, 9L, 10L)),
      s"overlap tail wrong: $stw")
    // chunking invariance across a 4/2/4 split
    val (s1, o1) = CountSlideProcessor.applyOrdered(4, 3, z, es.slice(0, 4))
    val (s2, o2) = CountSlideProcessor.applyOrdered(4, 3, s1, es.slice(4, 6))
    val (s3, o3) = CountSlideProcessor.applyOrdered(4, 3, s2, es.slice(6, 10))
    assert(o1 ++ o2 ++ o3 == ow && s3 == stw,
      "sliding fold is not chunking-invariant")
  }

  test("Keyed folds: on every user's event sequence, each fold emits " +
       "the same rows whether the events arrive in one chunk, one event " +
       "per chunk or three chunks") {
    import graft.streaming._
    import org.apache.spark.sql.Encoder
    import s.implicits._
    val ev = Tables.events(s, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
    // each user's events, projected through the type's wire format and
    // put in the (tsu, event_id) order the processors apply them in
    def byUser[E <: Product with Timed : Encoder](e: UserEvent[E],
        rows: org.apache.spark.sql.DataFrame = ev): Map[Long, Seq[E]] =
      rows.select(col("user_id") +: e.wire: _*)
        .select(col("user_id"), struct(col("*")).as("e"))
        .as(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, implicitly[Encoder[E]]))
        .collect().toSeq.groupBy(_._1)
        .map { case (u, es) => u -> Timed.order(es.map(_._2)) }
    def run[I <: Timed, S, O](f: KeyedFold[I, S, O], user: Long,
                              chunks: Seq[Seq[I]]): Seq[O] =
      chunks.foldLeft((Option.empty[S], Vector.empty[O])) {
        case ((st, acc), chunk) =>
          val (next, out) = f.step(st, user, chunk)
          (next, acc ++ out)
      }._2
    def bag[O](rows: Seq[O]): Map[O, Int] =
      rows.groupBy(identity).map { case (r, rs) => r -> rs.size }
    def check[I <: Timed, S, O](name: String, f: KeyedFold[I, S, O],
                                users: Map[Long, Seq[I]]): Unit = {
      var emitted = 0
      users.foreach { case (u, es) =>
        val whole = run(f, u, Seq(es))
        val ones = run(f, u, es.map(Seq(_)))
        val thirds = run(f, u, es.grouped((es.size + 2) / 3).toSeq)
        assert(bag(ones) == bag(whole) && bag(thirds) == bag(whole),
          s"$name: user $u emits differently when chunked")
        emitted += whole.size
      }
      assert(emitted > 0, s"$name emitted nothing — the check is vacuous")
    }
    val funnel = byUser(FunnelEvent)
    val day = 24L * 3600L * 1000000L
    check("funnel", FunnelProcessor.fold(day), funnel)
    check("absence", AbsenceProcessor.fold(3600L * 1000000L), funnel)
    check("skipmatch", SkipMatchProcessor.fold("vcp", day), funnel)
    check("oneormore", OneOrMoreProcessor.fold(day), funnel)
    check("allmatches", AllMatchesProcessor.fold(day), funnel)
    check("scd2", Scd2Processor.fold(40000L, 100000L),
      byUser(Scd2Event, purchases))
    check("temporaljoin", TemporalJoinProcessor.fold(40000L, 100000L),
      byUser(TemporalEvent))
    val ops = byUser(CdcOp)
    check("cdc", CdcProcessor.fold, ops)
    check("cdctimed", CdcTimedProcessor.fold, ops)
    check("retract", RetractProcessor.fold, byUser(RetractOp))
  }

  test("Keyed-state run policy: an in-order run has one batch per " +
       "replay file; a reordering or timeout run also has the trailing " +
       "no-data batch, which reads 0 rows") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    def batches(name: String): Seq[Long] = {
      val c = s.newSession()
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val done = new java.util.concurrent.CountDownLatch(1)
      c.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          rows.add(e.progress.numInputRows)
        // posted after the query's last progress event
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          done.countDown()
      })
      SparkEntry.queries(name)(c, sf).collect()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"$name: no termination event")
      rows.asScala.toSeq
    }
    val n = Replayer.NumFiles
    val inOrder = batches("s20_stream_pattern")
    assert(inOrder.size == n && inOrder.forall(_ > 0),
      s"in-order run: expected $n data batches, got $inOrder")
    Seq("s20b_pattern_ooo", "s21_abandon_timer").foreach { name =>
      val b = batches(name)
      assert(b.size == n + 1 && b.init.forall(_ > 0) && b.last == 0L,
        s"$name: expected $n data batches and a trailing empty one, got $b")
    }
  }

  test("S26: state schema evolution across a checkpoint restart — the " +
       "evolved processor decodes v1 state rows, and chains straddling " +
       "the upgrade boundary convert exactly as the un-upgraded funnel") {
    import graft.streaming.Streams
    val (df, crashed) = Streams.s26Run(s, sf)
    assert(crashed, "the deterministic upgrade point never fired")
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s8b = SparkEntry.queries("s8b_funnel_injected")(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == s8b,
      "the upgraded run diverged from the un-upgraded funnel — a v1 " +
      "state row was lost or misdecoded across the schema evolution")
    // non-vacuity: some chain must straddle the upgrade boundary
    // (view+click written under v1 in batches 0–2, purchase processed
    // under v2 in batches 3–4) — otherwise the v1-read face is untested
    val n = Tables.events(s, sf).count()
    val bsz = (n + Replayer.NumFiles - 1) / Replayer.NumFiles
    val straddles = (0L to (n - 191) / 211).exists { g =>
      (g * 211) / bsz <= 2 && (g * 211 + 190) / bsz >= 3
    }
    assert(straddles,
      "no injected chain straddles the upgrade boundary — vacuous")
  }

  test("S23: the dynamic-rule change takes effect exactly at its batch " +
       "boundary — every per-batch output matches that batch's own " +
       "threshold, and the change is observable at batch 2") {
    import graft.streaming.Streams
    val out = SparkEntry.queries("s23_dynamic_rules")(s, sf).collect()
    assert(out.nonEmpty)
    val root = Scratch.dir("s23rules", sf).resolve("out")
    val dirs = Scratch.committed(root, "b")
    assert(dirs.size == Replayer.NumFiles,
      s"expected one output dir per batch, got $dirs")
    val cleanDir = Replayer.ensure(s, sf, "clean")
    (0 until Replayer.NumFiles).foreach { i =>
      val thr = if (i >= 2) 150.0 else 50.0
      val f = java.nio.file.Paths.get(cleanDir, f"batch$i%02d.parquet")
      val exp = s.read.parquet(f.toString)
        .filter(col("value") > thr).count()
      val got = s.read.parquet(root.resolve(s"b$i").toString)
        .agg(sum(col("n"))).head()
      val gotN = if (got.isNullAt(0)) 0L else got.getLong(0)
      assert(gotN == exp,
        s"batch $i flagged $gotN rows, expected $exp under threshold $thr")
    }
    // non-vacuous boundary: batch 2 under the superseded rule differs
    val f2 = java.nio.file.Paths.get(cleanDir, "batch02.parquet").toString
    assert(s.read.parquet(f2).filter(col("value") > 50.0).count() !=
           s.read.parquet(f2).filter(col("value") > 150.0).count(),
      "batch 2 flags identically under both rules — boundary unobservable")
  }

  test("S19: a zero-file micro-batch publishes no manifest and the " +
       "chain bridges the gap (advisor r15 — batch 0 must not crash, " +
       "a later empty batch must not publish a duplicate)") {
    import graft.streaming.Streams
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    val root = Scratch.fresh("graft_s19_empty")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("event_type", StringType)))
    def df(rows: Seq[Row]) =
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
        // coalesce(1) of an EMPTY RDD still writes zero part files —
        // exactly the production empty-batch shape under test
        .coalesce(1)
    val mdir = root.resolve("manifests")
    def versions: Seq[Long] =
      if (!Files.isDirectory(mdir)) Seq.empty
      else {
        val ls = Files.list(mdir)
        try {
          import scala.jdk.CollectionConverters._
          ls.iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".list"))
            .flatMap(_.stripPrefix("v").stripSuffix(".list").toLongOption)
            .toSeq.sorted
        } finally ls.close()
      }
    // batch 0 EMPTY: previously crashed publishManifest's require —
    // now it must be a silent no-op
    Streams.s19PublishBatch(root)(df(Seq.empty), 0L)
    assert(versions.isEmpty, s"empty batch 0 published: $versions")
    Streams.s19PublishBatch(root)(
      df(Seq(Row(1L, 10L, 1.0, "view"), Row(2L, 10L, 2.0, "click"))), 1L)
    assert(versions == Seq(1L), s"expected v1 only, got $versions")
    // batch 2 EMPTY: no duplicate manifest, chain unchanged
    Streams.s19PublishBatch(root)(df(Seq.empty), 2L)
    assert(versions == Seq(1L), s"empty batch 2 published: $versions")
    // batch 3 bridges the gap: prev resolves to v1, not the absent v2
    Streams.s19PublishBatch(root)(df(Seq(Row(3L, 11L, 3.0, "purchase"))), 3L)
    assert(versions == Seq(1L, 3L), s"expected v1+v3, got $versions")
    def files(v: Long): Set[String] = Files.readString(
      mdir.resolve(s"v$v.list")).split("\n").toSet.filter(_.nonEmpty)
    assert(files(1L).subsetOf(files(3L)) && files(1L).size < files(3L).size,
      "v3 does not strictly extend v1 across the empty-batch gap")
    val snap = graft.queries.SourcesSinks.snk9ReadSnapshot(s,
      mdir.resolve("v3.list").toString)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(snap == Set(1L, 2L, 3L), s"v3 snapshot wrong: $snap")
  }

  test("Streaming runner hygiene: memory-sink, foreachBatch, update-mode " +
       "and crash-restart queries leave no active stream, temp view, " +
       "shuffle-partition change or checkpoint behind, and the returned " +
       "table outlives the dropped sink view") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val cases = Seq(
      "s1_tumbling", // memory sink, complete mode
      "s3_session", // memory sink, append mode
      "snk4_upsert", // foreachBatch
      "s28_update_mode", // foreachBatch, update mode
      "s26_state_evolution") // crash + restart on one checkpoint
    cases.foreach { name =>
      val c = s.newSession()
      val ckpts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      c.streams.addListener(new StreamingQueryListener {
        // posted synchronously on the query thread while it is active
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          Option(c.streams.get(e.id)).foreach(q => ckpts.add(
            q.asInstanceOf[StreamingQueryWrapper].streamingQuery
              .resolvedCheckpointRoot))
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
      def views = c.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name).toSet
      val viewsBefore = views
      val partsBefore = c.conf.get("spark.sql.shuffle.partitions")
      val df = SparkEntry.queries(name)(c, sf)
      assert(c.streams.active.isEmpty, s"$name left a query active")
      assert(views == viewsBefore,
        s"$name leaked temp views: ${views -- viewsBefore}")
      assert(c.conf.get("spark.sql.shuffle.partitions") == partsBefore,
        s"$name left spark.sql.shuffle.partitions changed")
      assert(!ckpts.isEmpty, s"$name started no streaming query")
      ckpts.asScala.foreach { root =>
        val dir = Paths.get(new org.apache.hadoop.fs.Path(root).toUri.getPath)
        assert(!Files.exists(dir), s"$name left its checkpoint $dir")
      }
      // counted before the reference run: the foreachBatch queries
      // return reads of staging dirs that a re-run overwrites
      val got = df.count()
      val expected = SparkEntry.queries(name)(s, sf).count()
      assert(expected > 0, s"$name is empty — vacuous")
      assert(got == expected,
        s"$name's returned table lost rows once its sink view was dropped")
    }
  }

  test("Generated code compiles once per JVM: re-running a streaming " +
       "query, in its own or a fresh child session, compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(c: org.apache.spark.sql.SparkSession, name: String): Unit =
      assert(SparkEntry.queries(name)(c, sf).collect().nonEmpty,
        s"$name is empty — vacuous")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c1 = s.newSession()
    run(c1, "s3_session")
    run(c1, "s1_tumbling")
    val warm = compiles
    // s3_session restarts its stream in the same child; s1_tumbling's
    // same-child re-run would be served by Streams.coreCache, so it
    // re-runs in the second child only
    run(c1, "s3_session")
    assert(compiles == warm,
      s"re-running s3_session in its session compiled ${compiles - warm} classes")
    val c2 = s.newSession()
    run(c2, "s3_session")
    run(c2, "s1_tumbling")
    assert(compiles == warm,
      s"a fresh session compiled ${compiles - warm} classes")
  }

  test("A stream forks no process: checkpoint and sink writes go through " +
       "the in-process local file system, not Hadoop's shell commands") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val c = s.newSession()
    try {
      // state store, offset and commit logs; foreachBatch parquet writes
      for (name <- Seq("s3_session", "snk4_upsert"))
        assert(SparkEntry.queries(name)(c, sf).collect().nonEmpty,
          s"$name is empty — vacuous")
    } finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      val shellForks = RecordingFile.readAllEvents(dump).asScala
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
        .map(_.getString("command"))
      assert(shellForks.size == 0, "Hadoop shell processes, e.g. " +
        shellForks.take(3).mkString("; "))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
