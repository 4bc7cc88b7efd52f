package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Scratch, Tables}
import graft.streaming.Replayer

/** Scale-path demonstrations that local[N] can actually prove:
  * RocksDB-backed streaming state (the 100 TB state-store backend is a
  * config switch, not a code change) and bucketed co-located joins
  * (shuffle-free fact⋈fact at rest).
  */
class ScaleSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  test("streaming agg is identical under the RocksDB state store provider") {
    val dir = Replayer.ensure(s, TestSpark.Sf, "clean")
    val schema = s.read.parquet(dir).schema
    val key = "spark.sql.streaming.stateStore.providerClass"
    def run(provider: Option[String]): Set[String] = {
      val name = "rocks_" + java.util.UUID.randomUUID().toString.take(8)
      val old = s.conf.getOption(key)
      val ckpt = Scratch.checkpoint()
      provider.foreach(s.conf.set(key, _)) // session conf, read at start
      try {
        val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(name).outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // the provider must actually have been used
        provider.foreach { p =>
          assert(q.lastProgress.stateOperators.isEmpty ||
            s.conf.get(key) == p)
        }
      } finally old.fold(s.conf.unset(key))(s.conf.set(key, _))
      try s.table(name).collect().map(_.toString).toSet
      finally { s.catalog.dropTempView(name); Scratch.delete(ckpt) }
    }
    val rocks = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val hdfs = run(None)
    assert(rocks == hdfs && rocks.nonEmpty)
  }

  test("RocksDB-backed dedup state survives a mid-stream kill and " +
       "restart exactly-once") {
    // the "dup" replay copies every 101st event one file later, so the
    // dedup state built in phase 1 is what prevents double-counting in
    // phase 2 — losing it across the restart would break the checksum
    val sf = TestSpark.Sf
    val dir = Replayer.ensure(s, sf, "dup")
    val schema = s.read.parquet(dir).schema
    // run under the CANONICAL RocksDB conf map (provider + changelog
    // checkpointing), so the exactly-once restart proof covers exactly
    // what the s8 family ships with
    val olds = graft.streaming.Streams.RocksDbConf.map {
      case (k, _) => k -> s.conf.getOption(k) }
    graft.streaming.Streams.RocksDbConf.foreach {
      case (k, v) => s.conf.set(k, v) }
    val restoreConfs = () => olds.foreach {
      case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    val ckpt = Scratch.fresh("graft_rocks_ckpt").toString
    val out = Scratch.fresh("graft_rocks_out").toString
    def stream(path: String) = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(path)
      .withWatermark("ts", "10 minutes").dropDuplicates("event_id")
      .select(col("event_id"), col("event_type"))
    try {
      // phase 1: a RESTRICTED glob (first 3 of the 5 replay files),
      // drained to completion — a deterministic strict prefix. (The
      // previous shape polled recentProgress then stop()ed; on a fast
      // machine all 5 files finished in phase 1 and the restart-resume
      // path was vacuous.) The dup copies of file-2 rows land in file 3,
      // so phase 2 can only stay exactly-once via phase-1 RocksDB state.
      val q1 = stream(s"$dir/batch0[0-2].parquet").writeStream
        .format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      val partial = s.read.parquet(out).count()
      val total = Tables.events(s, sf).count()
      assert(partial > 0 && partial < total,
        s"restart test needs a strict prefix, got $partial of $total rows")
      // the changelog conf must have TAKEN EFFECT, not just been set:
      // with changelog checkpointing each batch commits a .changelog
      // file under the state dir (a full-snapshot .zip per batch is
      // exactly what the setting removes)
      val changelogs = {
        val walk = Files.walk(Paths.get(ckpt, "state"))
        try walk.iterator().asScala
          .count(_.getFileName.toString.endsWith(".changelog"))
        finally walk.close()
      }
      assert(changelogs > 0,
        "no .changelog files under the checkpoint state dir — " +
          "changelog checkpointing did not engage")
      // phase 2: same checkpoint, full dir — the source's seen-files log
      // resumes after the prefix; the dedup state must survive restart
      val q2 = stream(dir).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      // the resume path must have actually processed input — otherwise
      // this test degenerates to re-checking batch dedup
      assert(q2.recentProgress.map(_.numInputRows).sum > 0,
        "phase 2 processed no input — restart-resume path was vacuous")
    } finally restoreConfs()
    val fin = s.read.parquet(out)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val exp = Tables.events(s, sf)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(fin.getLong(0) == exp.getLong(0),
      s"dedup broke across restart: ${fin.getLong(0)} vs ${exp.getLong(0)} rows")
    assert(fin.getLong(1) == exp.getLong(1), "content checksum diverged")
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    // makes §4's "AQE handles skew" claim executable: 90% of the left
    // rows share one key; with broadcast disabled and the skew threshold
    // lowered to test scale, OptimizeSkewedJoin must split that partition
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val olds = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val left = s.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id"))
          .as("k"), col("id").as("payload"))
      val right = s.range(0, 2000)
        .select(col("id").as("k"), (col("id") * 2).as("rv"))
      val j = left.join(right, "k")
      // collect() runs THIS Dataset's QueryExecution (foreach/write would
      // clone it and the finalized AQE plan would be invisible here)
      assert(j.collect().length == 180200) // 180001 key-0 rows + 199 others
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split join:\n${plan.take(3000)}")
    } finally olds.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  test("bucketed tables join without a shuffle exchange") {
    // note: builder configs are ignored when getOrCreate returns the
    // shared test session — use it directly and clean both catalog
    // entries AND their managed locations (saveAsTable refuses to reuse
    // a leftover location)
    val s2 = TestSpark.spark
    def cleanup(): Unit = Seq("orders_b", "lineitem_b").foreach { t =>
      s2.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        s2.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (Files.exists(loc))
        Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
    }
    cleanup()
    // 100 TB: bucketing orders and lineitem on the join key at write time
    // makes the fact⋈fact join shuffle-free forever after
    Tables.orders(s2, TestSpark.Sf)
      .write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    Tables.lineitem(s2, TestSpark.Sf)
      .write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    val j = s2.table("orders_b").join(s2.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val plan = j.queryExecution.executedPlan.toString
    val joinSection = plan.split("HashAggregate").last
    assert(joinSection.contains("SortMergeJoin") ||
           joinSection.contains("ShuffledHashJoin") ||
           joinSection.contains("BroadcastHashJoin"), plan)
    // the join inputs must come straight from the bucketed scans — no
    // Exchange between the scans and the join
    val joinIdx = plan.indexOf("Join")
    val afterJoin = plan.substring(joinIdx)
    assert(!afterJoin.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // sanity: result matches the unbucketed join
    val expect = Tables.orders(s2, TestSpark.Sf)
      .join(Tables.lineitem(s2, TestSpark.Sf),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).toSet
    assert(j.collect().map(_.toString).toSet == expect)
    cleanup()
  }

  test("three stateful streaming queries run CONCURRENTLY in one " +
       "session and each matches its sequential result") {
    // A production job server multiplexes streaming queries on one
    // SparkSession; correctness must not depend on queries running
    // alone. Three different stateful operator classes (windowed agg,
    // watermarked dedup, complete-mode count) share the session, the
    // scheduler, and the state-store coordinator, each with its own
    // checkpoint; every final table must equal the one its query
    // produces when run by itself (the canonical S-series results).
    import org.apache.spark.sql.DataFrame
    val sf = TestSpark.Sf
    def mk(name: String): (String, DataFrame, String) = name match {
      case "agg" =>
        ("complete",
          Replayer.stream(s, sf, "clean")
            .withWatermark("ts", Replayer.WatermarkDelay)
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n")),
          "conc_agg")
      case "dedup" =>
        ("append",
          Replayer.stream(s, sf, "dup")
            .withWatermark("ts", Replayer.WatermarkDelay)
            .dropDuplicatesWithinWatermark(Seq("event_id"))
            .select(col("event_id"), col("event_type")),
          "conc_dedup")
      case "count" =>
        ("complete",
          Replayer.stream(s, sf, "clean")
            .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
          "conc_count")
    }
    def run(names: Seq[String]): Map[String, Set[String]] = {
      val started = names.map { n =>
        val (mode, df, table) = mk(n)
        val ckpt = Scratch.checkpoint()
        val q = df.writeStream.format("memory")
          .queryName(table + names.size) // distinct per run shape
          .outputMode(mode)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        (n, table + names.size, q, ckpt)
      }
      started.foreach(_._3.awaitTermination())
      val out = started.map { case (n, table, _, ckpt) =>
        val rows = s.table(table).collect().map(_.toString).toSet
        Scratch.delete(ckpt)
        s.catalog.dropTempView(table)
        n -> rows
      }.toMap
      out
    }
    val sequential = Seq("agg", "dedup", "count").map { n =>
      n -> run(Seq(n))(n) }.toMap
    val concurrent = run(Seq("agg", "dedup", "count"))
    for (n <- Seq("agg", "dedup", "count")) {
      assert(concurrent(n).nonEmpty, s"$n produced no rows")
      assert(concurrent(n) == sequential(n),
        s"$n diverged when run concurrently")
    }
  }

  test("ScaleSweep sweeps registered queries and rejects an unknown " +
       "subset name") {
    val qs = ScaleSweep.Queries
    assert(qs.size == 82 && qs.distinct == qs)
    assert(qs.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(ScaleSweep.select("-") == qs)
    // a subset may name any registered query, swept in the given order
    assert(ScaleSweep.select("s1_tumbling, j12_recursive,s1_tumbling") ==
      Seq("s1_tumbling", "j12_recursive"))
    val e = intercept[IllegalArgumentException](
      ScaleSweep.select("j12_recursive,nope_q"))
    assert(e.getMessage.contains("nope_q"))
    intercept[IllegalArgumentException](ScaleSweep.select(","))
  }
}
