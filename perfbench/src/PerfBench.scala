package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: sets up, runs one cold and several warm
  * passes of a workload in a closed loop, and prints one result line
  * (prefixed `PERFBENCH `) for `run.py`, which adds the oracle check.
  *
  * Arguments: `<mode> <workload> <seed> <seconds> <dataDir> <workDir>
  * <spanFile>`, mode being `timed`, `traced` or `scaling`. */
object Main {
  /** One query call: `fn(s, d)` (for a streaming query this runs the
    * stream) is the build, the sink write of its result is the exec. */
  final case class QueryRun(name: String, module: String, buildMs: Double,
      execMs: Double, error: Option[String],
      batches: Seq[StreamingQueryProgress]) {
    def ms: Double = buildMs + execMs

    /** Epoch latencies: each micro-batch of a streaming query, else the
      * whole batch query. */
    def epochsMs: Seq[Double] =
      if (batches.isEmpty) Seq(ms)
      else batches.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
  }

  final case class Pass(index: Int, traced: Boolean, runs: Seq[QueryRun],
      rowsRead: Long, layer: Map[String, Double]) {
    def wallS: Double = runs.map(_.ms).sum / 1e3
  }

  /** Streaming progress of every query started in one child session. */
  final class ProgressLog extends StreamingQueryListener {
    private val buf = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      buf.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def take(): Seq[StreamingQueryProgress] =
      Iterator.continually(buf.poll()).takeWhile(_ != null).toSeq
  }

  /** Task- and job-level counters. Records read are always counted (one
    * addition per task); the rest only while `full` is set, i.e. in traced
    * passes. */
  final class TaskLog(tracer: Tracer) extends SparkListener {
    @volatile var full = false
    private val readRows = new java.util.concurrent.atomic.AtomicLong()
    private val sums = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private def add(k: String, v: Double): Unit = sums.merge(k, v, _ + _)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) readRows.addAndGet(m.inputMetrics.recordsRead)
      if (full) {
        add("spark.tasks", 1)
        if (e.reason != org.apache.spark.Success) add("spark.failed_tasks", 1)
        if (m != null) {
          val dur = e.taskInfo.duration.toDouble
          add("spark.task_run_ms", m.executorRunTime)
          add("spark.sched_wait_ms", math.max(0.0, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime))
          add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
          add("spark.gc_ms", m.jvmGCTime)
          add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("spark.input_bytes", m.inputMetrics.bytesRead)
          add("spark.output_bytes", m.outputMetrics.bytesWritten)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (full) add("spark.stages", 1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (full) { add("spark.jobs", 1); jobStart.put(e.jobId, e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(e.jobId)
      if (full && t0 != 0L)
        tracer.add(s"job ${e.jobId}", "spark.job", t0.toDouble, e.time.toDouble)
    }
    def rowsRead: Long = readRows.get()
    def takeSums(): Map[String, Double] = {
      val out = sums.asScala.toMap; sums.clear(); out
    }
  }

  /** Catalyst phase times of every batch execution in a child session. */
  final class PhaseLog(tracer: Tracer) extends QueryExecutionListener {
    private val sums = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        sums.merge(s"catalyst.${phase}_ms", (p.endTimeMs - p.startTimeMs).toDouble, _ + _)
        tracer.add(phase, "catalyst", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    def takeSums(): Map[String, Double] = {
      val out = sums.asScala.toMap; sums.clear(); out
    }
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: <timed|traced|scaling> <workload> " +
      "<seed> <seconds> <dataDir> <workDir> <spanFile>")
    val Array(mode, workload, seedS, secondsS, data, work, spanFile) = argv
    require(Set("timed", "traced", "scaling")(mode), s"unknown mode $mode")
    val qs = Workloads.queries.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    // every result is checked against its oracle, so each query needs one
    val oracleLess = qs.filterNot(graft.SparkEntry.oracleSql.contains)
    require(oracleLess.isEmpty, s"queries without an oracle: $oracleLess")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = mode == "traced"
    val tracer = new Tracer

    // Set-up, several times: session start, table loads and replay
    // fixture derivation into a fresh directory each time. The last
    // session stays up for the passes.
    val setups = if (mode == "scaling") 1 else 3
    val setupS = ArrayBuffer[Double]()
    val ensureMs = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val tmp = Files.createDirectories(Paths.get(work, s"tmp$i"))
      System.setProperty("java.io.tmpdir", tmp.toString)
      val t0 = System.nanoTime()
      spark = graft.Harness.session(checksumFreeFs = true)
      graft.core.Tables.registerAll(spark, data)
      val t1 = System.nanoTime()
      Workloads.replayVariants(workload).foreach(v =>
        graft.streaming.Replayer.ensure(spark, data, v))
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      ensureMs += (t2 - t1) / 1e6
    }
    val sc = spark.sparkContext
    val taskLog = new TaskLog(tracer)
    sc.addSparkListener(taskLog)
    val canaryBefore = if (traced) canaryMs(spark) else 0.0

    val results = Paths.get(work, "results")
    val shuffler = new scala.util.Random(seed)

    /** One pass in a fresh child session; `toFiles` writes each result as
      * parquet under `results` instead of into the noop sink. */
    def pass(index: Int, tracePass: Boolean, toFiles: Boolean): Pass = {
      val c = spark.newSession()
      val progress = new ProgressLog
      c.streams.addListener(progress)
      val phases = new PhaseLog(tracer)
      if (tracePass) c.listenerManager.register(phases)
      taskLog.full = tracePass
      tracer.on = tracePass
      val rdds0 = sc.getPersistentRDDs.size
      val compiles0 = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
      val compileNs0 = org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime
      PerfbenchBus.drain(sc)
      val rows0 = taskLog.rowsRead
      val passStart = tracer.now
      // the cold pass runs in listed order, so the JIT forms the same
      // profile whatever the seed; the seed orders every warm pass
      val runs = (if (index == 0) qs else shuffler.shuffle(qs)).map { q =>
        val (module, fn) = Workloads.resolve(q)
        val start = tracer.now
        var build = 0.0; var exec = 0.0; var error: Option[String] = None
        val t0 = System.nanoTime()
        try {
          val df = fn(c, data)
          val t1 = System.nanoTime(); build = (t1 - t0) / 1e6
          if (toFiles) df.write.mode("overwrite").parquet(results.resolve(q).toString)
          else df.write.mode("overwrite").format("noop").save()
          exec = (System.nanoTime() - t1) / 1e6
        } catch {
          case e: Throwable =>
            if (build == 0.0) build = (System.nanoTime() - t0) / 1e6
            else exec = (System.nanoTime() - t0) / 1e6 - build
            error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            System.err.println(s"[perfbench] $q failed: ${error.get}")
        }
        PerfbenchBus.drain(sc)
        val run = QueryRun(q, module, build, exec, error, progress.take())
        tracer.add(q, module, start, start + build + exec)
        tracer.add("build", "build", start, start + build)
        tracer.add("exec", "exec", start + build, start + build + exec)
        run.batches.foreach { p =>
          val b0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          tracer.add(s"batch ${p.batchId}", "stream.batch", b0,
            b0 + p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
        }
        run
      }
      val passEnd = tracer.now
      tracer.add(s"pass $index", "pass", passStart, passEnd)
      PerfbenchBus.drain(sc)
      c.streams.removeListener(progress)
      if (tracePass) c.listenerManager.unregister(phases)
      taskLog.full = false
      tracer.on = false
      val layer: Map[String, Double] = if (!tracePass) Map.empty else {
        val exempt = Set("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        val views = c.catalog.listTables().collect()
          .count(t => t.isTemporary && !exempt(t.name))
        taskLog.takeSums() ++ phases.takeSums() ++ streamLayer(runs) ++
          moduleLayer(runs) ++ tracer.selfTimes(passStart, passEnd) ++ Map(
            "codegen.compiles" -> (org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
            "codegen.compile_ms" -> (org.apache.spark.sql.catalyst.expressions
              .codegen.CodeGenerator.compileTime - compileNs0) / 1e6,
            "session.persisted_rdds_delta" -> (sc.getPersistentRDDs.size - rdds0).toDouble,
            "session.active_streams" -> (c.streams.active.length +
              spark.streams.active.length).toDouble,
            "session.temp_views_delta" -> views.toDouble)
      }
      Pass(index, tracePass, runs, taskLog.rowsRead - rows0, layer)
    }

    // cold pass: the first in this JVM; its results are what the oracle
    // checks, so it writes parquet (the warm passes use the noop sink)
    val cold = pass(0, traced, toFiles = mode != "scaling")
    val warm = ArrayBuffer[Pass]()
    val minPasses = if (mode == "timed") 3 else 2
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // traced runs order their passes untraced, traced, traced, untraced,
    // ..., so one JVM reads the tracing overhead and the JIT's warm-up
    // trend weighs on both sides alike
    while (warm.size < minPasses * (if (traced) 2 else 1) || elapsed < seconds) {
      val i = warm.size + 1
      warm += pass(i, traced && (i % 4 == 2 || i % 4 == 3), toFiles = false)
    }

    if (mode != "scaling") {
      Files.createDirectories(results)
      Files.writeString(results.resolve("oracle_sql.json"), Json.obj(
        graft.SparkEntry.oracleSql.filter(kv => qs.contains(kv._1))
          .map { case (k, v) => k -> Json.str(v) }))
    }

    val canaryAfter = if (traced) canaryMs(spark) else 0.0
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val untracedWarm = warm.filterNot(_.traced).toSeq
    val tracedWarm = warm.filter(_.traced).toSeq
    val wallS = Stats.median(untracedWarm.map(_.wallS))
    val epochs = untracedWarm.flatMap(_.runs).flatMap(_.epochsMs)
    val allRuns = (cold +: warm.toSeq).flatMap(_.runs)
    val errors = allRuns.filter(_.error.nonEmpty)
      .map(r => r.name -> r.error.get).distinct

    val e2e = Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "cold_s" -> cold.wallS,
      "wall_s" -> wallS,
      "batch_p50_ms" -> Stats.quantile(epochs, 0.5),
      "batch_p90_ms" -> Stats.quantile(epochs, 0.9),
      "events_per_s" -> Stats.median(untracedWarm.map(p => p.rowsRead / p.wallS)),
      "heap_mb" -> heapMb)

    val layer: Seq[(String, Double)] = if (!traced) Seq.empty else {
      val keys = tracedWarm.flatMap(_.layer.keys).distinct
      keys.map(k => k -> Stats.median(tracedWarm.map(_.layer.getOrElse(k, 0.0)))) ++ Seq(
        "replayer.ensure_ms" -> Stats.median(ensureMs.toSeq),
        "host.canary_ms" -> (canaryBefore + canaryAfter) / 2,
        "trace_overhead" -> Stats.median(tracedWarm.map(_.wallS)) / wallS)
    }

    if (traced) {
      val passes = (cold +: warm.toSeq).map { p =>
        Json.obj(Seq("pass" -> p.index.toString, "traced" -> p.traced.toString,
          "wall_s" -> Json.num(p.wallS),
          "queries" -> Json.arr(p.runs.map(r => Json.obj(Seq(
            "name" -> Json.str(r.name), "module" -> Json.str(r.module),
            "build_ms" -> Json.num(r.buildMs), "exec_ms" -> Json.num(r.execMs),
            "batches" -> r.batches.size.toString)))),
          "layer" -> Json.obj(p.layer.toSeq.sortBy(_._1)
            .map { case (k, v) => k -> Json.num(v) })))
      }
      Files.createDirectories(Paths.get(spanFile).getParent)
      Files.writeString(Paths.get(spanFile), Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "passes" -> Json.arr(passes),
        "self_ms" -> Json.obj(tracer.selfTimes(0, Double.MaxValue).toSeq
          .sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "spans" -> tracer.json)))
    }

    sc.removeSparkListener(taskLog)
    val rt = Runtime.getRuntime
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "queries" -> Json.arr(qs.map(Json.str)),
      "attempted" -> allRuns.size.toString,
      "failed_runs" -> allRuns.count(_.error.nonEmpty).toString,
      "errors" -> Json.obj(errors.map { case (k, v) => k -> Json.str(v) }),
      "warm_passes" -> untracedWarm.size.toString,
      "setups_s" -> Json.arr(setupS.map(Json.num)),
      "passes_s" -> Json.arr((cold +: warm.toSeq).map(p => Json.num(p.wallS))),
      "query_ms" -> Json.obj((cold +: warm.toSeq).flatMap(_.runs).groupBy(_.name)
        .map { case (k, rs) => k -> Json.arr(rs.map(r => Json.num(r.ms.round.toDouble))) }),
      "epochs" -> epochs.size.toString,
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(Seq(
        "cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
        "nproc" -> rt.availableProcessors.toString,
        "java" -> Json.str(System.getProperty("java.version")),
        "xmx_mb" -> (rt.maxMemory / 1048576).toString))))
    println("PERFBENCH " + out)
    spark.stop()
  }

  /** Fixed-work, data-independent job: a read of the CPU available now. */
  private def canaryMs(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    s.range(0L, 4L << 20, 1L, 16).select(bit_xor(xxhash64(col("id")))).collect()
    (System.nanoTime() - t0) / 1e6
  }

  /** Per-pass sums over the micro-batches of every streaming query. */
  private def streamLayer(runs: Seq[QueryRun]): Map[String, Double] = {
    val bs = runs.flatMap(_.batches)
    def phase(k: String) = bs.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum
    val ops = bs.flatMap(_.stateOperators)
    // state size: the last batch of each query holds its final state
    val finalOps = runs.filter(_.batches.nonEmpty).flatMap(_.batches.last.stateOperators)
    Map(
      "stream.batches" -> bs.size.toDouble,
      "stream.input_rows" -> bs.map(_.numInputRows).sum.toDouble,
      "stream.empty_batch_frac" ->
        (if (bs.isEmpty) 0.0 else bs.count(_.numInputRows == 0).toDouble / bs.size),
      "stream.trigger_ms" -> phase("triggerExecution"),
      "stream.addBatch_ms" -> phase("addBatch"),
      "stream.queryPlanning_ms" -> phase("queryPlanning"),
      "stream.walCommit_ms" -> phase("walCommit"),
      "stream.commitOffsets_ms" -> phase("commitOffsets"),
      "stream.latestOffset_ms" -> phase("latestOffset"),
      "stream.state_rows" -> finalOps.map(_.numRowsTotal).sum.toDouble,
      "stream.state_mem_bytes" -> finalOps.map(_.memoryUsedBytes).sum.toDouble,
      "stream.state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
      "stream.rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  /** `<Module>.build_ms` and `<Module>.exec_ms` of every measured module. */
  private def moduleLayer(runs: Seq[QueryRun]): Map[String, Double] =
    Workloads.measuredModules.flatMap { m =>
      val rs = runs.filter(_.module == m)
      Seq(s"$m.build_ms" -> rs.map(_.buildMs).sum, s"$m.exec_ms" -> rs.map(_.execMs).sum)
    }.toMap
}

/** Spans of the traced passes, kept in memory and written at the end. A
  * span's parent is the innermost span of a higher layer that contains
  * it, and every span under a query carries that query's id. */
final class Tracer {
  final case class Span(layer: String, name: String, start: Double, end: Double)
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Wall clock in epoch milliseconds at nanosecond resolution. */
  def now: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  def add(name: String, layer: String, start: Double, end: Double): Unit =
    if (on) spans.add(Span(layer, name, start, end))

  /** Layer rank: a span's parent has a lower rank. */
  private def rank(layer: String): Int = layer match {
    case "pass" => 0
    case "build" | "exec" => 2
    case "stream.batch" => 3
    case "spark.job" | "catalyst" => 4
    case _ => 1 // a query, named after its module
  }

  /** Layer name used for self time: queries are grouped as `query`. */
  private def group(layer: String): String =
    if (rank(layer) == 1) "query" else layer

  /** Parent index of each span (-1 for a root); ms-resolution listener
    * times get 1 ms of slack. */
  private def parents(ss: IndexedSeq[Span]): IndexedSeq[Int] =
    ss.map { s =>
      ss.indices.filter { j =>
        val p = ss(j)
        rank(p.layer) < rank(s.layer) && p.start - 1 <= s.start && s.end <= p.end + 1
      }.sortBy(j => (-rank(ss(j).layer), ss(j).end - ss(j).start))
        .headOption.getOrElse(-1)
    }

  /** Self time per layer (span time minus the time its children cover),
    * over the spans inside [from, to]. */
  def selfTimes(from: Double, to: Double): Map[String, Double] = {
    val ss = spans.asScala.filter(s => s.start >= from - 1 && s.end <= to + 1).toIndexedSeq
    val par = parents(ss)
    val kids = ss.indices.groupBy(par)
    ss.indices.map { i =>
      val s = ss(i)
      val covered = kids.getOrElse(i, Seq.empty)
        .map(j => (math.max(s.start, ss(j).start), math.min(s.end, ss(j).end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      group(s.layer) -> math.max(0.0, s.end - s.start - covered)
    }.groupMapReduce(kv => s"self.${kv._1.replace("stream.", "").replace("spark.", "")}_ms")(_._2)(_ + _)
  }

  /** Spans as rows `[id, parent, query, layer, name, start_ms, end_ms]`. */
  def json: String = {
    val ss = spans.asScala.toIndexedSeq
    val par = parents(ss)
    def query(i: Int): Int =
      if (i < 0) -1 else if (rank(ss(i).layer) == 1) i else query(par(i))
    Json.arr(ss.indices.map { i =>
      val s = ss(i)
      Json.arr(Seq(i.toString, par(i).toString, query(i).toString, Json.str(s.layer),
        Json.str(s.name), Json.num(s.start), Json.num(s.end)))
    })
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = h.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

/** Minimal JSON writer; values passed in are already JSON text. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
