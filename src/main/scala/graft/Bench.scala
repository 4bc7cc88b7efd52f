package graft

/** Benchmark main (driver contract). Protocol per BASELINE.md: for each
  * query, 1 warm-up + 3 timed runs, report the median (p50).
  *
  * The timed action is a `noop`-format write: it fully executes the plan
  * (including sorts and projections that a bare `.count()` would let
  * Catalyst eliminate) without paying sink I/O. Per-query failures are
  * reported in the JSON (`errors` map) instead of being swallowed.
  *
  * Contention canary: machine-state CPU contention has mispriced
  * individual captures by up to 8.8× (one driver capture priced l21 at
  * 4.99 s against 0.52–0.68 s in eight committed captures of the same
  * commit). A
  * FIXED-WORK data-independent calibration job runs before and after
  * the sweep; its times ship in the JSON (`canary`) so any capture can
  * be priced against the committed history of the same fixed work —
  * nominal on this box is 0.20–0.35 s (BASELINE.md). A canary far above
  * nominal marks the whole capture as contended, not a regression.
  *
  * Output protocol: the FULL JSON (all per-query timings) is written to
  * BENCH.json; on stdout a SHORT self-contained summary line is printed
  * both FIRST and LAST (with the full line between) because the
  * driver's stdout buffer has truncated from either end before (a
  * clipped head of the full line parsed as `null`; tail-only parsing
  * missed it). Whichever end survives carries complete,
  * parseable JSON with the totals, the canary, and the slowest queries.
  *
  * Per-query bands: BANDS.json (committed) holds [lo, hi] p50 bands per
  * query from the committed capture history. Any query priced outside
  * its band ships in `out_of_band` next to the canary, so a capture
  * self-flags machine-state outliers (one driver capture priced
  * j8_asof/l10_minhash_lsh 4× over their committed values while the
  * whole-capture canary stayed in-band).
  */
object Bench {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  /** Repo root for the capture artifacts (BENCH.json, BENCH_SUMMARY.json)
    * and the committed BANDS.json: the cwd when it holds BANDS.json (the
    * normal sbt-in-repo case), else the canonical checkout — a driver
    * invoking Bench from another cwd would otherwise write the sidecar
    * where nobody looks and silently skip the band self-flagging. */
  private val repoRoot: java.nio.file.Path = {
    val cwd = java.nio.file.Paths.get(".").toAbsolutePath.normalize
    if (java.nio.file.Files.exists(cwd.resolve("BANDS.json"))) cwd
    else {
      val r = java.nio.file.Paths.get("/root/repo")
      if (java.nio.file.Files.exists(r.resolve("BANDS.json"))) r else cwd
    }
  }

  /** Fixed-work calibration job: 16M xxhash64 rows over 32 even range
    * partitions — pure CPU + scheduler, no input data, no shuffle. The
    * same work every capture on every machine, so its time is a direct
    * read of available CPU at capture time. Folded with bit_xor, not
    * sum: 16M uniform 64-bit hashes overflow a long sum under ANSI. */
  private def canaryOnce(s: SparkSession): Double =
    Harness.timeOnce(
      s.range(0L, 16L * 1024 * 1024, 1L, 32)
        .select(bit_xor(xxhash64(col("id"))).as("h")))

  private def defaultSfDir =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** No arguments: the full sweep. `<name>... [sfDir]`: times only the
    * named queries under the same protocol and prints each p50; writes
    * no BENCH.json or BENCH_SUMMARY.json. An unknown name fails before a
    * session starts. */
  def main(args: Array[String]): Unit =
    if (args.isEmpty) sweep(defaultSfDir)
    else {
      val (names, sfDir) =
        if (args.last.contains("/")) (args.init.toSeq, args.last)
        else (args.toSeq, defaultSfDir)
      val picked = ScaleSweep.select(names.mkString(","))
      val spark = Harness.session(checksumFreeFs = true)
      picked.foreach { name =>
        val timed = Harness.timed3(SparkEntry.queries(name)(spark, sfDir))
        println(f"[bench] $name p50=${timed(1)}%.3f " +
          s"all=${timed.map(t => f"$t%.3f").mkString(",")}")
      }
      spark.stop()
    }

  private def sweep(sfDir: String): Unit = {
    val spark = Harness.session(checksumFreeFs = true)

    canaryOnce(spark) // warm-up (JIT + range codegen)
    val canaryStart = canaryOnce(spark)

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val timed = Harness.timed3(fn(spark, sfDir))
        Some(name -> timed(1)) // p50 of 3
      } catch {
        case e: Throwable =>
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          System.err.println(s"[bench] $name FAILED: ${errors(name)}")
          None
      }
    }
    val canaryEnd = canaryOnce(spark)
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    // Locale.ROOT: the default-locale formatter would emit comma
    // decimals (invalid JSON) on e.g. de_DE JVMs
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"${q(k)}:${ms(v)}" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // end/start ratio: >1 means the machine degraded DURING the capture;
    // either value far above the committed nominal means it was
    // contended THROUGHOUT (the l21 mispricing above).
    val canary = s"""{"start_sec":${ms(canaryStart)},"end_sec":${ms(canaryEnd)},"ratio":${ms(canaryEnd / math.max(canaryStart, 1e-9))}}"""
    // Per-query band check against the committed capture history.
    val outOfBand: Seq[(String, Double, Array[Double])] = loadBands() match {
      case Some(bands) =>
        results.flatMap { case (k, v) =>
          bands.get(k).collect { case b if v < b(0) || v > b(1) => (k, v, b) }
        }
      case None => Seq.empty
    }
    val oobJson = outOfBand
      .map { case (k, v, b) => s"${q(k)}:{\"sec\":${ms(v)},\"band\":[${ms(b(0))},${ms(b(1))}]}" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"errors":$errJson,"n_failed":${errors.size},"canary":$canary,"out_of_band":$oobJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(repoRoot.resolve("BENCH.json"), line)
    catch { case e: Throwable => System.err.println(s"[bench] BENCH.json write failed: $e") }
    // Short summary FIRST and LAST (full line between): complete JSON
    // survives whether the driver's buffer drops the head or the tail.
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"${q(k)}:${ms(v)}" }.mkString("{", ",", "}")
    val summary = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"n_failed":${errors.size},"canary":$canary,"out_of_band":$oobJson,"slowest":$slowest,"queries_detail":"BENCH.json","sf":"$sfDir"}"""
    // File sidecar of the same summary: the driver has recorded
    // `parsed:null` when BOTH stdout ends were clipped — a file survives
    // regardless of stdout buffering.
    try java.nio.file.Files.writeString(
      repoRoot.resolve("BENCH_SUMMARY.json"), summary)
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_SUMMARY.json write failed: $e") }
    println(summary)
    println(line)
    println(summary)
    spark.stop()
  }

  /** Parse BANDS.json (flat extraction, no JSON lib on the classpath):
    * pulls every `"name":[lo,hi]` pair under the top-level "bands" key.
    * Absent or malformed file → None (bench still runs, no flags). */
  private def loadBands(): Option[Map[String, Array[Double]]] = {
    val p = repoRoot.resolve("BANDS.json")
    if (!java.nio.file.Files.exists(p)) return None
    try {
      val text = java.nio.file.Files.readString(p)
      val body = text.substring(text.indexOf("\"bands\""))
      val re = """"([A-Za-z0-9_]+)"\s*:\s*\[\s*([-0-9.eE]+)\s*,\s*([-0-9.eE]+)\s*\]""".r
      Some(re.findAllMatchIn(body).map { m =>
        m.group(1) -> Array(m.group(2).toDouble, m.group(3).toDouble)
      }.toMap)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] BANDS.json unreadable: $e"); None
    }
  }
}
