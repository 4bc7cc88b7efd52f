package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared session + measurement protocol for the driver-contract mains
  * (Verify, Bench, TimeOne, AnnBench). One definition of the correctly-
  * configured local session and of BASELINE.md's timing rule (1 warm-up
  * + 3 timed noop-sink runs, report the p50) — so a protocol change
  * (e.g. a new required session conf like the nanosAsLong fix) cannot
  * drift between the tools that all claim to measure the same way. */
object Harness {
  /** The builder every session of this program starts from (Harness,
    * Engine, the test session): UTC, nanos-tolerant parquet reads, no
    * UI, and artifact isolation off.
    *
    * Artifact isolation is off because Spark keys its generated-code
    * cache (`CodeGenerator.cache`) by the task thread's context class
    * loader as well as the code. With isolation on, every
    * `newSession()` and every streaming query's cloned session runs its
    * tasks under a new per-session executor class loader, so code
    * already compiled in the JVM is compiled again. This program adds
    * no per-session artifact (no `addArtifact`, `addJar` or `ADD JAR`),
    * so isolation only costs the recompiles.
    *
    * `checksumFreeFs` (TIMING sessions only — Bench/TimeOne/AnnBench):
    * rebinds file:'s AbstractFileSystem to RawLocalFs so FileContext
    * users — i.e. the structured-streaming checkpoint file manager
    * (offset/commit WAL, state delta/changelog commits) — skip the .crc
    * twin Hadoop's default local Fs writes beside every file. On a
    * per-run tmpfs checkpoint that halves the many small synchronous
    * writes every micro-batch pays (~35 ms → ~18 ms per write, measured
    * on the checkpoint commits of a streaming agg). The trade is losing
    * checksum DETECTION of on-disk checkpoint corruption, so
    * correctness-gate runs (Verify, tests) keep the default checksummed
    * FS — a timing capture is re-runnable,
    * a silently-corrupt correctness verdict is not. Batch parquet I/O
    * is untouched either way (FileSystem API, fs.file.impl key); a
    * production deployment points checkpoints at HDFS/S3, whose
    * AbstractFileSystem carries its own integrity story. */
  def builder(checksumFreeFs: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
    if (checksumFreeFs)
      b.config("spark.hadoop.fs.AbstractFileSystem.file.impl",
               "org.apache.hadoop.fs.local.RawLocalFs")
    b
  }

  /** The driver-contract local session: the shared `builder` at
    * local[$SPARK_GRAFT_CPUS] with matching shuffle parallelism.
    * (Native functions self-register on first use via
    * GraftFunctions.ensure inside the queries that need them.) */
  def session(checksumFreeFs: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = builder(checksumFreeFs)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One timed noop-sink run: the full plan executes (including sorts a
    * bare count() would let Catalyst drop), no sink I/O is paid. */
  def timeOnce(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** BASELINE.md protocol: 1 warm-up + 3 timed runs, sorted ascending
    * (index 1 is the reported p50). */
  def timed3(df: => DataFrame): Seq[Double] = {
    timeOnce(df)
    Seq(timeOnce(df), timeOnce(df), timeOnce(df)).sorted
  }
}
