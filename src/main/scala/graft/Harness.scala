package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFs}

/** Shared session + measurement protocol for the driver-contract mains
  * (Verify, Bench, AnnBench). One definition of the correctly-
  * configured local session and of BASELINE.md's timing rule (1 warm-up
  * + 3 timed noop-sink runs, report the p50) — so a protocol change
  * (e.g. a new required session conf like the nanosAsLong fix) cannot
  * drift between the tools that all claim to measure the same way. */
object Harness {
  /** The builder every session of this program starts from (Harness,
    * Engine, the test session): UTC, nanos-tolerant parquet reads, no
    * UI, artifact isolation off, a 1000-class generated-code cache, and
    * an in-process local file system for `file:`.
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
    * The cache holds 1000 classes instead of Spark's 100 because it is a
    * Guava cache of 4 segments that evict separately, and the segment of
    * a class depends on the class loader's identity hash. At 100 entries
    * a 25-entry segment can evict a class a warm run still uses, and
    * which classes go differs from one JVM to the next.
    *
    * `file:` is bound to `graft.core`'s in-process local file system,
    * for the FileSystem API (`fs.file.impl`: batch writes through
    * FileOutputCommitter) and for FileContext
    * (`fs.AbstractFileSystem.file.impl`: the streaming checkpoint
    * manager's offset, commit and source logs and state files). Spark
    * ships without Hadoop's native library (`libhadoop`), so Hadoop's
    * own local file system forks `chmod` on every file create and mkdir
    * and `readlink` twice on every FileContext rename, about 40
    * processes per micro-batch. One fork costs about 2 ms in a JVM with
    * a 3 GB heap; the same `chmod` through `java.nio` costs about
    * 0.01 ms.
    *
    * `checksumFreeFs` (timing sessions only: Bench, AnnBench,
    * ScaleSweep, PlanDump and perfbench) binds FileContext to the raw
    * file system, so checkpoint files get no `.crc` twin. Without the
    * forks that buys nothing measurable: five paired perfbench
    * `stream-replay` runs on a 4-core host read a median `batch_p50_ms`
    * of 234.5 ms raw against 229.5 ms checksummed, the raw side lower in
    * 3 of 5 pairs. The trade is losing
    * checksum detection of on-disk checkpoint corruption, so
    * correctness runs (Verify, tests) keep the checksummed FileContext.
    * The FileSystem API keeps its `.crc` twins either way. */
  def builder(checksumFreeFs: Boolean = false): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
              (if (checksumFreeFs) classOf[NioRawLocalFs]
               else classOf[NioLocalFs]).getName)

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
