package graft.core

import java.io.{IOException, UncheckedIOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Owner of every scratch directory the program writes, and reader of
  * every output it commits there.
  *
  * Scratch lives in one root per process under each base:
  * `<java.io.tmpdir>/graft_scratch/p<pid>` for staging copies, sink
  * roots and test dirs, and `/dev/shm/graft_ckpt/p<pid>` for streaming
  * checkpoints when tmpfs is usable. `java.io.tmpdir` is read on every
  * call, so a process that repoints it gets a root under the new base.
  * The pid keeps two concurrent processes out of each other's dirs. The
  * first use of a base deletes the roots that dead pids left under it (a
  * killed JVM runs no exit hook); one exit hook deletes this process's
  * roots, and each base once it is empty.
  *
  * A committed output is an exactly-once sink's batch-addressed child
  * `<prefix><id>` of a root: a replayed batch id rewrites the same path,
  * so the committed set is the listing by id ([[committed]],
  * [[latest]]), and [[read]] reads it with its writer's schema, so no
  * read-back pays a schema-inference job. */
object Scratch {
  private val Pid = s"p${ProcessHandle.current().pid()}"
  private val PidName = "p(\\d{1,18})".r
  private val roots = ConcurrentHashMap.newKeySet[Path]()

  private def tmpBase: Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft_scratch")

  /** This process's root under `base`, created on demand. */
  private def root(base: Path): Path = {
    val r = base.resolve(Pid)
    if (roots.add(r)) { sweep(base); exitHook }
    // once more if another process's exit removed the empty base
    // between the creation of the base and of the root
    try Files.createDirectories(r)
    catch { case _: NoSuchFileException => Files.createDirectories(r) }
  }

  private lazy val exitHook: Unit = {
    sys.addShutdownHook(roots.forEach { r =>
      delete(r)
      try Files.deleteIfExists(r.getParent)
      catch { case _: IOException => } // another process's root is left
    })
    ()
  }

  /** Delete the `p<pid>` roots under `base` whose process is gone; any
    * other name is left alone. Best-effort: two processes may sweep the
    * same orphan at once, and a lost race must not fail the caller. */
  private[graft] def sweep(base: Path): Unit =
    try {
      val kids = Files.list(base)
      try kids.iterator().asScala.foreach { p =>
        p.getFileName.toString match {
          case PidName(pid)
              if !ProcessHandle.of(pid.toLong).filter(_.isAlive).isPresent =>
            delete(p)
          case _ =>
        }
      } finally kids.close()
    } catch { case _: IOException | _: UncheckedIOException => }

  /** This process's fixed dir `<kind>_<dataset dir>_<sha8>` for `kind`
    * over dataset dir `d`; its parent exists. Fixed, so a query's
    * repeated runs reuse one bounded location and a spec reaches the
    * path the query wrote. The dataset path is sanitized for reading and
    * suffixed with 8 hex digits of its SHA-256: two paths that sanitize
    * alike still get two dirs, so two runs over them never merge into
    * one table. The name starts with `kind`, never `_`: Spark's readers
    * skip a path whose name starts with `_` or `.`. */
  def dir(kind: String, d: String): Path = {
    val sha8 = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(UTF_8)).take(4).map("%02x".format(_)).mkString
    root(tmpBase)
      .resolve(s"${kind}_${d.replaceAll("[^a-zA-Z0-9.]", "_")}_$sha8")
  }

  /** A fresh, uniquely named dir under this process's root. */
  def fresh(prefix: String): Path =
    Files.createTempDirectory(root(tmpBase), prefix)

  /** A fresh checkpoint dir for one streaming run. Prefers tmpfs
    * (/dev/shm): checkpoint commits are many small synchronous writes
    * (offset log, commit log, one delta file per state store per batch),
    * so memory-backed storage removes the fsync tax from every
    * micro-batch. Durability is irrelevant here: each run starts from a
    * fresh checkpoint; a production deployment points this at HDFS/S3.
    * Falls back to java.io.tmpdir when /dev/shm is absent or has 64 MB
    * or less free (containers commonly cap it at 64 MB). Callers
    * [[delete]] it once the query has terminated, so repeated runs never
    * accumulate state in RAM-backed tmpfs. */
  def checkpoint(): String = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm) && Files.isWritable(shm) &&
                   shm.toFile.getUsableSpace > 64L * 1024 * 1024)
      shm.resolve("graft_ckpt") else tmpBase
    Files.createTempDirectory(root(base), "ckpt").toString
  }

  /** Delete `p` and everything under it; an absent `p` is fine. The walk
    * is closed, since a leaked one holds a directory fd until GC. */
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  def delete(p: String): Unit = delete(Paths.get(p))

  /** The `<prefix><id><suffix>` children of `root` by ascending numeric
    * id; none when `root` is absent. */
  private def byId(root: Path, prefix: String,
                   suffix: String): Seq[(Long, Path)] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val kids = Files.list(root)
      try kids.iterator().asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(prefix) || !n.endsWith(suffix)) None
        else n.stripPrefix(prefix).stripSuffix(suffix).toLongOption
          .map(_ -> p)
      }.toSeq.sortBy(_._1)
      finally kids.close()
    }

  /** Every committed output under `root`, by ascending id. An explicit
    * listing, not a `<prefix>*` glob: Spark's reader probes a glob as a
    * literal path for sink metadata and logs a full-stack
    * FileNotFoundException each time. */
  def committed(root: Path, prefix: String, suffix: String = ""): Seq[Path] =
    byId(root, prefix, suffix).map(_._2)

  /** The committed output with the highest id below `below`. */
  def latest(root: Path, prefix: String, below: Long = Long.MaxValue,
             suffix: String = ""): Option[Path] =
    byId(root, prefix, suffix).takeWhile(_._1 < below).lastOption.map(_._2)

  /** Read committed parquet outputs with the schema their writer wrote. */
  def read(s: SparkSession, schema: StructType,
           outputs: Seq[Path]): DataFrame = {
    require(outputs.nonEmpty, "no committed output to read")
    s.read.schema(schema).parquet(outputs.map(_.toString): _*)
  }
}
