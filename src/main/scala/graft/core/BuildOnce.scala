package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Build-once artifacts derived from one parquet path: every table's
  * inferred schema ([[Tables.t]]) and each replay fixture's
  * ([[graft.streaming.Replayer]]), the trained IVF, PQ and residual
  * codebooks, the BPE model and l36/l37's component relation. An entry
  * is keyed by (name, parameters, path) and the path's file
  * [[fingerprint]], so regenerating a table at the same path re-infers
  * and retrains instead of serving a stale artifact. A stale entry is
  * never served (lookups always use the current fingerprint); the sweep
  * only bounds memory, and it runs BEFORE the lookup, so a slow build
  * that started on an old fingerprint can never evict a fresher entry —
  * at worst its own stale insert survives until the next call.
  *
  * The key holds no session conf. Of the confs that shape an artifact,
  * only parquet's `nanosAsLong` changes an inferred schema here (a
  * legacy TIMESTAMP(NANOS) `events.ts` reads as Long under it), and
  * every session is built by [[graft.Harness.builder]], which sets it.
  *
  * The first call of a timed query pays the build (for a table schema,
  * one footer-read Spark job); later calls read the artifact. This is
  * the one place where a cold (first-call) time can charge a build to
  * the query that needs it. */
object BuildOnce {

  private final case class Key(name: String, params: Any, path: String,
                               fp: String)

  /** A build that runs at most once. The map only installs the holder,
    * and the build runs outside the map's bin lock, so a build may
    * itself read another artifact (the residual codebooks read the
    * coarse quantizer) without a recursive update of the map. A build
    * that throws leaves the holder empty and the next call retries. */
  private final class Once(build: () => Any) {
    lazy val value: Any = build()
  }

  private val built = new ConcurrentHashMap[Key, Once]()

  def apply[T](name: String, params: Any, path: String)(build: => T): T = {
    val key = Key(name, params, path, fingerprint(path))
    built.keySet.removeIf(k => k.fp != key.fp && k.copy(fp = key.fp) == key)
    built.computeIfAbsent(key, _ => new Once(() => build))
      .value.asInstanceOf[T]
  }

  /** The artifact of table `<dir>/<table>.parquet`. */
  def apply[T](name: String, params: Any, dir: String, table: String)(
      build: => T): T =
    apply(name, params, tablePath(dir, table))(build)

  /** Cheap content fingerprint of `path`: every regular file's
    * (path, size, mtime) under it. */
  def fingerprint(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) "absent"
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => s"$f:${Files.size(f)}:" +
          Files.getLastModifiedTime(f).toMillis)
        .toSeq.sorted.mkString("|")
      finally walk.close()
    }
  }

  def fingerprint(dir: String, table: String): String =
    fingerprint(tablePath(dir, table))

  private def tablePath(dir: String, table: String): String =
    Paths.get(dir, s"$table.parquet").toString
}
