package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Build-once artifacts derived from one source table: the trained IVF,
  * PQ and residual codebooks, the BPE model and l36/l37's component
  * relation. An entry is keyed by (name, parameters, dir, table) and the
  * table's file [[fingerprint]], so regenerating the table at the same
  * path retrains instead of serving a stale model. A stale entry is
  * never served (lookups always use the current fingerprint); the sweep
  * only bounds memory, and it runs BEFORE the lookup, so a slow build
  * that started on an old fingerprint can never evict a fresher entry —
  * at worst its own stale insert survives until the next call.
  *
  * The first call of a timed query pays the build; later calls read the
  * artifact. This is the one place where a cold (first-call) time can
  * charge a model build to the query that needs it. */
object BuildOnce {

  private final case class Key(name: String, params: Any, dir: String,
                               table: String, fp: String)

  /** A build that runs at most once. The map only installs the holder,
    * and the build runs outside the map's bin lock, so a build may
    * itself read another artifact (the residual codebooks read the
    * coarse quantizer) without a recursive update of the map. A build
    * that throws leaves the holder empty and the next call retries. */
  private final class Once(build: () => Any) {
    lazy val value: Any = build()
  }

  private val built = new ConcurrentHashMap[Key, Once]()

  def apply[T](name: String, params: Any, dir: String, table: String)(
      build: => T): T = {
    val key = Key(name, params, dir, table, fingerprint(dir, table))
    built.keySet.removeIf(k => k.fp != key.fp && k.copy(fp = key.fp) == key)
    built.computeIfAbsent(key, _ => new Once(() => build))
      .value.asInstanceOf[T]
  }

  /** Cheap content fingerprint of `<dir>/<table>.parquet`: every
    * regular file's (path, size, mtime) under the table path. */
  def fingerprint(dir: String, table: String): String = {
    val p = Paths.get(dir, s"$table.parquet")
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
}
