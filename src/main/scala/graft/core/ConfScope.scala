package graft.core

import org.apache.spark.sql.SparkSession

/** JVM-wide serialization + save/restore for session-global SQL conf
  * mutations. Its src/main callers: `Streams.runStream` (every stream's
  * confs, across `start()` only), `j12_recursive`, `snk7Write`,
  * `snk8Write`, and [[Loop.checkpointByKeyN]] / [[Loop.checkpointKeepPartitioning]],
  * which scope AQE off for their materialize job. One shared lock: two
  * independent locks each saving/restoring the same conf key can
  * interleave as save(32)/set(8)/save(8)/restore(32)/restore(8) and
  * permanently leak the narrowed value into the shared session. Every
  * caller must perform its eager work INSIDE `body`: the previous value
  * is restored before this returns, so lazily-consumed results must not
  * depend on the scoped conf. */
object ConfScope {
  private val lock = new Object

  /** Run `body` with the given session confs set, restoring previous
    * values (or unsetting) afterwards, serialized JVM-wide. The set loop
    * runs INSIDE the try and the restore is per-key exception-tolerant:
    * a conf that rejects its value (static conf, validation) must not
    * leave the keys already mutated before it un-restored, and one
    * failing restore must not abort the remaining restores — either
    * would be exactly the leak this utility exists to prevent. */
  def withConf[A](s: SparkSession, confs: Map[String, String])(body: => A): A =
    lock.synchronized {
      val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
      try {
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        body
      } finally prev.foreach { case (k, ov) =>
        try ov.fold(s.conf.unset(k))(v => s.conf.set(k, v))
        catch { case e: Throwable =>
          System.err.println(s"[ConfScope] restore of $k failed: $e") }
      }
    }
}
