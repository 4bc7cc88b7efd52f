package graft.core

import org.apache.spark.sql.SparkSession

/** JVM-wide serialization + save/restore for session-global SQL conf
  * mutations (shuffle partitions for the streaming runs and the CC loop).
  * One shared lock — two independent locks each saving/restoring the same
  * conf key can interleave as save(32)/set(8)/save(8)/restore(32)/
  * restore(8) and permanently leak the narrowed value into the shared
  * session. Every caller must perform its eager work INSIDE `body`: the
  * previous value is restored before this returns, so lazily-consumed
  * results must not depend on the scoped conf. */
object ConfScope {
  private val lock = new Object

  /** Measured-size broadcast gate (r21, optimization guide §3.1): the
    * iterative loops (graph family, CC) carry checkpointed relations
    * whose PRESERVED stats are join-product estimates that grow per
    * round, so Spark's autoBroadcast never fires on them even when
    * their true size is a few hundred KB — and every round pays a full
    * sort-merge shuffle of the big side. The true cardinality of the
    * small side IS known to the caller (counted once per query), so
    * this returns the identity or a `broadcast(_)` hint by the same
    * rule correct stats would produce: rows × rowBytes under the
    * session's own autoBroadcastJoinThreshold (−1 disables, exactly as
    * it disables the planner's). Scale-adaptive by construction — a
    * cluster-scale relation fails the gate and keeps the shuffle plan.
    *
    * rowBytes slack (advisor r21): callers pass 32 B for 2-BIGINT rows
    * whose UnsafeRow is 8 (null bits) + 2×8 = 24 B, so the estimate
    * carries ~33% headroom against HashedRelation per-row overhead;
    * and the threshold compares against the same default (10 MB) the
    * planner applies to its own (driver-collected) broadcast builds,
    * whose true in-memory relation is several× the estimate there too
    * — the gate is no more aggressive than the planner's own sizing.
    * Callers whose gated relation GROWS across loop rounds (g4's
    * settled, g5's dist) gate on a count that BOUNDS the final size
    * (node count ≤ the counted symmetric edge count), never the
    * round-1 size — GraphSpec's bfs/sssp pins run the full loops, so
    * an over-bound broadcast would surface there as a driver OOM long
    * before production. */
  def bcastIfFits(s: SparkSession, rows: Long, rowBytes: Long)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    val thr = s.sessionState.conf.autoBroadcastJoinThreshold
    if (thr > 0 && rows <= thr / rowBytes)
      df => org.apache.spark.sql.functions.broadcast(df)
    else identity
  }

  /** Hash-partition `df` by `keys` into `n` partitions and
    * localCheckpoint it, with AQE disabled for the checkpoint job: under
    * AQE the executed plan is an
    * AdaptiveSparkPlanExec whose outputPartitioning is still unresolved
    * when Dataset.checkpoint snapshots it into the LogicalRDD, so the
    * checkpoint would carry UnknownPartitioning (measured) and every
    * downstream groupBy/join on `keys` re-shuffles. With AQE off the
    * checkpoint preserves hashpartitioning(keys, n) and iterative
    * consumers (the graph loops, CC) aggregate on `keys` exchange-free
    * in EVERY round. The no-AQE scope covers only this repartition +
    * materialize job — callers keep expensive upstream builds in their
    * own (AQE-planned, separately checkpointed) jobs. Removing the
    * per-round Exchange also removes AQE's chance to COALESCE the loop's
    * post-shuffle partitions, so iterative callers size `n` themselves
    * with [[loopParts]] (the same bytes/advisory-size arithmetic AQE
    * would have applied): at test scale a few-MB loop relation runs 1–2
    * tasks per round instead of 32 empty-ish ones; at cluster scale the
    * cap keeps the full configured width. */
  def checkpointByKeyN(df: org.apache.spark.sql.DataFrame, n: Int,
                       keys: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame =
    withConf(df.sparkSession, Map("spark.sql.adaptive.enabled" -> "false")) {
      df.repartition(n, keys: _*).localCheckpoint()
    }

  /** Codegen'd scan+join+aggregate throughput is tens of millions of
    * rows/s/core, so a loop-body task under ~1e5 rows does milliseconds
    * of work — comparable to its own launch+schedule cost. Below this
    * per-task row count, width is pure overhead. */
  private val RowsPerLoopTask = 131072L

  /** Scale-adaptive partition count for a loop relation of `rows` rows ×
    * `rowBytes` (both MEASURED by the caller): the larger of the
    * bytes-based rule AQE's coalescer applies to ordinary shuffles
    * (guide §2.2 "fewer, larger partitions" — ceil(bytes / advisory
    * partition size)) and a rows-based rule for compute-bound bodies
    * (ceil(rows / RowsPerLoopTask) — a near-complete co-order graph is
    * CPU-heavy per byte, so bytes alone would starve it of cores),
    * clamped to [1, spark.sql.shuffle.partitions]. Made explicit because
    * the exchange-free loops never give AQE a shuffle to coalesce. */
  def loopParts(s: SparkSession, rows: Long, rowBytes: Long): Int = {
    val advisory = s.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val byBytes = (rows * rowBytes + advisory - 1) / math.max(advisory, 1L)
    val byRows = (rows + RowsPerLoopTask - 1) / RowsPerLoopTask
    val ideal = math.max(byBytes, byRows)
    math.max(1L, math.min(ideal,
      s.sessionState.conf.numShufflePartitions.toLong)).toInt
  }

  /** localCheckpoint that KEEPS the plan's natural output partitioning
    * (no repartition — the checkpointByKeyN variant without the shuffle):
    * AQE is disabled for the materialize job so Dataset.checkpoint
    * snapshots the real partitioning instead of AdaptiveSparkPlanExec's
    * unresolved UnknownPartitioning. Used by iterative loops whose round
    * output is already partitioned by the key the NEXT round consumes
    * (e.g. g1b's next-rank relation: left-outer SMJ output keeps the
    * left side's hash(nid)), so the per-round probe/join stays
    * exchange-free. */
  def checkpointKeepPartitioning(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    withConf(df.sparkSession, Map("spark.sql.adaptive.enabled" -> "false")) {
      df.localCheckpoint()
    }

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
