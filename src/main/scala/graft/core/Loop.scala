package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.internal.SQLConf

/** The iterative driver loop of the graph family (g1, g1b, g3, g4, g5)
  * and of l22's connected components: the loop counterpart of
  * `Streams.runStream`. A caller keeps its invariant relations
  * hash-partitioned by the key every round aggregates on
  * ([[checkpointByKeyN]] at [[loopParts]] width), broadcasts its
  * node-sized state through [[bcastIfFits]], and hands [[run]] a round
  * body and a convergence probe; [[run]] owns the round cap, the
  * round-1 plan hook and the per-round checkpoint, so each round is
  * one exchange-free stage at test scale. */
object Loop {

  /** Measured-size broadcast gate (optimization guide §3.1). A loop's
    * checkpointed relations keep their origin's size stats, which are
    * join-product estimates that grow per round, so Spark's
    * autoBroadcast never fires on them even when their true size is a
    * few hundred KB, and every round would pay a sort-merge shuffle of
    * the big side. The caller knows the small side's true cardinality
    * (counted once per query), so this returns the identity or a
    * `broadcast(_)` hint by the rule correct stats would apply:
    * rows × rowBytes under the session's autoBroadcastJoinThreshold (−1
    * disables it, as it disables the planner's). A cluster-scale
    * relation fails the gate and keeps the shuffle plan.
    *
    * Callers pass 32 B for 2-BIGINT rows whose UnsafeRow is 24 B, about
    * 33% headroom against HashedRelation per-row overhead; and the
    * threshold is the default (10 MB) the planner applies to its own
    * broadcast builds, whose in-memory relation is several times the
    * estimate too, so the gate is no more aggressive than the planner.
    * Callers whose gated relation GROWS across rounds (g4's settled,
    * g5's dist) gate on a count that bounds the final size (node count
    * ≤ the counted symmetric edge count), never the round-1 size;
    * GraphSpec's bfs/sssp pins run the full loops, so an over-bound
    * broadcast would surface there as a driver OOM. */
  def bcastIfFits(s: SparkSession, rows: Long, rowBytes: Long)
      : DataFrame => DataFrame = {
    val thr = s.sessionState.conf.autoBroadcastJoinThreshold
    if (thr > 0 && rows <= thr / rowBytes) df => broadcast(df) else identity
  }

  /** Codegen'd scan+join+aggregate throughput is tens of millions of
    * rows/s/core, so a loop-body task under ~1e5 rows does milliseconds
    * of work, comparable to its own launch+schedule cost. Below this
    * per-task row count, width is pure overhead. */
  private val RowsPerLoopTask = 131072L

  /** Scale-adaptive partition count for a loop relation of `rows` rows ×
    * `rowBytes` (both measured by the caller): the larger of the
    * bytes-based rule AQE's coalescer applies to ordinary shuffles
    * (guide §2.2: ceil(bytes / advisory partition size)) and a rows-based
    * rule for compute-bound bodies (ceil(rows / RowsPerLoopTask): a
    * near-complete co-order graph is CPU-heavy per byte, so bytes alone
    * would starve it of cores), clamped to [1, spark.sql.shuffle.partitions].
    * Made explicit because an exchange-free loop never gives AQE a
    * shuffle to coalesce. */
  def loopParts(s: SparkSession, rows: Long, rowBytes: Long): Int = {
    val advisory = s.sessionState.conf.getConf(
      SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val byBytes = (rows * rowBytes + advisory - 1) / math.max(advisory, 1L)
    val byRows = (rows + RowsPerLoopTask - 1) / RowsPerLoopTask
    math.max(1L, math.min(math.max(byBytes, byRows),
      s.sessionState.conf.numShufflePartitions.toLong)).toInt
  }

  /** Hash-partition `df` by `keys` into `n` partitions and
    * localCheckpoint it, with AQE disabled for the checkpoint job: under
    * AQE the executed plan is an AdaptiveSparkPlanExec whose
    * outputPartitioning is still unresolved when Dataset.checkpoint
    * snapshots it, so the checkpoint would carry UnknownPartitioning and
    * every downstream groupBy/join on `keys` would re-shuffle. With AQE
    * off the checkpoint keeps hashpartitioning(keys, n), and a loop that
    * aggregates on `keys` runs exchange-free in every round. The no-AQE
    * scope covers only this repartition + materialize job. The width is
    * at least 2: Spark plans a 1-wide repartition as SinglePartition,
    * which it co-partitions with a join's other side only under small
    * size estimates (spark.sql.maxSinglePartitionBytes), never under a
    * loop's inflated ones, so g1b's and the CC round's joins would
    * shuffle both sides. */
  def checkpointByKeyN(df: DataFrame, n: Int, keys: Column*): DataFrame =
    ConfScope.withConf(df.sparkSession,
        Map("spark.sql.adaptive.enabled" -> "false")) {
      df.repartition(math.max(n, 2), keys: _*).localCheckpoint()
    }

  /** localCheckpoint that keeps the plan's own output partitioning (the
    * [[checkpointByKeyN]] rule without the repartition): a round body
    * whose output is already partitioned by the key the next round
    * consumes (g1b's left-outer join keeps nodes2's hash(nid); the CC
    * round keeps its labels' hash(node)) stays exchange-free round after
    * round. */
  def checkpointKeepPartitioning(df: DataFrame): DataFrame =
    ConfScope.withConf(df.sparkSession,
        Map("spark.sql.adaptive.enabled" -> "false")) {
      df.localCheckpoint()
    }

  /** Run at most `cap` rounds from `init`. Each round builds
    * `round(state)`, hands the round-1 body to `dumpRound` (PlanDump's
    * per-iteration plan), checkpoints it with its partitioning kept, and
    * asks `advance(state, checkpointed)` for the next state. `None`
    * means the round changed nothing (an empty frontier, a stationary
    * state): the loop stops there and that round is not counted.
    * Returns the last state and the number of rounds that advanced it,
    * so a result below `cap` means the loop converged. */
  def run[S](init: S, cap: Int, dumpRound: Option[DataFrame => Unit])(
      round: S => DataFrame)(advance: (S, DataFrame) => Option[S]): (S, Int) = {
    @annotation.tailrec
    def go(state: S, rounds: Int): (S, Int) =
      if (rounds == cap) (state, rounds)
      else {
        val body = round(state)
        if (rounds == 0) dumpRound.foreach(_(body))
        advance(state, checkpointKeepPartitioning(body)) match {
          case Some(next) => go(next, rounds + 1)
          case None => (state, rounds)
        }
      }
    go(init, 0)
  }
}
