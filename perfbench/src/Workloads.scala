package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's workloads: each is a closed loop with one client that
  * runs its queries one after another, each to its complete result. The
  * lists are sized so that a run of each workload takes under a minute at
  * sf0.01 on 4 cores; README.md gives the reason for each. */
object Workloads {
  val queries: Map[String, Seq[String]] = Map(
    // streaming layer: a tumbling-window aggregate and its top-n consumer
    // (the pair shares one stream through Streams' core cache, so only
    // the first of the two in a pass runs it) and a session window; each
    // stream replays 5 files, so the per-micro-batch cost dominates
    "stream-replay" -> Seq("s1_tumbling", "s10_window_topn", "s3_session"),
    // every non-streaming layer: Catalyst, codegen and the scheduler on
    // short star-schema queries (aggregate, join, top-k), a file
    // round-trip through SourcesSinks, an iterative graph loop (ConfScope
    // checkpoints, shuffle) and BPE encoding, whose build-once model is
    // paid in the cold pass only
    "batch-mix" -> Seq("a1_pricing", "j1_inner", "o2_topk",
      "src2_csv_roundtrip", "g1_pagerank", "l40b_bpe_encode")
  )

  /** Replay fixtures each workload's streams read, derived during set-up. */
  val replayVariants: Map[String, Seq[String]] = Map(
    "stream-replay" -> Seq("clean")).withDefaultValue(Seq.empty)

  /** Module name → its public query map. A query's layer is the module
    * that declares it. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.queries._
    import graft.llm._
    Seq(
      "Projections" -> Projections.queries, "Aggregates" -> Aggregates.queries,
      "Joins" -> Joins.queries, "Windows" -> Windows.queries,
      "SortsSetOps" -> SortsSetOps.queries, "Functions" -> Functions.queries,
      "SourcesSinks" -> SourcesSinks.queries, "Graph" -> Graph.queries,
      "Llm" -> Llm.queries, "DedupExt" -> DedupExt.queries,
      "Curation" -> Curation.queries, "Cluster" -> Cluster.queries,
      "Bpe" -> Bpe.queries, "Retrieval" -> Retrieval.queries,
      "Multimodal" -> Multimodal.queries,
      "Streams" -> graft.streaming.Streams.queries)
  }

  /** (module, query function) of a query name. */
  def resolve(q: String): (String, (SparkSession, String) => DataFrame) =
    modules.collectFirst { case (m, qs) if qs.contains(q) => (m, qs(q)) }
      .getOrElse(throw new IllegalArgumentException(s"unknown query $q"))

  /** Modules with a per-layer column: every module some workload calls. */
  lazy val measuredModules: Seq[String] =
    modules.map(_._1).filter(m => queries.values.flatten.exists(q => resolve(q)._1 == m))
}
