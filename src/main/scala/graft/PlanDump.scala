package graft

/** Dev utility (guide §1: capture `.explain("formatted")` evidence):
  * writes each named query's formatted physical plan to
  * `<outDir>/<name>_<tag>.txt`. Queries whose canonical entry runs a
  * streaming pipeline or driver loop EXECUTE while being planned — the
  * plan captured is the final DataFrame the bench times. For the
  * iterative queries that final plan says nothing about the loop, so
  * the `<query>_iter` names run the real query
  * and capture the FIRST loop-body iteration's plan via `core.Loop.run`'s
  * dumpRound hook — the per-round plan the bench actually pays.
  * `runMain graft.PlanDump <outDir> <tag> <name> [name...] [sfDir]`. */
object PlanDump {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Per-iteration plan providers: run the real query, hand the round-1
    * pre-checkpoint loop-body DataFrame to the sink. */
  private[graft] val iterDumps: Map[String, (SparkSession, String, DataFrame => Unit) => Unit] = Map(
    "g1_pagerank_iter" -> ((s, d, h) => { queries.Graph.g1Run(s, d, Some(h)); () }),
    "g1b_pagerank_conv_iter" -> ((s, d, h) => { queries.Graph.g1bRun(s, d, Some(h)); () }),
    "g3_labelprop_iter" -> ((s, d, h) => { queries.Graph.g3Run(s, d, Some(h)); () }),
    "g4_bfs_iter" -> ((s, d, h) => { queries.Graph.g4Run(s, d, Some(h)); () }),
    "g5_sssp_iter" -> ((s, d, h) => { queries.Graph.g5Run(s, d, Some(h)); () }),
    "l22_dup_clusters_iter" -> ((s, d, h) => { llm.Cluster.docComponents(s, d, Some(h)); () })
  )

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <tag> <queryName>... [sfDir]")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val rest = args.drop(2)
    val (names, sfDir) =
      if (rest.last.contains("/")) (rest.init.toSeq, rest.last)
      else (rest.toSeq, "/root/testdata/sf0.1")
    val spark = Harness.session(checksumFreeFs = true)
    java.nio.file.Files.createDirectories(outDir)
    def write(n: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = outDir.resolve(s"${n}_$tag.txt")
      java.nio.file.Files.writeString(f, txt)
      println(s"[plandump] wrote $f (${txt.length} chars)")
    }
    names.foreach { n =>
      iterDumps.get(n) match {
        case Some(run) => run(spark, sfDir, df => write(n, df))
        case None =>
          require(SparkEntry.queries.contains(n), s"unknown query '$n'")
          write(n, SparkEntry.queries(n)(spark, sfDir))
      }
    }
    spark.stop()
  }
}
