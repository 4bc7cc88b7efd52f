package graft

import org.apache.spark.sql.SparkSession

/** Scale sweep: time the engine's most expensive queries at several data
  * scales (a small dataset plus GenScale-derived ratio× targets) and
  * report the per-query, per-decade scaling exponent
  * e = log(t_big / t_small) / log(ratio) — e ≈ 1 is linear scaling,
  * e ≈ 2 quadratic, e < 1 sublinear (fixed overhead amortizing out).
  * Two decades distinguish "sublinear because fixed costs dominate" from
  * "sublinear so far": an exponent that holds across decades is evidence
  * the asymptote is tame, one that climbs says the fixed costs are done
  * amortizing.
  *
  * One timing rule for every query and scale: one warm-up in the shared
  * session, then the p50 of 3 noop-sink runs, each in a fresh
  * `spark.newSession()` child. The warm-up absorbs replay fixtures
  * (disk-cached), JVM-wide build-once artifacts (IVF/PQ codebooks, the
  * cached BPE model) and JIT. A child session has its own key for the
  * shared streaming ingestion core (Streams.sharedCore), so a streaming
  * run measures the full replay + stateful pipeline.
  *
  * Usage: `runMain graft.ScaleSweep <small> <big:ratio[,big:ratio...]>
  * <onlyCsv|-> <outFile>` — e.g.
  * `runMain graft.ScaleSweep /root/testdata/sf0.1
  *  target/sf1:10,target/sf3:30 - target/scale.json`.
  * `-` sweeps [[Queries]]; a comma-separated subset of registered query
  * names sweeps only those, at every decade. outFile is rewritten from
  * this run alone.
  *
  * Output: one JSON line, on stdout and in outFile. Per query:
  * `{"small_sec":s,"decades":{"10":{"big_sec":b,"exponent":e},...}}`.
  */
object ScaleSweep {
  /** The swept queries: corpus loops, ANN search, graph loops, joins and
    * sinks, then the stateful streaming queries. */
  val Queries: Seq[String] = Seq(
    "a8_percentile", "j8_asof", "j12_recursive",
    "l10_minhash_lsh", "l10b_minhash_tuned", "l22_dup_clusters",
    "l26_quality_resample", "l33_span_dedup", "l34_semantic_dedup",
    "l34b_semantic_autok", "l35_epoch_shards", "l39_corpus_export",
    "l40_bpe_train", "l40c_bpe_train_fresh", "l3f_ivfpq_topk",
    "l3g_ivfadc_topk", "l42_para_dedup", "l43_bigram_surprisal",
    "l44_heavy_hitters", "l8e_image_neardup", "l45_bm25_topk",
    "l46_passage_decon", "g1b_pagerank_conv", "g2_triangles",
    "g3_labelprop", "j14_editdist_join", "j15_bucketed", "snk6_compaction",
    "a15_weighted_median", "w9_seq_pattern", "l47_trigram_backoff",
    "g4_bfs", "j16_scd2", "w9b_skip_pattern", "snk7_sorted_skip",
    "l8f_image_dedup", "snk8_zorder_skip", "g5_sssp",
    "src9_schema_evolution", "j17_dpp", "snk9_snapshot_publish",
    "j8b_asof_forward", "l48_rrf_fusion", "snk10_merge",
    "s5_interval_join", "s5b_interval_left", "s5c_interval_full",
    "s11_chained", "s13_sig_refresh", "s17_semi_interval",
    "s18_scd2_stream", "s19_stream_snapshot", "s15_heavy_hitters",
    "s16_drift", "s20_stream_pattern", "s4b_temporal_join",
    "s21_abandon_timer", "s21b_abandon_ooo", "s18b_scd2_ooo",
    "s22b_cdc_ooo", "s8d_funnel_ooo", "s4c_temporal_ooo",
    "s20b_pattern_ooo", "s22c_cdc_windowed", "s29_allowed_lateness",
    "s30_cumulate", "s20e_all_matches", "s31_state_export",
    "s31b_timer_export", "s32_window_join", "s33_retract_stream",
    "s33b_retract_consumed", "s32b_window_join_outer",
    "s32c_window_join_anti", "s34_watermark_align", "s34b_idleness_dial",
    "s35_index_refresh", "s36_lookup_join", "s20f_oneormore",
    "s32d_window_join_semi", "s32e_window_join_full", "s33c_retract_ooo")

  /** The queries a subset argument selects: `-` is [[Queries]], anything
    * else a comma-separated list of `SparkEntry.queries` names. A
    * misspelled name fails here, before any session is built. */
  private[graft] def select(onlyCsv: String): Seq[String] =
    if (onlyCsv == "-") Queries
    else {
      val names = onlyCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
      require(names.nonEmpty, s"no query named in '$onlyCsv'")
      names
    }

  /** One warm-up in `spark`, then the p50 of 3 runs in fresh children. */
  private def time(spark: SparkSession, q: String, dir: String): Double = {
    val run = SparkEntry.queries(q)
    Harness.timeOnce(run(spark, dir))
    val p50 = Seq.fill(3)(Harness.timeOnce(run(spark.newSession(), dir))).sorted.apply(1)
    System.err.println(f"[scale] $dir $q p50=$p50%.3f")
    p50
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: ScaleSweep <small> <big:ratio[,big:ratio...]> <onlyCsv|-> <outFile>")
    val Array(small, bigs, onlyCsv, outFile) = args
    val qs = select(onlyCsv)
    val decades: Seq[(String, Double)] = bigs.split(",").toSeq.map { s =>
      val Array(d, r) = s.split(":"); (d, r.toDouble)
    }.sortBy(_._2)
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def rkey(r: Double): String =
      if (r == r.floor) r.toLong.toString else r.toString

    val spark = Harness.session(checksumFreeFs = true)
    try {
      val tSmall = qs.map(q => q -> time(spark, q, small)).toMap
      val tBig = decades.map { case (d, _) => qs.map(q => q -> time(spark, q, d)).toMap }
      val rows = qs.map { q =>
        val decs = decades.zip(tBig).map { case ((_, r), t) =>
          val e = math.log(t(q) / tSmall(q)) / math.log(r)
          s""""${rkey(r)}":{"big_sec":${num(t(q))},"exponent":${num(e)}}"""
        }
        s""""$q":{"small_sec":${num(tSmall(q))},"decades":{${decs.mkString(",")}}}"""
      }
      val decadesDesc = decades.map { case (d, r) => s""""${rkey(r)}":"$d"""" }
      val line =
        s"""{"metric":"scale_sweep","small":"$small","decades":{${decadesDesc.mkString(",")}},""" +
        s""""protocol":"per query and scale: 1 warm-up in the shared session, then p50 of """ +
        s"""3 noop-sink runs, each in a fresh child session",""" +
        s""""queries":{${rows.mkString(",")}}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line)
      println(line)
    } finally spark.stop()
  }
}
