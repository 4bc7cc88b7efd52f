package graft

import org.scalatest.funsuite.AnyFunSuite

/** L-series quality properties that a hash-match alone cannot express
  * (SURVEY §5.2 t3):
  *
  *  - l3c (IVF-bucketed ANN, the declared 100 TB similarity path) is
  *    oracle-hashed for its DECLARED semantics (k-means cells, probe 4 of
  *    10, 2-cell multi-assignment), but that says nothing about how good
  *    those semantics are — this spec measures recall@5 against the exact
  *    brute-force baseline. With the deterministic k-means quantizer
  *    (5 Lloyd iterations from label-mean seeds) + rassign=2 + nprobe=4,
  *    measured recall on the canonical queries: 1.00 / 0.93 / 0.93 at
  *    sf0.001 / 0.01 / 0.1 (bound ≥ 0.9 at every sf); over a 30-query
  *    pool at sf0.01: 0.88 (bound ≥ 0.8). Round-3's label-cell quantizer
  *    sat at 0.40/0.53 — the k-means refit plus multi-probe assignment
  *    closed the gap; nprobe 3→4 lifted the sf0.1 boundary case.
  *  - l5b (log-idf TF-IDF) is declared oracle-less because libm `ln` is
  *    not bit-portable; its ranking must still agree with the hashed
  *    linear-idf l5 on this corpus (identical top-10 id/token sets).
  */
class LlmSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def topkPairs(name: String, sf: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def recallOf(exact: Map[Long, Set[Long]],
                       approx: Map[Long, Set[Long]]): Double = {
    val hits = exact.map { case (q, vids) =>
      (approx.getOrElse(q, Set.empty) & vids).size
    }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  private def recallAt5(sf: String): Double =
    recallOf(topkPairs("l3_cosine_topk", sf), topkPairs("l3c_ivf_topk", sf))

  test("L3c: IVF recall@5 vs the exact l3 baseline at sf0.001") {
    val r = recallAt5("/root/testdata/sf0.001")
    info(f"canonical recall@5 at sf0.001 = $r%.3f")
    assert(r >= 0.9, f"recall@5 regressed: $r%.3f < 0.9")
  }

  test("L3c: IVF recall@5 vs the exact l3 baseline at sf0.01") {
    val r = recallAt5("/root/testdata/sf0.01")
    info(f"canonical recall@5 at sf0.01 = $r%.3f")
    assert(r >= 0.9, f"recall@5 regressed: $r%.3f < 0.9")
  }

  test("L3c: IVF recall@5 vs the exact l3 baseline at sf0.1") {
    // sf0.1 was the boundary case that motivated nprobe=4 as the
    // canonical setting (0.80 at nprobe=3 → 0.93 measured in the
    // AnnBench sweep at equal latency)
    val r = recallAt5("/root/testdata/sf0.1")
    info(f"canonical recall@5 at sf0.1 = $r%.3f")
    assert(r >= 0.9, f"recall@5 regressed: $r%.3f < 0.9")
  }

  test("L3e: PQ+rerank recall@5 vs the exact l3 baseline at sf0.001 " +
       "and sf0.01") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val r = recallOf(topkPairs("l3_cosine_topk", sf),
                       topkPairs("l3e_pq_topk", sf))
      info(f"PQ recall@5 at $sf = $r%.3f")
      assert(r >= 0.85, f"PQ recall@5 at $sf: $r%.3f < 0.85")
    }
  }

  test("L3f: IVF-PQ recall@5 vs the exact l3 baseline at sf0.001 " +
       "and sf0.01") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val r = recallOf(topkPairs("l3_cosine_topk", sf),
                       topkPairs("l3f_ivfpq_topk", sf))
      info(f"IVF-PQ recall@5 at $sf = $r%.3f")
      assert(r >= 0.85, f"IVF-PQ recall@5 at $sf: $r%.3f < 0.85")
    }
  }

  test("L3g: residual-PQ (IVFADC) recall@5 vs exact, and never below " +
       "l3f's raw-vector PQ at the same sf") {
    // residual coding spends the same bytes per vector on the variance
    // the coarse index does NOT explain — at equal rerank budget its
    // recall must match or beat l3f's raw-vector coding
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val exact = topkPairs("l3_cosine_topk", sf)
      val rg = recallOf(exact, topkPairs("l3g_ivfadc_topk", sf))
      val rf = recallOf(exact, topkPairs("l3f_ivfpq_topk", sf))
      info(f"IVFADC recall@5 at $sf = $rg%.3f (l3f = $rf%.3f)")
      assert(rg >= 0.85, f"IVFADC recall@5 at $sf: $rg%.3f < 0.85")
      assert(rg >= rf, f"residual coding LOST recall at $sf: " +
        f"$rg%.3f < l3f's $rf%.3f")
    }
  }

  test("L31: the bloom screen prunes the batch and never drops a true dup") {
    val sf = "/root/testdata/sf0.01"
    val (batch, _, cand) = graft.llm.DedupExt.l31Parts(s, sf)
    val nBatch = batch.count()
    val candIds = cand.select("doc_id").collect().map(_.getLong(0)).toSet
    val dupIds = SparkEntry.queries("l31_bloom_dedup")(s, sf).collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    // no false negatives: every true dup must have survived the screen
    assert(dupIds.subsetOf(candIds),
      s"bloom dropped true dups: ${(dupIds -- candIds).take(5)}")
    // and the screen must actually prune — the point of the filter is
    // that non-dup rows (72 − 17 at this sf) never reach the join; at
    // 1% fpp the false-positive tail is ≤ a couple of rows
    assert(candIds.size < nBatch / 2,
      s"bloom screen pruned nothing: ${candIds.size} of $nBatch passed")
  }

  test("L3d: int8-scored IVF recall@5 vs the exact l3 baseline at sf0.01") {
    // the quantized ranking must not cost recall on top of the IVF
    // pruning: measured 0.933 at sf0.01 — identical to l3c's full-
    // precision scoring on the canonical queries (the 1-bit-of-127
    // rounding error is far below the corpus's cosine gaps)
    val r = recallOf(topkPairs("l3_cosine_topk", "/root/testdata/sf0.01"),
                     topkPairs("l3d_ivf_int8", "/root/testdata/sf0.01"))
    info(f"int8 canonical recall@5 at sf0.01 = $r%.3f")
    assert(r >= 0.9, f"int8 recall@5 regressed: $r%.3f < 0.9")
  }

  test("L3c: IVF recall@5 holds over a 30-query pool (not just the " +
       "3 canonical queries) at sf0.01") {
    // explicitly sf0.01 — the weakest measured broad recall — NOT
    // TestSpark.Sf (sf0.001, where the guard would be vacuous)
    val sf = "/root/testdata/sf0.01"
    val qids = 0 until 30
    val exact = pairsOf(graft.llm.Llm.exactTopK(s, sf, qids))
    val ivf = pairsOf(graft.llm.Llm.ivfTopK(s, sf, qids = qids))
    val r = recallOf(exact, ivf)
    info(f"broad 30-query recall@5 at sf0.01 = $r%.3f")
    assert(r >= 0.8, f"broad recall@5 regressed: $r%.3f < 0.8")
  }

  test("L3c: every IVF hit is scored identically to the exact baseline") {
    // the IVF path may MISS neighbors (bucket pruning) but must never
    // invent or re-score one: for every (qid, vid) both queries return,
    // the cosine must be bit-identical (both are integer-exact pipelines)
    val sf = TestSpark.Sf
    def scores(name: String): Map[(Long, Long), Double] =
      SparkEntry.queries(name)(s, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val exact = scores("l3_cosine_topk")
    val ivf = scores("l3c_ivf_topk")
    val shared = exact.keySet & ivf.keySet
    assert(shared.nonEmpty, "no shared (qid, vid) pairs — suspicious")
    shared.foreach { k =>
      assert(exact(k) == ivf(k), s"cosine diverged for $k")
    }
  }

  test("L5b: log-idf ranking agrees with the hashed linear-idf l5 top-10") {
    val sf = TestSpark.Sf
    def pairs(name: String): Set[(Long, String)] =
      SparkEntry.queries(name)(s, sf).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val l5 = pairs("l5_tfidf")
    val l5b = pairs("l5b_tfidf_log")
    assert(l5.size == 10 && l5b.size == 10)
    assert(l5 == l5b,
      s"top-10 sets diverged: linear-only=${l5 -- l5b}, log-only=${l5b -- l5}")
  }

  test("L10b: tuned banding prunes candidates far below all-pairs " +
       "and still finds every designed Jaccard-1.0 near-dup") {
    val sf = TestSpark.Sf
    val nDocs = graft.core.Tables.documents(s, sf).count()
    val allPairs = nDocs * (nDocs - 1) / 2
    val cands = graft.llm.DedupExt.minhashTunedCandidates(s, sf).count()
    // measured ~5% on this corpus; 20% is the regression bound — L10's
    // untuned r=2 banding sits at ~78% (the all-pairs collapse)
    assert(cands.toDouble / allPairs < 0.2,
      s"banding stopped pruning: $cands of $allPairs candidate pairs")
    // every pair inside an l2 token-set cluster has Jaccard exactly 1.0
    // and identical MinHash signatures — l10b must report all of them
    val clusters = SparkEntry.queries("l2_tokenset_neardup")(s, sf)
      .collect().map(_.getString(1).split(",").map(_.toLong).sorted)
    val designed = clusters.flatMap(c =>
      for (i <- c.indices; j <- i + 1 until c.length) yield (c(i), c(j))).toSet
    val found = SparkEntry.queries("l10b_minhash_tuned")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(designed.nonEmpty && (designed -- found).isEmpty,
      s"missed designed near-dups: ${(designed -- found).take(5)}")
  }

  test("L10b: the verify-stage size pre-filter and identical-set " +
       "shortcut drop no pair with Jaccard >= 0.95") {
    // independent naive recomputation: exact Jaccard on ALL band
    // candidates via the exploded token join (round 3's formulation,
    // no pre-filter) must yield exactly the pair set the optimized
    // pair-local verify reports
    import org.apache.spark.sql.functions._
    val sf = TestSpark.Sf
    val tok = graft.core.Tables.documents(s, sf)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
    val cand = graft.llm.DedupExt.minhashTunedCandidates(s, sf)
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val naive = cand
      .join(tok.select(col("doc_id").as("d1"), col("token")), Seq("d1"))
      .join(tok.select(col("doc_id").as("d2"), col("token")),
            Seq("d2", "token"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("n2")), Seq("d2"))
      .filter(col("i").cast("double") /
        (col("n1") + col("n2") - col("i")).cast("double") >= 0.95)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = SparkEntry.queries("l10b_minhash_tuned")(s, sf)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive == fast,
      s"pre-filter broke verify: missing=${(naive -- fast).take(5)}, " +
      s"extra=${(fast -- naive).take(5)}")
  }

  test("L12b: df-threshold blocking runs corpus-wide, prunes candidates " +
       "below 1% of all-pairs, and reports every designed near-dup " +
       "whose docs carry a blocking token") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.Sf
    val nDocs = graft.core.Tables.documents(s, sf).count()
    val allPairs = nDocs * (nDocs - 1) / 2
    val nCand = graft.llm.DedupExt.raretokenFullCandidates(s, sf).count()
    assert(nCand > 0 && nCand.toDouble / allPairs < 0.01,
      s"df-threshold blocking stopped pruning: $nCand of $allPairs pairs")
    // independent coverage computation: a doc is covered iff it carries
    // a token with df <= ceil(n/20); designed (token-set-equal) pairs
    // share every token, so pair coverage = first member's coverage
    val tok = graft.core.Tables.documents(s, sf)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
    val k = (nDocs + 19) / 20
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("f"))
    val rareDocs = tok.join(freq.filter(col("f") <= k), "token")
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val clusters = SparkEntry.queries("l2_tokenset_neardup")(s, sf)
      .collect().map(_.getString(1).split(",").map(_.toLong).sorted)
    val designed: Set[(Long, Long)] = clusters.flatMap(c =>
      for (i <- c.indices; j <- i + 1 until c.length) yield (c(i), c(j))).toSet
    val expected = designed.filter(p => rareDocs(p._1))
    assert(expected.nonEmpty,
      "test corpus has no rare-token-covered designed pair — vacuous")
    val found = SparkEntry.queries("l12b_raretoken_full")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((expected -- found).isEmpty,
      s"missed covered designed near-dups: ${(expected -- found).take(5)}")
  }

  test("L20: shingle banding finds exactly the naive all-pairs " +
       "J >= 0.5 shingle near-dups, from <1% of all-pairs candidates") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.Sf
    val nDocs = graft.core.Tables.documents(s, sf).count()
    val allPairs = nDocs * (nDocs - 1) / 2
    val nCand = graft.llm.DedupExt.shingleBandCandidates(s, sf).count()
    assert(nCand > 0 && nCand.toDouble / allPairs < 0.01,
      s"shingle banding stopped pruning: $nCand of $allPairs")
    // naive reference: exact shingle Jaccard over ALL pairs (no banding,
    // exploded join) — the banded path must reproduce it exactly on this
    // corpus (28 true pairs at sf0.001, all caught by 16x2 banding)
    val toks = split(col("text"), " ")
    val sh = graft.core.Tables.documents(s, sf)
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
                         element_at(toks, i + 2))))).as("sh"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val naive = sh.select(col("doc_id").as("d1"), col("sh"))
      .join(sh.select(col("doc_id").as("d2"), col("sh")), Seq("sh"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("n2")), Seq("d2"))
      .filter(col("i") * 3 >= col("n1") + col("n2"))
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = SparkEntry.queries("l20_shingle_neardup")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty && found == naive,
      s"banded != naive: missing=${(naive -- found).take(5)}, " +
      s"extra=${(found -- naive).take(5)}")
  }

  test("L5b: scores are positive and non-increasing in rank order") {
    val rows = SparkEntry.queries("l5b_tfidf_log")(s, TestSpark.Sf)
      .collect().map(_.getDouble(2))
    assert(rows.nonEmpty && rows.forall(_ > 0))
    assert(rows.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("L27: decontamination excludes the eval split and catches every " +
       "shingle-near-dup partner of an eval doc (sf0.01)") {
    val sf = "/root/testdata/sf0.01"
    val flagged = SparkEntry.queries("l27_decontaminate")(s, sf)
      .collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "no contamination found at all")
    assert(flagged.forall(_ % 97 != 0), "an eval doc flagged itself")
    // a doc with shingle-Jaccard >= 0.5 against an eval doc shares at
    // least one shingle, so l20's verified pairs give a lower bound on
    // what l27 must flag
    val pairs = SparkEntry.queries("l20_shingle_neardup")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.flatMap { case (a, b) =>
      Seq((a, b), (b, a)).collect {
        case (e, t) if e % 97 == 0 && t % 97 != 0 => t }
    }.toSet
    assert(expected.subsetOf(flagged),
      s"near-dups of eval docs not flagged: ${expected -- flagged}")
  }

  test("L28: every co-occurrence count is bounded by both marginal dfs " +
       "and the lift is the exact integer ratio") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("l28_cooccur")(s, TestSpark.Sf).collect()
    assert(out.nonEmpty, "no co-occurring pairs above the support floor")
    val n = graft.core.Tables.documents(s, TestSpark.Sf).count()
    val dfm = graft.core.Tables.documents(s, TestSpark.Sf)
      .select(explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (t1, t2) = (r.getString(0), r.getString(1))
      val nab = r.getLong(2)
      assert(t1 < t2, s"pair not canonically ordered: ($t1, $t2)")
      assert(nab >= 5, "support floor violated")
      assert(nab <= math.min(dfm(t1), dfm(t2)),
        s"co-occurrence $nab exceeds a marginal df for ($t1, $t2)")
      assert(r.getAs[Double]("lift") ===
        (nab * n).toDouble / (dfm(t1) * dfm(t2)).toDouble)
    }
  }

  test("L29: int8 codes stay in [-127,127], the max-|x| dim saturates, " +
       "and reconstruction error stays under half a quantization step") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("l29_quantize")(s, TestSpark.Sf)
    val m = graft.core.Tables.embeddings(s, TestSpark.Sf)
      .select(col("vec_id"),
        array_max(transform(graft.llm.Llm.qz(col("embedding")),
          x => abs(x))).as("m"))
    val rows = out.join(m, "vec_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qmin, qmax) = (r.getAs[Long]("q_min"), r.getAs[Long]("q_max"))
      val nSat = r.getAs[Long]("n_sat")
      val err = r.getAs[Long]("err_micro")
      val mm = r.getAs[Long]("m")
      assert(qmin >= -127 && qmax <= 127, "code out of int8 range")
      assert(mm == 0 || nSat >= 1,
        "the max-|x| dimension must map to a saturated ±127 code")
      // per-dim error ≤ half a step (m/254) + 1 micro of rounding pin
      assert(err <= 64 * (mm / 254 + 1),
        s"vec ${r.getAs[Long]("vec_id")}: err $err vs m $mm")
    }
  }

  test("L34: semantic dedup catches every injected copy, keeps every " +
       "original, and its candidate set is cell-bounded") {
    import graft.llm.Llm
    val sf = TestSpark.Sf
    val rows = SparkEntry.queries("l34_semantic_dedup")(s, sf).collect()
    val (copies, originals) = rows.partition(_.getLong(0) >= Llm.SemBase)
    assert(copies.nonEmpty, "no injected copies present — test vacuous")
    copies.foreach { r =>
      assert(!r.getBoolean(2), s"copy ${r.getLong(0)} survived dedup")
      assert(r.getLong(3) == r.getLong(0) - Llm.SemBase,
        s"copy ${r.getLong(0)} attributed to ${r.getLong(3)}, " +
        s"not its source ${r.getLong(0) - Llm.SemBase}")
    }
    // no natural pair reaches SemTau (max natural cos ~0.51), so every
    // original must survive
    originals.foreach { r =>
      assert(r.getBoolean(2), s"original ${r.getLong(0)} wrongly dropped")
    }
    // cell-boundedness: pairwise work is Σ C(|cell|,2), a K-fold cut of
    // the quadratic all-pairs — the SemDeDup scaling argument, asserted
    // against the ACTUAL K (perfectly balanced cells give allPairs/K;
    // c=2 tolerates real imbalance but a cell holding ~half the corpus
    // would blow straight through it)
    val n = rows.length.toLong
    val K = 10L // l3c coarse-quantizer cells (Llm.trainCentroids seeds)
    val cellSizes = rows.groupBy(_.getInt(1)).values.map(_.length.toLong)
    val cand = cellSizes.map(c => c * (c - 1) / 2).sum
    val allPairs = n * (n - 1) / 2
    assert(cand * K <= 2 * allPairs,
      s"candidate set not ~1/K of all-pairs: $cand vs $allPairs / K=$K")
    // and no single cell degenerates toward holding the corpus
    assert(cellSizes.max * K <= 3 * n,
      s"max cell ${cellSizes.max} exceeds 3·n/K (n=$n, K=$K)")
  }

  test("L34 K dial: at split=4 (K=40 cells) every injected copy is " +
       "still caught, every original kept, and cells shrink ~4x") {
    import graft.llm.Llm
    val sf = TestSpark.Sf
    val rows = Llm.semanticDedup(s, sf, split = 4).collect()
    val (copies, originals) = rows.partition(_.getLong(0) >= Llm.SemBase)
    assert(copies.nonEmpty, "no injected copies present — test vacuous")
    // a near-identical copy (cos ≈ 1 − 1e-11 to its source) lands in the
    // same k-means cell at any K whose centroid gaps dwarf the ±3-micro
    // perturbation — the reason growing K is a SAFE cost dial here
    copies.foreach { r =>
      assert(!r.getBoolean(2),
        s"copy ${r.getLong(0)} survived dedup at K=40")
    }
    originals.foreach { r =>
      assert(r.getBoolean(2),
        s"original ${r.getLong(0)} wrongly dropped at K=40")
    }
    // the dial's point: candidate pairs shrink ~split× vs the K=10 run
    def pairs(rs: Array[org.apache.spark.sql.Row]): Long =
      rs.groupBy(_.getInt(1)).values
        .map(g => g.length.toLong * (g.length - 1) / 2).sum
    val p10 = pairs(SparkEntry.queries("l34_semantic_dedup")(s, sf).collect())
    val p40 = pairs(rows)
    assert(p40 * 2 < p10,
      s"K=40 pairwise work $p40 not well below K=10's $p10")
  }

  test("L34b auto-K: the dial rule resolves to split=1 at every shipped " +
       "sf (l34b IS l34 there) and grows linearly on a bigger corpus") {
    import graft.llm.Llm
    import org.apache.spark.sql.functions._
    // rule at the shipped scales: ≤2000 vectors → split 1
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1").foreach { d =>
      assert(Llm.autoSplit(s, d) === 1, s"autoSplit($d)")
    }
    // l34b ≡ l34 row-for-row at the gate sf (same quantizer, same keeps)
    val a = SparkEntry.queries("l34_semantic_dedup")(s, TestSpark.Sf).collect()
    val b = SparkEntry.queries("l34b_semantic_autok")(s, TestSpark.Sf).collect()
    assert(a.toSeq === b.toSeq, "auto-K diverged from canonical at split=1")
    // rule above the calibration point: a synthetic 6000-vector corpus
    // (the sf0.001 embeddings fanned 12×, ids offset per copy) → split 3
    val dir = graft.core.Scratch.fresh("autok").toString
    val e = graft.core.Tables.embeddings(s, TestSpark.Sf)
    e.select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(0L), lit(11L))).as("cp"))
      .select((col("vec_id") + lit(100000L) * col("cp")).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Llm.autoSplit(s, dir) === 3,
      "6000-vector corpus must dial split=3 (K=30 cells)")
  }

  test("L33: span-dedup matches a pure-Scala model, and removal is " +
       "idempotent (re-running on the deduped corpus finds 0 dup spans)") {
    val sf = TestSpark.Sf
    val P = 1000000007L
    val W = 50
    def th(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(6).map("%02x".format(_)).mkString, 16) % P
    }
    // Same O(n) Horner roll as the engine (DedupExt l33): fold the
    // first window once, then h[k+1] = (h[k] − th[k]·31^(W−1))·31 +
    // th[k+W] mod P. The naive per-span fold is kept below as the
    // definitional form and pinned byte-identical to the roll.
    val R = (1 until W).foldLeft(1L)((a, _) => a * 31L % P)
    def spansOf(toks: Array[String]): Seq[(Int, Long)] = {
      if (toks.length < W) return Seq.empty
      val hs = toks.map(th)
      var h = 0L; var j = 0
      while (j < W) { h = (h * 31 + hs(j)) % P; j += 1 }
      val out = Array.newBuilder[(Int, Long)]
      out += ((0, h))
      var k = 1
      while (k <= toks.length - W) {
        h = (((h - hs(k - 1) * R % P) % P + P) * 31L + hs(k + W - 1)) % P
        out += ((k, h))
        k += 1
      }
      out.result().toSeq
    }
    def spansNaive(toks: Array[String]): Seq[(Int, Long)] = {
      val hs = toks.map(th)
      (0 to toks.length - W).map { k =>
        var acc = 0L; var j = 0
        while (j < W) { acc = (acc * 31 + hs(k + j)) % P; j += 1 }
        (k, acc)
      }
    }
    // removal plan over a corpus: per-doc (n_dup_spans, removed positions)
    def plan(corpus: Seq[(Long, Array[String])])
        : (Map[Long, Long], Map[Long, Set[Int]], Long) = {
      val all = corpus.flatMap { case (id, t) =>
        spansOf(t).map { case (p, h) => (h, id, p) } }
      val dupGroups = all.groupBy(_._1).values.filter(_.size > 1)
      val marked = dupGroups.toSeq.flatMap { g =>
        g.sortBy(x => (x._2, x._3)).tail } // drop the canonical occurrence
      val nDup = marked.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val removed = marked.groupBy(_._2).view.mapValues(
        _.flatMap(m => m._3 until m._3 + W).toSet).toMap
      (nDup, removed, dupGroups.size.toLong)
    }
    val corpus = graft.core.Tables.documents(s, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toSeq
    val (nDup, removed, nDupHashes) = plan(corpus)
    assert(nDupHashes > 0, "corpus has no duplicated spans — test vacuous")

    // 0. the O(n) roll is byte-identical to the definitional O(n·W)
    // per-span fold on every document that yields spans
    corpus.filter(_._2.length >= W).foreach { case (id, toks) =>
      assert(spansOf(toks) == spansNaive(toks),
        s"doc $id: rolling-hash spans diverge from the naive fold")
    }

    // 1. the engine's removal plan equals the model's
    val engine = SparkEntry.queries("l33_span_dedup")(s, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    corpus.foreach { case (id, _) =>
      val (eDup, eRem) = engine(id)
      assert(eDup == nDup.getOrElse(id, 0L),
        s"doc $id n_dup_spans: engine $eDup vs model ${nDup.getOrElse(id, 0L)}")
      assert(eRem == removed.get(id).map(_.size.toLong).getOrElse(0L),
        s"doc $id n_removed_tok mismatch")
    }

    // 2. idempotence: remove the marked spans, re-run, find nothing
    val deduped = corpus.map { case (id, toks) =>
      val rm = removed.getOrElse(id, Set.empty)
      id -> toks.zipWithIndex.collect { case (t, i) if !rm(i) => t }
    }
    val (_, _, again) = plan(deduped)
    assert(again == 0, s"re-run on deduped corpus still finds $again dup spans")
  }

  test("L42: paragraph dedup is keep-first — injected blocks survive " +
       "only in doc 0, every survivor is unique or keeper-held") {
    val s = TestSpark.spark
    val sf = TestSpark.Sf
    val Nav = "home products pricing docs blog careers contact login"
    val Ftr = "copyright 2024 example corp all rights reserved terms privacy"
    val out = SparkEntry.queries("l42_para_dedup")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty)

    // accounting: n_paras = own 20-token chunks + injections; removal
    // count consistent with the surviving paragraph list
    val texts = graft.core.Tables.documents(s, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, nP, nRm, clean) =>
      val own = math.ceil(texts(id).split(" ").length / 20.0).toLong
      val exp = own + (if (id % 3 == 0) 1 else 0) + (if (id % 7 == 0) 1 else 0)
      assert(nP == exp, s"doc $id n_paras $nP vs $exp")
      val kept = if (clean.isEmpty) 0L else clean.split("\n", -1).length.toLong
      assert(nP - nRm == kept, s"doc $id: $nP - $nRm != $kept surviving")
    }

    // keep-first on the injected blocks: doc 0 (min holder of both)
    // keeps them; every other injected holder loses them
    val cleanOf = out.map(t => t._1 -> t._4).toMap
    assert(cleanOf(0L).contains(Nav) && cleanOf(0L).contains(Ftr))
    out.filter(t => t._1 != 0L).foreach { case (id, _, _, clean) =>
      if (id % 3 == 0) assert(!clean.contains(Nav), s"doc $id kept nav")
      if (id % 7 == 0) assert(!clean.contains(Ftr), s"doc $id kept footer")
    }

    // global invariant: a surviving paragraph is either corpus-unique
    // or held by the min doc_id that produced it
    val paras = out.flatMap { case (id, _, _, clean) =>
      if (clean.isEmpty) Seq.empty
      else clean.split("\n", -1).toSeq.map(p => (id, p))
    }
    val all = texts.toSeq.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val own = (0 until math.ceil(toks.length / 20.0).toInt)
        .map(j => toks.slice(j * 20, j * 20 + 20).mkString(" "))
      ((if (id % 3 == 0) Seq(Nav) else Seq.empty) ++ own ++
       (if (id % 7 == 0) Seq(Ftr) else Seq.empty)).map(p => (id, p))
    }
    val cnt = all.groupBy(_._2).view.mapValues(_.size).toMap
    val keeper = all.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    paras.foreach { case (id, p) =>
      assert(cnt(p) == 1 || keeper(p) == id,
        s"doc $id survives duplicated paragraph held by ${keeper(p)}")
    }
    assert(out.map(_._3).sum > 0, "no paragraph removed — test vacuous")
  }

  test("L43: bigram surprisal equals an in-memory conditional-LM " +
       "reference (integer floor-log2 of cntL/cnt2)") {
    val s = TestSpark.spark
    val texts = graft.core.Tables.documents(s, TestSpark.Sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val bigrams = texts.flatMap { case (id, t) =>
      val toks = t.split(" ")
      toks.sliding(2).filter(_.length == 2).map(p => (id, (p(0), p(1))))
    }
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cl = c2.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    def bits(q: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(q)
    val ref = bigrams.groupBy(_._1).map { case (id, bs) =>
      val sb = bs.map { case (_, b) => bits(cl(b._1) / c2(b)) }.sum
      id -> ((bs.length.toLong, sb))
    }
    val out = SparkEntry.queries("l43_bigram_surprisal")(s, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    assert(out.length == ref.size)
    out.foreach { case (id, (n, sb)) =>
      assert(ref(id) == ((n, sb)), s"doc $id: engine ($n, $sb) vs ${ref(id)}")
    }
    assert(out.map(_._2._2).sum > 0, "zero total bits — test vacuous")
  }

  test("L44: the CMS-screened heavy-hitter plan equals the naive " +
       "full-vocabulary count (sketch prunes rows, never the answer)") {
    val s = TestSpark.spark
    val toks = graft.core.Tables.documents(s, TestSpark.Sf)
      .select("text").collect().flatMap(_.getString(0).split(" "))
    val thresh = toks.length.toLong / 100L
    assert(thresh >= 1, "corpus too small for a 1% threshold")
    val naive = toks.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= thresh).toMap
    val out = SparkEntry.queries("l44_heavy_hitters")(s, TestSpark.Sf)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(out.toMap == naive,
      s"engine ${out.length} heavies vs naive ${naive.size}")
    // ordering contract: cnt DESC, token ASC
    assert(out.sortBy { case (t, c) => (-c, t) }.toSeq == out.toSeq)
    assert(naive.nonEmpty, "no heavy hitters — test vacuous")
  }

  test("L47: trigram backoff fires exactly where it can — never on a " +
       "train doc, at every level on the designed eval anchor") {
    val s = TestSpark.spark
    val out = SparkEntry.queries("l47_trigram_backoff")(s, TestSpark.Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    // train docs contribute their own n-grams to the counts, so every
    // train position must resolve at the trigram level — any backoff
    // there means the count tables and the scoring stream disagree
    out.filter(_._1 % 97 != 0).foreach { case (id, _, _, b2, b1, b0) =>
      assert(b2 == 0 && b1 == 0 && b0 == 0,
        s"train doc $id backed off ($b2, $b1, $b0)")
    }
    // the designed injection makes all three levels structurally
    // certain on the anchor (see the query comment's derivation)
    val a = out.find(_._1 == graft.llm.Retrieval.DeconAnchor).get
    assert(a._4 > 0, s"anchor never hit bk2: $a")
    assert(a._5 > 0, s"anchor never hit bk1: $a")
    assert(a._6 > 0, s"anchor never hit bk0: $a")
    // bits are nonneg and every doc with >=3 tokens is scored
    assert(out.forall(r => r._3 >= 0 && r._2 > 0))
  }

  test("L46: passage decontamination never surfaces eval docs, every " +
       "eval item gets hits, and the designed contamination is recalled " +
       "at rank 1-3") {
    val s = TestSpark.spark
    val out = SparkEntry.queries("l46_passage_decon")(s, TestSpark.Sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    // eval exclusion: the chunk corpus is the train split only
    out.foreach { case (_, _, did, _, _) =>
      assert(did % 97 != 0, s"eval doc $did leaked into the chunk corpus")
    }
    // every eval item surfaces a review queue (shared 31-token
    // vocabulary guarantees term matches), ranks contiguous from 1
    val byQ = out.groupBy(_._1)
    val nEval = graft.core.Tables.documents(s, TestSpark.Sf)
      .filter("doc_id % 97 = 0").count()
    assert(byQ.size == nEval, s"${byQ.size} queried of $nEval eval docs")
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"ranks not contiguous for $qid")
    }
    // designed-contamination recall: qid 97's terms are the injected
    // passage's head (disjoint vocabulary), so every hit must be a
    // carrier chunk (doc_id % 89 == 3) and all 3 ranks must fill —
    // at sf0.001 there are 5 carrier docs, each with ≥1 carrier chunk
    val anchor = byQ(graft.llm.Retrieval.DeconAnchor)
    assert(anchor.length == 3, s"anchor hits ${anchor.length} != 3")
    anchor.foreach { case (_, _, did, _, score) =>
      assert(did % 89 == 3, s"non-carrier $did ranked for the anchor")
      assert(score > 0)
    }
  }

  test("Build-once models: a second train returns the cached instance, " +
       "and a table rewritten in place retrains to a fresh train's model") {
    import java.nio.file.{Files, Path, Paths}
    import org.apache.spark.sql.functions.col
    import graft.llm.{Bpe, Llm}
    def deleteTree(p: Path): Unit = {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
    def copyTables(from: String, to: String): Unit =
      Seq("embeddings", "documents").foreach(t =>
        s.read.parquet(s"$from/$t.parquet").write.parquet(s"$to/$t.parquet"))
    def models(d: String) =
      (Llm.trainCentroids(s, d), Llm.trainPqCodebooks(s, d), Bpe.train(s, d))
    val dir = graft.core.Scratch.fresh("buildonce").toString
    val fresh = graft.core.Scratch.fresh("buildonce-fresh").toString
    try {
      copyTables(TestSpark.Sf, dir)
      val first = models(dir)
      val again = models(dir)
      assert(first._1 eq again._1, "IVF centroids retrained on unchanged files")
      assert(first._2 eq again._2, "PQ codebooks retrained on unchanged files")
      assert(first._3 eq again._3, "BPE model retrained on unchanged files")
      // rewrite each table in place with a row subset: same path, new files
      Seq("embeddings" -> "vec_id", "documents" -> "doc_id").foreach {
        case (t, id) =>
          val sub = s"$dir/${t}_sub.parquet"
          s.read.parquet(s"$dir/$t.parquet").filter(col(id) % 3 =!= 0)
            .write.parquet(sub)
          deleteTree(Paths.get(dir, s"$t.parquet"))
          Files.move(Paths.get(sub), Paths.get(dir, s"$t.parquet"))
      }
      val rewritten = models(dir)
      // the same files under another dir miss the cache: a fresh train
      copyTables(dir, fresh)
      val expected = models(fresh)
      assert(rewritten._1 == expected._1 && rewritten._1 != first._1,
        "IVF centroids not retrained after the rewrite")
      assert(rewritten._2 == expected._2 && rewritten._2 != first._2,
        "PQ codebooks not retrained after the rewrite")
      assert(rewritten._3 == expected._3 && rewritten._3 != first._3,
        "BPE model not retrained after the rewrite")
      assert(Bpe.trainFresh(s, dir) == rewritten._3)
    } finally {
      deleteTree(Paths.get(dir))
      deleteTree(Paths.get(fresh))
    }
  }
}
