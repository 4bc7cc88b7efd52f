package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType}
import graft.core.{BuildOnce, Tables}

/** SURVEY §2.10 L22 — near-duplicate CLUSTERING: close the verified
  * pair relation (l10b's MinHash-banded, Jaccard-verified near-dup
  * pairs) into connected components and elect one canonical document
  * per component. Pair generation alone under-deduplicates: if A≈B and
  * B≈C but A's similarity to C sits just under the threshold, pairwise
  * survivor-picking keeps two of the three — the component view keeps
  * exactly one. This is the standard final stage of a web-scale dedup
  * pipeline (the corpus here genuinely chains: 22 components over 1 377
  * pairs at sf0.01, largest component 93 docs).
  *
  * Algorithm, two phases (the MapReduce-CC recipe of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14):
  *
  *  1. CONTRACTION (one pass over the full edge relation): every node
  *     takes l0 = min(self, neighbours) — the large-star move. On dup
  *     graphs this single step collapses the LSH cliques that carry
  *     almost all edges (sf0.1: 154 236 symmetric edges → 406 contracted
  *     edges, 380× fewer), so the iterative phase never touches the
  *     full edge set again.
  *  2. MIN-LABEL PROPAGATION with POINTER JUMPING over the contracted
  *     graph: each round compresses one hop (label ← label(label), the
  *     path-halving step of parallel union-find), then takes the min
  *     label over self + neighbours. Labels are per-node monotone
  *     non-increasing and bounded below by the component min, so the
  *     loop terminates; jumping makes the round count O(log diameter)
  *     instead of O(diameter).
  *
  * 100 TB shape: phase 1 is one groupBy shuffle over |E| (the same
  * order as the LSH banding that produced the edges); each phase-2
  * round touches only the contracted relation, and the driver sees
  * per-round convergence label-sums (exact decimals — labels only ever
  * decrease, so a stationary sum means converged), never data.
  * Iteration state is
  * truncated with localCheckpoint so the plan does not grow with the
  * round count (lineage blow-up is the classic iterative-DataFrame
  * trap; on a cluster use `spark.sparkContext.setCheckpointDir` +
  * `checkpoint()` for fault-tolerant truncation instead).
  */
object Cluster {
  import graft.core.Loop

  /** Conservative per-row byte estimate for the CC relations feeding the
    * measured-size broadcast gates and the loop width (two BIGINT doc
    * ids + row overhead — the graph family's NodeRowBytes convention). */
  private val RowBytes = 32L

  /** Connected components of `edges` (d1, d2) over `nodes` (node):
    * returns (node, label) where label = min node id of the component.
    * Isolated nodes label themselves. Deterministic: min is
    * order-independent, no RNG, no partition-order sensitivity.
    *
    * Phase 1 — the edge-pipeline materialization, the full-|E|
    * contraction groupBy and the corpus-sized joins — runs at the
    * caller's shuffle width. The phase-2 loop runs on [[Loop.run]] like
    * the graph family: the CONTRACTED relation, orders of magnitude
    * smaller than the corpus, is checkpointed hash-partitioned by node
    * at [[Loop.loopParts]] width and the labels lookup is
    * broadcast-gated, so no round shuffles at test scale. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 30,
                          dumpRound: Option[DataFrame => Unit] = None)
      : DataFrame = {
    val s = nodes.sparkSession
    // ---- phase 1: materialize the (possibly expensive) edge pipeline
    // once, contract every node to min(self, nbrs)
    val sym = edges.select(col("d1").as("node"), col("d2").as("nbr"))
      .union(edges.select(col("d2").as("node"), col("d1").as("nbr")))
      .localCheckpoint()
    // measured broadcast gates: every relation below rides a
    // checkpointed plan whose preserved stats are join-product
    // estimates, so autoBroadcast never fires and the |E|-sized sym
    // would be sort-merge-shuffled twice into e1. The true sizes are
    // known: nbrMin/l0 are node-bounded, sym.count() bounds the node
    // side conservatively (nv ≤ |sym| for edge-touched nodes; isolated
    // nodes only enter via `nodes`, gated by its own l0 count below).
    val bcastE = Loop.bcastIfFits(s, sym.count(), RowBytes)
    val l0 = nodes
      .join(bcastE(sym.groupBy(col("node")).agg(min(col("nbr")).as("mn"))),
            Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("mn"), col("node"))).as("label"))
      .localCheckpoint()
    val bcastN = Loop.bcastIfFits(s, l0.count(), RowBytes)
    // contracted edge relation: the l0-images of each surviving edge.
    // Component-preserving (u—v implies l0(u) and l0(v) share u or v's
    // component and every component min is its own l0 image). Symmetric
    // because sym is. Checkpointed once to count it, then keyed by node
    // at loop width: the round's neighbour-min groups by node.
    val contracted = sym
      .join(bcastN(l0.select(col("node"), col("label").as("la"))), "node")
      .join(bcastN(l0.select(col("node").as("nbr"), col("label").as("lb"))),
        "nbr")
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("node"), col("lb").as("nbr"))
      .distinct()
      .localCheckpoint()
    val parts = Loop.loopParts(s, contracted.count(), RowBytes)
    val e1 = Loop.checkpointByKeyN(contracted, parts, col("node"))
    // every contracted node starts as its own label; min(node) rather
    // than a `node AS label` alias, which would make Spark report the
    // checkpoint's partitioning on `label` and shuffle round 1's join
    val init = Loop.checkpointByKeyN(e1.groupBy(col("node"))
      .agg(min(col("node")).as("label")), parts, col("node"))
    // ---- phase 2: iterate only over the contracted graph. Convergence
    // metric: Σ label as DECIMAL(38,0). Labels are per-node monotone
    // non-increasing (the min-combine and the jump both only lower
    // them), so the sum is stationary exactly when no label moved — one
    // node-sized aggregate per round instead of a join back against the
    // previous labels. DECIMAL keeps it exact at any node-id scale (a
    // 64-bit sum would overflow near 1e11 nodes × 1e11 ids). coalesce:
    // sum over an EMPTY contracted graph (a single contraction pass
    // collapsed every component — the star-test case) is NULL.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast(DecimalType(38, 0))),
                      lit(java.math.BigDecimal.ZERO)))
        .head().getDecimal(0)
    val ((small, _), rounds) = Loop.run((init, labelSum(init)), maxIter,
        dumpRound)(st => ccRound(st._1, e1, bcastN)) {
      case ((_, prevSum), next) =>
        val curSum = labelSum(next)
        if (curSum.compareTo(prevSum) == 0) None else Some((next, curSum))
    }
    require(rounds < maxIter,
      s"connectedComponents did not converge in $maxIter rounds")
    // ---- expand: label(u) = loop-label of l0(u); l0(u) itself when
    // its contracted node was isolated (star collapsed in phase 1). The
    // loop labels are contracted-node-sized ≤ |l0| — broadcast under the
    // same gate so l0 streams unshuffled.
    l0.join(
        bcastN(small.select(col("node").as("label"),
          col("label").as("label2"))),
        Seq("label"), "left")
      .select(col("node"),
        coalesce(col("label2"), col("label")).as("label"))
  }

  /** One phase-2 round (pre-checkpoint): one pointer jump followed by
    * the neighbour-min step — PlanDump's per-iteration plan (the
    * g1bRound convention). The jump runs first, on the checkpointed
    * `labels`, so the round reads the costly neighbour-min subtree once
    * (the jump reads its input twice: as the stream and as the lookup).
    * `labels` and `sym` are hash(node)-partitioned and the two label
    * lookups broadcast, so the round keeps hash(node) without a shuffle. */
  private[graft] def ccRound(labels: DataFrame, sym: DataFrame,
      bcast: DataFrame => DataFrame): DataFrame = {
    // (1) pointer jump: label ← label(label). Every label value is a
    // node id (invariant label(u) ≤ u from the init + min-combine), so
    // the lookup is an inner self-join that can never drop rows.
    val jumped = labels.select(col("node"), col("label").as("mid"))
      .join(bcast(labels.select(col("node").as("mid"), col("label"))), "mid")
      .select(col("node"), col("label"))
    // (2) neighbour-min step: label ← min(label, min over nbrs' labels)
    val nbrMin = sym
      .join(bcast(jumped.select(col("node").as("nbr"), col("label").as("nl"))),
            "nbr")
      .groupBy(col("node")).agg(min(col("nl")).as("nmin"))
    jumped.join(nbrMin, Seq("node"), "left")
      .select(col("node"),
        least(col("label"), coalesce(col("nmin"), col("label")))
          .as("label"))
  }

  /** The (doc_id, label) component assignment underlying l22: CC over
    * the token-set-contracted near-dup graph, docs inheriting their
    * rep's label (see the l22 comment for why the contraction is
    * exact). */
  private[graft] def docComponents(s: SparkSession, d: String,
      dumpRound: Option[DataFrame => Unit] = None): DataFrame = {
    val (repEdges, member) = DedupExt.nearDupRepEdges(s, d)
    val repNodes = member.filter(col("doc_id") === col("rep"))
      .select(col("doc_id").as("node"))
    val labels = connectedComponents(repNodes, repEdges,
      dumpRound = dumpRound)
    member
      .join(labels.select(col("node").as("rep"), col("label")), "rep")
      .select(col("doc_id"), col("label"))
  }

  /** The component relation as a build-once artifact for the DERIVED
    * queries (l36 election, l37 split) — one corpus, one CC build, many
    * consumers ([[graft.core.BuildOnce]], keyed by the documents'
    * fingerprint). The canonical l22 query does NOT use it, so its bench
    * line keeps measuring the full CC build; l36/l37 lines measure their
    * derivation (first touch pays the build in bench warm-up —
    * documented in BASELINE.md). localCheckpoint so reuse replays no
    * lineage. */
  private[llm] def cachedComponents(s: SparkSession, d: String): DataFrame =
    BuildOnce("cc-components", (), d, "documents")(
      docComponents(s, d).localCheckpoint())

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L22 — dup-cluster assignment + canonical election over the l10b
    // verified near-dup pairs. component = min doc_id of the cluster;
    // the canonical (kept) doc is the one equal to its component id.
    // Runs on the token-set-CONTRACTED graph (DedupExt.nearDupRepEdges):
    // identical-token-set docs are interchangeable in every pipeline
    // stage, so the CC closes the rep relation (~100× fewer edges on
    // this corpus's clique-heavy near-dup structure) and docs inherit
    // their rep's label. Exact: within-group cliques connect members to
    // the rep's component, and rep = group min, so the min label over
    // reps IS the min doc_id of the doc-level component.
    "l22_dup_clusters" -> ((s, d) => {
      val docLab = docComponents(s, d)
      val cs = docLab.groupBy(col("label")).agg(count(lit(1)).as("csize"))
      docLab.join(cs, "label")
        .select(col("doc_id"), col("label").as("component"),
          col("csize"), (col("doc_id") === col("label")).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // L36 — quality-aware canonical ELECTION per near-dup cluster: the
    // doc a production pipeline keeps is the highest-QUALITY member,
    // not the lowest-id one (min-id election throws away the best copy
    // whenever a cleaner rewrite of a page has the higher id). Composes
    // l22's component closure with l15's quality score; the argmax is a
    // max(struct(score, -doc_id)) two-phase aggregate — partial
    // map-side, one shuffle on component, ties broken to the LOWEST
    // doc_id by the negated id. 100 TB: derives from the cached
    // build-once CC artifact; the election adds one agg over the
    // component key — no new quadratic term, no new corpus scan beyond
    // the l15 features.
    "l36_cluster_rep" -> ((s, d) => {
      val m = cachedComponents(s, d)
        .join(DedupExt.qualityFeatures(s, d)
                .select(col("doc_id"), col("score")), "doc_id")
      m.groupBy(col("label"))
        .agg(count(lit(1)).as("csize"),
             max(struct(col("score"), (-col("doc_id")).as("nid"))).as("b"))
        .select(col("label").as("component"), col("csize"),
          (-col("b.nid")).as("rep_doc"), col("b.score").as("rep_score"))
        .orderBy(col("component"))
    }),

    // L37 — leakage-free train/holdout SPLIT: assign each near-dup
    // COMPONENT (not each doc) to a side by a portable hash of the
    // component id, so no near-duplicate pair ever crosses the split.
    // Doc-level hashing leaks — a doc in train with its near-copy in
    // holdout is exactly the contamination L27 exists to catch; closing
    // over the l22 components makes the guarantee structural. ~90/10 by
    // hash bucket (md5-prefix idiom, engine-portable, stable under
    // corpus growth: a component's side never changes as other docs
    // arrive). 100 TB: one projection over the cached CC artifact.
    "l37_leakfree_split" -> ((s, d) =>
      cachedComponents(s, d)
        .select(col("doc_id"), col("label").as("component"),
          when(conv(substring(md5(col("label").cast(StringType)), 1, 12),
                    16, 10).cast(LongType) % 10 < 9, lit("train"))
            .otherwise(lit("holdout")).as("split"))
        .orderBy(col("doc_id"))),

    // L39 — the END-TO-END corpus-EXPORT composition as ONE declarative
    // query: span-dedup accounting (l33) → quality-aware canonical
    // election per near-dup cluster (l36) → leakage-free train/holdout
    // split on the component hash (l37) → seeded epoch permutation +
    // shard plan within each split (l35). This is the query a training
    // run actually consumes: which docs ship, on which side, in which
    // shard, at what position, carrying how many effective (post-span-
    // removal) tokens. Output is the per-(split, shard) manifest —
    // n_docs, Σdoc_id, Σdoc_id·(pos+1) (pins the full permutation) and
    // Σeff_tok (pins the l33 stage) — aggregate-cardinality (≤ 17 rows
    // per side), all-integer, hash-exact.
    // 100 TB: every stage keeps its own scale shape — spanStats is the
    // one-shuffle rolling-hash plan, the election derives from the
    // build-once CC artifact, the split is a projection, and the
    // permutation uses the GlobalRank recipe (range shuffle + broadcast
    // offsets, NO single-task window); the final collect is the ≤34-row
    // manifest, metadata-sized.
    "l39_corpus_export" -> ((s, d) => {
      import s.implicits._
      import graft.core.GlobalRank
      // (1) l33: effective token count after span removal
      val eff = DedupExt.spanStats(s, d)
        .select(col("doc_id"),
          (col("n_tok") - col("n_removed_tok")).as("eff_tok"))
      // (2) l36: one kept doc per component, highest quality wins
      val reps = cachedComponents(s, d)
        .join(DedupExt.qualityFeatures(s, d)
          .select(col("doc_id"), col("score")), "doc_id")
        .groupBy(col("label"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("b"))
        .select(col("label").as("component"), (-col("b.nid")).as("doc_id"))
      // (3) l37: component-hash split — no near-dup pair crosses sides
      val sides = reps.withColumn("split",
        when(conv(substring(md5(col("component").cast(StringType)), 1, 12),
                  16, 10).cast(LongType) % 10 < 9, lit("train"))
          .otherwise(lit("holdout")))
      // (4) l35: epoch permutation + 16-way shard plan within each split
      val keyed = sides.join(eff, "doc_id")
        .withColumn("key",
          conv(substring(md5(concat(col("doc_id").cast(StringType),
            lit(":ep1"))), 1, 12), 16, 10).cast(LongType))
      GlobalRank.withGlobalIndex(keyed,
          Seq(col("split"), col("key"), col("doc_id"))) { wi =>
        val w = wi.select(col("split"), col("idx"), col("doc_id"),
          col("eff_tok"))
        // per-split offset + shard size: 2-row aggregate, broadcast back
        val parts = w.groupBy(col("split"))
          .agg(min(col("idx")).as("o"), count(lit(1)).as("n")).collect()
          .map(r => (r.getString(0), r.getLong(1), (r.getLong(2) + 15L) / 16L))
        val partDf = broadcast(parts.toSeq.toDF("split", "o", "sz"))
        val rows = w.join(partDf, "split")
          .withColumn("sidx", col("idx") - col("o"))
          .withColumn("shard", expr("sidx div sz"))
          .withColumn("pos", col("sidx") - col("shard") * col("sz"))
          .groupBy(col("split"), col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_doc"),
            sum(col("doc_id") * (col("pos") + lit(1L))).as("sum_doc_pos"),
            sum(col("eff_tok")).as("sum_eff_tok"))
          .collect() // ≤34-row manifest inside the helper's eager scope
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5)))
        rows.toSeq
          .toDF("split", "shard", "n_docs", "sum_doc", "sum_doc_pos",
            "sum_eff_tok")
          .orderBy(col("split"), col("shard"))
      }
    })
  )

  // The oracle closes the same jac pair relation with a recursive CTE
  // (reach = all (a, b) with b reachable from a); component = min
  // reachable node (or self for isolated docs). The CTE chain through
  // `lab` (doc_id → component) is shared by all three cluster oracles
  // so the component definition cannot drift between them.
  private val ccCtes: String =
    s"""${DedupExt.l10bCtes},
      |e AS (SELECT d1 AS a, d2 AS b FROM jac
      |      UNION SELECT d2, d1 FROM jac),
      |reach(a, b) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON e2.a = r.b),
      |lab AS (
      |  SELECT d.doc_id,
      |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
      |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      |  GROUP BY d.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "l22_dup_clusters" ->
      s"""WITH RECURSIVE $ccCtes,
        |cs AS (SELECT component, count(*) AS csize FROM lab
        |       GROUP BY component)
        |SELECT l.doc_id, l.component, cs.csize,
        |  l.doc_id = l.component AS is_canonical
        |FROM lab l JOIN cs USING (component)
        |ORDER BY doc_id""".stripMargin,

    // l36 — the same component closure joined to the l15 quality CTEs
    // (shared verbatim via DedupExt.qualitySql); the election replays
    // the engine's max(struct(score, -doc_id)) as a row_number over
    // (score DESC, doc_id ASC). Scores are pure IEEE ratio arithmetic
    // on identical inputs, so the DESC comparison agrees bit-for-bit.
    "l36_cluster_rep" ->
      s"""WITH RECURSIVE $ccCtes,
        |${DedupExt.qualitySql},
        |m AS (SELECT l.doc_id, l.component, q.score
        |      FROM lab l JOIN q USING (doc_id)),
        |r AS (SELECT component, count(*) AS csize FROM m
        |      GROUP BY component),
        |b AS (SELECT component, doc_id, score,
        |        row_number() OVER (PARTITION BY component
        |                           ORDER BY score DESC, doc_id ASC) AS rn
        |      FROM m)
        |SELECT b.component, r.csize, b.doc_id AS rep_doc,
        |  b.score AS rep_score
        |FROM b JOIN r USING (component) WHERE rn = 1
        |ORDER BY component""".stripMargin,

    // l37 — the portable md5-prefix hash of the component id decides
    // the side (same idiom both engines: 12 hex digits = 48 bits,
    // non-negative, identical % 10 buckets).
    "l37_leakfree_split" ->
      s"""WITH RECURSIVE $ccCtes
        |SELECT doc_id, component,
        |  CASE WHEN CAST('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 12)
        |              AS BIGINT) % 10 < 9
        |       THEN 'train' ELSE 'holdout' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin,

    // l39 — the four stage definitions are the SHARED fragments of their
    // standalone oracles (ccCtes for the components, qualitySql for the
    // election score, spanRmCtes for the removal plan, the l35 md5 key
    // idiom for the permutation), so the composition cannot drift from
    // the stages it claims to compose. All-integer output.
    "l39_corpus_export" ->
      s"""WITH RECURSIVE $ccCtes,
        |${DedupExt.qualitySql},
        |${DedupExt.spanRmCtes},
        |eff AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT)
        |      - coalesce(rm33.n_removed_tok, 0) AS eff_tok
        |  FROM documents LEFT JOIN rm33 USING (doc_id)),
        |m39 AS (SELECT l.doc_id, l.component, q.score
        |        FROM lab l JOIN q USING (doc_id)),
        |b39 AS (SELECT component, doc_id,
        |          row_number() OVER (PARTITION BY component
        |                             ORDER BY score DESC, doc_id ASC) AS rn
        |        FROM m39),
        |reps AS (SELECT component, doc_id FROM b39 WHERE rn = 1),
        |spl AS (
        |  SELECT doc_id, component,
        |    CASE WHEN CAST('0x' || substring(md5(CAST(component AS VARCHAR)),
        |                1, 12) AS BIGINT) % 10 < 9
        |         THEN 'train' ELSE 'holdout' END AS split
        |  FROM reps),
        |k39 AS (
        |  SELECT spl.doc_id, spl.split, eff.eff_tok,
        |    CAST('0x' || substring(md5(CAST(spl.doc_id AS VARCHAR) || ':ep1'),
        |      1, 12) AS BIGINT) AS key
        |  FROM spl JOIN eff USING (doc_id)),
        |r39 AS (
        |  SELECT *, row_number() OVER (PARTITION BY split
        |                               ORDER BY key, doc_id) - 1 AS sidx
        |  FROM k39),
        |p39 AS (SELECT split, CAST(ceil(count(*) / 16.0) AS BIGINT) AS sz
        |        FROM k39 GROUP BY split)
        |SELECT split, sidx // sz AS shard, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
        |  CAST(sum(doc_id * (sidx - (sidx // sz) * sz + 1)) AS BIGINT)
        |    AS sum_doc_pos,
        |  CAST(sum(eff_tok) AS BIGINT) AS sum_eff_tok
        |FROM r39 JOIN p39 USING (split)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
