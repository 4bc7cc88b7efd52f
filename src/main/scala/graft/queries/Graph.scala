package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Loop, Tables}

/** SURVEY.md §2 — G1: iterative graph analytics (PageRank).
  *
  * The Pregel-shaped iterative workload class (PageRank / label
  * propagation / SimRank) that an analytics engine needs beyond the
  * one-shot connected components of L22: a fixed number of
  * message-passing rounds, each one shuffle-join on the edge source +
  * one aggregation on the destination.
  *
  * Graph: the co-purchase bipartite graph — an undirected edge between
  * customer c and supplier s iff some order of c has a lineitem from s
  * (distinct pairs; node id = custkey·2 for customers, suppkey·2+1 for
  * suppliers, so one BIGINT key space covers both sides). Every node in
  * the edge relation has degree ≥ 1 and the symmetric edge list has no
  * dangling nodes, so no dangling-mass correction is needed.
  *
  * Arithmetic (the repo's exact-integer contract): fixed-point BIGINT
  * mass at Scale = 1e12. pr0 = Scale div nv; each round
  *
  *   pr'(v) = (15·Scale) div (100·nv)
  *          + (85 · Σ_{u∼v} (pr(u) div deg(u))) div 100
  *
  * — floor division throughout, so five rounds are bit-replayable in
  * any engine (no IEEE ops at all). Mass peaks ≤ Scale, so
  * 85·Σ ≤ 8.5e13: int64-safe at any corpus size (per-round mass is
  * normalized, not corpus-cumulative).
  *
  * 100 TB shape: the edge build is one distinct over the orders ⋈
  * lineitem join (both keyed o_orderkey — one shuffle); each round is
  * the Pregel step (shuffle on src, aggregate on dst) with the rank
  * relation localCheckpoint'd per round to truncate lineage — round
  * count is fixed (5), so total work is 5 linear passes over |E|.
  * Top-20 is TakeOrderedAndProject (per-partition heads, 20-row merge).
  */
object Graph {

  /** Conservative per-row byte estimate for the nv-sized loop relations
    * (nid + one BIGINT payload + row overhead) feeding the measured-size
    * broadcast gate (Loop.bcastIfFits). */
  private[graft] val NodeRowBytes = 32L

  /** Per-row estimate for the 3-BIGINT edge relations sizing the loop
    * width and g2's shuffled-hash build-side budget check. */
  private[graft] val EdgeRowBytes = 40L

  /** Fixed-point mass scale (1e12: nv up to ~1e9 nodes still leaves
    * ≥1e3 resolution steps per node's teleport share). */
  val Scale = 1000000000000L

  /** PageRank rounds — fixed, part of the canonical definition. */
  val Rounds = 5

  /** G1b convergence-mode parameters. Damping is 1/2 (not G1's 85/100):
    * the iteration's l∞ gap contracts by the damping factor per round,
    * so exact-integer stationarity lands within ~log2(Scale/nv) ≈ 30
    * rounds — a bounded budget; at 85/100 the same exact fixed point
    * needs ~130 rounds (0.85^t · Scale/nv < 1). The machinery G1b
    * exists to demonstrate — dangling-mass redistribution + an exact
    * stationarity stop + a replayable cap — is damping-independent
    * (G1 keeps the canonical 85/100 on the fixed-round form). */
  val ConvCap = 40

  /** The DIRECTED co-purchase edge list for G1b: customer → supplier
    * only (c bought from s), so every supplier is a DANGLING node (no
    * out-edges) — the real-graph structure G1's symmetric construction
    * designs away. customer nid = 2·custkey, supplier nid =
    * 2·suppkey + 1. */
  private def directedEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  /** The symmetric co-purchase edge list for G1: the directed edges
    * and their reverse. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val de = directedEdges(s, d)
    de.unionByName(de.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** G1/G1b output: the top-20 ranks as (nid, kind, key, pr). */
  private def top20(pr: DataFrame): DataFrame =
    pr.select(col("nid"),
        when(col("nid") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        expr("nid div 2").as("key"), col("pr"))
      .orderBy(col("pr").desc, col("nid").asc)
      .limit(20)

  /** One g1b round's pre-checkpoint `next` relation — the loop-body plan
    * the bench pays ConvCap-ish times, and the one PlanDump captures.
    *
    * `pr` is the previous round's (nid, pr) slice; `nodes2` the static
    * (nid, dang) node relation. edeg is hash(dst)-partitioned and nodes2
    * hash(nid)-partitioned (see g1bRun), so the in-mass groupBy runs
    * exchange-free and the nodes2 ⋈ in join is CO-PARTITIONED (in is
    * keyed and partitioned by dst): deliberately NOT broadcast — a
    * broadcast would cost one more driver job + collect per round, while
    * the co-partitioned SMJ keeps the whole round body a single
    * zero-exchange stage. Only `pr` is broadcast (its consumer edeg is
    * partitioned by dst, not the join key src — without the broadcast
    * every round would re-shuffle |E|). */
  private[graft] def g1bRound(nodes2: DataFrame, edeg: DataFrame,
      pr: DataFrame, bcast: DataFrame => DataFrame, tele: Long,
      dangShare: Long): DataFrame = {
    val in = edeg.join(bcast(pr), edeg("src") === pr("nid"))
      .select(col("dst"), expr("pr div deg").as("m"))
      .groupBy(col("dst")).agg(sum(col("m")).as("inm"))
    nodes2
      .join(in, nodes2("nid") === in("dst"), "left")
      .select(nodes2("nid"),
        (lit(tele) +
          expr(s"(coalesce(inm, CAST(0 AS BIGINT)) + $dangShare) div 2"))
          .as("pr"),
        col("dang"))
  }

  /** G1b body: runs the convergence loop and returns (top-20 result,
    * rounds actually executed) — the round count is exposed ONLY for
    * RetrievalGraphSpec's converged-before-cap pin; the query output
    * never encodes it (the oracle runs the full unconditional unroll).
    *
    * Exact-integer iteration with dangling mass, damping 1/2:
    *
    *   dang    = Σ pr(u) over out-degree-0 nodes
    *   in(v)   = Σ_{u→v} (pr(u) div deg(u))        (0 if no in-edges)
    *   pr'(v)  = Scale div (2·nv)
    *           + (in(v) + dang div nv) div 2
    *
    * Early stop at EXACT stationarity (no tolerance): pr' == pr row-
    * for-row. That stop is identity-safe — the state map F depends only
    * on the current state and static relations, so pr_i == pr_{i-1}
    * implies every later round is a no-op, and the oracle can simply
    * unroll ConvCap rounds unconditionally; if the integer trajectory
    * never lands exactly (a floor-noise limit cycle), both sides run
    * the full cap and still agree. 100 TB: per round one shuffle join
    * on src + one aggregation on dst (the G1 Pregel shape), a 1-row
    * dangling-mass aggregate collected as a driver scalar (bounded by
    * construction — and load-bearing for planner health, see below),
    * and a changed-row probe joining the two checkpointed (nv-sized)
    * rank relations — round count is bounded by the cap and in practice
    * ~log2(Scale/nv). */
  private[graft] def g1bRun(s: SparkSession, d: String,
      dumpRound: Option[DataFrame => Unit] = None): (DataFrame, Int) = {
    val e = directedEdges(s, d).localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val ndeg = deg.count()
    val bcastDeg = Loop.bcastIfFits(s, ndeg, NodeRowBytes)
    val parts = Loop.loopParts(s, e.count(), EdgeRowBytes)
    // the loop-invariant e⋈deg runs once, checkpointed hash-partitioned
    // by dst: the per-round in-mass aggregate groups by dst, so no round
    // shuffles its rows (guide §2.4). It pins one more O(|E|) relation
    // (the storage/fault-tolerance trade `e` itself makes: on executor
    // loss production re-runs the stage from the scans).
    val edeg = Loop.checkpointByKeyN(
      e.join(bcastDeg(deg), "src")
        .select(col("src"), col("dst"), col("deg")), parts, col("dst"))
    // static (nid, dang) node relation, hash-partitioned by nid: the
    // dangling flag is a per-node constant, so computing it ONCE here
    // keeps a deg join out of every round's probe; the nid partitioning
    // keeps the nodes2 ⋈ in join exchange-free when the gate is off
    // (in-mass is keyed dst = nid and partitioned by it).
    val nodes2 = Loop.checkpointByKeyN(
      e.select(col("src").as("nid"))
        .unionByName(e.select(col("dst").as("nid"))).distinct()
        .join(bcastDeg(deg), col("nid") === deg("src"), "left")
        .select(col("nid"), col("src").isNull.as("dang")), parts, col("nid"))
    val nv = nodes2.count()
    // every nv-sized loop relation rides a checkpointed plan whose size
    // stats are join-product estimates, so autoBroadcast never fires on
    // them; the true size nv is counted, so gate on it.
    val bcast = Loop.bcastIfFits(s, nv, NodeRowBytes)
    val tele = Scale / (2L * nv)
    // dangling mass as a driver scalar (1 row per round — the L22
    // convergence-scalar idiom). Besides being the natural way to
    // feed a scalar into the next step, it keeps `pr` referenced
    // EXACTLY ONCE in the checkpointed plan: localCheckpoint
    // preserves origin size-in-bytes stats, and Catalyst's default
    // join estimate is the PRODUCT of child sizes — with k
    // references per round the preserved stat's digit count grows
    // k-fold per round and analysis time goes exponential in the
    // round number (BigInteger multiplication on the main thread;
    // measured: rounds 18/19/20 at 4.5/8.4/39 s on sf0.001 with
    // k = 3). Single-reference keeps the digit growth linear — which is
    // why each round's `next` joins the STATIC nodes2, never pr itself.
    // The initial mass is closed-form: pr0 is uniform, so
    // Σ pr0 over dangling = (Scale div nv) · (nv − |deg|).
    val pr0 = nodes2.select(col("nid"), lit(Scale / nv).as("pr"), col("dang"))
    val ((pr, _), rounds) = Loop.run(
        (pr0, (Scale / nv) * (nv - ndeg) / nv), ConvCap, dumpRound) {
      case (pr, dangShare) => g1bRound(nodes2, edeg,
        pr.select(col("nid"), col("pr")), bcast, tele, dangShare)
    } { case ((pr, _), next) =>
      // one probe job per round: stationarity against the previous
      // ranks AND the next round's dangling mass, both over the
      // just-checkpointed `next`. Outside the checkpointed plan, so the
      // join never inflates carried stats; the full-scan aggregate is
      // cheaper than a second short-circuit job. The dangling flag rides
      // `next` as a column (from nodes2), and both sides carry
      // hash(nid), so the probe is one zero-exchange, zero-broadcast job.
      val probe = next
        .join(pr.select(col("nid").as("pnid"), col("pr").as("prev")),
          next("nid") === col("pnid"))
        .agg(
          coalesce(sum(when(next("dang"), next("pr"))), lit(0L))
            .as("dang_mass"),
          coalesce(max(when(next("pr") =!= col("prev"), 1)), lit(0))
            .as("changed"))
        .head()
      if (probe.getInt(1) == 0) None else Some((next, probe.getLong(0) / nv))
    }
    // the round that found the fixpoint ran too
    (top20(pr), if (rounds < ConvCap) rounds + 1 else rounds)
  }

  /** G1 body (see the g1_pagerank registration comment for semantics). */
  private[graft] def g1Run(s: SparkSession, d: String,
      dumpRound: Option[DataFrame => Unit] = None): DataFrame = {
    val e = edges(s, d).localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nv = deg.count()
    // the g1b recipe: deg broadcast-gated, e⋈deg run once and
    // checkpointed hash-partitioned by dst, so the per-round rank
    // aggregate (groupBy dst) is exchange-free
    val bcast = Loop.bcastIfFits(s, nv, NodeRowBytes)
    val edeg = Loop.checkpointByKeyN(
      e.join(bcast(deg), "src").select(col("src"), col("dst"), col("deg")),
      Loop.loopParts(s, e.count(), EdgeRowBytes), col("dst"))
    val tele = (15L * Scale) / (100L * nv)
    val pr0 = deg.select(col("src").as("nid"), lit(Scale / nv).as("pr"))
    top20(Loop.run(pr0, Rounds, dumpRound)(g1Round(edeg, _, bcast, tele))(
      (_, next) => Some(next))._1)
  }

  /** One g1 Pregel round (pre-checkpoint) — PlanDump's per-iteration
    * plan (see g1bRound). */
  private[graft] def g1Round(edeg: DataFrame, pr: DataFrame,
      bcast: DataFrame => DataFrame, tele: Long): DataFrame =
    edeg.join(bcast(pr), edeg("src") === pr("nid"))
      .select(col("dst"), expr("pr div deg").as("m"))
      .groupBy(col("dst")).agg(sum(col("m")).as("sumin"))
      .select(col("dst").as("nid"),
        (lit(tele) + expr("(85 * sumin) div 100")).as("pr"))

  /** The co-order part pairs (a, b, c): every two parts a < b that
    * share c ≥ 1 distinct orders, from one o_orderkey-keyed self-join
    * (never all-pairs).
    *
    *  - G2/G3 take every pair: the unipartite market-basket graph (the
    *    G1 customer×supplier graph is bipartite, hence triangle-free by
    *    construction).
    *  - G4 takes c ≥ 2, the market-basket support threshold. The
    *    unthresholded graph is near-complete at test scale (every
    *    4-lineitem order contributes 6 pairs over a small part
    *    universe), so every hop distance would be ≤ 2; support-2 keeps
    *    only repeatedly co-purchased pairs, giving the graph real
    *    diameter (measured 2 / 7 / 5 at the shipped sfs) and genuinely
    *    disconnected components (unreached nodes are absent from the
    *    output — part of the canonical check).
    *  - G5 takes c ≥ 2 with a support-derived weight (see g5Run). */
  private def coOrderPairs(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    op.as("x").join(op.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Both orientations of an undirected (a, b, …) edge list as a
    * (src, dst, …) relation, checkpointed hash-partitioned by dst at
    * loop width: every g3/g4/g5 round aggregates on dst, so no round
    * shuffles (guide §2.4). The pairs are checkpointed first so their
    * self-join runs once (the symmetrization reads them twice) and
    * their count sizes the width (guide §2.2). */
  private def loopEdges(pairs: DataFrame): DataFrame = {
    val und = pairs.localCheckpoint()
    val rest = und.columns.toSeq.drop(2).map(col)
    Loop.checkpointByKeyN(
      und.select(col("a").as("src") +: col("b").as("dst") +: rest: _*)
        .unionByName(
          und.select(col("b").as("src") +: col("a").as("dst") +: rest: _*)),
      Loop.loopParts(und.sparkSession, 2L * und.count(), EdgeRowBytes),
      col("dst"))
  }

  /** G3 label-propagation rounds — fixed, part of the canonical
    * definition (synchronous LPA converges or 2-cycles; a fixed round
    * count keeps it deterministic and oracle-replayable). */
  val LpaRounds = 5

  /** G3 body (see the g3_labelprop registration comment for semantics). */
  private[graft] def g3Run(s: SparkSession, d: String,
      dumpRound: Option[DataFrame => Unit] = None): DataFrame = {
    // both per-round aggregates key on dst ((dst, lbl) then dst), and
    // hash(dst) satisfies both
    val e = loopEdges(coOrderPairs(s, d).select(col("a"), col("b")))
    val lbl0 = e.select(col("src").as("nid")).distinct()
      .select(col("nid"), col("nid").as("lbl"))
      .localCheckpoint()
    // lbl is nv-sized: gate its broadcast on the counted nv
    val bcast = Loop.bcastIfFits(s, lbl0.count(), NodeRowBytes)
    Loop.run(lbl0, LpaRounds, dumpRound)(g3Round(e, _, bcast))(
        (_, next) => Some(next))._1
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community").asc)
  }

  /** One g3 synchronous LPA round (pre-checkpoint) — PlanDump's
    * per-iteration plan (see g1bRound). */
  private[graft] def g3Round(e: DataFrame, lbl: DataFrame,
      bcast: DataFrame => DataFrame): DataFrame =
    e.join(bcast(lbl), e("src") === lbl("nid"))
      .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
      .select(col("dst").as("nid"), (-col("m.nl")).as("lbl"))

  /** G4 BFS round cap. Identity-safe like G1b's ConvCap: once the
    * frontier is empty every later round is a no-op, so the generated
    * oracle unrolls all BfsCap rounds unconditionally while the engine
    * stops on the first empty frontier. Measured eccentricity of the
    * support-2 graph is ≤ 7 at every shipped sf; 16 is the replayable
    * budget, not a tuning knob. */
  val BfsCap = 16

  /** G4 source-set predicate: part nodes with partkey % BfsSrcMod == 0
    * present in the support-2 edge relation (4 / 38 / 111 sources at
    * sf0.001 / 0.01 / 0.1). */
  val BfsSrcMod = 53L

  /** The support-2 source nodes of G4/G5 with their initial distance. */
  private def sources(e: DataFrame, d0: Column): DataFrame =
    e.select(col("src").as("nid")).distinct()
      .filter(col("nid") % BfsSrcMod === 0)
      .select(col("nid"), d0)
      .localCheckpoint()

  /** G4 body: multi-source frontier BFS (k-hop / unit-weight SSSP) —
    * the "how far" member of the Pregel family (G1/G1b rank, G2 count,
    * G3 cluster, L22 component). Exact-integer hop distance from the
    * BfsSrcMod source set over the support-2 co-order graph; each round
    * joins the FRONTIER (not the full settled set) against the edge
    * relation, drops already-settled nodes with one left-anti join, and
    * settles survivors at the round index — equivalent to the
    * min-aggregate formulation because in unit-weight BFS the first
    * discovery IS the minimum distance, so no per-node min is ever
    * recomputed. Stops on the first empty frontier. Returns (result,
    * rounds that settled nodes) — rounds exposed only for
    * RetrievalGraphSpec's stopped-before-cap pin. 100 TB: per round one
    * shuffle join of the |frontier|-sized relation against edges + one
    * anti join against settled; total work Σ|frontier_i| · deg = O(|E|)
    * across all rounds (each edge relaxes at most twice), round count =
    * graph eccentricity (~O(log n) on small-world graphs); per-round
    * localCheckpoint truncates lineage, the G1 Pregel hygiene. */
  private[graft] def g4Run(s: SparkSession, d: String,
      dumpRound: Option[DataFrame => Unit] = None): (DataFrame, Int) = {
    // the frontier expansion's distinct() keys on dst
    val e = loopEdges(coOrderPairs(s, d).filter(col("c") >= 2)
      .select(col("a"), col("b")))
    val settled0 = sources(e, lit(0).as("dist"))
    // frontier and settled are nv-bounded and nv ≤ |e| (every node of
    // this relation is some edge's src), so gating on the cheap
    // checkpointed edge count is a conservative upper bound — it can
    // only SKIP a broadcast that would have fit, never force one that
    // doesn't.
    val bcast = Loop.bcastIfFits(s, e.count(), NodeRowBytes)
    val ((settled, _, _), rounds) = Loop.run(
        (settled0, settled0.select(col("nid")), 0), BfsCap, dumpRound) {
      case (settled, frontier, _) => g4Round(e, frontier, settled, bcast)
    } { case ((settled, _, depth), next) =>
      if (next.isEmpty) None
      else Some((settled.unionByName(
          next.select(col("nid"), lit(depth + 1).as("dist"))).localCheckpoint(),
        next, depth + 1))
    }
    (settled.select(col("nid").as("p_partkey"),
        col("dist").cast(IntegerType).as("dist"))
      .orderBy(col("dist"), col("p_partkey")), rounds)
  }

  /** One g4 BFS frontier-expansion round (pre-checkpoint) — PlanDump's
    * per-iteration plan (see g1bRound). */
  private[graft] def g4Round(e: DataFrame, frontier: DataFrame,
      settled: DataFrame, bcast: DataFrame => DataFrame): DataFrame =
    e.join(bcast(frontier), e("src") === frontier("nid"))
      .select(e("dst").as("nid")).distinct()
      .join(bcast(settled), Seq("nid"), "left_anti")

  /** G5 relaxation-round cap. Identity-safe like BfsCap: once no node
    * improves, every later round is a no-op, so the generated oracle
    * unrolls all SsspCap full-relaxation rounds unconditionally while
    * the engine stops on the first improvement-free round. Bound:
    * weights ≤ 3 and every edge weighs ≥ 1, so any shortest path has
    * ≤ 3 × hop-eccentricity ≤ 21 edges at the shipped sfs (measured
    * hop eccentricity ≤ 7); 24 is the replayable budget. */
  val SsspCap = 24

  /** One g5 relaxation round (pre-checkpoint `improved`) — PlanDump's
    * per-iteration plan (see g1bRound). */
  private[graft] def g5Round(e: DataFrame, frontier: DataFrame,
      dist: DataFrame, bcast: DataFrame => DataFrame): DataFrame = {
    val cand = e.join(bcast(frontier), e("src") === frontier("nid"))
      .groupBy(e("dst").as("nid"))
      .agg(min(frontier("d") + e("w")).as("nd"))
    cand.join(bcast(dist), Seq("nid"), "left")
      .filter(col("d").isNull || col("nd") < col("d"))
      .select(col("nid"), col("nd").as("d"))
  }

  /** G5 body: multi-source WEIGHTED single-source-shortest-paths —
    * G4 answers "how many hops", G5 answers "how far" when edges
    * carry cost (Bellman-Ford with an improved-only frontier, the
    * distributed relaxation every Pregel SSSP uses). The graph is G4's
    * support-2 co-order graph with SUPPORT-DERIVED integer weights:
    * strong ties are short — support ≥ 4 → w = 1, support 3 → w = 2,
    * support 2 → w = 3. Each round joins the frontier (nodes whose
    * distance just improved) against the weighted edges, takes the
    * per-target min of (frontier dist + w), keeps only targets that
    * BEAT their settled distance, and merges. Unlike unit-weight BFS a
    * node can improve more than once (a longer-hop cheaper path
    * arriving later), which is exactly what the improved-only frontier
    * re-propagates; stops on the first improvement-free round under the
    * identity-safe SsspCap. 100 TB: per round one shuffle join of
    * |frontier| against edges + one node-keyed min merge; total
    * relaxations bounded by Σ improvements (≤ |V| · max-dist-levels),
    * round count ≤ max edges on a shortest path; per-round
    * localCheckpoint truncates lineage (the G1 Pregel hygiene). Returns
    * (result, improving rounds) — rounds for the spec's
    * stopped-before-cap pin. */
  private[graft] def g5Run(s: SparkSession, d: String,
      dumpRound: Option[DataFrame => Unit] = None): (DataFrame, Int) = {
    // the per-round candidate-min aggregate keys on dst
    val e = loopEdges(coOrderPairs(s, d).filter(col("c") >= 2)
      .select(col("a"), col("b"),
        when(col("c") >= 4, lit(1L)).when(col("c") === 3, lit(2L))
          .otherwise(lit(3L)).as("w")))
    val dist0 = sources(e, lit(0L).as("d"))
    // the g4 conservative edge-count bound on the nv-bounded frontier
    // and dist
    val bcast = Loop.bcastIfFits(s, e.count(), NodeRowBytes)
    val ((dist, _), rounds) = Loop.run((dist0, dist0), SsspCap, dumpRound) {
      case (dist, frontier) => g5Round(e, frontier, dist, bcast)
    } { case ((dist, _), improved) =>
      if (improved.isEmpty) None
      else Some((dist.unionByName(improved)
        .groupBy(col("nid")).agg(min(col("d")).as("d"))
        .localCheckpoint(), improved))
    }
    (dist.select(col("nid").as("p_partkey"),
        col("d").cast(IntegerType).as("dist"))
      .orderBy(col("dist"), col("p_partkey")), rounds)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G3 — LABEL PROPAGATION community detection (Raghavan et al. 2007)
    // on the co-order part graph: every node starts as its own label;
    // each synchronous round adopts the MODE of the neighbors' labels,
    // ties to the smallest label — fully deterministic, zero IEEE ops.
    // The per-round mode is the repo's skew-safe two-phase argmax
    // (max(struct(cnt, -label)) — the l36 idiom), never a window over
    // a hub's neighbor list. 100 TB: per round one shuffle join on src
    // + two-phase aggregate on dst, lineage truncated per round (the
    // G1 Pregel shape); symmetric edges mean every node is some dst,
    // so labels never drop. Output: community sizes (label, members).
    "g3_labelprop" -> ((s, d) => g3Run(s, d)),

    // G2 — exact triangle counting per node, top-20. The scalable
    // degree-ordered orientation (Latapy's compact-forward / the MR
    // "graph twiddling" form): orient every undirected edge from the
    // lower (deg, id) endpoint to the higher, so out-degree is bounded
    // by O(sqrt(2m)) regardless of skew — wedge volume (the join's
    // intermediate) is Σ C(d_out, 2), never the Σ C(d, 2) a hub would
    // cost unoriented. Each triangle {u,v,w} materializes exactly once
    // (as its unique orientation-ordered wedge + closing edge), then
    // attributes to all 3 corners via explode. 100 TB: two self-joins
    // on the oriented edge list (both equi-joins on node keys), no
    // all-pairs anywhere; the orientation is the published mitigation
    // for power-law hubs. Output: top-20 (part, triangle count),
    // ties by partkey.
    "g2_triangles" -> ((s, d) => {
      // lineage truncation (the G1/G3/G4 convention): without it the
      // co-order self-join re-executes once for the orientation join's
      // probe side and FOUR more times inside the two `ord` joins (each
      // embeds deg's union of two pair scans). Measured effect of these
      // two checkpoints (exclusive subset Bench at sf0.1): 13.1 s →
      // 6.02 s wall p50. Note `und` is an
      // EDGE-cardinality relation: checkpointing it pins O(|E|) rows in
      // block-manager storage with lineage discarded (non-recomputable
      // on executor loss — the same storage/fault-tolerance trade G3
      // already makes for its symmetrized edge list; production re-runs
      // the stage from the parquet scan on loss).
      val und = coOrderPairs(s, d).select(col("a"), col("b"))
        .localCheckpoint()
      val ne = und.count()
      val deg = und.select(col("a").as("nid"))
        .unionByName(und.select(col("b").as("nid")))
        .groupBy(col("nid")).agg(count(lit(1)).as("deg"))
      // orientation order: (deg, id) lexicographic, packed into one
      // BIGINT sort key (deg < 2^31, id < 2^31 at any shipped scale);
      // node-cardinality relation, checkpointed once, probed twice
      val ord = deg.select(col("nid"),
        (col("deg") * lit(4294967296L) + col("nid")).as("okey"))
        .localCheckpoint()
      // join strategies (guide §3.1): checkpoint stats here are
      // join-product estimates, so the planner would default every join
      // to sort-merge — including a SORT of the wedge relation
      // (Σ C(d_out, 2) rows, the dominant intermediate) into the
      // closing join. Measured gates restore the right strategies:
      // ord is node-sized → broadcast into the orientation join; dir
      // is |E|-sized → SHUFFLED HASH for the wedge and closing joins
      // (hash |E|/partitions rows per task, STREAM the wedges — no
      // wedge sort), gated by Spark's own per-partition build budget
      // so a cluster-scale edge list falls back to sort-merge.
      val bcast = Loop.bcastIfFits(s, ord.count(), NodeRowBytes)
      val conf = s.sessionState.conf
      val shjFits = ne / math.max(1, conf.numShufflePartitions) *
        EdgeRowBytes < conf.getConf(org.apache.spark.sql.internal.SQLConf
          .ADVISORY_PARTITION_SIZE_IN_BYTES)
      val shj: DataFrame => DataFrame =
        if (shjFits) df => df.hint("shuffle_hash") else identity
      // `dir` is rebuilt per use, not checkpointed hash(src)-partitioned:
      // that form measured slower (6.2 s vs 4.2 s p50 exclusive at
      // sf0.1), since the wedge volume ΣC(d_out,2) dwarfs |E|, so the
      // wedge joins are compute-bound and the pre-partitioning starves
      // them of width while the rebuilt dir is broadcast-join-only and
      // cheap.
      val dir = und
        .join(bcast(ord.select(col("nid").as("a"), col("okey").as("oa"))),
          "a")
        .join(bcast(ord.select(col("nid").as("b"), col("okey").as("ob"))),
          "b")
        .select(
          when(col("oa") < col("ob"), col("a")).otherwise(col("b")).as("src"),
          when(col("oa") < col("ob"), col("b")).otherwise(col("a")).as("dst"),
          when(col("oa") < col("ob"), col("ob")).otherwise(col("oa")).as("odst"))
      val w1 = dir.select(col("src").as("u"), col("dst").as("v"),
        col("odst").as("ov"))
      val w2 = dir.select(col("src").as("u"), col("dst").as("w"),
        col("odst").as("ow"))
      val tri = w1.join(shj(w2), Seq("u")).filter(col("ov") < col("ow"))
        .join(shj(dir.select(col("src").as("v"), col("dst").as("w"))),
          Seq("v", "w"))
        .select(col("u"), col("v"), col("w"))
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("p_partkey"))
        .groupBy(col("p_partkey")).agg(count(lit(1)).as("tri_cnt"))
        .orderBy(col("tri_cnt").desc, col("p_partkey").asc)
        .limit(20)
    }),
    "g4_bfs" -> ((s, d) => g4Run(s, d)._1),

    // G5 — weighted SSSP over the support-2 co-order graph (see g5Run):
    // exact integer distances, support-derived weights (strong ties are
    // short), generated full-relaxation oracle unrolled to SsspCap.
    "g5_sssp" -> ((s, d) => g5Run(s, d)._1),
    "g1b_pagerank_conv" -> ((s, d) => g1bRun(s, d)._1),
    "g1_pagerank" -> ((s, d) => g1Run(s, d))
  )

  /** G1b generated oracle: ConvCap rounds unrolled UNCONDITIONALLY —
    * legal because exact stationarity makes every later round an
    * identity, so the engine's early stop never changes the final
    * state (see g1bRun scaladoc). Each round CTE is MATERIALIZED: it
    * is referenced by both the dangling-mass scalar and the in-mass
    * aggregation of the next round. */
  private def g1bSql: String = {
    val rounds = (1 to ConvCap).map { i =>
      s"""dgm$i AS MATERIALIZED (
         |  SELECT COALESCE(sum(p.pr), 0) AS dang
         |  FROM bpr${i - 1} p LEFT JOIN bdg g ON p.nid = g.src
         |  WHERE g.src IS NULL),
         |bin$i AS (
         |  SELECT e.dst AS nid, sum(p.pr // g.deg) AS inm
         |  FROM bed e
         |  JOIN bpr${i - 1} p ON e.src = p.nid
         |  JOIN bdg g ON e.src = g.src
         |  GROUP BY e.dst),
         |bpr$i AS MATERIALIZED (
         |  SELECT n.nid,
         |    CAST(($Scale // (2 * s.nv))
         |      + ((COALESCE(i.inm, 0) + (d.dang // s.nv)) // 2)
         |      AS BIGINT) AS pr
         |  FROM bnd n
         |  LEFT JOIN bin$i i ON n.nid = i.nid
         |  CROSS JOIN dgm$i d CROSS JOIN bnv s)""".stripMargin
    }.mkString(",\n")
    s"""WITH bed AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |bdg AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM bed GROUP BY src),
       |bnd AS MATERIALIZED (
       |  SELECT DISTINCT nid FROM (
       |    SELECT src AS nid FROM bed
       |    UNION ALL SELECT dst AS nid FROM bed)),
       |bnv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM bnd),
       |bpr0 AS MATERIALIZED (
       |  SELECT nid, $Scale // s.nv AS pr FROM bnd CROSS JOIN bnv s),
       |$rounds
       |SELECT nid,
       |  CASE WHEN nid % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS kind,
       |  nid // 2 AS key, pr
       |FROM bpr${ConvCap}
       |ORDER BY pr DESC, nid ASC LIMIT 20""".stripMargin
  }

  /** G3 generated oracle: LpaRounds synchronous rounds unrolled, each
    * replaying count-per-(dst,label) + smallest-label-mode verbatim. */
  private def g3Sql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""cl$i AS (
         |  SELECT e.dst, l.lbl, count(*) AS c
         |  FROM eg3 e JOIN lb${i - 1} l ON e.src = l.nid
         |  GROUP BY 1, 2),
         |lb$i AS MATERIALIZED (
         |  SELECT dst AS nid, lbl FROM (
         |    SELECT dst, lbl, row_number() OVER (PARTITION BY dst
         |      ORDER BY c DESC, lbl ASC) AS rn
         |    FROM cl$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH op3 AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |ue3 AS MATERIALIZED (
       |  SELECT DISTINCT x.pk AS a, y.pk AS b
       |  FROM op3 x JOIN op3 y ON x.ok = y.ok AND x.pk < y.pk),
       |eg3 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM ue3
       |  UNION ALL SELECT b AS src, a AS dst FROM ue3),
       |lb0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS nid, src AS lbl FROM eg3),
       |$rounds
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
       |FROM lb${LpaRounds} GROUP BY 1
       |ORDER BY n_members DESC, community ASC""".stripMargin
  }

  /** G4 generated oracle: BfsCap rounds unrolled UNCONDITIONALLY — legal
    * because an empty frontier makes every later round an identity (the
    * g1bSql argument). Round i settles, at distance i, every unsettled
    * neighbor of the settled set; joining the full settled set instead
    * of the frontier is equivalent (neighbors of older settled nodes
    * are already settled), and keeps each CTE self-contained. */
  private def g4Sql: String = {
    val rounds = (1 to BfsCap).map { i =>
      s"""st$i AS MATERIALIZED (
         |  SELECT nid, dist FROM st${i - 1}
         |  UNION ALL
         |  SELECT nid, $i AS dist FROM (
         |    SELECT DISTINCT e.dst AS nid FROM eg4 e
         |    JOIN st${i - 1} s ON e.src = s.nid
         |    WHERE e.dst NOT IN (SELECT nid FROM st${i - 1})))""".stripMargin
    }.mkString(",\n")
    s"""WITH opg4 AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |ueg4 AS MATERIALIZED (
       |  SELECT x.pk AS a, y.pk AS b FROM opg4 x JOIN opg4 y
       |    ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |eg4 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM ueg4
       |  UNION ALL SELECT b AS src, a AS dst FROM ueg4),
       |st0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS nid, 0 AS dist FROM eg4
       |  WHERE src % $BfsSrcMod = 0),
       |$rounds
       |SELECT nid AS p_partkey, CAST(dist AS INT) AS dist
       |FROM st$BfsCap ORDER BY dist, p_partkey""".stripMargin
  }

  /** G5 generated oracle: SsspCap FULL-relaxation Bellman-Ford rounds
    * unrolled unconditionally (identity-safe once converged — the g4Sql
    * argument): round i's distance per node is the min of round i−1's
    * and every in-edge's (source dist + weight). Full relaxation and
    * the engine's improved-only frontier compute the same fixed point;
    * the unroll count only needs to cover the longest shortest path
    * (≤ 21 edges at the shipped sfs, see SsspCap). */
  private def g5Sql: String = {
    val rounds = (1 to SsspCap).map { i =>
      s"""sp$i AS MATERIALIZED (
         |  SELECT nid, min(d) AS d FROM (
         |    SELECT nid, d FROM sp${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS nid, s.d + e.w AS d
         |    FROM eg5 e JOIN sp${i - 1} s ON e.src = s.nid)
         |  GROUP BY nid)""".stripMargin
    }.mkString(",\n")
    s"""WITH opg5 AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |ueg5 AS MATERIALIZED (
       |  SELECT a, b, CASE WHEN c >= 4 THEN 1 WHEN c = 3 THEN 2
       |                    ELSE 3 END AS w FROM (
       |    SELECT x.pk AS a, y.pk AS b, count(*) AS c FROM opg5 x
       |    JOIN opg5 y ON x.ok = y.ok AND x.pk < y.pk
       |    GROUP BY 1, 2 HAVING count(*) >= 2)),
       |eg5 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, w FROM ueg5
       |  UNION ALL SELECT b AS src, a AS dst, w FROM ueg5),
       |sp0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS nid, 0 AS d FROM eg5
       |  WHERE src % $BfsSrcMod = 0),
       |$rounds
       |SELECT nid AS p_partkey, CAST(d AS INT) AS dist
       |FROM sp$SsspCap ORDER BY dist, p_partkey""".stripMargin
  }

  val oracle: Map[String, String] = {
    // Generated oracle (the l3c idiom): the five rounds unrolled as
    // chained CTEs, each replaying the integer Pregel step verbatim.
    val rounds = (1 to Rounds).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS nid,
         |    CAST((15 * ${Scale} // (100 * s.nv))
         |      + (85 * sum(p.pr // g.deg)) // 100 AS BIGINT) AS pr
         |  FROM eg1 e
         |  JOIN pr${i - 1} p ON e.src = p.nid
         |  JOIN dg1 g ON e.src = g.src
         |  CROSS JOIN nvg1 s
         |  GROUP BY e.dst, s.nv)""".stripMargin
    }.mkString(",\n")
    Map(
      // g2 — the same degree-ordered orientation replayed: pack the
      // (deg, id) order into one BIGINT key, orient, wedge-join, close.
      "g4_bfs" -> g4Sql,
      "g5_sssp" -> g5Sql,
      "g3_labelprop" -> g3Sql,
      "g2_triangles" ->
        """WITH op2 AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
          |  FROM lineitem),
          |ue2 AS (
          |  SELECT DISTINCT x.pk AS a, y.pk AS b
          |  FROM op2 x JOIN op2 y ON x.ok = y.ok AND x.pk < y.pk),
          |dg2 AS (
          |  SELECT nid, CAST(count(*) AS BIGINT) AS deg FROM (
          |    SELECT a AS nid FROM ue2
          |    UNION ALL SELECT b AS nid FROM ue2) GROUP BY nid),
          |od2 AS (
          |  SELECT nid, deg * 4294967296 + nid AS okey FROM dg2),
          |di2 AS (
          |  SELECT CASE WHEN oa.okey < ob.okey THEN e.a ELSE e.b END AS src,
          |         CASE WHEN oa.okey < ob.okey THEN e.b ELSE e.a END AS dst,
          |         CASE WHEN oa.okey < ob.okey THEN ob.okey
          |              ELSE oa.okey END AS odst
          |  FROM ue2 e
          |  JOIN od2 oa ON e.a = oa.nid
          |  JOIN od2 ob ON e.b = ob.nid),
          |tr2 AS (
          |  SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
          |  FROM di2 w1
          |  JOIN di2 w2 ON w1.src = w2.src AND w1.odst < w2.odst
          |  JOIN di2 c ON c.src = w1.dst AND c.dst = w2.dst),
          |cn2 AS (
          |  SELECT p_partkey, CAST(count(*) AS BIGINT) AS tri_cnt FROM (
          |    SELECT u AS p_partkey FROM tr2
          |    UNION ALL SELECT v FROM tr2
          |    UNION ALL SELECT w FROM tr2) GROUP BY p_partkey)
          |SELECT p_partkey, tri_cnt FROM cn2
          |ORDER BY tri_cnt DESC, p_partkey ASC LIMIT 20""".stripMargin,
      "g1b_pagerank_conv" -> g1bSql,
      "g1_pagerank" ->
        s"""WITH pg1 AS (
           |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |eg1 AS (
           |  SELECT c AS src, p AS dst FROM pg1
           |  UNION ALL SELECT p AS src, c AS dst FROM pg1),
           |dg1 AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS deg
           |  FROM eg1 GROUP BY src),
           |nvg1 AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM dg1),
           |pr0 AS (
           |  SELECT src AS nid, ${Scale} // s.nv AS pr
           |  FROM dg1 CROSS JOIN nvg1 s),
           |$rounds
           |SELECT nid,
           |  CASE WHEN nid % 2 = 0 THEN 'customer' ELSE 'supplier' END
           |    AS kind,
           |  nid // 2 AS key, pr
           |FROM pr${Rounds}
           |ORDER BY pr DESC, nid ASC LIMIT 20""".stripMargin
    )
  }
}
