package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Extended dedup / similarity / text-analysis operators (SURVEY §2.10
  * L10–L16, L20–L21, L27): the large-scale training-data-pipeline
  * surface beyond the basic L1–L9 set. Every pairwise operator here is
  * CANDIDATE-GENERATION based — MinHash-LSH bands, rare-token prefix
  * blocking, random-hyperplane buckets, broadcast eval-shingle probes —
  * never all-pairs, so each one carries its 100 TB shape in the
  * canonical query itself (the oracle re-implements the same bucketing,
  * validating the pipeline end-to-end, not just the final filter).
  *
  * Determinism: token hashes are md5-prefix integers (`conv(md5…,16,10)`,
  * algorithm-stable in every engine); MinHash permutations, SimHash bit
  * mixes and hyperplanes are fixed arithmetic on those integers — no
  * engine-private hash, no RNG.
  */
object DedupExt {

  private val P = 2147483647L // 2^31 - 1, Mersenne prime
  /** (a, b) constants for the 8 MinHash permutations h_i = (a·x + b) % P. */
  private val AB = Seq((2L, 1L), (3L, 7L), (5L, 13L), (7L, 31L),
                       (11L, 101L), (13L, 211L), (17L, 419L), (19L, 773L))

  /** 32 (a, b) constants for L10b's tuned banding: 2 bands × 16 rows.
    * This corpus's baseline pair similarity is ~0.8 Jaccard, so L10's
    * r=2 bands collide on nearly all pairs (the reason its canonical
    * check is slice-bounded); at r=16, J^16 ≈ 0.8^16 ≈ 0.03 — measured
    * 5% of all-pairs survive as candidates at sf0.01/sf0.1 — while the
    * designed J=1.0 near-dups still collide in EVERY band (identical
    * token set ⇒ identical signature), so recall on true dups is exact. */
  private val AB32: Seq[(Long, Long)] = Seq(
    2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L,
    47L, 53L, 59L, 61L, 67L, 71L, 73L, 79L, 83L, 89L, 97L, 101L, 103L,
    107L, 109L, 113L, 127L, 131L).zip(Seq(
    1L, 7L, 13L, 31L, 101L, 211L, 419L, 773L, 911L, 1009L, 1201L, 1409L,
    1601L, 1801L, 2003L, 2203L, 2399L, 2609L, 2801L, 3001L, 3203L, 3407L,
    3601L, 3803L, 4001L, 4211L, 4409L, 4603L, 4801L, 5003L, 5209L, 5407L))

  /** L10b band-collision candidates over the FULL corpus (exposed so the
    * candidate-reduction property can be asserted in LlmSpec). */
  private[graft] def minhashTunedCandidates(s: SparkSession, d: String): DataFrame =
    minhashCandidatesFrom(tokens(s, d))

  /** The 2×16 tuned banding over an arbitrary (doc_id, th) relation —
    * shared by the doc-level spec surface above and the contracted
    * rep-level pipeline. */
  private def minhashCandidatesFrom(tok: DataFrame): DataFrame = {
    val aggs = AB32.zipWithIndex.map { case ((a, b), i) =>
      min((col("th") * a + b) % P).as(s"h$i")
    }
    val sig = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val bands = sig.select(col("doc_id"), explode(array(
      (0 until 2).map(bk => struct(lit(bk).as("bk"),
        concat_ws("_", (0 until 16).map(j => col(s"h${16 * bk + j}")): _*)
          .as("bsig"))): _*)).as("band"))
      .select(col("doc_id"), col("band.bk"), col("band.bsig"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** L12b candidates: full-corpus rare-token blocking with a df
    * threshold — docs sharing any token whose document frequency is
    * ≤ ceil(n/20) (5% of the corpus) become candidates. Exposed so the
    * candidate-reduction and designed-pair-recall properties can be
    * asserted in LlmSpec. On this corpus's deliberately tiny (31-token)
    * vocabulary only the single rarest token qualifies, so coverage is
    * the 5%-of-docs block it defines — a data property; on a Zipfian
    * real-corpus vocabulary most docs carry several sub-threshold tokens
    * and coverage is near-total. 100 TB: freq is vocabulary-sized
    * (broadcast); block sizes are bounded by K by construction. */
  def raretokenFullCandidates(s: SparkSession, d: String): DataFrame = {
    val tok = tokens(s, d)
    val nDocs = Tables.documents(s, d).count()
    val k = (nDocs + 19) / 20 // ceil(n/20): "rare" = in ≤5% of docs
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("f"))
    val rare = tok
      .join(broadcast(freq.filter(col("f") <= k)), "token")
      .select(col("doc_id"), col("token"))
    rare.as("x")
      .join(rare.as("y"), col("x.token") === col("y.token") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** Distinct positional word-trigram shingle HASHES per doc (doc_id,
    * token=th, th) — the n-gram analogue of [[tokens]]. The shingle id
    * is pure arithmetic over the per-word 48-bit hashes
    * (961·h_i + 31·h_{i+1} + h_{i+2}, masked to 53 bits so the MinHash
    * permutation h·131+b stays far inside BIGINT) — no shingle string is
    * ever materialized and each word is md5-hashed once, which halves
    * the signature-build cost vs hashing every 3-word string. Collisions
    * in the 2⁵³ space are ~1e-6-rare and engine-identical; LlmSpec's
    * naive STRING-shingle reference doubles as the guard that none
    * changed the result set. Docs under 3 tokens have no shingles in
    * either engine (Spark filter; DuckDB's empty generate_series). */
  private def shingleTokens(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val mask = (1L << 53) - 1
    Tables.documents(s, d)
      .filter(size(toks) >= 3)
      .withColumn("ths", transform(toks, t => tokenHash(t)))
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("ths")) - 2),
          i => (element_at(col("ths"), i) * 961 +
                element_at(col("ths"), i + 1) * 31 +
                element_at(col("ths"), i + 2)).bitwiseAND(mask))))
        .as("th"))
      .withColumn("token", col("th"))
  }

  /** L20 candidates: MinHash banding over SHINGLE sets, 16 bands × 2 rows
    * from the same 32 permutations. Unlike token sets (baseline ~0.8
    * Jaccard on this corpus), shingle sets are order-sensitive, so the
    * corpus baseline is ~0.02 — r=2 banding gives P(collide) =
    * 1−(1−J²)^16 ≈ 0.99 at the J ≥ 0.5 target and ≈ 0.6% at baseline.
    * Measured: 67 candidates of 124,750 pairs at sf0.001 (0.05%),
    * catching 28/28 true J ≥ 0.5 pairs. Exposed for LlmSpec. */
  def shingleBandCandidates(s: SparkSession, d: String): DataFrame = {
    val tok = shingleTokens(s, d)
    val aggs = AB32.zipWithIndex.map { case ((a, b), i) =>
      min((col("th") * a + b) % P).as(s"h$i")
    }
    val sig = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val bands = sig.select(col("doc_id"), explode(array(
      (0 until 16).map(bk => struct(lit(bk).as("bk"),
        concat_ws("_", col(s"h${2 * bk}"), col(s"h${2 * bk + 1}"))
          .as("bsig"))): _*)).as("band"))
      .select(col("doc_id"), col("band.bk"), col("band.bsig"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** L15 core, shared with Curation's L26 resampler: per-doc quality
    * features + the fixed linear score. Column-for-column the l15
    * canonical output. */
  def qualityFeatures(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tokAll = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val stop = tokAll.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(10)
      .select(col("token"))
    val stopCnt = tokAll.join(broadcast(stop), "token")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_stop"))
    val toks = split(col("text"), " ")
    docs.select(col("doc_id"), col("text"),
        size(toks).cast(LongType).as("n_toks"),
        size(array_distinct(toks)).cast(LongType).as("n_uniq"))
      .join(stopCnt, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_stop"))
      .select(col("doc_id"), col("n_toks"),
        length(col("text")).cast(LongType).as("n_chars"),
        (col("n_uniq").cast(DoubleType) / col("n_toks").cast(DoubleType))
          .as("ttr"),
        (col("n_stop").cast(DoubleType) / col("n_toks").cast(DoubleType))
          .as("stop_ratio"))
      .withColumn("score",
        lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(col("n_toks").cast(DoubleType) / 100.0, lit(1.0)))
  }

  /** Identical-token-set groups (doc_id, rep): rep = min doc_id among
    * docs sharing the same distinct-token set (L2's signature reused as
    * the group key). CONTRACTION BASIS for the full-corpus near-dup
    * queries: MinHash signatures, band collisions, rare-token blocks and
    * exact Jaccard all depend ONLY on the token set, so the docs of a
    * group are interchangeable — the candidate + verify pipeline runs
    * once per representative and verified rep pairs expand back to doc
    * pairs losslessly. On corpora with large exact-token-set cliques
    * (this one: a 248-doc group at sf0.1) this cuts the verify stage's
    * candidate count ~7× and its array shuffle with it; with no cliques
    * it degenerates to the identity at the cost of one groupBy. */
  private[llm] def tokenSetMember(s: SparkSession, d: String): DataFrame = {
    val sigs = Tables.documents(s, d).select(col("doc_id"),
      sha2(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))), 256).as("sig"))
    val reps = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("rep"))
    sigs.join(reps, "sig").select(col("doc_id"), col("rep"))
  }

  /** Expand verified rep-level pairs (d1, d2, jac — d1/d2 are group
    * reps) to the doc-level pair relation: cross-group doc pairs carry
    * the rep pair's jac verbatim (identical sets ⇒ identical Jaccard);
    * within-group pairs are J = 1.0 by construction and are always band
    * candidates (identical signature ⇒ collide in every band). The
    * expansion shuffles only integers. NOTE the OUTPUT is inherently
    * quadratic in clique size — that is l10b's declared pair semantics;
    * the cluster-assignment view that avoids materializing it at 100 TB
    * is L22. */
  private def expandRepPairs(repJac: DataFrame, member: DataFrame,
                             cliqueReps: DataFrame): DataFrame = {
    val cross = repJac
      .join(member.select(col("rep").as("d1"), col("doc_id").as("a")), "d1")
      .join(member.select(col("rep").as("d2"), col("doc_id").as("b")), "d2")
      .select(least(col("a"), col("b")).as("d1"),
              greatest(col("a"), col("b")).as("d2"), col("jac"))
    // within-group cliques only for groups the candidate generator makes
    // self-candidates: every group under banding (identical signature ⇒
    // same bucket), but under rare-token blocking only groups that carry
    // a rare token — the caller passes the eligible rep set
    val cm = member.join(cliqueReps, "rep")
    val within = cm.as("x")
      .join(cm.as("y"), col("x.rep") === col("y.rep") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
              lit(1.0).as("jac"))
    cross.unionByName(within)
  }

  /** The l10b pipeline contracted to token-set representatives: banding
    * + exact-Jaccard verify over reps only, then lossless expansion. */
  private def minhashTunedPairs(s: SparkSession, d: String): DataFrame = {
    val member = tokenSetMember(s, d)
    val reps = member.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"))
    val tokRep = tokens(s, d).join(reps, "doc_id")
    expandRepPairs(jaccard(minhashCandidatesFrom(tokRep), tokRep), member,
      member.select(col("rep")).distinct())
  }

  /** L22 edge set: the l10b tuned-banding candidates verified at exact
    * Jaccard ≥ 0.95 — the canonical "near-duplicate pairs" relation that
    * [[Cluster]] closes into components. */
  private[graft] def nearDupPairs(s: SparkSession, d: String): DataFrame =
    minhashTunedPairs(s, d).select(col("d1"), col("d2"))

  /** Rep-level near-dup pair relation + the group map, exposed for
    * [[Cluster]]: closing the REP graph and mapping docs through their
    * rep is exactly closing the doc graph (within-group cliques connect
    * a group to its rep's component; rep = group min, so the component
    * min over reps IS the component min over docs). */
  def nearDupRepEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val member = tokenSetMember(s, d)
    val reps = member.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"))
    val tokRep = tokens(s, d).join(reps, "doc_id")
    val repJac = jaccard(minhashCandidatesFrom(tokRep), tokRep)
    (repJac.select(col("d1"), col("d2")), member)
  }

  /** 48-bit integer hash of a token via md5 prefix — portable + stable. */
  private def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast(LongType)

  /** Distinct (doc_id, token, th) triples. */
  private def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("token"))
      .withColumn("th", tokenHash(col("token")))

  /** Verified ≥ jacNum/jacDen exact token-set Jaccard for candidate pairs
    * (d1 < d2), with verify-cost cuts that cannot change the result set:
    *
    *  1. SIZE PRE-FILTER — J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair
    *     failing `min·jacDen ≥ jacNum·max` (exact integer arithmetic, no
    *     float boundary drift between engines) cannot reach the
    *     threshold and is dropped before any token work (~40% of l10b's
    *     candidates at sf0.1).
    *  2. IDENTICAL-SET SHORTCUT — equal sorted token lists mean J = 1.0
    *     by definition; the intersection is skipped.
    *  3. The intersection itself is `array_intersect` on the two per-doc
    *     sorted token lists — PAIR-LOCAL and map-side, replacing round
    *     3's exploded double token join (candidates × tokens rows
    *     through a shuffle+groupBy).
    *
    * The threshold filter is the integer form `(num+den)·i ≥ num·(n1+n2)`
    * (⟺ i/(n1+n2−i) ≥ num/den; ratios are never within an ulp of the
    * boundary except at exact equality, where both forms agree) so that
    * when Catalyst pushes it into the broadcast-join condition — where
    * subexpressions are NOT eliminated — the intersect is evaluated once
    * per candidate, not once per reference to `jac`.
    *
    * 100 TB shape: the verify stage shuffles only the candidate pairs
    * themselves; per-doc lists ride along via two hash joins on doc_id,
    * and documents are bounded (a token list fits in a row — the same
    * boundedness every MinHash signature already assumes). */
  private def jaccard(cand: DataFrame, tok: DataFrame,
                      jacNum: Int = 19, jacDen: Int = 20): DataFrame = {
    val st = tok.groupBy(col("doc_id")).agg(
      count(lit(1)).as("sz"),
      array_sort(collect_list(col("token"))).as("ts"))
    // AQE coalesces the candidate exchange by BYTE size (~11 MB at sf0.1
    // → 1 partition), but verify cost is CPU per row — pin the stage
    // width with an explicit repartition so the intersects parallelize
    val nPart = cand.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    cand.repartition(nPart, col("d1"), col("d2"))
      .join(st.select(col("doc_id").as("d1"), col("sz").as("n1"),
                      col("ts").as("t1")), Seq("d1"))
      .join(st.select(col("doc_id").as("d2"), col("sz").as("n2"),
                      col("ts").as("t2")), Seq("d2"))
      .filter(least(col("n1"), col("n2")) * lit(jacDen) >=
              lit(jacNum) * greatest(col("n1"), col("n2")))
      .withColumn("i",
        when(col("t1") === col("t2"), col("n1"))
          .otherwise(size(array_intersect(col("t1"), col("t2")))
            .cast(LongType)))
      .filter(col("i") * lit(jacNum + jacDen) >=
              lit(jacNum) * (col("n1") + col("n2")))
      .select(col("d1"), col("d2"),
        (col("i").cast(DoubleType) /
          (col("n1") + col("n2") - col("i")).cast(DoubleType)).as("jac"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L31 — bloom-accelerated INCREMENTAL dedup: screen a new batch
    // (doc_id % 7 == 0, the same deterministic split l27 uses for its
    // eval set) against the historical corpus's token-set signature
    // index. The Bloom filter — built once over historical signatures
    // through the public DataFrameStatFunctions API — answers
    // "definitely new" entirely MAP-SIDE; only might-contain candidates
    // (true dups + the ~1% false-positive tail) ever reach the exact
    // semi-join that removes false positives. Bloom filters have no
    // false negatives, so the output EXACTLY equals the plain anti-join
    // — the filter decides which rows pay the shuffle, never the answer
    // — which is what makes an approximate structure fully
    // oracle-hashable. 100 TB: this is the static form of Spark's own
    // runtime row-level bloom pruning; the index artifact costs ~1.2
    // bytes/key at 1% fpp (build it once per corpus snapshot and
    // persist; for 1e11-key indexes shard the filter by signature
    // prefix — the screen stays map-side either way), and the new batch
    // is typically ≪ the corpus, which is the whole economy of
    // incremental over full-corpus dedup. The pruning is pinned in
    // LlmSpec (candidates ≪ batch, candidates ⊇ true dups).
    "l31_bloom_dedup" -> ((s, d) => {
      val (batch, hist, cand) = l31Parts(s, d)
      val dups = cand.join(hist.distinct(), Seq("sig"), "left_semi")
        .select(col("doc_id").as("dup_id"))
      batch.join(dups, col("doc_id") === col("dup_id"), "left")
        .select(col("doc_id"), col("lang"),
                col("dup_id").isNotNull.as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // L10 — MinHash + LSH banding: 8 permutations, 4 bands of 2 rows.
    // Docs colliding in ANY band become candidates; candidates are then
    // verified with exact Jaccard ≥ 0.95 (this corpus draws from a tiny
    // vocabulary, so looser thresholds match a quarter of ALL pairs —
    // 0.95 isolates genuine near-dups; the designed pairs sit at 1.0).
    // The canonical check is bounded to the declared doc_id < 1000 slice:
    // this corpus's BASELINE pair similarity (~0.8 Jaccard) sits above
    // the r=2 banding design point, so full-corpus candidates approach
    // all-pairs (measured: 9.8M of 12.5M at sf0.1) — a data property,
    // not an algorithm property. 100 TB note: on real corpora the band
    // width r is tuned so J_baseline^r ≈ 0 (r=4..8 rows/band); the
    // pipeline shape (signature groupBy → band groupBy → verify only
    // colliding pairs) is unchanged.
    "l10_minhash_lsh" -> ((s, d) => {
      val tok = tokens(s, d).filter(col("doc_id") < 1000)
      val aggs = AB.zipWithIndex.map { case ((a, b), i) =>
        min((col("th") * a + b) % P).as(s"h$i")
      }
      val sig = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      val bands = sig.select(col("doc_id"), explode(array(
        (0 until 4).map(bk => struct(lit(bk).as("bk"),
          concat_ws("_", col(s"h${2 * bk}"), col(s"h${2 * bk + 1}"))
            .as("bsig"))): _*)).as("band"))
        .select(col("doc_id"), col("band.bk"), col("band.bsig"))
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.bk") === col("y.bk") && col("x.bsig") === col("y.bsig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      jaccard(cand, tok).orderBy(col("d1"), col("d2"))
    }),

    // L11 — SimHash (16-bit) per document + collision-group size.
    // Weight of bit j = Σ over tokens of (bit_j(th) ? +1 : −1).
    // All 16 bit-weights are computed as 16 aggregate columns in ONE
    // groupBy(doc_id) pass — no per-bit row explode (×16 shuffle volume)
    // and the whole aggregation stays map-side-partial + codegen'd.
    // Collision-group sizes come from a 2-phase groupBy(simhash) joined
    // back, NOT a window over partitionBy(simhash): a near-dup-heavy
    // corpus concentrates docs into few simhash buckets, and a window
    // partition is a single task — the groupBy+join shape is skew-safe
    // (partial aggregation + AQE skew handling on the join).
    "l11_simhash" -> ((s, d) => {
      val bitAggs = (0 to 15).map(j =>
        sum(when(col("th").bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1))
          .as(s"w$j"))
      val sim = tokens(s, d).groupBy(col("doc_id"))
        .agg(bitAggs.head, bitAggs.tail: _*)
        .select(col("doc_id"),
          (0 to 15).map(j =>
            when(col(s"w$j") > 0, lit(1L << j)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
      val groups = sim.groupBy(col("simhash"))
        .agg(count(lit(1)).as("n_same"))
      sim.join(groups, "simhash")
        .select(col("doc_id"), col("simhash"), col("n_same"))
        .orderBy(col("doc_id"))
    }),

    // L10b — the tuned-banding MinHash near-dup, run on the FULL corpus
    // (no doc_id slice): the executable proof of the 100 TB tuning note
    // documented on L10. Same verify filter (exact Jaccard ≥ 0.95), same
    // pipeline shape (signature groupBy → band groupBy → verify only
    // colliding pairs) — only the banding parameters differ (2 bands ×
    // 16 rows from 32 permutations, vs 4 × 2 from 8).
    "l10b_minhash_tuned" -> ((s, d) =>
      minhashTunedPairs(s, d).orderBy(col("d1"), col("d2"))),

    // L12 — near-dup via rare-token prefix blocking: each doc is keyed by
    // its 3 globally-rarest tokens; docs sharing a rare token are
    // candidates, verified with exact Jaccard ≥ 0.95. Bounded to the
    // declared doc_id < 1000 slice for the same corpus reason as L10
    // (with a ~200-word vocabulary even the "rarest" tokens appear in
    // ~2% of docs, so blocks are huge). 100 TB: on real corpora the
    // freq table is vocabulary-sized (broadcastable) and rare tokens
    // bound the blocks by construction.
    "l12_raretoken_neardup" -> ((s, d) => {
      val tok = tokens(s, d).filter(col("doc_id") < 1000)
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("f"))
      val rare = tok.join(freq, "token")
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("f").asc, col("token").asc)))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("token"))
      val cand = rare.as("x")
        .join(rare.as("y"), col("x.token") === col("y.token") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      jaccard(cand, tok).orderBy(col("d1"), col("d2"))
    }),

    // L12b — rare-token blocking run on the FULL corpus with a df
    // threshold (mirror of the L10→L10b move): instead of L12's
    // per-doc-3-rarest keys (which on a tiny vocabulary select tokens in
    // ~all docs and need the slice bound), blocking keys are tokens in
    // ≤ 5% of the corpus — block sizes are bounded BY CONSTRUCTION, so
    // the query runs corpus-wide with candidates at ~0.2% of all-pairs
    // (asserted in LlmSpec, with designed-pair recall on covered docs).
    // Contracted like l10b: rare-token membership is token-set-determined,
    // but the df THRESHOLD stays computed over the FULL corpus (the
    // declared semantics) — only the block join and verify run per rep.
    "l12b_raretoken_full" -> ((s, d) => {
      val member = tokenSetMember(s, d)
      val reps = member.filter(col("doc_id") === col("rep"))
        .select(col("doc_id"))
      val tok = tokens(s, d)
      val nDocs = Tables.documents(s, d).count()
      val k = (nDocs + 19) / 20
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("f"))
      val rareRep = tok.join(reps, "doc_id")
        .join(broadcast(freq.filter(col("f") <= k)), "token")
        .select(col("doc_id"), col("token"))
      val repCand = rareRep.as("x")
        .join(rareRep.as("y"), col("x.token") === col("y.token") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      expandRepPairs(jaccard(repCand, tok.join(reps, "doc_id")), member,
        rareRep.select(col("doc_id").as("rep")).distinct())
        .orderBy(col("d1"), col("d2"))
    }),

    // L20 — n-gram (word-trigram shingle) Jaccard near-dup, full corpus:
    // catches docs with near-identical SEQUENCES, which token-set dedup
    // (L2/L10) by construction cannot distinguish from reshuffles. The
    // ≥ 1/2 shingle-Jaccard threshold targets copied-with-small-edits
    // text; candidates come from 16×2 MinHash banding over shingles
    // (see shingleBandCandidates), verified with the same pair-local
    // exact-Jaccard machinery at num/den = 1/2.
    "l20_shingle_neardup" -> ((s, d) =>
      jaccard(shingleBandCandidates(s, d), shingleTokens(s, d),
              jacNum = 1, jacDen = 2)
        .orderBy(col("d1"), col("d2"))),

    // L21 — token counting, whitespace vs BPE-ish: n_ws is the whitespace
    // token count; n_bpe approximates a byte-pair-encoded token count
    // with a portable regex (≤4-char letter pieces, ≤3-digit number
    // pieces, single punctuation) — the standard cheap estimator for LLM
    // token budgets. Pure per-row projection: map-side at any scale.
    "l21_token_count" -> ((s, d) => {
      // explicit whitespace set (not \s — Java includes \x0B where RE2
      // does not); nullif guards the 0-token case so both engines yield
      // NULL instead of engine-specific NaN/Inf/error on division
      val pat = "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \t\n\r]"
      val nBpe = size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws"),
        nBpe.cast(LongType).as("n_bpe"),
        length(col("text")).cast(LongType).as("n_chars"),
        (length(col("text")).cast(DoubleType) /
          nullif(nBpe, lit(0)).cast(DoubleType)).as("chars_per_tok"))
        .orderBy(col("doc_id"))
    }),

    // L27 — benchmark DECONTAMINATION: flag training docs sharing any
    // word-trigram shingle with the held-out eval set (docs with
    // doc_id % 97 == 0 — a deterministic ~1% designated eval split).
    // The standard pre-training hygiene pass: eval n-grams leak into
    // training text via near-dups and quotations, and exact-match
    // shingle overlap is the accepted detector. 100 TB shape: the eval
    // side is tiny by construction (eval sets are fixed benchmark
    // suites), so its distinct shingle set broadcasts and the scan over
    // training shingles stays map-side; overlap_frac ranks hits for
    // drop-vs-review triage.
    "l27_decontaminate" -> ((s, d) => {
      // three consumers (eval-distinct, training join, per-doc totals)
      // aggregate/partition differently, so ReuseExchange cannot collapse
      // the shared md5+explode scan — materialize the shingles once
      val sh = shingleTokens(s, d).select(col("doc_id"), col("th"))
        .localCheckpoint()
      val evalSh = sh.filter(col("doc_id") % 97 === 0)
        .select(col("th")).distinct()
      val tot = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalSh), "th")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .join(tot, "doc_id")
        .select(col("doc_id"), col("n_hits"), col("n_sh"),
          (col("n_hits").cast(DoubleType) / col("n_sh").cast(DoubleType))
            .as("overlap_frac"))
        .orderBy(col("doc_id"))
    }),

    // L13 — embedding near-dup via random-hyperplane LSH: 8 deterministic
    // hyperplanes v_k[i] = ((i+1)(k+3)) mod 7 − 3 give an 8-bit sign
    // bucket; same-bucket pairs are verified with exact quantized cosine
    // ≥ 0.3. 100 TB: bucket join replaces the O(n²) pair scan (58×
    // candidate reduction already at n=500).
    "l13_embed_neardup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), Llm.qz(col("embedding")).as("q"))
        .withColumn("nrm", Llm.qnorm(col("q")))
      val x = e.select(col("vec_id"), posexplode(col("q")))
      val dots = x.withColumn("k", explode(array((0 to 7).map(lit): _*)))
        .groupBy(col("vec_id"), col("k"))
        .agg(sum(col("col") *
          (((col("pos") + 1) * (col("k") + 3)) % 7 - 3)).as("dot"))
      val pw = element_at(array((0 to 7).map(k => lit(1L << k)): _*),
        col("k") + 1)
      val buckets = dots.groupBy(col("vec_id"))
        .agg(sum(when(col("dot") >= 0, pw).otherwise(0L)).as("bucket"))
      val keyed = buckets.join(e, "vec_id")
      val pairs = keyed.as("a")
        .join(keyed.as("b"), col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          (Llm.qdot(col("a.q"), col("b.q")).cast(DoubleType) /
            (sqrt(col("a.nrm").cast(DoubleType)) *
             sqrt(col("b.nrm").cast(DoubleType)))).as("cos"))
      pairs.filter(col("cos") >= 0.3).orderBy(col("va"), col("vb"))
    }),

    // L14 — language-ID by marker-token overlap: the 3 most frequent
    // tokens per language (from the corpus itself — deterministic) act as
    // the n-gram marker set; prediction = argmax marker hits (tie: lang
    // ASC). 100 TB: markers are a tiny broadcast table.
    "l14_lang_id" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tokAll = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("token"))
      val markers = tokAll.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("token").asc)))
        .filter(col("rn") <= 3)
        .select(col("lang").as("m_lang"), col("token"))
      val hits = tokAll.select(col("doc_id"), col("token")).distinct()
        .join(broadcast(markers), "token")
        .groupBy(col("doc_id"), col("m_lang"))
        .agg(count(lit(1)).as("matches"))
      val pred = hits.withColumn("rn",
          row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("matches").desc, col("m_lang").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("m_lang").as("pred_lang"))
      docs.select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("pred_lang"), lit("unk")).as("pred_lang"),
          (col("lang") === coalesce(col("pred_lang"), lit("unk")))
            .as("correct"))
        .orderBy(col("doc_id"))
    }),

    // L15 — document quality scoring: length/type-token/stopword-ratio
    // features with a fixed linear combination. "Stopwords" are the 10
    // globally most frequent tokens (deterministic, corpus-derived).
    "l15_quality" -> ((s, d) =>
      qualityFeatures(s, d).orderBy(col("doc_id"))),

    // L16 — document fingerprinting: positional token-trigram rolling
    // hash (base-31 polynomial mod 1e9+7); fingerprint = min trigram
    // hash (winnowing-lite). 100 TB: lead() windows are per-doc
    // (bounded partitions); the rest is a groupBy per doc.
    "l16_fingerprint" -> ((s, d) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumn("th", tokenHash(col("col")))
        .withColumn("th1", lead(col("th"), 1).over(w))
        .withColumn("th2", lead(col("th"), 2).over(w))
        .filter(col("th2").isNotNull)
        .withColumn("h3",
          (col("th") * 961 + col("th1") * 31 + col("th2")) % 1000000007L)
        .groupBy(col("doc_id"))
        .agg(min(col("h3")).as("fingerprint"),
             count(lit(1)).as("n_trigrams"),
             countDistinct(col("h3")).as("n_distinct"))
        .orderBy(col("doc_id"))
    }),

    // L38 — unigram-LM surprisal scoring (added r8): the CCNet-style
    // "how unlikely is this document under a corpus language model"
    // quality signal that l15's surface features can't see (a doc of
    // real but RARE words scores high surprisal, low l15 penalty; MT
    // boilerplate scores the reverse). A float -ln p would break the
    // bit-identical float protocol (JVM Math.log and libm disagree in
    // the last ulp), so per-token surprisal is the INTEGER
    // floor(log2(total/cnt)) = length(bin(total div cnt)) - 1 — exact
    // in both engines for any positive ratio — summed per doc as
    // BIGINT, with ONE final division for the per-token mean (single
    // IEEE op, order-free, bit-portable). 100 TB: the vocab is a
    // two-phase count agg (map-side partials absorb the Zipf head —
    // "the" never concentrates on one reducer); the unigram table joins
    // back in two tiers (see l38Scored): the top-L38HeadK tokens
    // broadcast — bounded BY CONSTRUCTION, so an adversarial web-crawl
    // vocabulary can never outgrow the driver — and the tail (which by
    // construction excludes the Zipf head, so it is both small and
    // skew-free) joins without a hint, letting AQE pick the strategy.
    "l38_surprisal" -> ((s, d) => l38Scored(s, d)),

    // L33 — SUBSTRING-span exact dedup (added r7): the production
    // corpus-dedup move the doc-level family (L1/L2/L10…) cannot make —
    // remove duplicated 50-TOKEN SPANS, not whole documents (the
    // suffix-array dedup of Lee et al. 2022, re-expressed as a
    // distributed rolling-hash groupBy). Every 50-token window gets a
    // Horner-rule polynomial hash over md5-prefix token hashes
    // (acc·31 + th mod 1e9+7 — exact integer arithmetic, bit-portable,
    // the l16 protocol extended from 3 to 50 tokens); a hash seen at
    // k > 1 locations keeps its lexicographically-first (doc_id, pos)
    // occurrence and marks the rest for removal; removed token count =
    // the UNION of the marked spans' [pos, pos+49] intervals (overlaps
    // not double-counted). Output is the per-doc removal plan.
    // 100 TB: span stream is one row per token position, produced by a
    // TRUE O(n) Horner roll — the first window is folded once, then
    // h[k+1] = (h[k] − th[k]·31^(W−1))·31 + th[k+W] mod M re-uses the
    // previous hash (a typed flatMap kernel, the declared L8b batched-
    // kernel pattern: no Catalyst expression computes a dependent scan,
    // and an aggregate() accumulator appending an array would be O(n²)
    // in copies). Values are byte-identical to the naive per-span fold
    // (LlmSpec pins both recurrences against each other). Duplicate
    // detection is ONE hash-shuffle on the span hash (the scalable
    // stand-in for a monolithic suffix array); the join back and the
    // per-doc rollups shuffle span-hash / doc_id respectively. No
    // all-pairs stage anywhere. LlmSpec also pins the removal invariant
    // (re-running on the deduped corpus finds 0 duplicated spans).
    "l33_span_dedup" -> ((s, d) => spanStats(s, d).orderBy(col("doc_id"))),

    // L42 — paragraph-level keep-first dedup (r12): the unit-dedup pass
    // every production corpus pipeline (CCNet, Dolma, RefinedWeb) runs
    // BEFORE document-level dedup — repeated paragraphs (navigation,
    // legal footers, syndicated blurbs) recur across otherwise-distinct
    // documents, and removing them at the paragraph unit is far cheaper
    // than L33's token-level span roll. Distinct from L33: the unit is
    // a fixed text block (here: 20-token chunks, the synthetic corpus
    // being single-line), the rule is keep-first (a duplicated
    // paragraph survives ONLY in the document with the smallest doc_id;
    // CCNet's drop-all is this rule minus the keeper exemption).
    // Cross-doc duplicates provably exist via the L41/L23 injection
    // idiom: a constant nav paragraph prepended at doc_id % 3, a
    // constant footer appended at doc_id % 7 (the oracle replays both),
    // on top of any organically duplicated chunks from exact-dup docs.
    // 100 TB shape: two paragraph-keyed hash shuffles (corpus-wide
    // count+keeper aggregate; join back) + one doc_id rollup — the
    // paragraph, not the document, is the shuffle unit, so skew is
    // bounded by paragraph length; no all-pairs stage. At index scale
    // the group key becomes the paragraph hash with the text carried
    // alongside (same plan, narrower compare).
    // L43 — bigram-LM surprisal (r12): the conditional-probability
    // upgrade of L38's unigram model — the signal class CCNet's KenLM
    // filter actually uses (a doc of individually-common tokens in
    // implausible ORDER scores high here, invisible to L38). Per
    // bigram position: bits = floor(log2(cntL(lhs) / cnt2(lhs, rhs)))
    // where cnt2 = corpus bigram count and cntL(a) = Σ_b cnt2(a, b)
    // (a's count as a bigram LEFT, so the ratio is ≥ 1 and the integer
    // floor-log2 = length(bin(cntL div cnt2)) − 1 is exact in both
    // engines — the L38 idiom). ONE final IEEE division for the mean.
    // 100 TB: bigram vocab via 2-phase count agg; cntL derived from
    // the VOCAB (not a second corpus scan); scoring joins are
    // hint-free (AQE picks broadcast when the vocab head fits, shuffle
    // when an adversarial vocab doesn't — the bounded-broadcast L38
    // fix applies identically if the head is worth pinning).
    // L47 — TRIGRAM LM surprisal with Katz-style integer BACKOFF, the
    // top of the l38 (unigram) → l43 (bigram) ladder and the form a
    // KenLM-style quality filter actually runs: counts come from the
    // TRAIN split only (doc_id % 97 ≠ 0, the L27 eval convention), so
    // scoring the full corpus exercises unseen events. Per trigram
    // position, exact-integer bits (floor-log2 via bin-length):
    //   seen trigram:            flog2(c2(t1,t2) div c3)
    //   else seen bigram(t2,t3): 4 + flog2(c1(t2) div c2(t2,t3))
    //   else seen unigram t3:    8 + flog2(T div c1(t3))
    //   else (OOV):             12 + flog2(T)
    // (fixed 4-bit backoff penalties — a deterministic stand-in for
    // the non-replayable IEEE discount weights; every ratio ≥ 1 by
    // containment, so bits ≥ 0). Backoff is exercised BY DESIGN: the
    // 31-token shared vocabulary would otherwise make every eval
    // n-gram seen, so eval anchor doc 97 gets the disjoint-vocabulary
    // DeconText appended (the L46 injection, replayed in the oracle) —
    // its OOV tail must land in the level-0 branch (pinned in
    // LlmSpec "L47"). T is a 1-row driver scalar (bounded by
    // construction). 100 TB: count tables are 2-phase aggs; scoring is
    // five hint-free equi-joins on n-gram keys (corpus-sized tables
    // shuffle, AQE broadcasts the heads that fit — the l43 contract);
    // no window, no all-pairs.
    "l47_trigram_backoff" -> ((s, d) => {
      // train-side bridge probe: doc 3 (train: 3 % 97 ≠ 0) teaches the
      // model `zzqx abacus bramble` — so the eval anchor's DeconText
      // tail deterministically exercises EVERY backoff level:
      //   (…X, abacus):          bigram unseen, `abacus` seen   → bk1
      //   (X, abacus, bramble):  trigram unseen, bigram seen    → bk2
      //   (abacus, bramble, crescent): `crescent` never trained → bk0
      // (X = the anchor's last original token ∈ the 31-token shared
      // vocabulary, so it can never equal the train-only `zzqx`).
      val inj = when(col("doc_id") === Retrieval.DeconAnchor,
          concat(col("text"), lit(" "), lit(Retrieval.DeconText)))
        .when(col("doc_id") === 3,
          concat(col("text"), lit(" " + L47TrainProbe)))
        .otherwise(col("text"))
      val docs = Tables.documents(s, d).withColumn("text", inj)
        .withColumn("toks", split(col("text"), " "))
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      def tris(df: DataFrame, withId: Boolean): DataFrame = {
        val g = df.filter(size(col("toks")) >= 3)
          .select((if (withId) Seq(col("doc_id")) else Nil) :+
            explode(expr(
              "transform(sequence(1, size(toks) - 2), " +
              "i -> struct(element_at(toks, i) as t1, " +
              "element_at(toks, i + 1) as t2, " +
              "element_at(toks, i + 2) as t3))")).as("g"): _*)
        g.select((if (withId) Seq(col("doc_id")) else Nil) ++
          Seq(col("g.t1"), col("g.t2"), col("g.t3")): _*)
      }
      val c3 = tris(train, withId = false)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("c3"))
      val c2 = train.filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) as u1, " +
          "element_at(toks, i + 1) as u2))")).as("b"))
        .select(col("b.u1"), col("b.u2"))
        .groupBy(col("u1"), col("u2")).agg(count(lit(1)).as("c2"))
      val c1 = train.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val tTot = train.agg(sum(size(col("toks")).cast(LongType)))
        .head().getLong(0)
      tris(docs, withId = true)
        .join(c3, Seq("t1", "t2", "t3"), "left")
        .join(c2.select(col("u1").as("t1"), col("u2").as("t2"),
          col("c2").as("cctx")), Seq("t1", "t2"), "left")
        .join(c2.select(col("u1").as("t2"), col("u2").as("t3"),
          col("c2").as("cb")), Seq("t2", "t3"), "left")
        .join(c1.select(col("w").as("t2"), col("c1").as("cu2")),
          Seq("t2"), "left")
        .join(c1.select(col("w").as("t3"), col("c1").as("cu3")),
          Seq("t3"), "left")
        .select(col("doc_id"),
          when(col("c3").isNotNull,
            length(bin(expr("cctx div c3"))) - 1)
          .when(col("cb").isNotNull,
            lit(4) + length(bin(expr("cu2 div cb"))) - 1)
          .when(col("cu3").isNotNull,
            lit(8) + length(bin(expr(s"$tTot div cu3"))) - 1)
          .otherwise(
            lit(12) + length(bin(lit(tTot))) - 1)
            .cast(LongType).as("b"),
          (col("c3").isNull && col("cb").isNotNull)
            .cast("long").as("bk2"),
          (col("cb").isNull && col("cu3").isNotNull)
            .cast("long").as("bk1"),
          col("cu3").isNull.cast("long").as("bk0"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tri"), sum(col("b")).as("bits3_sum"),
          sum(col("bk2")).as("n_bk2"), sum(col("bk1")).as("n_bk1"),
          sum(col("bk0")).as("n_bk0"))
        .select(col("doc_id"), col("n_tri"), col("bits3_sum"),
          col("n_bk2"), col("n_bk1"), col("n_bk0"),
          (col("bits3_sum").cast(DoubleType) /
            col("n_tri").cast(DoubleType)).as("avg_bits3"))
        .orderBy(col("doc_id"))
    }),

    "l43_bigram_surprisal" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) as lhs, " +
          "element_at(toks, i + 1) as rhs))")).as("b"))
        .select(col("doc_id"), col("b.lhs"), col("b.rhs"))
      val c2 = bg.groupBy(col("lhs"), col("rhs"))
        .agg(count(lit(1)).as("c2"))
      val cl = c2.groupBy(col("lhs")).agg(sum(col("c2")).as("cl"))
      bg.join(c2, Seq("lhs", "rhs")).join(cl, Seq("lhs"))
        .select(col("doc_id"),
          (length(bin(expr("cl div c2"))) - 1).cast(LongType).as("sb"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("sb")).as("bits2_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("bits2_sum"),
          (col("bits2_sum").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)).as("avg_bits2"))
        .orderBy(col("doc_id"))
    }),

    // L44 — heavy-hitter tokens via count-min-sketch screen + exact
    // confirm (r12): corpus-frequency heavy hitters (the vocabulary
    // head every tokenizer/stopword/quality stage consults) WITHOUT a
    // full-vocabulary shuffle. A CMS built through the public
    // DataFrameStatFunctions API is broadcast and answers "might be ≥
    // threshold" MAP-SIDE; only the candidate tokens (true heavies +
    // the CMS overestimate tail) reach the exact groupBy that confirms
    // the count. CMS never UNDERestimates, so candidates ⊇ the true
    // heavy set and the exact confirm trims the rest — the output
    // EXACTLY equals the naive full-vocab plan (the L31 bloom
    // argument: the sketch decides which rows pay the shuffle, never
    // the answer) — which is what makes an approximate sketch fully
    // oracle-hashable. Threshold: count ≥ total div 100 (the 1% head).
    // 100 TB: the sketch is a fixed-size mergeable aggregate (KBs at
    // eps 1e-3); the exact-confirm shuffle carries ~the head + the
    // eps·total overestimate band instead of the full Zipf tail.
    "l44_heavy_hitters" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
      val total = tok.count()
      val thresh = total / 100L
      val cms = tok.stat.countMinSketch(
        "token", eps = 0.001, confidence = 0.99, seed = 42)
      val bc = s.sparkContext.broadcast(cms)
      val mightBeHeavy = udf((t: String) => bc.value.estimateCount(t) >= thresh)
      tok.filter(mightBeHeavy(col("token")))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= thresh)
        .orderBy(col("cnt").desc, col("token").asc)
    }),

    "l42_para_dedup" -> ((s, d) => {
      val paras = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("own", expr(
          "transform(sequence(0, cast(ceil(size(toks) / 20.0) as int) - 1)," +
          " j -> array_join(slice(toks, j * 20 + 1, 20), ' '))"))
        .withColumn("paras", concat(
          when(col("doc_id") % 3 === 0, array(lit(ParaNav)))
            .otherwise(expr("cast(array() as array<string>)")),
          col("own"),
          when(col("doc_id") % 7 === 0, array(lit(ParaFooter)))
            .otherwise(expr("cast(array() as array<string>)"))))
        .select(col("doc_id"), posexplode(col("paras")).as(Seq("pos", "para")))
      val stats = paras.groupBy(col("para"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))
      paras.join(stats, "para")
        .withColumn("kept",
          col("cnt") === 1L || col("doc_id") === col("keeper"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
          array_join(
            expr("transform(array_sort(collect_list(" +
                 "case when kept then struct(pos, para) end)), x -> x.para)"),
            "\n").as("clean_text"))
        .orderBy(col("doc_id"))
    })
  )

  /** L42 injected duplicate paragraphs (deterministic, oracle-replayed):
    * a nav block at doc_id % 3 == 0 and a footer at % 7 == 0. Token
    * streams disjoint from the corpus vocabulary so they can never
    * collide with an organic 20-token chunk. */
  private[llm] val ParaNav =
    "home products pricing docs blog careers contact login"
  private[llm] val ParaFooter = Retrieval.oracleLit(
    "copyright 2024 example corp all rights reserved terms privacy")

  /** L47 train-side bridge probe (appended to train doc 3, oracle-
    * replayed): `zzqx` is train-only, `abacus bramble` is the head of
    * the eval anchor's DeconText tail — together they make every
    * backoff level structurally reachable (see the l47 query comment). */
  private[llm] val L47TrainProbe = Retrieval.oracleLit("zzqx abacus bramble")

  /** L38 head cap: unigram-table rows broadcast for the map-side scoring
    * join — the top-L38HeadK tokens by (cnt DESC, token ASC). 64 Ki rows
    * of (token, count) is single-digit MBs; every shipped sf's whole
    * vocabulary sits far below it (head = vocab, tail = ∅), which is
    * exactly why the canonical hash is unchanged by the bound. */
  val L38HeadK = 1 << 16

  /** The l38 scoring pipeline with the head cap exposed (PlanSpec pins
    * that a 2-token head — forcing a real shuffle-joined tail at test
    * scale — produces the identical output). Head and tail occurrences
    * are disjoint by the anti-join, and head ⊆ vocab carries identical
    * counts, so the split can re-route rows but never change the
    * answer (the l31 bloom argument applied to a broadcast bound). */
  private[graft] def l38Scored(s: SparkSession, d: String,
                               headK: Int = L38HeadK): DataFrame = {
    val tok = Tables.documents(s, d).select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val head = vocab.orderBy(col("cnt").desc, col("token").asc).limit(headK)
    val scoredHead = tok.join(broadcast(head), "token")
    val scoredTail = tok
      .join(broadcast(head.select(col("token"))), Seq("token"), "left_anti")
      .join(vocab, "token")
    scoredHead.unionByName(scoredTail)
      .join(broadcast(total))
      .select(col("doc_id"),
        (length(bin(expr("total div cnt"))) - 1)
          .cast(LongType).as("sb"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("sb")).as("bits_sum"))
      .select(col("doc_id"), col("n_toks"), col("bits_sum"),
        (col("bits_sum").cast(DoubleType) /
          col("n_toks").cast(DoubleType)).as("avg_bits"))
      .orderBy(col("doc_id"))
  }

  /** L33 core, shared with Cluster's L39 corpus-export composition:
    * per-doc span-dedup removal plan (doc_id, n_tok, n_spans,
    * n_dup_spans, n_removed_tok), unsorted. See the l33 query comment
    * above for the algorithm and 100 TB shape. */
  private[llm] def spanStats(s: SparkSession, d: String): DataFrame = {
      val W = 50
      val spans = {
        import s.implicits._
        val M = 1000000007L
        // removal term 31^(W-1) mod M, hoisted off the per-token path
        val R = (1 until W).foldLeft(1L)((a, _) => a * 31L % M)
        Tables.documents(s, d)
          .select(col("doc_id"),
            expr("transform(split(text, ' '), t -> " +
                 "CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT) " +
                 "% 1000000007L)").as("th"))
          .filter(size(col("th")) >= W)
          .as[(Long, Array[Long])]
          .flatMap { case (id, th) =>
            var h = 0L
            var j = 0
            while (j < W) { h = (h * 31L + th(j)) % M; j += 1 }
            val out = new Array[(Long, Int, Long)](th.length - W + 1)
            out(0) = (id, 0, h)
            var k = 1
            while (k < out.length) {
              // (h − th[k−1]·R) mod M can sit in (−M, M); +M re-centers
              // before the ·31 step (all intermediates < 2^36).
              h = (((h - th(k - 1) * R % M) % M + M) * 31L +
                   th(k + W - 1)) % M
              out(k) = (id, k, h)
              k += 1
            }
            out
          }
          .toDF("doc_id", "pos", "h")
      }
      val canon = spans.groupBy(col("h"))
        .agg(count(lit(1)).as("c"),
             min(struct(col("doc_id"), col("pos"))).as("keep"))
      val marked = spans.join(canon, "h")
        .withColumn("is_dup", col("c") > 1 &&
          !(col("doc_id") === col("keep.doc_id") &&
            col("pos") === col("keep.pos")))
      val removed = marked.filter(col("is_dup"))
        .select(col("doc_id"),
                explode(sequence(col("pos"), col("pos") + (W - 1))).as("rp"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("rp")).as("n_removed_tok"))
      val stats = marked.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
             sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_spans"))
      Tables.documents(s, d)
        .select(col("doc_id"),
                size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .join(stats, Seq("doc_id"), "left")
        .join(removed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(col("n_removed_tok"), lit(0L)).as("n_removed_tok"))
  }

  /** Shared SQL fragment: distinct (doc_id, token, th) with the md5-prefix
    * integer hash — DuckDB's hex-literal cast mirrors Spark's conv(). */
  private val tokSql =
    """tok AS (
      |  SELECT DISTINCT doc_id, token,
      |    CAST('0x' || substring(md5(token), 1, 12) AS BIGINT) AS th
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents))""".stripMargin

  /** L10/L12 variant bounded to the declared doc_id < 1000 slice. */
  private val tokSql1k =
    """tok AS (
      |  SELECT DISTINCT doc_id, token,
      |    CAST('0x' || substring(md5(token), 1, 12) AS BIGINT) AS th
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents WHERE doc_id < 1000))""".stripMargin

  // mirrors jaccard() above: exact-integer size pre-filter, identical-set
  // shortcut, pair-local list_intersect (no exploded token join), and the
  // integer-form threshold (num+den)·i ≥ num·(n1+n2) ⟺ J ≥ num/den
  private def jacSqlFor(num: Int, den: Int): String =
    s"""st AS (SELECT doc_id, count(*) AS sz, list_sort(list(token)) AS ts
      |       FROM tok GROUP BY doc_id),
      |ws AS (
      |  SELECT c.d1, c.d2, s1.sz AS n1, s2.sz AS n2,
      |    CASE WHEN s1.ts = s2.ts THEN s1.sz
      |         ELSE len(list_intersect(s1.ts, s2.ts)) END AS i
      |  FROM cand c
      |  JOIN st s1 ON s1.doc_id = c.d1
      |  JOIN st s2 ON s2.doc_id = c.d2
      |  WHERE least(s1.sz, s2.sz) * $den >= $num * greatest(s1.sz, s2.sz)),
      |jac AS (
      |  SELECT d1, d2,
      |    CAST(i AS DOUBLE) / CAST(n1 + n2 - i AS DOUBLE) AS jac
      |  FROM ws WHERE i * ${num + den} >= $num * (n1 + n2))""".stripMargin
  private val jacSql = jacSqlFor(19, 20)

  /** l10b oracle fragments are GENERATED from the same AB32 constants the
    * Spark pipeline uses — one source of truth for the permutations. */
  private val mins32Sql = AB32.zipWithIndex.map { case ((a, b), i) =>
    s"    min((th * $a + $b) % 2147483647) AS h$i"
  }.mkString(",\n")
  private def bandSql(bk: Int): String =
    (0 until 16).map(j => s"h${16 * bk + j}").mkString(" || '_' || ")

  /** L15's feature+score chain ending in relation `q` (doc_id, n_toks,
    * n_chars, ttr, stop_ratio, score) — shared with Curation's L26
    * oracle so the score definition cannot drift. */
  private[llm] val qualitySql: String =
    """tokall AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |stop AS (
      |  SELECT token FROM tokall GROUP BY token
      |  ORDER BY count(*) DESC, token ASC LIMIT 10),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_stop
      |  FROM tokall JOIN stop USING (token) GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
      |    CAST(length(text) AS BIGINT) AS n_chars
      |  FROM documents),
      |feat AS (
      |  SELECT b.doc_id, b.n_toks, b.n_chars,
      |    CAST(b.n_uniq AS DOUBLE) / CAST(b.n_toks AS DOUBLE) AS ttr,
      |    CAST(COALESCE(sc.n_stop, 0) AS DOUBLE) / CAST(b.n_toks AS DOUBLE) AS stop_ratio
      |  FROM base b LEFT JOIN sc ON sc.doc_id = b.doc_id),
      |q AS (
      |  SELECT doc_id, n_toks, n_chars, ttr, stop_ratio,
      |    0.4 * ttr + 0.3 * (1.0 - stop_ratio) +
      |      0.3 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) AS score
      |  FROM feat)""".stripMargin

  /** The full l10b CTE chain ending in the `jac` relation (verified
    * near-dup pairs) — the final SELECT is the caller's. Shared between
    * the l10b oracle and Cluster's L22 oracle so the edge definition
    * cannot drift between them. */
  private[llm] val l10bCtes: String =
    s"""$tokSql,
      |sig AS (
      |  SELECT doc_id,
      |$mins32Sql
      |  FROM tok GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS bk, ${bandSql(0)} AS bsig FROM sig
      |  UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM sig),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM bands x JOIN bands y
      |    ON x.bk = y.bk AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
      |$jacSql""".stripMargin

  /** L31's pieces — (new batch, historical signatures, bloom-screened
    * candidates) — exposed so LlmSpec can pin the pruning properties
    * (candidates ≪ batch; candidates ⊇ every true dup). The filter is
    * sized by one count job on the true index cardinality — an
    * index-build step, paid once per corpus snapshot. */
  private[graft] def l31Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).withColumn("sig",
      sha2(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))), 256))
    val hist = docs.filter(col("doc_id") % 7 =!= 0).select(col("sig"))
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"), col("sig"))
    val bf = hist.stat.bloomFilter("sig", math.max(hist.count(), 1L), 0.01)
    val might = udf((x: String) => bf.mightContain(x))
    (batch, hist, batch.filter(might(col("sig"))))
  }

  val oracle: Map[String, String] = Map(
    // l38 — the per-token surprisal is the INTEGER floor(log2(total/cnt))
    // = length(bin(total // cnt)) - 1, exact in both engines (Spark `div`
    // and DuckDB `//` agree on positive BIGINTs; both `bin()`s print the
    // same minimal binary string). Only the final per-doc mean is IEEE —
    // one double division, order-free, bit-portable.
    "l38_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY token),
        |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(length(bin(total // cnt)) - 1) AS BIGINT) AS bits_sum,
        |  CAST(sum(length(bin(total // cnt)) - 1) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS avg_bits
        |FROM tok JOIN vocab USING (token) CROSS JOIN total
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "l31_bloom_dedup" ->
      // the oracle is the EXACT semantics the bloom path must equal: a
      // plain left join of the new batch against distinct historical
      // signatures (the filter can only re-route rows, never change this)
      """WITH sigs AS (
        |  SELECT doc_id, lang, doc_id % 7 = 0 AS is_new,
        |    sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig
        |  FROM documents)
        |SELECT n.doc_id, n.lang, h.sig IS NOT NULL AS is_dup
        |FROM (SELECT * FROM sigs WHERE is_new) n
        |LEFT JOIN (SELECT DISTINCT sig FROM sigs WHERE NOT is_new) h
        |  USING (sig)
        |ORDER BY n.doc_id""".stripMargin,
    "l10b_minhash_tuned" ->
      s"""WITH $l10bCtes
        |SELECT d1, d2, jac FROM jac
        |ORDER BY d1, d2""".stripMargin,
    "l10_minhash_lsh" ->
      s"""WITH $tokSql1k,
        |sig AS (
        |  SELECT doc_id,
        |    min((th * 2 + 1) % 2147483647) AS h0,
        |    min((th * 3 + 7) % 2147483647) AS h1,
        |    min((th * 5 + 13) % 2147483647) AS h2,
        |    min((th * 7 + 31) % 2147483647) AS h3,
        |    min((th * 11 + 101) % 2147483647) AS h4,
        |    min((th * 13 + 211) % 2147483647) AS h5,
        |    min((th * 17 + 419) % 2147483647) AS h6,
        |    min((th * 19 + 773) % 2147483647) AS h7
        |  FROM tok GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS bk, h0 || '_' || h1 AS bsig FROM sig
        |  UNION ALL SELECT doc_id, 1, h2 || '_' || h3 FROM sig
        |  UNION ALL SELECT doc_id, 2, h4 || '_' || h5 FROM sig
        |  UNION ALL SELECT doc_id, 3, h6 || '_' || h7 FROM sig),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |  FROM bands x JOIN bands y
        |    ON x.bk = y.bk AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |$jacSql
        |SELECT d1, d2, jac FROM jac
        |ORDER BY d1, d2""".stripMargin,
    "l11_simhash" ->
      s"""WITH $tokSql,
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (th & (CAST(1 AS BIGINT) << j)) <> 0
        |             THEN 1 ELSE -1 END) AS w
        |  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) js
        |  GROUP BY doc_id, j),
        |sim AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << j)
        |                  ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT doc_id, simhash,
        |  count(*) OVER (PARTITION BY simhash) AS n_same
        |FROM sim ORDER BY doc_id""".stripMargin,
    "l12_raretoken_neardup" ->
      s"""WITH $tokSql1k,
        |freq AS (SELECT token, count(*) AS f FROM tok GROUP BY token),
        |rare AS (
        |  SELECT doc_id, token FROM (
        |    SELECT t.doc_id, t.token,
        |      row_number() OVER (PARTITION BY t.doc_id
        |                         ORDER BY f.f ASC, t.token ASC) AS rn
        |    FROM tok t JOIN freq f ON f.token = t.token)
        |  WHERE rn <= 3),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |  FROM rare x JOIN rare y
        |    ON x.token = y.token AND x.doc_id < y.doc_id),
        |$jacSql
        |SELECT d1, d2, jac FROM jac
        |ORDER BY d1, d2""".stripMargin,
    // l20 — trigram-shingle tok CTE + the same generated banding/verify
    "l20_shingle_neardup" -> {
      val bandUnion = (0 until 16).map(bk =>
        s"SELECT doc_id, $bk AS bk, h${2 * bk} || '_' || h${2 * bk + 1} AS bsig FROM sig")
        .mkString("\n        |  UNION ALL ")
      s"""WITH dd AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '),
        |    w -> CAST('0x' || substring(md5(w), 1, 12) AS BIGINT)) AS ths
        |  FROM documents),
        |u AS (SELECT doc_id, ths,
        |        unnest(generate_series(1, len(ths) - 2)) AS i FROM dd),
        |tok AS (
        |  SELECT DISTINCT doc_id,
        |    (ths[i] * 961 + ths[i+1] * 31 + ths[i+2]) & 9007199254740991 AS token,
        |    (ths[i] * 961 + ths[i+1] * 31 + ths[i+2]) & 9007199254740991 AS th
        |  FROM u),
        |sig AS (
        |  SELECT doc_id,
        |$mins32Sql
        |  FROM tok GROUP BY doc_id),
        |bands AS (
        |  $bandUnion),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |  FROM bands x JOIN bands y
        |    ON x.bk = y.bk AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
        |${jacSqlFor(1, 2)}
        |SELECT d1, d2, jac FROM jac
        |ORDER BY d1, d2""".stripMargin
    },
    "l21_token_count" ->
      ("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, 'PAT')) AS BIGINT) AS n_bpe,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) AS DOUBLE) /
        |    CAST(nullif(len(regexp_extract_all(text, 'PAT')), 0) AS DOUBLE) AS chars_per_tok
        |FROM documents ORDER BY doc_id""".stripMargin
        .replace("PAT", "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \t\n\r]")),
    // l12b — df-threshold K = ceil(n/20) mirrors raretokenFullCandidates
    "l12b_raretoken_full" ->
      s"""WITH $tokSql,
        |k AS (SELECT CAST(ceil(count(DISTINCT doc_id) / 20.0) AS BIGINT) AS kk
        |      FROM tok),
        |freq AS (SELECT token, count(*) AS f FROM tok GROUP BY token),
        |rare AS (
        |  SELECT t.doc_id, t.token
        |  FROM tok t JOIN freq f ON f.token = t.token CROSS JOIN k
        |  WHERE f.f <= k.kk),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |  FROM rare x JOIN rare y
        |    ON x.token = y.token AND x.doc_id < y.doc_id),
        |$jacSql
        |SELECT d1, d2, jac FROM jac
        |ORDER BY d1, d2""".stripMargin,
    // l27 — same 53-bit arithmetic shingles as l20's chain; the eval
    // split and the hit/total counts are plain integer arithmetic, one
    // IEEE division at the end
    "l27_decontaminate" ->
      """WITH dd AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '),
        |    w -> CAST('0x' || substring(md5(w), 1, 12) AS BIGINT)) AS ths
        |  FROM documents),
        |u AS (SELECT doc_id, ths,
        |        unnest(generate_series(1, len(ths) - 2)) AS i FROM dd),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    (ths[i] * 961 + ths[i+1] * 31 + ths[i+2]) & 9007199254740991 AS th
        |  FROM u),
        |es AS (SELECT DISTINCT th FROM sh WHERE doc_id % 97 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |hits AS (
        |  SELECT s.doc_id, count(*) AS n_hits
        |  FROM sh s JOIN es ON es.th = s.th
        |  WHERE s.doc_id % 97 <> 0
        |  GROUP BY s.doc_id)
        |SELECT h.doc_id, CAST(h.n_hits AS BIGINT) AS n_hits,
        |  CAST(t.n_sh AS BIGINT) AS n_sh,
        |  CAST(h.n_hits AS DOUBLE) / CAST(t.n_sh AS DOUBLE) AS overlap_frac
        |FROM hits h JOIN tot t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "l13_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, q,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
        |  FROM e),
        |x AS (SELECT vec_id, unnest(generate_series(1, 64)) AS i, q FROM e),
        |dots AS (
        |  SELECT vec_id, k,
        |    sum(q[i] * ((i * (k + 3)) % 7 - 3)) AS dot
        |  FROM x CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) ks
        |  GROUP BY vec_id, k),
        |bk AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << k)
        |                  ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |keyed AS (SELECT bk.vec_id, bk.bucket, n.q, n.nrm
        |          FROM bk JOIN n ON n.vec_id = bk.vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
        |  FROM keyed a JOIN keyed b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT va, vb, cos FROM pairs WHERE cos >= 0.3
        |ORDER BY va, vb""".stripMargin,
    "l14_lang_id" ->
      """WITH tokall AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |markers AS (
        |  SELECT lang AS m_lang, token FROM (
        |    SELECT lang, token, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY lang
        |                         ORDER BY count(*) DESC, token ASC) AS rn
        |    FROM tokall GROUP BY lang, token)
        |  WHERE rn <= 3),
        |hits AS (
        |  SELECT t.doc_id, m.m_lang, count(*) AS matches
        |  FROM (SELECT DISTINCT doc_id, token FROM tokall) t
        |  JOIN markers m ON m.token = t.token
        |  GROUP BY t.doc_id, m.m_lang),
        |pred AS (
        |  SELECT doc_id, m_lang AS pred_lang FROM (
        |    SELECT doc_id, m_lang,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY matches DESC, m_lang ASC) AS rn
        |    FROM hits)
        |  WHERE rn = 1)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(p.pred_lang, 'unk') AS pred_lang,
        |  d.lang = COALESCE(p.pred_lang, 'unk') AS correct
        |FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "l15_quality" ->
      s"""WITH $qualitySql
        |SELECT doc_id, n_toks, n_chars, ttr, stop_ratio, score
        |FROM q ORDER BY doc_id""".stripMargin,
    "l16_fingerprint" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |u AS (SELECT doc_id, toks,
        |        unnest(generate_series(1, len(toks))) AS i FROM d),
        |t AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    CAST('0x' || substring(md5(toks[i]), 1, 12) AS BIGINT) AS th
        |  FROM u),
        |tri AS (
        |  SELECT doc_id, th,
        |    lead(th, 1) OVER w AS th1, lead(th, 2) OVER w AS th2
        |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |h AS (
        |  SELECT doc_id, (th * 961 + th1 * 31 + th2) % 1000000007 AS h3
        |  FROM tri WHERE th2 IS NOT NULL)
        |SELECT doc_id, min(h3) AS fingerprint, count(*) AS n_trigrams,
        |  count(DISTINCT h3) AS n_distinct
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // l33 — same Horner-rule span hash (list_prepend(0, …) seeds the
    // fold at 0, matching Spark's aggregate(…, 0L, …)); duplicate
    // marking via a (doc_id, pos)-ordered row_number per hash, which
    // selects exactly the lexicographic-min occurrence groupBy/min-
    // struct picks on the engine side.
    "l33_span_dedup" ->
      s"""WITH $spanRmCtes,
        |st AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(CASE WHEN c > 1 AND rn > 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_dup_spans
        |  FROM mk33 GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  coalesce(st.n_spans, 0) AS n_spans,
        |  coalesce(st.n_dup_spans, 0) AS n_dup_spans,
        |  coalesce(rm33.n_removed_tok, 0) AS n_removed_tok
        |FROM documents
        |LEFT JOIN st USING (doc_id) LEFT JOIN rm33 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // l47 — train-split n-gram counts, the same backoff CASE ladder
    // with // floor division and bin-length floor-log2; injection
    // replayed verbatim. T is recomputed in SQL (not interpolated) so
    // the oracle is self-contained.
    "l47_trigram_backoff" ->
      s"""WITH d47 AS (
        |  SELECT doc_id,
        |    string_split(CASE WHEN doc_id = ${Retrieval.DeconAnchor}
        |      THEN text || ' ' || '${Retrieval.DeconText}'
        |      WHEN doc_id = 3 THEN text || ' ' || '$L47TrainProbe'
        |      ELSE text END, ' ') AS toks
        |  FROM documents),
        |tr47 AS (SELECT * FROM d47 WHERE doc_id % 97 <> 0),
        |tg47 AS (
        |  SELECT toks[i] AS t1, toks[i + 1] AS t2, toks[i + 2] AS t3
        |  FROM tr47, unnest(generate_series(1, len(toks) - 2)) AS g(i)
        |  WHERE len(toks) >= 3),
        |c347 AS (
        |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS c3
        |  FROM tg47 GROUP BY 1, 2, 3),
        |bg47 AS (
        |  SELECT toks[i] AS u1, toks[i + 1] AS u2
        |  FROM tr47, unnest(generate_series(1, len(toks) - 1)) AS g(i)
        |  WHERE len(toks) >= 2),
        |c247 AS (
        |  SELECT u1, u2, CAST(count(*) AS BIGINT) AS c2
        |  FROM bg47 GROUP BY 1, 2),
        |w47 AS (SELECT unnest(toks) AS w FROM tr47),
        |c147 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |         FROM w47 GROUP BY 1),
        |t47 AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS tt FROM tr47),
        |sc47 AS (
        |  SELECT doc_id, toks[i] AS t1, toks[i + 1] AS t2,
        |    toks[i + 2] AS t3
        |  FROM d47, unnest(generate_series(1, len(toks) - 2)) AS g(i)
        |  WHERE len(toks) >= 3),
        |j47 AS (
        |  SELECT s.doc_id,
        |    CASE WHEN c3.c3 IS NOT NULL
        |           THEN length(bin(cx.c2 // c3.c3)) - 1
        |         WHEN cb.c2 IS NOT NULL
        |           THEN 4 + length(bin(u2.c1 // cb.c2)) - 1
        |         WHEN u3.c1 IS NOT NULL
        |           THEN 8 + length(bin(t.tt // u3.c1)) - 1
        |         ELSE 12 + length(bin(t.tt)) - 1 END AS b,
        |    CASE WHEN c3.c3 IS NULL AND cb.c2 IS NOT NULL
        |         THEN 1 ELSE 0 END AS bk2,
        |    CASE WHEN cb.c2 IS NULL AND u3.c1 IS NOT NULL
        |         THEN 1 ELSE 0 END AS bk1,
        |    CASE WHEN u3.c1 IS NULL THEN 1 ELSE 0 END AS bk0
        |  FROM sc47 s
        |  LEFT JOIN c347 c3
        |    ON s.t1 = c3.t1 AND s.t2 = c3.t2 AND s.t3 = c3.t3
        |  LEFT JOIN c247 cx ON s.t1 = cx.u1 AND s.t2 = cx.u2
        |  LEFT JOIN c247 cb ON s.t2 = cb.u1 AND s.t3 = cb.u2
        |  LEFT JOIN c147 u2 ON s.t2 = u2.w
        |  LEFT JOIN c147 u3 ON s.t3 = u3.w
        |  CROSS JOIN t47 t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(sum(b) AS BIGINT) AS bits3_sum,
        |  CAST(sum(bk2) AS BIGINT) AS n_bk2,
        |  CAST(sum(bk1) AS BIGINT) AS n_bk1,
        |  CAST(sum(bk0) AS BIGINT) AS n_bk0,
        |  CAST(sum(b) AS DOUBLE) / count(*) AS avg_bits3
        |FROM j47 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // l43 — bigram counts, left-marginal and the integer floor-log2
    // replayed verbatim (the l38 bin-length idiom on the conditional
    // ratio); 1-based list indexing mirrors element_at.
    "l43_bigram_surprisal" ->
      """WITH t43 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg43 AS (
        |  SELECT doc_id, toks[i] AS lhs, toks[i + 1] AS rhs
        |  FROM t43, unnest(generate_series(1, len(toks) - 1)) AS g(i)
        |  WHERE len(toks) >= 2),
        |c243 AS (
        |  SELECT lhs, rhs, count(*) AS c2 FROM bg43 GROUP BY lhs, rhs),
        |cl43 AS (
        |  SELECT lhs, CAST(sum(c2) AS BIGINT) AS cl
        |  FROM c243 GROUP BY lhs),
        |sc43 AS (
        |  SELECT doc_id, length(bin(cl // c2)) - 1 AS b
        |  FROM bg43 JOIN c243 USING (lhs, rhs) JOIN cl43 USING (lhs))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(b) AS BIGINT) AS bits2_sum,
        |  CAST(sum(b) AS DOUBLE) / count(*) AS avg_bits2
        |FROM sc43 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // l44 — the oracle is the NAIVE full-vocab plan: the CMS screen can
    // re-route rows but never change the answer (no false negatives),
    // so the hash check IS the proof the sketch path lost nothing.
    "l44_heavy_hitters" ->
      """WITH tok44 AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot44 AS (SELECT count(*) // 100 AS th FROM tok44)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok44 CROSS JOIN tot44
        |GROUP BY token, th HAVING count(*) >= th
        |ORDER BY cnt DESC, token ASC""".stripMargin,

    // l42 — injection arithmetic, 20-token chunking and the keep-first
    // rule replayed verbatim; 1-based list slicing mirrors Spark's
    // slice(toks, j*20+1, 20) (both truncate past the end), and the
    // list(... ORDER BY pos) aggregate mirrors the engine's
    // array_sort(collect_list(struct(pos, para))) reassembly.
    "l42_para_dedup" ->
      s"""WITH d42 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |own42 AS (
        |  SELECT doc_id,
        |    list_transform(
        |      generate_series(0, CAST(ceil(len(toks) / 20.0) AS INT) - 1),
        |      j -> array_to_string(toks[j*20+1:j*20+20], ' ')) AS own
        |  FROM d42),
        |pl42 AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN ['$ParaNav']
        |          ELSE [] END) || own ||
        |    (CASE WHEN doc_id % 7 = 0 THEN ['$ParaFooter']
        |          ELSE [] END) AS paras
        |  FROM own42),
        |p42 AS (
        |  SELECT doc_id, i - 1 AS pos, paras[i] AS para
        |  FROM pl42, unnest(generate_series(1, len(paras))) AS g(i)),
        |st42 AS (
        |  SELECT para, count(*) AS cnt, min(doc_id) AS keeper
        |  FROM p42 GROUP BY para),
        |j42 AS (
        |  SELECT p.doc_id, p.pos, p.para,
        |    (s.cnt = 1 OR p.doc_id = s.keeper) AS kept
        |  FROM p42 p JOIN st42 s USING (para))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_removed,
        |  coalesce(array_to_string(
        |    list(para ORDER BY pos) FILTER (WHERE kept), chr(10)), '')
        |    AS clean_text
        |FROM j42 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )

  /** The L33 rolling-hash span chain ending in `rm33` (per-doc removed
    * token counts) — shared between the l33 oracle and Cluster's L39
    * corpus-export oracle so the span-dedup definition cannot drift
    * between them. CTE names are 33-suffixed to compose cleanly with
    * the l10b/cc/quality chains. */
  // lazy: referenced by the `oracle` val above (declaration-order forward
  // reference inside the object)
  private[llm] lazy val spanRmCtes: String =
    """d33 AS (
      |  SELECT doc_id,
      |    list_transform(string_split(text, ' '), t ->
      |      CAST('0x' || substring(md5(t), 1, 12) AS BIGINT) % 1000000007)
      |      AS th
      |  FROM documents),
      |sp33 AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+49]),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |  FROM d33, unnest(generate_series(1, len(th) - 49)) AS g(i)
      |  WHERE len(th) >= 50),
      |mk33 AS (
      |  SELECT doc_id, pos,
      |    count(*) OVER (PARTITION BY h) AS c,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |  FROM sp33),
      |rm33 AS (
      |  SELECT doc_id, count(DISTINCT rp) AS n_removed_tok
      |  FROM (SELECT doc_id, unnest(generate_series(pos, pos + 49)) AS rp
      |        FROM mk33 WHERE c > 1 AND rn > 1)
      |  GROUP BY doc_id)""".stripMargin
}
