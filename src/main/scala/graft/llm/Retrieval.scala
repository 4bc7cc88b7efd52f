package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** SURVEY.md §2.10 — L45: sparse lexical retrieval (BM25 top-k).
  *
  * The retrieval baseline every curation pipeline runs beside the dense
  * ANN family (l3*): given a query term set, rank documents by BM25
  * (Robertson et al.; the Okapi formulation with k1 = 1.2, b = 0.75).
  * Used in production corpus work for eval-set decontamination at the
  * passage level, near-match mining, and hard-negative generation for
  * embedding training.
  *
  * Float determinism (the repo's exact-integer contract): BM25's real
  * arithmetic is rationalized into TWO integer fixed-point divisions
  * per (term, doc) and exact BIGINT sums. The idf keeps BM25's
  * argument but drops the ln — the l5/l5b precedent (libm ln is not
  * bit-portable; the rational is monotone in df, which is all ranking
  * needs; a whole-bit floor-log2 idf collapses to 0 on this corpus's
  * shared vocabulary):
  *
  *   idf_fp = ((2·nd − 2·df + 1) · 1e6) div (2·df + 1)
  *            // = round-free fixed point of (nd − df + ½)/(df + ½)
  *
  * The tf saturation term, with k1 = 6/5, b = 3/4, multiplied through
  * by 10·totdl (avgdl = totdl/nd) and scaled ×1e3:
  *
  *   tfp_fp = (tf · 22000 · totdl)
  *            div (10·totdl·tf + 3·totdl + 9·dl·nd)   // ≤ 2200
  *
  *   contrib = idf_fp · tfp_fp,   score = Σ_terms contrib
  *
  * Integer division is exact in every engine, so scores hash
  * identically in Spark and DuckDB. Overflow headroom: idf_fp ≤
  * 2·nd·1e6 and tfp_fp ≤ 2200, so contrib stays int64-safe up to
  * nd ≈ 2e9 docs; tfp's numerator tf·22000·totdl caps at totdl ≈
  * 4e12 tokens — past either, the dial is DECIMAL(38,0), nothing
  * else changes.
  *
  * Query set (deterministic, oracle-replayed): every doc with
  * doc_id % 17 == 0 contributes its first 4 DISTINCT tokens as one
  * query (qid = doc_id).
  *
  * 100 TB shape: tf/dl/df are 2-phase aggregations over the corpus; the
  * query-term table is corpus-fraction-sized and BROADCAST onto tf, so
  * only rows for query terms ever reach the df/dl joins (df join keyed
  * on the surviving terms; dl join hint-free on doc_id under AQE); the
  * per-query top-5 is one shuffle keyed by qid over candidate docs
  * (docs sharing ≥1 query term), never the full corpus.
  */
object Retrieval {

  /** Fixed-point scale for BM25 contributions (1e6 ≈ 6 decimal digits
    * of score resolution — ties broken by doc_id are the contract). */
  val Scale = 1000000L

  /** L46 injected eval passage (the S13 disjoint-vocabulary idiom): the
    * corpus vocabulary is 31 shared tokens, so a DESIGNED contamination
    * event needs tokens no clean chunk can carry — the recall pin is
    * then structural, not statistical. 30 distinct tokens ≥ one L24
    * chunk stride, so at least one chunk of every contaminated doc
    * contains the full 8-term query prefix (chunk starts every 40
    * positions; an 8-token span always fits one 50-token window). */
  /** Guard for constants spliced into single-quoted oracle SQL string
    * literals: only [a-z0-9 ] may pass — a quote (or a LIKE-ish
    * metachar) would break or silently change the oracle SQL with no
    * compile-time signal (advisor r13). Fails at object init, so a bad
    * constant can never reach an interpolation site. */
  private[llm] def oracleLit(s: String): String = {
    require(s.matches("[a-z0-9 ]+"),
      s"oracle-injected constant must match [a-z0-9 ]+: $s")
    s
  }

  private[graft] val DeconText = oracleLit(
    "abacus bramble crescent dulcimer eyrie fjord gossamer hinterland " +
    "isthmus jacquard kelp lattice mistral nimbus obsidian parapet " +
    "quill rampart sextant talisman umber vellum wicket xylem yonder " +
    "zephyr arroyo bastion cairn delta9")

  /** L46 knobs: eval split = doc_id % 97 == 0 (the L27 convention);
    * contaminated train slice = doc_id % 89 == 3; eval anchor doc 97
    * (exists at every shipped sf — 500+ docs) REWRITTEN to DeconText so
    * its query terms are exactly the injected passage's head. */
  private[graft] val DeconAnchor = 97L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l45_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      // r22 (guide §2.4 remove shuffles): dl = per-doc token count =
      // split length — a map-side projection of the scan; the previous
      // tok.groupBy(doc_id) was a second full corpus explode+shuffle
      // computing the same number (split of any string is non-empty,
      // so no doc drops out vs the unnest count).
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("dl"))
      // corpus scalars: one row, broadcast by construction
      val stats = dl.agg(sum(col("dl")).as("totdl"),
        count(lit(1)).as("nd"))
      val qterms = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("qid"),
          explode(slice(split(col("text"), " "), 1, 4)).as("token"))
        .distinct()
      // r22 (guide §2.3 shuffle/compute fewer bytes): the (idf·tfp)
      // contribution depends on (doc, token) only — NEVER on qid — so
      // it is computed ONCE per candidate (doc, token) and the
      // qid-fanout join ships finished BIGINTs into the sum (it used
      // to re-evaluate the fixed-point arithmetic per (qid, doc,
      // token) — ~38× more evaluations at sf0.1, where every token is
      // shared by ~38 query sets). df over the PRUNED candidates is
      // df of those tokens exactly (pruning is by token).
      val qtok = qterms.select(col("token")).distinct()
      val cand = tf.join(broadcast(qtok), "token")
      val dfq = cand.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val contrib = cand.join(broadcast(dfq), "token")
        .join(dl, "doc_id")
        .join(broadcast(stats))
        .select(col("token"), col("doc_id"),
          (expr(s"((2 * nd - 2 * df + 1) * ${Scale}) div (2 * df + 1)") *
           expr("(tf * 22000 * totdl) div " +
             "(10 * totdl * tf + 3 * totdl + 9 * dl * nd)"))
            .as("contrib"))
      val scored = contrib.join(broadcast(qterms), "token")
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("contrib")).as("score"))
      scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("doc_id").asc)))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("doc_id"), col("score"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // L48 — RECIPROCAL-RANK FUSION (Cormack et al.'s RRF, the
    // production RAG/curation retriever): the retrieval family ships a
    // sparse ranker (L45 BM25) and a dense family (l3*) but no FUSION —
    // and hybrid search is what production retrieval actually runs,
    // because the two rankers fail differently (lexical match misses
    // paraphrase, embeddings miss rare exact terms). RRF fuses WITHOUT
    // score calibration — ranks only:
    //   rrf(doc) = Σ_rankers 1e6 div (60 + rank_r(doc))
    // over each ranker's top-10 (absent ⇒ no contribution; 60 = the
    // standard k, which damps rank-1 dominance so cross-ranker
    // CONSENSUS outranks single-ranker confidence: 2×rrf(2) > rrf(1)).
    // Exact-integer by construction — the ×1e6 div keeps the repo's
    // float contract with zero calibration math. Query set = L45's
    // (doc_id % 17 == 0); the dense side ranks the query doc's OWN
    // embedding (vec_id ≡ doc_id on this corpus) against all others by
    // the l3 quantized cosine. 100 TB: each ranker's top-k is already
    // computed at scale by its own operator (BM25 candidates via the
    // broadcast query-term screen; dense via the IVF/PQ family — the
    // brute-force side here is the small-corpus face); fusion itself
    // touches ≤ 2k rows per query — one qid-keyed shuffle of top-k
    // lists, corpus-size-independent.
    "l48_rrf_fusion" -> ((s, d) => rrfFusion(s, d)),


    // L46 — PASSAGE-level decontamination (L24 × L45): L27 flags whole
    // documents by shingle overlap; production decontamination checks
    // passages — a 50-token quotation inside a long clean document is
    // invisible at doc granularity but decisive at chunk granularity.
    // The corpus is the L24 chunking (stride 40 / size 50) of the
    // TRAIN split (doc_id % 97 ≠ 0, the L27 eval convention); the
    // queries are the eval docs' first 8 distinct tokens; scoring is
    // the exact-integer BM25 of L45 with chunks as the unit (df/dl/nd/
    // totdl over the chunk corpus). Output: top-3 chunks per eval item
    // — the review/drop queue a decontamination pass hands on.
    // Designed contamination (in-query, oracle-replayed — the S13
    // injection idiom): eval anchor doc 97 is rewritten to DeconText
    // (disjoint vocabulary) and train docs with doc_id % 89 == 3 get
    // DeconText appended — so qid 97's terms occur ONLY in contaminated
    // chunks, and the spec pins that its top-3 are all carriers.
    // 100 TB: chunking is a map-side explode; tf/df/dl are 2-phase
    // aggs; eval query terms broadcast (eval sets are fixed benchmark
    // suites — tiny by construction); the top-3 shuffles candidate
    // chunks by qid only. Overflow headroom is L45's with nd = chunk
    // count (int64-safe to ~2e9 chunks).
    "l46_passage_decon" -> ((s, d) => {
      import graft.llm.{Curation => C}
      val inj = when(col("doc_id") === DeconAnchor, lit(DeconText))
        .when(col("doc_id") % 89 === 3 && col("doc_id") % 97 =!= 0,
          concat(col("text"), lit(" "), lit(DeconText)))
        .otherwise(col("text"))
      val docs = Tables.documents(s, d).withColumn("text", inj)
      val start = (col("chunk_id") * C.ChunkStride + 1).cast(IntegerType)
      val chunks = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast(LongType))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L),
            floor(((col("n") - 1).cast(DoubleType)) / C.ChunkStride)
              .cast(LongType))).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("toks"), start, lit(C.ChunkSize)).as("ctoks"))
      val tok = chunks.select(col("doc_id"), col("chunk_id"),
        explode(col("ctoks")).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("chunk_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      // r22: dl = chunk length = size(ctoks), a map-side projection of
      // the chunk relation (slice never yields an empty array here —
      // chunk_id stops at the last stride start, so every chunk holds
      // ≥1 token and no (doc, chunk) drops out vs the unnest count);
      // the qid-independent contribution is computed once per
      // candidate (doc, chunk, token) before the qid fanout, df over
      // the token-pruned candidates — the l45 restructure.
      val dl = chunks.select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast(LongType).as("dl"))
      val stats = dl.agg(sum(col("dl")).as("totdl"), count(lit(1)).as("nd"))
      val qterms = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          explode(slice(split(col("text"), " "), 1, 8)).as("token"))
        .distinct()
      val qtok = qterms.select(col("token")).distinct()
      val cand = tf.join(broadcast(qtok), "token")
      val dfq = cand.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val contrib = cand.join(broadcast(dfq), "token")
        .join(dl, Seq("doc_id", "chunk_id"))
        .join(broadcast(stats))
        .select(col("token"), col("doc_id"), col("chunk_id"),
          (expr(s"((2 * nd - 2 * df + 1) * ${Scale}) div (2 * df + 1)") *
           expr("(tf * 22000 * totdl) div " +
             "(10 * totdl * tf + 3 * totdl + 9 * dl * nd)"))
            .as("contrib"))
      val scored = contrib.join(broadcast(qterms), "token")
        .groupBy(col("qid"), col("doc_id"), col("chunk_id"))
        .agg(sum(col("contrib")).as("score"))
      scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("doc_id").asc,
                     col("chunk_id").asc)))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("rnk"), col("doc_id"), col("chunk_id"),
                col("score"))
        .orderBy(col("qid"), col("rnk"))
    })
  )

  /** L48's fusion body over L45's query set (qid = doc_id % 17 == 0).
    * The query count grows with the corpus, which squares the
    * brute-force dense side — the small-corpus face; the IVF family
    * (l3f/l3g) is the priced dense scale path. With the query count held
    * at the small scale's instead, the cost is rankers-linear in the
    * corpus (e 0.61 at 10×, the `l48_rrf_fusion_fixedq` row of
    * SCALE_r19.json). */
  private[graft] def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // sparse ranker: L45's exact-integer BM25, widened to top-10 —
    // carrying L45's r22 restructure (map-side dl; qid-independent
    // contribution computed once per candidate (doc, token) BEFORE the
    // qid fanout; df over the token-pruned candidates — see l45).
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("totdl"),
      count(lit(1)).as("nd"))
    val qterms = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("qid"),
        explode(slice(split(col("text"), " "), 1, 4)).as("token"))
      .distinct()
    val qtok = qterms.select(col("token")).distinct()
    val cand = tf.join(broadcast(qtok), "token")
    val dfq = cand.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val contrib = cand.join(broadcast(dfq), "token")
      .join(dl, "doc_id")
      .join(broadcast(stats))
      .select(col("token"), col("doc_id"),
        (expr(s"((2 * nd - 2 * df + 1) * ${Scale}) div (2 * df + 1)") *
         expr("(tf * 22000 * totdl) div " +
           "(10 * totdl * tf + 3 * totdl + 9 * dl * nd)")).as("contrib"))
    val sparse = contrib.join(broadcast(qterms), "token")
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
      .withColumn("srnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("srnk") <= 10)
      .select(col("qid"), col("doc_id"), col("srnk"))
    // dense ranker: the l3 quantized cosine, query = the qid's own
    // embedding (vec_id ≡ doc_id), top-10 over all other vectors
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), Llm.qz(col("embedding")).as("q"))
      .withColumn("nrm", Llm.qnorm(col("q")))
    val qv = e.join(
        broadcast(docs.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id").as("qid"))),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("q").as("qq"), col("nrm").as("qn"))
    val dense = broadcast(qv).join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        (Llm.qdot(col("qq"), col("q")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) *
           sqrt(col("nrm").cast(DoubleType)))).as("cos"))
      .withColumn("drnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("doc_id").asc)))
      .filter(col("drnk") <= 10)
      .select(col("qid"), col("doc_id"), col("drnk"))
    // rank-only fusion: absent-from-a-list contributes nothing
    sparse.join(dense, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr("1000000 div (60 + srnk)"), lit(0L)) +
         coalesce(expr("1000000 div (60 + drnk)"), lit(0L)))
          .as("rrf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id").asc)))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("doc_id"), col("rrf"))
      .orderBy(col("qid"), col("rnk"))
  }

  val oracle: Map[String, String] = Map(
    // Replays the exact-integer fixed-point BM25 verbatim: DuckDB //
    // is the same floor division, bin-length the same floor-log2.
    "l45_bm25_topk" ->
      """WITH tok45 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf45 AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok45 GROUP BY doc_id, token),
        |dl45 AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |  FROM tok45 GROUP BY doc_id),
        |df45 AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM tf45 GROUP BY token),
        |st45 AS (
        |  SELECT CAST(sum(dl) AS BIGINT) AS totdl,
        |         CAST(count(*) AS BIGINT) AS nd
        |  FROM dl45),
        |q45 AS (
        |  SELECT DISTINCT doc_id AS qid, unnest(toks[1:4]) AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE doc_id % 17 = 0)),
        |sc45 AS (
        |  SELECT q.qid, t.doc_id,
        |    (((2 * s.nd - 2 * f.df + 1) * 1000000) // (2 * f.df + 1))
        |    * ((t.tf * 22000 * s.totdl)
        |       // (10 * s.totdl * t.tf + 3 * s.totdl + 9 * l.dl * s.nd))
        |      AS contrib
        |  FROM tf45 t
        |  JOIN q45 q USING (token)
        |  JOIN df45 f USING (token)
        |  JOIN dl45 l ON t.doc_id = l.doc_id
        |  CROSS JOIN st45 s),
        |agg45 AS (
        |  SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score
        |  FROM sc45 GROUP BY qid, doc_id),
        |rk45 AS (
        |  SELECT qid, doc_id, score,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, doc_id ASC) AS rnk
        |  FROM agg45)
        |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, score
        |FROM rk45 WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // l48 — the two rankers' top-10 lists (l45's exact-integer BM25
    // chain verbatim; the l3 quantized-cosine chain with the %17 query
    // set) fused by the exact-integer RRF formula; // is the same
    // floor division, NULL // propagates and coalesces to 0 exactly
    // as Spark's div under coalesce.
    "l48_rrf_fusion" ->
      """WITH tok48 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf48 AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok48 GROUP BY doc_id, token),
        |dl48 AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |  FROM tok48 GROUP BY doc_id),
        |df48 AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM tf48 GROUP BY token),
        |st48 AS (
        |  SELECT CAST(sum(dl) AS BIGINT) AS totdl,
        |         CAST(count(*) AS BIGINT) AS nd
        |  FROM dl48),
        |q48 AS (
        |  SELECT DISTINCT doc_id AS qid, unnest(toks[1:4]) AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE doc_id % 17 = 0)),
        |sc48 AS (
        |  SELECT q.qid, t.doc_id,
        |    (((2 * s.nd - 2 * f.df + 1) * 1000000) // (2 * f.df + 1))
        |    * ((t.tf * 22000 * s.totdl)
        |       // (10 * s.totdl * t.tf + 3 * s.totdl + 9 * l.dl * s.nd))
        |      AS contrib
        |  FROM tf48 t
        |  JOIN q48 q USING (token)
        |  JOIN df48 f USING (token)
        |  JOIN dl48 l ON t.doc_id = l.doc_id
        |  CROSS JOIN st48 s),
        |srk48 AS (
        |  SELECT qid, doc_id, srnk FROM (
        |    SELECT qid, doc_id,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY sum(contrib) DESC, doc_id ASC) AS srnk
        |    FROM sc48 GROUP BY qid, doc_id)
        |  WHERE srnk <= 10),
        |n48 AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |      AS q
        |  FROM embeddings),
        |m48 AS (
        |  SELECT vec_id, q,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
        |      AS nrm
        |  FROM n48),
        |qv48 AS (
        |  SELECT d.doc_id AS qid, m.q, m.nrm
        |  FROM documents d JOIN m48 m ON m.vec_id = d.doc_id
        |  WHERE d.doc_id % 17 = 0),
        |pr48 AS (
        |  SELECT a.qid, b.vec_id AS doc_id,
        |    CAST(CAST(list_sum(list_transform(generate_series(1, 64),
        |      i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
        |      AS cos
        |  FROM qv48 a JOIN m48 b ON b.vec_id <> a.qid),
        |drk48 AS (
        |  SELECT qid, doc_id, drnk FROM (
        |    SELECT qid, doc_id,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY cos DESC, doc_id ASC) AS drnk
        |    FROM pr48)
        |  WHERE drnk <= 10),
        |fu48 AS (
        |  SELECT qid, doc_id,
        |    coalesce(1000000 // (60 + srnk), 0)
        |      + coalesce(1000000 // (60 + drnk), 0) AS rrf
        |  FROM srk48 FULL JOIN drk48 USING (qid, doc_id)),
        |rk48 AS (
        |  SELECT qid, doc_id, rrf,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY rrf DESC, doc_id ASC) AS rnk
        |  FROM fu48)
        |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id,
        |  CAST(rrf AS BIGINT) AS rrf
        |FROM rk48 WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // l46 — the l24 chunk slices (DuckDB list slices are 1-based
    // inclusive and clamp, matching Spark's slice) feeding the l45
    // exact-integer scoring chain; injection replayed verbatim.
    "l46_passage_decon" ->
      s"""WITH base46 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id = $DeconAnchor THEN '$DeconText'
        |         WHEN doc_id % 89 = 3 AND doc_id % 97 <> 0
        |           THEN text || ' ' || '$DeconText'
        |         ELSE text END AS text
        |  FROM documents),
        |d46 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM base46 WHERE doc_id % 97 <> 0),
        |c46 AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(generate_series(0,
        |      CAST(floor((len(toks) - 1) / 40.0) AS BIGINT))) AS chunk_id
        |  FROM d46),
        |tok46 AS (
        |  SELECT doc_id, chunk_id,
        |    unnest(toks[chunk_id*40+1 : least(chunk_id*40+50, n)]) AS token
        |  FROM c46),
        |tf46 AS (
        |  SELECT doc_id, chunk_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok46 GROUP BY 1, 2, 3),
        |dl46 AS (
        |  SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS dl
        |  FROM tok46 GROUP BY 1, 2),
        |df46 AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM tf46 GROUP BY 1),
        |st46 AS (
        |  SELECT CAST(sum(dl) AS BIGINT) AS totdl,
        |         CAST(count(*) AS BIGINT) AS nd
        |  FROM dl46),
        |q46 AS (
        |  SELECT DISTINCT doc_id AS qid, unnest(toks[1:8]) AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM base46 WHERE doc_id % 97 = 0)),
        |sc46 AS (
        |  SELECT q.qid, t.doc_id, t.chunk_id,
        |    (((2 * s.nd - 2 * f.df + 1) * 1000000) // (2 * f.df + 1))
        |    * ((t.tf * 22000 * s.totdl)
        |       // (10 * s.totdl * t.tf + 3 * s.totdl + 9 * l.dl * s.nd))
        |      AS contrib
        |  FROM tf46 t
        |  JOIN q46 q USING (token)
        |  JOIN df46 f USING (token)
        |  JOIN dl46 l ON t.doc_id = l.doc_id AND t.chunk_id = l.chunk_id
        |  CROSS JOIN st46 s),
        |agg46 AS (
        |  SELECT qid, doc_id, chunk_id, CAST(sum(contrib) AS BIGINT) AS score
        |  FROM sc46 GROUP BY 1, 2, 3),
        |rk46 AS (
        |  SELECT qid, doc_id, chunk_id, score,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id ASC, chunk_id ASC) AS rnk
        |  FROM agg46)
        |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, chunk_id, score
        |FROM rk46 WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  )
}
