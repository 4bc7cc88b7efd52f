package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** SURVEY.md §2.10 LLM-data-pipeline operators L1–L9, L28–L29 + the X1 scalar UDF
  * (§2.11). This is the north-star track: every operator is written as the
  * 100 TB shape first (hash-bucketed grouping, never all-pairs; 2-phase
  * aggregation; map-side-only projections) and then made oracle-exact.
  *
  * Float determinism: embedding arithmetic is QUANTIZED — each float is
  * mapped to `round(x*1e6)` as a BIGINT, so dot products, norms and sums
  * are exact integer arithmetic in any engine and the only IEEE ops are
  * the final sqrt/divide (bit-stable). The canonical queries *define*
  * similarity on the quantized vectors; sub-1e-6 components are below the
  * noise floor of any practical ANN use.
  */
object Llm {

  /** Quantize an array<float> to exact BIGINTs (×1e6). Shared with
    * DedupExt (L13's bucketed near-dup uses the same quantization). */
  def qz(c: Column): Column =
    transform(c, x => round(x.cast(DoubleType) * 1000000, 0).cast(LongType))

  /** Exact integer squared L2 norm of a quantized vector. */
  def qnorm(c: Column): Column =
    aggregate(transform(c, x => x * x), lit(0L), (a, x) => a + x)

  /** Exact integer dot product of two quantized vectors. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact integer squared L2 distance between two quantized vectors. */
  def qdist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** X1's scalar function — ONE definition behind both the DataFrame
    * `udf` and the SQL-registered form, so the two entry points cannot
    * drift (EngineSpec pins their equality). */
  private[graft] val slugify: String => String =
    s => if (s == null) null
         else s.toLowerCase.replaceAll("[^a-z0-9]+", "-")

  private val slugifyUdf = udf(slugify)

  /** Register the UDF surface for SQL-text callers (E1); idempotent. */
  private[graft] def registerSqlUdfs(sp: SparkSession): Unit =
    sp.udf.register("slugify", slugify)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L1 — exact dedup on normalized text. 100 TB: one hash-groupBy (2-
    // phase, shuffle on the 256-bit digest) — no pairwise comparison ever.
    "l1_exact_dedup" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("h", sha2(lower(trim(col("text"))), 256))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n"))
        .orderBy(col("h"))),

    // L2 — near-dup via token-SET signature (order-insensitive): docs
    // with the same vocabulary land in one group regardless of word
    // order. 100 TB: identical shape to L1 (hash-groupBy on signature).
    "l2_tokenset_neardup" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("sig",
          sha2(concat_ws(" ",
            array_sort(array_distinct(split(col("text"), " ")))), 256))
        .groupBy(col("sig"))
        .agg(expr("array_join(transform(array_sort(collect_list(doc_id)), x -> cast(x as string)), ',')")
               .as("doc_ids"),
             count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy(col("sig"))),

    // L3 — cosine top-k similarity search, brute-force baseline: the 3
    // query vectors are broadcast against all N candidates (O(Q·N), the
    // correct plan when Q is small); top-5 via a window partitioned by
    // query id. The bucketed IVF scale path is l3c_ivf_topk below
    // (recall-tested against this exact baseline in LlmSpec).
    "l3_cosine_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qz(col("embedding")).as("q"))
        .withColumn("nrm", qnorm(col("q")))
      val qs = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("q").as("qq"),
                col("nrm").as("qn"))
      val pairs = broadcast(qs).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          (qdot(col("qq"), col("q")).cast(DoubleType) /
            (sqrt(col("qn").cast(DoubleType)) *
             sqrt(col("nrm").cast(DoubleType)))).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vid").asc)
      pairs.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("vid"), col("cos"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // L4 — term frequency: global top-50 tokens. 100 TB: explode is
    // map-side; the count is a 2-phase groupBy on token; top-50 is
    // TakeOrderedAndProject (per-partition heads, 50-row driver merge).
    "l4_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50)),

    // L5 — TF-IDF, linear-idf variant (score = tf·N/df): exact integer
    // arithmetic end-to-end, one IEEE division at the end — the log-idf
    // variant is deliberately excluded from hashing (libm ln is not
    // bit-portable across engines; see l5b in LlmSpec).
    // 100 TB: tf = groupBy(doc,token); df = groupBy(token); one
    // broadcast-join of the (small) df table back onto tf.
    "l5_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tok.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      tf.join(df, "token")
        .select(col("doc_id"), col("token"),
          ((col("tf") * lit(n)).cast(DoubleType) / col("df").cast(DoubleType))
            .as("score"))
        .orderBy(col("score").desc, col("doc_id").asc, col("token").asc)
        .limit(10)
    }),

    // L5b — classic log-idf TF-IDF (tf·ln(N/df)). Deliberately ORACLE-LESS
    // (driver records a rows-only check): libm ln is not bit-portable
    // across engines, which is exactly why the hashed canonical L5 uses
    // the linear idf. Semantics otherwise identical to L5.
    "l5b_tfidf_log" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tok.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      tf.join(df, "token")
        .select(col("doc_id"), col("token"),
          (col("tf").cast(DoubleType) *
            log(lit(n).cast(DoubleType) / col("df").cast(DoubleType)))
            .as("score"))
        .orderBy(col("score").desc, col("doc_id").asc, col("token").asc)
        .limit(10)
    }),

    // L6 — bigram counts, top-50. Bigrams are built positionally from
    // consecutive tokens (map-side), then counted like L4.
    "l6_ngrams" -> ((s, d) => {
      // materialize the token array in its own projection FIRST: a
      // `split(...)` expression referenced inside the transform lambda
      // is NOT subexpression-eliminated across the per-element
      // element_at calls — the split would re-run for every bigram
      // position (O(tokens²) per document)
      val toks = col("toks")
      Tables.documents(s, d)
        .select(split(col("text"), " ").as("toks"))
        // <2-token docs have no bigrams; without this guard
        // sequence(1, 0) would be the DESCENDING [1, 0] and
        // element_at(toks, 0) throws under ANSI semantics
        .filter(size(toks) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
          .as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(50)
    }),

    // L7 — corpus language/source stats.
    "l7_lang_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("total_chars"),
             (sum(col("n_chars")).cast(DoubleType) /
               count(lit(1)).cast(DoubleType)).as("avg_chars"))
        .orderBy(col("lang"), col("source"))),

    // L8 — multimodal binary envelope: struct<mime, bytes:binary, meta>
    // built from text, integrity-hashed. The envelope schema is the real
    // contract (decode kernels are stubbed — see Multimodal.scala);
    // everything here (binary columns, maps, hashes) is engine-native.
    "l8_multimodal" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("env", struct(
          lit("text/plain").as("mime"),
          encode(col("text"), "UTF-8").as("bytes"),
          map(lit("lang"), col("lang"), lit("source"), col("source"))
            .as("meta")))
        .select(
          col("doc_id"),
          col("env.mime").as("mime"),
          length(col("env.bytes")).as("byte_len"),
          sha2(col("env.bytes"), 256).as("content_sha"),
          element_at(col("env.meta"), "lang").as("meta_lang"))
        .orderBy(col("doc_id"))),

    // L9 — per-label embedding centroids (quantized-exact means), one
    // row per (label, dim). 100 TB: posexplode is map-side (64 rows per
    // vector), the mean is a 2-phase groupBy on (label, dim) — shuffle
    // volume is |labels|·64 rows per partition, independent of N.
    "l9_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(qz(col("embedding"))))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("sv"), count(lit(1)).as("cnt"))
        .select(col("label"), col("pos").as("dim"),
          (col("sv").cast(DoubleType) / col("cnt").cast(DoubleType) /
            lit(1000000.0)).as("c"))
        .orderBy(col("label"), col("dim"))),

    // L28 — token co-occurrence with lift (= e^PMI, but computed as the
    // exact integer ratio n_ab·N / (df_a·df_b) with ONE IEEE division —
    // log itself is not bit-portable across engines, the l5b lesson).
    // Vocabulary is restricted to the top-100 tokens by document
    // frequency (deterministic tie-break), so the per-doc pair fan-out is
    // bounded by C(100,2) regardless of corpus size. 100 TB: the
    // vocabulary is a broadcast dim; the doc_id self-join fans out only
    // vocabulary hits; the pair count is a 2-phase groupBy.
    "l28_cooccur" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val tok = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      val top = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token").asc).limit(100)
      val vt = tok.join(broadcast(top), "token")
      vt.select(col("doc_id"), col("token").as("t1"), col("df").as("df1"))
        .join(vt.select(col("doc_id"), col("token").as("t2"),
                        col("df").as("df2")), "doc_id")
        .filter(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"), col("df1"), col("df2"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
        .select(col("t1"), col("t2"), col("n_ab"),
          ((col("n_ab") * n).cast(DoubleType) /
            (col("df1") * col("df2")).cast(DoubleType)).as("lift"))
        .orderBy(col("lift").desc, col("t1").asc, col("t2").asc)
        .limit(50)
    }),

    // L29 — int8 embedding quantization (symmetric per-vector scale, the
    // storage/bandwidth move every vector store makes before ANN): code_i
    // = clamp(round(x_i·127 / max|x|), ±127). Works on the micro-fixed-
    // point longs (qz) so max|x| is exact; the only float ops are single
    // IEEE divisions of exactly-representable integers plus floor(z+0.5)
    // — bit-identical in both engines. Output is all-integer: code
    // min/max/sum, saturated-dim count, and the total reconstruction
    // error in micro units. 100 TB: pure map-side projection, no shuffle
    // until the final ORDER BY.
    "l29_quantize" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qz(col("embedding")).as("q6"))
        .withColumn("m", array_max(transform(col("q6"), x => abs(x))))
      val coded = e.withColumn("code", transform(col("q6"), x =>
        when(col("m") === 0L, lit(0L)).otherwise(
          least(lit(127L), greatest(lit(-127L),
            floor((x * 127L).cast(DoubleType) / col("m").cast(DoubleType)
              + 0.5).cast(LongType))))))
      coded.select(
        col("vec_id"),
        array_min(col("code")).as("q_min"),
        array_max(col("code")).as("q_max"),
        aggregate(col("code"), lit(0L), (a, x) => a + x).as("q_sum"),
        size(filter(col("code"), x => abs(x) === 127L)).cast(LongType)
          .as("n_sat"),
        aggregate(
          zip_with(col("q6"), col("code"), (x, c) =>
            floor(abs(x.cast(DoubleType) -
              (c * col("m")).cast(DoubleType) / 127.0) + 0.5)
              .cast(LongType)),
          lit(0L), (a, x) => a + x).as("err_micro"))
        .orderBy(col("vec_id"))
    }),

    // L3b — the same cosine top-k computed through the NATIVE Catalyst
    // expression `graft_dot` (graft.plans.LongDotProduct, a codegen'd
    // fused loop) instead of the higher-order aggregate(zip_with(...))
    // chain — SURVEY §7.4's escape hatch, demonstrated. Registered via
    // public API (FunctionRegistry; SparkSessionExtensions hook in
    // graft.plans.GraftExtensions). Must hash-match the same oracle as
    // L3: a bitwise-identical result from a custom Expression is the
    // strongest correctness check it can get.
    "l3b_native_topk" -> ((s, d) => {
      graft.plans.GraftFunctions.ensure(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qz(col("embedding")).as("q"))
        .withColumn("nrm", expr("graft_dot(q, q)"))
      val qs = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("q").as("qq"),
                col("nrm").as("qn"))
      val pairs = broadcast(qs).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          (expr("graft_dot(qq, q)").cast(DoubleType) /
            (sqrt(col("qn").cast(DoubleType)) *
             sqrt(col("nrm").cast(DoubleType)))).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vid").asc)
      pairs.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("vid"), col("cos"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // X5 — the OPTIMIZER-RULE rung of the custom-operator ladder
    // (Expression l3b → Rule here): the SAME cosine top-k written in
    // the DECLARATIVE qdot form (aggregate ∘ zip_with — what a user who
    // never heard of graft_dot writes), run with DotProductRewrite
    // injected via the public ExperimentalMethods hook. The optimizer
    // swaps the chain for the native codegen'd LongDotProduct — an
    // exact identity (null array / null element / length mismatch /
    // ANSI overflow all match, see the Expression's scaladoc) — so this
    // entry must hash the SAME oracle as l3/l3b, and PlanSpec "X5" pins
    // that the executed plan really contains graft_dot and no
    // aggregate(zip_with) residue.
    "x5_dot_rewrite" -> ((s, d) => {
      // r16 (advisor): the rule rides a CHILD session, not the shared
      // one — `ensure` on the driver-supplied session is sticky (no
      // un-ensure runs before the returned frame is consumed, because
      // optimization happens lazily at action time), silently rewriting
      // every later aggregate(zip_with) query and making l3-vs-l3b-vs-
      // x5 timings order-dependent. newSession() shares the
      // SparkContext and cached data but owns its sessionState, so
      // extraOptimizations scopes to exactly this query's plan; the
      // child is CACHED per context so repeat invocations (bench's
      // p50-of-3) don't re-pay sessionState init. PlanSpec "X5
      // isolation" pins that the parent session stays rewrite-free.
      val s2 = x5Session(s)
      val e = Tables.embeddings(s2, d)
        .select(col("vec_id"), qz(col("embedding")).as("q"))
        .withColumn("nrm", qnorm(col("q")))
      val qs = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("q").as("qq"),
                col("nrm").as("qn"))
      val pairs = broadcast(qs).join(e, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          (qdot(col("qq"), col("q")).cast(DoubleType) /
            (sqrt(col("qn").cast(DoubleType)) *
             sqrt(col("nrm").cast(DoubleType)))).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vid").asc)
      pairs.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("vid"), col("cos"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // L3c — IVF-bucketed ANN top-k: the declared 100 TB scale path for
    // similarity search (SURVEY §2.10 L3). Coarse quantizer = K=10 cells
    // trained by a DETERMINISTIC integer Lloyd's k-means (fixed 5
    // iterations, per-label floor-quantized means as seeds, all distance
    // and centroid arithmetic exact BIGINT — floor(s/cnt) on a correctly-
    // rounded double division is exact while 1/cnt ≫ 2⁻⁵³·|q|, true to
    // cnt ≈ 10⁹ members); each vector is indexed under its rassign=2
    // nearest cells (multi-probe assignment — the standard IVF fix for
    // boundary loss); nprobe = 4 cells probed per query. Unlike a typical
    // ANN sketch, every step is integer-exact, so the query is FULLY
    // oracle-hashed: the DuckDB SQL replays the identical 5 Lloyd
    // iterations from the identical seeds (generated below from the SAME
    // constants), and the approximation lives in the declared semantics
    // (probe 4 of 10 cells), not in engine-private state.
    // Argmin is encoded as min(dist*16 + cell) — one BIGINT, a plain
    // 2-phase min aggregate with a built-in deterministic tie-break
    // (dist ≤ 64·(2e6)² ≈ 2.6e14, so ·16 is overflow-safe by 3 orders).
    // 100 TB: training collects only K·64 longs per iteration to the
    // driver (the index's own size — the exact shape of MLlib KMeans);
    // assignment = map-side broadcast nested-loop + 2-phase min-agg on
    // vec_id (never an all-pairs shuffle); the candidate join then scans
    // only ~nprobe·rassign/K of the corpus per query instead of all of
    // it. Measured recall@5 vs the exact l3 baseline at nprobe=4:
    // 1.00/0.93/0.93 at sf0.001/0.01/0.1 on the canonical queries
    // (LlmSpec asserts ≥ 0.9 at every sf), 0.88 over 30 queries at
    // sf0.01 (≥ 0.8). The nprobe sweep is measured by AnnBench
    // (BASELINE.md "IVF ANN quality/latency" table).
    "l3c_ivf_topk" -> ((s, d) => ivfTopK(s, d)),

    // L3d — IVF ANN over INT8-QUANTIZED codes: l3c's bucketed search with
    // l29's symmetric per-vector quantization as the scoring payload —
    // the standard memory-bandwidth move of a production vector store
    // (4 B/dim micro-longs → 1 B/dim codes; at 100 TB the candidate scan
    // streams a quarter of the bytes and the dot product runs on 8-bit
    // integers, the SIMD-friendliest kernel there is). Probing still
    // uses full-precision centroids (cell choice must not degrade);
    // only candidate SCORING switches to cos8 = dot8/(√Σcq²·√Σcv²) —
    // exact integers into one IEEE division, so the ranking is fully
    // oracle-hashed: the DuckDB SQL replays training, assignment,
    // probing AND the quantized scoring from the same constants. The
    // quantization error this injects into the ranking is measured, not
    // assumed: LlmSpec bounds recall@5 vs the exact l3 baseline.
    "l3d_ivf_int8" -> ((s, d) => ivfInt8TopK(s, d)),

    // L34 — semantic dedup on the reused l3c quantizer (SemDeDup shape:
    // cell-bucketed intra-cluster cosine, keep-first). See semanticDedup.
    "l34_semantic_dedup" -> ((s, d) => semanticDedup(s, d)),

    // L34b — the self-tuning production form: K derived from the corpus
    // size (split = max(1, N/2000)). At every shipped sf this resolves
    // to the canonical split=1 quantizer byte-for-byte, so the l34
    // oracle gates it too; the >1 branch is pinned by LlmSpec (rule +
    // dialed copy-recall); its scaling is the `l34_semantic_dedup_kdial`
    // row of SCALE_r10.json and SCALE_r19.json.
    "l34b_semantic_autok" -> ((s, d) => semanticDedup(s, d, autoSplit(s, d))),

    // L3e — product-quantization ANN: ADC compressed linear scan +
    // exact rerank of the top-20 shortlist. See pqTopK.
    "l3e_pq_topk" -> ((s, d) => pqTopK(s, d)),

    // L3f — IVF-PQ: coarse-cell probe (l3c candidates) with PQ-ADC
    // scoring inside the probed cells (l3e codes) + exact rerank — the
    // production composition of both index axes. See ivfPqTopK.
    "l3f_ivfpq_topk" -> ((s, d) => ivfPqTopK(s, d)),

    // L3g — residual PQ (IVFADC): l3f's layout with the PQ codes spent
    // on vec − coarse-centroid residuals — same bytes per vector,
    // strictly finer reconstruction. See ivfAdcTopK.
    "l3g_ivfadc_topk" -> ((s, d) => ivfAdcTopK(s, d)),

    // X1 — scalar Scala UDF (slugify) used in an L-series shape. The
    // oracle reproduces it with portable SQL (lower + regexp_replace).
    "x1_udf" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          slugifyUdf(concat_ws("_", col("lang"), col("source"))).as("slug"))
        .orderBy(col("doc_id")))
    ,

    // X4 — typed imperative per-group computation via mapGroups: the
    // batch analogue of Flink's KeyedProcessFunction (arbitrary Scala
    // over one key's rows). Exact per-nation median of customer balances,
    // interpolating the even case as lo + (hi − lo)·0.5 — the SAME IEEE
    // expression the oracle SQL spells out (a builtin `median` could
    // round the last bit differently). 100 TB: mapGroups shuffles by key
    // and holds ONE group in memory — correct here because groups are
    // dimension-bounded (customers per nation); unbounded keys belong in
    // aggregate/window shapes instead, which is exactly why the rest of
    // the engine prefers them.
    "x4_mapgroups" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_acctbal"))
        .as[(Int, Double)]
        .groupByKey(_._1)
        .mapGroups { (nk: Int, it: Iterator[(Int, Double)]) =>
          val xs = it.map(_._2).toArray.sorted
          val n = xs.length
          val med =
            if (n % 2 == 1) xs(n / 2)
            else xs(n / 2 - 1) + (xs(n / 2) - xs(n / 2 - 1)) * 0.5
          (nk, n.toLong, med)
        }
        .toDF("c_nationkey", "n", "median_bal")
        .orderBy(col("c_nationkey"))
    })
  )

  /** The quantized vector table shared by the exact and IVF paths. */
  private def qvecs(s: SparkSession, d: String): DataFrame =
    vecsOf(Tables.embeddings(s, d))

  /** Exact brute-force cosine top-k for an arbitrary query-id set — the
    * generalization of the canonical l3 (qids 0,1,2) used by LlmSpec to
    * measure IVF recall over a statistically meaningful query pool. */
  def exactTopK(s: SparkSession, d: String, qids: Seq[Int],
                k: Int = 5): DataFrame = {
    val e = qvecs(s, d)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("q").as("qq"),
              col("nrm").as("qn"))
    val pairs = broadcast(qs).join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"),
        (qdot(col("qq"), col("q")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) *
           sqrt(col("nrm").cast(DoubleType)))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid").asc)
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vid"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Train the IVF coarse quantizer: deterministic integer Lloyd's
    * k-means. Seeds = per-label floor-quantized means (K = 10 cells);
    * each of the fixed `iters` iterations assigns every vector to its
    * nearest cell (exact BIGINT L2, ties to the lowest cell id via the
    * dist*16+cell encoding) and recomputes centroids as floor(sum/count)
    * per dimension; a cell that loses all members keeps its previous
    * centroid. Only K·64 longs come back to the driver per iteration —
    * the index's own size, independent of corpus size (the same
    * driver-held-centroids shape as Spark MLlib's KMeans). Every
    * operation is integer-exact, so DuckDB replays the identical
    * trajectory from the identical seeds (see ivfSql). */
  def trainCentroids(s: SparkSession, d: String,
                     iters: Int = IvfIters): Seq[(Int, Seq[Long])] =
    trainCentroidsK(s, d, iters, split = 1)

  /** The same trainer with the K dial exposed: K = 10·split cells,
    * seeded per (label, vec_id % split) and refined by the identical
    * integer Lloyd iterations. split=1 IS the canonical 10-cell
    * quantizer byte-for-byte (seeds, encoding, trajectory). Larger
    * splits are the documented production dial — K grows with corpus so
    * |cell| stays bounded — measured by the `l34_semantic_dedup_kdial`
    * row of SCALE_r10.json and SCALE_r19.json; the canonical queries
    * stay at split=1 for oracle determinism. */
  def trainCentroidsK(s: SparkSession, d: String, iters: Int,
                      split: Int): Seq[(Int, Seq[Long])] = {
    // the trained quantizer is a build-once index artifact (deterministic
    // for a given corpus + iteration count) — cache it so repeated
    // queries/bench runs don't re-pay the training jobs. The key includes
    // a data fingerprint (file sizes + mtimes) so regenerating the
    // dataset at the same path invalidates the cached index instead of
    // silently serving stale centroids. A stale entry is never SERVED
    // (lookups always use the current fingerprint); the sweep below only
    // bounds memory, and it runs BEFORE computeIfAbsent so a slow trainer
    // that started on an old fingerprint can never evict a fresher
    // entry — at worst its own stale insert survives until the next call.
    // computeIfAbsent locks per hash bin, so training may briefly block a
    // colliding lookup of another corpus, never the whole cache.
    val key = (d, iters * 1000 + split, embedFingerprint(d))
    centCache.keySet.removeIf(k =>
      k._1 == d && k._2 == key._2 && k._3 != key._3)
    centCache.computeIfAbsent(key,
      _ => trainCentroidsUncached(s, d, iters, split))
  }

  /** X5's rule-scoped child session, one per SparkContext (the
    * centCache idiom): owns the DotProductRewrite installation so the
    * driver-supplied session is never mutated, reused across
    * invocations so the bench's repeat runs skip sessionState init.
    *
    * Conf staleness (advisor r16, widened r17): `newSession()`
    * snapshots the parent's SQLConf at creation, so a cached child
    * would silently freeze any runtime conf the driver sets LATER
    * (ConfScope-style) — x5 would then run under different
    * ansi/partition settings than the l3/l3b queries it must
    * hash-match. Every invocation therefore re-syncs the FULL conf
    * diff from the parent (advisor r17: the earlier four-key
    * hard-coded list silently froze every other conf): any key whose
    * value diverges is copied over, and keys the parent dropped are
    * unset. Divergence can only arise from post-snapshot RUNTIME sets
    * on the parent (the child inherits the creation snapshot
    * verbatim), so every synced key is runtime-settable by
    * construction. The diff walk is a driver-side map compare per
    * invocation — no sessionState rebuild, the cache still pays init
    * once. */
  private val x5SessionCache = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, SparkSession]()
  private def x5Session(s: SparkSession): SparkSession = {
    val child = x5SessionCache.computeIfAbsent(s.sparkContext, _ => {
      val c = s.newSession()
      graft.plans.DotProductRewrite.ensure(c)
      c
    })
    val parentConfs = s.conf.getAll
    val childConfs = child.conf.getAll
    parentConfs.foreach { case (k, v) =>
      if (!childConfs.get(k).contains(v)) child.conf.set(k, v)
    }
    // The unset path removes every child-only key, which is correct
    // ONLY while nothing customizes the child's confs directly (today
    // ensure() touches extraOptimizations, never a conf). Any future
    // child-specific conf must be registered in x5ChildPinnedConfs or
    // this sync would silently revert it on the next invocation
    // (advisor r18) — fail loudly instead of reverting.
    childConfs.keysIterator.filterNot(parentConfs.contains)
      .foreach { k =>
        require(!x5ChildPinnedConfs.contains(k),
          s"x5 conf sync would unset child-pinned conf '$k'; exclude " +
          "pinned keys from the diff walk before customizing the child")
        child.conf.unset(k)
      }
    child
  }

  /** Conf keys deliberately set ON THE CHILD x5 session only (none
    * today). The x5Session full-diff sync must never unset these; code
    * that customizes the child session registers its keys here. */
  private val x5ChildPinnedConfs: Set[String] = Set.empty

  private val centCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, String), Seq[(Int, Seq[Long])]]()

  /** Cheap content fingerprint of the embeddings source: every file's
    * (name, size, mtime) under the table path. */
  private def embedFingerprint(d: String): String = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(d, "embeddings.parquet")
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => s"$f:${java.nio.file.Files.size(f)}:" +
          java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .toSeq.sorted.mkString("|")
      finally walk.close()
    }
  }

  private def trainCentroidsUncached(s: SparkSession, d: String,
                                     iters: Int, split: Int)
      : Seq[(Int, Seq[Long])] = {
    // persist the quantized vectors for the duration of training — each
    // Lloyd iteration launches 2 jobs and would otherwise re-scan and
    // re-quantize the corpus every time (~2·iters redundant scans)
    val e = qvecs(s, d).persist()
    try trainLoop(s, d, e, iters, split) finally e.unpersist()
  }

  private def trainLoop(s: SparkSession, d: String, e: DataFrame,
                        iters: Int, split: Int): Seq[(Int, Seq[Long])] = {
    // min-encoding multiplier: 16 for the canonical split=1 (the value
    // the oracle SQL replays), 16·split above — always > K = 10·split
    val enc = 16 * split
    def collectCells(df: DataFrame): Map[Int, Seq[Long]] =
      df.groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("sv"), count(lit(1)).as("cnt"))
        .withColumn("cv",
          floor(col("sv").cast(DoubleType) / col("cnt")).cast(LongType))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(4)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val seedCell =
      if (split == 1) col("label").cast(IntegerType)
      else (col("label") * split + pmod(col("vec_id"), lit(split)))
        .cast(IntegerType)
    var cent: Seq[(Int, Seq[Long])] = collectCells(
      Tables.embeddings(s, d)
        .select(seedCell.as("cell"), posexplode(qz(col("embedding")))))
      .toSeq.sortBy(_._1)
    for (_ <- 1 to iters) {
      val cdf = centroidsDf(s, cent)
      val assign = e.join(broadcast(cdf))
        .select(col("vec_id"),
          (qdist(col("q"), col("c")) * enc + col("cell")).as("ok"))
        .groupBy(col("vec_id")).agg(min(col("ok")).as("mo"))
        .select(col("vec_id").as("a_vid"),
                (col("mo") % enc).cast(IntegerType).as("cell"))
      val upd = collectCells(
        e.join(assign, col("vec_id") === col("a_vid"))
          .select(col("cell"), posexplode(col("q"))))
      cent = cent.map { case (cell, c) => (cell, upd.getOrElse(cell, c)) }
    }
    cent
  }

  private def centroidsDf(s: SparkSession,
                          cent: Seq[(Int, Seq[Long])]): DataFrame = {
    import s.implicits._
    cent.map { case (cell, c) => (cell, c.toArray) }.toDF("cell", "c")
  }

  /** L3c canonical constants — the Spark pipeline and the generated
    * DuckDB oracle SQL both derive from these. nprobe=4 (of K=10 cells)
    * is the declared canonical setting: the AnnBench sweep (BASELINE.md)
    * showed it lifts sf0.1 recall@5 from the 0.80 boundary to 0.93 at
    * equal measured latency, while the per-query candidate scan stays
    * bucket-pruned (4 of 10 cells probed). */
  val IvfIters = 5
  val IvfNprobe = 4
  val IvfRassign = 2
  val IvfQids: Seq[Int] = Seq(0, 1, 2)

  /** L3c's IVF ANN search with the index parameters exposed: `nprobe`
    * cells probed per query (of the K=10 k-means cells), top-`k`
    * neighbours returned, each vector indexed under its `rassign`
    * nearest cells. Recall rises with nprobe (nprobe=10 ≡ exact brute
    * force) while scan cost grows ∝ nprobe·rassign/K of the corpus —
    * AnnBench sweeps this trade-off and BASELINE.md records it. All
    * arithmetic stays integer-exact regardless of parameters, so any
    * setting is oracle-expressible, not just the canonical (3, 5). */
  /** The query-vector subset — ONE definition of "which rows are
    * queries", shared by probing (ivfCandidates) and both scoring paths
    * so the probe set and scoring set cannot diverge. */
  private def queryVecs(e: DataFrame, qids: Seq[Int]): DataFrame =
    e.filter(col("vec_id").isin(qids: _*))

  def ivfTopK(s: SparkSession, d: String, nprobe: Int = IvfNprobe, k: Int = 5,
              rassign: Int = IvfRassign,
              qids: Seq[Int] = IvfQids): DataFrame = {
    val e = qvecs(s, d)
    val candIds = ivfCandidates(s, d, e, nprobe, rassign, qids)
    scoreExactTopK(e, candIds, qids, k)
  }

  /** Exact-cosine scoring + top-k over candidate (qid, vid) pairs —
    * the l3c scoring tail, shared with the streaming index face (S35)
    * so a snapshot-read candidate set scores byte-identically. */
  private[graft] def scoreExactTopK(e: DataFrame, candIds: DataFrame,
                                    qids: Seq[Int], k: Int): DataFrame = {
    val qs = queryVecs(e, qids)
      .select(col("vec_id").as("qid"), col("q").as("qq"),
              col("nrm").as("qn"))
    val scored = candIds
      .join(broadcast(qs), Seq("qid"))
      .join(e.select(col("vec_id").as("vid"), col("q"), col("nrm")),
            Seq("vid"))
      .select(col("qid"), col("vid"),
        (qdot(col("qq"), col("q")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) *
           sqrt(col("nrm").cast(DoubleType)))).as("cos"))
    rankTopK(scored, k)
  }

  /** The trained coarse quantizer as a broadcast (cell, centroid)
    * frame — the BUILD-ONCE index artifact (centCache-backed), exposed
    * so the streaming fold assigns arriving vectors to the same cells
    * the batch build would. */
  private[graft] def coarseCells(s: SparkSession, d: String): DataFrame =
    broadcast(centroidsDf(s, trainCentroids(s, d)))

  /** (vec_id, cell) multi-assignment of `e` under the trained cells:
    * each vector under its `rassign` nearest (exact BIGINT L2, ties to
    * the lowest cell id via the dist·16+cell encoding), via repeated
    * 2-phase min-peeling (no window over N·K rows — each peel is a
    * partial-agg'd groupBy on vec_id, the 100 TB shape). Per-vector
    * arithmetic against broadcast centroids — batch-decomposable,
    * which is WHY the S35 incremental build is answer-preserving. */
  private[graft] def assignCells(e: DataFrame, cdf: DataFrame,
                                 rassign: Int): DataFrame = {
    val dists = e.join(cdf)
      .select(col("vec_id"),
        (qdist(col("q"), col("c")) * 16 + col("cell")).as("ok"))
    var remaining = dists
    var assigns: DataFrame = null
    for (_ <- 1 to rassign) {
      val m = remaining.groupBy(col("vec_id")).agg(min(col("ok")).as("mo"))
      val a = m.select(col("vec_id"), (col("mo") % 16).as("cell"))
      assigns = if (assigns == null) a else assigns.unionByName(a)
      remaining = remaining.join(m, Seq("vec_id"))
        .filter(col("ok") > col("mo"))
        .select(col("vec_id"), col("ok"))
    }
    assigns
  }

  /** Probe the `nprobe` nearest cells per query and join against an
    * ALREADY-BUILT (vec_id, cell) assignment — the index-read half of
    * the candidate path, shared by the in-memory build (l3c/l3d) and
    * the streaming snapshot read (S35). */
  private[graft] def candidatesFromAssigns(e: DataFrame, cdf: DataFrame,
                                           assigns: DataFrame, nprobe: Int,
                                           qids: Seq[Int]): DataFrame = {
    val qs = queryVecs(e, qids)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val pw = Window.partitionBy(col("qid")).orderBy(col("ok"))
    val probes = qs.join(cdf)
      .select(col("qid"), col("cell"),
        (qdist(col("qq"), col("c")) * 16 + col("cell")).as("ok"))
      .withColumn("r", row_number().over(pw))
      .filter(col("r") <= nprobe)
      .select(col("qid").as("p_qid"), col("cell").as("pcell"))
    // a vector indexed under 2 cells can collide with 2 probed cells —
    // dedup (qid, vid) before scoring, exactly as the oracle's DISTINCT
    broadcast(probes).join(assigns,
        col("cell") === col("pcell") && col("vec_id") =!= col("p_qid"))
      .select(col("p_qid").as("qid"), col("vec_id").as("vid"))
      .distinct()
  }

  /** Candidate (qid, vid) pairs of the IVF index: cells trained on the
    * full-precision micro vectors, `rassign`-cell multi-assignment,
    * `nprobe` probed cells per query, (qid, vid) deduped. Shared by the
    * exact (l3c) and int8 (l3d) scoring paths — candidate GENERATION is
    * identical by construction; only the scoring payload differs. */
  private def ivfCandidates(s: SparkSession, d: String, e: DataFrame,
                            nprobe: Int, rassign: Int,
                            qids: Seq[Int]): DataFrame = {
    val cdf = coarseCells(s, d)
    candidatesFromAssigns(e, cdf, assignCells(e, cdf, rassign),
      nprobe, qids)
  }

  /** An embeddings slice in query form (vec_id, q, nrm) — `qvecs`
    * generalized to an arbitrary frame carrying an `embedding` column,
    * for the streaming fold's per-batch slices. */
  private[graft] def vecsOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), qz(col("embedding")).as("q"))
      .withColumn("nrm", qnorm(col("q")))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vid"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** L29's symmetric int8 code table: (vec_id, code: array<long> in
    * [-127, 127], cn = Σ code² — the integer self-product the quantized
    * cosine normalizes by). */
  private def codedVecs(e: DataFrame): DataFrame =
    e.withColumn("m", array_max(transform(col("q"), x => abs(x))))
      .withColumn("code", transform(col("q"), x =>
        when(col("m") === 0L, lit(0L)).otherwise(
          least(lit(127L), greatest(lit(-127L),
            floor((x * 127L).cast(DoubleType) / col("m").cast(DoubleType)
              + 0.5).cast(LongType))))))
      .select(col("vec_id"), col("code"),
        qnorm(col("code")).as("cn"))

  /** L3d — IVF candidates scored on int8 codes (see the queries entry for
    * the full rationale). cos8 = Σ cq·cv / (√Σcq² · √Σcv²): exact
    * integers into IEEE sqrt/division, bit-identical in both engines. */
  def ivfInt8TopK(s: SparkSession, d: String,
                  nprobe: Int = IvfNprobe, k: Int = 5,
                  rassign: Int = IvfRassign,
                  qids: Seq[Int] = IvfQids): DataFrame = {
    val e = qvecs(s, d)
    val candIds = ivfCandidates(s, d, e, nprobe, rassign, qids)
    val coded = codedVecs(e)
    val qs = queryVecs(coded, qids)
      .select(col("vec_id").as("qid"), col("code").as("cq"),
              col("cn").as("qn"))
    val scored = candIds
      .join(broadcast(qs), Seq("qid"))
      .join(coded.select(col("vec_id").as("vid"), col("code"), col("cn")),
            Seq("vid"))
      .select(col("qid"), col("vid"),
        (qdot(col("cq"), col("code")).cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) *
           sqrt(col("cn").cast(DoubleType)))).as("cos"))
    rankTopK(scored, k)
  }

  /** L34 semantic-dedup constants. The corpus has NO natural high-cosine
    * pairs (max pairwise quantized cos ≈ 0.51 at every shipped sf), so —
    * the s8b/L23 injection pattern — deterministic near-dup copies are
    * DERIVED from the input: every vec_id % SemEvery == 0 vector gets a
    * copy at vec_id + SemBase whose components are perturbed by
    * ((vec_id + i) % 7 − 3) micro-units (±3 on ~1e6-magnitude unit
    * vectors ⇒ cos ≈ 1 − 1e-11 with its source, far above SemTau, while
    * staying ≪ SemTau from everything else). Pure per-row arithmetic —
    * the oracle SQL reproduces the augmentation exactly. */
  val SemBase = 1000000L
  val SemEvery = 29L
  val SemTau = 0.95

  /** The augmented (original ∪ injected near-dup copy) vector relation. */
  private def augmentedVecs(s: SparkSession, d: String): DataFrame = {
    val e = qvecs(s, d)
    val copies = e.filter(col("vec_id") % SemEvery === 0)
      .withColumn("q2",
        expr("transform(q, (x, i) -> x + (vec_id + i) % 7 - 3)"))
      .select((col("vec_id") + SemBase).as("vec_id"), col("q2").as("q"))
      .withColumn("nrm", qnorm(col("q")))
    e.unionByName(copies)
  }

  /** L34 — semantic (embedding-cluster) dedup, the SemDeDup shape:
    * assign every vector to its single nearest trained IVF cell (the
    * SAME l3c coarse quantizer — the index is reused, not retrained),
    * compare pairs only WITHIN a cell (quantized cosine, the l3c scoring
    * arithmetic), and drop a vector iff some lower-id cell-mate sits at
    * cos ≥ SemTau (keep = lexicographic-first per duplicate relation).
    * Never all-pairs: the candidate set is Σ_cells C(|cell|, 2), ~1/K of
    * the quadratic — LlmSpec pins that bound and that every injected
    * copy is caught. 100 TB: cells are the unit of work (shuffle on
    * cell id); K grows with corpus so |cell| stays bounded, and the
    * quantizer is the already-built ANN index artifact. */
  /** Corpus size per unit of the l34 K dial: split = max(1, N/2000) —
    * the sf0.1 corpus (2 000 vectors) is the calibration point where
    * K=10 cells gives the |cell| ≈ 200 the pairwise stage prices
    * against. Growing the corpus N× grows K N× and keeps |cell| (and
    * so per-cell pairwise cost) constant — the dial ScaleSweep measured
    * at e≈0.98 (SCALE_r10 kdial row). */
  val SemCorpusPerSplit = 2000L

  /** The l34 production dial made self-tuning: derive `split` from the
    * corpus size (one count job — index-build-class cost). At every
    * shipped sf (≤ 2 000 vectors) this resolves to split=1, i.e. the
    * canonical oracle-gated quantizer byte-for-byte; on synthesized
    * larger corpora it grows K linearly (LlmSpec pins both the rule and
    * split>1 copy-recall). */
  def autoSplit(s: SparkSession, d: String): Int =
    math.max(1L, Tables.embeddings(s, d).count() / SemCorpusPerSplit).toInt

  def semanticDedup(s: SparkSession, d: String,
                    split: Int = 1): DataFrame = {
    val enc = 16 * split
    val cent = trainCentroidsK(s, d, IvfIters, split)
    // Assignment is a MAP-SIDE batched kernel over broadcast centroids
    // (r12, the L8b idiom): the previous shape — cross join against a
    // broadcast centroid DF + groupBy(vec_id).min — computed the
    // identical min(qdist·enc + cell) but materialized an n·K-row
    // relation to do it, which the 30× sweep measured as the dominant
    // cost of the auto-K dial (146 s; n·K grows quadratically when K
    // tracks the corpus). A Catalyst HOF argmin-fold was measured 2.4×
    // WORSE than that (interpreted nested-lambda overhead per
    // compare); the tight integer loop below does the same
    // min(Σ(x−y)²·enc + cell) per row at nanoseconds per
    // multiply-add, with index-sized broadcast state (K·64 longs) and
    // zero n·K materialization anywhere. Same arithmetic, same
    // tie-break (cell id in the low digits), so the split=1 oracle
    // hash is unchanged by construction. The repartition exists
    // because the kernel's parallelism is otherwise the SCAN's — a
    // few-MB embeddings parquet reads as ONE partition, single-coring
    // the compares; an n-row shuffle is the price that deletes the
    // n·K one. At index scales past a flat broadcast (K ~ 10^5+) the
    // kernel walks a two-level coarse/fine centroid tree — same
    // shape, n·O(√K) compares.
    val bcCent = s.sparkContext.broadcast(
      cent.map { case (c, v) => (c, v.toArray) }.toArray)
    val encL = enc.toLong
    val m = {
      import s.implicits._
      augmentedVecs(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("q"), col("nrm"))
        .as[(Long, Array[Long], Long)]
        .mapPartitions { it =>
          val cs = bcCent.value
          it.map { case (id, q, nrm) =>
            var best = Long.MaxValue
            var ci = 0
            while (ci < cs.length) {
              val c = cs(ci)._2
              var s2 = 0L
              var i = 0
              while (i < c.length) {
                val dd = q(i) - c(i); s2 += dd * dd; i += 1
              }
              val v = s2 * encL + cs(ci)._1
              if (v < best) best = v
              ci += 1
            }
            (id, q, nrm, (best % encL).toInt)
          }
        }
        .toDF("vec_id", "q", "nrm", "cell")
    }
    val a = m.select(col("cell"), col("vec_id").as("a_id"),
                     col("q").as("aq"), col("nrm").as("an"))
    val b = m.select(col("cell"), col("vec_id").as("b_id"),
                     col("q").as("bq"), col("nrm").as("bn"))
    val dup = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (qdot(col("aq"), col("bq")).cast(DoubleType) /
          (sqrt(col("an").cast(DoubleType)) *
           sqrt(col("bn").cast(DoubleType)))).as("cos"))
      .filter(col("cos") >= SemTau)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of0"))
    m.select(col("vec_id"), col("cell"))
      .join(dup, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of0").isNull.as("keep"),
        coalesce(col("dup_of0"), lit(-1L)).as("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** L3e product-quantization constants: PqM 8-dim subspaces, 10
    * label-seeded cells per subspace (the l3c seeding rule applied
    * per-subspace), PqIters Lloyd rounds, ADC shortlist of PqShort
    * rerank candidates. The r7 sweep that fixed these: this corpus is
    * near-random unit vectors (all pairwise cos < 0.52), so ADC
    * neighbor separation is intrinsically weak — M=16 subspaces,
    * K=20 parity-split codebooks and 12 Lloyd rounds each MEASURED
    * worse (0.73–0.80 recall@5); the one lever that works is the
    * rerank budget, and it is corpus-size-INDEPENDENT (150 candidates
    * = 30% of this 500-vector corpus but 0.03% of a 500 k one), so it
    * is the honest production knob. Measured recall@5 vs exact l3:
    * 1.000 / 0.867 at sf0.001 / sf0.01 (pinned ≥ 0.85 in LlmSpec). */
  val PqM = 8
  val PqIters = 5
  val PqShort = 150

  /** (vec_id, m, sq): the M 8-dim subvectors of every vector. */
  private def subVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> " +
        s"named_struct('m', m, 'sq', slice(q, m * ${64 / PqM} + 1, ${64 / PqM})))"))
        .as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sq").as("sq"))

  /** Train the PQ codebooks: per-subspace deterministic integer Lloyd's
    * k-means — the l3c trainer run jointly across all PqM subspaces in
    * the SAME distributed jobs (cells keyed (m, cell); one assign + one
    * update job per iteration regardless of M). Returns
    * ((m, cell) -> centroid). Driver traffic per iteration is the
    * codebook itself (M·K·8 longs), corpus-size-independent. */
  def trainPqCodebooks(s: SparkSession, d: String,
                       iters: Int = PqIters): Map[(Int, Int), Seq[Long]] = {
    val key = (d, iters, embedFingerprint(d))
    pqCache.keySet.removeIf(k =>
      k._1 == d && k._2 == iters && k._3 != key._3)
    pqCache.computeIfAbsent(key, _ =>
      pqLloyd(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), qz(col("embedding")).as("q")),
        iters))
  }

  /** L3g's residual codebooks — trained PER COARSE CELL (the full
    * IVFADC refinement): the joint Lloyd trainer keyed (ccell, m, cell)
    * over the coarse-quantization residuals (vec − nearest l3c
    * centroid). Per-cell training matters doubly here: (a) the
    * codebook adapts to each cell's local residual distribution —
    * strictly finer reconstruction than one shared codebook at the
    * same stored bytes per vector (still one cell id + M codes);
    * (b) seeds stripe by vec_id % 10 WITHIN the cell, not by label —
    * residuals are precisely the variance the label-correlated coarse
    * structure does not explain, so per-label residual means are all
    * ≈ 0 and label seeding collapses the trajectory (measured:
    * recall@5 0.867 vs the 0.933 target). Codebook traffic is
    * K·M·K_pq centroids — index-sized, corpus-independent. Same
    * cache/fingerprint contract as trainPqCodebooks. */
  def trainResidualCodebooks(s: SparkSession, d: String,
                             iters: Int = PqIters)
      : Map[(Int, Int, Int), Seq[Long]] = {
    val key = (d, iters, embedFingerprint(d))
    pqResCache.keySet.removeIf(k =>
      k._1 == d && k._2 == iters && k._3 != key._3)
    pqResCache.computeIfAbsent(key, _ =>
      pqLloydGrouped(residualVecs(s, d)
        .select(col("vec_id"), col("ccell"),
                pmod(col("vec_id"), lit(10)).cast(IntegerType).as("scell"),
                col("q")), iters))
  }

  private val pqResCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, String), Map[(Int, Int, Int), Seq[Long]]]()

  /** The joint Lloyd trainer keyed (g, m, cell) — the pqLloyd shape
    * with a grouping column, so every group's subspace codebooks train
    * in the SAME distributed jobs (one assign + one update per
    * iteration regardless of |groups|·M). ev: (vec_id, ccell, scell,
    * q); a vector only ever competes for its own group's cells (the
    * join is keyed on the group), and a (g, m, cell) that loses all
    * members keeps its previous centroid, exactly as in pqLloyd. An
    * empty seed stratum simply never exists as a cell — both engines
    * agree because both build the cell set from the same non-empty
    * groupBy. */
  private def pqLloydGrouped(ev: DataFrame, iters: Int)
      : Map[(Int, Int, Int), Seq[Long]] = {
    val s = ev.sparkSession
    val sub = subVecs(ev.select(col("vec_id"), col("q")))
      .join(ev.select(col("vec_id"), col("ccell")), "vec_id")
      .persist()
    try {
      def collect(df: DataFrame): Map[(Int, Int, Int), Seq[Long]] =
        df.groupBy(col("g"), col("m"), col("cell"), col("pos"))
          .agg(sum(col("col")).as("sv"), count(lit(1)).as("cnt"))
          .withColumn("cv",
            floor(col("sv").cast(DoubleType) / col("cnt")).cast(LongType))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
                     r.getLong(6)))
          .groupBy(t => (t._1, t._2, t._3)).view
          .mapValues(_.sortBy(_._4).map(_._5).toSeq).toMap
      var cent: Map[(Int, Int, Int), Seq[Long]] = collect(
        sub.join(ev.select(col("vec_id"), col("scell")), "vec_id")
          .select(col("ccell").as("g"), col("m"),
                  col("scell").as("cell"), posexplode(col("sq"))))
      for (_ <- 1 to iters) {
        val cdf = broadcast(grpCentDf(s, cent))
        val assign = sub
          .join(cdf, sub("ccell") === cdf("g") && sub("m") === cdf("cm"))
          .select(col("vec_id"), col("m"),
            (qdist(col("sq"), col("c")) * 32 + col("cell")).as("ok"))
          .groupBy(col("vec_id"), col("m")).agg(min(col("ok")).as("mo"))
          .select(col("vec_id"), col("m"),
                  (col("mo") % 32).cast(IntegerType).as("cell"))
        val upd = collect(
          sub.join(assign, Seq("vec_id", "m"))
            .select(col("ccell").as("g"), col("m"), col("cell"),
                    posexplode(col("sq"))))
        cent = cent.map { case (k, c) => (k, upd.getOrElse(k, c)) }
      }
      cent
    } finally sub.unpersist()
  }

  private def grpCentDf(s: SparkSession,
                        cent: Map[(Int, Int, Int), Seq[Long]]): DataFrame = {
    import s.implicits._
    cent.toSeq.map { case ((g, m, cell), c) => (g, m, cell, c.toArray) }
      .toDF("g", "cm", "cell", "c")
  }

  /** (vec_id, label, q = vec − its single nearest coarse centroid,
    * ccell): the residual relation of the l3c quantizer — one broadcast
    * assignment pass (the l34 single-cell argmin), then a map-side
    * zip_with subtraction. All-integer, oracle-replayable. */
  private def residualVecs(s: SparkSession, d: String): DataFrame = {
    val cdf = broadcast(centroidsDf(s, trainCentroids(s, d)))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), qz(col("embedding")).as("q"))
    val assign = e.join(cdf)
      .select(col("vec_id"),
        (qdist(col("q"), col("c")) * 16 + col("cell")).as("ok"))
      .groupBy(col("vec_id")).agg(min(col("ok")).as("mo"))
      .select(col("vec_id"),
              (col("mo") % 16).cast(IntegerType).as("ccell"))
    e.join(assign, Seq("vec_id"))
      .join(cdf, col("ccell") === col("cell"))
      .select(col("vec_id"), col("label"),
        zip_with(col("q"), col("c"), (x, y) => x - y).as("q"),
        col("ccell"))
  }

  /** The joint per-subspace Lloyd trainer over an arbitrary
    * (vec_id, label, q) relation — shared by the raw-vector (l3e/l3f)
    * and residual (l3g) codebooks so the training trajectory is
    * definitionally the same algorithm. */
  private def pqLloyd(ev: DataFrame, iters: Int)
      : Map[(Int, Int), Seq[Long]] = {
      val s = ev.sparkSession
      val e = ev
      val sub = subVecs(e).persist()
      try {
        def collect(df: DataFrame): Map[(Int, Int), Seq[Long]] =
          df.groupBy(col("m"), col("cell"), col("pos"))
            .agg(sum(col("col")).as("sv"), count(lit(1)).as("cnt"))
            .withColumn("cv",
              floor(col("sv").cast(DoubleType) / col("cnt")).cast(LongType))
            .collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(5)))
            .groupBy(t => (t._1, t._2)).view
            .mapValues(_.sortBy(_._3).map(_._4).toSeq).toMap
        var cent: Map[(Int, Int), Seq[Long]] = collect(
          subVecs(e.select(col("vec_id"), col("q")))
            .join(e.select(col("vec_id"), col("label")), "vec_id")
            .select(col("m"),
                    col("label").cast(IntegerType).as("cell"),
                    posexplode(col("sq"))))
        for (_ <- 1 to iters) {
          val cdf = broadcast(pqCentDf(s, cent))
          val assign = sub.join(cdf, Seq("m"))
            .select(col("vec_id"), col("m"),
              (qdist(col("sq"), col("c")) * 32 + col("cell")).as("ok"))
            .groupBy(col("vec_id"), col("m")).agg(min(col("ok")).as("mo"))
            .select(col("vec_id"), col("m"),
                    (col("mo") % 32).cast(IntegerType).as("cell"))
          val upd = collect(
            sub.join(assign, Seq("vec_id", "m"))
              .select(col("m"), col("cell"), posexplode(col("sq"))))
          cent = cent.map { case (k, c) => (k, upd.getOrElse(k, c)) }
        }
        cent
      } finally sub.unpersist()
  }

  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, String), Map[(Int, Int), Seq[Long]]]()

  private def pqCentDf(s: SparkSession,
                       cent: Map[(Int, Int), Seq[Long]]): DataFrame = {
    import s.implicits._
    cent.toSeq.map { case ((m, cell), c) => (m, cell, c.toArray) }
      .toDF("m", "cell", "c")
  }

  /** L3e — product-quantization ANN with ADC scoring + exact rerank (the
    * second production vector-compression axis next to l3d's scalar
    * int8): each vector is stored as PqM 4-bit-ish codes (one cell id
    * per subspace — 8 B/vector here vs 256 B full precision); a query
    * scores the WHOLE corpus by summing M tiny precomputed
    * (query-subvector · centroid) tables — the asymmetric-distance
    * linear scan of Jégou et al. — normalized by the RECONSTRUCTED
    * vector norm; the top-PqShort shortlist is then reranked with the
    * exact cosine. Everything is exact-integer arithmetic into IEEE
    * division, so training, coding, ADC and rerank are all replayed by
    * the generated oracle. 100 TB: the scan touches M codes + M·K dot
    * tables per query (memory-bandwidth-bound, the PQ point); rerank
    * touches PqShort full vectors; training traffic is the codebook.
    * LlmSpec pins recall@5 ≥ 0.85 vs exact l3. */
  def pqTopK(s: SparkSession, d: String, k: Int = 5,
             qids: Seq[Int] = IvfQids): DataFrame = {
    val e = qvecs(s, d)
    val (codes, rn, dots, qn) = pqParts(s, d, e, qids)
    val adc = codes.join(dots, Seq("m", "cell"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id")).agg(sum(col("dt")).as("dot"))
      .join(rn, "vec_id").join(qn, "qid")
      .select(col("qid"), col("vec_id").as("vid"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) *
           sqrt(col("rn").cast(DoubleType)))).as("adc"))
    rerankExact(e, pqShortlist(adc), qids, k)
  }

  /** The PQ stored index + per-query ADC tables, shared by the pure-PQ
    * linear scan (l3e) and the IVF-PQ composition (l3f):
    *  - codes: argmin cell per (vec_id, m) — the stored 8 B/vector index
    *  - rn: reconstructed norm per vector, Σ_m ‖c_{m,code_m}‖²
    *    (driver-held per-(m,cell) norms, broadcast)
    *  - dots: broadcast (qid, m, cell) → query-subvector · centroid
    *  - qn: true query norms (broadcast) */
  private def pqParts(s: SparkSession, d: String, e: DataFrame,
                      qids: Seq[Int])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cent = trainPqCodebooks(s, d)
    val cdf = broadcast(pqCentDf(s, cent))
    val sub = subVecs(e)
    val codes = sub.join(cdf, Seq("m"))
      .select(col("vec_id"), col("m"),
        (qdist(col("sq"), col("c")) * 32 + col("cell")).as("ok"))
      .groupBy(col("vec_id"), col("m")).agg(min(col("ok")).as("mo"))
      .select(col("vec_id"), col("m"),
              (col("mo") % 32).cast(IntegerType).as("cell"))
    val cn = broadcast(pqCentDf(s, cent)
      .select(col("m"), col("cell"), qnorm(col("c")).as("cn2")))
    val rn = codes.join(cn, Seq("m", "cell"))
      .groupBy(col("vec_id")).agg(sum(col("cn2")).as("rn"))
    val qsubs = sub.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("m"), col("sq"))
    val dots = broadcast(qsubs.join(cdf, Seq("m"))
      .select(col("qid"), col("m"), col("cell"),
              qdot(col("sq"), col("c")).as("dt")))
    val qn = broadcast(e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("nrm").as("qn")))
    (codes, rn, dots, qn)
  }

  /** Top-PqShort ADC shortlist per query (the corpus-size-independent
    * rerank budget). */
  private def pqShortlist(adc: DataFrame): DataFrame = {
    val sw = Window.partitionBy(col("qid"))
      .orderBy(col("adc").desc, col("vid").asc)
    adc.withColumn("srnk", row_number().over(sw))
      .filter(col("srnk") <= PqShort)
      .select(col("qid"), col("vid"))
  }

  /** Exact-cosine rerank of a (qid, vid) shortlist — the l3 scoring on
    * a bounded candidate set. */
  private def rerankExact(e: DataFrame, shortlist: DataFrame,
                          qids: Seq[Int], k: Int): DataFrame = {
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("q").as("qq"),
              col("nrm").as("qn2"))
    val reranked = shortlist
      .join(broadcast(qs), Seq("qid"))
      .join(e.select(col("vec_id").as("vid"), col("q"), col("nrm")),
            Seq("vid"))
      .select(col("qid"), col("vid"),
        (qdot(col("qq"), col("q")).cast(DoubleType) /
          (sqrt(col("qn2").cast(DoubleType)) *
           sqrt(col("nrm").cast(DoubleType)))).as("cos"))
    rankTopK(reranked, k)
  }

  /** L3f — IVF-PQ: the production composition of the two index axes
    * (the IVF-ADC design of Jégou et al.; what FAISS calls IVFx,PQy).
    * l3c's coarse quantizer prunes the corpus to the `nprobe` probed
    * cells' members (candidate GENERATION — identical by construction
    * to l3c/l3d, same `ivfCandidates`); l3e's PQ codes then ADC-score
    * ONLY those candidates (candidate SCORING — M table lookups per
    * candidate instead of a 64-dim exact product); the top-PqShort
    * shortlist gets the exact rerank. 100 TB: the scan cost is
    * (nprobe/K)·N candidates × M lookups — the probe-fraction AND the
    * compression win multiply, which is why this is the production
    * default layout; rerank I/O stays corpus-size-independent. The
    * oracle replays coarse training, probes, PQ training, coding, the
    * candidate-restricted ADC scan and the rerank end-to-end (l3fSql).
    * LlmSpec pins recall@5 ≥ 0.85 vs exact l3; AnnBench compares the
    * l3c/l3d/l3e/l3f latency-recall points. */
  def ivfPqTopK(s: SparkSession, d: String, k: Int = 5,
                nprobe: Int = IvfNprobe, rassign: Int = IvfRassign,
                qids: Seq[Int] = IvfQids): DataFrame = {
    val e = qvecs(s, d)
    val cand = ivfCandidates(s, d, e, nprobe, rassign, qids)
    val (codes, rn, dots, qn) = pqParts(s, d, e, qids)
    val adc = cand
      .join(codes.withColumnRenamed("vec_id", "vid"), Seq("vid"))
      .join(dots, Seq("qid", "m", "cell"))
      .groupBy(col("qid"), col("vid")).agg(sum(col("dt")).as("dot"))
      .join(rn.withColumnRenamed("vec_id", "vid"), Seq("vid"))
      .join(qn, Seq("qid"))
      .select(col("qid"), col("vid"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) *
           sqrt(col("rn").cast(DoubleType)))).as("adc"))
    rerankExact(e, pqShortlist(adc), qids, k)
  }

  /** L3g — residual PQ (the full IVFADC of Jégou et al.; FAISS's
    * IVFx,PQy with by-residual encoding, its default): l3f stored PQ
    * codes of the RAW vectors, so the coarse index and the codes spent
    * their bytes describing the same cell-level structure twice. Here
    * each vector is coded as (coarse cell, PQ codes of vec − centroid):
    * the codebooks (trainResidualCodebooks — the joint Lloyd trainer
    * keyed (ccell, m, cell), i.e. trained PER COARSE CELL on residuals)
    * only have to cover each cell's own intra-cell variance, so the
    * SAME bytes per vector (one cell id + M codes) reconstruct more
    * precisely and recall at equal rerank budget does not regress
    * (measured: shared residual codebooks LOST a neighbor at the
    * shortlist boundary on this near-random corpus; per-cell coding
    * recovered it). Scoring is ADC against the
    * COMBINED reconstruction v̂ = c_coarse + r̂: the (ccell, m, pcell)
    * → c_m + r_m table is K·M·K_pq rows, driver-built from the two
    * trained codebooks and broadcast (index-sized, corpus-independent),
    * carrying both the per-query dot tables and the reconstructed
    * norms. Candidates are l3c's probed cells (identical by
    * construction to l3c/l3d/l3f); the top-PqShort shortlist gets the
    * exact rerank. All-integer into IEEE division — the generated
    * oracle replays coarse training, probes, residual computation,
    * residual-codebook training, coding, the combined ADC and the
    * rerank end-to-end. LlmSpec pins recall@5 ≥ l3f's on the same
    * query pool. */
  def ivfAdcTopK(s: SparkSession, d: String, k: Int = 5,
                 nprobe: Int = IvfNprobe, rassign: Int = IvfRassign,
                 qids: Seq[Int] = IvfQids): DataFrame = {
    import s.implicits._
    val e = qvecs(s, d)
    val cand = ivfCandidates(s, d, e, nprobe, rassign, qids)
    val res = residualVecs(s, d)
    val rcent = trainResidualCodebooks(s, d)
    val rcdf = broadcast(grpCentDf(s, rcent))
    // stored index: (vid, ccell) + argmin residual code per subspace —
    // each vector only competes for ITS coarse cell's codebook
    val rsub = subVecs(res.select(col("vec_id"), col("q")))
      .join(res.select(col("vec_id"), col("ccell")), "vec_id")
    val codes = rsub
      .join(rcdf, rsub("ccell") === rcdf("g") && rsub("m") === rcdf("cm"))
      .select(col("vec_id"), col("m"),
        (qdist(col("sq"), col("c")) * 32 + col("cell")).as("ok"))
      .groupBy(col("vec_id"), col("m")).agg(min(col("ok")).as("mo"))
      .select(col("vec_id").as("vid"), col("m"),
              (col("mo") % 32).cast(IntegerType).as("pcell"))
    val asg = res.select(col("vec_id").as("vid"), col("ccell"))
    // combined reconstruction table (ccell, m, pcell) → c_m + r_m:
    // driver-built from the two driver-held codebooks
    val w = 64 / PqM
    val comb = trainCentroids(s, d).flatMap { case (ccell, c) =>
      rcent.toSeq.collect { case ((g, m, pcell), rc) if g == ccell =>
        (ccell, m, pcell,
         Array.tabulate(w)(i => c(m * w + i) + rc(i)))
      }
    }
    val combDf = broadcast(comb.toDF("ccell", "m", "pcell", "cc"))
    val n2 = broadcast(combDf.select(col("ccell"), col("m"), col("pcell"),
      qnorm(col("cc")).as("cn2")))
    val rn = codes.join(asg, Seq("vid"))
      .join(n2, Seq("ccell", "m", "pcell"))
      .groupBy(col("vid")).agg(sum(col("cn2")).as("rn"))
    // per-query dot tables vs the combined reconstructions (broadcast)
    val qsubs = subVecs(e.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), col("q")))
      .select(col("vec_id").as("qid"), col("m"), col("sq"))
    val dots = broadcast(qsubs.join(combDf, Seq("m"))
      .select(col("qid"), col("ccell"), col("m"), col("pcell"),
              qdot(col("sq"), col("cc")).as("dt")))
    val qn = broadcast(e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("nrm").as("qn")))
    val adc = cand
      .join(codes, Seq("vid"))
      .join(asg, Seq("vid"))
      .join(dots, Seq("qid", "ccell", "m", "pcell"))
      .groupBy(col("qid"), col("vid")).agg(sum(col("dt")).as("dot"))
      .join(rn, Seq("vid")).join(qn, Seq("qid"))
      .select(col("qid"), col("vid"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("qn").cast(DoubleType)) *
           sqrt(col("rn").cast(DoubleType)))).as("adc"))
    rerankExact(e, pqShortlist(adc), qids, k)
  }

  /** The l3e oracle: per-subspace training (CTEs keyed (m, cell) — the
    * ivfTrainSql trajectory run jointly across subspaces), coding, ADC
    * scan, shortlist, exact rerank. DuckDB slices are 1-based inclusive. */
  def l3eSql(k: Int = 5, iters: Int = PqIters,
             qids: Seq[Int] = IvfQids): String = {
    val w = 64 / PqM
    def dist(centRel: String, vecRel: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, $w), " +
      s"i -> ($vecRel.sq[i] - $centRel.c[i]) * ($vecRel.sq[i] - $centRel.c[i]))) AS BIGINT) " +
      s"* 32 + $centRel.cell"
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
      |  FROM e),
      |sub AS (
      |  SELECT vec_id, m.m, q[m.m * $w + 1 : m.m * $w + $w] AS sq
      |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) m),
      |x0 AS (SELECT s.m, e.label AS cell, unnest(generate_series(1, $w)) AS i, s.sq AS sq
      |  FROM sub s JOIN e ON e.vec_id = s.vec_id),
      |s0 AS (SELECT m, cell, i,
      |    CAST(floor(CAST(sum(sq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM x0 GROUP BY m, cell, i),
      |c0 AS (SELECT m, cell, list(cv ORDER BY i) AS c FROM s0 GROUP BY m, cell)""".stripMargin
    for (t <- 1 to iters) {
      val p = s"c${t - 1}"
      sb ++= s""",
      |d$t AS (SELECT s.vec_id, s.m, p.cell, ${dist("p", "s")} AS ok
      |  FROM sub s JOIN $p p USING (m)),
      |a$t AS (SELECT vec_id, m, min(ok) % 32 AS cell FROM d$t GROUP BY vec_id, m),
      |x$t AS (SELECT s.m, a.cell, unnest(generate_series(1, $w)) AS i, s.sq AS sq
      |  FROM a$t a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m),
      |s$t AS (SELECT m, cell, i,
      |    CAST(floor(CAST(sum(sq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM x$t GROUP BY m, cell, i),
      |l$t AS (SELECT m, cell, list(cv ORDER BY i) AS cnew FROM s$t GROUP BY m, cell),
      |c$t AS (SELECT p.m, p.cell, coalesce(l.cnew, p.c) AS c
      |  FROM c${t - 1} p LEFT JOIN l$t l USING (m, cell))""".stripMargin
    }
    val cf = s"c$iters"
    sb ++= s""",
      |codes AS (
      |  SELECT vec_id, m, CAST(mo % 32 AS INT) AS cell
      |  FROM (SELECT s.vec_id, s.m, min(${dist(cf, "s")}) AS mo
      |        FROM sub s JOIN $cf USING (m) GROUP BY s.vec_id, s.m)),
      |cn AS (SELECT m, cell,
      |    CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS cn2
      |  FROM $cf),
      |rn AS (SELECT codes.vec_id, CAST(sum(cn.cn2) AS BIGINT) AS rn
      |  FROM codes JOIN cn USING (m, cell) GROUP BY codes.vec_id),
      |dots AS (
      |  SELECT s.vec_id AS qid, s.m, c.cell,
      |    CAST(list_sum(list_transform(generate_series(1, $w), i -> s.sq[i] * c.c[i])) AS BIGINT) AS dt
      |  FROM sub s JOIN $cf c USING (m)
      |  WHERE s.vec_id IN (${qids.mkString(", ")})),
      |adc AS (
      |  SELECT d.qid, codes.vec_id AS vid,
      |    CAST(CAST(sum(d.dt) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qn.nrm AS DOUBLE)) * sqrt(CAST(rn.rn AS DOUBLE))) AS adc
      |  FROM codes
      |  JOIN dots d USING (m, cell)
      |  JOIN rn ON rn.vec_id = codes.vec_id
      |  JOIN n qn ON qn.vec_id = d.qid
      |  WHERE codes.vec_id <> d.qid
      |  GROUP BY d.qid, codes.vec_id, qn.nrm, rn.rn),
      |short AS (
      |  SELECT qid, vid FROM (
      |    SELECT qid, vid,
      |      row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vid ASC) AS srnk
      |    FROM adc) WHERE srnk <= $PqShort),
      |scored AS (
      |  SELECT short.qid, short.vid,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> qv.q[i] * cv.q[i])) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qv.nrm AS DOUBLE)) * sqrt(CAST(cv.nrm AS DOUBLE))) AS cos
      |  FROM short
      |  JOIN n qv ON qv.vec_id = short.qid
      |  JOIN n cv ON cv.vec_id = short.vid),
      |r AS (
      |  SELECT qid, vid, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk
      |  FROM scored)
      |SELECT qid, rnk, vid, cos FROM r WHERE rnk <= $k
      |ORDER BY qid, rnk""".stripMargin
    sb.toString
  }

  /** The l3f oracle: the ivfSql coarse-training + candidate CTEs (the
    * SAME trained quantizer and probe set as l3c/l3d, via ivfTrainSql +
    * ivfCandSql) composed with the l3eSql PQ pipeline — training CTEs
    * p-prefixed to avoid colliding with the coarse trainer's names —
    * where the ADC scan runs over `cand` instead of the whole corpus,
    * then the same shortlist + exact rerank. */
  def l3fSql(k: Int = 5, nprobe: Int = IvfNprobe, rassign: Int = IvfRassign,
             coarseIters: Int = IvfIters, pqIters: Int = PqIters,
             qids: Seq[Int] = IvfQids): String = {
    val w = 64 / PqM
    def dist(centRel: String, vecRel: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, $w), " +
      s"i -> ($vecRel.sq[i] - $centRel.c[i]) * ($vecRel.sq[i] - $centRel.c[i]))) AS BIGINT) " +
      s"* 32 + $centRel.cell"
    val sb = new StringBuilder
    sb ++= ivfTrainSql(coarseIters)
    sb ++= ivfCandSql(s"c$coarseIters", nprobe, rassign, qids)
    sb ++= s"""
      |sub AS (
      |  SELECT vec_id, m.m, q[m.m * $w + 1 : m.m * $w + $w] AS sq
      |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) m),
      |px0 AS (SELECT s.m, e.label AS cell, unnest(generate_series(1, $w)) AS i, s.sq AS sq
      |  FROM sub s JOIN e ON e.vec_id = s.vec_id),
      |ps0 AS (SELECT m, cell, i,
      |    CAST(floor(CAST(sum(sq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM px0 GROUP BY m, cell, i),
      |pc0 AS (SELECT m, cell, list(cv ORDER BY i) AS c FROM ps0 GROUP BY m, cell)""".stripMargin
    for (t <- 1 to pqIters) {
      val p = s"pc${t - 1}"
      sb ++= s""",
      |pd$t AS (SELECT s.vec_id, s.m, p.cell, ${dist("p", "s")} AS ok
      |  FROM sub s JOIN $p p USING (m)),
      |pa$t AS (SELECT vec_id, m, min(ok) % 32 AS cell FROM pd$t GROUP BY vec_id, m),
      |px$t AS (SELECT s.m, a.cell, unnest(generate_series(1, $w)) AS i, s.sq AS sq
      |  FROM pa$t a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m),
      |ps$t AS (SELECT m, cell, i,
      |    CAST(floor(CAST(sum(sq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM px$t GROUP BY m, cell, i),
      |pl$t AS (SELECT m, cell, list(cv ORDER BY i) AS cnew FROM ps$t GROUP BY m, cell),
      |pc$t AS (SELECT p.m, p.cell, coalesce(l.cnew, p.c) AS c
      |  FROM pc${t - 1} p LEFT JOIN pl$t l USING (m, cell))""".stripMargin
    }
    val cf = s"pc$pqIters"
    sb ++= s""",
      |codes AS (
      |  SELECT vec_id, m, CAST(mo % 32 AS INT) AS cell
      |  FROM (SELECT s.vec_id, s.m, min(${dist(cf, "s")}) AS mo
      |        FROM sub s JOIN $cf USING (m) GROUP BY s.vec_id, s.m)),
      |cn AS (SELECT m, cell,
      |    CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS cn2
      |  FROM $cf),
      |rn AS (SELECT codes.vec_id, CAST(sum(cn.cn2) AS BIGINT) AS rn
      |  FROM codes JOIN cn USING (m, cell) GROUP BY codes.vec_id),
      |dots AS (
      |  SELECT s.vec_id AS qid, s.m, c.cell,
      |    CAST(list_sum(list_transform(generate_series(1, $w), i -> s.sq[i] * c.c[i])) AS BIGINT) AS dt
      |  FROM sub s JOIN $cf c USING (m)
      |  WHERE s.vec_id IN (${qids.mkString(", ")})),
      |adc AS (
      |  SELECT cand.qid, cand.vid,
      |    CAST(CAST(sum(d.dt) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qn.nrm AS DOUBLE)) * sqrt(CAST(rn.rn AS DOUBLE))) AS adc
      |  FROM cand
      |  JOIN codes ON codes.vec_id = cand.vid
      |  JOIN dots d ON d.qid = cand.qid AND d.m = codes.m AND d.cell = codes.cell
      |  JOIN rn ON rn.vec_id = cand.vid
      |  JOIN n qn ON qn.vec_id = cand.qid
      |  GROUP BY cand.qid, cand.vid, qn.nrm, rn.rn),
      |short AS (
      |  SELECT qid, vid FROM (
      |    SELECT qid, vid,
      |      row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vid ASC) AS srnk
      |    FROM adc) WHERE srnk <= $PqShort),
      |scored AS (
      |  SELECT short.qid, short.vid,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> qv.q[i] * cv.q[i])) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qv.nrm AS DOUBLE)) * sqrt(CAST(cv.nrm AS DOUBLE))) AS cos
      |  FROM short
      |  JOIN n qv ON qv.vec_id = short.qid
      |  JOIN n cv ON cv.vec_id = short.vid),
      |r AS (
      |  SELECT qid, vid, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk
      |  FROM scored)
      |SELECT qid, rnk, vid, cos FROM r WHERE rnk <= $k
      |ORDER BY qid, rnk""".stripMargin
    sb.toString
  }

  /** The l3g oracle: coarse training + candidates (ivfTrainSql +
    * ivfCandSql — definitionally the same quantizer and probe set as
    * l3c/l3d/l3f), single-cell assignment, residual computation, the
    * l3eSql training chain run over RESIDUAL subvectors (r-prefixed),
    * coding, the combined-reconstruction (c_m + r_m) ADC scan over the
    * candidates, shortlist and exact rerank. */
  def l3gSql(k: Int = 5, nprobe: Int = IvfNprobe, rassign: Int = IvfRassign,
             coarseIters: Int = IvfIters, pqIters: Int = PqIters,
             qids: Seq[Int] = IvfQids): String = {
    val w = 64 / PqM
    def dist(centRel: String, vecRel: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, $w), " +
      s"i -> ($vecRel.sq[i] - $centRel.c[i]) * ($vecRel.sq[i] - $centRel.c[i]))) AS BIGINT) " +
      s"* 32 + $centRel.cell"
    val cf = s"c$coarseIters"
    val sb = new StringBuilder
    sb ++= ivfTrainSql(coarseIters)
    sb ++= ivfCandSql(cf, nprobe, rassign, qids)
    sb ++= s"""
      |fd2 AS (SELECT n.vec_id, $cf.cell, ${ivfDistSql(cf)} AS ok
      |  FROM n CROSS JOIN $cf),
      |asg AS MATERIALIZED (SELECT vec_id, CAST(min(ok) % 16 AS INT) AS ccell
      |  FROM fd2 GROUP BY vec_id),
      |res AS MATERIALIZED (SELECT n.vec_id, e.label, a.ccell,
      |    list_transform(generate_series(1, 64), i -> n.q[i] - c.c[i]) AS q
      |  FROM n JOIN asg a USING (vec_id)
      |  JOIN $cf c ON c.cell = a.ccell
      |  JOIN e ON e.vec_id = n.vec_id),
      |rsub AS MATERIALIZED (
      |  SELECT vec_id, ccell, m.m, q[m.m * $w + 1 : m.m * $w + $w] AS sq
      |  FROM res CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) m),
      |rx0 AS MATERIALIZED (SELECT s.ccell AS g, s.m, CAST(r.vec_id % 10 AS INT) AS cell, unnest(generate_series(1, $w)) AS i, s.sq AS sq
      |  FROM rsub s JOIN res r ON r.vec_id = s.vec_id),
      |rs0 AS (SELECT g, m, cell, i,
      |    CAST(floor(CAST(sum(sq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM rx0 GROUP BY g, m, cell, i),
      |rc0 AS MATERIALIZED (SELECT g, m, cell, list(cv ORDER BY i) AS c FROM rs0 GROUP BY g, m, cell)""".stripMargin
    for (t <- 1 to pqIters) {
      val p = s"rc${t - 1}"
      sb ++= s""",
      |rd$t AS MATERIALIZED (SELECT s.vec_id, s.m, p.cell, ${dist("p", "s")} AS ok
      |  FROM rsub s JOIN $p p ON p.g = s.ccell AND p.m = s.m),
      |ra$t AS MATERIALIZED (SELECT vec_id, m, min(ok) % 32 AS cell FROM rd$t GROUP BY vec_id, m),
      |rx$t AS (SELECT s.ccell AS g, s.m, a.cell, unnest(generate_series(1, $w)) AS i, s.sq AS sq
      |  FROM ra$t a JOIN rsub s ON s.vec_id = a.vec_id AND s.m = a.m),
      |rs$t AS (SELECT g, m, cell, i,
      |    CAST(floor(CAST(sum(sq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM rx$t GROUP BY g, m, cell, i),
      |rl$t AS (SELECT g, m, cell, list(cv ORDER BY i) AS cnew FROM rs$t GROUP BY g, m, cell),
      |rc$t AS MATERIALIZED (SELECT p.g, p.m, p.cell, coalesce(l.cnew, p.c) AS c
      |  FROM rc${t - 1} p LEFT JOIN rl$t l USING (g, m, cell))""".stripMargin
    }
    val rf = s"rc$pqIters"
    sb ++= s""",
      |codes AS MATERIALIZED (
      |  SELECT vec_id AS vid, m, CAST(mo % 32 AS INT) AS pcell
      |  FROM (SELECT s.vec_id, s.m, min(${dist(rf, "s")}) AS mo
      |        FROM rsub s JOIN $rf ON $rf.g = s.ccell AND $rf.m = s.m
      |        GROUP BY s.vec_id, s.m)),
      |comb AS MATERIALIZED (SELECT cc.cell AS ccell, p.m, p.cell AS pcell,
      |    list_transform(generate_series(1, $w), i -> cc.c[p.m * $w + i] + p.c[i]) AS cc
      |  FROM $cf cc JOIN $rf p ON p.g = cc.cell),
      |n2 AS MATERIALIZED (SELECT ccell, m, pcell,
      |    CAST(list_sum(list_transform(cc, x -> x * x)) AS BIGINT) AS cn2
      |  FROM comb),
      |rn AS MATERIALIZED (SELECT codes.vid, CAST(sum(n2.cn2) AS BIGINT) AS rn
      |  FROM codes
      |  JOIN asg a ON a.vec_id = codes.vid
      |  JOIN n2 ON n2.ccell = a.ccell AND n2.m = codes.m
      |         AND n2.pcell = codes.pcell
      |  GROUP BY codes.vid),
      |osub AS MATERIALIZED (
      |  SELECT vec_id, m.m, q[m.m * $w + 1 : m.m * $w + $w] AS sq
      |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) m
      |  WHERE vec_id IN (${qids.mkString(", ")})),
      |dots AS MATERIALIZED (SELECT o.vec_id AS qid, c.ccell, o.m, c.pcell,
      |    CAST(list_sum(list_transform(generate_series(1, $w), i -> o.sq[i] * c.cc[i])) AS BIGINT) AS dt
      |  FROM osub o JOIN comb c ON c.m = o.m),
      |adc AS MATERIALIZED (
      |  SELECT cand.qid, cand.vid,
      |    CAST(CAST(sum(d.dt) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qn.nrm AS DOUBLE)) * sqrt(CAST(rn.rn AS DOUBLE))) AS adc
      |  FROM cand
      |  JOIN codes ON codes.vid = cand.vid
      |  JOIN asg a ON a.vec_id = cand.vid
      |  JOIN dots d ON d.qid = cand.qid AND d.ccell = a.ccell
      |             AND d.m = codes.m AND d.pcell = codes.pcell
      |  JOIN rn ON rn.vid = cand.vid
      |  JOIN n qn ON qn.vec_id = cand.qid
      |  GROUP BY cand.qid, cand.vid, qn.nrm, rn.rn),
      |short AS (
      |  SELECT qid, vid FROM (
      |    SELECT qid, vid,
      |      row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vid ASC) AS srnk
      |    FROM adc) WHERE srnk <= $PqShort),
      |scored AS (
      |  SELECT short.qid, short.vid,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> qv.q[i] * cv.q[i])) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qv.nrm AS DOUBLE)) * sqrt(CAST(cv.nrm AS DOUBLE))) AS cos
      |  FROM short
      |  JOIN n qv ON qv.vec_id = short.qid
      |  JOIN n cv ON cv.vec_id = short.vid),
      |r AS (
      |  SELECT qid, vid, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk
      |  FROM scored)
      |SELECT qid, rnk, vid, cos FROM r WHERE rnk <= $k
      |ORDER BY qid, rnk""".stripMargin
    sb.toString
  }

  /** The l34 oracle: the SAME trained quantizer (ivfTrainSql), the same
    * augmentation arithmetic (DuckDB lambda indices are 1-based, hence
    * the `i - 1`), single-cell assignment, intra-cell pairwise cosine. */
  def l34Sql: String =
    s"""${ivfTrainSql(IvfIters)},
      |aug AS (
      |  SELECT vec_id, q, nrm FROM n
      |  UNION ALL
      |  SELECT vec_id + $SemBase AS vec_id, q,
      |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
      |  FROM (SELECT vec_id,
      |          list_transform(q, (x, i) -> x + (vec_id + i - 1) % 7 - 3) AS q
      |        FROM n WHERE vec_id % $SemEvery = 0)),
      |fd2 AS (SELECT v.vec_id, c$IvfIters.cell,
      |    ${ivfDistSql(s"c$IvfIters", "v")} AS ok
      |  FROM aug v CROSS JOIN c$IvfIters),
      |asg AS (SELECT vec_id, CAST(min(ok) % 16 AS INT) AS cell
      |  FROM fd2 GROUP BY vec_id),
      |mv AS (SELECT a.vec_id, s.cell, a.q, a.nrm
      |  FROM aug a JOIN asg s USING (vec_id)),
      |dp AS (
      |  SELECT b.vec_id AS b_id, min(a.vec_id) AS dup_of
      |  FROM mv a JOIN mv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE)
      |        / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= $SemTau
      |  GROUP BY b.vec_id)
      |SELECT mv.vec_id, mv.cell, dp.dup_of IS NULL AS keep,
      |  coalesce(dp.dup_of, -1) AS dup_of
      |FROM mv LEFT JOIN dp ON dp.b_id = mv.vec_id
      |ORDER BY mv.vec_id""".stripMargin

  /** Generate the l3c DuckDB oracle SQL from the SAME constants the Spark
    * pipeline uses: K=10 label-seeded cells, `iters` unrolled Lloyd
    * iterations (exact BIGINT distances, floor(sum/count) centroid
    * updates, empty-cell carryover via LEFT JOIN + coalesce), `rassign`-
    * cell multi-assignment, `nprobe` probed cells, top-`k`. Any change to
    * the algorithm must change this generator and the DataFrame code
    * together — they cannot drift apart silently because the driver
    * hash-compares their outputs. */
  /** Squared-L2 distance × 16 + cell (the min-encoding both engines use),
    * over vector alias `vecAlias` and centroid relation `centRel`. */
  private def ivfDistSql(centRel: String, vecAlias: String = "n"): String =
    s"CAST(list_sum(list_transform(generate_series(1, 64), " +
    s"i -> ($vecAlias.q[i] - $centRel.c[i]) * ($vecAlias.q[i] - $centRel.c[i]))) AS BIGINT) " +
    s"* 16 + $centRel.cell"

  /** The k-means TRAINING prefix of the IVF oracle (CTEs e, n, c0..c`iters`)
    * — shared by the l3c/l3d search oracles and the l34 semantic-dedup
    * oracle, so the trained quantizer is definitionally the same SQL. */
  private def ivfTrainSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
      |  FROM e),
      |x0 AS (SELECT label AS cell, unnest(generate_series(1, 64)) AS i, q FROM e),
      |s0 AS (SELECT cell, i,
      |    CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM x0 GROUP BY cell, i),
      |c0 AS (SELECT cell, list(cv ORDER BY i) AS c FROM s0 GROUP BY cell)""".stripMargin
    for (t <- 1 to iters) {
      val p = s"c${t - 1}"
      sb ++= s""",
      |d$t AS (SELECT n.vec_id, $p.cell, ${ivfDistSql(p)} AS ok
      |  FROM n CROSS JOIN $p),
      |a$t AS (SELECT vec_id, min(ok) % 16 AS cell FROM d$t GROUP BY vec_id),
      |x$t AS (SELECT a.cell, unnest(generate_series(1, 64)) AS i, n.q AS q
      |  FROM a$t a JOIN n ON n.vec_id = a.vec_id),
      |s$t AS (SELECT cell, i,
      |    CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM x$t GROUP BY cell, i),
      |l$t AS (SELECT cell, list(cv ORDER BY i) AS cnew FROM s$t GROUP BY cell),
      |c$t AS (SELECT p.cell, coalesce(l.cnew, p.c) AS c
      |  FROM c${t - 1} p LEFT JOIN l$t l USING (cell))""".stripMargin
    }
    sb.toString
  }

  /** The candidate-generation CTEs of the IVF oracle (fd/fa/probes/cand
    * over trained centroid relation `cf`) — shared by the l3c/l3d search
    * oracles and the l3f IVF-PQ oracle, so the candidate set is
    * definitionally the same SQL. */
  private def ivfCandSql(cf: String, nprobe: Int, rassign: Int,
                         qids: Seq[Int]): String =
    s""",
      |fd AS (SELECT n.vec_id, $cf.cell, ${ivfDistSql(cf)} AS ok
      |  FROM n CROSS JOIN $cf),
      |fa AS (SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY ok) AS r
      |    FROM fd) WHERE r <= $rassign),
      |probes AS (SELECT vec_id AS qid, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY ok) AS r
      |    FROM fd WHERE vec_id IN (${qids.mkString(", ")})) WHERE r <= $nprobe),
      |cand AS (SELECT DISTINCT p.qid, a.vec_id AS vid
      |  FROM probes p JOIN fa a ON a.cell = p.cell AND a.vec_id <> p.qid),""".stripMargin

  def ivfSql(nprobe: Int, k: Int, iters: Int, rassign: Int,
             qids: Seq[Int], int8: Boolean = false): String = {
    val sb = new StringBuilder
    sb ++= ivfTrainSql(iters)
    sb ++= ivfCandSql(s"c$iters", nprobe, rassign, qids)
    if (int8) {
      // l29's symmetric quantization replayed verbatim, then the scored
      // CTE runs the SAME cosine shape on codes instead of micro-longs
      sb ++= s"""
      |c8 AS (SELECT vec_id,
      |    list_transform(q, x -> CASE WHEN m = 0 THEN 0
      |      ELSE least(127, greatest(-127,
      |        CAST(floor(CAST(x * 127 AS DOUBLE) / CAST(m AS DOUBLE)
      |          + 0.5) AS BIGINT))) END) AS code
      |  FROM (SELECT vec_id, q,
      |          list_max(list_transform(q, x -> abs(x))) AS m FROM n)),
      |n8 AS (SELECT vec_id, code,
      |    CAST(list_sum(list_transform(code, x -> x * x)) AS BIGINT) AS cn
      |  FROM c8),
      |scored AS (
      |  SELECT cand.qid, cand.vid,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> qv.code[i] * cv.code[i])) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qv.cn AS DOUBLE)) * sqrt(CAST(cv.cn AS DOUBLE))) AS cos
      |  FROM cand
      |  JOIN n8 qv ON qv.vec_id = cand.qid
      |  JOIN n8 cv ON cv.vec_id = cand.vid),""".stripMargin
    } else {
      sb ++= s"""
      |scored AS (
      |  SELECT cand.qid, cand.vid,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> qv.q[i] * cv.q[i])) AS BIGINT) AS DOUBLE)
      |      / (sqrt(CAST(qv.nrm AS DOUBLE)) * sqrt(CAST(cv.nrm AS DOUBLE))) AS cos
      |  FROM cand
      |  JOIN n qv ON qv.vec_id = cand.qid
      |  JOIN n cv ON cv.vec_id = cand.vid),""".stripMargin
    }
    sb ++= s"""
      |r AS (
      |  SELECT qid, vid, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk
      |  FROM scored)
      |SELECT qid, rnk, vid, cos FROM r WHERE rnk <= $k
      |ORDER BY qid, rnk""".stripMargin
    sb.toString
  }

  private val l3Sql =
    """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, q,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
        |  FROM e),
        |pairs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS vid,
        |    CAST(CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
        |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (0, 1, 2)),
        |r AS (
        |  SELECT qid, vid, cos,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INT) AS rnk
        |  FROM pairs)
        |SELECT qid, rnk, vid, cos FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin

  val oracle: Map[String, String] = Map(
    "l1_exact_dedup" ->
      """SELECT sha256(lower(trim(text))) AS h,
        |  min(doc_id) AS survivor, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "l2_tokenset_neardup" ->
      """WITH sigs AS (
        |  SELECT doc_id,
        |    sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig
        |  FROM documents)
        |SELECT sig,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
        |  count(*) AS n
        |FROM sigs GROUP BY sig HAVING count(*) > 1 ORDER BY sig""".stripMargin,
    "l3_cosine_topk" -> l3Sql,
    "l3b_native_topk" -> l3Sql, // native expression must not change results
    "x5_dot_rewrite" -> l3Sql, // optimizer rewrite must not change results
    // l3c — the IVF pipeline is integer-exact end-to-end (floor-quantized
    // k-means centroids, BIGINT distances, min-encoded argmin), so the
    // DuckDB oracle replays the SAME declared semantics — including the 5
    // Lloyd training iterations, unrolled as CTEs GENERATED from the same
    // Scala constants as the Spark pipeline. The approximation is in the
    // contract (probe 4 of 10 cells, 2-cell multi-assignment), not in
    // engine-private state.
    "l3c_ivf_topk" -> ivfSql(nprobe = IvfNprobe, k = 5, iters = IvfIters,
                             rassign = IvfRassign, qids = IvfQids),
    // l3d — same generated replay with the scored CTE switched to the
    // int8-quantized cosine (quantization itself replayed from l29's
    // exact arithmetic)
    "l3d_ivf_int8" -> ivfSql(nprobe = IvfNprobe, k = 5, iters = IvfIters,
                             rassign = IvfRassign, qids = IvfQids,
                             int8 = true),
    // l34 — the same generated training prefix + the augmentation /
    // assignment / intra-cell pairwise replay (see l34Sql)
    "l34_semantic_dedup" -> l34Sql,
    // l34b — at the gate sfs the auto dial resolves to split=1, so the
    // same generated replay gates it; the >1 branch is property-pinned
    "l34b_semantic_autok" -> l34Sql,
    // l3e — per-subspace PQ training, coding, ADC scan and exact rerank,
    // all generated from the same Scala constants (see l3eSql)
    "l3e_pq_topk" -> l3eSql(),
    // l3f — the l3c candidate CTEs composed with the l3e PQ pipeline,
    // ADC restricted to the candidate set (see l3fSql)
    "l3f_ivfpq_topk" -> l3fSql(),
    // l3g — coarse training + candidates + residual-codebook training
    // + combined-reconstruction ADC + rerank, generated end-to-end
    // (see l3gSql)
    "l3g_ivfadc_topk" -> l3gSql(),

    "l4_token_stats" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS n FROM t GROUP BY token
        |ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,
    "l5_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.token,
        |  CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |ORDER BY score DESC, doc_id ASC, token ASC LIMIT 10""".stripMargin,
    "l6_ngrams" ->
      """WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM d)
        |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 50""".stripMargin,
    "l7_lang_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "l8_multimodal" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  sha256(text) AS content_sha,
        |  lang AS meta_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "l9_centroids" ->
      """WITH e AS (
        |  SELECT label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |x AS (
        |  SELECT label, unnest(generate_series(1, len(q))) AS i, q FROM e)
        |SELECT label, CAST(i - 1 AS INT) AS dim,
        |  CAST(CAST(sum(q[i]) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000.0 AS c
        |FROM x GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "l28_cooccur" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)),
        |df AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
        |top AS (SELECT token, df FROM df
        |        ORDER BY df DESC, token ASC LIMIT 100),
        |vt AS (SELECT tok.doc_id, tok.token, top.df
        |       FROM tok JOIN top USING (token)),
        |p AS (SELECT a.token AS t1, b.token AS t2,
        |        a.df AS df1, b.df AS df2, count(*) AS n_ab
        |      FROM vt a JOIN vt b
        |        ON a.doc_id = b.doc_id AND a.token < b.token
        |      GROUP BY 1, 2, 3, 4),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT t1, t2, n_ab,
        |  CAST(n_ab * n.n AS DOUBLE) / CAST(df1 * df2 AS DOUBLE) AS lift
        |FROM p CROSS JOIN n
        |WHERE n_ab >= 5
        |ORDER BY lift DESC, t1 ASC, t2 ASC LIMIT 50""".stripMargin,
    "l29_quantize" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q6
        |  FROM embeddings),
        |m AS (SELECT vec_id, q6,
        |        list_max(list_transform(q6, x -> abs(x))) AS m FROM b),
        |c AS (SELECT vec_id, q6, m,
        |    list_transform(q6, x -> CASE WHEN m = 0 THEN 0
        |      ELSE least(127, greatest(-127,
        |        CAST(floor(CAST(x * 127 AS DOUBLE) / CAST(m AS DOUBLE)
        |          + 0.5) AS BIGINT))) END) AS code
        |  FROM m)
        |SELECT vec_id,
        |  list_min(code) AS q_min,
        |  list_max(code) AS q_max,
        |  CAST(list_sum(code) AS BIGINT) AS q_sum,
        |  CAST(len(list_filter(code, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
        |  CAST(list_sum(list_transform(generate_series(1, len(q6)),
        |    i -> CAST(floor(abs(CAST(q6[i] AS DOUBLE)
        |      - CAST(code[i] * m AS DOUBLE) / 127.0) + 0.5) AS BIGINT)))
        |    AS BIGINT) AS err_micro
        |FROM c ORDER BY vec_id""".stripMargin,
    "x1_udf" ->
      """SELECT doc_id,
        |  lower(regexp_replace(lang || '_' || source, '[^a-zA-Z0-9]+', '-', 'g')) AS slug
        |FROM documents ORDER BY doc_id""".stripMargin,
    // x4 — the median is spelled out (row_number + explicit lo/hi
    // interpolation) rather than DuckDB's builtin median, so both
    // engines execute the identical IEEE expression
    "x4_mapgroups" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal) AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM customer),
        |m AS (
        |  SELECT c_nationkey, max(n) AS n,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN c_acctbal END) AS lo,
        |    max(CASE WHEN rn = n // 2 + 1 THEN c_acctbal END) AS hi
        |  FROM r GROUP BY c_nationkey)
        |SELECT c_nationkey, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n % 2 = 1 THEN lo
        |       ELSE lo + (hi - lo) * 0.5 END AS median_bal
        |FROM m ORDER BY c_nationkey""".stripMargin
  )
}
