package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{BuildOnce, Tables}

/** L40 — BPE merge training (SURVEY §2.10): learn a byte-pair-encoding
  * merge table from the corpus (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") and re-tokenize the
  * corpus under the trained vocabulary. This is the one member of the
  * tokenization family L21's fixed-regex counter cannot provide: L21
  * COUNTS pieces under a static rule; L40 LEARNS the pieces.
  *
  * Algorithm (the standard word-level BPE trainer):
  *  1. word-frequency table over the corpus (2-phase groupBy — the only
  *     corpus-scale pass in training);
  *  2. training vocabulary = top-`VocabCap` words by (freq DESC, word
  *     ASC) — the standard frequency-truncated trainer input, and the
  *     bound that makes every later stage corpus-size-INDEPENDENT;
  *  3. `Merges` rounds over the VocabCap-bounded table, DRIVER-SIDE
  *     (r21 — see trainUncached): count adjacent symbol pairs weighted
  *     by word freq, pick the argmax pair under the deterministic
  *     (cnt DESC, x ASC, y ASC) tie-break in Spark/DuckDB binary
  *     string order, and re-segment every word greedily left-to-right
  *     ([[mergeSeq]] ≡ the Catalyst fold [[mergeCol]]). A round with
  *     no pair of weighted count ≥ `MinPair` stops training (the stop
  *     is stable: merging only ever removes qualifying pairs of the
  *     argmax round).
  *  4. the trained model = the merge table (≤ `Merges` rows) + the final
  *     per-word segmentation (≤ `VocabCap` rows) — an index artifact,
  *     cached per corpus fingerprint like the IVF/PQ codebooks.
  *
  * Encoding (`l40b`) joins the corpus's word occurrences against the
  * BROADCAST segmentation table: token count = |syms| for trained
  * words, character count for out-of-vocabulary words (symbols = chars,
  * no merges apply) — a total, engine-replayable rule.
  *
  * 100 TB shape: the corpus-scale work is one word-count aggregation
  * (training) and one broadcast-join scan (encoding). Driver traffic
  * for training is ONE collect of the truncated top-VocabCap word
  * table (the trainCentroids driver-held-model contract); the 50
  * merge rounds then fold that ≤1000-row table in memory — no Spark
  * job, no lineage, no shuffle is paid per round at ANY corpus size,
  * because the round input is corpus-size-independent by the VocabCap
  * bound above.
  *
  * Determinism: counts are exact integers; the tie-break is total;
  * string comparison is binary in both engines. The DuckDB oracle
  * replays the full trainer — vocabulary, every round's pair counts,
  * argmax and greedy re-segmentation (`list_reduce` over singleton
  * lists, seeded empty — the l33 `list_prepend` fold idiom), unrolled
  * from the SAME Scala constants (the l3c generated-oracle idiom). */
object Bpe {

  /** Training-vocabulary cap: top-V words by frequency. The bound that
    * makes per-round cost and the final collect corpus-size-independent
    * (every shipped sf's distinct-word count sits far below it — the
    * cap exists for the 100 TB story, where the word table is millions
    * of rows and the trainer input must be truncated). */
  val VocabCap = 1000

  /** Merge-table size: rounds of pair-merge training. */
  val Merges = 50

  /** Minimum weighted pair count for a merge to fire (merging a
    * once-seen pair learns noise; the stop rule below MinPair is
    * replayed by the oracle's HAVING). */
  val MinPair = 2L

  /** Trained model: merge table (rank, lhs, rhs, weighted freq) + final
    * word segmentation (word, freq, symbols). Both driver-held and
    * bounded (≤ Merges rows; ≤ VocabCap rows). */
  final case class Model(merges: Seq[(Int, String, String, Long)],
                         seg: Seq[(String, Long, Seq[String])])

  /** The trained model of the corpus at `d`: a build-once artifact
    * ([[graft.core.BuildOnce]]) keyed by the documents' fingerprint, so
    * a regenerated corpus at the same path retrains, never serves stale
    * merges. */
  def train(s: SparkSession, d: String): Model =
    BuildOnce("bpe-model", (), d, "documents")(trainUncached(s, d))

  /** Cache-bypassing trainer, backing the `l40c_bpe_train_fresh`
    * query: the cached l40 row measures the model-read path (training
    * is a build-once artifact, see [[train]]); this measures
    * the 50 training rounds themselves, which is the part whose corpus
    * scaling matters (e 0.12 at 10×, the `l40_bpe_train_fresh` row of
    * SCALE_r19.json). */
  private[graft] def trainFresh(s: SparkSession, d: String): Model =
    trainUncached(s, d)

  /** One greedy left-to-right application of merge (x, y) to a symbol
    * array, as a Catalyst `aggregate` fold (no UDF): the accumulator is
    * the output array; a symbol equal to y whose predecessor in the
    * accumulator is x replaces that predecessor with the merged symbol
    * (and the merged symbol does NOT re-merge with a following y — the
    * standard non-overlapping greedy pass: "aaa" + (a,a) → [aa, a]).
    * The size(acc) > 0 guard short-circuits (Catalyst And) so
    * element_at never sees index 0. Exposed for the BpeSpec pin against
    * a reference Scala implementation. */
  private[graft] def mergeCol(syms: Column, x: String, y: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, sym) =>
        when(size(acc) > 0 &&
             element_at(acc, size(acc)) === lit(x) && sym === lit(y),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
          .otherwise(concat(acc, array(sym))))

  /** Adjacent-pair weighted counts of a segmentation relation, the
    * per-round 2-phase aggregation (exposed for BpeSpec). */
  private[graft] def pairCounts(seg: DataFrame): DataFrame =
    seg.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> named_struct(" +
        "'x', element_at(syms, i), 'y', element_at(syms, i + 1)))")).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum(col("freq")).as("cnt"))

  /** Spark-binary (UTF-8 unsigned byte) string order — the order
    * Spark's `col.asc` and DuckDB's default collation both apply. The
    * driver-side argmax must tie-break in EXACTLY this order; Scala's
    * String.compareTo is UTF-16 code-unit order, which diverges on
    * supplementary-plane characters. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** One greedy merge pass, driver-side — semantics identical to
    * [[mergeCol]] (BpeSpec pins the two against each other): a symbol
    * equal to y whose predecessor in the output is x replaces that
    * predecessor with x+y, and the merged symbol does not re-merge
    * with a following y. */
  private[graft] def mergeSeq(syms: IndexedSeq[String], x: String,
                              y: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    syms.foreach { sym =>
      if (out.nonEmpty && out.last == x && sym == y)
        out(out.length - 1) = x + y
      else out += sym
    }
    out.toIndexedSeq
  }

  /** The 50 training rounds, driver-side (r21, optimization guide
    * §1.2: fix the distributed algorithm first). The corpus-scale pass
    * — word count + top-VocabCap truncation — stays a distributed
    * 2-phase aggregation with a TakeOrdered head; everything after it
    * operates on a relation BOUNDED at VocabCap rows by the trainer's
    * own declared design ("the bound that makes every later stage
    * corpus-size-independent"), so iterating it as 50 Spark jobs paid
    * ~50 × (job scheduling + stacked-fold codegen) for ≤1000 rows of
    * work — the measured p50 was 6.9 s at sf0.1, ~85% of it the round
    * loop. Collecting the truncated table once (the trainCentroids
    * driver-held-model precedent) and folding on the driver computes
    * the SAME model: word split replays substring-by-codepoint, the
    * argmax tie-break replays Spark/DuckDB binary string order
    * ([[utf8Lt]]), and the greedy pass is [[mergeSeq]] ≡ [[mergeCol]].
    * The oracle (unchanged) replays the full trainer in DuckDB, so the
    * hash gate checks the equivalence on every run. */
  private def trainUncached(s: SparkSession, d: String): Model = {
    val top = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(VocabCap)
      .collect() // ≤ VocabCap rows — driver-bounded by construction
    // initial segmentation: one symbol per CODEPOINT, matching
    // transform(sequence(1, length(word)), i -> substring(word, i, 1))
    var seg: Array[(String, Long, IndexedSeq[String])] = top.map { r =>
      val w = r.getString(0)
      (w, r.getLong(1),
        w.codePoints().toArray.toIndexedSeq
          .map(cp => new String(Character.toChars(cp))))
    }
    val merges = scala.collection.mutable.ListBuffer[(Int, String, String, Long)]()
    var t = 1
    var done = false
    while (t <= Merges && !done) {
      val counts = scala.collection.mutable.LinkedHashMap[(String, String), Long]()
      seg.foreach { case (_, freq, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + freq
          i += 1
        }
      }
      // reduceOption in ONE pass: Iterator.isEmpty-then-reduce leaves
      // the iterator undefined per the Iterator contract (advisor r21)
      val best = counts.iterator.filter(_._2 >= MinPair)
        .reduceOption { (a, b) =>
          val ((ax, ay), ac) = a; val ((bx, by), bc) = b
          if (ac != bc) { if (ac > bc) a else b }
          else if (ax != bx) { if (utf8Lt(ax, bx)) a else b }
          else if (utf8Lt(ay, by)) a else b
        }
      best match {
        case None => done = true
        case Some(((x, y), c)) =>
          merges += ((t, x, y, c))
          seg = seg.map { case (w, f, syms) => (w, f, mergeSeq(syms, x, y)) }
          t += 1
      }
    }
    Model(merges.toList,
      seg.map { case (w, f, syms) => (w, f, syms.toList) }.toSeq)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L40 — the trained merge table itself: rank order IS training
    // order, pair_freq the argmax weighted count that round.
    "l40_bpe_train" -> ((s, d) => {
      import s.implicits._
      train(s, d).merges.toDF("merge_rank", "lhs", "rhs", "pair_freq")
        .orderBy(col("merge_rank"))
    }),

    // L40c — BENCH-HONESTY row: the same merge table computed with the
    // model cache BYPASSED, so the committed bench prices the 50
    // training rounds themselves (the l40 row, by the build-once cache
    // contract, prices the model-read path — the r12 verdict's
    // "measures the cache, not the trainer" note). Verify hashes it
    // against the same oracle as l40 (training is deterministic, so
    // fresh == cached by construction); Bench re-invokes the thunk per
    // timed run, so every timed run retrains.
    "l40c_bpe_train_fresh" -> ((s, d) => {
      import s.implicits._
      trainFresh(s, d).merges.toDF("merge_rank", "lhs", "rhs", "pair_freq")
        .orderBy(col("merge_rank"))
    }),

    // L40b — the corpus re-tokenized under the trained vocabulary:
    // per-doc whitespace-word count and BPE token count (|syms| for
    // trained words, character count for OOV). One broadcast join +
    // one groupBy — map-side at any corpus size.
    "l40b_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val segDf = broadcast(
        train(s, d).seg.map { case (w, _, sy) => (w, sy.length.toLong) }
          .toDF("word", "n_sym"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .join(segDf, Seq("word"), "left")
        .select(col("doc_id"),
          coalesce(col("n_sym"), length(col("word")).cast(LongType)).as("nt"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_bpe"))
        .orderBy(col("doc_id"))
    })
  )

  /** The shared trainer CTE chain (wc → tv → w0 → {p,b,w}1..Merges),
    * generated from the SAME constants the Spark trainer uses. The w/b
    * CTEs are MATERIALIZED: each is referenced more than once and an
    * inlining engine would otherwise re-execute the whole prefix per
    * reference. `list_reduce` seeds the fold with an empty VARCHAR[]
    * via `list_prepend` (the l33 idiom) over singleton-wrapped symbols,
    * because DuckDB's reduce accumulator must share the element type. */
  private def trainerCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH wc AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word),
      |tv AS (SELECT word, freq FROM wc
      |       ORDER BY freq DESC, word ASC LIMIT $VocabCap),
      |w0 AS MATERIALIZED (
      |  SELECT word, freq,
      |    list_transform(generate_series(1, length(word)),
      |                   i -> substr(word, i, 1)) AS syms
      |  FROM tv)""".stripMargin
    for (t <- 1 to Merges) {
      val p = s"w${t - 1}"
      sb ++= s""",
      |p$t AS (
      |  SELECT syms[i] AS x, syms[i + 1] AS y,
      |    CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
      |        FROM $p WHERE len(syms) >= 2)
      |  GROUP BY 1, 2 HAVING sum(freq) >= $MinPair),
      |b$t AS MATERIALIZED (
      |  SELECT x, y, cnt FROM p$t ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
      |w$t AS MATERIALIZED (
      |  SELECT w.word, w.freq,
      |    CASE WHEN b.x IS NULL THEN w.syms
      |         ELSE list_reduce(
      |           list_prepend(CAST([] AS VARCHAR[]),
      |                        list_transform(w.syms, s -> [s])),
      |           (acc, e) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = b.x
      |                                 AND e[1] = b.y
      |                       THEN acc[1:len(acc)-1] || [b.x || b.y]
      |                       ELSE acc || e END) END AS syms
      |  FROM $p w LEFT JOIN b$t b ON true)""".stripMargin
    }
    sb.toString
  }

  /** l40 oracle: the merge table = each round's argmax row. */
  private def l40Sql: String = {
    val union = (1 to Merges).map(t =>
      s"SELECT CAST($t AS INT) AS merge_rank, x AS lhs, y AS rhs, cnt AS pair_freq FROM b$t")
      .mkString("\n  UNION ALL ")
    s"""$trainerCtes
      |SELECT merge_rank, lhs, rhs, pair_freq FROM (
      |  $union)
      |ORDER BY merge_rank""".stripMargin
  }

  /** l40b oracle: occurrences joined against the final segmentation. */
  private def l40bSql: String =
    s"""$trainerCtes,
      |occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents),
      |tc AS (
      |  SELECT o.doc_id,
      |    CASE WHEN s.word IS NULL THEN CAST(length(o.word) AS BIGINT)
      |         ELSE CAST(len(s.syms) AS BIGINT) END AS nt
      |  FROM occ o LEFT JOIN w$Merges s ON s.word = o.word)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(nt) AS BIGINT) AS n_bpe
      |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "l40_bpe_train" -> l40Sql,
    // l40c is the same trainer with the cache bypassed — same oracle
    // (determinism: fresh == cached is part of what the hash checks)
    "l40c_bpe_train_fresh" -> l40Sql,
    "l40b_bpe_encode" -> l40bSql
  )
}
