package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Canon, Tables}

/** SURVEY.md §2.5 window functions W1–W6.
  *
  * 100 TB notes: every window here is PARTITIONED (by nation, customer, or
  * user) — never `OVER ()` — so each partition's sort is local to a task
  * after a hash shuffle on the partition key; no single-task global sort
  * anywhere. Skewed partition keys are the residual risk at scale; AQE
  * skew handling covers the shuffle, and the per-key row counts here
  * (orders per customer, events per user) are naturally bounded.
  */
object Windows {
  import Canon.{money, d}

  /** Per-customer revenue with nation key — shared base for W1/W2. */
  private def custRev(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1 — ranking family: row_number / rank / dense_rank / ntile within
    // nation, ordered by exact-decimal revenue (ties broken by custkey).
    "w1_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("rev").desc, col("c_custkey").asc)
      custRev(s, dir).select(
        col("c_nationkey"), col("c_custkey"), d(col("rev")).as("rev"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        // exact small-integer ratios — bit-identical in any engine
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"))
        .orderBy(col("c_nationkey"), col("rn"))
    }),

    // W2 — Top-N per group: top-3 customers by revenue per nation.
    "w2_topn" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("rev").desc, col("c_custkey").asc)
      custRev(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("c_nationkey"), col("c_custkey"),
                d(col("rev")).as("rev"), col("rn"))
        .orderBy(col("c_nationkey"), col("rn"))
    }),

    // W3 — lag/lead: per-user gap in seconds between consecutive events.
    "w3_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("next_id", lead(col("event_id"), 1).over(w))
        .select(col("user_id"), col("event_id"),
                (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
                  .as("gap_s"),
                col("next_id"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // W4 — frames: running revenue per customer (ROWS unbounded..current)
    // and a 7-day moving sum (RANGE over epoch seconds — numeric range
    // frames behave identically in Spark and DuckDB; interval frames have
    // engine-specific corner semantics).
    "w4_frames" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("sec"),
        money(col("o_totalprice")).as("price"))
      val wRun = Window.partitionBy(col("o_custkey"))
        .orderBy(col("sec"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wMov = Window.partitionBy(col("o_custkey"))
        .orderBy(col("sec"))
        .rangeBetween(-7L * 86400, 0)
      base.select(
        col("o_custkey"), col("o_orderkey"),
        d(sum(col("price")).over(wRun)).as("running_rev"),
        d(sum(col("price")).over(wMov)).as("mov7_rev"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // W5 — first/last over the full frame: first and latest order
    // priority per customer (deterministic order: orderdate, orderkey).
    "w5_firstlast" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir).select(
        col("o_custkey"),
        first(col("o_orderpriority")).over(w).as("first_prio"),
        last(col("o_orderpriority")).over(w).as("last_prio"))
        .distinct()
        .orderBy(col("o_custkey"))
    }),

    // W6 — IGNORE NULLS analytics (gap-filling / last-observation-carried-
    // forward, the classic sparse-sensor pattern): for each order, the
    // totalprice of the customer's most recent STRICTLY EARLIER urgent
    // order. The conditional projection makes non-urgent rows NULL and
    // `last(..., ignoreNulls)` skips them inside the frame; the frame ends
    // at 1 PRECEDING so an urgent order never sees itself.
    // 100 TB: same shuffle/sort shape as W4 (partition by customer) —
    // ignore-nulls is frame-local, no extra pass.
    "w6_ignore_nulls" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        d(last(when(col("o_orderpriority") === "1-URGENT",
                    money(col("o_totalprice"))),
               ignoreNulls = true).over(w)).as("prev_urgent_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // W7 — DISTINCT-count over a window. Spark's analyzer rejects
    // DISTINCT aggregates in windows outright, so the engine-side form is
    // the standard dense_rank rewrite: dense_rank orders the partition by
    // the counted column, so its per-partition max IS the distinct count.
    // The oracle runs DuckDB's native count(DISTINCT …) OVER — two
    // different plans, one pinned semantics.
    // 100 TB: both window passes share ONE hash shuffle on o_custkey;
    // the two local sorts (by priority, then unordered max) are
    // task-local. No second shuffle, no distinct-explosion.
    "w7_distinct_window" -> ((s, dir) => {
      val wOrd = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderpriority"))
      val wAll = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
                dense_rank().over(wOrd).as("dr"))
        .select(col("o_custkey"), col("o_orderkey"),
                max(col("dr")).over(wAll)
                  .cast(org.apache.spark.sql.types.LongType).as("n_prio"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // W8 — BATCH session windows: `session_window(ts, gap)` inside a
    // plain groupBy (the batch face of S3's streaming operator — Spark
    // lowers it to sort-within-user + merge-overlapping-[ts, ts+gap)
    // intervals, no state store). Per-user session stats, all exact
    // integers (durations in µs: for a fixed gap the merged end is
    // last_ts + gap, so duration = last − first + gap). The oracle is
    // the s3b interval-union island scan with a constant extend and NO
    // watermark clause — batch sees everything, nothing evicts.
    // 100 TB: one hash shuffle on user_id + task-local sort — the same
    // shape as any partitioned window; no all-pairs, no state.
    "w8_batch_session" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n_ev"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(col("n_ev")).as("n_events"),
             max(col("n_ev")).as("max_session"),
             sum(unix_micros(col("session_window.end")) -
                 unix_micros(col("session_window.start")))
               .as("total_dur_us"))
        .orderBy(col("user_id"))
    }),

    // W9 — BATCH CEP / sequence-pattern detection (the batch face of
    // S8's streaming funnel and S14's absence operator): per user, the
    // full ts-ordered event-type sequence reduced to a letter string,
    // then matched against the STRICT pattern view·click·purchase
    // (contiguous, no intervening events — MATCH_RECOGNIZE's default
    // row-per-match strictness, and S8's funnel flavor) as one regex. The per-key ordered fold is
    // array_sort(collect_list(struct(ts, event_id, type))) — the
    // struct's field order IS the sort key, so the sequence is total
    // and deterministic (ts ties broken by event_id, the repo-wide
    // convention). 100 TB: one hash shuffle on user_id, per-user
    // sequences are session-bounded in practice (the w8 gap analysis
    // caps them); for adversarially long keys the same pattern runs
    // per (user, session_window) — the composition is w8 ∘ w9, no new
    // machinery. No window function, no self-join per pattern step —
    // MATCH_RECOGNIZE semantics from one aggregate + one regex.
    // Hyperactive-key GUARD (w9/w9b shared): the sorted array is
    // sliced to MaxEventsPerKey before matching — a deterministic
    // truncation (first cap events by (ts, event_id)) that bounds the
    // per-task array regardless of key skew; n_events stays the FULL
    // pre-cap count, so n_events > MaxEventsPerKey IS the overflow
    // flag (no schema change, invisible at every shipped sf where the
    // per-user max is ~3 orders of magnitude under the cap;
    // FunctionsSpec "W9/W9b hyperactive-key cap" pins the truncation
    // semantics at a tiny injected cap).
    "w9_seq_pattern" -> ((s, dir) =>
      w9Converted(Tables.events(s, dir), MaxEventsPerKey)),

    // W9b — SKIP-TILL-NEXT-MATCH sequence pattern with a time bound:
    // the general CEP match mode W9's strict contiguity cannot express
    // (MATCH_RECOGNIZE's AFTER MATCH SKIP / Flink CEP's followedBy +
    // within): a non-contiguous ordered subsequence v … c … p whose
    // first element lies within SkipWindowUs of the completing event.
    // Same per-user sorted-array aggregate as W9, then ONE aggregate()
    // fold automaton (skipPatternCount) — O(|pattern|) state per key,
    // one linear pass, never a self-join per pattern step. The 24 h
    // width is the s8c calibration: the natural corpus completes at
    // every shipped sf (the 1 h production width first completes at
    // sf0.1), so the row is non-vacuous at the gate; equivalence with
    // the s8c streaming funnel's conversion multiset is pinned in
    // `test/FunctionsSpec.scala` "W9b". Hyperactive-key note (w9/w9b
    // shared): the collected per-user array is bounded by per-user
    // event cardinality — session-bounded in this corpus; for
    // adversarial keys compose with w8's session_window (w8 ∘ w9) or
    // pre-aggregate per (user, day) — the fold state itself is O(1).
    // Plus the hyperactive-key guard (see w9): slice to
    // MaxEventsPerKey post-sort, overflow detectable via n_events.
    "w9b_skip_pattern" -> ((s, dir) =>
      w9bCounts(Tables.events(s, dir), "vcp", SkipWindowUs,
        MaxEventsPerKey))
  )

  /** Per-key array cap for the w9/w9b sequence matchers: a hyperactive
    * key's sorted event array is truncated to its first MaxEventsPerKey
    * elements (by (ts, event_id)) before matching, bounding per-task
    * memory under adversarial skew. n_events reports the UNCAPPED
    * count, so `n_events > MaxEventsPerKey` flags a truncated key to
    * consumers. 2^20 events ≈ 48 MB of struct rows per worst-case key —
    * safely inside an executor task; every shipped sf peaks ~3 orders
    * of magnitude lower. */
  private[graft] val MaxEventsPerKey: Int = 1 << 20

  /** W9 body, cap-parameterized (the query passes MaxEventsPerKey;
    * FunctionsSpec pins truncation semantics at a tiny cap). */
  private[graft] def w9Converted(events: DataFrame, cap: Int): DataFrame =
    events
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("event_type")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(col("user_id"), size(col("es")).cast("long").as("n_events"),
        // explicit letter map, NOT substring(type,1,1): a future event
        // type sharing an initial with v/c/p must not silently alias
        // into the pattern — unknown types map to 'x'
        concat_ws("", transform(slice(col("es"), 1, cap),
          x => when(x.getField("event_type") === "view", lit("v"))
            .when(x.getField("event_type") === "click", lit("c"))
            .when(x.getField("event_type") === "purchase", lit("p"))
            .otherwise(lit("x")))).as("sq"))
      .select(col("user_id"), col("n_events"),
        col("sq").rlike("vcp").as("converted"))
      .orderBy(col("user_id"))

  /** W9b body, cap-parameterized. */
  private[graft] def w9bCounts(events: DataFrame, pattern: String,
                               windowUs: Long, cap: Int): DataFrame = {
    val letter = when(col("event_type") === "view", lit("v"))
      .when(col("event_type") === "click", lit("c"))
      .when(col("event_type") === "purchase", lit("p"))
      .otherwise(lit("x"))
    events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("tsu"), col("event_id"),
          letter.as("l")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(col("user_id"), size(col("es")).cast("long").as("n_events"),
        skipPatternCount(slice(col("es"), 1, cap), pattern, windowUs)
          .as("n_completions"))
      .orderBy(col("user_id"))
  }

  /** W9b window (µs): 24 h — the s8c width at which the natural corpus
    * completes v·c·p at every shipped sf. */
  val SkipWindowUs: Long = 24L * 3600L * 1000000L

  /** The skip-till-next-match fold for `pattern` over a per-key sorted
    * event array `es` (array<struct<tsu: bigint, event_id: bigint,
    * l: string>>): counts COMPLETIONS — events carrying the pattern's
    * last letter at which some ordered subsequence matching the full
    * pattern ends with its first element no older than `windowUs`.
    *
    * One linear pass, O(|pattern|) state: m(k) = the LATEST possible
    * start ts over subsequences matching pattern[0..k] among events
    * processed so far (−1 = none — safe because tsu − windowUs is
    * always positive here). Every slot updates from the PRE-event
    * state simultaneously, so one event never serves two positions of
    * the same match and repeated pattern letters stay correct; the
    * event completes iff it carries the last letter and m(n−2) ≥
    * ts − W (a full match with start ≥ ts − W exists iff the max
    * start over prefix-(n−1) matches clears the horizon — the greedy
    * max-start DP). Exposed for FunctionsSpec's generic-pattern and
    * s8c-equivalence pins. */
  private[graft] def skipPatternCount(es: Column, pattern: String,
                                      windowUs: Long): Column = {
    val n = pattern.length
    require(n >= 2, s"pattern too short for a sequence: $pattern")
    val init = struct(
      array(Seq.fill(n - 1)(lit(-1L)): _*).as("m"),
      lit(0L).as("cnt"))
    aggregate(es, init, (acc, x) => {
      val l = x.getField("l")
      val t = x.getField("tsu")
      val m = (0 until n - 1).map(k => acc.getField("m").getItem(k))
      val upd = (0 until n - 1).map { k =>
        val hit = l === lit(pattern(k).toString)
        if (k == 0) when(hit, greatest(m(0), t)).otherwise(m(0))
        else when(hit && m(k - 1) >= 0, greatest(m(k), m(k - 1)))
          .otherwise(m(k))
      }
      val complete = (l === lit(pattern(n - 1).toString)) &&
        (m(n - 2) >= t - lit(windowUs))
      struct(array(upd: _*).as("m"),
        (acc.getField("cnt") +
          when(complete, lit(1L)).otherwise(lit(0L))).as("cnt"))
    }).getField("cnt")
  }

  val oracle: Map[String, String] = Map(
    "w1_rank" ->
      """WITH cr AS (
        |  SELECT c_nationkey, c_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, c_custkey)
        |SELECT c_nationkey, c_custkey, CAST(rev AS DOUBLE) AS rev,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist
        |FROM cr
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY rev DESC, c_custkey ASC)
        |ORDER BY c_nationkey, rn""".stripMargin,
    "w2_topn" ->
      """WITH cr AS (
        |  SELECT c_nationkey, c_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, c_custkey),
        |r AS (
        |  SELECT c_nationkey, c_custkey, rev,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY rev DESC, c_custkey ASC) AS INT) AS rn
        |  FROM cr)
        |SELECT c_nationkey, c_custkey, CAST(rev AS DOUBLE) AS rev, rn
        |FROM r WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,
    "w3_lag" ->
      """SELECT user_id, event_id,
        |  date_diff('second', lag(ts) OVER w, ts) AS gap_s,
        |  lead(event_id) OVER w AS next_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "w4_frames" ->
      """WITH b AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(epoch(o_orderdate) AS BIGINT) AS sec,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY sec, o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev,
        |  CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY sec
        |       RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov7_rev
        |FROM b ORDER BY o_custkey, o_orderkey""".stripMargin,
    "w5_firstlast" ->
      """SELECT DISTINCT o_custkey,
        |  first_value(o_orderpriority) OVER w AS first_prio,
        |  last_value(o_orderpriority) OVER w AS last_prio
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey""".stripMargin,
    // DuckDB puts IGNORE NULLS inside the call parens (Spark's parser puts
    // it after them — the one syntax divergence, noted in SURVEY §2.5).
    "w6_ignore_nulls" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(last_value(CASE WHEN o_orderpriority = '1-URGENT'
        |                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END
        |                  IGNORE NULLS) OVER w AS DOUBLE) AS prev_urgent_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // DuckDB's native windowed DISTINCT aggregate — the engine reaches the
    // same numbers through the dense_rank rewrite above.
    "w7_distinct_window" ->
      """SELECT o_custkey, o_orderkey,
        |  count(DISTINCT o_orderpriority)
        |    OVER (PARTITION BY o_custkey) AS n_prio
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // w8 — fixed-gap interval-union islands (s3b's scan, constant
    // extend, no eviction clause: batch semantics)
    "w8_batch_session" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    max(ts + INTERVAL 10 MINUTE) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN pme IS NULL OR ts >= pme THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |sess AS (
        |  SELECT user_id, sid, count(*) AS n_ev,
        |    CAST(epoch_us(max(ts) + INTERVAL 10 MINUTE)
        |         - epoch_us(min(ts)) AS BIGINT) AS dur_us
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events,
        |  CAST(max(n_ev) AS BIGINT) AS max_session,
        |  CAST(sum(dur_us) AS BIGINT) AS total_dur_us
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    // w9 — the same total order (ts, event_id) via string_agg ORDER BY,
    // the same subsequence regex, the same explicit letter map
    "w9_seq_pattern" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  regexp_matches(string_agg(
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'x' END, ''
        |    ORDER BY ts, event_id), 'vcp') AS converted
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // w9b — the max-start DP as two chained strictly-preceding window
    // maxima (ROWS … 1 PRECEDING == the fold's pre-event state): m1 =
    // latest view before the row, m2 = latest view that precedes some
    // click before the row; a purchase completes iff m2 clears the
    // 24 h horizon. DuckDB-only window shape (CASE-wrapped max — no
    // FILTER clause needed), one window pass per pattern step.
    "w9b_skip_pattern" ->
      """WITH e9b AS (
        |  SELECT user_id, event_id, ts,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'x' END AS l
        |  FROM events),
        |s1b AS (
        |  SELECT user_id, event_id, ts, l,
        |    max(CASE WHEN l = 'v' THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
        |  FROM e9b),
        |s2b AS (
        |  SELECT user_id, event_id, ts, l,
        |    max(CASE WHEN l = 'c' THEN m1 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m2
        |  FROM s1b)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (WHERE l = 'p' AND m2 IS NOT NULL
        |    AND m2 >= ts - INTERVAL 24 HOUR) AS BIGINT) AS n_completions
        |FROM s2b GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
