package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Canon, Tables}

/** SURVEY.md §2.3 joins J1–J8 + J11 (J9/J10 are stream joins, see
  * graft.streaming.Streams). Canonical checks per the declared contract;
  * reference surface is the declared inventory (the reference repo is a
  * 1-line stub — /root/reference/README.md:1).
  *
  * 100 TB notes per query are inline. General rules (SURVEY §6):
  * small dims (region, nation) get explicit `broadcast()`; fact⋈fact
  * joins shuffle on their keys (sort-merge + AQE skew handling);
  * range joins are bucketized to an equi-join so they never degenerate
  * into a broadcast-nested-loop at scale.
  */
object Joins {
  import Canon.{money, d}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1 — inner equi-join chain: revenue per region.
    // 100 TB: orders⋈customer shuffles on custkey (SMJ); nation/region are
    // tiny and AQE broadcasts them. The aggregate is 2-phase on r_name.
    "j1_inner" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(d(sum(money(col("o_totalprice")))).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))),

    // J2 — the same join with explicit broadcast hints on the small dims;
    // result (and hash) must equal J1. customer is NOT hinted: at 100 TB
    // it is far beyond broadcast size — AQE decides there.
    "j2_broadcast" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(d(sum(money(col("o_totalprice")))).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))),

    // J3 — left outer: every customer, matched or not, per mktsegment.
    // 100 TB: outer SMJ on custkey; null-side counting is agg-side only.
    "j3_outer" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"),
              "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
             count(col("o_orderkey")).as("n_matched"),
             sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
               .as("n_unmatched"))
        .orderBy(col("c_mktsegment"))),

    // J4 — left semi: customers having at least one 'F' order.
    // 100 TB: semi-join keeps only the left side after the shuffle —
    // no row multiplication, safe against orders-per-customer skew.
    "j4_semi" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // J5 — left anti: customers with no urgent order. (Anti vs *all*
    // orders would be empty by construction — every customer has orders
    // in this data — so the filtered right side keeps it non-degenerate.)
    "j5_anti" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // J6 — cross + theta (non-equi) join on tiny dims.
    // 100 TB: cross joins are only ever sane dim×dim; this stays 5×25.
    "j6_theta" -> ((s, dir) =>
      Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
        .filter(col("r_regionkey") =!= col("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("r_name"))),

    // J7 — range/interval join: each purchase matched to clicks of the
    // same user within the preceding hour. (The SURVEY's original
    // events⋈orders check is degenerate on this data — orders are
    // 1995-2001, events 2024, zero overlap — so the canonical check is
    // this non-empty same-table interval join; SURVEY §2.3 amended.)
    // Bucketized: the equi-join key is (user_id, hour bucket), purchases
    // explode to their 2 candidate buckets, then a residual range filter.
    // 100 TB: this is the scale path — a plain non-equi join would be a
    // broadcast-nested-loop (O(n·m)); the bucket join shuffles both
    // sides on (user, hour) and stays sort-merge, skew-safe under AQE.
    "j7_range" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
                col("user_id"))
        .withColumn("hb", explode(array(
          expr("date_trunc('HOUR', p_ts) - INTERVAL 1 HOUR"),
          expr("date_trunc('HOUR', p_ts)"))))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
                col("user_id").as("c_user"),
                expr("date_trunc('HOUR', ts)").as("c_hb"))
      p.join(c, col("user_id") === col("c_user") && col("hb") === col("c_hb") &&
          col("c_ts") >= expr("p_ts - INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct(col("p_id")).as("n_purchases"))
        .orderBy(col("user_id"))
    }),

    // J8 — as-of join: for each event, the most recent order of customer
    // `user_id` at or before ts (tie-break: highest orderkey).
    // Implemented as equi-join on the customer key + max(struct) — the
    // 2-phase agg keeps per-event state at one struct, so fan-out from
    // orders-per-customer never materializes past the partial aggregate.
    // 100 TB: equi-join shuffles on custkey; a per-customer sorted-merge
    // as-of would trade the fan-out for a range repartition — both sound.
    "j8_asof" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"), col("ts"), col("user_id"))
        .join(Tables.orders(s, dir)
                .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate")),
              col("user_id") === col("o_custkey") &&
                col("o_orderdate") <= col("ts"), "left")
        .groupBy(col("event_id"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
        .select(col("event_id"),
                col("best.o_orderkey").as("o_orderkey"),
                col("best.o_orderdate").as("o_orderdate"))
        .orderBy(col("event_id")))
  ,

    // J8b — FORWARD as-of join with TOLERANCE (the direction J8 lacks;
    // pandas merge_asof direction='forward'): per order, the SAME
    // customer's next order strictly after it but within 90 days — the
    // reorder-interval query (~30% of orders re-order inside the
    // window at every sf, so both outcomes are live). Same machinery
    // as J8 — equi-join on the customer key + a single min(struct)
    // per left row — with one twist the direction forces: J8's
    // max(struct) is immune to the left join's null padding (null
    // struct fields sort FIRST ascending, so max skips them), but
    // min(struct) would PREFER the padded struct, so the struct is
    // built only for matched rows and min's null-skipping does the
    // rest. 100 TB: one custkey shuffle, per-order state one struct
    // through the 2-phase aggregate — J8's bill, forward-facing.
    "j8b_asof_forward" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      o.as("a").join(o.as("b"),
          col("a.o_custkey") === col("b.o_custkey") &&
            col("b.o_orderdate") > col("a.o_orderdate") &&
            col("b.o_orderdate") <=
              col("a.o_orderdate") + expr("INTERVAL 90 DAY"), "left")
        .groupBy(col("a.o_orderkey").as("o_orderkey"))
        .agg(min(when(col("b.o_orderkey").isNotNull,
          struct(col("b.o_orderdate"), col("b.o_orderkey")))).as("best"))
        .select(col("o_orderkey"),
          col("best.o_orderdate").as("next_date"),
          col("best.o_orderkey").as("next_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // J11 — correlated scalar subquery, submitted as SQL TEXT so Catalyst's
    // decorrelation (RewriteCorrelatedScalarSubquery) does the rewrite: the
    // per-row subquery becomes one Aggregate over orders + a join back —
    // never a per-row re-scan. PlanSpec pins the decorrelated shape.
    // Max is exact (no arithmetic) and o_totalprice is a raw column, so
    // the output hashes bit-identically. 100 TB: one 2-phase max-agg on
    // custkey + an equi-join — the same cost as writing the join by hand.
    "j11_scalar_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(j11Sql)
    }),

    // J12 — recursive CTE (Spark 4.1 `WITH RECURSIVE`, lowered to
    // UnionLoop): per-customer capped-and-floored running balance.
    // Each order deducts its price from a budget that replenishes by a
    // fixed credit, clamped to [0, 100000] at every step. Both clamps
    // bind on different orders, so the recurrence has no closed form —
    // a window function CANNOT express it; iteration is the point.
    // All arithmetic is exact DECIMAL(18,2) (cast to DOUBLE only at the
    // end, where 2-decimal values ≤ 1e5 are exactly representable), so
    // the hash is engine-portable, and the self-contained form of the
    // same text runs in DuckDB (SqlSpec parity). Depth = max orders/
    // customer (25 at sf0.1), under the engine's 100-level budget.
    // THE iterative-plan trap, measured: UnionLoop re-executes
    // everything inside the loop each level, and with `seq` as a plain
    // CTE the 150 k-row window re-ran ×24 levels — 22 s at sf0.1. The
    // engine form therefore MATERIALIZES the iteration-invariant
    // rn-indexed sequence once (localCheckpoint, same move as L22's CC
    // loop) and recurses over the checkpointed view: 22 s → 5.3 s.
    // The remaining floor was 24 SEQUENTIAL level executions of
    // per-level fixed cost, attacked three ways (each swept at sf0.1):
    // BROADCAST(walk) turns each level's join from a 32-partition
    // shuffle exchange into one broadcast-hash stage over the
    // checkpointed sequence; repartition(1) on the checkpointed
    // sequence makes each level's probe side a single task (150 k rows
    // — one core scans it in ~10 ms; 32 tasks of scheduler overhead
    // per level was the real cost); COALESCE(1) on the recursive term
    // keeps each level's OUTPUT single-partition, so the next level's
    // broadcast build reads one block instead of 32. Both hints ride
    // in j12Body, so the identical text still runs in DuckDB (a
    // /*+ */ hint is a standard SQL comment there).
    // PlanSpec pins the hoist (no Window inside the recursive plan).
    // 100 TB: the frontier-broadcast stays right as long as the frontier
    // side fits the broadcast budget (it is dim-sized: bounded by
    // customers, shrinking per level); past that, drop the BROADCAST
    // hint and each level is one frontier-bounded shuffle join — still
    // never corpus-sized. The two single-partition moves are LOCAL
    // latency tuning for a dim-sized loop; at cluster scale the same
    // dial is "partitions ∝ frontier size", not 1 — drop them alongside
    // the hint. Swap localCheckpoint for a reliable checkpoint/table —
    // same hoist, fault-tolerant.
    // Execution form: the loop is 24 SEQUENTIAL width-1 levels, so it
    // runs under a width-1 scope (shuffle.partitions=1 and AQE off —
    // AQE re-plans a query stage per level for nothing at this width;
    // a width sweep: 4.0 → 2.3 s loop-only). A conf scope covers
    // CONSTRUCTION, not a later lazy execution, so the result is
    // materialized (localCheckpoint) inside the scope and the cached
    // ~|customers| relation is returned — the driver's write then
    // scans it; every timed run still re-executes the full pipeline
    // (fresh localCheckpoint per call, nothing rides the cache
    // manager). PlanSpec pins the loop plan from the same canonical
    // text this entry executes verbatim.
    "j12_recursive" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.core.ConfScope.withConf(s, Map(
        "spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.enabled" -> "false",
        // the walk is data-bounded (customers × max orders-per-customer
        // levels); Spark's default 1M cumulative-row safety valve trips
        // from ~sf1 (150k customers × ~24 levels) — scale it with data,
        // it guards only against non-terminating recursion
        "spark.sql.cteRecursionRowLimit" -> "1000000000")) {
        val seq = s.sql(j12SeqSql).repartition(1).localCheckpoint()
        seq.createOrReplaceTempView("j12_seq")
        // the result is materialized here, so the session keeps neither
        // the view nor the sequence's checkpointed blocks
        try s.sql("WITH RECURSIVE " + j12Body("j12_seq")).localCheckpoint()
        finally {
          s.catalog.dropTempView("j12_seq")
          seq.queryExecution.logical.foreach {
            case r: LogicalRDD => r.rdd.unpersist(blocking = false)
            case _ =>
          }
        }
      }
    }),

    // J13 — ANSI LATERAL correlated subquery (top-2 customers per
    // nation), submitted as SQL text. Catalyst DECORRELATES the per-row
    // ORDER BY/LIMIT subquery into one row_number window partitioned by
    // the correlation key + a broadcast join — never a nested-loop
    // re-scan per outer row (PlanSpec pins Window + no BNLJ). The
    // identical text runs in DuckDB (SqlSpec parity); c_acctbal is a raw
    // column, so the hash is arithmetic-free. 100 TB: the decorrelated
    // plan is exactly W2's top-N-per-group shape — one shuffle on the
    // correlation key, WindowGroupLimit-prunable, dim side broadcast.
    "j13_lateral" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(j13Sql)
    }),

    // J14 — SIMILARITY JOIN: all distinct part-name pairs within edit
    // distance ≤ 2, found via PassJoin segment blocking (Li/Deng/Feng,
    // VLDB'11 — PAPERS.md) instead of the all-pairs cross join a naive
    // form needs. Pigeonhole: split every indexed string into K+1 = 3
    // segments; any string within K = 2 edits must contain one segment
    // VERBATIM, at a position shifted by at most K. So the index side
    // emits 3 (len, seg_idx, substring) keys per name, the probe side
    // emits one key per (candidate indexed length within ±2, segment,
    // shift within ±2) — ≤ 75, a CONSTANT — and candidates are the
    // equi-join on that key, then verified with one levenshtein call.
    // 100 TB: candidate generation is an equi-join on short string
    // keys (never |N|² — pairs sharing no aligned segment are never
    // materialized); the verify is per-candidate O(len²) on
    // already-matched rows. Empty segments (len < 3) degrade to
    // length-window blocking — still sound, still bounded.
    "j14_editdist_join" -> ((s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name").as("nm")).distinct()
      val idxKeys = (0 to 2).map { i =>
        expr(
          s"""named_struct('ls', length(nm), 'seg', $i, 'sub',
             |  substr(nm,
             |    $i * (length(nm) div 3)
             |      + greatest(0, $i - (3 - (length(nm) % 3))) + 1,
             |    (length(nm) div 3)
             |      + (CASE WHEN $i >= 3 - (length(nm) % 3)
             |              THEN 1 ELSE 0 END)))""".stripMargin)
      }
      val idx = names.select(col("nm").as("s_nm"),
          explode(array(idxKeys: _*)).as("k"))
        .select(col("s_nm"), col("k.ls").as("ls"), col("k.seg").as("seg"),
          col("k.sub").as("sub"))
      // the ≤75 (Δlen, segment, shift) combos as DATA (one exploded
      // literal array), so the segment arithmetic is written ONCE as
      // shared column expressions — the unrolled-75-CASEs alternative
      // blew janino's 64 KB method cap and fell back to interpreted
      val combos = array((for { dl <- -2 to 2; i <- 0 to 2; sh <- -2 to 2 }
        yield struct(lit(dl).as("dl"), lit(i).as("sg"),
          lit(sh).as("sh"))): _*)
      val probe = names.select(col("nm").as("t_nm"),
          explode(combos).as("c"))
        .withColumn("ls", length(col("t_nm")) + col("c.dl"))
        .withColumn("bs", expr("ls div 3"))
        .withColumn("rm", expr("ls % 3"))
        .withColumn("li", col("bs") +
          when(col("c.sg") >= lit(3) - col("rm"), 1).otherwise(0))
        .withColumn("p", col("c.sg") * col("bs") +
          greatest(lit(0), col("c.sg") - (lit(3) - col("rm"))) +
          col("c.sh"))
        .filter(col("ls") >= 1 && col("p") >= 0 &&
          col("p") + col("li") <= length(col("t_nm")))
        .select(col("t_nm"), col("ls"), col("c.sg").as("seg"),
          expr("substr(t_nm, p + 1, li)").as("sub"))
      idx.join(probe, Seq("ls", "seg", "sub"))
        .filter(col("s_nm") < col("t_nm"))
        .select(col("s_nm").as("name_a"), col("t_nm").as("name_b"))
        .distinct()
        .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b")).cast("int"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // J15 — BUCKETED co-located join: both fact tables written
    // bucketed (and sorted) by the join key into the same bucket
    // count, so the sort-merge join reads bucket-aligned files with
    // NO Exchange on either side (pinned in PlanSpec "J15") — the
    // mechanism a 100 TB deployment uses to pay a fact⋈fact shuffle
    // ONCE at write time and amortize it over every subsequent join.
    // The merge hint forces the SMJ path the pin is about (at test
    // scale orders would otherwise broadcast — a plan a 100 TB orders
    // side can't take); output = a1-style decimal-exact aggregate.
    "j15_bucketed" -> ((s, dir) => {
      val nb = 8
      // table names keyed by the dataset dir:
      // two sessions in one warehouse running j15 against different sf
      // dirs must not race on one global table pair
      val key = dir.replaceAll("[^a-zA-Z0-9.]", "_").replace(".", "_")
      val tOrders = s"graft_j15_orders_$key"
      val tLineitem = s"graft_j15_lineitem_$key"
      // managed-table hygiene: a previous JVM's run leaves the location
      // on disk while this JVM's in-memory catalog has never heard of
      // the table — DROP alone won't clear it, so remove both
      Seq(tOrders, tLineitem).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = java.nio.file.Paths.get(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (java.nio.file.Files.exists(loc)) {
          val walk = java.nio.file.Files.walk(loc)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
          finally walk.close()
        }
      }
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(nb, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(tOrders)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(nb, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(tLineitem)
      val o = s.table(tOrders)
      val l = s.table(tLineitem).hint("merge")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(money(col("l_extendedprice"))).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // J16 — SCD2 dimension BUILD + temporal (point-in-time) join: the
    // genre's warehouse keeps slowly-changing dims, and J8's as-of join
    // CONSUMES dimension versions — J16 is the operator that BUILDS
    // them. Version stream: per (customer, order date), the day's max
    // totalprice maps to a balance band (low < 100k ≤ mid < 250k ≤
    // high); consecutive same-band runs collapse into half-open
    // [valid_from, valid_to) version intervals via lag (change
    // detection) then lead (interval close) — the standard SCD2
    // derivation, two windows over the (customer, date) aggregate,
    // both riding the SAME custkey shuffle. Temporal probe: each
    // lineitem fact takes the version in effect at its l_shipdate —
    // an EQUI-join on custkey with the containment residual
    // (valid_from ≤ sd < valid_to, open-ended last version); versions
    // per customer are bounded, so the J7 bucketize idiom degenerates
    // to its residual-only form and no time bucketing is needed.
    // Intervals are disjoint and chained per customer by construction
    // (valid_from strictly increasing, valid_to = next valid_from), so
    // each fact matches AT MOST one version; facts shipping BEFORE the
    // customer's first version (the testdata ships ~47% of lineitems
    // before their order date) match none and surface as band 'none' —
    // both outcomes pinned in `test/SimJoinSpec.scala` "J16".
    // 100 TB: dim build = one custkey
    // shuffle + aggregate-cardinality windows; probe = one custkey
    // shuffle of the fact side against the |versions|-sized dim.
    "j16_scd2" -> ((s, dir) => {
      val facts = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"),
          col("l_quantity"), col("l_extendedprice"))
        .join(Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      facts.join(j16Versions(s, dir),
          col("o_custkey") === col("ck") &&
            col("l_shipdate") >= col("valid_from") &&
            (col("valid_to").isNull || col("l_shipdate") < col("valid_to")),
          "left")
        .groupBy(coalesce(col("band"), lit("none")).as("band"),
          year(col("l_shipdate")).as("ship_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          d(sum(money(col("l_extendedprice")))).as("sum_price"))
        .orderBy(col("band"), col("ship_year"))
    })
  )

  /** The J16 SCD2 version dim: per-customer balance-band versions with
    * half-open [valid_from, valid_to) intervals (valid_to null on the
    * open-ended current version). Exposed for SimJoinSpec's interval
    * disjointness/coverage pins. */
  private[graft] def j16Versions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("ck")).orderBy(col("d0"))
    Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"), col("o_orderdate").as("d0"))
      .agg(max(money(col("o_totalprice"))).as("mp"))
      .select(col("ck"), col("d0"),
        when(col("mp") < 100000, lit("low"))
          .when(col("mp") < 250000, lit("mid"))
          .otherwise(lit("high")).as("band"))
      .withColumn("pb", lag(col("band"), 1).over(w))
      .filter(col("pb").isNull || col("band") =!= col("pb"))
      .withColumn("valid_to", lead(col("d0"), 1).over(w))
      .select(col("ck"), col("d0").as("valid_from"),
        col("valid_to"), col("band"))
  }

  private[graft] val j13Sql =
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n JOIN LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) t ON true
      |ORDER BY n.n_name, t.c_custkey""".stripMargin

  private[graft] val j11Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  private[graft] val j12SeqSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |  row_number() OVER (PARTITION BY o_custkey
      |                     ORDER BY o_orderdate, o_orderkey) AS rn
      |FROM orders""".stripMargin

  /** The recursive walk over a given sequence relation — `seq` (inline
    * CTE) for the self-contained oracle/parity text, `j12_seq` (the
    * materialized view) for the engine's canonical form. One body, two
    * bindings: the texts cannot drift apart. The BROADCAST(w) hint in
    * the recursive term keeps each level shuffle-free in Spark (see the
    * j12 query comment) and reads as a plain block comment in DuckDB —
    * one text, both engines. */
  private[graft] def j12Body(rel: String): String =
    s"""walk(o_custkey, rn, bal) AS (
      |  SELECT o_custkey, rn,
      |    CAST(greatest(CAST(0.00 AS DECIMAL(18,2)),
      |         least(CAST(100000.00 AS DECIMAL(18,2)),
      |               CAST(50000.00 AS DECIMAL(18,2)) - price)) AS DECIMAL(18,2))
      |  FROM $rel WHERE rn = 1
      |  UNION ALL
      |  SELECT /*+ BROADCAST(w), COALESCE(1) */ s.o_custkey, s.rn,
      |    CAST(greatest(CAST(0.00 AS DECIMAL(18,2)),
      |         least(CAST(100000.00 AS DECIMAL(18,2)),
      |               w.bal + CAST(50000.00 AS DECIMAL(18,2)) - s.price)) AS DECIMAL(18,2))
      |  FROM walk w JOIN $rel s ON s.o_custkey = w.o_custkey AND s.rn = w.rn + 1)
      |SELECT w.o_custkey, n.n_orders, CAST(w.bal AS DOUBLE) AS final_bal
      |FROM walk w
      |JOIN (SELECT o_custkey, max(rn) AS n_orders FROM $rel GROUP BY o_custkey) n
      |  ON n.o_custkey = w.o_custkey AND w.rn = n.n_orders
      |ORDER BY w.o_custkey""".stripMargin

  private[graft] val j12Sql =
    "WITH RECURSIVE seq AS (\n" + j12SeqSql + "),\n" + j12Body("seq")

  private val j1Sql =
    """SELECT r_name,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  val oracle: Map[String, String] = Map(
    "j1_inner" -> j1Sql,
    "j2_broadcast" -> j1Sql, // hint must not change results
    "j3_outer" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        |  count(o_orderkey) AS n_matched,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "j4_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "j5_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "j6_theta" ->
      """SELECT r_name, count(*) AS n
        |FROM region CROSS JOIN nation
        |WHERE r_regionkey <> n_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "j7_range" ->
      """SELECT p.user_id, count(*) AS n_pairs,
        |  count(DISTINCT p.event_id) AS n_purchases
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin,
    "j8_asof" ->
      """WITH j AS (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, o_orderkey, o_orderdate FROM j
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // j8b — forward variant of the j8 oracle: earliest in-tolerance
    // successor, ties to the lowest orderkey.
    "j8b_asof_forward" ->
      """WITH j8b AS (
        |  SELECT a.o_orderkey AS o_orderkey, b.o_orderkey AS nk,
        |    b.o_orderdate AS nd,
        |    row_number() OVER (PARTITION BY a.o_orderkey
        |      ORDER BY b.o_orderdate ASC, b.o_orderkey ASC) AS rn
        |  FROM orders a
        |  LEFT JOIN orders b ON b.o_custkey = a.o_custkey
        |    AND b.o_orderdate > a.o_orderdate
        |    AND b.o_orderdate <= a.o_orderdate + INTERVAL 90 DAY)
        |SELECT o_orderkey, nd AS next_date, nk AS next_orderkey
        |FROM j8b WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,
    "j11_scalar_subquery" -> j11Sql, // ANSI-portable: the same text runs in both engines
    "j12_recursive" -> j12Sql, // ANSI-portable recursive CTE, same text in both engines
    "j13_lateral" -> j13Sql, // ANSI-portable LATERAL, same text in both engines
    // j14 — the oracle states the SEMANTICS (all pairs within edit
    // distance 2), not the blocking: a naive pairwise form with only
    // the trivially-sound length prefilter. The engine's PassJoin
    // candidate set matching this is exactly the pigeonhole claim.
    "j14_editdist_join" ->
      """WITH nm14 AS (SELECT DISTINCT p_name AS nm FROM part)
        |SELECT a.nm AS name_a, b.nm AS name_b,
        |  CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
        |FROM nm14 a JOIN nm14 b ON a.nm < b.nm
        |WHERE abs(len(a.nm) - len(b.nm)) <= 2
        |  AND levenshtein(a.nm, b.nm) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    // j15 — bucketing is a physical-layout property; the answer must
    // equal the plain join (a1-style decimal-exact sums)
    "j15_bucketed" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // j16 — the same SCD2 derivation replayed: per-(customer, date) max
    // price banded, change rows kept, lead closes the interval, facts
    // probe by shipdate containment; facts before the customer's first
    // version take the 'none' band (both outcomes pinned in
    // SimJoinSpec).
    "j16_scd2" ->
      """WITH co16 AS (
        |  SELECT o_custkey AS ck, o_orderdate AS d0,
        |    max(CAST(o_totalprice AS DECIMAL(18,2))) AS mp
        |  FROM orders GROUP BY 1, 2),
        |bd16 AS (
        |  SELECT ck, d0,
        |    CASE WHEN mp < 100000 THEN 'low'
        |         WHEN mp < 250000 THEN 'mid' ELSE 'high' END AS band
        |  FROM co16),
        |ch16 AS (
        |  SELECT ck, d0, band,
        |    lag(band) OVER (PARTITION BY ck ORDER BY d0) AS pb
        |  FROM bd16),
        |cf16 AS (
        |  SELECT ck, d0, band FROM ch16 WHERE pb IS NULL OR band <> pb),
        |vr16 AS (
        |  SELECT ck, d0 AS valid_from,
        |    lead(d0) OVER (PARTITION BY ck ORDER BY d0) AS valid_to, band
        |  FROM cf16),
        |fc16 AS (
        |  SELECT o_custkey AS ck, l_shipdate AS sd,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS ep
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |j16 AS (
        |  SELECT COALESCE(v.band, 'none') AS band, f.sd, f.q, f.ep
        |  FROM fc16 f LEFT JOIN vr16 v ON f.ck = v.ck
        |    AND f.sd >= v.valid_from
        |    AND (v.valid_to IS NULL OR f.sd < v.valid_to))
        |SELECT band, CAST(year(sd) AS INT) AS ship_year,
        |  count(*) AS n_items,
        |  CAST(sum(q) AS BIGINT) AS sum_qty,
        |  CAST(sum(ep) AS DOUBLE) AS sum_price
        |FROM j16 GROUP BY 1, 2 ORDER BY band, ship_year""".stripMargin
  )
}
