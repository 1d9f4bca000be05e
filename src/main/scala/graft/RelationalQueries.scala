package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{PartitionedLayout, Pin}

/** Relational coverage over the TPC-H-ish tables: aggregation, joins
  * (broadcast + shuffle + semi/anti/outer), windows, top-k, set ops,
  * rollup, scalar functions. The reference has none of these as
  * explicit operators (SURVEY.md §2.3-§2.7 mark them absent) — they
  * are the capabilities a Spark engine at 100 TB must have.
  *
  * Scale notes, per shape:
  *  - GENUINELY BOUNDED dimension sides broadcast with a forced hint
  *    (nation/region are fixed 25/5 rows; 1-row aggregates and
  *    fixed-size derived dims likewise) — the hint pins it even when
  *    stats are missing at the catalog level;
  *  - CORPUS-GROWING sides (customer, part, supplier and their
  *    dimension chains) are NEVER force-broadcast: a forced hint on a
  *    side that scales with SF removes AQE's ability to fall back to
  *    a shuffle join when the side outgrows memory — the one plan
  *    choice that cannot degrade gracefully. Single-table sides carry
  *    real scan stats, so the hint is simply omitted and the planner
  *    chooses; dimension CHAINS (whose size-only estimate is a
  *    useless product of children) go through [[maybeBroadcast]];
  *  - fact-fact joins shuffle on the join key and rely on AQE for
  *    skew/coalesce at runtime;
  *  - top-k per group is window row_number, NOT a global sort: the
  *    shuffle carries only the partition columns' hash, and the
  *    per-partition sort is bounded;
  *  - rollup is one pass (Spark expands grouping sets map-side).
  */
object RelationalQueries {

  val all: Seq[GraftQuery] = Seq(

    // Pricing-summary aggregation (group-by + partial aggregation).
    GraftQuery(
      "q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Broadcast dimension join chain: customer -> nation -> region.
    // nation/region are tiny; broadcast() keeps the fact side
    // shuffle-free — at 100 TB this is the difference between a
    // map-side join and a full exchange of the customer table.
    GraftQuery(
      "q2_broadcast_join",
      """SELECT r_name, n_name,
        |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy("r_name", "n_name")
    },

    // Fact-fact shuffle join: orders x lineitem on the natural key.
    // Both sides hash-exchange on l_orderkey/o_orderkey; AQE coalesces
    // post-shuffle partitions and handles skewed keys at runtime.
    GraftQuery(
      "q3_shuffle_join",
      """SELECT o_orderpriority,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    },

    // Left-semi join: customers WITH at least one 'F' order. Semi joins
    // ship only the key column of the probe side and stop at first
    // match — cheaper than join+distinct.
    GraftQuery(
      "q4_semi_join",
      """SELECT c_custkey, c_name
        |FROM customer WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .join(
          Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Left-anti join: parts never ordered — the engine's conflict-
    // loser/delete-set shape (SURVEY.md §2.3: KeyError branch of the
    // reference's checkSync probe ≈ anti-join).
    GraftQuery(
      "q5_anti_join",
      """SELECT p_partkey, p_name
        |FROM part WHERE p_partkey NOT IN
        |  (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "part")
        .join(Tables.load(s, dir, "lineitem").filter(col("l_quantity") >= 45),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    // Full-outer join of two pre-aggregated sides: nations by customer
    // count vs supplier count. Aggregating BEFORE the join keeps the
    // outer join's inputs at |distinct keys| — never outer-join raw
    // fact tables when an aggregate precedes the join anyway.
    GraftQuery(
      "q6_full_outer",
      """SELECT coalesce(c.k, s.k) AS n_key,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
        |ON c.k = s.k
        |ORDER BY n_key""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
        .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
      val su = Tables.load(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
      c.join(su, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("n_key"),
          coalesce(col("n_cust"), lit(0)).as("n_cust"),
          coalesce(col("n_supp"), lit(0)).as("n_supp"))
        .orderBy("n_key")
    },

    // Ranking window + running frame: per-customer order sequence with
    // a running total. One shuffle on the partition key; the running
    // sum is a bounded per-partition scan.
    GraftQuery(
      "q7_window_running",
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS order_seq,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.load(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("order_seq"),
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Top-k per group: 3 priciest orders per priority class. Window
    // row_number (deterministic tiebreak), NOT a global sort — at
    // scale the per-group heap is the only state.
    GraftQuery(
      "q8_topk_per_group",
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_orderpriority, price DESC, o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderpriority"), col("price").desc, col("o_orderkey"))
    },

    // Set operations: 1995-only buyers EXCEPT 1996 buyers, plus the
    // intersection count as a second column pattern. exceptAll/
    // intersect lower to aggregate+join — no driver round-trip.
    GraftQuery(
      "q9_set_ops",
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      y95.except(y96).orderBy("o_custkey")
    },

    // Rollup: subtotal lattice over (returnflag, linestatus) in one
    // pass. Emit the two-level grouping id so the oracle can align
    // NULL-vs-subtotal rows unambiguously.
    GraftQuery(
      "q10_rollup",
      """SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
        |       coalesce(l_linestatus, '<all>') AS l_linestatus,
        |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Scalar-function sweep over one row set: string, math, date
    // functions in both dialects (SURVEY.md §2.8 F-table analogue on
    // the relational side).
    GraftQuery(
      "q11_scalar_functions",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  length(p_name) AS name_len,
        |  substring(p_type, 1, 5) AS type5,
        |  round(p_retailprice * 1.1, 2) AS marked_up,
        |  CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
        |  p_size % 7 AS size_mod
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          round(col("p_retailprice") * 1.1, 2).as("marked_up"),
          floor(col("p_retailprice") / 100).cast("long").as("price_bucket"),
          (col("p_size") % 7).as("size_mod"))
        .orderBy("p_partkey")
    },

    // As-of join (operators.AsOfJoin): each purchase attributed to the
    // user's latest view at-or-before it — union + ordered window, one
    // shuffle on the key, never the quadratic range θ-join. DuckDB's
    // native ASOF LEFT JOIN is the oracle. View side deduped per
    // (user, version) first (max event_id) so ties are deterministic
    // in both engines.
    GraftQuery(
      "q12_asof_join",
      """WITH v AS (
        |  SELECT user_id, version, view_id FROM (
        |    SELECT user_id, epoch_ms(ts) AS version, event_id AS view_id,
        |      row_number() OVER (PARTITION BY user_id, epoch_ms(ts)
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |p AS (
        |  SELECT user_id, epoch_ms(ts) AS version, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, v.view_id, p.version - v.version AS gap_ms
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.version >= v.version
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.loadEvents(s, dir)
      val dedup = Window.partitionBy("user_id", "version")
        .orderBy(col("view_id").desc)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("version"),
          col("event_id").as("view_id"), col("version").as("view_version"))
        .withColumn("rn", row_number().over(dedup))
        .filter(col("rn") === 1).drop("rn")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("version"), col("event_id").as("purchase_id"))
      graft.operators.AsOfJoin.asOf(purchases, views, Seq("user_id"), "version")
        .select(col("purchase_id"), col("view_id"),
          (col("version") - col("view_version")).as("gap_ms"))
        .orderBy("purchase_id")
    },

    // Range join (operators.RangeJoin): purchases inside each user's
    // 3-day post-signup window. Intervals are bucketized to day-width
    // buckets and the join runs as an equi-join on (user, bucket) +
    // exact range filter — never the nested-loop/cross plan Spark
    // picks for raw inequality joins. Oracle uses the plain
    // inequality join (tiny at oracle scale).
    GraftQuery(
      "q13_range_join",
      """WITH i AS (
        |  SELECT user_id, min(epoch_ms(ts)) AS start_ms,
        |         min(epoch_ms(ts)) + 259200000 AS end_ms
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (
        |  SELECT user_id, epoch_ms(ts) AS v, event_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, count(*) AS n_purchases,
        |       min(p.event_id) AS first_purchase
        |FROM p JOIN i ON p.user_id = i.user_id
        |  AND i.start_ms <= p.v AND p.v < i.end_ms
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.loadEvents(s, dir)
      val intervals = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("version")).as("start_ms"))
        .withColumn("end_ms", col("start_ms") + lit(259200000L))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("version").as("v"), col("event_id"))
      graft.operators.RangeJoin.join(purchases, intervals, Seq("user_id"),
          "v", "start_ms", "end_ms", bucketWidth = 86400000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"), min(col("event_id")).as("first_purchase"))
        .orderBy("user_id")
    },

    // Salted two-phase aggregation (operators.SkewTools): events has 5
    // event_type keys over the whole table — a genuinely hot-key
    // grouping. Salting on user_id spreads each key across 16 subkeys
    // (count(distinct user) stays exact because each user maps to ONE
    // salt), then partials merge per key. Results are identical to the
    // plain GROUP BY — the oracle — by construction; what changes is
    // the shuffle profile under skew.
    GraftQuery(
      "q14_salted_agg",
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      graft.operators.SkewTools.saltedAgg(
          Tables.loadEvents(s, dir), Seq("event_type"), col("user_id"), 16,
          partial = Seq(count(lit(1)).as("_pc"),
            count_distinct(col("user_id")).as("_pu")),
          merge = Seq(sum(col("_pc")).as("n_events"),
            sum(col("_pu")).as("n_users")))
        .orderBy("event_type")
    },

    // CUBE over region x nation customer counts — all four grouping
    // sets in ONE pass (Spark expands grouping sets map-side; no
    // re-scan per set). grouping() flags disambiguate cube nulls from
    // data nulls in both dialects.
    GraftQuery(
      "q15_cube",
      """SELECT r_name, n_name,
        |  grouping(r_name) AS g_r, grouping(n_name) AS g_n,
        |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)
        |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) {
      (s, dir) =>
      // via the engine's SQL surface: the DataFrame cube API can't
      // disambiguate grouping-column references post-join (the cube
      // output carries both the child and expanded attributes), and
      // GROUP BY CUBE is the clearer declaration anyway.
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
      Tables.load(s, dir, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT r_name, n_name,
          |  grouping(r_name) AS g_r, grouping(n_name) AS g_n,
          |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
          |FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY CUBE (r_name, n_name)
          |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
    },

    // Gap-based sessionization (operators.Sessionize): 30-minute
    // inactivity gap over each user's event stream — lag flags session
    // starts, a running sum numbers them, one shuffle + one ordered
    // window pass. Per-user session stats as the checkable output.
    GraftQuery(
      "q16_sessionize",
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS v, event_id FROM events),
        |m AS (
        |  SELECT user_id, v, event_id,
        |    CASE WHEN lag(v) OVER w IS NULL
        |           OR v - lag(v) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY v, event_id)),
        |s AS (
        |  SELECT user_id, v,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY v, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m),
        |per AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |         max(v) - min(v) AS duration_ms
        |  FROM s GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        |       max(n_events) AS max_session_events,
        |       max(duration_ms) AS max_session_ms
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.loadEvents(s, dir)
        .select(col("user_id"), col("version"), col("event_id"))
      graft.operators.Sessionize.summarize(ev, Seq("user_id"), "version",
          gapMs = 1800000L, tieBreak = Seq("event_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"),
          max(col("duration_ms")).as("max_session_ms"))
        .orderBy("user_id")
    },

    // Exact interpolated percentiles per group — Spark `percentile`
    // and DuckDB `quantile_cont` share linear-interpolation semantics,
    // so values round-match. (At 100 TB the same query shape swaps in
    // `approx_percentile` — a t-digest sketch with map-side merge —
    // when a full per-group sort is not worth exactness.)
    GraftQuery(
      "q17_percentiles",
      """SELECT o_orderpriority,
        |  count(*) AS n,
        |  round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        |  round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 2) AS p75
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
          round(expr("percentile(o_totalprice, 0.50)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"))
        .orderBy("o_orderpriority")
    },

    // Same attribution problem as q12, but through the whole-operator
    // Catalyst path: AsOfJoinPlan → AsOfJoinStrategy → sort-merge
    // AsOfJoinExec (plans.AsOfJoinExec). Each side shuffles its own
    // columns once and partitions merge in one linear pass — no
    // union doubling, no window function. Oracle: DuckDB native ASOF.
    GraftQuery(
      "q18_asof_native",
      """WITH v AS (
        |  SELECT user_id, version, view_id FROM (
        |    SELECT user_id, epoch_ms(ts) AS version, event_id AS view_id,
        |      row_number() OVER (PARTITION BY user_id, epoch_ms(ts)
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |p AS (
        |  SELECT user_id, epoch_ms(ts) AS version, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, v.view_id, p.version - v.version AS gap_ms
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.version >= v.version
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.loadEvents(s, dir)
      val dedup = Window.partitionBy("user_id", "version")
        .orderBy(col("view_id").desc)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("version"),
          col("event_id").as("view_id"), col("version").as("view_version"))
        .withColumn("rn", row_number().over(dedup))
        .filter(col("rn") === 1).drop("rn")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("version"), col("event_id").as("purchase_id"))
      graft.operators.AsOfJoin.asOfNative(purchases, views, Seq("user_id"), "version")
        .select(col("purchase_id"), col("view_id"),
          (col("version") - col("view_version")).as("gap_ms"))
        .orderBy("purchase_id")
    },

    // Native session_window sessionization (streaming.WindowedStats
    // .sessions, batch evaluation — same expression streams with
    // mergeable per-session state). Complements q16's lag/running-sum
    // form; boundary semantics are inclusive (an event at exactly
    // last+gap EXTENDS the session — measured, pinned in
    // SessionWindowSpec — so the oracle splits only on diff > gap).
    // Millisecond-truncated timestamps on both sides so the two
    // engines sessionize identical values.
    GraftQuery(
      "q19_session_window",
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS v FROM events),
        |m AS (
        |  SELECT user_id, v,
        |    CASE WHEN lag(v) OVER w IS NULL
        |           OR v - lag(v) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY v)),
        |s AS (
        |  SELECT user_id, v,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY v
        |                  ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(v) AS sess_start_ms,
        |       max(v) + 1800000 AS sess_end_ms, count(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, sess_start_ms""".stripMargin) { (s, dir) =>
      val ev = Tables.loadEvents(s, dir)
        .select(col("user_id"), timestamp_millis(col("version")).as("mts"))
      graft.streaming.WindowedStats.sessions(
          ev, "mts", "30 minutes", "0 seconds", Seq("user_id"))
        .select(col("user_id"),
          unix_millis(col("sess_start")).as("sess_start_ms"),
          unix_millis(col("sess_end")).as("sess_end_ms"),
          col("n"))
        .orderBy("user_id", "sess_start_ms")
    },

    // Pivot (long → wide): one hash aggregate whose grouping carries
    // the pivot values map-side — NOT one pass per column. Oracle uses
    // conditional aggregation (the pivot's relational definition).
    GraftQuery(
      "q20_pivot",
      """SELECT o_orderpriority,
        |  round(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0), 2) AS status_f,
        |  round(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0), 2) AS status_o,
        |  round(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0), 2) AS status_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice")))
        .select(col("o_orderpriority"),
          round(coalesce(col("F"), lit(0)), 2).as("status_f"),
          round(coalesce(col("O"), lit(0)), 2).as("status_o"),
          round(coalesce(col("P"), lit(0)), 2).as("status_p"))
        .orderBy("o_orderpriority")
    },

    // Window frame zoo: lead/lag offsets, running max over a ROWS
    // frame, ntile buckets — one shuffle on the partition key feeds
    // every function (same window spec ⇒ one WindowExec pass).
    GraftQuery(
      "q21_window_frames",
      """SELECT o_orderkey, o_custkey,
        |  round(lag(o_totalprice) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice) OVER w, 2) AS next_price,
        |  round(max(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_max,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
          round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
          round(max(col("o_totalprice")).over(wf), 2).as("run_max"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    },

    // Array + higher-order functions: per-order sorted part list
    // (emitted as a joined string — engine-portable array encoding),
    // an aggregate() HOF fold, and a distinct count. collect_list is
    // a single grouped pass; the HOF folds WITHOUT exploding.
    GraftQuery(
      "q22_array_ops",
      """SELECT l_orderkey,
        |  string_agg(l_partkey::varchar, ',' ORDER BY l_partkey) AS parts,
        |  count(*) AS n_items,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
          expr("array_join(transform(array_sort(collect_list(l_partkey))," +
            " x -> cast(x AS string)), ',')").as("parts"),
          count(lit(1)).as("n_items"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          round(expr(
            "aggregate(collect_list(l_quantity), 0D, (acc, x) -> acc + x)"),
            2).as("total_qty"))
        .orderBy("l_orderkey")
    },

    // Broadcast as-of join (AsOfJoin.asOfBroadcast): the small signup
    // timeline ships to executors as a sorted-lookup broadcast and
    // every purchase resolves its match with a local binary search —
    // the 100 TB fact side is never shuffled or sorted (plan pinned in
    // AsOfJoinSpec). Third physical form of the same semantics; same
    // DuckDB ASOF oracle shape as q12/q18.
    GraftQuery(
      "q23_asof_broadcast",
      """WITH s AS (
        |  SELECT user_id, version, signup_id FROM (
        |    SELECT user_id, epoch_ms(ts) AS version, event_id AS signup_id,
        |      row_number() OVER (PARTITION BY user_id, epoch_ms(ts)
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'signup')
        |  WHERE rn = 1),
        |p AS (
        |  SELECT user_id, epoch_ms(ts) AS version, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, s.signup_id, p.version - s.version AS since_signup_ms
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND p.version >= s.version
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.loadEvents(s, dir)
      val dedup = Window.partitionBy("user_id", "version")
        .orderBy(col("signup_id").desc)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("version"),
          col("event_id").as("signup_id"), col("version").as("signup_version"))
        .withColumn("rn", row_number().over(dedup))
        .filter(col("rn") === 1).drop("rn")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("version"), col("event_id").as("purchase_id"))
      graft.operators.AsOfJoin.asOfBroadcast(purchases, signups, Seq("user_id"), "version")
        .select(col("purchase_id"), col("signup_id"),
          (col("version") - col("signup_version")).as("since_signup_ms"))
        .orderBy("purchase_id")
    },

    // Unpivot (wide → long): Dataset.unpivot emits all metric rows in
    // one Expand pass over the scan — no per-metric re-read, no
    // shuffle at all before the final sort. Oracle is the relational
    // definition (stacked UNION ALL).
    GraftQuery(
      "q24_unpivot",
      """SELECT l_orderkey, l_linenumber, metric, round(val, 2) AS val FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "metric", "val")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          round(col("val"), 2).as("val"))
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },

    // Multi-table star join (TPC-H Q5 shape): two fact-fact shuffles
    // (lineitem⋈orders, ⋈customer) with every dimension broadcast —
    // the mixed plan a real warehouse query needs. AQE coalesces the
    // post-shuffle partitions; Catalyst reorders the dimension joins
    // behind the broadcasts.
    GraftQuery(
      "q25_star_join",
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = broadcast(Tables.load(s, dir, "nation"))
      val r = broadcast(Tables.load(s, dir, "region").filter(col("r_name") === "ASIA"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // Z-order layout: bit-interleave two filter dimensions, bucket by
    // the z-prefix, and report each bucket's min/max in BOTH
    // dimensions — the per-file footer stats a z-sorted write would
    // produce, demonstrating that one layout key yields narrow ranges
    // (=> scan pruning) on either column.
    GraftQuery(
      "f13_zorder_layout", {
        val z = graft.operators.ZOrder.zValueSql("zx", "zy")
        s"""WITH d AS (
           |  SELECT l_orderkey % 65536 AS zx, l_partkey % 65536 AS zy
           |  FROM lineitem),
           |z AS (SELECT zx, zy, $z AS zval FROM d)
           |SELECT zval >> 22 AS bucket, count(*) AS n,
           |  min(zx) AS min_x, max(zx) AS max_x,
           |  min(zy) AS min_y, max(zy) AS max_y
           |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
      }) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(pmod(col("l_orderkey"), lit(65536L)).as("zx"),
          pmod(col("l_partkey"), lit(65536L)).as("zy"))
        .withColumn("zval",
          graft.operators.ZOrder.zValue(col("zx"), col("zy")))
        .groupBy(shiftright(col("zval"), 22).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("zx").as("min_x"), max("zx").as("max_x"),
          min("zy").as("min_y"), max("zy").as("max_y"))
        .orderBy("bucket")
    },

    // Funnel analysis (sequential pattern): per user, the earliest
    // view / click / purchase timestamps, then ordered-stage
    // conversion — stage N counts only if its first occurrence is at
    // or after stage N-1's. One groupBy pass (conditional min per
    // stage), one small aggregate — no joins, no per-stage scans.
    GraftQuery(
      "q26_funnel",
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_buy
        |  FROM events GROUP BY user_id)
        |SELECT
        |  count(t_view)::BIGINT AS n_view,
        |  sum(CASE WHEN t_click >= t_view THEN 1 ELSE 0 END)::BIGINT AS n_view_click,
        |  sum(CASE WHEN t_click >= t_view AND t_buy >= t_click
        |           THEN 1 ELSE 0 END)::BIGINT AS n_view_click_buy
        |FROM f""".stripMargin) { (s, dir) =>
      val ev = Tables.loadEvents(s, dir)
      def firstTs(kind: String) =
        min(when(col("event_type") === kind, col("version"))).as(s"t_$kind")
      val f = ev.groupBy("user_id")
        .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
      f.agg(
        count(col("t_view")).as("n_view"),
        sum(when(col("t_click") >= col("t_view"), 1L).otherwise(0L))
          .as("n_view_click"),
        sum(when(col("t_click") >= col("t_view") &&
            col("t_purchase") >= col("t_click"), 1L).otherwise(0L))
          .as("n_view_click_buy"))
    },

    // Dataset profiling: null count, exact distinct cardinality, and
    // rendered min/max per column of `orders`, in ONE table pass
    // (operators.Profile). The oracle is the per-column UNION ALL the
    // single-pass plan replaces.
    GraftQuery(
      "c1_column_profile", {
        def leg(c: String, mn: String, mx: String) =
          s"""SELECT '$c' AS col_name,
             |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
             |  $mn AS min_s, $mx AS max_s FROM orders""".stripMargin
        def plain(c: String) = leg(c, s"min($c)::VARCHAR", s"max($c)::VARCHAR")
        Seq(
          plain("o_custkey"),
          leg("o_orderdate",
            "strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')",
            "strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
          plain("o_orderkey"),
          plain("o_orderpriority"),
          plain("o_orderstatus"),
          leg("o_totalprice",
            "round(min(o_totalprice), 2)::VARCHAR",
            "round(max(o_totalprice), 2)::VARCHAR"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }) { (s, dir) =>
      import graft.operators.Profile
      Profile.profile(Tables.load(s, dir, "orders"), Seq(
          Profile.Spec("o_custkey"),
          Profile.Spec("o_orderdate", date_format(_, "yyyy-MM-dd HH:mm:ss")),
          Profile.Spec("o_orderkey"),
          Profile.Spec("o_orderpriority"),
          Profile.Spec("o_orderstatus"),
          Profile.Spec("o_totalprice", round(_, 2))))
        .orderBy("col_name")
    },

    // Interval-overlap join (RangeJoin.intervalJoin): per customer,
    // pairs of orders whose fulfillment windows [orderdate,
    // orderdate + 1 + orderkey%7 days) overlap. Both interval sets
    // explode to week buckets, meet in ONE equi-shuffle on
    // (custkey, bucket), and each pair is emitted exactly once (pinned
    // to the bucket holding the overlap start) — no cross product, no
    // distinct. The oracle is the plain theta-join Spark would
    // otherwise plan as a nested loop.
    GraftQuery(
      "q27_interval_join",
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS s,
        |    date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
        |      + 1 + o_orderkey % 7 AS e
        |  FROM orders)
        |SELECT a.o_custkey AS custkey,
        |  a.o_orderkey AS ok_a, b.o_orderkey AS ok_b,
        |  least(a.e, b.e) - greatest(a.s, b.s) AS overlap_days
        |FROM o a JOIN o b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        | AND a.s < b.e AND b.s < a.e
        |ORDER BY custkey, ok_a, ok_b""".stripMargin) { (s, dir) =>
      import graft.operators.RangeJoin
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long")
            .as("s"))
        .withColumn("e", col("s") + 1L + col("o_orderkey") % 7)
      val a = o.select(col("o_custkey"), col("o_orderkey").as("ok_a"),
        col("s").as("s_a"), col("e").as("e_a"))
      val b = o.select(col("o_custkey"), col("o_orderkey").as("ok_b"),
        col("s").as("s_b"), col("e").as("e_b"))
      RangeJoin.intervalJoin(a, b, Seq("o_custkey"),
          "s_a", "e_a", "s_b", "e_b", bucketWidth = 7L)
        .filter(col("ok_a") < col("ok_b"))
        .select(col("o_custkey").as("custkey"), col("ok_a"), col("ok_b"),
          (least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")))
            .as("overlap_days"))
        .orderBy("custkey", "ok_a", "ok_b")
    },

    // Time-series gap-fill + forward fill (TimeSeries.gapFillFfill):
    // irregular events resampled onto an hourly grid per user, gaps
    // carried forward by one ordered window pass. The grid explodes
    // executor-side (`sequence`), and the aggregate, join, and fill
    // window share one hash partitioning on the key.
    GraftQuery(
      "q28_gapfill",
      """WITH e AS (
        |  SELECT user_id, (epoch_ms(ts) // 3600000) * 3600000 AS tick_ms, value
        |  FROM events WHERE user_id < 10),
        |obs AS (
        |  SELECT user_id, tick_ms, sum(value) AS v_obs
        |  FROM e GROUP BY user_id, tick_ms),
        |grid AS (
        |  SELECT user_id, unnest(range(t0, t1 + 1, 3600000)) AS tick_ms
        |  FROM (SELECT user_id, min(tick_ms) AS t0, max(tick_ms) AS t1
        |        FROM obs GROUP BY user_id)),
        |j AS (
        |  SELECT g.user_id, g.tick_ms, o.v_obs
        |  FROM grid g LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.tick_ms = o.tick_ms)
        |SELECT user_id, tick_ms, round(v_obs, 4) AS v_obs,
        |  round(last_value(v_obs IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY tick_ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_ffill,
        |  v_obs IS NULL AS is_gap
        |FROM j ORDER BY user_id, tick_ms""".stripMargin) { (s, dir) =>
      import graft.operators.TimeSeries
      val ev = Tables.loadEvents(s, dir).filter(col("user_id") < 10)
      TimeSeries.gapFillFfill(ev, "user_id", "version", "value",
          stepMs = 3600000L)
        .select(col("user_id"), col("tick_ms"),
          round(col("v_obs"), 4).as("v_obs"),
          round(col("v_ffill"), 4).as("v_ffill"), col("is_gap"))
        .orderBy("user_id", "tick_ms")
    },

    // SQL surface with correlated subqueries (TPC-H Q4 shape): the
    // same engine through spark.sql(...) — Catalyst decorrelates the
    // EXISTS into a left-semi join and the scalar subquery into a
    // broadcast, so the declarative form carries no per-row probe
    // cost. Every other query here uses the DataFrame API; this one
    // pins the SQL entry point end-to-end.
    GraftQuery(
      "q29_exists_subquery",
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |  AND o.o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
      Seq("orders", "lineitem").foreach { t =>
        Tables.load(s, dir, t).createOrReplaceTempView(t)
      }
      s.sql(
        """SELECT o.o_orderpriority, count(*) AS order_count
          |FROM orders o
          |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o.o_orderdate < TIMESTAMP '1996-10-01'
          |  AND EXISTS (
          |    SELECT 1 FROM lineitem l
          |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
          |  AND o.o_totalprice > (SELECT avg(o_totalprice) FROM orders)
          |GROUP BY o.o_orderpriority
          |ORDER BY o.o_orderpriority""".stripMargin)
    },

    // Value-based RANGE window frame (q21 covers ROWS frames): per
    // customer, trailing-30-day spend — the frame is defined by the
    // ORDER-BY VALUE (epoch day), not row position, so sparse/bursty
    // order histories aggregate over true time, and all peers of a
    // day share one frame. Same single WindowExec pass as a ROWS
    // frame; only the bound comparison differs.
    GraftQuery(
      "q30_range_frame",
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        |  round(sum(o_totalprice) OVER w, 2) AS spend_30d,
        |  count(*) OVER w AS orders_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("day")
        .rangeBetween(-29, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          round(sum(col("o_totalprice")).over(w), 2).as("spend_30d"),
          count(lit(1)).over(w).as("orders_30d"))
        .orderBy("o_orderkey")
    },

    // Declarative data-quality constraints (operators.Checks) — the
    // continuous form of the reference's checkSync oracle (referential
    // integrity + field validity, tests/testSyncClass.py:273-333):
    // PK uniqueness, FK resolution, nullability, and a range check
    // that actually fires, all row-level checks sharing ONE scan.
    GraftQuery(
      "c2_constraint_check",
      """WITH n AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT 'in_range(o_totalprice,0.0,400000.0)' AS check_name,
        |  (SELECT count(*) FROM orders
        |   WHERE o_totalprice IS NOT NULL
        |     AND o_totalprice NOT BETWEEN 0.0 AND 400000.0) AS n_violations,
        |  n_rows FROM n
        |UNION ALL
        |SELECT 'not_null(o_custkey)',
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL), n_rows FROM n
        |UNION ALL
        |SELECT 'refers_to(o_custkey)',
        |  (SELECT count(*) FROM
        |    (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
        |    ANTI JOIN customer c ON o.o_custkey = c.c_custkey), n_rows FROM n
        |UNION ALL
        |SELECT 'unique(o_orderkey)',
        |  (SELECT coalesce(sum(c), 0)::BIGINT FROM
        |    (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
        |     HAVING count(*) > 1)), n_rows FROM n
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      import graft.operators.Checks
      Checks.run(Tables.load(s, dir, "orders"), Seq(
          Checks.InRange("o_totalprice", 0.0, 400000.0),
          Checks.NotNull("o_custkey"),
          Checks.RefersTo(Seq("o_custkey"),
            Tables.load(s, dir, "customer"), Seq("c_custkey")),
          Checks.Unique(Seq("o_orderkey"))))
        .orderBy("check_name")
    },

    // Sliding event-time windows in BATCH via the built-in `window()`
    // generator: 2-hour windows every hour, each event expanding to
    // its two covering windows map-side (an Expand, no join) before
    // one hash aggregate — the same overlap semantics the streaming
    // WindowedStats path uses, here over the static table.
    GraftQuery(
      "q31_sliding_window",
      """WITH e AS (SELECT epoch_ms(ts) AS t, value FROM events),
        |x AS (
        |  SELECT unnest([
        |    ((t // 3600000) - 1) * 3600000,
        |    (t // 3600000) * 3600000]) AS ws, t, value
        |  FROM e)
        |SELECT ws, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM x WHERE t >= ws AND t < ws + 7200000
        |GROUP BY ws ORDER BY ws""".stripMargin) { (s, dir) =>
      Tables.loadEvents(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
        .select(unix_millis(col("w.start")).as("ws"), col("n"), col("sum_v"))
        .orderBy("ws")
    },

    // Correlated NOT EXISTS (TPC-H Q21/Q22 shape): market segments
    // counted over customers with no finished order. Catalyst
    // decorrelates the subquery to a LEFT ANTI join — the negated
    // probe never materializes per-row subplans, and at scale it is
    // one shuffled anti join against the filtered orders side.
    GraftQuery(
      "q32_not_exists",
      """SELECT c.c_mktsegment, count(*) AS cust_count
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin) { (s, dir) =>
      Seq("customer", "orders").foreach { t =>
        Tables.load(s, dir, t).createOrReplaceTempView(t)
      }
      s.sql(
        """SELECT c.c_mktsegment, count(*) AS cust_count
          |FROM customer c
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM orders o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          |GROUP BY c.c_mktsegment
          |ORDER BY c.c_mktsegment""".stripMargin)
    },

    // Correlated scalar-aggregate subquery (TPC-H Q17 shape, and the
    // LWW domain's "rows below their key's maximum version" predicate):
    // each lineitem compares against ITS part's average quantity.
    // Catalyst decorrelates this to one aggregate over lineitem keyed
    // by partkey joined back to the probe side — the per-key aggregate
    // is computed once per key, not once per probe row.
    GraftQuery(
      "q33_scalar_subquery",
      """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#23'
        |  AND l.l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin) { (s, dir) =>
      Seq("lineitem", "part").foreach { t =>
        Tables.load(s, dir, t).createOrReplaceTempView(t)
      }
      s.sql(
        """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
          |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          |WHERE p.p_brand = 'Brand#23'
          |  AND l.l_quantity < (
          |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
    },

    // Recursive CTE (Spark 4's WITH RECURSIVE → UnionLoop): walk each
    // customer's orders in date order as a linked chain, accumulating
    // a running spend — identical ANSI SQL runs in both engines. The
    // running sum is rounded at EVERY accumulation step so the two
    // engines' doubles stay in lockstep (round-at-the-end would
    // compare differently-ordered partial sums). Iteration count is
    // bounded by the longest per-customer chain, not corpus size, and
    // each loop pass is one distributed join — the iterative-SQL
    // surface (hierarchies, BOM walks, frontier expansion) the
    // DataFrame loop in DupClusters hand-rolls.
    GraftQuery(
      "q34_recursive_cte",
      """WITH RECURSIVE seq AS (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |walk(custkey, orderkey, rn, step, running) AS (
        |  SELECT o_custkey, o_orderkey, rn, 1, price FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.o_custkey, s.o_orderkey, s.rn, w.step + 1,
        |         round(w.running + s.price, 2)
        |  FROM walk w JOIN seq s
        |    ON s.o_custkey = w.custkey AND s.rn = w.rn + 1
        |  WHERE w.step < 8)
        |SELECT custkey, count(*) AS chain_len, max(step) AS max_step,
        |       round(max(running), 2) AS total
        |FROM walk GROUP BY custkey
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      // hoist the loop-INVARIANT seq (the ranked order chain) out of
      // the recursion and materialize it once: a CTE referenced from
      // the recursive member would otherwise re-plan and re-execute
      // its window on EVERY UnionLoop iteration — 8 windows over the
      // full orders table instead of one (measured 5.9 s → this form)
      Pin(s.sql(
        """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
          |       row_number() OVER (PARTITION BY o_custkey
          |         ORDER BY o_orderdate, o_orderkey) AS rn
          |FROM orders""".stripMargin))
        .createOrReplaceTempView("seq")
      s.sql(
        """WITH RECURSIVE walk(custkey, orderkey, rn, step, running) AS (
          |  SELECT o_custkey, o_orderkey, rn, 1, price FROM seq WHERE rn = 1
          |  UNION ALL
          |  SELECT s.o_custkey, s.o_orderkey, s.rn, w.step + 1,
          |         round(w.running + s.price, 2)
          |  FROM walk w JOIN seq s
          |    ON s.o_custkey = w.custkey AND s.rn = w.rn + 1
          |  WHERE w.step < 8)
          |SELECT custkey, count(*) AS chain_len, max(step) AS max_step,
          |       round(max(running), 2) AS total
          |FROM walk GROUP BY custkey
          |ORDER BY custkey""".stripMargin)
    },

    // Incremental aggregate maintenance: per-day additive partials
    // (the stored state a tick overwrites one day of) rolled up to
    // months WITHOUT rescanning the facts. The oracle aggregates the
    // raw table straight to months — partial-merge must equal the
    // one-shot aggregate exactly (count/sum/min/max decompose; avg
    // derives at read time as sum/n).
    GraftQuery(
      "a5_incremental_rollup",
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS grain,
        |  l_returnflag,
        |  count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_r,
        |  round(min(l_extendedprice), 2) AS min_r,
        |  round(max(l_extendedprice), 2) AS max_r,
        |  round(round(sum(l_extendedprice), 2) / count(*), 4) AS avg_r
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY grain, l_returnflag""".stripMargin) { (s, dir) =>
      import graft.operators.AdditiveRollup
      val li = Tables.load(s, dir, "lineitem")
      val dayPartials = AdditiveRollup.partials(li,
        date_trunc("day", col("l_shipdate")), Seq("l_returnflag"),
        col("l_extendedprice"))
      AdditiveRollup.rollup(dayPartials,
          date_format(col("_grain"), "yyyy-MM"), Seq("l_returnflag"))
        .select(col("grain"), col("l_returnflag"), col("n"),
          round(col("sum_v"), 2).as("sum_r"),
          round(col("min_v"), 2).as("min_r"),
          round(col("max_v"), 2).as("max_r"),
          // average from the ROUNDED sum: the raw partial-merged sum
          // and the oracle's one-shot sum differ in the last float
          // bits (different summation order), which a 4-dp round of
          // the quotient can surface; dividing the 2-dp sum makes
          // both engines divide the identical number
          round(round(col("sum_v"), 2) / col("n"), 4).as("avg_r"))
        .orderBy("grain", "l_returnflag")
    },

    // Rolling z-score anomaly detection: per user, each event scored
    // against the trailing-24h mean/stddev (value-based RANGE frame —
    // q30's time-true windowing applied to outlier detection). Both
    // engines filter on the ROUNDED z so the row set is decided by
    // the same number.
    GraftQuery(
      "q35_rolling_zscore",
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts)::BIGINT AS t, value
        |  FROM events),
        |s AS (
        |  SELECT event_id, user_id, t, value,
        |    count(*) OVER w AS n_w,
        |    avg(value) OVER w AS m,
        |    stddev_samp(value) OVER w AS sd
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t
        |    RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, t, round(value, 2) AS v, n_w,
        |       round((value - m) / sd, 3) AS z
        |FROM s
        |WHERE n_w >= 5 AND sd > 0 AND abs(round((value - m) / sd, 3)) > 2
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.loadEvents(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("t"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("t")
        .rangeBetween(-86400000L, 0L)
      e.withColumn("n_w", count(lit(1)).over(w))
        .withColumn("m", avg("value").over(w))
        .withColumn("sd", stddev_samp("value").over(w))
        .filter(col("n_w") >= 5 && col("sd") > 0)
        .withColumn("z", round((col("value") - col("m")) / col("sd"), 3))
        .filter(abs(col("z")) > 2)
        .select(col("event_id"), col("user_id"), col("t"),
          round(col("value"), 2).as("v"), col("n_w"), col("z"))
        .orderBy("event_id")
    },

    // Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    // SQL spelling of top-k-per-group (q8's window form, as the
    // standard LATERAL idiom). Catalyst decorrelates the limited
    // subquery; the comma-LATERAL syntax parses identically in both
    // engines.
    GraftQuery(
      "q36_lateral_topk",
      """SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, price DESC, t.o_orderkey""".stripMargin) { (s, dir) =>
      Seq("customer", "orders").foreach { t =>
        Tables.load(s, dir, t).createOrReplaceTempView(t)
      }
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
          |FROM customer c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c.c_custkey, price DESC, t.o_orderkey""".stripMargin)
    },

    // Log-histogram quantile sketch (sketch.LogHistogram): price
    // quantiles from a bounded counter table (16 sub-buckets per
    // power of two => <= 6.25% relative error at any magnitude),
    // exact interpolated percentiles alongside for calibration. The
    // bucket arithmetic is floor/log2/divide on IEEE doubles — the
    // oracle reproduces every bucket id and edge verbatim, unlike
    // merge-order-dependent digests.
    GraftQuery(
      "c5_histogram_quantiles",
      """WITH h AS (
        |  SELECT (floor(log2(o_totalprice)) * 16
        |          + floor((o_totalprice
        |                   / power(2.0, floor(log2(o_totalprice))) - 1) * 16)
        |         )::BIGINT AS bucket,
        |         count(*) AS cnt
        |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
        |w AS (
        |  SELECT bucket, cnt,
        |    sum(cnt) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
        |    sum(cnt) OVER ()::BIGINT AS total
        |  FROM h),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
        |sel AS (
        |  SELECT q, min(bucket) AS bucket
        |  FROM qs JOIN w ON cum >= q * total GROUP BY q),
        |est AS (
        |  SELECT q,
        |    round((1.0 + (bucket % 16) / 16.0) * power(2.0, bucket // 16), 4)
        |      AS hist_est
        |  FROM sel),
        |ex AS (
        |  SELECT unnest([0.5, 0.9, 0.99]) AS q,
        |         unnest([round(quantile_cont(o_totalprice, 0.5), 2),
        |                 round(quantile_cont(o_totalprice, 0.9), 2),
        |                 round(quantile_cont(o_totalprice, 0.99), 2)]) AS exact_p
        |  FROM orders)
        |SELECT q, exact_p, hist_est
        |FROM est JOIN ex USING (q)
        |ORDER BY q""".stripMargin) { (s, dir) =>
      import graft.sketch.LogHistogram
      val orders = Tables.load(s, dir, "orders")
      val hist = LogHistogram.build(orders, col("o_totalprice"))
      val est = LogHistogram.quantiles(hist, Seq(0.5, 0.9, 0.99))
        .select(col("q"), round(col("est"), 4).as("hist_est"))
      val exact = orders.agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"))
        .select(explode(array(
          struct(lit(0.5).as("q"), col("p50").as("exact_p")),
          struct(lit(0.9).as("q"), col("p90").as("exact_p")),
          struct(lit(0.99).as("q"), col("p99").as("exact_p")))).as("x"))
        .select(col("x.q"), col("x.exact_p"))
      est.join(exact, "q")
        .select(col("q"), col("exact_p"), col("hist_est"))
        .orderBy("q")
    },

    // Sliding-window DISTINCT users (7-day active): the scalable
    // day-grain form — dedupe (day, user) FIRST (cardinality
    // days×users, never raw events), explode each pair into the ≤7
    // windows it serves (map-side), dedupe (window, user), count.
    // Exact sliding distinct without ever holding a window's raw
    // events; the approximate path at extreme cardinality is c4's
    // mergeable HLL per day folded over the same frame.
    GraftQuery(
      "q37_sliding_distinct",
      """WITH a AS (
        |  SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM a),
        |w AS (
        |  SELECT d.day AS wd, a.user_id
        |  FROM days d JOIN a ON a.day BETWEEN d.day - 6 AND d.day)
        |SELECT wd, count(DISTINCT user_id) AS n_active
        |FROM w GROUP BY wd ORDER BY wd""".stripMargin) { (s, dir) =>
      val active = Tables.loadEvents(s, dir)
        .select(expr("unix_millis(ts) div 86400000").as("day"),
          col("user_id"))
        .distinct()
      val days = active.select("day").distinct()
        .withColumnRenamed("day", "wd")
      active
        .withColumn("wd", explode(sequence(col("day"), col("day") + 6)))
        .join(broadcast(days), Seq("wd"), "left_semi")
        .select("wd", "user_id").distinct()
        .groupBy("wd").agg(count(lit(1)).as("n_active"))
        .orderBy("wd")
    },

    // q37's extreme-cardinality twin: sliding distinct from MERGED
    // per-day HLL registers — the sketch is the stored state (≤64
    // rows/day regardless of users), a window's registers fold by
    // per-register max (the HLL merge law), yesterday's events are
    // never rescanned. Exact count rides along to show the error.
    GraftQuery(
      "q38_sliding_hll",
      """WITH a AS (
        |  SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
        |  FROM events),
        |h AS (SELECT day,
        |        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS v
        |      FROM a),
        |hr AS (SELECT day, v % 64 AS register,
        |         CASE WHEN v // 64 = 0 THEN 55
        |              ELSE 54 - floor(log2(v // 64))::BIGINT END AS rho
        |       FROM h),
        |sk AS (SELECT day, register, max(rho) AS r
        |       FROM hr GROUP BY day, register),
        |days AS (SELECT DISTINCT day FROM sk),
        |wsk AS (SELECT d.day AS wd, s.register, max(s.r) AS r
        |        FROM days d JOIN sk s ON s.day BETWEEN d.day - 6 AND d.day
        |        GROUP BY d.day, s.register),
        |agg AS (SELECT wd, sum(power(2.0, -r)) AS z, count(*) AS np
        |        FROM wsk GROUP BY wd),
        |est AS (SELECT wd, 0.709 * 64 * 64 / (z + (64 - np)) AS e,
        |          64 - np AS vz FROM agg),
        |fin AS (SELECT wd, CASE WHEN e <= 160.0 AND vz > 0
        |               THEN 64.0 * ln(64.0 / vz) ELSE e END AS est
        |        FROM est),
        |ex AS (SELECT d.day AS wd, count(DISTINCT a.user_id) AS n_exact
        |       FROM days d JOIN a ON a.day BETWEEN d.day - 6 AND d.day
        |       GROUP BY d.day)
        |SELECT wd, n_exact, round(est, 2) AS hll_estimate
        |FROM fin JOIN ex USING (wd)
        |ORDER BY wd""".stripMargin) { (s, dir) =>
      import graft.sketch.HyperLogLog
      val active = Tables.loadEvents(s, dir)
        .select(expr("unix_millis(ts) div 86400000").as("day"),
          col("user_id"))
        .distinct()
      val daily = HyperLogLog.build(
        active.select(col("day"), col("user_id").cast("string").as("item")),
        col("item"), keys = Seq("day"))
      val days = daily.select("day").distinct().withColumnRenamed("day", "wd")
      val windowed = daily
        .withColumn("wd", explode(sequence(col("day"), col("day") + 6)))
        .join(broadcast(days), Seq("wd"), "left_semi")
        .groupBy("wd", "register").agg(max("r").as("r"))
      val exact = active
        .withColumn("wd", explode(sequence(col("day"), col("day") + 6)))
        .join(broadcast(days), Seq("wd"), "left_semi")
        .select("wd", "user_id").distinct()
        .groupBy("wd").agg(count(lit(1)).as("n_exact"))
      HyperLogLog.estimate(windowed, keys = Seq("wd"))
        .join(exact, "wd")
        .select(col("wd"), col("n_exact"),
          round(col("hll_estimate"), 2).as("hll_estimate"))
        .orderBy("wd")
    },

    // q38's sliding distinct served from STORED per-day registers
    // (EventSketchStore): the window merge reads ≤ 64 stored rows per
    // day — the events stream is never rescanned (plan-asserted), so
    // a year-long dashboard sweep costs the same whether the stream
    // holds a million events or a hundred terabytes. Registers
    // max-fold exactly, so the full-corpus oracle re-derivation
    // hash-matches the store-served path bit-for-bit.
    GraftQuery(
      "q52_stored_sliding_hll",
      """WITH a AS (
        |  SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
        |  FROM events),
        |h AS (SELECT day,
        |        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS v
        |      FROM a),
        |hr AS (SELECT day, v % 64 AS register,
        |         CASE WHEN v // 64 = 0 THEN 55
        |              ELSE 54 - floor(log2(v // 64))::BIGINT END AS rho
        |       FROM h),
        |sk AS (SELECT day, register, max(rho) AS r
        |       FROM hr GROUP BY day, register),
        |days AS (SELECT DISTINCT day FROM sk),
        |wsk AS (SELECT d.day AS wd, s.register, max(s.r) AS r
        |        FROM days d JOIN sk s ON s.day BETWEEN d.day - 6 AND d.day
        |        GROUP BY d.day, s.register),
        |agg AS (SELECT wd, sum(power(2.0, -r)) AS z, count(*) AS np
        |        FROM wsk GROUP BY wd),
        |est AS (SELECT wd, 0.709 * 64 * 64 / (z + (64 - np)) AS e,
        |          64 - np AS vz FROM agg),
        |fin AS (SELECT wd, CASE WHEN e <= 160.0 AND vz > 0
        |               THEN 64.0 * ln(64.0 / vz) ELSE e END AS est
        |        FROM est)
        |SELECT wd, round(est, 2) AS hll_estimate
        |FROM fin ORDER BY wd""".stripMargin) { (s, dir) =>
      import graft.sketch.{EventSketchStore, HyperLogLog}
      val daily = EventSketchStore.dayRegisters(s, dir)
      val days = daily.select("day").distinct().withColumnRenamed("day", "wd")
      val windowed = daily
        .withColumn("wd", explode(sequence(col("day"), col("day") + 6)))
        .join(broadcast(days), Seq("wd"), "left_semi")
        .groupBy("wd", "register").agg(max("r").as("r"))
      HyperLogLog.estimate(windowed, keys = Seq("wd"))
        .select(col("wd"),
          round(col("hll_estimate"), 2).as("hll_estimate"))
        .orderBy("wd")
    },

    // Bucketed co-located join: both tables written bucketBy(16, key)
    // into the catalog, so the fact-fact join's required distribution
    // is satisfied AT THE SCAN — no Exchange on either side (the spec
    // pins the exchange-free plan with broadcast disabled). The write
    // is the point: a one-time layout decision replaces re-shuffling
    // both inputs on every query of a repeated join key.
    GraftQuery(
      "q39_bucketed_join",
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import graft.operators.Bucketing
      // layout written ONCE per source state; reruns reuse the
      // clustered files (that one-time-write trade is bucketing's
      // entire 100 TB argument)
      val fp = graft.sources.ArtifactStore.fingerprint(s"$dir/lineitem.parquet") +
        graft.sources.ArtifactStore.fingerprint(s"$dir/orders.parquet")
      Bucketing.ensureBucketed(
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("okey"),
            col("l_extendedprice"), col("l_discount")),
        "graft_bkt_lineitem", "okey", buckets = 16, fp)
      Bucketing.ensureBucketed(
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("okey"), col("o_orderpriority")),
        "graft_bkt_orders", "okey", buckets = 16, fp)
      Bucketing.colocatedJoin(s, "graft_bkt_lineitem", "graft_bkt_orders", "okey")
        .groupBy("o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },

    // Parquet AGGREGATE pushdown: COUNT/MIN/MAX answered from file
    // footer statistics — zero data pages read (the plan shows
    // PushedAggregation and the scan's ReadSchema is the aggregated
    // values, not the columns). Runs in an isolated newSession():
    // the DSv2 parquet path + pushdown flags stay scoped to this
    // query, the shared session keeps its v1 plans.
    GraftQuery(
      "q40_agg_pushdown",
      """SELECT count(*) AS n_rows,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_linenumber) AS min_line, max(l_linenumber) AS max_line
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      // numeric columns only: a timestamp MIN/MAX in the list blocks
      // parquet stats pushdown wholesale (measured — the plan guard
      // pins the pushed form)
      s2.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          min("l_linenumber").as("min_line"), max("l_linenumber").as("max_line"))
    },

    // Cohort retention: users bucketed by first-seen week, then the
    // classic (cohort, offset) activity matrix. Two hash aggregates
    // (per-user first week; distinct user-weeks) and one join keyed
    // on user_id — no window over the full event stream, so the
    // event table is touched twice and exchanged on user_id only.
    GraftQuery(
      "q41_cohort_retention",
      """WITH uw AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id),
        |sz AS (SELECT cohort, count(*) AS n_cohort FROM c GROUP BY cohort)
        |SELECT c.cohort, uw.week - c.cohort AS wk_offset,
        |  count(DISTINCT uw.user_id) AS n_active,
        |  any_value(sz.n_cohort) AS n_cohort,
        |  round(count(DISTINCT uw.user_id) * 1.0 / any_value(sz.n_cohort), 4)
        |    AS retention
        |FROM uw JOIN c USING (user_id) JOIN sz USING (cohort)
        |GROUP BY c.cohort, wk_offset
        |ORDER BY cohort, wk_offset""".stripMargin) { (s, dir) =>
      val uw = Tables.loadEvents(s, dir)
        .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("week"))
        .distinct()
      val cohorts = uw.groupBy("user_id").agg(min("week").as("cohort"))
      val sizes = cohorts.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
      uw.join(cohorts, "user_id").join(sizes, "cohort")
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("wk_offset"))
        .agg(countDistinct("user_id").as("n_active"),
          first("n_cohort").as("n_cohort"),
          round(countDistinct("user_id") * lit(1.0) / first("n_cohort"), 4)
            .as("retention"))
        .orderBy("cohort", "wk_offset")
    },

    // PageRank over the customer -> supplier purchase graph: the
    // iterative-join workload beyond connected components. Five
    // damped iterations with dangling-mass redistribution (the
    // supplier side has no out-edges); the oracle unrolls the same
    // chain as CTE stages with identical literals — note
    // (1.0 - 0.85), never 0.15: they are different doubles.
    GraftQuery("q43_pagerank", pageRankOracleSql(5)) { (s, dir) =>
      val e = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.operators.PageRank.ranks(s, e, iters = 5, d = 0.85)
        .orderBy("node")
    },

    // Market-basket co-occurrence: supplier pairs co-supplying the
    // same order, with support and lift. Pair generation is
    // bucket-local per order (PairGen: baskets are tiny, so pair
    // volume is Σ C(basket, 2) — linear in orders, never |s|²);
    // lift's numerator/denominator stay integer until the final
    // rounded division.
    GraftQuery(
      "q44_market_basket",
      """WITH os AS (
        |  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
        |n AS (SELECT count(DISTINCT o) * 1.0 AS n_orders FROM os),
        |supp AS (SELECT s, count(*) AS c FROM os GROUP BY s),
        |pairs AS (
        |  SELECT a.s AS s1, b.s AS s2, count(*) AS support
        |  FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2)
        |SELECT s1, s2, support,
        |  round(support * n_orders / (ca.c * cb.c), 4) AS lift
        |FROM pairs JOIN supp ca ON s1 = ca.s JOIN supp cb ON s2 = cb.s
        |  CROSS JOIN n
        |WHERE support >= 20
        |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
      // ONE lineitem pass: the per-order distinct supplier baskets
      // (collect_set fuses the (o, s) dedup into the group, r17) feed
      // all three consumers — order count, per-supplier counts and the
      // pair expansion each re-read the checkpointed basket frame
      // (~|orders| rows) where the pre-r17 form re-ran the full
      // lineitem distinct once per consumer
      val baskets = Pin(graft.dedup.PairGen.distinctBuckets(
          Tables.load(s, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")),
          Seq("o"), col("s")))
      val nOrders = baskets
        .agg(count(lit(1)).cast("double").as("n_orders"))
      val supp = baskets.select(explode(col("_members")).as("s"))
        .groupBy("s").agg(count(lit(1)).as("c"))
      val pairs = graft.dedup.PairGen.pairsOfBuckets(baskets)
        .groupBy(col("a").as("s1"), col("b").as("s2"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 20)
      pairs
        .join(supp.select(col("s").as("s1"), col("c").as("ca")), "s1")
        .join(supp.select(col("s").as("s2"), col("c").as("cb")), "s2")
        .crossJoin(broadcast(nOrders))
        .select(col("s1"), col("s2"), col("support"),
          round(col("support") * col("n_orders") / (col("ca") * col("cb")), 4)
            .as("lift"))
        .orderBy("s1", "s2")
    },

    // Concentration (Gini) of supplier revenue — the inequality
    // metric a data-mix or marketplace report leads with. Exact
    // discrete Gini over the sorted revenue vector:
    // G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n. One aggregate for
    // revenues, one deterministic rank window (revenue, then key for
    // exact ties), one scalar aggregate — n is |suppliers|, so the
    // window partition is a dimension table, never a fact stream.
    //
    // SCALE CONTRACT (deliberate, like ShardExport's bin-pack
    // refusal): the rank window is UNPARTITIONED because exact
    // discrete Gini inherently needs one total order; its input must
    // stay the pre-aggregated per-ENTITY vector (~1 M rows at TPC-H
    // sf100 through one task — acceptable for a dimension). If the
    // grouping key were ever fact-cardinality, use a binned Gini over
    // the log-histogram sketch (c5) instead of widening this window.
    GraftQuery(
      "q46_revenue_gini",
      """WITH r AS (
        |  SELECT l_suppkey AS s, sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem GROUP BY 1),
        |rk AS (SELECT s, rev, row_number() OVER (ORDER BY rev, s) AS i
        |       FROM r)
        |SELECT count(*) AS n_suppliers,
        |  round(sum(rev), 2) AS total_rev,
        |  round(2.0 * sum(i * rev) / (count(*) * sum(rev))
        |    - (count(*) + 1.0) / count(*), 4) AS gini
        |FROM rk""".stripMargin) { (s, dir) =>
      val r = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("s"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("rev", "s")
      r.withColumn("i", row_number().over(w))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum("rev"), 2).as("total_rev"),
          round(lit(2.0) * sum(col("i") * col("rev"))
            / (count(lit(1)) * sum(col("rev")))
            - (count(lit(1)) + lit(1.0)) / count(lit(1)), 4).as("gini"))
    },

    // BINNED Gini over the raw fact stream — the scale path q46's
    // class doc promises: exact discrete Gini needs a total order
    // (one-task window), so at fact cardinality the distribution
    // buckets into integer-exact bins first (mergeable grouped
    // state: (bin, count, sum) — the same additivity as c5's
    // log-histogram) and the grouped-data Gini
    //   G = 1 - sum_i p_i * (2*CumS_i - s_i)
    // runs its window over ~100 BIN rows, never the stream. Both
    // engines bin with the same integer floor, so bucketing is
    // bit-identical; the spec measures the binning error against the
    // exact q46-style Gini (sub-1% at width 1000).
    GraftQuery(
      "q47_binned_gini",
      """WITH v AS (
        |  SELECT floor(l_extendedprice * (1 - l_discount) / 1000.0)::BIGINT AS b,
        |    l_extendedprice * (1 - l_discount) AS r
        |  FROM lineitem),
        |g AS (SELECT b, count(*) AS n, sum(r) AS s FROM v GROUP BY b),
        |w AS (SELECT b, n, s, sum(s) OVER (ORDER BY b) AS cs FROM g),
        |t AS (SELECT sum(n)::DOUBLE AS tn, sum(s) AS ts FROM g)
        |SELECT count(*) AS n_bins, sum(n)::BIGINT AS n_rows,
        |  round(1.0 - sum((n / tn) * (2.0 * cs - s) / ts), 4) AS gini_binned
        |FROM w CROSS JOIN t""".stripMargin) { (s, dir) =>
      val r = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val g = Tables.load(s, dir, "lineitem")
        .select(floor(r / 1000.0).cast("long").as("b"), r.as("r"))
        .groupBy("b").agg(count(lit(1)).as("n"), sum("r").as("s"))
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy("b") // ~100 bin rows — never the fact stream
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val t = g.agg(sum("n").cast("double").as("tn"), sum("s").as("ts"))
      g.withColumn("cs", sum("s").over(wCum))
        .crossJoin(broadcast(t))
        .agg(count(lit(1)).as("n_bins"), sum("n").cast("long").as("n_rows"),
          round(lit(1.0) - sum((col("n") / col("tn"))
            * (lit(2.0) * col("cs") - col("s")) / col("ts")), 4)
            .as("gini_binned"))
    },

    // k-anonymity audit (data governance): quasi-identifier
    // equivalence-class sizes for (nation, segment, acctbal decile)
    // — classes below k re-identify their members. One hash
    // aggregate for classes, one tiny rollup for the risk summary;
    // the decile comes from exact integer bucketing (no
    // percentile pass) so both engines bucket identically.
    GraftQuery(
      "q45_k_anonymity",
      """WITH q AS (
        |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |    floor(c_acctbal / 1000.0)::BIGINT AS bal_bucket
        |  FROM customer),
        |cls AS (SELECT nation, segment, bal_bucket, count(*) AS class_size
        |        FROM q GROUP BY 1, 2, 3)
        |SELECT class_size < 5 AS at_risk, count(*) AS n_classes,
        |  sum(class_size)::BIGINT AS n_rows,
        |  round(min(class_size) * 1.0, 1) AS min_class,
        |  round(max(class_size) * 1.0, 1) AS max_class
        |FROM cls GROUP BY 1 ORDER BY at_risk""".stripMargin) { (s, dir) =>
      val cls = Tables.load(s, dir, "customer")
        .select(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
        .groupBy("nation", "segment", "bal_bucket")
        .agg(count(lit(1)).as("class_size"))
      cls.groupBy((col("class_size") < 5).as("at_risk"))
        .agg(count(lit(1)).as("n_classes"),
          sum("class_size").as("n_rows"),
          round(min("class_size") * lit(1.0), 1).as("min_class"),
          round(max("class_size") * lit(1.0), 1).as("max_class"))
        .orderBy("at_risk")
    },

    // Statistical aggregates: correlation / covariance / dispersion
    // per group in ONE hash-aggregate pass (all are algebraic —
    // partial moments combine map-side; no per-group sorting, no
    // second scan).
    GraftQuery(
      "q42_stats_agg",
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_discount), 4) AS qty_disc_covar,
        |  round(stddev_samp(l_extendedprice), 2) AS price_stddev,
        |  round(var_samp(l_quantity), 4) AS qty_var
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        Tables.load(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(corr("l_quantity", "l_extendedprice"), 4).as("qty_price_corr"),
            round(covar_samp("l_quantity", "l_discount"), 4).as("qty_disc_covar"),
            round(stddev_samp(col("l_extendedprice")), 2).as("price_stddev"),
            round(var_samp(col("l_quantity")), 4).as("qty_var"))
          .orderBy("l_returnflag")
    },

    // TPC-H Q21 shape — stacked EXISTS + NOT EXISTS on the SAME fact
    // table (the decorrelation + join-reorder stress the §2.3 join
    // family lacked): suppliers whose line shipped late (> 60 days
    // past the order date) on a finished multi-supplier order where
    // NO other supplier shipped late. Spark-first: both correlated
    // subqueries become fact-keyed LEFT SEMI / LEFT ANTI self-joins —
    // the three lineitem legs shuffle on the same l_orderkey, so the
    // exchange plan co-partitions them (no cartesian, no rewrite into
    // per-row subquery execution); supplier joins by stats — broadcast
    // at bench scale, never force-hinted (it grows with the corpus).
    GraftQuery(
      "q48_waiting_supplier",
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
      val l1 = li
        .join(Tables.load(s, dir, "orders")
          .where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .where(late)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
      val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val l3 = li.select(col("l_orderkey").as("k3"),
        col("l_suppkey").as("s3"), col("l_shipdate").as("d3"))
      l1.join(l2, col("l_orderkey") === col("k2") &&
          col("l_suppkey") =!= col("s2"), "left_semi")
        .join(l3, col("l_orderkey") === col("k3") &&
          col("l_suppkey") =!= col("s3") &&
          col("d3") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_anti")
        .join(Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    },

    // TPC-H Q18 shape — group-limit-IN: large-volume orders found by
    // a HAVING aggregate over the fact, then rejoined to the
    // dimensions. Spark-first: the HAVING set is a fact-keyed
    // aggregate (map-side partial sums), small by construction, so
    // AQE broadcasts it into the orders join — the fact shuffles once
    // on l_orderkey and nothing re-scans it per candidate.
    GraftQuery(
      "q49_big_orders",
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |SELECT c_name, o_orderkey, o_totalprice,
        |  round(sum_qty, 1) AS sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) {
      (s, dir) =>
        val big = Tables.load(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sum_qty"))
          .where(col("sum_qty") > 300)
        big
          .join(Tables.load(s, dir, "orders"),
            col("o_orderkey") === col("l_orderkey"))
          .join(Tables.load(s, dir, "customer"),
            col("c_custkey") === col("o_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
            round(col("sum_qty"), 1).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    },

    // TPC-H Q17 shape — correlated scalar-AVG subquery on the fact
    // table: revenue lost to small-quantity orders of a part subset,
    // where "small" is per-part (quantity below 20% of that part's
    // average). Spark-first decorrelation: the per-part average is a
    // WINDOW aggregate over the part-filtered fact — ONE lineitem
    // scan, one shuffle on l_partkey, no self-join and no per-row
    // subquery (the oracle spells the same semantics as an aggregate
    // self-join; the window form reads each fact row once). The
    // threshold compare is exactly deterministic: quantities are
    // integers, so sum/count is the same double in both engines
    // regardless of summation order.
    GraftQuery(
      "q50_small_qty_revenue",
      """WITH pa AS (
        |  SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#23' AND p_size < 15),
        |ag AS (
        |  SELECT l_partkey, 0.2 * avg(l_quantity) AS thr
        |  FROM lineitem JOIN pa ON p_partkey = l_partkey
        |  GROUP BY l_partkey)
        |SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l
        |JOIN pa ON p_partkey = l.l_partkey
        |JOIN ag ON ag.l_partkey = l.l_partkey
        |WHERE l_quantity < thr""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pa = Tables.load(s, dir, "part")
        .where(col("p_brand") === "Brand#23" && col("p_size") < 15)
        .select("p_partkey")
      Tables.load(s, dir, "lineitem")
        .join(pa, col("l_partkey") === col("p_partkey"))
        .withColumn("thr", avg("l_quantity")
          .over(Window.partitionBy("l_partkey")) * 0.2)
        .where(col("l_quantity") < col("thr"))
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"))
    },

    // TPC-H Q22 shape — scalar subquery + NOT EXISTS across tables:
    // high-balance customers gone DORMANT (no order since the cutoff),
    // rolled up per nation. Spark-first: the global average is a
    // 1-row broadcast (crossJoin of an aggregate — never a driver
    // collect), the dormancy test a LEFT ANTI join against the
    // date-filtered orders projection (filter + 2-column pruning reach
    // the scan), and the rollup runs over the few surviving rows.
    GraftQuery(
      "q51_dormant_customers",
      """WITH a AS (
        |  SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer, a
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = customer.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
      val avgbal = cust.where(col("c_acctbal") > 0)
        .agg(avg("c_acctbal").as("ab"))
      val recent = Tables.load(s, dir, "orders")
        .where(col("o_orderdate") >= lit("2001-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
      cust.crossJoin(broadcast(avgbal))
        .where(col("c_acctbal") > col("ab"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          round(sum("c_acctbal"), 2).as("totacctbal"))
        .orderBy("c_nationkey")
    },

    // TPC-H Q15 shape — the max-over-an-aggregated-view pattern: the
    // top-revenue supplier(s) of a quarter, ties included. Spark-first
    // decorrelation: the classic form scans the revenue view twice
    // (once for max, once to filter); here the per-supplier aggregate
    // is checkpointed ONCE (one lineitem scan, ever) and the global
    // max re-enters as a 1-row BROADCAST join — no partition-less
    // window, so no single-task stage exists at any |suppliers| (the
    // max itself is a two-phase distributed aggregate). Revenue folds
    // in integer cents (floor(x*100+0.5) — IEEE-identical in both
    // engines), so the =max row-membership test is order-independent
    // and exact; the double division happens only at emit time.
    GraftQuery(
      "q53_top_supplier",
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)) AS cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '2000-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(cents) AS mc FROM rev)
        |SELECT s_suppkey, s_name, round(cents / 100.0, 2) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey, m
        |WHERE cents = mc
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val rev = Pin(Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("2000-01-01 00:00:00").cast("timestamp")
          && col("l_shipdate") < lit("2000-04-01 00:00:00").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum(floor(col("l_extendedprice")
          * (lit(1) - col("l_discount")) * 100 + 0.5)).as("cents")))
      rev.crossJoin(broadcast(rev.agg(max("cents").as("mc"))))
        .where(col("cents") === col("mc"))
        .join(Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("cents") / 100.0, 2).as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q7 shape — bidirectional nation-pair shipping volume by
    // year: the fact joins BOTH its dimension chains (supplier->nation
    // and orders->customer->nation) with an inequality across them.
    // Spark-first: each nation-filtered dimension chain collapses to a
    // tiny broadcast BEFORE touching a fact (nation is broadcast into
    // supplier/customer; the two-nation subsets are corpus-growing, so
    // their broadcasts are STATS-GATED, not forced — past the
    // threshold they degrade to shuffle joins), so at bench scale the
    // ONLY shuffle is the lineitem-orders orderkey join — the
    // unavoidable fact-fact exchange (pinned under bench-scale stats:
    // exactly one non-broadcast join).
    GraftQuery(
      "q54_nation_volume",
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_7')),
        |cn AS (
        |  SELECT c_custkey, n_name AS cust_nation
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_7'))
        |SELECT supp_nation, cust_nation, year(l_shipdate) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN sn ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN cn ON c_custkey = o_custkey
        |WHERE supp_nation <> cust_nation
        |  AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, dir) =>
      val nation = Tables.load(s, dir, "nation")
        .where(col("n_name").isin("NATION_3", "NATION_7"))
      val sn = Tables.load(s, dir, "supplier")
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = Tables.load(s, dir, "customer")
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = Tables.load(s, dir, "orders")
        .join(maybeBroadcast(cn, dir, "customer"),
          col("c_custkey") === col("o_custkey"))
        .select("o_orderkey", "cust_nation")
      Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp")
          && col("l_shipdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
        .join(maybeBroadcast(sn, dir, "supplier"),
          col("s_suppkey") === col("l_suppkey"))
        .join(ord, col("o_orderkey") === col("l_orderkey"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice")
          * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // STATIC partition pruning: lineitem laid out under
    // ship_month=<yyyymm>/ directories (one-time write, fingerprint-
    // keyed reuse like q39's buckets), so the three-month range reads
    // 3 of ~83 partition directories — the excluded months cost zero
    // I/O, decided at planning time (the scan's PartitionFilters,
    // plan-pinned). At 100 TB the time-ranged query reads the month,
    // not the decade.
    GraftQuery(
      "q55_partition_pruned",
      """SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ship_month,
        |  count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE year(l_shipdate) * 100 + month(l_shipdate)
        |  BETWEEN 200001 AND 200003
        |GROUP BY ship_month ORDER BY ship_month""".stripMargin) { (s, dir) =>
      PartitionedLayout.read(s, ensureLineitemByMonth(s, dir))
        .where(col("ship_month").between(200001, 200003))
        .groupBy("ship_month")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("ship_month")
    },

    // DYNAMIC partition pruning over the same layout: the months of
    // interest are not literals but the output of a dimension filter
    // (months in which a near-ceiling order was placed), broadcast
    // into the fact join — Spark turns the broadcast values into a
    // runtime dynamicpruningexpression on the fact scan, so only the
    // qualifying month directories are read even though no literal
    // month appears anywhere in the query (plan-pinned).
    GraftQuery(
      "q56_dpp_join",
      """WITH hv AS (
        |  SELECT DISTINCT year(o_orderdate) * 100 + month(o_orderdate)
        |    AS ship_month
        |  FROM orders WHERE o_totalprice > 499800)
        |SELECT ship_month, count(*) AS n_items
        |FROM (SELECT year(l_shipdate) * 100 + month(l_shipdate)
        |        AS ship_month FROM lineitem) l
        |JOIN hv USING (ship_month)
        |GROUP BY ship_month ORDER BY ship_month""".stripMargin) { (s, dir) =>
      val months = Tables.load(s, dir, "orders")
        .where(col("o_totalprice") > 499800)
        .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ship_month"))
        .distinct()
      PartitionedLayout.read(s, ensureLineitemByMonth(s, dir))
        .join(broadcast(months), Seq("ship_month"))
        .groupBy("ship_month")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("ship_month")
    },

    // Triangle counting on the supplier co-supply graph (suppliers
    // adjacent when they co-supplied >= 5 orders) — the third graph
    // operator next to CC and PageRank. Spark-first at scale: the
    // naive triple self-join enumerates every wedge at every corner
    // (3x the work, and a hub's deg^2 wedges land in one join key);
    // here each edge is ORIENTED from its (degree, id)-smaller
    // endpoint, so every triangle is counted exactly once at its
    // rank-min corner and wedge generation is bounded by sum of
    // OUT-degrees squared = O(m^1.5) instead of sum of full degrees
    // squared (Suri & Vassilvitskii, WWW'11) — the hub that breaks
    // the naive form generates almost no wedges oriented. The oracle
    // is the a<b<c triple join (fine at DuckDB scale, the shape this
    // operator exists to avoid).
    GraftQuery(
      "q57_triangle_count",
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |co AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b, count(*) AS n
        |       FROM os x JOIN os y
        |         ON x.l_orderkey = y.l_orderkey
        |        AND x.l_suppkey < y.l_suppkey
        |       GROUP BY a, b),
        |e AS (SELECT a, b FROM co WHERE n >= 5)
        |SELECT count(*) AS n_triangles FROM e e1
        |JOIN e e2 ON e2.a = e1.b
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin) { (s, dir) =>
      // canonical undirected edges (a < b) via the bucketized
      // within-key pair primitive — ONE orderkey exchange (the
      // (orderkey, suppkey) dedup fuses into the bucket collect as
      // collect_set, r17) + in-array pair expansion instead of a
      // two-sided self-join (order sizes are bounded, so the
      // collected member lists are too); checkpointed because the
      // count reuses the edge set four times
      val co = Pin(graft.dedup.PairGen
        .pairsWithinDistinct(
          Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          Seq("l_orderkey"), col("l_suppkey"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .where(col("n") >= 5).select("a", "b"))
      graft.operators.Triangles.count(co)
    },

    // Sketch ALGEBRA over the stored registers: HLL is union-only
    // (max-merge), but inclusion-exclusion turns two week unions into
    // an INTERSECTION estimate — the week-over-week retained-audience
    // question answered from ≤ 3×64 stored rows, the event stream
    // never rescanned. Every arithmetic step (register max, the
    // small-range-corrected estimate, the subtraction) is re-derived
    // from raw events by the oracle, so the identity is hash-checked,
    // not assumed.
    GraftQuery(
      "q58_audience_overlap",
      """WITH a AS (
        |  SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
        |  FROM events),
        |h AS (SELECT day,
        |        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS v
        |      FROM a),
        |hr AS (SELECT day, v % 64 AS register,
        |         CASE WHEN v // 64 = 0 THEN 55
        |              ELSE 54 - floor(log2(v // 64))::BIGINT END AS rho
        |       FROM h),
        |w1 AS (SELECT register, max(rho) AS r FROM hr
        |       WHERE day BETWEEN 19723 AND 19729 GROUP BY register),
        |w2 AS (SELECT register, max(rho) AS r FROM hr
        |       WHERE day BETWEEN 19730 AND 19736 GROUP BY register),
        |wu AS (SELECT register, max(rho) AS r FROM hr
        |       WHERE day BETWEEN 19723 AND 19736 GROUP BY register),
        |f1 AS (SELECT CASE WHEN e <= 160.0 AND vz > 0
        |         THEN 64.0 * ln(64.0 / vz) ELSE e END AS est
        |       FROM (SELECT 0.709 * 64 * 64 / (z + (64 - np)) AS e,
        |               64 - np AS vz
        |             FROM (SELECT sum(power(2.0, -r)) AS z,
        |                     count(*) AS np FROM w1))),
        |f2 AS (SELECT CASE WHEN e <= 160.0 AND vz > 0
        |         THEN 64.0 * ln(64.0 / vz) ELSE e END AS est
        |       FROM (SELECT 0.709 * 64 * 64 / (z + (64 - np)) AS e,
        |               64 - np AS vz
        |             FROM (SELECT sum(power(2.0, -r)) AS z,
        |                     count(*) AS np FROM w2))),
        |fu AS (SELECT CASE WHEN e <= 160.0 AND vz > 0
        |         THEN 64.0 * ln(64.0 / vz) ELSE e END AS est
        |       FROM (SELECT 0.709 * 64 * 64 / (z + (64 - np)) AS e,
        |               64 - np AS vz
        |             FROM (SELECT sum(power(2.0, -r)) AS z,
        |                     count(*) AS np FROM wu)))
        |SELECT round(f1.est + f2.est - fu.est, 2) AS overlap_estimate
        |FROM f1, f2, fu""".stripMargin) { (s, dir) =>
      import graft.sketch.{EventSketchStore, HyperLogLog}
      val daily = EventSketchStore.dayRegisters(s, dir)
      def winEst(lo: Int, hi: Int, name: String) =
        HyperLogLog.estimate(daily.where(col("day").between(lo, hi))
          .groupBy("register").agg(max("r").as("r")))
          .select(col("hll_estimate").as(name))
      winEst(19723, 19729, "e1")
        .crossJoin(broadcast(winEst(19730, 19736, "e2")))
        .crossJoin(broadcast(winEst(19723, 19736, "eu")))
        .select(round(col("e1") + col("e2") - col("eu"), 2)
          .as("overlap_estimate"))
    },

    // RUNTIME bloom-filter join pruning — the row-level sibling of
    // q56's dynamic PARTITION pruning, for when the fact is not laid
    // out on the join key: in a shuffle join whose build side is
    // selective, Spark aggregates a bloom filter over the build keys
    // and injects might_contain(l_orderkey) into the fact scan, so
    // ~all non-matching fact rows die at the scan instead of riding
    // the exchange. Broadcast disabled to surface the shuffle-join
    // case the feature exists for; thresholds scoped to a child
    // session (the shared session keeps stock plans), sized here for
    // the test corpus — at 100 TB the defaults fire on their own.
    GraftQuery(
      "q59_runtime_bloom",
      """SELECT count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 499800""".stripMargin) { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = s2.read.parquet(s"$dir/lineitem.parquet")
      val ord = s2.read.parquet(s"$dir/orders.parquet")
        .where(col("o_totalprice") > 499800)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("rev"))
    },

    // TPC-H Q13 shape — customer order-count distribution: a
    // two-level aggregation whose inner level hangs off a LEFT OUTER
    // join with the predicate in the ON clause (NOT the WHERE — the
    // zero-order customers must survive as c_count = 0, which a
    // where-filter would silently drop; count(o_orderkey) counts
    // non-null matches only). Scale shape: one custkey exchange for
    // the join+first aggregate, then the second aggregate runs over
    // ≤ max(c_count) distinct keys — the histogram-of-counts pattern
    // any per-entity activity distribution uses at 100 TB.
    GraftQuery(
      "q60_custdist",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      val perCust = Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders")
            .where(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q10 shape — returned-revenue ranking: who cost us the
    // most in returns last quarter. Classic star probe: the date
    // range prunes orders at the scan, the returnflag prunes
    // lineitem at the scan, customer/nation broadcast, the fact
    // exchanges once on orderkey, and the ranking is a TopK
    // (TakeOrderedAndProject), never a global sort. Deterministic
    // tail: ties at the cut break on c_custkey.
    GraftQuery(
      "q61_returned_revenue",
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '2000-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name")
      Tables.load(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .join(Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp")
            && col("o_orderdate") < lit("2000-04-01 00:00:00").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(maybeBroadcast(cust, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round(sum(col("l_extendedprice")
          * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // TPC-H Q2 shape — a correlated MIN whose correlation reaches
    // through a JOIN CHAIN (lineitem→supplier→nation→region): the
    // cheapest regional offer per part, ties included. Spark-first
    // decorrelation: the region-filtered supplier set collapses to a
    // broadcast BEFORE touching the fact (no correlation ever
    // executes per-row), and the regional per-part minimum + the
    // membership test run as ONE key-partitioned window over the
    // eligible offers — one lineitem scan, one partkey exchange,
    // nothing materialized (the eligible view is fact-derived and
    // grows with the corpus, so caching it would be the scale
    // hazard). Unit price folds in integer cents (floor of the same
    // double expression both engines evaluate identically), so =min
    // is exact.
    GraftQuery(
      "q62_regional_min_offer",
      """WITH offer AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(min(floor(l_extendedprice * 100 / l_quantity)) AS BIGINT)
        |      AS unit_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, s_name, n_name, o.unit_cents
        |FROM part, offer o, supplier, nation, region
        |WHERE p_partkey = o.l_partkey AND s_suppkey = o.l_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size <= 5
        |  AND o.unit_cents = (
        |    SELECT min(o2.unit_cents)
        |    FROM offer o2, supplier s2, nation n2, region r2
        |    WHERE o2.l_partkey = p_partkey AND o2.l_suppkey = s2.s_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY p_partkey, s_name""".stripMargin) { (s, dir) =>
      // region-filtered supplier chain: stats-gated broadcast (the
      // supplier leaf grows with SF — never force-hinted), built once
      val rs = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region")
          .where(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
      val offer = Tables.load(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(floor(col("l_extendedprice") * 100 / col("l_quantity")))
          .cast("long").as("unit_cents"))
      val mc = min("unit_cents").over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_partkey"))
      offer
        .join(maybeBroadcast(rs, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .withColumn("mc", mc)
        .where(col("unit_cents") === col("mc"))
        .join(Tables.load(s, dir, "part")
          .where(col("p_size") <= 5).select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .select("p_partkey", "s_name", "n_name", "unit_cents")
        .orderBy("p_partkey", "s_name")
    },

    // TPC-H Q11 shape — HAVING against a GLOBAL-SHARE scalar: parts
    // whose value (held by one nation's suppliers) exceeds a fraction
    // of the nation's total. Spark-first: the per-part value view is
    // consumed twice (the rows and their global total) as IDENTICAL
    // aggregate subtrees, so exchange reuse dedups the fact scan —
    // one lineitem pass at any SF, with the supplier join VISIBLE in
    // the serve plan (the scale-degradation sweep asserts it flips to
    // a shuffle join under a small broadcast threshold; the previous
    // build-time localCheckpoint hid the join from every plan spec).
    // The global total re-enters as a broadcast 1-row aggregate —
    // never a driver collect, never a partition-less window. Values
    // fold as integer cents inside a double sum (exact: every partial
    // is an integer < 2^53, so summation order cannot matter), making
    // the share threshold deterministic across engines.
    GraftQuery(
      "q63_value_share",
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(sum(floor(l_extendedprice * l_quantity * 100 + 0.5)) AS BIGINT)
        |      AS val_cents
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_2'
        |  GROUP BY 1)
        |SELECT l_partkey, val_cents FROM v
        |WHERE val_cents > (SELECT sum(val_cents) * 0.002 FROM v)
        |ORDER BY val_cents DESC, l_partkey""".stripMargin) { (s, dir) =>
      val ns = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation")
          .where(col("n_name") === "NATION_2"),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val v = Tables.load(s, dir, "lineitem")
        .join(maybeBroadcast(ns, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(floor(col("l_extendedprice") * col("l_quantity") * 100
          + 0.5)).as("val_cents"))
      v.crossJoin(broadcast(v.agg((sum("val_cents") * 0.002).as("thr"))))
        .where(col("val_cents") > col("thr"))
        .select("l_partkey", "val_cents")
        .orderBy(col("val_cents").desc, col("l_partkey"))
    },

    // TPC-H Q20 shape — IN over a per-key aggregate nested inside a
    // semi-join chain, with a correlated scalar in the HAVING: the
    // suppliers of one nation who dominate (>12% of total shipped
    // quantity) some PROMO part. Spark-first decorrelation: the inner
    // correlated total becomes a per-part aggregate joined back (one
    // extra fact aggregate, zero per-row subplans), the part filter
    // broadcasts into the fact BEFORE the per-(part,supplier)
    // aggregate, and the IN becomes a LEFT SEMI join against the
    // qualifying-supplier set.
    GraftQuery(
      "q64_dominant_supplier",
      """SELECT s_suppkey, s_name
        |FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_19'
        |  AND s_suppkey IN (
        |    SELECT l.l_suppkey
        |    FROM lineitem l, part
        |    WHERE p_partkey = l.l_partkey AND p_type = 'PROMO'
        |    GROUP BY l.l_suppkey, l.l_partkey
        |    HAVING sum(l.l_quantity) > 0.12 * (
        |      SELECT sum(l2.l_quantity) FROM lineitem l2
        |      WHERE l2.l_partkey = l.l_partkey))
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity")
      val promo = Tables.load(s, dir, "part")
        .where(col("p_type") === "PROMO").select("p_partkey")
      val supQty = li
        .join(promo, col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("sup_qty"))
      // the correlated scalar, decorrelated: per-part total over ALL
      // lineitem (the inner subquery is not part-type filtered)
      val totQty = li.groupBy("l_partkey")
        .agg((sum("l_quantity") * 0.12).as("thr"))
      val qual = supQty.join(totQty, "l_partkey")
        .where(col("sup_qty") > col("thr"))
        .select("l_suppkey").distinct()
      Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .where(col("n_name") === "NATION_19")),
          col("s_nationkey") === col("n_nationkey"))
        .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // TPC-H Q16 shape — NOT IN against a subquery: supplier diversity
    // per (brand, type, size), excluding flagged suppliers. NOT IN is
    // the one subquery form whose decorrelation is NOT a plain anti
    // join (a NULL anywhere in the subquery must empty the result):
    // Catalyst plans the NULL-AWARE anti join — single-key broadcast
    // variant (plan-pinned) — so this exercises a physical operator
    // nothing else in the registry reaches. Expressed through Spark
    // SQL on the parquet files directly: the decorrelation under test
    // is the OPTIMIZER's, not a hand rewrite.
    GraftQuery(
      "q65_supplier_diversity",
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_size IN (1, 5, 9, 13)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) {
      (s, dir) =>
      s.sql(
        s"""SELECT p_brand, p_type, p_size,
           |  count(DISTINCT l_suppkey) AS supplier_cnt
           |FROM parquet.`$dir/lineitem.parquet`
           |JOIN parquet.`$dir/part.parquet` ON p_partkey = l_partkey
           |WHERE p_size IN (1, 5, 9, 13)
           |  AND l_suppkey NOT IN (
           |    SELECT s_suppkey FROM parquet.`$dir/supplier.parquet`
           |    WHERE s_acctbal < 500)
           |GROUP BY p_brand, p_type, p_size
           |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
    },

    // TPC-H Q19 shape — a DISJUNCTION of per-brand conjunctions
    // spanning both join sides. The plan question is predicate
    // decomposition: Catalyst must extract each side's implied
    // disjunction ((brand, size) terms for part; the quantity range
    // for lineitem) and push them into the scans, leaving only the
    // cross-side residual on the joined rows — one scan per table,
    // Or(...) visible in the part scan's PushedFilters (plan-pinned);
    // part joins by stats — broadcast while it fits, never forced.
    GraftQuery(
      "q66_disjunctive_promo",
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val pt = Tables.load(s, dir, "part")
        .select("p_partkey", "p_brand", "p_size")
      def arm(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(pt, col("p_partkey") === col("l_partkey"))
        .where(arm("Brand#11", 15, 1, 20) || arm("Brand#22", 10, 10, 30) ||
          arm("Brand#33", 5, 20, 40))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // TPC-H Q3 shape — shipping-priority top-10: revenue of orders
    // placed before / shipped after a cut date for one market
    // segment. Star probe: segment-filtered customers join by stats
    // (broadcast at bench scale — the side grows with SF, so the hint
    // is never forced), both date filters pushed to their scans,
    // one fact exchange on orderkey, and the ranking is a TopK
    // (TakeOrderedAndProject), never a global sort.
    GraftQuery(
      "q67_shipping_priority",
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(o_orderdate AS DATE)::VARCHAR AS odate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, odate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-03-15 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(Tables.load(s, dir, "orders")
          .where(col("o_orderdate") < lit("1998-03-15 00:00:00").cast("timestamp"))
          .join(cust, col("c_custkey") === col("o_custkey"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice")
          * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select("l_orderkey", "revenue", "odate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    // TPC-H Q5 shape — LOCAL-supplier revenue by nation: the join
    // graph has a cycle (customer and supplier must share a nation),
    // closed here as a post-join equality filter on the two nationkey
    // columns rather than a second join. Dimension chains broadcast
    // under bench-scale stats (growing sides stats-gated, not forced);
    // the lineitem-orders orderkey join is the one fact-fact exchange.
    GraftQuery(
      "q68_local_supplier_volume",
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val sn = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region").where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val ord = Tables.load(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(Tables.load(s, dir, "customer")
          .select("c_custkey", "c_nationkey"),
          col("c_custkey") === col("o_custkey"))
        .select("o_orderkey", "c_nationkey")
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(maybeBroadcast(sn, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .where(col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice")
          * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q6 shape — the pure filter-aggregate: every predicate is
    // scan-pushable (date range, discount band, quantity cap), so the
    // whole query is one pruned columnar scan + a two-phase agg. At
    // 100 TB this is the query whose cost IS the layout: with q55's
    // month partitioning the date range never reads excluded months.
    GraftQuery(
      "q69_forecast_revenue",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue_delta"))
    },

    // TPC-H Q8 shape — market share: one nation's fraction of a
    // region's import volume per year. The ratio folds in integer
    // cents (exact at any summation order), so the 6-decimal share is
    // deterministic across engines; all seven dimension hops broadcast
    // under bench-scale stats (growing sides stats-gated, not forced)
    // and the only fact-fact exchange is lineitem-orders.
    GraftQuery(
      "q70_market_share",
      """WITH alln AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS vol_cents,
        |    n2.n_name AS supp_nation
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  round(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol_cents
        |        ELSE 0 END) / sum(vol_cents), 6) AS mkt_share
        |FROM alln GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, dir) =>
      val custEur = Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region").where(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val ord = Tables.load(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(maybeBroadcast(custEur, dir, "customer"),
          col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val suppN = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "part")
          .where(col("p_type") === "PROMO").select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .join(maybeBroadcast(suppN, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("vol_cents", floor(col("l_extendedprice")
          * (lit(1) - col("l_discount")) * 100 + 0.5))
        .groupBy("o_year")
        .agg(round(sum(when(col("supp_nation") === "NATION_7",
            col("vol_cents")).otherwise(0)) / sum("vol_cents"), 6)
          .as("mkt_share"))
        .orderBy("o_year")
    },

    // TPC-H Q9 shape — product profit by supplier nation and year
    // (the reference schema's supplycost proxied as a fixed fraction
    // of retail price — the SHAPE is the five-way star with an
    // arithmetic measure, not the constant). The part filter joins by
    // stats before the fact (broadcast while it fits); one orderkey
    // exchange.
    GraftQuery(
      "q71_product_profit",
      """SELECT n_name, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity), 2) AS profit
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""".stripMargin) { (s, dir) =>
      val suppN = Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "part")
          .where(col("p_name").like("%red%"))
          .select("p_partkey", "p_retailprice"),
          col("l_partkey") === col("p_partkey"))
        .join(maybeBroadcast(suppN, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          - lit(0.6) * col("p_retailprice") * col("l_quantity")), 2)
          .as("profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    },

    // TPC-H Q12 shape — two-way conditional counts per line status
    // (the reference's shipmode/commitdate columns are absent from
    // the generated schema; the SHAPE is the CASE-sum pair over a
    // priority predicate). Exact integer counts, one orderkey
    // exchange, both filters pushed.
    GraftQuery(
      "q72_priority_lines",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.load(s, dir, "lineitem")
        .where(col("l_returnflag") === "R"
          && col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_linestatus")
        .join(Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1).otherwise(0)).as("high_line_count"),
          sum(when(!hi, 1).otherwise(0)).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // TPC-H Q14 shape — promo revenue ratio for one month: the
    // numerator is a conditional slice of the denominator, folded in
    // integer cents so the 4-decimal percentage is exact across
    // engines. One month of fact (scan-pruned); part joins by stats —
    // broadcast while it fits, never forced.
    GraftQuery(
      "q73_promo_share",
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |    ELSE 0 END)
        |  / sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)), 4)
        |    AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin) { (s, dir) =>
      val cents = floor(col("l_extendedprice")
        * (lit(1) - col("l_discount")) * 100 + 0.5)
      Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-09-01 00:00:00").cast("timestamp")
          && col("l_shipdate") < lit("1997-10-01 00:00:00").cast("timestamp"))
        .join(Tables.load(s, dir, "part")
          .select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) * sum(when(col("p_type") === "PROMO", cents)
            .otherwise(0)) / sum(cents), 4).as("promo_revenue"))
    },

    // Multi-source BFS shortest path over the part co-purchase graph
    // (parts adjacent when co-purchased in >= 2 distinct orders; both
    // orientations of each canonical edge; 4 deterministic seeds).
    // Frontier-iterated: each hop joins ONLY the newly-discovered
    // frontier against the edge list — O(E) TOTAL work across the
    // run, where the recursive-CTE oracle re-expands every settled
    // node every round (O(E·diameter), the shape this operator exists
    // to avoid at scale). maxHops = 6 exercises the truncation
    // contract: the sf0.01 BFS tree is 9 hops deep, so ~120 reachable
    // nodes are deliberately beyond the bound in BOTH engines.
    GraftQuery(
      "q74_shortest_path",
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS (SELECT x.l_partkey AS a, y.l_partkey AS b
        |       FROM op x JOIN op y
        |         ON x.l_orderkey = y.l_orderkey
        |        AND x.l_partkey < y.l_partkey
        |       GROUP BY a, b HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b AS dst FROM co
        |      UNION ALL SELECT b, a FROM co),
        |reach(node, dist) AS (
        |  SELECT p_partkey AS node, 0 AS dist FROM part
        |  WHERE p_partkey % 500 = 0
        |  UNION
        |  SELECT e.dst, r.dist + 1 FROM reach r JOIN e ON e.src = r.node
        |  WHERE r.dist < 6)
        |SELECT node, min(dist) AS dist FROM reach
        |GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
      val co = partCoPurchaseEdges(s, dir)
      val edges = co.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(co.select(col("b").as("src"), col("a").as("dst")))
      val seeds = Tables.load(s, dir, "part")
        .where(col("p_partkey") % 500 === 0)
        .select(col("p_partkey").as("node"))
      graft.operators.ShortestPath.hops(edges, seeds, maxHops = 6)
        .orderBy("node")
    },

    // k-core of the part co-purchase graph (k = 3), served from the
    // STORED graph-state piece (round 13): the coreness artifact is
    // incrementally advanced on corpus appends (affected-subgraph
    // expansion + protected peel, full-recompute fallback past the
    // caps — CoOccurStore.coreAdvance), so a warm serve is one
    // artifact read instead of an iterative peel per query. The
    // stored result is the peel FIXPOINT; the oracle unroll matches
    // the store's loud bound (KCore.core maxRounds = 64): every
    // stage past the fixpoint is a provable no-op, so fixpoint and
    // unroll agree for EVERY dataset the store can serve — any
    // deeper cascade fails the build loudly instead of hash-
    // mismatching (sf0.01's fixpoint lands at round 11; the 16-round
    // unroll of r12 would have silently diverged on a 17-64-round
    // dataset). The oracle recomputes from raw lineitem,
    // hash-checking the whole store path end-to-end. Output:
    // (node, deg), every deg >= 3.
    GraftQuery("q75_kcore", kCoreOracleSql(k = 3, rounds = 64)) {
      (s, dir) =>
        graft.operators.CoOccurStore
          .coreness(s, dir, "lineitem", "l_orderkey", "l_partkey")
          .orderBy("node")
    },

    // Community detection by synchronous label propagation over the
    // part co-purchase graph — 4 FIXED rounds (synchronous LPA can
    // oscillate on bipartite structure, so fixed rounds IS the
    // contract, not a fixpoint), plurality label with smallest-label
    // tie-break so every engine lands the identical labeling. Served
    // from the STORED community piece (round 13), incrementally
    // advanced by exact ball recomputation of radius 2*rounds-1
    // around the edge delta (CoOccurStore.lpaAdvance; full-recompute
    // fallback past the caps); the oracle unrolls the same rounds
    // from raw lineitem, hash-checking the store path end-to-end.
    GraftQuery("q76_label_propagation", lpaOracleSql(4)) { (s, dir) =>
      graft.operators.CoOccurStore
        .communities(s, dir, "lineitem", "l_orderkey", "l_partkey")
        .orderBy("node")
    },

    // Weighted shortest path (bounded Bellman-Ford) over the SAME
    // stored co-occurrence graph, edge cost 6 div n — stronger ties
    // are cheaper, all-integer so the unrolled oracle is bit-equal.
    // 8 relaxation rounds = min cost over paths of <= 8 edges; unlike
    // q74's hop BFS a settled node can still improve (a long cheap
    // path beats a short expensive one), so the settled-set frontier
    // is unavailable — the loop instead feeds each round's edge join
    // ONLY the rows whose dist improved in the prior round (exact;
    // see ShortestPath.weighted), collapsing the E-sized term after
    // the early rounds.
    GraftQuery("q77_weighted_sssp", ssspOracleSql(8)) { (s, dir) =>
      val co = graft.operators.CoOccurStore
        .weightedEdges(s, dir, "lineitem", "l_orderkey", "l_partkey", 2L)
        .withColumn("w", expr("6 div n"))
      val edges = co.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(
          co.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val seeds = Tables.load(s, dir, "part")
        .where(col("p_partkey") % 500 === 0)
        .select(col("p_partkey").as("node"))
      graft.operators.ShortestPath.weighted(edges, seeds, rounds = 8)
        .orderBy("node")
    },

    // Link prediction over the SAME stored co-purchase graph: open
    // wedges — non-adjacent part pairs sharing >= 2 neighbors — with
    // common-neighbor count and both degrees (integer-exact; any
    // Jaccard cut is a cross-multiplication downstream, no doubles in
    // the hash path). One shared-node-keyed wedge self-join + one
    // (u,w) aggregate + broadcast degree joins + a keyed anti vs the
    // edge list; the hub-wedge blowup knob (degreeCap) is documented
    // on the operator. Oracle recomputes the graph from raw lineitem.
    GraftQuery(
      "q78_link_prediction",
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS MATERIALIZED (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM op x JOIN op y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY a, b HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM co
        |                   UNION ALL SELECT b, a FROM co),
        |deg AS MATERIALIZED (SELECT src AS node, count(*) AS d
        |                     FROM e GROUP BY 1),
        |wedge AS MATERIALIZED (
        |  SELECT e1.dst AS u, e2.dst AS w, count(*) AS cn
        |  FROM e e1 JOIN e e2
        |    ON e1.src = e2.src AND e1.dst < e2.dst
        |  GROUP BY u, w HAVING count(*) >= 2)
        |SELECT wg.u, wg.w, wg.cn, du.d AS du, dw.d AS dw
        |FROM wedge wg
        |JOIN deg du ON du.node = wg.u
        |JOIN deg dw ON dw.node = wg.w
        |LEFT JOIN co ON co.a = wg.u AND co.b = wg.w
        |WHERE co.a IS NULL
        |ORDER BY wg.cn DESC, wg.u, wg.w""".stripMargin) { (s, dir) =>
      graft.operators.LinkPrediction
        .commonNeighbors(partCoPurchaseEdges(s, dir), minCommon = 2L)
        .orderBy(col("cn").desc, col("u"), col("w"))
    },

    // Local clustering coefficient per node over the stored graph —
    // (node, tri, deg, wedges) all integer-exact (the coefficient
    // tri/wedges stays a cross-multiplication downstream, no doubles
    // in the hash path). Per-node triangle participation uses the
    // same degree-ordered orientation as q57's global count (Suri &
    // Vassilvitskii — the hub's wedges vanish under the orientation
    // instead of melting one reducer), each closed triangle crediting
    // its three corners; the oracle enumerates canonical x<y<z
    // triples from raw lineitem.
    GraftQuery(
      "q79_clustering_coefficient",
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS MATERIALIZED (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM op x JOIN op y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY a, b HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM co
        |                   UNION ALL SELECT b, a FROM co),
        |deg AS MATERIALIZED (SELECT src AS node, count(*) AS d
        |                     FROM e GROUP BY 1),
        |tri AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS y, e3.b AS z
        |  FROM co e1
        |  JOIN co e2 ON e2.a = e1.b
        |  JOIN co e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS MATERIALIZED (
        |  SELECT node, count(*) AS tri FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY node)
        |SELECT d.node, coalesce(tn.tri, 0) AS tri, d.d AS deg,
        |  (d.d * (d.d - 1)) // 2 AS wedges
        |FROM deg d LEFT JOIN tn ON tn.node = d.node
        |WHERE d.d >= 2
        |ORDER BY d.node""".stripMargin) { (s, dir) =>
      val co = partCoPurchaseEdges(s, dir)
      // ONE degree aggregate for the whole serve: it orients the
      // wedge join inside perNode AND supplies the output's deg /
      // wedges columns (plan-asserted in PlanShapeSpec — the operator
      // would otherwise recompute the identical exchange). Pinned so
      // both consumers read the computed frame, not re-run the union.
      val deg = Pin(co.select(col("a").as("node"))
        .unionAll(co.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")))
      deg.where(col("deg") >= 2)
        .join(graft.operators.Triangles.perNode(co, Some(deg)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("tri"), lit(0L)).as("tri"),
          col("deg"), expr("(deg * (deg - 1)) div 2").as("wedges"))
        .orderBy("node")
    },

    // DEGREE-CAPPED link prediction — the copyable shape for graphs
    // with hubs. q78 keeps the classic uncapped semantics (measured
    // headroom on this corpus: co-purchase degrees max 13 at sf0.01
    // and SHRINK with SF — §9.35); on a power-law graph the wedge
    // volume's hub term Σ_hub d² is quadratic in hub degree, and the
    // mediator cap is the standard mitigation. The cap is SEMANTIC
    // (it changes which wedges exist), so the oracle takes the same
    // cap — the capped path is hash-checked end-to-end, not just
    // unit-tested. Cap 8 deliberately BINDS at sf0.01 (excludes 50
    // hub mediators) so the gate exercises the capped algebra; full
    // degrees du/dw are still reported (computed before the cap —
    // the operator's documented contract).
    GraftQuery(
      "q80_link_prediction_capped",
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |co AS MATERIALIZED (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM op x JOIN op y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY a, b HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM co
        |                   UNION ALL SELECT b, a FROM co),
        |deg AS MATERIALIZED (SELECT src AS node, count(*) AS d
        |                     FROM e GROUP BY 1),
        |em AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM e
        |  JOIN deg ON deg.node = e.src WHERE deg.d <= 8),
        |wedge AS MATERIALIZED (
        |  SELECT e1.dst AS u, e2.dst AS w, count(*) AS cn
        |  FROM em e1 JOIN em e2
        |    ON e1.src = e2.src AND e1.dst < e2.dst
        |  GROUP BY u, w HAVING count(*) >= 2)
        |SELECT wg.u, wg.w, wg.cn, du.d AS du, dw.d AS dw
        |FROM wedge wg
        |JOIN deg du ON du.node = wg.u
        |JOIN deg dw ON dw.node = wg.w
        |LEFT JOIN co ON co.a = wg.u AND co.b = wg.w
        |WHERE co.a IS NULL
        |ORDER BY wg.cn DESC, wg.u, wg.w""".stripMargin) { (s, dir) =>
      graft.operators.LinkPrediction
        .commonNeighbors(partCoPurchaseEdges(s, dir), minCommon = 2L,
          degreeCap = Some(8L))
        .orderBy(col("cn").desc, col("u"), col("w"))
    }
  )

  /** Canonical (a < b) part co-purchase edges: parts adjacent when
    * they appear together in >= 2 distinct orders — the sparse graph
    * the BFS / k-core / label-propagation family runs on (1,880 nodes
    * / 3,445 edges / a 9-hop BFS tree at sf0.01; the q44/q57 supplier
    * co-supply graph is near-complete at its threshold and has no
    * distance or coreness structure). Served from the STORED
    * co-occurrence artifact ([[graft.operators.CoOccurStore]]):
    * the graph family never re-pays the whole-corpus pair exchange —
    * a lineitem append advances the edge counts O(new + affected
    * orders) and every graph query reads the stored counts. The
    * oracles recompute the pairs from scratch in DuckDB, so the
    * store path is hash-checked end-to-end; checkpointed because all
    * three consumers iterate over it.
    */
  private def partCoPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Pin(graft.operators.CoOccurStore
      .edges(s, dir, "lineitem", "l_orderkey", "l_partkey", minCount = 2))

  /** DuckDB unroll of [[graft.operators.KCore.peelRounds]]: stage r
    * keeps the degree->=k survivors of stage r-1 and semi-filters the
    * edge list by them — identical semantics to one Spark peel round.
    * Stages past the fixpoint are no-ops, so the unroll agrees with
    * the early-exiting operator for any data where the fixpoint is
    * reached within `rounds`. Every stage is `AS MATERIALIZED`:
    * DuckDB inlines plain CTEs per REFERENCE, and each stage
    * references its predecessor three times — a 16-stage unroll
    * without materialization expands to ~3^16 scan nodes and dies on
    * file handles before it computes anything.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH op AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS MATERIALIZED (SELECT x.l_partkey AS a, y.l_partkey AS b
      |       FROM op x JOIN op y
      |         ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |       GROUP BY a, b HAVING count(*) >= 2),
      |e0 AS MATERIALIZED (SELECT a, b FROM co)""".stripMargin
    for (r <- 1 to rounds) sb ++= s""",
      |k$r AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e${r - 1}
      |        UNION ALL SELECT b FROM e${r - 1})
      |        GROUP BY node HAVING count(*) >= $k),
      |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
      |        JOIN k$r x ON x.node = e.a JOIN k$r y ON y.node = e.b)""".stripMargin
    sb ++= s"""
      |SELECT node, count(*) AS deg FROM (SELECT a AS node FROM e$rounds
      |  UNION ALL SELECT b FROM e$rounds)
      |GROUP BY node ORDER BY node""".stripMargin
    sb.toString
  }

  /** DuckDB unroll of [[graft.operators.LabelPropagation.labels]]:
    * per round one neighbor-label count and one (count DESC, label
    * ASC) row_number pick — identical tie-break to the Spark loop.
    * Stages materialized for the same inlining reason as
    * [[kCoreOracleSql]].
    */
  private def lpaOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH op AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS MATERIALIZED (SELECT x.l_partkey AS a, y.l_partkey AS b
      |       FROM op x JOIN op y
      |         ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |       GROUP BY a, b HAVING count(*) >= 2),
      |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM co
      |      UNION ALL SELECT b, a FROM co),
      |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM e)"""
      .stripMargin
    for (r <- 1 to rounds) sb ++= s""",
      |c$r AS MATERIALIZED (SELECT e.src, l.lbl, count(*) AS c
      |      FROM e JOIN l${r - 1} l ON l.node = e.dst
      |      GROUP BY e.src, l.lbl),
      |l$r AS MATERIALIZED (SELECT src AS node, lbl FROM (
      |      SELECT src, lbl, row_number() OVER (
      |        PARTITION BY src ORDER BY c DESC, lbl ASC) AS rn FROM c$r)
      |      WHERE rn = 1)""".stripMargin
    sb ++= s"""
      |SELECT node, lbl FROM l$rounds ORDER BY node""".stripMargin
    sb.toString
  }

  /** DuckDB unroll of [[graft.operators.ShortestPath.weighted]]: per
    * round one relax join + one min fold, identical integer edge
    * costs (`6 // n` = Spark's `6 div n` on positives).
    */
  private def ssspOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH op AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS MATERIALIZED (SELECT x.l_partkey AS a, y.l_partkey AS b,
      |       count(*) AS n
      |       FROM op x JOIN op y
      |         ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |       GROUP BY a, b HAVING count(*) >= 2),
      |e AS MATERIALIZED (SELECT a AS src, b AS dst, 6 // n AS w FROM co
      |      UNION ALL SELECT b, a, 6 // n FROM co),
      |d0 AS MATERIALIZED (SELECT p_partkey AS node, 0 AS dist FROM part
      |      WHERE p_partkey % 500 = 0)""".stripMargin
    for (r <- 1 to rounds) sb ++= s""",
      |d$r AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
      |      SELECT node, dist FROM d${r - 1}
      |      UNION ALL
      |      SELECT e.dst AS node, d.dist + e.w
      |      FROM e JOIN d${r - 1} d ON d.node = e.src)
      |      GROUP BY node)""".stripMargin
    sb ++= s"""
      |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$rounds
      |ORDER BY node""".stripMargin
    sb.toString
  }

  /** Stats-gated broadcast hint for a dimension-CHAIN side whose
    * growing leaf scales with the corpus (supplier⋈nation,
    * customer⋈nation⋈region): Catalyst's size-only estimator
    * multiplies child sizes across a join, so a chain that is in fact
    * tiny never LOOKS broadcastable statically — while a forced
    * `broadcast()` hint cannot degrade when the leaf outgrows memory
    * at scale. The gate decides from the same statistic Spark's
    * planner uses for a plain scan: the growing leaf tables' on-disk
    * bytes against the session's `autoBroadcastJoinThreshold`
    * (driver-side file metadata — no job, no collect). Under the
    * threshold the chain gets the hint — sound, because an FK join
    * into nation/region cannot grow the row count and the projection
    * only shrinks bytes, so leaf bytes upper-bound the chain; over
    * it the hint disappears and stats/AQE pick the strategy (SMJ, or
    * a runtime broadcast conversion if the filtered side turns out
    * small). Single-table growing sides never need this: their scans
    * carry real size stats, so those hints are simply omitted — the
    * q25 discipline ("whether orders/customer shuffle or broadcast is
    * a size decision, deliberately unpinned"), applied uniformly.
    */
  private def maybeBroadcast(df: DataFrame, dir: String,
      growingLeaves: String*): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bytes = growingLeaves.map { t =>
      val p = java.nio.file.Paths.get(s"$dir/$t.parquet")
      if (!java.nio.file.Files.exists(p)) Long.MaxValue
      else graft.sources.Fs.walk(p).filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
    }.sum
    if (thr > 0 && bytes >= 0 && bytes <= thr) broadcast(df) else df
  }

  /** Incrementally-maintained hive-partitioned layout of lineitem by
    * ship month, shared by q55 (static pruning) and q56 (dynamic
    * pruning); returns the layout table name. A lineitem file append
    * re-clusters ONLY the new files (O(new), usually touching only
    * the new months' directories); a rewrite re-lays out wholesale —
    * both behind the manifest's atomic commit.
    */
  private def ensureLineitemByMonth(s: SparkSession, dir: String): String =
    PartitionedLayout.ensureIncremental(s, s"$dir/lineitem.parquet",
      "graft_part_lineitem_month", "ship_month",
      _.withColumn("ship_month",
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("int")))

  /** DuckDB unroll of PageRank.ranks: per iteration one dangling-mass
    * scalar, one contribution aggregate, one rank update — identical
    * literals and parenthesization to the Spark loop.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*) * 1.0 AS n FROM nodes),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |pr0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn)""".stripMargin
    for (r <- 1 to iters) sb ++= s""",
      |dm$r AS (SELECT coalesce(sum(pr), 0.0) AS dm
      |  FROM pr${r - 1} LEFT JOIN deg ON node = src WHERE deg IS NULL),
      |c$r AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS c
      |  FROM e JOIN pr${r - 1} p ON e.src = p.node JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst),
      |pr$r AS (SELECT nodes.node,
      |    (1.0 - 0.85) / n + 0.85 * (coalesce(c, 0.0) + dm / n) AS pr
      |  FROM nodes LEFT JOIN c$r USING (node) CROSS JOIN dm$r CROSS JOIN nn)""".stripMargin
    sb ++= s"""
      |SELECT node, round(pr, 6) AS pr FROM pr$iters ORDER BY node""".stripMargin
    sb.toString
  }
}
