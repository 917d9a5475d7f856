package graft

import graft.QueryDsl._
import graft.core.Tables
import graft.operators.AsOfJoin
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-surface coverage (SURVEY §2.7): joins (broadcast equi,
  * semi/anti, as-of), hash aggregation, rollup, window functions, time
  * windows, JSON extraction, stats. All built-in Catalyst operators —
  * the queries pin plan shape (broadcasts for dims, partial aggregation)
  * and cross-engine-deterministic output (rounding + full tie-breaks). */
object RelationalQueries {
  /** TPC-H-Q1-style pricing summary: hash agg with map-side combine. */
  private val q1Pricing = Q(
    "q1_pricing_summary",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("2001-06-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")) + lit(1e-9), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")) + lit(1e-9), 4).as("avg_price"),
          round(avg(col("l_discount")) + lit(1e-9), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag").asc, col("l_linestatus").asc),
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
             round(avg(l_quantity) + 1e-9, 4) AS avg_qty,
             round(avg(l_extendedprice) + 1e-9, 4) AS avg_price,
             round(avg(l_discount) + 1e-9, 4) AS avg_disc,
             CAST(count(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-06-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag ASC, l_linestatus ASC
    """))

  /** TPC-H-Q3-style: filtered customer (a true dim after the segment
    * filter) broadcasts into orders; orders⋈lineitem — fact⋈fact — is
    * pinned to a sort-merge join (`hint("merge")`): at fixture scale
    * Spark's size estimate would auto-broadcast the orders side, but a
    * fact table is never broadcast-safe at 100×, so the plan declares the
    * shuffle explicitly. */
  private val q3TopRevenue = Q(
    "q3_top_revenue",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val oc = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      l.join(oc.hint("merge"), l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """))

  /** TPC-H-Q5-style: only the true dims (region-filtered nation) are
    * broadcast; customer is enriched with its nation via that broadcast,
    * then the two fact-side joins — lineitem⋈orders on orderkey and
    * orders⋈customer on custkey — are pinned to sort-merge shuffles,
    * the only shape that survives 100× (customer and orders both grow
    * with scale; broadcasting either builds an O(fact) hash map). */
  private val q5NationRevenue = Q(
    "q5_nation_revenue",
    (s, dir) => {
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      // nation ⨝ region(ASIA): ≤25 rows — the genuine broadcast dim
      val asiaNations = n.join(broadcast(r),
        n("n_regionkey") === r("r_regionkey")).select("n_nationkey", "n_name")
      val cn = c.select("c_custkey", "c_nationkey")
        .join(broadcast(asiaNations), c("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      l.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o.select("o_orderkey", "o_custkey").hint("merge"),
          l("l_orderkey") === o("o_orderkey"))
        .join(cn.hint("merge"), o("o_custkey") === cn("c_custkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name").asc)
    },
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY n_name ASC
    """))

  /** TPC-H-Q9-style product profit per supplier nation and order year,
    * adapted to the fixture schema (no partsupp table: supply cost is
    * proxied as 10% of p_retailprice per unit). Reads every remaining
    * fixture table (part, supplier). Plan shape for 100×: part and
    * supplier grow with scale, so all three fact-side joins onto
    * lineitem (part, supplier, orders) are pinned sort-merge shuffles;
    * only nation (25 rows) is broadcast. */
  private val q9ProfitByNation = Q(
    "q9_profit_by_nation",
    (s, dir) => {
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey",
        "l_suppkey", "l_extendedprice", "l_discount", "l_quantity")
      val p = Tables.part(s, dir).where(col("p_name").contains("red"))
        .select("p_partkey", "p_retailprice")
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      l.join(p.hint("merge"), l("l_partkey") === p("p_partkey"))
        .join(sup.hint("merge"), l("l_suppkey") === sup("s_suppkey"))
        .join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity") * lit(0.1)), 2)
            .as("profit"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name").asc, col("o_year").asc)
    },
    Some("""
      SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             round(sum(l_extendedprice * (1 - l_discount)
               - p_retailprice * l_quantity * 0.1), 2) AS profit,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%red%'
      GROUP BY n_name, year(o_orderdate)
      ORDER BY n_name ASC, o_year ASC
    """))

  /** Window: top-3 orders per customer by totalprice. */
  private val windowTopOrders = Q(
    "window_top_orders",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rank_in_cust", row_number().over(w).cast("long"))
        .where(col("rank_in_cust") <= 3)
        .select("o_custkey", "rank_in_cust", "o_orderkey", "o_totalprice")
        .orderBy(col("o_custkey").asc, col("rank_in_cust").asc)
    },
    Some("""
      WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT)
                     AS rank_in_cust
                 FROM orders)
      SELECT o_custkey, rank_in_cust, o_orderkey, o_totalprice FROM r
      WHERE rank_in_cust <= 3
      ORDER BY o_custkey ASC, rank_in_cust ASC
    """))

  /** Window: running revenue per supplier (ordered frame accumulation). */
  private val windowRunningRevenue = Q(
    "window_running_revenue",
    (s, dir) => {
      // The fixture has duplicate (l_orderkey, l_linenumber) pairs (118k
      // at sf0.1), so (shipdate, orderkey, linenumber) is NOT a total
      // order: two rows with different revenue can tie, and each engine
      // may order the pair differently — their intermediate cumulative
      // values then differ (caught by the sf0.1 oracle run). Appending
      // the revenue inputs to the ORDER BY makes the frame total over
      // everything the sum depends on: fully-identical rows can still
      // swap, but then their cumulative values are identical too.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_extendedprice").asc,
          col("l_discount").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // DECIMAL accumulation: engines disagree on FP summation order for
      // window frames (DuckDB uses segment trees), so exact decimal math
      // is the only cross-engine-stable formulation for running sums.
      Tables.lineitem(s, dir)
        .withColumn("running_revenue",
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).over(w), 2).cast("double"))
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "running_revenue")
        .orderBy(col("l_suppkey").asc, col("l_shipdate").asc,
          col("l_orderkey").asc, col("l_linenumber").asc,
          col("running_revenue").asc)
    },
    Some("""
      SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(18,4))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
                        l_extendedprice ASC, l_discount ASC
               ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_revenue
      FROM lineitem
      ORDER BY l_suppkey ASC, l_shipdate ASC, l_orderkey ASC,
               l_linenumber ASC, running_revenue ASC
    """))

  /** Rollup over region/nation: multi-level aggregation. */
  private val rollupCustomers = Q(
    "rollup_customers",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("acctbal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_cust"), col("acctbal"))
        .orderBy(col("region_name").asc, col("nation_name").asc)
    },
    Some("""
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             CAST(count(*) AS BIGINT) AS n_cust,
             round(sum(c_acctbal), 2) AS acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region_name ASC, nation_name ASC
    """))

  /** lag(): per-customer day gaps between consecutive orders. */
  private val windowOrderGaps = Q(
    "window_order_gaps",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .where(col("prev_date").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), col("prev_date")).cast("long")
            .as("gap_days"))
        .orderBy(col("o_custkey").asc, col("o_orderkey").asc)
    },
    Some("""
      WITH g AS (SELECT o_custkey, o_orderkey, o_orderdate,
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_date
                 FROM orders)
      SELECT o_custkey, o_orderkey,
             CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS gap_days
      FROM g WHERE prev_date IS NOT NULL
      ORDER BY o_custkey ASC, o_orderkey ASC
    """))

  /** Exact interpolated percentiles (percentile_cont semantics). */
  private val quantilePrices = Q(
    "quantile_prices",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
          round(min(col("o_totalprice")), 2).as("p_min"),
          round(max(col("o_totalprice")), 2).as("p_max"))
        .orderBy(col("o_orderstatus").asc),
    Some("""
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
             round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
             round(min(o_totalprice), 2) AS p_min,
             round(max(o_totalprice), 2) AS p_max
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus ASC
    """))

  /** Cube over status × priority: full grouping-sets lattice. */
  private val cubeOrders = Q(
    "cube_orders",
    (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status").asc, col("priority").asc),
    Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status ASC, priority ASC
    """))

  /** Explicit GROUPING SETS — the precise lattice control cube/rollup
    * only approximate: exactly the three groupings a dashboard needs
    * ((status), (priority), ()), none of the lattice it doesn't, via the
    * same single-scan Expand. grouping() disambiguates real NULL-like
    * labels from superaggregate rows. */
  private val groupingSetsOrders = Q(
    "grouping_sets_orders",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status ASC, priority ASC
      """)
    },
    Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
             CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status ASC, priority ASC
    """))

  /** Bivariate statistics surface: Pearson correlation and population
    * covariance per group in one map-side-combined pass (the moment
    * sketches merge associatively — the same fixed-size-state shape as
    * the sketch family). Both engines accumulate in double; 4-dp
    * rounding absorbs the summation-order ulp. */
  private val columnCorrelation = Q(
    "column_correlation",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_extendedprice"), col("l_quantity")) + lit(1e-9), 4)
            .as("corr_price_qty"),
          round(covar_pop(col("l_extendedprice"), col("l_discount"))
            + lit(1e-9), 4).as("covar_price_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc),
    Some("""
      SELECT l_returnflag,
             round(corr(l_extendedprice, l_quantity) + 1e-9, 4)
               AS corr_price_qty,
             round(covar_pop(l_extendedprice, l_discount) + 1e-9, 4)
               AS covar_price_disc,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC
    """))

  /** MAP-typed column surface: the JSON props parsed to a real
    * map<string,bigint> (not scalar get_json_object extraction), the map
    * EXPLODED into (key, value) rows, and per-key value stats aggregated
    * — schema-on-read over semi-structured data without a fixed struct.
    * The fixture carries one key; the machinery is key-count-agnostic. */
  private val propsMapStats = Q(
    "props_map_stats",
    (s, dir) =>
      Tables.events(s, dir)
        .select(explode(from_json(col("props"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType)))
          .as(Seq("key", "value")))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("value")).as("n_distinct"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"),
          sum(col("value")).as("sum_v"))
        .orderBy(col("key").asc),
    Some("""
      WITH kv AS (SELECT unnest(json_keys(props)) AS key, props FROM events),
      v AS (SELECT key,
                   CAST(json_extract(props, '$.' || key) AS BIGINT) AS value
            FROM kv)
      SELECT key, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
             min(value) AS min_v, max(value) AS max_v,
             CAST(sum(value) AS BIGINT) AS sum_v
      FROM v GROUP BY key ORDER BY key ASC
    """))

  /** Semi + anti join: customers with a 'P' order but none over 400k. */
  private val semiAntiCustomers = Q(
    "semi_anti_customers",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o.where(col("o_orderstatus") === "P"),
          c("c_custkey") === col("o_custkey"), "left_semi")
        .join(o.where(col("o_totalprice") > 400000),
          c("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey").asc)
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey ASC
    """))

  /** Tumbling 1-hour event-time window aggregation. */
  private val eventsHourly = Q(
    "events_hourly",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("hour").asc, col("event_type").asc),
    Some("""
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS total_value
      FROM events
      GROUP BY date_trunc('hour', ts), event_type
      ORDER BY hour ASC, event_type ASC
    """))

  /** JSON property extraction + aggregation over the events props. */
  private val eventsJson = Q(
    "events_json_stats",
    (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg(col("k")) + lit(1e-9), 4).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type").asc)
    },
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) + 1e-9, 4)
               AS avg_k,
             CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS min_k,
             CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type ASC
    """))

  /** As-of join: for each purchase, the user's most recent prior click.
    * Spark side: union + running last(ignoreNulls) (one shuffle);
    * oracle: DuckDB's native ASOF JOIN — an independent formulation. */
  private val asofClickBeforePurchase = Q(
    "asof_click_before_purchase",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOfJoin.lastBefore(purchases, clicks, "user_id", "ts", "ts",
          Seq("event_id" -> "last_click_id", "ts" -> "last_click_ts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("last_click_id").cast("long").as("last_click_id"),
          col("last_click_ts").cast("timestamp").as("last_click_ts"))
        .orderBy(col("event_id").asc)
    },
    Some("""
      SELECT p.event_id, p.user_id, p.ts,
             c.event_id AS last_click_id, c.ts AS last_click_ts
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events
                      WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.event_id ASC
    """))

  /** A1/A3: collection stats (true count — the reference's len() bug at
    * src/app.py:485 is intentionally NOT replicated; SURVEY §2.5 A2). */
  private val collectionStats = Q(
    "collection_stats",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .agg(count(lit(1)).as("row_count"),
          max(size(col("embedding"))).cast("long").as("dimension"))
        .withColumn("collection_name", lit("embeddings")),
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS row_count,
             CAST(max(len(embedding)) AS BIGINT) AS dimension,
             'embeddings' AS collection_name
      FROM embeddings
    """))

  /** Sketch aggregation (HLL++): approximate distinct users per event
    * type. No cross-engine oracle (DuckDB's approx_distinct is a
    * different sketch); exact bounds are pinned in ScalaTest and the
    * driver records a rows-only check. At 100 TB this is THE
    * cardinality-estimation primitive: fixed-size sketch per group,
    * map-side mergeable, no distinct shuffle. */
  private val sketchDistinctUsers = Q(
    "sketch_distinct_users",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
        .orderBy(col("event_type").asc),
    None)

  /** KMV (k-minimum-values) distinct sketch per event type — the
    * deterministic, engine-portable sibling of sketch_distinct_users:
    * same fixed-size mergeable-state scale shape as HLL, but fed
    * md5-derived 60-bit hashes, so the DuckDB oracle replays the sketch
    * AND its estimate bit-for-bit (k-th-min hash, (k−1)/r_k arithmetic,
    * exact-count fallback below k distinct) — the approximate-distinct
    * operator itself is hash-checked, not just row-counted. */
  private val sketchKmvUsers = Q(
    "sketch_kmv_users",
    (s, dir) => {
      val kmv = udaf(new graft.functions.KmvSketchAggregator(256),
        org.apache.spark.sql.Encoders.scalaLong)
      val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
        16, 10).cast("long")
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(round(kmv(h), 4).as("est_users"))
        .orderBy(col("event_type").asc)
    },
    Some("""
      WITH h AS (SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                     AS BIGINT) AS h
                 FROM events WHERE user_id IS NOT NULL),
      r AS (SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h ASC) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS nd
            FROM h)
      SELECT event_type,
             round(CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE)
                   ELSE 255.0 * 1152921504606846976.0 / h END, 4) AS est_users
      FROM r WHERE rn = CASE WHEN nd < 256 THEN 1 ELSE 256 END
      ORDER BY event_type ASC
    """))

  /** The exact verification twin of sketch_distinct_users: a true
    * countDistinct per group, oracle-backed (so only the sketch half —
    * whose value is engine-specific by nature — stays rows-only).
    * ScalaTest pins that the sketch lands within rsd bounds of this. */
  private val exactDistinctUsers = Q(
    "exact_distinct_users",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type").asc),
    Some("""
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type ORDER BY event_type ASC
    """))

  /** RANGE-frame window: 7-day rolling spend per customer — the frame is
    * a TIME interval (6 preceding days + today over epoch-day numbers),
    * not a row count, so same-day peer rows always aggregate together.
    * DECIMAL accumulation: the frame's FP summation order differs across
    * engines (DuckDB segment trees vs Spark running frames). */
  private val windowRolling7d = Q(
    "window_rolling_7d_spend",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_date(col("o_orderdate").cast("date")))
        .rangeBetween(-6, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("rolling_7d",
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w), 2)
            .cast("double"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "rolling_7d")
        .orderBy(col("o_orderkey").asc)
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS rolling_7d
      FROM orders ORDER BY o_orderkey ASC
    """))

  /** Distribution-rank window functions (ntile / percent_rank /
    * cume_dist) per market segment — the remaining window family the
    * suite didn't cover. Partitioned by segment, fully parallel. */
  private val windowRankFunctions = Q(
    "window_rank_functions",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("balance_quartile"),
          round(percent_rank().over(w) + lit(1e-9), 4).as("pct_rank"),
          round(cume_dist().over(w) + lit(1e-9), 4).as("cume"))
        .orderBy(col("c_custkey").asc)
    },
    Some("""
      SELECT c_custkey, c_mktsegment,
             CAST(ntile(4) OVER w AS BIGINT) AS balance_quartile,
             round(percent_rank() OVER w + 1e-9, 4) AS pct_rank,
             round(cume_dist() OVER w + 1e-9, 4) AS cume
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey ASC)
      ORDER BY c_custkey ASC
    """))

  /** The shuffled-hash-join strategy pinned explicitly (completes the
    * join-strategy matrix: broadcast / sort-merge / shuffled-hash /
    * bucketed / salted / range / as-of / semi / anti). Right choice when
    * one side is too big to broadcast but small enough per partition to
    * hash — skips both sort phases. */
  private val shuffleHashJoinAgg = Q(
    "shuffle_hash_join_agg",
    (s, dir) => {
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      l.join(o.hint("shuffle_hash"), l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("total"))
        .orderBy(col("o_orderstatus").asc)
    },
    Some("""
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
               AS DOUBLE) AS total
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus ASC
    """))

  /** Incremental aggregate maintenance (materialized-view merge): the
    * first 20 days' hourly rollup is "already materialized"; a late
    * 10-day delta arrives and merges ADDITIVELY — counts and sums add,
    * avg re-derives as merged-sum ∕ merged-count — with no rescan of the
    * base partitions. This is THE pattern that keeps a 100 TB rollup
    * current: each refresh touches only the delta, and the oracle proves
    * merge(agg(base), agg(delta)) ≡ agg(base ∪ delta). Averages are NOT
    * merged as avg-of-avgs (wrong weighting) — only additive states
    * (sum, count) move through the merge. */
  private val incrementalAggMerge = Q(
    "incremental_agg_merge",
    (s, dir) => {
      val cut = lit("2024-01-21 00:00:00").cast("timestamp")
      // hour-OF-DAY grouping: every (hour_of_day, type) group receives
      // rows from both the base and the delta, so the merge genuinely
      // combines two partial states for every output row
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(hour(col("ts")).cast("long").as("hour_of_day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      val ev = Tables.events(s, dir)
      val base = rollup(ev.where(col("ts") < cut))   // the materialized state
      val delta = rollup(ev.where(col("ts") >= cut)) // the new arrivals
      base.unionByName(delta)
        .groupBy(col("hour_of_day"), col("event_type"))
        .agg(sum(col("n")).as("n"),
          round(sum(col("sum_value")), 2).as("sum_value"))
        .select(col("hour_of_day"), col("event_type"), col("n"),
          col("sum_value"),
          // 2-dec sum / count lands exactly on 4th-decimal halves
          // (551.43/8 = 68.92875): the standard +1e-9 half tie-break
          round(col("sum_value") / col("n") + lit(1e-9), 4).as("avg_value"))
        .orderBy(col("hour_of_day").asc, col("event_type").asc)
    },
    Some("""
      SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS sum_value,
             round(round(sum(value), 2) / count(*) + 1e-9, 4) AS avg_value
      FROM events
      GROUP BY 1, 2 ORDER BY hour_of_day ASC, event_type ASC
    """))

  /** ANALYZE-style table profiling: per-column null count, distinct
    * count, numeric min/max for six lineitem columns — in ONE scan. The
    * multiple DISTINCT aggregates compile to a single Expand-based
    * aggregation (one pass over the fact table, the standard engine
    * trick); the wide single-row result then unpivots to long format via
    * an array-of-structs explode. At 100 TB profiling cost ≡ one
    * map-side-combined scan, which is what ANALYZE must be. */
  private val tableProfile = Q(
    "table_profile",
    (s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          countDistinct(col(c)).as(s"${c}__distinct"),
          round(min(col(c)).cast("double"), 4).as(s"${c}__min"),
          round(max(col(c)).cast("double"), 4).as(s"${c}__max"))
      }
      val wide = Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
      wide.select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"),
          col(s"${c}__min").as("min_value"),
          col(s"${c}__max").as("max_value"))): _*)).as("p"))
        .select(col("p.col_name"), col("p.n_nulls"), col("p.n_distinct"),
          col("p.min_value"), col("p.max_value"))
        .orderBy(col("col_name").asc)
    },
    Some(Seq("l_orderkey", "l_partkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax").map(c => s"""
      SELECT '$c' AS col_name,
             CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
             CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             round(CAST(min($c) AS DOUBLE), 4) AS min_value,
             round(CAST(max($c) AS DOUBLE), 4) AS max_value
      FROM lineitem""").mkString(" UNION ALL ") +
      "\n      ORDER BY col_name ASC"))

  /** Join-key skew diagnosis — the pre-flight check that decides whether
    * a join needs salting (operators/SaltedJoin) or AQE skew handling:
    * per-key row counts reduced to distribution stats (exact
    * percentiles, max, max/avg skew factor) in one map-side-combined
    * aggregation pass. At 100 TB this is the cheap scan you run BEFORE
    * the expensive join, not after it straggles. */
  private val skewReport = Q(
    "skew_report",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"),
          round(avg(col("c")) + lit(1e-9), 4).as("avg_rows"),
          round(expr("percentile(c, 0.5)"), 4).as("p50_rows"),
          round(expr("percentile(c, 0.99)"), 4).as("p99_rows"),
          max(col("c")).as("max_rows"))
        .withColumn("skew_factor",
          round(col("max_rows") / col("avg_rows") + lit(1e-9), 4)),
    Some("""
      WITH k AS (SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             round(avg(c) + 1e-9, 4) AS avg_rows,
             round(quantile_cont(c, 0.5), 4) AS p50_rows,
             round(quantile_cont(c, 0.99), 4) AS p99_rows,
             CAST(max(c) AS BIGINT) AS max_rows,
             round(max(c) / round(avg(c) + 1e-9, 4) + 1e-9, 4) AS skew_factor
      FROM k
    """))

  /** JSON-key scalar index — Milvus 2.5's JSON-path index (a scalar
    * INVERTED index over a key extracted from a JSON field) composed
    * from the existing [[graft.search.ScalarIndex]] machinery: the
    * extracted value becomes the artifact's partition key, so a
    * `props.k IN (…)` filter resolves by DIRECTORY-pruned scan of the
    * two-column artifact, and the events table is then restricted by a
    * semi-join before any aggregate math — the JSON string column is
    * parsed ONCE at index build, never per query. The oracle replays
    * the JSON extraction + IN-filter + aggregate from the raw table. */
  private val jsonScalarIndexFilter = Q(
    "json_scalar_index_filter",
    (s, dir) => {
      import graft.search.ScalarIndex
      val ev = Tables.events(s, dir)
      val idx = s"/tmp/graft_jsonidx_${math.abs(dir.hashCode)}"
      rebuildOnce(s, idx) {
        ScalarIndex.build(
          ev.select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("jk")),
          "event_id", "jk", idx)
      }
      val ids = ScalarIndex.ids(s, idx, Seq(29L, 30L))
        .withColumnRenamed("id", "event_id")
      ev.join(ids, Seq("event_id"), "left_semi")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type").asc)
    },
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS sum_value
      FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IN (29, 30)
      GROUP BY event_type ORDER BY event_type ASC
    """))

  /** ARRAY-element scalar index (round 16 — Milvus's scalar index over
    * ARRAY-field ELEMENTS, `json_scalar_index_filter`'s sibling): the
    * `tags array<string>` metadata derived for `array_filtered_search`
    * is EXPLODED at build time into the (element, id) layout of
    * [[graft.search.ScalarIndex]] — one directory per distinct
    * element, so an `array_contains_any(tags, [...])` filter resolves
    * by DIRECTORY-pruned scan of the compact artifact (the element
    * values land in PartitionFilters — PlanSpec pins it) and the
    * documents table is then restricted by a semi-join (which also
    * dedups a row matching several filter values) before the
    * aggregate. The array column itself is never scanned at query
    * time. The oracle re-derives the tags and replays the
    * contains-any + aggregate from the raw table. */
  private val arrayScalarIndexFilter = Q(
    "array_scalar_index_filter",
    (s, dir) => {
      import graft.search.ScalarIndex
      val d = Tables.documents(s, dir)
      val idx = Fixtures.tagIndex(s, dir)
      val ids = ScalarIndex.ids(s, idx, Seq("zh", "d3"))
        .withColumnRenamed("id", "doc_id")
      d.join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang").asc)
    },
    Some("""
      WITH tg AS (SELECT doc_id, lang, n_chars,
                         [lang, source,
                          'd' || CAST(doc_id % 5 AS VARCHAR)] AS tags
                  FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM tg
      WHERE list_contains(tags, 'zh') OR list_contains(tags, 'd3')
      GROUP BY lang ORDER BY lang ASC
    """))

  /** `array_contains_all` over the same exploded element artifact
    * (round 16 — Milvus's third ARRAY filter verb, completing
    * contains / contains_any / contains_all): the id set is a
    * directory-pruned scan of BOTH element partitions reduced by one
    * group-count requiring every value ([[graft.search.ScalarIndex
    * .idsAll]]), then the usual semi-join + aggregate. Same artifact
    * as `array_scalar_index_filter` — one element index serves all
    * three verbs, which is the point of exploding at build time. */
  private val arrayContainsAllFilter = Q(
    "array_contains_all_filter",
    (s, dir) => {
      import graft.search.ScalarIndex
      val d = Tables.documents(s, dir)
      val idx = Fixtures.tagIndex(s, dir)
      val ids = ScalarIndex.idsAll(s, idx, Seq("en", "d1"))
        .withColumnRenamed("id", "doc_id")
      d.join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source").asc)
    },
    Some("""
      WITH tg AS (SELECT doc_id, source, n_chars,
                         [lang, source,
                          'd' || CAST(doc_id % 5 AS VARCHAR)] AS tags
                  FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM tg
      WHERE list_contains(tags, 'en') AND list_contains(tags, 'd1')
      GROUP BY source ORDER BY source ASC
    """))

  val all: Seq[Q] = Seq(q1Pricing, q3TopRevenue, q5NationRevenue,
    q9ProfitByNation, skewReport, groupingSetsOrders,
    sketchDistinctUsers, sketchKmvUsers, exactDistinctUsers, cubeOrders,
    windowOrderGaps,
    quantilePrices, windowTopOrders, windowRunningRevenue, windowRolling7d,
    windowRankFunctions, rollupCustomers, shuffleHashJoinAgg,
    semiAntiCustomers, eventsHourly, eventsJson, propsMapStats,
    columnCorrelation, asofClickBeforePurchase,
    collectionStats, incrementalAggMerge, tableProfile,
    jsonScalarIndexFilter, arrayScalarIndexFilter,
      arrayContainsAllFilter)
}
