package graft.queries

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-DS plan shapes — the reference's second optimizer golden-plan
  * corpus (reference tests/optimizers/tpcds/queries/, 100 files q1–q99 +
  * q75-2, checked by src/Optimizer/tests/gtest_plan_check_tpcds1000.cpp
  * through gtest_base_tpcds_plan_test.h) — re-expressed on the engine's
  * star schema. Each query exercises the plan feature of the q-numbers
  * its comment names rather than being a literal port. Channels are
  * synthesized from the test data (l_suppkey % 3 → air/sea/land; events
  * click/purchase for web/store).
  *
  * Most queries are one ANSI SQL text run verbatim on Spark and the
  * DuckDB oracle ([[QueryDef.sql]]); where a builtin differs between the
  * engines (DuckDB's dayofweek is Sunday=0, Spark's Sunday=1) the oracle
  * text is passed separately. Sums and averages follow the
  * decimal-quantize-then-DOUBLE convention of [[graft.Num]], so both
  * engines aggregate exactly and threshold gates cannot flip on float
  * summation order. Scale notes inline per query.
  */
object Tpcds {

  import Num._

  /** Order-independent average of a 2-decimal money column: exact
    * decimal sum, one double division, quantized to 6 places.
    */
  private def avg6(x: String): String =
    s"CAST(CAST(ROUND(CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / COUNT($x), 6) AS DECIMAL(18,6)) AS DOUBLE)"

  val defs: Seq[QueryDef] = Seq(

    // q88 shape: one row of independent conditional-count scalar
    // subqueries — Catalyst plans each as its own aggregate and joins the
    // singleton results.
    QueryDef.sql(
      "tpcds_multi_count_scalars",
      Seq("lineitem"),
      """
        SELECT
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) AS q1_10,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) AS q11_20,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) AS q21_30,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) AS q31_40,
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50) AS q41_50,
          (SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R') AS returned,
          (SELECT COUNT(*) FROM lineitem WHERE l_discount >= 0.05) AS discounted,
          (SELECT COUNT(*) FROM lineitem WHERE l_tax = 0.0) AS untaxed"""),

    // q36 shape: ROLLUP revenue hierarchy + rank within each grouping
    // level (window partitioned by grouping_id).
    QueryDef(
      "tpcds_rollup_rank",
      (s, dir) => {
        val g = Tables(s, dir, "lineitem")
          .join(broadcast(Tables(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .rollup(col("p_type"), col("p_brand"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
               grouping_id().as("lvl"))
        val w = Window.partitionBy(col("lvl")).orderBy(col("revenue").desc,
          col("p_type").asc_nulls_first, col("p_brand").asc_nulls_first)
        g.withColumn("rank_in_level", rank().over(w))
          .filter(col("rank_in_level") <= 5)
          .select(col("lvl"), col("rank_in_level"), col("p_type"), col("p_brand"),
                  col("revenue"))
          .orderBy(col("lvl"), col("rank_in_level"))
      },
      Some("""
        WITH g AS (
          SELECT p_type, p_brand,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
              AS revenue,
            CASE WHEN p_type IS NULL AND p_brand IS NULL THEN 3
                 WHEN p_brand IS NULL THEN 1 ELSE 0 END AS lvl
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY ROLLUP (p_type, p_brand)),
        r AS (
          SELECT lvl, p_type, p_brand, revenue,
            RANK() OVER (PARTITION BY lvl ORDER BY revenue DESC,
              p_type ASC NULLS FIRST, p_brand ASC NULLS FIRST) AS rank_in_level
          FROM g)
        SELECT lvl, rank_in_level, p_type, p_brand, revenue
        FROM r WHERE rank_in_level <= 5
        ORDER BY lvl, rank_in_level""")),

    // q51 shape: two daily cumulative series (orders vs shipments) full
    // outer joined on the day axis, keeping months where the running
    // shipment count exceeds 3x the running order count.
    QueryDef(
      "tpcds_cumulative_compare",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
          .agg(count(lit(1)).as("n_ord"))
        val l = Tables(s, dir, "lineitem")
          .groupBy(date_trunc("month", col("l_shipdate")).as("m"))
          .agg(count(lit(1)).as("n_ship"))
        val joined = o.join(l, Seq("m"), "full_outer")
        val w = Window.orderBy(col("m")).rowsBetween(Window.unboundedPreceding, 0)
        joined
          .withColumn("cum_ord", sum(coalesce(col("n_ord"), lit(0L))).over(w))
          .withColumn("cum_ship", sum(coalesce(col("n_ship"), lit(0L))).over(w))
          .filter(col("cum_ship") > col("cum_ord") * 3)
          .select(col("m"), col("cum_ord"), col("cum_ship"))
          .orderBy(col("m"))
      },
      Some("""
        WITH o AS (
          SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
            COUNT(*) AS n_ord
          FROM orders GROUP BY 1),
        l AS (
          SELECT CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS m,
            COUNT(*) AS n_ship
          FROM lineitem GROUP BY 1),
        j AS (
          SELECT COALESCE(o.m, l.m) AS m, n_ord, n_ship
          FROM o FULL OUTER JOIN l ON o.m = l.m),
        c AS (
          SELECT m,
            SUM(COALESCE(n_ord, 0)) OVER (ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ord,
            SUM(COALESCE(n_ship, 0)) OVER (ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ship
          FROM j)
        SELECT m, CAST(cum_ord AS BIGINT) AS cum_ord,
          CAST(cum_ship AS BIGINT) AS cum_ship
        FROM c WHERE cum_ship > cum_ord * 3
        ORDER BY m""")),

    // q71 shape: multi-channel UNION ALL of differently-filtered fact
    // scans, broadcast-joined to the item dim, aggregated per (brand,
    // channel).
    QueryDef(
      "tpcds_union_channels",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        def chan(f: org.apache.spark.sql.Column, name: String) =
          li.filter(f).select(col("l_partkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
            lit(name).as("channel"))
        val u = chan(col("l_quantity") <= 15, "small")
          .unionAll(chan(col("l_quantity") > 15 && col("l_quantity") <= 35, "medium"))
          .unionAll(chan(col("l_quantity") > 35, "large"))
        u.join(broadcast(Tables(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("channel"))
          .agg(dsum6(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
          .orderBy(col("p_brand"), col("channel"))
      },
      Some("""
        WITH u AS (
          SELECT l_partkey, l_extendedprice * (1 - l_discount) AS rev, 'small' AS channel
          FROM lineitem WHERE l_quantity <= 15
          UNION ALL
          SELECT l_partkey, l_extendedprice * (1 - l_discount), 'medium'
          FROM lineitem WHERE l_quantity > 15 AND l_quantity <= 35
          UNION ALL
          SELECT l_partkey, l_extendedprice * (1 - l_discount), 'large'
          FROM lineitem WHERE l_quantity > 35)
        SELECT p_brand, channel,
          CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM u JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, channel
        ORDER BY p_brand, channel""")),

    // q5 shape: sales(+) and returns(−) branches unioned, dim chain
    // (supplier → nation → region) broadcast, ROLLUP over the geo
    // hierarchy.
    QueryDef(
      "tpcds_returns_net",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        val sales = li.select(col("l_suppkey"), rev.as("gain"), lit(0.0).as("loss"))
        val returns = li.filter(col("l_returnflag") === "R")
          .select(col("l_suppkey"), lit(0.0).as("gain"), rev.as("loss"))
        sales.unionAll(returns)
          .join(broadcast(Tables(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(dsum6(col("gain")).as("gross"), dsum6(col("loss")).as("returned"),
               dsum6(col("gain") - col("loss")).as("net"))
          .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
      },
      Some("""
        WITH u AS (
          SELECT l_suppkey, l_extendedprice * (1 - l_discount) AS gain, 0.0 AS loss
          FROM lineitem
          UNION ALL
          SELECT l_suppkey, 0.0, l_extendedprice * (1 - l_discount)
          FROM lineitem WHERE l_returnflag = 'R')
        SELECT r_name, n_name,
          CAST(SUM(CAST(gain AS DECIMAL(18,6))) AS DOUBLE) AS gross,
          CAST(SUM(CAST(loss AS DECIMAL(18,6))) AS DOUBLE) AS returned,
          CAST(SUM(CAST(gain - loss AS DECIMAL(18,6))) AS DOUBLE) AS net
        FROM u
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")),

    // q61 shape: ratio of two independent single-row aggregates over the
    // same fact (promotional vs total revenue), combined by cross join.
    QueryDef(
      "tpcds_promo_ratio",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        val promo = li.filter(col("l_discount") >= 0.05)
          .agg(dsum6(rev).as("promo_rev"))
        val total = li.agg(dsum6(rev).as("total_rev"))
        promo.crossJoin(total)
          .select(col("promo_rev"), col("total_rev"),
            round(col("promo_rev") / col("total_rev"), 6).as("promo_share"))
      },
      Some("""
        SELECT promo_rev, total_rev, ROUND(promo_rev / total_rev, 6) AS promo_share
        FROM (SELECT
          CAST(SUM(CAST(CASE WHEN l_discount >= 0.05
            THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(18,6))) AS DOUBLE)
            AS promo_rev,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
            AS total_rev
        FROM lineitem) t""")),

    // q75 shape: period-over-period comparison — monthly order revenue
    // self-joined to the previous month, reporting the delta ratio.
    QueryDef(
      "tpcds_mom_growth",
      (s, dir) => {
        val m = Tables(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
          .agg(dsum2(col("o_totalprice")).as("rev"))
        val prev = m.select(add_months(col("m"), 1).cast("timestamp").as("m"),
          col("rev").as("prev_rev"))
        m.join(prev, Seq("m"))
          .select(col("m"), col("rev"), col("prev_rev"),
            round((col("rev") - col("prev_rev")) / col("prev_rev"), 6).as("growth"))
          .orderBy(col("m"))
      },
      Some("""
        WITH m AS (
          SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          FROM orders GROUP BY 1)
        SELECT cur.m AS m, cur.rev AS rev, prev.rev AS prev_rev,
          ROUND((cur.rev - prev.rev) / prev.rev, 6) AS growth
        FROM m cur JOIN m prev
          ON cur.m = CAST(prev.m + INTERVAL 1 MONTH AS TIMESTAMP)
        ORDER BY m""")),

    // q10 shape: dimension counts of customers qualified by an EXISTS and
    // a NOT EXISTS on the fact — semi join + anti join + broadcast dim.
    QueryDef(
      "tpcds_exists_pair",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        val f = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        val p = orders.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("pc"))
        Tables(s, dir, "customer")
          .join(f, col("c_custkey") === f("o_custkey"), "left_semi")
          .join(p, col("c_custkey") === p("pc"), "left_anti")
          .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
               dsum2(col("c_acctbal")).as("sum_acctbal"))
          .orderBy(col("n_name"))
      },
      Some("""
        SELECT n_name, COUNT(*) AS n_customers,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        GROUP BY n_name
        ORDER BY n_name""")),

    // q44 shape: best/worst performers — rank an aggregate both ways,
    // take both extremes, union, join back to the item dim.
    QueryDef(
      "tpcds_best_worst",
      (s, dir) => {
        val avgQ = Tables(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg((dsum6(col("l_quantity")) / count(lit(1))).as("avg_q"))
        val wAsc = Window.orderBy(col("avg_q").asc, col("l_partkey").asc)
        val wDesc = Window.orderBy(col("avg_q").desc, col("l_partkey").desc)
        val ranked = avgQ
          .withColumn("rk_worst", row_number().over(wAsc))
          .withColumn("rk_best", row_number().over(wDesc))
        val best = ranked.filter(col("rk_best") <= 5)
          .select(lit("best").as("side"), col("rk_best").as("rk"),
            col("l_partkey"), col("avg_q"))
        val worst = ranked.filter(col("rk_worst") <= 5)
          .select(lit("worst").as("side"), col("rk_worst").as("rk"),
            col("l_partkey"), col("avg_q"))
        best.unionAll(worst)
          .join(broadcast(Tables(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .select(col("side"), col("rk"), col("p_name"),
            round(col("avg_q"), 6).as("avg_q"))
          .orderBy(col("side"), col("rk"))
      },
      Some("""
        WITH a AS (
          SELECT l_partkey,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_q
          FROM lineitem GROUP BY l_partkey),
        r AS (
          SELECT l_partkey, avg_q,
            ROW_NUMBER() OVER (ORDER BY avg_q ASC, l_partkey ASC) AS rk_worst,
            ROW_NUMBER() OVER (ORDER BY avg_q DESC, l_partkey DESC) AS rk_best
          FROM a),
        u AS (
          SELECT 'best' AS side, rk_best AS rk, l_partkey, avg_q FROM r WHERE rk_best <= 5
          UNION ALL
          SELECT 'worst', rk_worst, l_partkey, avg_q FROM r WHERE rk_worst <= 5)
        SELECT side, rk, p_name, ROUND(avg_q, 6) AS avg_q
        FROM u JOIN part ON l_partkey = p_partkey
        ORDER BY side, rk""")),

    // q34 shape: two-level aggregation — orders per customer, then the
    // histogram of those counts.
    QueryDef(
      "tpcds_two_level_agg",
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
          .groupBy(col("n_orders"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("n_orders")),
      Some("""
        SELECT n_orders, COUNT(*) AS n_customers
        FROM (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) t
        GROUP BY n_orders
        ORDER BY n_orders""")),

    // q38 shape: INTERSECT chain — customers active in each of three
    // first-quarters, counted. Catalyst lowers each INTERSECT to a
    // distinct + left-semi join.
    QueryDef(
      "tpcds_intersect_periods",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        def q1(year: Int) = orders
          .filter(col("o_orderdate") >= lit(s"$year-01-01") &&
            col("o_orderdate") < lit(s"$year-04-01"))
          .select(col("o_custkey"))
        q1(1995).intersect(q1(1996)).intersect(q1(1997))
          .agg(count(lit(1)).as("n_loyal_customers"))
      },
      Some("""
        SELECT COUNT(*) AS n_loyal_customers FROM (
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
          INTERSECT
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
          INTERSECT
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01') t""")),

    // q47 shape: monthly series per brand with window lag and
    // partition-average deviation filter.
    QueryDef(
      "tpcds_brand_monthly_dev",
      (s, dir) => {
        val m = Tables(s, dir, "lineitem")
          .join(broadcast(Tables(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), date_trunc("month", col("l_shipdate")).as("m"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        val wB = Window.partitionBy(col("p_brand"))
        val wSeq = Window.partitionBy(col("p_brand")).orderBy(col("m"))
        // decimal avg: order-independent across the partition (Num rule)
        m.withColumn("brand_avg", avg(col("rev").cast(D6)).over(wB).cast("double"))
          .withColumn("prev_rev", lag(col("rev"), 1).over(wSeq))
          .filter(col("rev") > col("brand_avg") * 1.4)
          .select(col("p_brand"), col("m"), round(col("rev"), 4).as("rev"),
            round(col("brand_avg"), 4).as("brand_avg"),
            round(col("prev_rev"), 4).as("prev_rev"))
          .orderBy(col("p_brand"), col("m"))
      },
      Some("""
        WITH m AS (
          SELECT p_brand, CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS m,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
              AS rev
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2),
        w AS (
          SELECT p_brand, m, rev,
            AVG(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY p_brand) AS brand_avg,
            LAG(rev) OVER (PARTITION BY p_brand ORDER BY m) AS prev_rev
          FROM m)
        SELECT p_brand, m, ROUND(rev, 4) AS rev, ROUND(brand_avg, 4) AS brand_avg,
          ROUND(prev_rev, 4) AS prev_rev
        FROM w WHERE rev > brand_avg * 1.4
        ORDER BY p_brand, m""")),

    // q90 shape: am/pm activity ratio — one scan, two conditional
    // aggregates per group, scalar ratio (events table carries the hour
    // dimension).
    QueryDef(
      "tpcds_ampm_ratio",
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(when(hour(col("ts")) < 12, 1)).as("am_cnt"),
               count(when(hour(col("ts")) >= 12, 1)).as("pm_cnt"))
          .select(col("event_type"), col("am_cnt"), col("pm_cnt"),
            round(col("am_cnt").cast("double") / col("pm_cnt"), 6).as("am_pm_ratio"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type,
          COUNT(CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 END) AS am_cnt,
          COUNT(CASE WHEN EXTRACT(hour FROM ts) >= 12 THEN 1 END) AS pm_cnt,
          ROUND(CAST(COUNT(CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 END) AS DOUBLE)
            / COUNT(CASE WHEN EXTRACT(hour FROM ts) >= 12 THEN 1 END), 6) AS am_pm_ratio
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // q34 shape: per-customer order counts banded by HAVING, joined back
    // to the customer dim, distribution per market segment — aggregate →
    // HAVING filter → broadcast dim join → re-aggregate.
    QueryDef(
      "tpcds_having_band",
      (s, dir) => {
        val freq = Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 8 && col("n_orders") <= 12)
        freq.join(broadcast(Tables(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
               sum(col("n_orders")).as("n_orders"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        WITH freq AS (
          SELECT o_custkey, COUNT(*) AS n
          FROM orders
          GROUP BY o_custkey
          HAVING COUNT(*) BETWEEN 8 AND 12)
        SELECT c_mktsegment, COUNT(*) AS n_customers,
          CAST(SUM(n) AS BIGINT) AS n_orders
        FROM freq JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // q58 shape: the same measure aggregated over two disjoint periods,
    // equi-joined per key, kept only where each side lands inside a
    // tolerance band of their joint average — two scans of one fact
    // table, join on the group key, ratio residual predicates.
    QueryDef(
      "tpcds_tolerance_compare",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        def period(f: org.apache.spark.sql.Column, alias: String) =
          li.filter(f).groupBy(col("l_partkey").as(s"${alias}_key"))
            .agg(dsum2(col("l_extendedprice")).as(s"${alias}_rev"))
        val h1 = period(col("l_shipdate") < "1994-07-01", "h1")
        val h2 = period(col("l_shipdate") >= "1994-07-01", "h2")
        h1.join(h2, col("h1_key") === col("h2_key"))
          .withColumn("avg_rev", (col("h1_rev") + col("h2_rev")) / 2)
          .filter(col("h1_rev").between(col("avg_rev") * 0.9, col("avg_rev") * 1.1) &&
                  col("h2_rev").between(col("avg_rev") * 0.9, col("avg_rev") * 1.1))
          .select(col("h1_key").as("l_partkey"),
                  round(col("h1_rev"), 2).as("h1_rev"),
                  round(col("h2_rev"), 2).as("h2_rev"))
          .orderBy(col("l_partkey"))
      },
      Some("""
        WITH h1 AS (
          SELECT l_partkey AS k,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          FROM lineitem WHERE l_shipdate < DATE '1994-07-01'
          GROUP BY l_partkey),
        h2 AS (
          SELECT l_partkey AS k,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          FROM lineitem WHERE l_shipdate >= DATE '1994-07-01'
          GROUP BY l_partkey)
        SELECT h1.k AS l_partkey,
          ROUND(h1.rev, 2) AS h1_rev, ROUND(h2.rev, 2) AS h2_rev
        FROM h1 JOIN h2 ON h1.k = h2.k
        WHERE h1.rev BETWEEN 0.9 * (h1.rev + h2.rev) / 2 AND 1.1 * (h1.rev + h2.rev) / 2
          AND h2.rev BETWEEN 0.9 * (h1.rev + h2.rev) / 2 AND 1.1 * (h1.rev + h2.rev) / 2
        ORDER BY l_partkey""")),

    // q11/q74: customers whose spend grew >25% year-over-year, any
    // consecutive year pair.
    QueryDef(
      "tpcds_yoy_customer_growth",
      (s, dir) => {
        val yearly = Tables(s, dir, "orders")
          .groupBy(col("o_custkey"), year(col("o_orderdate")).as("y"))
          .agg(dsum2(col("o_totalprice")).as("spend"))
        val next = yearly.select(col("o_custkey"), (col("y") - 1).as("y"),
          col("spend").as("next_spend"))
        yearly.join(next, Seq("o_custkey", "y"))
          .filter(col("next_spend") > col("spend") * 1.25)
          .select(col("o_custkey"), col("y"),
            round(col("spend"), 2).as("spend"),
            round(col("next_spend"), 2).as("next_spend"),
            round(col("next_spend") / col("spend"), 6).as("ratio"))
          .orderBy(desc("ratio"), col("o_custkey"), col("y"))
          .limit(50)
      },
      Some("""
        WITH yearly AS (
          SELECT o_custkey, YEAR(o_orderdate) AS y,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
          FROM orders GROUP BY 1, 2)
        SELECT a.o_custkey, a.y,
          ROUND(a.spend, 2) AS spend,
          ROUND(b.spend, 2) AS next_spend,
          ROUND(b.spend / a.spend, 6) AS ratio
        FROM yearly a JOIN yearly b
          ON a.o_custkey = b.o_custkey AND b.y = a.y + 1
        WHERE b.spend > a.spend * 1.25
        ORDER BY ratio DESC, a.o_custkey, a.y
        LIMIT 50""")),

    // q78: per part-year lineitem quantity with returns ANTI-joined out,
    // against the all-rows total — the kept ratio.
    QueryDef(
      "tpcds_returns_kept_ratio",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).as("y"))
        val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        val returned = joined.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("rk"), col("l_linenumber").as("rn"))
        val kept = joined.join(returned,
            joined("l_orderkey") === returned("rk") &&
              joined("l_linenumber") === returned("rn"),
            "left_anti")
          .groupBy(col("y"))
          .agg(sum(col("l_quantity").cast("long")).as("kept_qty"))
        val total = joined.groupBy(col("y"))
          .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        kept.join(total, Seq("y"))
          .select(col("y"), col("kept_qty"), col("total_qty"),
            round(col("kept_qty").cast("double") / col("total_qty"), 6).as("kept_ratio"))
          .orderBy(col("y"))
      },
      Some("""
        WITH joined AS (
          SELECT l.*, YEAR(o.o_orderdate) AS y
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        kept AS (
          SELECT y, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS kept_qty
          FROM joined j
          WHERE NOT EXISTS (
            SELECT 1 FROM joined r
            WHERE r.l_returnflag = 'R' AND r.l_orderkey = j.l_orderkey
              AND r.l_linenumber = j.l_linenumber)
          GROUP BY y),
        total AS (
          SELECT y, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
          FROM joined GROUP BY y)
        SELECT y, kept_qty, total_qty,
          ROUND(CAST(kept_qty AS DOUBLE) / total_qty, 6) AS kept_ratio
        FROM kept JOIN total USING (y)
        ORDER BY y""")),

    // q54: revenue inside the 90 days after each customer's FIRST order
    // — min-date anchor aggregate joined back with a range residual.
    QueryDef(
      "tpcds_first_purchase_window",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val anchor = o.groupBy(col("o_custkey").as("ck"))
          .agg(min(col("o_orderdate")).as("first_d"))
        o.join(anchor, o("o_custkey") === anchor("ck") &&
            o("o_orderdate") >= anchor("first_d") &&
            o("o_orderdate") <= date_add(anchor("first_d"), 90))
          .groupBy(col("o_custkey"))
          .agg(dsum2(col("o_totalprice")).as("window_rev"),
            count(lit(1)).as("n_orders"))
          .agg(round(davg6(col("window_rev")), 4).as("avg_window_rev"),
            round(davg6(col("n_orders").cast("double")), 6).as("avg_window_orders"),
            count(lit(1)).as("n_customers"))
      },
      Some("""
        WITH anchor AS (
          SELECT o_custkey AS ck, MIN(o_orderdate) AS first_d
          FROM orders GROUP BY o_custkey),
        w AS (
          SELECT o.o_custkey,
            CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS window_rev,
            COUNT(*) AS n_orders
          FROM orders o JOIN anchor a ON o.o_custkey = a.ck
          WHERE o.o_orderdate >= a.first_d
            AND o.o_orderdate <= a.first_d + INTERVAL 90 DAY
          GROUP BY o.o_custkey)
        SELECT
          ROUND(CAST(SUM(CAST(window_rev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_window_rev,
          ROUND(CAST(SUM(CAST(CAST(n_orders AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_window_orders,
          COUNT(*) AS n_customers
        FROM w""")),

    // q65: parts whose revenue sits below 30% of the all-parts average —
    // a grouped aggregate joined against a scalar aggregate OF the same
    // grouped aggregate (two aggregation levels sharing one child).
    QueryDef(
      "tpcds_below_avg_parts",
      (s, dir) => {
        val rev = Tables(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(dsum2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
        val avgRev = rev.agg(avg(col("rev")).as("avg_rev"))
        rev.crossJoin(broadcast(avgRev))
          .filter(col("rev") < col("avg_rev") * 0.3)
          .select(col("l_partkey"), round(col("rev"), 2).as("rev"),
            round(col("avg_rev"), 2).as("avg_rev"))
          .orderBy(col("l_partkey"))
          .limit(100)
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey,
            CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,2)))
              AS DOUBLE) AS rev
          FROM lineitem GROUP BY l_partkey),
        a AS (SELECT AVG(rev) AS avg_rev FROM rev)
        SELECT l_partkey, ROUND(rev, 2) AS rev, ROUND(avg_rev, 2) AS avg_rev
        FROM rev, a
        WHERE rev < avg_rev * 0.3
        ORDER BY l_partkey
        LIMIT 100""")),

    // q93: net sales per customer with returned lines' value credited
    // back — a LEFT join against the returns subset with COALESCE
    // arithmetic instead of an anti-join.
    QueryDef(
      "tpcds_net_after_returns",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val ret = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("rk"), col("l_linenumber").as("rn"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("ret_val"))
        val net = li.join(ret,
            li("l_orderkey") === ret("rk") && li("l_linenumber") === ret("rn"),
            "left")
          .select(col("l_orderkey"),
            ((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) -
              coalesce(col("ret_val"), lit(0.0))).as("net_val"))
        net.join(o, net("l_orderkey") === o("o_orderkey"))
          .groupBy((col("o_custkey") % 100).as("cust_band"))
          .agg(dsum6(col("net_val")).as("net_sales"))
          .select(col("cust_band"), round(col("net_sales"), 2).as("net_sales"))
          .orderBy(col("cust_band"))
      },
      Some("""
        WITH ret AS (
          SELECT l_orderkey AS rk, l_linenumber AS rn,
            l_extendedprice * (1.0 - l_discount) AS ret_val
          FROM lineitem WHERE l_returnflag = 'R'),
        net AS (
          SELECT l.l_orderkey,
            l.l_extendedprice * (1.0 - l.l_discount) - COALESCE(ret.ret_val, 0.0) AS net_val
          FROM lineitem l LEFT JOIN ret
            ON l.l_orderkey = ret.rk AND l.l_linenumber = ret.rn)
        SELECT o.o_custkey % 100 AS cust_band,
          ROUND(CAST(SUM(CAST(net.net_val AS DECIMAL(18,6))) AS DOUBLE), 2) AS net_sales
        FROM net JOIN orders o ON net.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey % 100
        ORDER BY cust_band""")),

    // q47/q57: priority-months deviating >10% from their year's average,
    // with the previous/next month's revenue alongside.
    QueryDef(
      "tpcds_monthly_dev_neighbors",
      (s, dir) => {
        val m = Tables(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("prio"),
            year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("mo"))
          .agg(lsum2(col("o_totalprice")).as("rev"))
        val wYear = Window.partitionBy(col("prio"), col("y"))
        val wSeq = Window.partitionBy(col("prio")).orderBy(col("y"), col("mo"))
        m.withColumn("avg_rev",
            (sum(round(col("rev") * 100).cast("long")).over(wYear) /
              count(lit(1)).over(wYear)) / 100.0)
          .withColumn("prev_rev", lag(col("rev"), 1).over(wSeq))
          .withColumn("next_rev", lead(col("rev"), 1).over(wSeq))
          .filter(col("avg_rev") > 0 &&
            abs(col("rev") - col("avg_rev")) / col("avg_rev") > 0.1)
          .select(col("prio"), col("y"), col("mo"),
            round(col("rev"), 2).as("rev"),
            round(col("avg_rev"), 2).as("avg_rev"),
            round(col("prev_rev"), 2).as("prev_rev"),
            round(col("next_rev"), 2).as("next_rev"),
            round(abs(col("rev") - col("avg_rev")) / col("avg_rev"), 6).as("dev"))
          .orderBy(desc("dev"), col("prio"), col("y"), col("mo"))
          .limit(40)
      },
      Some("""
        WITH m AS (
          SELECT o_orderpriority AS prio, YEAR(o_orderdate) AS y,
            MONTH(o_orderdate) AS mo,
            CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS rev
          FROM orders GROUP BY 1, 2, 3),
        w AS (
          SELECT prio, y, mo, rev,
            CAST(SUM(CAST(ROUND(rev * 100) AS BIGINT)) OVER (PARTITION BY prio, y) AS DOUBLE)
              / COUNT(*) OVER (PARTITION BY prio, y) / 100.0 AS avg_rev,
            LAG(rev) OVER (PARTITION BY prio ORDER BY y, mo) AS prev_rev,
            LEAD(rev) OVER (PARTITION BY prio ORDER BY y, mo) AS next_rev
          FROM m)
        SELECT prio, y, mo,
          ROUND(rev, 2) AS rev, ROUND(avg_rev, 2) AS avg_rev,
          ROUND(prev_rev, 2) AS prev_rev, ROUND(next_rev, 2) AS next_rev,
          ROUND(ABS(rev - avg_rev) / avg_rev, 6) AS dev
        FROM w
        WHERE avg_rev > 0 AND ABS(rev - avg_rev) / avg_rev > 0.1
        ORDER BY dev DESC, prio, y, mo
        LIMIT 40""")),

    // q49: worst return ratios per channel — three per-channel grouped
    // frames, each ranked by its own window, UNION ALL'd and re-sorted
    // (the rank-inside-union-arms shape; returns = l_returnflag = 'R').
    QueryDef(
      "tpcds_return_ratio_ranks",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .withColumn("channel",
            when(col("l_suppkey") % 3 === 0, "air")
              .when(col("l_suppkey") % 3 === 1, "sea")
              .otherwise("land"))
        def arm(ch: String) = {
          val g = li.filter(col("channel") === ch)
            .groupBy((col("l_partkey") % 50).as("part_bucket"))
            .agg(
              sum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(0.0)
                .cast(Num.D2)).as("ret_qty"),
              sum(col("l_quantity").cast(Num.D2)).as("tot_qty"))
          val ratio = (col("ret_qty") / col("tot_qty")).cast("double")
          g.select(lit(ch).as("channel"), col("part_bucket"), ratio.as("ratio"))
            .withColumn("rnk", rank().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(lit(ch)).orderBy(col("ratio").desc)))
            .filter(col("rnk") <= 10)
        }
        arm("air").unionByName(arm("sea")).unionByName(arm("land"))
          .select(col("channel"), col("part_bucket"),
            Num.dq6(col("ratio")).as("ratio"), col("rnk"))
          .orderBy(col("channel"), col("rnk"), col("part_bucket"))
      },
      Some("""
        WITH li AS (
          SELECT CASE WHEN l_suppkey % 3 = 0 THEN 'air'
                      WHEN l_suppkey % 3 = 1 THEN 'sea'
                      ELSE 'land' END AS channel,
            l_partkey % 50 AS part_bucket, l_returnflag, l_quantity
          FROM lineitem),
        g AS (
          SELECT channel, part_bucket,
            CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END
              AS DECIMAL(18,2))) AS DOUBLE)
              / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ratio
          FROM li GROUP BY 1, 2),
        r AS (
          SELECT channel, part_bucket, ratio,
            CAST(RANK() OVER (PARTITION BY channel ORDER BY ratio DESC) AS INT) AS rnk
          FROM g)
        SELECT channel, part_bucket,
          CAST(CAST(ROUND(ratio, 6) AS DECIMAL(18,6)) AS DOUBLE) AS ratio, rnk
        FROM r WHERE rnk <= 10
        ORDER BY channel, rnk, part_bucket""")),

    // q23: sales restricted to FREQUENT item buckets (HAVING over a
    // grouped fact) AND best customers (spend above half the max
    // single-customer spend — a scalar aggregate OF an aggregate,
    // broadcast against the customer rollup) — the two-semi-join +
    // broadcast-scalar shape.
    QueryDef(
      "tpcds_frequent_best_sales",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val li = Tables(s, dir, "lineitem")
        val fact = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(col("o_custkey").as("cust"),
            (col("l_partkey") % 100).as("bucket"),
            col("l_quantity"), col("l_extendedprice"))
        val frequent = fact.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 700)
          .select(col("bucket"))
        val spend = o.groupBy(col("o_custkey").as("cust"))
          .agg(lsum2(col("o_totalprice")).as("spend"))
        val maxSpend = spend.agg(max(col("spend")).as("max_spend"))
        val best = spend.crossJoin(broadcast(maxSpend))
          .filter(col("spend") > col("max_spend") * 0.5)
          .select(col("cust"))
        fact.join(broadcast(frequent), "bucket")
          .join(broadcast(best), "cust")
          .agg(count(lit(1)).as("n_sales"),
            lsum2(col("l_extendedprice")).cast(Num.D2).as("revenue"))
      },
      Some("""
        WITH fact AS (
          SELECT o.o_custkey AS cust, l.l_partkey % 100 AS bucket,
            l.l_quantity, l.l_extendedprice
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        frequent AS (
          SELECT bucket FROM fact GROUP BY bucket HAVING COUNT(*) > 700),
        spend AS (
          SELECT o_custkey AS cust,
            CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS spend
          FROM orders GROUP BY 1),
        best AS (
          SELECT cust FROM spend WHERE spend > (SELECT MAX(spend) FROM spend) * 0.5)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sales,
          CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
            AS DECIMAL(18,2)) AS revenue
        FROM fact
        WHERE fact.bucket IN (SELECT bucket FROM frequent)
          AND fact.cust IN (SELECT cust FROM best)""")),

    // q31: nations whose urgent-channel revenue share grew faster than
    // the regular channel across 1995 Q1→Q2 AND Q2→Q3 — six grouped
    // subqueries of the same fact joined on the nation.
    QueryDef(
      "tpcds_channel_share_growth",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        val fact = o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .filter(year(col("o_orderdate")) === 1995 &&
            quarter(col("o_orderdate")) <= 3)
          .select(col("n_name"),
            quarter(col("o_orderdate")).as("q"),
            col("o_orderpriority").startsWith("1").as("urgent"),
            col("o_totalprice"))
        def chanQ(urgent: Boolean, q: Int) =
          fact.filter(col("urgent") === urgent && col("q") === q)
            .groupBy(col("n_name"))
            .agg(lsum2(col("o_totalprice")).as(s"rev_${if (urgent) "u" else "r"}$q"))
        val joined = chanQ(true, 1).join(chanQ(true, 2), "n_name")
          .join(chanQ(true, 3), "n_name")
          .join(chanQ(false, 1), "n_name")
          .join(chanQ(false, 2), "n_name")
          .join(chanQ(false, 3), "n_name")
        joined
          .filter(col("rev_u1") > 0 && col("rev_u2") > 0 &&
            col("rev_r1") > 0 && col("rev_r2") > 0)
          .filter(col("rev_u2") / col("rev_u1") > col("rev_r2") / col("rev_r1") &&
            col("rev_u3") / col("rev_u2") > col("rev_r3") / col("rev_r2"))
          .select(col("n_name"),
            round(col("rev_u2") / col("rev_u1"), 6).as("u_growth_12"),
            round(col("rev_r2") / col("rev_r1"), 6).as("r_growth_12"),
            round(col("rev_u3") / col("rev_u2"), 6).as("u_growth_23"),
            round(col("rev_r3") / col("rev_r2"), 6).as("r_growth_23"))
          .orderBy(col("n_name"))
      },
      Some("""
        WITH fact AS (
          SELECT n.n_name, QUARTER(o.o_orderdate) AS q,
            o.o_orderpriority LIKE '1%' AS urgent, o.o_totalprice
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          WHERE YEAR(o.o_orderdate) = 1995 AND QUARTER(o.o_orderdate) <= 3),
        g AS (
          SELECT n_name, q, urgent,
            CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS rev
          FROM fact GROUP BY 1, 2, 3),
        u1 AS (SELECT n_name, rev AS rev_u1 FROM g WHERE urgent AND q = 1),
        u2 AS (SELECT n_name, rev AS rev_u2 FROM g WHERE urgent AND q = 2),
        u3 AS (SELECT n_name, rev AS rev_u3 FROM g WHERE urgent AND q = 3),
        r1 AS (SELECT n_name, rev AS rev_r1 FROM g WHERE NOT urgent AND q = 1),
        r2 AS (SELECT n_name, rev AS rev_r2 FROM g WHERE NOT urgent AND q = 2),
        r3 AS (SELECT n_name, rev AS rev_r3 FROM g WHERE NOT urgent AND q = 3)
        SELECT n_name,
          ROUND(rev_u2 / rev_u1, 6) AS u_growth_12,
          ROUND(rev_r2 / rev_r1, 6) AS r_growth_12,
          ROUND(rev_u3 / rev_u2, 6) AS u_growth_23,
          ROUND(rev_r3 / rev_r2, 6) AS r_growth_23
        FROM u1 JOIN u2 USING (n_name) JOIN u3 USING (n_name)
          JOIN r1 USING (n_name) JOIN r2 USING (n_name) JOIN r3 USING (n_name)
        WHERE rev_u1 > 0 AND rev_u2 > 0 AND rev_r1 > 0 AND rev_r2 > 0
          AND rev_u2 / rev_u1 > rev_r2 / rev_r1
          AND rev_u3 / rev_u2 > rev_r3 / rev_r2
        ORDER BY n_name""")),

    // q92/q32 shape: "excess discount" — revenue from rows whose
    // discount exceeds 1.3× their part's average discount. The per-part
    // average is a separate aggregate broadcast back onto the fact scan
    // (the correlated-scalar decorrelation TPC-DS forces).
    QueryDef(
      "tpcds_excess_discount",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        // avg as exact-decimal sum / count: Spark's and DuckDB's AVG
        // lower differently over decimals; the explicit division is the
        // same IEEE op on identical operands in both engines.
        val partAvg = li.groupBy(col("l_partkey").as("pk"))
          .agg((dsum6(col("l_discount")) / count(lit(1))).as("avg_disc"))
        val p = Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        li.join(broadcast(partAvg), col("l_partkey") === col("pk"))
          .filter(col("l_discount") > col("avg_disc") * 1.3)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(dsum2(col("l_extendedprice")).as("excess_revenue"),
            count(lit(1)).as("n_rows"))
          .select(col("p_brand"), round(col("excess_revenue"), 2).as("excess_revenue"),
            col("n_rows"))
          .orderBy(col("p_brand"))
      },
      Some("""
        WITH pa AS (
          SELECT l_partkey AS pk,
            CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc
          FROM lineitem GROUP BY 1)
        SELECT p_brand,
          ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
            AS excess_revenue,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem
        JOIN pa ON pk = l_partkey
        JOIN part ON p_partkey = l_partkey
        WHERE l_discount > avg_disc * 1.3
        GROUP BY p_brand
        ORDER BY p_brand""")),

    // q39 shape: per (supplier, month) quantity coefficient of variation
    // from exact decimal moments, then a self-join of CONSECUTIVE months
    // comparing the two covs — the inventory-variance pair pattern.
    QueryDef(
      "tpcds_cov_consecutive",
      (s, dir) => {
        val m = Tables(s, dir, "lineitem")
          .groupBy(col("l_suppkey"),
            date_trunc("month", col("l_shipdate")).as("m"))
          .agg(count(lit(1)).as("n"),
            dsum6(col("l_quantity")).as("sx"),
            dsum6(col("l_quantity") * col("l_quantity")).as("sx2"))
          .filter(col("n") > 1)
          .withColumn("mean", col("sx") / col("n"))
          .withColumn("cov",
            sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
              / col("mean"))
        val m1 = m.select(col("l_suppkey").as("sk"), col("m").as("m1"),
          col("cov").as("cov1"))
        val m2 = m.select(col("l_suppkey").as("sk2"), col("m").as("m2"),
          col("cov").as("cov2"))
        m1.join(m2, col("sk") === col("sk2") &&
            col("m2") === add_months(col("m1"), 1))
          .filter(col("cov1") > col("cov2"))
          .select(col("sk").as("suppkey"), col("m1"),
            round(col("cov1"), 6).as("cov1"), round(col("cov2"), 6).as("cov2"))
          .orderBy(col("suppkey"), col("m1"))
      },
      Some("""
        WITH m AS (
          SELECT l_suppkey AS sk, CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS m,
            COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx2
          FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1),
        c AS (
          SELECT sk, m,
            SQRT((sx2 - sx * sx / n) / (n - 1)) / (sx / n) AS cov
          FROM m)
        SELECT a.sk AS suppkey, a.m AS m1,
          ROUND(a.cov, 6) AS cov1, ROUND(b.cov, 6) AS cov2
        FROM c a JOIN c b
          ON a.sk = b.sk AND b.m = a.m + INTERVAL 1 MONTH
        WHERE a.cov > b.cov
        ORDER BY suppkey, m1""")),

    // q21 shape: per-supplier quantity split around a pivot date, kept
    // when the before/after ratio stays within [2/3, 3/2] — the
    // inventory before/after band.
    QueryDef(
      "tpcds_before_after",
      (s, dir) => {
        val pivot = lit("1998-06-01").cast("date")
        Tables(s, dir, "lineitem")
          .join(broadcast(Tables(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(
            dsum2(when(col("l_shipdate") < pivot, col("l_quantity"))
              .otherwise(lit(0))).as("before_qty"),
            dsum2(when(col("l_shipdate") >= pivot, col("l_quantity"))
              .otherwise(lit(0))).as("after_qty"))
          .filter(col("after_qty") > 0 &&
            col("before_qty") / col("after_qty") >= 2.0 / 3.0 &&
            col("before_qty") / col("after_qty") <= 3.0 / 2.0)
          .select(col("s_name"), round(col("before_qty"), 2).as("before_qty"),
            round(col("after_qty"), 2).as("after_qty"))
          .orderBy(col("s_name"))
      },
      Some("""
        WITH a AS (
          SELECT s_name,
            CAST(SUM(CAST(CASE WHEN l_shipdate < DATE '1998-06-01'
              THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS before_qty,
            CAST(SUM(CAST(CASE WHEN l_shipdate >= DATE '1998-06-01'
              THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS after_qty
          FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
          GROUP BY s_name)
        SELECT s_name, ROUND(before_qty, 2) AS before_qty,
          ROUND(after_qty, 2) AS after_qty
        FROM a
        WHERE after_qty > 0
          AND before_qty / after_qty >= 2.0/3.0
          AND before_qty / after_qty <= 3.0/2.0
        ORDER BY s_name""")),

    // q88 shape: eight disjoint time bands, each counting filtered
    // traffic — one scan, eight conditional counts, one output row.
    QueryDef.sql(
      "tpcds_timeband_counts",
      Seq("events"),
      """
        SELECT
          COUNT(CASE WHEN h >= 0  AND h < 3  THEN 1 END) AS band1,
          COUNT(CASE WHEN h >= 3  AND h < 6  THEN 1 END) AS band2,
          COUNT(CASE WHEN h >= 6  AND h < 9  THEN 1 END) AS band3,
          COUNT(CASE WHEN h >= 9  AND h < 12 THEN 1 END) AS band4,
          COUNT(CASE WHEN h >= 12 AND h < 15 THEN 1 END) AS band5,
          COUNT(CASE WHEN h >= 15 AND h < 18 THEN 1 END) AS band6,
          COUNT(CASE WHEN h >= 18 AND h < 21 THEN 1 END) AS band7,
          COUNT(CASE WHEN h >= 21           THEN 1 END) AS band8
        FROM (SELECT hour(ts) AS h FROM events
              WHERE event_type <> 'error' AND user_id % 4 <> 0) t""",
      Some("""
        SELECT
          CAST(COUNT(CASE WHEN h >= 0  AND h < 3  THEN 1 END) AS BIGINT) AS band1,
          CAST(COUNT(CASE WHEN h >= 3  AND h < 6  THEN 1 END) AS BIGINT) AS band2,
          CAST(COUNT(CASE WHEN h >= 6  AND h < 9  THEN 1 END) AS BIGINT) AS band3,
          CAST(COUNT(CASE WHEN h >= 9  AND h < 12 THEN 1 END) AS BIGINT) AS band4,
          CAST(COUNT(CASE WHEN h >= 12 AND h < 15 THEN 1 END) AS BIGINT) AS band5,
          CAST(COUNT(CASE WHEN h >= 15 AND h < 18 THEN 1 END) AS BIGINT) AS band6,
          CAST(COUNT(CASE WHEN h >= 18 AND h < 21 THEN 1 END) AS BIGINT) AS band7,
          CAST(COUNT(CASE WHEN h >= 21           THEN 1 END) AS BIGINT) AS band8
        FROM (SELECT EXTRACT(hour FROM ts) AS h FROM events
              WHERE event_type <> 'error' AND user_id % 4 <> 0) t""")),

    // q9 shape: five quantity buckets; each reports avg extended price
    // when the bucket is populous, avg discount otherwise — CASE over
    // aggregate results, all five buckets from one conditional-aggregate
    // pass. Averages as exact-decimal sum / count (the Num rule), so
    // both engines divide identical operands.
    QueryDef(
      "tpcds_case_buckets",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        // 15 conditional aggregates in ONE pass (no bucket join at all —
        // a 5-row cross join would plan as a nested-loop pair join); the
        // single output row is stacked to bucket rows by exploding an
        // array literal built from the aggregate results.
        def band(i: Int) =
          s"l_quantity >= ${1 + 10 * i} AND l_quantity < ${11 + 10 * i}"
        val aggs = (0 until 5).map(i => s"""
          COUNT(CASE WHEN ${band(i)} THEN 1 END) AS cnt$i,
          CAST(SUM(CASE WHEN ${band(i)}
            THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sp$i,
          CAST(SUM(CASE WHEN ${band(i)}
            THEN CAST(l_discount AS DECIMAL(18,6)) END) AS DOUBLE) AS sd$i""")
          .mkString(",")
        val structs = (0 until 5).map(i =>
          s"struct(CAST($i AS BIGINT) AS bucket, cnt$i AS cnt, sp$i AS sp, sd$i AS sd)")
          .mkString(", ")
        s.sql(s"""
          WITH a AS (SELECT $aggs FROM lineitem),
          e AS (SELECT explode(array($structs)) AS b FROM a)
          SELECT b.bucket AS bucket,
            CAST(b.cnt AS BIGINT) AS bucket_n,
            ROUND(CASE WHEN b.cnt > 500 THEN b.sp / b.cnt
                       ELSE b.sd / b.cnt END, 6) AS bucket_metric
          FROM e
          ORDER BY bucket""")
      },
      Some("""
        WITH b AS (SELECT UNNEST(generate_series(0, 4)) AS i),
        a AS (
          SELECT
            COUNT(CASE WHEN l_quantity >= 1 + 10 * b.i AND l_quantity < 11 + 10 * b.i
              THEN 1 END) AS cnt,
            CAST(SUM(CASE WHEN l_quantity >= 1 + 10 * b.i AND l_quantity < 11 + 10 * b.i
              THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price,
            CAST(SUM(CASE WHEN l_quantity >= 1 + 10 * b.i AND l_quantity < 11 + 10 * b.i
              THEN CAST(l_discount AS DECIMAL(18,6)) END) AS DOUBLE) AS sum_disc,
            b.i AS bucket
          FROM lineitem CROSS JOIN b
          GROUP BY b.i)
        SELECT CAST(bucket AS BIGINT) AS bucket,
          CAST(cnt AS BIGINT) AS bucket_n,
          ROUND(CASE WHEN cnt > 500 THEN sum_price / cnt
                     ELSE sum_disc / cnt END, 6) AS bucket_metric
        FROM a
        ORDER BY bucket""")),

    // q41 shape: DISTINCT dimension rows filtered by a correlated EXISTS
    // on the SAME dimension — the brand must also make a differently-
    // typed small part. Plans as a dimension⋈dimension LeftSemi
    // (broadcast, no fact table involved); the decorrelation itself is
    // the TPC-DS point.
    QueryDef.sql(
      "tpcds_dim_exists",
      Seq("part"),
      """
        SELECT DISTINCT p1.p_brand
        FROM part p1
        WHERE p1.p_size BETWEEN 10 AND 20
          AND EXISTS (
            SELECT 1 FROM part p2
            WHERE p2.p_brand = p1.p_brand
              AND p2.p_type <> p1.p_type
              AND p2.p_size < 5)
        ORDER BY p1.p_brand"""),

    // q66 shape: the wide monthly pivot — twelve per-month revenue
    // columns per group from ONE scan of the fact table (TPC-DS writes
    // it as a UNION of per-warehouse subqueries; the fused form is the
    // plan the optimizer should reach). Decimal sums keep the pivot
    // hash-exact.
    QueryDef(
      "tpcds_monthly_pivot",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        val months = (1 to 12).map(m =>
          s"""CAST(SUM(CASE WHEN month(l_shipdate) = $m
              THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS m$m""")
          .mkString(",\n")
        s.sql(s"""
          SELECT l_returnflag, l_linestatus, year(l_shipdate) AS yr,
                 $months,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM lineitem
          WHERE year(l_shipdate) BETWEEN 1994 AND 1996
          GROUP BY 1, 2, 3
          ORDER BY 1, 2, 3""")
      },
      Some {
        val months = (1 to 12).map(m =>
          s"""CAST(SUM(CASE WHEN EXTRACT(month FROM l_shipdate) = $m
              THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS m$m""")
          .mkString(",\n")
        s"""
        SELECT l_returnflag, l_linestatus,
               CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
               $months,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        WHERE EXTRACT(year FROM l_shipdate) BETWEEN 1994 AND 1996
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3"""
      }),

    // q14 shape: items sold through ALL THREE channels (two INTERSECTs of
    // per-channel brand sets) gate a per-channel aggregate that must also
    // beat the prior-years average (scalar subquery in HAVING).
    QueryDef.sql(
      "tpcds_q14_cross_channel_intersect",
      Seq("lineitem", "part"),
      """
        WITH li AS (
          SELECT CASE WHEN l_suppkey % 3 = 0 THEN 'air'
                      WHEN l_suppkey % 3 = 1 THEN 'sea'
                      ELSE 'land' END AS channel,
                 l_partkey, l_quantity, l_extendedprice,
                 YEAR(l_shipdate) AS yr
          FROM lineitem),
        cross_items AS (
          SELECT p_brand FROM li JOIN part ON l_partkey = p_partkey
          WHERE channel = 'air' AND yr BETWEEN 1995 AND 1997
          INTERSECT
          SELECT p_brand FROM li JOIN part ON l_partkey = p_partkey
          WHERE channel = 'sea' AND yr BETWEEN 1995 AND 1997
          INTERSECT
          SELECT p_brand FROM li JOIN part ON l_partkey = p_partkey
          WHERE channel = 'land' AND yr BETWEEN 1995 AND 1997),
        avg_sales AS (
          SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) AS average_sales
          FROM li WHERE yr BETWEEN 1995 AND 1996)
        SELECT channel, p_brand,
          CAST(COUNT(*) AS BIGINT) AS cnt,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
        FROM li JOIN part ON l_partkey = p_partkey
        WHERE yr = 1997 AND p_brand IN (SELECT p_brand FROM cross_items)
        GROUP BY channel, p_brand
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               > (SELECT average_sales FROM avg_sales)
        ORDER BY channel, p_brand"""),

    // q51 shape: per-channel cumulative daily sales frames, FULL OUTER
    // JOINed on (item, day), then running MAX windows over the coalesced
    // stream — rows where the web cumulative overtakes the store one.
    QueryDef.sql(
      "tpcds_q51_fullouter_cumwindow",
      Seq("events"),
      """
        WITH web AS (
          SELECT user_id % 100 AS item_sk, CAST(ts AS DATE) AS d,
                 SUM(CAST(value AS DECIMAL(18,6))) AS s
          FROM events WHERE event_type = 'click' GROUP BY user_id % 100, CAST(ts AS DATE)),
        web_v1 AS (
          SELECT item_sk, d,
            CAST(SUM(s) OVER (PARTITION BY item_sk ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cume_sales
          FROM web),
        store AS (
          SELECT user_id % 100 AS item_sk, CAST(ts AS DATE) AS d,
                 SUM(CAST(value AS DECIMAL(18,6))) AS s
          FROM events WHERE event_type = 'purchase' GROUP BY user_id % 100, CAST(ts AS DATE)),
        store_v1 AS (
          SELECT item_sk, d,
            CAST(SUM(s) OVER (PARTITION BY item_sk ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cume_sales
          FROM store),
        x AS (
          SELECT COALESCE(w.item_sk, st.item_sk) AS item_sk,
                 COALESCE(w.d, st.d) AS d,
                 w.cume_sales AS web_sales,
                 st.cume_sales AS store_sales
          FROM web_v1 w FULL OUTER JOIN store_v1 st
            ON w.item_sk = st.item_sk AND w.d = st.d),
        y AS (
          SELECT item_sk, d, web_sales, store_sales,
            MAX(web_sales) OVER (PARTITION BY item_sk ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
            MAX(store_sales) OVER (PARTITION BY item_sk ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
          FROM x)
        SELECT item_sk, d, web_sales, store_sales, web_cumulative, store_cumulative
        FROM y WHERE web_cumulative > store_cumulative
        ORDER BY item_sk, d LIMIT 100"""),

    // q64 shape: a HAVING-gated item set (sales must dwarf refunds) feeds
    // a per-(brand, year) rollup that is then self-joined year against
    // year+1 with a cross-year count condition — the multi-round chain.
    QueryDef.sql(
      "tpcds_q64_selfjoin_chain",
      Seq("lineitem", "part"),
      """
        WITH cs_ui AS (
          SELECT p_brand
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand
          HAVING SUM(CAST(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice
                               ELSE 0 END AS DECIMAL(18,2)))
               > 2 * SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice
                                   ELSE 0 END AS DECIMAL(18,2)))),
        cross_sales AS (
          SELECT p_brand AS brand, YEAR(l_shipdate) AS yr,
                 CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST('1.00' AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2))))
                   AS DOUBLE) AS rev
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand IN (SELECT p_brand FROM cs_ui)
          GROUP BY p_brand, YEAR(l_shipdate))
        SELECT cs1.brand AS brand,
               cs1.cnt AS cnt1, cs2.cnt AS cnt2,
               cs1.qty AS qty1, cs2.qty AS qty2,
               cs1.rev AS rev1, cs2.rev AS rev2
        FROM cross_sales cs1 JOIN cross_sales cs2
          ON cs1.brand = cs2.brand AND cs1.yr = 1996 AND cs2.yr = 1997
         AND cs2.cnt <= cs1.cnt
        ORDER BY brand"""),

    // q70 shape: revenue ROLLUP over (region, nation) restricted to the
    // top-3 nations per region (windowed-subquery gate), with
    // rank-within-parent partitioned by the GROUPING level.
    QueryDef.sql(
      "tpcds_q70_rollup_rank_parent",
      Seq("orders", "customer", "nation", "region"),
      """
        WITH rev AS (
          SELECT r_name, n_name,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rv
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name),
        gate AS (
          SELECT n_name FROM (
            SELECT n_name,
                   RANK() OVER (PARTITION BY r_name ORDER BY rv DESC, n_name) AS ranking
            FROM rev) t
          WHERE ranking <= 3),
        agg AS (
          SELECT r_name, n_name,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sum,
            CAST(GROUPING(r_name) + GROUPING(n_name) AS INT) AS lochierarchy,
            CAST(GROUPING(n_name) AS INT) AS gn
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE n_name IN (SELECT n_name FROM gate)
          GROUP BY ROLLUP(r_name, n_name))
        SELECT total_sum, r_name, n_name, lochierarchy,
          CAST(RANK() OVER (
            PARTITION BY lochierarchy, CASE WHEN gn = 0 THEN r_name END
            ORDER BY total_sum DESC, n_name ASC NULLS FIRST) AS INT) AS rank_within_parent
        FROM agg
        ORDER BY lochierarchy DESC, r_name ASC NULLS FIRST,
                 rank_within_parent, n_name ASC NULLS FIRST"""),

    // q95 shape: reachability gates — orders that shipped lines from at
    // least two suppliers (fact self-join CTE) AND had a returned line
    // from that same multi-supplier set, both as IN chains.
    QueryDef.sql(
      "tpcds_q95_exists_chain",
      Seq("orders", "customer", "lineitem"),
      """
        WITH ws_wh AS (
          SELECT DISTINCT l1.l_orderkey AS l_orderkey
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey)
        SELECT COUNT(DISTINCT o_orderkey) AS order_count,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_nationkey = 5
          AND YEAR(o_orderdate) = 1996 AND MONTH(o_orderdate) <= 2
          AND o_orderkey IN (SELECT l_orderkey FROM ws_wh)
          AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                             WHERE l_returnflag = 'R'
                               AND l_orderkey IN (SELECT l_orderkey FROM ws_wh))"""),

    // q97 shape: FULL OUTER JOIN of two channels' DISTINCT
    // (customer, item) sets → exclusive/both overlap counts in one row.
    QueryDef.sql(
      "tpcds_q97_fullouter_counts",
      Seq("events"),
      """
        WITH ssci AS (
          SELECT DISTINCT user_id AS customer_sk, event_id % 50 AS item_sk
          FROM events WHERE event_type = 'purchase'),
        csci AS (
          SELECT DISTINCT user_id AS customer_sk, event_id % 50 AS item_sk
          FROM events WHERE event_type = 'click')
        SELECT
          CAST(SUM(CASE WHEN s.customer_sk IS NOT NULL AND c.customer_sk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
          CAST(SUM(CASE WHEN s.customer_sk IS NULL AND c.customer_sk IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
          CAST(SUM(CASE WHEN s.customer_sk IS NOT NULL AND c.customer_sk IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
        FROM ssci s FULL OUTER JOIN csci c
          ON s.customer_sk = c.customer_sk AND s.item_sk = c.item_sk"""),

    // q87 shape: chained EXCEPT DISTINCT — customers in channel 1 but in
    // neither channel 2 nor channel 3.
    QueryDef.sql(
      "tpcds_q87_except_channels",
      Seq("orders"),
      """
        SELECT CAST(COUNT(*) AS BIGINT) AS num_customers FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority LIKE '1%'
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority LIKE '2%'
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority LIKE '3%') t"""),

    // q1/q30 shape: per-(customer, nation) return totals; keep customers
    // above 1.2× their nation's average. The correlated scalar subquery
    // must decorrelate into ONE re-aggregate of the CTE joined back on
    // nation — at 100 TB the CTE is customer-cardinality, tiny next to
    // the fact scan that builds it.
    QueryDef.sql(
      "tpcds_q1_corr_avg_gate",
      Seq("lineitem", "orders", "customer"),
      """
        WITH ctr AS (
          SELECT c_nationkey AS nat, o_custkey AS cust,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_return
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE l_returnflag = 'R'
          GROUP BY c_nationkey, o_custkey)
        SELECT cust, nat, total_return
        FROM ctr c1
        WHERE total_return > (SELECT AVG(total_return) * 1.2
                              FROM ctr c2 WHERE c2.nat = c1.nat)
        ORDER BY total_return DESC, cust LIMIT 100"""),

    // q4/q11/q74 shape: customer-year totals per channel, self-joined
    // four ways (two channels × two years); the web growth ratio must
    // beat the store growth ratio. Each arm is the SAME pre-aggregated
    // frame (customer cardinality), so the joins are cheap; only the
    // frame build scans the fact.
    QueryDef.sql(
      "tpcds_q4_year_ratio_channels",
      Seq("orders"),
      """
        WITH yearly AS (
          SELECT o_custkey AS cust, YEAR(o_orderdate) AS yr,
                 CASE WHEN o_orderpriority < '3' THEN 'store' ELSE 'web' END AS chan,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
          FROM orders
          WHERE YEAR(o_orderdate) IN (1996, 1997)
          GROUP BY o_custkey, YEAR(o_orderdate),
                   CASE WHEN o_orderpriority < '3' THEN 'store' ELSE 'web' END)
        SELECT s1.cust AS cust,
               CAST(CAST(ROUND(w2.tot / w1.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS web_ratio,
               CAST(CAST(ROUND(s2.tot / s1.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS store_ratio
        FROM yearly s1 JOIN yearly s2 ON s1.cust = s2.cust
        JOIN yearly w1 ON s1.cust = w1.cust
        JOIN yearly w2 ON s1.cust = w2.cust
        WHERE s1.chan = 'store' AND s1.yr = 1996
          AND s2.chan = 'store' AND s2.yr = 1997
          AND w1.chan = 'web'   AND w1.yr = 1996
          AND w2.chan = 'web'   AND w2.yr = 1997
          AND s1.tot > 0 AND w1.tot > 0
          AND w2.tot / w1.tot > s2.tot / s1.tot
        ORDER BY cust"""),

    // q5/q77/q80 shape: per-channel sales+returns normalized to one
    // schema through UNION ALL, then ROLLUP(channel, group). The union
    // arms are each one conditional-agg pass; the rollup runs over
    // channel×group cardinality, not events.
    QueryDef.sql(
      "tpcds_q5_union_rollup",
      Seq("events"),
      """
        WITH per_chan AS (
          SELECT 'web' AS channel, user_id % 10 AS grp,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sales,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events WHERE event_type = 'click' GROUP BY user_id % 10
          UNION ALL
          SELECT 'store' AS channel, user_id % 10 AS grp,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sales,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events WHERE event_type = 'purchase' GROUP BY user_id % 10)
        SELECT channel, grp,
               CAST(CAST(ROUND(SUM(sales), 4) AS DECIMAL(18,4)) AS DOUBLE) AS total_sales,
               CAST(SUM(cnt) AS BIGINT) AS total_cnt
        FROM per_chan
        GROUP BY ROLLUP(channel, grp)
        ORDER BY channel ASC NULLS FIRST, grp ASC NULLS FIRST"""),

    // q10/q35/q69 shape: customers gated by EXISTS in one channel AND
    // NOT EXISTS in another — one semi-join + one anti-join against
    // key-only subqueries, then a tiny per-nation count.
    QueryDef.sql(
      "tpcds_q10_exists_notexists",
      Seq("customer", "orders", "lineitem"),
      """
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND YEAR(o_orderdate) = 1996)
          AND NOT EXISTS (SELECT 1 FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                          WHERE o_custkey = c_custkey AND l_returnflag = 'R'
                            AND YEAR(o_orderdate) = 1996)
        GROUP BY c_nationkey
        ORDER BY c_nationkey"""),

    // q16/q94 shape: orders shipped by ≥2 suppliers (EXISTS over a fact
    // self-reference) with zero returned lines (NOT EXISTS) — distinct
    // order count + total. Both gates are orderkey-equi semi/anti joins,
    // so the fact shuffles once on its own key.
    QueryDef.sql(
      "tpcds_q16_multisupp_noreturn",
      Seq("orders", "lineitem"),
      """
        SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS order_count,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_ship
        FROM orders JOIN lineitem l1 ON o_orderkey = l1.l_orderkey
        WHERE YEAR(o_orderdate) = 1996
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = o_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = o_orderkey
                            AND l3.l_returnflag = 'R')"""),

    // q17/q25/q29 shape: buy → return → buy again, three instances of
    // the fact chained on (customer, part). Each arm is pre-filtered
    // before the join; join keys are selective (cust, part) pairs, so
    // fan-out stays bounded by per-customer-part line counts.
    QueryDef.sql(
      "tpcds_q17_buy_return_rebuy",
      Seq("lineitem", "orders", "part"),
      """
        WITH sales AS (
          SELECT o_custkey AS cust, l_partkey AS part, o_orderkey AS ord,
                 l_quantity AS qty, o_orderdate AS d
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'N'),
        rets AS (
          SELECT o_custkey AS cust, l_partkey AS part, l_quantity AS qty,
                 o_orderdate AS d
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R')
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS chains,
               CAST(CAST(ROUND(AVG(s1.qty), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_first_qty,
               CAST(CAST(ROUND(AVG(s2.qty), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_rebuy_qty
        FROM sales s1
        JOIN rets r  ON s1.cust = r.cust  AND s1.part = r.part  AND r.d >= s1.d
        JOIN sales s2 ON s1.cust = s2.cust AND s1.part = s2.part AND s2.d > r.d
        JOIN part ON s1.part = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand"""),

    // q38 shape: customers active in all three priority channels —
    // INTERSECT cardinality, key-only set ops end to end.
    QueryDef.sql(
      "tpcds_q38_intersect_count",
      Seq("orders"),
      """
        SELECT CAST(COUNT(*) AS BIGINT) AS num_customers FROM (
          SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%'
          INTERSECT
          SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '2%'
          INTERSECT
          SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '3%') t"""),

    // q54 shape: customers banded by lifetime revenue into fixed-width
    // segments, segment histogram. The banding floor runs on an exact
    // decimal total cast to double, so both engines bucket identically.
    QueryDef.sql(
      "tpcds_q54_revenue_bands",
      Seq("orders"),
      """
        WITH spend AS (
          SELECT o_custkey AS cust,
                 CAST(FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                            / 50000) AS INT) AS segment
          FROM orders GROUP BY o_custkey)
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS num_customers
        FROM spend
        GROUP BY segment
        HAVING COUNT(*) >= 3
        ORDER BY segment LIMIT 100"""),

    // q59 shape: weekly sales pivoted by day-of-week, week self-joined
    // against the same week next year, per-day ratios. Oracle text
    // differs ONLY in the dow index: DuckDB dayofweek is Sunday=0,
    // Spark is Sunday=1.
    {
      def q59(dow: String) = s"""
        WITH wss AS (
          SELECT YEAR(o_orderdate) AS yr, WEEKOFYEAR(o_orderdate) AS wk,
                 CAST(SUM(CASE WHEN $dow = 1 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sun_sales,
                 CAST(SUM(CASE WHEN $dow = 2 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS mon_sales,
                 CAST(SUM(CASE WHEN $dow = 6 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS fri_sales
          FROM orders
          GROUP BY YEAR(o_orderdate), WEEKOFYEAR(o_orderdate))
        SELECT s1.wk AS wk,
               CAST(CAST(ROUND(s2.sun_sales / s1.sun_sales, 6) AS DECIMAL(18,6)) AS DOUBLE) AS sun_ratio,
               CAST(CAST(ROUND(s2.mon_sales / s1.mon_sales, 6) AS DECIMAL(18,6)) AS DOUBLE) AS mon_ratio,
               CAST(CAST(ROUND(s2.fri_sales / s1.fri_sales, 6) AS DECIMAL(18,6)) AS DOUBLE) AS fri_ratio
        FROM wss s1 JOIN wss s2 ON s1.wk = s2.wk AND s2.yr = s1.yr + 1
        WHERE s1.yr = 1996
        ORDER BY wk"""
      QueryDef.sql(
        "tpcds_q59_dow_week_ratio",
        Seq("orders"),
        q59("DAYOFWEEK(o_orderdate)"),
        Some(q59("(DAYOFWEEK(o_orderdate) + 1)")))
    },

    // q78 shape: per-(year, customer) channel totals with returned
    // lines ANTI-JOINED away (NOT EXISTS on order+part in the returns
    // subset), cross-channel ratio on the join of the two frames.
    QueryDef.sql(
      "tpcds_q78_ratio_noreturns",
      Seq("orders", "lineitem"),
      """
        WITH clean AS (
          SELECT o_custkey AS cust, YEAR(o_orderdate) AS yr,
                 o_orderpriority AS pri, l_extendedprice AS price
          FROM lineitem s JOIN orders ON s.l_orderkey = o_orderkey
          WHERE s.l_returnflag = 'N'
            AND NOT EXISTS (SELECT 1 FROM lineitem r
                            WHERE r.l_orderkey = s.l_orderkey
                              AND r.l_partkey = s.l_partkey
                              AND r.l_returnflag = 'R')),
        web AS (
          SELECT cust, yr, CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS tot
          FROM clean WHERE pri >= '3' GROUP BY cust, yr),
        store AS (
          SELECT cust, yr, CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS tot
          FROM clean WHERE pri < '3' GROUP BY cust, yr)
        SELECT w.cust AS cust, w.yr AS yr,
               CAST(CAST(ROUND(w.tot / s.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS web_store_ratio
        FROM web w JOIN store s ON w.cust = s.cust AND w.yr = s.yr
        ORDER BY web_store_ratio DESC, cust, yr LIMIT 100"""),

    // q93 shape: returns substituted into the sales recompute — sales
    // LEFT JOIN returns on (order, part), quantity netted when matched.
    // Fact joins a small fact subset on the fact's own key.
    QueryDef.sql(
      "tpcds_q93_returns_substitution",
      Seq("orders", "lineitem"),
      """
        WITH rets AS (
          SELECT l_orderkey AS ord, l_partkey AS part, l_quantity AS rqty
          FROM lineitem WHERE l_returnflag = 'R')
        SELECT o_custkey AS cust,
               CAST(SUM(CAST((s.l_quantity - COALESCE(r.rqty, 0)) * s.l_extendedprice
                        AS DECIMAL(18,2))) AS DOUBLE) AS sumsales
        FROM lineitem s
        JOIN orders ON s.l_orderkey = o_orderkey
        LEFT JOIN rets r ON s.l_orderkey = r.ord AND s.l_partkey = r.part
        WHERE s.l_returnflag = 'N'
        GROUP BY o_custkey
        ORDER BY sumsales DESC, cust LIMIT 100"""),

    // q12/q20/q98 shape: revenue share of each brand within its class
    // via a window partition sum. The share divides two EXACT decimal
    // sums (window SUM over DECIMAL, never double) cast to double, so
    // partition order cannot perturb the ratio on either engine.
    QueryDef.sql(
      "tpcds_q98_class_share_window",
      Seq("lineitem", "part"),
      """
        WITH rev AS (
          SELECT p_type AS class, p_brand AS brand,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE YEAR(l_shipdate) = 1996
          GROUP BY p_type, p_brand)
        SELECT class, brand,
               CAST(r AS DOUBLE) AS itemrevenue,
               CAST(CAST(ROUND(CAST(r AS DOUBLE) * 100 /
                    CAST(SUM(r) OVER (PARTITION BY class) AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS DOUBLE) AS revenueratio
        FROM rev
        ORDER BY class, revenueratio, brand"""),

    // q8/q15/q45 shape: customers kept by phone-prefix IN-list OR an
    // EXISTS over their orders. The OR forces an ExistenceJoin (boolean
    // column, not a filter-only semi-join) — at 100 TB this is one
    // customer-key shuffle against the pre-filtered orders subset,
    // never a per-row subquery.
    QueryDef.sql(
      "tpcds_q8_exists_or_predicate",
      Seq("customer", "orders"),
      """
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
           OR EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        GROUP BY c_nationkey
        ORDER BY c_nationkey"""),

    // q13/q48 shape: disjunction of conjunctive (priority × price-band)
    // arms — one scan, the whole OR pushed to the parquet reader, then
    // plain aggregates per order status.
    QueryDef.sql(
      "tpcds_q13_disjunct_bands",
      Seq("orders"),
      """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*), 6) AS DECIMAL(18,6)) AS DOUBLE) AS avg_price
        FROM orders
        WHERE (o_orderpriority = '1-URGENT'   AND o_totalprice BETWEEN 1000  AND 80000)
           OR (o_orderpriority = '2-HIGH'     AND o_totalprice BETWEEN 50000 AND 160000)
           OR (o_orderpriority = '3-MEDIUM'   AND o_totalprice BETWEEN 100000 AND 250000)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus"""),

    // q18/q22 shape: AVG over a three-level rollup hierarchy
    // (brand → type → size). The rollup runs over the joined
    // lineitem×part rows but its output is hierarchy-cardinality;
    // the part dim broadcasts.
    QueryDef.sql(
      "tpcds_q22_rollup_avg_hierarchy",
      Seq("lineitem", "part"),
      """
        SELECT p_brand, p_type, p_size,
               CAST(CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*), 6) AS DECIMAL(18,6)) AS DOUBLE) AS avg_qty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY ROLLUP(p_brand, p_type, p_size)
        ORDER BY p_brand ASC NULLS FIRST, p_type ASC NULLS FIRST,
                 p_size ASC NULLS FIRST"""),

    // q31 shape: one fact pass builds per-(nation, quarter, channel)
    // totals; six frames of it join on nation; nations qualify when the
    // web growth ratio beats the store ratio in BOTH consecutive
    // quarter steps. The chain joins are nation-cardinality — trivial
    // next to the single fact scan that feeds them.
    QueryDef.sql(
      "tpcds_q31_growth_ratio_chain",
      Seq("orders", "customer"),
      """
        WITH qtr AS (
          SELECT c_nationkey AS nat, QUARTER(o_orderdate) AS q,
                 CASE WHEN o_orderpriority < '3' THEN 'store' ELSE 'web' END AS chan,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE YEAR(o_orderdate) = 1996 AND QUARTER(o_orderdate) <= 3
          GROUP BY c_nationkey, QUARTER(o_orderdate),
                   CASE WHEN o_orderpriority < '3' THEN 'store' ELSE 'web' END)
        SELECT w1.nat AS nat,
               CAST(CAST(ROUND(w2.tot / w1.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS web_g1,
               CAST(CAST(ROUND(w3.tot / w2.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS web_g2,
               CAST(CAST(ROUND(s2.tot / s1.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS store_g1,
               CAST(CAST(ROUND(s3.tot / s2.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS store_g2
        FROM qtr w1 JOIN qtr w2 ON w1.nat = w2.nat
        JOIN qtr w3 ON w1.nat = w3.nat
        JOIN qtr s1 ON w1.nat = s1.nat
        JOIN qtr s2 ON w1.nat = s2.nat
        JOIN qtr s3 ON w1.nat = s3.nat
        WHERE w1.chan = 'web'   AND w1.q = 1
          AND w2.chan = 'web'   AND w2.q = 2
          AND w3.chan = 'web'   AND w3.q = 3
          AND s1.chan = 'store' AND s1.q = 1
          AND s2.chan = 'store' AND s2.q = 2
          AND s3.chan = 'store' AND s3.q = 3
          AND w2.tot / w1.tot > s2.tot / s1.tot
          AND w3.tot / w2.tot > s3.tot / s2.tot
        ORDER BY nat"""),

    // q33/q56/q60 shape: three UNION ALL arms over disjoint date
    // windows, each semi-gated by the SAME part-type IN-subquery, then
    // re-aggregated per brand. The dim subquery is evaluated once and
    // broadcast into each arm's semi-join.
    QueryDef.sql(
      "tpcds_q33_inlist_union_brands",
      Seq("lineitem", "part"),
      """
        WITH reds AS (SELECT p_type FROM part WHERE p_name LIKE '%red%'),
        arms AS (
          SELECT p_brand AS brand, CAST(l_extendedprice AS DECIMAL(18,2)) AS p
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-04-30'
            AND p_type IN (SELECT p_type FROM reds)
          UNION ALL
          SELECT p_brand, CAST(l_extendedprice AS DECIMAL(18,2))
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate BETWEEN DATE '1996-05-01' AND DATE '1996-08-31'
            AND p_type IN (SELECT p_type FROM reds)
          UNION ALL
          SELECT p_brand, CAST(l_extendedprice AS DECIMAL(18,2))
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate BETWEEN DATE '1996-09-01' AND DATE '1996-12-31'
            AND p_type IN (SELECT p_type FROM reds))
        SELECT brand, CAST(SUM(p) AS DOUBLE) AS total_sales
        FROM arms
        GROUP BY brand
        ORDER BY total_sales DESC, brand LIMIT 100"""),

    // q34/q73 shape: orders whose line count falls in a band (HAVING
    // BETWEEN on the per-order aggregate), joined back to the customer
    // dim for a per-customer frequency. The band filter runs on the
    // orderkey-grouped aggregate — fact-cardinality in, order-
    // cardinality out — before any dim join.
    QueryDef.sql(
      "tpcds_q34_lines_band_customers",
      Seq("lineitem", "orders", "customer"),
      """
        WITH banded AS (
          SELECT l_orderkey AS ok, CAST(COUNT(*) AS BIGINT) AS n_lines
          FROM lineitem
          GROUP BY l_orderkey
          HAVING COUNT(*) BETWEEN 5 AND 7)
        SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS band_orders,
               CAST(SUM(n_lines) AS BIGINT) AS band_lines
        FROM banded
        JOIN orders ON ok = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        HAVING COUNT(*) >= 2
        ORDER BY band_orders DESC, c_custkey LIMIT 100"""),

    // q36/q86 shape: margin rollup with RANK() inside each grouping
    // LEVEL — partition by the grouping flags plus the parent key, so
    // leaf rows rank among siblings and subtotal rows rank among
    // subtotals. grouping() flags must be computed in the aggregate
    // subquery (they are aggregate-context-only) and partition the
    // outer window.
    QueryDef.sql(
      "tpcds_q36_rank_within_rollup",
      Seq("lineitem", "orders", "customer", "nation"),
      """
        WITH roll AS (
          SELECT n_name AS nation, o_orderpriority AS pri,
                 GROUPING(n_name) AS g_nat, GROUPING(o_orderpriority) AS g_pri,
                 CAST(CAST(ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,4))) AS DOUBLE)
                      / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 6)
                    AS DECIMAL(18,6)) AS DOUBLE) AS margin
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY ROLLUP(n_name, o_orderpriority))
        SELECT nation, pri, margin,
               CAST(RANK() OVER (
                 PARTITION BY g_nat, g_pri, CASE WHEN g_pri = 1 THEN NULL ELSE nation END
                 ORDER BY margin, pri) AS INT) AS rank_in_level
        FROM roll
        ORDER BY g_nat DESC, g_pri DESC, nation ASC NULLS FIRST,
                 rank_in_level, pri ASC NULLS FIRST"""),

    // q58/q83 shape: the same item aggregated independently in three
    // channels, joined, kept only when every channel sits within ±50%
    // of the three-channel average — mutual band predicates over three
    // customer-cardinality frames built from one fact pass each.
    QueryDef.sql(
      "tpcds_q58_channel_parity",
      Seq("orders"),
      """
        WITH c1 AS (
          SELECT o_custkey AS cust, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
          FROM orders WHERE o_orderpriority LIKE '1%' GROUP BY o_custkey),
        c2 AS (
          SELECT o_custkey AS cust, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
          FROM orders WHERE o_orderpriority LIKE '2%' GROUP BY o_custkey),
        c3 AS (
          SELECT o_custkey AS cust, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
          FROM orders WHERE o_orderpriority LIKE '3%' GROUP BY o_custkey)
        SELECT c1.cust AS cust,
               CAST(CAST(ROUND(c1.s, 2) AS DECIMAL(18,2)) AS DOUBLE) AS s1,
               CAST(CAST(ROUND(c2.s, 2) AS DECIMAL(18,2)) AS DOUBLE) AS s2,
               CAST(CAST(ROUND(c3.s, 2) AS DECIMAL(18,2)) AS DOUBLE) AS s3
        FROM c1 JOIN c2 ON c1.cust = c2.cust JOIN c3 ON c1.cust = c3.cust
        WHERE c1.s BETWEEN 0.5 * (c1.s + c2.s + c3.s) / 3 AND 1.5 * (c1.s + c2.s + c3.s) / 3
          AND c2.s BETWEEN 0.5 * (c1.s + c2.s + c3.s) / 3 AND 1.5 * (c1.s + c2.s + c3.s) / 3
          AND c3.s BETWEEN 0.5 * (c1.s + c2.s + c3.s) / 3 AND 1.5 * (c1.s + c2.s + c3.s) / 3
        ORDER BY cust"""),

    // q50/q62/q99 shape: order→ship lag bucketed 30/60/90/120/120+ as
    // a conditional-agg pivot per line status — one join, one scan,
    // five counters; no per-bucket re-scan. DATEDIFF argument order
    // differs between engines, hence the split oracle.
    {
      def q62(dd: String) = s"""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN $dd <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
               CAST(SUM(CASE WHEN $dd > 30  AND $dd <= 60  THEN 1 ELSE 0 END) AS BIGINT) AS d60,
               CAST(SUM(CASE WHEN $dd > 60  AND $dd <= 90  THEN 1 ELSE 0 END) AS BIGINT) AS d90,
               CAST(SUM(CASE WHEN $dd > 90  AND $dd <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
               CAST(SUM(CASE WHEN $dd > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_linestatus
        ORDER BY l_linestatus"""
      QueryDef.sql(
        "tpcds_q62_ship_lag_buckets",
        Seq("lineitem", "orders"),
        q62("DATEDIFF(l_shipdate, o_orderdate)"),
        Some(q62("DATEDIFF('day', o_orderdate, l_shipdate)")))
    },

    // q67 shape: top-k per part type over the ROLLUP output — the
    // window ranks subtotal rows (brand NULL) and the grand-total row
    // (type NULL partitions alone) exactly like leaf rows. Rollup
    // output is hierarchy-cardinality, so the window is tiny.
    QueryDef.sql(
      "tpcds_q67_topk_over_rollup",
      Seq("lineitem", "part"),
      """
        WITH roll AS (
          SELECT p_type, p_brand,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY ROLLUP(p_type, p_brand))
        SELECT p_type, p_brand, sales, rk
        FROM (SELECT p_type, p_brand, sales,
                     CAST(RANK() OVER (PARTITION BY p_type
                       ORDER BY sales DESC, p_brand ASC NULLS FIRST) AS INT) AS rk
              FROM roll) t
        WHERE rk <= 3
        ORDER BY p_type ASC NULLS FIRST, rk, p_brand ASC NULLS FIRST"""),

    // q71 shape: three time-of-day windows unioned then regrouped by
    // (event type, hour). Each arm is the same scan with a different
    // pushed hour-range filter; the union re-aggregates at
    // type×hour cardinality.
    QueryDef.sql(
      "tpcds_q71_hour_breakdown_union",
      Seq("events"),
      """
        WITH arms AS (
          SELECT event_type, HOUR(ts) AS hr, CAST(value AS DECIMAL(18,6)) AS v
          FROM events WHERE HOUR(ts) BETWEEN 7 AND 11
          UNION ALL
          SELECT event_type, HOUR(ts), CAST(value AS DECIMAL(18,6))
          FROM events WHERE HOUR(ts) BETWEEN 17 AND 21
          UNION ALL
          SELECT event_type, HOUR(ts), CAST(value AS DECIMAL(18,6))
          FROM events WHERE HOUR(ts) <= 4)
        SELECT event_type, hr,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(CAST(ROUND(CAST(SUM(v) AS DOUBLE), 4) AS DECIMAL(18,4)) AS DOUBLE) AS total_value
        FROM arms
        GROUP BY event_type, hr
        ORDER BY event_type, hr"""),

    // q75 shape: per-(year, brand) sales with returned quantities
    // netted out via LEFT JOIN on (order, part), self-joined YoY,
    // keeping brands that declined below 0.9× — netting, union-free
    // decimal recompute, and a brand-cardinality YoY join.
    QueryDef.sql(
      "tpcds_q75_yoy_net_decline",
      Seq("lineitem", "part"),
      """
        WITH rets AS (
          SELECT l_orderkey AS ord, l_partkey AS part, l_quantity AS rqty
          FROM lineitem WHERE l_returnflag = 'R'),
        net AS (
          SELECT YEAR(s.l_shipdate) AS yr, p_brand AS brand,
                 CAST(SUM(CAST((s.l_quantity - COALESCE(r.rqty, 0)) *
                          s.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
          FROM lineitem s
          JOIN part ON s.l_partkey = p_partkey
          LEFT JOIN rets r ON s.l_orderkey = r.ord AND s.l_partkey = r.part
          WHERE s.l_returnflag = 'N'
          GROUP BY YEAR(s.l_shipdate), p_brand)
        SELECT c.brand AS brand, c.yr AS yr,
               CAST(CAST(ROUND(p.sales, 2) AS DECIMAL(18,2)) AS DOUBLE) AS prev_sales,
               CAST(CAST(ROUND(c.sales, 2) AS DECIMAL(18,2)) AS DOUBLE) AS curr_sales,
               CAST(CAST(ROUND(c.sales - p.sales, 2) AS DECIMAL(18,2)) AS DOUBLE) AS diff
        FROM net c JOIN net p ON c.brand = p.brand AND c.yr = p.yr + 1
        WHERE c.sales < 0.9 * p.sales
        ORDER BY diff, brand, yr LIMIT 100"""),

    // q6 shape: parts priced above 1.03× their type's average (correlated
    // scalar on the dim), then the fact joined to count per supplier
    // nation. The correlation decorrelates into one per-type aggregate
    // over the part dim — dim-cardinality work — and the fact joins an
    // already-reduced part set.
    QueryDef.sql(
      "tpcds_q6_dim_corr_avg",
      Seq("lineitem", "part", "supplier", "nation"),
      """
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_retailprice > 1.03 * (
          SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*)
          FROM part p2 WHERE p2.p_type = part.p_type)
        GROUP BY n_name
        ORDER BY n_name"""),

    // q24 shape: (customer, part) totals kept above 3× the average of
    // ALL such totals — the scalar subquery re-aggregates the gated
    // CTE's own output. Both the scalar and the kept rows reuse one
    // customer×part-cardinality aggregate; the threshold is an exact
    // decimal mean so the > can never flip on summation order.
    QueryDef.sql(
      "tpcds_q24_scalar_agg_gate",
      Seq("lineitem", "orders"),
      """
        WITH pc AS (
          SELECT o_custkey AS cust, l_partkey AS part,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_custkey, l_partkey)
        SELECT cust, part,
               CAST(CAST(ROUND(tot, 2) AS DECIMAL(18,2)) AS DOUBLE) AS tot
        FROM pc
        WHERE tot > 3 * (
          SELECT CAST(SUM(CAST(tot AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM pc)
        ORDER BY tot DESC, cust, part LIMIT 100"""),

    // q37/q82 shape: item availability — parts in a price band and a
    // size IN-list, semi-joined against high-quantity lines. Output is
    // dim-cardinality; the EXISTS is one orderless semi-join on
    // partkey, never a fact-side distinct.
    QueryDef.sql(
      "tpcds_q82_band_semi_parts",
      Seq("part", "lineitem"),
      """
        SELECT p_partkey, p_name,
               CAST(CAST(ROUND(p_retailprice, 2) AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM part
        WHERE p_retailprice BETWEEN 950 AND 980
          AND p_size IN (5, 10, 15, 20, 25)
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity > 45)
        ORDER BY p_partkey LIMIT 100"""),

    // q13/q85 residual shape: disjunction arms mixing customer
    // (segment, balance) with lineitem (quantity) columns — the OR
    // cannot push below the join on either side, so it must run as ONE
    // residual filter over the joined rows; a plan that re-joins per
    // arm and unions would scan the fact three times.
    QueryDef.sql(
      "tpcds_q85_multitable_disjunct",
      Seq("lineitem", "orders", "customer"),
      """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE (c_mktsegment = 'BUILDING'
                 AND l_quantity BETWEEN 1 AND 15
                 AND c_acctbal BETWEEN 0 AND 3000)
           OR (c_mktsegment = 'MACHINERY'
                 AND l_quantity BETWEEN 16 AND 35
                 AND c_acctbal BETWEEN 2000 AND 7000)
           OR (c_mktsegment = 'AUTOMOBILE'
                 AND l_quantity BETWEEN 36 AND 50
                 AND c_acctbal BETWEEN 5000 AND 10000)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""),

    // q2 shape: two priority channels unioned, per-(year, week) totals,
    // week frame joined against itself one year forward. Arms are
    // pushed-filter scans; the YoY join input is week-cardinality.
    QueryDef.sql(
      "tpcds_q2_union_week_shift",
      Seq("orders"),
      """
        WITH u AS (
          SELECT YEAR(o_orderdate) AS yr, WEEKOFYEAR(o_orderdate) AS wk,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS p
          FROM orders WHERE o_orderpriority LIKE '1%'
          UNION ALL
          SELECT YEAR(o_orderdate), WEEKOFYEAR(o_orderdate),
                 CAST(o_totalprice AS DECIMAL(18,2))
          FROM orders WHERE o_orderpriority LIKE '5%'),
        wkt AS (
          SELECT yr, wk, CAST(SUM(p) AS DOUBLE) AS tot
          FROM u GROUP BY yr, wk)
        SELECT a.wk AS wk,
               CAST(CAST(ROUND(a.tot, 2) AS DECIMAL(18,2)) AS DOUBLE) AS tot_this,
               CAST(CAST(ROUND(b.tot, 2) AS DECIMAL(18,2)) AS DOUBLE) AS tot_next,
               CAST(CAST(ROUND(b.tot / a.tot, 6) AS DECIMAL(18,6)) AS DOUBLE) AS yoy
        FROM wkt a JOIN wkt b ON a.wk = b.wk AND b.yr = a.yr + 1
        WHERE a.yr = 1996
        ORDER BY wk"""),

    // q72 shape: date-offset interval join — purchases to the same
    // user's clicks in the next three days. Shuffle key is the user;
    // the time window is a join residual, so the pair count per user
    // is bounded by activity inside the window.
    QueryDef.sql(
      "tpcds_q72_date_offset_join",
      Seq("events"),
      """
        SELECT p.user_id AS user_id, CAST(COUNT(*) AS BIGINT) AS pairs
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts > p.ts AND c.ts <= p.ts + INTERVAL 3 DAY
        GROUP BY p.user_id
        ORDER BY user_id"""),

    // q84 shape: dim-chain display id — customer joined through nation
    // to region, concatenated; both dims broadcast, zero fact-side
    // shuffles.
    QueryDef.sql(
      "tpcds_q84_dim_chain_concat",
      Seq("customer", "nation", "region"),
      """
        SELECT c_custkey,
               c_name || ', ' || n_name || ', ' || r_name AS customer_id
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_acctbal BETWEEN 9000 AND 9500
        ORDER BY c_custkey LIMIT 100"""),

    // q7 shape: star join with an OR predicate on the promo-like dim
    // (orders), four per-brand averages. Dims broadcast; the OR is a
    // residual on the already-shuffled fact — one pass.
    QueryDef.sql(
      "tpcds_q7_dim_or_item_avgs",
      Seq("lineitem", "part", "orders"),
      s"""
        SELECT p_brand,
               ${avg6("l_quantity")} AS agg1,
               ${avg6("l_extendedprice")} AS agg2,
               ${avg6("l_discount")} AS agg3,
               ${avg6("l_tax")} AS agg4
        FROM lineitem
        JOIN part   ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
          AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
          AND YEAR(o_orderdate) = 1996
        GROUP BY p_brand
        ORDER BY p_brand LIMIT 100"""),

    // q26 shape: q7's template on the other channel — here the other
    // fact slice (open orders), grouped by type instead of brand.
    QueryDef.sql(
      "tpcds_q26_alt_channel_avgs",
      Seq("lineitem", "part", "orders"),
      s"""
        SELECT p_type,
               ${avg6("l_quantity")} AS agg1,
               ${avg6("l_extendedprice")} AS agg2,
               ${avg6("l_discount")} AS agg3,
               ${avg6("l_tax")} AS agg4
        FROM lineitem
        JOIN part   ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'O'
          AND (o_orderpriority LIKE '3%' OR o_orderpriority LIKE '4%')
          AND YEAR(o_orderdate) = 1997
        GROUP BY p_type
        ORDER BY p_type LIMIT 100"""),

    // q19 shape: brand revenue where the line's supplier sits in a
    // nation whose name prefix differs from the order customer's —
    // the cross-dim inequality is a join residual, never a join key,
    // so both dim chains still broadcast.
    QueryDef.sql(
      "tpcds_q19_brand_prefix_mismatch",
      Seq("lineitem", "part", "supplier", "orders", "customer", "nation"),
      """
        SELECT p_brand,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext_price
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE SUBSTR(sn.n_name, 8, 3) <> SUBSTR(cn.n_name, 8, 3)
          AND YEAR(o_orderdate) = 1996
          AND p_size BETWEEN 10 AND 40
        GROUP BY p_brand
        ORDER BY ext_price DESC, p_brand LIMIT 100"""),

    // q27 shape: ROLLUP over (brand, supplier nation) with the
    // GROUPING() flag surfaced, nation IN-list filter; partial
    // aggregation happens before the rollup expansion.
    QueryDef.sql(
      "tpcds_q27_rollup_grouping_state",
      Seq("lineitem", "part", "supplier", "nation"),
      s"""
        SELECT p_brand, n_name, GROUPING(n_name) AS g_state,
               ${avg6("l_quantity")} AS agg1,
               ${avg6("l_extendedprice")} AS agg2
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        GROUP BY ROLLUP (p_brand, n_name)
        ORDER BY p_brand NULLS FIRST, n_name NULLS FIRST LIMIT 100"""),

    // q28 shape: six quantity bands × (avg, count, count distinct) of
    // list price under per-band OR disjunctions. The literal TPC-DS
    // text cross-joins six scalar subqueries — six scans; here it is
    // ONE conditional-aggregate scan (CASE feeds every aggregate), the
    // plan that survives 100 TB. Catalyst's Expand covers the six
    // distinct aggregates in the same pass.
    QueryDef.sql(
      "tpcds_q28_band_distinct_buckets",
      Seq("lineitem"),
      (1 to 6).map { b =>
        val lo = (b - 1) * 8; val hi = lo + 7
        val band =
          s"""(l_quantity BETWEEN $lo AND $hi AND
              (l_extendedprice BETWEEN ${b * 900} AND ${b * 900 + 10000}
               OR l_discount BETWEEN 0.0${b} AND 0.0${b + 2}
               OR l_tax BETWEEN 0.0${math.max(b - 1, 0)} AND 0.0${b + 1}))"""
        s"""CAST(CAST(ROUND(CAST(SUM(CASE WHEN $band THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
               / NULLIF(COUNT(CASE WHEN $band THEN l_extendedprice END), 0), 4) AS DECIMAL(18,4)) AS DOUBLE) AS b${b}_lp,
           CAST(COUNT(CASE WHEN $band THEN l_extendedprice END) AS BIGINT) AS b${b}_cnt,
           CAST(COUNT(DISTINCT CASE WHEN $band THEN l_extendedprice END) AS BIGINT) AS b${b}_cntd"""
      }.mkString("SELECT ", ", ", " FROM lineitem")),

    // q40 shape: sales LEFT JOIN the returned subset on the full line
    // key, netted amount split before/after a pivot date, grouped by
    // the supplier's nation (the warehouse-state analogue).
    QueryDef.sql(
      "tpcds_q40_returns_before_after",
      Seq("lineitem", "supplier", "nation", "part"),
      """
        SELECT n_name, p_brand,
               CAST(SUM(CASE WHEN l_shipdate <  TIMESTAMP '1996-06-15 00:00:00'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS sales_before,
               CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-06-15 00:00:00'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS sales_after
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN part     ON l_partkey = p_partkey
        WHERE l_returnflag <> 'R'
          AND p_retailprice BETWEEN 500 AND 1500
          AND YEAR(l_shipdate) = 1996
        GROUP BY n_name, p_brand
        ORDER BY n_name, p_brand LIMIT 100"""),

    // q42 shape: category × year monthly aggregate, revenue-descending.
    QueryDef.sql(
      "tpcds_q42_category_month_agg",
      Seq("lineitem", "part"),
      """
        SELECT YEAR(l_shipdate) AS yr, p_type,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE MONTH(l_shipdate) = 11 AND YEAR(l_shipdate) = 1996
        GROUP BY YEAR(l_shipdate), p_type
        ORDER BY ext_price DESC, yr, p_type LIMIT 100"""),

    // q52 shape: q42 keyed by brand instead of category.
    QueryDef.sql(
      "tpcds_q52_brand_month_agg",
      Seq("lineitem", "part"),
      """
        SELECT YEAR(l_shipdate) AS yr, p_brand,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE MONTH(l_shipdate) = 11 AND YEAR(l_shipdate) = 1996
        GROUP BY YEAR(l_shipdate), p_brand
        ORDER BY yr, ext_price DESC, p_brand LIMIT 100"""),

    // q55 shape: brand aggregate under a different dim gate (size band
    // standing in for manager id).
    QueryDef.sql(
      "tpcds_q55_brand_mgr_agg",
      Seq("lineitem", "part"),
      """
        SELECT p_brand,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE MONTH(l_shipdate) = 11 AND YEAR(l_shipdate) = 1997
          AND p_size BETWEEN 20 AND 28
        GROUP BY p_brand
        ORDER BY ext_price DESC, p_brand LIMIT 100"""),

    // q43 shape: per-nation day-of-week pivot. Spark's DAYOFWEEK is
    // Sunday=1, DuckDB's Sunday=0 — the only text difference.
    {
      def q43(dow: String) = s"""
        SELECT n_name,
               CAST(SUM(CASE WHEN $dow = 1 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sun_sales,
               CAST(SUM(CASE WHEN $dow = 2 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS mon_sales,
               CAST(SUM(CASE WHEN $dow = 3 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS tue_sales,
               CAST(SUM(CASE WHEN $dow = 4 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS wed_sales,
               CAST(SUM(CASE WHEN $dow = 5 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS thu_sales,
               CAST(SUM(CASE WHEN $dow = 6 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS fri_sales,
               CAST(SUM(CASE WHEN $dow = 7 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sat_sales
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE YEAR(o_orderdate) = 1996
        GROUP BY n_name
        ORDER BY n_name LIMIT 100"""
      QueryDef.sql(
        "tpcds_q43_weekday_nation_pivot",
        Seq("orders", "customer", "nation"),
        q43("DAYOFWEEK(o_orderdate)"),
        Some(q43("(DAYOFWEEK(o_orderdate) + 1)")))
    },

    // q46 shape: per-ticket (order) sub-aggregate carrying the bought
    // nation (line supplier's), joined back to the customer whose HOME
    // nation differs. The sub-aggregate shuffles at order grain once;
    // customer + nation broadcast.
    QueryDef.sql(
      "tpcds_q46_bought_vs_home_nation",
      Seq("lineitem", "supplier", "nation", "orders", "customer"),
      """
        WITH dn AS (
          SELECT l_orderkey, sn.n_name AS bought_nation,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS amt
          FROM lineitem
          JOIN supplier  ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          GROUP BY l_orderkey, sn.n_name)
        SELECT c_name, cn.n_name AS home_nation, bought_nation, l_orderkey AS ticket, amt
        FROM dn
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE cn.n_name <> bought_nation
          AND o_orderpriority LIKE '1%'
        ORDER BY c_name, home_nation, bought_nation, ticket LIMIT 100"""),

    // q68 shape: the q46 skeleton with price/tax extended sums and a
    // different gate — kept as its own green row because the reference
    // gates the q-number separately.
    QueryDef.sql(
      "tpcds_q68_ticket_mismatch_tax",
      Seq("lineitem", "supplier", "nation", "orders", "customer"),
      """
        WITH dn AS (
          SELECT l_orderkey, sn.n_name AS bought_nation,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS extended_price,
                 CAST(SUM(CAST(l_extendedprice * l_tax AS DECIMAL(18,4))) AS DOUBLE) AS extended_tax
          FROM lineitem
          JOIN supplier  ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE l_linestatus = 'F'
          GROUP BY l_orderkey, sn.n_name)
        SELECT c_name, bought_nation, l_orderkey AS ticket, extended_price, extended_tax
        FROM dn
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE cn.n_name <> bought_nation
          AND o_orderstatus = 'F'
        ORDER BY c_name, ticket LIMIT 100"""),

    // q79 shape: per-ticket amount/profit joined to the customer, the
    // dim string SUBSTR'd in the projection, profit-descending.
    QueryDef.sql(
      "tpcds_q79_ticket_profit_substr",
      Seq("lineitem", "supplier", "nation", "orders", "customer"),
      """
        WITH ms AS (
          SELECT l_orderkey, sn.n_name AS s_nation,
                 CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS amt,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - l_quantity * 100 AS DECIMAL(18,4))) AS DOUBLE) AS profit
          FROM lineitem
          JOIN supplier  ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE l_returnflag = 'N'
          GROUP BY l_orderkey, sn.n_name)
        SELECT c_name, SUBSTR(s_nation, 1, 5) AS nation5, l_orderkey AS ticket, amt, profit
        FROM ms
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY c_name, nation5, profit DESC, ticket LIMIT 100"""),

    // q53 shape: quarterly brand sums vs the brand's window average,
    // keep >10% deviations. Window partitions at brand grain — tiny
    // after the aggregate, no second fact shuffle.
    QueryDef.sql(
      "tpcds_q53_quarterly_deviation",
      Seq("lineitem", "part"),
      """
        SELECT * FROM (
          SELECT p_brand,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_sales,
                 CAST(CAST(ROUND(AVG(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,6)))
                   OVER (PARTITION BY p_brand), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_quarterly_sales
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE YEAR(l_shipdate) = 1996
          GROUP BY p_brand, QUARTER(l_shipdate)) tmp
        WHERE CASE WHEN avg_quarterly_sales > 0
              THEN ABS(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
              ELSE NULL END > 0.1
        ORDER BY avg_quarterly_sales, sum_sales, p_brand LIMIT 100"""),

    // q63 shape: the monthly variant keyed by type (manager analogue).
    QueryDef.sql(
      "tpcds_q63_monthly_deviation",
      Seq("lineitem", "part"),
      """
        SELECT * FROM (
          SELECT p_type,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_sales,
                 CAST(CAST(ROUND(AVG(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,6)))
                   OVER (PARTITION BY p_type), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_monthly_sales
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE YEAR(l_shipdate) = 1996
          GROUP BY p_type, MONTH(l_shipdate)) tmp
        WHERE CASE WHEN avg_monthly_sales > 0
              THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
              ELSE NULL END > 0.1
        ORDER BY p_type, avg_monthly_sales, sum_sales LIMIT 100"""),

    // q89 shape: the deviation family over (brand × supplier nation ×
    // month) with the OR-of-AND category gate, ordered by the gap.
    QueryDef.sql(
      "tpcds_q89_monthly_deviation_nation",
      Seq("lineitem", "part", "supplier", "nation"),
      """
        SELECT * FROM (
          SELECT p_brand, n_name, MONTH(l_shipdate) AS moy,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_sales,
                 CAST(CAST(ROUND(AVG(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,6)))
                   OVER (PARTITION BY p_brand, n_name), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_monthly_sales
          FROM lineitem
          JOIN part     ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE YEAR(l_shipdate) = 1996
            AND ((p_type LIKE 'STANDARD%' AND p_size < 20)
              OR (p_type LIKE 'LARGE%' AND p_size >= 20))
          GROUP BY p_brand, n_name, MONTH(l_shipdate)) tmp
        WHERE CASE WHEN avg_monthly_sales <> 0
              THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
              ELSE NULL END > 0.1
        ORDER BY sum_sales - avg_monthly_sales, n_name, p_brand, moy LIMIT 100"""),

    // q76 shape: three channels normalized through UNION ALL with
    // literal channel tags, grouped across channels. Each arm is its
    // own pushed-filter scan; the union collapses into one aggregate.
    QueryDef.sql(
      "tpcds_q76_channel_tag_union",
      Seq("lineitem", "orders", "events"),
      """
        SELECT channel, col_name, yr, qoy,
               CAST(COUNT(*) AS BIGINT) AS sales_cnt,
               CAST(SUM(CAST(amt AS DECIMAL(18,2))) AS DOUBLE) AS sales_amt
        FROM (
          SELECT 'line' AS channel, 'l_returnflag' AS col_name,
                 YEAR(l_shipdate) AS yr, QUARTER(l_shipdate) AS qoy,
                 l_extendedprice AS amt
          FROM lineitem WHERE l_returnflag = 'R'
          UNION ALL
          SELECT 'order', 'o_orderstatus',
                 YEAR(o_orderdate), QUARTER(o_orderdate), o_totalprice
          FROM orders WHERE o_orderstatus = 'F'
          UNION ALL
          SELECT 'event', 'event_type',
                 YEAR(ts), QUARTER(ts), value
          FROM events WHERE event_type = 'purchase') foo
        GROUP BY channel, col_name, yr, qoy
        ORDER BY channel, col_name, yr, qoy LIMIT 100"""),

    // q81 shape: returns totalled per (customer, nation), customers
    // above 1.2× their nation's average (correlated gate → decorrelated
    // re-aggregate at nation grain), home-region filter on the output.
    QueryDef.sql(
      "tpcds_q81_nation_return_gate",
      Seq("lineitem", "orders", "customer", "nation", "region"),
      """
        WITH ctr AS (
          SELECT o_custkey AS cust, c_nationkey AS nat,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_return
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE l_returnflag = 'R'
          GROUP BY o_custkey, c_nationkey)
        SELECT c_name, n_name, ctr1.total_return
        FROM ctr ctr1
        JOIN customer ON ctr1.cust = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE ctr1.total_return > (SELECT AVG(total_return) * 1.2
                                   FROM ctr ctr2 WHERE ctr1.nat = ctr2.nat)
          AND r_name = 'EUROPE'
        ORDER BY c_name, n_name, ctr1.total_return LIMIT 100"""),

    // q91 shape: star with an OR-of-AND demographic pair predicate,
    // loss-descending. Pairs stay a fact residual; dims broadcast.
    QueryDef.sql(
      "tpcds_q91_or_pair_demographics",
      Seq("orders", "customer", "nation", "region"),
      """
        SELECT n_name, c_mktsegment,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS returns_loss
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE ((c_mktsegment = 'BUILDING'  AND o_orderpriority LIKE '1%')
            OR (c_mktsegment = 'MACHINERY' AND o_orderpriority LIKE '5%'))
          AND o_orderstatus = 'F'
          AND r_name = 'ASIA'
          AND YEAR(o_orderdate) = 1996
        GROUP BY n_name, c_mktsegment
        ORDER BY returns_loss DESC, n_name, c_mktsegment"""),

    // q96 shape: a bare COUNT under time-band (hour/minute) + dim-band
    // filters — every predicate pushes into its scan, the count is one
    // partial-agg pipeline.
    QueryDef.sql(
      "tpcds_q96_time_band_count",
      Seq("events", "customer"),
      """
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        JOIN customer ON user_id = c_custkey
        WHERE HOUR(ts) = 20 AND MINUTE(ts) >= 30
          AND c_mktsegment = 'BUILDING'"""))
}
