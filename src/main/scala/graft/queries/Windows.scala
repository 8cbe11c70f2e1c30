package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.operators.RowOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (reference WindowTransform,
  * src/Processors/Transforms/WindowTransform.cpp:2445-2546:
  * rank/dense_rank/row_number/percent_rank/cume_dist/ntile/nth_value/
  * lag/lead + any aggregate over ROWS/RANGE frames), the row-order
  * functions runningDifference / neighbor / runningAccumulate /
  * runningConcurrency as deterministic window forms, LIMIT/OFFSET and
  * WITH TIES, and partition top-N (PartitionTopNStep.h:27), which in
  * Spark is window + filter — Spark ≥3.5 rewrites that shape into
  * WindowGroupLimit, pruning per-partition before the shuffle-heavy full
  * sort. (LIMIT n BY, the same shape as a named surface, is in Dialect.)
  */
object Windows {

  import Num._

  val defs: Seq[QueryDef] = Seq(

    // LIMIT n BY group ≡ top-N per group.
    QueryDef(
      "win_topn_per_group",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderpriority"), col("rn"))
      },
      Some("""
        SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 3
        ORDER BY o_orderpriority, rn""")),

    // Ranking family over a deterministic (value, key) ordering.
    QueryDef(
      "win_ranking",
      (s, dir) => {
        val w = Window.partitionBy(col("s_nationkey"))
          .orderBy(col("s_acctbal").desc, col("s_suppkey"))
        Tables(s, dir, "supplier")
          .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
                  rank().over(w).as("rnk"),
                  dense_rank().over(w).as("drnk"),
                  row_number().over(w).as("rn"),
                  round(percent_rank().over(w), 6).as("prnk"),
                  round(cume_dist().over(w), 6).as("cdist"),
                  ntile(4).over(w).as("quartile"))
          .orderBy(col("s_nationkey"), col("rn"))
      },
      Some("""
        SELECT s_nationkey, s_suppkey, s_acctbal,
          RANK() OVER w AS rnk,
          DENSE_RANK() OVER w AS drnk,
          ROW_NUMBER() OVER w AS rn,
          ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
          ROUND(CUME_DIST() OVER w, 6) AS cdist,
          NTILE(4) OVER w AS quartile
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
        ORDER BY s_nationkey, rn""")),

    // Running totals: monthly order counts with a cumulative sum per priority.
    QueryDef(
      "win_running_total",
      (s, dir) => {
        val monthly = Tables(s, dir, "orders")
          .groupBy(col("o_orderpriority"), date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("month_price"))
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        monthly
          .withColumn("running_orders", sum(col("n_orders")).over(w))
          .orderBy(col("o_orderpriority"), col("month"))
      },
      Some("""
        WITH monthly AS (
          SELECT o_orderpriority, CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
            COUNT(*) AS n_orders,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_price
          FROM orders GROUP BY 1, 2)
        SELECT o_orderpriority, month, n_orders, month_price,
          CAST(SUM(n_orders) OVER (PARTITION BY o_orderpriority ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_orders
        FROM monthly
        ORDER BY o_orderpriority, month""")),

    // ROWS frame: 3-month moving average of monthly order counts.
    QueryDef(
      "win_moving_avg",
      (s, dir) => {
        val monthly = Tables(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n_orders"))
        val w = Window.orderBy(col("month")).rowsBetween(-2, 0)
        monthly
          .withColumn("avg3", sum(col("n_orders")).over(w) / count(lit(1)).over(w))
          .orderBy(col("month"))
      },
      Some("""
        WITH monthly AS (
          SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
            COUNT(*) AS n_orders
          FROM orders GROUP BY 1)
        SELECT month, n_orders,
          CAST(SUM(n_orders) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg3
        FROM monthly
        WINDOW w AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY month""")),

    // lag/lead over the event stream: inter-event gap per user (µs-exact).
    QueryDef(
      "win_lag_gap",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(count(col("gap")).as("n_gaps"),
               (sum(col("gap")).cast("double") / count(col("gap"))).as("avg_gap_us"),
               max(col("gap")).as("max_gap_us"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH g AS (
          SELECT user_id,
            EPOCH_US(ts) - LAG(EPOCH_US(ts), 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS gap
          FROM events)
        SELECT user_id, COUNT(gap) AS n_gaps,
          CAST(SUM(gap) AS DOUBLE) / COUNT(gap) AS avg_gap_us,
          CAST(MAX(gap) AS BIGINT) AS max_gap_us
        FROM g
        GROUP BY user_id
        ORDER BY user_id""")),

    // first/last/nth_value over an explicit full-partition frame.
    QueryDef(
      "win_first_last_nth",
      (s, dir) => {
        val order = Seq(col("s_acctbal").desc, col("s_suppkey"))
        val w = Window.partitionBy(col("s_nationkey")).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables(s, dir, "supplier")
          .withColumn("richest", first(col("s_name")).over(w))
          .withColumn("poorest", last(col("s_name")).over(w))
          .withColumn("second", nth_value(col("s_name"), 2).over(w))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("s_nationkey")).orderBy(order: _*)))
          .filter(col("rn") === 1)
          .select(col("s_nationkey"), col("richest"), col("poorest"), col("second"))
          .orderBy(col("s_nationkey"))
      },
      Some("""
        SELECT s_nationkey, richest, poorest, second FROM (
          SELECT s_nationkey,
            FIRST_VALUE(s_name) OVER w AS richest,
            LAST_VALUE(s_name) OVER w AS poorest,
            NTH_VALUE(s_name, 2) OVER w AS second,
            ROW_NUMBER() OVER (PARTITION BY s_nationkey
                               ORDER BY s_acctbal DESC, s_suppkey) AS rn
          FROM supplier
          WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) t
        WHERE rn = 1
        ORDER BY s_nationkey""")),

    // RANGE frame with a numeric offset (WindowDescription.h:54 frame specs).
    QueryDef.sql(
      "win_range_frame",
      Seq("supplier"),
      """
        SELECT s_suppkey, s_nationkey, s_acctbal,
          COUNT(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
            RANGE BETWEEN 500.0 PRECEDING AND CURRENT ROW) AS n_within_500
        FROM supplier
        ORDER BY s_nationkey, s_acctbal, s_suppkey"""),

    // GROUPS frame (WindowDescription.h:127-131 FrameType::Groups) —
    // Spark has no GROUPS frames, but dense_rank + a RANGE frame over the
    // rank is an exact rewrite: peer groups within N <=> rank distance
    // within N. (DuckDB doesn't implement GROUPS either, so the oracle
    // applies the same rewrite independently.)
    QueryDef(
      "win_groups_frame",
      (s, dir) => {
        val w1 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("c_nationkey")).orderBy(col("bucket"))
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("c_nationkey")).orderBy(col("dr")).rangeBetween(-1, 1)
        Tables(s, dir, "customer")
          .withColumn("bucket", floor(col("c_acctbal") / 1000.0))
          .withColumn("dr", dense_rank().over(w1))
          .withColumn("grp_sum",
            sum(col("c_acctbal").cast(Num.D2)).over(w2).cast("double"))
          .select(col("c_custkey"), col("c_nationkey"), col("bucket"), col("grp_sum"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        WITH r AS (
          SELECT c_custkey, c_nationkey, c_acctbal,
            CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bucket,
            DENSE_RANK() OVER (PARTITION BY c_nationkey
              ORDER BY FLOOR(c_acctbal / 1000.0)) AS dr
          FROM customer)
        SELECT c_custkey, c_nationkey, bucket,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) OVER (
            PARTITION BY c_nationkey ORDER BY dr
            RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS grp_sum
        FROM r
        ORDER BY c_custkey""")),

    // LIMIT/OFFSET pagination (OffsetStep.h:24).
    QueryDef(
      "limit_offset",
      (s, dir) =>
        Tables(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .offset(10)
          .limit(20),
      Some("""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20 OFFSET 10""")),

    // LIMIT WITH TIES ≡ rank() <= n (ParserSelectQuery.cpp:435-464).
    QueryDef(
      "limit_with_ties",
      (s, dir) => {
        val w = Window.orderBy(col("l_quantity").desc)
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .withColumn("rnk", rank().over(w))
          .filter(col("rnk") <= 100)
          .drop("rnk")
          .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity FROM (
          SELECT l_orderkey, l_linenumber, l_quantity,
            RANK() OVER (ORDER BY l_quantity DESC) AS rnk
          FROM lineitem) t
        WHERE rnk <= 100
        ORDER BY l_quantity DESC, l_orderkey, l_linenumber""")),

    // runningDifference + neighbor over the per-user event stream. Both
    // functions share one (partition, order) → a single Window node, one
    // shuffle on user_id.
    QueryDef(
      "running_difference_neighbor",
      (s, dir) => {
        val part = Seq(col("user_id"))
        val ord = Seq(col("us"), col("event_id"))
        Tables(s, dir, "events")
          .withColumn("us", Tables.tsUs(col("ts")))
          .select(col("user_id"), col("event_id"),
            RowOrder.runningDifference(col("value"), part, ord).as("val_diff"),
            RowOrder.neighbor(col("event_type"), -1, lit("none"), part, ord)
              .as("prev_type"),
            RowOrder.neighbor(col("event_type"), 2, lit("END"), part, ord)
              .as("next2_type"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""
        WITH b AS (SELECT user_id, event_id, EPOCH_US(ts) AS us, value, event_type
                   FROM events)
        SELECT user_id, event_id,
          CASE WHEN LAG(value) OVER w IS NULL THEN 0.0
               ELSE value - LAG(value) OVER w END AS val_diff,
          COALESCE(LAG(event_type) OVER w, 'none') AS prev_type,
          COALESCE(LEAD(event_type, 2) OVER w, 'END') AS next2_type
        FROM b
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ORDER BY user_id, event_id""")),

    // runningAccumulate (reference runningAccumulate.cpp) as the
    // deterministic cumulative window over an explicit order: running
    // yearly revenue per order priority. Exact decimal all the way so
    // the cumulative sums hash identically.
    QueryDef(
      "running_accumulate_revenue",
      (s, dir) => {
        val yearly = Tables(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("prio"),
            year(col("o_orderdate")).cast("int").as("yr"))
          .agg(sum(col("o_totalprice").cast(Num.D2)).as("rev0"))
        yearly.select(
            col("prio"), col("yr"),
            col("rev0").cast(Num.D2).cast("double").as("rev"),
            RowOrder.runningAccumulate(sum(col("rev0")),
              Seq(col("prio")), Seq(col("yr"))).cast(Num.D2).cast("double").as("cum_rev"))
          .orderBy(col("prio"), col("yr"))
      },
      Some("""
        WITH y AS (
          SELECT o_orderpriority AS prio, CAST(YEAR(o_orderdate) AS INT) AS yr,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
          FROM orders GROUP BY 1, 2)
        SELECT prio, yr, CAST(rev AS DOUBLE) AS rev,
          CAST(CAST(SUM(rev) OVER (PARTITION BY prio ORDER BY yr) AS DECIMAL(18,2)) AS DOUBLE) AS cum_rev
        FROM y ORDER BY prio, yr""")),

    // runningConcurrency (reference runningConcurrency.cpp) as the
    // deterministic interval sweep (operators/RowOrder.scala): view
    // events become [ts, ts + (1..5) min) intervals; per distinct begin
    // instant, how many intervals are open. The window's input is the
    // per-instant net-delta aggregate (cardinality = distinct instants,
    // not rows), so the global prefix sum is over the already-reduced
    // set. Oracle: the identical sweep in plain SQL.
    QueryDef(
      "running_concurrency",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, expr}
        val iv = Tables(s, dir, "events")
          .filter(col("event_type") === "view")
          .select(col("ts").as("b"),
            expr("ts + make_interval(0, 0, 0, 0, 0, CAST(user_id % 5 AS INT) + 1, 0)")
              .as("e"))
        graft.operators.RowOrder.runningConcurrency(iv, col("b"), col("e"))
          .orderBy(col("t"))
      },
      Some("""
        WITH iv AS (
          SELECT ts AS b, ts + to_minutes(CAST(user_id % 5 AS BIGINT) + 1) AS e
          FROM events WHERE event_type = 'view'),
        pts AS (
          SELECT b AS t, 1 AS d FROM iv
          UNION ALL
          SELECT e AS t, -1 AS d FROM iv),
        net AS (SELECT t, SUM(d) AS nd FROM pts GROUP BY t),
        sweep AS (SELECT t, SUM(nd) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM net)
        SELECT s.t, CAST(s.conc AS BIGINT) AS conc
        FROM sweep s
        JOIN (SELECT DISTINCT b FROM iv) g ON s.t = g.b
        ORDER BY s.t""")))
}
