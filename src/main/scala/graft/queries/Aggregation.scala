package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.aggregates.TimeOrderedAggregates
import graft.operators.Sparkbar
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Aggregation beyond plain GROUP BY: multi-grouping (GROUPING SETS /
  * ROLLUP / CUBE — reference src/QueryPlan/CubeStep.h:28, RollupStep.h:27,
  * GroupingSetsParams at AggregatingStep.h:37), WITH TOTALS and its
  * HAVING interplay (TotalsHavingStep.h:29, TotalsHavingTransform.cpp:
  * totals_mode=before_having aggregates ALL groups), multi-DISTINCT,
  * quantiles, argMin/argMax (src/AggregateFunctions/
  * AggregateFunctionMinMaxAny.cpp), groupArray
  * (AggregateFunctionGroupArray.cpp), the long-tail aggregate families
  * (deltaSum, intervalLengthSum, boundingRatio, histogram, entropy,
  * simpleLinearRegression, groupArrayMoving, bitwise, anyHeavy, sparkbar,
  * countByGranularity, xirr — src/AggregateFunctions/AggregateFunction*.cpp)
  * and the aggregate-combinator family (-If, -Array, -ForEach, -OrNull,
  * -OrDefault, -Distinct, -Resample, -Stack, -OrderBy, registered via
  * src/AggregateFunctions/Combinators/AggregateFunctionCombinatorFactory.cpp).
  *
  * Scale notes: every multi-grouping shape lowers to Spark's native
  * Expand node — one shuffle regardless of grouping-set count. Most other
  * aggregates are single hash or window aggregates on their natural key
  * with map-side partials, and the combinator lowerings keep the whole
  * per-group array inside one aggregate node — no explode, no per-bucket
  * scans.
  */
object Aggregation {

  import Num._

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "agg_rollup",
      (s, dir) =>
        // r15 (guide §2.3 "aggregate before you shuffle"): rollup Expands
        // every INPUT row once per grouping set (3× here) before the
        // partial aggregate. Aggregating the base (status, priority)
        // cells first — count and an exact decimal partial sum — then
        // rolling up over the ~30 cells keeps the input single-pass; the
        // Expand now triples only the cell table. grouping() still
        // distinguishes data-NULL from subtotal-NULL on the cell table,
        // and summing decimal partials re-aggregates exactly (the double
        // cast stays at the end), so results are bit-identical.
        Tables(s, dir, "orders")
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("__n"),
               sum(col("o_totalprice").cast(Num.D2)).as("__sum"))
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(sum(col("__n")).as("n_orders"),
               sum(col("__sum")).cast("double").as("sum_price"),
               grouping(col("o_orderstatus")).cast("int").as("g_status"),
               grouping(col("o_orderpriority")).cast("int").as("g_priority"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
                   col("o_orderpriority").asc_nulls_first),
      Some("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
          CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    QueryDef(
      "agg_cube",
      (s, dir) =>
        Tables(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
               davg2(col("o_totalprice")).as("avg_price"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
                   col("o_orderpriority").asc_nulls_first),
      Some("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // Arbitrary grouping sets through the engine's SQL front door.
    QueryDef.sql(
      "agg_grouping_sets",
      Seq("lineitem"),
      """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    // Several DISTINCT aggregates in one pass (reference rewrites these via
    // Expand/MarkDistinct — reference src/QueryPlan/MarkDistinctStep.h:13;
    // Spark's RewriteDistinctAggregates does the same).
    QueryDef(
      "agg_multi_distinct",
      (s, dir) =>
        Tables(s, dir, "orders")
          .agg(countDistinct(col("o_custkey")).as("n_customers"),
               countDistinct(col("o_orderpriority")).as("n_priorities"),
               countDistinct(col("o_orderstatus"), col("o_orderpriority")).as("n_status_prio"),
               count(lit(1)).as("n_orders")),
      Some("""
        SELECT COUNT(DISTINCT o_custkey) AS n_customers,
          COUNT(DISTINCT o_orderpriority) AS n_priorities,
          COUNT(DISTINCT (o_orderstatus, o_orderpriority)) AS n_status_prio,
          COUNT(*) AS n_orders
        FROM orders""")),

    QueryDef(
      "select_distinct",
      (s, dir) =>
        Tables(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_nationkey"))
          .distinct()
          .orderBy(col("c_mktsegment"), col("c_nationkey")),
      Some("""
        SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        ORDER BY c_mktsegment, c_nationkey""")),

    // Statistics aggregates (AggregateFunctionStatistics*.cpp family).
    QueryDef(
      "agg_statistics",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
               round(stddev_samp(col("l_quantity")), 6).as("stddev_qty"),
               round(var_samp(col("l_quantity")), 6).as("var_qty"),
               round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"))
          .orderBy(col("l_returnflag")),
      Some("""
        SELECT l_returnflag,
          ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
          ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev_qty,
          ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
          ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // Exact quantiles with linear interpolation (reference quantile family,
    // reference src/AggregateFunctions/AggregateFunctionQuantile.h:66).
    QueryDef(
      "agg_quantiles",
      (s, dir) => {
        import graft.operators.Quantiles
        val li = Tables(s, dir, "lineitem")
        val q = Quantiles.percentiles(li, "l_linestatus", "l_quantity",
          Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75"))
        // High-cardinality continuous column → two-phase selection (no
        // full sort; constant-size shuffles).
        val pr = Quantiles.percentilesSelect(li, "l_linestatus", "l_extendedprice",
          bucketWidth = 1000.0, Seq(0.9 -> "pr90"))
        q.join(pr, "l_linestatus")
          .select(col("l_linestatus"),
            round(col("q25"), 6).as("p25"), round(col("q50"), 6).as("p50"),
            round(col("q75"), 6).as("p75"), round(col("pr90"), 6).as("price_p90"))
          .orderBy(col("l_linestatus"))
      },
      Some("""
        SELECT l_linestatus,
          ROUND(QUANTILE_CONT(l_quantity, 0.25), 6) AS p25,
          ROUND(QUANTILE_CONT(l_quantity, 0.5), 6) AS p50,
          ROUND(QUANTILE_CONT(l_quantity, 0.75), 6) AS p75,
          ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 6) AS price_p90
        FROM lineitem
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")),

    // argMax by a composite (value, key) — deterministic under value ties.
    QueryDef(
      "agg_argmax",
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("max_order"),
               min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("min_order"),
               max(col("o_totalprice")).as("max_price"),
               min(col("o_totalprice")).as("min_price"))
          .orderBy(col("o_orderstatus")),
      Some("""
        WITH t AS (
          SELECT o_orderstatus, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_orderstatus
              ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
            ROW_NUMBER() OVER (PARTITION BY o_orderstatus
              ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
          FROM orders)
        SELECT o_orderstatus,
          MAX(CASE WHEN rn_max = 1 THEN o_orderkey END) AS max_order,
          MAX(CASE WHEN rn_min = 1 THEN o_orderkey END) AS min_order,
          MAX(o_totalprice) AS max_price,
          MIN(o_totalprice) AS min_price
        FROM t
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // groupArray-style ordered collection, exposed as a stable string.
    QueryDef(
      "agg_collect_ordered",
      (s, dir) => {
        val n = Tables(s, dir, "nation")
        val r = Tables(s, dir, "region")
        n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
               count(lit(1)).as("n_nations"))
          .orderBy(col("r_name"))
      },
      Some("""
        SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
          COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name""")),

    // Conditional aggregation (reference -If combinator,
    // reference src/AggregateFunctions/AggregateFunctionIf.cpp).
    QueryDef(
      "agg_conditional",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .withColumn("l_shipmode_bucket", col("l_linenumber") % 3)
          .groupBy(col("l_shipmode_bucket"))
          .agg(count(lit(1)).as("n_items"),
               sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
               dsum2(when(col("l_returnflag") === "R", col("l_extendedprice")).otherwise(lit(0.0))).as("returned_price"),
               count(when(col("l_quantity") > 40, 1)).as("n_bulk"))
          .orderBy(col("l_shipmode_bucket")),
      Some("""
        SELECT (l_linenumber % 3) AS l_shipmode_bucket, COUNT(*) AS n_items,
          CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
          CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END
            AS DECIMAL(18,2))) AS DOUBLE) AS returned_price,
          COUNT(CASE WHEN l_quantity > 40 THEN 1 END) AS n_bulk
        FROM lineitem
        GROUP BY 1
        ORDER BY 1""")),

    QueryDef(
      "agg_having",
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("spend"))
          .filter(col("n_orders") >= 5)
          .orderBy(col("spend").desc, col("o_custkey"))
          .limit(25),
      Some("""
        SELECT o_custkey, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 5
        ORDER BY spend DESC, o_custkey
        LIMIT 25""")),

    // deltaSum: sum of positive deltas between consecutive values.
    QueryDef(
      "agg_delta_sum",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .withColumn("d", col("value") - lag(col("value"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(dsum6(when(col("d") > 0, col("d")).otherwise(lit(0.0))).as("delta_sum"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
          CAST(SUM(CAST(CASE WHEN d > 0 THEN d ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
            AS delta_sum
        FROM (SELECT user_id,
                value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
              FROM events) t
        GROUP BY user_id
        ORDER BY user_id""")),

    // intervalLengthSum: length of the union of [ts, ts+10min) intervals
    // per user — sweep-line via a running-max window, all integer µs.
    QueryDef(
      "agg_interval_union",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("st"), col("en"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables(s, dir, "events")
          .select(col("user_id"), Tables.tsUs(col("ts")).as("st"))
          .withColumn("en", col("st") + lit(600000000L))
          .withColumn("pm", max(col("en")).over(w))
          .withColumn("covered",
            greatest(lit(0L), col("en") - greatest(col("st"), coalesce(col("pm"), lit(0L)))))
          .groupBy(col("user_id"))
          .agg(sum(col("covered")).as("covered_us"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH iv AS (SELECT user_id, EPOCH_US(ts) AS st, EPOCH_US(ts) + 600000000 AS en
                    FROM events),
        m AS (SELECT user_id, st, en,
                MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
              FROM iv)
        SELECT user_id,
          CAST(SUM(GREATEST(0, en - GREATEST(st, COALESCE(pm, 0)))) AS BIGINT) AS covered_us
        FROM m
        GROUP BY user_id
        ORDER BY user_id""")),

    // boundingRatio: slope between the first and last point of each
    // group, (last y - first y) / x span in days.
    QueryDef(
      "agg_bounding_ratio",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("event_type"), col("value"), Tables.tsUs(col("ts")).as("us"),
                  col("event_id"))
          .groupBy(col("event_type"))
          .agg(max_by(col("value"), struct(col("us"), col("event_id"))).as("y_last"),
               min_by(col("value"), struct(col("us"), col("event_id"))).as("y_first"),
               max(col("us")).as("x_max"), min(col("us")).as("x_min"))
          .select(col("event_type"),
            ((col("y_last") - col("y_first")) /
              ((col("x_max") - col("x_min")).cast(DoubleType) / lit(86400000000.0)))
              .as("bounding_ratio"))
          .orderBy(col("event_type")),
      Some("""
        WITH e AS (SELECT event_type, value, EPOCH_US(ts) AS us, event_id FROM events),
        r AS (SELECT event_type, value, us,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY us, event_id) AS ra,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY us DESC, event_id DESC) AS rd
              FROM e)
        SELECT event_type,
          (MAX(CASE WHEN rd = 1 THEN value END) - MAX(CASE WHEN ra = 1 THEN value END))
            / ((MAX(us) - MIN(us)) / 86400000000.0) AS bounding_ratio
        FROM r
        GROUP BY event_type
        ORDER BY event_type""")),

    // entropy: Shannon entropy of the per-user event distribution within
    // each event_type; terms quantized to 9 decimals before the exact sum.
    QueryDef(
      "agg_entropy",
      (s, dir) => {
        val c = Tables(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        val t = c.groupBy(col("event_type")).agg(sum(col("n")).cast(DoubleType).as("tot"))
        c.join(t, "event_type")
          .withColumn("p", col("n") / col("tot"))
          .withColumn("term", (col("p") * log(col("p"))).cast(DecimalType(18, 9)))
          .groupBy(col("event_type"))
          .agg((sum(col("term")).cast(DoubleType) * lit(-1.0)).as("entropy"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH c AS (SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2),
        t AS (SELECT event_type, CAST(SUM(n) AS DOUBLE) AS tot FROM c GROUP BY 1)
        SELECT c.event_type,
          CAST(SUM(CAST((n / tot) * LN(n / tot) AS DECIMAL(18,9))) AS DOUBLE) * -1.0
            AS entropy
        FROM c JOIN t ON c.event_type = t.event_type
        GROUP BY c.event_type
        ORDER BY c.event_type""")),

    // histogram: 10 equal-width value bins per event_type (the reference's
    // adaptive histogram re-expressed as fixed-width bucketing).
    QueryDef(
      "agg_histogram",
      (s, dir) => {
        val stats = Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
        Tables(s, dir, "events")
          .join(broadcast(stats), "event_type")
          .withColumn("bin",
            least(floor((col("value") - col("mn")) / ((col("mx") - col("mn")) / lit(10.0))),
                  lit(9L)).cast("int"))
          .groupBy(col("event_type"), col("bin"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"), col("bin"))
      },
      Some("""
        WITH s AS (SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
                   FROM events GROUP BY 1)
        SELECT e.event_type,
          CAST(LEAST(FLOOR((value - mn) / ((mx - mn) / 10.0)), 9) AS INTEGER) AS bin,
          COUNT(*) AS n
        FROM events e JOIN s ON e.event_type = s.event_type
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // simpleLinearRegression: closed-form least squares of value vs time
    // (days since 2024-01-01) from exact decimal moment sums, so both
    // engines derive slope/intercept from bit-identical doubles.
    QueryDef(
      "agg_linear_regression",
      (s, dir) => {
        val base = Tables(s, dir, "events")
          .select(col("event_type"),
            ((Tables.tsUs(col("ts")) - lit(1704067200000000L)).cast(DoubleType) /
              lit(86400000000.0)).as("x"),
            col("value").as("y"))
        val m = base.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(18, 9))).cast(DoubleType).as("sx"),
          sum(col("y").cast(DecimalType(18, 6))).cast(DoubleType).as("sy"),
          sum((col("x") * col("y")).cast(DecimalType(18, 6))).cast(DoubleType).as("sxy"),
          sum((col("x") * col("x")).cast(DecimalType(18, 9))).cast(DoubleType).as("sxx"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        m.select(col("event_type"), graft.Num.dq6(slope).as("slope"),
            graft.Num.dq6((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH p AS (SELECT event_type,
                     (EPOCH_US(ts) - 1704067200000000) / 86400000000.0 AS x,
                     value AS y
                   FROM events),
        m AS (SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(x * x AS DECIMAL(18,9))) AS DOUBLE) AS sxx
              FROM p GROUP BY 1)
        SELECT event_type,
          CAST(CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
            AS DECIMAL(18,6)) AS DOUBLE) AS slope,
          CAST(CAST(ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
            AS DECIMAL(18,6)) AS DOUBLE) AS intercept
        FROM m
        ORDER BY event_type""")),

    // groupArrayMovingSum: per-user array of 3-row moving sums in stream
    // order (exact decimal window sums, so array elements are bit-equal).
    QueryDef(
      "agg_moving_array",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
          .rowsBetween(-2, 0)
        Tables(s, dir, "events")
          .select(col("user_id"), Tables.tsUs(col("ts")).as("us"), col("event_id"),
                  col("value"))
          .withColumn("m", sum(col("value").cast(DecimalType(18, 6))).over(w).cast(DoubleType))
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(col("us"), col("event_id"), col("m")))).as("s"))
          .select(col("user_id"), expr("transform(s, x -> x.m)").as("moving_sum3"))
          // The array IS the operator's output; posexplode it back to scalar
          // rows so the driver's hash-compare (which can't hash array cells)
          // can verify every element positionally.
          .select(col("user_id"), posexplode(col("moving_sum3")).as(Seq("idx", "moving_sum")))
          .orderBy(col("user_id"), col("idx"))
      },
      Some("""
        WITH b AS (SELECT user_id, EPOCH_US(ts) AS us, event_id, value FROM events),
        m AS (SELECT user_id, us, event_id,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                  PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv
              FROM b)
        SELECT user_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) - 1 AS INT) AS idx,
          mv AS moving_sum
        FROM m
        ORDER BY user_id, idx""")),

    // -OrderBy combinator: order-sensitive aggregates fed in explicit
    // (key, value) order — groupArrayOrderBy posexploded for the gate,
    // any/anyLast as first/last-by-key scalars.
    QueryDef.sql(
      "agg_order_by_combinator",
      Seq("orders"),
      """
        SELECT o_orderpriority, idx, price,
               first_price, last_price
        FROM (
          SELECT o_orderpriority,
            groupArrayOrderBy(o_totalprice, o_orderdate) AS prices,
            anyOrderBy(o_totalprice, o_orderdate) AS first_price,
            anyLastOrderBy(o_totalprice, o_orderdate) AS last_price
          FROM orders
          WHERE o_totalprice > 400000
          GROUP BY o_orderpriority)
        LATERAL VIEW posexplode(prices) t AS idx, price
        ORDER BY o_orderpriority, idx""",
      Some("""
        WITH g AS (
          SELECT o_orderpriority,
            LIST(o_totalprice ORDER BY o_orderdate, o_totalprice) AS prices
          FROM orders
          WHERE o_totalprice > 400000
          GROUP BY o_orderpriority)
        SELECT o_orderpriority,
          CAST(GENERATE_SUBSCRIPTS(prices, 1) - 1 AS INTEGER) AS idx,
          UNNEST(prices) AS price,
          prices[1] AS first_price,
          prices[-1] AS last_price
        FROM g
        ORDER BY o_orderpriority, idx""")),

    // WITH TOTALS: group rows plus a grand-total row (null group keys).
    QueryDef(
      "agg_with_totals",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val grouped = o.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("sum_price"))
        val totals = o.agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("sum_price"))
          .select(lit(null).cast("string").as("o_orderstatus"), col("n_orders"), col("sum_price"))
        grouped.unionByName(totals).orderBy(col("o_orderstatus").asc_nulls_last)
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT NULL, COUNT(*),
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders
        ORDER BY o_orderstatus ASC NULLS LAST""")),

    // Bitwise aggregates groupBitmapAnd/Or/Xor-style over integer keys.
    QueryDef(
      "agg_bit_ops",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(bit_and(col("l_orderkey")).as("and_key"),
               bit_or(col("l_orderkey")).as("or_key"),
               bit_xor(col("l_orderkey")).as("xor_key"),
               count(lit(1)).as("n"))
          .orderBy(col("l_returnflag")),
      Some("""
        SELECT l_returnflag,
          BIT_AND(l_orderkey) AS and_key,
          BIT_OR(l_orderkey) AS or_key,
          BIT_XOR(l_orderkey) AS xor_key,
          COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // WITH TOTALS under HAVING, totals_mode = before_having: per-group
    // rows pass the HAVING filter, the TOTAL row aggregates every group.
    QueryDef(
      "agg_totals_having",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val groups = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
          .filter(col("n") > lit(100L))
          .select(col("l_returnflag"), col("n"), col("sum_qty"))
        val totals = li.agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
          .select(lit("TOTAL").as("l_returnflag"), col("n"), col("sum_qty"))
        groups.unionByName(totals).orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag, n, sum_qty FROM (
          SELECT l_returnflag, COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM lineitem GROUP BY l_returnflag HAVING COUNT(*) > 100
          UNION ALL
          SELECT 'TOTAL', COUNT(*),
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          FROM lineitem) t
        ORDER BY l_returnflag""")),

    // quantileExactWeighted: smallest value whose cumulative weight
    // reaches p x total (selection semantics, no interpolation) — weights
    // = quantity, values = price per linestatus.
    QueryDef(
      "agg_quantiles_weighted",
      (s, dir) => {
        import graft.operators.Quantiles
        Quantiles.percentilesExactWeighted(
            Tables(s, dir, "lineitem"), "l_linestatus", "l_extendedprice", "l_quantity",
            Seq(0.5 -> "wq50", 0.9 -> "wq90"))
          .select(col("l_linestatus"),
            col("wq50").cast(D2).cast("double").as("wq50"),
            col("wq90").cast(D2).cast("double").as("wq90"))
          .orderBy(col("l_linestatus"))
      },
      Some("""
        WITH h AS (
          SELECT l_linestatus, l_extendedprice AS v,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
          FROM lineitem GROUP BY 1, 2),
        m AS (
          SELECT l_linestatus, v,
            SUM(w) OVER (PARTITION BY l_linestatus ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            SUM(w) OVER (PARTITION BY l_linestatus) AS n
          FROM h)
        SELECT l_linestatus,
          CAST(CAST(MIN(CASE WHEN cum >= 0.5 * n THEN v END) AS DECIMAL(18,2)) AS DOUBLE) AS wq50,
          CAST(CAST(MIN(CASE WHEN cum >= 0.9 * n THEN v END) AS DECIMAL(18,2)) AS DOUBLE) AS wq90
        FROM m
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")),

    // -Array combinators via the ClickHouse dialect: token-length arrays
    // per document, aggregated element-wise across the corpus. All five
    // lower to one ordinary hash aggregate over per-row array folds — no
    // explode, so the shuffle carries one row per document, not one per
    // token; map-side partial aggregation intact at any corpus size.
    QueryDef.sql(
      "agg_array_combinators",
      Seq("documents"),
      """
        SELECT lang,
          countArray(la) AS n_tokens,
          sumArray(la) AS sum_len,
          minArray(la) AS min_len,
          maxArray(la) AS max_len,
          avgArray(la) AS avg_len
        FROM (SELECT lang, transform(splitByChar(' ', text), x -> length(x)) AS la
              FROM documents)
        GROUP BY lang
        ORDER BY lang""",
      // Element sums are integer-valued doubles (token lengths), so the
      // double fold is exact and order-independent below 2^53.
      Some("""
        WITH t AS (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
        SELECT lang, COUNT(*) AS n_tokens,
          CAST(SUM(LENGTH(tok)) AS DOUBLE) AS sum_len,
          CAST(MIN(LENGTH(tok)) AS INTEGER) AS min_len,
          CAST(MAX(LENGTH(tok)) AS INTEGER) AS max_len,
          CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*) AS avg_len
        FROM t
        GROUP BY lang
        ORDER BY lang""")),

    // -ForEach combinator: element-wise aggregation ACROSS rows of ragged
    // arrays (index i aggregates the rows whose array reaches i). One
    // shared single-pass buffer per group; shuffle carries one buffer per
    // group, not one row per element.
    QueryDef(
      "agg_foreach_combinators",
      (s, dir) => {
        import graft.aggregates.ForEachAgg
        val li = Tables(s, dir, "lineitem")
        val arr = when(col("l_linenumber") % 2 === 0,
            array(col("l_quantity"), col("l_extendedprice"),
                  col("l_discount"), col("l_tax")))
          .otherwise(array(col("l_quantity"), col("l_extendedprice"),
                  col("l_discount")))
        li.withColumn("arr", arr)
          .groupBy(col("l_returnflag"))
          .agg(ForEachAgg.sumForEach(col("arr")).as("sum_each"),
               ForEachAgg.minForEach(col("arr")).as("min_each"),
               ForEachAgg.maxForEach(col("arr")).as("max_each"),
               ForEachAgg.avgForEach(col("arr")).as("avg_each"),
               ForEachAgg.countForEach(col("arr")).as("count_each"))
          // The per-index arrays ARE the combinator's output; posexplode
          // them to scalar rows (agg_moving_array pattern) so the driver's
          // hash-compare, which can't sort array cells, checks every
          // element positionally.
          .select(col("l_returnflag"),
            posexplode(arrays_zip(col("sum_each"), col("min_each"),
              col("max_each"), col("avg_each"), col("count_each")))
              .as(Seq("idx", "z")))
          .select(col("l_returnflag"), col("idx"),
            col("z.sum_each").as("sum_e"), col("z.min_each").as("min_e"),
            col("z.max_each").as("max_e"), col("z.avg_each").as("avg_e"),
            col("z.count_each").as("count_e"))
          .orderBy(col("l_returnflag"), col("idx"))
      },
      // Elements compare bit-exact: sums ride the D6 micros convention on
      // both sides; min/max are raw column doubles.
      Some("""
        WITH t AS (
          SELECT l_returnflag,
            CASE WHEN l_linenumber % 2 = 0
                 THEN [l_quantity, l_extendedprice, l_discount, l_tax]
                 ELSE [l_quantity, l_extendedprice, l_discount] END AS arr
          FROM lineitem),
        e AS (SELECT l_returnflag, UNNEST(arr) AS x,
                     GENERATE_SUBSCRIPTS(arr, 1) AS i FROM t),
        a AS (SELECT l_returnflag, i,
            CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s,
            MIN(x) AS mn, MAX(x) AS mx,
            CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS av,
            COUNT(*) AS c
          FROM e GROUP BY l_returnflag, i)
        SELECT l_returnflag, CAST(i - 1 AS INTEGER) AS idx,
          s AS sum_e, mn AS min_e, mx AS max_e, av AS avg_e, c AS count_e
        FROM a
        ORDER BY l_returnflag, idx""")),

    // maxIntersections (reference AggregateFunctionMaxIntersections.h:
    // sort (position, ±1-weight) pairs — ends before starts on ties, so
    // intervals are [start, end) — and track the running-sum maximum).
    // Spark-native: union of +1/-1 points, one window per group, max of
    // the running sum. One shuffle on the group key; no interval pairing
    // join anywhere, so it scales as a sort within each group.
    QueryDef(
      "agg_max_intersections",
      (s, dir) => {
        // In-transit interval: [shipdate, shipdate + quantity days) — the
        // synthetic lineitem has no receiptdate, so transit time derives
        // deterministically from quantity.
        val li = Tables(s, dir, "lineitem").select(col("l_returnflag"),
          datediff(col("l_shipdate"), lit("1992-01-01")).as("sd"),
          (datediff(col("l_shipdate"), lit("1992-01-01")) +
            col("l_quantity").cast("int")).as("ed"))
        val pts = li.select(col("l_returnflag"), col("sd").as("pt"), lit(1).as("delta"))
          .unionAll(li.select(col("l_returnflag"), col("ed").as("pt"), lit(-1).as("delta")))
        val w = Window.partitionBy(col("l_returnflag")).orderBy(col("pt"), col("delta"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("l_returnflag"))
        // maxIntersectionsPosition = first point reaching the maximum
        // (the reference records the position on each new maximum during
        // its ascending scan — i.e. the smallest such point).
        pts.withColumn("run", sum(col("delta")).over(w))
          .withColumn("mx", max(col("run")).over(wAll))
          .groupBy(col("l_returnflag"))
          .agg(max(col("run")).as("max_concurrent"),
               min(when(col("run") === col("mx"), col("pt"))).cast("long").as("max_position"),
               count(lit(1)).as("n_points"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        WITH iv AS (
          SELECT l_returnflag,
            DATE_DIFF('day', DATE '1992-01-01', l_shipdate) AS sd,
            DATE_DIFF('day', DATE '1992-01-01', l_shipdate)
              + CAST(l_quantity AS INTEGER) AS ed
          FROM lineitem),
        pts AS (
          SELECT l_returnflag, sd AS pt, 1 AS delta FROM iv
          UNION ALL
          SELECT l_returnflag, ed AS pt, -1 AS delta FROM iv),
        r AS (
          SELECT l_returnflag, pt,
            SUM(delta) OVER (PARTITION BY l_returnflag ORDER BY pt, delta
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM pts),
        r2 AS (
          SELECT l_returnflag, pt, run,
            MAX(run) OVER (PARTITION BY l_returnflag) AS mx
          FROM r)
        SELECT l_returnflag, CAST(MAX(run) AS BIGINT) AS max_concurrent,
          CAST(MIN(CASE WHEN run = mx THEN pt END) AS BIGINT) AS max_position,
          COUNT(*) AS n_points
        FROM r2
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // uniqUpTo(N): exact distinct count capped at N+1 (the reference uses
    // a bounded hash set per group; the Spark lowering keeps the exact
    // distinct plan — the cap is about the ANSWER contract, and Catalyst's
    // partial-distinct aggregation already bounds per-node state).
    QueryDef.sql(
      "agg_uniq_up_to",
      Seq("lineitem"),
      """
        SELECT l_returnflag,
          uniqUpTo(10, l_suppkey) AS cap10,
          uniqUpTo(100000, l_suppkey) AS uncapped
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""",
      Some("""
        SELECT l_returnflag,
          LEAST(COUNT(DISTINCT l_suppkey), 11) AS cap10,
          LEAST(COUNT(DISTINCT l_suppkey), 100001) AS uncapped
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // groupArrayMovingAvg(3) (reference
    // AggregateFunctionGroupArrayMoving.cpp: the windowed variant divides
    // by the window SIZE, including the ramp-up elements): movingSum3/3,
    // posexploded like agg_moving_array so every element hash-checks.
    QueryDef(
      "agg_moving_avg_array",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
          .rowsBetween(-2, 0)
        Tables(s, dir, "events")
          .select(col("user_id"), Tables.tsUs(col("ts")).as("us"), col("event_id"),
                  col("value"))
          .withColumn("m",
            (sum(col("value").cast(graft.Num.D6)).over(w).cast(DoubleType) / 3))
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(col("us"), col("event_id"), col("m")))).as("s"))
          .select(col("user_id"), expr("transform(s, x -> x.m)").as("moving_avg3"))
          .select(col("user_id"), posexplode(col("moving_avg3")).as(Seq("idx", "moving_avg")))
          .orderBy(col("user_id"), col("idx"))
      },
      Some("""
        WITH b AS (SELECT user_id, EPOCH_US(ts) AS us, event_id, value FROM events),
        m AS (SELECT user_id, us, event_id,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                  PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 3 AS mv
              FROM b)
        SELECT user_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) - 1 AS INT) AS idx,
          mv AS moving_avg
        FROM m
        ORDER BY user_id, idx""")),

    // quantileExactLow / High: rank selection without interpolation
    // (reference QuantileExact.h:253 — low/high median at level 0.5,
    // trunc(level·n) otherwise). Distributed histogram, no value buffer.
    QueryDef(
      "agg_quantiles_lowhigh",
      (s, dir) => {
        import graft.operators.Quantiles
        val li = Tables(s, dir, "lineitem")
        val lo = Quantiles.percentilesExactRank(li, "l_linestatus", "l_quantity",
          Seq(0.5 -> "med_low", 0.1 -> "p10_low"), high = false)
        val hi = Quantiles.percentilesExactRank(li, "l_linestatus", "l_quantity",
          Seq(0.5 -> "med_high"), high = true)
        lo.join(hi, "l_linestatus")
          .select(col("l_linestatus"), col("med_low"), col("med_high"), col("p10_low"))
          .orderBy(col("l_linestatus"))
      },
      Some("""
        WITH s AS (
          SELECT l_linestatus,
            LIST(l_quantity ORDER BY l_quantity) AS a, COUNT(*) AS n
          FROM lineitem GROUP BY l_linestatus)
        SELECT l_linestatus,
          a[CAST(CASE WHEN n % 2 = 1 THEN n // 2 ELSE n // 2 - 1 END AS BIGINT) + 1]
            AS med_low,
          a[n // 2 + 1] AS med_high,
          a[LEAST(CAST(FLOOR(0.1 * n) AS BIGINT), n - 1) + 1] AS p10_low
        FROM s
        ORDER BY l_linestatus""")),

    // groupArraySorted(N): the N smallest values per group, sorted.
    QueryDef.sql(
      "agg_group_array_sorted",
      Seq("orders"),
      // posexplode the top-N array so the driver gate hash-checks every
      // element (it can't sort array cells).
      """
        SELECT o_orderstatus, idx, price
        FROM (SELECT o_orderstatus,
                groupArraySorted(5, o_totalprice) AS low5
              FROM orders GROUP BY o_orderstatus)
        LATERAL VIEW posexplode(low5) t AS idx, price
        ORDER BY o_orderstatus, idx""",
      Some("""
        WITH s AS (SELECT o_orderstatus,
            (LIST(o_totalprice ORDER BY o_totalprice))[1:5] AS low5
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus,
          CAST(GENERATE_SUBSCRIPTS(low5, 1) - 1 AS INTEGER) AS idx,
          UNNEST(low5) AS price
        FROM s
        ORDER BY o_orderstatus, idx""")),

    // -OrNull / -OrDefault / -Distinct combinator instances. Region 0
    // has no nation with key > 20, so the OrNull columns discriminate
    // NULL-on-empty from genuine values and the OrDefault columns show
    // the fallback.
    QueryDef.sql(
      "agg_or_combinators",
      Seq("nation"),
      """
        SELECT n_regionkey,
          countOrNull(CASE WHEN n_nationkey > 20 THEN 1 END) AS hi_cnt,
          sumOrNull(CASE WHEN n_nationkey > 20 THEN n_nationkey END) AS hi_sum,
          sumOrDefault(CASE WHEN n_nationkey > 20 THEN n_nationkey END) AS hi_sum_d,
          avgOrDefault(CASE WHEN n_nationkey > 20
                            THEN CAST(n_nationkey AS DOUBLE) END) AS hi_avg_d,
          minOrNull(CASE WHEN n_nationkey > 20 THEN n_nationkey END) AS hi_min,
          maxOrDefault(CASE WHEN n_nationkey > 20 THEN n_nationkey END) AS hi_max_d,
          countDistinct(n_nationkey % 3) AS k3,
          sumDistinct(n_nationkey % 3) AS s3,
          avgDistinct(CAST(n_nationkey % 3 AS DOUBLE)) AS a3
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey""",
      Some("""
        SELECT n_regionkey,
          NULLIF(COUNT(CASE WHEN n_nationkey > 20 THEN 1 END), 0) AS hi_cnt,
          CAST(SUM(CASE WHEN n_nationkey > 20 THEN n_nationkey END) AS BIGINT) AS hi_sum,
          COALESCE(CAST(SUM(CASE WHEN n_nationkey > 20 THEN n_nationkey END)
            AS BIGINT), 0) AS hi_sum_d,
          COALESCE(AVG(CASE WHEN n_nationkey > 20
                            THEN CAST(n_nationkey AS DOUBLE) END), 0) AS hi_avg_d,
          MIN(CASE WHEN n_nationkey > 20 THEN n_nationkey END) AS hi_min,
          COALESCE(MAX(CASE WHEN n_nationkey > 20 THEN n_nationkey END), 0) AS hi_max_d,
          COUNT(DISTINCT n_nationkey % 3) AS k3,
          CAST(SUM(DISTINCT n_nationkey % 3) AS BIGINT) AS s3,
          AVG(DISTINCT CAST(n_nationkey % 3 AS DOUBLE)) AS a3
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey""")),

    // -Resample: quantity range [1, 51) in steps of 10 → 5 buckets;
    // integer sums so the bucket arrays compare bit-exact (FLOOR on both
    // sides — DuckDB's double→BIGINT cast rounds while Spark's
    // truncates).
    QueryDef.sql(
      "agg_resample",
      Seq("lineitem"),
      // The -Resample buckets are fixed-width (5), so project them to
      // scalar columns for the driver gate, which can't hash array cells.
      """
        SELECT l_linestatus,
          cnt_by_qty[0] AS c1, cnt_by_qty[1] AS c2, cnt_by_qty[2] AS c3,
          cnt_by_qty[3] AS c4, cnt_by_qty[4] AS c5,
          centiprice_by_qty[0] AS p1, centiprice_by_qty[1] AS p2,
          centiprice_by_qty[2] AS p3, centiprice_by_qty[3] AS p4,
          centiprice_by_qty[4] AS p5
        FROM (
          SELECT l_linestatus,
            countResample(1, 51, 10, l_orderkey,
                          CAST(FLOOR(l_quantity) AS BIGINT)) AS cnt_by_qty,
            sumResample(1, 51, 10, CAST(FLOOR(l_extendedprice / 100) AS BIGINT),
                        CAST(FLOOR(l_quantity) AS BIGINT)) AS centiprice_by_qty
          FROM lineitem
          GROUP BY l_linestatus)
        ORDER BY l_linestatus""",
      Some("""
        WITH t AS (SELECT l_linestatus,
            CAST(FLOOR(l_quantity) AS BIGINT) AS q,
            CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS p
          FROM lineitem)
        SELECT l_linestatus,
          COUNT(CASE WHEN q >= 1 AND q < 11 THEN 1 END) AS c1,
          COUNT(CASE WHEN q >= 11 AND q < 21 THEN 1 END) AS c2,
          COUNT(CASE WHEN q >= 21 AND q < 31 THEN 1 END) AS c3,
          COUNT(CASE WHEN q >= 31 AND q < 41 THEN 1 END) AS c4,
          COUNT(CASE WHEN q >= 41 AND q < 51 THEN 1 END) AS c5,
          COALESCE(CAST(SUM(CASE WHEN q >= 1 AND q < 11 THEN p END) AS BIGINT), 0) AS p1,
          COALESCE(CAST(SUM(CASE WHEN q >= 11 AND q < 21 THEN p END) AS BIGINT), 0) AS p2,
          COALESCE(CAST(SUM(CASE WHEN q >= 21 AND q < 31 THEN p END) AS BIGINT), 0) AS p3,
          COALESCE(CAST(SUM(CASE WHEN q >= 31 AND q < 41 THEN p END) AS BIGINT), 0) AS p4,
          COALESCE(CAST(SUM(CASE WHEN q >= 41 AND q < 51 THEN p END) AS BIGINT), 0) AS p5
        FROM t
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")),

    // groupBit* aggregates + formatReadableSize over the same scan.
    QueryDef.sql(
      "bitagg_readable_size",
      Seq("lineitem"),
      """
        SELECT l_linestatus,
          groupBitAnd(l_orderkey) AS all_and,
          groupBitOr(l_orderkey) AS all_or,
          groupBitXor(l_orderkey) AS all_xor,
          formatReadableSize(max(CAST(FLOOR(l_extendedprice) AS BIGINT))) AS max_price_sz,
          formatReadableSize(min(CAST(FLOOR(l_extendedprice) AS BIGINT))) AS min_price_sz
        FROM lineitem
        GROUP BY l_linestatus
        ORDER BY l_linestatus""",
      Some("""
        WITH t AS (SELECT l_linestatus, l_orderkey,
            CAST(FLOOR(l_extendedprice) AS BIGINT) AS p
          FROM lineitem),
        a AS (SELECT l_linestatus,
            BIT_AND(l_orderkey) AS all_and,
            BIT_OR(l_orderkey) AS all_or,
            BIT_XOR(l_orderkey) AS all_xor,
            CAST(MAX(p) AS DOUBLE) AS mxp, CAST(MIN(p) AS DOUBLE) AS mnp
          FROM t GROUP BY l_linestatus)
        SELECT l_linestatus, all_and, all_or, all_xor,
          CASE WHEN mxp < 1024 THEN PRINTF('%.2f B', mxp)
               WHEN mxp < 1048576 THEN PRINTF('%.2f KiB', mxp / 1024)
               ELSE PRINTF('%.2f MiB', mxp / 1048576) END AS max_price_sz,
          CASE WHEN mnp < 1024 THEN PRINTF('%.2f B', mnp)
               WHEN mnp < 1048576 THEN PRINTF('%.2f KiB', mnp / 1024)
               ELSE PRINTF('%.2f MiB', mnp / 1048576) END AS min_price_sz
        FROM a
        ORDER BY l_linestatus""")),

    // anyHeavy: the majority element per group (~80 % of quantities are
    // ≤ 40, so every group has a strict majority and the answer is
    // deterministic).
    QueryDef.sql(
      "any_heavy_majority",
      Seq("lineitem"),
      """
        SELECT l_returnflag,
          anyHeavy(CASE WHEN l_quantity <= 40 THEN 'small' ELSE 'big' END) AS heavy
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""",
      Some("""
        WITH c AS (SELECT l_returnflag,
            CASE WHEN l_quantity <= 40 THEN 'small' ELSE 'big' END AS v,
            COUNT(*) AS n
          FROM lineitem GROUP BY 1, 2)
        SELECT l_returnflag, ARG_MAX(v, n) AS heavy
        FROM c
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // groupConcat (default "," separator), singleValueOrNull and the
    // -SimpleState spellings. groupConcat is arrival-order-dependent in
    // the reference, so the query sorts the elements post-hoc to make the
    // check deterministic under Spark's partition-order collect.
    QueryDef.sql(
      "agg_misc_nation",
      Seq("nation"),
      """
        SELECT n_regionkey,
          array_join(array_sort(split(groupConcat(n_name), ',')), ',') AS names,
          singleValueOrNull(n_regionkey * 10) AS only_val,
          singleValueOrNull(n_nationkey) AS only_nation,
          sumSimpleState(n_nationkey) AS ss,
          minSimpleState(n_nationkey) AS mn,
          maxSimpleState(n_nationkey) AS mx
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey""",
      Some("""
        SELECT n_regionkey,
          string_agg(n_name, ',' ORDER BY n_name) AS names,
          CASE WHEN COUNT(DISTINCT n_regionkey * 10) = 1
               THEN MIN(n_regionkey * 10) END AS only_val,
          CASE WHEN COUNT(DISTINCT n_nationkey) = 1
               THEN MIN(n_nationkey) END AS only_nation,
          CAST(SUM(n_nationkey) AS BIGINT) AS ss,
          MIN(n_nationkey) AS mn,
          MAX(n_nationkey) AS mx
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey""")),

    // avgWeighted, sumCount, exponentialMovingAverage over the events
    // stream. EMA feeds hours-since-dataset-origin (not raw epoch
    // seconds) so 2^(t/h) stays inside double range — see the alias
    // scaladoc for the closed-form derivation.
    QueryDef.sql(
      "agg_weighted_ema",
      Seq("events"),
      """
        SELECT event_type,
          ROUND(avg_w_raw, 6) AS avg_w,
          ROUND(sc.sum, 4) AS val_sum,
          sc.count AS val_cnt,
          ROUND(ema_raw, 6) AS ema24
        FROM (
          SELECT event_type,
            avgWeighted(value, user_id % 5 + 1) AS avg_w_raw,
            sumCount(value) AS sc,
            exponentialMovingAverage(24.0, value,
              (unix_timestamp(ts) - 1704067200) / 3600.0) AS ema_raw
          FROM events GROUP BY event_type)
        ORDER BY event_type""",
      Some("""
        SELECT event_type,
          ROUND(SUM(value * (user_id % 5 + 1)) / SUM(CAST(user_id % 5 + 1 AS DOUBLE)), 6) AS avg_w,
          ROUND(SUM(value), 4) AS val_sum,
          COUNT(value) AS val_cnt,
          ROUND(SUM(value * POW(2, (FLOOR(EPOCH(ts)) - 1704067200) / 3600.0 / 24.0))
            / SUM(POW(2, (FLOOR(EPOCH(ts)) - 1704067200) / 3600.0 / 24.0)), 6) AS ema24
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // deltaSumTimestamp: the aggregate form (collect (t,v), sort at
    // finish) — unlike the window-based delta_sum query this survives
    // arbitrary shuffle merge order, which is the whole point of the
    // reference's timestamp-carrying variant.
    QueryDef(
      "delta_sum_timestamp",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        ev.groupBy((col("user_id") % 16).as("g"))
          .agg(TimeOrderedAggregates.deltaSumTimestamp(
            Tables.tsUs(col("ts")), col("value")).as("delta_sum"))
          .orderBy(col("g"))
      },
      Some("""
        WITH d AS (
          SELECT user_id % 16 AS g,
            value - LAG(value) OVER (
              PARTITION BY user_id % 16 ORDER BY epoch_us(ts), value) AS d
          FROM events
        )
        SELECT g,
          CAST(SUM(CAST(CASE WHEN d > 0 THEN d ELSE 0.0 END
            AS DECIMAL(18,6))) AS DOUBLE) AS delta_sum
        FROM d GROUP BY g ORDER BY g""")),

    // xirr: 20 synthetic portfolios from the orders table — early orders
    // are investments (negative flows), later ones returns. No ANSI-SQL
    // oracle exists for Newton-iterated IRR → rows-only in the driver
    // gate; AggregatorsSpec holds the golden-value and NPV(root)≈0 gates.
    QueryDef(
      "xirr_portfolio",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val flow = when(col("o_orderdate") < lit("1998-01-01").cast("date"),
          -col("o_totalprice")).otherwise(col("o_totalprice") * 1.8)
        o.groupBy((col("o_custkey") % 20).as("g"))
          .agg(TimeOrderedAggregates.xirr(
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long"),
            flow).as("irr"))
          .select(col("g"), round(col("irr"), 6).as("irr"))
          .orderBy(col("g"))
      },
      // GOLDEN VECTOR oracle (no portable SQL counterpart exists):
      // literal VALUES cross-validated by GoldenVectorProvenanceSpec:
      // an independent BISECTION solver on the same NPV definition,
      // over independently-derived flows from the same parquet, lands
      // on every pinned value — certifying the roots, not the Newton
      // solver that produced them. sf0.01 ONLY.
      Some("""
        SELECT CAST(g AS BIGINT) AS g, CAST(irr AS DOUBLE) AS irr FROM (VALUES
          (0, 0.250823),
          (1, 0.323274),
          (2, 0.327054),
          (3, 0.284605),
          (4, 0.352191),
          (5, 0.280757),
          (6, 0.230807),
          (7, 0.262445),
          (8, 0.278199),
          (9, 0.256992),
          (10, 0.27799),
          (11, 0.272957),
          (12, 0.273732),
          (13, 0.286647),
          (14, 0.217468),
          (15, 0.230602),
          (16, 0.253004),
          (17, 0.233998),
          (18, 0.342444),
          (19, 0.251773)) AS t(g, irr) ORDER BY 1""")),

    // groupArrayInsertAt (reference AggregateFunctionGroupArrayInsertAt.h):
    // value placed at its position index, absent positions take the
    // default. The reference leaves same-position collisions unspecified;
    // this pins them to MIN for determinism. Output posexploded so the
    // gate hash-checks every element.
    QueryDef(
      "group_array_insert_at",
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val slots = e.groupBy(col("event_type").as("grp"),
            (col("user_id") % 8).as("pos"))
          .agg(min(col("user_id")).as("v"))
        val arrs = slots.groupBy(col("grp"))
          .agg(map_from_entries(collect_list(struct(col("pos"), col("v")))).as("m"))
          .select(col("grp"),
            transform(sequence(lit(0), lit(9)),
              i => coalesce(element_at(col("m"), i.cast("long")), lit(-1L))).as("arr"))
        arrs.select(col("grp"), posexplode(col("arr")).as(Seq("pos", "v")))
          .orderBy(col("grp"), col("pos"))
      },
      Some("""
        WITH slots AS (
          SELECT event_type AS grp, user_id % 8 AS pos, MIN(user_id) AS v
          FROM events GROUP BY 1, 2
        ),
        grid AS (
          SELECT g.grp, s.pos
          FROM (SELECT DISTINCT grp FROM slots) g
          CROSS JOIN (SELECT UNNEST(generate_series(0, 9)) AS pos) s
        )
        SELECT grid.grp, CAST(grid.pos AS INT) AS pos,
          COALESCE(slots.v, -1) AS v
        FROM grid LEFT JOIN slots ON grid.grp = slots.grp AND grid.pos = slots.pos
        ORDER BY grid.grp, grid.pos""")),

    // sparkbar over the events stream: 12 buckets spanning hours 0-23,
    // heights from per-hour value sums (two points per bucket exercises
    // the reference's mean-of-points path).
    QueryDef(
      "sparkbar_hourly",
      (s, dir) =>
        Sparkbar.render(Tables(s, dir, "events"),
            col("event_type"), hour(col("ts")), col("value"),
            width = 12, fromX = 0L, toX = 23L)
          .withColumnRenamed("k", "event_type")
          .orderBy(col("event_type")),
      Some("""
        WITH pts AS (
          SELECT event_type AS k, hour(ts) AS x,
            CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS ysum
          FROM events WHERE hour(ts) BETWEEN 0 AND 23
          GROUP BY 1, 2
        ),
        bk AS (
          SELECT k, LEAST(CAST(FLOOR(12.0 / 24.0 * x) AS INT), 11) AS b,
            ROUND(CAST(SUM(CAST(ysum AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS h
          FROM pts GROUP BY 1, 2
        ),
        lv AS (
          SELECT k, b,
            CASE WHEN h <= 0 OR MAX(CASE WHEN h > 0 THEN h END) OVER (PARTITION BY k) IS NULL
                 THEN 0
                 ELSE CAST(FLOOR(h * 7 / MAX(CASE WHEN h > 0 THEN h END) OVER (PARTITION BY k) + 1) AS INT)
            END AS lvl
          FROM bk
        )
        SELECT k AS event_type,
          string_agg(substr(' ▁▂▃▄▅▆▇█', lvl + 1, 1), '' ORDER BY b) AS bar
        FROM lv GROUP BY k ORDER BY event_type""")),

    // frequency: the reference's fixed 10-bucket value histogram,
    // projected to scalar columns for the gate (buckets 1..5 exact,
    // 6-10 / 11-20 / 21-50 / 51-100 / >100 ranges).
    QueryDef.sql(
      "agg_frequency_buckets",
      Seq("lineitem"),
      """
        SELECT l_returnflag,
          f[0] AS f1, f[1] AS f2, f[2] AS f3, f[3] AS f4, f[4] AS f5,
          f[5] AS f6_10, f[6] AS f11_20, f[7] AS f21_50,
          f[8] AS f51_100, f[9] AS f_over100
        FROM (SELECT l_returnflag, frequency(CAST(l_quantity AS BIGINT)) AS f
              FROM lineitem GROUP BY l_returnflag)
        ORDER BY l_returnflag""",
      Some("""
        SELECT l_returnflag,
          CAST(SUM(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          CAST(SUM(CASE WHEN q = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
          CAST(SUM(CASE WHEN q = 3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
          CAST(SUM(CASE WHEN q = 4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
          CAST(SUM(CASE WHEN q = 5 THEN 1 ELSE 0 END) AS BIGINT) AS f5,
          CAST(SUM(CASE WHEN q BETWEEN 6 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS f6_10,
          CAST(SUM(CASE WHEN q BETWEEN 11 AND 20 THEN 1 ELSE 0 END) AS BIGINT) AS f11_20,
          CAST(SUM(CASE WHEN q BETWEEN 21 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS f21_50,
          CAST(SUM(CASE WHEN q > 50 AND q <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS f51_100,
          CAST(SUM(CASE WHEN q > 100 THEN 1 ELSE 0 END) AS BIGINT) AS f_over100
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // countByGranularity with granularity=1 (every row its own granule)
    // — the deterministic configuration: per-value exact row counts,
    // emitted value-sorted and posexploded per the gate convention.
    // Block semantics at granularity>1 are unit-traced in
    // CountByGranularitySpec (layout-dependent in the reference too).
    QueryDef.sql(
      "count_by_granularity",
      Seq("events"),
      """
        SELECT event_type, g.value AS bucket, g.cnt AS cnt
        FROM (SELECT event_type, countByGranularity(1, user_id % 50) AS arr
              FROM events GROUP BY event_type) t
        LATERAL VIEW explode(arr) ex AS g
        ORDER BY event_type, bucket""",
      Some("""
        SELECT event_type, user_id % 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // sumStack(0, 28, 7)(v, day): cumulative weekly revenue curve per
    // event type — element i is the sum over days [0, min((i+1)*7, 28)),
    // keyed by week start, the stacked-graph shape.
    QueryDef.sql(
      "stack_graph_cumulative",
      Seq("events"),
      """
        SELECT event_type, e.ts AS week_start, CAST(e.val AS BIGINT) AS cum_value
        FROM (SELECT event_type,
                sumStack(0, 28, 7, CAST(FLOOR(value * 100) AS BIGINT),
                  datediff(CAST(ts AS DATE), DATE '2024-01-01')) AS arr
              FROM events GROUP BY event_type) t
        LATERAL VIEW explode(arr) ex AS e
        ORDER BY event_type, week_start""",
      Some("""
        WITH d AS (SELECT event_type,
            CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
            CAST(FLOOR(value * 100) AS BIGINT) AS v
          FROM events),
        weeks AS (SELECT * FROM (VALUES (0), (7), (14), (21)) AS w(ts)),
        types AS (SELECT DISTINCT event_type FROM d)
        SELECT t.event_type, CAST(w.ts AS BIGINT) AS week_start,
          CAST((SELECT COALESCE(SUM(v), 0) FROM d
                WHERE d.event_type = t.event_type
                  AND d.day >= 0 AND d.day < LEAST(w.ts + 7, 28)) AS BIGINT) AS cum_value
        FROM types t CROSS JOIN weeks w
        ORDER BY t.event_type, week_start""")))
}
