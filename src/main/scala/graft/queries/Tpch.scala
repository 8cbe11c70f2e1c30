package graft.queries

import graft.{Num, QueryDef, Tables}
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** TPC-H-shaped plans on the test schema — the reference's optimizer
  * golden-plan corpus (reference tests/optimizers/tpch/, 22 queries) —
  * and the scan → filter → join → aggregate core they share
  * (TableScan/Filter/Join/Aggregating steps, reference
  * src/QueryPlan/TableScanStep.h:34, JoinStep.h:67, AggregatingStep.h:99),
  * including the join-type matrix. Plans are declarative DataFrames or
  * SQL, so Catalyst chooses broadcast-vs-shuffle, pushes predicates into
  * the Parquet scan, and prunes columns. The schema has no partsupp,
  * commitdate, receiptdate or comment columns, so those predicates are
  * re-expressed on available columns while keeping each query's plan
  * shape.
  *
  * Scale notes: fact-fact joins (orders ⋈ lineitem) shuffle on the join
  * key; dimension joins (region/nation/customer/supplier/part) stay within
  * the auto-broadcast threshold even at 100 TB fact scale, so no shuffle is
  * introduced on the fact side for them.
  */
object Tpch {

  import Num._

  private def ts(s: String) = lit(Timestamp.valueOf(s))

  val defs: Seq[QueryDef] = Seq(

    // ---- TPC-H Q1: pricing summary (wide aggregate over the biggest fact) ----
    QueryDef(
      "q1_pricing_summary",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val disc  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        val charge = disc * (lit(1.0) + col("l_tax"))
        li.filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            // 2-decimal money columns take the cents-long fast path
            // (lsum2 ≡ dsum2 bit-for-bit, see Num); the 6-decimal
            // products stay on the overflow-safe decimal path.
            lsum2(col("l_quantity")).as("sum_qty"),
            lsum2(col("l_extendedprice")).as("sum_base_price"),
            dsum6(disc).as("sum_disc_price"),
            dsum6(charge).as("sum_charge"),
            lavg2(col("l_quantity")).as("avg_qty"),
            lavg2(col("l_extendedprice")).as("avg_price"),
            lavg2(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
          CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- TPC-H Q3: shipping priority (two fact joins + top-N) ----
    QueryDef(
      "q3_shipping_priority",
      (s, dir) => {
        val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = Tables(s, dir, "orders").filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val l = Tables(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
        // r15 (guide §2.3/§3.1): apply the broadcast dimension filter to
        // orders BEFORE the fact-fact shuffle — the BUILDING segment keeps
        // ~1/5 of customers, so the orders side of the l⋈o exchange
        // shrinks ~5× (same rows out; Catalyst does not reorder joins
        // without CBO join-reorder, so the written order decides).
        l.join(o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
      },
      Some("""
        SELECT l_orderkey, o_orderdate,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10""")),

    // ---- TPC-H Q5-like: revenue by region/nation (6-way star join) ----
    QueryDef(
      "q5_region_revenue",
      (s, dir) => {
        val r = Tables(s, dir, "region")
        val n = Tables(s, dir, "nation")
        val c = Tables(s, dir, "customer")
        val sup = Tables(s, dir, "supplier")
        val o = Tables(s, dir, "orders")
        val l = Tables(s, dir, "lineitem")
        // r15: a pre-aggregation on (o_custkey, s_nationkey) before the
        // customer join was prototyped (guide §2.3) and REJECTED by
        // measurement — ABProf alternating A/B at sf0.1: 1.11 s → 2.01 s
        // median. The customer join broadcasts at every tested scale, so
        // the extra exchange bought nothing; at a scale where customer
        // must shuffle, AQE picks the join strategy and the pre-agg
        // should be revisited.
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .filter(col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
               count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""
        SELECT r_name, n_name,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // ---- TPC-H Q6: forecasting revenue change (pure pushdown filter + agg) ----
    QueryDef(
      "q6_forecast_revenue",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
                  col("l_shipdate") < ts("1997-01-01 00:00:00") &&
                  col("l_discount").between(0.02, 0.06) &&
                  col("l_quantity") < 24)
          .agg(dsum6(col("l_extendedprice") * col("l_discount")).as("revenue"),
               count(lit(1)).as("n_items")),
      Some("""
        SELECT
          CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24""")),

    // ---- TPC-H Q10-like: returned items by customer (top 20) ----
    QueryDef(
      "q10_returned_items",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        val l = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        // r15 (guide §2.3 "aggregate before you shuffle"): sum revenue per
        // customer key BEFORE the customer join — c_custkey is customer's
        // key, so grouping by o_custkey yields the identical groups while
        // the customer-join input shrinks from every returned lineitem to
        // one row per buying customer (~6× fewer rows into that join's
        // exchange at scale; locally the dimension stays broadcast).
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""
        SELECT c_custkey, c_name, c_mktsegment,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_mktsegment
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")),

    // ---- Join kinds (reference kinds Inner/Left/Right/Full/Cross/Semi/Anti,
    //      reference src/Parsers/ASTTablesInSelectQuery.h:122-150) ----
    QueryDef(
      "join_left_outer",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_mktsegment"))
          .agg(countDistinct(col("c_custkey")).as("n_customers"),
               count(col("o_orderkey")).as("n_orders"),
               countDistinct(when(col("o_orderkey").isNull, col("c_custkey"))).as("n_without_orders"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment,
          COUNT(DISTINCT c_custkey) AS n_customers,
          COUNT(o_orderkey) AS n_orders,
          COUNT(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) AS n_without_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    QueryDef(
      "join_right_outer",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        o.join(c, col("o_custkey") === col("c_custkey"), "right")
          .groupBy(col("c_nationkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
               countDistinct(col("c_custkey")).as("n_customers"))
          .orderBy(col("c_nationkey"))
      },
      Some("""
        SELECT c_nationkey, COUNT(o_orderkey) AS n_orders,
          COUNT(DISTINCT c_custkey) AS n_customers
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")),

    QueryDef(
      "join_full_outer",
      (s, dir) => {
        val c = Tables(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_cust"))
        val sup = Tables(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(sup, Seq("nk"), "full")
          .select(col("nk"), coalesce(col("n_cust"), lit(0L)).as("n_cust"),
                  coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy(col("nk"))
      },
      Some("""
        SELECT COALESCE(c.nk, s.nk) AS nk,
          COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
          USING (nk)
        ORDER BY nk""")),

    QueryDef(
      "join_semi",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val urgent = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    QueryDef(
      "join_anti",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers_no_orders"))
          .orderBy(col("c_nationkey"))
      },
      Some("""
        SELECT c_nationkey, COUNT(*) AS n_customers_no_orders
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")),

    QueryDef(
      "join_cross",
      (s, dir) => {
        val r1 = Tables(s, dir, "region").select(col("r_name").as("r1"))
        val r2 = Tables(s, dir, "region").select(col("r_name").as("r2"))
        r1.crossJoin(r2).filter(col("r1") < col("r2")).orderBy(col("r1"), col("r2"))
      },
      Some("""
        SELECT a.r_name AS r1, b.r_name AS r2
        FROM region a CROSS JOIN region b
        WHERE a.r_name < b.r_name
        ORDER BY r1, r2""")),

    // Non-equi join: bucket parts by size range against an inline dimension
    // (reference NestedLoopJoin, src/Interpreters/NestedLoopJoin.h:79).
    QueryDef(
      "join_nonequi_range",
      (s, dir) => {
        val p = Tables(s, dir, "part")
        val buckets = s.createDataFrame(Seq(
          ("small", 0, 15), ("medium", 16, 30), ("large", 31, 60)))
          .toDF("bucket", "lo", "hi")
        p.join(broadcast(buckets),
            col("p_size") >= col("lo") && col("p_size") <= col("hi"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_parts"), dsum2(col("p_retailprice")).as("sum_price"))
          .orderBy(col("bucket"))
      },
      Some("""
        SELECT bucket, COUNT(*) AS n_parts,
          CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM part JOIN (VALUES ('small', 0, 15), ('medium', 16, 30), ('large', 31, 60))
          AS b(bucket, lo, hi) ON p_size >= lo AND p_size <= hi
        GROUP BY bucket
        ORDER BY bucket""")),

    // Equi join with non-equi residual condition.
    QueryDef(
      "join_residual_cond",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val l = Tables(s, dir, "lineitem")
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
                  col("l_shipdate") > col("o_orderdate"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_late_ship_items"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_late_ship_items
        FROM orders JOIN lineitem
          ON o_orderkey = l_orderkey AND l_shipdate > o_orderdate
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // Q4: order priority checking — orders with at least one late item.
    QueryDef(
      "q4_order_priority",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-07-01 00:00:00") &&
                  col("o_orderdate") < ts("1996-10-01 00:00:00"))
        val l = Tables(s, dir, "lineitem")
        o.join(l, col("l_orderkey") === col("o_orderkey") &&
                  col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // Q7: volume shipping between two nation pairs (supplier vs customer
    // nation), by year.
    QueryDef(
      "q7_volume_shipping",
      (s, dir) => {
        val n1 = Tables(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        val l = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val sup = Tables(s, dir, "supplier")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .filter(col("supp_nation") < col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
                   year(col("l_shipdate")).as("l_year"))
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .filter(col("revenue") > 0)
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(YEAR(l_shipdate) AS INTEGER) AS l_year,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name < n2.n_name
        GROUP BY 1, 2, 3
        HAVING SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) > 0
        ORDER BY supp_nation, cust_nation, l_year""")),

    // Q12-like: shipping buckets × priority classes (conditional agg over
    // a join; shipmode surrogate = linenumber bucket).
    QueryDef(
      "q12_ship_priority_class",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val l = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
                  col("l_shipdate") < ts("1997-01-01 00:00:00"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy((col("l_linenumber") % 2).as("ship_bucket"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy(col("ship_bucket"))
      },
      Some("""
        SELECT (l_linenumber % 2) AS ship_bucket,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
        ORDER BY ship_bucket""")),

    // Q14: promo revenue ratio (conditional numerator / total).
    QueryDef(
      "q14_promo_revenue",
      (s, dir) => {
        val p = Tables(s, dir, "part")
        val l = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1996-03-01 00:00:00") &&
                  col("l_shipdate") < ts("1996-04-01 00:00:00"))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            (lit(100.0) *
              dsum6(when(col("p_type") === "PROMO",
                col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0))) /
              dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("promo_revenue_pct"))
      },
      Some("""
        SELECT 100.0 *
          CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) /
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
          AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""")),

    // Q16-like: supplier-count per (brand, type, size) excluding one brand.
    QueryDef(
      "q16_parts_supplier_breadth",
      (s, dir) => {
        val p = Tables(s, dir, "part").filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        val l = Tables(s, dir, "lineitem")
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
          .limit(50)
      },
      Some("""
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,10,15,20,25,30,35)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        LIMIT 50""")),

    // Q18: large-volume customers (HAVING over fact agg, join back).
    QueryDef(
      "q18_large_orders",
      (s, dir) => {
        val big = Tables(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(dsum2(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 150)
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        big.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
                  col("o_orderdate"), col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(30)
      },
      Some("""
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        FROM (SELECT l_orderkey,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150) t
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 30""")),

    // Q19: disjunctive multi-attribute predicates (OR-of-ANDs pushdown).
    QueryDef(
      "q19_disjunctive_revenue",
      (s, dir) => {
        val p = Tables(s, dir, "part")
        val l = Tables(s, dir, "lineitem")
        val cond =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(cond)
          .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
               count(lit(1)).as("n_items"))
      },
      Some("""
        SELECT
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""")),

    // Q2-like: per part, the shipping supplier with minimal account
    // balance (correlated min over a join — decorrelated by Catalyst).
    QueryDef.sql(
      "q2_min_cost_supplier",
      Seq("part", "supplier", "lineitem"),
      """
        SELECT p_partkey, s_suppkey, s_name, s_acctbal
        FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE p.p_size = 15 AND p.p_type = 'PROMO'
          AND s.s_acctbal = (
            SELECT MIN(s2.s_acctbal)
            FROM supplier s2 JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
            WHERE l2.l_partkey = p.p_partkey)
        GROUP BY 1, 2, 3, 4
        ORDER BY p_partkey, s_suppkey"""),

    // Q11-like: suppliers holding an outsized share of total shipped value
    // (group HAVING vs a global scalar threshold).
    QueryDef(
      "q11_important_stock",
      (s, dir) => {
        // r15 (guide §2.4 "remove shuffles outright"): the SQL form's
        // scalar subquery re-scanned lineitem end to end just for the
        // grand total. Decimal addition is exact and associative, so the
        // total is the sum of the per-supplier group sums — built ON TOP
        // of the same grouped exchange, which ReuseExchange then dedupes:
        // one lineitem scan + one grouped aggregate feed both the rows
        // and the threshold (2 scans / 2 agg pipelines → 1 each). The
        // double cast happens only at the comparison/output, exactly as
        // before, so values are bit-identical.
        val li = Tables(s, dir, "lineitem")
        val grouped = li.groupBy(col("l_suppkey"))
          .agg(sum((col("l_extendedprice") * col("l_quantity"))
            .cast("decimal(18,4)")).as("__dec"))
        val total = grouped.agg(sum(col("__dec")).as("__tot"))
        grouped.crossJoin(broadcast(total))
          .filter(col("__dec").cast("double") >
            col("__tot").cast("double") * 0.0015)
          .select(col("l_suppkey"), col("__dec").cast("double").as("value"))
          .orderBy(col("value").desc, col("l_suppkey"))
      },
      Some("""
        SELECT l_suppkey,
          CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS value
        FROM lineitem
        GROUP BY l_suppkey
        HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) > (
          SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) * 0.0015
          FROM lineitem)
        ORDER BY value DESC, l_suppkey""")),

    // Q20-like: suppliers who shipped a large PROMO volume (IN over a
    // grouped-HAVING subquery — nested semi-join pipeline).
    QueryDef.sql(
      "q20_promo_volume_suppliers",
      Seq("part", "supplier", "lineitem"),
      """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'PROMO'
          GROUP BY l_suppkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 120)
        ORDER BY s_suppkey"""),

    // Q22: customers with above-average balance and no orders, by prefix
    // cohort (scalar subquery + anti join).
    QueryDef.sql(
      "q22_global_sales_opportunity",
      Seq("customer", "orders"),
      """
        SELECT (c_custkey % 7) AS cohort, COUNT(*) AS numcust,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY 1
        ORDER BY cohort"""),

    // Q8: market share of one supplier nation within the ASIA-customer
    // market for LARGE parts, by order year. Dimension joins broadcast;
    // the fact only shuffles for the final year aggregation.
    QueryDef(
      "q8_market_share",
      (s, dir) => {
        val asiaNations = Tables(s, dir, "nation")
          .join(broadcast(Tables(s, dir, "region").filter(col("r_name") === "ASIA")),
                col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cn_key"))
        val suppNation = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val p = Tables(s, dir, "part").filter(col("p_type") === "LARGE")
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
                  col("o_orderdate") < ts("1998-01-01 00:00:00"))
        Tables(s, dir, "lineitem")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(asiaNations), col("c_nationkey") === col("cn_key"))
          .join(broadcast(Tables(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
          .withColumn("volume", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg((dsum6(when(col("supp_nation") === "NATION_7", col("volume")).otherwise(lit(0.0))) /
                dsum6(col("volume"))).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""
        SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
          CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_7'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) /
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
            AS mkt_share
        FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          JOIN region ON n2.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE p_type = 'LARGE' AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1
        ORDER BY o_year""")),

    // Q9: product profit by supplier nation and year. No partsupp in the
    // schema, so supply cost := 0.1 * p_retailprice * l_quantity.
    QueryDef(
      "q9_product_profit",
      (s, dir) => {
        val suppNation = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
        val p = Tables(s, dir, "part").filter(col("p_name").contains("widget"))
        Tables(s, dir, "lineitem")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
          .withColumn("amount",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
              lit(0.1) * col("p_retailprice") * col("l_quantity"))
          .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
          .agg(dsum6(col("amount")).as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""
        SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
              - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC""")),

    // Q13: customer order-count distribution (outer join with a residual
    // condition, then a histogram of the per-customer counts).
    QueryDef(
      "q13_customer_distribution",
      (s, dir) => {
        val o = Tables(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
        Tables(s, dir, "customer")
          .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""
        SELECT c_count, COUNT(*) AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    // Q15: top supplier by 3-month revenue — CTE revenue view + scalar
    // MAX subquery (EnforceSingleRow, SURVEY §2.2).
    QueryDef.sql(
      "q15_top_supplier",
      Seq("supplier", "lineitem"),
      """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
              AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey"""),

    // Q17: small-quantity-order revenue — correlated per-part average
    // quantity threshold. The threshold average is computed as exact
    // decimal sum / count so both engines compare against the identical
    // double.
    QueryDef.sql(
      "q17_small_qty_revenue",
      Seq("part", "lineitem"),
      """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13' AND p_type = 'ECONOMY'
          AND l_quantity < (
            SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""),

    // Q21: suppliers who kept orders waiting — EXISTS (another supplier
    // contributed) + NOT EXISTS (no other supplier was late). "Late" is
    // re-expressed as shipping >60 days after the order date since the
    // schema has no commit/receipt dates.
    QueryDef.sql(
      "q21_waiting_suppliers",
      Seq("supplier", "lineitem", "orders"),
      """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
          JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10"""))
}
