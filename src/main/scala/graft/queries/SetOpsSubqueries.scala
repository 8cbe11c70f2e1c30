package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Set operations (reference UnionStep/IntersectStep/ExceptStep,
  * src/QueryPlan/UnionStep.h:23, ExceptStep.h:21 — the optimizer lowers
  * INTERSECT→semi-join and EXCEPT→anti-join and normalizes DISTINCT/ALL,
  * src/Optimizer/ImplementSetOperation.cpp; Spark's
  * ReplaceIntersectWithSemiJoin/ReplaceExceptWithAntiJoin do the
  * identical rewrite) and the subquery/Apply surface
  * (src/QueryPlan/ApplyStep.h:31-42 — correlated scalar/IN/EXISTS
  * decorrelated by rewrite rules; Catalyst decorrelates the same shapes
  * natively). The QUANTIFIED Apply subtype (ALL/ANY comparisons) has no
  * Spark syntax and lowers to MAX/MIN scalar subqueries.
  */
object SetOpsSubqueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "setop_union_distinct",
      (s, dir) => {
        val c = Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val sup = Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        c.union(sup).distinct().orderBy(col("nationkey"))
      },
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey FROM supplier
        ORDER BY nationkey""")),

    QueryDef(
      "setop_union_all",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .select(lit("customer").as("src"), col("c_nationkey").as("nationkey"))
        val sup = Tables(s, dir, "supplier")
          .select(lit("supplier").as("src"), col("s_nationkey").as("nationkey"))
        c.union(sup).groupBy(col("src"), col("nationkey"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("src"), col("nationkey"))
      },
      Some("""
        SELECT src, nationkey, COUNT(*) AS n FROM (
          SELECT 'customer' AS src, c_nationkey AS nationkey FROM customer
          UNION ALL
          SELECT 'supplier', s_nationkey FROM supplier) t
        GROUP BY src, nationkey
        ORDER BY src, nationkey""")),

    QueryDef(
      "setop_intersect",
      (s, dir) => {
        val big = Tables(s, dir, "orders").filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("custkey"))
        val urgent = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("custkey"))
        big.intersect(urgent).orderBy(col("custkey"))
      },
      Some("""
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        ORDER BY custkey""")),

    QueryDef(
      "setop_except",
      (s, dir) => {
        val cust = Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
        val supp = Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
        cust.except(supp).orderBy(col("nationkey"))
      },
      Some("""
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey FROM supplier
        ORDER BY nationkey""")),

    QueryDef(
      "setop_intersect_all",
      (s, dir) => {
        val a = Tables(s, dir, "orders").select(col("o_orderstatus").as("st"))
        val b = Tables(s, dir, "orders").filter(col("o_totalprice") > 200000)
          .select(col("o_orderstatus").as("st"))
        a.intersectAll(b).groupBy(col("st")).agg(count(lit(1)).as("n")).orderBy(col("st"))
      },
      Some("""
        SELECT st, COUNT(*) AS n FROM (
          SELECT o_orderstatus AS st FROM orders
          INTERSECT ALL
          SELECT o_orderstatus FROM orders WHERE o_totalprice > 200000) t
        GROUP BY st
        ORDER BY st""")),

    // Uncorrelated scalar subquery (EnforceSingleRowStep.h:21) — threshold
    // computed via exact decimal so both engines compare against the same double.
    QueryDef.sql(
      "subq_scalar",
      Seq("orders"),
      """
        SELECT COUNT(*) AS n_above_avg,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_above
        FROM orders
        WHERE o_totalprice > (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM orders)"""),

    // IN (subquery) — build side broadcast as an InSubquery semi join.
    QueryDef.sql(
      "subq_in",
      Seq("customer", "orders"),
      """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment"""),

    // Correlated EXISTS (ApplyStep SEMI × EXISTS; Catalyst decorrelates).
    QueryDef.sql(
      "subq_exists_correlated",
      Seq("supplier", "lineitem"),
      """
        SELECT s_nationkey, COUNT(*) AS n_suppliers
        FROM supplier
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        GROUP BY s_nationkey
        ORDER BY s_nationkey"""),

    // Correlated scalar aggregate subquery (Apply SCALAR; decorrelated to
    // an aggregate + join by both optimizers).
    QueryDef.sql(
      "subq_scalar_correlated",
      Seq("supplier"),
      """
        SELECT s_nationkey, COUNT(*) AS n_above_nation_avg
        FROM supplier s1
        WHERE s_acctbal > (
          SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM supplier s2 WHERE s2.s_nationkey = s1.s_nationkey)
        GROUP BY s_nationkey
        ORDER BY s_nationkey"""),

    // NOT IN — null-aware anti join path.
    QueryDef.sql(
      "subq_not_in",
      Seq("part", "lineitem"),
      """
        SELECT p_brand, COUNT(*) AS n_unsold_parts
        FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
        GROUP BY p_brand
        ORDER BY p_brand"""),

    // CTE (TPC-H Q15-like): per-supplier revenue, pick the max via a second
    // reference to the CTE (CTERefStep.h:34).
    QueryDef.sql(
      "cte_top_supplier",
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

    // Quantified comparisons: > ALL / < ANY lowered to MAX/MIN scalar
    // subqueries (legal here: subqueries are non-empty and null-free).
    QueryDef.sql(
      "subq_quantified",
      Seq("part", "orders"),
      """
        SELECT
          (SELECT COUNT(*) FROM part
           WHERE p_retailprice > (SELECT MAX(o_totalprice / 1000.0) FROM orders))
            AS n_above_all,
          (SELECT COUNT(*) FROM part
           WHERE p_retailprice < (SELECT MAX(o_totalprice / 100.0) FROM orders))
            AS n_below_any""",
      Some("""
        SELECT
          (SELECT COUNT(*) FROM part
           WHERE p_retailprice > ALL (SELECT o_totalprice / 1000.0 FROM orders))
            AS n_above_all,
          (SELECT COUNT(*) FROM part
           WHERE p_retailprice < ANY (SELECT o_totalprice / 100.0 FROM orders))
            AS n_below_any""")),

    // EXCEPT ALL — multiset difference, the DISTINCT twin of
    // setop_intersect_all. Spark's native exceptAll plans a left-anti-ish
    // count-matching shape; we aggregate the survivors per key.
    QueryDef(
      "setop_except_all",
      (s, dir) => {
        val a = Tables(s, dir, "orders").select(col("o_orderstatus").as("st"))
        val b = Tables(s, dir, "orders").filter(col("o_totalprice") > 200000)
          .select(col("o_orderstatus").as("st"))
        a.exceptAll(b).groupBy(col("st")).agg(count(lit(1)).as("n")).orderBy(col("st"))
      },
      Some("""
        SELECT st, COUNT(*) AS n FROM (
          SELECT o_orderstatus AS st FROM orders
          EXCEPT ALL
          SELECT o_orderstatus FROM orders WHERE o_totalprice > 200000) t
        GROUP BY st
        ORDER BY st""")))
}
