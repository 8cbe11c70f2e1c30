package graft.queries

import graft.QueryDef

/** Star Schema Benchmark — the reference's second optimizer plan-gate
  * corpus (reference tests/optimizers/ssb/queries/ q1–q13, i.e.
  * SSB flights 1.1–4.3; stats profiles ssb100/ssb1000). SSB's lineorder
  * fact is TPC-H lineitem⋈orders denormalized, so the corpus maps onto
  * the driver's tables with a shared CTE prelude:
  *
  *   - lineorder: lineitem JOIN orders on orderkey; LO_DISCOUNT is
  *     SSB's integer percent (round(l_discount*100)), LO_REVENUE the
  *     discounted price, LO_SUPPLYCOST a deterministic 60% surrogate
  *     (no partsupp table in the driver's testdata).
  *   - cust_d / supp_d: customer/supplier denormalized through
  *     nation→region (SSB stores region/nation/city on the dim row);
  *     city = nation name + custkey/suppkey mod 10, mirroring SSB's
  *     nation-prefixed city names.
  *   - part_d: mfgr/category/brand1 hierarchy from p_type prefix,
  *     p_brand, and p_brand+size — same 3-level drilldown the four
  *     q2.x/q4.x flights exercise.
  *
  * Every query is ONE SQL text run VERBATIM on both Spark and the
  * DuckDB oracle. Aggregated doubles go through the decimal-quantize-
  * then-DOUBLE convention (see graft.Num); ORDER BY carries full
  * tiebreakers.
  *
  * Scale shape (the reason SSB is a plan gate): the fact table joins
  * 1–3 small denormalized dims — every dim join must broadcast (no
  * fact shuffle), every flight-1 filter must push into the fact scan.
  * PlanSpec asserts the broadcasts; GoldenPlanSpec pins one plan per
  * flight.
  */
object SsbCorpus {

  /** lineitem⋈orders is a fact-side join on the fact's own key — at
    * 100 TB this is the one genuinely big shuffle, and it is shared
    * text across all 13 queries so a real deployment would materialize
    * it once (the reference materializes lineorder physically).
    */
  private val prelude = """
    WITH lineorder AS (
      SELECT o_custkey AS lo_custkey, l_partkey AS lo_partkey,
             l_suppkey AS lo_suppkey, o_orderdate AS lo_orderdate,
             l_quantity AS lo_quantity, l_extendedprice AS lo_extendedprice,
             CAST(ROUND(l_discount * 100) AS INT) AS lo_discount,
             l_extendedprice * l_discount AS lo_rev_disc,
             l_extendedprice * (1 - l_discount) AS lo_revenue,
             l_extendedprice * 0.6 AS lo_supplycost
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    cust_d AS (
      SELECT c_custkey, n_name AS c_nation, r_name AS c_region,
             concat(n_name, '_', CAST(c_custkey % 10 AS VARCHAR(2))) AS c_city
      FROM customer JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey),
    supp_d AS (
      SELECT s_suppkey, n_name AS s_nation, r_name AS s_region,
             concat(n_name, '_', CAST(s_suppkey % 10 AS VARCHAR(2))) AS s_city
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey),
    part_d AS (
      SELECT p_partkey, substring(p_type, 1, 6) AS p_mfgr,
             p_brand AS p_category,
             concat(p_brand, '-', lpad(CAST(p_size % 40 AS VARCHAR(2)), 2, '0')) AS p_brand1
      FROM part)
    """

  private val allTables =
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region")

  private def ssb(name: String, body: String): QueryDef =
    QueryDef.sql(name, allTables, prelude + body)

  val defs: Seq[QueryDef] = Seq(

    // Flight 1 (q1.1–q1.3): single-table revenue scans — the whole
    // point is that every predicate pushes into the fact scan and no
    // dim is touched.
    ssb("ssb_q1_1", """
      SELECT CAST(SUM(CAST(lo_rev_disc AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineorder
      WHERE YEAR(lo_orderdate) = 1996
        AND lo_discount BETWEEN 1 AND 3 AND lo_quantity < 25"""),

    ssb("ssb_q1_2", """
      SELECT CAST(SUM(CAST(lo_rev_disc AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineorder
      WHERE YEAR(lo_orderdate) * 100 + MONTH(lo_orderdate) = 199601
        AND lo_discount BETWEEN 4 AND 6 AND lo_quantity BETWEEN 26 AND 35"""),

    ssb("ssb_q1_3", """
      SELECT CAST(SUM(CAST(lo_rev_disc AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineorder
      WHERE WEEKOFYEAR(lo_orderdate) = 6 AND YEAR(lo_orderdate) = 1996
        AND lo_discount BETWEEN 5 AND 7 AND lo_quantity BETWEEN 26 AND 35"""),

    // Flight 2 (q2.1–q2.3): part×supplier star, 3-level brand drilldown.
    ssb("ssb_q2_1", """
      SELECT CAST(SUM(CAST(lo_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             YEAR(lo_orderdate) AS d_year, p_brand1
      FROM lineorder
      JOIN part_d ON lo_partkey = p_partkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      WHERE p_category = 'Brand#12' AND s_region = 'AMERICA'
      GROUP BY YEAR(lo_orderdate), p_brand1
      ORDER BY d_year, p_brand1"""),

    ssb("ssb_q2_2", """
      SELECT CAST(SUM(CAST(lo_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             YEAR(lo_orderdate) AS d_year, p_brand1
      FROM lineorder
      JOIN part_d ON lo_partkey = p_partkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      WHERE p_brand1 BETWEEN 'Brand#22-01' AND 'Brand#22-08' AND s_region = 'ASIA'
      GROUP BY YEAR(lo_orderdate), p_brand1
      ORDER BY d_year, p_brand1"""),

    ssb("ssb_q2_3", """
      SELECT CAST(SUM(CAST(lo_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             YEAR(lo_orderdate) AS d_year, p_brand1
      FROM lineorder
      JOIN part_d ON lo_partkey = p_partkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      WHERE p_brand1 = 'Brand#22-05' AND s_region = 'EUROPE'
      GROUP BY YEAR(lo_orderdate), p_brand1
      ORDER BY d_year, p_brand1"""),

    // Flight 3 (q3.1–q3.4): customer×supplier geography drilldown,
    // ORDER BY year asc, revenue desc (tiebreakers added for the gate).
    ssb("ssb_q3_1", """
      SELECT c_nation, s_nation, YEAR(lo_orderdate) AS d_year,
             CAST(SUM(CAST(lo_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineorder
      JOIN cust_d ON lo_custkey = c_custkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      WHERE c_region = 'ASIA' AND s_region = 'ASIA'
        AND YEAR(lo_orderdate) BETWEEN 1996 AND 1999
      GROUP BY c_nation, s_nation, YEAR(lo_orderdate)
      ORDER BY d_year ASC, revenue DESC, c_nation, s_nation"""),

    ssb("ssb_q3_2", """
      SELECT c_city, s_city, YEAR(lo_orderdate) AS d_year,
             CAST(SUM(CAST(lo_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineorder
      JOIN cust_d ON lo_custkey = c_custkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      WHERE c_nation = 'NATION_3' AND s_nation = 'NATION_3'
        AND YEAR(lo_orderdate) BETWEEN 1996 AND 1999
      GROUP BY c_city, s_city, YEAR(lo_orderdate)
      ORDER BY d_year ASC, revenue DESC, c_city, s_city"""),

    ssb("ssb_q3_3", """
      SELECT c_city, s_city, YEAR(lo_orderdate) AS d_year,
             CAST(SUM(CAST(lo_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineorder
      JOIN cust_d ON lo_custkey = c_custkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      WHERE c_city IN ('NATION_3_1', 'NATION_3_5')
        AND s_city IN ('NATION_3_1', 'NATION_3_5')
        AND YEAR(lo_orderdate) BETWEEN 1996 AND 1999
      GROUP BY c_city, s_city, YEAR(lo_orderdate)
      ORDER BY d_year ASC, revenue DESC, c_city, s_city"""),

    ssb("ssb_q3_4", """
      SELECT c_city, s_city, YEAR(lo_orderdate) AS d_year,
             CAST(SUM(CAST(lo_revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineorder
      JOIN cust_d ON lo_custkey = c_custkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      WHERE c_city IN ('NATION_3_1', 'NATION_3_5')
        AND s_city IN ('NATION_3_1', 'NATION_3_5')
        AND YEAR(lo_orderdate) * 100 + MONTH(lo_orderdate) = 199712
      GROUP BY c_city, s_city, YEAR(lo_orderdate)
      ORDER BY d_year ASC, revenue DESC, c_city, s_city"""),

    // Flight 4 (q4.1–q4.3): three-dim profit star — the widest fan-out;
    // all three dims must broadcast.
    ssb("ssb_q4_1", """
      SELECT YEAR(lo_orderdate) AS d_year, c_nation,
             CAST(SUM(CAST(lo_revenue - lo_supplycost AS DECIMAL(18,4))) AS DOUBLE) AS profit
      FROM lineorder
      JOIN cust_d ON lo_custkey = c_custkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      JOIN part_d ON lo_partkey = p_partkey
      WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
        AND p_mfgr IN ('ECONOM', 'STANDA')
      GROUP BY YEAR(lo_orderdate), c_nation
      ORDER BY d_year, c_nation"""),

    ssb("ssb_q4_2", """
      SELECT YEAR(lo_orderdate) AS d_year, s_nation, p_category,
             CAST(SUM(CAST(lo_revenue - lo_supplycost AS DECIMAL(18,4))) AS DOUBLE) AS profit
      FROM lineorder
      JOIN cust_d ON lo_custkey = c_custkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      JOIN part_d ON lo_partkey = p_partkey
      WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
        AND YEAR(lo_orderdate) IN (1997, 1998)
        AND p_mfgr IN ('ECONOM', 'STANDA')
      GROUP BY YEAR(lo_orderdate), s_nation, p_category
      ORDER BY d_year, s_nation, p_category"""),

    ssb("ssb_q4_3", """
      SELECT YEAR(lo_orderdate) AS d_year, s_city, p_brand1,
             CAST(SUM(CAST(lo_revenue - lo_supplycost AS DECIMAL(18,4))) AS DOUBLE) AS profit
      FROM lineorder
      JOIN cust_d ON lo_custkey = c_custkey
      JOIN supp_d ON lo_suppkey = s_suppkey
      JOIN part_d ON lo_partkey = p_partkey
      WHERE c_region = 'AMERICA' AND s_nation = 'NATION_14'
        AND YEAR(lo_orderdate) IN (1997, 1998)
      GROUP BY YEAR(lo_orderdate), s_city, p_brand1
      ORDER BY d_year, s_city, p_brand1""")
  )
}
