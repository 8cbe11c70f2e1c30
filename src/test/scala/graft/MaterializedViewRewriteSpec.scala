package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.plans.MaterializedViews

/** Gates for the transparent MV rewrite (plans/MaterializedViewRewrite):
  * results must match the direct plan, the rewritten plan must scan the
  * MV parquet (not the base table), and every guardrail case must keep
  * the original plan. Double sums are compared with an ulp-scale
  * tolerance — the MV path re-associates double addition (the gate query
  * `mv_rewrite_rollup` uses decimal measures instead, where both paths are
  * exact).
  */
class MaterializedViewRewriteSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val tmp = tempDir("graft_mv").toString

  // probe the OPTIMIZED logical plan — that is where the rewrite runs;
  // the physical plan hides its tree inside AdaptiveSparkPlanExec
  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    MaterializedViews.rootPaths(df.queryExecution.optimizedPlan).toSeq

  private def sameRows(a: Seq[Row], b: Seq[Row]): Unit = {
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      (0 until x.length).foreach { i =>
        (x.get(i), y.get(i)) match {
          case (d1: Double, d2: Double) =>
            assert(math.abs(d1 - d2) <= math.max(1e-9, 1e-9 * math.abs(d2)),
              s"col $i: $d1 vs $d2")
          case (v1, v2) => assert(v1 === v2)
        }
      }
    }
  }

  private def registerMv(): Unit = {
    val li = Tables(spark, sfDir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    MaterializedViews.create(spark, "li_mv", li,
      Seq("l_returnflag", "l_linestatus", "l_suppkey"),
      Seq("l_quantity", "l_extendedprice", "l_linenumber"),
      s"$tmp/li_mv")
  }

  private def rewrittenVsDirect(q: String): Unit = {
    registerMv()
    try {
      val df = spark.sql(q)
      val paths = scannedPaths(df)
      assert(paths.exists(_.contains("li_mv")), s"expected MV scan, got $paths")
      assert(!paths.exists(_.contains("lineitem.parquet")))
      val got = df.collect().toSeq
      MaterializedViews.drop("li_mv")
      sameRows(got, spark.sql(q).collect().toSeq)
    } finally MaterializedViews.drop("li_mv")
  }

  test("rollup to a coarser grouping reads the MV and matches the direct result") {
    rewrittenVsDirect(
      """SELECT l_returnflag, l_linestatus,
                SUM(l_quantity) AS sq, MIN(l_quantity) AS mnq,
                MAX(l_extendedprice) AS mxp, COUNT(*) AS n,
                AVG(l_linenumber) AS avg_ln
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")
  }

  test("filters on group columns ride the MV scan") {
    rewrittenVsDirect(
      """SELECT l_linestatus, COUNT(*) AS n, SUM(l_extendedprice) AS s
         FROM lineitem WHERE l_returnflag <> 'N' GROUP BY 1 ORDER BY 1""")
  }

  test("global (ungrouped) aggregate rolls up from the MV") {
    rewrittenVsDirect("SELECT COUNT(*) AS n, SUM(l_quantity) AS s FROM lineitem")
  }

  test("guardrails: underivable shapes keep the base-table plan") {
    registerMv()
    try {
      def notRewritten(q: String): Unit =
        assert(scannedPaths(spark.sql(q)).forall(!_.contains("li_mv")), q)
      // aggregate on a non-measure column
      notRewritten("SELECT l_returnflag, SUM(l_tax) FROM lineitem GROUP BY 1")
      // grouping by a non-MV column
      notRewritten("SELECT l_partkey, COUNT(*) FROM lineitem GROUP BY 1")
      // filter on a non-group column
      notRewritten(
        "SELECT l_returnflag, COUNT(*) FROM lineitem WHERE l_quantity > 10 GROUP BY 1")
      // DISTINCT aggregate
      notRewritten(
        "SELECT l_returnflag, COUNT(DISTINCT l_quantity) FROM lineitem GROUP BY 1")
      // aggregate over an expression of a measure, not the bare column
      notRewritten(
        "SELECT l_returnflag, SUM(l_quantity * 2) FROM lineitem GROUP BY 1")
      // count of a nullable column (null-count is not in the MV state)
      notRewritten("SELECT l_returnflag, COUNT(l_quantity) FROM lineitem GROUP BY 1")
    } finally MaterializedViews.drop("li_mv")
  }

  test("create() rejects a base that is not a bare scan") {
    val li = Tables(spark, sfDir, "lineitem")
    def rejected(base: org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalArgumentException] {
        MaterializedViews.create(spark, "bad_mv", base,
          Seq("l_returnflag"), Seq("l_quantity"), s"$tmp/bad_mv")
      }
      assert(e.getMessage.contains("bare table scan"), e.getMessage)
      assert(!MaterializedViews.all.exists(_.name == "bad_mv"),
        "a rejected MV must not be registered")
    }
    // filtered base: rootPaths match the raw table, so a full-table
    // aggregate would silently read the filtered rollup
    rejected(li.filter("l_quantity > 10"))
    rejected(li.join(Tables(spark, sfDir, "orders"),
      li("l_orderkey") === col("o_orderkey")))
    rejected(li.groupBy("l_returnflag").count())
    // but a column-pruning projection over the scan is fine
    MaterializedViews.create(spark, "ok_mv",
      li.select("l_returnflag", "l_quantity"),
      Seq("l_returnflag"), Seq("l_quantity"), s"$tmp/ok_mv")
    try assert(MaterializedViews.all.exists(_.name == "ok_mv"))
    finally MaterializedViews.drop("ok_mv")
  }
}
