package graft

class EngineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sql front door: catalog + custom aggregates available in SQL") {
    val df = Engine.sql(spark, dir, """
      SELECT event_type, bitmap_cardinality(group_bitmap(user_id)) AS users
      FROM events GROUP BY event_type ORDER BY event_type""")
    val rows = df.collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("sql front door: funnel aggregate usable from SQL") {
    val df = Engine.sql(spark, dir, """
      SELECT COUNT(CASE WHEN d >= 2 THEN 1 END) AS reached2 FROM (
        SELECT user_id, windowFunnel(604800, ts, event_type = 'signup',
          event_type = 'click', event_type = 'purchase') AS d
        FROM events
        WHERE event_type IN ('signup','click','purchase')
        GROUP BY user_id)""")
    assert(df.collect()(0).getLong(0) > 0)
  }

  test("scalar subquery enforces single row (EnforceSingleRow semantics)") {
    import spark.implicits._
    Seq(1, 2).toDF("x").createOrReplaceTempView("multi_row")
    val e = intercept[Exception] {
      spark.sql("SELECT (SELECT x FROM multi_row) AS v").collect()
    }
    assert(e.getMessage.toLowerCase.contains("more than one row"), e.getMessage)
  }

  test("driver entry produces rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }
}
