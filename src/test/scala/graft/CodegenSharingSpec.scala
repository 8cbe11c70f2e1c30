package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.sum

/** Generated code is compiled once per JVM, not once per session. Spark
  * keys its compiled-class cache on the task thread's class loader; with
  * per-session artifact isolation on, every `newSession()` child runs its
  * tasks under its own loader and recompiles what a sibling compiled.
  * [[Engine.sharedConf]] turns that off in every session factory, the
  * test session included.
  */
class CodegenSharingSpec extends SparkSpec {

  test("a sibling session reuses the classes another session compiled") {
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // constants no other spec uses, so the first run compiles fresh code
    def query(s: org.apache.spark.sql.SparkSession): Seq[(Long, Long)] =
      s.range(0, 2000, 1, 2)
        .selectExpr("id % 17 AS g", "id * 7919 AS v")
        .groupBy("g").agg(sum("v").as("s"))
        .orderBy("g").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = spark.newSession()
    val b = spark.newSession()
    val before = compiles
    val ra = query(a)
    val afterA = compiles
    assert(afterA > before, "the first run must compile its code")
    val rb = query(b)
    assert(rb == ra)
    assert(compiles == afterA,
      s"the second session compiled ${compiles - afterA} classes again")
  }
}
