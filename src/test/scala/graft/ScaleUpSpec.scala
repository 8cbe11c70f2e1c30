package graft

import graft.tools.ScaleUp
import org.apache.spark.sql.functions._

/** ScaleUp's copies must keep every foreign key joined to its parent in
  * the same copy, so an N× corpus does N× the join work.
  */
class ScaleUpSpec extends SparkSpec {

  test("one offset per key domain keeps child ⋈ parent at exactly copies × source") {
    // parent max key 100, child max foreign key 99: per-column offsets
    // would land on different powers of ten (1000 vs 100)
    val parent = spark.range(1, 101).select(col("id").as("pk"))
    val child = spark.range(0, 500).select((col("id") % 99 + 1).as("fk"))
    val tables = Map("parent" -> parent, "child" -> child)
    val offs = ScaleUp.offsets(tables, Seq(Seq("parent" -> "pk", "child" -> "fk")))
    assert(offs == Map("parent" -> Map("pk" -> 1000L), "child" -> Map("fk" -> 1000L)))
    def joined(p: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      c.join(p, c("fk") === p("pk")).count()
    val copies = 3
    val scaled = joined(ScaleUp.replicate(parent, offs("parent"), copies),
      ScaleUp.replicate(child, offs("child"), copies))
    assert(scaled == copies * joined(parent, child))
  }
}
