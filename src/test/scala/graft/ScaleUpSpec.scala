package graft

import graft.tools.ScaleUp
import org.apache.spark.sql.functions._

/** ScaleUp's copies must keep every foreign key joined to its parent in
  * the same copy, so an N× corpus does N× the join work, and no copy may
  * duplicate another copy's vectors or event ids.
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

  /** The ScaleUp offsets of `table` alone, over ScaleUp's own domains. */
  private def ownOffsets(table: String, df: org.apache.spark.sql.DataFrame) =
    ScaleUp.offsets(Map(table -> df), ScaleUp.keyDomains.filter(_.forall(_._1 == table)))(table)

  test("embedding copy i differs from copy 0 only in dimension 0, by i·1e-4") {
    val src = spark.range(1, 41).select(col("id").as("vec_id"),
      array((0 until 4).map(j => (sin(col("id") * (j + 1))).cast("float")): _*).as("embedding"),
      (col("id") % 3).cast("int").as("label"))
    val offs = ownOffsets("embeddings", src)
    assert(offs == Map("vec_id" -> 100L))
    val copies = 3
    val rows = ScaleUp.replicate(src, offs, copies, ScaleUp.copyRules("embeddings")).collect()
    assert(rows.length == copies * 40)
    val byId = src.collect().map(r => r.getLong(0) -> r).toMap
    def vec(r: org.apache.spark.sql.Row) = r.getSeq[Float](1)
    for (r <- rows) {
      val i = (r.getLong(0) / 100).toInt
      val orig = byId(r.getLong(0) - 100L * i)
      assert(r.getInt(2) == orig.getInt(2))
      assert(vec(r).tail == vec(orig).tail, s"copy $i moved a dimension past 0")
      if (i == 0) assert(vec(r).head == vec(orig).head, "copy 0 changed")
      else assert(math.abs(vec(r).head - vec(orig).head - i * 1e-4) < 1e-6,
        s"copy $i: ${vec(r).head} vs ${vec(orig).head}")
    }
    // no vector repeats across copies
    assert(rows.map(vec).distinct.length == rows.length)
  }

  test("events.event_id is its own key domain, shifted per copy") {
    val src = spark.range(0, 300).select((col("id") * 20 + 7).as("event_id"),
      (col("id") % 50).as("user_id"), lit("view").as("event_type"))
    val offs = ownOffsets("events", src)
    assert(offs == Map("user_id" -> 100L, "event_id" -> 10000L))
    val copies = 4
    val scaled = ScaleUp.replicate(src, offs, copies)
    assert(scaled.select("event_id").distinct().count() == copies * 300)
    val shifted = scaled.select((col("event_id") % 10000).as("e"),
      (col("event_id") / 10000).cast("int").as("copy"), (col("user_id") / 100).cast("int").as("ucopy"))
    // each event keeps its id within the copy, and both keys agree on the copy
    assert(shifted.filter(col("copy") =!= col("ucopy")).count() == 0)
    assert(shifted.groupBy("e").count().filter(col("count") =!= copies).count() == 0)
  }
}
