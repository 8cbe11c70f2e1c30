package graft

import graft.aggregates.{BitmapCorpusExpr, BitmapExprCalcAgg}
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Parser + evaluator gates for the bitmap expression calculation. */
class BitmapExprSpec extends SparkSpec {
  import BitmapCorpusExpr.{eval, parse}
  import spark.implicits._

  private def bm(xs: Long*): Roaring64NavigableMap = {
    val b = new Roaring64NavigableMap()
    xs.foreach(b.addLong)
    b
  }

  private val env = Map(
    "A" -> bm(1, 2, 3, 4), "B" -> bm(3, 4, 5), "C" -> bm(4, 6), "7" -> bm(7))

  private def ids(e: String): Seq[Long] = {
    val r = eval(parse(e, maxRef = 0), env, IndexedSeq.empty)
    val out = Seq.newBuilder[Long]
    val it = r.getLongIterator
    while (it.hasNext) out += it.next()
    out.result()
  }

  test("operators, comma-or, parens, left associativity") {
    assert(ids("A & B") === Seq(3, 4))
    assert(ids("A | C") === Seq(1, 2, 3, 4, 6))
    assert(ids("A , C") === Seq(1, 2, 3, 4, 6))
    assert(ids("A ~ B") === Seq(1, 2))
    // Left-assoc single precedence: (A & B) | C, not A & (B | C).
    assert(ids("A & B | C") === Seq(3, 4, 6))
    assert(ids("A & ( B | C )") === Seq(3, 4))
    // Chained andnot folds left: (A ~ B) ~ C.
    assert(ids("A ~ B ~ C") === Seq(1, 2))
    // Self-difference is empty; unknown keys are empty sets.
    assert(ids("A ~ A") === Seq())
    assert(ids("A & missing") === Seq())
    // Integer-looking keys are plain tags.
    assert(ids("7 | C") === Seq(4, 6, 7))
  }

  test("malformed expressions are rejected loudly") {
    intercept[IllegalArgumentException](parse("A &", maxRef = 0))
    intercept[IllegalArgumentException](parse("( A | B", maxRef = 0))
    intercept[IllegalArgumentException](parse("A B", maxRef = 0))
  }

  test("aggregate prunes tags outside the expression and merges across partitions") {
    val df = Seq(
      ("a", 1L), ("a", 2L), ("b", 2L), ("b", 9L), ("junk", 5L), ("junk", 6L))
      .toDF("tag", "v").repartition(4)
    val cnt = BitmapExprCalcAgg.count("a & b") _
    assert(df.agg(cnt(col("tag"), col("v"))).as[Long].head() === 1L)
    val ex = BitmapExprCalcAgg.extract("a | b") _
    assert(df.agg(ex(col("tag"), col("v"))).as[Seq[Long]].head() === Seq(1L, 2L, 9L))
  }
}
