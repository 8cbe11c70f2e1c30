package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Unit gates for countByGranularity block semantics (the
  * layout-dependent granularity>1 path that the oracle query can't pin)
  * and the -Stack combinator's cumulative prefixes.
  */
class CountByGranularitySpec extends SparkSpec {
  import spark.implicits._

  test("countByGranularity counts once per granule on a single stream") {
    // granularity 2 over [a, a, b, a]: granule 0 = (a, a) → a once;
    // granule 1 = (b, a) → b once, a again ⇒ a=2, b=1.
    Seq("a", "a", "b", "a").toDF("v").coalesce(1).createOrReplaceTempView("cbg_t")
    val rows = spark.sql("""
      SELECT g.value AS v, g.cnt AS c
      FROM (SELECT countByGranularity(2, v) AS arr FROM cbg_t) t
      LATERAL VIEW explode(arr) ex AS g ORDER BY v""").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 2L), ("b", 1L)))
  }

  test("countByGranularity default granularity dedupes within one block") {
    // 100 rows of 3 distinct values in one partition, default 8192 →
    // single granule → every value counts exactly once.
    (0 until 100).map(i => s"k${i % 3}").toDF("v").coalesce(1)
      .createOrReplaceTempView("cbg_d")
    val rows = spark.sql("""
      SELECT g.value AS v, g.cnt AS c
      FROM (SELECT countByGranularity(v) AS arr FROM cbg_d) t
      LATERAL VIEW explode(arr) ex AS g ORDER BY v""").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("k0", 1L), ("k1", 1L), ("k2", 1L)))
  }

  test("countByGranularity(1, x) is exact value counts across partitionings") {
    val rnd = new Random(23)
    val data = Seq.fill(500)(rnd.nextInt(20).toLong)
    data.toDF("v").repartition(7).createOrReplaceTempView("cbg_p")
    val got = spark.sql("""
      SELECT g.value AS v, g.cnt AS c
      FROM (SELECT countByGranularity(1, v) AS arr FROM cbg_p) t
      LATERAL VIEW explode(arr) ex AS g ORDER BY v""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = data.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    assert(got === want)
  }

  test("sumStack emits cumulative prefix sums keyed by bucket start") {
    val rnd = new Random(29)
    val rows = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(100).toLong))
    rows.toDF("k", "x").repartition(5).createOrReplaceTempView("stack_t")
    val got = spark.sql("""
      SELECT e.ts, e.val
      FROM (SELECT sumStack(0, 40, 10, x, k) AS arr FROM stack_t) t
      LATERAL VIEW explode(arr) ex AS e ORDER BY e.ts""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0 until 4).map { i =>
      (i * 10L, rows.filter(r => r._1 >= 0 && r._1 < (i + 1) * 10).map(_._2).sum)
    }
    assert(got === want)
    // countStack over the same buckets
    val gotC = spark.sql("""
      SELECT e.ts, e.val
      FROM (SELECT countStack(0, 40, 10, x, k) AS arr FROM stack_t) t
      LATERAL VIEW explode(arr) ex AS e ORDER BY e.ts""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wantC = (0 until 4).map { i =>
      (i * 10L, rows.count(r => r._1 >= 0 && r._1 < (i + 1) * 10).toLong)
    }
    assert(gotC === wantC)
  }

  test("-Stack trims the final partial bucket at `end`") {
    // range [0, 25) step 10 → buckets 0,10,20; the last covers only [0,25)
    val rows = (0L until 30L).map(k => (k, 1L))
    rows.toDF("k", "x").createOrReplaceTempView("stack_trim")
    val got = spark.sql("""
      SELECT e.ts, e.val
      FROM (SELECT countStack(0, 25, 10, x, k) AS arr FROM stack_trim) t
      LATERAL VIEW explode(arr) ex AS e ORDER BY e.ts""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((0L, 10L), (10L, 20L), (20L, 25L)))
  }
}
