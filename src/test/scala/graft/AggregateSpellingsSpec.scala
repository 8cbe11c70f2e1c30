package graft

import graft.aggregates.{BitmapAggregates, BitmapExprCalcAgg, BitmapMaxLevelAgg, PathSplitAgg,
  RetentionAgg, WindowFunnelAgg}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Each aggregate has one implementation: its DataFrame Column form and
  * its SQL spelling give the same result on the same table.
  */
class AggregateSpellingsSpec extends SparkSpec {
  import spark.implicits._

  // whole-second timestamps: the SQL windowFunnel compares at seconds
  private lazy val events: DataFrame = {
    val df = Seq(
      (1L, "2024-01-01 00:00:01", "a"), (1L, "2024-01-01 00:00:02", "b"),
      (1L, "2024-01-01 00:00:03", "c"),
      (2L, "2024-01-01 00:00:01", "a"), (2L, "2024-01-01 00:00:05", "b"),
      (2L, "2024-01-01 00:01:00", "c"),
      (3L, "2024-01-01 00:00:04", "b"), (3L, "2024-01-01 00:00:09", "a"),
      (4L, "2024-01-01 00:00:01", "a"), (4L, "2024-01-01 00:00:02", "c"),
      (5L, "2024-01-01 00:00:07", "c"))
      .toDF("u", "ts", "e")
      .selectExpr("u", "CAST(ts AS TIMESTAMP) AS ts", "e")
      .repartition(3)
    df.createOrReplaceTempView("spellings_events")
    df
  }

  private def byUser(df: DataFrame): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  test("windowFunnel: Column form == SQL spelling") {
    val funnel = WindowFunnelAgg.funnel(10L * 1000000, 3) _
    val step = when($"e" === "a", 1).when($"e" === "b", 2).when($"e" === "c", 3)
    val column = byUser(events.groupBy($"u")
      .agg(funnel(unix_micros($"ts"), step)))
    val sql = byUser(spark.sql("""
      SELECT u, windowFunnel(10, ts, e = 'a', e = 'b', e = 'c')
      FROM spellings_events GROUP BY u"""))
    assert(column === Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 1, 5L -> 0))
    assert(sql === column)
  }

  test("retention: Column form == SQL spelling") {
    val column = byUser(events.groupBy($"u")
      .agg(RetentionAgg.retention($"e" === "a", $"e" === "b", $"e" === "c")))
    val sql = byUser(spark.sql("""
      SELECT u, retention(e = 'a', e = 'b', e = 'c')
      FROM spellings_events GROUP BY u"""))
    assert(column(4L) === Seq(1, 0, 1))
    assert(column(5L) === Seq(0, 0, 0))
    assert(sql === column)
  }

  test("bitmapMaxLevel: Column form == SQL spelling") {
    val levels = events
      .withColumn("level", when($"e" === "a", 1L).when($"e" === "b", 2L).otherwise(3L))
      .groupBy("level").agg(BitmapAggregates.groupBitmap($"u").as("bm"))
    levels.createOrReplaceTempView("spellings_levels")
    val column = levels.agg(BitmapMaxLevelAgg.maxLevel($"level", $"bm"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    val sql = spark.sql("SELECT bitmapMaxLevel(level, bm) FROM spellings_levels")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    // users 1, 2, 4, 5 reach level 3; user 3 reaches level 2
    assert(column.map(r => (r.getLong(0), r.getLong(1))) === Seq((1L, 0L), (2L, 1L), (3L, 4L)))
    assert(sql === column)
  }

  test("bitmapMultiCount: Column form over raw ids == SQL spelling over groupBitmap states") {
    val exprs = Seq("a & b", "a | c", "( a & c ) ~ b", "_1 , c")
    val column = events
      .agg(BitmapExprCalcAgg.multiCount(exprs: _*)($"e", $"u"),
        BitmapExprCalcAgg.extract("a ~ b")($"e", $"u"))
      .collect()(0)
    events.groupBy("e").agg(BitmapAggregates.groupBitmap($"u").as("bm"))
      .createOrReplaceTempView("spellings_tags")
    val params = exprs.map(x => s"'$x'").mkString(", ")
    val sql = spark.sql(s"""
      SELECT bitmapMultiCount($params, e, bm), bitmapExtract('a ~ b', e, bm).__bitmap
      FROM spellings_tags""").collect()(0)
    assert(column.getSeq[Long](0) === Seq(3L, 5L, 1L, 5L))
    assert(column.getSeq[Long](1) === Seq(4L))
    assert(sql.getSeq[Long](0) === column.getSeq[Long](0))
    assert(sql.getSeq[Long](1) === column.getSeq[Long](1))
  }

  // (user, ts, index, param): user 1 runs past a depth-2 cap; user 2
  // carries an index above the 3 levels; user 3 a negative ts and a
  // negative index. All of them are nodes of the walk.
  private lazy val pathEvents: DataFrame = {
    val df = Seq(
      (1L, 0L, 1, "a"), (1L, 5L, 0, "c"), (1L, 10L, 2, "d"),
      (2L, 0L, 1, "a"), (2L, 5L, 4, "z"), (2L, 7L, 2, "b"), (2L, 12L, 3, "p"),
      (3L, -10L, 1, "a"), (3L, -5L, -1, "n"), (3L, 0L, 2, "b"),
      (4L, 0L, 0, "c"), (4L, 3L, 2, "b"))
      .toDF("u", "ts", "idx", "param")
      .repartition(3)
    df.createOrReplaceTempView("spellings_paths")
    df
  }

  private def nodes(path: scala.collection.Seq[Row]): Seq[(Int, String)] =
    path.map(r => (r.getInt(0), r.getString(1))).toSeq

  test("funnelPathSplit / funnelPathSplitByTimes: Column form == SQL spelling") {
    for (depth <- Seq(2, 8)) {
      val single = byUser(pathEvents.groupBy($"u").agg(PathSplitAgg
        .funnelPathSplit(100, depth, 3)($"ts", $"idx", $"param")))
        .map { case (u, p) => u -> nodes(p.asInstanceOf[scala.collection.Seq[Row]]) }
      val singleSql = byUser(spark.sql(s"""
        SELECT u, flatten(funnelPathSplit(100, $depth, 3, array(), ts, idx, param))
        FROM spellings_paths GROUP BY u"""))
        .map { case (u, p) => u -> nodes(p.asInstanceOf[scala.collection.Seq[Row]]) }
      val byTimes = byUser(pathEvents.groupBy($"u").agg(PathSplitAgg
        .funnelPathSplitByTimes(100, depth, 3)($"ts", $"idx", $"param")))
        .map { case (u, p) =>
          u -> p.asInstanceOf[scala.collection.Seq[scala.collection.Seq[Row]]].map(nodes).toSeq
        }
      val byTimesSql = byUser(spark.sql(s"""
        SELECT u, funnelPathSplitByTimes(100, $depth, 3, array(), ts, idx, param)
        FROM spellings_paths GROUP BY u"""))
        .map { case (u, p) =>
          u -> p.asInstanceOf[scala.collection.Seq[scala.collection.Seq[Row]]].map(nodes).toSeq
        }
      val neg = Seq((1, "a"), (-1, "n"), (2, "b"))
      if (depth == 2) {
        // paths end at the depth cap; the index-4 node takes a place
        assert(single === Map(1L -> Seq((1, "a"), (0, "c")), 2L -> Seq((1, "a"), (4, "z")),
          3L -> neg.take(2), 4L -> Seq()))
        assert(byTimes === Map(1L -> Seq(Seq((1, "a"), (0, "c"))),
          2L -> Seq(Seq((1, "a"), (4, "z"))), 3L -> Seq(neg.take(2)), 4L -> Seq()))
      } else {
        val deep = Seq((1, "a"), (4, "z"), (2, "b"), (3, "p"))
        assert(single === Map(1L -> Seq((1, "a"), (0, "c"), (2, "d")), 2L -> deep,
          3L -> neg, 4L -> Seq()))
        assert(byTimes === Map(1L -> Seq(Seq((1, "a"), (0, "c"), (2, "d"))),
          2L -> Seq(deep), 3L -> Seq(neg), 4L -> Seq()))
      }
      assert(singleSql === single, s"depth $depth")
      assert(byTimesSql === byTimes, s"depth $depth")
    }
  }
}
