package graft

import graft.aggregates.{BitmapAggregates, BitmapLevels, BitmapMaxLevelAgg}
import org.apache.spark.sql.functions._

/** bitmapMaxLevel / bitmapColumnDiff vs a naive set-based model. */
class BitmapLevelsSpec extends SparkSpec {
  import spark.implicits._

  // (key, member) rows → per-key groupBitmap → the aggregate under test.
  private def keyed(rows: Seq[(Long, Long)]) =
    rows.toDF("k", "id")
      .groupBy("k")
      .agg(BitmapAggregates.groupBitmap(col("id")).as("bm"))

  test("bitmapMaxLevel counts each id only at its deepest level") {
    // id 1 reaches level 3, id 2 level 2, ids 3,4 level 1; level 2 also
    // contains id 1 (must be deduped away), level 1 contains everyone.
    val rows = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 1L), (2L, 2L),
      (3L, 1L))
    val out = keyed(rows)
      .agg(BitmapMaxLevelAgg.maxLevel(col("k"), col("bm")).as("r"))
      .select(explode($"r").as("lu"))
      .select($"lu.col1", $"lu.col2")
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("bitmapMaxLevel keeps emptied levels with zero count") {
    // Every level-1 member also appears at level 2.
    val rows = Seq((1L, 7L), (1L, 8L), (2L, 7L), (2L, 8L))
    val out = keyed(rows)
      .agg(BitmapMaxLevelAgg.maxLevel(col("k"), col("bm")).as("r"))
      .select(explode($"r").as("lu"))
      .select($"lu.col1", $"lu.col2")
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 0L), (2L, 2L)))
  }

  private def diffOut(rows: Seq[(Long, Long)], dir: String, step: Int) =
    keyed(rows)
      .agg(BitmapLevels.columnDiff(dir, step)(col("k"), col("bm")).as("r"))
      .select(explode($"r").as("kd"))
      .select($"kd.key", $"kd.diffs")
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)

  // day 0: {1,2,3}; day 1: {2,3}; day 2: {3,9}
  private val days = Seq(
    (0L, 1L), (0L, 2L), (0L, 3L),
    (1L, 2L), (1L, 3L),
    (2L, 3L), (2L, 9L))

  test("bitmapColumnDiff forward step 1: lost vs next key, trailing zero") {
    assert(diffOut(days, "forward", 1) ===
      Seq((0L, Seq(1L)), (1L, Seq(1L)), (2L, Seq(0L))))
  }

  test("bitmapColumnDiff backward step 1: new vs previous key, leading zero") {
    assert(diffOut(days, "backward", 1) ===
      Seq((0L, Seq(0L)), (1L, Seq(0L)), (2L, Seq(1L))))
  }

  test("bitmapColumnDiff bidirection emits [forward, backward]") {
    assert(diffOut(days, "bidirection", 1) ===
      Seq((0L, Seq(1L, 0L)), (1L, Seq(1L, 0L)), (2L, Seq(0L, 1L))))
  }

  test("bitmapColumnDiff positional stepping skips key gaps") {
    // keys 0 and 10 — step 1 compares them positionally despite the gap
    val rows = Seq((0L, 1L), (0L, 2L), (10L, 2L))
    assert(diffOut(rows, "forward", 1) ===
      Seq((0L, Seq(1L)), (10L, Seq(0L))))
  }
}
