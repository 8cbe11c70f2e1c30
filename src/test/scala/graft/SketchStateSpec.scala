package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** -State binary buffers are first-class table data (SURVEY §1.2, the
  * reference's AggregateFunction(...) column type / SketchBinary,
  * /root/reference/src/DataTypes/DataTypeSketchBinary.h:8): a partial
  * aggregate state written to parquet must read back byte-identical and
  * -Merge to the same result as merging the in-memory states — the
  * materialized-view parity the reference relies on for incremental
  * rollups. (A one-shot sketch over the raw rows may differ slightly
  * from a union of partials — HLL's single-stream HIP estimator is
  * path-dependent by design — so parity is stored-vs-inmemory and
  * error-bounded vs exact, not sketch-vs-sketch bit equality.)
  */
class SketchStateSpec extends SparkSpec {
  import spark.implicits._

  test("HLL -State column round-trips through parquet and -Merges identically") {
    val raw = (1 to 5000).map(i => (i % 7, s"user_${i % 731}")).toDF("g", "u")
      .repartition(4)

    // Partial states at (g, bucket) granularity — the MV write path.
    val dir = tempDir("hll_state").toString
    val partials = raw.withColumn("bucket", pmod(crc32($"u"), lit(13)))
      .groupBy($"g", $"bucket")
      .agg(hll_sketch_agg($"u").as("state"))
    partials.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)

    // 1. The state column persists as plain BinaryType and the bytes are
    //    lossless: same multiset of (g, bucket, state-bytes) either side.
    assert(back.schema("state").dataType === BinaryType)
    def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Long)] =
      df.select($"g", $"bucket".cast("int"), crc32(hex($"state")).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(fingerprint(back) === fingerprint(partials))

    // 2. Merging the read-back states equals merging the in-memory ones.
    def mergeEst(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      df.groupBy($"g")
        .agg(hll_sketch_estimate(hll_union_agg($"state")).as("est"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mergedStored = mergeEst(back)
    assert(mergedStored === mergeEst(partials))

    // 3. The merged estimate stays inside HLL's error envelope vs exact.
    val exact = raw.groupBy($"g").agg(countDistinct($"u").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      val err = math.abs(mergedStored(g).toDouble - n) / n
      assert(err < 0.05, s"group $g: merged ${mergedStored(g)} vs exact $n")
    }

    // 4. Incremental refresh parity: stored states + a new delta's states
    //    merge to the same result as recomputing every partial fresh.
    val delta = (5001 to 6000).map(i => (i % 7, s"user_${i % 977}")).toDF("g", "u")
    def states(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", pmod(crc32($"u"), lit(13)))
        .groupBy($"g", $"bucket").agg(hll_sketch_agg($"u").as("state"))
    val incr = mergeEst(back.unionByName(states(delta)))
    val fresh = mergeEst(states(raw).unionByName(states(delta)))
    assert(incr === fresh)
  }
}
