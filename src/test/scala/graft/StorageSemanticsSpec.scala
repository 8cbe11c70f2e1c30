package graft

import graft.operators.{Mutations, SkewJoin, Upsert}
import org.apache.spark.sql.functions._

class StorageSemanticsSpec extends SparkSpec {
  import spark.implicits._

  test("upsert latestByVersion: last writer wins, tiebreak on id") {
    val df = Seq(
      (1L, "a", 10L, 100L), (1L, "a", 20L, 101L), // v20 wins
      (1L, "b", 5L, 102L),
      (2L, "a", 7L, 103L), (2L, "a", 7L, 104L)    // equal version → higher id
    ).toDF("k1", "k2", "v", "id")
    val res = Upsert.latestByVersion(df, Seq("k1", "k2"), "v", "id")
      .select($"k1", $"k2", $"id").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(res === Map((1L, "a") -> 101L, (1L, "b") -> 102L, (2L, "a") -> 104L))
  }

  test("sampleByKey is deterministic and roughly proportional") {
    val df = spark.range(10000).toDF("k")
    val n1 = df.filter(Upsert.sampleByKey($"k", take = 2)).count()
    val n2 = df.filter(Upsert.sampleByKey($"k", take = 2)).count()
    assert(n1 === n2)
    assert(n1 > 800 && n1 < 1700) // ~2/16 = 12.5%
  }

  test("mutations: UPDATE and DELETE as table rewrite") {
    val dir = tempDir("graft_mut").toString + "/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "grp", "v").write.parquet(dir)
    Mutations.rewrite(spark, dir, df =>
      Mutations.delete(
        Mutations.update(df, $"grp" === "a", Map("v" -> ($"v" * 2))),
        $"id" === 2L))
    val rows = spark.read.parquet(dir).orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows === Array((1L, 20.0), (3L, 60.0)))
  }

  test("TTL sweep drops only expired rows, null timestamps survive") {
    import graft.operators.Mutations
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, Some(ts("2024-01-01 00:00:00"))),
      (2L, Some(ts("2024-03-01 00:00:00"))),
      (3L, None),
      (4L, Some(ts("2024-02-09 00:00:00"))) // exactly at the TTL boundary
    ).toDF("id", "ts")
    val kept = Mutations.applyTtl(df, $"ts", "30 DAYS",
        lit(ts("2024-03-10 00:00:00")))
      .select($"id").as[Long].collect().sorted
    // id 1 expired; null ts never expires; id 4 at the exact boundary is
    // expired too — reference TTL is inclusive (ttl_time <= now).
    assert(kept === Array(2L, 3L))
  }

  test("compact: small files merge to the target count, data byte-identical") {
    import graft.operators.Mutations
    val dir = tempDir("graft_compact").toString + "/t"
    val df = (1 to 5000).map(i => (i.toLong, s"row_$i", i * 1.5)).toDF("id", "name", "v")
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val before = spark.read.parquet(dir)
    val beforeSum = before.agg(sum($"v")).collect()(0).getDouble(0)
    val nFiles = Mutations.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(nFiles < 64, s"expected fewer files after compaction, got $nFiles")
    val after = spark.read.parquet(dir)
    assert(after.count() === 5000)
    assert(after.agg(sum($"v")).collect()(0).getDouble(0) === beforeSum)
    assert(after.exceptAll(df).isEmpty && df.exceptAll(after).isEmpty)
  }

  test("salted join matches plain join results under skew") {
    val left = Seq.fill(5000)((1L, "hot")).toDF("k", "tag")
      .union(Seq((2L, "cold")).toDF("k", "tag"))
    val right = Seq((1L, 10.0), (2L, 20.0)).toDF("rk", "w")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", "rk", salt = 8)
    val plain = left.join(right, $"k" === $"rk")
    assert(salted.count() === plain.count())
    assert(salted.agg(sum($"w")).collect()(0).getDouble(0) ===
      plain.agg(sum($"w")).collect()(0).getDouble(0))
  }
}
