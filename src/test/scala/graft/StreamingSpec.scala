package graft

import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Exactly-once semantics of the checkpointed incremental sink — the
  * MV-over-stream parity the reference gets from offsets-in-catalog.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("incremental sink consumes each source file exactly once") {
    val src = tempDir("graft_stream_src").toString
    val sink = tempDir("graft_stream_sink").toString + "/out"
    val ckpt = tempDir("graft_stream_ckpt").toString

    Seq((1L, "click", 1.0), (2L, "purchase", 2.0), (3L, "purchase", 3.0))
      .toDF("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(src)

    def run(): Unit = StreamingPipeline.incrementalSink(spark, src, sink, ckpt)(
      _.filter(col("event_type") === "purchase").select($"event_id", $"value"))

    run()
    assert(spark.read.parquet(sink).count() === 2)

    // Re-run with no new data: checkpoint says everything is consumed.
    run()
    assert(spark.read.parquet(sink).count() === 2)

    // New source file: only its rows land, exactly once.
    Seq((4L, "purchase", 4.0), (5L, "view", 5.0))
      .toDF("event_id", "event_type", "value")
      .write.mode("append").parquet(src)
    run()
    val out = spark.read.parquet(sink)
    assert(out.count() === 3)
    assert(out.select("event_id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))
  }

  test("streaming bucketed AUC is bit-identical to the batch fastAuc3 aggregate") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingPipeline
      .bucketedAuc(spark, dir, s"sauc_spec_${System.nanoTime()}")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    Tables(spark, dir, "events").createOrReplaceTempView("events")
    val batch = spark.sql("""
      SELECT CAST(user_id % 4 AS INT) AS cohort,
             CAST(CAST(ROUND(fastAuc3(25.0, 0.0, 500.0, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 6)
               AS DECIMAL(18,6)) AS DOUBLE) AS auc
      FROM events WHERE value IS NOT NULL
      GROUP BY CAST(user_id % 4 AS INT)
      ORDER BY cohort""")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "the streaming histogram + rank-sum fold must equal the batch aggregate")
  }

  test("live view: snapshot tracks appended source data and matches batch") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempDir("graft_lv_src").toString + "/t"
    Seq((1L, "click", 1.0), (2L, "view", 2.0), (3L, "click", 3.0))
      .toDF("event_id", "event_type", "value")
      .write.parquet(src)

    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val viewQuery = stream.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_v"))
    val q = graft.streaming.LiveView.create("lv_counts", viewQuery,
      Trigger.AvailableNow())
    try {
      q.awaitTermination() // AvailableNow: one refresh, then stops
      def snapshot() = graft.streaming.LiveView.watch(spark, "lv_counts")
        .orderBy($"event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(snapshot() === Seq(("click", 2L, 4.0), ("view", 1L, 2.0)))

      // New source data: a fresh refresh folds it into the SAME named
      // snapshot (complete mode replaces atomically).
      Seq((4L, "view", 4.0)).toDF("event_id", "event_type", "value")
        .write.mode("append").parquet(src)
      val q2 = graft.streaming.LiveView.create("lv_counts", viewQuery,
        Trigger.AvailableNow())
      try {
        q2.awaitTermination()
        assert(snapshot() === Seq(("click", 2L, 4.0), ("view", 2L, 6.0)))
        // parity with the batch evaluation of the same view query
        val batch = spark.read.parquet(src).groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"value").as("sum_v"))
          .orderBy($"event_type")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
        assert(snapshot() === batch)
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per key within the watermark") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempDir("graft_dd_src").toString + "/t"
    val ckpt = tempDir("graft_dd_ckpt").toString
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // Within-batch duplicates share a value (which one survives a single
    // micro-batch is not ordered); the across-batch replay is the real
    // contract under test, via checkpointed dedup state.
    Seq((1L, ts(0), 1.0), (2L, ts(1), 2.0), (2L, ts(2), 2.0))
      .toDF("event_id", "ts", "value").write.parquet(src)

    val sink = tempDir("graft_dd_sink").toString + "/out"
    val schema = spark.read.parquet(src).schema
    def runOnce(): Seq[(Long, Double)] = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val deduped = graft.streaming.StreamingPipeline
        .dedupStream(stream, Seq("event_id"), "ts", "10 minutes")
      val q = deduped.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(sink).select($"event_id", $"value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    }

    // batch 1: one row per key
    assert(runOnce() === Seq(1L -> 1.0, 2L -> 2.0))

    // batch 2: the event-2 replay is dropped by the checkpointed dedup
    // state; only the genuinely new key lands in the sink.
    Seq((2L, ts(3), 2.9), (3L, ts(4), 3.0))
      .toDF("event_id", "ts", "value").write.mode("append").parquet(src)
    assert(runOnce() === Seq(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("stream-stream interval join matches the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    val dirA = tempDir("graft_ss_imp").toString + "/t"
    val dirB = tempDir("graft_ss_clk").toString + "/t"
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val imps = Seq((1L, ts(0)), (1L, ts(30)), (2L, ts(5)))
      .toDF("ad_id", "ts")
    val clks = Seq((1L, ts(4)), (1L, ts(32)), (1L, ts(50)), (2L, ts(20)))
      .toDF("ad_id", "ts")
    imps.write.parquet(dirA)
    clks.write.parquet(dirB)

    val sImp = spark.readStream.schema(imps.schema).parquet(dirA)
    val sClk = spark.readStream.schema(clks.schema).parquet(dirB)
    val joined = graft.streaming.StreamingPipeline
      .intervalJoin(sImp, sClk, "ad_id", "1 minute", "10 MINUTES")
      .select($"l.ad_id".as("ad_id"), $"l.ts".as("imp_ts"), $"r.ts".as("clk_ts"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val want = imps.alias("l").join(clks.alias("r"),
        expr("l.ad_id = r.ad_id AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTES"))
      .select($"l.ad_id", $"l.ts", $"r.ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(got === want)
    assert(got.size === 2) // (1,@0)->@4 and (1,@30)->@32; ad 2's click @20 is outside [5,15]
  }

  test("scheduled MV refresh: due() schedule, swap commit, base updates visible") {
    import graft.streaming.MaterializedView
    assert(!MaterializedView.due(lastRefreshMs = 1000, periodMs = 500, nowMs = 1400))
    assert(MaterializedView.due(lastRefreshMs = 1000, periodMs = 500, nowMs = 1500))

    val base = tempDir("graft_mv_base").toString + "/t"
    val mv = tempDir("graft_mv_view").toString + "/mv"
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
      .write.mode("overwrite").parquet(base)

    def view = spark.read.parquet(base).groupBy($"k").agg(sum($"v").as("s"))

    // First refresh creates the view.
    assert(MaterializedView.refresh(spark, mv, view) === 2L)
    val snap1 = spark.read.parquet(mv).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap1 === Map("a" -> 4L, "b" -> 2L))

    // Not due yet → no refresh runs.
    assert(MaterializedView.refreshIfDue(spark, mv, 1000, 500, 1400)(view).isEmpty)

    // Base grows; a due refresh swaps the new snapshot in atomically.
    Seq(("b", 10L), ("c", 5L)).toDF("k", "v").write.mode("append").parquet(base)
    assert(MaterializedView.refreshIfDue(spark, mv, 1000, 500, 1600)(view) === Some(3L))
    val snap2 = spark.read.parquet(mv).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap2 === Map("a" -> 4L, "b" -> 12L, "c" -> 5L))
  }

  test("KafkaShape: exact format(kafka) contract, decode round-trips") {
    import spark.implicits._
    import graft.streaming.KafkaShape
    val src = Seq(
      ("u1", """{"e":"click"}""", java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 0L),
      ("u2", """{"e":"view"}""", java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L))
      .toDF("k", "v", "ts", "off")
    val kafka = KafkaShape.adapt(src, "events", "k", "v", "ts", "off", partitions = 4)
    assert(kafka.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      KafkaShape.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val decoded = KafkaShape.decode(kafka).orderBy("offset").collect()
    assert(decoded.map(_.getString(0)).toSeq === Seq("u1", "u2"))
    assert(decoded.map(_.getString(1)).head.contains("click"))
    assert(decoded.forall(r => r.getString(2) == "events"))
    val parts = kafka.select("partition").collect().map(_.getInt(0))
    assert(parts.forall(p => p >= 0 && p < 4))
  }
}
