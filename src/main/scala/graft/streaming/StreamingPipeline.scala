package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Running per-user state carried across micro-batches. */
final case class UserCounter(n_events: Long, sum_value: Double)

/** Streaming-funnel state: packed (ts, step) events inside the eviction
  * horizon plus the best level already reached (see
  * [[StreamingPipeline.streamingFunnel]]).
  */
final case class FunnelEvents(packed: Array[Long], best: Int)

/** Structured Streaming over the events stream (reference streaming =
  * continuous Kafka ingestion with offsets committed transactionally to
  * the catalog, /root/reference/src/Storages/Kafka/CnchKafkaConsumeManager.h:36-78;
  * Spark equivalent: checkpointed sources + exactly-once sinks).
  *
  * For deterministic tests we drive the same parquet data through the
  * file-stream source with `Trigger.AvailableNow` — identical plan shape
  * to a Kafka source — and a complete-mode in-memory sink. Swapping
  * `format("parquet")` for `format("kafka")` + a checkpoint dir is the
  * production path.
  */
object StreamingPipeline {

  /** Pin the parquet timestamp read path to the engine's canonical
    * `TimestampType` before the file-stream source infers its schema:
    * tolerate legacy TIMESTAMP(NANOS) (read as long, re-derived below)
    * and disable TIMESTAMP_NTZ inference so tz-less `timestamp[us]`
    * encodings — one observed testdata regeneration — surface as
    * TimestampType (value-identical under the pinned UTC session tz).
    * Mirrors the batch choke point in [[graft.Tables.apply]].
    */
  private def normalizeParquetTs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  /** File-stream over the events table with the ts column normalized to
    * canonical TimestampType. Handles both physical layouts the table
    * appears in: the driver's single-file `events.parquet` (stream the
    * sf dir, glob-filtered to that file name — the file-stream source
    * wants a directory) and a Spark-written `events.parquet/` directory
    * of part files (e.g. the ScaleSoak scratch dirs, where the name-glob
    * would match no leaf file and silently stream zero rows).
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    normalizeParquetTs(spark)
    val path = s"$dir/events.parquet"
    val batchSchema = Tables.parquetSchema(spark, path)
    val reader = spark.readStream.schema(batchSchema)
    val stream =
      if (new java.io.File(path).isDirectory) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    if (batchSchema("ts").dataType == LongType)
      stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else stream
  }

  /** Tumbling-window counts per event type, executed as a streaming query
    * (batch parity with the `event_tumbling_counts` query).
    */
  def tumblingCounts(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n_events"))
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming session windows (session_window + watermark over the file
    * stream, complete mode): per-(user, session) event counts — the
    * streaming twin of the batch `event_session_windows` query.
    */
  def sessionCounts(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), Tables.tsUs(col("w.start")).as("session_start_us"),
              col("n_events"))
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming sessionAnalysis (reference
    * AggregateFunctionSessionAnalysis.h:135 in incremental form): the
    * per-session (duration, depth, end event, session time) tuples as a
    * watermarked session_window aggregation — the state store merges
    * overlapping session fragments across micro-batches and the
    * watermark bounds state exactly like the batch operator's gap
    * bounds sessions. Gap is 30 min − 1 µs for the reference's ≥-gap
    * break (see graft.operators.SessionAnalysis).
    */
  def sessionTuples(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "1799999999 microseconds").as("w"),
        col("user_id"))
      .agg(
        (Tables.tsUs(max(col("ts"))) - Tables.tsUs(min(col("ts"))))
          .as("duration_us"),
        count(lit(1)).as("depth"),
        max_by(col("event_type"), struct(col("ts"), col("event_type")))
          .as("end_event"),
        Tables.tsUs(min(col("ts"))).as("session_time_us"))
      .select(col("user_id"), col("session_time_us"), col("duration_us"),
        col("depth"), col("end_event"))
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming bucketed-rank AUC — the incremental form of the batch
    * [[graft.aggregates.BucketedRankAucAgg]] (reference
    * AggregateFunctionFastAuc3.h). The aggregate's state IS a
    * bucket→(pos, neg) histogram, so the streaming twin maintains
    * exactly that as an incremental `groupBy(cohort, bucket)` count —
    * state store size is bounded by cohorts × bucket_num, never by
    * events, and micro-batch merge is the same map-add as the batch
    * partial merge. The Mann-Whitney rank-sum fold (Σ pos_b·(cumNeg_<b
    * + neg_b/2) / (P·N), average-rank tie handling) runs AFTER the
    * stream drains, over the tiny histogram — identical math, so the
    * result is batch-bit-identical and a 100-TB event stream costs one
    * bounded-state aggregation.
    */
  def bucketedAuc(
      spark: SparkSession, dir: String, queryName: String,
      precision: Double = 25.0, minVal: Double = 0.0,
      maxVal: Double = 500.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = eventsStream(spark, dir)
    val bucketNum = math.ceil((maxVal - minVal) / precision).toInt
    val hist = stream
      .filter(col("value").isNotNull)
      .withColumn("cohort", (col("user_id") % 4).cast("int"))
      .withColumn("bucket",
        least(greatest(floor((col("value") - minVal) / precision), lit(0L)),
          lit((bucketNum - 1).toLong)).cast("int"))
      .withColumn("pos",
        when(col("event_type") === "purchase", 1L).otherwise(0L))
      .groupBy(col("cohort"), col("bucket"))
      .agg(sum(col("pos")).as("p"), (count(lit(1)) - sum(col("pos"))).as("n"))
    val q = hist.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Rank-sum fold over ≤ cohorts × bucketNum histogram rows. All
    // inputs are integer-valued doubles (and exact .5 half-ranks), so
    // the fold is order-independent and bit-deterministic.
    val below = Window.partitionBy("cohort").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    spark.table(queryName)
      .withColumn("pd", col("p").cast("double"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("cum_n", coalesce(sum(col("nd")).over(below), lit(0.0)))
      .groupBy(col("cohort"))
      .agg((sum(col("pd") * (col("cum_n") + col("nd") / 2)) /
        (sum(col("pd")) * sum(col("nd")))).as("raw"))
      .select(col("cohort"),
        round(col("raw"), 6).cast("decimal(18,6)").cast("double").as("auc"))
      .orderBy(col("cohort"))
  }

  /** MV-push analogue (reference: every INSERT block is pushed through
    * each dependent view's SELECT,
    * /root/reference/src/DataStreams/PushingToViewsBlockOutputStream.cpp,
    * with Kafka offsets committed transactionally to the catalog,
    * CnchKafkaConsumeManager.h:78): a checkpointed file-stream →
    * transform → parquet sink. Each AvailableNow run consumes exactly the
    * source files not yet recorded in the checkpoint — re-running without
    * new data appends nothing, new source files land exactly once. Swap
    * the source for `format("kafka")` unchanged for the production path.
    */
  def incrementalSink(
      spark: SparkSession,
      srcDir: String,
      sinkDir: String,
      checkpointDir: String)(transform: DataFrame => DataFrame): Unit = {
    normalizeParquetTs(spark)
    val batchSchema = Tables.parquetSchema(spark, srcDir)
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(srcDir)
    val q = transform(stream).writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-stream interval join: two watermarked streams joined on an
    * equi-key plus an event-time bound (right row within [left.ts,
    * left.ts + window]). The watermarks bound the join state the engine
    * must retain — the property that keeps an unbounded two-stream join
    * feasible: state for rows older than watermark + interval is evicted.
    * (The reference reaches the same shape by joining two Kafka-fed MVs.)
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      watermark: String,
      windowSpec: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $windowSpec"))
  }

  /** Streaming exact deduplication: keep the first arrival per key,
    * dropping replays that land within the watermark horizon — the
    * stream-side half of the pipeline's exact-dedup story (the batch half
    * is `operators.Dedup.exactKeepFirst`). State is bounded by the
    * watermark: a key's dedup entry is evicted once the watermark passes
    * its event time, so unbounded streams don't accumulate unbounded
    * state — the same replay-window contract a Kafka consumer's
    * offsets+keys dedup gives the reference.
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Incremental windowFunnel over a stream: per-user packed-event state
    * in the state store, funnel level recomputed per micro-batch with
    * the SAME FunnelCore engine as the batch aggregate — the streaming
    * form of the reference's behavioral family (StorageCnchKafka feeding
    * AggregateFunctionWindowFunnel, re-expressed as
    * flatMapGroupsWithState).
    *
    * State is bounded by the funnel window: after each batch the level
    * reached so far is folded into `best` and events older than
    * (max_seen − window) are evicted — any chain through an evicted
    * event has its anchor within window of that event, so the chain
    * completed strictly in the past and `best` already holds its level.
    * Exact for the default (non-strict) mode; strict modes interact
    * with eviction and stay batch-only.
    */
  def streamingFunnel(spark: SparkSession, dir: String, queryName: String,
      windowUs: Long, steps: Seq[String]): DataFrame = {
    import spark.implicits._
    import graft.aggregates.FunnelCore
    val stream = eventsStream(spark, dir)
    val stepCol = steps.zipWithIndex.foldLeft(lit(0)) { case (acc, (s2, i)) =>
      when(col("event_type") === s2, lit(i + 1)).otherwise(acc)
    }
    val nSteps = steps.size
    val updated = stream
      .select(col("user_id").as[Long], Tables.tsUs(col("ts")).as[Long],
        stepCol.as[Int])
      .filter(_._3 > 0)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Int)], state: GroupState[FunnelEvents]) =>
          val prev = state.getOption.getOrElse(FunnelEvents(Array.empty, 0))
          val all = (prev.packed ++ rows.map { case (_, us, st) =>
            FunnelCore.pack(us, st)
          }).sorted
          val lvl = FunnelCore.eventLevel(all, all.length, windowUs, nSteps,
            strictDeduplication = false, strictOrder = false, strictIncrease = false)
          val best = math.max(prev.best, lvl)
          val horizon =
            if (all.isEmpty) 0L
            else (all.last >>> FunnelCore.StepBits) - windowUs
          state.update(FunnelEvents(
            all.filter(p => (p >>> FunnelCore.StepBits) >= horizon), best))
          Iterator((user, best))
      }
    val q = updated.toDF("user_id", "level").writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Custom streaming state via flatMapGroupsWithState (the reference's
    * incremental-MV/LiveView role, SURVEY §2.10): a per-user counter
    * updated as micro-batches arrive. Emits the final state per user of
    * each batch; state persists in the checkpointed state store across
    * batches in a long-running query.
    */
  def statefulUserCounts(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    val updated = eventsStream(spark, dir)
      .select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserCounter]) =>
          val prev = state.getOption.getOrElse(UserCounter(0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update(UserCounter(n, s))
          Iterator((user, n))
      }
    val q = updated.toDF("user_id", "n_events").writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
