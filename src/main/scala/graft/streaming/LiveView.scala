package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Live views (reference
  * /root/reference/src/Storages/LiveView/StorageLiveView.cpp: a view whose
  * stored result is re-evaluated as source data arrives, with WATCH
  * delivering the current snapshot). Spark-native: a Structured Streaming
  * query in complete output mode feeding the in-memory table registered
  * under the view's name — every micro-batch atomically replaces the
  * snapshot, and [[watch]] reads it like any other table. `AvailableNow`
  * triggers give the reference's REFRESH-on-demand behavior; a processing-
  * time trigger gives its periodic push.
  *
  * Scale shape: the view query itself is an ordinary incremental streaming
  * aggregation (state-store-backed, watermark-bounded); only the final
  * result snapshot is materialized to the driver-side memory sink, so the
  * pattern holds as long as the RESULT (not the input) fits — same
  * contract as the reference, whose live view stores the result block.
  */
object LiveView {

  /** Start a live view over an already-aggregated streaming DataFrame.
    * The name becomes a queryable temp view holding the complete current
    * result; returns the handle for refresh/stop control.
    */
  def create(
      name: String,
      aggregated: DataFrame,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    aggregated.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(trigger)
      .start()

  /** The current snapshot (reference WATCH — here an ordinary table read,
    * so it composes with any downstream query).
    */
  def watch(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
