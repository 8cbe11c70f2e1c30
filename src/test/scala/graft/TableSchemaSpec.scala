package graft

import graft.sources.TableWriter
import graft.streaming.{MaterializedView, StreamingPipeline}
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** [[Tables.parquetSchema]] resolves a table's schema on the driver. It
  * must return exactly what Spark's own inference returns — Spark stays
  * the reference — for every layout the engine reads, and a table
  * reference must no longer launch a Spark job.
  */
class TableSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val sfDirs = Option(new java.io.File("/root/testdata").listFiles)
    .map(_.toSeq.filter(d => d.isDirectory && d.getName.startsWith("sf")).map(_.getPath).sorted)
    .getOrElse(Nil)

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def assertSameAsSpark(path: String): Unit =
    assert(Tables.parquetSchema(spark, path) === spark.read.parquet(path).schema, path)

  test("every test table: driver-side schema equals Spark's inference") {
    assume(sfDirs.nonEmpty, "no /root/testdata/sf* directories")
    val saved = spark.conf.getOption(NanosAsLong)
    try {
      // both settings of the one conf Tables.apply sets (for events)
      for (nanos <- Seq("false", "true"); dir <- sfDirs; t <- Tables.all) {
        spark.conf.set(NanosAsLong, nanos)
        assertSameAsSpark(s"$dir/$t.parquet")
      }
    } finally saved.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("streaming-sink, refreshed-view and partitioned directories") {
    val root = tempDir("graft_schema").toString
    val events = Seq((1L, "click", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, "view", 2.0, java.sql.Timestamp.valueOf("2024-01-01 01:00:02")))
      .toDF("event_id", "event_type", "value", "ts")
    events.write.parquet(s"$root/src")
    events.write.mode("append").parquet(s"$root/src")

    // the sink lists its files through _spark_metadata
    StreamingPipeline.incrementalSink(spark, s"$root/src", s"$root/sink", s"$root/ckpt")(
      _.withColumn("hour", date_trunc("hour", col("ts"))).withColumn("tags", array(col("event_type"))))
    assert(new java.io.File(s"$root/sink/_spark_metadata").isDirectory)
    assertSameAsSpark(s"$root/sink")
    assertSameAsSpark(s"$root/src")

    MaterializedView.refresh(spark, s"$root/mv",
      Tables.readParquet(spark, s"$root/sink").groupBy("event_type")
        .agg(count(lit(1)).as("n"), map(col("event_type"), sum("value")).as("m")))
    assertSameAsSpark(s"$root/mv")

    TableWriter.writePartitioned(events.withColumn("day", to_date(col("ts"))),
      s"$root/parted", Seq("event_type"), Seq("event_id"))
    assertSameAsSpark(s"$root/parted")
    assert(Tables.readParquet(spark, s"$root/parted").schema ===
      spark.read.parquet(s"$root/parted").schema)
  }

  test("a path with no parquet file fails with Spark's own error") {
    val empty = tempDir("graft_schema_empty").toString
    for (p <- Seq(empty, s"$empty/missing")) {
      val spark1 = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](Tables.parquetSchema(spark, p))
      assert(ours.getClass === spark1.getClass)
      assert(ours.getMessage === spark1.getMessage)
    }
  }

  test("a table reference launches no Spark job") {
    assume(sfDirs.nonEmpty, "no /root/testdata/sf* directories")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("table-schemas", "Tables(...).schema for every table")
      for (dir <- sfDirs; t <- Tables.all) Tables(spark, dir, t).schema
      // Listener events arrive in order: once this marker job is seen,
      // every job the schema calls launched has been seen too.
      sc.setJobGroup("marker", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("marker"), "listener never saw the marker job")
      val jobs = groups.toArray.count(_ == "table-schemas")
      assert(jobs === 0, s"$jobs Spark jobs while resolving table schemas")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
