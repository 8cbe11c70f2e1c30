package graft

import graft.plans.{SingleSplit, SingleSplitScan}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

/** [[SingleSplitScan]]: a one-file table plans its scan as one partition
  * (no shuffle, one job) and returns the rows that a multi-file copy of
  * the same data returns through the usual exchanges.
  */
class SingleSplitScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val root = tempDir("graft_single_split").toString

  private def rows = spark.range(1000)
    .selectExpr("id % 10 AS k", "id AS v", "CAST(id % 7 AS STRING) AS s")

  /** Registers `one_<name>` (one parquet file) and `multi_<name>` (the
    * same rows in three files) and returns their directories.
    */
  private def register(name: String, df: DataFrame): (String, String) = {
    val one = s"$root/one_$name"
    val multi = s"$root/multi_$name"
    df.coalesce(1).write.mode("overwrite").parquet(one)
    df.repartition(3).write.mode("overwrite").parquet(multi)
    spark.read.parquet(one).createOrReplaceTempView(s"one_$name")
    spark.read.parquet(multi).createOrReplaceTempView(s"multi_$name")
    (one, multi)
  }

  private lazy val dirs: Map[String, (String, String)] = Map(
    "t" -> register("t", rows),
    "dim" -> register("dim", spark.range(10).selectExpr("id AS k", "concat('n', id) AS name")),
    "empty" -> register("empty", rows.limit(0)))

  private def dataFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(f => f.getName.endsWith(".parquet"))

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }

  /** Runs `df` to completion and returns its rows and the number of
    * Spark jobs it launched.
    */
  private def runCountingJobs(df: DataFrame): (Seq[Row], Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("single-split", "query under test")
      val out = df.collect().toSeq
      // Listener events arrive in order: once this marker job is seen,
      // every job of the query has been seen too.
      sc.setJobGroup("single-split-marker", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000
      while (!groups.contains("single-split-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("single-split-marker"), "listener never saw the marker job")
      (out, groups.toArray.count(_ == "single-split"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `sql` with `{t}`, `{dim}` and `{empty}` bound to the one-file and
    * to the multi-file tables: both give the same rows (in order when
    * `ordered`), the one-file plan holds no shuffle and runs `jobs` jobs,
    * and a multi-file plan over the three files of `{t}` keeps at least
    * one shuffle.
    */
  private def check(sql: String, ordered: Boolean = false, jobs: Int = 1): Seq[Row] = {
    dirs // write the tables
    def bind(prefix: String) = Seq("t", "dim", "empty")
      .foldLeft(sql)((q, t) => q.replace(s"{$t}", s"${prefix}_$t"))
    val one = spark.sql(bind("one"))
    val (oneRows, oneJobs) = runCountingJobs(one)
    val multi = spark.sql(bind("multi"))
    val multiRows = multi.collect().toSeq
    if (ordered) assert(oneRows === multiRows)
    else assert(oneRows.map(_.toString).sorted === multiRows.map(_.toString).sorted)
    val onePlan = one.queryExecution.executedPlan
    assert(collect(onePlan) { case s: SingleSplit => s }.nonEmpty, onePlan)
    assert(shuffles(onePlan).isEmpty, onePlan)
    assert(oneJobs === jobs, onePlan)
    if (sql.contains("{t}"))
      assert(shuffles(multi.queryExecution.executedPlan).nonEmpty, multi.queryExecution.executedPlan)
    oneRows
  }

  test("the one-file tables are one file each and the copies three") {
    for ((one, multi) <- dirs.values) {
      assert(dataFiles(one) === 1, one)
      assert(dataFiles(multi) >= 1, multi)
    }
    assert(dataFiles(dirs("t")._2) === 3)
  }

  test("group-by runs in the scan's task") {
    val out = check("SELECT k, count(*) AS c, sum(v) AS sv FROM {t} GROUP BY k")
    assert(out.length === 10)
  }

  test("a global ORDER BY needs no range exchange or sampling job") {
    check("SELECT k, v, s FROM {t} ORDER BY k, v DESC", ordered = true)
  }

  test("a window runs in the scan's task") {
    check("""SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rn,
            |       sum(v) OVER (PARTITION BY k) AS tot FROM {t}""".stripMargin)
  }

  test("a sort-merge join of two one-file tables needs no exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try check(
      """SELECT d.name, count(*) AS c, sum(t.v) AS sv
        |FROM {t} t JOIN {dim} d ON t.k = d.k GROUP BY d.name""".stripMargin)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a broadcast join of two one-file tables needs no shuffle") {
    check("""SELECT d.name, count(*) AS c FROM {t} t JOIN {dim} d ON t.k = d.k
            |GROUP BY d.name""".stripMargin, jobs = 2)
  }

  test("a join of a one-file and a multi-file table shuffles both sides") {
    dirs
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = "SELECT d.name, count(*) AS c FROM %s t JOIN %s d ON t.k = d.k GROUP BY d.name"
      val mixed = spark.sql(q.format("multi_t", "one_dim"))
      val got = mixed.collect().map(_.toString).sorted
      assert(got === spark.sql(q.format("multi_t", "multi_dim")).collect().map(_.toString).sorted)
      val joins = collect(mixed.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.length === 1)
      assert(joins.head.children.forall(c => shuffles(c).nonEmpty), mixed.queryExecution.executedPlan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("count(*) over a one-file table of zero rows returns one row") {
    assert(check("SELECT count(*) AS c FROM {empty}") === Seq(Row(0L)))
  }

  test("a union of two one-file scans keeps both partitions' rows") {
    val out = check(
      """SELECT k, count(*) AS c FROM (SELECT k FROM {t} UNION ALL SELECT k FROM {dim})
        |GROUP BY k""".stripMargin)
    assert(out.map(_.getLong(1)).sum === 1010L)
  }

  test("a multi-file scan and a bucketed scan keep their exchanges") {
    dirs
    val multi = spark.sql("SELECT k, count(*) FROM multi_t GROUP BY k")
    multi.collect()
    assert(collect(multi.queryExecution.executedPlan) { case s: SingleSplit => s }.isEmpty)
    // Bucketed on s, every row in one bucket file; the aggregate's key is
    // k, so it needs a shuffle whatever the file count.
    rows.selectExpr("k", "v", "'x' AS s").coalesce(1).write.mode("overwrite")
      .bucketBy(4, "s").saveAsTable("single_split_bucketed")
    try {
      val location = spark.table("single_split_bucketed").inputFiles
      assert(location.length === 1)
      val df = spark.sql("SELECT k, count(*) FROM single_split_bucketed GROUP BY k")
      assert(df.collect().length === 10)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case s: FileSourceScanExec => s }.nonEmpty, plan)
      assert(collect(plan) { case s: SingleSplit => s }.isEmpty, plan)
      assert(shuffles(plan).nonEmpty, plan)
    } finally spark.sql("DROP TABLE IF EXISTS single_split_bucketed")
  }

  test("a stateful streaming aggregate over one file keeps its exchange") {
    val (one, _) = dirs("t")
    val q = spark.readStream.schema(spark.read.parquet(one).schema).parquet(one)
      .groupBy("k").count()
      .writeStream.format("memory").queryName("single_split_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val got = spark.table("single_split_stream").collect().map(_.toString).sorted
      val want = spark.sql("SELECT k, count(*) FROM one_t GROUP BY k").collect().map(_.toString).sorted
      assert(got === want)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(collect(plan) { case s: SingleSplit => s }.isEmpty, plan)
      assert(shuffles(plan).nonEmpty, plan)
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS single_split_stream")
    }
  }

  test("oneSplit follows Spark's split size") {
    dirs
    val scan = collect(spark.table("one_t").queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.head
    assert(SingleSplitScan.oneSplit(scan))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val small = spark.read.parquet(dirs("t")._1)
      val splitScan = collect(small.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.head
      assert(!SingleSplitScan.oneSplit(splitScan))
      assert(small.rdd.getNumPartitions > 1)
      assert(small.groupBy("k").count().collect().map(_.getLong(1)).sum === 1000L)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }
}
