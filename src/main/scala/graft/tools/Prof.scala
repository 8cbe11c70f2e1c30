package graft.tools

import graft.{Bench, SparkEntry, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only profiler over the bench's own session and rep model: each
  * query is planned once, then warmed and timed for N reps by
  * [[Bench.warmThenRep]] (cache drop, shuffle reset, full consume of the
  * prepared plan), so a number here is the number Bench would record.
  *
  * Modes:
  *  - `time` (default): plan ms, then ms and rows per rep, then min/median;
  *  - `stages`: `time` plus each rep's per-stage table (tasks, stage wall,
  *    task/deserialize/GC ms, input and shuffle read/write KB) — the Spark
  *    UI stage table, headless;
  *  - `plan`: `time` plus the formatted plan before execution and the final
  *    adaptive plan after it, with its query stages by kind
  *    ([[Bench.queryStages]]) and its reused-stage count.
  *
  * Usage: runMain graft.tools.Prof <sfDir> <name,…|headline> [reps] [time|stages|plan]
  */
object Prof {

  private final class Stage(var name: String = "", var tasks: Int = 0,
                            var wallMs: Long = 0, var taskMs: Long = 0,
                            var desMs: Long = 0, var gcMs: Long = 0,
                            var inBytes: Long = 0, var srBytes: Long = 0,
                            var swBytes: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args(1) == "headline") Bench.headline else args(1).split(",").map(_.trim).toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val mode = if (args.length > 3) args(3) else "time"
    require(Set("time", "stages", "plan")(mode), s"unknown mode $mode")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())

    val stages = scala.collection.concurrent.TrieMap[Int, Stage]()
    @volatile var record = false
    if (mode == "stages") spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (record) {
        val s = stages.getOrElseUpdate(t.stageId, new Stage)
        s.tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.desMs += m.executorDeserializeTime
          s.gcMs += m.jvmGCTime
          s.inBytes += m.inputMetrics.bytesRead
          s.srBytes += m.shuffleReadMetrics.totalBytesRead
          s.swBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (record) {
        val info = e.stageInfo
        val s = stages.getOrElseUpdate(info.stageId, new Stage)
        s.name = info.name.take(60)
        s.wallMs += (for (a <- info.completionTime; b <- info.submissionTime) yield a - b)
          .getOrElse(0L)
      }
    })

    val queries = SparkEntry.queries
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = queries(name)(spark, sfDir)
      df.queryExecution.executedPlan
      println(f"[prof] $name plan=${(System.nanoTime() - t0) / 1e6}%.1f ms")
      if (mode == "plan") println(df.queryExecution.explainString(FormattedMode))
      var i = 0
      val times = Bench.warmThenRep(df, reps, { d =>
        stages.clear()
        record = true
        val (secs, rows) = try Bench.rep(d) finally record = false
        i += 1
        println(f"[prof] $name rep $i: ${secs * 1e3}%.1f ms rows=$rows")
        stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
          println(f"[prof]   stage $id%4d tasks=${s.tasks}%4d wall=${s.wallMs}%5d ms " +
            f"task=${s.taskMs}%6d ms des=${s.desMs}%5d gc=${s.gcMs}%4d " +
            f"in=${s.inBytes / 1024}%8d KB sr=${s.srBytes / 1024}%7d KB " +
            f"sw=${s.swBytes / 1024}%7d KB  ${s.name}")
        }
        (secs, rows)
      }).map(_._1).sorted
      println(f"[prof] $name min=${times.head * 1e3}%.1f ms med=${Bench.median(times) * 1e3}%.1f ms")
      if (mode == "plan") {
        val finalPlan = df.queryExecution.executedPlan.toString
        val reused = finalPlan.linesIterator
          .count(l => l.contains("ReusedQueryStage") || l.contains("ReusedExchange"))
        val stages = Bench.queryStages(df).map { case (k, c) => s"$k=$c" }.mkString(" ")
        println(s"[prof] $name final plan, query stages $stages, reused-stages=$reused")
        println(finalPlan)
      }
    }
    spark.stop()
  }
}
