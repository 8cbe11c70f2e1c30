package graft

import java.util.Locale
import org.apache.spark.graftbench.ShuffleReset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec,
  QueryStageExec, ResultQueryStageExec, ShuffleQueryStageExec}

/** Benchmark main: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is planned once, warmed, then timed
  * as the plain median of [[reps]] full executions ([[warmThenRep]]);
  * the host steal over the timed section is recorded beside the numbers
  * instead of being retried away.
  */
object Bench {

  /** Headline set: the scan/join/agg-heavy queries that dominate wall
    * clock, one per capability family.
    */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q10_returned_items",
    "agg_rollup", "agg_multi_distinct", "agg_quantiles",
    "win_topn_per_group", "win_running_total",
    "sessionize_stats", "funnel_signup_click_purchase",
    "asof_purchase_click", "event_tumbling_counts",
    "dedup_keep_first", "minhash_lsh_candidates", "jaccard_token_pairs",
    "knn_bruteforce_cosine", "knn_lsh_topk", "knn_ivf_topk",
    "bitmap_user_overlap", "topk_users_by_events",
    "upsert_latest_state", "summap_user_values", "q11_important_stock",
    // round 6: full sessionization tuples — the heaviest new operator
    "session_analysis_tuples")

  /** The bench session: [[Engine.session]] at `cpus` cores, plus the
    * settings a repeated-run bench needs.
    */
  def session(cpus: Int): SparkSession = {
    // The warmup pass exists to pre-compile every query's whole-stage
    // codegen, but the compiled-class cache defaults to 100 entries —
    // a 25-query workload evicts the early queries before their timed
    // run, silently re-charging ~3s of Janino compilation to the most
    // complex plans. Size the cache to the workload.
    val spark = Engine.session(s"local[$cpus]", cpus, codegenCacheEntries = 2000)
    // r16 (guide §2.2): AQE's smallest coalesced partition.
    // parallelismFirst=true (default) sizes post-shuffle partitions at
    // totalBytes/parallelism — but never below minPartitionSize, whose
    // 1 MB default collapses every sub-32 MB shuffle to a handful of
    // partitions (at sf0.1 the per-user window stages ran as ONE task on
    // one core). 64 KB keeps reduce stages ~core-wide on small inputs and
    // is inert at scale: the minimum only binds when a shuffle totals
    // < cores × 1 MB, i.e. when the data is tiny anyway.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Full consumption of a prepared plan: iterate every InternalRow of
    * the cached QueryExecution RDD — same all-rows forcing as the noop
    * sink, minus the per-rep re-planning of a fresh write command.
    * Returns the row count.
    */
  def consume(df: DataFrame): Long =
    df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd, { (it: Iterator[InternalRow]) =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }).sum

  /** One timed rep of a prepared query: (seconds, rows). */
  def rep(df: DataFrame): (Double, Long) = {
    val spark = df.sparkSession
    // Per-rep cache drop so every rep is a clean cold-cache run. Must go
    // through the catalog: raw RDD unpersist would leave stale
    // CacheManager entries, making the reps' persist() calls no-ops
    // against dead cache entries (every reuse would silently recompute).
    spark.catalog.clearCache()
    // Measurement fix: drop every
    // registered shuffle's map outputs before the rep. Re-executing the
    // same cached RDD lets the DAGScheduler SKIP any stage whose shuffle
    // output is still registered, so since r10 the timed reps re-ran only
    // the stages downstream of the last exchange (a 10× input moved q1 by
    // ~0 ms; 8-core ≈ 32-core for every query). With the reset, each rep
    // recomputes the full prepared plan — scans, shuffles, final stages —
    // while the plan itself and the broadcast futures stay warm, which is
    // what "re-execute the prepared query" was always meant to time.
    ShuffleReset.resetAll(spark.sparkContext)
    val t0 = System.nanoTime()
    val rows = consume(df)
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** Timed reps per query: `SPARK_GRAFT_BENCH_REPS`, 5 by default. */
  def reps: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt

  /** The timing rule of Bench, ScaleSoak and Prof for one prepared plan:
    * two untimed executions (whole-stage codegen, the AQE final plan,
    * broadcasts and JIT warm — the reference's perf CI likewise compares
    * repeated-run statistics, not first-run latency), then `reps` timed
    * reps through `timed` ([[rep]], or Prof's rep wrapped in its stage
    * listener). Returns every rep's (seconds, rows).
    */
  def warmThenRep(df: DataFrame, reps: Int,
                  timed: DataFrame => (Double, Long) = rep): Seq[(Double, Long)] = {
    (1 to 2).foreach { _ => df.sparkSession.catalog.clearCache(); consume(df) }
    (1 to reps).map(_ => timed(df))
  }

  /** The median of `times` (the upper middle one of an even count). */
  def median(times: Seq[Double]): Double = {
    val s = times.sorted
    s(s.length / 2)
  }

  private object Stages extends AdaptiveSparkPlanHelper

  /** The query stages of `df`'s final adaptive plan, subqueries' plans
    * included, by kind: (shuffle, broadcast, result). Read from the
    * prepared plan once it has run, the plan `Prof … plan` prints.
    */
  def queryStages(df: DataFrame): Seq[(String, Int)] = {
    val stages = Stages.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: QueryStageExec => s
    }
    Seq("shuffle" -> stages.count(_.isInstanceOf[ShuffleQueryStageExec]),
      "broadcast" -> stages.count(_.isInstanceOf[BroadcastQueryStageExec]),
      "result" -> stages.count(_.isInstanceOf[ResultQueryStageExec]))
  }

  /** The machine's (steal, total) CPU jiffies from `/proc/stat`, or None
    * where it cannot be read.
    */
  def hostCpu(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      finally src.close()
      Some((f(7), f.sum))
    } catch { case _: Exception => None }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  private def sec(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)

  /** Bench's stdout line and its detail JSON, from the planning seconds
    * and the timed reps of every query (no reps: the query failed and
    * records -1). The driver keeps only the last ~2000 characters of
    * stdout, so the line carries the totals, the per-query medians and
    * the host steal; the detail adds each query's min/max, every rep's
    * time, the planning seconds and its [[queryStages]].
    */
  def report(sfDir: String, reps: Int, planSecs: Seq[(String, Double)],
             times: Seq[(String, Seq[Double])],
             hostStealRatio: Option[Double],
             stages: Seq[(String, Seq[(String, Int)])] = Nil): (String, String) = {
    val medians = times.map { case (n, ts) => n -> (if (ts.isEmpty) -1.0 else median(ts)) }
    val execTotal = medians.map(_._2).filter(_ >= 0).sum
    val planTotal = planSecs.map(_._2).sum
    // "value" is planning + execution, so rounds compare like with like;
    // exec_total is execution alone.
    val head = Seq(
      "metric" -> str("total"), "value" -> sec(planTotal + execTotal), "unit" -> str("sec"),
      "schema_version" -> "4", "rep_model" -> str("full_recompute"),
      "exec_total" -> sec(execTotal), "measures" -> str("value_plan_plus_exec"),
      "queries" -> obj(medians.map { case (n, m) => n -> sec(m) }),
      "reps" -> reps.toString,
      "host_steal_ratio" -> hostStealRatio.fold("null")("%.4f".formatLocal(Locale.ROOT, _)),
      "planning_total" -> sec(planTotal))
    val detail = Seq(
      "spread_minmax" -> obj(times.map { case (n, ts) =>
        n -> (if (ts.isEmpty) "[-1.000,-1.000]" else s"[${sec(ts.min)},${sec(ts.max)}]") }),
      "rep_times" -> obj(times.map { case (n, ts) => n -> ts.map(sec).mkString("[", ",", "]") }),
      "planning" -> obj(planSecs.map { case (n, s) => n -> sec(s) }),
      "query_stages" -> obj(stages.map { case (n, kinds) =>
        n -> obj(kinds.map { case (k, c) => k -> c.toString }) }))
    val sf = Seq("sf" -> str(sfDir))
    (obj(head ++ sf), obj(head ++ detail ++ sf))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // Untimed warmup: parquet footers, codegen compiler, shuffle machinery.
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())
    val queries = SparkEntry.queries
    // Prepared-query model (the reference's perf harness reuses prepared
    // queries the same way): build each DataFrame and force its physical
    // plan ONCE — that cost is PLANNING, reported separately — then the
    // timed reps re-execute the already-planned query via its cached
    // QueryExecution RDD. A plan/run split of the headline set showed
    // ~2.6 s/run of repeated re-planning when every rep rebuilt the
    // frame; at 100 TB planning amortizes to nothing, so the headline
    // number should be execution.
    val prepared = headline.filter(queries.contains).flatMap { name =>
      val t0 = System.nanoTime()
      try {
        val df = queries(name)(spark, sfDir)
        df.queryExecution.executedPlan // analysis + optimization + physical
        Some((name, df, (System.nanoTime() - t0) / 1e9))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed to plan: ${e.getMessage}")
          None
      }
    }
    // One untimed execution of every prepared plan before any is timed,
    // so the JIT has seen every query's operators and the first queries
    // are not timed on a colder JVM than the last.
    prepared.foreach { case (name, df, _) =>
      try consume(df)
      catch { case e: Throwable => System.err.println(s"[bench] $name warmup failed: ${e.getMessage}") }
    }
    val n = reps
    val cpu0 = hostCpu()
    val times = prepared.map { case (name, df, _) =>
      name -> (try warmThenRep(df, n).map(_._1)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Seq.empty
      })
    }
    // CPU time the hypervisor gave to other guests while the queries
    // ran: a host-noise marker for reading the numbers, not a metric.
    val steal = for ((s0, t0) <- cpu0; (s1, t1) <- hostCpu())
      yield (s1 - s0).toDouble / math.max(1L, t1 - t0)
    val stages = prepared.map { case (name, df, _) => name -> queryStages(df) }
    val (line, detail) =
      report(sfDir, n, prepared.map { case (name, _, s) => name -> s }, times, steal, stages)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_last_detail.json"),
        (detail + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // LAST stdout line before shutdown so the driver's tail always holds
    // the complete JSON.
    println(line)
    spark.stop()
  }
}
