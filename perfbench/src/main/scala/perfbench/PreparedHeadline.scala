package perfbench

import scala.collection.mutable
import org.apache.spark.graftbench.ShuffleReset
import org.apache.spark.sql.{DataFrame, SparkSession}

/** prepared_headline: the 26 `graft.Bench.headline` queries, one client.
  * Each query is planned once in set-up; every timed rep drops all
  * shuffle outputs first, so it recomputes scans and shuffles while the
  * plan and its broadcasts stay warm. The seed orders every pass.
  */
final class PreparedHeadline(args: Args) extends Workload {
  private val sf = if (args.scale == "tiny") "sf0.001" else "sf0.1"
  private val expected = Expect.load(s"${args.expectedDir}/headline_$sf.tsv")
  private var prepared: Seq[(String, DataFrame)] = Nil
  private val reps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var resultRows = 0.0
  private var codegen = (0L, 0.0)
  private var windowS = 0.0

  def setup(spark: SparkSession): Unit = {
    val dir = s"${args.dataDir}/$sf"
    val qs = graft.SparkEntry.queries
    prepared = graft.Bench.headline.filter(qs.contains).map { name =>
      val df = qs(name)(spark, dir)
      df.queryExecution.executedPlan
      name -> df
    }
    // Untimed warm-up: one execution of each prepared plan (codegen, AQE
    // final plans, broadcasts, JIT).
    prepared.foreach { case (name, df) =>
      ShuffleReset.resetAll(spark.sparkContext)
      try Digest.execute(df)
      catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $name: $e") }
    }
  }

  def measure(ctx: Ctx): Unit = {
    val sc = ctx.spark.sparkContext
    val rng = new scala.util.Random(args.seed)
    val start = Trace.nowMs
    val end = start + args.seconds * 1000
    val before = if (ctx.tracer.isDefined) Layers.codegenMark() else (0L, 0.0)
    var pass = 0
    // Whole passes only, so every query has the same number of reps.
    while (pass == 0 || Trace.nowMs < end) {
      rng.shuffle(prepared).foreach { case (name, df) =>
        val req = s"p$pass-$name"
        ShuffleReset.resetAll(sc)
        val snap = ctx.tracer.map(_ => PlanMetrics.snapshot(df.queryExecution.executedPlan))
        val t0 = System.nanoTime()
        val r = ctx.guard(req, name) {
          ctx.span(req, "request", 0) { id => ctx.span(req, "exec", id)(_ => Digest.execute(df)) }
        }
        val ms = (System.nanoTime() - t0) / 1e6
        r match {
          case Right(d) =>
            Expect.check(expected, name, d) match {
              case None =>
                ctx.rec.ok("query", ms)
                reps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
                resultRows += d.rows
              case Some(err) => ctx.rec.fail(name, err)
            }
          case Left(err) => ctx.rec.fail(name, err)
        }
        for (t <- ctx.tracer; s <- snap)
          Layers.recordPlanMetrics(t, s, PlanMetrics.snapshot(df.queryExecution.executedPlan))
      }
      pass += 1
    }
    Expect.writeOracle(s"${args.workDir}/oracle_headline.json", prepared.map(_._1))
    ctx.rec.fact("passes", Json.num(pass))
    windowS = (Trace.nowMs - start) / 1000
    ctx.rec.fact("window_s", Json.num(windowS))
    ctx.rec.fact("query_median_ms", Json.Obj(reps.toSeq.map { case (n, xs) => n -> Json.num(Stats.median(xs.toSeq)) }))
    for (t <- ctx.tracer) {
      t.add("tables.load_ms", Layers.probeTables(ctx.spark, s"${args.dataDir}/$sf", graft.Tables.all))
      val after = Layers.codegenMark()
      codegen = (after._1 - before._1, (after._1 - before._1) * after._2)
    }
  }

  def endToEnd(ctx: Ctx): Seq[(String, Double, String)] = {
    val lat = ctx.rec.latencies("query")
    val (pct, tail) = Stats.tail(lat)
    ctx.rec.fact("query_tail", Json.obj("percentile" -> Json.num(pct), "samples" -> Json.num(lat.size)))
    Seq(
      ("suite_s", reps.values.map(xs => Stats.median(xs.toSeq)).sum / 1000, "s"),
      ("query_p50_ms", Stats.median(lat), "ms"),
      ("query_tail_ms", tail, "ms"),
      ("queries_per_s", lat.size / windowS, "1/s"))
  }

  def perLayer(ctx: Ctx, t: Tracer): Seq[(String, Double, String)] = {
    // Share of each query's exec wall time its stage spans cover.
    val cov = Layers.execCoverage(t, Set("exec")).groupBy(_._1.request.split("-", 2)(1))
      .map { case (q, xs) => q -> Stats.median(xs.map(_._2)) }
    ctx.rec.fact("stage_coverage", Json.Obj(cov.toSeq.sortBy(_._1).map { case (q, c) => q -> Json.num(c) }))
    ctx.rec.fact("stage_coverage_below_90pct", Json.Arr(cov.filter(_._2 < 0.9).keys.toSeq.sorted.map(Json.str)))
    Layers.report(t, ctx.rec.latencies("query").size, resultRows, args.cores,
      Main.sessionMs, codegen)
  }
}
