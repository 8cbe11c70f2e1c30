package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark process (see perfbench/run.py,
  * which builds the classpath and passes these).
  */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, dataDir: String, scale: String, workDir: String,
    expectedDir: String, out: String, boundS: Long,
    batchRows: Int, limit: Int, opts: Map[String, String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(
      workload = m("workload"), seed = get("seed", "1").toLong,
      seconds = get("seconds", "10").toDouble, trace = get("trace", "0") == "1",
      cores = get("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      dataDir = m("data"), scale = get("scale", "bench"), workDir = m("work"),
      expectedDir = m("expected"), out = m("out"),
      boundS = get("bound", "60").toLong, batchRows = get("batch-rows", "20000").toInt,
      limit = get("limit", "0").toInt, opts = m)
  }
}

/** Everything a workload needs: the session, the run record, the tracer
  * (only in a traced run) and the failure guard.
  */
final class Ctx(val args: Args, val spark: SparkSession) {
  val rec = new Record
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer) else None
  val guard = new Guard(spark.sparkContext, args.boundS * 1000)

  /** `body` as a span when tracing, as a plain call otherwise; the span
    * id is passed on so children can name their parent.
    */
  def span[T](request: String, name: String, parent: Long)(body: Long => T): T =
    tracer match {
      case Some(t) =>
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty(Trace.PhaseKey)
        sc.setLocalProperty(Trace.PhaseKey, name)
        try t.span(request, name, parent)(body)
        finally sc.setLocalProperty(Trace.PhaseKey, prev)
      case None => body(0L)
    }
}

/** A workload: set-up (session state, tables and warm-up), the measured
  * window, and its end-to-end and per-layer metrics.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def measure(ctx: Ctx): Unit
  /** End-to-end metrics other than setup_s, heap_peak_mb and error_rate. */
  def endToEnd(ctx: Ctx): Seq[(String, Double, String)]
  /** Per-layer metrics of a traced run, from the tracer's spans and stages. */
  def perLayer(ctx: Ctx, t: Tracer): Seq[(String, Double, String)]
}

object Main {
  /** Time of the `Engine.session` call in set-up. */
  @volatile var sessionMs = 0.0

  def workload(name: String, args: Args): Workload = name match {
    case "prepared_headline" => new PreparedHeadline(args)
    case "adhoc_inventory" => new AdhocInventory(args)
    case "ingest_refresh" => new IngestRefresh(args)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(args: Args): SparkSession = {
    val s = graft.Engine.session(s"local[${args.cores}]", args.cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap retained after a full collection, in MB. The second collection
    * follows a pause in which Spark's ContextCleaner drops the broadcasts
    * and shuffles the first one found unreachable.
    */
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(a: Array[String]): Unit = {
    val args = Args.parse(a)
    if (args.workload == "expect") { Expect.run(args); return }
    // Set-up runs from process start to the first timed request.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val w = workload(args.workload, args)
    val s0 = Trace.nowMs
    val spark = session(args)
    sessionMs = Trace.nowMs - s0
    w.setup(spark)
    val setupS = (Trace.nowMs - jvmStartMs) / 1000
    System.err.println(f"[perfbench] set-up: $setupS%.1fs (session ${sessionMs / 1000}%.1fs)")
    val ctx = new Ctx(args, spark)
    val heapAfterSetup = retainedMb()
    ctx.tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.listener)
      spark.streams.addListener(t.streamingListener)
    }
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (cpu0, wall0, compiles0) = (os.getProcessCpuTime, Trace.nowMs, Layers.codegenMark()._1)
    w.measure(ctx)
    // Context for the record: how busy the cores were during the window,
    // and how many classes codegen compiled.
    ctx.rec.fact("window_cpu_utilization",
      Json.num((os.getProcessCpuTime - cpu0) / 1e6 / ((Trace.nowMs - wall0) * args.cores)))
    ctx.rec.fact("window_codegen_compiles", Json.num((Layers.codegenMark()._1 - compiles0).toDouble))
    ctx.guard.close()
    ctx.tracer.foreach(_ => org.apache.spark.perfbench.Listeners.drain(spark.sparkContext))
    val heapPeak = math.max(heapAfterSetup, retainedMb())
    val errorRate = ctx.rec.failed.toDouble / math.max(1L, ctx.rec.attempted)
    val e2e = Seq(("setup_s", setupS, "s")) ++ w.endToEnd(ctx) ++
      Seq(("heap_peak_mb", heapPeak, "MB"), ("error_rate", errorRate, "ratio"))
    val layers = ctx.tracer.map(t => w.perLayer(ctx, t)).getOrElse(Nil)
    def metrics(ms: Seq[(String, Double, String)]) = Json.Obj(ms.map { case (n, v, u) =>
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) })
    val out = Json.obj(
      "workload" -> Json.str(args.workload),
      "seed" -> Json.num(args.seed.toDouble),
      "traced" -> Json.Bool(args.trace),
      "cores" -> Json.num(args.cores),
      "attempted" -> Json.num(ctx.rec.attempted.toDouble),
      "failed" -> Json.num(ctx.rec.failed.toDouble),
      "failures" -> Json.Arr(ctx.rec.failures.map { case (n, e) =>
        Json.obj("name" -> Json.str(n), "error" -> Json.str(e)) }),
      "session_s" -> Json.num(sessionMs / 1000),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "record" -> Json.Obj(ctx.rec.facts),
      "latencies_ms" -> Json.Obj(ctx.rec.allLatencies.map { case (k, v) => k -> Json.Arr(v.map(Json.num)) }))
    Files.writeString(Paths.get(args.out), Json.render(out) + "\n")
    ctx.tracer.foreach { t =>
      val f = new File(args.out.stripSuffix(".json") + ".spans.jsonl")
      val lines = t.allSpans.map(s => Json.render(Json.obj(
        "id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
        "request" -> Json.str(s.request), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))) ++
        t.allStages.map(s => Json.render(Json.obj(
          "stage" -> Json.num(s.stageId), "request" -> Json.str(s.request),
          "name" -> Json.str("stage"), "phase" -> Json.str(s.phase),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
          "tasks" -> Json.num(s.tasks), "task_ms" -> Json.num(s.runMs))))
      Files.write(f.toPath, lines.asJava)
    }
    spark.stop()
  }
}
