package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.streaming.{MaterializedView, StreamingPipeline}

/** Seeded generator of `events` batches. It keeps its own per-(user,
  * hour) counts and value sums (in cents), the ground truth the
  * materialized view is checked against.
  */
final class EventGen(seed: Long, val rowsPerBatch: Int, users: Int = 500) {
  private val baseUs = 1704067200L * 1000000 // 2024-01-01 00:00 UTC
  private val hourUs = 3600L * 1000000
  private val kinds = Array("view", "click", "signup", "purchase", "error")
  val groups = mutable.HashMap.empty[(Long, Long), Array[Long]]
  var rows = 0L

  /** Rows of batch `b` (1-based): timestamps fall in a 24-hour range that
    * moves two hours per batch, so batches share (user, hour) groups.
    */
  def batch(b: Int): Seq[Row] = {
    val rng = new scala.util.Random(seed * 1000003 + b)
    (0 until rowsPerBatch).map { i =>
      val user = rng.nextInt(users).toLong
      val ts = baseUs + (2L * b) * hourUs + (rng.nextDouble() * 24 * hourUs).toLong
      val cents = 1 + rng.nextInt(50000)
      val g = groups.getOrElseUpdate((user, ts / hourUs * 3600), Array(0L, 0L))
      g(0) += 1
      g(1) += cents
      rows += 1
      Row((b.toLong - 1) * rowsPerBatch + i, new java.sql.Timestamp(ts / 1000), user,
        kinds(rng.nextInt(kinds.length)), cents / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
  }

  /** (groups, Σn, Σcents, Σ n·w1, Σ cents·w2) — the same sums
    * [[IngestRefresh.checksum]] computes over the view.
    */
  def checksum: Seq[BigInt] = {
    val gs = groups.toSeq
    Seq(BigInt(gs.size), BigInt(gs.map(_._2(0)).sum), BigInt(gs.map(_._2(1)).sum),
      gs.map { case ((u, h), a) => BigInt(a(0)) * ((u * 1000003 + h / 3600) % 1000033) }.sum,
      gs.map { case ((u, h), a) => BigInt(a(1)) * ((u * 7919 + h / 3600) % 1009) }.sum)
  }
}

/** ingest_refresh: one writer lands seeded `events` batches as parquet
  * files; after each, `StreamingPipeline.incrementalSink` consumes the new
  * file into a parquet sink. Every [[batchesPerCycle]] batches the cycle
  * ends with a trigger that has no new file, a `MaterializedView.refresh`
  * of a per-(user, hour) aggregate over the sink, and reads of the sink and
  * the view, which check exactly-once delivery and the view's totals.
  */
final class IngestRefresh(args: Args) extends Workload {
  val batchesPerCycle = 4
  private val root = s"${args.workDir}/ingest"
  private val src = s"$root/src"
  private val stage = s"$root/stage"
  private var gen: EventGen = _
  private var schema: StructType = _
  private var landedRows = 0L
  private var sinkMs = 0.0
  private var windowS = 0.0

  private def reset(): Unit = {
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    rm(new File(root))
    Files.createDirectories(Paths.get(src))
  }

  private def hourly(spark: SparkSession): DataFrame =
    Tables(spark, root, "sink")
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total"))

  /** Collect the one-row result of `df`; in a traced run, fold its
    * planning phases and SQL metrics (files read) into the counters.
    */
  private def read(ctx: Ctx, df: DataFrame): Row = {
    val r = df.collect().head
    ctx.tracer.foreach(t => Layers.recordPlanned(t, df))
    r
  }

  /** Five exact sums over the view; see [[EventGen.checksum]]. */
  def checksum(ctx: Ctx): Seq[BigInt] = {
    val r = read(ctx, Tables(ctx.spark, root, "mv").selectExpr(
      "count(1)", "sum(n)", "CAST(sum(total) * 100 AS DECIMAL(38,0))",
      "sum(n * ((user_id * 1000003 + unix_seconds(hour) div 3600) % 1000033))",
      "CAST(sum(total * 100 * ((user_id * 7919 + unix_seconds(hour) div 3600) % 1009)) AS DECIMAL(38,0))"))
    (0 until 5).map(i => BigInt(r.get(i).toString))
  }

  private def land(spark: SparkSession, b: Int): Long = {
    val out = s"$stage/$b"
    spark.createDataFrame(gen.batch(b).asJava, schema).coalesce(1).write.parquet(out)
    val part = new File(out).listFiles.find(_.getName.endsWith(".parquet")).get
    val dst = Paths.get(f"$src/batch_$b%05d.parquet")
    Files.move(part.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
    Files.size(dst)
  }

  private def sink(spark: SparkSession): Unit =
    StreamingPipeline.incrementalSink(spark, src, s"$root/sink.parquet", s"$root/checkpoint")(
      _.withColumn("hour", date_trunc("hour", col("ts"))))

  def setup(spark: SparkSession): Unit = {
    schema = Tables(spark, s"${args.dataDir}/sf0.001", "events").schema
    // Untimed warm-up: whole cycles of quarter-size batches with another
    // seed, in the same directories, which are then cleared. One cycle
    // left the JIT cold: over the next three the median sink call still
    // fell from 764 to 518 ms and the median sink read from 270 to 194 ms.
    val warm = new Ctx(args.copy(trace = false), spark)
    try runCycles(warm, new EventGen(args.seed + 7777, math.max(1, args.batchRows / 4)), IngestRefresh.WarmCycles)
    finally warm.guard.close()
    warm.rec.failures.foreach { case (n, e) => System.err.println(s"[perfbench] warm-up $n: $e") }
  }

  def measure(ctx: Ctx): Unit = {
    val start = Trace.nowMs
    // A fixed number of whole cycles, one per CycleSeconds of the window,
    // so every run does the same work and ends with the checks.
    val cycles = math.max(1, math.round(args.seconds / IngestRefresh.CycleSeconds).toInt)
    runCycles(ctx, new EventGen(args.seed, args.batchRows), cycles)
    windowS = (Trace.nowMs - start) / 1000
    ctx.rec.fact("window_s", Json.num(windowS))
  }

  private def runCycles(ctx: Ctx, generator: EventGen, cycles: Int): Unit = {
    val spark = ctx.spark
    reset()
    gen = generator
    landedRows = 0L
    sinkMs = 0.0
    var b = 0
    var cycle = 0
    def op[T](req: String, kind: String, parent: Long)(body: => T): Option[(T, Double)] = {
      val t0 = System.nanoTime()
      ctx.guard(req, kind)(ctx.span(req, kind, parent)(_ => body)) match {
        case Right(v) => Some((v, (System.nanoTime() - t0) / 1e6))
        case Left(err) => ctx.rec.fail(s"$req $kind", err); None
      }
    }
    def filesIn(dir: String) = Option(new File(dir).listFiles).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    // Exactly-once: the sink holds every landed row once, after every
    // batch and after the trigger that has no new file.
    def readSink(req: String, parent: Long): Unit =
      op(req, "read", parent)(read(ctx, Tables(spark, root, "sink").agg(count(lit(1)))).getLong(0)).foreach { case (n, ms) =>
        if (n == landedRows) ctx.rec.ok("read_sink", ms)
        else ctx.rec.fail(s"$req read sink", s"sink has $n rows, landed $landedRows (exactly-once)")
      }
    while (cycle < cycles) {
      (1 to batchesPerCycle).foreach { _ =>
        b += 1
        val req = s"b$b"
        ctx.span(req, "request", 0) { id =>
          op(req, "land", id)(land(spark, b)).foreach { case (bytes, ms) =>
            ctx.rec.ok("land", ms)
            landedRows += gen.rowsPerBatch
            ctx.tracer.foreach(_.add("write.bytes_landed", bytes.toDouble))
          }
          val files0 = filesIn(s"$root/sink.parquet")
          op(req, "streaming.sink", id)(sink(spark)).foreach { case (_, ms) =>
            ctx.rec.ok("ingest", ms)
            sinkMs += ms
          }
          ctx.tracer.foreach(_.add("write.files", filesIn(s"$root/sink.parquet") - files0))
          readSink(req, id)
        }
      }
      cycle += 1
      val req = s"r$cycle"
      ctx.span(req, "request", 0) { id =>
        // A trigger with no new file must add no rows (checked by the
        // sink read below).
        op(req, "streaming.sink", id)(sink(spark)).foreach { case (_, ms) => ctx.rec.ok("idle_trigger", ms) }
        op(req, "mv.refresh", id)(MaterializedView.refresh(spark, s"$root/mv.parquet", hourly(spark)))
          .foreach { case (n, ms) =>
            ctx.tracer.foreach { t =>
              t.add("mv.rows", n.toDouble)
              t.add("write.files", filesIn(s"$root/mv.parquet"))
            }
            if (n == gen.groups.size) ctx.rec.ok("refresh", ms)
            else ctx.rec.fail(s"$req mv.refresh", s"view has $n rows, generator has ${gen.groups.size} groups")
          }
        readSink(req, id)
        op(req, "read", id)(checksum(ctx)).foreach { case (sums, ms) =>
          if (sums == gen.checksum) ctx.rec.ok("read_view", ms)
          else ctx.rec.fail(s"$req read view", s"view sums $sums, generator ${gen.checksum}")
        }
      }
    }
    ctx.tracer.foreach(_.add("tables.load_ms", Layers.probeTables(spark, root, Seq("sink", "mv"))))
    ctx.rec.fact("batches", Json.num(b))
    ctx.rec.fact("cycles", Json.num(cycle))
    ctx.rec.fact("rows_landed", Json.num(landedRows.toDouble))
  }

  def endToEnd(ctx: Ctx): Seq[(String, Double, String)] = {
    def med(kind: String) = Stats.median(ctx.rec.latencies(kind))
    val ing = ctx.rec.latencies("ingest")
    val reads = ctx.rec.latencies("read_sink") ++ ctx.rec.latencies("read_view")
    val (ipct, itail) = Stats.tail(ing)
    val (qpct, qtail) = Stats.tail(reads)
    ctx.rec.fact("ingest_tail", Json.obj("percentile" -> Json.num(ipct), "samples" -> Json.num(ing.size)))
    ctx.rec.fact("query_tail", Json.obj("percentile" -> Json.num(qpct), "samples" -> Json.num(reads.size)))
    // One cycle with every operation at its median.
    val cycle = batchesPerCycle * (med("ingest") + med("read_sink")) + med("idle_trigger") +
      med("refresh") + med("read_sink") + med("read_view")
    Seq(
      ("suite_s", cycle / 1000, "s"),
      ("query_p50_ms", Stats.median(reads), "ms"),
      ("query_tail_ms", qtail, "ms"),
      ("queries_per_s", reads.size / windowS, "1/s"),
      ("ingest_rows_per_s", landedRows / (sinkMs / 1000), "rows/s"),
      ("ingest_p50_ms", Stats.median(ing), "ms"),
      ("ingest_tail_ms", itail, "ms"),
      ("refresh_p50_ms", med("refresh"), "ms"))
  }

  def perLayer(ctx: Ctx, t: Tracer): Seq[(String, Double, String)] =
    Layers.report(t, ctx.rec.latencies("ingest").size, 0.0, args.cores, Main.sessionMs, (0L, 0.0),
      Set("land", "streaming.sink", "mv.refresh", "read"))
}

object IngestRefresh {
  /** Nominal length of one cycle (at 4 cores one took 4.7 s after warm-up). */
  val CycleSeconds = 5.0
  /** Untimed cycles in set-up. */
  val WarmCycles = 3
}
