package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** adhoc_inventory: a closed loop of `cores` clients over a fixed set of
  * the query inventory (`graft.SparkEntry.queries`). Each client has its
  * own child session with the engine's functions registered; every
  * request builds a fresh DataFrame, plans it and executes it.
  */
final class AdhocInventory(args: Args) extends Workload {
  private val sf = if (args.scale == "tiny") "sf0.001" else "sf0.01"
  private val expected = Expect.load(s"${args.expectedDir}/inventory_$sf.tsv")
  /** The fixed query set (expected/adhoc_queries.txt; the README says why). */
  private val names: Seq[String] = {
    val all = AdhocInventory.querySet(args.expectedDir)
    if (args.limit > 0) all.take(args.limit) else all
  }
  private var clients: Seq[SparkSession] = Nil
  private var elapsedS = 0.0
  private var resultRows = 0.0
  private var codegen = (0L, 0.0)

  def setup(spark: SparkSession): Unit = {
    val dir = s"${args.dataDir}/$sf"
    clients = (0 until args.cores).map { _ =>
      val s = spark.newSession()
      graft.Engine.registerFunctions(s)
      s
    }
    graft.Tables.all.foreach(t => graft.Tables(spark, dir, t).schema)
    // Untimed warm-up: every third query of the set, run by all clients,
    // so the JIT and Spark's first-use paths are warm. After every sixth
    // query only, latency still fell by a quarter from the first to the
    // last quarter of the timed pass. The codegen cache is not warm: a
    // pass compiles far more classes than its default 100 entries.
    val qs = graft.SparkEntry.queries
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](
      names.zipWithIndex.collect { case (n, i) if i % 3 == 0 => n }.asJava)
    val threads = clients.map { s =>
      new Thread(() => Iterator.continually(queue.poll()).takeWhile(_ != null).foreach { name =>
        try Digest.execute(qs(name)(s, dir))
        catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $name: $e") }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def measure(ctx: Ctx): Unit = {
    val dir = s"${args.dataDir}/$sf"
    val qs = graft.SparkEntry.queries
    val before = if (ctx.tracer.isDefined) Layers.codegenMark() else (0L, 0.0)
    val start = Trace.nowMs
    val rows = new java.util.concurrent.atomic.DoubleAdder
    // Shared closed-loop queue: every pass is the same seeded permutation
    // of the query set, so a query recurs only after all others (no seed
    // lets it hit the codegen cache sooner); a client takes the next query
    // when its last one is done. A run does a fixed number of whole
    // passes, one per PassSeconds of the window, so every run does the
    // same work. Each request of a pass is a distinct query, so the seed's
    // order changes which queries run side by side, averaged over the
    // whole set.
    val order = new scala.util.Random(args.seed).shuffle(names)
    val passes = AdhocInventory.passes(args.seconds)
    val queue = mutable.Queue.from((0 until passes).flatMap(p => order.map(n => (p, n))))
    val passEnd = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    def next(): Option[(Int, String)] = queue.synchronized {
      if (queue.isEmpty) None else Some(queue.dequeue())
    }
    val threads = clients.zipWithIndex.map { case (session, c) =>
      new Thread(() => {
        Iterator.continually(next()).takeWhile(_.isDefined).flatten.foreach { case (pass, name) =>
          val req = s"c$c-$pass-$name"
          val t0 = System.nanoTime()
          val r = ctx.guard(req, name) {
            ctx.span(req, "request", 0) { id =>
              val df = ctx.span(req, "queries.build", id)(_ => qs(name)(session, dir))
              ctx.span(req, "plan", id)(_ => df.queryExecution.executedPlan)
              val d = ctx.span(req, "exec", id)(_ => Digest.execute(df))
              ctx.tracer.foreach(t => Layers.recordPlanned(t, df))
              d
            }
          }
          val ms = (System.nanoTime() - t0) / 1e6
          passEnd.merge(pass, Trace.nowMs, (a, b) => math.max(a, b))
          r match {
            case Right(d) => Expect.check(expected, name, d) match {
              case None =>
                ctx.rec.ok("query", ms)
                ctx.rec.sample(s"q:$name", ms)
                rows.add(d.rows.toDouble)
              case Some(err) => ctx.rec.fail(name, s"client $c: $err")
            }
            case Left(err) => ctx.rec.fail(name, s"client $c: $err")
          }
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    elapsedS = (Trace.nowMs - start) / 1000
    resultRows = rows.sum()
    ctx.rec.fact("window_s", Json.num(elapsedS))
    ctx.rec.fact("query_set_size", Json.num(names.size))
    ctx.rec.fact("passes", Json.num(passes))
    ctx.rec.fact("pass_end_s", Json.Arr((0 until passes).map(p => Json.num((passEnd.get(p) - start) / 1000))))
    ctx.rec.fact("query_median_ms", Json.Obj(names.map(n => n -> Json.num(
      ctx.rec.latencies(s"q:$n").headOption.map(_ => Stats.median(ctx.rec.latencies(s"q:$n"))).getOrElse(0.0)))))
    for (t <- ctx.tracer) {
      t.add("tables.load_ms", Layers.probeTables(clients.head, dir, graft.Tables.all))
      val after = Layers.codegenMark()
      codegen = (after._1 - before._1, (after._1 - before._1) * after._2)
    }
  }

  def endToEnd(ctx: Ctx): Seq[(String, Double, String)] = {
    val lat = ctx.rec.latencies("query")
    val (pct, tail) = Stats.tail(lat)
    ctx.rec.fact("query_tail", Json.obj("percentile" -> Json.num(pct), "samples" -> Json.num(lat.size)))
    // One pass over the query set with every query at its median.
    val pass = names.map(n => ctx.rec.latencies(s"q:$n")).filter(_.nonEmpty).map(Stats.median).sum
    Seq(
      ("suite_s", pass / 1000, "s"),
      ("queries_per_s", lat.size / elapsedS, "1/s"),
      ("query_p50_ms", Stats.median(lat), "ms"),
      ("query_tail_ms", tail, "ms"))
  }

  def perLayer(ctx: Ctx, t: Tracer): Seq[(String, Double, String)] =
    Layers.report(t, ctx.rec.latencies("query").size, resultRows, args.cores, Main.sessionMs, codegen)
}

object AdhocInventory {
  /** Nominal length of one pass over the query set with 4 clients
    * (26-32 s measured at 4 cores).
    */
  val PassSeconds = 25.0
  def passes(seconds: Double): Int = math.max(1, math.round(seconds / PassSeconds).toInt)

  def querySet(expectedDir: String): Seq[String] =
    Files.readAllLines(Paths.get(s"$expectedDir/adhoc_queries.txt")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
}
