package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision (see [[Trace.nowMs]]), the clock Spark's
  * own stage times use, so listener stages nest under harness spans.
  */
final case class Span(id: Long, parent: Long, request: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Per-stage totals taken from Spark's task metrics. */
final case class StageRow(stageId: Int, request: String, phase: String,
    startMs: Double, endMs: Double, tasks: Int, busyScanTasks: Int,
    runMs: Double, cpuMs: Double, gcMs: Double,
    inputRows: Long, inputBytes: Long, outputBytes: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, shuffleRecords: Long,
    shuffleWriteMs: Double, fetchWaitMs: Double, spillBytes: Long, peakMemBytes: Long)

object Trace {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  /** Job-local property naming the layer a Spark job was started from. */
  val PhaseKey = "perfbench.phase"
}

/** Spans and Spark-side metrics of a traced run. Everything stays in
  * memory until the run ends. When tracing is off no instance exists, no
  * listener is registered and no tracker is read.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stages = mutable.ArrayBuffer.empty[StageRow]
  private val jobsByPhase = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var skipped = 0L
  private val stageMeta = mutable.Map.empty[Int, (String, String)]
  private val busyTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val peakMem = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val submitted = mutable.Set.empty[Int]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  /** Time `body` as a span; `parent` is 0 for a request's root span. */
  def span[T](request: String, name: String, parent: Long)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = Trace.nowMs
    try body(id)
    finally {
      val s = Span(id, parent, request, name, t0, Trace.nowMs)
      synchronized(spans += s)
    }
  }

  def add(counter: String, v: Double): Unit = synchronized(counters(counter) += v)

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def allStages: Seq[StageRow] = synchronized(stages.toList)
  def jobs(phase: String): Long = synchronized(jobsByPhase(phase))
  def jobsTotal: Long = synchronized(jobsByPhase.values.sum)
  def stagesSkipped: Long = synchronized(skipped)
  def counter(name: String): Double = synchronized(counters(name))
  def streamProgress: Seq[Map[String, Double]] = synchronized(progress.toList)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.PhaseKey))).getOrElse("other")
      jobsByPhase(phase) += 1
      jobStages(e.jobId) = e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      skipped += jobStages.remove(e.jobId).getOrElse(Nil).count(s => !submitted.contains(s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String, d: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse(d)
      submitted += e.stageInfo.stageId
      stageMeta(e.stageInfo.stageId) = (prop("spark.jobGroup.id", ""), prop(Trace.PhaseKey, "other"))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        if (m.inputMetrics.recordsRead > 0) busyTasks(e.stageId) += 1
        peakMem(e.stageId) = math.max(peakMem(e.stageId), m.peakExecutionMemory)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val (group, phase) = stageMeta.remove(i.stageId).getOrElse(("", "other"))
      if (m != null) stages += StageRow(i.stageId, group, phase,
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        i.numTasks, busyTasks.remove(i.stageId).getOrElse(0),
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.writeTime / 1e6, m.shuffleReadMetrics.fetchWaitTime.toDouble,
        m.memoryBytesSpilled + m.diskBytesSpilled, peakMem.remove(i.stageId).getOrElse(0L))
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      val m = mutable.Map.empty[String, Double]
      d.forEach((k, v) => m(k) = v.toDouble)
      m("rows") = e.progress.numInputRows.toDouble
      Tracer.this.synchronized(progress += m.toMap)
    }
  }
}

/** Walks an executed physical plan (through adaptive plans, query stages
  * and subqueries) and sums named SQL metrics by operator class.
  */
object PlanMetrics {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** (operator class simple name, metric name) -> value, per plan node. */
  def snapshot(p: SparkPlan): Map[(Int, String, String), Long] =
    nodes(p).flatMap { n =>
      n.metrics.map { case (k, m) => (System.identityHashCode(n), n.getClass.getSimpleName, k) -> m.value }
    }.toMap

  /** Sum of metric `key` over nodes whose class name contains `cls`,
    * as the difference between two snapshots of the same plan.
    */
  def delta(before: Map[(Int, String, String), Long], after: Map[(Int, String, String), Long],
      cls: String, key: String): Long =
    after.iterator.collect {
      case (k @ (_, c, m), v) if c.contains(cls) && m == key => v - before.getOrElse(k, 0L)
    }.sum
}
