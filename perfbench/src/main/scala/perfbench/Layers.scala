package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Per-layer metrics of a traced run, shared by the three workloads. All
  * counts and times are means per timed request unless the name is a
  * ratio or says otherwise; a layer a workload does not use reads 0.
  */
object Layers {
  /** Span names whose self time is reported, in report order. */
  val spanNames: Seq[String] = Seq("request", "queries.build", "plan", "exec",
    "land", "streaming.sink", "mv.refresh", "read")

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Stage intervals of `request` started from layer `phase`. */
  def stageIvs(t: Tracer, request: String, phase: String): Seq[(Double, Double)] =
    t.allStages.filter(s => s.request == request && s.phase == phase).map(s => (s.startMs, s.endMs))

  /** Self time per span name (total ms): duration minus the part covered
    * by child spans and, for spans that start Spark jobs, by their stages.
    */
  def selfTimes(t: Tracer): Map[String, Double] = {
    val spans = t.allSpans
    val children = spans.groupBy(_.parent)
    val stagesBy = t.allStages.groupBy(s => (s.request, s.phase))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
          stagesBy.getOrElse((s.request, s.name), Nil).map(x => (x.startMs, x.endMs))
        s.ms - covered(kids, s.startMs, s.endMs)
      }.sum
    }
  }

  /** Share of each span named in `execNames` covered by the stages of
    * the jobs it started.
    */
  def execCoverage(t: Tracer, execNames: Set[String]): Seq[(Span, Double)] =
    t.allSpans.filter(s => execNames(s.name)).map { s =>
      s -> (if (s.ms <= 0) 1.0 else covered(stageIvs(t, s.request, s.name), s.startMs, s.endMs) / s.ms)
    }

  /** Median time of one `Tables.apply` call over `tables` of `dir`, three
    * rounds, taken after the window so it does not disturb it.
    */
  def probeTables(spark: org.apache.spark.sql.SparkSession, dir: String, tables: Seq[String]): Double =
    Stats.median((1 to 3).flatMap(_ => tables.map { n =>
      val t0 = System.nanoTime()
      graft.Tables(spark, dir, n)
      (System.nanoTime() - t0) / 1e6
    }))

  /** Codegen compile count and an estimate of its time (count × the mean of
    * Spark's compile-time histogram), read before and after the window.
    */
  def codegenMark(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Fold the tracker phases and graft rule statistics of an executed
    * frame, and the SQL metrics of its executed plan, into counters.
    */
  def recordPlanned(t: Tracer, df: DataFrame): Unit = {
    val tr = df.queryExecution.tracker
    tr.phases.foreach { case (phase, s) =>
      val key = phase match {
        case "analysis" => "plan.analysis_ms"
        case "optimization" => "plan.optimization_ms"
        case "planning" => "plan.physical_ms"
        case other => s"plan.$other" + "_ms"
      }
      t.add(key, s.durationMs.toDouble)
    }
    tr.rules.foreach { case (rule, r) =>
      if (rule.startsWith("graft.")) {
        t.add("plan.graft_rule_ns", r.totalTimeNs.toDouble)
        t.add("plan.graft_rule_invocations", r.numInvocations.toDouble)
        t.add("plan.graft_rule_effective", r.numEffectiveInvocations.toDouble)
      }
    }
    recordPlanMetrics(t, Map.empty, PlanMetrics.snapshot(df.queryExecution.executedPlan))
  }

  /** SQL metrics of the operators the per-layer report names, as the
    * difference of two snapshots of one plan (empty `before` for a plan
    * executed once).
    */
  def recordPlanMetrics(t: Tracer, before: Map[(Int, String, String), Long],
      after: Map[(Int, String, String), Long]): Unit = {
    def d(cls: String, key: String) = PlanMetrics.delta(before, after, cls, key).toDouble
    t.add("op.agg_ms", d("AggregateExec", "aggTime"))
    t.add("op.sort_ms", d("SortExec", "sortTime"))
    t.add("broadcast.build_ms", d("BroadcastExchangeExec", "buildTime"))
    t.add("broadcast.bytes", d("BroadcastExchangeExec", "dataSize"))
    t.add("tables.files_read", d("FileSourceScanExec", "numFiles"))
  }

  /** The per-layer metrics every workload reports. `requests` is the number
    * of timed requests; `resultRows` the rows they returned.
    */
  def report(t: Tracer, requests: Int, resultRows: Double, cores: Int,
      sessionMs: Double, codegen: (Long, Double),
      execNames: Set[String] = Set("exec")): Seq[(String, Double, String)] = {
    val n = math.max(1, requests).toDouble
    val spans = t.allSpans
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum
    val timed = t.allStages.filter(s => s.request.nonEmpty && s.phase != "queries.build")
    val scans = timed.filter(_.inputRows > 0)
    val execMs = execNames.toSeq.map(spanMs).sum
    val taskMs = timed.map(_.runMs).sum
    val scanTasks = scans.map(_.tasks).sum
    val scanRows = scans.map(_.inputRows).sum.toDouble
    val progress = t.streamProgress
    def prog(keys: String*) = progress.map(p => keys.map(k => p.getOrElse(k, 0.0)).sum).sum
    val graftInv = t.counter("plan.graft_rule_invocations")
    val cov = execCoverage(t, execNames).map(_._2)
    val self = selfTimes(t)
    val landed = t.counter("write.bytes_landed")
    val written = timed.map(_.outputBytes).sum.toDouble
    Seq(
      ("engine.session_ms", sessionMs, "ms"),
      ("tables.load_ms", t.counter("tables.load_ms"), "ms"),
      ("tables.scan_rows", scanRows / n, "rows"),
      ("tables.scan_bytes", scans.map(_.inputBytes).sum / n, "bytes"),
      ("tables.rows_per_result", if (resultRows > 0) scanRows / resultRows else 0.0, "ratio"),
      ("tables.scan_tasks", scanTasks / n, "count"),
      ("tables.scan_busy_ratio",
        if (scanTasks > 0) scans.map(_.busyScanTasks).sum.toDouble / scanTasks else 0.0, "ratio"),
      ("tables.files_read", t.counter("tables.files_read") / n, "count"),
      ("queries.build_ms", spanMs("queries.build") / n, "ms"),
      ("queries.build_jobs", t.jobs("queries.build") / n, "count"),
      ("plan.analysis_ms", t.counter("plan.analysis_ms") / n, "ms"),
      ("plan.optimization_ms", t.counter("plan.optimization_ms") / n, "ms"),
      ("plan.physical_ms", t.counter("plan.physical_ms") / n, "ms"),
      ("plan.graft_rule_ms", t.counter("plan.graft_rule_ns") / 1e6 / n, "ms"),
      ("plan.graft_rule_effective_ratio",
        if (graftInv > 0) t.counter("plan.graft_rule_effective") / graftInv else 0.0, "ratio"),
      ("codegen.compiles", codegen._1 / n, "count"),
      ("codegen.compile_ms", codegen._2 / n, "ms"),
      ("exec.ms", execMs / n, "ms"),
      ("exec.jobs", (t.jobsTotal - t.jobs("queries.build") - t.jobs("other")) / n, "count"),
      ("exec.stages", timed.size / n, "count"),
      ("exec.stages_skipped", t.stagesSkipped / n, "count"),
      ("exec.tasks", timed.map(_.tasks).sum / n, "count"),
      ("exec.task_ms", taskMs / n, "ms"),
      ("exec.cpu_ms", timed.map(_.cpuMs).sum / n, "ms"),
      ("exec.gc_ms", timed.map(_.gcMs).sum / n, "ms"),
      ("exec.slot_busy_ratio", if (execMs > 0) taskMs / (execMs * cores) else 0.0, "ratio"),
      ("exec.spill_bytes", timed.map(_.spillBytes).sum / n, "bytes"),
      ("exec.peak_mem_bytes", if (timed.isEmpty) 0.0 else timed.map(_.peakMemBytes).max.toDouble, "bytes"),
      ("exec.stage_coverage", if (cov.isEmpty) 0.0 else Stats.median(cov), "ratio"),
      ("op.agg_ms", t.counter("op.agg_ms") / n, "ms"),
      ("op.sort_ms", t.counter("op.sort_ms") / n, "ms"),
      ("shuffle.write_bytes", timed.map(_.shuffleWriteBytes).sum / n, "bytes"),
      ("shuffle.read_bytes", timed.map(_.shuffleReadBytes).sum / n, "bytes"),
      ("shuffle.records", timed.map(_.shuffleRecords).sum / n, "count"),
      ("shuffle.write_ms", timed.map(_.shuffleWriteMs).sum / n, "ms"),
      ("shuffle.fetch_wait_ms", timed.map(_.fetchWaitMs).sum / n, "ms"),
      ("broadcast.build_ms", t.counter("broadcast.build_ms") / n, "ms"),
      ("broadcast.bytes", t.counter("broadcast.bytes") / n, "bytes"),
      ("streaming.sink_ms", prog("addBatch") / n, "ms"),
      ("streaming.trigger_ms", prog("triggerExecution") / n, "ms"),
      ("streaming.planning_ms", prog("queryPlanning") / n, "ms"),
      ("streaming.commit_ms", prog("walCommit", "commitOffsets") / n, "ms"),
      ("streaming.rows", prog("rows") / n, "rows"),
      ("mv.refresh_ms", spanMs("mv.refresh") / n, "ms"),
      ("mv.rows", t.counter("mv.rows") / n, "rows"),
      ("write.bytes", written / n, "bytes"),
      ("write.files", t.counter("write.files") / n, "count"),
      ("write.amp", if (landed > 0) written / landed else 0.0, "ratio"),
      ("trace.requests", requests.toDouble, "count"),
      ("trace.spans", spans.size.toDouble, "count"),
    ) ++ spanNames.map(s => (s"self.${s}_ms", self.getOrElse(s, 0.0) / n, "ms")) ++
      Seq(("self.stage_ms", timed.map(s => s.endMs - s.startMs).sum / n, "ms"))
  }
}
