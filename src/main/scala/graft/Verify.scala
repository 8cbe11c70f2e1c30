package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // The inventory compiles far more codegen classes than the default
    // 100-entry cache holds; keep them warm across the run.
    val spark = Engine.session(s"local[$cpus]", cpus.toInt, codegenCacheEntries = 2000)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Write the oracle map BEFORE the query loop: it depends only on the
    // static defs, and a driver-side timeout/kill mid-loop then degrades
    // the round to partial results instead of leaving every
    // already-written parquet output undiffable (the round-7 failure
    // mode: a killed JVM took the oracle map down with it → `{}`).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Dev convenience (unset in the driver's run): comma-separated query
    // names to dump, for fast iteration on a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val progress = Paths.get(s"$outDir/progress.txt")
    Files.deleteIfExists(progress)
    val names = SparkEntry.queries.keys.toSeq
      .filter(name => only.forall(_.contains(name)))
    // Per-query watchdog: the whole gate has a driver-side budget, so one
    // pathological query (runaway skew, a hung stream) must cost at most
    // its own slice, not the remaining run. On timeout the query's Spark
    // jobs are cancelled via its job group and the loop moves on.
    val timeoutS = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    var done = 0
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val task = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          // job group is thread-local: set on the thread that runs the query
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          finally spark.sparkContext.clearJobGroup()
        }
      })
      val status =
        try {
          task.get(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
          "ok"
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelJobGroup(name)
            task.cancel(true)
            System.err.println(s"[verify] $name timed out after ${timeoutS}s")
            "timeout"
          case e: Throwable =>
            val cause = Option(e.getCause).getOrElse(e)
            System.err.println(s"[verify] $name failed: ${cause.getMessage}")
            "fail"
        }
      done += 1
      // Append-flush per query so a kill leaves an audit trail of how far
      // the run got and which outputs are trustworthy.
      Files.writeString(progress, s"$done/${names.size} $name $status\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    pool.shutdownNow()
    spark.stop()
  }
}
