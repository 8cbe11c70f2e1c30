package graft

import graft.tools.StatelessSweep
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The reference's OWN stateless SQL tests, run verbatim: each
  * allowlisted `NNNN_*.sql` from
  * /root/reference/tests/queries/4_cnch_stateless/ is transpiled
  * (ChTranspiler), executed through `spark.sql` with the dialect
  * registry, formatted as ClickHouse TabSeparated (ChFormat), and
  * string-compared against the reference's own `.reference` golden
  * file — the same check `tests/clickhouse-test:386` performs against
  * the real server. This is the literal "a reference user's queries
  * run unchanged" gate; the allowlist is the frozen output of
  * tools/StatelessSweep (re-run it after dialect work to widen).
  */
class StatelessCorpusSpec extends SparkSpec {

  private val corpusDir = "/root/reference/tests/queries/4_cnch_stateless"

  private lazy val allowlist: Seq[String] = {
    val url = getClass.getResource("/stateless_allowlist.txt")
    assert(url != null, "stateless_allowlist.txt missing from test resources")
    scala.io.Source.fromURL(url).getLines().map(_.trim)
      .filter(_.nonEmpty).toSeq
  }

  test("allowlist is frozen and non-trivial") {
    assert(allowlist.size >= 140, s"allowlist shrank to ${allowlist.size}")
  }

  /** Isolated corpus session: the strict CH overrides (length = bytes)
    * must not leak into the shared test session's registry, and — since
    * r16 runs the corpus files CONCURRENTLY — every file gets its OWN
    * child session so temp-view names (the corpus reuses t/t1/test
    * across files) cannot collide. All settings are per-session, so the
    * banked goldens see exactly the sequential runner's environment:
    * same master, same 8 shuffle partitions, same Moscow tz.
    */
  private def mkCorpusSession(): org.apache.spark.sql.SparkSession =
    StatelessSweep.configure(spark.newSession(), StatelessSweep.corpusTz)

  test("every allowlisted reference stateless test passes verbatim") {
    assume(Files.isDirectory(Paths.get(corpusDir)), "reference corpus absent")
    // r16: this sweep was 2120 s of the suite's 2374 s — one file at a
    // time, each file a chain of tiny Spark jobs that left the host
    // idle. The files are independent (per-file ChSession over a
    // per-file child SparkSession), so run them from a thread pool
    // (guide §2.6 "overlap independent jobs"): StatelessSweep.run pins
    // the active session per thread, and job content/row order per file
    // is untouched (same confs, same partition counts — concurrency
    // changes WHEN jobs run, not what they compute).
    // Daemon workers: a timed-out file stuck in a loop that ignores the
    // interrupt must not keep the test JVM alive.
    val pool = new java.util.concurrent.ThreadPoolExecutor(8, 8, 0L,
      java.util.concurrent.TimeUnit.MILLISECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, "corpus-runner"); t.setDaemon(true); t
      })
    val timeoutNs = java.util.concurrent.TimeUnit.SECONDS.toNanos(StatelessSweep.fileTimeoutS)
    val failures =
      try {
        val futs = allowlist.map { name =>
          val started = new java.util.concurrent.atomic.AtomicLong(0L)
          val fut = pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = {
              started.set(System.nanoTime)
              val sqlText = new String(
                Files.readAllBytes(Paths.get(corpusDir, name)), "UTF-8")
              val expected = new String(
                Files.readAllBytes(Paths.get(corpusDir,
                  name.dropRight(4) + ".reference")), "UTF-8")
              StatelessSweep.run(mkCorpusSession(), sqlText) match {
                case Right(actual)
                    if actual.replaceAll("\n+$", "") ==
                      expected.replaceAll("\n+$", "") =>
                  None
                case Right(actual) =>
                  Some(s"$name: output diff\n  want ${expected.take(120)}\n  got ${actual.take(120)}")
                case Left(err) =>
                  Some(s"$name: $err")
              }
            }
          })
          (name, started, fut)
        }
        // Each file fails on its own: a worker exception becomes that
        // file's failure line, and a file running past the sweep
        // runner's per-file watchdog, counted from its own start (not
        // from its wait in the queue), is cancelled and reported by name
        futs.flatMap { case (name, started, fut) =>
          var result: Option[Option[String]] = None
          while (result.isEmpty) {
            result =
              try Some(fut.get(1, java.util.concurrent.TimeUnit.SECONDS))
              catch {
                case _: java.util.concurrent.TimeoutException =>
                  val t0 = started.get
                  if (t0 != 0L && System.nanoTime - t0 > timeoutNs) {
                    fut.cancel(true)
                    // a worker stuck past the interrupt keeps its thread:
                    // one more thread keeps the other files running
                    pool.setMaximumPoolSize(pool.getMaximumPoolSize + 1)
                    pool.setCorePoolSize(pool.getCorePoolSize + 1)
                    Some(Some(s"$name: timed out after ${StatelessSweep.fileTimeoutS} s"))
                  } else None
                case e: java.util.concurrent.ExecutionException =>
                  Some(Some(s"$name: ${e.getCause}"))
                case e: Exception => Some(Some(s"$name: $e"))
              }
          }
          result.get
        }
      } finally {
        pool.shutdown()
        // a corpus session (Moscow tz, CH coercions) must not linger as
        // the thread's active session — later suites' lazy plan
        // optimization reads SQLConf.get from it (timestamp literals
        // in golden plans would shift by the Moscow offset)
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
      }
    assert(failures.isEmpty,
      s"${failures.size} stateless tests regressed:\n${failures.mkString("\n")}")
  }
}
