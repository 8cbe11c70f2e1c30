package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import scala.jdk.CollectionConverters._

/** Failure isolation, as `graft.Verify` does it: every operation runs in
  * its own Spark job group under a time bound. A watchdog cancels the job
  * group of an operation past its deadline and interrupts its thread; the
  * operation then fails on its own and the run goes on.
  */
final class Guard(sc: SparkContext, boundMs: Long) extends AutoCloseable {
  import Guard.InFlight
  private val inFlight = new ConcurrentHashMap[String, InFlight]()
  private val timedOut = ConcurrentHashMap.newKeySet[String]()
  @volatile private var running = true

  private val watchdog = new Thread(() => {
    while (running) {
      val now = System.nanoTime()
      inFlight.asScala.foreach { case (group, f) =>
        if (now > f.deadlineNs && timedOut.add(group)) {
          sc.cancelJobGroup(group)
          f.thread.interrupt()
        }
      }
      try Thread.sleep(50) catch { case _: InterruptedException => () }
    }
  }, "perfbench-watchdog")
  watchdog.setDaemon(true)
  watchdog.start()

  /** Run `body` as job group `group` (also the request id of its spans).
    * Returns the value, or the error text on failure or timeout.
    */
  def apply[T](group: String, description: String)(body: => T): Either[String, T] = {
    sc.setJobGroup(group, description, interruptOnCancel = true)
    inFlight.put(group, InFlight(Thread.currentThread(), System.nanoTime() + boundMs * 1000000L))
    try Right(body)
    catch {
      case e: Throwable if timedOut.contains(group) =>
        Left(s"timed out after ${boundMs / 1000}s (${e.getClass.getSimpleName})")
      case e: Throwable =>
        val root = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq.last
        Left(s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(300)}")
    } finally {
      inFlight.remove(group)
      timedOut.remove(group)
      sc.clearJobGroup()
      Thread.interrupted() // clear an interrupt that raced the completion
    }
  }

  override def close(): Unit = { running = false; watchdog.interrupt() }
}

object Guard {
  private final case class InFlight(thread: Thread, deadlineNs: Long)
}
