package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under org.apache.spark to reach the listener bus, which is
  * `private[spark]`: the benchmark waits for every queued listener event
  * before it reads its traced metrics.
  */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
