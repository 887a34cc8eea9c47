package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this shim lives in
  * the `org.apache.spark` namespace so the benchmark can drain listener
  * events (job ends, task metrics, query-execution callbacks) before it
  * reads its counters at the end of an op.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
