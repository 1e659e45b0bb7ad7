package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * traced op's job, task and query-execution events are all recorded
  * before the next op starts. `waitUntilEmpty` is `private[spark]`,
  * hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
