package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; `waitUntilEmpty` is `private[spark]`.
  * The traced run calls this before it reads its listener's records. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
