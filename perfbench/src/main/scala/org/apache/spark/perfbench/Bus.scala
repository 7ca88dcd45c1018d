package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drains asynchronously; the harness waits for it before
  * it attaches or detaches its listeners, so no traced event is dropped. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
