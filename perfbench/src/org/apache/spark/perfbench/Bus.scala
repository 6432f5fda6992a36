package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far,
  * so the benchmark's listeners have seen all jobs of a span that just
  * ended. `SparkContext.listenerBus` is `private[spark]`, hence the
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
