package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** The number of Spark jobs a block starts, counted by a job group of its
  * own. Jobs reach the status tracker through the asynchronous listener
  * bus, so the count waits until the bus has delivered every event posted
  * so far; `SparkContext.listenerBus` is `private[spark]` — same pattern
  * as [[StatsBridge]]. */
object JobsBridge {
  def counted[T](sc: SparkContext, group: String)(body: => T): (T, Int) = {
    sc.setJobGroup(group, group)
    val result = try body finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty()
    (result, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
