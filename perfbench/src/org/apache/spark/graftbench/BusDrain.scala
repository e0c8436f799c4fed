package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far,
  * so a traced op's jobs, stages, tasks and query executions are all
  * accounted before the next op starts. Lives in the `org.apache.spark`
  * namespace only to reach the `private[spark]` bus. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
