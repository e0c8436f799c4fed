package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far,
  * so a test's job listener has seen every job its body launched. Lives in
  * the `org.apache.spark` namespace only to reach the `private[spark]` bus. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
