package org.apache.spark

/** Lets specs wait until Spark's listener bus has delivered every event
  * posted so far, so a listener's counts are complete when read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
