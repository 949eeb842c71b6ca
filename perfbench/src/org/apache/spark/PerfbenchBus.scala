package org.apache.spark

/** Lets the benchmark's tracer wait until Spark's listener bus has
  * delivered every event of the actions a span ran, so the counters are
  * read after the action and never through `Observation.get`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
