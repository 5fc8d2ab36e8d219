package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so Spark counters read right after an operation include all of its
  * jobs, stages and tasks. (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
