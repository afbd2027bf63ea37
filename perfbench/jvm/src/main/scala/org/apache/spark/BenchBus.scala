package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so that
  * counters read right after an action include that action's jobs and
  * tasks. The bus is private to Spark; this object lives in its package
  * only to reach it. Used by the traced mode alone. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
