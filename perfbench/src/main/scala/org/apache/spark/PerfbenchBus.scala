package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counts read after an action include all of that action's tasks. The
  * bus is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
