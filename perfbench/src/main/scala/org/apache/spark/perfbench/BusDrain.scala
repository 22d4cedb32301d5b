package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted scheduler event has reached the listeners
  * (the listener bus is asynchronous and only Spark's own package can
  * drain it), so a listener read right after an action sees all of it.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
