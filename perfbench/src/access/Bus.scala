package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; traced runs wait on it so that a
  * call's job and task events are counted before the call's record closes. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
