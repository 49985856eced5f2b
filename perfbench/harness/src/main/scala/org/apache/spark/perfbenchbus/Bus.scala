package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its counters only after every posted event arrived. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
