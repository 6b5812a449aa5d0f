package org.apache.spark.cdcbench

import org.apache.spark.SparkContext

/** Access to the listener bus flush, which Spark keeps package-private:
  * counters read from a listener are only complete once every event
  * posted before the read has been delivered. */
object Drain {
  def listeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
