package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus flush, which Spark keeps package-private: events a
  * listener counts are complete only once every event posted before the
  * read has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
