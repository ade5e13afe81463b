package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so counters
  * read after an operation include all of its events. The listener bus is
  * package-private to Spark, hence this bridge in Spark's namespace. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
