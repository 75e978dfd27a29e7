package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener queue of `sc` is empty, so counters read
  * right after a job include all of that job's events (the bus is
  * asynchronous; the drain hook is package-private to Spark).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
