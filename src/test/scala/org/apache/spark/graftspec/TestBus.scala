package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until every listener queue of `sc` is empty, so a spec's
  * listener has seen every event of the jobs that already ran (the bus
  * is asynchronous; the drain hook is package-private to Spark).
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
