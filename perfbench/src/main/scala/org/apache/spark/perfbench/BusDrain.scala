package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered,
  * so the traced run attributes listener counters before it moves on.
  * Lives under `org.apache.spark` because the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
