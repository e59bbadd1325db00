package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to Spark's listener bus from the benchmark: the counters read at a
  * span boundary must include every event posted before it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
