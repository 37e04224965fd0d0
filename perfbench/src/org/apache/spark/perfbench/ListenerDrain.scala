package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so a
  * read of the benchmark's layer totals sees every finished job.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
