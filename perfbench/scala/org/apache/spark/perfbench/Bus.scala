package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a read of
  * the benchmark's listener counters sees all jobs and tasks that finished
  * before the call. `listenerBus` is package-private to Spark, hence this
  * file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
