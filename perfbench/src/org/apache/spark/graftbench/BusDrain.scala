package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's ledger listeners have seen all jobs, tasks and query
  * executions before their counts are read. The bus is Spark-internal,
  * hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
