package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered. Spark
  * delivers listener events asynchronously, so a traced run drains the
  * bus after each operation to attribute job, stage, task and Catalyst
  * counters to the operation that caused them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
