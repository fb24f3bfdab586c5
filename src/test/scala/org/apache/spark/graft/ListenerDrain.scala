package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered. Spark
  * delivers listener events asynchronously; specs that count jobs drain
  * the bus before reading their listener. Lives in the `org.apache.spark`
  * namespace because the bus is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
