package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: blocks until every event
  * posted so far has been delivered to every listener, so counters read
  * after it are exact rather than racing the asynchronous bus. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
