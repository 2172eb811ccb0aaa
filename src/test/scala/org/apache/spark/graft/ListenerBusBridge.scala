package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's `private[spark]` listener bus. Listeners hear of
  * a query asynchronously, so a test that counts the queries a block runs
  * drains the bus before it registers its listener (or it hears earlier
  * queries) and again before it counts (or it misses late ones).
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
