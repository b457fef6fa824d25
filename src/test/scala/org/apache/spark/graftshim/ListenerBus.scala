package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus for specs that assert on
  * listener events: blocks until every event posted so far is delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
