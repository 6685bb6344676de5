package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so a test reads listener counters deterministically instead of
  * sleeping. `LiveListenerBus.waitUntilEmpty` is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
