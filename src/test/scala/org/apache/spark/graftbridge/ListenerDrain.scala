package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is package-private to Spark; specs that
  * count listener events drain the bus through this shim before reading
  * their counts. Visibility plumbing only. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
