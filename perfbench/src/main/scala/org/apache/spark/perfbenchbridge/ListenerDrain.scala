package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is package-private to Spark; the
  * benchmark calls it once, after its timed region, so the engine
  * counters it reports include every task of the run. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
