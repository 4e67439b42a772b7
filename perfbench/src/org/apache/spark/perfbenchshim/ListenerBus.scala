package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run waits on it so every
 *  job and stage event has arrived before spans are rolled up. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
