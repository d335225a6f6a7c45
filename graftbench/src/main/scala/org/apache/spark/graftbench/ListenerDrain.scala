package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is package-private to Spark; the
  * benchmark needs it so a phase's counters include every event the phase
  * posted before they are read.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
