package org.apache.spark

/** The live listener bus is private to Spark; the benchmark's probe
  * needs to wait until it has delivered an operation's events before it
  * closes that operation's counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
