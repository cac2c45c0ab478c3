package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it
  * so that every engine event is attributed before counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
