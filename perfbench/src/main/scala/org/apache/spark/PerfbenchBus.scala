package org.apache.spark

/** Access to the listener bus, which is private to Spark: the tracer
  * waits for it to drain at every span boundary so that each event is
  * handled while the span that caused it is still the innermost open
  * one. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
