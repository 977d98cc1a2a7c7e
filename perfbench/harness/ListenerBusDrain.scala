package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the benchmark's counters are complete before it reads them. The
  * bus is private to Spark; this object lives in Spark's package only to
  * reach it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
