package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface

/** The listeners registered on a context's bus, for specs that count them.
  * The bus is private to Spark; this object lives in Spark's package only
  * to reach it. */
object ListenerBusListeners {
  def apply(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq
}
