package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Access to the live listener bus, which Spark keeps package-private:
  * the traced run drains it before reading its listeners, so every event
  * of a finished span has been delivered when the span is read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
