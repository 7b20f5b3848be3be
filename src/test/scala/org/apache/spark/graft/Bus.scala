package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Drains Spark's private[spark] listener bus, so every job and task event of
  * a finished action is delivered before a probe reads its listener. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
