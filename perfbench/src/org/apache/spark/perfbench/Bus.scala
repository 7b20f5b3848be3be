package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's private[spark] listener bus, so every task-end and
  * query-execution event of a finished action is delivered before the
  * benchmark closes the span that ran it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
