package org.apache.spark.linkbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so
  * the span recorder's task counts are complete when a pass is read.
  * `listenerBus` is private[spark], hence this package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
