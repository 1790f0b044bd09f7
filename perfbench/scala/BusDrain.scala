package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * traced run can attribute jobs, stages, tasks and planning phases to the
  * op that just finished. The listener bus is Spark-internal, hence this
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
