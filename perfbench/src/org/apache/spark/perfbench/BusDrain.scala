package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener queue has delivered its pending events, so
  * counters read right after an action include that action's jobs, stages,
  * tasks and query executions. The traced run calls it at request and pass
  * boundaries; the untraced run never does. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
