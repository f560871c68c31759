package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this bridge lets the harness
  * block until every event posted so far has been delivered, so a
  * traced op's jobs, stages, tasks, SQL executions and stream progress
  * are all attributed before the next op starts (no sleep-polling).
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
