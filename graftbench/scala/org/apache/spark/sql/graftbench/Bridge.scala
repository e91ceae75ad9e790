package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads. Both are
  * package-private, hence this file's package.
  */
object Bridge {

  /** Seconds spent in analysis + optimization + physical planning of
    * the execution that just ended, from its QueryPlanningTracker.
    * 0 when Spark did not attach the QueryExecution to the event. */
  def planSeconds(end: SparkListenerSQLExecutionEnd): Double = {
    val qe = end.qe
    if (qe == null) 0.0
    else qe.tracker.phases.values.map(_.durationMs).sum / 1e3
  }

  /** Block until every event posted so far has reached the listeners,
    * so an op's events are complete before the next op starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
