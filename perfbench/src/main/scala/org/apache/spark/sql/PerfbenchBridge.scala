package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reaches the two Spark-internal members the benchmark's tracer reads. */
object PerfbenchBridge {
  /** Blocks until every event posted to the listener bus was delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Seconds the finished query spent in analysis, optimization and
    * planning, from its phase tracker; 0 when the event carries no query. */
  def planSeconds(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).fold(0.0)(_.tracker.phases.values.map(_.durationMs).sum / 1e3)
}
