package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark hooks the benchmark's tracer needs. */
object PerfbenchBridge {
  /** Waits until every posted listener event has been delivered, so a
    * traced run is reported only after all its jobs, stages and SQL
    * executions have arrived. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Catalyst phase time (parsing through physical planning) of the SQL
    * execution that just ended; 0 when Spark attached no query. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
