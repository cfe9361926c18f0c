package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark harness reads, both
  * package-private to Spark.
  */
object BenchAccess {

  /** Blocks until every posted listener event has been delivered, so a
    * finished run's totals are complete before they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning time of the query an execution-end
    * event closes, from its `QueryExecution.tracker`. The public
    * `QueryExecutionListener` callback carries the same query but not the
    * execution id, so it cannot be tied to the job group that ran it.
    */
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum)
}
