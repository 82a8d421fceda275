package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the benchmark's tracer reads,
  * which is why this lives in Spark's package. */
object GraftbenchAccess {

  /** Waits until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an execution-end event reports, by its id: the key
    * that joins a QueryExecutionListener callback to its execution id. */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
