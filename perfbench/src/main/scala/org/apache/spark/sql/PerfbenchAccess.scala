package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two things the benchmark's listener needs that Spark keeps
  * package-private. */
object PerfbenchAccess {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an execution-end event reports on (null when the event was
    * not posted by a query); the same object a `QueryExecutionListener`
    * would be handed, here with the execution id that jobs carry. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
