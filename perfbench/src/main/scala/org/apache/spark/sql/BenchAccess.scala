package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run reads. */
object BenchAccess {
  /** Blocks until every queued listener event has been delivered, so
    * a traced run reads complete job, stage and planning records. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution behind an ended SQL execution, or null. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
