package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal calls the benchmark needs. Job, SQL-execution
  * and streaming-progress events all travel on the listener bus. */
object GraftbenchAccess {
  /** Waits until the listener bus has delivered every queued event. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The query execution an SQL execution ran. Jobs carry the SQL
    * execution's id, which differs from [[QueryExecution.id]]; this
    * joins the two. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
