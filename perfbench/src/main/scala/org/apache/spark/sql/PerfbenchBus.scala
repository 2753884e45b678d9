package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark internals the benchmark's listeners read. */
object PerfbenchBus {
  /** The listener bus delivers events asynchronously; the benchmark reads
    * its listeners only after every event of the run has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's query, or null when Spark did not attach it. */
  def query(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
