package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's recorder reads, both
  * package-private, hence this package.
  */
object PerfbenchBridge {
  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished query behind an execution-end event (null if not local). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
