package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark members the benchmark's hooks read: the
  * listener bus (to wait until every queued event is delivered before the
  * record log is written) and the `QueryExecution` an execution-end event
  * carries (to join a `QueryExecutionListener` callback to its execution
  * id and so to its request).
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
