package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One-hop access to two Spark internals the traced run needs: draining
  * the listener bus (`private[spark]`), so no event of the measured rounds
  * is still queued when it aggregates, and the query execution behind an
  * execution-end event (`private[sql]`), which ties a
  * `QueryExecutionListener` callback to the SQL execution id its jobs carry.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
