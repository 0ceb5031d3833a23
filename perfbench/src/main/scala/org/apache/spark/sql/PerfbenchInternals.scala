package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark reads, in the package that
  * may see them.
  */
object PerfbenchInternals {

  /** Wait until every scheduler event posted so far has reached the
    * listeners. The benchmark reads its listeners' records only after
    * this, so a job that just finished is never missing from them.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution a finished SQL execution ran, in whichever
    * session it ran (an operator may build its DataFrame in a child
    * session, which a session's own execution listeners do not see).
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
