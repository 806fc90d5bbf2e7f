// The harness reads two facts Spark keeps package-private; these accessors
// live in Spark's packages for that reason only.

package org.apache.spark {
  object PerfbenchBus {
    /** Wait until every posted listener event has been delivered, so
      * per-operation tallies are complete before they are read. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  object PerfbenchSql {
    /** The query execution an execution-end event reports on (null for
      * executions that have none), linking the execution id the job
      * properties carry to what a `QueryExecutionListener` sees. */
    def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  }
}
