// Two package-private Spark members the benchmark's tracer needs; the
// accessors live in Spark's packages for that reason only.
package org.apache.spark {

  /** Waits until the listener bus has delivered every event posted so far,
    * so the benchmark's listeners have seen all jobs before it reads them. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }

  package sql {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

    /** The QueryExecution an execution-end event reports on (null if none). */
    object PerfbenchSql {
      def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
    }
  }
}
