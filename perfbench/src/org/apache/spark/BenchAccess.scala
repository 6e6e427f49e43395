// Two package-private Spark seams the tracer needs, reached from inside
// the packages that own them.

package org.apache.spark {
  /** The listener bus's drain, so a report never misses queued events. */
  object BenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The query execution an SQL execution-end event carries, as its id. */
  object BenchSql {
    def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
  }
}
