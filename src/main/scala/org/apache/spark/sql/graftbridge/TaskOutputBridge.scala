package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext

/**
 * Output-metrics bridge. A task that writes files itself (not through a
 * Spark data source) reports them here, so listeners see its bytes and
 * records as they see a Dataset write's. The `OutputMetrics` setters are
 * `private[spark]`, hence this accessor inside the `org.apache.spark`
 * namespace; like [[ColumnBridge]], keep it free of any other logic.
 */
object TaskOutputBridge {
  /** Adds to the running task's output metrics; a no-op on the driver. */
  def addOutput(bytes: Long, records: Long): Unit = {
    val tc = TaskContext.get()
    if (tc != null) {
      val om = tc.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + records)
    }
  }
}
