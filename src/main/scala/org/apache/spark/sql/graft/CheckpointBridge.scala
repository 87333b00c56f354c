package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the `private[sql]` relation behind a checkpointed DataFrame.
  * A `localCheckpoint` keeps the optimizer's size estimate of the plan it
  * cut, and every join multiplies estimates, so a loop that joins its own
  * checkpoint doubles the estimate's bit length each round until BigInt
  * arithmetic dominates planning. Same pattern as [[ColumnBridge]]. */
object CheckpointBridge {

  /** `checkpointed` with its estimate replaced by `rows` × row width; any
    * DataFrame that is not a bare checkpoint comes back unchanged. */
  def withRowCount(checkpointed: DataFrame, rows: Long): DataFrame =
    checkpointed match {
      case ds: Dataset[Row @unchecked] => ds.logicalPlan match {
        case l: LogicalRDD =>
          val stats = Statistics(
            sizeInBytes = EstimationUtils.getSizePerRow(l.output) * rows,
            rowCount = Some(rows))
          Dataset.ofRows(ds.sparkSession,
            l.copy()(ds.sparkSession, Some(stats), Some(l.constraints)))
        case _ => checkpointed
      }
      case _ => checkpointed
    }
}
