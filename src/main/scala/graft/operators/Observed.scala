package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.CheckpointBridge

/** Per-round counters of the iterative operators, computed by the jobs
  * that materialise the round anyway instead of by a probe job. */
private[graft] object Observed {

  private val Name = "graft.observed"

  /** `df` eagerly `localCheckpoint`ed, with the named aggregates `metrics`
    * and the row count (under `"rows"`) observed on the checkpoint's own
    * jobs (`Dataset.observe`). The metrics are read from the finished
    * plan, not from an `Observation`, whose listener delivery adds a
    * ~50 ms wait per call. The checkpoint's size estimate becomes the
    * observed rows × row width, so a loop that joins its own output keeps
    * a flat estimate. Aggregates must not be `DISTINCT`; an input that
    * runs no task reports 0 rows and may omit the other aggregates. */
  def checkpoint(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
    val observed = df.observe(Name, count(lit(1)).as("rows"), metrics: _*)
    val cp = observed.localCheckpoint()
    val m = observed.queryExecution.observedMetrics.get(Name)
      .fold(Map.empty[String, Any])(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))
    val rows = m.get("rows").collect { case n: Long => n }.getOrElse(0L)
    (CheckpointBridge.withRowCount(cp, rows), m.updated("rows", rows))
  }
}
