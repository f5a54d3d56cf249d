package org.apache.spark.sql.graftnative

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.SQLExecution

/** Runs a frame of a few rows once and returns its rows as a driver-held
  * `LocalRelation`. Later jobs read it without re-running its plan, as
  * they would a `localCheckpoint`, but no executor holds it, so a lost
  * executor cannot take it, and Catalyst keeps its row count as `maxRows`:
  * a nested loop against it plans as a bounded one. Every row sits in the
  * driver and in each plan that reads it, so this is for tiny frames only.
  * The rows stay in their internal form (no round trip through external
  * `Row`s, which costs real time on a 1-row quantizer of nested arrays);
  * `Dataset.ofRows` is `private[sql]`, hence this package.
  */
object DriverRows {
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    ClassicDataset.ofRows(ds.sparkSession, LocalRelation(qe.analyzed.output, rows.toSeq))
  }
}
