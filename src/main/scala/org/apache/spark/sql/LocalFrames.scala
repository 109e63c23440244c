package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution

/** Reuse of a small driver-side result without re-running its plan.
  * `Dataset.ofRows` is package-private; this object opens it for one use.
  */
object LocalFrames {

  /** Runs `df` once, as one tracked SQL execution named `collect`, and
    * returns its rows together with a DataFrame over a `LocalRelation` of
    * those same rows, so a later action on the frame does not evaluate
    * `df`'s expressions again.
    */
  def collectLocal(df: DataFrame): (Array[InternalRow], DataFrame) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }
    (rows, classic.Dataset.ofRows(ds.sparkSession,
      LocalRelation(qe.analyzed.output, rows.toSeq)))
  }
}
