package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution

/** The engine's package-private API opened for three uses: reusing a
  * small collected result without re-running its plan
  * (`Dataset.ofRows`), waiting for the listener bus to drain, and
  * naming a stage by its RDD operation scopes.
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

  /** Returns once every event posted so far has reached every listener
    * of `sc`, so counts read afterwards cover all finished work.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operation scopes of the stage's RDDs (`Exchange`,
    * `WholeStageCodegen (3)`, …) in RDD order, each once.
    */
  def stageScopes(i: StageInfo): Seq[String] =
    i.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
