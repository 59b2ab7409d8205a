package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** A DataFrame's rows kept as a persisted RDD behind a plan leaf — the
  * lineage-keeping sibling of `Dataset.localCheckpoint`.
  *
  * Like a local checkpoint, consumers plan against a leaf (`LogicalRDD`)
  * that carries the source plan's output partitioning, so a consumer keyed
  * the same way skips its exchange and the inspected plan stops at the
  * shared rows. Unlike one, the RDD is only `persist`ed at MEMORY_AND_DISK:
  * its lineage stays, so blocks lost with an executor recompute instead of
  * failing the job, and nothing registers in the session's `CacheManager`,
  * so no other query's plan is silently rewritten to read these rows.
  * Building it runs the source plan's shuffle stages (one job for a
  * repartition); the rows materialize in the first consumer's tasks.
  * Spark reuses no exchange between two reads of such a leaf (its scan
  * keeps its output ids when canonicalized), so a consumer that reads the
  * rows twice plans the work above them twice. `Dataset.ofRows` is
  * `private[sql]`, hence this bridge.
  */
object GraftPersist {
  def apply(df: DataFrame): DataFrame = {
    val qe      = df.queryExecution
    val rows    = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    // the executed adaptive plan reports no partitioning of its own; its
    // final plan (run by toRdd above) carries the shuffle's
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    classic.Dataset.ofRows(session, LogicalRDD(qe.analyzed.output, rows,
      plan.outputPartitioning, plan.outputOrdering)(session,
      Some(Statistics(qe.optimizedPlan.stats.sizeInBytes))))
  }

  /** Drop the persisted rows behind a frame built by [[apply]]; a no-op for
    * any other frame.
    */
  def unpersist(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _             =>
    }
}
