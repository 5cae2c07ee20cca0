package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The fence behind `graft.core.Fence`: `Dataset.ofRows` and the
  * session a `LogicalRDD` is built with are private[sql], so this shim
  * lives under the org.apache.spark.sql package, beside [[ColumnBridge]]. */
object FenceBridge {

  /** `Dataset.localCheckpoint(eager = true)` in one job that also
    * returns each partition's row count and `UnsafeRow` bytes; the
    * fenced plan carries them as statistics and drops the origin
    * plan's constraints. The job runs under the description
    * `graft.fence:<name>`; the caller's is restored afterwards. */
  def apply(df: DataFrame, name: String): (DataFrame, Array[Long]) = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val session = ds.sparkSession
    val sc = session.sparkContext
    val schema = ds.schema
    val prior = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(s"graft.fence:$name")
    try SQLExecution.withNewExecutionId(ds.queryExecution, Some("localCheckpoint")) {
      val rdd = ds.queryExecution.toRdd.mapPartitions { rows =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        rows.map[InternalRow] {
          case u: UnsafeRow => u.copy()
          case r => toUnsafe(r).copy()
        }
      }.localCheckpoint()
      // the job fills the checkpoint's blocks; runJob then marks the
      // RDD checkpointed without recomputing a partition
      val parts = sc.runJob(rdd, (rows: Iterator[InternalRow]) => {
        var n = 0L
        var bytes = 0L
        rows.foreach { r => n += 1; bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes }
        (n, bytes)
      })
      val stats = Statistics(sizeInBytes = BigInt(parts.iterator.map(_._2).sum),
        rowCount = Some(BigInt(parts.iterator.map(_._1).sum)))
      // the layout of the rows just checkpointed: under AQE the final
      // plan's, since the adaptive root reports no partitioning
      val physical = ds.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val plan = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
        .copy(outputPartitioning = firstLeaf(physical.outputPartitioning),
          outputOrdering = physical.outputOrdering)(session, Some(stats), None)
      (ClassicDataset.ofRows(session, plan), parts.map(_._1))
    } finally sc.setLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION, prior)
  }

  /** A collection's first leaf, as `LogicalRDD.fromDataset` keeps it. */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}
