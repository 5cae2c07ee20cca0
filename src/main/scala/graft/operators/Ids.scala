package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fence

/** Contiguous global ID assignment in total `orderCols` order —
  * without the one-partition global window.
  *
  * The naive formulation, `row_number() OVER (ORDER BY …)`, plans as
  * a SINGLE-partition sort: every row serialises through one task —
  * the canonical scale-killer (fine at 60k rows, dead at 100 TB).
  * This operator uses the two-level partition-offset pattern instead:
  *
  *   1. range-repartition on `orderCols` (global order across
  *      partitions, data stays distributed) and sort within each
  *      partition (every partition sorts in parallel),
  *   2. fence the sorted partitions ([[graft.core.Fence]]): the
  *      fence's job also returns each partition's row count, so the
  *      cumulative offsets are known on the driver,
  *   3. id = the partition's offset + the row's position within its
  *      partition, a narrow projection over the fence.
  *
  * The range exchange is the only corpus-wide movement, and the plan
  * above the fence has no exchange. `orderCols` must be a UNIQUE total
  * order (ties across a range boundary would make ids
  * non-deterministic) — the same contract as any ORDER BY id.
  */
object Ids {

  /** Add `outputCol` with contiguous ids 0..n−1 in `orderCols` order.
    * Eager work: the range exchange's sampling job, its shuffle stage
    * and the fence. */
  def assignContiguousIds(
      df: DataFrame,
      orderCols: Seq[String],
      outputCol: String = "row_id",
      numPartitions: Option[Int] = None): DataFrame =
    contiguousIds(df, orderCols, outputCol, numPartitions)._1

  /** [[assignContiguousIds]] and its row count, read off the fence. */
  private[graft] def contiguousIds(
      df: DataFrame,
      orderCols: Seq[String],
      outputCol: String,
      numPartitions: Option[Int] = None): (DataFrame, Long) = {
    require(orderCols.nonEmpty, "assignContiguousIds: need at least one ordering column")
    val n = numPartitions.getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val sorted = Fence(df
      .repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*), "assignContiguousIds")
    val offsets = sorted.partitionRows.scanLeft(0L)(_ + _)
    // the fence reads each partition back in its sorted order, and the
    // low 33 bits of monotonically_increasing_id count a partition's rows
    val position = monotonically_increasing_id().bitwiseAND((1L << 33) - 1)
    (sorted.df.withColumn(outputCol,
      element_at(typedLit(offsets), spark_partition_id() + 1) + position),
      sorted.rows)
  }

  /** Per-GROUP contiguous ranks 0..n_g−1 in `orderCols` order — the
    * group-grain generalisation of [[assignContiguousIds]]. The naive
    * `row_number() OVER (PARTITION BY g ORDER BY …)` sorts each group
    * through ONE task — fine for many small groups, dead for a
    * billion-row language/domain. Here the ids of
    * [[assignContiguousIds]] order by (groupCols, orderCols), so a huge
    * group SPANS partitions and each group's ids are contiguous: a
    * row's rank is its id minus its group's first id, taken from a
    * per-group aggregate joined back by broadcast (the documented
    * bound: group cardinality must stay broadcast-sized, the usual
    * language/domain regime).
    *
    * Rank determinism: ties in `orderCols` across a range boundary may
    * swap WHICH row gets a rank, but the VALUE at any rank is
    * deterministic — callers needing row-stable ranks must make
    * `orderCols` a unique order within groups (the
    * [[assignContiguousIds]] contract). Eager work: that of
    * [[assignContiguousIds]]. */
  def assignGroupRanks(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      outputCol: String = "group_rank",
      numPartitions: Option[Int] = None): DataFrame =
    groupRanks(df, groupCols, orderCols, outputCol, numPartitions)._1

  /** [[assignGroupRanks]] and its groups: `__graft_o_<g>` per group
    * column and the group's row count `__graft_gn`. */
  private[graft] def groupRanks(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      outputCol: String,
      numPartitions: Option[Int] = None): (DataFrame, DataFrame) = {
    require(groupCols.nonEmpty, "assignGroupRanks: need at least one group column")
    require(orderCols.nonEmpty, "assignGroupRanks: need at least one ordering column")
    val (ids, _) = contiguousIds(df, groupCols ++ orderCols, "__graft_gid", numPartitions)
    val groups = ids.groupBy(groupCols.map(col): _*)
      .agg(min(col("__graft_gid")).as("__graft_first"), count(lit(1)).as("__graft_gn"))
      .select(groupCols.map(g => col(g).as(s"__graft_o_$g")) :+
        col("__graft_first") :+ col("__graft_gn"): _*)
    // NULL-SAFE on the group keys (`<=>`): groupBy treats a null key as
    // a group, so the join back must too — a USING/=== join here
    // silently dropped every null-keyed row (the QuantilesSpec
    // null-group pin)
    val cond = groupCols.map(g => col(g) <=> col(s"__graft_o_$g")).reduce(_ && _)
    (ids.join(broadcast(groups), cond)
      .withColumn(outputCol, col("__graft_gid") - col("__graft_first"))
      .drop("__graft_gid" +: "__graft_first" +: "__graft_gn" +:
        groupCols.map(g => s"__graft_o_$g"): _*),
      groups.drop("__graft_first"))
  }
}
