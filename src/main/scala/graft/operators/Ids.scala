package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous global ID assignment in total `orderCols` order —
  * without the one-partition global window.
  *
  * The naive formulation, `row_number() OVER (ORDER BY …)`, plans as
  * a SINGLE-partition sort: every row serialises through one task —
  * the canonical scale-killer (fine at 60k rows, dead at 100 TB).
  * This operator uses the two-level partition-offset pattern instead:
  *
  *   1. range-repartition on `orderCols` (global order across
  *      partitions, data stays distributed),
  *   2. local row numbers per partition (window keyed on the
  *      partition id — every partition sorts in parallel),
  *   3. per-partition counts → cumulative offsets (a partition-count-
  *      sized frame, broadcast back),
  *   4. id = offset + local row number − 1.
  *
  * The range exchange is the only corpus-wide movement; the offsets
  * frame has `numPartitions` rows. `orderCols` must be a UNIQUE total
  * order (ties across a range boundary would make ids
  * non-deterministic) — the same contract as any ORDER BY id. The
  * ranged frame is checkpoint-fenced so the two consumers (offsets,
  * final join) cannot re-sample different range boundaries.
  */
object Ids {

  /** Add `outputCol` with contiguous ids 0..n−1 in `orderCols` order. */
  def assignContiguousIds(
      df: DataFrame,
      orderCols: Seq[String],
      outputCol: String = "row_id",
      numPartitions: Option[Int] = None): DataFrame = {
    require(orderCols.nonEmpty, "assignContiguousIds: need at least one ordering column")
    val spark = df.sparkSession
    val n = numPartitions.getOrElse(spark.sparkContext.defaultParallelism)
    val ranged = df
      .repartitionByRange(n, orderCols.map(col): _*)
      .withColumn("__graft_pid", spark_partition_id())
      .localCheckpoint(true)
    val wLocal = Window.partitionBy("__graft_pid").orderBy(orderCols.map(col): _*)
    val withRn = ranged.withColumn("__graft_rn", row_number().over(wLocal))
    val offsets = ranged.groupBy("__graft_pid")
      .agg(count(lit(1)).as("__graft_cnt"))
      .withColumn("__graft_offset",
        coalesce(sum("__graft_cnt").over(
          Window.orderBy("__graft_pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__graft_pid", "__graft_offset")
    withRn
      .join(broadcast(offsets), "__graft_pid")
      .withColumn(outputCol, col("__graft_offset") + col("__graft_rn") - 1)
      .drop("__graft_pid", "__graft_rn", "__graft_offset")
  }

  /** Per-GROUP contiguous ranks 0..n_g−1 in `orderCols` order — the
    * group-grain generalisation of [[assignContiguousIds]]. The naive
    * `row_number() OVER (PARTITION BY g ORDER BY …)` sorts each group
    * through ONE task — fine for many small groups, dead for a
    * billion-row language/domain. Here the range exchange keys on
    * (groupCols, orderCols) so a huge group SPANS partitions, local
    * row numbers are per (partition, group), and per-group cumulative
    * offsets come from a (numPartitions × groups)-row frame (broadcast
    * — the documented bound: group cardinality must stay
    * broadcast-sized, the usual language/domain regime).
    *
    * Rank determinism: ties in `orderCols` across a range boundary may
    * swap WHICH row gets a rank, but the VALUE at any rank is
    * deterministic — callers needing row-stable ranks must make
    * `orderCols` a unique order within groups (the
    * [[assignContiguousIds]] contract). */
  def assignGroupRanks(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      outputCol: String = "group_rank",
      numPartitions: Option[Int] = None): DataFrame = {
    require(groupCols.nonEmpty, "assignGroupRanks: need at least one group column")
    require(orderCols.nonEmpty, "assignGroupRanks: need at least one ordering column")
    val spark = df.sparkSession
    val n = numPartitions.getOrElse(spark.sparkContext.defaultParallelism)
    val ranged = df
      .repartitionByRange(n, (groupCols ++ orderCols).map(col): _*)
      .withColumn("__graft_pid", spark_partition_id())
      .localCheckpoint(true)
    val wLocal = Window.partitionBy(("__graft_pid" +: groupCols).map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val withRn = ranged.withColumn("__graft_rn", row_number().over(wLocal))
    val offsets = ranged.groupBy(("__graft_pid" +: groupCols).map(col): _*)
      .agg(count(lit(1)).as("__graft_cnt"))
      .withColumn("__graft_offset",
        coalesce(sum("__graft_cnt").over(
          Window.partitionBy(groupCols.map(col): _*)
            .orderBy("__graft_pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((col("__graft_pid").as("__graft_opid") +:
        groupCols.map(g => col(g).as(s"__graft_o_$g"))) :+
        col("__graft_offset"): _*)
    // NULL-SAFE on the group keys (`<=>`): groupBy and window
    // partitioning both treat a null key as a group, so the offsets
    // join must too — a USING/=== join here silently dropped every
    // null-keyed row (caught by the QuantilesSpec null-group pin)
    val cond = ((col("__graft_pid") === col("__graft_opid")) +:
      groupCols.map(g => col(g) <=> col(s"__graft_o_$g"))).reduce(_ && _)
    withRn
      .join(broadcast(offsets), cond)
      .withColumn(outputCol, col("__graft_offset") + col("__graft_rn") - 1)
      .drop(("__graft_pid" +: "__graft_opid" +: "__graft_rn" +:
        "__graft_offset" +: groupCols.map(g => s"__graft_o_$g")): _*)
  }

  /** The naive single-partition formulation — kept ONLY as the
    * measured baseline (SCALE.md `assign_ids` rows) and for tiny frames
    * where one sort task is fine. */
  def assignContiguousIdsNaive(
      df: DataFrame,
      orderCols: Seq[String],
      outputCol: String = "row_id"): DataFrame =
    df.withColumn(outputCol,
      row_number().over(Window.orderBy(orderCols.map(col): _*)) - 1)
}
