package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.FenceBridge

/** A frame materialised by [[Fence]] and the exact row count of each of
  * its partitions. */
private[graft] final case class Fenced(df: DataFrame, partitionRows: Array[Long]) {
  def rows: Long = partitionRows.sum
}

/** The library's one materialisation fence ("compute once, consume
  * many"): ONE job after the input's shuffle stages checkpoints `df`,
  * as an eager `localCheckpoint` does, and returns each partition's row
  * count, so no `count()` follows. The fenced plan keeps the input's
  * partitioning and ordering, carries exact statistics and NO
  * constraints (no filter is inferred above the fence from the plan
  * below it); the job is labelled `graft.fence:<name>`. */
private[graft] object Fence {
  def apply(df: DataFrame, name: String): Fenced = {
    val (fenced, partitionRows) = FenceBridge(df, name)
    Fenced(fenced, partitionRows)
  }
}
