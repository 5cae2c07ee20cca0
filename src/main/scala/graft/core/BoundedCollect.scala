package graft.core

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}

/** The library's one bounded collect: ONE job that brings a frame to
  * the driver only while it fits a budget, so a frame larger than
  * estimated never floods the driver. Each row weighs `weight(row)`
  * (1 per row bounds rows, `getSizeInBytes` bounds bytes); each
  * partition ships its rows only while they weigh at most its share,
  * `ceil(budget / partitions)`, and past it drops what it holds and
  * ships its row count alone. The driver therefore never takes in more
  * than the budget. */
private[graft] object BoundedCollect {

  /** `Right` of every partition's rows, each partition's decoded by
    * `decode` on the executor, when no partition outweighs its share
    * and all of them weigh at most `budget`; else `Left` of the frame's
    * row count. */
  def apply[T: ClassTag](df: DataFrame, budget: Long, weight: UnsafeRow => Long)(
      decode: collection.IndexedSeq[UnsafeRow] => T): Either[Long, Array[T]] = {
    val schema = df.schema
    val rdd = df.queryExecution.toRdd
    val parts = math.max(rdd.getNumPartitions, 1)
    val share = budget / parts + (if (budget % parts > 0) 1 else 0)
    val shipped = rdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      val kept = mutable.ArrayBuffer.empty[UnsafeRow]
      var n = 0L
      var w = 0L
      it.foreach { (r: InternalRow) =>
        n += 1
        if (w <= share) {
          val u = r match {
            case u: UnsafeRow => u.copy()
            case other => toUnsafe(other).copy()
          }
          w += weight(u)
          if (w <= share) kept += u else kept.clear()
        }
      }
      Iterator.single((n, w, if (w <= share) Some(decode(kept)) else None))
    }.collect()
    val rows = shipped.map(_._1).sum
    if (shipped.map(_._2).sum > budget || shipped.exists(_._3.isEmpty)) Left(rows)
    else Right(shipped.flatMap(_._3))
  }
}
