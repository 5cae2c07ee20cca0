package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (interval-containment) join — point-in-interval matching that
  * Spark would otherwise plan as a broadcast nested loop or cartesian
  * product.
  *
  * Semantics: join left rows whose `pointCol` falls inside a right
  * row's [lowCol, highCol] interval (inclusive both ends).
  *
  * Implementation: bin both sides at `binWidth` — every interval
  * explodes into the bins it covers, every point lands in one bin —
  * then an EQUI-join on the bin id plus an exact re-filter. One hash
  * shuffle on the bin key instead of an O(n·m) product; right-side
  * replication is ceil(intervalWidth / binWidth) rows, so pick
  * binWidth near the typical interval width. Degenerate giant
  * intervals (≫ binWidth) replicate proportionally — cap them upstream
  * or raise binWidth.
  */
object RangeJoin {

  def rangeJoin(
      left: DataFrame,
      pointCol: String,
      right: DataFrame,
      lowCol: String,
      highCol: String,
      binWidth: Double,
      how: String = "inner"): DataFrame = {
    require(binWidth > 0, "rangeJoin: binWidth must be positive")
    require(Seq("inner", "left").contains(how),
      s"rangeJoin: join type '$how' not supported (inner, left)")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"rangeJoin: overlapping column names ${overlap.mkString(", ")}")
    for (side <- Seq(left, right))
      graft.core.DataFrameOps.requireNoReserved(
        side, Seq("__row_id", "__bin"), "rangeJoin")

    // synthetic row id keeps left-row multiplicity correct in left mode
    // (value-based except/distinct would conflate identical left rows)
    val withId = left.withColumn("__row_id", monotonically_increasing_id())
    val binned = withId.withColumn("__bin",
      floor(col(pointCol).cast("double") / binWidth).cast("long"))
    val explodedRight = right.withColumn("__bin",
      explode(sequence(
        floor(col(lowCol).cast("double") / binWidth).cast("long"),
        floor(col(highCol).cast("double") / binWidth).cast("long"))))

    val cond = col(pointCol).cast("double").between(
      col(lowCol).cast("double"), col(highCol).cast("double"))
    val joined = binned.join(explodedRight, Seq("__bin"), "inner")
      .filter(cond)
      .drop("__bin")

    how match {
      case "inner" => joined.drop("__row_id")
      case "left" =>
        val matchedIds = joined.select("__row_id").distinct()
        val unmatched = withId.join(matchedIds, Seq("__row_id"), "left_anti")
        val withNulls = right.columns.foldLeft(unmatched)((d, c) =>
          d.withColumn(c, lit(null).cast(right.schema(c).dataType)))
        joined.unionByName(withNulls).drop("__row_id")
    }
  }

  /** Interval-OVERLAP join (interval × interval): all (left, right)
    * pairs with `[lLow, lHigh] ∩ [rLow, rHigh] ≠ ∅` (inclusive ends)
    * — the genomics/session-overlap shape Spark plans as a broadcast
    * nested loop on a bare `a1 <= b2 AND a2 <= b1` condition.
    *
    * Implementation: both sides explode into the `binWidth` bins they
    * cover, equi-join on the bin id, and a pair is emitted ONLY in
    * the FIRST bin the two intervals share
    * (`bin == max(floor(lLow/w), floor(rLow/w))`) — the standard
    * dedup-free trick: no `distinct` exchange over the multi-bin
    * matches, every true pair appears exactly once. One hash shuffle
    * at bin grain; replication per row is ceil(width / binWidth), so
    * pick binWidth near the typical interval width and cap degenerate
    * giant intervals upstream.
    *
    * Bin-boundary contract (spec-pinned): the first-shared-bin rule is
    * sound because floor is monotone — `floor(max(lLow,rLow)/w) =
    * max(floor(lLow/w), floor(rLow/w))`, and under overlap that bin is
    * covered by BOTH intervals, negatives and fractional boundaries
    * included; point-touch overlaps ([0,10]×[10,20]) emit exactly
    * once. An INVERTED interval (low > high) raises in-plan instead of
    * silently binning a descending `sequence`; null bounds contribute
    * no bins (the row matches nothing), mirroring SQL comparison
    * semantics. */
  def intervalJoin(
      left: DataFrame,
      lLow: String,
      lHigh: String,
      right: DataFrame,
      rLow: String,
      rHigh: String,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, "intervalJoin: binWidth must be positive")
    val overlapCols = left.columns.toSet.intersect(right.columns.toSet)
    require(overlapCols.isEmpty,
      s"intervalJoin: overlapping column names ${overlapCols.mkString(", ")}")
    for (side <- Seq(left, right))
      graft.core.DataFrameOps.requireNoReserved(side, Seq("__bin"), "intervalJoin")
    def binsOf(lo: String, hi: String) = {
      // inverted intervals would silently bin a DESCENDING sequence;
      // raise in-plan (null bounds pass the guard and yield no bins)
      val valid = col(lo).isNull || col(hi).isNull ||
        col(lo).cast("double") <= col(hi).cast("double")
      val guard = assert_true(valid,
        lit(s"intervalJoin: inverted interval ($lo > $hi)"))
      explode(sequence(
        when(guard.isNull,
          floor(col(lo).cast("double") / binWidth).cast("long")),
        floor(col(hi).cast("double") / binWidth).cast("long")))
    }
    val lB = left.withColumn("__bin", binsOf(lLow, lHigh))
    val rB = right.withColumn("__bin", binsOf(rLow, rHigh))
    lB.join(rB, Seq("__bin"), "inner")
      .filter(
        col(lLow).cast("double") <= col(rHigh).cast("double") &&
        col(rLow).cast("double") <= col(lHigh).cast("double") &&
        col("__bin") === greatest(
          floor(col(lLow).cast("double") / binWidth).cast("long"),
          floor(col(rLow).cast("double") / binWidth).cast("long")))
      .drop("__bin")
  }
}
