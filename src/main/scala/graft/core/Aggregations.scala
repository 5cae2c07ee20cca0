package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation helper family (SURVEY.md §2.6).
  *
  * The reference's aggregations are the scalar whitelist + grouped
  * medians; Spark gives grouping sets, cube/rollup and sketches for
  * free, so this family surfaces them with the same validation style.
  * All plan as partial + final hash aggregates (map-side combine).
  */
object Aggregations {

  /** Grouped aggregate with named outputs:
    * aggs = output name -> (aggregated column). */
  def groupedAgg(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[(String, Column)]): DataFrame = {
    require(aggs.nonEmpty, "groupedAgg: need at least one aggregate")
    val named = aggs.map { case (n, c) => c.as(n) }
    df.groupBy(groupCols.map(col): _*).agg(named.head, named.tail: _*)
  }

  /** CUBE over the grouping columns (all 2^n grouping sets). */
  def cubeAgg(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[(String, Column)]): DataFrame = {
    val named = aggs.map { case (n, c) => c.as(n) }
    df.cube(groupCols.map(col): _*).agg(named.head, named.tail: _*)
  }

  /** ROLLUP over the grouping columns (prefix grouping sets). */
  def rollupAgg(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[(String, Column)]): DataFrame = {
    val named = aggs.map { case (n, c) => c.as(n) }
    df.rollup(groupCols.map(col): _*).agg(named.head, named.tail: _*)
  }

  /** Exact distinct count per group. */
  def distinctCount(df: DataFrame, groupCols: Seq[String], valueCol: String,
      outputCol: String = "n_distinct"): DataFrame =
    groupedAgg(df, groupCols, Seq(outputCol -> count_distinct(col(valueCol))))

  /** HyperLogLog++ distinct-count sketch — the 100 TB path: one pass,
    * fixed-size state, no distinct shuffle. `rsd` = relative error. */
  def approxDistinctCount(df: DataFrame, groupCols: Seq[String], valueCol: String,
      rsd: Double = 0.05, outputCol: String = "approx_n_distinct"): DataFrame =
    groupedAgg(df, groupCols,
      Seq(outputCol -> approx_count_distinct(col(valueCol), rsd)))

  /** Grouped percentiles: exact (`percentile`, interpolating — sorts
    * per group, use when groups fit memory) or sketch-based
    * (`percentile_approx`, bounded state — the 100 TB default). For
    * exact values on groups that do NOT fit one aggregation buffer,
    * use [[Quantiles.exactInterpolatedQuantiles]] — identical
    * interpolation over the range-exchange rank machinery. */
  def percentiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      ps: Seq[Double],
      exact: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "percentiles: probabilities must be within [0, 1]")
    val aggs = ps.map { p =>
      val name = s"p${(p * 100).toInt}"
      name -> (if (exact) percentile(col(valueCol), lit(p))
               else percentile_approx(col(valueCol), lit(p), lit(accuracy)))
    }
    groupedAgg(df, groupCols, aggs)
  }
}
