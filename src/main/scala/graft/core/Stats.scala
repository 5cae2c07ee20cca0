package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust-statistics cleanup operators for corpus and metric columns:
  * percentile clipping (winsorization) and z-score outlier flagging —
  * the standard guards applied to quality signals and metric streams
  * before they feed sampling weights or training filters.
  *
  * Scale shape: both operators are ONE grouped aggregation over the
  * group keys producing a per-group row of bounds/moments, joined
  * back onto the input (group-count-sized side → AQE broadcasts it),
  * then a narrow projection. No window over the full table, no
  * per-row sort. `exact = true` quantile bounds route through
  * [[Quantiles.exactInterpolatedQuantiles]]' range-exchange
  * rank machinery — `percentile`-aggregate-identical interpolation
  * WITHOUT the aggregate's per-group value buffer, so a billion-row
  * group spans partitions instead of serialising into one task's
  * memory; `exact = false` swaps the `percentile_approx` sketch.
  * Bounds join back NULL-SAFELY (`<=>`): rows whose group key is null
  * form a group like any other — they are never silently dropped.
  * `groupCols = Nil` is the zero-key group: every operator computes
  * against the GLOBAL bounds (one row, broadcast) through the same body.
  */
object Stats {

  /** Left-join per-group bound columns back onto `df` null-safely and
    * drop the (pre-renamed `__graft_g_*`) key copies. `bounds` must
    * carry its group keys as `__graft_g_<name>`. Global bounds
    * (`groupCols = Nil`, a one-row frame) left-join on TRUE — a left
    * join, not a crossJoin, so an EMPTY bounds frame (all-null input)
    * yields null bounds instead of dropping every input row. */
  private[core] def joinBounds(
      df: DataFrame,
      bounds: DataFrame,
      groupCols: Seq[String]): DataFrame =
    df.join(broadcast(bounds),
        groupCols.map(g => col(g) <=> col(s"__graft_g_$g")).foldLeft(lit(true))(_ && _),
        "left")
      .drop(groupCols.map(g => s"__graft_g_$g"): _*)

  /** ONE grouped aggregate of `aggs` to group cardinality, keys
    * pre-renamed for [[joinBounds]] (`groupCols = Nil`: one global
    * row, also over empty input). */
  private def groupBounds(
      df: DataFrame,
      groupCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .withColumnsRenamed(groupCols.map(g => g -> s"__graft_g_$g").toMap)

  /** (`__graft_g_*` keys…, one column per q named by `qsNames`) — the
    * per-group quantiles of `valueCol` pivoted wide: exact interpolated
    * ([[Quantiles.exactInterpolatedQuantiles]]) or the
    * `percentile_approx` sketch. An all-null group is absent and the
    * zero-key pivot of an empty frame is one all-null row; either way
    * [[joinBounds]] hands its rows null bounds. */
  private def quantileBounds(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      qsNames: Seq[(Double, String)],
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame =
    if (exact)
      groupBounds(
        Quantiles.exactInterpolatedQuantiles(df, valueCol, qsNames.map(_._1), groupCols),
        groupCols, qsNames.map { case (q, name) =>
          max(when(col("q") === q, col("value"))).as(name) })
    else groupBounds(df, groupCols, qsNames.map { case (q, name) =>
      percentile_approx(col(valueCol).cast("double"), lit(q), lit(accuracy)).as(name) })

  /** Clip `valueCol` to its per-group [lowP, highP] percentile range
    * (new column `<valueCol>_wins`). `groupCols = Nil` clips against
    * the GLOBAL percentile range (one-row bounds, broadcast). */
  def winsorize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      lowP: Double = 0.01,
      highP: Double = 0.99,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(lowP >= 0 && highP <= 1 && lowP < highP,
      s"winsorize: need 0 <= lowP < highP <= 1, got ($lowP, $highP)")
    val v = col(valueCol).cast("double")
    val bounds = quantileBounds(df, groupCols, valueCol,
      Seq(lowP -> "__graft_lo", highP -> "__graft_hi"), exact, accuracy)
    joinBounds(df, bounds, groupCols)
      .withColumn(s"${valueCol}_wins",
        round(least(greatest(v, col("__graft_lo")), col("__graft_hi")), 6))
      .drop("__graft_lo", "__graft_hi")
  }

  /** Flag per-group z-score outliers: adds `z` (round 6; 0.0 when the
    * group's stddev is 0 or undefined) and `is_outlier`
    * (|z| > threshold). Sample stddev, matching SQL engines.
    * `groupCols = Nil` flags against the global moments; group joins
    * are null-safe like the rest of the family. */
  def zscoreOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      threshold: Double = 3.0): DataFrame = {
    require(threshold > 0, s"zscoreOutliers: threshold must be positive, got $threshold")
    val v = col(valueCol).cast("double")
    val moments = groupBounds(df, groupCols,
      Seq(avg(v).as("__graft_mu"), stddev_samp(v).as("__graft_sd")))
    joinBounds(df, moments, groupCols)
      .withColumn("z",
        when(col("__graft_sd").isNull || col("__graft_sd") === 0.0, 0.0)
          .otherwise(round((v - col("__graft_mu")) / col("__graft_sd"), 6)))
      .withColumn("is_outlier", abs(col("z")) > threshold)
      .drop("__graft_mu", "__graft_sd")
  }

  /** Fill nulls in `valueCol` with the per-group mean or (exact,
    * interpolated) median of the NON-NULL values — new column
    * `<valueCol>_imputed` (rounded 6 dp). Groups whose values are ALL
    * null stay null (no global fallback — that silent cross-group
    * leak is the bug imputation audits look for; run a global pass
    * with `groupCols = Nil` explicitly if that is what you want).
    *
    * Scale shape: a grouped aggregation to group cardinality + a join
    * back (AQE broadcasts the group-sized side) + a narrow coalesce —
    * NOT `avg(...).over(partitionBy(group))`, which shuffles the whole
    * corpus into one partition per group value and dies on
    * low-cardinality keys at scale. */
  def imputeNulls(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      strategy: String = "mean"): DataFrame = {
    val allowed = Set("mean", "median")
    require(allowed.contains(strategy),
      s"imputeNulls: strategy '$strategy' not in ${allowed.mkString(", ")}")
    val v = col(valueCol).cast("double")
    val fills =
      if (strategy == "mean") groupBounds(df, groupCols, Seq(avg(v).as("__graft_fill")))
      else quantileBounds(df, groupCols, valueCol, Seq(0.5 -> "__graft_fill"))
    joinBounds(df, fills, groupCols)
      .withColumn(s"${valueCol}_imputed", round(coalesce(v, col("__graft_fill")), 6))
      .drop("__graft_fill")
  }

  /** Equi-depth bucketing: adds `<valueCol>_bucket` in 0..numBuckets-1
    * from the column's own (per-group) quantile bounds. A value lands
    * in bucket = count of interior quantile bounds strictly below it —
    * ties at a bound go LOW, nulls get null.
    *
    * Scale shape: the bounds are ONE grouped aggregation producing a
    * (numBuckets-1)-element array per group, joined back (broadcast at
    * group cardinality) and applied as a narrow array fold — unlike
    * `ntile`, which sorts the whole corpus through one partition per
    * group. `exact = true` uses the exact interpolated quantiles of
    * [[Quantiles.exactInterpolatedQuantiles]]; `exact = false` swaps
    * the sketch (`percentile_approx`), the 100 TB default. */
  def quantileDiscretize(
      df: DataFrame,
      valueCol: String,
      numBuckets: Int,
      groupCols: Seq[String] = Nil,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(numBuckets >= 2,
      s"quantileDiscretize: numBuckets must be >= 2, got $numBuckets")
    val v = col(valueCol).cast("double")
    val qs = (1 until numBuckets).map(i => i.toDouble / numBuckets)
    val bounds =
      // the exact interior bounds come back one row per q; reassemble
      // the ascending array the bucket fold walks (sort by q, take values)
      if (exact) groupBounds(
        Quantiles.exactInterpolatedQuantiles(df, valueCol, qs, groupCols), groupCols,
        Seq(transform(array_sort(collect_list(struct(col("q"), col("value")))),
          e => e("value")).as("__graft_bounds")))
      else groupBounds(df, groupCols, Seq(percentile_approx(
        v, array(qs.map(lit): _*), lit(accuracy)).as("__graft_bounds")))
    joinBounds(df, bounds, groupCols)
      .withColumn(s"${valueCol}_bucket", when(v.isNull, lit(null))
        .otherwise(size(filter(col("__graft_bounds"), b => v > b))).cast("int"))
      .drop("__graft_bounds")
  }

  /** Min-max scale `valueCol` into [0, 1] per group (new column
    * `<valueCol>_scaled`, 6 dp): (v − min) / (max − min); a
    * constant group (max = min) scales to 0.0 — the join-safe
    * convention. Same shape as [[winsorize]]: one grouped aggregate
    * to group cardinality, broadcast-friendly join back, narrow
    * projection — never a window over the corpus. `groupCols = Nil`
    * scales against the global min/max. */
  def minMaxScale(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val bounds = groupBounds(df, groupCols,
      Seq(min(v).as("__graft_mn"), max(v).as("__graft_mx")))
    joinBounds(df, bounds, groupCols)
      .withColumn(s"${valueCol}_scaled",
        when(col("__graft_mx") === col("__graft_mn"), 0.0)
          .otherwise(round((v - col("__graft_mn")) /
            (col("__graft_mx") - col("__graft_mn")), 6)))
      .drop("__graft_mn", "__graft_mx")
  }

  /** Robust scale `valueCol` per group (new column
    * `<valueCol>_robust`, 6 dp): (v − median) / IQR with exact
    * interpolated quartiles; zero-IQR groups scale to 0.0. The
    * outlier-insensitive standardisation quality-signal columns
    * need before feeding sampling weights (a single spam doc moves
    * a mean/stddev z-score; it barely moves median/IQR). Same
    * aggregate-join-project shape as [[winsorize]]; swap
    * `exact = false` for the sketch path on groups that don't fit.
    * `groupCols = Nil` standardises against the global quartiles. */
  def robustScale(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    val v = col(valueCol).cast("double")
    val qs = quantileBounds(df, groupCols, valueCol,
      Seq(0.25 -> "__graft_q1", 0.5 -> "__graft_med", 0.75 -> "__graft_q3"),
      exact, accuracy)
    joinBounds(df, qs, groupCols)
      .withColumn(s"${valueCol}_robust",
        when(col("__graft_q3") === col("__graft_q1"), 0.0)
          .otherwise(round((v - col("__graft_med")) /
            (col("__graft_q3") - col("__graft_q1")), 6)))
      .drop("__graft_q1", "__graft_med", "__graft_q3")
  }
}
