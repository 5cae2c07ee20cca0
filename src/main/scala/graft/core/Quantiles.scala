package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Ids

/** EXACT quantiles at 100 TB scale, global or per group — and the
  * quality gate built on them ("keep the top 10 % by score").
  *
  * [[Aggregations.percentiles]]' exact mode uses Spark's `percentile`
  * aggregate, which buffers every value of a group in one aggregation
  * buffer — correct, and the right tool at group grain, but a
  * corpus-sized quantile cannot hold the corpus in one buffer (the
  * approx sketch is the usual fallback, trading exactness). These
  * operators get EXACTNESS scale-safely instead: range-repartition on
  * (group keys, value) — the only corpus-wide movement, the same
  * exchange any global sort needs — parallel local sorts and
  * partition-offset rank arithmetic ([[graft.operators.Ids]]), so a
  * billion-row group spans partitions instead of serialising anywhere.
  * Each (group, q) then looks up the values at ranks ⌊h⌋ and ⌈h⌉,
  * h = q·(n−1): type-1 ([[exactQuantiles]]) takes the lower value,
  * the interpolated mode ([[exactInterpolatedQuantiles]]) weighs the
  * two. Only the keys and the VALUE column ride the exchange (the frame
  * is projected first), and results come back as a DataFrame so
  * thresholds compose in-plan (broadcast) with no driver collect.
  *
  * ONE BODY FOR EVERY GROUPING: `groupCols = Nil` is the zero-key
  * group — a zero-key `groupBy` is Spark's global aggregate, and the
  * global rank path reads its one count off the ids fence. Group keys
  * match NULL-SAFELY (`<=>`): a null key is a group like any other
  * (`groupBy` keeps it). Values are cast to double and nulls excluded;
  * groups whose values are all null are absent (empty/all-null input →
  * empty frame; callers LEFT-join and inherit null bounds). Group
  * cardinality must stay broadcast-sized — the language/domain regime
  * the per-group forms exist for.
  *
  * Determinism under ties: duplicate values may receive their ranks in
  * any order, but the VALUE at any given rank is unique regardless —
  * quantiles are well-defined without a tiebreak column.
  *
  * ADAPTIVE CROSSOVER (measured, SCALE.md r13 exact_quantile rows and
  * r15 stats_winsorize rows): below a few million rows the
  * value-buffering formulations (one `sort_array(collect_list)` /
  * `percentile` aggregate per group) beat the rank machinery's fixed
  * costs (range-exchange sampling job + fence) — the aggregate wins at
  * 600 k (~1.1×), the ranks win at 4.8 M (1.9×) and 20 M (2.3×), and
  * only the ranks survive 10^8-value groups at all. The route: an
  * input of at most budget / 8 rows — the session's
  * `spark.sql.autoBroadcastJoinThreshold` at one 8-byte double per
  * value, 1,310,720 rows at the default 10 MiB — takes the aggregate,
  * decided by one limit-bounded count
  * ([[DataFrameOps.fitsBroadcastBudget]]); a larger input, or any
  * input under a budget of −1 (no count then), takes the ranks. Both
  * routes give bit-for-bit the same results, pinned by parity specs,
  * because the rank path deliberately implements the aggregate's
  * interpolation convention. Total row count bounds every group's
  * size, so grouped calls are safe under the same bound.
  *
  * ROUTER COST ON DERIVED INPUTS (ADVICE r16): the count reads a scan
  * cheaply, but a `df` with joins/shuffles upstream executes its upstream
  * plan up to the limit for it, and the rank path then computes it
  * again. Callers feeding an expensive derived frame should fence or
  * cache it first, or run under a budget of −1, which takes the rank
  * path with no count.
  */
object Quantiles {

  /** `(groupCols…, q, value)` — exact type-1 (lower-value, no
    * interpolation) quantiles of `valueCol` per group: the value at
    * rank ⌊q·(n−1)⌋; `value` is double. Eager work: the router's
    * bounded count, then on the rank route the jobs of
    * [[graft.operators.Ids.assignContiguousIds]] (its fence counts). */
  def exactQuantiles(
      df: DataFrame,
      valueCol: String,
      qs: Seq[Double],
      groupCols: Seq[String] = Nil): DataFrame =
    quantiles(df, groupCols, valueCol, qs, interpolated = false, "exactQuantiles")

  /** `(groupCols…, q, value)` — exact INTERPOLATED quantiles,
    * `percentile`-aggregate semantics: at h = q·(n−1),
    * value = (⌈h⌉−h)·v_lo + (h−⌊h⌋)·v_hi (v_lo when h is integral), the
    * two-sided weighted form Spark's `Percentile` computes — bit-for-bit,
    * so the small-input route through the aggregate and the rank route
    * agree exactly. (DuckDB's `quantile_cont` uses the one-sided lerp
    * v_lo + (h−⌊h⌋)·(v_hi−v_lo); the two can differ sub-ulp on
    * non-exactly-representable doubles — this library owns the Spark
    * convention, pinned by an adversarial-doubles parity spec.)
    * Duplicate quantiles are rejected (callers pivot on `q`). Eager
    * work: that of [[exactQuantiles]]. */
  def exactInterpolatedQuantiles(
      df: DataFrame,
      valueCol: String,
      qs: Seq[Double],
      groupCols: Seq[String] = Nil): DataFrame = {
    require(qs.distinct.size == qs.size,
      s"exactInterpolatedQuantiles: duplicate quantiles would silently merge, got $qs")
    quantiles(df, groupCols, valueCol, qs, interpolated = true, "exactInterpolatedQuantiles")
  }

  /** The one body behind both modes and every grouping. */
  private def quantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      qs: Seq[Double],
      interpolated: Boolean,
      op: String): DataFrame = {
    require(qs.nonEmpty, s"$op: need at least one quantile")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"$op: quantiles must be in [0, 1], got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = groupCols.map(col)
    val values = df.select(keys :+ col(valueCol).cast("double").as("__graft_qv"): _*)
      .filter(col("__graft_qv").isNotNull)
    val qArr = array(qs.map(lit): _*)
    if (DataFrameOps.fitsBroadcastBudget(df, rowBytes = 8L)) {
      // small regime: ONE value-buffering aggregate per group (the
      // budget bounds the input, so every buffer). Spark's own
      // Percentile IS the convention the rank route implements; type-1
      // indexes the sorted values at ⌊q·(n−1)⌋. The zero-key group of
      // an empty input has no values: a null array, so no rows.
      val vals = col("__graft_vals")
      val perQ =
        if (interpolated) vals
        else when(size(vals) > 0, transform(qArr, q =>
          element_at(vals, (floor(q * (size(vals) - 1)) + 1).cast("int"))))
      return values.groupBy(keys: _*)
        .agg((if (interpolated) percentile(col("__graft_qv"), qArr)
          else sort_array(collect_list(col("__graft_qv")))).as("__graft_vals"))
        .select(keys :+ posexplode(perQ).as(Seq("__graft_i", "value")): _*)
        .select(keys :+ element_at(qArr, col("__graft_i") + 1).as("q") :+ col("value"): _*)
    }
    // scale regime: ranks 0..n−1 per group and each group's count n
    // (`__graft_o_<g>…, __graft_gn`); the zero-key group's count is
    // read off the ids fence
    val (ranked, counts) =
      if (groupCols.isEmpty) {
        val (ids, n) = Ids.contiguousIds(values, Seq("__graft_qv"), "__graft_qr")
        (ids, Seq(n).toDF("__graft_gn"))
      } else Ids.groupRanks(values, groupCols, Seq("__graft_qv"), "__graft_qr")
    val needed = counts
      .select(col("*"), posexplode(qArr).as(Seq("__graft_i", "q")))
      .withColumn("__graft_qh", col("q") * (col("__graft_gn") - 1).cast("double"))
      .withColumn("__graft_need", explode(array(
        struct(lit("lo").as("role"), floor(col("__graft_qh")).cast("long").as("rank")),
        struct(lit("hi").as("role"), ceil(col("__graft_qh")).cast("long").as("rank")))))
    // null-safe on the group keys: === would silently drop a null group
    val cond = (groupCols.map(g => col(g) <=> col(s"__graft_o_$g")) :+
      (col("__graft_qr") === col("__graft_need.rank"))).reduce(_ && _)
    def at(role: String) =
      max(when(col("__graft_need.role") === role, col("__graft_qv")))
    ranked.join(broadcast(needed), cond)
      .groupBy(keys :+ col("__graft_i") :+ col("q") :+ col("__graft_qh"): _*)
      .agg(at("lo").as("__graft_vlo"), at("hi").as("__graft_vhi"))
      .select(keys :+ col("q") :+ (if (interpolated) interpolate(col("__graft_qh"),
        col("__graft_vlo"), col("__graft_vhi")) else col("__graft_vlo")).as("value"): _*)
  }

  /** Spark `Percentile`'s exact interpolation at fractional rank `h`:
    * v_lo when h is integral OR when v_lo equals v_hi (the aggregate
    * short-circuits equal boundary keys to the key itself — a
    * DUPLICATE value straddling h must come back exactly, not as the
    * weighted sum (⌈h⌉−h)·v + (h−⌊h⌋)·v, which can differ by 1 ulp;
    * found by the PropertySpec dual-route fuzz), else
    * (⌈h⌉−h)·v_lo + (h−⌊h⌋)·v_hi — the two-sided weighted form, NOT
    * the one-sided lerp (they differ sub-ulp on adversarial doubles;
    * the aggregate's form wins so small-regime and rank-regime paths
    * are bit-identical). */
  private def interpolate(h: Column, vLo: Column, vHi: Column): Column =
    when(h === floor(h) || vLo === vHi, vLo)
      .otherwise((ceil(h) - h) * vLo + (h - floor(h)) * vHi)

  /** Keep the rows of `df` whose `scoreCol` is at or above their
    * group's exact type-1 `q`-quantile of `scoreCol` — the "top (1−q)
    * fraction by score" curation gate; with `groupCols` it is the
    * stratified gate ("top (1−q) per language/domain", so one
    * high-scoring stratum can't crowd out the rest). Thresholds are
    * derived in-plan and broadcast (no collect); ties inclusive, null
    * scores never pass, and rows of a null-keyed group gate against
    * their OWN group's threshold. */
  def quantileGate(
      df: DataFrame,
      scoreCol: String,
      q: Double,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantileGate: q must be in [0, 1], got $q")
    val thr = exactQuantiles(df, scoreCol, Seq(q), groupCols)
      .select(groupCols.map(g => col(g).as(s"__graft_g_$g")) :+
        col("value").as("__graft_thr"): _*)
    Stats.joinBounds(df, thr, groupCols)
      .filter(col(scoreCol).cast("double") >= col("__graft_thr"))
      .drop("__graft_thr")
  }
}
