package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ids

/** EXACT global quantiles at 100 TB scale — and the quality gate built
  * on them ("keep the top 10 % by score").
  *
  * [[Aggregations.percentiles]]' exact mode uses Spark's `percentile`
  * aggregate, which buffers every value of a group in one aggregation
  * buffer — correct, and the right tool at group grain, but a
  * corpus-sized global quantile cannot hold the corpus in one buffer
  * (the approx sketch is the usual fallback, trading exactness). This
  * operator gets EXACTNESS scale-safely instead: range-repartition on
  * the value (the only corpus-wide movement — the same exchange any
  * global sort needs), parallel local sorts, partition-offset rank
  * arithmetic ([[graft.operators.Ids]]), then pick the value at rank
  * ⌊q·(n−1)⌋ (type-1 / lower-value semantics, no interpolation). Only
  * the VALUE column rides the exchange (the frame is projected first),
  * and results come back as a DataFrame so thresholds compose in-plan
  * (broadcast 1-row frame) with no driver collect.
  *
  * Determinism under ties: duplicate values may receive their ranks in
  * any order, but the VALUE at any given rank is unique regardless —
  * quantiles are well-defined without a tiebreak column.
  *
  * ADAPTIVE CROSSOVER (measured, SCALE.md r13 exact_quantile rows and
  * r15 stats_winsorize rows): below a few million rows the
  * value-buffering formulations (one `sort_array(collect_list)` /
  * `percentile` aggregate) beat the rank machinery's fixed costs
  * (range-exchange sampling job + fence) — the
  * aggregate wins at 600 k (~1.1×), the ranks win at 4.8 M (1.9×) and
  * 20 M (2.3×), and only the ranks survive 10^8-value groups at all.
  * Every exact entry point therefore counts its input (a narrow
  * metadata-cheap pass, the [[Drift.ksStatistic]] pattern) and routes
  * small inputs through the aggregate — bit-for-bit the same results,
  * pinned by parity specs, because the rank path deliberately
  * implements the aggregate's interpolation convention. The
  * crossover row count is the session conf
  * `graft.quantiles.smallInputRows` (default 2,000,000; set 0 to
  * force the rank path, e.g. for scale measurements). Total row
  * count bounds every group's size, so the per-group routes are safe
  * under the same threshold.
  */
object Quantiles {

  /** Session conf key for the aggregate-vs-ranks crossover row count;
    * inputs with `count() <= value` use the value-buffering aggregate
    * path, larger ones the range-exchange rank path. 0 disables the
    * small path entirely. */
  val SmallInputRowsConf = "graft.quantiles.smallInputRows"

  /** Default crossover: between the measured 600 k (aggregate ~1.1×
    * ahead) and 4.8 M (ranks 1.9× ahead) points, biased low so the
    * rank path owns everything with real scale risk. */
  val DefaultSmallInputRows = 2000000L

  /** True when `df` is small enough (by the session's crossover conf)
    * that the value-buffering aggregate path is both safe and faster.
    * The count is one narrow job — zero columns decode on a parquet
    * scan — and the input row count bounds every group's size.
    *
    * ROUTER COST ON DERIVED INPUTS (ADVICE r16): "metadata-cheap" holds
    * for scans; a `df` with joins/shuffles upstream executes its whole
    * upstream plan for this count, and above the crossover the rank
    * path then computes it again. Callers feeding an expensive derived
    * frame should either cache/localCheckpoint it first (the count then
    * reads the materialised form and the routed path reuses it) or pin
    * the route and skip the count entirely: conf 0 forces the rank
    * path with NO count job; a huge conf value forces the aggregate
    * path (the count still runs — it is the safety bound on the
    * aggregation buffer, never skipped on that path).
    *
    * r19: the count is LIMIT-bounded at thr+1 (the bloom router
    * pattern — `min(n, thr+1) <= thr iff n <= thr`): the routing
    * decision and the buffer safety bound are unchanged, but above
    * the crossover every scan task stops after thr+1 rows instead of
    * counting a corpus just to learn it is big. Confs at or above
    * Int.MaxValue keep the exact count (a clipped probe there could
    * misroute a 2B+-row frame into the buffering path). */
  private def useAggregatePath(df: DataFrame): Boolean = {
    val thr = df.sparkSession.conf
      .get(SmallInputRowsConf, DefaultSmallInputRows.toString).toLong
    if (thr <= 0) false
    else if (thr >= Int.MaxValue.toLong) df.count() <= thr
    else df.limit(thr.toInt + 1).count() <= thr
  }

  /** The non-null values as doubles `__graft_qv` ranked `__graft_qr`,
    * and their count off the ids fence (the rank plan is narrow). */
  private def rankedValues(df: DataFrame, valueCol: String): (DataFrame, Long) =
    Ids.contiguousIds(
      df.select(col(valueCol).cast("double").as("__graft_qv"))
        .filter(col("__graft_qv").isNotNull),
      Seq("__graft_qv"), "__graft_qr")

  /** [[rankedValues]] per group, and the counts `(__graft_g_<g>…, __graft_qn)`. */
  private def rankedGroups(
      df: DataFrame, groupCols: Seq[String], valueCol: String): (DataFrame, DataFrame) = {
    val (ranked, groups) = Ids.groupRanks(
      df.select((groupCols.map(col) :+
          col(valueCol).cast("double").as("__graft_qv")): _*)
        .filter(col("__graft_qv").isNotNull),
      groupCols, Seq("__graft_qv"), "__graft_qr")
    (ranked, groups.select(groupCols.map(g => col(s"__graft_o_$g").as(s"__graft_g_$g")) :+
      col("__graft_gn").as("__graft_qn"): _*))
  }

  /** `(q, value)` — one row per requested quantile of `valueCol`
    * (nulls excluded; `value` is double). Empty input → empty. Eager
    * work: the router's bounded count, then the jobs of
    * [[graft.operators.Ids.assignContiguousIds]] (its fence counts). */
  def exactQuantiles(
      df: DataFrame,
      valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "exactQuantiles: need at least one quantile")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"exactQuantiles: quantiles must be in [0, 1], got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    if (useAggregatePath(df)) {
      // small regime: ONE sorted-array aggregate (the buffer is bounded
      // by the crossover conf), then each q indexes rank ⌊q·(n−1)⌋
      val arr = df.select(col(valueCol).cast("double").as("__graft_qv"))
        .filter(col("__graft_qv").isNotNull)
        .agg(sort_array(collect_list(col("__graft_qv"))).as("__graft_vals"),
          count(col("__graft_qv")).as("__graft_qn"))
      return qs.toDF("q")
        .crossJoin(broadcast(arr))
        .filter(col("__graft_qn") > 0) // empty/all-null input → empty
        .select(col("q"), element_at(col("__graft_vals"),
          (least(floor(col("q") * (col("__graft_qn") - 1)),
            col("__graft_qn") - 1) + 1).cast("int")).as("value"))
    }
    val (ranked, n) = rankedValues(df, valueCol)
    qs.toDF("q")
      .withColumn("__graft_qt",
        least(floor(col("q") * (n - 1)), lit(n - 1)).cast("long"))
      .join(ranked, col("__graft_qt") === col("__graft_qr"))
      .select(col("q"), col("__graft_qv").as("value"))
  }

  /** Keep the rows of `df` whose `scoreCol` is at or above the exact
    * `q`-quantile of `scoreCol` — the "top (1−q) fraction by score"
    * curation gate, threshold derived in-plan and broadcast (no
    * collect). Null scores never pass. */
  def quantileGate(
      df: DataFrame,
      scoreCol: String,
      q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantileGate: q must be in [0, 1], got $q")
    val thr = exactQuantiles(df, scoreCol, Seq(q))
      .select(col("value").as("__graft_thr"))
    df.crossJoin(broadcast(thr))
      .filter(col(scoreCol).cast("double") >= col("__graft_thr"))
      .drop("__graft_thr")
  }

  /** Exact per-GROUP type-1 quantiles: `(groupCols…, q, value)`. A
    * `percentile` aggregate buffers each group's values in one buffer
    * and a bare per-group rank window sorts each group through one
    * task; this uses [[graft.operators.Ids.assignGroupRanks]] instead
    * (range exchange spanning big groups across partitions, local
    * sorts, broadcast per-group first ids), so a billion-row group
    * never serialises anywhere. Group
    * cardinality must stay broadcast-sized (the per-group frame's bound —
    * the language/domain regime this op exists for). Eager work: the
    * router's bounded count, then the jobs of
    * [[graft.operators.Ids.assignGroupRanks]]. */
  def exactQuantilesPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "exactQuantilesPerGroup: need at least one quantile")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"exactQuantilesPerGroup: quantiles must be in [0, 1], got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    if (useAggregatePath(df)) {
      // small regime: one grouped sorted-array aggregate (the total
      // input bound caps every group's buffer), then explode the qs —
      // groupBy keeps null group keys, matching the rank path
      val qv = col(valueCol).cast("double").as("__graft_qv")
      val grouped = df.select((groupCols.map(col) :+ qv): _*)
        .filter(col("__graft_qv").isNotNull) // all-null groups absent
        .groupBy(groupCols.map(col): _*)
        .agg(sort_array(collect_list(col("__graft_qv"))).as("__graft_vals"),
          count(col("__graft_qv")).as("__graft_qn"))
      return grouped
        .select((groupCols.map(col) :+ col("__graft_vals") :+
          col("__graft_qn") :+
          explode(array(qs.map(lit): _*)).as("q")): _*)
        .select((groupCols.map(col) :+ col("q") :+
          element_at(col("__graft_vals"),
            (least(floor(col("q") * (col("__graft_qn") - 1)),
              col("__graft_qn") - 1) + 1).cast("int")).as("value")): _*)
    }
    val (ranked, counts) = rankedGroups(df, groupCols, valueCol)
    val targets = qs.toDF("q")
      .crossJoin(broadcast(counts))
      .withColumn("__graft_qt",
        least(floor(col("q") * (col("__graft_qn") - 1)),
          col("__graft_qn") - 1).cast("long"))
    // the rank side also derives from ranked — fresh aliases on every
    // column give it distinct attributes, so the join is unambiguous
    val rk = ranked.select((groupCols.map(g => col(g).as(s"__graft_r_$g")) :+
      col("__graft_qr").as("__graft_rr") :+
      col("__graft_qv").as("__graft_rv")): _*)
    // null-safe on the group keys: a null group key is a group like
    // any other (groupBy keeps it); === would silently drop it here
    val cond = (groupCols.map(g =>
      col(s"__graft_g_$g") <=> col(s"__graft_r_$g")) :+
      (col("__graft_qt") === col("__graft_rr"))).reduce(_ && _)
    targets.join(rk, cond)
      .select((groupCols.map(g => col(s"__graft_r_$g").as(g)) :+
        col("q") :+ col("__graft_rv").as("value")): _*)
  }

  /** Exact INTERPOLATED global quantiles — `percentile`-aggregate
    * semantics: at h = q·(n−1), value = (⌈h⌉−h)·v_lo + (h−⌊h⌋)·v_hi
    * (v_lo when h is integral), the two-sided weighted form Spark's
    * `Percentile` computes — bit-for-bit, so the adaptive small-input
    * path through the aggregate and this range-exchange path agree
    * exactly. (DuckDB's `quantile_cont` uses the one-sided lerp
    * v_lo + (h−⌊h⌋)·(v_hi−v_lo); the two can differ sub-ulp on
    * non-exactly-representable doubles — this library owns the Spark
    * convention, pinned by an adversarial-doubles parity spec.) Built
    * over the same range-exchange rank machinery as
    * [[exactQuantiles]], so no aggregation buffer ever holds a group's
    * values. Returns `(q, value)`; all-null / empty input → empty
    * frame (callers LEFT-join and inherit null bounds, matching the
    * aggregate's null). Eager work: that of [[exactQuantiles]]. */
  def exactInterpolatedQuantiles(
      df: DataFrame,
      valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "exactInterpolatedQuantiles: need at least one quantile")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"exactInterpolatedQuantiles: quantiles must be in [0, 1], got $qs")
    require(qs.distinct.size == qs.size,
      s"exactInterpolatedQuantiles: duplicate quantiles would silently merge, got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    if (useAggregatePath(df)) {
      // small regime: Spark's own Percentile aggregate IS the
      // convention the rank path implements, so the two routes are
      // bit-identical by construction (pinned by the parity spec)
      val qArr = array(qs.map(lit): _*)
      return df.select(col(valueCol).cast("double").as("__graft_qv"))
        .filter(col("__graft_qv").isNotNull)
        .agg(percentile(col("__graft_qv"), qArr).as("__graft_vals"))
        // empty/all-null input → null array → posexplode emits no rows
        .select(posexplode(col("__graft_vals")).as(Seq("__graft_i", "value")))
        .select(element_at(qArr, col("__graft_i").cast("int") + 1).as("q"),
          col("value"))
    }
    val (ranked, n) = rankedValues(df, valueCol)
    val targets = qs.toDF("q")
      .withColumn("__graft_qh", col("q") * (n - 1).toDouble)
      .withColumn("__graft_qlo", floor(col("__graft_qh")).cast("long"))
      .withColumn("__graft_qhi", ceil(col("__graft_qh")).cast("long"))
    val needed = targets.select(col("q"), col("__graft_qh"),
      explode(array(
        struct(lit("lo").as("role"), col("__graft_qlo").as("rank")),
        struct(lit("hi").as("role"), col("__graft_qhi").as("rank"))))
        .as("__graft_need"))
      .select(col("q"), col("__graft_qh"),
        col("__graft_need.role").as("__graft_role"),
        col("__graft_need.rank").as("__graft_rank"))
    ranked.join(broadcast(needed), col("__graft_qr") === col("__graft_rank"))
      .groupBy(col("q"))
      .agg(first(col("__graft_qh")).as("__graft_qh"),
        max(when(col("__graft_role") === "lo", col("__graft_qv"))).as("__graft_vlo"),
        max(when(col("__graft_role") === "hi", col("__graft_qv"))).as("__graft_vhi"))
      .select(col("q"), interpolate(col("__graft_qh"),
        col("__graft_vlo"), col("__graft_vhi")).as("value"))
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
  private def interpolate(
      h: org.apache.spark.sql.Column,
      vLo: org.apache.spark.sql.Column,
      vHi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(h === floor(h) || vLo === vHi, vLo)
      .otherwise((ceil(h) - h) * vLo + (h - floor(h)) * vHi)

  /** Per-group [[exactInterpolatedQuantiles]]: `(groupCols…, q,
    * value)` with `percentile`-aggregate interpolation (the same
    * two-sided weighted form as [[exactInterpolatedQuantiles]]),
    * built on
    * [[graft.operators.Ids.assignGroupRanks]] so a billion-row group
    * spans partitions instead of serialising into one aggregation
    * buffer. Group joins are NULL-SAFE (`<=>`): a null group key is a
    * group, not a dropped row. Groups whose values are all null are
    * absent from the output (callers LEFT-join and inherit null
    * bounds). Group cardinality must stay broadcast-sized — the
    * language/domain regime this op exists for. */
  def exactInterpolatedQuantilesPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty,
      "exactInterpolatedQuantilesPerGroup: need group columns (use exactInterpolatedQuantiles)")
    require(qs.nonEmpty, "exactInterpolatedQuantilesPerGroup: need at least one quantile")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"exactInterpolatedQuantilesPerGroup: quantiles must be in [0, 1], got $qs")
    require(qs.distinct.size == qs.size,
      s"exactInterpolatedQuantilesPerGroup: duplicate quantiles would silently merge, got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    if (useAggregatePath(df)) {
      // small regime: the grouped Percentile aggregate (the total
      // input bound caps every group's buffer); null group keys are
      // groups, all-null groups absent — matching the rank path
      val qArr = array(qs.map(lit): _*)
      val qv = col(valueCol).cast("double").as("__graft_qv")
      return df.select((groupCols.map(col) :+ qv): _*)
        .filter(col("__graft_qv").isNotNull)
        .groupBy(groupCols.map(col): _*)
        .agg(percentile(col("__graft_qv"), qArr).as("__graft_vals"))
        .select((groupCols.map(col) :+
          posexplode(col("__graft_vals")).as(Seq("__graft_i", "value"))): _*)
        .select((groupCols.map(col) :+
          element_at(qArr, col("__graft_i").cast("int") + 1).as("q") :+
          col("value")): _*)
    }
    val (ranked, counts) = rankedGroups(df, groupCols, valueCol)
    val needed = qs.toDF("q")
      .crossJoin(broadcast(counts))
      .withColumn("__graft_qh",
        col("q") * (col("__graft_qn") - 1).cast("double"))
      .select((groupCols.map(g => col(s"__graft_g_$g")) :+
        col("q") :+ col("__graft_qh") :+
        explode(array(
          struct(lit("lo").as("role"),
            floor(col("__graft_qh")).cast("long").as("rank")),
          struct(lit("hi").as("role"),
            ceil(col("__graft_qh")).cast("long").as("rank"))))
          .as("__graft_need")): _*)
      .select((groupCols.map(g => col(s"__graft_g_$g")) :+
        col("q") :+ col("__graft_qh") :+
        col("__graft_need.role").as("__graft_role") :+
        col("__graft_need.rank").as("__graft_rank")): _*)
    val cond = (groupCols.map(g =>
      col(g) <=> col(s"__graft_g_$g")) :+
      (col("__graft_qr") === col("__graft_rank"))).reduce(_ && _)
    ranked.join(broadcast(needed), cond)
      .groupBy((groupCols.map(col) :+ col("q")): _*)
      .agg(first(col("__graft_qh")).as("__graft_qh"),
        max(when(col("__graft_role") === "lo", col("__graft_qv"))).as("__graft_vlo"),
        max(when(col("__graft_role") === "hi", col("__graft_qv"))).as("__graft_vhi"))
      .select((groupCols.map(col) :+ col("q") :+
        interpolate(col("__graft_qh"), col("__graft_vlo"),
          col("__graft_vhi")).as("value")): _*)
  }

  /** Per-group [[quantileGate]]: keep rows at or above their OWN
    * group's exact `q`-quantile of `scoreCol` — "top (1−q) fraction
    * per language/domain", the stratified curation gate (a global
    * threshold would let a high-scoring language crowd out the rest).
    * Thresholds join back at group cardinality; ties inclusive, null
    * scores never pass. */
  def quantileGatePerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0,
      s"quantileGatePerGroup: q must be in [0, 1], got $q")
    val thr = exactQuantilesPerGroup(df, groupCols, scoreCol, Seq(q))
      .select((groupCols.map(g => col(g).as(s"__graft_g_$g")) :+
        col("value").as("__graft_thr")): _*)
    // null-safe group join: rows in a null-keyed group gate against
    // their OWN group's threshold instead of being silently dropped
    val cond = groupCols.map(g => col(g) <=> col(s"__graft_g_$g")).reduce(_ && _)
    df.join(broadcast(thr), cond, "inner")
      .filter(col(scoreCol).cast("double") >= col("__graft_thr"))
      .drop(groupCols.map(g => s"__graft_g_$g") :+ "__graft_thr": _*)
  }
}
