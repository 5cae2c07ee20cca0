package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.ColumnNotInDataframeError

/** Core relational / dataflow operators (SURVEY.md §2.1).
  *
  * Every operator is a pure LogicalPlan transformation — no action is
  * triggered unless documented ("eager"). All of them delegate physical
  * execution to Catalyst/Tungsten; nothing here hand-schedules work, so
  * predicate pushdown, column pruning and whole-stage codegen apply
  * unchanged at any scale.
  *
  * Semantics follow the reference (file:line cited per method); the
  * implementation is idiomatic Scala Spark, not a translation.
  */
object DataFrameOps {

  // ---------------------------------------------------------------- helpers

  private[graft] def requireColumns(df: DataFrame, cols: Seq[String], what: String): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new ColumnNotInDataframeError(
        s"$what: column(s) ${missing.mkString(", ")} not in dataframe " +
          s"(has: ${df.columns.mkString(", ")})")
  }

  /** Reject an input carrying any of `op`'s internal working columns,
    * which the operator would otherwise shadow or clobber. */
  private[graft] def requireNoReserved(df: DataFrame, names: Seq[String], op: String): Unit =
    require(!df.columns.exists(names.contains),
      if (names.size == 1) s"$op: column name ${names.head} is reserved"
      else s"$op: column names ${names.mkString(", ")} are reserved")

  // ------------------------------------------------------------- operators

  /** #1 Projection of columns into a single map<colName,value> column.
    * Reference: rdsa_utils/helpers/pyspark.py:33-37.
    */
  def colnameToValueMap(cols: Seq[String]): Column =
    map(cols.flatMap(c => Seq(lit(c), col(c))): _*)

  /** #2 Rewrite the nullable flag of chosen columns (schema-only change;
    * data is reused via the existing RDD — one narrow pass, no shuffle).
    * Reference: rdsa_utils/helpers/pyspark.py:40-77.
    */
  def setColumnsNullable(
      df: DataFrame,
      columns: Seq[String],
      nullable: Boolean = true): DataFrame = {
    val schema = StructType(df.schema.fields.map { f =>
      if (columns.contains(f.name)) f.copy(nullable = nullable) else f
    })
    df.sparkSession.createDataFrame(df.rdd, schema)
  }

  /** #3 Wide→long unpivot, pandas-`melt` style.
    * Reference: rdsa_utils/helpers/pyspark.py:80-160. Spark-first: uses the
    * built-in `unpivot` (planned as `Expand` — no array materialisation,
    * stays inside whole-stage codegen), not the reference's
    * array(struct)+explode construction.
    */
  def melt(
      df: DataFrame,
      idVars: Seq[String],
      valueVars: Seq[String],
      varName: String = "variable",
      valueName: String = "value"): DataFrame = {
    requireColumns(df, idVars ++ valueVars, "melt")
    df.unpivot(idVars.map(col).toArray, valueVars.map(col).toArray, varName, valueName)
  }

  /** Long→wide pivot, the inverse of [[melt]]: one output column per
    * entry of `pivotValues`, holding `agg` of `valueCol` over the
    * matching `pivotCol` rows. `agg` ∈ sum|avg|min|max|count|first.
    *
    * `pivotValues` is REQUIRED, not discovered: a values-less
    * `pivot` runs an eager distinct job over the pivot column first —
    * a full extra corpus scan at 100 TB — and an unbounded value set
    * would mint an unbounded schema anyway. Compiled as conditional
    * aggregation (`agg(when(pivot = v, value))` per value) rather
    * than Spark's `.pivot`, whose PivotFirst path aggregates TWICE —
    * once on (group, pivot), then again on group — costing a second
    * exchange; here the plan is ONE partial/final HashAggregate and
    * the pivot columns are just aggregate buffers. Rows whose pivot
    * value isn't listed fall out, like a dashboard's fixed columns. */
  def pivotWide(
      df: DataFrame,
      groupCols: Seq[String],
      pivotCol: String,
      valueCol: String,
      pivotValues: Seq[String],
      agg: String = "sum"): DataFrame = {
    require(groupCols.nonEmpty, "pivotWide: need at least one group column")
    require(pivotValues.nonEmpty, "pivotWide: pivotValues must be explicit and non-empty")
    requireColumns(df, groupCols :+ pivotCol :+ valueCol, "pivotWide")
    val aggExpr: Column => Column = agg match {
      case "sum"   => sum
      case "avg"   => avg
      case "min"   => min
      case "max"   => max
      case "count" => count
      case "first" => first(_, ignoreNulls = true)
      case other => throw new IllegalArgumentException(
        s"pivotWide: unsupported agg '$other' (use sum|avg|min|max|count|first)")
    }
    val matched = pivotValues.map(v =>
      aggExpr(when(col(pivotCol) === lit(v), col(valueCol))).as(v))
    df.groupBy(groupCols.map(col): _*)
      .agg(matched.head, matched.tail: _*)
  }

  /** #5 Collect a DataFrame to a driver-side list — eager. 1 column →
    * flat values; n columns → rows as Seq. Driver-side by design (small
    * results only). Reference: rdsa_utils/helpers/pyspark.py:219-232.
    */
  def toList(df: DataFrame): List[Any] =
    if (df.columns.length == 1) df.collect().map(_.get(0)).toList
    else df.collect().map(_.toSeq).toList

  /** #6 Bulk rename via mapping; unmapped names pass through, column
    * order preserved. Reference: rdsa_utils/helpers/pyspark.py:235-243.
    */
  def mapColumnNames(df: DataFrame, mapper: Map[String, String]): DataFrame =
    df.select(df.columns.map(c => col(c).as(mapper.getOrElse(c, c))).toSeq: _*)

  /** #8 Cheap emptiness probe — eager but reads at most one row of one
    * partition. Reference: rdsa_utils/helpers/pyspark.py:251-256.
    */
  def isDfEmpty(df: DataFrame): Boolean = df.isEmpty

  /** #9 Explode an array column to rows.
    * Reference: rdsa_utils/helpers/pyspark.py:259-280.
    */
  def unpackListCol(df: DataFrame, listCol: String, unpackedCol: String): DataFrame = {
    requireColumns(df, Seq(listCol), "unpackListCol")
    df.withColumn(unpackedCol, explode(col(listCol)))
  }

  /** #13 Nest columns into one struct column; placeholder field when the
    * selection is empty (BigQuery quirk preserved).
    * Reference: rdsa_utils/helpers/pyspark.py:396-452.
    */
  def convertColsToStructCol(
      df: DataFrame,
      structColName: String,
      structCols: Seq[String],
      noStructColType: DataType = BooleanType,
      noStructColValue: Any = null): DataFrame = {
    requireColumns(df, structCols, "convertColsToStructCol")
    val (d, cols) =
      if (structCols.nonEmpty) (df, structCols)
      else {
        val placeholder = s"no_$structColName"
        (df.withColumn(placeholder, lit(noStructColValue).cast(noStructColType)),
         Seq(placeholder))
      }
    d.withColumn(structColName, struct(cols.map(col): _*)).drop(cols: _*)
  }

  /** #15 Flatten struct columns to individual columns; optionally recurse
    * until no StructType remains. Field names are NOT prefixed (matches
    * reference `.*` expansion). Reference: rdsa_utils/helpers/pyspark.py:497-537.
    */
  def convertStructColToColumns(
      df: DataFrame,
      convertNestedStructs: Boolean = false): DataFrame = {
    val structCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[StructType] => f.name
    }
    val flat = df.select(
      df.columns.filterNot(structCols.contains).map(col).toSeq ++
        structCols.toSeq.map(c => col(s"`$c`.*")): _*)
    if (convertNestedStructs &&
        flat.schema.fields.exists(_.dataType.isInstanceOf[StructType]))
      convertStructColToColumns(flat, convertNestedStructs)
    else flat
  }

  /** #16 Break Catalyst lineage (plan-blowup / OOM escape hatch for long
    * iterative pipelines). `localCheckpoint` would persist blocks; the
    * RDD round-trip only truncates the plan, matching the reference.
    * Reference: rdsa_utils/helpers/pyspark.py:540-592.
    */
  def cutLineage(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  private val fenceCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Optimizer fence for composed pipelines whose stages derive
    * EXPENSIVE columns (regex extraction chains, token arrays) that
    * later stages filter on. Catalyst's predicate pushdown substitutes
    * a filtered column's defining expression into the pushed predicate
    * with no cost model — a gate referencing an extracted-text column
    * ten times becomes ten per-row copies of the whole extraction tree
    * below the projection (q_pipeline_web measured 5.8 s vs 1.5 s
    * staged; 754 regexp_replace nodes in the optimized plan).
    *
    * Implemented as a no-op CollectMetrics (`observe`) node: pushdown,
    * CollapseProject and column pruning do not cross CollectMetrics, so
    * stages above the fence reference the fenced stage's output as
    * plain ATTRIBUTES (computed once per row below). Unlike
    * [[cutLineage]], rows still flow through as InternalRows — no
    * serialization, no materialization, no lineage break; the only
    * cost is one long-counter accumulator update per row and a
    * whole-stage-codegen span boundary. Select only the columns later
    * stages need BEFORE fencing (pruning stops at the fence). */
  def stageFence(df: DataFrame): DataFrame =
    df.observe(s"__graft_fence_${fenceCounter.incrementAndGet()}", count(lit(1)))

  /** #25 Deterministic dedup: keep rank-1 rows per `column` ordered by
    * `idCol` (auto-generated monotonic id when absent). Uses `rank` — ties
    * on the ordering id all survive, deliberately matching the reference.
    * Reference: rdsa_utils/helpers/pyspark.py:1174-1221.
    */
  def dropDuplicatesReproducible(
      df: DataFrame,
      column: String,
      idCol: Option[String] = None): DataFrame = {
    requireColumns(df, Seq(column) ++ idCol, "dropDuplicatesReproducible")
    // Collision-free working-column names: a user column literally named
    // "rank"/"dup_id" must survive untouched.
    def freshName(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"${base}_$i")
        .map("__graft_" + _).find(!df.columns.contains(_)).get
    val rankCol = freshName("rank")
    val (d, id, synthesized) = idCol match {
      case Some(c) => (df, c, None)
      case None =>
        val idName = freshName("dup_id")
        (df.withColumn(idName, monotonically_increasing_id()), idName, Some(idName))
    }
    val w = Window.partitionBy(col(column)).orderBy(col(id))
    d.withColumn(rankCol, rank().over(w))
      .filter(col(rankCol) === 1)
      .drop(synthesized.toSeq :+ rankCol: _*)
  }

  /** #26 Fold a (df, col) => df function over columns.
    * Reference: rdsa_utils/helpers/pyspark.py:1224-1263.
    */
  def applyColFunc(
      df: DataFrame,
      cols: Seq[String],
      func: (DataFrame, String) => DataFrame): DataFrame =
    cols.foldLeft(df)(func)

  /** #27 Uniform random column on [lower, upper) with optional seed.
    * Reference: rdsa_utils/helpers/pyspark.py:1266-1313.
    */
  def randomUniform(
      df: DataFrame,
      outputCol: String,
      lower: Double = 0.0,
      upper: Double = 1.0,
      seed: Option[Long] = None): DataFrame = {
    val r = seed.map(rand).getOrElse(rand())
    df.withColumn(outputCol, r * (upper - lower) + lower)
  }

  /** #28 Running-sum array from an array column, via higher-order
    * functions only (stays in Catalyst — the reference builds the same
    * transform/aggregate/slice expression).
    * Reference: rdsa_utils/helpers/pyspark.py:1316-1357.
    */
  def cumulativeArray(df: DataFrame, arrayCol: String, outputCol: String): DataFrame = {
    requireColumns(df, Seq(arrayCol), "cumulativeArray")
    // one codegen'd kernel pass (PrefixSumExpr) over the
    // double-coerced array — the reference's HOF expression
    //   transform(arr, (x, i) -> aggregate(slice(arr, 1, i), 0D,
    //     (acc, y) -> acc + y) + x)
    // re-folds the slice from scratch per element (quadratic) through
    // interpreted lambdas. The kernel replays the identical
    // left-to-right IEEE add sequence (prefix_{i+1} = prefix_i + x_i
    // is the same fold the aggregate runs), so outputs are
    // bit-identical — DataFrameOpsSpec pins kernel ≡ HOF; the
    // array<double> cast matches the fold's 0D + y coercion.
    // backtick-quoted resolution (escaping embedded backticks), so
    // column names containing dots keep working — bare col() parses
    // them as struct-field access; the pre-kernel expr() form had the
    // quoting and the kernel move dropped it (ADVICE r19)
    df.withColumn(
      outputCol,
      org.apache.spark.sql.graft.ColumnBridge(
        graft.functions.PrefixSumExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            col(s"`${arrayCol.replace("`", "``")}`").cast("array<double>")))))
  }

  /** #29 Union two DataFrames with differing columns, null-filling gaps.
    * Reference: rdsa_utils/helpers/pyspark.py:1360-1389.
    */
  def unionMismatchedDfs(df1: DataFrame, df2: DataFrame): DataFrame =
    df1.unionByName(df2, allowMissingColumns = true)

  /** #30 Row-wise sum of n columns (null-propagating `+`, matching the
    * reference). Reference: rdsa_utils/helpers/pyspark.py:1392-1431.
    */
  def sumColumns(df: DataFrame, colsToSum: Seq[String], outputCol: String): DataFrame = {
    requireColumns(df, colsToSum, "sumColumns")
    df.withColumn(outputCol, colsToSum.map(col).reduce(_ + _))
  }

  /** #31 Replace listed values with NULL in a column. Sequential
    * when/otherwise fold — exactly the reference's (quirky) semantics,
    * where each pass nulls anything not equal to the current value's
    * complement. Reference: rdsa_utils/helpers/pyspark.py:1434-1477.
    */
  def setNulls(df: DataFrame, column: String, values: Seq[String]): DataFrame = {
    requireColumns(df, Seq(column), "setNulls")
    values.foldLeft(df) { (d, v) =>
      d.withColumn(column, when(col(column) =!= v, col(column)).otherwise(lit(null)))
    }
  }

  /** #32 Positional union of n same-schema DataFrames.
    * Reference: rdsa_utils/helpers/pyspark.py:1480-1508.
    */
  def unionMultiDfs(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionMultiDfs: need at least one dataframe")
    dfs.reduce(_ union _)
  }

  private val allowedJoinTypes =
    Set("inner", "outer", "full", "left", "right", "left_semi", "semi",
        "left_anti", "anti", "cross")

  /** #33 Fold-join n DataFrames on shared key(s). The reference restricts
    * `how` to {inner,outer,left,right}; we additionally expose Spark's
    * semi/anti/cross through the same helper. Catalyst + AQE pick
    * broadcast/SMJ/shuffled-hash per side at runtime.
    * Reference: rdsa_utils/helpers/pyspark.py:1511-1550.
    */
  def joinMultiDfs(dfs: Seq[DataFrame], on: Seq[String], how: String): DataFrame = {
    require(dfs.size >= 2, "joinMultiDfs: need at least two dataframes")
    if (!allowedJoinTypes.contains(how))
      throw new IllegalArgumentException(
        s"joinMultiDfs: join type '$how' not in ${allowedJoinTypes.mkString(", ")}")
    dfs.reduce(_.join(_, on, how))
  }

  /** §2.9 set operations on whole rows — the reference does set-diff
    * driver-side on collected values; distributed forms come free. */
  def intersectDfs(df1: DataFrame, df2: DataFrame): DataFrame = df1.intersect(df2)
  def exceptDfs(df1: DataFrame, df2: DataFrame): DataFrame = df1.except(df2)

  /** §2.5 fold-join with null-fill — the reference's pandas
    * merge_multi_dfs(fillna) (helpers/python.py:579-658): outer-join n
    * frames on shared keys then fill remaining nulls. `fillValue` is
    * applied per type (string vs numeric) like DataFrameNaFunctions.
    */
  def joinMultiDfsFill(
      dfs: Seq[DataFrame],
      on: Seq[String],
      how: String,
      fillNumeric: Option[Double] = None,
      fillString: Option[String] = None): DataFrame = {
    var out = joinMultiDfs(dfs, on, how)
    fillNumeric.foreach(v => out = out.na.fill(v))
    fillString.foreach(v => out = out.na.fill(v))
    out
  }

  /** Skew-safe equi-join of a large, skewed left side against a smaller
    * right side: the left gets a random salt in [0, saltFactor), the
    * right is replicated once per salt value, and the join key becomes
    * (key, salt) — a hot key's rows spread over `saltFactor` reducers
    * instead of one.
    *
    * Salting targets SHUFFLE-join reduce/sort imbalance, so it defers
    * to the plain join when there is no reduce side to skew: if the
    * right side's estimated size fits `spark.sql.autoBroadcastJoinThreshold`
    * (and no user hint pins a shuffle strategy), Catalyst will broadcast
    * it and salting would only replicate the build side ×saltFactor —
    * measured ~2× the plain broadcast join for zero benefit (salted
    * path forced at factor 4 0.54 s vs the plain join 0.29 s warm,
    * sf0.1 — SCALE.md "two-point scale growth, round-8 additions"). To
    * force the salted path for a right side whose runtime size belies
    * its stats, pin it with `right.hint("merge")` / `hint("shuffle_hash")`.
    *
    * Measured when salting IS engaged (sf0.1, local[32], plain shuffle
    * join 3.66 s vs salted factor 32 2.42 s warm — SCALE.md "round-9
    * adjudications and skew-join artifacts"; right pinned `merge`): on
    * a corpus with ~90% of 6M rows on one hot key, salted (factor 32)
    * runs ~0.66× the plain shuffle join warm — the win is sort/reduce
    * balance: the hot key's 5.4M rows sort on one core in the plain
    * plan. AQE's skew-join split did NOT engage at this scale (hot
    * partition ~86 MB <
    * `spark.sql.adaptive.skewedPartitionThresholdInBytes` 256 MB
    * default), so AQE is no substitute below its thresholds; above them
    * (real-cluster partition sizes) prefer AQE first — it splits only
    * the skewed partitions and replicates nothing.
    *
    * At 100 TB the blanket ×saltFactor replication of the right side is
    * the dominant cost; pass `hotKeys` (the known skewed key values,
    * single-column joins) to salt ONLY those keys: non-hot rows keep
    * salt 0 and the right side replicates just the hot-key rows —
    * measured: targeted salting exchanges 150k replicated right rows
    * vs blanket salting's 4.8M (32×) for identical output and equal
    * wall time at sf0.1 (SCALE.md "round-9 adjudications and skew-join
    * artifacts"; the exchange-volume gap is the 100 TB win). The
    * broadcast short-circuit above applies with or without `hotKeys` —
    * targeting changes WHAT is replicated, not whether salting is
    * worth engaging. When the hot values aren't known ahead,
    * [[detectHotKeys]] finds them in one bounded-memory pass over the
    * key column.
    *
    * MIGRATION (round-9 behavior change): passing `hotKeys` previously
    * bypassed the broadcast check and always engaged the salted path.
    * Callers who passed `hotKeys` precisely because the right side's
    * byte STATS understate its runtime size (compressed scans, selective
    * filters Catalyst can't size) now get the plain broadcast-eligible
    * join instead — pin the right side with `right.hint("merge")` /
    * `hint("shuffle_hash")` to re-engage salting; the hint check in
    * [[broadcastWouldWin]] respects it.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      how: String = "inner",
      saltFactor: Int = 8,
      hotKeys: Option[Seq[Any]] = None): DataFrame = {
    require(saltFactor >= 1, "saltedJoin: saltFactor must be >= 1")
    // right rows are replicated ×saltFactor: right/outer/anti semantics
    // would multiply or fabricate unmatched right rows
    require(Seq("inner", "left", "left_outer", "leftouter").contains(how),
      s"saltedJoin: join type '$how' unsupported (replicated right side); use inner or left")
    require(hotKeys.isEmpty || on.size == 1,
      "saltedJoin: hotKeys targeting supports single-column join keys only")
    requireColumns(left, on, "saltedJoin(left)")
    requireColumns(right, on, "saltedJoin(right)")
    // the broadcast short-circuit applies with OR without hotKeys
    // targeting — a broadcastable un-hinted right has no reduce side to
    // skew, so even targeted salting only replicates hot-key build rows
    // for zero benefit
    if (saltFactor == 1 || hotKeys.exists(_.isEmpty) || broadcastWouldWin(right))
      return left.join(right, on, how)
    val saltedLeft = hotKeys match {
      case Some(keys) =>
        left.withColumn(saltCol,
          when(col(on.head).isInCollection(keys),
            (rand() * saltFactor).cast("int")).otherwise(lit(0)))
      case None =>
        left.withColumn(saltCol, (rand() * saltFactor).cast("int"))
    }
    saltedLeft.join(saltedRightFrame(right, on, saltFactor, hotKeys),
      on :+ saltCol, how).drop(saltCol)
  }

  private val saltCol = "__graft_salt"

  /** The replicated right-side frame [[saltedJoin]] exchanges when
    * salting engages (callers have already passed the short-circuit:
    * saltFactor > 1, hotKeys non-empty if present). */
  private def saltedRightFrame(
      right: DataFrame,
      on: Seq[String],
      saltFactor: Int,
      hotKeys: Option[Seq[Any]]): DataFrame = {
    val allSalts = sequence(lit(0), lit(saltFactor - 1))
    hotKeys match {
      case Some(keys) =>
        right.withColumn(saltCol, explode(
          when(col(on.head).isInCollection(keys), allSalts)
            .otherwise(array(lit(0)))))
      case None =>
        right.withColumn(saltCol, explode(allSalts))
    }
  }

  /** Candidate skewed values of a join key, from a SINGLE narrow pass:
    * `stat.freqItems` runs the Misra–Gries frequent-items sketch over
    * the (column-pruned) key column — bounded memory (~1/support
    * counters per partition), no shuffle, no sort, one job, so it is
    * safe to run over the full key column even at corpus scale. The
    * result may contain FALSE POSITIVES (values that are not actually
    * frequent) — by design and harmless downstream: salting a non-hot
    * key never changes join results, it only replicates that key's
    * right-side rows once more. Nulls are dropped (an equi-join never
    * matches them). Compose with [[saltedJoin]]:
    * {{{
    * val hot = DataFrameOps.detectHotKeys(facts, "customer_id")
    * DataFrameOps.saltedJoin(facts, dim, Seq("customer_id"),
    *   hotKeys = Some(hot))
    * }}}
    * `support` is the minimum share of rows a key must hold to be
    * reported (Spark requires >= 1e-4); the default 0.01 flags keys
    * holding >1% of the corpus — on a 2000-reducer shuffle that is
    * ~20 fair shares, well past where a reducer becomes the straggler.
    */
  def detectHotKeys(
      df: DataFrame,
      keyCol: String,
      support: Double = 0.01): Seq[Any] = {
    require(support >= 1e-4 && support < 1.0,
      s"detectHotKeys: support must be in [1e-4, 1), got $support")
    requireColumns(df, Seq(keyCol), "detectHotKeys")
    df.select(keyCol).stat.freqItems(Seq(keyCol), support)
      .first().getSeq[Any](0).filter(_ != null).toSeq
  }

  /** The session's broadcast budget in bytes,
    * `spark.sql.autoBroadcastJoinThreshold`; `<= 0` (broadcasts off, or
    * an unreadable value) means no budget. */
  private[graft] def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long =
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim)
    catch { case _: Exception => -1L }

  /** Whether `df` may be held in one place — a broadcast, a driver
    * collect or one aggregation buffer — within the session's
    * [[broadcastBudget]]: the one rule behind every small-input route.
    * With `rowBytes <= 0` the optimized plan's size statistic decides
    * (exact on a fenced frame) and no job runs. With `rowBytes > 0`
    * each row weighs `rowBytes` and a LIMIT-bounded count decides:
    * `limit(max + 1)` caps every task at max + 1 rows, so a 100 TB
    * frame stops each scan task after its first row groups instead of
    * paying a full pass to pick a route (min(n, max + 1) <= max iff
    * n <= max). A row bound at or above Int.MaxValue cannot be a limit
    * and takes the exact count instead of a clipped one that could
    * route a 2B+-row frame into one place. A budget `<= 0` answers
    * false and runs no job. */
  private[graft] def fitsBroadcastBudget(df: DataFrame, rowBytes: Long = 0L): Boolean = {
    val budget = broadcastBudget(df.sparkSession)
    if (budget <= 0) false
    else if (rowBytes <= 0) df.queryExecution.optimizedPlan.stats.sizeInBytes <= budget
    else {
      val maxRows = budget / rowBytes
      val n = if (maxRows >= Int.MaxValue) df.count() else df.limit(maxRows.toInt + 1).count()
      n <= maxRows
    }
  }

  /** True when Catalyst would broadcast `right` in a plain equi-join:
    * its estimated size fits the session's broadcast budget and no user
    * hint pins a shuffle strategy on it. No job is run. */
  private def broadcastWouldWin(right: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    fitsBroadcastBudget(right) && !right.queryExecution.analyzed.exists {
      case h: ResolvedHint => h.hints.strategy.exists(_ != BROADCAST)
      case _ => false
    }
  }

  /** #34 Dictionary recode with passthrough for unmapped keys — a literal
    * map lookup + coalesce, no shuffle, no UDF.
    * Reference: rdsa_utils/helpers/pyspark.py:1553-1601.
    */
  def mapColumnValues(
      df: DataFrame,
      mapping: Map[String, String],
      inputCol: String,
      outputCol: Option[String] = None): DataFrame =
    mapColumnValuesAny(df, mapping.toMap[Any, Any], inputCol, outputCol)

  /** Generalised recode — the reference accepts any dict (keys/values of
    * any literal-able type), not just strings. Output column type
    * follows the mapping values (falling back to the input column for
    * unmapped keys, like the reference's passthrough). */
  def mapColumnValuesAny(
      df: DataFrame,
      mapping: Map[Any, Any],
      inputCol: String,
      outputCol: Option[String] = None): DataFrame = {
    requireColumns(df, Seq(inputCol), "mapColumnValues")
    val out = outputCol.getOrElse(inputCol)
    val m = map(mapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    df.withColumn(out, coalesce(element_at(m, col(inputCol)), col(inputCol)))
  }

  /** #35 Choose a partition count from the optimizer's size estimate so
    * output files land near `targetFileSizeMb`. Reads plan statistics only
    * — triggers no job; `coalesce` is narrow (no shuffle).
    * Reference: rdsa_utils/helpers/pyspark.py:1604-1695.
    */
  def smartCoalesce(df: DataFrame, targetFileSizeMb: Int = 512): DataFrame = {
    val sizeBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(targetFileSizeMb.toLong * 1024 * 1024)
    val n = ((sizeBytes + target - 1) / target).max(1).min(BigInt(Int.MaxValue))
    // No explicit current-partition cap: coalesce(n) with n >= current is
    // already a no-op, and reading df.rdd just for a count would convert
    // the plan to an RDD (losing reuse) and trigger file listing.
    df.coalesce(n.toInt)
  }

  /** #36 Anti-`isin` filter with explicit null handling (three-valued
    * logic: `NOT x IN (...)` is NULL for null x, so nulls are dropped
    * unless `keepNulls`). Reference: rdsa_utils/helpers/pyspark.py:1698-1791.
    */
  def filterOutValues(
      df: DataFrame,
      column: String,
      valuesToExclude: Seq[Any],
      keepNulls: Boolean = true): DataFrame = {
    if (valuesToExclude.isEmpty)
      throw new IllegalArgumentException(
        s"filterOutValues: values_to_exclude for column '$column' must be non-empty")
    requireColumns(df, Seq(column), "filterOutValues")
    val base = !col(column).isin(valuesToExclude: _*)
    df.filter(if (keepNulls) base || col(column).isNull else base)
  }

  /** #14 Top-1-per-group by date: earliest (ascending) or latest.
    * Window row_number + filter — Spark plans a single shuffle on the
    * group keys. Reference: rdsa_utils/helpers/pyspark.py:455-494.
    */
  def selectFirstObsAppearingInGroup(
      df: DataFrame,
      group: Seq[String],
      dateCol: String,
      ascending: Boolean): DataFrame = {
    requireColumns(df, group :+ dateCol, "selectFirstObsAppearingInGroup")
    val rankCol = Windows.rankNumeric(Seq(dateCol), group, ascending)
    df.withColumn("rank", rankCol).filter(col("rank") === 1).drop("rank")
  }

  /** Normalise an event-time column to session-zoned TimestampType
    * across every physical shape a parquet event table can surface in
    * Spark:
    *
    *   - `LongType` — TIMESTAMP(NANOS) files read under
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (Spark has no
    *     nanosecond timestamp; the legacy knob surfaces raw nanos).
    *     Converted via integer `div 1000` → `timestamp_micros`, the
    *     same ns→µs truncation DuckDB applies reading the file.
    *   - `TimestampNTZType` — `timestamp[us]` parquet with no timezone.
    *     Cast to TimestampType: under a UTC session timezone the wall
    *     clock is reinterpreted as the identical instant, which is what
    *     window aggregation, `withWatermark`, and numeric casts need
    *     (none of them accept NTZ event time).
    *   - `TimestampType` — already the shape downstream wants; no-op.
    *
    * Anything else throws: silently passing an unexpected type through
    * is how a testdata regeneration kills a query family downstream of
    * the read instead of at it.
    */
  def normalizeEventTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    requireColumns(df, Seq(tsCol), "normalizeEventTs")
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` div 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"normalizeEventTs: column `$tsCol` has unsupported type $other " +
          "(expected LongType nanos, TimestampNTZType, or TimestampType)")
    }
  }

  // ---------------------------------------------------------------
  // Bloom-prefiltered joins (extension): key-membership probes ahead
  // of exact semi/anti joins. At 100 TB the left side of a semi join
  // dominates the shuffle; a bloom built over the right key (one
  // narrow pass, only filter BITS return to the driver) lets the left
  // scan drop definite non-members BEFORE any exchange, and the exact
  // join then corrects the bloom's false positives. Negatives need no
  // correction — a bloom has none.
  //
  // ADAPTIVE CROSSOVER (measured, SCALE.md r11/r12 bloom rows): when
  // the right side is broadcast-sized, the plain broadcast semi/anti
  // join is already map-side and the bloom only adds its build job —
  // so both operators route a right key column that fits the session's
  // broadcast budget at 8 bytes a key (one limit-bounded count, cheaper
  // than the bloom build it replaces or sizes) straight to the exact
  // broadcast join. The bloom path is the non-broadcastable regime,
  // where the candidate cut applies to real exchange bytes (16.7×
  // exchange-volume cut at 20M×5%). A budget of −1 takes the bloom
  // path with no routing count.
  //
  // The routing figure is always the ACTUAL right-key row count —
  // never the caller's `expectedItems`, which is a DISTINCT-key bloom
  // sizing hint: a right side with few distinct keys but hundreds of
  // millions of rows must not be force-broadcast on the strength of a
  // hint (ADVICE r16). And the small route broadcasts only the key
  // projection — a semi/anti join needs nothing else, so arbitrarily
  // wide right rows can't blow the broadcast.

  private def bloomOverKey(
      right: DataFrame, rightKey: String,
      fpp: Double, expectedItems: Long): Array[Byte] = {
    val hashed = right.select(xxhash64(col(rightKey)).as("__graft_bk"))
    // sizing: the caller's figure, or one narrow single-column count
    // (the limit-bounded router count cannot size — it is clipped at
    // the crossover). Oversizing is benign (a bigger filter, same
    // exactness); undersizing just raises the false-positive rate the
    // exact join absorbs anyway.
    val expected: Long = math.max(
      if (expectedItems > 0) expectedItems else hashed.count(), 1L)
    graft.functions.BloomFunctions.buildBloomBytes(hashed, "__graft_bk", expected, fpp)
  }

  /** EXACT semi join, bloom-accelerated: rows of `left` whose
    * `leftKey` appears in `right`'s `rightKey`. Plan shape: build a
    * bloom over the right key (narrow aggregate, no shuffle of
    * `right`), probe `left` at the scan with a codegen'd
    * `bloom_might_contain(xxhash64(key))`, then exact-semi-join ONLY
    * the candidates. When the right side is selective, the exchange
    * carries the candidate fraction of `left` instead of all of it;
    * the result is exactly `left SEMI JOIN right` because the exact
    * join removes every bloom false positive.
    *
    * Probes are keyed on `xxhash64(key)` on both sides, so any
    * key type works; an xxhash64 collision can only ADD a candidate
    * (another false positive the exact join removes), never drop one.
    *
    * Measured in the no-broadcast regime (SCALE.md r11 bloom_semi
    * rows: 20M-row left, 5 % selectivity): 1,194,840 of 20M rows
    * through the left exchange — a 16.7× exchange-volume cut — and
    * 1.49 s → 1.08 s warm wall time vs the plain semi join. Against a
    * BROADCASTABLE right side the plain join is already optimal and
    * the bloom would only add its build job (bench sub-0.5 s band).
    *
    * Route: a right side of at most budget / 8 rows, the session's
    * `spark.sql.autoBroadcastJoinThreshold` at 8 bytes a key, decided
    * by one limit-bounded count, takes the plain semi join against a
    * broadcast of the key projection; a larger one takes the bloom. A
    * budget of −1 takes the bloom with no count. */
  def bloomSemiJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame = {
    requireColumns(left, Seq(leftKey), "bloomSemiJoin")
    requireColumns(right, Seq(rightKey), "bloomSemiJoin")
    val rightKeys = right.select(col(rightKey))
    // broadcast regime: the plain semi join is already one map-side
    // hash probe per left row — a bloom can only add its build job
    if (fitsBroadcastBudget(rightKeys, rowBytes = 8L))
      left.join(broadcast(rightKeys), left(leftKey) === rightKeys(rightKey), "left_semi")
    else {
      val bytes = bloomOverKey(right, rightKey, fpp, expectedItems)
      val candidates = left.filter(
        graft.functions.BloomFunctions.bloomMightContain(xxhash64(col(leftKey)), bytes))
      candidates.join(right, candidates(leftKey) === right(rightKey), "left_semi")
    }
  }

  /** EXACT anti join, bloom-accelerated: rows of `left` whose
    * `leftKey` does NOT appear in `right`. Bloom misses are
    * DEFINITIVE non-members and pass through with zero join work;
    * only the hit fraction goes through the exact anti join. The two
    * branches each scan `left` (columnar scans with pushdown are
    * cheap; the wide exchange the plain anti join would pay on all of
    * `left` is not), and their union is exactly `left ANTI JOIN
    * right`. NULL left keys never match an equi-join, so they are
    * routed straight to the output like the plain anti join does.
    * Routed as [[bloomSemiJoin]]: at most budget / 8 right rows take
    * the plain anti join against a broadcast of the key projection. */
  def bloomAntiJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame = {
    requireColumns(left, Seq(leftKey), "bloomAntiJoin")
    requireColumns(right, Seq(rightKey), "bloomAntiJoin")
    val rightKeys = right.select(col(rightKey))
    // broadcast regime: the plain anti join is already map-side
    if (fitsBroadcastBudget(rightKeys, rowBytes = 8L))
      left.join(broadcast(rightKeys), left(leftKey) === rightKeys(rightKey), "left_anti")
    else {
      val bytes = bloomOverKey(right, rightKey, fpp, expectedItems)
      val probe = graft.functions.BloomFunctions
        .bloomMightContain(xxhash64(col(leftKey)), bytes)
      val misses = left.filter(col(leftKey).isNull || !probe)
      val hits = left.filter(col(leftKey).isNotNull && probe)
      misses.unionByName(
        hits.join(right, hits(leftKey) === right(rightKey), "left_anti"))
    }
  }

}

/** Window-spec builders (SURVEY.md §2.7). */
object Windows {
  import org.apache.spark.sql.expressions.WindowSpec

  /** #10 Build a WindowSpec from optional partition/order columns; with
    * neither, an unbounded whole-frame window.
    * Reference: rdsa_utils/helpers/pyspark.py:283-326.
    */
  def getWindowSpec(
      partitionCols: Seq[String] = Nil,
      orderCols: Seq[String] = Nil): WindowSpec =
    (partitionCols.nonEmpty, orderCols.nonEmpty) match {
      case (true, true)  => Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
      case (true, false) => Window.partitionBy(partitionCols.map(col): _*)
      case (false, true) => Window.orderBy(orderCols.map(col): _*)
      case (false, false) =>
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    }

  /** #11 Unique per-row rank (row_number) within group; descending mode
    * restricted to a single numeric column, matching the reference's
    * validation. Reference: rdsa_utils/helpers/pyspark.py:329-369.
    */
  def rankNumeric(
      numeric: Seq[String],
      group: Seq[String],
      ascending: Boolean = false): Column = {
    val ordering =
      if (ascending) numeric.map(col)
      else {
        if (numeric.size != 1)
          throw new IllegalArgumentException(
            "rankNumeric: descending ordering requires a single numeric column")
        numeric.map(c => col(c).desc)
      }
    row_number().over(Window.partitionBy(group.map(col): _*).orderBy(ordering: _*))
  }

  /** #12 Grouped median via percentile_approx over a partition window
    * (approx by design, matching the reference).
    * Reference: rdsa_utils/helpers/pyspark.py:372-393.
    */
  def calcMedianPrice(groups: Seq[String], priceCol: String = "price"): Column =
    percentile_approx(col(priceCol), lit(0.5), lit(10000))
      .over(Window.partitionBy(groups.map(col): _*))

  // §2.7 analytic functions over the same WindowSpec builder — absent
  // from the reference (no lead/lag/ntile) but part of the window
  // family users expect; exposed through getWindowSpec for consistency.

  def leadOver(c: Column, offset: Int,
      partitionCols: Seq[String], orderCols: Seq[String]): Column =
    lead(c, offset).over(getWindowSpec(partitionCols, orderCols))

  def lagOver(c: Column, offset: Int,
      partitionCols: Seq[String], orderCols: Seq[String]): Column =
    lag(c, offset).over(getWindowSpec(partitionCols, orderCols))

  def ntileOver(n: Int,
      partitionCols: Seq[String], orderCols: Seq[String]): Column =
    ntile(n).over(getWindowSpec(partitionCols, orderCols))
}
