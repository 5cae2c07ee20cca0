package graft.checks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.DataFrameOps.requireColumns

/** Validation / probe operators (SURVEY.md §2.1 #22-24, #37-39).
  * The collecting ones are eager by design — they exist to pull small
  * summaries to the driver; the heavy lifting (conditional counts,
  * distincts) happens distributed as hash aggregates.
  */
object Checks {

  /** #22 Per-column null counts. One distributed job producing a single
    * row (partial + final hash agg — no shuffle of data rows).
    * Reference: rdsa_utils/helpers/pyspark.py:1054-1091.
    */
  def countNullsDf(df: DataFrame, subsetCols: Seq[String] = Nil): DataFrame = {
    val cols = if (subsetCols.nonEmpty) subsetCols else df.columns.toSeq
    requireColumns(df, cols, "countNulls")
    df.select(cols.map(c => count(when(col(c).isNull, c)).as(c)): _*)
  }

  /** Driver-side variant: Map(column -> null count). Eager. */
  def countNulls(df: DataFrame, subsetCols: Seq[String] = Nil): Map[String, Long] = {
    val result = countNullsDf(df, subsetCols).collect()(0)
    result.schema.fieldNames.map(n => n -> result.getAs[Long](n)).toMap
  }

  /** #23 Scalar sum/max/min/mean of one column — eager, whitelist
    * enforced like the reference.
    * Reference: rdsa_utils/helpers/pyspark.py:1094-1125.
    */
  def aggregateCol(df: DataFrame, column: String, operation: String): Double = {
    val allowed = Set("sum", "max", "min", "mean")
    if (!allowed.contains(operation))
      throw new IllegalArgumentException(
        s"aggregateCol: operation '$operation' not in ${allowed.mkString(", ")}")
    requireColumns(df, Seq(column), "aggregateCol")
    val c = operation match {
      case "sum"  => sum(col(column))
      case "max"  => max(col(column))
      case "min"  => min(col(column))
      case "mean" => avg(col(column))
    }
    df.agg(c.cast("double")).collect()(0).getDouble(0)
  }

  /** #24 Sorted distinct values of a column, nulls last, optional
    * removal — eager (distinct runs distributed; sort happens on the
    * collected driver-side list like the reference).
    * Reference: rdsa_utils/helpers/pyspark.py:1128-1171.
    */
  def getUnique(df: DataFrame, column: String, removeNull: Boolean = false): List[Any] = {
    requireColumns(df, Seq(column), "getUnique")
    val values = df.select(col(column)).distinct().collect().map(_.get(0)).toList
    val (nulls, nonNull) = values.partition(_ == null)
    // Natural-type ordering (numbers numerically, not lexicographically),
    // matching the reference's native-value sort.
    val sorted = nonNull.sortWith(compareNatural(_, _) < 0)
    if (removeNull) sorted else sorted ++ nulls
  }

  private def compareNatural(a: Any, b: Any): Int = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => a.toString.compareTo(b.toString)
  }

  /** #37 Boolean null-free check on a column — eager but short-circuits
    * via limit(1). Reference: rdsa_utils/helpers/pyspark.py:1794-1816.
    */
  def hasNoNulls(df: DataFrame, column: String): Boolean = {
    requireColumns(df, Seq(column), "hasNoNulls")
    df.filter(col(column).isNull).limit(1).isEmpty
  }

  /** #38 Assert every year in [startYear, endYear] appears in `yearCol`;
    * throws listing the sorted missing years.
    * Reference: rdsa_utils/helpers/pyspark.py:1819-1915.
    */
  def checkYearRange(df: DataFrame, startYear: Int, endYear: Int, yearCol: String): Unit = {
    requireColumns(df, Seq(yearCol), "checkYearRange")
    val present = df
      .select(col(yearCol).cast("int"))
      .distinct()
      .collect()
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Int]))
      .toSet
    val missing = (startYear to endYear).filterNot(present.contains)
    if (missing.nonEmpty)
      throw new AssertionError(
        s"checkYearRange: years missing from $yearCol: ${missing.sorted.mkString("[", ", ", "]")}")
  }

  /** #39 Assert two DataFrames share identical distinct value sets on a
    * column; error reports both asymmetric differences.
    * Reference: rdsa_utils/helpers/pyspark.py:1918-2021.
    */
  def assertSameDistinctValues(df1: DataFrame, df2: DataFrame, colName: String): Unit = {
    requireColumns(df1, Seq(colName), "assertSameDistinctValues(df1)")
    requireColumns(df2, Seq(colName), "assertSameDistinctValues(df2)")
    def distinctSet(df: DataFrame): Set[Any] =
      df.select(col(colName)).distinct().collect().map(_.get(0)).toSet
    val (s1, s2) = (distinctSet(df1), distinctSet(df2))
    if (s1 != s2)
      throw new AssertionError(
        s"assertSameDistinctValues on '$colName': " +
          s"in df1 not df2: ${(s1 -- s2).mkString("[", ", ", "]")}; " +
          s"in df2 not df1: ${(s2 -- s1).mkString("[", ", ", "]")}")
  }
}
