package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.dedup.Dedup
import graft.observability.RunMetricsProbe

/** The bounded-count small-input routes decide from the session's
  * broadcast budget, `spark.sql.autoBroadcastJoinThreshold`, through
  * [[DataFrameOps.fitsBroadcastBudget]]: an input of at most
  * budget / rowBytes rows takes the small route. */
class BroadcastBudgetSpec extends SparkTestBase {
  import spark.implicits._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Rows the tiny budgets below hold. */
  private val maxRows = 3

  private def left = spark.range(100).toDF("k")

  private def evalDocs(n: Int) = (0 until n)
    .map(i => (1000L + i, s"held out passage $i alpha beta")).toDF("id", "text")

  // not a local relation: the optimizer would fold the bloom probe into it
  private def train = spark.range(20).select(col("id"), concat(lit("train doc "),
    col("id").cast("string"), when(col("id") === 4, lit(" held out passage 1")).otherwise(lit("")))
    .as("text"))

  /** Each bounded-count route: its name, the bytes it weighs a row at,
    * the operator over an input of `n` rows, and whether a built frame
    * took the small route. */
  private val routes: Seq[(String, Long, Int => DataFrame, DataFrame => Boolean)] = {
    def executed(df: DataFrame) = df.queryExecution.executedPlan.toString
    def analyzed(df: DataFrame) = df.queryExecution.analyzed.toString
    Seq(
      ("bloomSemiJoin", 8L, n => DataFrameOps.bloomSemiJoin(left,
        spark.range(n).toDF("rk"), "k", "rk", expectedItems = 10),
        df => !executed(df).contains("bloom_might_contain")),
      ("bloomAntiJoin", 8L, n => DataFrameOps.bloomAntiJoin(left,
        spark.range(n).toDF("rk"), "k", "rk", expectedItems = 10),
        df => !executed(df).contains("bloom_might_contain")),
      ("exactQuantiles", 8L, n => Quantiles.exactQuantiles(
        spark.range(n).toDF("v"), "v", Seq(0.5)),
        df => analyzed(df).contains("collect_list")),
      ("exactInterpolatedQuantiles", 8L, n => Quantiles.exactInterpolatedQuantiles(
        spark.range(n).toDF("v"), "v", Seq(0.5)),
        df => analyzed(df).contains("percentile")),
      ("bloomDecontaminate", 1024L, n => Dedup.bloomDecontaminate(
        train, evalDocs(n), "text", "id", n = 3),
        df => !executed(df).contains("bloom_any_contain")))
  }

  test("each bounded-count route is small at budget / rowBytes rows and scale one row over") {
    for ((name, rowBytes, build, small) <- routes)
      withSessionConf(threshold, (maxRows * rowBytes).toString) {
        assert(small(build(maxRows)), s"$name: $maxRows rows must take the small route")
        assert(!small(build(maxRows + 1)), s"$name: ${maxRows + 1} rows must take the scale route")
      }
  }

  test("a budget of -1 takes every scale route and runs no router count job") {
    // AQE off: under AQE each shuffle stage is a job of its own
    withSessionConf("spark.sql.adaptive.enabled", "false") {
      for ((name, rowBytes, build, small) <- routes) {
        def jobs(budget: String) = withSessionConf(threshold, budget) {
          var out: DataFrame = null
          val m = RunMetricsProbe.measureEager(spark) { out = build(maxRows + 1) }
          assert(!small(out), s"$name: budget $budget took the small route")
          m.jobs
        }
        // the same scale route, with and without the count that picked it
        val (counted, uncounted) = (jobs((maxRows * rowBytes).toString), jobs("-1"))
        assert(uncounted == counted - 1,
          s"$name: $uncounted construction jobs under -1, $counted under a tiny budget")
      }
    }
  }

  test("with no row weight the budget reads a fenced frame's exact size, no job") {
    val fenced = Fence(spark.range(10).toDF("id"), "budgetSpec").df
    val bytes = fenced.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(bytes == 10 * 16, "one 16-byte UnsafeRow per single-long row")
    for ((budget, fits) <- Seq(bytes -> true, (bytes - 1) -> false, -1L -> false))
      withSessionConf(threshold, budget.toString) {
        var got = !fits
        val m = RunMetricsProbe.measureEager(spark) { got = DataFrameOps.fitsBroadcastBudget(fenced) }
        assert(got == fits && m.jobs == 0, s"budget $budget: $got after ${m.jobs} jobs")
      }
  }
}
