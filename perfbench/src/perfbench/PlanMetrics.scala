package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Counts read from the SQL metrics of an executed plan. */
object PlanMetrics {

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other.children.iterator.flatMap(nodes)
  })

  /** Candidate pairs `Dedup.minHashNearDuplicates` verified, after
    * `df` (its result) has run: the rows entering the Jaccard check,
    * i.e. the output of the join that attaches the first side's shingle
    * hashes. The check is either a filter above the second payload join
    * or, when the optimiser pushes it down, that join's condition.
    * -1 when the plan has neither. */
  def candidatePairs(df: DataFrame): Long = {
    def jaccard(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.references.exists(a => a.name == "hs_b" || a.name == "jaccard")
    def joinRows(p: SparkPlan) =
      p.metrics.get("numOutputRows").map(_.value)
    nodes(df.queryExecution.executedPlan).collectFirst {
      case f: FilterExec if jaccard(f.condition) =>
        nodes(f).collectFirst { case j: BaseJoinExec => j }.flatMap(joinRows)
      case j: BaseJoinExec if j.condition.exists(jaccard) =>
        nodes(j).drop(1).collectFirst { case k: BaseJoinExec => k }.flatMap(joinRows)
    }.flatten.getOrElse(-1L)
  }

  /** Bytes of the files the plan's file scans read. */
  def scanBytes(plan: SparkPlan): Long =
    nodes(plan).flatMap(_.metrics.get("filesSize")).map(_.value).sum
}
