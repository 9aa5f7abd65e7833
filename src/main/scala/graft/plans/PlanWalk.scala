package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Traversal over the FINAL executed plan that AQE actually ran (r18).
  *
  * `executedPlan.foreach` does NOT descend into `AdaptiveSparkPlanExec`
  * (its `children` is Nil — the adaptively executed tree hangs off
  * `executedPlan`), so any audit written against the wrapper silently
  * sees an EMPTY plan under AQE. That is how round 17 shipped a "zero
  * partitionless WindowExec in any registered query" claim while the
  * driver's bench log filled with `WindowExec: No Partition Defined`
  * warnings — the audit was blind, not the plans clean. Every plan-shape
  * audit (`Inspect plan`, PlanAuditSpec) walks through this instead.
  */
object PlanWalk {

  /** Every operator of the final adaptive plan, including query stages,
    * reused exchanges, and subquery plans (after the query has run, so
    * AQE has settled).
    */
  def finalOperators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalOperators(a.executedPlan)
    case s: QueryStageExec => s +: finalOperators(s.plan)
    case r: ReusedExchangeExec => r +: finalOperators(r.child)
    case other =>
      other +:
        (other.children.flatMap(finalOperators) ++
          other.subqueries.flatMap(finalOperators))
  }

  /** Partitionless window operators (`WindowExec` /
    * `WindowGroupLimitExec` with an empty partitionSpec — the "Moving
    * all data to a single partition" shape) in the final plan.
    */
  def globalWindows(p: SparkPlan): Seq[SparkPlan] =
    finalOperators(p).filter {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }
}
