package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Column <-> catalyst Expression bridge. Spark 4.x made this interop
  * package-private (`org.apache.spark.sql.classic.ExpressionUtils`), so the
  * engine exposes it from inside the org.apache.spark.sql namespace — the
  * standard pattern for libraries shipping custom Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The reliable-checkpoint file of a Dataset returned by
    * `Dataset.checkpoint(...)`, once an action has materialized it.
    * `Dataset.checkpoint` wraps the checkpointed internal RDD in a
    * `LogicalRDD`, so true checkpoint OWNERSHIP is readable from the plan —
    * the race-free alternative to diffing the (SparkContext-global)
    * checkpoint directory's listing, which adopts any concurrent job's
    * dirs created in the same window.
    */
  def checkpointFile(df: org.apache.spark.sql.Dataset[_]): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
    }.flatten

  /** Every node of the FINAL executed physical plan, with the adaptive
    * wrappers unwrapped: `AdaptiveSparkPlanExec` hides its re-optimized
    * tree from `TreeNode.collect` (the final plan is not among its
    * children), and materialized stages wrap their exchanges in
    * `QueryStageExec`. Run an action on the Dataset FIRST — before
    * execution the adaptive plan is still the initial one. This is what
    * lets plan-shape tests assert the same invariants AQE-ON that they pin
    * AQE-OFF (round-5 verdict: AQE re-plans exchanges, so an AQE-off pin
    * can miss exactly the divergence it exists to prevent).
    */
  def finalPlanNodes(df: org.apache.spark.sql.Dataset[_]): Seq[SparkPlan] =
    finalPlanNodes(df.queryExecution.executedPlan)

  /** The same walk from an executed plan, e.g. the `QueryExecution` a
    * `QueryExecutionListener` receives after the query ran.
    */
  def finalPlanNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => finalPlanNodes(a.executedPlan)
    case q: QueryStageExec        => q +: finalPlanNodes(q.plan)
    case other                    => other +: other.children.flatMap(c => finalPlanNodes(c))
  }
}
