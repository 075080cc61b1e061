package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project, ReturnAnswer}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.ExecutedCommandExec

/** graft's one planner strategy. It runs before Spark's own strategies
  * and plans three shapes:
  *
  *  - the standalone lifecycle statement `SELECT lifecycle_fn(...)` (a
  *    `Project` over `OneRowRelation` holding a [[LifecycleCall]]) as the
  *    driver-side [[RunLifecycleCommand]] — at planning, after every
  *    optimizer rule, so no rule ever sees the command;
  *  - top-k by code distance over a preloaded store as
  *    [[PreloadedTopKExec]], wherever `SpecialLimits` would otherwise plan
  *    `TakeOrderedAndProject`, including the query root;
  *  - any other read of a preloaded store as [[PreloadedCodesExec]].
  *
  * Registered by `GraftTableFunctions.register` (live session),
  * `GraftTableFunctions.inject` (session extension) and
  * `Quantizer.preload` (so any session that holds a preloaded store can
  * plan it).
  */
object GraftStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) => PreloadedTopKExec.plan(root).toSeq
    case Project(projectList, _: OneRowRelation)
        if projectList.exists(_.exists(_.isInstanceOf[LifecycleCall])) =>
      ExecutedCommandExec(RunLifecycleCommand(projectList)) :: Nil
    case p: PreloadedCodes => PreloadedCodesExec(p.output, p.blocks) :: Nil
    case other => PreloadedTopKExec.plan(other).toSeq
  }

  /** Adds the strategy to a live session unless it already plans with it. */
  def install(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(GraftStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ GraftStrategy
}
