package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, Join,
  Limit, LogicalPlan, Project, RebalancePartitions, Repartition, RepartitionByExpression,
  SetOperation, Sort, Window}

/** A small query planned as ONE partition, with no exchange.
  *
  * At test scale a catalog query scans one file split, and AQE merges
  * each of its shuffles into one reducer anyway, so its shuffles buy
  * no parallelism: each costs a map-stage job, and a global sort also
  * a range-sampling job that runs its input stage a second time. The
  * rewrite puts `Repartition(1, shuffle = false, _)` (a coalesce to
  * one partition) above every leaf and above every node with more than
  * one child: a join or a union reports unknown partitioning even when
  * each input is one partition. `SinglePartition` then satisfies every
  * aggregate, window, sort and join requirement, and `EnsureRequirements`
  * adds no exchange, so the query runs as one job (plus one per
  * broadcast).
  *
  * The gate reads only the analyzed plan: no job and no optimizer
  * pass. It fires when
  *   - the query is not streaming;
  *   - it holds no shuffle repartition (`Repartition` with `shuffle`,
  *     `RepartitionByExpression`, `RebalancePartitions`): those are the
  *     program's explicit parallelism choices, such as the readers'
  *     scan spread; a coalesce is allowed;
  *   - every node's `stats.sizeInBytes` is at most
  *     `spark.sql.files.openCostInBytes` (4 MB), the bytes Spark could
  *     scan in the time it takes to open one file. Without CBO a join's
  *     estimate is the product of its inputs, so a join that could fan
  *     out never passes, and no large join lands on one task;
  *   - it would plan an exchange without the rewrite ([[plansExchange]]).
  *     Where it would not, the coalesce removes nothing and only adds
  *     its own cost: `preview_head` (a top-5 over `orders`) read 0.056
  *     → 0.073 s at sf0.1 with it.
  *
  * Gate and rewrite both enter the plans of subquery expressions: an
  * EXISTS becomes a join with its subquery's plan and a scalar subquery
  * runs its own aggregate, so their nodes are sized like the outer
  * query's and get the same coalesce.
  */
object OnePartition {

  /** `df` re-planned as one partition when [[fires]], else `df`. */
  def rewrite(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    if (!fires(plan, df.sparkSession.sessionState.conf.filesOpenCostInBytes)) df
    else GraftSqlBridge.dataFrame(df.sparkSession, plan.transformUpWithSubqueries {
      case p if p.children.size != 1 => Repartition(1, shuffle = false, p)
    })
  }

  def fires(plan: LogicalPlan, bound: Long): Boolean =
    !plan.isStreaming && plansExchange(plan) && plan.collectFirstWithSubqueries {
      case p @ (Repartition(_, true, _) | _: RepartitionByExpression | _: RebalancePartitions) => p
      case p if p.stats.sizeInBytes > bound => p
    }.isEmpty

  /** Whether `plan` holds an operator that needs its input clustered,
    * ordered or gathered across partitions, which Spark meets with an
    * exchange. A global sort under a limit is not one: Spark plans it
    * as a per-partition top-k (`TakeOrderedAndProject`). */
  private def plansExchange(plan: LogicalPlan): Boolean = plan match {
    case Limit(_, Sort(_, true, child, _)) => plansExchange(child)
    case Limit(_, Project(_, Sort(_, true, child, _))) => plansExchange(child)
    case _: Aggregate | _: Window | _: Join | _: Distinct | _: Deduplicate | _: SetOperation |
        Sort(_, true, _, _) => true
    case p => (p.children ++ p.subqueries).exists(plansExchange)
  }
}
