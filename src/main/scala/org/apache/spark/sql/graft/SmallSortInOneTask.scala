package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input is already
  * materialized and small sorts in one task. It replaces the range
  * exchange that `EnsureRequirements` put under the sort with
  * `CoalesceExec(1)`, which saves the range partitioner's sampling job
  * and the exchange's map stage.
  *
  * It fires only when the exchange's input is bounded by what is already
  * on disk:
  *  - every leaf below the exchange is a materialized shuffle stage, or a
  *    materialized broadcast stage on the build side of a left-semi or
  *    left-anti join;
  *  - the shuffle stages' map output totals at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`;
  *  - every operator in between cannot add rows (project, filter,
  *    aggregate, local sort, window, and those semi/anti joins).
  *
  * Safe: `CoalesceExec(1)` reports `SinglePartition`, which satisfies the
  * sort's ordered distribution, so the same rows come out in the same
  * total order. Rows with equal keys come in child-partition order, an
  * order a range reducer may also read them in.
  *
  * Scale-neutral: AQE coalesces an exchange whose input fits the advisory
  * size into one partition anyway, so the sort ran in one task before
  * too. Above that size, over a join that can add rows, over a generator,
  * or under a user's `repartitionByRange` (not an `ENSURE_REQUIREMENTS`
  * exchange), the plan is left alone. With AQE off the rule never runs.
  */
object SmallSortInOneTask extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true, e: ShuffleExchangeExec, _)
        if e.shuffleOrigin == ENSURE_REQUIREMENTS && e.outputPartitioning.isInstanceOf[RangePartitioning]
          && inputBytes(e.child).exists(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) =>
      s.withNewChildren(Seq(CoalesceExec(1, e.child)))
  }

  /** Map-output bytes of the shuffle stages under `p`, or None when a leaf
    * is not a materialized stage or an operator on the way could add rows.
    */
  private def inputBytes(p: SparkPlan): Option[Long] = p match {
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      Some(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L))
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec
        | _: WindowGroupLimitExec => inputBytes(p.children.head)
    case s: SortExec if !s.global => inputBytes(s.child)
    case j: BroadcastHashJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti =>
      j.right match {
        case b: BroadcastQueryStageExec if b.isMaterialized => inputBytes(j.left)
        case _ => None
      }
    case _ => None
  }
}
