package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{CoGroup, FlatMapGroupsWithState, Generate, LocalRelation, LogicalPlan, MapGroups, MapPartitions, OneRowRelation, Range => LRange, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, CollectLimitExec, FilterExec, GlobalLimitExec, LocalLimitExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, WriteFilesExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** Small results sort in one partition. Almost every query ends in a
  * total `orderBy`, which `EnsureRequirements` plans as a range
  * exchange; before that exchange writes a row, its `RangePartitioner`
  * runs a separate job over the exchange's whole input to sample the
  * range bounds, so the query's last stage runs twice — and for a
  * small result AQE then coalesces the range partitions back into one
  * task anyway.
  *
  * [[rewrite]] touches only the query's RESULT sort: the global
  * `SortExec` reached from the plan root through nothing but project,
  * filter, limit, coalesce and write nodes (Verify writes each result
  * through `coalesce(1)`, so it checks the plan Bench times). When the
  * sort's logical input is estimated at no more than
  * `spark.sql.autoBroadcastJoinThreshold` bytes, its
  * `ENSURE_REQUIREMENTS` range exchange becomes a single-partition
  * exchange: no bounds job, and the child runs once.
  * The exchange is replaced one for one, so no plan gains an exchange,
  * and a user's `repartitionByRange` (another shuffle origin) is never
  * touched. There is no knob of its own: a threshold of −1 turns the
  * rewrite off, as it turns off broadcast joins.
  *
  * The estimate is Spark's size-only one, the same the broadcast
  * choice rests on, restricted so that it never under-counts
  * ([[estimateHolds]]): no row-multiplying operator (`Generate`,
  * Dataset `flatMap`/`mapPartitions`, group maps) between the sort and
  * its leaves, and no leaf of unknown size (a checkpoint `LogicalRDD`,
  * a cache, a connector source). Joins keep Spark's product estimate.
  * Under AQE re-planning, a materialized query stage counts at its
  * measured size, which hides whatever ran below it — so a sort above
  * a post-shuffle aggregate qualifies once the aggregate's input
  * stage has run. Data-sized relations keep range partitioning: at
  * 100 TB no scan estimate is under the threshold.
  *
  * Two hooks cover both planner modes, beside ScaleGuard's: the
  * query-stage-prep rule ([[ResultSortRule]]) runs inside
  * `AdaptiveSparkPlanExec` on the initial plan and on every re-plan;
  * the pre-columnar-transition rule ([[ResultSortColumnarRule]]) runs
  * in the classic preparations chain for a plan carrying no adaptive
  * node.
  */
object ResultSort {

  /** Whether a result sort over `input` may run in one partition. */
  private def fitsOnePartition(input: LogicalPlan, threshold: Long): Boolean =
    threshold >= 0 && estimateHolds(input) &&
      input.stats.sizeInBytes <= threshold

  /** Whether Spark's size estimate of `p` is an upper bound: every
    * path to a leaf crosses no row-multiplying operator and ends in a
    * leaf whose size is known. */
  private def estimateHolds(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.stats.isRuntime || estimateHolds(q.logicalPlan)
    case _: Generate | _: MapPartitions | _: MapGroups | _: CoGroup |
        _: FlatMapGroupsWithState => false
    case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
    case _: LocalRelation | _: OneRowRelation | _: LRange => true
    case leaf if leaf.children.isEmpty => false // unknown size
    case other => other.children.forall(estimateHolds)
  }

  /** The plan with its result sort's range exchange replaced by a
    * single-partition one when the sort's input fits; else `plan`. */
  def rewrite(plan: SparkPlan, threshold: Long): SparkPlan = plan match {
    case s @ SortExec(_, true,
        ex @ ShuffleExchangeExec(_: RangePartitioning, _, ENSURE_REQUIREMENTS, _), _)
        if s.logicalLink.exists {
          case l: Sort => fitsOnePartition(l.child, threshold)
          case _ => false
        } =>
      s.withNewChildren(Seq(ex.copy(outputPartitioning = SinglePartition)))
    case _: ProjectExec | _: FilterExec | _: GlobalLimitExec | _: LocalLimitExec |
        _: CollectLimitExec | _: CoalesceExec | _: WriteFilesExec | _: DataWritingCommandExec |
        _: V2TableWriteExec =>
      plan.withNewChildren(plan.children.map(rewrite(_, threshold)))
    case _ => plan
  }

  private[plans] def threshold(session: SparkSession): Long =
    session.sessionState.conf.autoBroadcastJoinThreshold
}

/** AQE path: the initial plan and every re-plan, after
  * `EnsureRequirements` has placed the range exchange. */
case class ResultSortRule(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    ResultSort.rewrite(plan, ResultSort.threshold(session))
}

/** Classic path: a plan that carries no adaptive node (AQE disabled).
  * Under AQE the prep rule owns the rewrite, and a stage fragment
  * handed to this hook is rooted at its exchange, never at a result
  * sort. */
case class ResultSortColumnarRule(session: SparkSession)
    extends org.apache.spark.sql.execution.ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = {
      val adaptive = plan.exists(p => p.isInstanceOf[AdaptiveSparkPlanExec] ||
        p.isInstanceOf[QueryStageExec])
      if (adaptive) plan else ResultSort.rewrite(plan, ResultSort.threshold(session))
    }
  }
}
