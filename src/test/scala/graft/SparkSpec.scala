package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazy local session per suite (spark_guide.md §ScalaTest), built
  * through the engine's one factory, `Bench.session`, with `local[4]`.
  * It differs from the engine session in exactly [[SparkSpec.deltas]]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = Bench.session("4")
    SparkSpec.deltas.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Every physical node in an executed plan, descending through AQE
    * wrappers and materialized query stages (plain `.collect` on a
    * SparkPlan stops at stage boundaries, hiding most of the plan). */
  def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: allPlanNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allPlanNodes(q.plan)
    case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
      p +: allPlanNodes(r.child)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      p +: allPlanNodes(r.child)
    case _ => p +: p.children.flatMap(allPlanNodes)
  }

  /** Unpartitioned-window scale rule (VERDICT r5 #1/#7, sharpened per
    * VERDICT r6 #3) and its boundedness core. The predicates themselves
    * live in PRODUCTION code — [[graft.plans.ScaleGuard]], which also
    * enforces the cartesian-class rule at plan time in every
    * Verify/Bench session — these are thin delegates so the three
    * audit-lock suites and the engine can never drift apart. */
  def boundedRelation(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    graft.plans.ScaleGuard.boundedRelation(p)

  def boundedLogical(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    graft.plans.ScaleGuard.boundedLogical(p)

  def badGlobalWindows(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.types.BooleanType
    // (b) constant / boolean-only partitioning is "effectively empty"
    def effectivelyEmpty(ps: Seq[Expression]): Boolean =
      ps.forall(e => e.foldable || e.dataType == BooleanType)
    allPlanNodes(plan).collect {
      case w: WindowExec
          if effectivelyEmpty(w.partitionSpec) && !boundedRelation(w.child) => w
    }
  }

  /** Data-sized-broadcast scale rule (VERDICT r7 #2, the window rule's
    * twin): a join side carrying an explicit BROADCAST hint must be a
    * provably BOUNDED relation (same predicate as the window audit),
    * because a `broadcast()` hint FORCES the ship-to-every-executor
    * plan at ANY scale — q383's pre-fix shape (and an O(N²) nested
    * loop when the join is non-equi). Planner-chosen broadcasts are
    * deliberately exempt: they are stats-driven and AQE re-plans them
    * to shuffle joins when the size estimate grows, so only the hint
    * pins a data-sized broadcast at 100 TB. Walks the optimized
    * logical plan, where hints survive on the Join nodes. */
  def badBroadcasts(qe: org.apache.spark.sql.execution.QueryExecution)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    graft.plans.ScaleGuard.broadcastHintViolations(qe.optimizedPlan)

  /** Cartesian-class-join scale rule (VERDICT r8 #1, closing the hole
    * [[badBroadcasts]] structurally cannot see): a logical Join with NO
    * equi-join key — a theta/range join or a bare cross join — can only
    * execute as CartesianProduct or a nested loop, O(|L|·|R|) predicate
    * evaluations. That is fine when at least ONE side is provably
    * BOUNDED (the q383 shape: a capped query set streaming against the
    * corpus is O(N·cap)), and a cluster-killer when BOTH sides are
    * data-sized (q45's pre-fix all-pairs shape) — invisible to the
    * broadcast audit because planner-CHOSEN nested loops carry no hint.
    * Walks the optimized logical plan (post pushdown/pruning, where
    * join conditions are in final conjunct form). */
  def badNestedLoops(qe: org.apache.spark.sql.execution.QueryExecution)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.Join] =
    graft.plans.ScaleGuard.cartesianViolations(qe.optimizedPlan)

  /** Assert form of [[badGlobalWindows]] for single-query specs. Call
    * after an action so the AQE final plan is in place. */
  def assertNoRowLevelGlobalWindow(
      df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val bad = badGlobalWindows(df.queryExecution.executedPlan)
    assert(bad.isEmpty,
      s"$name has ${bad.size} unpartitioned row-level WindowExec(s):\n" +
        bad.map(_.treeString).mkString("\n"))
  }
}

object SparkSpec {
  /** The test session's only runtime departures from the engine conf:
    * 4 shuffle partitions for test speed, and the plan-time scale guard
    * off, because `ScaleGuardSpec` and the shape-lock specs assume it is
    * off unless they switch it on. */
  val deltas: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    graft.plans.ScaleGuard.EnabledKey -> "false")
}
