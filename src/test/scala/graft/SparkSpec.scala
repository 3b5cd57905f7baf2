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
}

object SparkSpec {
  /** The test session's only runtime departures from the engine conf:
    * 4 shuffle partitions for test speed, and the plan-time scale guard
    * off, because `ScaleGuardSpec` assumes it is off unless it switches
    * it on; the shape rules still hold over every query through
    * the [[QuerySweep]] locks. */
  val deltas: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    graft.plans.ScaleGuard.EnabledKey -> "false")
}
