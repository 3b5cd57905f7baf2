package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed-plan scale audit (VERDICT r9 ask #3): a
  * [[QueryExecutionListener]] that runs the three ScaleGuard shape
  * rules ([[ScaleGuard.rules]]: unpartitioned windows over data-sized
  * relations, data-sized broadcast HINTS, and cartesian-class joins
  * with both sides data-sized) on EVERY plan the session executes,
  * not just the plan a query function returns.
  *
  * Why it exists: the test suite's every-query sweep walks the
  * RETURNED plan, but iterative query bodies (the CC label loop, BFS,
  * PageRank/HITS) execute their own internal plans through eager
  * actions — `localCheckpoint()`, `count()`, `isEmpty` — that the
  * sweep structurally never sees; VERDICT r9 finding #1's
  * loop-internal broadcast hints were invisible to it. Dataset actions
  * route through `withAction`, which notifies the session's
  * `ExecutionListenerManager`, so every such internal plan lands here.
  *
  * The listener ACCUMULATES violations instead of throwing: listener
  * exceptions are swallowed by the bus, so enforcement is a post-sweep
  * assertion — Verify/Bench install one per session and fail loudly at
  * the end; the executed-plan specs drain it per query. The bus is
  * async: call [[PlanAudit.flush]] (listener-bus drain) before reading
  * [[violations]].
  *
  * Audit-of-the-audit (VERDICT r10 ask #2): the audit must never fail
  * or slow the query it observes, but a failure INSIDE a shape check —
  * say a Spark-upgrade pattern mismatch throwing in the lineage trace
  * — previously vanished into a blanket catch, silently disarming the
  * safety net while Verify kept reporting "0 violations". Check
  * failures now land in a separate [[errors]] queue (NonFatal only —
  * an OOM/VM error must still propagate) and Verify/Bench assert it
  * empty in the same post-sweep that asserts zero violations, so an
  * audit-internal failure fails the run exactly like a violation
  * would. The checks are injectable so `PlanAuditSpec` can red-test
  * the error path with a throwing predicate. */
class PlanAudit(
    checks: Seq[(String, QueryExecution => Seq[String])] =
      PlanAudit.defaultChecks) extends QueryExecutionListener {
  private val found = new ConcurrentLinkedQueue[String]()
  private val checkErrors = new ConcurrentLinkedQueue[String]()

  private def check(funcName: String, qe: QueryExecution): Unit =
    checks.foreach { case (kind, f) =>
      try f(qe).foreach(msg => found.add(s"[$funcName] $msg"))
      catch { case NonFatal(e) =>
        checkErrors.add(s"[audit-error][$kind][$funcName] " +
          s"${e.getClass.getName}: ${e.getMessage}")
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = check(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = check(funcName, qe)

  def violations: Seq[String] = {
    import scala.jdk.CollectionConverters._
    found.asScala.toSeq
  }

  /** Failures of the audit's own checks — a non-empty list means some
    * executed plans were NOT audited; treat it as seriously as a
    * violation (the post-sweep assertions in Verify/Bench do). */
  def errors: Seq[String] = {
    import scala.jdk.CollectionConverters._
    checkErrors.asScala.toSeq
  }

  /** Read-and-clear, for per-query spec loops. */
  def drain(): Seq[String] = {
    val v = violations
    found.clear()
    v
  }

  /** Read-and-clear the audit-internal error queue. */
  def drainErrors(): Seq[String] = {
    val e = errors
    checkErrors.clear()
    e
  }
}

object PlanAudit {
  /** The production shape checks: [[ScaleGuard.rules]] over each
    * executed plan's optimized logical plan, so the listener can never
    * drift from the plan-time guard or the returned-plan sweep. */
  val defaultChecks: Seq[(String, QueryExecution => Seq[String])] =
    ScaleGuard.rules.map { case (kind, rule) =>
      kind -> ((qe: QueryExecution) => rule(qe.optimizedPlan).map(p =>
        s"$kind rule violated by:\n${p.treeString}"))
    }

  def install(spark: SparkSession): PlanAudit = {
    val l = new PlanAudit
    spark.listenerManager.register(l)
    l
  }

  /** Drain the async listener bus so every callback for completed
    * actions has been delivered before violations are read. */
  def flush(spark: SparkSession): Unit =
    org.apache.spark.GraftListenerBusBridge.flush(spark.sparkContext)
}
