package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** The test suite's one sweep over `SparkEntry.queries` at sf0.001. It
  * builds each query once, runs all three [[graft.plans.ScaleGuard.rules]]
  * over its optimized plan, then counts it. The result is kept for the
  * life of the test JVM, so `SmokeSpec` (every query plans and returns
  * rows) and the three shape locks (`PlanShapeSpec`, `BroadcastShapeSpec`,
  * `NestedLoopShapeSpec`, one rule each) read one sweep, whichever of
  * them runs first. Loop-internal plans, which a returned plan never
  * shows, are audited by `PlanAudit` in Verify and Bench. */
object QuerySweep {
  val d = "/root/testdata/sf0.001"

  /** What the sweep saw: queries that failed to plan, queries with an
    * empty result, and (rule, query) -> offending subtrees. */
  final case class Result(
      planFailures: Seq[(String, Throwable)],
      empty: Seq[String],
      offenders: Map[(String, String), Seq[String]])

  /** (rule, query) -> reason. Empty today: every unpartitioned window
    * sits above a bounded relation (histogram idiom, q93/q223), every
    * broadcast hint ships a limit-capped, bounded-aggregate, id-prefix
    * or dim-scan side (q383's hubnessAudit pattern), and every non-equi
    * join has such a side (q45's exactAllPairsCosine pattern). Add an
    * entry ONLY with a scaladoc'd boundedness argument; an entry that
    * stops matching an offender fails its rule's lock too. */
  val whitelist: Map[(String, String), String] = Map()

  private var cached: Option[Result] = None

  def apply(spark: SparkSession): Result = synchronized {
    cached.getOrElse { val r = run(spark); cached = Some(r); r }
  }

  private def run(spark: SparkSession): Result = {
    val failures = Seq.newBuilder[(String, Throwable)]
    val empty = Seq.newBuilder[String]
    val offenders = Map.newBuilder[(String, String), Seq[String]]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, d)
        val plan = df.queryExecution.optimizedPlan
        graft.plans.ScaleGuard.rules.foreach { case (rule, check) =>
          val bad = check(plan)
          if (bad.nonEmpty) offenders += (rule, name) -> bad.map(_.treeString)
        }
        if (df.count() == 0) empty += name
      } catch {
        case e: Throwable => failures += name -> e
      }
    }
    Result(failures.result(), empty.result(), offenders.result())
  }

  /** Every query planned and ran; a query that could not is checked by
    * no rule, so each lock fails on it too. */
  def assertAllRan(r: Result): Unit =
    assert(r.planFailures.isEmpty,
      s"queries failed at sf0.001: " +
        r.planFailures.map { case (n, e) => s"$n: $e" }.mkString("\n"))

  /** One rule's lock: no offender outside the whitelist, and no
    * whitelist entry of this rule that no longer matches an offender. */
  def assertRuleHolds(spark: SparkSession, rule: String, fix: String): Unit = {
    require(graft.plans.ScaleGuard.rules.exists(_._1 == rule), s"unknown rule $rule")
    val r = apply(spark)
    assertAllRan(r)
    val found = r.offenders.keySet.filter(_._1 == rule)
    val allowed = whitelist.keySet.filter(_._1 == rule)
    val unexpected = (found -- allowed).toSeq.sorted
    val stale = (allowed -- found).toSeq.sorted
    assert(unexpected.isEmpty,
      s"$rule rule violated by: ${unexpected.map(_._2).mkString(", ")} " +
        s"— $fix, or whitelist with a boundedness argument:\n" +
        unexpected.flatMap(r.offenders).mkString("\n"))
    assert(stale.isEmpty,
      s"stale whitelist entries (no longer offenders): ${stale.mkString(", ")}")
  }
}
