package graft

/** Repo-wide scale audit-lock: no registered query's optimized plan
  * holds a Window with an empty (or constant) partitionSpec over a
  * relation that [[graft.plans.ScaleGuard.boundedLogical]] does not
  * prove bounded, because an unpartitioned row-level window is a
  * single-partition global sort at 100 TB. Checked by the window rule
  * of [[graft.plans.ScaleGuard.rules]] over [[QuerySweep]]'s one build
  * of each query; offenders must be whitelisted there with a reason,
  * and a stale entry fails this lock too. The rule's red/green cases
  * live in `ScaleGuardSpec`. */
class PlanShapeSpec extends SparkSpec {
  test("no query windows an unpartitioned row-level relation") {
    QuerySweep.assertRuleHolds(spark, "window",
      "fix the plan (histogram idiom, q93/q223)")
  }
}
