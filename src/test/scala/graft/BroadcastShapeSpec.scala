package graft

/** Repo-wide scale audit-lock: every explicit broadcast hint in a
  * registered query's optimized plan must ship a provably BOUNDED
  * relation — a global limit / top-k cut, a bounded-domain aggregate,
  * a literal id-prefix sample or a dim-table scan — never a data-sized
  * one, which is an executor OOM (and an O(N²) nested loop when it
  * feeds a non-equi join) at 100 TB. Checked by the broadcast-hint
  * rule of [[graft.plans.ScaleGuard.rules]] over [[QuerySweep]]'s one
  * build of each query, with the same whitelist discipline as
  * [[PlanShapeSpec]]. The rule's red/green cases (q383's pre-fix shape,
  * the rename loophole, `broadcastIfSmall`) live in `ScaleGuardSpec`. */
class BroadcastShapeSpec extends SparkSpec {
  test("no query broadcasts a data-sized relation") {
    QuerySweep.assertRuleHolds(spark, "broadcast-hint",
      "bound the broadcast side (limit cap / bounded agg / id-prefix " +
        "sample, q383's hubnessAudit pattern)")
  }
}
