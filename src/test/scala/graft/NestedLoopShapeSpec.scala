package graft

/** Repo-wide scale audit-lock: every join with no equi-join key in a
  * registered query's optimized plan — a theta/range or bare cross
  * join, which can only run as CartesianProduct / nested loop,
  * O(|L|·|R|) — must have at least one provably BOUNDED side. This
  * covers planner-chosen nested loops, which the broadcast-hint rule
  * exempts by design. Checked by the cartesian rule of
  * [[graft.plans.ScaleGuard.rules]] over [[QuerySweep]]'s one build of
  * each query, with the same whitelist discipline as [[PlanShapeSpec]].
  * The rule's red/green cases (q45's pre-fix shape) live in
  * `ScaleGuardSpec`. */
class NestedLoopShapeSpec extends SparkSpec {
  test("no query plans an unbounded cartesian-class join") {
    QuerySweep.assertRuleHolds(spark, "cartesian",
      "bound one side (limit cap / bounded agg / id-prefix sample, q45's " +
        "exactAllPairsCosine pattern) or bucket the join on an equi key")
  }
}
