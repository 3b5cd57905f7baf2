package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.ScaleGuard

/** The scale discipline's one predicate and its three shape rules
  * ([[graft.plans.ScaleGuard.rules]]) on synthetic red/green plans,
  * and the plan-time guard (graft.plans.ScaleGuardRule, injected via
  * GraftExtensions as a query-stage-prep rule, plus the pre-columnar
  * rule): with `spark.graft.scaleGuard.enabled=true` — as the Verify
  * and Bench sessions set it — a cartesian-class physical join with
  * BOTH sides data-sized refuses to execute, while the engine's
  * bounded shapes (q45's capped all-pairs, q383's capped-broadcast
  * hubness scan) run normally. The lock specs hold the same rules
  * over every registered query through [[QuerySweep]]. */
class ScaleGuardSpec extends SparkSpec {
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  private def withGuard[T](body: => T): T = {
    spark.conf.set(ScaleGuard.EnabledKey, "true")
    try body
    finally spark.conf.set(ScaleGuard.EnabledKey, "false")
  }

  /** Did the guard's refusal surface anywhere in the cause chain? */
  private def guardFired(t: Throwable): Boolean =
    t != null && (String.valueOf(t.getMessage).contains("GRAFT_SCALE_GUARD") ||
      guardFired(t.getCause))

  test("an unbounded theta self-join refuses to execute under the guard") {
    val e = io.Tables.embeddings(spark, d)
    val bad = e.select($"vec_id".as("id1"))
      .join(e.select($"vec_id".as("id2")), $"id1" < $"id2")
    withGuard {
      val ex = intercept[Throwable] { bad.count() }
      assert(guardFired(ex), s"expected the scale guard to fire, got: $ex")
    }
    // and without the guard the same plan is allowed (test-scale runs)
    assert(bad.count() > 0)
  }

  test("the guard also fires with AQE DISABLED (ADVICE r9 #2: pre-columnar path)") {
    // injectQueryStagePrepRule runs only inside AdaptiveSparkPlanExec;
    // the ScaleGuardColumnarRule covers the classic preparations chain
    val e = io.Tables.embeddings(spark, d)
    val bad = e.select($"vec_id".as("id1"))
      .join(e.select($"vec_id".as("id2")), $"id1" < $"id2")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withGuard {
      val ex = intercept[Throwable] { bad.count() }
      assert(guardFired(ex), s"guard did not fire with AQE off, got: $ex")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a statically-huge Range is cartesian fuel, not a bounded grid (ADVICE r9 #3)") {
    // range(2^40) would let an opt-in user plan an O(N²) self-join the
    // guard waves through; numElements is statically known on the node
    val big = spark.range(1L << 40)
    assert(!ScaleGuard.boundedLogical(big.queryExecution.optimizedPlan),
      "range(2^40) classified bounded")
    val small = spark.range(1024)
    assert(ScaleGuard.boundedLogical(small.queryExecution.optimizedPlan))
    withGuard {
      // the guard refuses the huge self-join while PLANNING it, so
      // nothing executes whichever way this goes
      val huge = big.toDF("a").join(spark.range(1L << 40).toDF("b"), $"a" < $"b")
      val ex = intercept[Throwable] { huge.queryExecution.executedPlan }
      assert(guardFired(ex), s"guard did not refuse range(2^40)², got: $ex")
      // end-to-end: the engine's small literal grids still run under the guard
      val grid = spark.range(16).toDF("a")
        .join(spark.range(16).toDF("b"), $"a" < $"b")
      assert(grid.count() > 0)
    }
  }

  test("with AQE ON, a no-exchange cartesian still hits the guard (ADVICE r10 #4)") {
    // InsertAdaptiveSparkPlan declines to wrap a plan with no exchange
    // and no subquery, so the query-stage-prep rule never fires on it;
    // a bare CartesianProductExec of two scans is exactly that shape.
    // autoBroadcastJoinThreshold=-1 forces CartesianProduct over BNLJ
    // (a broadcast build WOULD add an exchange and get AQE-wrapped),
    // and the noop write adds no aggregation exchange either.
    val e = io.Tables.embeddings(spark, d)
    val bad = e.select($"vec_id".as("id1"))
      .join(e.select($"vec_id".as("id2")), $"id1" < $"id2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withGuard {
      val ex = intercept[Throwable] {
        bad.write.format("noop").mode("overwrite").save()
      }
      assert(guardFired(ex),
        s"guard did not fire on the AQE-exempt no-exchange plan, got: $ex")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("a registered bounded dim classifies bounded; unregistered does not (VERDICT r10 ask #3)") {
    // a library user's own fixed-cardinality dimension — not one of the
    // {region,nation} defaults — registered via the session conf
    val dir = java.nio.file.Files.createTempDirectory("graft_dim").toString
    val path = s"$dir/channels.parquet"
    spark.range(7).selectExpr("id AS channel_id", "concat('ch_', id) AS name")
      .coalesce(1).write.mode("overwrite").parquet(path)
    def plan() = spark.read.parquet(path).queryExecution.optimizedPlan
    assert(!ScaleGuard.boundedLogical(plan()), "unregistered scan classified bounded")
    spark.conf.set(ScaleGuard.DimPathsKey, "channels.parquet, other_dim.parquet")
    try {
      assert(ScaleGuard.boundedLogical(plan()),
        "registered dim scan not classified bounded")
      // the hardcoded defaults still classify with the registry set
      val nation = spark.read.parquet(s"$d/nation.parquet")
      assert(ScaleGuard.boundedLogical(nation.queryExecution.optimizedPlan))
    } finally spark.conf.unset(ScaleGuard.DimPathsKey)
    assert(!ScaleGuard.boundedLogical(plan()), "registry did not reset with the conf")
  }

  test("broadcastIfSmall refuses a proof limit that cannot fit in Int (ADVICE r10 #1)") {
    val df = spark.range(10).toDF("id")
    // a wrapped toInt would silently DROP rows while the gate passes
    val ex = intercept[IllegalArgumentException] {
      ScaleGuard.broadcastIfSmall(df, measuredRows = 5L,
        maxRows = Int.MaxValue.toLong + 1)
    }
    assert(ex.getMessage.contains("does not fit in Int"))
    // the in-range path still stamps the no-op limit and preserves rows
    val ok = ScaleGuard.broadcastIfSmall(df, measuredRows = 10L, maxRows = 1024L)
    assert(ok.count() == 10)
  }

  test("the engine's bounded cartesian-class shapes still run under the guard") {
    withGuard {
      // q45: both sides under the plan-enforced MaxExactPairSide limit
      assert(operators.Similarity.q45EmbeddingNearDup(spark, d).count() > 0)
      // q383: bounded (sampled + capped) broadcast side nested loop
      assert(operators.Similarity.q383HubnessAudit(spark, d).count() > 0)
    }
  }

  test("lineage: a global window over a renamed-fact-key aggregate is flagged (r10)") {
    // an aggregate grouped on a bare RENAME of l_partkey is
    // fact-key-domain — a global window over it is a single-partition
    // sort of a data-sized relation
    val li = io.Tables.lineitem(spark, d)
    val perKey = li.select($"l_partkey".as("p"))
      .groupBy($"p").agg(count(lit(1)).as("n"))
    val bad = perKey.withColumn("rk",
      row_number().over(Window.orderBy($"n".desc, $"p")))
    assert(ScaleGuard.globalWindowViolations(bad.queryExecution.optimizedPlan).nonEmpty,
      "rename loophole: global window over a per-partkey aggregate passed the audit")
    // while the same window over a DERIVED bucket aggregate stays green
    val perBucket = li.select(pmod(hash($"l_partkey"), lit(64)).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("n"))
    val good = perBucket.withColumn("rk",
      row_number().over(Window.orderBy($"n".desc, $"b")))
    assert(ScaleGuard.globalWindowViolations(good.queryExecution.optimizedPlan).isEmpty,
      "derived-bucket aggregate wrongly flagged")
  }

  private def badNestedLoops(df: org.apache.spark.sql.DataFrame) =
    ScaleGuard.cartesianViolations(df.queryExecution.optimizedPlan)

  test("the rule catches an unbounded theta self-join (q45's pre-fix shape)") {
    val e = io.Tables.embeddings(spark, d)
    // both sides raw data scans, condition has no equi conjunct —
    // exactly the cartesian-class shape VERDICT r8 flagged
    val bad = e.select($"vec_id".as("id1"))
      .join(e.select($"vec_id".as("id2")), $"id1" < $"id2")
    assert(badNestedLoops(bad).nonEmpty,
      "detector failed to flag an unbounded theta self-join")
    // a bare cross join of two data-sized relations is just as red
    val cross = e.select($"vec_id".as("id1"))
      .crossJoin(e.select($"vec_id".as("id2")))
    assert(badNestedLoops(cross).nonEmpty,
      "detector failed to flag an unbounded cross join")
    // ONE bounded side makes the loop linear in the big side — green
    // (the q383 capped-query-set shape)
    val good = e.select($"vec_id".as("id1"))
      .join(e.select($"vec_id".as("id2")).orderBy($"id2").limit(100),
        $"id1" < $"id2")
    assert(badNestedLoops(good).isEmpty,
      "detector flagged a theta join with a limit-capped side")
    // an equi key anywhere in the conjunction means a hash join — green
    // even with both sides unbounded and a residual range predicate
    val equi = e.select($"vec_id".as("id1"), ($"vec_id" % 7).as("b1"))
      .join(e.select($"vec_id".as("id2"), ($"vec_id" % 7).as("b2")),
        $"b1" === $"b2" && $"id1" < $"id2")
    assert(badNestedLoops(equi).isEmpty,
      "detector flagged a bucketed (equi + residual) range join")
  }

  private def badBroadcasts(df: org.apache.spark.sql.DataFrame) =
    ScaleGuard.broadcastHintViolations(df.queryExecution.optimizedPlan)

  test("the rule catches a data-sized broadcast (q383's pre-fix shape)") {
    // a self nested-loop join broadcasting the FULL embeddings scan —
    // exactly the shape VERDICT r7 flagged; the detector must go red
    val e = io.Tables.embeddings(spark, d)
    val bad = e.select($"vec_id".as("cid"))
      .join(broadcast(e.select($"vec_id".as("qid"))), $"qid" =!= $"cid")
    assert(badBroadcasts(bad).nonEmpty,
      "detector failed to flag a broadcast of a raw data scan")
    // and the fixed shape — sample + plan-enforced cap — is green
    val good = e.select($"vec_id".as("cid"))
      .join(broadcast(e.select($"vec_id".as("qid"))
        .filter(pmod($"qid", lit(4L)) === 0).orderBy($"qid").limit(1000)),
        $"qid" =!= $"cid")
    assert(badBroadcasts(good).isEmpty,
      "detector flagged a limit-capped broadcast")
  }

  test("lineage: a RENAMED fact key cannot dodge the boundedness predicate (VERDICT r9 #1)") {
    val li = io.Tables.lineitem(spark, d)
    // the synthetic from the verdict: select(l_partkey as p).groupBy(p)
    // is an unbounded-domain aggregate — p IS l_partkey
    val renamed = li.select($"l_partkey".as("p")).groupBy($"p")
      .agg(count(lit(1)).as("n"))
    val badRenamed = li.join(broadcast(renamed),
      li("l_partkey") === renamed("p"))
    assert(badBroadcasts(badRenamed).nonEmpty,
      "rename loophole: broadcast of a groupBy over a renamed fact key passed")
    // q237's FORMER shape: the per-part degree relation (grouped on a
    // renamed l_partkey) broadcast-hinted into the fact-sized edge list
    val edges = li.select($"l_partkey".as("p"), $"l_suppkey".as("sp")).distinct()
    val pdeg = edges.groupBy($"p").agg(count(lit(1)).as("pdeg"))
    val badDeg = edges.join(broadcast(pdeg), "p")
    assert(badBroadcasts(badDeg).nonEmpty,
      "q237's pre-fix shape (broadcast-hinted per-part degree) passed")
    // while a genuinely DERIVED grouping key (hash bucket) still passes:
    // its output domain is the expression's 64 buckets, not the key's
    val bucketed = li.select(pmod(hash($"l_partkey"), lit(64)).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("n"))
    val good = li.join(broadcast(bucketed),
      pmod(hash(li("l_partkey")), lit(64)) === bucketed("b"))
    assert(badBroadcasts(good).isEmpty,
      "derived-key (hash-bucket) aggregate wrongly flagged")
    // and the count-gated loop idiom (ScaleGuard.broadcastIfSmall) is
    // green exactly because the gate stamps a structural limit proof
    val labels = li.select($"l_partkey".as("doc_id"), $"l_orderkey".as("lbl"))
    val gated = li.join(
      ScaleGuard.broadcastIfSmall(labels, measuredRows = 1000L),
      li("l_partkey") === labels("doc_id"))
    assert(badBroadcasts(gated).isEmpty,
      "count-gated broadcast (limit-stamped) wrongly flagged")
    // above the gate no hint is emitted at all
    val ungated = li.join(
      ScaleGuard.broadcastIfSmall(labels, measuredRows = ScaleGuard.MaxHintRows + 1),
      li("l_partkey") === labels("doc_id"))
    assert(badBroadcasts(ungated).isEmpty,
      "broadcastIfSmall above the gate must not hint")
  }
}
