package graft

import org.apache.spark.sql.functions._

/** Executed-plan scale audit (VERDICT r9 ask #3): the tier-1 sweep
  * walks only the RETURNED plan, but iterative query bodies execute
  * their own internal plans through eager actions (`localCheckpoint`,
  * `count`, `isEmpty`) that the sweep structurally never sees — r9's
  * loop-internal broadcast hints were invisible to it.
  * [[graft.plans.PlanAudit]] closes that horizon: a
  * QueryExecutionListener runs the three ScaleGuard rules on EVERY
  * plan the session executes. Verify and Bench install one per session
  * and fail the run post-sweep; this spec proves (a) the listener
  * catches a hinted data-sized broadcast, a cartesian-class join and a
  * global window executed inside a function body, and (b) the
  * formerly-weak iterative queries (CC labels, BFS frontiers,
  * PageRank/HITS rank vectors) now execute END-TO-END with zero
  * internal violations. */
class PlanAuditSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("red: a hinted data-sized broadcast inside a query body is caught") {
    import spark.implicits._
    val audit = graft.plans.PlanAudit.install(spark)
    try {
      // exactly the r9 hole: the bad plan is EXECUTED via an eager
      // internal action and never returned, so the returned-plan sweep
      // cannot see it
      def sneakyLoopBody(): Long = {
        val e = io.Tables.embeddings(spark, d)
        val labels = e.select($"vec_id".as("doc_id"), $"vec_id".as("lbl"))
        e.select($"vec_id")
          .join(broadcast(labels), $"vec_id" === labels("doc_id"))
          .localCheckpoint()
          .count()
      }
      assert(sneakyLoopBody() > 0)
      graft.plans.PlanAudit.flush(spark)
      val v = audit.drain()
      assert(v.exists(_.contains("broadcast-hint rule")),
        s"listener missed the loop-internal data-sized broadcast hint; saw: $v")
    } finally spark.listenerManager.unregister(audit)
  }

  test("red: a cartesian-class join executed inside a query body is caught") {
    import spark.implicits._
    val audit = graft.plans.PlanAudit.install(spark)
    try {
      val e = io.Tables.embeddings(spark, d)
      val theta = e.select($"vec_id".as("a"))
        .join(e.select($"vec_id".as("b")), $"a" < $"b")
      // executed internally (count), never returned to the sweep
      assert(theta.count() > 0)
      graft.plans.PlanAudit.flush(spark)
      assert(audit.drain().exists(_.contains("cartesian rule")),
        "listener missed the internally-executed theta join")
    } finally spark.listenerManager.unregister(audit)
  }

  test("red: a global window executed inside a query body is caught") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val audit = graft.plans.PlanAudit.install(spark)
    try {
      val li = io.Tables.lineitem(spark, d)
      // executed internally (count), never returned to the sweep; the
      // aggregate is grouped on a bare RENAME of l_partkey, so its
      // domain is the fact key's and the window sorts it in one task
      // (the filter keeps the window column live through the count)
      def windowedCount(keyed: org.apache.spark.sql.DataFrame): Long =
        keyed.groupBy($"k").agg(count(lit(1)).as("n"))
          .withColumn("cum", sum($"n").over(Window.orderBy($"n".desc, $"k")))
          .filter($"cum" > 0)
          .count()
      assert(windowedCount(li.select($"l_partkey".as("k"))) > 0)
      graft.plans.PlanAudit.flush(spark)
      val v = audit.drain()
      assert(v.exists(_.contains("window rule")),
        s"listener missed the internally-executed global window; saw: $v")
      // the same window over a DERIVED hash-bucket aggregate is bounded
      assert(windowedCount(li.select(pmod(hash($"l_partkey"), lit(64)).as("k"))) > 0)
      graft.plans.PlanAudit.flush(spark)
      val clean = audit.drain()
      assert(clean.isEmpty, s"hash-bucket window wrongly flagged:\n${clean.mkString("\n")}")
      assert(audit.drainErrors().isEmpty)
    } finally spark.listenerManager.unregister(audit)
  }

  test("red: a failure INSIDE a shape check is surfaced, not swallowed (VERDICT r10 ask #2)") {
    // a bug in the boundedness predicate must not silently disarm the
    // safety net while the sweep reports "0 violations" — the injected
    // throwing check stands in for e.g. a Spark-upgrade pattern
    // mismatch throwing in the lineage trace
    val audit = new graft.plans.PlanAudit(Seq(
      "boom" -> (_ => throw new RuntimeException("kaboom-injected"))))
    spark.listenerManager.register(audit)
    try {
      spark.range(10).selectExpr("sum(id)").collect()
      graft.plans.PlanAudit.flush(spark)
      assert(audit.violations.isEmpty, "throwing check must not fake a violation")
      val errs = audit.drainErrors()
      assert(errs.nonEmpty, "audit-internal failure was swallowed silently")
      assert(errs.forall(_.startsWith("[audit-error][boom]")), errs.mkString("\n"))
      assert(errs.exists(_.contains("kaboom-injected")), errs.mkString("\n"))
      // and read-and-clear semantics hold for the error queue too
      assert(audit.drainErrors().isEmpty)
    } finally spark.listenerManager.unregister(audit)
  }

  test("the production checks audit a normal query with zero internal errors") {
    val audit = graft.plans.PlanAudit.install(spark)
    try {
      SparkEntry.queries("q01_pricing_summary")(spark, d)
        .write.format("noop").mode("overwrite").save()
      graft.plans.PlanAudit.flush(spark)
      assert(audit.drain().isEmpty)
      assert(audit.drainErrors().isEmpty,
        "default shape checks threw on a healthy plan")
    } finally spark.listenerManager.unregister(audit)
  }

  test("the formerly-weak iterative queries execute with ZERO internal violations") {
    // the nine VERDICT r9 finding-#1 queries: CC-label loop consumers,
    // BFS, PageRank/HITS — every internal round's plan is audited
    val weak = Seq("q71_dedup_clusters", "q96_leakage_split",
      "q102_quality_canonical", "q150_bfs_hops", "q237_pagerank_loop",
      "q239_hits_step", "q251_dedup_transitivity", "q380_incremental_cc",
      "q399_dup_family_sizes")
    val audit = graft.plans.PlanAudit.install(spark)
    try {
      weak.foreach { name =>
        SparkEntry.queries(name)(spark, d)
          .write.format("noop").mode("overwrite").save()
        graft.plans.PlanAudit.flush(spark)
        val v = audit.drain()
        assert(v.isEmpty,
          s"$name executed an internal scale violation:\n${v.mkString("\n")}")
      }
    } finally spark.listenerManager.unregister(audit)
  }
}
