package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.plans.PlanAudit

/** `graft.plans.ResultSort`: a small result sort runs in one partition
  * instead of sampling range bounds with a job of its own, and nothing
  * else moves — data-sized or row-multiplied inputs, mid-plan sorts
  * and single-partition aggregates keep their plans. */
class ResultSortSpec extends SparkSpec {
  import spark.implicits._

  private val Sf = QuerySweep.d
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None => spark.conf.unset(k)
    }
  }

  private def off[T](body: => T): T = withConf(Threshold, "-1")(body)

  /** Every shuffle exchange of a plan, through AQE wrappers and stages. */
  private def shuffles(p: SparkPlan): Seq[String] =
    allPlanNodes(p).collect {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.getClass.getSimpleName.stripSuffix("$")
    }

  /** Shuffles of the plan AQE starts from (nothing executed yet). */
  private def initial(df: DataFrame): Seq[String] = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => shuffles(a.initialPlan)
    case p => shuffles(p)
  }

  /** Shuffles of the final plan, after `collect`. */
  private def executed(df: DataFrame): Seq[String] = {
    df.collect()
    shuffles(df.queryExecution.executedPlan)
  }

  /** Jobs that `body` starts, drained through the listener bus. */
  private def jobsOf(body: => Unit): Int = {
    PlanAudit.flush(spark)
    val c = JobCounter.install(spark)
    try { body; PlanAudit.flush(spark); c.snapshot._1.toInt }
    finally spark.sparkContext.removeSparkListener(c)
  }

  /** q43's shape: scan → per-row kernel → total order. */
  private def simhashSorted(): DataFrame =
    Tables.documents(spark, Sf)
      .filter($"text".rlike("\\S"))
      .select($"doc_id", graft.functions.TextExprs.simhash60($"text").as("simhash"))
      .orderBy($"doc_id")

  test("a small scan → kernel → orderBy sorts in one partition, one job fewer") {
    assert(initial(simhashSorted()) == Seq("SinglePartition"))
    // Verify writes each result through coalesce(1)
    assert(initial(simhashSorted().coalesce(1)) == Seq("SinglePartition"))
    simhashSorted().collect() // warm the schema cache and codegen
    val on = jobsOf(simhashSorted().collect())
    val offJobs = off(jobsOf(simhashSorted().collect()))
    assert(on == offJobs - 1, s"jobs: rule $on, threshold -1 $offJobs")
  }

  test("threshold -1 brings the range exchange back") {
    off {
      assert(initial(simhashSorted()) == Seq("RangePartitioning"))
      assert(executed(simhashSorted()) == Seq("RangePartitioning"))
    }
  }

  test("a total order collects the same rows as the range-partitioned sort") {
    val one = simhashSorted().collect().toSeq
    val range = off(simhashSorted().collect().toSeq)
    assert(one.nonEmpty && one == range)
  }

  test("a Generate under the sort keeps range partitioning") {
    def exploded() = Tables.documents(spark, Sf)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .orderBy($"doc_id", $"tok")
    assert(initial(exploded()) == Seq("RangePartitioning"))
    assert(executed(exploded()) == Seq("RangePartitioning"))
  }

  test("a sort over a join of two data-sized inputs keeps range partitioning") {
    def joined() = Tables.lineitem(spark, Sf)
      .join(Tables.orders(spark, Sf), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_orderdate")
      .orderBy($"l_orderkey", $"l_linenumber")
    assert(initial(joined()).contains("RangePartitioning"))
    assert(executed(joined()).contains("RangePartitioning"))
  }

  test("a mid-plan sort under a partitioned window keeps range partitioning") {
    def windowed() = Tables.orders(spark, Sf)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .orderBy($"o_orderdate")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_custkey").orderBy($"o_orderkey")))
    assert(initial(windowed()).contains("RangePartitioning"))
    assert(initial(windowed()).contains("HashPartitioning"))
  }

  test("a sort above a post-shuffle aggregate switches at AQE re-planning") {
    // q374's shape: the explode under the aggregate rules the static
    // estimate out; once the aggregate's input stage has run, its
    // measured size stands in for everything below it
    def passAtK() = Tables.orders(spark, Sf)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .select($"n", explode(array(lit(1L), lit(5L), lit(10L))).as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n_problems"), sum($"n").as("n"))
      .orderBy($"k")
    assert(initial(passAtK()).count(_ == "RangePartitioning") == 1)
    assert(executed(passAtK()).count(_ == "SinglePartition") == 1)
    assert(off(executed(passAtK())).count(_ == "RangePartitioning") == 1)
    assert(passAtK().collect().toSeq == off(passAtK().collect().toSeq))
  }

  test("an orderBy over a global aggregate gains no exchange") {
    def global() = Tables.lineitem(spark, Sf)
      .agg(sum($"l_quantity").as("q"), count(lit(1)).as("n"))
      .orderBy($"q")
    // the aggregate's own exchange already makes one partition
    assert(executed(global()) == Seq("SinglePartition"))
    assert(off(executed(global())) == Seq("SinglePartition"))
  }

  test("the classic planner (AQE off) switches the same sort") {
    withConf("spark.sql.adaptive.enabled", "false") {
      assert(shuffles(simhashSorted().queryExecution.executedPlan) ==
        Seq("SinglePartition"))
      off(assert(shuffles(simhashSorted().queryExecution.executedPlan) ==
        Seq("RangePartitioning")))
    }
  }
}
