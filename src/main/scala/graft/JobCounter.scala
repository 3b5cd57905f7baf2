package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Per-query job/stage counting (VERDICT r11 ask #3): the measured
  * noop floor is ~18 ms, so a "slow" sub-second query is almost always
  * a MANY-STAGE query — serial job chains (checkpoints, measured-count
  * actions) and deep exchange trees, not scan or compute. Counting
  * executed jobs and stages per query makes that diagnosis mechanical:
  * `Bench` publishes the counts in bench_detail.json, so "fuse the
  * worst multi-action offenders" starts from data. (For exact per-span
  * counts of a few queries, run the perfbench harness with
  * `--trace 1`.)
  *
  * Counters are JVM-global totals; callers snapshot around a query
  * (single-threaded bench loops — the suite never overlaps queries). */
final class JobCounter extends SparkListener {
  private val jobs = new java.util.concurrent.atomic.AtomicLong(0)
  private val stages = new java.util.concurrent.atomic.AtomicLong(0)
  override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = { stages.incrementAndGet(); () }
  def snapshot: (Long, Long) = (jobs.get, stages.get)
}

object JobCounter {
  /** Install a counter on the session's listener bus. */
  def install(spark: org.apache.spark.sql.SparkSession): JobCounter = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    c
  }
}
