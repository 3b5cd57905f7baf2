package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.io.Tables
import graft.plans.PlanAudit

/** The session schema cache of [[graft.io.Tables]]: a file's schema is
  * inferred once per session, a rewritten file or a changed parquet
  * conf is inferred again, a failed inference is not kept, and a
  * stopped session's entries go. Job counts come from a listener the
  * listener-bus drain (`PlanAudit.flush`) makes exact, so no test
  * sleeps. */
class TablesSpec extends SparkSpec {

  /** `body`'s result and the number of jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    PlanAudit.flush(spark)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { val r = body; PlanAudit.flush(spark); (r, n.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** Runs `body` with session conf `key` set to `value`, then puts back
    * the value it had (an unset would drop a builder-set value). */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("tables-schema").toString

  /** Runs `python3` with `script` and `args`; fails the test on a nonzero exit. */
  private def python(script: String, args: String*): Unit = {
    val err = new StringBuilder
    val rc = scala.sys.process.Process("python3" +: "-c" +: script +: args)
      .!(scala.sys.process.ProcessLogger(_ => (), l => err.append(l).append('\n')))
    assert(rc == 0, s"python3 failed:\n$err")
  }

  test("a second read of a file in one session starts no job and gives the same schema") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobsDuring(Tables.read(spark, dir, "t").schema)
    val (second, jobs) = jobsDuring(Tables.read(spark, dir, "t").schema)
    assert(inferJobs >= 1, "the first read should infer the schema with a job")
    assert(jobs == 0, s"the second read started $jobs job(s)")
    assert(second == first)
    // only the schema is cached: the data is still scanned
    assert(Tables.read(spark, dir, "t").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a rewritten file is inferred again and its new column shows") {
    import spark.implicits._
    val dir = tempDir()
    Seq(1L).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables.read(spark, dir, "t").columns.toSeq == Seq("k"))
    Seq((1L, 7L)).toDF("k", "extra").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (cols, jobs) = jobsDuring(Tables.read(spark, dir, "t").columns.toSeq)
    assert(cols == Seq("k", "extra"))
    assert(jobs >= 1, "the rewritten file should be inferred again")
    assert(Tables.read(spark, dir, "t").as[(Long, Long)].collect().toSeq == Seq((1L, 7L)))
  }

  test("a runtime change of a parquet inference conf gives the schema a fresh read gives") {
    val dir = tempDir()
    // a non-Spark writer: a Spark-written footer carries its own schema,
    // which binaryAsString does not override
    python(
      """import duckdb, sys
        |duckdb.connect().execute(
        |  f"COPY (SELECT 1::BIGINT AS k, 'xy'::BLOB AS b) TO '{sys.argv[1]}/bin.parquet' (FORMAT PARQUET)")
        |""".stripMargin, dir)
    val key = "spark.sql.parquet.binaryAsString"
    assert(Tables.read(spark, dir, "bin").schema("b").dataType == BinaryType)
    withConf(key, "true") {
      val got = Tables.read(spark, dir, "bin").schema
      assert(got == spark.read.parquet(s"$dir/bin.parquet").schema)
      assert(got("b").dataType == StringType)
    }
    assert(Tables.read(spark, dir, "bin").schema("b").dataType == BinaryType)
  }

  test("a failed inference is not cached: the NANOS error, then a good read") {
    val dir = tempDir()
    python(
      """import sys, pyarrow as pa, pyarrow.parquet as pq
        |pq.write_table(pa.table({"ts": pa.array([1_000_000_123_456_789], pa.timestamp("ns"))}),
        |  f"{sys.argv[1]}/events.parquet", version="2.6")
        |""".stripMargin, dir)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = Tables.cachedSchemas(spark)
    withConf(key, "false") {
      val e = intercept[IllegalStateException](Tables.events(spark, dir))
      assert(e.getMessage.contains(key))
      assert(Tables.cachedSchemas(spark) == before)
    }
    // the session's builder conf again: the file reads, ts normalized
    val ts = Tables.events(spark, dir).schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType)
    assert(Tables.cachedSchemas(spark) == before + 1)
  }

  test("a stopped session's cached schemas are dropped") {
    // a session cannot be stopped in the shared test JVM, so a child JVM
    // runs TablesStopProbe with this JVM's classpath and module opens
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
    val opens = jvm.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < jvm.length => Seq(a, jvm(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin, "-Xmx768m") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.TablesStopProbe", QuerySweep.d)
    val (out, err) = (new StringBuilder, new StringBuilder)
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    assert(rc == 0, s"probe failed:\n${err.toString.takeRight(4000)}")
    val line = out.toString.linesIterator.find(_.startsWith("probe ")).getOrElse("")
    // entries of session 1 before its stop, after it, and of session 2
    assert(line == "probe 1 0 1", s"probe printed '$line'")
  }
}

/** Child-JVM half of TablesSpec's stopped-session test: reads one table
  * in a session, stops it, reads in a new session (which prunes), and
  * prints the cached-schema counts. */
object TablesStopProbe {
  def main(args: Array[String]): Unit = {
    val s1 = Bench.session("1")
    Tables.region(s1, args(0)).schema
    val held = Tables.cachedSchemas(s1)
    s1.stop()
    val s2 = Bench.session("1")
    Tables.region(s2, args(0)).schema
    println(s"probe $held ${Tables.cachedSchemas(s1)} ${Tables.cachedSchemas(s2)}")
    s2.stop()
  }
}
