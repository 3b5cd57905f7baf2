package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.io.Tables
import graft.plans.PlanAudit
import graft.sources.Sinks

/** One benchmark run in one JVM: a single client that runs workload
  * queries one after another in a closed loop.
  *
  * Set-up builds the `graft.Bench` session, installs PlanAudit, opens
  * every table through `graft.io.Tables` and runs two untimed passes
  * over the workload. The timed phase then runs `passes` passes over the
  * workload, each pass in its own seeded order. Each query is timed from
  * the query-function call until its action returns:
  *   - `noop` mode forces the result through the noop sink, as
  *     `graft.Bench` does. The first warm-up pass takes the output
  *     fingerprint as observed metrics of that write; every later pass
  *     runs the plain write, so the timed plan is the one `graft.Bench`
  *     times and the second warm-up pass has already compiled it;
  *   - `sink` mode writes the result as parquet through
  *     `Sinks.writeWithRetry`, then reads it back (untimed in the
  *     latency, inside the pass) to fingerprint it.
  * After every query `PlanAudit.flush` drains the listener bus, so any
  * executed-plan violation is charged to the query that caused it.
  *
  * With `trace` on, `passes` traced passes alternate with untraced ones:
  * during a traced pass a [[SpanTracer]] is installed and every call
  * into the engine runs under a span tag. Spans are kept in memory and
  * written when the run ends, after `spark.stop()` has drained the
  * listener bus.
  *
  * Everything the run observes goes to `out` as JSON lines; the Python
  * runner turns them into metrics and checks the fingerprints. */
object Harness {
  final case class Config(
      dataDir: String,
      workDir: String,
      out: String,
      queries: Seq[String],
      sink: Boolean,
      seed: Long,
      passes: Int,
      trace: Boolean,
      cores: Int)

  val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def writeJson(path: String, fields: Seq[(String, Any)]): Unit =
    json.writeValue(new File(path), ListMap(fields: _*))

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // the sampling tool stratifies by operator module
    kv.get("list-modules").foreach { path =>
      writeJson(path, SparkEntry.queryModules.toSeq.sortBy(_._1).map { case (m, qs) =>
        m -> qs.toSeq.sorted })
      return
    }
    val cfg = Config(
      dataDir = kv("data"), workDir = kv("work"), out = kv("out"),
      queries = kv("queries").split(",").toSeq.filter(_.nonEmpty),
      sink = kv("mode") == "sink", seed = kv("seed").toLong,
      passes = kv("passes").toInt, trace = kv("trace") == "1",
      cores = Runtime.getRuntime.availableProcessors)
    // the oracle cross-check needs each query's DuckDB twin
    kv.get("oracle-sql").foreach { path =>
      writeJson(path, cfg.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)))
    }
    run(cfg)
  }

  /** The first warm-up pass; in noop mode the only one fingerprinted. */
  val FingerprintPass = -1

  /** The order of pass `k` (passes -1 and 0 are the warm-up). */
  def order(queries: Seq[String], seed: Long, k: Int): Seq[String] =
    new scala.util.Random(seed * 1000L + k).shuffle(queries.sorted)

  def run(cfg: Config): Unit = {
    val out = new PrintWriter(new File(cfg.out), StandardCharsets.UTF_8.name)
    def emit(fields: (String, Any)*): Unit = {
      out.println(json.writeValueAsString(ListMap(fields: _*)))
      out.flush()
    }
    val unknown = cfg.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val spark = BenchSession.build(cfg.cores, cfg.workDir)
    val audit = PlanAudit.install(spark)
    val openMs = tables.map { case (name, open) =>
      val t0 = System.nanoTime()
      open(spark, cfg.dataDir).schema
      name -> ms(t0)
    }
    var seq = 0L
    val spans = ArrayBuffer.empty[Seq[(String, Any)]]
    var tracing = false

    /** Run `body` as span `id`; with tracing on, under its job tag. */
    def span[T](id: String, parent: String, phase: String, query: String,
        pass: Int)(body: => T): (T, Double) = {
      val tag = SpanTracer.tag(id)
      if (tracing) spark.sparkContext.addJobTag(tag)
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      try {
        val r = body
        (r, ms(start))
      } finally {
        val end = System.nanoTime()
        if (tracing) {
          spark.sparkContext.removeJobTag(tag)
          spans += Seq("span" -> id, "parent" -> parent, "phase" -> phase,
            "query" -> query, "pass" -> pass, "start_ns" -> start, "end_ns" -> end,
            "start_epoch_ms" -> startMs, "end_epoch_ms" -> System.currentTimeMillis())
        }
      }
    }

    /** One query: build, action, and (sink mode) readback. */
    def runQuery(name: String, pass: Int, kind: String): Unit = {
      seq += 1
      val qid = s"q$seq"
      val rec = scala.collection.mutable.LinkedHashMap[String, Any](
        "t" -> kind, "pass" -> pass, "traced" -> tracing, "query" -> name)
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val (df, buildMs) = span(s"$qid.build", qid, "build", name, pass) {
          SparkEntry.queries(name)(spark, cfg.dataDir)
        }
        rec("build_ms") = buildMs
        if (cfg.sink) {
          val path = s"${cfg.workDir}/sink/$name"
          val ((ok, errs), writeMs) = span(s"$qid.sink", qid, "sink", name, pass) {
            Sinks.writeWithRetry(df, 2)(_.write.mode("overwrite").parquet(path))
          }
          rec("action_ms") = writeMs
          rec("latency_ms") = ms(t0)
          rec("attempts") = errs.size + (if (ok) 1 else 0)
          if (!ok) throw new RuntimeException(errs.mkString("; "))
          val files = Option(new File(path).listFiles).toSeq.flatten
            .filter(f => f.isFile && f.getName.startsWith("part-"))
          rec("files") = files.size
          rec("bytes") = files.map(_.length).sum
          val (fp, readMs) = span(s"$qid.readback", qid, "readback", name, pass) {
            Fingerprint.of(spark.read.parquet(path))
          }
          rec("readback_ms") = readMs
          rec("rows") = fp.rows
          rec("hash") = fp.hash
        } else {
          val (observed, fingerprint) =
            if (pass == FingerprintPass) {
              val (o, f) = Fingerprint.observe(df, s"perfbench_fp_$seq")
              (o, Some(f))
            } else (df, None)
          val (_, actionMs) = span(s"$qid.action", qid, "action", name, pass) {
            observed.write.format("noop").mode("overwrite").save()
          }
          rec("action_ms") = actionMs
          rec("latency_ms") = ms(t0)
          fingerprint.foreach { f =>
            val fp = f()
            rec("rows") = fp.rows
            rec("hash") = fp.hash
          }
        }
      } catch {
        case e: Throwable =>
          rec("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val f0Ms = System.currentTimeMillis()
      val f0 = System.nanoTime()
      PlanAudit.flush(spark)
      rec("audit_flush_ms") = ms(f0)
      rec("violations") = audit.drain().size + audit.drainErrors().size
      if (tracing) spans += Seq("span" -> qid, "parent" -> "", "phase" -> "query",
        "query" -> name, "pass" -> pass, "start_ns" -> t0, "end_ns" -> f0,
        "start_epoch_ms" -> t0Ms, "end_epoch_ms" -> f0Ms)
      emit(rec.toSeq: _*)
    }

    val tracer = new SpanTracer
    def timedPass(k: Int, traced: Boolean): Unit = {
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      tracing = traced
      val p0 = System.nanoTime()
      order(cfg.queries, cfg.seed, k).foreach(runQuery(_, k, "timed"))
      emit("t" -> "pass", "pass" -> k, "traced" -> traced, "wall_ms" -> ms(p0))
      if (traced) {
        PlanAudit.flush(spark) // the tracer has seen every event of the pass
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        tracing = false
      }
    }

    // two untimed passes: the first pays each query's first execution
    // and (noop mode) checks its output, the second compiles the plain
    // plan and lets the JIT settle, which takes more than one run
    Seq(FingerprintPass, 0).foreach(k => order(cfg.queries, cfg.seed, k).foreach(runQuery(_, k, "warm")))
    emit("t" -> "setup_done", "epoch_ms" -> System.currentTimeMillis(),
      "open_ms" -> ListMap(openMs: _*))
    // traced passes alternate with untraced ones, starting and ending
    // untraced, so a drift across passes cancels out of the overhead
    val plan =
      if (cfg.trace) false +: Seq.fill(cfg.passes)(Seq(true, false)).flatten
      else Seq.fill(cfg.passes)(false)
    plan.zipWithIndex.foreach { case (traced, i) => timedPass(i + 1, traced) }
    // calibration first: the memory reading then follows the same jobs
    // whatever the seed's pass order left last
    emit(calibrate(spark, cfg.dataDir): _*)
    emit("t" -> "memory", "live_mb" -> liveMb)
    PlanAudit.flush(spark)
    emit("t" -> "audit", "violations" -> audit.violations.size,
      "errors" -> audit.errors.size)
    spark.stop()
    if (cfg.trace) {
      val totals = tracer.totals
      // planning time goes to the innermost span open at its midpoint
      val leaves = spans.filter(_.toMap.apply("phase") != "query").map { s =>
        val m = s.toMap
        (m("span").toString, m("start_epoch_ms").asInstanceOf[Long],
          m("end_epoch_ms").asInstanceOf[Long])
      }
      val planMs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      tracer.plans.foreach { case (mid, dur) =>
        val span = leaves.find { case (_, a, b) => a <= mid && mid <= b }
          .map(_._1).getOrElse(SpanTracer.Unattributed)
        planMs(span) += dur
      }
      spans.foreach { s =>
        val id = s.head._2.toString
        val st = totals.getOrElse(id, new SpanTracer.Stats)
        emit(Seq("t" -> "span") ++ s ++ Seq(
          "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
          "executions" -> st.executions, "plan_ms" -> planMs(id),
          "run_ms" -> st.runMs, "cpu_ms" -> st.cpuNs / 1e6, "gc_ms" -> st.gcMs,
          "result_bytes" -> st.resultBytes, "input_bytes" -> st.inputBytes,
          "input_records" -> st.inputRecords,
          "shuffle_write_bytes" -> st.shuffleWriteBytes,
          "fetch_wait_ms" -> st.fetchWaitMs): _*)
      }
      val un = totals.getOrElse(SpanTracer.Unattributed, new SpanTracer.Stats)
      emit("t" -> "unattributed", "jobs" -> un.jobs, "stages" -> un.stages,
        "tasks" -> un.tasks, "executions" -> un.executions,
        "plan_ms" -> planMs(SpanTracer.Unattributed))
    }
    emit("t" -> "end", "peak_rss_mb" -> peakRssMb, "cores" -> cfg.cores)
    out.close()
  }

  /** Machine calibration, read to tell machine drift from a code change:
    * the `graft.Bench` noop floor, a fixed CPU loop and one single-file
    * scan, each the median of several samples. */
  def calibrate(spark: SparkSession, dataDir: String): Seq[(String, Any)] = {
    def median(n: Int)(body: => Unit): Double = {
      val xs = (1 to n).map { _ => val t0 = System.nanoTime(); body; ms(t0) }.sorted
      xs(n / 2)
    }
    var sink = 0L
    val floor = median(9)(spark.range(1).write.format("noop").mode("overwrite").save())
    val cpu = median(5) {
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
    }
    val scan = median(3)(Tables.lineitem(spark, dataDir)
      .write.format("noop").mode("overwrite").save())
    Seq("t" -> "calib", "noop_floor_ms" -> floor, "cpu_loop_ms" -> cpu,
      "scan_ms" -> scan, "cpu_loop_check" -> sink)
  }

  /** Memory the run retains after a full collection: live heap plus
    * non-heap (metaspace, code cache). Unlike the resident high-water
    * mark it does not depend on when the collector last ran. Spark frees
    * unreachable broadcast and shuffle state on its cleaner thread some
    * time after a collection, so collections repeat, 200 ms apart, until
    * the reading settles. */
  def liveMb: Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def used = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed
    }
    var (prev, cur, i) = (Long.MaxValue, used, 0)
    while (i < 10 && math.abs(prev - cur) > (1L << 20)) { prev = cur; cur = used; i += 1 }
    cur / 1048576.0
  }

  /** `VmHWM` of this JVM: the peak resident set of the whole local-mode
    * engine. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  private def ms(startNs: Long): Double = (System.nanoTime() - startNs) / 1e6
}
