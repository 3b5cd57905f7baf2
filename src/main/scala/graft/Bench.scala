package graft
import org.apache.spark.sql.SparkSession

/** Benchmark surface for the driver: runs every `SparkEntry.queries` entry
  * against `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Methodology: a JVM warmup plus one untimed warm-up query PER
  * OPERATOR MODULE (at sf0.001 — primes each module's codegen and
  * classloading), then TWO measured passes per query in DIFFERENT
  * deterministic shuffles of the suite (decorrelates neighbors and
  * suite position between passes), reporting the per-query MIN — plus
  * an adaptive THIRD pass (min-of-3) when the first two disagree by
  * >1.5× on a ≥1 s query or one of them failed. Per-query max/min
  * spread lands in bench_detail.json ("spread_permille") so future
  * rounds can read a "regression" against the measured noise band.
  * Single-pass numbers on a shared 32-core box swing ±10-20% (one
  * round-1 run showed 23 s on a normally-1.2 s query from JIT/GC
  * noise; a round-2 driver run published 4.8 s for a steady 1.7 s
  * query even at min-of-2).
  * Each query is forced through a noop datasource write, not `count()` —
  * count lets Catalyst prune every computed column, so a projection-heavy
  * query would report scan cost only.
  */
object Bench {
  /** The engine's one SparkSession. `Bench`, `Verify`, `ExplainDump`
    * and the test suite all build through it, so the plan that is
    * verified, dumped and tested is the plan that is timed. `cores`
    * sets `local[cores]` (default `$SPARK_GRAFT_CPUS`, else 4). */
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession = {
    // shuffle partitioning derives from DATA SIZE, not core count
    // (VERDICT r14 ask #2): tying partitions to $SPARK_GRAFT_CPUS made
    // the c8 and c32 runs plan per-core task layouts, so the driver's
    // core-scaling probe compared two different plans and read c8 ≡ c32
    // (suspect_cpus_ignored). Fixed 32 initial partitions at sf0.1
    // (~100 MB input → KB..MB-sized shuffles; AQE coalescing collapses
    // the tiny ones either way) keeps the PLAN identical across core
    // counts, so the probe measures cores and nothing else. Production
    // sets SPARK_GRAFT_SHUFFLE_PARTITIONS from input bytes
    // (guide §2.2: 100 MB–1 GB per post-shuffle partition).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events table carries TIMESTAMP(NANOS)
      .config("spark.sql.session.timeZone", "UTC")
      // benched exactly as verified: the plan-time scale guard is on
      .config(graft.plans.ScaleGuard.EnabledKey, "true")
      // 465 queries × several codegen stages each blows far past the
      // default 100-entry generated-class cache — every eviction recompiles
      // on the next hit and the recompile cost lands on innocent
      // queries (the one-sided suite-growth drift VERDICT r9 #4
      // flagged); static conf, sized to hold the whole suite
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the "No Partition Defined" WARN fires once per bounded-relation
    // global window PER TASK — thousands of tail lines that broke the
    // driver's stdout parse in r8/r9 (VERDICT r9 #3). Every such window
    // is proven bounded by the window rule of ScaleGuard.rules, so the
    // category carries no signal here; silence it instead of
    // re-partitioning proven-safe plans on a literal
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // executed-plan scale audit, same as Verify (VERDICT r9 ask #3)
    val audit = graft.plans.PlanAudit.install(spark)
    // warm the JVM/codegen/scan paths once so per-query numbers reflect
    // steady-state plan cost, not first-query JIT + classloading (~5-7 s
    // otherwise landing on whichever query iterates first)
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // per-query executed job/stage counts (VERDICT r11 ask #3): the
    // sub-second suite mass is per-plan stage waves, so the artifact
    // carries the counts that say WHICH queries are many-stage. Counts
    // are taken on pass-2 runs (steady state; pass 1 includes AQE
    // re-plans and first-run checkpoint materializations). Listener
    // events land asynchronously — counts can bleed ±1, triage-grade
    val counter = JobCounter.install(spark)
    val jobCounts = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        countAs: Option[String] = None): Double = {
      val (j0, s0) = counter.snapshot
      val t0 = System.nanoTime()
      // a failed query reports -1, not its partial elapsed time — a
      // regression must not look like a speedup
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        countAs.foreach { n =>
          val (j1, s1) = counter.snapshot
          jobCounts(n) = (j1 - j0, s1 - s0)
        }
        dt
      }
      catch { case _: Throwable => -1.0 }
    }
    // per-module warm-up: one untimed query per operator module, at the
    // SMALLEST scale dir available (the point is classloading + codegen
    // of that module's expressions, not data) — without it, whichever of
    // a module's queries the shuffled order reaches first absorbs its
    // one-time costs
    val warmDir = {
      val sf001 = "/root/testdata/sf0.001"
      if (new java.io.File(sf001).isDirectory) sf001 else sfDir
    }
    SparkEntry.queryModules.toSeq.sortBy(_._1).foreach { case (_, qs) =>
      qs.sorted.headOption.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }
    // each pass visits the suite in a DIFFERENT deterministic shuffle:
    // neighbors decorrelate (a GC pause or compilation storm stops
    // taxing the same queries in both passes), and a query's pass-1 JIT
    // charge meets a clean pass-2 sample at a different suite position —
    // deterministic seeds keep driver runs reproducible
    // dev-loop filter: SPARK_GRAFT_BENCH_ONLY=q465,q477 limits the
    // suite to queries whose name starts with a listed prefix; unset
    // (the driver's case) benches everything
    val onlyPrefixes = sys.env.get("SPARK_GRAFT_BENCH_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => onlyPrefixes.isEmpty || onlyPrefixes.exists(n.startsWith))
    val order1 = new scala.util.Random(101).shuffle(names)
    val order2 = new scala.util.Random(202).shuffle(names)
    // CHILD role (VERDICT r12 ask #4): a second fresh JVM runs ONE
    // measured pass and writes its per-query map to
    // SPARK_GRAFT_CHILD_OUT. The r12 root-cause of phantom
    // "regressions" is the per-JVM JIT-tier lottery — sticky within a
    // JVM, disjoint victim sets across JVMs — so a per-query min
    // ACROSS JVMs erases lottery victims that min-within-one-JVM
    // cannot. The child reuses the full warmup + shuffled-order
    // methodology; it skips artifacts, floor sampling and the drift
    // gate (parent-only concerns).
    if (sys.env.get("SPARK_GRAFT_JVM_ROLE").contains("child")) {
      val childPass = new scala.util.Random(303).shuffle(names)
        .map(n => n -> once(SparkEntry.queries(n))).toMap
      val json = names.map(n => "\"" + n + "\":" + childPass(n))
        .mkString("{", ",", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env("SPARK_GRAFT_CHILD_OUT")),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.stop()
      return
    }
    val pass1 = order1.map(n => n -> once(SparkEntry.queries(n))).toMap
    val pass2 = order2.map(n =>
      n -> once(SparkEntry.queries(n), countAs = Some(n))).toMap
    val measured0 = names.map { n =>
      val (a, b) = (pass1(n), pass2(n))
      // min of the successful passes; -1 only if BOTH failed
      val m = if (a < 0) b else if (b < 0) a else math.min(a, b)
      // adaptive third pass: a slow-looking query whose two timings
      // disagree badly — or where one pass failed outright, leaving a
      // single unchecked sample — is usually JIT/GC noise on the shared
      // box (a round-2 driver run published q03 at 4.8 s vs its usual
      // 1.7 s); one more measurement costs seconds and de-noises the min.
      // Thresholds per VERDICT r6 #5: queries that swung 1058-1279‰
      // between same-day runs (q150/q248) sat just under the old
      // 1.5×/1 s gate, so the gate is now 1.2× at ≥ 0.8 s
      val samples =
        if (m >= 0.8 && (a < 0 || b < 0 || math.max(a, b) > 1.2 * m)) {
          val t3 = once(SparkEntry.queries(n))
          Seq(a, b, t3)
        } else Seq(a, b)
      n -> samples
    }
    // spawn the second JVM AFTER the local passes (never concurrent —
    // two 32-thread Spark drivers sharing the box would corrupt both
    // timing sets) and min-merge its pass into the sample lists.
    // SPARK_GRAFT_JVMS=1 opts out; child failure fails OPEN to
    // jvm_runs=1 with a loud stderr note. Wall-clock cost: one extra
    // warmup + single pass (~40% of a one-JVM run) — the price of
    // erasing the JIT lottery from the committed artifact.
    // malformed value fails OPEN to the default like every other
    // child-JVM error path (ADVICE r13), never crashes the whole bench
    val wantJvms = sys.env.get("SPARK_GRAFT_JVMS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption.orElse {
        System.err.println(
          s"[bench] unparseable SPARK_GRAFT_JVMS='$v' — using default 2")
        None
      }).getOrElse(2)
    val childQ: Map[String, Double] = if (wantJvms < 2) Map.empty else {
      try {
        val outF = java.nio.file.Files.createTempFile("bench_child", ".json")
        val logF = java.nio.file.Files.createTempFile("bench_child", ".log")
        val javaBin = System.getProperty("java.home") + "/bin/java"
        import scala.jdk.CollectionConverters._
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala
          .filter(a => a.startsWith("--add-opens") || a.startsWith("-X") ||
            a.startsWith("-D"))
        val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp",
          System.getProperty("java.class.path"), "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_JVM_ROLE", "child")
        pb.environment().put("SPARK_GRAFT_CHILD_OUT", outF.toString)
        pb.redirectOutput(logF.toFile) // keep the parent's stdout JSON clean
        pb.redirectErrorStream(true)
        val p = pb.start()
        val ok = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES) &&
          p.exitValue() == 0
        if (!ok) {
          p.destroyForcibly()
          System.err.println(
            s"[bench] second-JVM pass FAILED (log: $logF) — artifact " +
              "falls back to jvm_runs=1")
          Map.empty
        } else {
          val line = new String(java.nio.file.Files.readAllBytes(outF),
            java.nio.charset.StandardCharsets.UTF_8)
          BenchCompare.parseFlatQueryMap(line)
        }
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] second-JVM spawn failed (${e.getMessage}) — " +
              "artifact falls back to jvm_runs=1")
          Map.empty
      }
    }
    val jvmRuns = if (childQ.nonEmpty) 2 else 1
    val measured = measured0.map { case (n, samples) =>
      n -> (samples ++ childQ.get(n).toSeq)
    }
    val results = measured.map { case (n, samples) =>
      val ok = samples.filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // spread = max/min over successful samples, permille — the measured
    // noise band per query, recorded so a "regression" in a future round
    // can be read against this round's variance before anyone tunes a
    // plan that didn't change
    val spread = measured.map { case (n, samples) =>
      val ok = samples.filter(_ >= 0)
      n -> (if (ok.isEmpty || ok.min == 0) -1L
        else math.round(ok.max / ok.min * 1000))
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-query fixed floor (VERDICT r10 ask #4): the scheduler +
    // plan-preparation cost of an effectively-empty query through the
    // SAME noop-write path the suite uses. 377 of r10's 476 queries are
    // sub-second yet sum to ~193 s — nearly all of it this floor — so
    // per-query cross-engine ratios must subtract it before a "slow"
    // verdict sends anyone auditing a healthy plan. Measured WARM
    // (after both passes): min is the floor a warm query cannot go
    // below; the median adds steady-state scheduler jitter.
    val floorSamples = (1 to 9).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val floorMin = floorSamples.min
    val floorMedian = floorSamples.sorted.apply(floorSamples.size / 2)
    // Full-precision, full-name detail goes to a FILE: the driver records
    // only the last ~2000 chars of stdout, and the 87-query full-name JSON
    // line (~3.9 KB) overflows that window — rounds 1-4 all published
    // BENCH_r{N}.json with "parsed": null because the line's head (the
    // headline "metric"/"value" fields) was truncated away.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spreadQs = spread.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // round-over-round drift gate (VERDICT r11 ask #6): compare against
    // the PREVIOUS committed bench_detail.json (still on disk at this
    // point — the artifact write below overwrites it) and publish what
    // moved, so a q286-class regression is caught the round it happens
    // the artifact path is cwd-relative BY DESIGN (reader and writer
    // share it), but a run from another working directory would fail
    // the gate OPEN and look like "no regressions" — say so out loud
    // instead (ADVICE r12)
    val prevPath = java.nio.file.Paths.get("bench_detail.json").toAbsolutePath
    val (prevQ, _) = BenchCompare.parseDetail(prevPath)
    if (prevQ.isEmpty) System.err.println(
      s"[bench] no previous artifact at $prevPath — round-over-round " +
        "drift gate is INACTIVE for this run (first run, or wrong cwd)")
    val regs = BenchCompare.regressions(prevQ, results.toMap, spread.toMap)
    if (regs.nonEmpty) System.err.println(
      s"[bench] ${regs.size} round-over-round regression(s): " +
        BenchCompare.toJson(regs))
    val jobsQs = jobCounts.toSeq.sortBy(_._1)
      .map { case (k, (j, st)) => "\"" + k + "\":[" + j + "," + st + "]" }
      .mkString("{", ",", "}")
    // cross-engine per-query screen (VERDICT r12 ask #7): when a DuckDB
    // twin artifact exists (the driver's BENCH_DUCKDB_r{N}.json, cwd),
    // flag every query over 2 s AND 2× its twin, annotating the
    // wave-exempt ones (≥25 jobs — fixed stage-wave cost) instead of
    // hiding them. Absent twin artifact → empty map, loudly.
    val twinQ: Map[String, Double] = {
      val dir = java.nio.file.Paths.get(".").toAbsolutePath
      // latest = max NUMERIC round (ADVICE r13: lexicographic compare
      // breaks at r100+ or unpadded names); stream closed via try/finally
      def roundOf(fn: String): Long =
        scala.util.Try(fn.stripPrefix("BENCH_DUCKDB_r")
          .stripSuffix(".json").takeWhile(_.isDigit).toLong).getOrElse(-1L)
      val stream = java.nio.file.Files.list(dir)
      var latest: Option[java.nio.file.Path] = None
      try {
        val cands = stream.iterator()
        while (cands.hasNext) {
          val p = cands.next()
          val fn = p.getFileName.toString
          if (fn.startsWith("BENCH_DUCKDB_r") && fn.endsWith(".json") &&
              roundOf(fn) >= 0 &&
              latest.forall(q => roundOf(q.getFileName.toString) < roundOf(fn)))
            latest = Some(p)
        }
      } finally stream.close()
      latest match {
        case None =>
          System.err.println(
            s"[bench] no BENCH_DUCKDB_r*.json under $dir — " +
              "twin_ratio_flags is empty for this run")
          Map.empty
        case Some(p) => BenchCompare.parseDetail(p)._1
      }
    }
    val twinFlags = BenchCompare.twinFlags(results.toMap, twinQ,
      jobCounts.view.mapValues(_._1).toMap)
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","jvm_runs":$jvmRuns,"floor_sec_min":$floorMin,"floor_sec_median":$floorMedian,"queries":$fullQs,"spread_permille":$spreadQs,"regressions":${BenchCompare.toJson(regs)},"twin_ratio_flags":${BenchCompare.twinFlagsJson(twinFlags)},"jobs_stages":$jobsQs,"sf":"$sfDir"}"""
    // stdout gets ONE compact line that fits the driver's tail window:
    // qNN short keys (the "qNN_" prefix is unique per query) at
    // centisecond precision, and only the 40 SLOWEST queries — at 142
    // queries even short full maps (~1.9 KB) collide with the 2000-char
    // window once sbt's trailing "[success]" line is in it. The slowest
    // tail is what a timing gate needs; the full map is in
    // bench_detail.json (committed) either way.
    def r2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val shortQs = results.sortBy { case (_, v) => -v }.take(40)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val shortLine =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","n_queries":${results.size},"floor_sec":${r2(floorMin)},"queries":$shortQs,"detail":"bench_detail.json","sf":"$sfDir"}"""
    // scale-violation / audit-error check comes BEFORE the artifact
    // writes (r10 ADVICE #5): an exit-3 run must not leave refreshed
    // bench_detail/bench_total JSON on disk looking like a valid run to
    // anything that reads the files instead of the exit code
    graft.plans.PlanAudit.flush(spark)
    val violations = audit.violations
    val auditErrors = audit.errors
    if (violations.nonEmpty || auditErrors.nonEmpty) {
      spark.stop()
      System.err.println(
        s"[bench] ${violations.size} executed-plan scale violation(s), " +
          s"${auditErrors.size} audit-internal error(s):\n" +
          (violations ++ auditErrors).mkString("\n"))
      sys.exit(3)
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the headline metric ALSO goes to a file: the driver's BENCH_r{N}
    // artifact parses stdout, where sbt used to prefix every line with
    // "[info] " (fixed via outputStrategy := StdoutOutput, but a file
    // needs no un-prefixing either way)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_total.json"),
      (shortLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // LAST line of stdout, after spark.stop()'s shutdown chatter, so
    // the driver's tail-window grep lands on it
    println(shortLine)
  }
}
