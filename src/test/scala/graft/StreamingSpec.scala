package graft

import org.apache.spark.sql.functions._
import graft.operators.Windows
import graft.streaming.EventStreams
import graft.streaming.EventStreams.SessionEvent

/** Drives the Structured Streaming path end to end on the sf0.001
  * events parquet via the memory sink and checks it agrees with the
  * same transform run in batch (the unification guarantee; complete
  * output mode because the aggregation is the whole query). */
class StreamingSpec extends SparkSpec {

  test("streaming hourly windows == batch hourly windows on sf0.001") {
    val dir = "/root/testdata/sf0.001"

    val batch = EventStreams.hourlyCounts(
        spark.read.schema(EventStreams.rawSchema)
          .parquet(s"$dir/events.parquet"))
      .collect().map(_.toSeq).toSet

    // the file stream source wants a directory: stage one
    val staged = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))

    val q = EventStreams.hourlyCountsStream(spark, staged.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful flatMapGroupsWithState sessionization == window-idiom q23 (batch)") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val evs = graft.io.Tables.events(spark, d)
      .select($"user_id", unix_micros($"ts").as("us")).as[SessionEvent]
    val stateful = EventStreams
      .sessionizeStateful(evs, 1800000000L, emitOpen = true)
      .collect()
      .map(s => (s.user_id, s.session_start, s.n_events, s.duration_sec)).toSet
    val windowed = Windows.q23Sessionize(spark, d)
      .select($"user_id", $"session_start", $"n_events", $"duration_sec")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
  }

  test("streaming sessionization carries state across microbatches") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    // two microbatches: split events by half on event_id order
    val staged = java.nio.file.Files.createTempDirectory("events_sessions")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    // split by TIME, not randomly: batches must arrive in event-time
    // order for gap-state to stitch correctly (like a real ingest)
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    val n = raw.count()
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)

    val batchSessions = EventStreams.sessionizeStateful(
        raw.select($"user_id", unix_micros($"ts").as("us")).as[SessionEvent],
        1800000000L, emitOpen = true)
      .collect().map(s => (s.user_id, s.session_start, s.n_events)).toSet

    val q = EventStreams.sessionsStream(spark, s"$staged/*", 1800000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("sessions_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // every CLOSED session emitted by the stream must be a real
      // session of the full dataset (state stitched across batches)
      assert(emitted.nonEmpty)
      val missing = emitted -- batchSessions
      assert(missing.isEmpty, s"streamed sessions not in batch set: ${missing.take(3)}")
      assert(n > 0)
    } finally q.stop()
  }

  test("stateful streaming funnel == batch q72 stage counts") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    // batch truth: stage -> n_users from the oracle-checked pipeline
    val batchCounts = graft.operators.Corpus.q72Funnel(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

    // stage the events as two time-ordered microbatches (same ingest
    // contract as the sessionization test)
    val staged = java.nio.file.Files.createTempDirectory("events_funnel")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)

    val q = EventStreams.funnelStream(spark, s"$staged/*")
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      q.processAllAvailable()
      // advances are monotone per user: max = final stage reached
      val finalStage = spark.table("funnel_out")
        .groupBy($"user_id").agg(max($"stage").as("stage"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamedCounts = (1L to 3L).map(sg =>
        sg -> finalStage.values.count(_ >= sg).toLong).toMap
      assert(streamedCounts == batchCounts,
        s"streamed $streamedCounts vs batch $batchCounts")
      assert(batchCounts(1L) > 0)
    } finally q.stop()
  }

  test("stateful rolling rate == batch q84 RANGE frame, across 2 microbatches") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batch = Windows.q84RangeFrame(spark, d).collect().map(_.toSeq).toSet

    val staged = java.nio.file.Files.createTempDirectory("events_rate")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // snap the split to an epoch-SECOND boundary: the rate operator's
    // contract is that a peer second never straddles microbatches
    val midSec = Math.floorDiv(lo + (hi - lo) / 2, 1000000L)
    raw.filter(unix_micros($"ts") < midSec * 1000000L).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") >= midSec * 1000000L).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)

    val q = EventStreams.rollingRateStream(spark, s"$staged/*")
      .writeStream.outputMode("append")
      .format("memory").queryName("rate_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("rate_out")
        .select($"user_id", $"event_id", $"ts_s", $"n_1h", $"sum_1h")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"rolling rate drifted: ${streamed.size} streamed vs ${batch.size} batch")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stateful streaming attribution == batch q113 daily report, across 2 microbatches") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batch = graft.operators.Behavior.q113Attribution(spark, d)
      .collect().map(_.toSeq).toSet

    val staged = java.nio.file.Files.createTempDirectory("events_attr")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)

    val q = EventStreams.attributionStream(spark, s"$staged/*")
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      // fold the per-purchase verdicts into q113's daily report shape
      val streamed = spark.table("attr_out")
        .groupBy(to_date(timestamp_micros($"us")).as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when($"attributed", 1L).otherwise(0L)).as("n_attributed"),
          coalesce(sum(when($"attributed", $"value").cast("decimal(18,2)")),
            lit(0).cast("decimal(18,2)")).cast("double").as("attributed_value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"attribution drifted: ${streamed.size} streamed days vs ${batch.size} batch")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join == batch interval join") {
    val d = "/root/testdata/sf0.001"
    val batch = EventStreams.purchaseClickJoin(
        graft.io.Tables.events(spark, d), lookbackSec = 6 * 3600)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture produced no attribution pairs")

    val staged = java.nio.file.Files.createTempDirectory("events_ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      staged.resolve("events.parquet"))
    val q = EventStreams.purchaseClickJoin(
        EventStreams.eventsStream(spark, staged.toString), lookbackSec = 6 * 3600)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: matches == batch; null rows only after watermark") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val look = 6 * 3600
    val inner = EventStreams.purchaseClickJoin(
        graft.io.Tables.events(spark, d), look)
      .collect().map(_.toSeq).toSet
    val outerNulls = EventStreams.purchaseClickOuter(
        graft.io.Tables.events(spark, d), look)
      .filter($"c_id".isNull).collect().map(_.toSeq).toSet
    assert(outerNulls.nonEmpty, "fixture has no unmatched purchases")

    // two microbatches so the watermark activates and releases the
    // early unmatched purchases as null rows
    val staged = java.nio.file.Files.createTempDirectory("events_sso")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)
    java.nio.file.Files.walk(staged.resolve("b2")).forEach { p =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 60000))
    }
    val q = EventStreams.purchaseClickOuter(
        EventStreams.eventsStream(spark, s"$staged/*"), look)
      .writeStream.outputMode("append")
      .format("memory").queryName("sso_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sso_out").collect().map(_.toSeq)
      val (nulls, matched) = streamed.partition(_.last == null)
      // matched rows are exactly the batch inner join
      assert(matched.toSet == inner)
      // every emitted null row is a true batch-outer null; the tail of
      // the stream (watermark never passed it) may be withheld — outer
      // results are eventually-complete, not immediate
      assert(nulls.toSet.subsetOf(outerNulls))
      assert(nulls.nonEmpty,
        "watermark released no unmatched purchases — split did not activate")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark keeps exactly the distinct key set") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batchKeys = graft.io.Tables.events(spark, d)
      .select($"event_type", date_trunc("day", $"ts").as("day"))
      .distinct().collect().map(_.toSeq).toSet

    val staged = java.nio.file.Files.createTempDirectory("events_dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      staged.resolve("events.parquet"))
    val q = EventStreams.dedupWithinWatermark(
        EventStreams.eventsStream(spark, staged.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_out").collect().map(_.toSeq)
      // one row per key (duplicates actually dropped), same key set
      assert(streamed.length == streamed.toSet.size)
      assert(streamed.toSet == batchKeys)
      // the fixture must actually contain duplicates for this to test
      val nRaw = graft.io.Tables.events(spark, d).count()
      assert(nRaw > batchKeys.size, "no duplicate keys in fixture — weaken the key")
    } finally q.stop()
  }

  test("watermark actually DROPS a late event in append mode (q166's tail, live)") {
    import spark.implicits._
    // Watermark activation is one batch DELAYED: the late-event filter
    // for batch N uses the watermark computed from batch N-1's stats
    // (watermarkForLateEvents), so a drop needs three batches — b1
    // advances event time 5h, b2 (any on-time row) activates that
    // watermark for late filtering, b3 replays an event from b1's hour
    // (now 3h past the 2h watermark) and MUST be dropped.
    val staged = java.nio.file.Files.createTempDirectory("events_late")
    def mk(id: Long, us: Long) =
      (id, us, 1L, "view", 1.0, "{}")
    def write(name: String, mtimePlusMs: Long, rows: (Long, Long, Long, String, Double, String)*): Unit = {
      rows.toSeq.toDF(
          "event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros($"ts"))
        .coalesce(1).write.parquet(staged.resolve(name).toString)
      // the file source orders batches by mod time (second granularity)
      java.nio.file.Files.walk(staged.resolve(name)).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + mtimePlusMs))
      }
    }
    val t0 = 1700000000000000L // µs; any stable epoch
    write("b1", 0, mk(1, t0), mk(2, t0 + 5L * 3600 * 1000000))
    write("b2", 60000, mk(4, t0 + 5L * 3600 * 1000000 + 60000000))
    write("b3", 120000, mk(3, t0 + 1000)) // b1's hour — 3h late now

    val q = EventStreams.hourlyCounts(
        spark.readStream.schema(EventStreams.rawSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$staged/*"))
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      val prog = q.recentProgress.map(p =>
        s"batch=${p.batchId} rows=${p.numInputRows} wm=${p.eventTime.get("watermark")} " +
          s"dropped=${p.stateOperators.map(_.numRowsDroppedByWatermark).sum} " +
          s"out=${p.sink.numOutputRows}")
      val finalized = spark.table("late_out")
        .select($"hour_start", $"n").as[(String, Long)].collect().toMap
      // the first hour finalized with ONE event: the late replay (id 3)
      // was dropped by the 2h watermark, not merged
      val firstHour = finalized.keys.min
      assert(finalized(firstHour) == 1L,
        s"late event was not dropped: $finalized; progress: ${prog.mkString(" | ")}")
      // the drop is observable in the state-operator metrics too
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped == 1L, s"expected 1 watermark drop, saw $dropped: ${prog.mkString(" | ")}")
    } finally q.stop()
  }

  test("native session_window stream merges fragments across microbatches == batch q26") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batch = EventStreams.sessionCounts(graft.io.Tables.events(spark, d))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)

    // split mid-stream so sessions straddling the cut must MERGE:
    // their first fragment arrives in batch 1, the rest in batch 2
    val staged = java.nio.file.Files.createTempDirectory("events_sw")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)
    // the split must actually cut through sessions for this to test
    assert(raw.filter(unix_micros($"ts") <= mid).count() > 0 &&
      raw.filter(unix_micros($"ts") > mid).count() > 0)

    val q = EventStreams.sessionCountsStream(spark, s"$staged/*")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sw_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sw_out").collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming Misra-Gries retains every batch heavy hitter, est <= exact") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val k = 9
    // batch truth over the same synthetic-skew key as q100
    val keyed = graft.io.Tables.events(spark, d)
      .select(when($"user_id" % 10 < 7, $"user_id" % 3)
        .otherwise($"user_id").as("key"))
    val exact = keyed.groupBy($"key").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val heavy = exact.filter { case (_, c) => c * 10 > n }.keySet
    assert(heavy.nonEmpty, "fixture lost its synthetic skew")

    val staged = java.nio.file.Files.createTempDirectory("events_hh")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)

    val q = EventStreams.heavyHittersStream(spark, s"$staged/*", k)
      .writeStream.outputMode("update")
      .format("memory").queryName("hh_out").start()
    try {
      q.processAllAvailable()
      // latest snapshot per shard = the live candidate table
      val snaps = spark.table("hh_out")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"shard")
            .orderBy($"n".desc)))
        .filter($"rn" === 1)
        .select($"shard", $"n", $"keys", $"ests").collect()
      val candidates = snaps.flatMap { r =>
        val keys = r.getAs[scala.collection.Seq[Long]]("keys")
        val ests = r.getAs[scala.collection.Seq[Long]]("ests")
        keys.zip(ests)
      }.toMap
      // every global heavy hitter survived its shard's summary
      assert(heavy.subsetOf(candidates.keySet),
        s"lost heavy hitters: ${heavy -- candidates.keySet}")
      // MG one-sided bound: estimates never exceed the true count
      candidates.foreach { case (key, est) =>
        assert(est <= exact(key), s"overcount for $key: $est > ${exact(key)}")
      }
      // per-shard counts cover the whole stream (no dropped rows)
      assert(snaps.map(_.getAs[Long]("n")).sum == n)
    } finally q.stop()
  }

  test("transformWithState: v2 running totals converge to batch across microbatches") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    // two time-ordered microbatches
    val staged = java.nio.file.Files.createTempDirectory("events_tws")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)
    // batch oracle with the identical cents expression
    val batch = raw
      .select($"event_type", ($"value" * 100).cast("long").as("cents"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the v2 API requires the RocksDB state store provider
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = EventStreams.typeTotalsStream(spark, s"$staged/*")
      .writeStream.outputMode("update")
      .format("memory").queryName("tws_out").start()
    try {
      q.processAllAvailable()
      val updates = spark.table("tws_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(updates.nonEmpty)
      // per key: updates are strictly increasing in n (state carried
      // across batches, never reset), and the LAST update equals batch
      updates.groupBy(_._1).foreach { case (k, rows) =>
        val ns = rows.map(_._2).sorted
        assert(ns.distinct.length == ns.length, s"$k: repeated totals $ns")
        val (bn, bc) = batch(k)
        assert(ns.last == bn, s"$k: final n ${ns.last} != batch $bn")
        assert(rows.map(_._3).max == bc, s"$k: final cents != batch")
      }
      // every batch key reached the sink
      assert(updates.map(_._1).toSet == batch.keySet)
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming first-seen emits each user once, on their true first day") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("events_fs")
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$d/events.parquet")
    val Array(lo, hi) = raw.agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    raw.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.parquet(staged.resolve("b1").toString)
    raw.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.parquet(staged.resolve("b2").toString)

    val batch = graft.io.Tables.events(spark, d)
      .select($"user_id", to_date($"ts").as("day"))
      .groupBy($"user_id").agg(min($"day").cast("string").as("day"))
      .as[(Long, String)].collect().toSet

    val q = EventStreams.firstSeenStream(spark, s"$staged/*")
      .writeStream.outputMode("append")
      .format("memory").queryName("fs_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("fs_out")
        .as[(Long, String)].collect()
      // exactly-once per user, and the day matches the batch min
      assert(streamed.length == streamed.map(_._1).distinct.length,
        "a user was emitted twice")
      assert(streamed.toSet == batch,
        s"first-seen drift: ${streamed.size} streamed vs ${batch.size} batch")
    } finally q.stop()
  }

  test("streaming SRM sentinel == batch transform on the same events") {
    val d = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("ev_srm")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      staged.resolve("events.parquet"))
    val batch = EventStreams.srmSentinel(
      spark.read.schema(EventStreams.rawSchema)
        .parquet(staged.resolve("events.parquet").toString))
      .collect().map(_.toSeq).toSet
    val q = EventStreams.srmSentinelStream(spark, staged.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("srm_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("srm_out").collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
      // the bucketing under test is healthy: no alert-level hour
      assert(batch.forall(r => r.last == 0L))
    } finally q.stop()
  }

  test("streaming value-quantile sentinel == batch transform") {
    val d = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("ev_vq")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      staged.resolve("events.parquet"))
    val batch = EventStreams.valueQuantiles(
      spark.read.schema(EventStreams.rawSchema)
        .parquet(staged.resolve("events.parquet").toString))
      .collect().map(_.toSeq).toSet
    val q = EventStreams.valueQuantilesStream(spark, staged.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("vq_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("vq_out").collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
      // quantile readouts are ordered and come from the bucket grid
      val grid = EventStreams.quantileBuckets.toSet + 999999L
      batch.foreach { r =>
        val (p50, p90, p99) =
          (r(2).asInstanceOf[Long], r(3).asInstanceOf[Long], r(4).asInstanceOf[Long])
        assert(p50 <= p90 && p90 <= p99)
        assert(grid(p50) && grid(p90) && grid(p99))
      }
    } finally q.stop()
  }

  test("streaming surprisal scorer == batch stateful twin, reconciles with q343") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("ev_surp")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      staged.resolve("events.parquet"))
    val model = EventStreams.surprisalModel(spark, staged.toString)
    assert(model.nonEmpty && model.size <= 25) // |event_types|^2 bounded
    // batch application of the same stateful function
    val batchEvs = spark.read.schema(EventStreams.rawSchema)
      .parquet(staged.resolve("events.parquet").toString)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select($"user_id", $"ts".cast("date").cast("string").as("day"),
        $"event_type", unix_micros($"ts").as("us"), $"event_id")
      .as[EventStreams.TransEvent]
    val batch = EventStreams.surprisalStateful(batchEvs, model)
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n"), sum($"s_micro").as("sp"))
      .as[(Long, String, Long, Long)].collect().map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val q = EventStreams.surprisalStream(spark, staged.toString, model)
      .writeStream.outputMode("append")
      .format("memory").queryName("surp_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("surp_out")
        .groupBy($"user_id", $"day")
        .agg(count(lit(1)).as("n"), sum($"s_micro").as("sp"))
        .as[(Long, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(streamed == batch && streamed.nonEmpty)
      // reconciliation: q343's ranked sessions carry the same totals
      val q343 = graft.operators.Behavior.q343SessionSurprisal(spark, d)
        .as[(Long, Long, java.sql.Date, Long, Long, Long)].collect()
      q343.foreach { case (_, uid, day, nTrans, surprise, _) =>
        assert(batch((uid, day.toString)) == ((nTrans, surprise)))
      }
    } finally q.stop()
  }
}
