package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.io.Tables

/** Structured Streaming surface (SURVEY.md §2.10 north-star): the
  * events table as a stream — the same hourly windowed aggregation the
  * batch engine runs as q24, expressed once over an input DataFrame so
  * batch and streaming share the transform (the Structured Streaming
  * unification contract).
  *
  * Scale notes: the windowed aggregate carries a 2-hour watermark so
  * state is bounded (late events beyond it are dropped); parallelism
  * comes from the (window × event_type) grouping key like any hash
  * aggregation.
  */
object EventStreams {

  /** Read-side schema of the events parquet (current testdata
    * generation: TIMESTAMP(MICROS); declaring TimestampType reads the
    * micros with no adjustment under the UTC sessions). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming events reader, generation-aware like the batch
    * [[graft.io.Tables.events]]: probes the directory's parquet footer
    * (through the session's schema cache in [[graft.io.Tables]], so a
    * restarted stream over unchanged files infers nothing) for the `ts`
    * physical type — a TIMESTAMP(NANOS) generation
    * surfaces as LongType under the builder-set legacy conf, a
    * TIMESTAMP(MICROS) generation as a timestamp — declares the
    * matching read schema, and normalizes to a session-zone
    * TimestampType column either way, so every stream below is
    * generation-agnostic. A builder-less session meeting a nanos file
    * gets the same actionable error as the batch path. */
  def readEventsStream(s: SparkSession, eventsDir: String,
      oneFilePerTrigger: Boolean = true): DataFrame = {
    val probed = Tables.nanosChecked(eventsDir)(Tables.readPath(s, eventsDir).schema)
    val tsType = probed("ts").dataType
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val rd0 = s.readStream.schema(schema)
    val rd = if (oneFilePerTrigger) rd0.option("maxFilesPerTrigger", "1") else rd0
    Tables.eventsTs(rd.parquet(eventsDir))
  }

  /** Shared transform: nanos → timestamp, watermark, 1-hour tumbling
    * windows per event type. Works on both batch and streaming inputs. */
  def hourlyCounts(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"event_type", $"n", $"total_value")
  }

  /** Streaming entry: file-source stream over the events parquet. The
    * file source wants a directory, so `eventsDir` must contain (only)
    * events parquet files — callers with a single-file layout stage a
    * directory (see StreamingSpec). */
  def hourlyCountsStream(s: SparkSession, eventsDir: String): DataFrame = {
    hourlyCounts(readEventsStream(s, eventsDir, oneFilePerTrigger = false))
  }

  /** Streaming sample-ratio-mismatch sentinel — q302's online face:
    * per 1-hour event window, arm counts (user-id parity — the
    * bucketing function under test), the χ² against 50/50, and
    * warn/alert flags at the 3.841 / 10.828 criticals. A biased
    * bucketing deploy shows up here within one watermark delay instead
    * of at the end of the experiment. Same shape as [[hourlyCounts]]
    * (watermarked tumbling window, partial-agg counts); the χ² is a
    * per-row projection after the aggregation, so the state cost is
    * the windowed count state only. */
  def srmSentinel(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(when($"user_id" % 2 === 0, lit(1))).as("n0"),
        count(when($"user_id" % 2 === 1, lit(1))).as("n1"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"n0", $"n1",
        expr("""CAST(floor(CAST((n0 - n1) AS DOUBLE) * (n0 - n1)
            / (n0 + n1) * 1000.0) AS BIGINT)""").as("chi_milli"))
      .withColumn("warn", ($"chi_milli" > 3841L).cast("long"))
      .withColumn("alert", ($"chi_milli" > 10828L).cast("long"))
  }

  /** Streaming entry for [[srmSentinel]]. */
  def srmSentinelStream(s: SparkSession, eventsDir: String): DataFrame =
    srmSentinel(readEventsStream(s, eventsDir, oneFilePerTrigger = false))

  /** Geometric cent thresholds for [[valueQuantiles]]: the quantile
    * readout is the smallest threshold whose cumulative count reaches
    * the rank, i.e. a CONSERVATIVE upper bound at bucket resolution. */
  private[graft] val quantileBuckets: Seq[Long] =
    Seq(100L, 200L, 500L, 1000L, 2000L, 5000L, 10000L, 20000L, 50000L)

  private def bucketCase(phi: Int): String =
    quantileBuckets.zipWithIndex.map { case (t, i) =>
      s"WHEN 100 * c${i + 1} >= $phi * n THEN $t"
    }.mkString("CAST(CASE ", " ", " ELSE 999999 END AS BIGINT)")

  /** Streaming value-quantile sentinel: per 1-hour window, p50/p90/p99
    * of the event value as bucket-histogram upper bounds. The trick
    * that makes this STREAMING-SAFE in append mode is that the
    * cumulative bucket counters are conditional counts INSIDE the one
    * windowed aggregation (c_i = #{value ≤ t_i} — monotone by
    * construction), and the quantile selection is a stateless CASE
    * projection after it: single stateful operator, watermark-bounded
    * state, no second aggregation, no per-window sort. Bucket
    * resolution is the contract (9 geometric thresholds); exact
    * within-bucket quantiles are the batch engine's job (q57/q149).
    * Works identically on batch input — q335 registers that twin
    * against a DuckDB oracle. */
  def valueQuantiles(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val counters = quantileBuckets.zipWithIndex.map { case (t, i) =>
      count(when($"c" <= t, lit(1))).as(s"c${i + 1}")
    }
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withColumn("c", ($"value".cast("decimal(18,2)") * 100).cast("long"))
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), counters: _*)
      .select(Seq(
        date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"n",
        expr(bucketCase(50)).as("p50_le_cents"),
        expr(bucketCase(90)).as("p90_le_cents"),
        expr(bucketCase(99)).as("p99_le_cents")): _*)
  }

  /** Streaming entry for [[valueQuantiles]]. */
  def valueQuantilesStream(s: SparkSession, eventsDir: String): DataFrame =
    valueQuantiles(readEventsStream(s, eventsDir, oneFilePerTrigger = false))

  /** q335's DuckDB oracle — generated from the same bucket list and
    * CASE builder as the engine side. */
  val q335Oracle: String = {
    val sums = quantileBuckets.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN c <= $t THEN 1 ELSE 0 END) AS BIGINT) AS c${i + 1}"
    }.mkString(",\n           ")
    s"""WITH ev AS (
         SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         FROM events),
       agg AS (
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           CAST(count(*) AS BIGINT) AS n,
           $sums
         FROM ev GROUP BY 1)
       SELECT hour_start, n,
         ${bucketCase(50)} AS p50_le_cents,
         ${bucketCase(90)} AS p90_le_cents,
         ${bucketCase(99)} AS p99_le_cents
       FROM agg ORDER BY hour_start"""
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  case class SessionEvent(user_id: Long, us: Long)
  case class OpenSession(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, session_start: String,
      n_events: Long, duration_sec: Long)

  private def fmtUs(us: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Gap-based sessionization as CUSTOM STREAMING STATE (SURVEY.md
    * §2.10 north star): per user, an open session survives in
    * GroupState across microbatches; sessions closed by a gap >
    * `gapUs` are emitted. `emitOpen=true` flushes the trailing open
    * session too — the right semantics for batch mode (one invocation,
    * state then discarded), asserted equal to the window-idiom q23 in
    * StreamingSpec. Same boundary rule as q23: strict `gap > gapUs`. */
  def sessionizeStateful(events: Dataset[SessionEvent], gapUs: Long,
      emitOpen: Boolean): Dataset[Session] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          val times = it.map(_.us).toArray
          java.util.Arrays.sort(times)
          var closed = List.empty[OpenSession]
          var cur = state.getOption
          times.foreach { t =>
            cur = cur match {
              case None => Some(OpenSession(t, t, 1))
              case Some(o) if t - o.last > gapUs =>
                closed ::= o; Some(OpenSession(t, t, 1))
              case Some(o) => Some(o.copy(last = math.max(o.last, t), n = o.n + 1))
            }
          }
          cur.foreach(state.update)
          val out = if (emitOpen) closed.reverse ++ cur.toList else closed.reverse
          out.iterator.map(o =>
            Session(user, fmtUs(o.start), o.n, (o.last - o.start) / 1000000L))
      }
  }

  /** Streaming sessionization over the staged events dir (closed
    * sessions only — open ones stay in state awaiting more batches). */
  def sessionsStream(s: SparkSession, eventsDir: String, gapUs: Long): Dataset[Session] = {
    import s.implicits._
    val evs = readEventsStream(s, eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us")).as[SessionEvent]
    sessionizeStateful(evs, gapUs, emitOpen = false)
  }

  // ---- stateful funnel tracking (flatMapGroupsWithState) ----

  case class FunnelEvent(user_id: Long, event_type: String, us: Long)
  /** Per-user funnel progress: first view time, first qualifying click
    * time, first qualifying purchase time (-1 = not reached). */
  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelAdvance(user_id: Long, stage: Long)

  /** The streaming twin of the batch funnel (q72) as CUSTOM STATE: a
    * user's funnel progress survives in GroupState across microbatches,
    * and a row is emitted each time the user ADVANCES a stage (stage is
    * monotone per user, so downstream consumers can max-aggregate).
    *
    * Semantics match Corpus.funnelStages given event-time-ordered
    * batch arrival (the same contract the stateful sessionizer
    * documents): t1 = first view; t2 = first click strictly after t1;
    * t3 = first purchase strictly after t2. State is three longs per
    * user — bounded regardless of stream length; users who never view
    * keep no state at all. */
  def funnelStateful(events: Dataset[FunnelEvent]): Dataset[FunnelAdvance] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val evs = it.toArray.sortBy(e => (e.us, e.event_type))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val stage0 = if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2
            else if (st.t1 >= 0) 1 else 0
          evs.foreach { e =>
            e.event_type match {
              case "view" if st.t1 < 0 => st = st.copy(t1 = e.us)
              case "click" if st.t1 >= 0 && st.t2 < 0 && e.us > st.t1 =>
                st = st.copy(t2 = e.us)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 && e.us > st.t2 =>
                st = st.copy(t3 = e.us)
              case _ => ()
            }
          }
          val stage1 = if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2
            else if (st.t1 >= 0) 1 else 0
          if (stage1 > stage0) {
            state.update(st)
            // one row per newly reached stage keeps monotonicity explicit
            ((stage0 + 1) to stage1).iterator
              .map(sg => FunnelAdvance(user, sg.toLong))
          } else {
            if (stage1 > 0) state.update(st)
            Iterator.empty
          }
      }
  }

  // ---- stateful rolling rate (flatMapGroupsWithState) ----

  case class RateEvent(user_id: Long, event_id: Long, us: Long, vmilli: Long)
  /** Per-user sliding deque of (epoch-second, milli-value) pairs still
    * inside the trailing hour — bounded by TIME, not row count (the
    * same state contract as Spark's value-RANGE frame in q84). */
  case class RateState(ts: Seq[Long], vm: Seq[Long])
  case class RateRow(user_id: Long, event_id: Long, ts_s: Long,
      n_1h: Long, sum_1h: Long)

  /** The streaming twin of q84's trailing-hour RANGE frame as CUSTOM
    * STATE: per user, each event is emitted with the count and
    * milli-quantized sum of the same user's events in [t−3600 s, t].
    * This is the velocity / rate-limit feature computed online instead
    * of over a table.
    *
    * RANGE-frame peer semantics are preserved: rows sharing an epoch
    * second are processed as one peer group and all emitted with the
    * group's closing totals (so the output matches q84 row for row).
    * Contract, as for the other stateful ops: event-time-ordered
    * arrival across microbatches, and a peer second must not straddle
    * a batch boundary. State per user is only the trailing hour's
    * events — eviction happens on every append, so a key that goes
    * quiet holds at most one stale hour until its next event. */
  def rollingRateStateful(events: Dataset[RateEvent]): Dataset[RateRow] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[RateEvent], state: GroupState[RateState]) =>
          val evs = it.toArray.sortBy(e => (e.us, e.event_id))
          val st = state.getOption.getOrElse(RateState(Nil, Nil))
          val ts = scala.collection.mutable.ArrayBuffer(st.ts: _*)
          val vm = scala.collection.mutable.ArrayBuffer(st.vm: _*)
          val out = scala.collection.mutable.ArrayBuffer.empty[RateRow]
          var run = vm.sum // O(|state|) once; incremental afterwards
          // walk peer groups (whole epoch seconds) so same-second rows
          // share their closing frame totals, like a RANGE frame
          var i = 0
          while (i < evs.length) {
            val sec = Math.floorDiv(evs(i).us, 1000000L)
            var j = i
            while (j < evs.length && Math.floorDiv(evs(j).us, 1000000L) == sec) j += 1
            (i until j).foreach { k =>
              ts += sec; vm += evs(k).vmilli; run += evs(k).vmilli
            }
            while (ts.nonEmpty && ts.head < sec - 3600L) {
              run -= vm.head; ts.remove(0); vm.remove(0)
            }
            val n = ts.length.toLong
            (i until j).foreach { k =>
              out += RateRow(user, evs(k).event_id, sec, n, run)
            }
            i = j
          }
          if (ts.nonEmpty) state.update(RateState(ts.toSeq, vm.toSeq))
          out.iterator
      }
  }

  // ---- stateful last-touch attribution (flatMapGroupsWithState) ----

  case class AttribEvent(user_id: Long, event_id: Long, is_click: Boolean,
      us: Long, value: Double)
  case class LastClick(us: Long)
  case class Attribution(user_id: Long, event_id: Long, us: Long,
      attributed: Boolean, value: Double)

  /** The streaming twin of q113's last-touch attribution as CUSTOM
    * STATE: per user, the latest click time survives in GroupState (ONE
    * long — the minimal attribution state), and every purchase is
    * emitted on arrival with its attribution verdict (click within the
    * trailing `windowUs`). This is attribution computed online — the
    * shape an event collector ships to billing in near-real-time —
    * versus q113's as-of join over the warehouse table.
    *
    * Same ingest contract as the other stateful twins: event-time-
    * ordered arrival across microbatches. Within a batch, clicks sort
    * before purchases at the same microsecond, matching the as-of
    * join's at-or-before (`ts >= c_ts`) semantics exactly. */
  def attributionStateful(events: Dataset[AttribEvent],
      windowUs: Long): Dataset[Attribution] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AttribEvent], state: GroupState[LastClick]) =>
          val evs = it.toArray
            .sortBy(e => (e.us, if (e.is_click) 0 else 1, e.event_id))
          var last = state.getOption.map(_.us).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
          evs.foreach { e =>
            if (e.is_click) last = math.max(last, e.us)
            else out += Attribution(user, e.event_id, e.us,
              last != Long.MinValue && e.us - last <= windowUs, e.value)
          }
          if (last != Long.MinValue) state.update(LastClick(last))
          out.iterator
      }
  }

  // ---- stateful first-seen detection (streaming distinct) ----

  case class FirstSeen(user_id: Long, day: String)

  /** Streaming new-user detection — the online half of q233's
    * cumulative-distinct identity: a user's FIRST event emits exactly
    * one (user, day) row; everything after is suppressed by a 1-bit
    * per-key state. Downstream, `count by day` of this stream IS the
    * new-users series, and its running sum the cumulative distinct —
    * maintained without ever re-scanning history (the batch query's
    * first-occurrence trick, flipped into per-key state). State is one
    * boolean per user — the honest cost of streaming distinct; at
    * 100 TB-of-users scale this is where a TTL or an approximate
    * filter (q49's bloom) takes over, traded explicitly against exact
    * semantics. Ingest contract: microbatches arrive in event-time
    * order (same as sessions/funnel), else "first" is
    * processing-order. */
  def firstSeenStateful(evs: Dataset[SessionEvent]): Dataset[FirstSeen] = {
    val s = evs.sparkSession
    import s.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, FirstSeen](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            val firstUs = rows.map(_.us).min
            state.update(true)
            val day = java.time.Instant.ofEpochSecond(firstUs / 1000000L)
              .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
            Iterator.single(FirstSeen(user, day))
          }
      }
  }

  /** Streaming first-seen over a staged events dir. */
  def firstSeenStream(s: SparkSession, eventsDir: String): Dataset[FirstSeen] = {
    import s.implicits._
    readEventsStream(s, eventsDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us")).as[SessionEvent]
      .transform(firstSeenStateful)
  }

  /** Streaming attribution over the staged events dir (1-hour window). */
  def attributionStream(s: SparkSession, eventsDir: String): Dataset[Attribution] = {
    import s.implicits._
    eventsStream(s, eventsDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"),
        (col("event_type") === "click").as("is_click"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[AttribEvent]
      .transform(attributionStateful(_, 3600000000L))
  }

  /** Streaming rolling rate over the staged events dir. */
  def rollingRateStream(s: SparkSession, eventsDir: String): Dataset[RateRow] = {
    import s.implicits._
    readEventsStream(s, eventsDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 1000).cast("long").as("vmilli")).as[RateEvent]
      .transform(rollingRateStateful)
  }

  /** Streaming funnel over the staged events dir. */
  def funnelStream(s: SparkSession, eventsDir: String): Dataset[FunnelAdvance] = {
    import s.implicits._
    val evs = readEventsStream(s, eventsDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).as[FunnelEvent]
    funnelStateful(evs)
  }

  // ---- stateful streaming session surprisal (q343's online face) ----

  case class TransEvent(user_id: Long, day: String, event_type: String,
      us: Long, event_id: Long)
  case class LastEvent(event_type: String, us: Long, event_id: Long)
  case class ScoredTrans(user_id: Long, day: String, s_micro: Long)

  /** Score arriving event transitions against an OFFLINE-trained
    * first-order transition model (q343's LM, broadcast into the
    * closure) — the canonical "train batch, score stream" deploy
    * shape. State per (user, day) is ONE LastEvent (bounded); each
    * microbatch sorts its slice by (us, event_id) — the same order
    * q343's lead() window uses — prepends the carried last event,
    * and emits one scored row per transition. Unknown transitions
    * (never seen in training) emit nothing, exactly like the batch
    * join. Aggregation/ranking is downstream's choice (the
    * funnelStateful contract: emit the advance, let consumers
    * aggregate). */
  def surprisalStateful(events: Dataset[TransEvent],
      model: Map[(String, String), Long]): Dataset[ScoredTrans] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState[LastEvent, ScoredTrans](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), it: Iterator[TransEvent],
            state: GroupState[LastEvent]) =>
          val evs = it.toArray.sortBy(e => (e.us, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[ScoredTrans]
          evs.foreach { e =>
            last.foreach { l =>
              model.get((l.event_type, e.event_type)).foreach { sm =>
                out += ScoredTrans(key._1, key._2, sm)
              }
            }
            last = Some(LastEvent(e.event_type, e.us, e.event_id))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Row bound of the collected transition model: |event_types|² for
    * up to 256 event types. */
  val MaxTransitions: Int = 1 << 16

  /** The q343 transition model from a BATCH read of the same events —
    * ⌊ln(c_a/c_ab)·10⁶⌋ per observed transition. Bounded by
    * |event_types|², held to [[MaxTransitions]] by a named `require`. */
  def surprisalModel(s: SparkSession, eventsDir: String): Map[(String, String), Long] = {
    val seq = s.read.schema(rawSchema).parquet(eventsDir)
      .withColumn("ts", col("ts").cast(TimestampType))
      .select(col("user_id"), col("ts").cast("date").cast("string").as("day"),
        col("ts"), col("event_type"), col("event_id"))
      .withColumn("nxt", lead(col("event_type"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    val rows = seq.limit(MaxTransitions + 1).collect()
    require(rows.length <= MaxTransitions,
      s"surprisalModel: more than MaxTransitions = $MaxTransitions event-type transitions")
    val gc = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ca = gc.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    gc.map { case (a, b, cab) =>
      (a, b) -> math.floor(math.log(ca(a).toDouble / cab) * 1000000.0).toLong
    }.toMap
  }

  /** Streaming entry: file-source stream scored against the offline
    * model built from `modelDir` (typically a historical snapshot). */
  def surprisalStream(s: SparkSession, eventsDir: String,
      model: Map[(String, String), Long]): Dataset[ScoredTrans] = {
    import s.implicits._
    val evs = readEventsStream(s, eventsDir)
      .select(col("user_id"), col("ts").cast("date").cast("string").as("day"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[TransEvent]
    surprisalStateful(evs, model)
  }

  // ---- stateful streaming heavy hitters (q100's online twin) ----

  case class HHEvent(key: Long, shard: Int)
  case class HHSnapshot(shard: Int, n: Long, keys: Array[Long], ests: Array[Long])

  /** Streaming Misra–Gries heavy hitters: the online twin of q100's
    * batch udaf. State is keyed by SHARD (key % nShards), each shard
    * folding its sub-stream through the same [[MisraGries]] algebra the
    * batch query aggregates with — O(k) state per shard, forever, no
    * watermark needed (the summary is the eviction policy).
    *
    * Sharding is the scale story AND stays lossless: shards partition
    * the key space, so a key's whole count lives in one shard, and any
    * globally heavy key (count > n/(k+1)) is heavy in its shard too
    * (count > n/(k+1) ≥ n_shard/(k+1)) — the shard-union candidate set
    * retains every global heavy hitter, to then be exactly counted in
    * a targeted second pass (q100's verification side). Each batch
    * emits the shard's current snapshot (Update mode); the latest
    * snapshot per shard is the live candidate table. */
  def heavyHittersStateful(events: Dataset[HHEvent], k: Int)
      : Dataset[HHSnapshot] = {
    val s = events.sparkSession
    import s.implicits._
    val mg = new graft.functions.MisraGries(k)
    events.groupByKey(_.shard)
      .mapGroupsWithState[(Long, Map[Long, Long]), HHSnapshot](
        GroupStateTimeout.NoTimeout) {
        (shard: Int, it: Iterator[HHEvent], state: GroupState[(Long, Map[Long, Long])]) =>
          var (n, buf) = state.getOption.getOrElse((0L, Map.empty[Long, Long]))
          it.foreach { e => buf = mg.reduce(buf, e.key); n += 1L }
          state.update((n, buf))
          val sorted = buf.toSeq.sortBy(_._1)
          HHSnapshot(shard, n, sorted.map(_._1).toArray, sorted.map(_._2).toArray)
      }
  }

  /** Streaming heavy hitters over the staged events dir, with q100's
    * synthetic-skew key (70 % of rows collapse onto user_id % 3). */
  def heavyHittersStream(s: SparkSession, eventsDir: String, k: Int = 9,
      nShards: Int = 8): Dataset[HHSnapshot] = {
    import s.implicits._
    readEventsStream(s, eventsDir)
      .select(when(col("user_id") % 10 < 7, col("user_id") % 3)
        .otherwise(col("user_id")).as("key"))
      .select(col("key"), (col("key") % nShards).cast("int").as("shard"))
      .as[HHEvent]
      .transform(heavyHittersStateful(_, k))
  }

  // ---- stream-stream interval join + streaming dedup ----

  /** Attribution-style stream-stream interval join: each purchase joins
    * the same user's clicks from the preceding `lookbackSec` seconds.
    * Written once over DataFrames so batch and streaming share it; in
    * streaming BOTH sides carry watermarks and the time-range condition
    * bounds join state (Spark evicts rows once the watermark passes
    * `p_ts - lookback` / `c_ts + lookback`) — unbounded state otherwise,
    * the stream-stream equivalent of the q64 bucket bound. Input needs
    * µs `ts`, `event_id`, `user_id`, `event_type`. */
  def purchaseClickJoin(events: DataFrame, lookbackSec: Long): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val p = events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = events.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      $"user_id" === $"c_user" &&
        $"c_ts" <= $"p_ts" &&
        $"c_ts" >= $"p_ts" - expr(s"INTERVAL $lookbackSec SECONDS"))
      .select($"user_id", $"p_id", $"c_id")
  }

  /** LEFT OUTER stream-stream variant of [[purchaseClickJoin]]:
    * purchases with NO qualifying click still emit — with null click
    * columns — once the watermark proves no match can arrive. The
    * outer side is the semantics batch gets for free but streaming
    * must EARN from the watermark: an unmatched purchase sits in
    * state until click-side event time passes its join window, and
    * only then is the null row released (so outer results are
    * eventually-complete, not immediate). State stays bounded by the
    * same watermark that gates the emission. */
  def purchaseClickOuter(events: DataFrame, lookbackSec: Long): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val p = events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = events.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      $"user_id" === $"c_user" &&
        $"c_ts" <= $"p_ts" &&
        $"c_ts" >= $"p_ts" - expr(s"INTERVAL $lookbackSec SECONDS"),
      "left_outer")
      .select($"user_id", $"p_id", $"c_id")
  }

  /** Streaming exact dedup (the streaming twin of q40): drop repeated
    * (event_type, day-bucket) keys, keeping state only within the
    * watermark — bounded state, the only safe shape for an endless
    * stream. Emits the kept keys. (Day-coarse key so even the sparse
    * sf0.001 fixture actually contains duplicates to drop.) */
  def dedupWithinWatermark(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select($"event_type", date_trunc("day", $"ts").as("day"), $"ts")
      .withWatermark("ts", "25 hours")
      .dropDuplicatesWithinWatermark("event_type", "day")
      .select($"event_type", $"day")
  }

  /** Shared transform: native session_window sessionization (q26's
    * exact shape) over batch or streaming input. On a stream the
    * engine MERGES session fragments across microbatches (two
    * fragments < gap apart collapse into one window whose start
    * moves) — the stateful-merge semantics that distinguish
    * session_window state from ordinary keyed window state, asserted
    * == batch q26 in StreamingSpec across a 2-file split. */
  def sessionCounts(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events")
  }

  /** Streaming entry for [[sessionCounts]] over a staged events dir. */
  def sessionCountsStream(s: SparkSession, eventsDir: String): DataFrame =
    sessionCounts(eventsStream(s, eventsDir))

  /** µs-timestamped streaming read of a staged events dir (session-zone
    * TimestampType, matching the batch Tables.events output). */
  def eventsStream(s: SparkSession, eventsDir: String): DataFrame = {
    readEventsStream(s, eventsDir)
      .withColumn("ts", col("ts").cast(TimestampType))
  }

  // ---- arbitrary state v2 (transformWithState / StatefulProcessor) ----

  case class TypeTotals(event_type: String, n_events: Long, total_cents: Long)

  /** Per-event-type running totals on the NEW arbitrary-state API
    * (Spark 4 `transformWithState`): typed `ValueState` in the RocksDB
    * state store (the API mandates that provider), explicit
    * `TimeMode`/`TTLConfig`, update-mode re-emission of each key's
    * totals per batch it appears in. Functional twin of the
    * flatMapGroupsWithState family above — kept alongside it because
    * v2 is where streaming state is headed (timers, composite state,
    * TTL, initial state) while GroupState remains the v1 surface; the
    * engine exercises both against the same batch oracle. Cents are
    * integer (value·100 truncated) so cross-batch accumulation is
    * exact — state carries no floats. */
  class TypeTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), TypeTotals] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        E.tuple(E.scalaLong, E.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[TypeTotals] = {
      var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => n += 1; cents += r._2 }
      totals.update((n, cents))
      Iterator.single(TypeTotals(key, n, cents))
    }
  }

  /** Stream driver for [[TypeTotalsProcessor]] over a staged events
    * dir. Callers must have the RocksDB state-store provider configured
    * (StreamingSpec sets it on the runtime conf before starting). */
  def typeTotalsStream(s: SparkSession, eventsDir: String): Dataset[TypeTotals] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    readEventsStream(s, eventsDir)
      .select($"event_type", ($"value" * 100).cast("long").as("cents"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new TypeTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
