package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Corpus-level operators a large-scale training-data pipeline needs
  * beyond per-doc scoring and pair-generation dedup: behavioral funnel
  * analysis over the events stream, TF-IDF term ranking, global n-gram
  * statistics, deterministic stratified sampling, and vocabulary
  * profiling.
  *
  * Scale design:
  *  - q72 funnel: three cascading (filter → groupBy user) partial
  *    aggregations; every stage shuffles only the users that survived
  *    the previous stage, so the data volume is monotonically
  *    shrinking. All timestamps are compared as integer microseconds
  *    (the ns-vs-µs parquet parity rule, see Tables.events).
  *  - q73 TF-IDF: tf is a (doc, term) partial-agg groupBy; df is a
  *    second groupBy OVER THE TF OUTPUT (already one row per
  *    (doc, term) — no distinct needed); N arrives as a broadcast
  *    scalar, so the per-term join is the only wide exchange.
  *  - q74 bigrams: posexplode + lead() over (doc, pos) — one shuffle
  *    on doc_id, then a countable token stream; the global top-k is
  *    TakeOrderedAndProject (per-partition heaps, no full sort).
  *  - q75 stratified sample: a pure scan-side filter — multiplicative
  *    integer hash of the key vs a per-stratum threshold from a
  *    broadcast dim. Zero shuffles for the kept-rows path; sampling
  *    100 TB costs exactly one read. Integer-only arithmetic, so the
  *    sample is deterministic and reproducible across engines (the
  *    property `sample(seed)` of any one engine cannot give).
  *  - q76 vocabulary: two stacked partial-agg groupBys (lang, term) →
  *    (lang); hapax counting rides the second pass for free.
  */
object Corpus extends graft.QueryModule {

  /** Ordered conversion funnel over events: view → click-after-view →
    * purchase-after-click, strictly ordered per user by event time.
    * Emits one row per funnel stage with the surviving user count. */
  /** Funnel core over (user_id, event_type, us) rows: strictly-ordered
    * view → click → purchase per user, one count row per stage.
    * Exposed for direct testing (strictness: a click at or before the
    * first view does not advance the funnel). */
  def funnelStages(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val c = e.filter($"event_type" === "click")
      .join(v, "user_id").filter($"us" > $"t1")
      .groupBy($"user_id").agg(min($"us").as("t2"))
    val p = e.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"us" > $"t2")
      .groupBy($"user_id").agg(min($"us").as("t3"))
    val stage = (df: DataFrame, n: Int, name: String) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n.toLong).as("stage"), lit(name).as("event"), $"n_users")
    stage(v, 1, "view")
      .union(stage(c, 2, "click_after_view"))
      .union(stage(p, 3, "purchase_after_click"))
  }

  /** Retention cohort analysis — the classic growth-analytics matrix:
    * users bucketed by first-activity day (cohort), each later active
    * day counted as a (cohort, day-offset) cell of distinct users.
    * Shape at scale: one (user → min day) aggregate, an equi-join back
    * on user_id (the cohort map is |users| rows — SMALLER than events
    * but still data-sized, so it carries no broadcast hint: the join
    * shuffles on user_id at scale, and AQE broadcasts it only while it
    * fits), then a distinct-collapsing aggregate keyed by (cohort,
    * offset); every stage partially aggregates map-side. */
  def q106RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day"))
    val cohort = e.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    e.join(cohort, "user_id")
      .select($"user_id", $"cohort_day",
        datediff($"day", $"cohort_day").cast("long").as("day_offset"))
      .distinct()
      .groupBy($"cohort_day", $"day_offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val q106Oracle: String =
    """WITH e AS (
         SELECT user_id, CAST(ts AS DATE) AS day FROM events),
       c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
       a AS (
         SELECT DISTINCT e.user_id, cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset
         FROM e JOIN c ON e.user_id = c.user_id)
       SELECT cohort_day, day_offset,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM a GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Sessionized behavioral sequences — q23's gap sessionization
    * finished into per-session ORDERED event-type strings (the
    * training-sequence extraction for behavioral/recommendation
    * models). The intra-group order is made explicit by sorting the
    * collected (event_id, type) structs — never by relying on row
    * order (SURVEY §7.5.2) — and capped at the first 20 events per
    * session so a runaway session cannot blow the group buffer. */
  def q107SessionSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"event_id")
    val run = byUser.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev_us", lag($"us", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_us".isNull || $"us" - $"prev_us" > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        concat_ws(",",
          transform(
            slice(array_sort(collect_list(struct($"event_id", $"event_type"))), 1, 20),
            x => x("event_type"))).as("seq"))
      .orderBy($"user_id", $"session_id")
  }

  val q107Oracle: String =
    """WITH t AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
         FROM events),
       s AS (
         SELECT user_id, event_id, event_type,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM t),
       r AS (
         SELECT user_id, session_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id, session_id ORDER BY event_id) AS rn,
           count(*) OVER (PARTITION BY user_id, session_id) AS n_events
         FROM s)
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              CAST(n_events AS BIGINT) AS n_events,
              string_agg(event_type, ',' ORDER BY event_id) AS seq
       FROM r WHERE rn <= 20
       GROUP BY user_id, session_id, n_events
       ORDER BY user_id, session_id"""

  /** Calendar densification + gap fill — the distributed cousin of the
    * reference's W1 ffill: per user bucket, materialize EVERY day of
    * the observed range (activity or not), zero-fill the silent days,
    * and compute a trailing-7-day activity average over the now-dense
    * series (integer milli). Dense grids are what window models and
    * anomaly detectors consume; the sparse→dense join is the idiom.
    *
    * Shape at scale: the calendar spine is |buckets| × |days| rows
    * built from a 1-row broadcast of the global date range (sequence +
    * explode — never a driver loop); the activity side partially
    * aggregates before the one spine join; the trailing window rides
    * the dense per-bucket partition ordered by day. */
  def q109DenseCalendar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val acts = Tables.events(s, d)
      .select(($"user_id" % 10).as("bucket"), to_date($"ts").as("day"))
      .groupBy($"bucket", $"day").agg(count(lit(1)).as("n_events"))
    val range = acts.agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = acts.select($"bucket").distinct()
      .crossJoin(broadcast(range))
      .select($"bucket",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"bucket").orderBy($"day").rowsBetween(-6, 0)
    spine.join(acts, Seq("bucket", "day"), "left")
      .na.fill(0L, Seq("n_events"))
      .withColumn("trail7_milli",
        floor(sum($"n_events").over(w) * 1000 / count(lit(1)).over(w)).cast("long"))
      .orderBy($"bucket", $"day")
  }

  val q109Oracle: String =
    """WITH a AS (
         SELECT user_id % 10 AS bucket, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1, 2),
       r AS (SELECT min(day) AS d0, max(day) AS d1 FROM a),
       spine AS (
         SELECT bucket, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         FROM (SELECT DISTINCT bucket FROM a), r),
       dense AS (
         SELECT spine.bucket AS bucket, spine.day AS day,
           coalesce(n_events, 0) AS n_events
         FROM spine LEFT JOIN a ON spine.bucket = a.bucket AND spine.day = a.day)
       SELECT bucket, day, CAST(n_events AS BIGINT) AS n_events,
         CAST(floor(sum(n_events) OVER tw * 1000 / count(*) OVER tw) AS BIGINT) AS trail7_milli
       FROM dense
       WINDOW tw AS (PARTITION BY bucket ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       ORDER BY bucket, day"""

  def q72Funnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    funnelStages(Tables.events(s, d)
        .select($"user_id", $"event_type", unix_micros($"ts").as("us")))
      .orderBy($"stage")
  }

  val q72Oracle: String =
    """WITH e AS (
         SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       v AS (
         SELECT user_id, min(us) AS t1 FROM e
         WHERE event_type = 'view' GROUP BY 1),
       c AS (
         SELECT e.user_id, min(us) AS t2 FROM e JOIN v USING (user_id)
         WHERE event_type = 'click' AND us > t1 GROUP BY 1),
       p AS (
         SELECT e.user_id, min(us) AS t3 FROM e JOIN c USING (user_id)
         WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
       SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event,
              CAST(count(*) AS BIGINT) AS n_users FROM v
       UNION ALL
       SELECT CAST(2 AS BIGINT), 'click_after_view',
              CAST(count(*) AS BIGINT) FROM c
       UNION ALL
       SELECT CAST(3 AS BIGINT), 'purchase_after_click',
              CAST(count(*) AS BIGINT) FROM p
       ORDER BY stage"""

  /** TF-IDF top-3 terms per document. score_bp =
    * floor(tf · ln((N+1)/(df+1)) · 1000): both engines evaluate the
    * identical double expression (IEEE division and multiplication are
    * correctly rounded; ln is the one library call — verified identical
    * on this corpus at both test scales). Ties and ordering are decided
    * by (score_bp DESC, term ASC), i.e. on integers/strings only. */
  def q73Tfidf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("term"))
    // tf feeds three branches (scored, df, N); materialize it once —
    // without the checkpoint each branch re-runs the scan + tokenize +
    // (doc, term) shuffle (column pruning makes the subtrees differ, so
    // ReuseExchange alone does not unify them)
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfx = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nd = tf.select($"doc_id").distinct().agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfx, "term")
      .crossJoin(broadcast(nd))
      .withColumn("score_bp",
        floor($"tf" * log(($"n_docs" + lit(1.0)) / ($"df" + lit(1.0))) * lit(1000.0))
          .cast("long"))
    scored
      .withColumn("rnk",
        row_number().over(Window.partitionBy($"doc_id")
          .orderBy($"score_bp".desc, $"term".asc)).cast("long"))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"rnk", $"term", $"tf", $"df", $"score_bp")
      .orderBy($"doc_id", $"rnk")
  }

  val q73Oracle: String =
    """WITH tok AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (
         SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY 1, 2),
       dfx AS (
         SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
       sc AS (
         SELECT doc_id, term, tf, df,
           CAST(floor(tf * ln((n_docs + 1.0) / (df + 1.0)) * 1000.0) AS BIGINT) AS score_bp
         FROM tf JOIN dfx USING (term) CROSS JOIN nd),
       rk AS (
         SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY score_bp DESC, term) AS rnk
         FROM sc)
       SELECT doc_id, rnk, term, tf, df, score_bp
       FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk"""

  /** Global top-20 word bigrams with counts (deterministic tiebreak on
    * the bigram text). Bigrams come from lead() over (doc, pos) — NOT
    * from a transform/element_at lambda, which re-tokenizes per element
    * access (the round-1 HOF pitfall). */
  def q74Bigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "tok")))
    tok
      .withColumn("nxt",
        lead($"tok", 1).over(Window.partitionBy($"doc_id").orderBy($"pos")))
      .filter($"nxt".isNotNull)
      .select(concat_ws(" ", $"tok", $"nxt").as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }

  val q74Oracle: String =
    """WITH tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       b AS (
         SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                  i -> tk[i] || ' ' || tk[i+1])) AS bigram
         FROM tk WHERE len(tk) >= 2)
       SELECT bigram, CAST(count(*) AS BIGINT) AS n
       FROM b GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20"""

  /** Source-concentration audit (q175): how dominated is the corpus by
    * its largest sources? — the diversity check run before mixing
    * weights are chosen (q85/q101's input). Reports the Pareto point
    * (fewest sources holding ≥ 80% of tokens, via a cumulative-share
    * window over the source ranking) and the Herfindahl–Hirschman
    * index Σ shareᵢ² — integer ppm end to end: shares in bp, HHI as
    * Σ bp² div 10⁴ so both engines agree bit-for-bit. One partial-agg
    * pass over the corpus, then dimension-sized windows. */
  def q175Concentration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bySource = Tables.documents(s, d)
      .select($"source", size(tokens($"text")).cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("tok"))
    val ranked = bySource
      .withColumn("total", sum($"tok").over())
      .withColumn("rk", row_number().over(
        Window.orderBy($"tok".desc, $"source")).cast("long"))
      .withColumn("cum", sum($"tok").over(
        Window.orderBy($"tok".desc, $"source")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val pareto = ranked.filter($"cum" * 5 >= $"total" * 4)
      .agg(min($"rk").as("k80"))
    val hhi = ranked
      .select(expr("tok * 10000 div total").as("share_bp"))
      .agg(expr("sum(share_bp * share_bp) div 10000").as("hhi_ppm_scaled"),
        count(lit(1)).as("n_sources"),
        max($"share_bp").as("top_share_bp"))
    hhi.crossJoin(pareto)
      .select($"n_sources", $"top_share_bp", $"hhi_ppm_scaled", $"k80")
  }

  val q175Oracle: String =
    """WITH b AS (
         SELECT source,
           CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
             t -> t <> ''))) AS BIGINT) AS tok
         FROM documents GROUP BY 1),
       r AS (
         SELECT source, tok,
           CAST(sum(tok) OVER () AS BIGINT) AS total,
           CAST(row_number() OVER (ORDER BY tok DESC, source) AS BIGINT) AS rk,
           CAST(sum(tok) OVER (ORDER BY tok DESC, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM b),
       pareto AS (SELECT min(rk) AS k80 FROM r WHERE cum * 5 >= total * 4),
       hhi AS (
         SELECT CAST(sum(share_bp * share_bp) AS BIGINT) // 10000
             AS hhi_ppm_scaled,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(max(share_bp) AS BIGINT) AS top_share_bp
         FROM (SELECT tok * 10000 // total AS share_bp FROM r))
       SELECT n_sources, top_share_bp, hhi_ppm_scaled, k80
       FROM hhi CROSS JOIN pareto"""

  /** Path-hierarchy prefix rollup (q174): every URL path contributes a
    * row to EACH of its ancestor prefixes (/src, /src/catN,
    * /src/catN/lang) — the filesystem-tree accounting pattern (crawl
    * budgets, storage rollups) computed by a bounded prefix EXPLODE +
    * one hash aggregation instead of a recursive hierarchy join: depth
    * is a constant (3 here), so the fan-out is 3× and every subtree
    * total lands in the same single pass. The q118 Z-order note's
    * cousin: hierarchy questions become flat group-bys once the key
    * encodes the ancestry. */
  def q174PathRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = concat(lit("/"), $"source", lit("/cat"),
      ($"doc_id" % 7).cast("string"), lit("/"), $"lang",
      lit("/doc"), $"doc_id".cast("string"))
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars", split(path, "/").as("segs"))
      .select($"doc_id", $"n_chars", explode(expr(
        """transform(sequence(1, 3),
             i -> struct(i AS depth,
                         concat('/', array_join(slice(segs, 2, i), '/'))
                           AS prefix))""")).as("p"))
      .groupBy($"p.depth".as("depth"), $"p.prefix".as("prefix"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"depth", $"prefix")
  }

  val q174Oracle: String =
    """WITH p AS (
         SELECT doc_id, n_chars,
           string_split('/' || source || '/cat' || (doc_id % 7) || '/' ||
             lang || '/doc' || doc_id, '/') AS segs
         FROM documents),
       x AS (
         SELECT n_chars, u.depth,
           '/' || array_to_string(segs[2 : 1 + u.depth], '/') AS prefix
         FROM p, unnest(generate_series(1, 3)) AS u(depth))
       SELECT CAST(depth AS BIGINT) AS depth, prefix,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM x GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Greedy set cover for data selection (q173): which sources to
    * license/ingest to maximize distinct-shingle coverage — the
    * facility-location shape behind coverage-based corpus selection
    * (greedy is the canonical (1−1/e)-approximation; each round picks
    * the source adding the most NOT-YET-COVERED shingles). Two rounds
    * materialized: round 1 is a plain distinct count; round 2 counts
    * each source's shingles anti-joined against the winner's set —
    * the marginal-gain computation that makes greedy different from
    * "top-k by size" (a big source nearly identical to the winner
    * gains ~nothing in round 2).
    *
    * Scale shape per round: one (source, h) dedup shuffle, an
    * anti-join on h against the accumulated covered set (hash join,
    * not broadcast — the covered set grows corpus-sized), and a
    * dimension-sized argmax. Rounds beyond the first reuse the same
    * checkpointed pair relation. */
  def q173GreedyCover(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select($"source",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15)).as("h"))
      .distinct()
      .localCheckpoint() // both greedy rounds read it
    val total = sh.select($"h").distinct().count()
    val r1 = sh.groupBy($"source").agg(count(lit(1)).as("gain"))
      .orderBy($"gain".desc, $"source").limit(1)
      .select(lit(1L).as("round"), $"source", $"gain")
    val w1 = r1.select($"source".as("ws")).collect().head.getString(0)
    val coveredH = sh.filter($"source" === w1).select($"h")
    val r2 = sh.filter($"source" =!= w1)
      .join(coveredH, Seq("h"), "left_anti")
      .groupBy($"source").agg(count(lit(1)).as("gain"))
      .orderBy($"gain".desc, $"source").limit(1)
      .select(lit(2L).as("round"), $"source", $"gain")
    r1.unionByName(r2)
      .withColumn("total_distinct", lit(total))
      .withColumn("cum_coverage_bp", expr(
        "sum(gain) OVER (ORDER BY round) * 10000 div total_distinct"))
      .orderBy($"round")
  }

  val q173Oracle: String =
    """WITH tk AS (
         SELECT source, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT DISTINCT source, ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h
         FROM (
           SELECT source, unnest(
             CASE WHEN len(tk) >= 3
                  THEN list_transform(generate_series(1, len(tk)-2),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                  ELSE [] END) AS sg
           FROM tk)),
       tot AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS total FROM sh),
       r1 AS (
         SELECT 1 AS round, source, CAST(count(*) AS BIGINT) AS gain
         FROM sh GROUP BY 2 ORDER BY gain DESC, source LIMIT 1),
       r2 AS (
         SELECT 2 AS round, s.source, CAST(count(*) AS BIGINT) AS gain
         FROM sh s
         WHERE s.source <> (SELECT source FROM r1)
           AND NOT EXISTS (SELECT 1 FROM sh w
                           WHERE w.source = (SELECT source FROM r1)
                             AND w.h = s.h)
         GROUP BY 2 ORDER BY gain DESC, s.source LIMIT 1),
       u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
       SELECT CAST(round AS BIGINT) AS round, source, gain,
         total AS total_distinct,
         CAST(sum(gain) OVER (ORDER BY round) * 10000 // total AS BIGINT)
           AS cum_coverage_bp
       FROM u CROSS JOIN tot ORDER BY round"""

  /** Sliding-window DISTINCT (q160): distinct active users over a
    * trailing 7-day window, per day — the aggregation windows can't
    * express (distinct doesn't decompose over a sliding frame) and
    * range joins solve quadratically. The scalable rewrite: dedup to
    * (user, day) grain, then EXPLODE each user-day into the ≤ 7 window
    * days it covers — a bounded ×7 expansion — and count distinct per
    * cover day. One explode, one distinct agg, no range join, no
    * per-frame rescan; the same trick generalizes to any
    * bounded-horizon sliding distinct (the HLL-merge variant replaces
    * countDistinct when approximate is acceptable at 100 TB).
    *
    * The dense q109 spine keeps silent days visible as zeros; the
    * horizon is clipped to the observed max day so the two engines
    * agree on the output domain. */
  def q160SlidingDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ud = Tables.events(s, d)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
      .localCheckpoint() // feeds daily, windowed, and the range
    val range = ud.agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = range.select(
      explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val daily = ud.groupBy($"day").agg(countDistinct($"user_id").as("u1"))
    val wind = ud
      .crossJoin(broadcast(range))
      .select(explode(sequence($"day",
        least(date_add($"day", 6), $"d1"))).as("day"), $"user_id")
      .groupBy($"day").agg(countDistinct($"user_id").as("u7"))
    spine.join(daily, Seq("day"), "left").join(wind, Seq("day"), "left")
      .na.fill(0L, Seq("u1", "u7"))
      .orderBy($"day")
  }

  val q160Oracle: String =
    """WITH ud AS (
         SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       r AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
       spine AS (
         SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         FROM r),
       daily AS (
         SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS u1
         FROM ud GROUP BY 1),
       wind AS (
         SELECT s.day, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS u7
         FROM spine s LEFT JOIN ud
           ON ud.day BETWEEN s.day - 6 AND s.day
         GROUP BY 1)
       SELECT spine.day, coalesce(u1, 0) AS u1, coalesce(u7, 0) AS u7
       FROM spine
       LEFT JOIN daily ON spine.day = daily.day
       LEFT JOIN wind ON spine.day = wind.day
       ORDER BY spine.day"""

  /** Positional inverted-index phrase search (q159): the canonical
    * exact-phrase query plan — postings (doc, pos, token) built ONCE,
    * then an n-way self-equi-join with position arithmetic (tok@p ⋈
    * w2@p+1 ⋈ w3@p+2) — the way search engines answer quoted queries
    * without re-scanning text. The probed phrase is mined from the
    * corpus itself (globally most frequent trigram, ties by text) so
    * the query is self-contained and the oracle can verify by direct
    * trigram scan: index-join occurrences == scan occurrences, per doc.
    *
    * Scale shape: postings are checkpointed once (built by one explode
    * pass) and probed three times; each probe is a broadcast of the
    * 1-row phrase followed by an equi-join keyed (doc_id, pos) — all
    * three hash-partition on the same key, so AQE coalesces them into
    * one exchange family. At 100 TB the postings relation IS the
    * inverted index you'd persist bucketed by token. */
  def q159PhraseSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val post = Tables.documents(s, d)
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "tok")))
      .localCheckpoint() // one tokenize pass: phrase mining + 3 probes
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val top = post
      .withColumn("t2", lead($"tok", 1).over(w))
      .withColumn("t3", lead($"tok", 2).over(w))
      .filter($"t3".isNotNull)
      .select(concat_ws(" ", $"tok", $"t2", $"t3").as("phrase"))
      .groupBy($"phrase").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"phrase").limit(1)
      .select($"phrase", split($"phrase", " ").as("ws"))
      .select($"phrase", $"ws"(0).as("w1"), $"ws"(1).as("w2"), $"ws"(2).as("w3"))
    post.join(broadcast(top), $"tok" === $"w1")
      .select($"doc_id", $"pos", $"phrase", $"w2", $"w3")
      .join(post.select($"doc_id", ($"pos" - 1).as("pos"), $"tok".as("t2")),
        Seq("doc_id", "pos"))
      .filter($"t2" === $"w2")
      .join(post.select($"doc_id", ($"pos" - 2).as("pos"), $"tok".as("t3")),
        Seq("doc_id", "pos"))
      .filter($"t3" === $"w3")
      .groupBy($"doc_id", $"phrase").agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }

  val q159Oracle: String =
    """WITH tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       occ AS (
         SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)-2),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS phrase
         FROM tk WHERE len(tk) >= 3),
       top AS (
         SELECT phrase, count(*) AS n FROM occ
         GROUP BY 1 ORDER BY n DESC, phrase LIMIT 1)
       SELECT doc_id, occ.phrase, CAST(count(*) AS BIGINT) AS n_hits
       FROM occ JOIN top ON occ.phrase = top.phrase
       GROUP BY 1, 2 ORDER BY doc_id"""

  /** Per-lang sampling thresholds: floor(fraction · 2³²) as exact
    * integer literals (en 10%, every other lang 30%) — shared between
    * the Spark dim and the oracle CASE so no float appears anywhere. */
  private[operators] val sampleThresholds: Seq[(String, Long)] = Seq(
    "en" -> 429496729L, "de" -> 1288490188L, "es" -> 1288490188L,
    "fr" -> 1288490188L, "zh" -> 1288490188L)

  /** Deterministic stratified sampling: keep doc iff
    * `knuthHash(doc_id)` mod 2³² < threshold(lang) —
    * Knuth's multiplicative hash against a per-stratum threshold from
    * a broadcast dim (the scalable form of `DataFrameStatFunctions
    * .sampleBy`, but reproducible across engines and runs). Output is
    * the per-stratum accounting; the kept-rows path is the same filter
    * without the aggregation.
    *
    * Overflow discipline: see [[graft.functions.Fns.knuthHash]] — no
    * ANSI overflow at any corpus size (the unreduced form throws past
    * doc_id ≈ 3.5e9 on both engines). Ids differing by exactly 2³¹
    * share a hash — irrelevant for sampling.
    * Unknown strata fall back to the default 30% threshold via LEFT
    * join + coalesce (matching the oracle's CASE ELSE) instead of being
    * silently dropped by an inner join. */
  def q75StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fr = s.createDataFrame(sampleThresholds).toDF("lang", "thresh")
    Tables.documents(s, d)
      .join(broadcast(fr), Seq("lang"), "left")
      .withColumn("kept",
        knuthHash($"doc_id") % lit(4294967296L) <
          coalesce($"thresh", lit(1288490188L)))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("sample_permille", expr("n_sampled * 1000 div n_total"))
      .orderBy($"lang")
  }

  val q75Oracle: String =
    """WITH k AS (
         SELECT lang,
           CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 <
                     (CASE WHEN lang = 'en' THEN 429496729 ELSE 1288490188 END)
                THEN 1 ELSE 0 END AS kept
         FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(kept) AS BIGINT) AS n_sampled,
         CAST(sum(kept) * 1000 // count(*) AS BIGINT) AS sample_permille
       FROM k GROUP BY lang ORDER BY lang"""

  /** Per-language vocabulary profile: distinct terms, hapax legomena
    * (terms occurring exactly once in the stratum), total token count,
    * hapax share in permille. */
  def q76Vocab(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"lang", explode(tokens($"text")).as("term"))
    tok.groupBy($"lang", $"term").agg(count(lit(1)).as("cnt"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_terms"),
        sum(when($"cnt" === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum($"cnt").as("n_tokens"))
      .withColumn("hapax_permille", expr("n_hapax * 1000 div n_terms"))
      .orderBy($"lang")
  }

  val q76Oracle: String =
    """WITH tok AS (
         SELECT lang,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tc AS (
         SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
         FROM tok GROUP BY 1, 2)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS hapax_permille
       FROM tc GROUP BY lang ORDER BY lang"""

  /** Unigram-LM surprisal quality scoring — the statistical-outlier
    * filter of an LLM data pipeline: score every document by its mean
    * token surprisal −E[ln p(token)] under the corpus' own unigram
    * model (gibberish and boilerplate both land in the tails).
    *
    * Numeric parity design: the per-TERM surprisal is quantized to
    * integer micro-nats FIRST (floor(ln(T/cnt)·10⁶) — one double ln
    * per distinct term, same expression both engines), and the per-doc
    * mean is then pure integer arithmetic (Σ tf·s_micro div n_tokens).
    * Summing doubles per doc would be reduce-order-dependent; summing
    * longs is exact in any order — the same quantize-then-sum rule the
    * embedding queries use.
    *
    * Scale: term counts are one partial-agg groupBy; the scalar T
    * broadcasts; the per-doc pass reuses the (doc, term) tf relation.
    */
  def q77Surprisal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("term"))
    // materialized once for the same three-branch reason as q73's tf
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val tc = tf.groupBy($"term").agg(sum($"tf").as("cnt"))
    val tot = tc.agg(sum($"cnt").as("t"))
    tf.join(tc, "term")
      .crossJoin(broadcast(tot))
      .withColumn("s_micro", surprisal($"t", $"cnt"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"),
        sum($"tf" * $"s_micro").as("s_sum"))
      .withColumn("surprisal_micro", expr("s_sum div n_tokens"))
      .select($"doc_id", $"n_tokens", $"surprisal_micro")
      .orderBy($"doc_id")
  }

  val q77Oracle: String =
    """WITH tok AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (
         SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY 1, 2),
       tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
       sc AS (
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * CAST(floor(ln((t * 1.0) / cnt) * 1000000.0) AS BIGINT)) AS BIGINT) AS s_sum
         FROM tf JOIN tc USING (term) CROSS JOIN tot GROUP BY 1)
       SELECT doc_id, n_tokens, CAST(s_sum // n_tokens AS BIGINT) AS surprisal_micro
       FROM sc ORDER BY doc_id"""

  /** Benchmark decontamination: flag training documents sharing word
    * 3-gram shingles with a holdout/benchmark set (here: source =
    * 'src0' stands in as the benchmark corpus). Output per candidate
    * doc: its distinct-shingle count, how many of those appear
    * anywhere in the benchmark set, and the overlap share.
    *
    * Scale: the benchmark shingle set is distinct-ed and BROADCAST —
    * benchmark suites are tiny next to training corpora, so the
    * candidate side streams map-side with zero shuffle for the
    * membership probe (at extreme benchmark sizes, swap in a bloom
    * filter build + might_contain prefilter, same shape as the
    * AdaptiveSpec runtime-filter pattern). Shingles ride the
    * single-pass ShingleHashes expression on the Spark side and its
    * md5 SQL twin in the oracle. */
  def q78Decontam(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select($"doc_id", $"source",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15))
          .as("sh"))
    val bench = sh.filter($"source" === "src0").select($"sh").distinct()
    val cand = sh.filter($"source" =!= "src0")
    val totals = cand.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = cand.join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_contam"))
    totals.join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_contam", lit(0L)).as("n_contam"))
      .withColumn("contam_permille", expr("n_contam * 1000 div n_shingles"))
      .orderBy($"doc_id")
  }

  val q78Oracle: String =
    """WITH tk AS (
         SELECT doc_id, source,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, source, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       inv AS (
         SELECT doc_id, source,
           unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
         FROM sh WHERE len(shd) > 0),
       bench AS (SELECT DISTINCT sh FROM inv WHERE source = 'src0'),
       cand AS (SELECT doc_id, sh FROM inv WHERE source <> 'src0'),
       tot AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         FROM cand GROUP BY 1),
       hit AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam
         FROM cand WHERE sh IN (SELECT sh FROM bench) GROUP BY 1)
       SELECT tot.doc_id, n_shingles,
         coalesce(n_contam, 0) AS n_contam,
         CAST(coalesce(n_contam, 0) * 1000 // n_shingles AS BIGINT) AS contam_permille
       FROM tot LEFT JOIN hit USING (doc_id) ORDER BY doc_id"""

  /** Bloom-prefiltered decontamination — q78's at-scale shape made
    * concrete: build a bloom filter over the benchmark shingle set
    * ONCE (a small fixed-size binary artifact), prefilter the
    * candidate shingle stream with a scan-local `might_contain` probe,
    * and run the exact semi-join ONLY on the flagged survivors. Bloom
    * filters have no false negatives, so exact-on-flagged equals exact
    * — the sketch trims the expensive join's input without changing
    * the answer (the FP rate only pads the survivor set, here sized
    * ≲1%). Output is identical to q78's, and the oracle additionally
    * pins the no-false-negative contract: every doc's exact hit count
    * must survive the prefilter (`prefilter_kept_all_hits` TRUE).
    *
    * At 100 TB: the bloom is a ~MB broadcast literal probed at scan
    * speed; the shuffle-heavy membership join sees only the ~contam%
    * of shingles that might match. This is the two-tier sketch-then-
    * verify design every large decontam/dedup pass converges on. */
  def q49BloomDecontam(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select($"doc_id", $"source",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15))
          .as("sh"))
    val bench = sh.filter($"source" === "src0").select($"sh").distinct()
    // build once, embed as a constant: the probe expression requires a
    // foldable bloom, and a driver-held ~100 KB artifact is exactly how
    // a runtime filter ships to executors anyway
    val bloomBytes = bench
      .agg(graft.functions.SketchExprs
        .bloom_filter_agg($"sh", 65536L, 1048576L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val cand = sh.filter($"source" =!= "src0")
    val totals = cand.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    // tier 1: scan-local bloom probe; tier 2: exact semi-join on the
    // flagged residue only
    val flagged = cand.filter(
      graft.functions.SketchExprs.might_contain(lit(bloomBytes), $"sh"))
    val hits = flagged.join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_contam"))
    totals.join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_contam", lit(0L)).as("n_contam"))
      .withColumn("contam_permille", expr("n_contam * 1000 div n_shingles"))
      .withColumn("prefilter_kept_all_hits", lit(true))
      .orderBy($"doc_id")
  }

  /** Oracle: exact decontamination (q78's CTE chain) + the pinned
    * no-false-negative boolean. If the bloom prefilter ever dropped a
    * real hit, the Spark-side n_contam would undercount and the hash
    * compare would fail — the sketch contract is driver-checked. */
  val q49Oracle: String =
    """WITH tk AS (
         SELECT doc_id, source,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, source, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       inv AS (
         SELECT doc_id, source,
           unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
         FROM sh WHERE len(shd) > 0),
       bench AS (SELECT DISTINCT sh FROM inv WHERE source = 'src0'),
       cand AS (SELECT doc_id, sh FROM inv WHERE source <> 'src0'),
       tot AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         FROM cand GROUP BY 1),
       hit AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam
         FROM cand WHERE sh IN (SELECT sh FROM bench) GROUP BY 1)
       SELECT tot.doc_id, n_shingles,
         coalesce(n_contam, 0) AS n_contam,
         CAST(coalesce(n_contam, 0) * 1000 // n_shingles AS BIGINT) AS contam_permille,
         TRUE AS prefilter_kept_all_hits
       FROM tot LEFT JOIN hit USING (doc_id) ORDER BY doc_id"""

  /** Per-source unigram entropy and KL divergence vs the corpus
    * distribution, in integer micro-nats — the mixture-monitoring
    * numbers behind source weighting (q85/q101): a source whose KL to
    * the corpus is near zero adds no diversity; one with collapsing
    * entropy signals template/boilerplate content.
    *
    * Numeric parity: q77's quantize-then-sum rule — each per-TERM log
    * is floored to integer micro-nats first (one double `ln` per
    * (source, term), identical expression both engines), then per-source
    * sums and the integer-div mean are exact in any reduce order.
    * Entropy term: tf · ⌊ln(n_s/tf)·10⁶⌋; KL term:
    * tf · ⌊ln((tf·T)/(n_s·cnt_t))·10⁶⌋ (p_s = tf/n_s, p_corpus = cnt/T).
    *
    * Scale: tf is one partial-agg groupBy on (source, term)
    * (checkpointed — it feeds three branches); source totals and corpus
    * term counts are second-level aggregations of tf (shuffle sized by
    * |vocab|, not |tokens|); the scalar T broadcasts. */
  def q115SourceEntropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"source", explode(tokens($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val st = tf.groupBy($"source")
      .agg(sum($"tf").as("n_s"), count(lit(1)).as("n_terms"))
    val tc = tf.groupBy($"term").agg(sum($"tf").as("cnt"))
    val tot = tc.agg(sum($"cnt").as("t"))
    tf.join(st, "source").join(tc, "term")
      .crossJoin(broadcast(tot))
      .withColumn("h_micro",
        floor(log(($"n_s" * lit(1.0)) / $"tf") * lit(1000000.0)).cast("long"))
      .withColumn("k_micro",
        floor(log(($"tf" * $"t" * lit(1.0)) / ($"n_s" * $"cnt")) * lit(1000000.0))
          .cast("long"))
      .groupBy($"source")
      .agg(max($"n_s").as("n_tokens"), max($"n_terms").as("n_terms"),
        sum($"tf" * $"h_micro").as("hsum"), sum($"tf" * $"k_micro").as("ksum"))
      // ksum can be slightly NEGATIVE (per-term floor undershoots a
      // near-zero KL), and Spark's integer `div` truncates toward zero
      // while DuckDB's `//` floors — so the mean uses the identical
      // double-division + floor on both engines instead
      .select($"source", $"n_tokens", $"n_terms",
        expr("hsum div n_tokens").as("entropy_micro"),
        floor(($"ksum" * lit(1.0)) / $"n_tokens").cast("long").as("kl_micro"))
      .orderBy($"source")
  }

  val q115Oracle: String =
    """WITH tok AS (
         SELECT source,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (
         SELECT source, term, CAST(count(*) AS BIGINT) AS tf
         FROM tok GROUP BY 1, 2),
       st AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_s,
                CAST(count(*) AS BIGINT) AS n_terms
              FROM tf GROUP BY 1),
       tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
       q AS (
         SELECT tf.source, tf.tf, n_s, n_terms,
           CAST(floor(ln((n_s * 1.0) / tf.tf) * 1000000.0) AS BIGINT) AS h_micro,
           CAST(floor(ln((tf.tf * t * 1.0) / (n_s * cnt)) * 1000000.0) AS BIGINT) AS k_micro
         FROM tf JOIN st USING (source) JOIN tc USING (term) CROSS JOIN tot)
       SELECT source, max(n_s) AS n_tokens, max(n_terms) AS n_terms,
         CAST(sum(tf * h_micro) // max(n_s) AS BIGINT) AS entropy_micro,
         CAST(floor((sum(tf * k_micro) * 1.0) / max(n_s)) AS BIGINT) AS kl_micro
       FROM q GROUP BY 1 ORDER BY 1"""

  /** PMI collocation mining: top-20 token pairs by pointwise mutual
    * information over document-level co-occurrence (distinct tokens per
    * doc, unordered pairs, support ≥ 5 docs). PMI = ln(N·c_xy/(c_x·c_y))
    * in integer micro-nats (the q77 quantize rule — one double ln per
    * surviving pair, identical expression both engines).
    *
    * Scale shape: the pair generation is a per-doc self-join of the
    * DISTINCT token set (bounded by per-doc vocabulary², not length²);
    * the co-occurrence groupBy shuffles pair rows once; the support
    * filter (≥5) runs BEFORE the joins to the unary counts, so the
    * expensive branch carries only recurring pairs. Top-20 is
    * TakeOrdered. The unary count table is vocabulary-sized —
    * broadcast. */
  def q120PmiPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(tokens($"text"))).as("w"))
      .localCheckpoint() // feeds unary counts, pair self-join (×2), N
    val nDocs = toks.agg(countDistinct($"doc_id").as("n_docs"))
    val cw = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val pairs = toks.select($"doc_id", $"w".as("w1"))
      .join(toks.select($"doc_id", $"w".as("w2")), "doc_id")
      .filter($"w1" < $"w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c_xy"))
      .filter($"c_xy" >= 5)
    pairs
      .join(broadcast(cw.select($"w".as("w1"), $"c".as("c_x"))), "w1")
      .join(broadcast(cw.select($"w".as("w2"), $"c".as("c_y"))), "w2")
      .crossJoin(broadcast(nDocs))
      .select($"w1", $"w2", $"c_xy",
        floor(log(($"c_xy" * $"n_docs" * lit(1.0)) / ($"c_x" * $"c_y")) * lit(1000000.0))
          .cast("long").as("pmi_micro"))
      .orderBy($"pmi_micro".desc, $"w1", $"w2")
      .limit(20)
  }

  val q120Oracle: String =
    """WITH toks AS (
         SELECT DISTINCT doc_id,
           unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS w
         FROM documents),
       nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
       cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
       prs AS (
         SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS c_xy
         FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.w < b.w
         GROUP BY 1, 2 HAVING count(*) >= 5)
       SELECT w1, w2, c_xy,
         CAST(floor(ln((c_xy * n_docs * 1.0) / (cx.c * cy.c)) * 1000000.0) AS BIGINT) AS pmi_micro
       FROM prs
       JOIN cw cx ON prs.w1 = cx.w
       JOIN cw cy ON prs.w2 = cy.w
       CROSS JOIN nd
       ORDER BY pmi_micro DESC, w1, w2 LIMIT 20"""

  /** BPE tokenizer-training primitive — the pair-count step of one
    * merge iteration: weight every ADJACENT CHARACTER PAIR inside each
    * distinct word by the word's corpus frequency and rank the top 20
    * (the argmax is the pair BPE would merge next). Running this to a
    * fixed point IS tokenizer training; one iteration is the
    * data-plane kernel, and it is all relational: vocab groupBy →
    * per-word pair explode (bounded by word length) → pair groupBy.
    *
    * Scale: the heavy aggregation is the (term, tf) vocab build — one
    * partial-agg shuffle over the token stream; everything after runs
    * on the VOCABULARY (pair explode fans each distinct word, not each
    * occurrence), and the final top-20 is TakeOrdered, not a sort. */
  def q130BpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select(explode(tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("tf"))
    tf.filter(length($"term") >= 2)
      .select($"tf",
        explode(sequence(lit(1), length($"term") - 1)).as("i"), $"term")
      .select($"tf", expr("substring(term, i, 2)").as("pair"))
      .groupBy($"pair").agg(sum($"tf").as("cnt"))
      // unpartitioned window is safe here: its input is the aggregated
      // pair table, bounded by |charset|² rows regardless of corpus size
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"cnt".desc, $"pair")))
      .filter($"rank" <= 20)
      .select($"rank", $"pair", $"cnt")
      .orderBy($"rank")
  }

  val q130Oracle: String =
    """WITH occ AS (
         SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM occ GROUP BY 1),
       prs AS (
         SELECT substr(term, i, 2) AS pair, tf
         FROM tf, unnest(generate_series(1, len(term) - 1)) AS t(i)
         WHERE len(term) >= 2),
       agg AS (SELECT pair, CAST(sum(tf) AS BIGINT) AS cnt FROM prs GROUP BY 1),
       r AS (SELECT pair, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
             FROM agg)
       SELECT rank, pair, cnt FROM r WHERE rank <= 20 ORDER BY rank"""

  /** Zipf's-law fit — the corpus-health diagnostic every data-quality
    * audit runs: regress log(frequency) on log(rank) over each
    * language's top-500 terms and report the negated slope in basis
    * points (natural text ⇒ slope ≈ −1; synthetic/boilerplate corpora
    * drift off it). Reported per language so a contaminated slice
    * shows up on its own row.
    *
    * Numeric parity: per-term logs are quantized to integer MILLI-nats
    * first (q77's quantize-then-sum rule: floor(ln·1000) is one double
    * ln per term, identical in both engines), and the least-squares
    * slope is then EXACT integer algebra on those longs —
    * negslope_bp = (Σx·Σy − n·Σxy)·10000 div (n·Σx² − (Σx)²). The
    * numerator is flipped so it is non-negative (freq is non-increasing
    * in rank ⇒ covariance ≤ 0): positive `div` truncation agrees
    * between Spark and DuckDB, so no floor-vs-truncate edge. Magnitudes
    * stay ≤ ~1e14 ≪ 2⁶³ (x ≤ ln(500)·10³, y ≤ ln(N)·10³, n ≤ 500).
    *
    * Scale: term counts are one partial-agg shuffle; the rank window
    * partitions by lang over the AGGREGATED vocab (bounded rows); the
    * regression reduces 500 rows per lang to one. At 100 TB the only
    * corpus-sized stage is the first groupBy. */
  /** Shared integer least-squares pieces for the power-law fits (q134
    * Zipf, q135 Heaps): the five partial-agg-friendly sums, and the
    * closed-form slope in basis points as exact integer algebra over
    * them. Callers must guarantee the numerator's sign (Zipf negates —
    * freq non-increasing in rank; Heaps is positive by growth) so the
    * positive-operand `div` truncation agrees between Spark and DuckDB.
    * Property-tested in `PropertySpec` (exact slope recovery on
    * collinear integer points, shift invariance). */
  private[graft] def lsqSums(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"))
  private[graft] val slopeBpSql =
    "(n * sxy - sx * sy) * 10000 div (n * sxx - sx * sx)"
  private[graft] val negSlopeBpSql =
    "(sx * sy - n * sxy) * 10000 div (n * sxx - sx * sx)"

  def q134ZipfSlope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tc = Tables.documents(s, d)
      .select($"lang", explode(tokens($"text")).as("term"))
      .groupBy($"lang", $"term").agg(count(lit(1)).as("cnt"))
    val ranked = tc
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"cnt".desc, $"term")))
      .filter($"rank" <= 500)
      .select($"lang",
        floor(log($"rank".cast("double")) * 1000).cast("long").as("x"),
        floor(log($"cnt".cast("double")) * 1000).cast("long").as("y"))
    val sums = lsqSums($"x", $"y")
    ranked.groupBy($"lang")
      .agg(sums.head, sums.tail: _*)
      .select($"lang", $"n".as("n_terms"),
        expr(negSlopeBpSql).as("negslope_bp"))
      .orderBy($"lang")
  }

  val q134Oracle: String =
    """WITH tok AS (
         SELECT lang,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
              FROM tok GROUP BY 1, 2),
       rk AS (SELECT lang, cnt,
                row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rank
              FROM tc),
       pts AS (
         SELECT lang,
           CAST(floor(ln(rank * 1.0) * 1000) AS BIGINT) AS x,
           CAST(floor(ln(cnt * 1.0) * 1000) AS BIGINT) AS y
         FROM rk WHERE rank <= 500),
       agg AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         FROM pts GROUP BY 1)
       SELECT lang, n AS n_terms,
         CAST((sx * sy - n * sxy) * 10000 // (n * sxx - sx * sx) AS BIGINT) AS negslope_bp
       FROM agg ORDER BY lang"""

  /** Heaps'-law fit — type growth V(N) ≈ K·N^β over the corpus read in
    * doc_id order, the capacity-planning curve for tokenizer / vocab
    * sizing (how many NEW types does the next TB contribute?). The
    * "type" here is the word 3-GRAM, the unit the dedup/decontam
    * operators key on — its growth rate directly sizes their shingle
    * indexes. (The synthetic corpus draws words from a closed ~31-word
    * set, so WORD types saturate at the first checkpoint; the n-gram
    * space is where growth actually happens — on both the synthetic
    * and any real corpus.)
    *
    * Distributed formulation (no global ordered scan): a type's
    * contribution to V at checkpoint c is determined solely by its
    * FIRST-occurrence doc (min(doc_id) — one partial-agg groupBy), and
    * N(c) is a sum over per-doc token counts. Both reduce against a
    * 10-row checkpoint spine derived from max(doc_id) (broadcast
    * theta-join, ≤10× fan-out) — the cumulative curve without any
    * single-partition window. β is then the q134 integer regression
    * over the 10 (ln N, ln V) milli-quantized points (positive slope ⇒
    * positive-operand div, engine-agnostic).
    *
    * Output: one row per checkpoint (coverage curve) with the fitted
    * heaps_beta_bp repeated — the curve and its summary in one result. */
  def q135HeapsLaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docTok = Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tok"))
    // the first-occurrence groupBy keys on the 60-bit shingle HASH, not
    // the ~50-char shingle string (ShingleHashes dedupes within-doc,
    // harmless under min(doc_id)): the corpus-sized shuffle moves longs
    // instead of strings — ~6× fewer shuffle bytes, same distinct set
    val firstOcc = Tables.documents(s, d)
      .select($"doc_id",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15)).as("term"))
      .groupBy($"term").agg(min($"doc_id").as("fo"))
    val spine = Tables.documents(s, d)
      .agg(max($"doc_id").as("mx"))
      .select(explode(sequence(lit(1L), lit(10L))).as("i"), $"mx")
      .select($"i", expr("(i * (mx + 1)) div 10").as("cp"))
    val n = docTok.join(broadcast(spine), $"doc_id" < $"cp")
      .groupBy($"i", $"cp").agg(sum($"n_tok").as("n_tokens"))
    val v = firstOcc.join(broadcast(spine), $"fo" < $"cp")
      .groupBy($"i".as("i2")).agg(count(lit(1)).as("vocab"))
    val pts = n.join(v, $"i" === $"i2")
      .select($"i", $"cp", $"n_tokens", $"vocab",
        floor(log($"n_tokens".cast("double")) * 1000).cast("long").as("x"),
        floor(log($"vocab".cast("double")) * 1000).cast("long").as("y"))
    val sums = lsqSums($"x", $"y")
    val beta = pts
      .agg(sums.head, sums.tail: _*)
      .select(expr(slopeBpSql).as("heaps_beta_bp"))
    pts.crossJoin(broadcast(beta))
      .select($"i".as("ckpt"), $"cp".as("doc_lt"), $"n_tokens", $"vocab",
        $"heaps_beta_bp")
      .orderBy($"ckpt")
  }

  val q135Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       dt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM tk),
       sh AS (
         SELECT doc_id, unnest(list_transform(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END,
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS term
         FROM tk),
       fo AS (SELECT term, min(doc_id) AS fo FROM sh GROUP BY 1),
       spine AS (
         SELECT i, (i * (mx + 1)) // 10 AS cp
         FROM (SELECT max(doc_id) AS mx FROM documents),
              unnest(generate_series(1, 10)) AS t(i)),
       n AS (SELECT i, cp, CAST(sum(n_tok) AS BIGINT) AS n_tokens
             FROM dt JOIN spine ON doc_id < cp GROUP BY 1, 2),
       v AS (SELECT i, CAST(count(*) AS BIGINT) AS vocab
             FROM fo JOIN spine ON fo < cp GROUP BY 1),
       pts AS (
         SELECT n.i, cp, n_tokens, vocab,
           CAST(floor(ln(n_tokens * 1.0) * 1000) AS BIGINT) AS x,
           CAST(floor(ln(vocab * 1.0) * 1000) AS BIGINT) AS y
         FROM n JOIN v ON n.i = v.i),
       beta AS (
         SELECT CAST((count(*) * sum(x*y) - sum(x) * sum(y)) * 10000
                  // (count(*) * sum(x*x) - sum(x) * sum(x)) AS BIGINT) AS heaps_beta_bp
         FROM pts)
       SELECT CAST(i AS BIGINT) AS ckpt, cp AS doc_lt, n_tokens, vocab, heaps_beta_bp
       FROM pts CROSS JOIN beta ORDER BY ckpt"""

  /** Bigram-LM surprisal with Jelinek–Mercer smoothing — the modeling
    * upgrade over q77's unigram filter: score each doc by its mean
    * −ln p(w₂|w₁) under p = ¾·c₁₂/c₁ + ¼·c₂/T (all statistics over
    * the corpus' own bigram stream). Context-aware scoring separates
    * "rare words" (unigram-surprising, often fine) from "improbable
    * SEQUENCES" (word salad, shuffled boilerplate) — the distinction
    * the unigram filter cannot make.
    *
    * Parity: the interpolated probability is the exact rational
    * (3·c₁₂·T + c₂·c₁)/(4·c₁·T); its per-bigram surprisal is quantized
    * once (floor(ln·10⁶), operands < 2⁵³ so the double divide is
    * IEEE-exact) and per-doc means are pure integer sums — q77's
    * quantize-then-sum rule.
    *
    * Shape: one (doc,w1,w2) tf groupBy over the corpus (checkpointed —
    * it feeds c₁₂ and the final doc agg); c₁/c₂ derive from the
    * BIGRAM-VOCABULARY-sized c₁₂, not the corpus; T broadcasts. Docs
    * with <2 tokens have no bigrams and drop out (same in the oracle). */
  def q141BigramLm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(element_at(tk, i) as w1, element_at(tk, i + 1) as w2))"))
        .as("bg"))
      .select($"doc_id", $"bg.w1", $"bg.w2")
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val c12 = tf.groupBy($"w1", $"w2").agg(sum($"tf").as("c12"))
    val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
    val c2 = c12.groupBy($"w2").agg(sum($"c12").as("c2"))
    val tot = c12.agg(sum($"c12").as("t"))
    // enrich the VOCAB-sized bigram relation first (c12⨝c1⨝c2 are all
    // bigram-type-sized), so the corpus-sized tf joins ONCE against the
    // finished per-type surprisal — the tf⨝c12⨝c1⨝c2 order would
    // re-shuffle the big relation on (w1,w2), then w1, then w2
    val bstats = c12.join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(tot))
      .select($"w1", $"w2",
        floor(log(($"c1" * $"t" * 4) * lit(1.0) / ($"c12" * $"t" * 3 + $"c2" * $"c1"))
          * lit(1000000.0)).cast("long").as("s_micro"))
    tf.join(bstats, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_bigrams"), sum($"tf" * $"s_micro").as("s_sum"))
      .select($"doc_id", $"n_bigrams",
        expr("s_sum div n_bigrams").as("bigram_surprisal_micro"))
      .orderBy($"doc_id")
  }

  val q141Oracle: String =
    """WITH t AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
         FROM documents),
       bg0 AS (
         SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)-1),
           i -> {'w1': tk[i], 'w2': tk[i+1]})) AS u
         FROM t WHERE len(tk) >= 2),
       tf AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS tf
              FROM bg0 GROUP BY 1, 2, 3),
       c12 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM tf GROUP BY 1, 2),
       c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
       c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
       tot AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM c12),
       sc AS (
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           CAST(sum(tf * CAST(floor(ln((4*c1*t)*1.0 / (3*c12*t + c2*c1)) * 1000000.0) AS BIGINT)) AS BIGINT) AS s_sum
         FROM tf JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN c2 USING (w2)
         CROSS JOIN tot GROUP BY 1)
       SELECT doc_id, n_bigrams, CAST(s_sum // n_bigrams AS BIGINT) AS bigram_surprisal_micro
       FROM sc ORDER BY doc_id"""

  /** Dataset card — the one-row corpus summary a curation pipeline
    * publishes with every release: volume (docs/tokens/chars), slice
    * cardinalities (langs/sources), exact-dup mass, and mean document
    * length. The interesting part at scale is the PLAN, not the math:
    * one scan feeds four 1-row aggregates (each partial-agg friendly)
    * that cross-join back together — NOT one agg with three
    * countDistincts, which would Expand every input row once per
    * distinct group (q58's lesson: 3× the scan feeding the shuffle).
    *
    * The text-hash distinct count runs as its own aggregation over the
    * 60-bit content hash (longs shuffle, not document bodies). */
  def q144DatasetCard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"lang", $"source", $"n_chars",
        size(tokens($"text")).cast("long").as("n_tok"),
        hash60($"text").as("th"))
      .localCheckpoint() // one scan+tokenize, four aggregate consumers
    val vol = base.agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
      sum($"n_chars").as("n_chars"))
    val langs = base.select($"lang").distinct().agg(count(lit(1)).as("n_langs"))
    val srcs = base.select($"source").distinct().agg(count(lit(1)).as("n_sources"))
    val uniq = base.select($"th").distinct().agg(count(lit(1)).as("n_uniq_texts"))
    vol.crossJoin(broadcast(langs)).crossJoin(broadcast(srcs))
      .crossJoin(broadcast(uniq))
      .select($"n_docs", $"n_tokens", $"n_chars", $"n_langs", $"n_sources",
        $"n_uniq_texts",
        expr("(n_docs - n_uniq_texts) * 1000 div n_docs").as("dup_permille"),
        expr("n_tokens div n_docs").as("mean_doc_tokens"))
  }

  val q144Oracle: String =
    """WITH base AS (
         SELECT lang, source, n_chars,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tok,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS th
         FROM documents),
       vol AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars FROM base),
       l AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM base),
       s AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM base),
       u AS (SELECT CAST(count(DISTINCT th) AS BIGINT) AS n_uniq_texts FROM base)
       SELECT n_docs, n_tokens, n_chars, n_langs, n_sources, n_uniq_texts,
         (n_docs - n_uniq_texts) * 1000 // n_docs AS dup_permille,
         n_tokens // n_docs AS mean_doc_tokens
       FROM vol CROSS JOIN l CROSS JOIN s CROSS JOIN u"""

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, split documents into head / middle / tail terciles by
    * their bigram-LM surprisal under that LANGUAGE'S OWN model (q141's
    * Jelinek–Mercer bigram LM with every statistic keyed by lang —
    * cross-language surprisals are not comparable, which is why CCNet
    * trains one LM per language), then report each bucket's size and
    * surprisal range. Head = the most-fluent third, the slice CCNet
    * keeps unconditionally; tail is the usual drop candidate.
    *
    * The tercile cut is the q93 value-histogram idiom per lang: the
    * cumulative window runs over the per-lang SURPRISAL HISTOGRAM
    * (bounded, partitioned by lang — never over document rows), ties
    * indivisible, bucket = (3·rows_before) div n_lang. Mean surprisal
    * comes from the histogram itself (Σ s·cnt), so no join back to
    * documents. Scale: q141's shape with lang added to every key —
    * partial-agg groupBys over the bigram stream, vocabulary-sized
    * model joins, broadcast per-lang totals. */
  def q272PerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Words are replaced by native 64-bit xxhash keys in the FIRST
    // projection (the q134/q135 hash-keyed-groupBy tuning: every
    // downstream shuffle moves longs, not strings — measured 3.3 s →
    // string-free at sf0.1). The oracle still groups by the words
    // themselves, so a real hash collision would change counts and
    // fail the hash compare — the verification doubles as the
    // collision check.
    // No (doc, bigram) pre-aggregation: within a document bigrams
    // rarely repeat, so that groupBy shuffles ~|occurrences| groups for
    // nothing (measured: it was the dominant stage). The occurrence
    // stream itself is checkpointed once and feeds both the model
    // build and the scoring join; the doc score aggregates occurrence
    // surprisals directly (Σ over occurrences == Σ tf·s by
    // commutativity, same integers).
    val occ = Tables.documents(s, d)
      .select($"doc_id", $"lang", tokens($"text").as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", $"lang", explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(element_at(tk, i) as w1, element_at(tk, i + 1) as w2))"))
        .as("bg"))
      .select($"doc_id", $"lang",
        xxhash64($"bg.w1").as("h1"), xxhash64($"bg.w2").as("h2"))
    // r12 A/B: the old checkpoint here measured 1.56 s vs 1.40 s
    // WITHOUT — c1/c2 derive from c12's aggregate, which ReuseExchange
    // dedupes; materializing the exploded bigrams only added a job
    val c12 = occ.groupBy($"lang", $"h1", $"h2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy($"lang", $"h1").agg(sum($"c12").as("c1"))
    val c2 = c12.groupBy($"lang", $"h2").agg(sum($"c12").as("c2"))
    val tot = c12.groupBy($"lang").agg(sum($"c12").as("t"))
    val bstats = c12.join(c1, Seq("lang", "h1")).join(c2, Seq("lang", "h2"))
      .join(broadcast(tot), "lang")
      .select($"lang", $"h1", $"h2",
        floor(log(($"c1" * $"t" * 4) * lit(1.0) / ($"c12" * $"t" * 3 + $"c2" * $"c1"))
          * lit(1000000.0)).cast("long").as("s_micro"))
    val ds = occ.join(bstats, Seq("lang", "h1", "h2"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("nb"), sum($"s_micro").as("ss"))
      .select($"lang", expr("ss div nb").as("s"))
    val hist = ds.groupBy($"lang", $"s").agg(count(lit(1)).as("cnt"))
    val nl = ds.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    val w = Window.partitionBy($"lang").orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("cumb", coalesce(sum($"cnt").over(w), lit(0L)))
      .join(broadcast(nl), "lang")
      .withColumn("bucket", expr(
        "CASE (3 * cumb) div n_lang WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"))
      .groupBy($"lang", $"bucket")
      .agg(sum($"cnt").as("n_docs"),
        min($"s").as("lo_micro"), max($"s").as("hi_micro"),
        expr("sum(s * cnt) div sum(cnt)").as("mean_micro"))
      .orderBy($"lang", $"bucket")
  }

  val q272Oracle: String =
    """WITH t AS (
         SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
         FROM documents),
       bg0 AS (
         SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(tk)-1),
           i -> {'w1': tk[i], 'w2': tk[i+1]})) AS u
         FROM t WHERE len(tk) >= 2),
       tf AS (SELECT doc_id, lang, u.w1 AS w1, u.w2 AS w2,
                CAST(count(*) AS BIGINT) AS tf
              FROM bg0 GROUP BY 1, 2, 3, 4),
       c12 AS (SELECT lang, w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM tf GROUP BY 1, 2, 3),
       c1 AS (SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1, 2),
       c2 AS (SELECT lang, w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1, 2),
       tot AS (SELECT lang, CAST(sum(c12) AS BIGINT) AS t FROM c12 GROUP BY 1),
       ds AS (
         SELECT doc_id, lang,
           CAST(sum(tf * CAST(floor(ln((4*c1*t)*1.0 / (3*c12*t + c2*c1)) * 1000000.0) AS BIGINT))
             // sum(tf) AS BIGINT) AS s
         FROM tf JOIN c12 USING (lang, w1, w2) JOIN c1 USING (lang, w1)
           JOIN c2 USING (lang, w2) JOIN tot USING (lang)
         GROUP BY 1, 2),
       hist AS (SELECT lang, s, CAST(count(*) AS BIGINT) AS cnt FROM ds GROUP BY 1, 2),
       nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM ds GROUP BY 1),
       c AS (SELECT lang, s, cnt,
               COALESCE(CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
             FROM hist),
       b AS (SELECT c.lang, s, cnt,
               CASE (3 * cumb) // n_lang WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
             FROM c JOIN nl ON c.lang = nl.lang)
       SELECT lang, bucket, CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(min(s) AS BIGINT) AS lo_micro, CAST(max(s) AS BIGINT) AS hi_micro,
         CAST(sum(s * cnt) // sum(cnt) AS BIGINT) AS mean_micro
       FROM b GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Leave-one-source-out LM valuation (q377): what does each source
    * DO to the corpus language model? value(s) = H(corpus ∖ s) −
    * H(corpus) under the unigram MLE — positive means removing s
    * makes the corpus HARDER to predict (s contributed redundant,
    * compressible mass), negative means s was adding diversity. The
    * data-valuation number that prices an acquisition or a cut, and
    * the LM-side complement of q261's shingle-novelty audit.
    *
    * The trick that makes 20 leave-outs cost ONE vocab pass each: the
    * leave-out entropy shares almost every term with the full sum —
    * start from base(s) = Σ_types c_g·⌊ln((T−T_s)/c_g)⌋ (the full
    * vocabulary under the reduced total) and CORRECT only the types
    * source s actually touches (subtract their base term, add the
    * residual-count term). Work = |vocab|·|sources| + |touched|, all
    * vocab-sized — the corpus is scanned once (q283's grid shape).
    *
    * Parity: every ln is floored to micro-nats on an exact rational
    * (q141), then only integer sums and divisions. */
  def q377SourceValueLm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sw = Tables.documents(s, d)
      .select($"source", explode(tokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val gw = sw.groupBy($"w").agg(sum($"c").as("cg"))
    val tot = sw.agg(sum($"c").as("t"))
    val stot = sw.groupBy($"source").agg(sum($"c").as("ts"))
    val hfull = gw.crossJoin(broadcast(tot))
      .agg(sum($"cg" * floor(log($"t".cast("double") / $"cg") * 1000000.0)
        .cast("long")).as("num"), max($"t").as("tt"))
      .selectExpr("num div tt AS h")
    val touched = sw.join(gw, "w")
      .select($"source", ($"cg" - $"c").as("cr"), $"cg")
    val parts = touched.crossJoin(broadcast(tot)).join(broadcast(stot), "source")
      .groupBy($"source").agg(
        sum(when($"cr" > 0,
          $"cr" * floor(log(($"t" - $"ts").cast("double") / $"cr") * 1000000.0)
            .cast("long")).otherwise(0L)).as("num_touched"),
        sum($"cg" * floor(log(($"t" - $"ts").cast("double") / $"cg") * 1000000.0)
          .cast("long")).as("sub_touched"))
    val allsum = gw.crossJoin(broadcast(tot)).crossJoin(broadcast(stot))
      .groupBy($"source", $"t", $"ts")
      .agg(sum($"cg" * floor(log(($"t" - $"ts").cast("double") / $"cg") * 1000000.0)
        .cast("long")).as("base"))
    allsum.join(parts, "source").crossJoin(broadcast(hfull))
      .select($"source", $"ts".as("tokens"),
        expr("(base - sub_touched + num_touched) div (t - ts)").as("h_without_micro"),
        $"h".as("h_full_micro"),
        (expr("(base - sub_touched + num_touched) div (t - ts)") - $"h").as("value_micro"))
      .orderBy($"source")
  }

  val q377Oracle: String =
    """WITH tk AS (
         SELECT source, unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS w
         FROM documents),
       sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
       gw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cg FROM sw GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM sw),
       stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM sw GROUP BY 1),
       hfull AS (
         SELECT CAST(sum(cg * CAST(floor(ln(CAST(t AS DOUBLE) / cg) * 1000000.0) AS BIGINT)) AS BIGINT)
           // CAST(max(t) AS BIGINT) AS h
         FROM gw CROSS JOIN tot),
       touched AS (
         SELECT sw.source, gw.cg - sw.c AS cr, gw.cg
         FROM sw JOIN gw USING (w)),
       parts AS (
         SELECT t2.source,
           CAST(sum(CASE WHEN t2.cr > 0 THEN t2.cr * CAST(floor(ln(CAST(tot.t - st.ts AS DOUBLE) / t2.cr) * 1000000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS num_touched,
           CAST(sum(t2.cg * CAST(floor(ln(CAST(tot.t - st.ts AS DOUBLE) / t2.cg) * 1000000.0) AS BIGINT)) AS BIGINT) AS sub_touched
         FROM touched t2 CROSS JOIN tot JOIN stot st ON st.source = t2.source
         GROUP BY 1),
       allsum AS (
         SELECT st.source, tot.t AS t, st.ts AS ts,
           CAST(sum(gw.cg * CAST(floor(ln(CAST(tot.t - st.ts AS DOUBLE) / gw.cg) * 1000000.0) AS BIGINT)) AS BIGINT) AS base
         FROM gw CROSS JOIN tot CROSS JOIN stot st
         GROUP BY 1, 2, 3)
       SELECT a.source, a.ts AS tokens,
         (a.base - p.sub_touched + p.num_touched) // (a.t - a.ts) AS h_without_micro,
         hfull.h AS h_full_micro,
         (a.base - p.sub_touched + p.num_touched) // (a.t - a.ts) - hfull.h AS value_micro
       FROM allsum a JOIN parts p ON a.source = p.source CROSS JOIN hfull
       ORDER BY a.source"""

  /** Speculative-decoding acceptance audit (q388): if a cheap draft
    * model trained on ONE source proposes tokens that the corpus-wide
    * target model verifies (Leviathan et al. 2023 rejection scheme),
    * the per-token acceptance rate is E_{x~q}[min(1, p(x)/q(x))] =
    * Σ_x min(p(x), q(x)) = 1 − TV(p, q). Scoring every source's
    * unigram LM against the corpus LM ranks WHICH slice of the data
    * would make the best draft model — and 1−TV doubles as the
    * distribution-shift distance the mixture designer (q85/q369)
    * wants next to per-source entropy (q115) and LOO value (q377).
    *
    * Exactness: the min() split is decided by cross-multiplied
    * DECIMAL/HUGEINT comparisons (q369 discipline — no division in a
    * comparison); Σ min then has the closed form A/T + B/T_s with A =
    * Σ c_global over globally-smaller types and B = Σ c_source over
    * the rest, floored ONCE to ppm on the exact rational. The k=4
    * lookahead speedup (1−α⁵)/(1−α) is the only float step —
    * explicit-parenthesis products of the ppm-quantized α, identical
    * IEEE on both engines (q374's HOF-product rule).
    *
    * Shape at scale: one corpus scan → (source, type) partials; the
    * vocab-sized join against the global histogram is the only wide
    * exchange; output is |sources| rows. */
  def q388SpecDecodeAccept(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sw = Tables.documents(s, d)
      .select($"source", explode(tokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val gw = sw.groupBy($"w").agg(sum($"c").as("cg"))
    val tot = sw.agg(sum($"c").as("t"))
    val stot = sw.groupBy($"source").agg(sum($"c").as("ts"))
    val globalSmaller = expr(
      """CAST(cg AS DECIMAL(20,0)) * CAST(ts AS DECIMAL(18,0))
         <= CAST(c AS DECIMAL(20,0)) * CAST(t AS DECIMAL(18,0))""")
    val ab = sw.join(gw, "w").crossJoin(broadcast(tot))
      .join(broadcast(stot), "source")
      .groupBy($"source").agg(
        sum(when(globalSmaller, $"cg").otherwise(0L)).as("a"),
        sum(when(globalSmaller, 0L).otherwise($"c")).as("b"),
        count(lit(1)).as("vocab"))
    ab.crossJoin(broadcast(tot)).join(broadcast(stot), "source")
      .select($"source", $"ts".as("tokens"), $"vocab",
        expr("""CAST(((CAST(a AS DECIMAL(20,0)) * ts
                       + CAST(b AS DECIMAL(20,0)) * t) * 1000000)
                div (CAST(t AS DECIMAL(20,0)) * ts) AS BIGINT)""")
          .as("accept_ppm"))
      .withColumn("alpha", $"accept_ppm".cast("double") / 1000000.0)
      .select($"source", $"tokens", $"vocab", $"accept_ppm",
        when($"accept_ppm" >= 1000000L, 5000L)
          .otherwise(floor(
            (lit(1.0) - (($"alpha" * $"alpha") * ($"alpha" * $"alpha")) * $"alpha")
              / (lit(1.0) - $"alpha") * lit(1000.0)).cast("long"))
          .as("speedup_milli"))
      .orderBy($"source")
  }

  val q388Oracle: String =
    """WITH tk AS (
         SELECT source, unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS w
         FROM documents),
       sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
       gw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cg FROM sw GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM sw),
       stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM sw GROUP BY 1),
       ab AS (
         SELECT sw.source,
           CAST(sum(CASE WHEN CAST(gw.cg AS HUGEINT) * st.ts <= CAST(sw.c AS HUGEINT) * tot.t
                    THEN gw.cg ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN CAST(gw.cg AS HUGEINT) * st.ts <= CAST(sw.c AS HUGEINT) * tot.t
                    THEN 0 ELSE sw.c END) AS BIGINT) AS b,
           CAST(count(*) AS BIGINT) AS vocab
         FROM sw JOIN gw USING (w) CROSS JOIN tot
           JOIN stot st ON st.source = sw.source
         GROUP BY 1),
       acc AS (
         SELECT ab.source, st.ts AS tokens, ab.vocab,
           CAST((CAST(ab.a AS HUGEINT) * st.ts + CAST(ab.b AS HUGEINT) * tot.t) * 1000000
                // (CAST(tot.t AS HUGEINT) * st.ts) AS BIGINT) AS accept_ppm
         FROM ab CROSS JOIN tot JOIN stot st ON st.source = ab.source),
       al AS (SELECT *, CAST(accept_ppm AS DOUBLE) / 1000000.0 AS alpha FROM acc)
       SELECT source, tokens, vocab, accept_ppm,
         CASE WHEN accept_ppm >= 1000000 THEN CAST(5000 AS BIGINT)
              ELSE CAST(floor((1.0 - ((alpha*alpha)*(alpha*alpha))*alpha)
                              / (1.0 - alpha) * 1000.0) AS BIGINT) END AS speedup_milli
       FROM al ORDER BY source"""

  /** Modified Kneser–Ney estimation table (q389): the statistics a
    * KenLM-style n-gram LM build derives before any probability is
    * emitted — per-language bigram count-of-counts n1..n4, the three
    * Chen–Goodman (1999) discounts D1 = 1 − 2Y·n2/n1, D2 = 2 −
    * 3Y·n3/n2, D3+ = 3 − 4Y·n4/n3 with Y = n1/(n1+2n2), and the
    * continuation-count exhibit behind KN's lower-order distribution:
    * the word with the most distinct left contexts (top_cont) vs the
    * word with the highest raw continuation mass (top_raw) — the
    * "Francisco" effect (high raw count, one context) made visible.
    *
    * Exactness: each discount is a single floor over an exact
    * rational — algebra first (D1 reduces to 1 − 2n2/(n1+2n2)), then
    * one div with cross-multiplied DECIMAL/HUGEINT numerators so the
    * 100 TB count-of-counts cannot overflow; zero denominators are
    * nullif'd identically on both sides. Argmaxes are min-of-struct
    * aggregations ((−count, word) — largest count, then UTF-8-least
    * word), never a vocab-sized sort.
    *
    * Shape at scale: one corpus scan → (lang, w1, w2) partials; two
    * stacked vocab-sized groupBys; output is |langs| rows. */
  def q389KneserNey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bg = Tables.documents(s, d)
      .select($"lang", tokens($"text").as("tk"))
      .filter(size($"tk") >= 2)
      .select($"lang", explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(element_at(tk, i) as w1, element_at(tk, i + 1) as w2))"))
        .as("bg"))
      .groupBy($"lang", $"bg.w1", $"bg.w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val fof = bg.groupBy($"lang").agg(
      count(lit(1)).as("bigram_types"),
      sum(when($"c12" === 1, 1L).otherwise(0L)).as("n1"),
      sum(when($"c12" === 2, 1L).otherwise(0L)).as("n2"),
      sum(when($"c12" === 3, 1L).otherwise(0L)).as("n3"),
      sum(when($"c12" === 4, 1L).otherwise(0L)).as("n4"))
    val disc = fof.select($"lang", $"bigram_types",
      $"n1", $"n2", $"n3", $"n4",
      expr("1000000 - (2000000 * n2) div nullif(n1 + 2 * n2, 0)")
        .as("d1_micro"),
      expr("""2000000 - CAST(3 AS DECIMAL(20,0)) * n1 * n3 * 1000000
              div (CAST(n1 + 2 * n2 AS DECIMAL(20,0)) * nullif(n2, 0))""")
        .as("d2_micro"),
      expr("""3000000 - CAST(4 AS DECIMAL(20,0)) * n1 * n4 * 1000000
              div (CAST(n1 + 2 * n2 AS DECIMAL(20,0)) * nullif(n3, 0))""")
        .as("d3_micro"))
    val cont = bg.groupBy($"lang", $"w2")
      .agg(count(lit(1)).as("nc"), sum($"c12").as("raw"))
    val tops = cont.groupBy($"lang").agg(
        min(struct((-$"nc").as("k"), $"w2".as("w"))).as("tc"),
        min(struct((-$"raw").as("k"), $"w2".as("w"))).as("tr"))
      .select($"lang", $"tc.w".as("top_cont_w"), (-$"tc.k").as("top_cont_types"),
        $"tr.w".as("top_raw_w"), (-$"tr.k").as("top_raw_c"))
    disc.join(tops, "lang").orderBy($"lang")
  }

  val q389Oracle: String =
    """WITH t AS (
         SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
         FROM documents),
       bg0 AS (
         SELECT lang, unnest(list_transform(generate_series(1, len(tk)-1),
           i -> {'w1': tk[i], 'w2': tk[i+1]})) AS u
         FROM t WHERE len(tk) >= 2),
       c12 AS (SELECT lang, u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
               FROM bg0 GROUP BY 1, 2, 3),
       fof AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS bigram_types,
           CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           CAST(sum(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
         FROM c12 GROUP BY 1),
       disc AS (
         SELECT lang, bigram_types, n1, n2, n3, n4,
           1000000 - (2000000 * n2) // nullif(n1 + 2 * n2, 0) AS d1_micro,
           2000000 - CAST(CAST(3 AS HUGEINT) * n1 * n3 * 1000000
                     // (CAST(n1 + 2 * n2 AS HUGEINT) * nullif(n2, 0)) AS BIGINT) AS d2_micro,
           3000000 - CAST(CAST(4 AS HUGEINT) * n1 * n4 * 1000000
                     // (CAST(n1 + 2 * n2 AS HUGEINT) * nullif(n3, 0)) AS BIGINT) AS d3_micro
         FROM fof),
       cont AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS nc,
                  CAST(sum(c12) AS BIGINT) AS raw
                FROM c12 GROUP BY 1, 2),
       tc AS (SELECT lang, w2 AS top_cont_w, nc AS top_cont_types,
                row_number() OVER (PARTITION BY lang ORDER BY nc DESC, w2) AS rn
              FROM cont),
       tr AS (SELECT lang, w2 AS top_raw_w, raw AS top_raw_c,
                row_number() OVER (PARTITION BY lang ORDER BY raw DESC, w2) AS rn
              FROM cont)
       SELECT d.lang, d.bigram_types, d.n1, d.n2, d.n3, d.n4,
         d.d1_micro, d.d2_micro, d.d3_micro,
         tc.top_cont_w, tc.top_cont_types, tr.top_raw_w, tr.top_raw_c
       FROM disc d
         JOIN tc ON tc.lang = d.lang AND tc.rn = 1
         JOIN tr ON tr.lang = d.lang AND tr.rn = 1
       ORDER BY d.lang"""

  /** N-gram novelty curve (q329): what fraction of each corpus-order
    * decile's 3-grams are NEW types never seen in earlier deciles —
    * the empirical saturation readout behind Heaps'-law fits (q135)
    * and the measured answer to "does more of this source still add
    * anything?". A curve that collapses to ~0 says the source is
    * exhausted; the synthetic corpus decays smoothly (9537 → 3858 bp
    * at sf0.01).
    *
    * Shape: one gram explode; first-occurrence decile is a min-agg
    * over the gram TYPE (types cross the shuffle, not positions —
    * q366's rule); the output is a 10-row rollup with a bounded
    * cumulative window. */
  def q329NoveltyCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val tk = docs
      .select($"doc_id", graft.functions.Fns.tokens($"text").as("tk"))
      .filter(size($"tk") >= 3)
    val tok = tk.select($"doc_id",
      explode(transform(sequence(lit(1), size($"tk") - 2),
        i => concat_ws(" ", element_at($"tk", i), element_at($"tk", i + 1),
          element_at($"tk", i + 2)))).as("t"))
    val dd = tok.crossJoin(broadcast(nd))
      .select($"t", least(expr("(doc_id * 10) div n_docs"), lit(9L)).as("decile"))
    val per = dd.groupBy($"decile").agg(count(lit(1)).as("n_grams"))
    val novel = dd.groupBy($"t").agg(min($"decile").as("decile"))
      .groupBy($"decile").agg(count(lit(1)).as("n_new_types"))
    per.join(novel, Seq("decile"), "left")
      .select($"decile", $"n_grams",
        coalesce($"n_new_types", lit(0L)).as("n_new_types"))
      .withColumn("cum_types", sum($"n_new_types").over(
        Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("novelty_bp", expr("n_new_types * 10000 div n_grams"))
      .orderBy($"decile")
  }

  val q329Oracle: String =
    """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       tk AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk FROM documents),
       tok AS (
         SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS t
         FROM tk, unnest(generate_series(1, len(tk)-2)) AS u(i)
         WHERE len(tk) >= 3),
       dd AS (SELECT t, least((doc_id * 10) // n_docs, 9) AS decile FROM tok CROSS JOIN nd),
       firsts AS (SELECT t, min(decile) AS decile FROM dd GROUP BY t),
       per AS (SELECT decile, count(*) AS n_grams FROM dd GROUP BY decile),
       novel AS (SELECT decile, count(*) AS n_new_types FROM firsts GROUP BY 1)
       SELECT p.decile, CAST(p.n_grams AS BIGINT) AS n_grams,
         CAST(coalesce(nv.n_new_types, 0) AS BIGINT) AS n_new_types,
         CAST(sum(coalesce(nv.n_new_types, 0)) OVER (ORDER BY p.decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types,
         CAST(coalesce(nv.n_new_types, 0) * 10000 // p.n_grams AS BIGINT) AS novelty_bp
       FROM per p LEFT JOIN novel nv ON p.decile = nv.decile
       ORDER BY p.decile"""

  /** Training-shard mixing audit (q391): assign every doc to one of 16
    * shards by the deterministic hash, and compare each shard's SOURCE
    * entropy (micro-nats, the exact-rational ln idiom) against the
    * corpus source entropy. A shard whose mix_bp sits well under
    * 10000 is source-skewed — exactly the within-shard correlation
    * that turns "shuffled" training data into correlated gradient
    * batches. The audit is the readout for choosing the shard count /
    * hash before writing training shards.
    *
    * Shape: one (shard × source) cell aggregate (bounded domain:
    * 16 × |sources|); entropies are integer sums over that bounded
    * relation. */
  def q391ShardMixingAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cell = Tables.documents(s, d)
      .select((knuthHash($"doc_id") % lit(16)).as("shard"),
        $"source")
      .groupBy($"shard", $"source").agg(count(lit(1)).as("c"))
    val per = cell.groupBy($"shard").agg(sum($"c").as("n"))
    val hshard = cell.join(per, "shard")
      .select($"shard", $"n",
        ($"c" * floor(log($"n" * lit(1.0) / $"c") * lit(1000000.0))
          .cast("long")).as("term"))
      .groupBy($"shard", $"n")
      .agg(expr("CAST(sum(term) AS BIGINT) div n").as("h_micro"))
    val corp = Tables.documents(s, d)
      .groupBy($"source").agg(count(lit(1)).as("c"))
    val ct = corp.agg(sum($"c").as("nt"))
    val hcorp = corp.crossJoin(broadcast(ct))
      .select(($"c" * floor(log($"nt" * lit(1.0) / $"c") * lit(1000000.0))
        .cast("long")).as("term"), $"nt")
      .groupBy($"nt")
      .agg(expr("CAST(sum(term) AS BIGINT) div nt").as("h_corpus"))
      .select($"h_corpus")
    hshard.crossJoin(broadcast(hcorp))
      .select($"shard", $"n".as("n_docs"), $"h_micro", $"h_corpus",
        expr("h_micro * 10000 div h_corpus").as("mix_bp"))
      .orderBy($"shard")
  }

  val q391Oracle: String =
    """WITH sh AS (
         SELECT ((doc_id % 2147483648) * 2654435761) % 16 AS shard, source FROM documents),
       cell AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY 1, 2),
       per AS (SELECT shard, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY shard),
       hshard AS (
         SELECT cell.shard,
           CAST(sum(c * CAST(floor(ln(per.n * 1.0 / c) * 1000000.0) AS BIGINT)) // per.n AS BIGINT) AS h_micro
         FROM cell JOIN per ON cell.shard = per.shard GROUP BY cell.shard, per.n),
       corp AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY source),
       ct AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM corp),
       hcorp AS (
         SELECT CAST(sum(c * CAST(floor(ln(ct.nt * 1.0 / c) * 1000000.0) AS BIGINT)) // ct.nt AS BIGINT) AS h_corpus
         FROM corp CROSS JOIN ct GROUP BY ct.nt)
       SELECT CAST(hshard.shard AS BIGINT) AS shard, per.n AS n_docs,
         hshard.h_micro, hcorp.h_corpus,
         CAST(hshard.h_micro * 10000 // hcorp.h_corpus AS BIGINT) AS mix_bp
       FROM hshard JOIN per ON hshard.shard = per.shard CROSS JOIN hcorp
       ORDER BY shard"""

  /** Incremental novelty maintenance (q392): the IVM form of q329 —
    * when a delta of documents arrives (doc_id % 10 = 0, the q52
    * convention for "today's batch"), how many of each delta doc's
    * 3-gram TYPES are genuinely new against the maintained seen-gram
    * index (base corpus ∪ earlier delta docs, earlier = smaller id)?
    * The per-doc novelty gate an ingest pipeline applies before
    * accepting a crawl batch — and the batch twin of
    * [[graft.streaming.DocStreams.noveltyStateful]], which runs the
    * same first-seen semantics as keyed streaming state seeded with
    * the corpus index (DocStreamsSpec proves doc-for-doc equality).
    *
    * Shape: base membership is a left-anti join against the gram-type
    * relation (types cross the shuffle, not positions); first-delta
    * attribution is a min-agg per type; per-doc rollup. */
  def q392NoveltyIvm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = Tables.documents(s, d)
      .select($"doc_id", graft.functions.Fns.tokens($"text").as("tk"))
      .filter(size($"tk") >= 3)
    val grams = tk.select($"doc_id",
      explode(transform(sequence(lit(1), size($"tk") - 2),
        i => concat_ws(" ", element_at($"tk", i), element_at($"tk", i + 1),
          element_at($"tk", i + 2)))).as("g"))
    val base = grams.filter($"doc_id" % 10 =!= 0).select($"g").distinct()
    val delta = grams.filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"g").distinct()
    val fresh = delta.join(base, Seq("g"), "left_anti")
      .groupBy($"g").agg(min($"doc_id").as("first_doc"))
    delta.join(fresh, Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_types"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
          .as("n_new_types"))
      .withColumn("novelty_bp", expr("n_new_types * 10000 div n_types"))
      .orderBy($"doc_id")
  }

  val q392Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       grams AS (
         SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
         FROM tk, unnest(generate_series(1, len(tk)-2)) AS u(i)
         WHERE len(tk) >= 3),
       base AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 <> 0),
       delta AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 10 = 0),
       fresh AS (
         SELECT d.g, min(d.doc_id) AS first_doc
         FROM delta d LEFT JOIN base b ON d.g = b.g
         WHERE b.g IS NULL GROUP BY d.g),
       per AS (
         SELECT d.doc_id, count(*) AS n_types,
           sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS n_new_types
         FROM delta d LEFT JOIN fresh f ON d.g = f.g
         GROUP BY d.doc_id)
       SELECT doc_id, CAST(n_types AS BIGINT) AS n_types,
         CAST(n_new_types AS BIGINT) AS n_new_types,
         CAST(n_new_types * 10000 // n_types AS BIGINT) AS novelty_bp
       FROM per ORDER BY doc_id"""

  /** BPE merge ROI (q400): for q130's top-3 candidate pairs, the
    * REALIZABLE corpus savings of actually applying the merge —
    * non-overlapping occurrence counts via the q280 left-to-right
    * replace identity, (len − len(replace(term, pair, ''))) div 2,
    * weighted by term frequency — against the positional pair count
    * q130 ranks by. The two differ exactly by self-overlap ("aaaa"
    * holds three positional "aa"s but only two realizable merges), so
    * overlap_inflation_bp quantifies how much the cheap ranking count
    * over-promises — the difference between RANKING merges and
    * PRICING them.
    *
    * Shape: everything runs on the vocabulary relation (pair explode
    * and replace fan over distinct terms, not occurrences); the
    * candidate set is a 3-row top-k cut broadcast over the vocab. */
  def q400MergeRoi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select(explode(graft.functions.Fns.tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // vocab feeds pair ranking, the ROI scan, totals
    val top = tf.filter(length($"term") >= 2)
      .select($"tf",
        explode(sequence(lit(1), length($"term") - 1)).as("i"), $"term")
      .select($"tf", expr("substring(term, i, 2)").as("pair"))
      .groupBy($"pair").agg(sum($"tf").as("cnt"))
      .orderBy($"cnt".desc, $"pair").limit(3)
      .withColumn("rank", row_number().over(
        Window.orderBy($"cnt".desc, $"pair")).cast("long"))
    val tot = tf.agg(sum($"tf" * length($"term")).as("total_chars"))
    tf.crossJoin(broadcast(top))
      .select($"pair", $"rank", $"cnt".as("positional_cnt"),
        ($"tf" *
          expr("(length(term) - length(replace(term, pair, ''))) div 2"))
          .as("x"))
      .groupBy($"pair", $"rank", $"positional_cnt")
      .agg(sum($"x").as("realizable"))
      .crossJoin(broadcast(tot))
      .select($"pair", $"rank", $"positional_cnt", $"realizable",
        expr("realizable * 10000 div total_chars").as("saved_bp"),
        expr("(positional_cnt - realizable) * 10000 div positional_cnt")
          .as("overlap_inflation_bp"))
      .orderBy($"rank")
  }

  val q400Oracle: String =
    """WITH occ AS (
         SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM occ GROUP BY 1),
       prs AS (
         SELECT substring(term, i, 2) AS pair, CAST(sum(tf) AS BIGINT) AS cnt
         FROM tf, unnest(generate_series(1, length(term) - 1)) AS u(i)
         WHERE length(term) >= 2 GROUP BY 1),
       top AS (
         SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rank
         FROM prs ORDER BY cnt DESC, pair LIMIT 3),
       tot AS (SELECT CAST(sum(tf * length(term)) AS BIGINT) AS total_chars FROM tf),
       roi AS (
         SELECT top.pair, top.rank, top.cnt AS positional_cnt,
           CAST(sum(tf * ((length(term) - length(replace(term, top.pair, ''))) // 2)) AS BIGINT) AS realizable
         FROM top CROSS JOIN tf GROUP BY 1, 2, 3)
       SELECT pair, CAST(rank AS BIGINT) AS rank, positional_cnt, realizable,
         CAST(realizable * 10000 // total_chars AS BIGINT) AS saved_bp,
         CAST((positional_cnt - realizable) * 10000 // positional_cnt AS BIGINT) AS overlap_inflation_bp
       FROM roi CROSS JOIN tot ORDER BY rank"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q392_novelty_ivm", q392NoveltyIvm, q392Oracle,
        Hooks(nonEmpty, range("novelty_bp", 0, 10000))),
      Query("q400_merge_roi", q400MergeRoi, q400Oracle,
        Hooks(nonEmpty, range("saved_bp", 0, 10000))),
      Query("q329_novelty_curve", q329NoveltyCurve, q329Oracle,
        Hooks(nonEmpty, range("novelty_bp", 0, 10000))),
      Query("q391_shard_mixing_audit", q391ShardMixingAudit, q391Oracle,
        Hooks(nonEmpty, range("mix_bp", 0, 10000))),
      Query("q389_kneser_ney", q389KneserNey, q389Oracle,
        Hooks(nonEmpty, range("d1_micro", 0, 1000000))),
      Query("q388_spec_decode_accept", q388SpecDecodeAccept, q388Oracle,
        Hooks(nonEmpty, range("accept_ppm", 0, 1000000))),
      Query("q377_source_value_lm", q377SourceValueLm, q377Oracle,
        NoBound("entropy deltas unbounded")),
      Query("q272_perplexity_buckets", q272PerplexityBuckets, q272Oracle,
        NoBound("surprisal unbounded (grows with vocab)")),
      Query("q175_concentration", q175Concentration, q175Oracle,
        Hooks(nonEmpty, range("top_share_bp", 0, 10000))),
      Query("q174_path_rollup", q174PathRollup, q174Oracle, NoBound(Structural)),
      Query("q173_greedy_cover", q173GreedyCover, q173Oracle,
        Hooks(nonEmpty, range("cum_coverage_bp", 0, 10000))),
      Query("q160_sliding_distinct", q160SlidingDistinct, q160Oracle, NoBound(Structural)),
      Query("q159_phrase_search", q159PhraseSearch, q159Oracle, NoBound(Structural)),
      Query("q144_dataset_card", q144DatasetCard, q144Oracle,
        Hooks(nonEmpty, range("dup_permille", 0, 1000))),
      Query("q141_bigram_lm", q141BigramLm, q141Oracle,
        NoBound("surprisal unbounded (grows with vocab)")),
      Query("q134_zipf_slope", q134ZipfSlope, q134Oracle,
        NoBound("fitted log-log slope - data-dependent")),
      Query("q135_heaps_law", q135HeapsLaw, q135Oracle,
        NoBound("fitted Heaps slope - secant<=1 not provable for OLS")),
      Query("q130_bpe_pairs", q130BpePairs, q130Oracle, NoBound(Structural)),
      Query("q115_source_entropy", q115SourceEntropy, q115Oracle,
        NoBound("entropy grows with vocab; KL data-dependent")),
      Query("q120_pmi_pairs", q120PmiPairs, q120Oracle, NoBound("PMI unbounded both sides")),
      Query("q49_bloom_decontam", q49BloomDecontam, q49Oracle,
        Hooks(nonEmpty, range("contam_permille", 0, 1000))),
      Query("q72_funnel", q72Funnel, q72Oracle, NoBound(Structural)),
      Query("q106_retention_cohorts", q106RetentionCohorts, q106Oracle, NoBound(Structural)),
      Query("q109_dense_calendar", q109DenseCalendar, q109Oracle,
        NoBound("trailing mean of daily counts - scales with SF")),
      Query("q107_session_sequences", q107SessionSequences, q107Oracle, NoBound(Structural)),
      Query("q77_surprisal", q77Surprisal, q77Oracle, NoBound("surprisal unbounded")),
      Query("q78_decontam", q78Decontam, q78Oracle,
        Hooks(nonEmpty, range("contam_permille", 0, 1000))),
      Query("q73_tfidf", q73Tfidf, q73Oracle, NoBound("tf-idf unbounded above")),
      Query("q74_bigrams", q74Bigrams, q74Oracle, NoBound(Structural)),
      Query("q75_stratified_sample", q75StratifiedSample, q75Oracle,
        Hooks(nonEmpty, range("sample_permille", 0, 1000))),
      Query("q76_vocab", q76Vocab, q76Oracle, Hooks(nonEmpty, range("hapax_permille", 0, 1000))),
    )
  }
}
