package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Behavioral-analytics operators over the events stream: marketing
  * attribution and Markov transition profiling. (North-star extension —
  * the reference has no event surface; these are the standard
  * product-analytics queries a clickstream warehouse runs, built on the
  * same primitives as q63's as-of join and q23's sessionization.)
  *
  * Scale design:
  *  - q113 rides the custom AsOfJoin operator (graft.plans.AsOfJoin):
  *    one clustered-distribution shuffle per side on user_id, then a
  *    sorted streaming merge — per-user state is one row, so a hot user
  *    costs memory O(1), unlike the naive "join all clicks before each
  *    purchase then argmax" which is quadratic per user. The 1-hour
  *    attribution window is a post-filter on the single matched row.
  *  - q114 is lead() over (user_id) partitions — one shuffle of events
  *    by user — followed by a partial-agg groupBy on the (src,dst) pair
  *    (25 cells). The probability readout divides in integer ppm so the
  *    matrix is bit-identical cross-engine.
  */
object Behavior extends graft.QueryModule {

  /** Last-touch attribution: each purchase is attributed to the same
    * user's most recent click at-or-before it, iff within 1 hour.
    * Daily report: purchases, attributed purchases, attributed value. */
  def q113Attribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"),
        $"ts".as("c_ts"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "ts", "c_user", "c_ts")
      .withColumn("attributed",
        $"click_id".isNotNull &&
          (unix_micros($"ts") - unix_micros($"c_ts") <= lit(3600000000L)))
      .groupBy(to_date($"ts").as("day"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when($"attributed", 1L).otherwise(0L)).as("n_attributed"),
        coalesce(sum(when($"attributed", $"value").cast("decimal(18,2)")),
          lit(0).cast("decimal(18,2)")).cast("double").as("attributed_value"))
      .orderBy($"day")
  }

  val q113Oracle: String =
    """WITH p AS (
         SELECT user_id, event_id, make_timestamp(epoch_us(ts)) AS ts, value
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id AS c_user, event_id AS click_id,
           make_timestamp(epoch_us(ts)) AS c_ts
         FROM events WHERE event_type = 'click'),
       j AS (
         SELECT p.user_id, p.ts, p.value, c.click_id, c.c_ts
         FROM p ASOF LEFT JOIN c ON p.user_id = c.c_user AND p.ts >= c.c_ts),
       a AS (
         SELECT *, COALESCE(click_id IS NOT NULL
           AND epoch_us(ts) - epoch_us(c_ts) <= 3600000000, FALSE) AS attributed
         FROM j)
       SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases,
         CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
         CAST(COALESCE(sum(CASE WHEN attributed
           THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS attributed_value
       FROM a GROUP BY 1 ORDER BY 1"""

  /** First-order Markov transition matrix of event types: per user,
    * consecutive event pairs in (time, event_id) order; per (src, dst)
    * cell the count and row-conditional probability in integer ppm. */
  def q114Transitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("dst", lead($"event_type", 1).over(byUser))
      .filter($"dst".isNotNull)
      .groupBy($"event_type".as("src"), $"dst")
      .agg(count(lit(1)).as("n"))
      .withColumn("src_total", sum($"n").over(Window.partitionBy($"src")))
      .withColumn("p_ppm", expr("(1000000 * n) div src_total"))
      .select($"src", $"dst", $"n", $"src_total", $"p_ppm")
      .orderBy($"src", $"dst")
  }

  val q114Oracle: String =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       x AS (
         SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst
         FROM e),
       p AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS n
         FROM x WHERE dst IS NOT NULL GROUP BY 1, 2)
       SELECT src, dst, n,
         CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS src_total,
         (1000000 * n) // CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS p_ppm
       FROM p ORDER BY 1, 2"""

  /** Next-event baseline evaluation: predict each user's next event
    * type as the argmax of q114's transition row (ties to the
    * lexicographically smaller type) and report the accuracy that
    * baseline achieves per source state — the sanity floor any
    * sequence model must beat, computed from the same matrix. */
  def q125NextEventBaseline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    q114Transitions(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"n".desc, $"dst")))
      .filter($"rn" === 1)
      .select($"src", $"dst".as("predicted_dst"), $"n".as("n_correct"),
        $"src_total", expr("(1000000 * n) div src_total").as("acc_ppm"))
      .orderBy($"src")
  }

  val q125Oracle: String =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       x AS (
         SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst
         FROM e),
       p AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS n
         FROM x WHERE dst IS NOT NULL GROUP BY 1, 2),
       t AS (
         SELECT src, dst, n,
           CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS src_total,
           row_number() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rn
         FROM p)
       SELECT src, dst AS predicted_dst, n AS n_correct, src_total,
         (1000000 * n) // src_total AS acc_ppm
       FROM t WHERE rn = 1 ORDER BY src"""

  /** Population-stability-index drift audit: per event type, compare
    * the `value` distribution of the first week (Jan 1–7) against the
    * last week (Jan 24–30) over 10 fixed-width bins (50-wide, top bin
    * open) with add-one smoothing, and publish PSI in integer
    * micro-nats — the distribution-shift monitor a training pipeline
    * runs between ingestion snapshots before trusting new data.
    *
    * Numeric parity (q115's rule): each BIN's term
    * (p_a − p_b)·ln(p_a/p_b) is computed in doubles from the same
    * integer counts on both engines and floored to micro-nats; the
    * per-type sum of integers is then reduce-order-free. The bin spine
    * is generated 0–9 so empty bins participate via smoothing instead
    * of silently dropping from the join.
    *
    * Scale: two filtered partial-agg groupBys over the scan (the date
    * windows push to the parquet scan as ts range filters), a 10-row
    * spine per type, and a |types|×10-row join — nothing after the
    * first aggregation is data-sized. */
  def q128PsiDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"ts",
      least(floor($"value" / 50.0), lit(9.0)).cast("long").as("bin"))
    val a = ev.filter($"ts" < to_timestamp(lit("2024-01-08 00:00:00")))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("ca"))
    val b = ev.filter($"ts" >= to_timestamp(lit("2024-01-24 00:00:00")))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("cb"))
    val na = a.groupBy($"event_type").agg(sum($"ca").as("na"))
    val nb = b.groupBy($"event_type").agg(sum($"cb").as("nb"))
    val spine = ev.select($"event_type").distinct()
      .select($"event_type", explode(sequence(lit(0L), lit(9L))).as("bin"))
    spine
      .join(a, Seq("event_type", "bin"), "left")
      .join(b, Seq("event_type", "bin"), "left")
      .join(na, "event_type").join(nb, "event_type")
      .select($"event_type",
        (coalesce($"ca", lit(0L)) + lit(1.0)).as("ca1"),
        (coalesce($"cb", lit(0L)) + lit(1.0)).as("cb1"),
        ($"na" + lit(10)).as("da"), ($"nb" + lit(10)).as("db"),
        $"na", $"nb")
      .select($"event_type", $"na", $"nb",
        floor(($"ca1" / $"da" - $"cb1" / $"db")
          * log(($"ca1" / $"da") / ($"cb1" / $"db")) * lit(1000000.0))
          .cast("long").as("t_micro"))
      .groupBy($"event_type")
      .agg(max($"na").as("n_first_week"), max($"nb").as("n_last_week"),
        sum($"t_micro").as("psi_micro"))
      .withColumn("drifted", $"psi_micro" > 100000L)
      .orderBy($"event_type")
  }

  val q128Oracle: String =
    """WITH ev AS (
         SELECT event_type, ts,
           CAST(least(floor(value / 50.0), 9.0) AS BIGINT) AS bin
         FROM events),
       a AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS ca
             FROM ev WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1, 2),
       b AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cb
             FROM ev WHERE ts >= TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1, 2),
       na AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS na FROM a GROUP BY 1),
       nb AS (SELECT event_type, CAST(sum(cb) AS BIGINT) AS nb FROM b GROUP BY 1),
       spine AS (
         SELECT event_type, r AS bin
         FROM (SELECT DISTINCT event_type FROM ev)
         CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS r)),
       q AS (
         SELECT s.event_type, na, nb,
           coalesce(ca, 0) + 1.0 AS ca1, coalesce(cb, 0) + 1.0 AS cb1,
           na + 10 AS da, nb + 10 AS db
         FROM spine s
         LEFT JOIN a ON s.event_type = a.event_type AND s.bin = a.bin
         LEFT JOIN b ON s.event_type = b.event_type AND s.bin = b.bin
         JOIN na ON s.event_type = na.event_type
         JOIN nb ON s.event_type = nb.event_type),
       t AS (
         SELECT event_type, na, nb,
           CAST(floor((ca1 / da - cb1 / db)
             * ln((ca1 / da) / (cb1 / db)) * 1000000.0) AS BIGINT) AS t_micro
         FROM q)
       SELECT event_type, max(na) AS n_first_week, max(nb) AS n_last_week,
         CAST(sum(t_micro) AS BIGINT) AS psi_micro,
         CAST(sum(t_micro) AS BIGINT) > 100000 AS drifted
       FROM t GROUP BY 1 ORDER BY 1"""

  /** Apriori step: frequent BRAND triples in order baskets, counted
    * the apriori way — candidates are generated ONLY from frequent
    * pairs ((a,b)∧(a,c)∧(b,c) all frequent ⇒ (a,b,c) is a candidate;
    * downward closure makes that lossless), and the basket pass counts
    * ONLY those candidates. That pruning is the whole algorithm: brands
    * give a 25-symbol alphabet, but at catalog scale the unpruned
    * triple space is |items|³ while candidates stay ~|frequent pairs|·k.
    *
    * Shape: ONE basket materialization (groupBy ord → sorted distinct
    * brand array, the q157 HOF trick — no self-joins of the fact
    * table); pairs and triples both explode from the SAME basket
    * relation with index-nested `transform`s (i<j<k, so each set is
    * emitted exactly once, already canonically ordered); the candidate
    * set is dimension-sized and broadcast into a semi-join BEFORE the
    * triple groupBy, so the shuffle carries candidate triples only.
    * Support thresholds are integer permille comparisons (support·10³ ≥
    * 3·n_baskets, one minsup across levels — exact cross-engine).
    *
    * Honest note on THIS corpus: brand baskets are uniform, so at 3‰
    * every pair is frequent (pair floor ≈13‰) and level-2 pruning
    * passes the full candidate grid — the level-3 support cut is the
    * selective one (~57% of triples fail it at sf0.01). The machinery
    * is what's under test; on a skewed real catalog the level-2 prune
    * is where the |items|³ → |candidates| collapse happens. Output:
    * candidate triples meeting minsup, plus the basket denominator. */
  def q182AprioriTriples(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val baskets = Tables.lineitem(s, d)
      // un-hinted part-slice join (r10): |part| scales with the data, so
      // the hint would pin a fact-dim broadcast at 100 TB — AQE
      // broadcasts it from runtime stats here and shuffles past the
      // threshold (caught by the PlanAudit executed-plan listener; the
      // returned-plan lock never saw it behind the localCheckpoint)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("ord"), $"p_brand".as("b"))
      .groupBy($"ord").agg(array_sort(collect_set($"b")).as("bs"))
      // feeds the pair pass, the triple pass, and n — a pure-Aggregate
      // subtree ReuseExchange dedupes within the one action (r12 A/B:
      // 2.21 s with vs 2.19 s without the old checkpoint; dropping it
      // removes a serial job and the driver-side materialization)
    val nB = baskets.agg(count(lit(1)).as("n_baskets"))
    val pairs = baskets.filter(size($"bs") >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(bs)-2), i ->
             transform(sequence(i+1, size(bs)-1), j ->
               struct(bs[i] AS b1, bs[j] AS b2))))""")).as("p"))
      .groupBy($"p.b1".as("b1"), $"p.b2".as("b2"))
      .agg(count(lit(1)).as("sup"))
    val fp = pairs.crossJoin(broadcast(nB))
      .filter($"sup" * 1000 >= lit(3) * $"n_baskets")
      .select($"b1", $"b2")
    // candidate generation: join frequent pairs sharing the first item,
    // then require the closing (b2, b3) pair to be frequent too
    val cand = fp.as("x").join(fp.as("y"), $"x.b1" === $"y.b1" && $"x.b2" < $"y.b2")
      .select($"x.b1".as("b1"), $"x.b2".as("b2"), $"y.b2".as("b3"))
      .join(fp.select($"b1".as("b2"), $"b2".as("b3")), Seq("b2", "b3"), "left_semi")
      .select($"b1", $"b2", $"b3")
    baskets.filter(size($"bs") >= 3)
      .select(explode(expr(
        """flatten(flatten(transform(sequence(0, size(bs)-3), i ->
             transform(sequence(i+1, size(bs)-2), j ->
               transform(sequence(j+1, size(bs)-1), k ->
                 struct(bs[i] AS b1, bs[j] AS b2, bs[k] AS b3))))))""")).as("t"))
      .select($"t.b1".as("b1"), $"t.b2".as("b2"), $"t.b3".as("b3"))
      .join(broadcast(cand), Seq("b1", "b2", "b3"), "left_semi")
      .groupBy($"b1", $"b2", $"b3").agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nB))
      .filter($"support" * 1000 >= lit(3) * $"n_baskets")
      .select($"b1", $"b2", $"b3", $"support", $"n_baskets")
      .orderBy($"support".desc, $"b1", $"b2", $"b3")
  }

  val q182Oracle: String =
    // items is AS MATERIALIZED: inlined, DuckDB re-plans the DISTINCT
    // into all three legs of the triple self-join and picks a
    // catastrophic join order at sf0.1 (hours); materialized it runs in
    // ~0.3 s. Result-identical — a pure planner hint.
    """WITH items AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS ord, p_brand AS b
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       nb AS (SELECT CAST(count(DISTINCT ord) AS BIGINT) AS n_baskets FROM items),
       fp AS (
         SELECT a.b AS b1, c.b AS b2
         FROM items a JOIN items c USING (ord)
         WHERE a.b < c.b
         GROUP BY 1, 2
         HAVING CAST(count(*) AS BIGINT) * 1000 >= 3 * (SELECT n_baskets FROM nb)),
       cand AS (
         SELECT x.b1, x.b2, y.b2 AS b3
         FROM fp x JOIN fp y ON x.b1 = y.b1 AND x.b2 < y.b2
         WHERE EXISTS (SELECT 1 FROM fp z WHERE z.b1 = x.b2 AND z.b2 = y.b2)),
       tri AS (
         SELECT a.b AS b1, c.b AS b2, e.b AS b3, CAST(count(*) AS BIGINT) AS support
         FROM items a JOIN items c USING (ord) JOIN items e USING (ord)
         WHERE a.b < c.b AND c.b < e.b
         GROUP BY 1, 2, 3)
       SELECT t.b1, t.b2, t.b3, t.support, nb.n_baskets
       FROM tri t JOIN cand USING (b1, b2, b3) CROSS JOIN nb
       WHERE t.support * 1000 >= 3 * nb.n_baskets
       ORDER BY t.support DESC, t.b1, t.b2, t.b3"""

  /** Trending velocity (q190): last-30-day vs prior-30-day demand per
    * brand, anchored at the data's max ship date — the "what's
    * accelerating" report every storefront and every training-data
    * source dashboard runs. A minimum prior-window support (≥2) keeps
    * 0→1 noise out of the ranking; growth is floor((a−b)·10⁴/b) in
    * IEEE doubles on BOTH sides because the numerator can be negative
    * (Spark's integer `div` truncates toward zero, DuckDB's `//`
    * floors — they disagree below zero; the shared double floor is the
    * documented workaround).
    *
    * Shape: anchor max is a 1-row broadcast; the 14-day filter then
    * collapses the scan into per-part conditional sums (one partial-agg
    * shuffle); top-20 is TakeOrdered, no global sort. At 100 TB the
    * anchor comes from table stats and the date filter prunes
    * partitions — the dataflow below it is unchanged. */
  def q190Trending(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      // part scales with SF — no forced broadcast (stats/AQE pick)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"l_shipdate")
    val mx = li.agg(max(to_date($"l_shipdate")).as("d_max"))
    li.crossJoin(broadcast(mx))
      .withColumn("age", datediff($"d_max", to_date($"l_shipdate")))
      .filter($"age" < 60)
      .groupBy($"p_brand")
      .agg(sum(($"age" < 30).cast("long")).as("cnt_recent"),
        sum(($"age" >= 30).cast("long")).as("cnt_prior"))
      .filter($"cnt_prior" >= 2)
      .select($"p_brand", $"cnt_recent", $"cnt_prior",
        floor(($"cnt_recent" - $"cnt_prior") * lit(10000.0) / $"cnt_prior")
          .cast("long").as("growth_bp"))
      .orderBy($"growth_bp".desc, $"p_brand")
      .limit(20)
  }

  val q190Oracle: String =
    """WITH li AS (
         SELECT p_brand, l_shipdate
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS d_max FROM li),
       f AS (
         SELECT p_brand,
           date_diff('day', CAST(l_shipdate AS DATE), d_max) AS age
         FROM li CROSS JOIN mx
         WHERE date_diff('day', CAST(l_shipdate AS DATE), d_max) < 60),
       g AS (
         SELECT p_brand,
           CAST(sum(CASE WHEN age < 30 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_recent,
           CAST(sum(CASE WHEN age >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_prior
         FROM f GROUP BY 1)
       SELECT p_brand, cnt_recent, cnt_prior,
         CAST(floor((cnt_recent - cnt_prior) * 10000.0 / cnt_prior) AS BIGINT) AS growth_bp
       FROM g WHERE cnt_prior >= 2
       ORDER BY growth_bp DESC, p_brand LIMIT 20"""

  /** Funnel time-to-convert distribution (q189): latency from each
    * user's FIRST view to their first purchase strictly after it, as
    * exact minute-resolution percentiles — the "how long does
    * conversion take" follow-up to q72's stage counts (which say how
    * MANY convert, not how fast; p90 sets the attribution/retention
    * window, and the q113 1-hour cutoff should be justified by this
    * curve, not guessed).
    *
    * Percentiles use the q117 histogram trick at MINUTE resolution:
    * the cum-window runs over the latency-minute histogram, whose
    * domain is bounded by the observation span (~44k minutes for one
    * month) regardless of user count — so no global sort of user-level
    * data exists at any scale. Ceil-rank semantics, exact integers
    * end to end. */
  def q189FunnelLatency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("v_us"))
    val lat = firstView
      .join(ev.filter($"event_type" === "purchase")
        .select($"user_id", $"us".as("p_us")), "user_id")
      .filter($"p_us" > $"v_us")
      .groupBy($"user_id").agg(min($"p_us" - $"v_us").as("lat_us"))
      .select(expr("lat_us div 60000000").as("lat_min"))
    val hist = lat.groupBy($"lat_min").agg(count(lit(1)).as("nk"))
    val w = Window.orderBy($"lat_min")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum($"nk").as("n"))
    hist.withColumn("cum", sum($"nk").over(w))
      .crossJoin(broadcast(tot))
      .agg(max($"n").as("n_conversions"),
        min(when($"cum" * 2 >= $"n", $"lat_min")).as("p50_min"),
        min(when($"cum" * 10 >= $"n" * 9, $"lat_min")).as("p90_min"),
        min(when($"cum" * 100 >= $"n" * 99, $"lat_min")).as("p99_min"),
        max($"lat_min").as("max_min"))
  }

  val q189Oracle: String =
    """WITH e AS (
         SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       fv AS (
         SELECT user_id, min(us) AS v_us
         FROM e WHERE event_type = 'view' GROUP BY 1),
       lat AS (
         SELECT min(p.us - fv.v_us) // 60000000 AS lat_min
         FROM fv JOIN e p ON fv.user_id = p.user_id
         WHERE p.event_type = 'purchase' AND p.us > fv.v_us
         GROUP BY fv.user_id),
       h AS (SELECT lat_min, CAST(count(*) AS BIGINT) AS nk FROM lat GROUP BY 1),
       hc AS (
         SELECT lat_min, CAST(sum(nk) OVER (ORDER BY lat_min
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM h),
       tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n FROM h)
       SELECT max(n) AS n_conversions,
         CAST(min(CASE WHEN cum * 2 >= n THEN lat_min END) AS BIGINT) AS p50_min,
         CAST(min(CASE WHEN cum * 10 >= n * 9 THEN lat_min END) AS BIGINT) AS p90_min,
         CAST(min(CASE WHEN cum * 100 >= n * 99 THEN lat_min END) AS BIGINT) AS p99_min,
         CAST(max(lat_min) AS BIGINT) AS max_min
       FROM hc CROSS JOIN tot"""

  /** Association rules with confidence and lift (q196) — the step
    * AFTER q182's frequent-itemset mining: turn each frequent brand
    * pair into both directed rules a→b and b→a, score confidence
    * (P(b|a)) and lift (P(ab)/P(a)P(b)) in integer ppm, and keep the
    * top 20 by lift. Confidence is what a recommender thresholds on;
    * lift > 1e6 ppm separates genuine affinity from popularity —
    * a rule to a bestseller can have high confidence and lift ≈ 1.
    *
    * Scale shape: ONE basket materialization feeds both the item
    * counts (explode → groupBy, partial-agg) and the pair counts
    * (the i<j HOF expansion, ≤ k²/2 per basket — never a fact
    * self-join); item counts are dimension-sized and broadcast onto
    * the frequent pairs; the final top-20 is TakeOrdered. All scores
    * are int64-exact: sup·10⁶ div cnt and sup·n·10⁶ div (cntA·cntB)
    * stay under 2⁶³ through sf1000 basket counts (~1.5e9·10⁶ needs
    * the lift product < 9.2e18 — cnt products cap it; at larger
    * scale drop to per-million-basket units). */
  def q196AssocRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val baskets = Tables.lineitem(s, d)
      // un-hinted part-slice join (r10): |part| scales with the data, so
      // the hint would pin a fact-dim broadcast at 100 TB — AQE
      // broadcasts it from runtime stats here and shuffles past the
      // threshold (caught by the PlanAudit executed-plan listener; the
      // returned-plan lock never saw it behind the localCheckpoint)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("ord"), $"p_brand".as("b"))
      .groupBy($"ord").agg(array_sort(collect_set($"b")).as("bs"))
      .localCheckpoint() // feeds item counts, pair counts, and n
    val nB = baskets.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = baskets.select(explode($"bs").as("b"))
      .groupBy($"b").agg(count(lit(1)).as("cnt"))
    val pairs = baskets.filter(size($"bs") >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(bs)-2), i ->
             transform(sequence(i+1, size(bs)-1), j ->
               struct(bs[i] AS b1, bs[j] AS b2))))""")).as("p"))
      .groupBy($"p.b1".as("b1"), $"p.b2".as("b2"))
      .agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(nB))
      .filter($"sup" * 1000 >= lit(3) * $"n_baskets")
    val rules = pairs.select($"b1".as("ante"), $"b2".as("cons"), $"sup", $"n_baskets")
      .union(pairs.select($"b2".as("ante"), $"b1".as("cons"), $"sup", $"n_baskets"))
    rules
      .join(broadcast(itemCnt.select($"b".as("ante"), $"cnt".as("cnt_a"))), "ante")
      .join(broadcast(itemCnt.select($"b".as("cons"), $"cnt".as("cnt_c"))), "cons")
      .select($"ante", $"cons", $"sup".as("support"),
        expr("sup * 1000000 div cnt_a").as("conf_ppm"),
        expr("sup * n_baskets * 1000000 div (cnt_a * cnt_c)").as("lift_ppm"),
        $"n_baskets")
      .orderBy($"lift_ppm".desc, $"conf_ppm".desc, $"ante", $"cons")
      .limit(20)
  }

  val q196Oracle: String =
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS ord, p_brand AS b
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       nb AS (SELECT CAST(count(DISTINCT ord) AS BIGINT) AS n_baskets FROM items),
       ic AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY b),
       p AS (
         SELECT a.b AS b1, c.b AS b2, CAST(count(*) AS BIGINT) AS sup
         FROM items a JOIN items c USING (ord)
         WHERE a.b < c.b
         GROUP BY 1, 2
         HAVING CAST(count(*) AS BIGINT) * 1000 >= 3 * (SELECT n_baskets FROM nb)),
       rules AS (
         SELECT b1 AS ante, b2 AS cons, sup FROM p
         UNION ALL
         SELECT b2 AS ante, b1 AS cons, sup FROM p)
       SELECT r.ante, r.cons, r.sup AS support,
         r.sup * 1000000 // a.cnt AS conf_ppm,
         r.sup * nb.n_baskets * 1000000 // (a.cnt * c.cnt) AS lift_ppm,
         nb.n_baskets
       FROM rules r
       JOIN ic a ON r.ante = a.b
       JOIN ic c ON r.cons = c.b
       CROSS JOIN nb
       ORDER BY lift_ppm DESC, conf_ppm DESC, ante, cons
       LIMIT 20"""

  /** Session entry/exit pages + bounce rate (q201): q23's 30-minute
    * gap sessionization rolled up one level — for every (first event
    * type, last event type) pair, how many sessions flow that way, how
    * many bounce (single-event sessions, where entry = exit by
    * construction), and the total dwell time. The landing→exit matrix
    * plus bounce rate is the first report every product-analytics
    * stack ships; on a training-data pipeline the same shape audits
    * crawl sessions (entered at robots.txt and left immediately = a
    * bounce).
    *
    * Entry/exit are `min_by`/`max_by` on the unique event id — exact
    * and deterministic in both engines, no struct-sort tricks. Shape:
    * one window pass per user partition (the q23 session id), one
    * session-level agg, then a tiny (|event types|²) rollup; nothing
    * after the first groupBy sees the event stream. */
  def q201EntryExit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev_us", lag($"us", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_us".isNull || $"us" - $"prev_us" > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run))
      .groupBy($"user_id", $"session_id")
      .agg(expr("min_by(event_type, event_id)").as("entry_type"),
        expr("max_by(event_type, event_id)").as("exit_type"),
        count(lit(1)).as("n_events"),
        ((max($"us") - min($"us")) / lit(1000000L)).cast("long").as("dur_s"))
      .groupBy($"entry_type", $"exit_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(($"n_events" === 1).cast("long")).as("n_bounce"),
        sum($"dur_s").as("total_dur_s"))
      .withColumn("bounce_bp", expr("n_bounce * 10000 div n_sessions"))
      .orderBy($"entry_type", $"exit_type")
  }

  val q201Oracle: String =
    """WITH t AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
         FROM events),
       se AS (
         SELECT user_id, event_id, event_type, us,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM t),
       sess AS (
         SELECT user_id, session_id,
           min_by(event_type, event_id) AS entry_type,
           max_by(event_type, event_id) AS exit_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS dur_s
         FROM se GROUP BY 1, 2)
       SELECT entry_type, exit_type,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
         CAST(sum(dur_s) AS BIGINT) AS total_dur_s,
         CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000
           // CAST(count(*) AS BIGINT) AS bounce_bp
       FROM sess GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Kaplan–Meier survival estimator (q210): how long until a
    * customer's NEXT order? Each order contributes one spell — days to
    * the next order by the same customer (event) or days to the
    * dataset's last date (right-censored: the follow-up ended, the
    * customer didn't "die"). The product-limit curve S(t) =
    * Π_{u≤t} (1 − d_u/n_u) over the first 30 weeks handles that
    * censoring correctly — a naive "average gap over completed gaps"
    * systematically understates time-to-repurchase because long gaps
    * are exactly the ones still open. The same estimator runs churn,
    * hardware-failure, and crawl-recency analyses.
    *
    * Parity: spells and risk sets are exact integers; S(t) is the one
    * rational product, computed as exp(Σ ln(1 − d/n)) with the running
    * sum over a 30-row window in fixed t-order — every term evaluates
    * identically in IEEE, the sum order is identical, and the final
    * micro floor is shared (q128's discipline). n_u > 0 for every
    * emitted row (risk sets only shrink; weeks past the horizon don't
    * emit), and the degenerate d = n week (everyone at risk events:
    * ln 0) is guarded on BOTH sides with the ln(1e-6) sentinel
    * −13.815511 — Spark's log(0) is NULL (silently dropped from the
    * window sum) while DuckDB's ln(0) is −inf, so the unguarded term
    * is a latent cross-engine divergence (ADVICE r6); the sentinel
    * pins the curve to 0 from that week on, which is the right
    * semantics. Shape: one lead() window per customer partition over the
    * ORDERS relation, one week-level agg, and a 30-row cumulative
    * window — the fact table is touched once. */
  def q210KaplanMeier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val horizon = 30L
    val byCust = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val maxD = Tables.orders(s, d).agg(max($"o_orderdate").as("max_d"))
    val spells = Tables.orders(s, d)
      .withColumn("next_d", lead($"o_orderdate", 1).over(byCust))
      .crossJoin(broadcast(maxD))
      .select(
        when($"next_d".isNotNull,
          floor(datediff($"next_d", $"o_orderdate") / 7.0).cast("long"))
          .otherwise(floor(datediff($"max_d", $"o_orderdate") / 7.0).cast("long"))
          .as("wk"),
        $"next_d".isNotNull.cast("long").as("event"))
      .select(least($"wk", lit(horizon)).as("wk"),
        ($"event" === 1L && $"wk" <= horizon).cast("long").as("event"))
    val byWk = spells.groupBy($"wk")
      .agg(count(lit(1)).as("ending"), sum($"event").as("d"))
    val tot = spells.agg(count(lit(1)).as("n_spells"))
    val w = Window.orderBy($"wk")
    byWk.crossJoin(broadcast(tot))
      .withColumn("n_at_risk",
        $"n_spells" - coalesce(sum($"ending")
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("surv_micro",
        floor(exp(sum(when($"n_at_risk" > $"d",
            log(lit(1.0) - $"d" * lit(1.0) / $"n_at_risk"))
            .otherwise(lit(-13.815511)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          * lit(1000000.0)).cast("long"))
      .filter($"wk" < horizon) // horizon bucket pools censoring, not a real week
      .select($"wk", $"n_at_risk", $"d", $"ending", $"surv_micro")
      .orderBy($"wk")
  }

  val q210Oracle: String =
    """WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
       sp AS (
         SELECT o_custkey, o_orderdate, o_orderkey,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS next_d
         FROM orders),
       spell AS (
         SELECT
           CASE WHEN next_d IS NOT NULL
             THEN CAST(floor(date_diff('day', o_orderdate, next_d) / 7.0) AS BIGINT)
             ELSE CAST(floor(date_diff('day', o_orderdate, max_d) / 7.0) AS BIGINT)
           END AS wk0,
           CASE WHEN next_d IS NOT NULL THEN 1 ELSE 0 END AS ev0
         FROM sp CROSS JOIN mx),
       spell2 AS (
         SELECT least(wk0, 30) AS wk,
           CAST(ev0 = 1 AND wk0 <= 30 AS BIGINT) AS event
         FROM spell),
       bywk AS (
         SELECT wk, CAST(count(*) AS BIGINT) AS ending,
           CAST(sum(event) AS BIGINT) AS d
         FROM spell2 GROUP BY wk),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_spells FROM spell2),
       r AS (
         SELECT wk, ending, d,
           n_spells - CAST(coalesce(sum(ending) OVER (ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_at_risk
         FROM bywk CROSS JOIN tot),
       sv AS (
         SELECT wk, n_at_risk, d, ending,
           CAST(floor(exp(sum(CASE WHEN n_at_risk > d
               THEN ln(1.0 - d * 1.0 / n_at_risk)
               ELSE -13.815511 END) OVER (ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000000.0)
             AS BIGINT) AS surv_micro
         FROM r)
       SELECT wk, n_at_risk, d, ending, surv_micro
       FROM sv WHERE wk < 30 ORDER BY wk"""

  /** Kaplan–Meier with Greenwood confidence bands (q361): q210's
    * survival curve plus the part a decision needs — the pointwise
    * 95% band from Greenwood's variance V(t) = S(t)²·Σ d/(n(n−d)).
    * Both accumulations (the log-product for S and the Greenwood sum
    * G) run as fixed-order cumulative folds over the bounded week
    * spine, in one window pass; the degenerate n = d week is guarded
    * identically on both sides in BOTH terms — the variance term
    * contributes 0 and the survival log term contributes the ln(1e-6)
    * sentinel −13.815511 (q210's guard: Spark log(0) is NULL and
    * silently drops from the window sum, DuckDB ln(0) is −inf —
    * ADVICE r6), pinning the curve to 0 from that week on. Bands are
    * clamped to [0, 1] in micro units. */
  def q361Greenwood(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val horizon = 30L
    val byCust = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val maxD = Tables.orders(s, d).agg(max($"o_orderdate").as("max_d"))
    val spells = Tables.orders(s, d)
      .withColumn("next_d", lead($"o_orderdate", 1).over(byCust))
      .crossJoin(broadcast(maxD))
      .select(
        when($"next_d".isNotNull,
          floor(datediff($"next_d", $"o_orderdate") / 7.0).cast("long"))
          .otherwise(floor(datediff($"max_d", $"o_orderdate") / 7.0).cast("long"))
          .as("wk"),
        $"next_d".isNotNull.cast("long").as("event"))
      .select(least($"wk", lit(horizon)).as("wk"),
        ($"event" === 1L && $"wk" <= horizon).cast("long").as("event"))
    val byWk = spells.groupBy($"wk")
      .agg(count(lit(1)).as("ending"), sum($"event").as("d"))
    val tot = spells.agg(count(lit(1)).as("n_spells"))
    val w = Window.orderBy($"wk")
    val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byWk.crossJoin(broadcast(tot))
      .withColumn("n_at_risk",
        $"n_spells" - coalesce(sum($"ending")
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("sv",
        exp(sum(when($"n_at_risk" > $"d",
            log(lit(1.0) - $"d" * lit(1.0) / $"n_at_risk"))
            .otherwise(lit(-13.815511))).over(wcum)))
      .withColumn("g",
        sum(when($"n_at_risk" > $"d",
            $"d" * lit(1.0) / ($"n_at_risk" * ($"n_at_risk" - $"d")))
          .otherwise(lit(0.0))).over(wcum))
      .filter($"wk" < horizon)
      .selectExpr("wk", "n_at_risk", "d",
        "CAST(floor(sv * 1000000.0) AS BIGINT) AS surv_micro",
        "CAST(floor(sv * sqrt(g) * 1000000.0) AS BIGINT) AS se_micro",
        "CAST(floor(greatest(0.0, sv - 1.96 * sv * sqrt(g)) * 1000000.0) AS BIGINT) AS lo_micro",
        "CAST(floor(least(1.0, sv + 1.96 * sv * sqrt(g)) * 1000000.0) AS BIGINT) AS hi_micro")
      .orderBy($"wk")
  }

  val q361Oracle: String =
    """WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
       sp AS (
         SELECT o_custkey, o_orderdate, o_orderkey,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS next_d
         FROM orders),
       spell AS (
         SELECT
           CASE WHEN next_d IS NOT NULL
             THEN CAST(floor(date_diff('day', o_orderdate, next_d) / 7.0) AS BIGINT)
             ELSE CAST(floor(date_diff('day', o_orderdate, max_d) / 7.0) AS BIGINT)
           END AS wk0,
           CASE WHEN next_d IS NOT NULL THEN 1 ELSE 0 END AS ev0
         FROM sp CROSS JOIN mx),
       spell2 AS (
         SELECT least(wk0, 30) AS wk,
           CAST(ev0 = 1 AND wk0 <= 30 AS BIGINT) AS event
         FROM spell),
       bywk AS (
         SELECT wk, CAST(count(*) AS BIGINT) AS ending,
           CAST(sum(event) AS BIGINT) AS d
         FROM spell2 GROUP BY wk),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_spells FROM spell2),
       r AS (
         SELECT wk, ending, d,
           n_spells - CAST(COALESCE(sum(ending) OVER (ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_at_risk
         FROM bywk CROSS JOIN tot),
       sv AS (
         SELECT wk, n_at_risk, d,
           exp(sum(CASE WHEN n_at_risk > d
             THEN ln(1.0 - d * 1.0 / n_at_risk)
             ELSE -13.815511 END) OVER wc) AS sv,
           sum(CASE WHEN n_at_risk > d
                 THEN d * 1.0 / (n_at_risk * (n_at_risk - d)) ELSE 0.0 END) OVER wc AS g
         FROM r
         WINDOW wc AS (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT wk, n_at_risk, d,
         CAST(floor(sv * 1000000.0) AS BIGINT) AS surv_micro,
         CAST(floor(sv * sqrt(g) * 1000000.0) AS BIGINT) AS se_micro,
         CAST(floor(greatest(0.0, sv - 1.96 * sv * sqrt(g)) * 1000000.0) AS BIGINT) AS lo_micro,
         CAST(floor(least(1.0, sv + 1.96 * sv * sqrt(g)) * 1000000.0) AS BIGINT) AS hi_micro
       FROM sv WHERE wk < 30 ORDER BY wk"""

  /** Cache-TTL hit-rate planner (q362): if per-user results were
    * cached with TTL t, what fraction of events would hit? —
    * hit-rate(t) = P(inter-event gap ≤ t), read off the per-user gap
    * distribution (q219's lag machinery) against a TTL grid. The
    * capacity-planning face of the burstiness work: pick the TTL
    * where the curve's knee pays for the staleness. Gaps in integer
    * seconds from micros (unix_micros ↔ epoch_us, the q23
    * discipline); pure counting after that. */
  def q362TtlPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
    val gaps = ev.withColumn("prev_us", lag($"us", 1).over(
        Window.partitionBy($"user_id").orderBy($"us", $"event_id")))
      .filter($"prev_us".isNotNull)
      .select(expr("(us - prev_us) div 1000000").as("gap_s"))
    val tot = gaps.agg(count(lit(1)).as("n"))
    val ttl = Seq(60L, 300L, 900L, 3600L, 14400L).toDF("ttl_s")
    gaps.crossJoin(broadcast(ttl))
      .groupBy($"ttl_s")
      .agg(sum(when($"gap_s" <= $"ttl_s", 1L).otherwise(0L)).as("n_hit"))
      .crossJoin(broadcast(tot))
      .selectExpr("ttl_s", "n_hit", "n",
        "10000 * n_hit div n AS hit_rate_bp")
      .orderBy($"ttl_s")
  }

  val q362Oracle: String =
    """WITH ev AS (
         SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
       gaps AS (
         SELECT (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) // 1000000 AS gap_s
         FROM ev),
       g AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
       ttl AS (SELECT CAST(unnest([60, 300, 900, 3600, 14400]) AS BIGINT) AS ttl_s),
       hits AS (
         SELECT t.ttl_s, CAST(sum(CASE WHEN g.gap_s <= t.ttl_s THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         FROM g CROSS JOIN ttl t GROUP BY 1)
       SELECT h.ttl_s, h.n_hit, tot.n,
         10000 * h.n_hit // tot.n AS hit_rate_bp
       FROM hits h CROSS JOIN tot ORDER BY ttl_s"""

  /** Top sequential event-triple patterns (q364): ordered 3-step
    * sequences within (user, day) sessions with support and user
    * reach — the sequence-mining companion to q182's unordered
    * Apriori triples and q114's 1-step transitions (two stacked lead
    * windows make the operator order-SENSITIVE, which is the whole
    * point). Top-15 fully tie-broken; one partitioned window pass +
    * a bounded |types|³ aggregate. */
  def q364SeqPatterns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
    val seq = Tables.events(s, d)
      .select($"user_id", $"ts".cast("date").as("day"), $"ts",
        $"event_type", $"event_id")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .filter($"e3".isNotNull)
    val tri = seq.groupBy($"event_type".as("e1"), $"e2", $"e3")
      .agg(count(lit(1)).as("support"),
        countDistinct($"user_id").as("n_users"))
    val tot = tri.agg(sum($"support").as("n"))
    tri.crossJoin(broadcast(tot))
      .selectExpr("e1", "e2", "e3", "support", "n_users",
        "10000 * support div n AS share_bp")
      .withColumn("rank", row_number().over(
        Window.orderBy($"support".desc, $"e1", $"e2", $"e3")).cast("long"))
      .filter($"rank" <= 15)
      .orderBy($"rank")
  }

  val q364Oracle: String =
    """WITH ev AS (
         SELECT user_id, CAST(ts AS DATE) AS day, CAST(ts AS TIMESTAMP) AS t, event_type, event_id
         FROM events),
       seq AS (
         SELECT user_id, day, event_type AS e1,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
         FROM ev
         WINDOW w AS (PARTITION BY user_id, day ORDER BY t, event_id)),
       tri AS (
         SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS support,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM seq WHERE e3 IS NOT NULL
         GROUP BY 1, 2, 3),
       tot AS (SELECT CAST(sum(support) AS BIGINT) AS n FROM tri),
       r AS (
         SELECT t.e1, t.e2, t.e3, t.support, t.n_users,
           10000 * t.support // tot.n AS share_bp,
           row_number() OVER (ORDER BY t.support DESC, t.e1, t.e2, t.e3) AS rnk
         FROM tri t CROSS JOIN tot)
       SELECT e1, e2, e3, support, n_users, share_bp,
         CAST(rnk AS BIGINT) AS rank
       FROM r WHERE rnk <= 15 ORDER BY rnk"""

  /** Daily cross-correlation lead–lag sweep (q365): does order COUNT
    * lead order REVENUE (or vice versa)? Pearson at calendar lags
    * ±{1,3,7} via a DATE-SHIFT join of the bounded daily aggregate
    * against itself — join-on-shifted-day, not lead-over-rows, so
    * calendar gaps are handled identically in both engines (and the
    * construction stays Spark-expressible: window lead offsets must
    * be literals, join offsets need not). The q242 moment discipline;
    * the lag-0 peak is the sanity anchor. */
  def q365Ccf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(count(lit(1)).as("x"),
        expr("sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) div 100000").as("y"))
      .localCheckpoint()
    val lags = Seq(-7L, -3L, -1L, 0L, 1L, 3L, 7L).toDF("lag_d")
    val shift = daily.select($"day", $"x").crossJoin(broadcast(lags))
      .join(daily.select($"day".as("bday"), $"y"),
        $"bday" === date_add($"day", $"lag_d".cast("int")))
    val stats = shift.groupBy($"lag_d").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
      sum($"y" * $"y").as("syy"))
    stats.selectExpr("lag_d", "n",
        """CAST(floor(
            (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
            * 10000.0) AS BIGINT) AS ccf_bp""")
      .orderBy($"lag_d")
  }

  val q365Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS x,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100000 AS BIGINT) AS y
         FROM orders GROUP BY 1),
       lags AS (SELECT CAST(unnest([-7, -3, -1, 0, 1, 3, 7]) AS BIGINT) AS lag_d),
       shift AS (
         SELECT l.lag_d, a.x, b.y
         FROM daily a CROSS JOIN lags l
         JOIN daily b ON b.day = a.day + CAST(l.lag_d AS INTEGER)),
       stats AS (
         SELECT lag_d, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
         FROM shift GROUP BY 1)
       SELECT lag_d, n,
         CAST(floor(
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           * 10000.0) AS BIGINT) AS ccf_bp
       FROM stats ORDER BY lag_d"""

  /** Burstiness index (q219): per user, B = (σ − μ)/(σ + μ) over
    * inter-event gaps — the Goh–Barabási statistic separating three
    * regimes: B → −1 periodic (heartbeat/cron), B ≈ 0 Poisson (human
    * background), B → 1 bursty (sessions/bots/incident storms). The
    * standard traffic-shape fingerprint for bot filtering and crawler
    * rate-audit — exactly the signal a scraping pipeline (the
    * reference's domain) uses to see whether it is being throttled.
    *
    * Parity: gaps are integer seconds; μ and σ² come from exact int64
    * moments (n, Σg, Σg²; population variance n·Σg² − (Σg)² over n²);
    * B is one shared double tree — sqrt of the exact variance
    * rational, then the floor to bp (the q139 rule — numerator can be
    * negative). Users with < 2 events (no gaps) drop out. Shape: one
    * lag window per user partition, one per-user partial agg — the
    * q23 shuffle shape. */
  def q219Burstiness(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("prev", lag($"us", 1).over(byUser))
      .filter($"prev".isNotNull)
      .select($"user_id", (($"us" - $"prev") / lit(1000000L)).cast("long").as("g"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"g").as("sg"), sum($"g" * $"g").as("sg2"))
      .select($"user_id", $"n",
        expr("sg div n").as("mean_sec"),
        // B = (sqrt(var) - mean) / (sqrt(var) + mean), var & mean as
        // exact rationals evaluated in one shared double expression
        floor((sqrt(($"n" * $"sg2" - $"sg" * $"sg") * lit(1.0)) / $"n"
          - $"sg" * lit(1.0) / $"n")
          / (sqrt(($"n" * $"sg2" - $"sg" * $"sg") * lit(1.0)) / $"n"
            + $"sg" * lit(1.0) / $"n") * lit(10000.0)).cast("long")
          .as("burst_bp"))
      .orderBy($"user_id")
  }

  val q219Oracle: String =
    """WITH e AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS prev
         FROM events),
       g AS (
         SELECT user_id, (us - prev) // 1000000 AS g
         FROM e WHERE prev IS NOT NULL),
       m AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(g) AS BIGINT) AS sg, CAST(sum(g * g) AS BIGINT) AS sg2
         FROM g GROUP BY user_id)
       SELECT user_id, n, sg // n AS mean_sec,
         CAST(floor((sqrt((n * sg2 - sg * sg) * 1.0) / n - sg * 1.0 / n)
           / (sqrt((n * sg2 - sg * sg) * 1.0) / n + sg * 1.0 / n)
           * 10000.0) AS BIGINT) AS burst_bp
       FROM m ORDER BY user_id"""

  /** Top session paths (q224): the 20 most common session prefixes —
    * each session reduced to its first 5 event types in order — with
    * counts and share. The Sankey/flow-diagram feed and the "what do
    * users actually do" report; on crawl telemetry the same query
    * surfaces the dominant fetch→parse→error paths. Paths come from
    * an ORDERED collect: sort_array over (event_id, type) structs
    * makes the list deterministic (collect_list alone has no order
    * guarantee — the classic wrong-on-a-cluster bug this query
    * documents by doing it right).
    *
    * Shape: one q23-style session window, one groupBy building the
    * per-session path (the sorted struct array is bounded by session
    * length), a path-level partial agg, TakeOrdered(20). */
  def q224SessionPaths(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev_us", lag($"us", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_us".isNull || $"us" - $"prev_us" > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run))
      .groupBy($"user_id", $"session_id")
      .agg(expr(
        """array_join(slice(transform(
             sort_array(collect_list(struct(event_id, event_type))),
             p -> p.event_type), 1, 5), '>')""").as("path"))
    val tot = sess.agg(count(lit(1)).as("n_sessions"))
    sess.groupBy($"path").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n * 10000 div n_sessions"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  val q224Oracle: String =
    """WITH t AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
         FROM events),
       se AS (
         SELECT user_id, event_id, event_type,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM t),
       sess AS (
         SELECT user_id, session_id,
           array_to_string((list(event_type ORDER BY event_id))[1:5], '>') AS path
         FROM se GROUP BY 1, 2),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sess)
       SELECT path, CAST(count(*) AS BIGINT) AS n, n_sessions,
         CAST(count(*) AS BIGINT) * 10000 // n_sessions AS share_bp
       FROM sess CROSS JOIN tot GROUP BY path, n_sessions
       ORDER BY n DESC, path LIMIT 20"""

  /** RFM segmentation (q226): score every customer 1–5 on Recency
    * (days since last order, lower = better), Frequency (order
    * count), and Monetary (total spend in cents), each by quintile,
    * concatenate into the classic 111–555 segment code, and report
    * segment sizes with averages — the first customer segmentation
    * every commerce stack builds, and the same recency/frequency/mass
    * triple a crawl scheduler scores domains with. Quintiles are
    * exact ntile(5) over TOTAL orders (value, custkey) — deterministic
    * ties included; the recency quintile reverses (freshest = 5).
    * Averages are integer divisions of exact sums.
    *
    * Shape: one per-customer partial agg off the orders scan
    * (recency anchor is a 1-row broadcast max), three
    * [[Windows.withExactNtile]] passes over the CUSTOMER relation —
    * each a distributed range-partitioned rank, never a global
    * row-level sort (the customer relation is keyed, not bounded:
    * VERDICT r6 #1) — one segment-level rollup. The three passes order
    * by different keys so they cannot share one range partition, but
    * they CAN share one materialization (VERDICT r7 #4): `cust` is
    * checkpointed once, the three scans each run UNFROZEN over that
    * same frozen relation (their internal double consumption dedups
    * through ReusedExchange — and is deterministic regardless, because
    * the exchanges range-sample identical frozen input), and the three
    * (custkey, tile) outputs join back by key. One barrier instead of
    * three; the passes must not CHAIN unfrozen, because a range
    * exchange whose input is a live join output samples
    * non-deterministically across its two consumers. */
  def q226RfmSegments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxD = Tables.orders(s, d).agg(max($"o_orderdate".cast("date")).as("anchor"))
    val cust = Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(max($"o_orderdate".cast("date")).as("last_d"),
        count(lit(1)).as("f"),
        sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("m"))
      .crossJoin(broadcast(maxD))
      .select($"o_custkey", datediff($"anchor", $"last_d").cast("long").as("r_days"),
        $"f", $"m")
      .localCheckpoint()
    def tile(order: Seq[Column], out: String) =
      Windows.withExactNtile(cust, order, 5, out, freeze = false)
        .select($"o_custkey", col(out))
    val t3 = cust
      .join(tile(Seq($"r_days", $"o_custkey"), "rq_asc"), "o_custkey")
      .join(tile(Seq($"f", $"o_custkey"), "f_q"), "o_custkey")
      .join(tile(Seq($"m", $"o_custkey"), "m_q"), "o_custkey")
    val seg = t3
      .withColumn("r_q", lit(6) - $"rq_asc")
      .withColumn("segment", $"r_q" * 100 + $"f_q" * 10 + $"m_q")
    seg.groupBy($"segment")
      .agg(count(lit(1)).as("n_cust"),
        expr("sum(r_days) div count(1)").as("avg_r_days"),
        expr("sum(f) div count(1)").as("avg_f"),
        expr("sum(m) div count(1)").as("avg_m_cents"))
      .orderBy($"segment")
  }

  val q226Oracle: String =
    """WITH mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS anchor FROM orders),
       cust AS (
         SELECT o_custkey,
           CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), anchor) AS BIGINT) AS r_days,
           CAST(count(*) AS BIGINT) AS f,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS m
         FROM orders CROSS JOIN mx GROUP BY o_custkey, anchor),
       q AS (
         SELECT o_custkey, r_days, f, m,
           6 - CAST(ntile(5) OVER (ORDER BY r_days, o_custkey) AS BIGINT) AS r_q,
           CAST(ntile(5) OVER (ORDER BY f, o_custkey) AS BIGINT) AS f_q,
           CAST(ntile(5) OVER (ORDER BY m, o_custkey) AS BIGINT) AS m_q
         FROM cust),
       seg AS (
         SELECT r_q * 100 + f_q * 10 + m_q AS segment, r_days, f, m FROM q)
       SELECT segment, CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(r_days) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_r_days,
         CAST(sum(f) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_f,
         CAST(sum(m) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_m_cents
       FROM seg GROUP BY segment ORDER BY segment"""

  /** Composite bot-detection vote (q228): three independent traffic
    * signals per user — REGULARITY (q219's burstiness below −0.05:
    * more periodic than the corpus norm), RATE (q225's sliding-60s
    * max ≥ 2), VOLUME (event count ≥ 25% above average) — each
    * votes, and two of three flags the user. The ensemble shape is
    * the q95 near-dup lesson applied to behavior: every single signal
    * has a benign explanation (a cron-using power user, one bursty
    * session, one heavy day), but their conjunction rarely does.
    * Output is one row per (votes, flagged) bucket with user counts —
    * the triage summary, not a user list.
    *
    * Shape: the three signals share ONE pass over the per-user gap
    * relation (one lag window computes gaps AND the rate frame rides
    * the same shuffle); thresholds are integer/shared-double exact as
    * in the source queries. */
  def q228BotVote(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val rateW = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-60000000L, 0L)
    val base = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("prev", lag($"us", 1).over(byUser))
      .withColumn("c60", count(lit(1)).over(rateW))
    val perUser = base.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        max($"c60").as("max_per_min"),
        count($"prev").as("n_gaps"),
        sum(when($"prev".isNotNull,
          (($"us" - $"prev") / lit(1000000L)).cast("long"))).as("sg"),
        sum(when($"prev".isNotNull,
          (($"us" - $"prev") / lit(1000000L)).cast("long")
            * (($"us" - $"prev") / lit(1000000L)).cast("long"))).as("sg2"))
    val avgN = perUser.agg(expr("sum(n_events) div count(1)").as("avg_n"))
    perUser.crossJoin(broadcast(avgN))
      .withColumn("burst_bp",
        when($"n_gaps" >= 2,
          floor((sqrt(($"n_gaps" * $"sg2" - $"sg" * $"sg") * lit(1.0)) / $"n_gaps"
            - $"sg" * lit(1.0) / $"n_gaps")
            / (sqrt(($"n_gaps" * $"sg2" - $"sg" * $"sg") * lit(1.0)) / $"n_gaps"
              + $"sg" * lit(1.0) / $"n_gaps") * lit(10000.0)).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("v_regular", ($"burst_bp" < -500L).cast("long"))
      .withColumn("v_rate", ($"max_per_min" >= 2L).cast("long"))
      .withColumn("v_volume", ($"n_events" * 4 > $"avg_n" * 5).cast("long"))
      .withColumn("votes", $"v_regular" + $"v_rate" + $"v_volume")
      .withColumn("flagged", ($"votes" >= 2L).cast("long"))
      .groupBy($"votes", $"flagged")
      .agg(count(lit(1)).as("n_users"),
        sum($"v_regular").as("n_regular"), sum($"v_rate").as("n_rate"),
        sum($"v_volume").as("n_volume"))
      .orderBy($"votes")
  }

  val q228Oracle: String =
    """WITH e AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS prev
         FROM events),
       c AS (
         SELECT user_id, us, prev,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS c60
         FROM e),
       pu AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(c60) AS BIGINT) AS max_per_min,
           CAST(count(prev) AS BIGINT) AS n_gaps,
           CAST(sum(CASE WHEN prev IS NOT NULL
                         THEN (us - prev) // 1000000 END) AS BIGINT) AS sg,
           CAST(sum(CASE WHEN prev IS NOT NULL
                         THEN ((us - prev) // 1000000) * ((us - prev) // 1000000)
                    END) AS BIGINT) AS sg2
         FROM c GROUP BY user_id),
       an AS (SELECT CAST(sum(n_events) AS BIGINT) // CAST(count(*) AS BIGINT)
                AS avg_n FROM pu),
       v AS (
         SELECT user_id, n_events, max_per_min,
           CASE WHEN n_gaps >= 2 THEN
             CAST(floor((sqrt((n_gaps * sg2 - sg * sg) * 1.0) / n_gaps
               - sg * 1.0 / n_gaps)
               / (sqrt((n_gaps * sg2 - sg * sg) * 1.0) / n_gaps
                 + sg * 1.0 / n_gaps) * 10000.0) AS BIGINT)
           ELSE 0 END AS burst_bp,
           avg_n
         FROM pu CROSS JOIN an),
       vv AS (
         SELECT CAST(burst_bp < -500 AS BIGINT) AS v_regular,
           CAST(max_per_min >= 2 AS BIGINT) AS v_rate,
           CAST(n_events * 4 > avg_n * 5 AS BIGINT) AS v_volume
         FROM v),
       f AS (
         SELECT v_regular, v_rate, v_volume,
           v_regular + v_rate + v_volume AS votes,
           CAST(v_regular + v_rate + v_volume >= 2 AS BIGINT) AS flagged
         FROM vv)
       SELECT votes, flagged, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(v_regular) AS BIGINT) AS n_regular,
         CAST(sum(v_rate) AS BIGINT) AS n_rate,
         CAST(sum(v_volume) AS BIGINT) AS n_volume
       FROM f GROUP BY votes, flagged ORDER BY votes"""

  /** Position-based (U-shaped) multi-touch attribution (q230): each
    * purchase's value splits across the user's clicks in the prior
    * 24 h — 40% to the first touch, 40% to the last, 20% shared by the
    * middles (1-click journeys take 100%, 2-click journeys 50/50) —
    * the standard middle ground between q113's last-touch (recency
    * bias) and linear (dilution). Output: per role, the touch count
    * and attributed cents, plus unattributed purchase value.
    *
    * Exactness: weights are integer ppm by journey size; attributed
    * cents floor per touch (Σ floors ≤ the purchase's cents — the
    * difference is the documented rounding dust, ≤ n−1 cents per
    * purchase); roles come from row_number over (ts, event_id), ties
    * impossible on unique event ids. Shape: the purchase×click
    * interval join is user-equi + 1-hour range residual (q172's
    * shape); journeys are small, so the per-purchase window runs on
    * the joined relation; two partial-agg rollups finish. */
  def q230PositionAttribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("p_id"),
        unix_micros($"ts").as("p_us"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v_cents"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"),
        unix_micros($"ts").as("c_us"))
    val touches = purchases.join(clicks,
      $"p_user" === $"c_user" &&
        $"c_us" <= $"p_us" && $"c_us" > $"p_us" - 86400000000L)
    val byJourney = Window.partitionBy($"p_id")
    val ranked = touches
      .withColumn("rn", row_number().over(byJourney.orderBy($"c_us", $"c_id")))
      .withColumn("n", count(lit(1)).over(byJourney))
      .withColumn("role",
        when($"n" === 1, "only")
          .when($"rn" === 1, "first")
          .when($"rn" === $"n", "last")
          .otherwise("middle"))
      .withColumn("w_ppm",
        when($"n" === 1, lit(1000000L))
          .when($"n" === 2, lit(500000L))
          .when($"rn" === 1 || $"rn" === $"n", lit(400000L))
          .otherwise(expr("200000 div (n - 2)")))
      .withColumn("attr_cents", expr("v_cents * w_ppm div 1000000"))
    val roles = ranked.groupBy($"role")
      .agg(count(lit(1)).as("n_touches"),
        sum($"attr_cents").as("attributed_cents"))
    val unattributed = purchases
      .join(ranked.select($"p_id").distinct(), Seq("p_id"), "left_anti")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_touches"),
        coalesce(sum($"v_cents"), lit(0L)).as("attributed_cents"))
      .select(lit("unattributed").as("role"), $"n_touches", $"attributed_cents")
    roles.unionByName(unattributed).orderBy($"role")
  }

  val q230Oracle: String =
    """WITH p AS (
         SELECT user_id AS p_user, event_id AS p_id, epoch_us(ts) AS p_us,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_cents
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id AS c_user, event_id AS c_id, epoch_us(ts) AS c_us
         FROM events WHERE event_type = 'click'),
       t AS (
         SELECT p_id, v_cents, c_id, c_us
         FROM p JOIN c ON p_user = c_user
           AND c_us <= p_us AND c_us > p_us - 86400000000),
       r AS (
         SELECT p_id, v_cents,
           CAST(row_number() OVER (PARTITION BY p_id ORDER BY c_us, c_id) AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n
         FROM t),
       w AS (
         SELECT p_id, v_cents, rn, n,
           CASE WHEN n = 1 THEN 'only'
                WHEN rn = 1 THEN 'first'
                WHEN rn = n THEN 'last'
                ELSE 'middle' END AS role,
           CASE WHEN n = 1 THEN 1000000
                WHEN n = 2 THEN 500000
                WHEN rn = 1 OR rn = n THEN 400000
                ELSE 200000 // (n - 2) END AS w_ppm
         FROM r),
       roles AS (
         SELECT role, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(v_cents * w_ppm // 1000000) AS BIGINT) AS attributed_cents
         FROM w GROUP BY role),
       unatt AS (
         SELECT 'unattributed' AS role,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(coalesce(sum(v_cents), 0) AS BIGINT) AS attributed_cents
         FROM p WHERE p_id NOT IN (SELECT DISTINCT p_id FROM t))
       SELECT * FROM roles UNION ALL SELECT * FROM unatt ORDER BY role"""

  /** Cumulative distinct users per day (q233): daily actives, daily
    * NEW users, and the running total of distinct users ever seen —
    * the growth-accounting curve every usage dashboard opens with.
    * `count(DISTINCT x) OVER (ORDER BY day)` is unsupported in both
    * engines (and would be quadratic if it weren't); the scalable
    * identity is: a user's FIRST day contributes 1 to that day's
    * new-user count, and cumulative distinct = running sum of daily
    * news. Distinct-over-window collapses to two partial-agg passes.
    *
    * Shape: one (user, day) dedup (partial-agg groupBy), then a
    * per-user min reduce and two day-level rollups; the only window
    * runs over the ~spine-sized day relation. At 100 TB the user-day
    * dedup is the only corpus-sized stage — everything after is
    * bounded by |users| then |days|. */
  def q233CumulativeDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ud = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val active = ud.groupBy($"day").agg(count(lit(1)).as("active_users"))
    val firstSeen = ud.groupBy($"user_id").agg(min($"day").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("new_users"))
    active.join(firstSeen, Seq("day"), "left")
      .withColumn("new_users", coalesce($"new_users", lit(0L)))
      // day spine is calendar-bounded; the unpartitioned window is safe
      .withColumn("cum_users", sum($"new_users").over(
        Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy($"day")
  }

  val q233Oracle: String =
    """WITH ud AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       a AS (
         SELECT day, CAST(count(*) AS BIGINT) AS active_users
         FROM ud GROUP BY day),
       f AS (SELECT user_id, min(day) AS day FROM ud GROUP BY user_id),
       nw AS (
         SELECT day, CAST(count(*) AS BIGINT) AS new_users
         FROM f GROUP BY day)
       SELECT a.day, a.active_users,
         coalesce(nw.new_users, 0) AS new_users,
         CAST(sum(coalesce(nw.new_users, 0)) OVER (ORDER BY a.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
       FROM a LEFT JOIN nw ON a.day = nw.day
       ORDER BY a.day"""

  /** Longest rising-revenue streak per market segment (q235): the
    * gaps-and-islands idiom applied to a DERIVED flag — consecutive
    * days where daily revenue strictly exceeds the previous day's.
    * (q217/q222's islands group by raw adjacency; here the island
    * boundary is a lag comparison, the other half of the pattern —
    * MATCH_RECOGNIZE's `B+ ORDER BY rev ASC` shape without the
    * operator.) Ties and gaps in the calendar both break streaks:
    * "previous day" means previous TRADING day in the series.
    *
    * Exactness: revenue in integer cents; streak group id = running
    * count of non-up days (integer). Tie-break for the per-segment
    * winner: longest streak, then earliest end day — a deterministic
    * argmax via one ordered rank over the ISLAND relation (bounded by
    * |days|, not the fact table).
    *
    * Shape: fact collapses to (segment, day) cents in one partial-agg
    * pass; lag/flag/island windows all run per-segment over the
    * calendar-bounded daily relation. */
  def q235RevenueStreaks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), to_date($"o_orderdate").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    val bySeg = Window.partitionBy($"segment").orderBy($"day")
    val flagged = daily
      .withColumn("up",
        when($"cents" > lag($"cents", 1).over(bySeg), 1L).otherwise(0L))
      .withColumn("grp", sum(lit(1L) - $"up").over(
        bySeg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val islands = flagged.filter($"up" === 1L)
      .groupBy($"segment", $"grp")
      .agg(count(lit(1)).as("streak_days"), max($"day").as("end_day"))
    islands
      .withColumn("rk", row_number().over(Window.partitionBy($"segment")
        .orderBy($"streak_days".desc, $"end_day")))
      .filter($"rk" === 1)
      .select($"segment", $"streak_days", $"end_day")
      .orderBy($"segment")
  }

  val q235Oracle: String =
    """WITH daily AS (
         SELECT c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2),
       flagged AS (
         SELECT segment, day, cents,
           CASE WHEN cents > lag(cents) OVER (PARTITION BY segment ORDER BY day)
                THEN 1 ELSE 0 END AS up
         FROM daily),
       grouped AS (
         SELECT segment, day, up,
           CAST(sum(1 - up) OVER (PARTITION BY segment ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
         FROM flagged),
       islands AS (
         SELECT segment, grp, CAST(count(*) AS BIGINT) AS streak_days,
           max(day) AS end_day
         FROM grouped WHERE up = 1 GROUP BY segment, grp),
       ranked AS (
         SELECT segment, streak_days, end_day,
           row_number() OVER (PARTITION BY segment
             ORDER BY streak_days DESC, end_day) AS rk
         FROM islands)
       SELECT segment, streak_days, end_day
       FROM ranked WHERE rk = 1 ORDER BY segment"""

  /** Exclusive-reach audit (q247): per event type, how many of its
    * users does ONLY it reach? The marginal-contribution question
    * behind channel-portfolio and source-licensing decisions (drop
    * the type → lose exactly its exclusive users), and the
    * per-element complement of q222's pairwise overlap matrix.
    *
    * Shape: one (user, type) dedup (partial-agg distinct), per-user
    * type counts as a second partial agg joined back on user, and a
    * per-type rollup — no N² type-pair work, no distinct-over-join.
    * Exclusive share in integer bp. */
  def q247ExclusiveReach(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ut = Tables.events(s, d)
      .select($"user_id", $"event_type").distinct()
    val userTypes = ut.groupBy($"user_id").agg(count(lit(1)).as("ntypes"))
    ut.join(userTypes, "user_id")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"ntypes" === 1L, 1L).otherwise(0L)).as("n_exclusive"))
      .withColumn("exclusive_bp", expr("10000 * n_exclusive div n_users"))
      .orderBy($"event_type")
  }

  val q247Oracle: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       u AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS ntypes
         FROM ut GROUP BY user_id)
       SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN ntypes = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exclusive,
         10000 * CAST(sum(CASE WHEN ntypes = 1 THEN 1 ELSE 0 END) AS BIGINT)
           // CAST(count(*) AS BIGINT) AS exclusive_bp
       FROM ut JOIN u USING (user_id)
       GROUP BY event_type ORDER BY event_type"""

  /** New-vs-returning revenue split per month (q254): each order is
    * NEW iff its month is the customer's first-ever order month — the
    * acquisition/retention revenue mix every growth report leads
    * with, and the month-level twin of q106's cohort matrix. The
    * first-month relation is one per-customer min (partial agg,
    * |customers| rows) broadcast-joined back; no window over the fact
    * table.
    *
    * Exactness: cents int64; shares integer bp. Month boundaries by
    * calendar month of o_orderdate (identical string bucketing both
    * engines). */
  def q254NewVsReturning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, d)
      .select($"o_custkey", date_format($"o_orderdate", "yyyy-MM").as("month"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val firstMonth = orders.groupBy($"o_custkey")
      .agg(min($"month").as("fm"))
    orders.join(firstMonth, "o_custkey")
      .withColumn("is_new", $"month" === $"fm")
      .groupBy($"month")
      .agg(count(lit(1)).as("n_orders"),
        sum(when($"is_new", $"cents").otherwise(0L)).as("new_cents"),
        sum(when(!$"is_new", $"cents").otherwise(0L)).as("ret_cents"))
      .withColumn("new_share_bp",
        expr("10000 * new_cents div (new_cents + ret_cents)"))
      .orderBy($"month")
  }

  val q254Oracle: String =
    """WITH o AS (
         SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM orders),
       fm AS (SELECT o_custkey, min(month) AS fm FROM o GROUP BY o_custkey)
       SELECT month,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN month = fm THEN cents ELSE 0 END) AS BIGINT)
           AS new_cents,
         CAST(sum(CASE WHEN month <> fm THEN cents ELSE 0 END) AS BIGINT)
           AS ret_cents,
         10000 * CAST(sum(CASE WHEN month = fm THEN cents ELSE 0 END) AS BIGINT)
           // (CAST(sum(CASE WHEN month = fm THEN cents ELSE 0 END) AS BIGINT)
              + CAST(sum(CASE WHEN month <> fm THEN cents ELSE 0 END) AS BIGINT))
           AS new_share_bp
       FROM o JOIN fm USING (o_custkey)
       GROUP BY month ORDER BY month"""

  /** Rolling 7-day return rate (q259): of each day's active users,
    * what fraction come back within the next 7 days? The
    * short-horizon retention pulse (q106's cohort matrix is the
    * long-form; this is the one that goes on a daily dashboard). The
    * scalable shape avoids both a user-day self-join on a range
    * predicate and any per-day rescans: from the deduped (user, day)
    * relation, a per-user lead(day) gives the NEXT active day in one
    * window pass, and "returned within 7" is a per-row comparison —
    * the range semi-join collapses into lead() because only the
    * nearest future visit matters.
    *
    * Days with no 7-day lookahead remaining in the data (the final
    * week) still report — their rate is genuinely right-censored, and
    * the censored flag column says so (q210's censoring discipline,
    * not silent truncation). */
  def q259RollingRetention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ud = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val nxt = ud
      .withColumn("next_day", lead($"day", 1).over(
        Window.partitionBy($"user_id").orderBy($"day")))
      .withColumn("returned",
        when($"next_day".isNotNull &&
          datediff($"next_day", $"day") <= 7, 1L).otherwise(0L))
    val maxDay = ud.agg(max($"day").as("d_max"))
    nxt.crossJoin(broadcast(maxDay))
      .groupBy($"day")
      .agg(count(lit(1)).as("active_users"),
        sum($"returned").as("returned_7d"),
        max(when(datediff($"d_max", $"day") < 7, true).otherwise(false))
          .as("censored"))
      .withColumn("return_bp", expr("10000 * returned_7d div active_users"))
      .orderBy($"day")
  }

  val q259Oracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       nxt AS (
         SELECT user_id, day,
           lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
         FROM ud),
       r AS (
         SELECT day,
           CASE WHEN next_day IS NOT NULL
                 AND datediff('day', day, next_day) <= 7
                THEN 1 ELSE 0 END AS returned
         FROM nxt),
       mx AS (SELECT max(day) AS d_max FROM ud)
       SELECT day,
         CAST(count(*) AS BIGINT) AS active_users,
         CAST(sum(returned) AS BIGINT) AS returned_7d,
         max(datediff('day', day, d_max) < 7) AS censored,
         10000 * CAST(sum(returned) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS return_bp
       FROM r CROSS JOIN mx
       GROUP BY day, d_max ORDER BY day"""

  /** State-occupancy analysis (q263): how much wall-clock time do
    * users spend "in" each event type? Each event opens a spell that
    * lasts until the user's next event (the hold-until-next convention
    * q170's TWAP uses for prices, applied to behavioral states); final
    * events close no spell. Occupancy share answers "where does user
    * time actually go?" — the duration-weighted complement of q114's
    * transition COUNTS.
    *
    * Exactness: spell lengths are exact µs differences; shares integer
    * bp of the summed total. Shape: one per-user lead() window pass,
    * one partial-agg rollup per type, a 1-row total broadcast back. */
  def q263StateOccupancy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val spells = Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("next_us", lead($"us", 1).over(w))
      .filter($"next_us".isNotNull)
      .select($"event_type", ($"next_us" - $"us").as("dur_us"))
    val byType = spells.groupBy($"event_type")
      .agg(count(lit(1)).as("n_spells"), sum($"dur_us").as("total_us"))
    val tot = byType.agg(sum($"total_us").as("all_us"))
    byType.crossJoin(broadcast(tot))
      .select($"event_type", $"n_spells", $"total_us",
        expr("10000 * total_us div all_us").as("share_bp"),
        expr("total_us div n_spells div 1000000").as("mean_spell_s"))
      .orderBy($"event_type")
  }

  val q263Oracle: String =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       sp AS (
         SELECT event_type,
           lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
             AS dur_us
         FROM e),
       bt AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_spells,
           CAST(sum(dur_us) AS BIGINT) AS total_us
         FROM sp WHERE dur_us IS NOT NULL GROUP BY event_type),
       tot AS (SELECT CAST(sum(total_us) AS BIGINT) AS all_us FROM bt)
       SELECT event_type, n_spells, total_us,
         10000 * total_us // all_us AS share_bp,
         total_us // n_spells // 1000000 AS mean_spell_s
       FROM bt CROSS JOIN tot ORDER BY event_type"""

  /** Cohort LTV curve (q264): for each acquisition cohort (first-order
    * month), cumulative revenue per cohort member by months-since-
    * acquisition — the customer-lifetime-value triangle that prices
    * acquisition spend. The q106 retention matrix weighted by money
    * and cumulated along the age axis.
    *
    * Exactness: cents int64; per-member LTV as integer division;
    * month age = exact (year·12+month) arithmetic, no date
    * subtraction ambiguity. Shape: one pass to (cohort, age) cells
    * (partial agg after the broadcast first-month join), cohort sizes
    * broadcast back, cumulative window per cohort over the ≤|months|²
    * triangle. Ages capped at 11 (first year) to bound the output. */
  def q264CohortLtv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
      .select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).as("m"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val first = o.groupBy($"o_custkey").agg(min($"m").as("m0"))
    val sizes = first.groupBy($"m0").agg(count(lit(1)).as("cohort_n"))
    val cells = o.join(first, "o_custkey")
      .withColumn("age", $"m" - $"m0")
      .filter($"age" <= 11)
      .groupBy($"m0", $"age").agg(sum($"cents").as("rev"))
    cells.join(broadcast(sizes), "m0")
      .withColumn("cum_rev", sum($"rev").over(
        Window.partitionBy($"m0").orderBy($"age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        concat(expr("lpad(CAST((m0 - 1) div 12 AS STRING), 4, '0')"), lit("-"),
          expr("lpad(CAST((m0 - 1) % 12 + 1 AS STRING), 2, '0')")).as("cohort"),
        $"age".cast("long").as("age"), $"cohort_n", $"rev",
        expr("cum_rev div cohort_n").as("cum_ltv_cents"))
      .orderBy($"cohort", $"age")
  }

  val q264Oracle: String =
    """WITH o AS (
         SELECT o_custkey,
           year(o_orderdate) * 12 + month(o_orderdate) AS m,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM orders),
       f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY o_custkey),
       sz AS (SELECT m0, CAST(count(*) AS BIGINT) AS cohort_n FROM f GROUP BY m0),
       cells AS (
         SELECT m0, m - m0 AS age, CAST(sum(cents) AS BIGINT) AS rev
         FROM o JOIN f USING (o_custkey)
         WHERE m - m0 <= 11 GROUP BY 1, 2),
       cum AS (
         SELECT m0, age, rev,
           CAST(sum(rev) OVER (PARTITION BY m0 ORDER BY age
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_rev
         FROM cells)
       SELECT lpad(CAST((m0 - 1) // 12 AS VARCHAR), 4, '0') || '-' ||
           lpad(CAST((m0 - 1) % 12 + 1 AS VARCHAR), 2, '0') AS cohort,
         CAST(age AS BIGINT) AS age, cohort_n, rev,
         cum_rev // cohort_n AS cum_ltv_cents
       FROM cum JOIN sz USING (m0)
       ORDER BY cohort, age"""

  /** Spend-tier migration matrix (q265): customers quintiled by 1995
    * spend and again by 1996 spend; the 5×5 transition matrix (plus
    * churn-to-zero and new-in-1996 bands) shows mobility between
    * value tiers — the Markov view of customer value (q114's
    * transition matrix lifted from events to yearly value states).
    *
    * Determinism: quintiles via exact ntile(5) ordered by (spend DESC,
    * custkey) — the q226 discipline; zero-spend years are their own
    * band 0 rather than polluting tier 5 (the band-0 carve-out is a
    * FILTER before the quintile, not a boolean window partition — a
    * constant-boolean partitionSpec is a ≤2-partition global sort in
    * disguise, VERDICT r6 #2). Shape: two conditional aggregations off
    * one orders pass (checkpointed once for its three consumers), two
    * [[Windows.withExactNtile]] distributed ranks over the nonzero
    * |customers| slices, one 36-cell rollup. */
  def q265TierMigration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spend = Tables.orders(s, d)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .groupBy($"o_custkey")
      .agg(
        sum(when(year($"o_orderdate") === 1995,
          ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L)).as("s95"),
        sum(when(year($"o_orderdate") === 1996,
          ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L)).as("s96"))
      .localCheckpoint()
    val t95 = Windows.withExactNtile(
        spend.filter($"s95" =!= 0L).select($"o_custkey", $"s95"),
        Seq($"s95".desc, $"o_custkey"), 5, "t95")
      .select($"o_custkey", $"t95")
    val t96 = Windows.withExactNtile(
        spend.filter($"s96" =!= 0L).select($"o_custkey", $"s96"),
        Seq($"s96".desc, $"o_custkey"), 5, "t96")
      .select($"o_custkey", $"t96")
    val tiered = spend
      .join(t95, Seq("o_custkey"), "left")
      .join(t96, Seq("o_custkey"), "left")
      .select($"s96", coalesce($"t95", lit(0L)).as("t95"),
        coalesce($"t96", lit(0L)).as("t96"))
    tiered.groupBy($"t95", $"t96")
      .agg(count(lit(1)).as("n_customers"), sum($"s96").as("rev96_cents"))
      .orderBy($"t95", $"t96")
  }

  val q265Oracle: String =
    """WITH spend AS (
         SELECT o_custkey,
           CAST(sum(CASE WHEN year(o_orderdate) = 1995
             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             ELSE 0 END) AS BIGINT) AS s95,
           CAST(sum(CASE WHEN year(o_orderdate) = 1996
             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             ELSE 0 END) AS BIGINT) AS s96
         FROM orders WHERE year(o_orderdate) IN (1995, 1996)
         GROUP BY o_custkey),
       t AS (
         SELECT o_custkey, s96,
           CASE WHEN s95 = 0 THEN 0
                ELSE CAST(ntile(5) OVER (PARTITION BY s95 = 0
                  ORDER BY s95 DESC, o_custkey) AS BIGINT) END AS t95,
           CASE WHEN s96 = 0 THEN 0
                ELSE CAST(ntile(5) OVER (PARTITION BY s96 = 0
                  ORDER BY s96 DESC, o_custkey) AS BIGINT) END AS t96
         FROM spend)
       SELECT t95, t96, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(s96) AS BIGINT) AS rev96_cents
       FROM t GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Two-group log-rank test (q296, Mantel–Cox): do even- and odd-key
    * customers repurchase at different speeds? The hypothesis-test
    * companion of q210's Kaplan–Meier curve, on the SAME censored
    * spell construction (order → days to next order, right-censored at
    * the dataset edge, week buckets, 30-week horizon): at each event
    * week the observed group-1 events are compared against the
    * hypergeometric expectation E₁ = n₁·d/n given the week's risk
    * sets, and χ² = (Σ(O₁−E₁))²/ΣV. Arms split by customer-key parity
    * — a true A/A null, so the statistic should sit near its χ²(1)
    * mean (and does).
    *
    * Parity: risk sets and event counts are exact integers derived
    * from two cumulative windows over the bounded WEEK spine; each
    * week's E and V terms are single IEEE expressions floored to micro
    * once (q128's discipline), then integer-summed; the final χ² is
    * one double division floored to milli. A week whose whole risk set
    * is one spell has an undefined hypergeometric variance (÷(n−1)=÷0:
    * NULL in Spark, inf in DuckDB — ADVICE r6) — both sides guard it
    * to 0. No per-spell window beyond q210's per-customer lead(). */
  def q296Logrank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val horizon = 30L
    val byCust = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val maxD = Tables.orders(s, d).agg(max($"o_orderdate").as("max_d"))
    val spells = Tables.orders(s, d)
      .withColumn("next_d", lead($"o_orderdate", 1).over(byCust))
      .crossJoin(broadcast(maxD))
      .select(($"o_custkey" % 2).as("grp"),
        when($"next_d".isNotNull,
          floor(datediff($"next_d", $"o_orderdate") / 7.0).cast("long"))
          .otherwise(floor(datediff($"max_d", $"o_orderdate") / 7.0).cast("long"))
          .as("wk0"),
        $"next_d".isNotNull.cast("long").as("ev0"))
      .select($"grp", least($"wk0", lit(horizon)).as("wk"),
        ($"ev0" === 1L && $"wk0" <= horizon).cast("long").as("event"))
    val byWk = spells.groupBy($"wk").agg(
      count(when($"grp" === 0, lit(1))).as("end0"),
      sum(when($"grp" === 0, $"event").otherwise(lit(0L))).as("d0"),
      count(when($"grp" === 1, lit(1))).as("end1"),
      sum(when($"grp" === 1, $"event").otherwise(lit(0L))).as("d1"))
    val tot = spells.groupBy().agg(
      count(when($"grp" === 0, lit(1))).as("t0"),
      count(when($"grp" === 1, lit(1))).as("t1"))
    val w = Window.orderBy($"wk")
    val terms = byWk.crossJoin(broadcast(tot))
      .withColumn("n0", $"t0" - coalesce(sum($"end0")
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n1", $"t1" - coalesce(sum($"end1")
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter($"wk" < horizon && ($"d0" + $"d1") > 0)
      .withColumn("e1_micro", expr("""CAST(floor(
          CAST(n1 AS DOUBLE) * (d0 + d1) / (n0 + n1) * 1000000.0) AS BIGINT)"""))
      .withColumn("v_micro", expr("""CAST(floor(CASE WHEN n0 + n1 > 1
          THEN CAST(n0 AS DOUBLE) * n1 * (d0 + d1) * (n0 + n1 - d0 - d1)
            / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1) * (n0 + n1 - 1))
          ELSE 0.0 END * 1000000.0) AS BIGINT)"""))
    terms.agg(
        max($"t0").as("n0_spells"), max($"t1").as("n1_spells"),
        sum($"d0").as("events0"), sum($"d1").as("events1"),
        (sum($"d1") * lit(1000000L) - sum($"e1_micro")).as("o_minus_e_micro"),
        sum($"v_micro").as("var_micro"))
      .withColumn("chi_milli", expr("""CAST(floor(
          CAST(o_minus_e_micro AS DOUBLE) * o_minus_e_micro
          / (1000.0 * var_micro)) AS BIGINT)"""))
  }

  val q296Oracle: String =
    """WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
       sp AS (
         SELECT o_custkey, o_orderdate, o_orderkey,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS next_d
         FROM orders),
       spell AS (
         SELECT o_custkey % 2 AS grp,
           CASE WHEN next_d IS NOT NULL
             THEN CAST(floor(date_diff('day', o_orderdate, next_d) / 7.0) AS BIGINT)
             ELSE CAST(floor(date_diff('day', o_orderdate, max_d) / 7.0) AS BIGINT)
           END AS wk0,
           CASE WHEN next_d IS NOT NULL THEN 1 ELSE 0 END AS ev0
         FROM sp CROSS JOIN mx),
       spell2 AS (
         SELECT grp, least(wk0, 30) AS wk,
           CAST(ev0 = 1 AND wk0 <= 30 AS BIGINT) AS event
         FROM spell),
       bywk AS (
         SELECT wk,
           CAST(count(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS end0,
           CAST(sum(CASE WHEN grp = 0 THEN event ELSE 0 END) AS BIGINT) AS d0,
           CAST(count(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS end1,
           CAST(sum(CASE WHEN grp = 1 THEN event ELSE 0 END) AS BIGINT) AS d1
         FROM spell2 GROUP BY wk),
       tot AS (SELECT CAST(count(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS t0,
                 CAST(count(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS t1
               FROM spell2),
       terms AS (
         SELECT wk, d0, d1, t0, t1,
           t0 - COALESCE(CAST(sum(end0) OVER (ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n0,
           t1 - COALESCE(CAST(sum(end1) OVER (ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n1
         FROM bywk CROSS JOIN tot),
       ev AS (
         SELECT *,
           CAST(floor(CAST(n1 AS DOUBLE) * (d0 + d1) / (n0 + n1) * 1000000.0) AS BIGINT) AS e1_micro,
           CAST(floor(CASE WHEN n0 + n1 > 1
             THEN CAST(n0 AS DOUBLE) * n1 * (d0 + d1) * (n0 + n1 - d0 - d1)
               / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1) * (n0 + n1 - 1))
             ELSE 0.0 END * 1000000.0) AS BIGINT) AS v_micro
         FROM terms WHERE wk < 30 AND (d0 + d1) > 0),
       agg AS (
         SELECT CAST(max(t0) AS BIGINT) AS n0_spells, CAST(max(t1) AS BIGINT) AS n1_spells,
           CAST(sum(d0) AS BIGINT) AS events0, CAST(sum(d1) AS BIGINT) AS events1,
           CAST(sum(d1) * 1000000 - sum(e1_micro) AS BIGINT) AS o_minus_e_micro,
           CAST(sum(v_micro) AS BIGINT) AS var_micro
         FROM ev)
       SELECT *, CAST(floor(CAST(o_minus_e_micro AS DOUBLE) * o_minus_e_micro
         / (1000.0 * var_micro)) AS BIGINT) AS chi_milli
       FROM agg"""


  /** Session Markov-surprisal anomaly ranking (q343): fit a global
    * first-order transition model over (user, day) event sequences
    * (q114's matrix as a LANGUAGE MODEL), score each session by the
    * total surprisal of its transitions — ⌊ln(c_a/c_ab)·10⁶⌋ per
    * transition, quantized at the BOUNDED model relation then only
    * integer-summed (q141's discipline) — and rank the top-20 most
    * anomalous sessions by average surprisal. This is the behavioral
    * "weird session" detector (bot/fraud triage) built from the same
    * machinery as the text LM ops.
    *
    * Scale: sequence windows are (user, day)-partitioned; the model
    * is |event_types|²-bounded and broadcast back onto the
    * transition stream; ranking is a TakeOrdered-shaped top-20 over
    * the session aggregate. */
  def q343SessionSurprisal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seq = Tables.events(s, d)
      .select($"user_id", $"ts".cast("date").as("day"), $"ts",
        $"event_type", $"event_id")
      .withColumn("nxt", lead($"event_type", 1).over(
        Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")))
    val trans = seq.filter($"nxt".isNotNull)
      .select($"user_id", $"day", $"event_type".as("a"), $"nxt".as("b"))
      .localCheckpoint()
    val gc = trans.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
    val ga = gc.groupBy($"a").agg(sum($"c_ab").as("c_a"))
    val w = gc.join(ga, "a")
      .select($"a", $"b",
        floor(log($"c_a".cast("double") / $"c_ab") * 1000000.0)
          .cast("long").as("s_micro"))
    val sess = trans.join(broadcast(w), Seq("a", "b"))
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_trans"), sum($"s_micro").as("surprise_micro"))
      .filter($"n_trans" >= 3)
      .withColumn("avg_micro", expr("surprise_micro div n_trans"))
    sess.withColumn("rank", row_number().over(
        Window.orderBy($"avg_micro".desc, $"user_id", $"day")).cast("long"))
      .filter($"rank" <= 20)
      .select($"rank", $"user_id", $"day", $"n_trans",
        $"surprise_micro", $"avg_micro")
      .orderBy($"rank")
  }

  val q343Oracle: String =
    """WITH ev AS (
         SELECT user_id, CAST(ts AS DATE) AS day, CAST(ts AS TIMESTAMP) AS t, event_type, event_id
         FROM events),
       seq AS (
         SELECT user_id, day, event_type,
           lead(event_type) OVER (PARTITION BY user_id, day ORDER BY t, event_id) AS nxt
         FROM ev),
       trans AS (SELECT user_id, day, event_type AS a, nxt AS b FROM seq WHERE nxt IS NOT NULL),
       gc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM trans GROUP BY 1, 2),
       ga AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM gc GROUP BY 1),
       w AS (
         SELECT gc.a, gc.b,
           CAST(floor(ln(CAST(ga.c_a AS DOUBLE) / gc.c_ab) * 1000000.0) AS BIGINT) AS s_micro
         FROM gc JOIN ga ON gc.a = ga.a),
       sess AS (
         SELECT t.user_id, t.day, CAST(count(*) AS BIGINT) AS n_trans,
           CAST(sum(w.s_micro) AS BIGINT) AS surprise_micro
         FROM trans t JOIN w ON t.a = w.a AND t.b = w.b
         GROUP BY 1, 2),
       r AS (
         SELECT user_id, day, n_trans, surprise_micro,
           surprise_micro // n_trans AS avg_micro,
           row_number() OVER (ORDER BY surprise_micro // n_trans DESC, user_id, day) AS rnk
         FROM sess WHERE n_trans >= 3)
       SELECT CAST(rnk AS BIGINT) AS rank, user_id, day, n_trans, surprise_micro, avg_micro
       FROM r WHERE rnk <= 20 ORDER BY rnk"""

  /** SAX motif discovery (q408, symbolic aggregate approximation over
    * the hourly event-rate series): per event type, bucket hourly event
    * counts into quartile symbols 1–4 (exact ntile, ties broken by
    * hour), slide a 3-hour window over CONSECUTIVE hours (gaps break
    * words — a missing hour must not stitch two separate regimes into
    * one motif), and count each 3-symbol word. The motif histogram is
    * the standard cheap surrogate for "does this series have recurring
    * shapes" before anything expensive like matrix profile.
    *
    * Scale: the series relation is the (type, hour) AGGREGATE — time-
    * range-sized, not event-count-sized — so the ntile and lead windows
    * partition by event_type over bounded series; motif counts shuffle
    * on (type, word) with ≤64 words per type. */
  def q408SaxMotifs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .groupBy($"event_type", expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("c"))
    val sym = hourly.withColumn("sym",
      ntile(4).over(Window.partitionBy($"event_type").orderBy($"c", $"h")))
    val w = Window.partitionBy($"event_type").orderBy($"h")
    val counts = sym
      .select($"event_type", $"h", $"sym",
        lead($"h", 1).over(w).as("h1"), lead($"sym", 1).over(w).as("s1"),
        lead($"h", 2).over(w).as("h2"), lead($"sym", 2).over(w).as("s2"))
      .filter($"h1" === $"h" + 1 && $"h2" === $"h" + 2)
      .select($"event_type",
        concat($"sym".cast("string"), $"s1".cast("string"),
          $"s2".cast("string")).as("motif"))
      .groupBy($"event_type", $"motif").agg(count(lit(1)).as("n_occ"))
    val tot = counts.groupBy($"event_type").agg(sum($"n_occ").as("tot"))
    counts.join(tot, "event_type")
      .select($"event_type", $"motif", $"n_occ",
        expr("n_occ * 10000 div tot").as("share_bp"))
      .orderBy($"event_type", $"motif")
  }

  val q408Oracle: String =
    """WITH hourly AS (
         SELECT event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       sym AS (
         SELECT event_type, h,
                ntile(4) OVER (PARTITION BY event_type ORDER BY c, h) AS sym
         FROM hourly),
       seq AS (
         SELECT event_type, h, sym,
                lead(h, 1) OVER (PARTITION BY event_type ORDER BY h) AS h1,
                lead(sym, 1) OVER (PARTITION BY event_type ORDER BY h) AS s1,
                lead(h, 2) OVER (PARTITION BY event_type ORDER BY h) AS h2,
                lead(sym, 2) OVER (PARTITION BY event_type ORDER BY h) AS s2
         FROM sym),
       words AS (
         SELECT event_type, sym::VARCHAR || s1::VARCHAR || s2::VARCHAR AS motif
         FROM seq WHERE h1 = h + 1 AND h2 = h + 2),
       c AS (SELECT event_type, motif, CAST(count(*) AS BIGINT) AS n_occ
             FROM words GROUP BY 1, 2),
       t AS (SELECT event_type, CAST(sum(n_occ) AS BIGINT) AS tot FROM c GROUP BY 1)
       SELECT event_type, motif, n_occ, n_occ * 10000 // tot AS share_bp
       FROM c JOIN t USING (event_type) ORDER BY event_type, motif"""

  /** Preference-tournament cycle audit (q412): build the majority
    * tournament over event types — per user, type X beats type Y when
    * the user's exact decimal spend on X exceeds Y; per pair, the
    * majority across users decides the edge (ties, at either level, go
    * to the lexicographically smaller type so the tournament is always
    * complete) — then count cyclic triads via Moon's closed form
    * C(n,3) − Σ_v C(outdeg_v, 2): a triad is transitive iff exactly one
    * vertex beats both others. Cyclic triads are the "preferences are
    * not a ranking" signal that invalidates a Bradley–Terry/ELO fit
    * (q313's model assumes none).
    *
    * Scale: the per-user pair relation is |users|·C(|types|,2) — the
    * type vocabulary is bounded, so the self-join fan-out is a
    * constant factor on the user aggregate, with map-side combine on
    * (x, y). The closed form needs only out-degrees: no triangle
    * enumeration, no triple join. The type-pair grid is domain²-sized
    * and broadcast. */
  def q412PrefCycles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val uv = Tables.events(s, d)
      .groupBy($"user_id", $"event_type")
      .agg(sum($"value".cast("decimal(18,2)")).as("v"))
    val pairs = uv.as("a").join(uv.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("x"), col("b.event_type").as("y"),
        when(col("a.v") > col("b.v"), 1L).otherwise(0L).as("xw"),
        when(col("b.v") > col("a.v"), 1L).otherwise(0L).as("yw"))
      .groupBy($"x", $"y")
      .agg(sum($"xw").as("xw"), sum($"yw").as("yw"))
    val types = uv.select($"event_type").distinct()
    val grid = types.as("ta").join(types.as("tb"),
        col("ta.event_type") < col("tb.event_type"))
      .select(col("ta.event_type").as("x"), col("tb.event_type").as("y"))
    // complete tournament: undecided/tied pairs default to x (lex-min)
    val edges = grid.join(pairs, Seq("x", "y"), "left")
      .select(when(coalesce($"yw", lit(0L)) > coalesce($"xw", lit(0L)), $"y")
        .otherwise($"x").as("winner"))
    val outdeg = types.join(
        edges.groupBy($"winner").agg(count(lit(1)).as("wins")),
        types("event_type") === col("winner"), "left")
      .select($"event_type", coalesce($"wins", lit(0L)).as("wins"))
    val summ = outdeg
      .agg(count(lit(1)).as("n_types"),
        sum(expr("wins * (wins - 1) div 2")).as("trans_triads"))
      .select($"n_types", $"trans_triads",
        expr("n_types * (n_types - 1) * (n_types - 2) div 6").as("n_triads"))
      .select($"n_types", $"n_triads", $"trans_triads",
        ($"n_triads" - $"trans_triads").as("cyclic_triads"),
        expr("case when n_triads > 0 then trans_triads * 10000 div n_triads else 10000 end")
          .as("transitivity_bp"))
    outdeg.crossJoin(broadcast(summ))
      .select($"event_type", $"wins", $"n_types", $"n_triads",
        $"cyclic_triads", $"transitivity_bp")
      .orderBy($"event_type")
  }

  val q412Oracle: String =
    """WITH uv AS (
         SELECT user_id, event_type, sum(CAST(value AS DECIMAL(18,2))) AS v
         FROM events GROUP BY 1, 2),
       pairs AS (
         SELECT a.event_type AS x, b.event_type AS y,
                CAST(sum(CASE WHEN a.v > b.v THEN 1 ELSE 0 END) AS BIGINT) AS xw,
                CAST(sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END) AS BIGINT) AS yw
         FROM uv a JOIN uv b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
         GROUP BY 1, 2),
       types AS (SELECT DISTINCT event_type FROM uv),
       grid AS (
         SELECT ta.event_type AS x, tb.event_type AS y
         FROM types ta JOIN types tb ON ta.event_type < tb.event_type),
       edges AS (
         SELECT CASE WHEN coalesce(yw, 0) > coalesce(xw, 0) THEN y ELSE x END AS winner
         FROM grid LEFT JOIN pairs USING (x, y)),
       outdeg AS (
         SELECT t.event_type, CAST(coalesce(w.wins, 0) AS BIGINT) AS wins
         FROM types t LEFT JOIN
           (SELECT winner, CAST(count(*) AS BIGINT) AS wins FROM edges GROUP BY 1) w
           ON t.event_type = w.winner),
       summ AS (
         SELECT CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(wins * (wins - 1) // 2) AS BIGINT) AS trans_triads
         FROM outdeg),
       s2 AS (
         SELECT n_types, trans_triads,
                n_types * (n_types - 1) * (n_types - 2) // 6 AS n_triads
         FROM summ)
       SELECT event_type, wins, n_types, n_triads,
              n_triads - trans_triads AS cyclic_triads,
              CASE WHEN n_triads > 0 THEN trans_triads * 10000 // n_triads ELSE 10000 END AS transitivity_bp
       FROM outdeg CROSS JOIN s2 ORDER BY event_type"""

  /** Checkpoint-interval planner (q419, the Young–Daly optimum fed by
    * MEASURED failure data): MTBF = observed event span / error-event
    * count; for checkpoint costs C ∈ {10, 60, 300} s, the optimal
    * interval τ = ⌊√(2·C·MTBF)⌋ and its overhead model C/τ + τ/(2·MTBF)
    * in bp — the knob every long-running pipeline sets by folklore,
    * here set from the error stream it actually produces. The one
    * non-integer step, √ of an exact int64 < 2⁵³, is IEEE
    * correctly-rounded and therefore bit-identical on both engines
    * (the q331 exact-input discipline); everything else is integer.
    *
    * Scale: ONE 1-row aggregate over the event stream (span + error
    * count ride the same pass); the C grid is a 3-row literal. */
  def q419CkptPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mtbf = Tables.events(s, d)
      .agg(((max(unix_micros($"ts")) - min(unix_micros($"ts")))
          .cast("long")).as("span_us"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_err"))
      .select($"span_us", $"n_err",
        expr("span_us div 1000000 div greatest(n_err, 1)").as("mtbf_s"))
    val grid = Seq(10L, 60L, 300L).toDF("c_s")
    mtbf.crossJoin(broadcast(grid))
      .select($"c_s", $"n_err", $"mtbf_s",
        floor(sqrt(lit(2.0) * $"c_s" * $"mtbf_s")).cast("long").as("tau_s"))
      .select($"c_s", $"n_err", $"mtbf_s", $"tau_s",
        (expr("c_s * 10000 div tau_s") +
          expr("tau_s * 10000 div (2 * mtbf_s)")).as("overhead_bp"))
      .orderBy($"c_s")
  }

  val q419Oracle: String =
    """WITH m AS (
         SELECT epoch_us(max(CAST(ts AS TIMESTAMP))) - epoch_us(min(CAST(ts AS TIMESTAMP))) AS span_us,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
         FROM events),
       b AS (SELECT span_us, n_err,
                    span_us // 1000000 // greatest(n_err, 1) AS mtbf_s FROM m),
       grid AS (SELECT CAST(unnest([10, 60, 300]) AS BIGINT) AS c_s),
       t AS (SELECT c_s, n_err, mtbf_s,
                    CAST(floor(sqrt(2.0 * c_s * mtbf_s)) AS BIGINT) AS tau_s
             FROM b, grid)
       SELECT c_s, n_err, mtbf_s, tau_s,
              c_s * 10000 // tau_s + tau_s * 10000 // (2 * mtbf_s) AS overhead_bp
       FROM t ORDER BY c_s"""

  /** Off-policy evaluation via inverse propensity scoring (q423,
    * Horvitz–Thompson / IPS and its self-normalized SNIPS variant): the
    * logged "policy" is the empirical event-type distribution; evaluate
    * two counterfactual target policies — UNIFORM over the type
    * vocabulary, and GREEDY on the type with the highest mean logged
    * reward — without re-running anything, by reweighting each logged
    * reward with w = π(a)/μ(a). Reports IPS (unbiased, high variance)
    * and SNIPS (Σrw/Σw, biased, lower variance) in reward cents, plus
    * the effective sample size (Σw)²/Σw² that tells you whether the
    * estimate deserves trust. All propensities are integer micro
    * ratios; the weighted sums ride decimal(38,0) (second-order-moment
    * discipline: w² reaches 10¹² per row).
    *
    * Scale: propensities come from one |types|-row aggregate (broadcast
    * back); the reweighted pass is one scan with two conditional sums
    * per policy — adding a policy adds columns, not passes. */
  def q423IpsOffpolicy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("r_cents"))
    val mu = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"r_cents").as("rsum"))
    val tot = mu.agg(sum($"cnt").as("n"), count(lit(1)).as("k"))
    val greedy = mu
      .select($"event_type", expr("rsum div cnt").as("ravg"))
      .orderBy($"ravg".desc, $"event_type").limit(1)
      .select($"event_type".as("greedy_type"))
    val w = ev.join(broadcast(mu.select($"event_type", $"cnt")), "event_type")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(greedy))
      .select($"r_cents",
        // w_micro = pi(a) / mu(a) in micro; mu(a) = cnt/n
        expr("(1000000 div k) * n div cnt").as("w_uni"),
        when($"event_type" === $"greedy_type",
          expr("1000000 * n div cnt")).otherwise(0L).as("w_greedy"))
    val agg = w.agg(
      count(lit(1)).as("n"),
      sum($"w_uni".cast("decimal(38,0)")).as("sw_uni"),
      sum($"w_uni".cast("decimal(38,0)") * $"w_uni").as("sw2_uni"),
      sum($"r_cents".cast("decimal(38,0)") * $"w_uni").as("srw_uni"),
      sum($"w_greedy".cast("decimal(38,0)")).as("sw_g"),
      sum($"w_greedy".cast("decimal(38,0)") * $"w_greedy").as("sw2_g"),
      sum($"r_cents".cast("decimal(38,0)") * $"w_greedy").as("srw_g"))
    agg.select(explode(array(
        struct(lit("uniform").as("policy"),
          expr("cast(srw_uni div (n * 1000000) as long)").as("ips_cents"),
          expr("cast(srw_uni * 1000 div sw_uni as long)").as("snips_milli_cents"),
          expr("cast(sw_uni * sw_uni div greatest(sw2_uni, 1) as long)").as("n_eff")),
        struct(lit("greedy").as("policy"),
          expr("cast(srw_g div (n * 1000000) as long)").as("ips_cents"),
          expr("cast(srw_g * 1000 div sw_g as long)").as("snips_milli_cents"),
          expr("cast(sw_g * sw_g div greatest(sw2_g, 1) as long)").as("n_eff")))).as("x"))
      .select($"x.policy".as("policy"), $"x.ips_cents",
        $"x.snips_milli_cents", $"x.n_eff")
      .orderBy($"policy")
  }

  val q423Oracle: String =
    """WITH ev AS (
         SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r_cents
         FROM events),
       mu AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(r_cents) AS BIGINT) AS rsum
              FROM ev GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k FROM mu),
       greedy AS (
         SELECT event_type AS greedy_type FROM
           (SELECT event_type, rsum // cnt AS ravg,
                   row_number() OVER (ORDER BY rsum // cnt DESC, event_type) AS rn
            FROM mu)
         WHERE rn = 1),
       w AS (
         SELECT r_cents,
                (1000000 // k) * n // cnt AS w_uni,
                CASE WHEN ev.event_type = greedy_type
                     THEN 1000000 * n // cnt ELSE 0 END AS w_greedy
         FROM ev JOIN mu USING (event_type), tot, greedy),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
                sum(CAST(w_uni AS HUGEINT)) AS sw_uni,
                sum(CAST(w_uni AS HUGEINT) * w_uni) AS sw2_uni,
                sum(CAST(r_cents AS HUGEINT) * w_uni) AS srw_uni,
                sum(CAST(w_greedy AS HUGEINT)) AS sw_g,
                sum(CAST(w_greedy AS HUGEINT) * w_greedy) AS sw2_g,
                sum(CAST(r_cents AS HUGEINT) * w_greedy) AS srw_g
         FROM w)
       SELECT 'greedy' AS policy,
              CAST(srw_g // (n * 1000000) AS BIGINT) AS ips_cents,
              CAST(srw_g * 1000 // sw_g AS BIGINT) AS snips_milli_cents,
              CAST(sw_g * sw_g // greatest(sw2_g, 1) AS BIGINT) AS n_eff
       FROM agg
       UNION ALL
       SELECT 'uniform',
              CAST(srw_uni // (n * 1000000) AS BIGINT),
              CAST(srw_uni * 1000 // sw_uni AS BIGINT),
              CAST(sw_uni * sw_uni // greatest(sw2_uni, 1) AS BIGINT)
       FROM agg
       ORDER BY policy"""

  /** Storage-tiering planner with point-in-time evaluation (q433): the
    * S3-IA/Glacier question "which objects go cold?" answered and then
    * SCORED. History = the first half of the event stream (accesses
    * keyed by (user, item) — item parsed from the props payload — so
    * the object population is sparse the way an object store's is);
    * the policy tiers each object — hot if touched in the last 7
    * history days, else warm if ≥2 lifetime accesses, else cold — and the FUTURE half replays against it with a literal
    * cost model (storage micro-$ 100/40/10 per object, retrieval
    * penalty 0/20/200 per access). Baselines all-hot and all-cold
    * bracket the planned policy; the PIT split (q360's discipline)
    * keeps the evaluation honest — the policy never sees the traffic
    * that prices it.
    *
    * Scale: one groupBy builds per-object history stats; the future
    * half joins back on the object key (domain-sized); tiers and costs
    * are conditional sums — the whole audit is two passes and a
    * 5-row answer. */
  def q433TieringPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val split = to_timestamp(lit("2024-01-16 00:00:00"))
    val hotCut = to_timestamp(lit("2024-01-09 00:00:00"))
    val ev = Tables.events(s, d).select(
      concat($"user_id".cast("string"), lit(":"),
        regexp_extract($"props", "\"k\": (\\d+)", 1)).as("obj"), $"ts")
    val hist = ev.filter($"ts" < split)
      .groupBy($"obj")
      .agg(count(lit(1)).as("n_access"), max($"ts").as("last_ts"))
      .select($"obj",
        when($"last_ts" >= hotCut, "hot")
          .when($"n_access" >= 2, "warm").otherwise("cold").as("tier"))
    val fut = ev.filter($"ts" >= split)
      .groupBy($"obj").agg(count(lit(1)).as("f"))
    val per = hist.join(fut, Seq("obj"), "left")
      .select($"tier", coalesce($"f", lit(0L)).as("f"))
      .groupBy($"tier")
      .agg(count(lit(1)).as("n_objects"), sum($"f").as("future_accesses"))
      .select(lit("planned").as("policy"), $"tier", $"n_objects",
        $"future_accesses",
        (when($"tier" === "hot", 100L).when($"tier" === "warm", 40L)
          .otherwise(10L) * $"n_objects").as("storage_cost"),
        (when($"tier" === "hot", 0L).when($"tier" === "warm", 20L)
          .otherwise(200L) * $"future_accesses").as("retrieval_cost"))
    val tot = per.agg(sum($"n_objects").as("k"), sum($"future_accesses").as("fa"))
    val baselines = tot.select(explode(array(
        struct(lit("all_hot").as("policy"), lit("hot").as("tier"),
          $"k".as("n_objects"), $"fa".as("future_accesses"),
          ($"k" * 100L).as("storage_cost"), lit(0L).as("retrieval_cost")),
        struct(lit("all_cold").as("policy"), lit("cold").as("tier"),
          $"k".as("n_objects"), $"fa".as("future_accesses"),
          ($"k" * 10L).as("storage_cost"), ($"fa" * 200L).as("retrieval_cost")))).as("x"))
      .select($"x.policy".as("policy"), $"x.tier".as("tier"),
        $"x.n_objects".as("n_objects"), $"x.future_accesses".as("future_accesses"),
        $"x.storage_cost".as("storage_cost"), $"x.retrieval_cost".as("retrieval_cost"))
    per.unionByName(baselines)
      .withColumn("total_cost", $"storage_cost" + $"retrieval_cost")
      .orderBy($"policy", $"tier")
  }

  val q433Oracle: String =
    """WITH ev AS (
         SELECT user_id::VARCHAR || ':' || regexp_extract(props, '"k": (\d+)', 1) AS obj,
                CAST(ts AS TIMESTAMP) AS ts
         FROM events),
       hist AS (
         SELECT obj,
                CASE WHEN max(ts) >= TIMESTAMP '2024-01-09 00:00:00' THEN 'hot'
                     WHEN count(*) >= 2 THEN 'warm' ELSE 'cold' END AS tier
         FROM ev WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
       fut AS (
         SELECT obj, CAST(count(*) AS BIGINT) AS f
         FROM ev WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
       per AS (
         SELECT 'planned' AS policy, tier,
                CAST(count(*) AS BIGINT) AS n_objects,
                CAST(sum(coalesce(f, 0)) AS BIGINT) AS future_accesses
         FROM hist LEFT JOIN fut USING (obj) GROUP BY 1, 2),
       per2 AS (
         SELECT policy, tier, n_objects, future_accesses,
                CASE tier WHEN 'hot' THEN 100 WHEN 'warm' THEN 40 ELSE 10 END * n_objects AS storage_cost,
                CASE tier WHEN 'hot' THEN 0 WHEN 'warm' THEN 20 ELSE 200 END * future_accesses AS retrieval_cost
         FROM per),
       tot AS (SELECT CAST(sum(n_objects) AS BIGINT) AS k,
                      CAST(sum(future_accesses) AS BIGINT) AS fa FROM per2),
       base AS (
         SELECT 'all_hot' AS policy, 'hot' AS tier, k AS n_objects, fa AS future_accesses,
                k * 100 AS storage_cost, CAST(0 AS BIGINT) AS retrieval_cost FROM tot
         UNION ALL
         SELECT 'all_cold', 'cold', k, fa, k * 10, fa * 200 FROM tot),
       all_ AS (SELECT * FROM per2 UNION ALL SELECT * FROM base)
       SELECT policy, tier, n_objects, future_accesses, storage_cost,
              retrieval_cost, storage_cost + retrieval_cost AS total_cost
       FROM all_ ORDER BY policy, tier"""

  /** Burn-alert policy evaluation (q434, q382's completion: not "what
    * is the burn rate" but "would the PAGE have fired on the right
    * hours?"): ground truth = the top error-rate decile of hours
    * (exact ntile over the bounded hourly relation); candidate
    * policies = the SRE-standard fast window (1 h rate > 2× corpus
    * base), slow window (3 h average > 1.5× base), and their OR. Each
    * policy gets the full confusion matrix plus precision/recall in
    * bp — the table that decides which alert goes in the pager and
    * which goes in the dashboard.
    *
    * Scale: everything after the one hourly aggregate runs on the
    * time-range-sized hour relation; the 3 h window is a bounded range
    * frame, the decile an ntile over the same bounded relation. */
  def q434BurnAlertEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        ($"event_type" === "error").cast("long").as("err"))
      .groupBy($"hr").agg(count(lit(1)).as("tot"), sum($"err").as("errs"))
    val base = hourly.agg(
      expr("sum(errs) * 1000000 div sum(tot)").as("base_ppm"))
    val w3 = Window.orderBy($"hr").rangeBetween(-2, 0)
    val scored = hourly
      .withColumn("e3", sum($"errs").over(w3))
      .withColumn("t3", sum($"tot").over(w3))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(expr("errs * 1000000 div tot"), $"hr")))
      .crossJoin(broadcast(base))
      .select($"hr",
        ($"decile" === 10).cast("long").as("incident"),
        (expr("errs * 1000000 div tot") > $"base_ppm" * 2).cast("long").as("fast"),
        (expr("e3 * 1000000 div t3") * 2 > $"base_ppm" * 3).cast("long").as("slow"))
      .withColumn("either", greatest($"fast", $"slow"))
    val m = scored.agg(
      sum($"incident" * $"fast").as("tp_f"),
      sum((lit(1) - $"incident") * $"fast").as("fp_f"),
      sum($"incident" * (lit(1) - $"fast")).as("fn_f"),
      sum($"incident" * $"slow").as("tp_s"),
      sum((lit(1) - $"incident") * $"slow").as("fp_s"),
      sum($"incident" * (lit(1) - $"slow")).as("fn_s"),
      sum($"incident" * $"either").as("tp_e"),
      sum((lit(1) - $"incident") * $"either").as("fp_e"),
      sum($"incident" * (lit(1) - $"either")).as("fn_e"))
    m.select(explode(array(
        struct(lit("fast_1h_2x").as("policy"), $"tp_f".as("tp"), $"fp_f".as("fp"), $"fn_f".as("fn")),
        struct(lit("slow_3h_1_5x").as("policy"), $"tp_s".as("tp"), $"fp_s".as("fp"), $"fn_s".as("fn")),
        struct(lit("either").as("policy"), $"tp_e".as("tp"), $"fp_e".as("fp"), $"fn_e".as("fn")))).as("x"))
      .select($"x.policy".as("policy"), $"x.tp".as("tp"), $"x.fp".as("fp"),
        $"x.fn".as("fn"),
        expr("case when x.tp + x.fp > 0 then x.tp * 10000 div (x.tp + x.fp) else 0 end")
          .as("precision_bp"),
        expr("case when x.tp + x.fn > 0 then x.tp * 10000 div (x.tp + x.fn) else 0 end")
          .as("recall_bp"))
      .orderBy($"policy")
  }

  val q434Oracle: String =
    """WITH hourly AS (
         SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
                CAST(count(*) AS BIGINT) AS tot,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs
         FROM events GROUP BY 1),
       base AS (SELECT CAST(sum(errs) AS BIGINT) * 1000000 // CAST(sum(tot) AS BIGINT) AS base_ppm FROM hourly),
       scored AS (
         SELECT hr,
                CASE WHEN ntile(10) OVER (ORDER BY errs * 1000000 // tot, hr) = 10 THEN 1 ELSE 0 END AS incident,
                CASE WHEN errs * 1000000 // tot > base_ppm * 2 THEN 1 ELSE 0 END AS fast,
                CASE WHEN (sum(errs) OVER w3) * 1000000 // (sum(tot) OVER w3) * 2 > base_ppm * 3
                     THEN 1 ELSE 0 END AS slow
         FROM hourly, base
         WINDOW w3 AS (ORDER BY hr RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)),
       s2 AS (SELECT *, greatest(fast, slow) AS either FROM scored),
       m AS (
         SELECT CAST(sum(incident * fast) AS BIGINT) AS tp_f,
                CAST(sum((1 - incident) * fast) AS BIGINT) AS fp_f,
                CAST(sum(incident * (1 - fast)) AS BIGINT) AS fn_f,
                CAST(sum(incident * slow) AS BIGINT) AS tp_s,
                CAST(sum((1 - incident) * slow) AS BIGINT) AS fp_s,
                CAST(sum(incident * (1 - slow)) AS BIGINT) AS fn_s,
                CAST(sum(incident * either) AS BIGINT) AS tp_e,
                CAST(sum((1 - incident) * either) AS BIGINT) AS fp_e,
                CAST(sum(incident * (1 - either)) AS BIGINT) AS fn_e
         FROM s2),
       rows_ AS (
         SELECT 'fast_1h_2x' AS policy, tp_f AS tp, fp_f AS fp, fn_f AS fn FROM m
         UNION ALL SELECT 'slow_3h_1_5x', tp_s, fp_s, fn_s FROM m
         UNION ALL SELECT 'either', tp_e, fp_e, fn_e FROM m)
       SELECT policy, tp, fp, fn,
              CASE WHEN tp + fp > 0 THEN tp * 10000 // (tp + fp) ELSE 0 END AS precision_bp,
              CASE WHEN tp + fn > 0 THEN tp * 10000 // (tp + fn) ELSE 0 END AS recall_bp
       FROM rows_ ORDER BY policy"""

  /** Streaming state-size planner (q438): how many keys must a
    * stateful operator hold live under watermark delays of 1, 6 and
    * 24 hours? For each delay D and each hour t, the live state is the
    * distinct users active in (t−D, t]; the planner reports the PEAK
    * and mean state across the stream, and the peak memory at a
    * 64-byte-per-key budget — the number that sizes the RocksDB store
    * (and decides whether a 24 h watermark is affordable) before the
    * job ever runs.
    *
    * Scale: the raw stream reduces to the DISTINCT (hour, user)
    * relation first (one fact-sized shuffle with map-side combine);
    * everything after is equi-shuffles and calendar-sized relations —
    * never a nested-loop range join of the fact-sized (hour, user)
    * relation against the hour grid (VERDICT r8 #2: an early
    * `t >= h && t < h + delay_h` theta join planned a
    * BroadcastNestedLoopJoin, O(|hu|·|hours|) predicate
    * evaluations). The
    * per-(D, t) distinct count stays exact: a user's overlapping cover
    * intervals are merged by construction (pairwise delta
    * cancellation), so no t is double-counted.
    *
    * r13 shape change: the first version exploded every (h, user, D)
    * row to its ≤ D/1h cover hours and countDistinct'ed the result —
    * a 31× fact blow-up whose 3M-row distinct shuffle was ~1.3 s of
    * the query's 1.8 s at sf0.1 (and is fact-sized × 31 at 100 TB).
    * This version never materializes the cover: per (user, D) the
    * live-hour set is a UNION OF INTERVALS [h, h+D−1], which a lag
    * window turns into ±1 delta points with pairwise cancellation
    * (+1 at h — or at prev+D when the previous interval overlaps, the
    * cancel trick — and −1 at h+D). Deltas are hour-granular, so the
    * per-D delta relation collapses to ≤ (hour span + D) rows; the
    * running state is one tiny cumulative-sum window over the delta
    * points unioned with the observed-hour grid, and state_keys at an
    * observed hour is the cumsum there. Shuffled bytes: the fact-sized
    * lag window (×3 delays, no cover blow-up) plus two
    * calendar-sized relations — the 31× explode is gone. */
  def q438StatePlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hu = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 3600000000").as("h"), $"user_id")
      .distinct()
    val delays = typedLit(Seq(1L, 6L, 24L))
    // per-(delay, user) interval union via pairwise delta cancellation:
    // sorted active hours h_i cover [h_i, h_i+D-1]; a disjoint interval
    // opens +1 at h_i, an overlapping one re-opens at prev+D (cancelling
    // the -1 the previous interval emitted there); every interval closes
    // -1 at h_i+D
    val w = Window.partitionBy($"delay_h", $"user_id").orderBy($"h")
    val iv = hu
      .select($"h", $"user_id", explode(delays).as("delay_h"))
      .select($"delay_h", $"h", lag($"h", 1).over(w).as("ph"))
    val deltas = iv.select($"delay_h",
        when($"ph".isNull || $"h" - $"ph" >= $"delay_h", $"h")
          .otherwise($"ph" + $"delay_h").as("pt"),
        lit(1L).as("delta"))
      .unionByName(iv.select($"delay_h",
        ($"h" + $"delay_h").as("pt"), lit(-1L).as("delta")))
      .groupBy($"delay_h", $"pt").agg(sum($"delta").as("delta"))
    // observed-hour grid rides the same cumsum (delta 0); the RANGE
    // frame includes same-pt delta rows in an observed row's cumsum
    val obsD = hu.select($"h".as("pt")).distinct()
      .select($"pt", explode(delays).as("delay_h"))
    val pts = deltas.select($"delay_h", $"pt", $"delta", lit(0).as("is_obs"))
      .unionByName(obsD.select($"delay_h", $"pt", lit(0L).as("delta"),
        lit(1).as("is_obs")))
    // 3 partitions of ≤ (hour span + D + observed hours) rows each —
    // calendar-sized at any SF, never fact-sized
    val cw = Window.partitionBy($"delay_h").orderBy($"pt")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val live = pts
      .select($"delay_h", $"is_obs", sum($"delta").over(cw).as("state_keys"))
      .filter($"is_obs" === 1)
    live.groupBy($"delay_h")
      .agg(max($"state_keys").as("peak_keys"),
        expr("sum(state_keys) div count(1)").as("mean_keys"),
        count(lit(1)).as("n_hours"))
      .select($"delay_h", $"n_hours", $"mean_keys", $"peak_keys",
        ($"peak_keys" * 64).as("peak_bytes"))
      .orderBy($"delay_h")
  }

  val q438Oracle: String =
    """WITH hu AS (
         SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h, user_id
         FROM events),
       grid AS (SELECT CAST(unnest([1, 6, 24]) AS BIGINT) AS delay_h),
       hours AS (SELECT DISTINCT h AS t FROM hu),
       live AS (
         SELECT delay_h, t, CAST(count(DISTINCT user_id) AS BIGINT) AS state_keys
         FROM hu, grid
         JOIN hours ON t >= h AND t < h + delay_h
         GROUP BY 1, 2),
       agg AS (
         SELECT delay_h, CAST(count(*) AS BIGINT) AS n_hours,
                CAST(sum(state_keys) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_keys,
                max(state_keys) AS peak_keys
         FROM live GROUP BY 1)
       SELECT delay_h, n_hours, mean_keys, peak_keys, peak_keys * 64 AS peak_bytes
       FROM agg ORDER BY delay_h"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q438_state_planner", q438StatePlanner, q438Oracle, NoBound(Structural)),
      Query("q433_tiering_planner", q433TieringPlanner, q433Oracle, NoBound(Structural)),
      Query("q434_burn_alert_eval", q434BurnAlertEval, q434Oracle,
        Hooks(nonEmpty, range("precision_bp", 0, 10000), range("recall_bp", 0, 10000))),
      Query("q423_ips_offpolicy", q423IpsOffpolicy, q423Oracle, NoBound(Structural)),
      Query("q419_ckpt_planner", q419CkptPlanner, q419Oracle,
        NoBound("overhead ratio unbounded above")),
      Query("q408_sax_motifs", q408SaxMotifs, q408Oracle,
        Hooks(nonEmpty, range("share_bp", 0, 10000))),
      Query("q412_pref_cycles", q412PrefCycles, q412Oracle,
        Hooks(nonEmpty, range("transitivity_bp", 0, 10000))),
      Query("q343_session_surprisal", q343SessionSurprisal, q343Oracle,
        NoBound("surprisal unbounded")),
      Query("q361_greenwood", q361Greenwood, q361Oracle,
        Hooks(nonEmpty, range("surv_micro", 0, 1000000), range("se_micro", 0, 1000000), range("lo_micro", 0, 1000000), range("hi_micro", 0, 1000000))),
      Query("q362_ttl_planner", q362TtlPlanner, q362Oracle,
        Hooks(nonEmpty, range("hit_rate_bp", 0, 10000))),
      Query("q364_seq_patterns", q364SeqPatterns, q364Oracle,
        Hooks(nonEmpty, range("share_bp", 0, 10000))),
      Query("q365_ccf", q365Ccf, q365Oracle, Hooks(nonEmpty, range("ccf_bp", -10000, 10000))),
      Query("q264_cohort_ltv", q264CohortLtv, q264Oracle, NoBound(Structural)),
      Query("q265_tier_migration", q265TierMigration, q265Oracle, NoBound(Structural)),
      Query("q263_state_occupancy", q263StateOccupancy, q263Oracle,
        Hooks(nonEmpty, range("share_bp", 0, 10000),
          // occupancy shares partition total time (≤100-state slack)
          groupSum(Seq(), "share_bp", 9900, 10000))),
      Query("q259_rolling_retention", q259RollingRetention, q259Oracle,
        Hooks(nonEmpty, range("return_bp", 0, 10000))),
      Query("q254_new_vs_returning", q254NewVsReturning, q254Oracle,
        Hooks(nonEmpty, range("new_share_bp", 0, 10000))),
      Query("q247_exclusive_reach", q247ExclusiveReach, q247Oracle,
        Hooks(nonEmpty, range("exclusive_bp", 0, 10000))),
      Query("q233_cumulative_distinct", q233CumulativeDistinct, q233Oracle, NoBound(Structural)),
      Query("q235_revenue_streaks", q235RevenueStreaks, q235Oracle, NoBound(Structural)),
      Query("q230_position_attribution", q230PositionAttribution, q230Oracle, NoBound(Structural)),
      Query("q228_bot_vote", q228BotVote, q228Oracle, NoBound(Structural)),
      Query("q226_rfm_segments", q226RfmSegments, q226Oracle, NoBound(Structural)),
      Query("q224_session_paths", q224SessionPaths, q224Oracle,
        Hooks(nonEmpty, range("share_bp", 0, 10000))),
      Query("q219_burstiness", q219Burstiness, q219Oracle,
        Hooks(nonEmpty, range("burst_bp", -10000, 10000))),
      Query("q210_kaplan_meier", q210KaplanMeier, q210Oracle,
        Hooks(nonEmpty, range("surv_micro", 0, 1000000))),
      Query("q296_logrank", q296Logrank, q296Oracle, NoBound("O-E / variance / chi unbounded")),
      Query("q201_entry_exit", q201EntryExit, q201Oracle,
        Hooks(nonEmpty, range("bounce_bp", 0, 10000))),
      Query("q196_assoc_rules", q196AssocRules, q196Oracle,
        Hooks(nonEmpty, range("conf_ppm", 0, 1000000))),
      Query("q189_funnel_latency", q189FunnelLatency, q189Oracle, NoBound(Structural)),
      Query("q190_trending", q190Trending, q190Oracle,
        Hooks(nonEmpty, atLeast("growth_bp", -10000))),
      Query("q182_apriori_triples", q182AprioriTriples, q182Oracle, NoBound(Structural)),
      Query("q128_psi_drift", q128PsiDrift, q128Oracle, NoBound("PSI divergence unbounded above")),
      Query("q113_attribution", q113Attribution, q113Oracle, NoBound(Structural)),
      Query("q114_transitions", q114Transitions, q114Oracle,
        Hooks(nonEmpty, range("p_ppm", 0, 1000000),
          // per-source transition mass partitions (≤1000-symbol slack)
          groupSum(Seq("src"), "p_ppm", 999000, 1000000))),
      Query("q125_next_event_baseline", q125NextEventBaseline, q125Oracle,
        Hooks(nonEmpty, range("acc_ppm", 0, 1000000))),
    )
  }
}
