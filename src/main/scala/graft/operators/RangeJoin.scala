package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Range (interval) join: points `p.ts` against intervals `[start, end)`,
  * with NO equi-key — the case Spark's planner can only express as a
  * broadcast-nested-loop / cartesian product, which is O(|P|·|W|) and
  * falls over at scale.
  *
  * Strategy (the standard distributed interval-join shape, cf. Flink's
  * interval join and the bucketed variants in warehouse engines): pick a
  * bucket granularity `g`, explode every interval into the buckets it
  * covers (bounded fan-out: ≤ ⌈len/g⌉+1 rows per interval), map every
  * point to its single bucket, equi-join on the bucket id, and re-check
  * the exact predicate. Each (point, interval) pair meets in EXACTLY one
  * bucket — the point's — so the join is duplicate-free by construction
  * (no post-dedup pass). The shuffle is hash on bucket id: both sides
  * partition by time, co-located, skew bounded by events-per-bucket.
  *
  * At 100 TB: choose g near the median interval length (fan-out ~2×),
  * and the plan is scan → hash-shuffle → hash-join — no nested loop
  * anywhere. `.explain` shows SortMergeJoin/ShuffledHashJoin on `_rj_b`
  * with the range predicate as a post-join Filter.
  */
object RangeJoin extends graft.QueryModule {

  /** Bucketized range join (inner). `pointTs ∈ [start, end)`; `bucketUs`
    * is the bucket width in microseconds. Output: all columns of
    * `points` then all columns of `intervals`. Interval bounds must be
    * µs-aligned (e.g. second-granularity) for cross-engine parity. */
  def bucketed(points: DataFrame, intervals: DataFrame,
               pointTs: Column, start: Column, end: Column,
               bucketUs: Long): DataFrame = {
    // `div`, not `/`: Column./ is floating division, and µs epochs are
    // big enough that exactness matters at bucket boundaries.
    // end is exclusive: last covered bucket is the one holding end-1µs;
    // guard degenerate (empty) intervals out rather than exploding to a
    // negative-length sequence.
    val w = intervals
      .filter(end > start)
      .withColumn("_rj_s", unix_micros(start))
      .withColumn("_rj_e", unix_micros(end))
      .withColumn("_rj_b",
        explode(expr(s"sequence(_rj_s div $bucketUs, (_rj_e - 1) div $bucketUs)")))
      .drop("_rj_s", "_rj_e")
    val p = points
      .withColumn("_rj_p", unix_micros(pointTs))
      .withColumn("_rj_b", expr(s"_rj_p div $bucketUs"))
      .drop("_rj_p")
    p.join(w, p("_rj_b") === w("_rj_b") && pointTs >= start && pointTs < end)
      .drop("_rj_b")
  }

  /** q64: pure (un-keyed) range join — global promo windows derived from
    * a deterministic sample of purchase events (4/8/12-hour windows,
    * second-aligned starts; hour-scale so the sparse sf0.001 probe still
    * yields pairs) joined against all click events that fall inside
    * them. Window bounds are second-granularity so the µs-floored Spark
    * timestamps and DuckDB's native-precision timestamps compare
    * identically (flooring to µs never crosses a µs-aligned bound).
    * Bucket = 4 h ≈ the min window length → interval fan-out ≤ 4. */
  def q64RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val windows = ev
      .filter($"event_type" === "purchase" && $"event_id" % 13 === 0)
      .select($"event_id".as("w_id"),
        date_trunc("second", $"ts").as("w_start"),
        expr("timestampadd(HOUR, 4 * (1 + event_id % 3), date_trunc('second', ts))")
          .as("w_end"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("p_id"), $"ts", $"user_id")
    bucketed(clicks, windows, $"ts", $"w_start", $"w_end",
        bucketUs = 4L * 3600 * 1000000)
      .select($"w_id", $"p_id", $"user_id")
      .orderBy($"w_id", $"p_id")
  }

  val q64Oracle: String =
    """WITH w AS (
         SELECT event_id AS w_id,
           date_trunc('second', ts) AS w_start,
           date_trunc('second', ts) + to_hours(4 * (1 + event_id % 3)) AS w_end
         FROM events WHERE event_type = 'purchase' AND event_id % 13 = 0),
       p AS (
         SELECT event_id AS p_id, ts, user_id
         FROM events WHERE event_type = 'click')
       SELECT w_id, p_id, user_id
       FROM p JOIN w ON p.ts >= w.w_start AND p.ts < w.w_end
       ORDER BY w_id, p_id"""

  /** Interval × interval OVERLAP join (inner), the sibling of
    * [[bucketed]] for two interval sides: `[aS, aE)` overlaps
    * `[bS, bE)` iff `aS < bE && bS < aE`. Both sides explode into the
    * buckets they cover, equi-join on bucket, re-check the exact
    * predicate — and dedup is BY CONSTRUCTION, no distinct pass: a
    * pair is kept only in the bucket containing `greatest(aS, bS)`
    * (the overlap's start, which both intervals cover), so every
    * overlapping pair survives in exactly one bucket. Bounds in µs
    * epoch columns (already-extracted longs, unlike [[bucketed]]'s
    * timestamp columns). */
  def overlapBucketed(a: DataFrame, b: DataFrame,
                      aS: Column, aE: Column, bS: Column, bE: Column,
                      bucketUs: Long): DataFrame = {
    val ax = a.filter(aE > aS).withColumn("_ov_b",
      explode(expr(s"sequence(${aS} div $bucketUs, (${aE} - 1) div $bucketUs)")))
    val bx = b.filter(bE > bS).withColumn("_ov_b",
      explode(expr(s"sequence(${bS} div $bucketUs, (${bE} - 1) div $bucketUs)")))
    ax.join(bx,
        ax("_ov_b") === bx("_ov_b") &&
          aS < bE && bS < aE &&
          greatest(aS, bS) === ax("_ov_b") * bucketUs +
            pmod(greatest(aS, bS), lit(bucketUs)))
      .drop("_ov_b")
  }

  /** Concurrent-session analysis (q172): gap-sessionize every user
    * (q23's 30-min idiom), then count, per day, the CROSS-USER session
    * pairs whose time ranges overlap and their total pairwise overlap
    * µs — the interval×interval overlap join [[overlapBucketed]]
    * implements without a nested loop. The canonical-bucket rule keeps
    * each pair once; the oracle runs the quadratic inequality join
    * directly (fine single-node, the shape we specifically avoid
    * distributed). Bucket = 1 h ≈ session scale → fan-out ~2. */
  def q172IntervalOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us")
    val sess = Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"))
      .withColumn("prev", lag($"us", 1).over(w))
      .withColumn("brk",
        when($"prev".isNull || $"us" - $"prev" > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("s_us"), (max($"us") + 1000000L).as("e_us"))
      .localCheckpoint() // both sides of the self-overlap-join
    val a = sess.select($"user_id".as("u1"), $"s_us".as("s1"), $"e_us".as("e1"))
    val b = sess.select($"user_id".as("u2"), $"s_us".as("s2"), $"e_us".as("e2"))
    overlapBucketed(a, b, $"s1", $"e1", $"s2", $"e2", 3600000000L)
      .filter($"u1" < $"u2")
      .select(to_date(timestamp_micros(greatest($"s1", $"s2"))).as("day"),
        (least($"e1", $"e2") - greatest($"s1", $"s2")).as("ov_us"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_pairs"), sum($"ov_us").as("sum_overlap_us"))
      .orderBy($"day")
  }

  val q172Oracle: String =
    """WITH t AS (
         SELECT user_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
             AS prev
         FROM events),
       m AS (
         SELECT user_id, us,
           sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM t),
       sess AS (
         SELECT user_id, sid, min(us) AS s_us, max(us) + 1000000 AS e_us
         FROM m GROUP BY 1, 2),
       pairs AS (
         SELECT a.user_id AS u1, b.user_id AS u2,
           greatest(a.s_us, b.s_us) AS os, least(a.e_us, b.e_us) AS oe
         FROM sess a JOIN sess b
           ON a.user_id < b.user_id
          AND a.s_us < b.e_us AND b.s_us < a.e_us)
       SELECT CAST(make_timestamp(os) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(oe - os) AS BIGINT) AS sum_overlap_us
       FROM pairs GROUP BY 1 ORDER BY 1"""

  /** FIFO allocation by cumulative-interval overlap (q241): match each
    * part's demand stream ('R' lineitems) against its supply lots ('A'
    * lineitems) in ship-date order, first-in-first-out — inventory
    * costing, queue matching, and lot-tracing all reduce to this. The
    * set-based formulation replaces the sequential walk: position each
    * lot at its cumulative-quantity interval [cum−q, cum) and each
    * demand likewise, and FIFO allocation between lot i and demand j
    * is EXACTLY the overlap of their intervals — the classic trick
    * that turns an inherently serial recurrence into one interval
    * join (q202's clamp identity is the same move for a different
    * recurrence). Output: brand-level arcs, allocated quantity, and
    * the unmatched tails on both sides.
    *
    * Exactness: quantities are integral doubles → int64; cumulative
    * positions are per-(part, side) window sums ordered by (shipdate,
    * orderkey, linenumber) — a unique total order, so both engines
    * build identical intervals. Shape: two window passes over the
    * A/R-filtered fact (predicate pushed to the scan), an equi join
    * ON PART with the overlap residual (per-part streams are small;
    * the q64 bucketing is the escalation if a single key's streams
    * blow up), and partial-agg rollups to brand. The allocated total
    * per part provably equals min(supply, demand) — the spec pins it. */
  def q241FifoAllocation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .filter($"l_returnflag".isin("A", "R"))
      .select($"l_partkey".as("p"), $"l_returnflag".as("side"),
        $"l_quantity".cast("long").as("q"),
        $"l_shipdate".as("ts"), $"l_orderkey".as("ok"), $"l_linenumber".as("ln"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"p", $"side").orderBy($"ts", $"ok", $"ln")
    val cum = li
      .withColumn("hi", sum($"q").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("lo", $"hi" - $"q")
    val sup = cum.filter($"side" === "A")
      .select($"p", $"lo".as("s_lo"), $"hi".as("s_hi"))
    val dem = cum.filter($"side" === "R")
      .select($"p".as("dp"), $"lo".as("d_lo"), $"hi".as("d_hi"))
    val arcs = sup.join(dem,
        $"p" === $"dp" && $"s_lo" < $"d_hi" && $"d_lo" < $"s_hi")
      .select($"p",
        (least($"s_hi", $"d_hi") - greatest($"s_lo", $"d_lo")).as("alloc"))
    val byPart = arcs.groupBy($"p")
      .agg(count(lit(1)).as("n_arcs"), sum($"alloc").as("allocated"))
    val totals = li.groupBy($"p")
      .agg(sum(when($"side" === "A", $"q").otherwise(0L)).as("s_q"),
        sum(when($"side" === "R", $"q").otherwise(0L)).as("d_q"))
    totals.join(byPart, Seq("p"), "left")
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"p" === $"p_partkey")
      .groupBy($"p_brand".as("brand"))
      .agg(sum(coalesce($"n_arcs", lit(0L))).as("n_arcs"),
        sum(coalesce($"allocated", lit(0L))).as("allocated_qty"),
        sum(greatest($"d_q" - $"s_q", lit(0L))).as("unmatched_demand"),
        sum(greatest($"s_q" - $"d_q", lit(0L))).as("leftover_supply"))
      .orderBy($"brand")
  }

  val q241Oracle: String =
    """WITH li AS (
         SELECT l_partkey AS p, l_returnflag AS side,
           CAST(l_quantity AS BIGINT) AS q,
           l_shipdate AS ts, l_orderkey AS ok, l_linenumber AS ln
         FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       cum AS (
         SELECT p, side, q,
           CAST(sum(q) OVER (PARTITION BY p, side ORDER BY ts, ok, ln
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
         FROM li),
       c2 AS (SELECT p, side, q, hi, hi - q AS lo FROM cum),
       sup AS (SELECT p, lo AS s_lo, hi AS s_hi FROM c2 WHERE side = 'A'),
       dem AS (SELECT p AS dp, lo AS d_lo, hi AS d_hi FROM c2 WHERE side = 'R'),
       arcs AS (
         SELECT p, least(s_hi, d_hi) - greatest(s_lo, d_lo) AS alloc
         FROM sup JOIN dem
           ON p = dp AND s_lo < d_hi AND d_lo < s_hi),
       bypart AS (
         SELECT p, CAST(count(*) AS BIGINT) AS n_arcs,
           CAST(sum(alloc) AS BIGINT) AS allocated
         FROM arcs GROUP BY p),
       totals AS (
         SELECT p,
           CAST(sum(CASE WHEN side = 'A' THEN q ELSE 0 END) AS BIGINT) AS s_q,
           CAST(sum(CASE WHEN side = 'R' THEN q ELSE 0 END) AS BIGINT) AS d_q
         FROM li GROUP BY p)
       SELECT p_brand AS brand,
         CAST(sum(coalesce(n_arcs, 0)) AS BIGINT) AS n_arcs,
         CAST(sum(coalesce(allocated, 0)) AS BIGINT) AS allocated_qty,
         CAST(sum(greatest(d_q - s_q, 0)) AS BIGINT) AS unmatched_demand,
         CAST(sum(greatest(s_q - d_q, 0)) AS BIGINT) AS leftover_supply
       FROM totals LEFT JOIN bypart USING (p)
       JOIN part ON p = p_partkey
       GROUP BY p_brand ORDER BY p_brand"""

  /** FIFO inventory aging (q246): after q241's FIFO consumption, the
    * UNCONSUMED remainder of each supply lot — and how old it is. A
    * lot's leftover is the overlap of its cumulative interval
    * [lo, hi) with [D, ∞) where D is the part's total demand (FIFO
    * consumes from the front, so survivors sit at the BACK of the
    * cumulative axis): leftover = max(0, hi − max(lo, D)) — no join
    * at all, just the per-part demand total broadcast back onto the
    * supply intervals. Aging buckets (0–30/31–60/61–90/90+ days
    * before the fleet-wide max ship date) roll up to brand × bucket —
    * the slow-moving-stock report.
    *
    * Exactness: quantities int64 (q241's discipline); ages are
    * datediff days against a 1-row max-date broadcast. Shape: one
    * window pass over the supply side, one partial-agg demand total
    * per part joined back (both sides keyed on part), one rollup. */
  def q246InventoryAging(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .filter($"l_returnflag".isin("A", "R"))
      .select($"l_partkey".as("p"), $"l_returnflag".as("side"),
        $"l_quantity".cast("long").as("q"),
        to_date($"l_shipdate").as("day"), $"l_orderkey".as("ok"),
        $"l_linenumber".as("ln"))
    val sup = li.filter($"side" === "A")
      .withColumn("hi", sum($"q").over(org.apache.spark.sql.expressions.Window
        .partitionBy($"p").orderBy($"day", $"ok", $"ln")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("lo", $"hi" - $"q")
    val dem = li.filter($"side" === "R")
      .groupBy($"p".as("dp")).agg(sum($"q").as("dtot"))
    val maxDay = li.agg(max($"day").as("d_max"))
    val lots = sup.join(dem, $"p" === $"dp", "left")
      .withColumn("dtot", coalesce($"dtot", lit(0L)))
      .withColumn("leftover", greatest($"hi" - greatest($"lo", $"dtot"), lit(0L)))
      .filter($"leftover" > 0L)
      .crossJoin(broadcast(maxDay))
      .withColumn("age_days", datediff($"d_max", $"day"))
      .withColumn("bucket",
        when($"age_days" <= 30, "a_0_30")
          .when($"age_days" <= 60, "b_31_60")
          .when($"age_days" <= 90, "c_61_90")
          .otherwise("d_over_90"))
    lots.join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"p" === $"p_partkey")
      .groupBy($"p_brand".as("brand"), $"bucket")
      .agg(count(lit(1)).as("n_lots"), sum($"leftover").as("qty"))
      .orderBy($"brand", $"bucket")
  }

  val q246Oracle: String =
    """WITH li AS (
         SELECT l_partkey AS p, l_returnflag AS side,
           CAST(l_quantity AS BIGINT) AS q,
           CAST(l_shipdate AS DATE) AS day, l_orderkey AS ok, l_linenumber AS ln
         FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       sup AS (
         SELECT p, q, day,
           CAST(sum(q) OVER (PARTITION BY p ORDER BY day, ok, ln
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
         FROM li WHERE side = 'A'),
       dem AS (
         SELECT p AS dp, CAST(sum(q) AS BIGINT) AS dtot
         FROM li WHERE side = 'R' GROUP BY p),
       mx AS (SELECT max(day) AS d_max FROM li),
       lots AS (
         SELECT p, day,
           greatest(hi - greatest(hi - q, coalesce(dtot, 0)), 0) AS leftover,
           datediff('day', day, d_max) AS age_days
         FROM sup LEFT JOIN dem ON p = dp CROSS JOIN mx),
       bucketed AS (
         SELECT p, leftover,
           CASE WHEN age_days <= 30 THEN 'a_0_30'
                WHEN age_days <= 60 THEN 'b_31_60'
                WHEN age_days <= 90 THEN 'c_61_90'
                ELSE 'd_over_90' END AS bucket
         FROM lots WHERE leftover > 0)
       SELECT p_brand AS brand, bucket,
         CAST(count(*) AS BIGINT) AS n_lots,
         CAST(sum(leftover) AS BIGINT) AS qty
       FROM bucketed JOIN part ON p = p_partkey
       GROUP BY 1, 2 ORDER BY 1, 2"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q246_inventory_aging", q246InventoryAging, q246Oracle, NoBound(Structural)),
      Query("q241_fifo_allocation", q241FifoAllocation, q241Oracle, NoBound(Structural)),
      Query("q172_interval_overlap", q172IntervalOverlap, q172Oracle, NoBound(Structural)),
      Query("q64_range_join", q64RangeJoin, q64Oracle, NoBound(Structural)),
    )
  }
}
