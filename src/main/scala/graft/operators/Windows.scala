package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._
import graft.ops.RefOps

/** Window-function surface: the reference's two window ops (W1 ffill,
  * W2 head-N) plus the running-sum segmentation idiom (T4) it shares
  * with sessionization, and the time-window aggregates the events table
  * is for (tumbling/sliding/session windows, SURVEY.md §7.4).
  *
  * Scale notes: every window here is partitioned by a high-cardinality
  * key (user_id / custkey) — no global orderBy windows, so the work
  * distributes across executors; time-window aggregates are plain
  * hash aggregations on (bucket, key) and inherit partial aggregation.
  */
object Windows extends graft.QueryModule {

  /** The ntile closed form as SQL over the columns `rank`, `q` = N div T
    * and `r` = N mod T: the first r tiles hold q+1 rows, so a rank's
    * tile is pure integer arithmetic. */
  private def tileOfRank(rank: String, q: String, r: String): String =
    s"""CASE WHEN $r > 0 AND $rank <= $r * ($q + 1)
          THEN ($rank - 1) div ($q + 1) + 1
          ELSE $r + ($rank - $r * ($q + 1) - 1) div $q + 1 END"""

  /** EXACT ntile(nTiles) aggregation WITHOUT a global row sort — the
    * shared engine behind q223's gains deciles and q207's WoE bins.
    * Semantically identical to
    * `ntile(nTiles).over(Window.orderBy(score [desc], tie))` followed
    * by `groupBy(tile).agg(count, sum(y))`, but computed from the
    * score VALUE HISTOGRAM: a row's ntile depends only on its global
    * rank, and rank = (rows in strictly earlier score groups, read off
    * the bounded histogram's cumulative window) + (row_number within
    * the group). The tile of a rank is closed-form arithmetic on
    * (N div T, N mod T). Score groups whose rank range sits inside one
    * tile contribute (count, Σy) wholesale; only groups STRADDLING one
    * of the T−1 tile boundaries (≤ T−1 of them) are joined back to
    * their rows and ranked by a window PARTITIONED BY score — the
    * per-boundary-group sort is the irreducible cost of exact ntile
    * under ties, and it touches boundary groups only, never the
    * row-level relation.
    *
    * `rows` must expose `score`, `tie` (unique within a score group),
    * and `y`; returns (tile, n_t, y_t). */
  def exactNtileAgg(rows: DataFrame, score: String, tie: String, y: String,
      nTiles: Int, descending: Boolean): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val hist = rows.groupBy(col(score))
      .agg(count(lit(1)).as("cnt"), sum(col(y)).as("sum_y"))
    val ord = if (descending) col(score).desc else col(score).asc
    val wCum = Window.orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    val nTot = hist.agg(sum($"cnt").as("n_all"))
    // checkpoint the annotated histogram: it is bounded (≤ |distinct
    // score| rows) and BOTH branches below consume it — without the
    // cut, the inside branch and the straddle broadcast would each
    // re-run the row-level aggregation + cumulative window
    val h = hist
      .withColumn("cumb", coalesce(sum($"cnt").over(wCum), lit(0L)))
      .crossJoin(broadcast(nTot))
      .withColumn("q", expr(s"n_all div $nTiles"))
      .withColumn("r", expr(s"n_all % $nTiles"))
      .withColumn("lo", $"cumb" + 1)
      .withColumn("hi", $"cumb" + $"cnt")
      .withColumn("tile_lo", expr(tileOfRank("lo", "q", "r")))
      .withColumn("tile_hi", expr(tileOfRank("hi", "q", "r")))
      .localCheckpoint()
    val inside = h.filter($"tile_lo" === $"tile_hi")
      .select($"tile_lo".as("tile"), $"cnt".as("n_t"), $"sum_y".as("y_t"))
    // ≤ nTiles−1 score values can straddle a tile boundary, so the
    // broadcast side is bounded by the ntile algebra itself; the limit
    // states that bound IN THE PLAN (no-op at runtime — the checkpoint
    // above erased the histogram's provenance, so without it the
    // broadcast audit could not prove boundedness)
    val straddle = rows
      .join(broadcast(h.filter($"tile_lo" =!= $"tile_hi")
        .select(col(score), $"cumb", $"q", $"r").limit(nTiles)), score)
      .withColumn("rank", $"cumb" + row_number().over(
        Window.partitionBy(col(score)).orderBy(col(tie))))
      .withColumn("tile", expr(tileOfRank("rank", "q", "r")))
      .groupBy($"tile")
      .agg(count(lit(1)).as("n_t"), sum(col(y)).as("y_t"))
    inside.unionByName(straddle)
      .groupBy($"tile")
      .agg(sum($"n_t").as("n_t"), sum($"y_t").as("y_t"))
  }

  /** Distributed ordered PREFIX SUM — inclusive running total of
    * `value` in the total order given by `order` — without a
    * single-partition global sort: the textbook two-phase scan.
    * Phase 1 range-repartitions the rows on the order keys (so
    * partition p holds a contiguous slice of the total order) and
    * computes per-partition totals; phase 2 turns those into
    * per-partition OFFSETS via a cumulative window over the bounded
    * (≤ numShufflePartitions rows) partition relation, and each row's
    * prefix sum is its offset plus a within-partition running sum.
    * Every stage is distributed; the only global structure is the
    * numPartitions-row offset table.
    *
    * The repartitioned input is localCheckpoint'd: it feeds BOTH the
    * offset aggregation and the final scan, and freezing it also pins
    * the range-partition assignment the two consumers must agree on
    * (range partitioning is deterministic, but the audit should not
    * have to rely on that). The materialized relation is the
    * operator's own input — for every caller here an already-reduced
    * keyed aggregate or delta stream, never the fact table.
    *
    * `order` should be a total order (include a unique tiebreak);
    * ties are tolerated when `value` is constant across the tie group
    * (a prefix sum over equal addends is permutation-invariant, q111's
    * same-timestamp deltas). */
  def rangePrefixSum(rows: DataFrame, order: Seq[Column], value: Column,
      outCol: String, freeze: Boolean = true): DataFrame =
    rangeScan(rows, order, value, outCol, freeze)._1.drop("__pt", "__total")

  /** Result of [[tileBoundaries]] / [[valuesAtRanks]]: global
    * (unfiltered) `lo`/`hi` of the value column, per-population totals
    * (row counts, or weight sums when a weight column is given), and
    * per-population value arrays — for tileBoundaries, b(t) is the
    * value at global position p_t = t·q + min(t, r) (q = n div nTiles,
    * r = n mod nTiles) within that population, i.e. exactly the
    * per-tile max of positional `ntile(nTiles)` under ANY tie-break. */
  final case class TileBounds(lo: Long, hi: Long, counts: Map[String, Long],
      bounds: Map[String, Array[Long]])

  /** EXACT nTiles split-point VALUES — without ranking the relation
    * (r14, the boundary-only sibling of [[withExactNtile]]).
    *
    * A tile's max is a pure ORDER STATISTIC: the value at position
    * p_t in any total order extending value-order — tie-break columns
    * decide which duplicate lands where, never the value at a
    * position. Boundary-only consumers (split-point tables, equi-depth
    * histograms, medians) therefore don't need the rank engine's range
    * exchange + offset windows at all. This computes the positions by
    * recursive integer binning: one stats pass (min/max/count per
    * population), then per level ONE conditional-sum histogram over a
    * single scan — each live (population, interval) splits into
    * ≤ `bins` integer sub-ranges of width ⌈w/bins⌉, every unresolved
    * target narrows to the bin containing its residual rank, and a
    * width-1 bin IS the answer (values are integers, so termination is
    * structural: ≤ ⌈log_bins(range)⌉ + 1 levels — 3 scans for
    * centi-price domains at bins = 1024).
    *
    * Scale: no exchange ever carries more than pops × nTiles × bins
    * aggregate cells; the driver sees only those grid-sized histograms
    * (the q490/q437 measured-count-literal pattern — bounded by
    * CONSTANTS, independent of fact size). Each level is a full scan
    * with a cheap per-row conditional, so cost is O(levels) scans —
    * at 100 TB that beats one range exchange + sort of the fact by
    * the shuffle it never does.
    *
    * `pops`: (name, 0/1 flag column) — one scan serves every
    * population (q437 ranks full + sample in one pass). Values must be
    * non-null; populations must be non-empty. */
  def tileBoundaries(rows: DataFrame, v: Column,
      pops: Seq[(String, Column)], nTiles: Int,
      bins: Int = 0): TileBounds = {
    require(nTiles >= 1)
    valuesAtRanks(rows, v, pops, n => {
      val q = n / nTiles; val r = n % nTiles
      (1 to nTiles).map(t => t * q + math.min(t, r))
    }, bins = bins)
  }

  /** Generalized core of [[tileBoundaries]] (r15): per population,
    * the VALUES at caller-chosen weighted ranks — smallest v whose
    * cumulative weight (over that population, in v order) reaches the
    * rank. `ranksOf` maps a population's total weight to its target
    * ranks (each in [1, total]); `weight` defaults to 1 (plain order
    * statistics — tileBoundaries' ntile split points); a real weight
    * column (q197's quantity-weighted median) must be non-negative.
    *
    * `bins = 0` (default) sizes bins adaptively per level: small
    * enough that one level's histogram stays under a fixed cell
    * budget (collect stays grid-sized), large enough that two levels
    * resolve any int64-headroom domain the require below admits —
    * sf0.1 measured the fixed-1024 three-level ladder as pure
    * sequential-job overhead (VERDICT r14 #1/#3: q454 2.09 s), and one
    * fewer full scan is also one fewer pass at 100 TB. */
  def valuesAtRanks(rows: DataFrame, v: Column,
      pops: Seq[(String, Column)], ranksOf: Long => Seq[Long],
      weight: Column = lit(1L), bins: Int = 0): TileBounds = {
    val s = rows.sparkSession
    import s.implicits._
    require(pops.nonEmpty, "valuesAtRanks: no populations")
    val base = rows.select((v.cast("long").as("__v") +:
      weight.cast("long").as("__w") +:
      pops.zipWithIndex.map { case ((_, f), i) =>
        f.cast("long").as(s"__f$i") }): _*)
    // null guard (ADVICE r14): a null value would inflate the weight
    // totals below while silently vanishing from the level histograms,
    // corrupting the narrowing walk — fail loudly instead. Per-pop
    // conditional min/max start each target at its own tight interval.
    val statAggs = Seq(min($"__v").as("lo"), max($"__v").as("hi"),
      sum(when($"__v".isNull || $"__w".isNull, 1L).otherwise(0L)).as("nulls"),
      sum(when($"__w" < 0L, 1L).otherwise(0L)).as("negs")) ++
      pops.indices.flatMap(i => Seq(
        sum(col(s"__f$i") * $"__w").as(s"n$i"),
        min(when(col(s"__f$i") === 1L, $"__v")).as(s"lo$i"),
        max(when(col(s"__f$i") === 1L, $"__v")).as(s"hi$i")))
    val st = base.agg(statAggs.head, statAggs.tail: _*).head()
    require(!st.isNullAt(0), "valuesAtRanks: empty input")
    require(st.getLong(2) == 0L,
      s"valuesAtRanks: ${st.getLong(2)} null value/weight row(s) — must be non-null")
    require(st.getLong(3) == 0L,
      s"valuesAtRanks: ${st.getLong(3)} negative weight row(s) — weights must be non-negative")
    val popStats = pops.indices.map { i =>
      require(!st.isNullAt(4 + 3 * i) && st.getLong(4 + 3 * i) > 0L,
        s"valuesAtRanks: population '${pops(i)._1}' is empty")
      (pops(i)._1, st.getLong(5 + 3 * i), st.getLong(6 + 3 * i),
        st.getLong(4 + 3 * i))
    }
    narrowToRanks(base, st.getLong(0), st.getLong(1), popStats, ranksOf, bins)
  }

  /** [[valuesAtRanks]] for DISJOINT populations named by a grouping
    * key (r15): the stats pass is one groupBy(key) — map-side combined
    * to |key-domain| rows per task — so the key domain is DISCOVERED,
    * never assumed, with no separate distinct pass. `key` must be a
    * bounded-domain column (an enum/dimension attribute) of at most
    * [[MaxKeyDomain]] values; the collect reads at most one row more
    * and fails past that bound. Population names in the result are
    * the keys' string forms. */
  def valuesAtRanksByKey(rows: DataFrame, v: Column, key: Column,
      ranksOf: Long => Seq[Long], weight: Column = lit(1L),
      bins: Int = 0): TileBounds = {
    val s = rows.sparkSession
    import s.implicits._
    val keyed = rows.select(key.cast("string").as("__k"),
      v.cast("long").as("__v"), weight.cast("long").as("__w"))
    val st = keyed.groupBy($"__k")
      .agg(min($"__v").as("lo"), max($"__v").as("hi"),
        sum($"__w").as("n"),
        sum(when($"__v".isNull || $"__w".isNull, 1L).otherwise(0L)).as("nulls"),
        sum(when($"__w" < 0L, 1L).otherwise(0L)).as("negs"))
      .limit(MaxKeyDomain + 1)
      .collect()
    require(st.length <= MaxKeyDomain,
      s"valuesAtRanksByKey: key domain exceeds MaxKeyDomain = $MaxKeyDomain keys")
    require(st.nonEmpty, "valuesAtRanksByKey: empty input")
    require(!st.exists(_.isNullAt(0)), "valuesAtRanksByKey: null key")
    val nullRows = st.map(_.getLong(4)).sum
    require(nullRows == 0L,
      s"valuesAtRanksByKey: $nullRows null value/weight row(s) — must be non-null")
    val negRows = st.map(_.getLong(5)).sum
    require(negRows == 0L,
      s"valuesAtRanksByKey: $negRows negative weight row(s) — weights must be non-negative")
    val popStats = st.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    popStats.foreach { case (k, _, _, n) =>
      require(n > 0L, s"valuesAtRanksByKey: population '$k' has zero weight") }
    val base = keyed.select(($"__v" +: $"__w" +:
      popStats.zipWithIndex.map { case ((k, _, _, _), i) =>
        ($"__k" === k).cast("long").as(s"__f$i") }): _*)
    narrowToRanks(base, popStats.map(_._2).min, popStats.map(_._3).max,
      popStats, ranksOf, bins)
  }

  /** Largest key domain [[valuesAtRanksByKey]] collects stats for —
    * each key becomes one population flag column of the level scans. */
  val MaxKeyDomain = 256

  /** Histogram cells one narrowing level may collect (adaptive bins). */
  private val CellBudget = 131072L

  /** Bins per interval for one narrowing level, given the `bins`
    * argument, `nIvs` live intervals of widest width `maxWidth` and
    * `nLive` unresolved targets. Cells ≤ nIvs × bins per collect: when
    * every interval fits the budget at width-sized bins, finish exactly
    * this level; otherwise balance this level's cells against the
    * next's (√(width·targets/ivs), the two-level optimum). The budget
    * test divides instead of multiplying: nIvs × maxWidth overflows
    * int64 for 17+ intervals near the admitted ±Long.MaxValue/32 range. */
  private[graft] def levelBins(bins: Int, nIvs: Int, nLive: Int,
      maxWidth: Long): Long =
    if (bins > 0) bins.toLong
    else if (maxWidth <= CellBudget / nIvs) maxWidth
    else math.min(maxWidth, math.max(1024L, math.min(16384L,
      math.ceil(math.sqrt(maxWidth.toDouble * nLive / nIvs)).toLong)))

  /** Shared narrowing loop: `base` carries __v/__w/__f0..; each
    * population starts at its own (lo, hi) interval with total weight
    * n. Bin counts are sized per level so one histogram's cells stay
    * under a fixed budget while finishing in as few levels as the
    * budget allows (usually two: √range-balanced first level, then
    * width-sized bins resolve every residual interval exactly). */
  private def narrowToRanks(base: DataFrame, gLo: Long, gHi: Long,
      popStats: Seq[(String, Long, Long, Long)],
      ranksOf: Long => Seq[Long], bins: Int): TileBounds = {
    val s = base.sparkSession
    import s.implicits._
    // one bin per level never narrows an interval: the walk would spin
    // to the level cap instead of failing on the argument
    require(bins == 0 || bins >= 2,
      s"valuesAtRanks: bins=$bins — must be 0 (adaptive) or >= 2")
    // int64 headroom for the width arithmetic below AND for caller-side
    // cutpoint multipliers up to 16 (ADVICE r14 tightened /4 → /32;
    // domain discipline: every caller's values are cents/counts)
    require(gLo > Long.MinValue / 32 && gHi < Long.MaxValue / 32,
      s"valuesAtRanks: value range [$gLo, $gHi] too wide for exact binning")
    // one mutable record per (population, rank): interval + residual
    // rank within it; resolved when the interval collapses to a point
    final case class Tgt(pop: Int, t: Int, var lo: Long, var hi: Long,
      var rank: Long, var done: Boolean)
    val targets = popStats.indices.flatMap { i =>
      val (name, lo, hi, n) = popStats(i)
      ranksOf(n).zipWithIndex.map { case (r, t) =>
        require(r >= 1L && r <= n,
          s"valuesAtRanks: rank $r outside [1, $n] for '$name'")
        Tgt(i, t, lo, hi, r, done = lo == hi)
      }
    }
    var level = 0
    while (targets.exists(!_.done)) {
      level += 1
      require(level <= 64, "valuesAtRanks: failed to converge") // structural, never hit
      val live = targets.filter(!_.done)
      val ivs = live.map(t => (t.pop, t.lo, t.hi)).distinct.zipWithIndex
      val maxWidth = ivs.map { case ((_, l, h), _) => h - l + 1 }.max
      val binsL = levelBins(bins, ivs.size, live.size, maxWidth)
      val cands = ivs.map { case ((p, l, h), id) =>
        val bw = ((h - l + 1) + binsL - 1) / binsL
        expr(s"""CASE WHEN __f$p = 1 AND __v >= $l AND __v <= $h THEN
                   named_struct('iv', $id, 'bk', (__v - $l) div ${bw}L)
                 END""")
      }
      val hist = base.select($"__w", explode(array(cands: _*)).as("c"))
        .filter($"c".isNotNull)
        .groupBy($"c.iv".as("iv"), $"c.bk".as("bk"))
        .agg(sum($"__w").as("cnt"))
        .collect() // grid-sized: ≤ live-intervals × binsL cells
      val byIv = hist.groupBy(_.getInt(0)).map { case (iv, rs) =>
        iv -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      }
      // narrow each target against a SNAPSHOT of its (lo, hi) so a
      // target never matches a later iv it was just narrowed into
      // (ADVICE r14: the double-narrowing was correct but fragile)
      val snap = live.map(t => (t, (t.pop, t.lo, t.hi)))
      ivs.foreach { case ((p, l, h), id) =>
        val bw = ((h - l + 1) + binsL - 1) / binsL
        val cells = byIv(id)
        snap.collect { case (t, k) if k == (p, l, h) => t }.foreach { t =>
          var cum = 0L; var k = 0
          while (cum + cells(k)._2 < t.rank) { cum += cells(k)._2; k += 1 }
          val bk = cells(k)._1
          t.lo = l + bk * bw
          t.hi = math.min(h, l + (bk + 1) * bw - 1)
          t.rank -= cum
          if (t.lo == t.hi) t.done = true
        }
      }
    }
    val bounds = popStats.indices.map { i =>
      popStats(i)._1 -> targets.filter(_.pop == i).sortBy(_.t).map(_.lo).toArray
    }.toMap
    TileBounds(gLo, gHi,
      popStats.map(p => p._1 -> p._4).toMap, bounds)
  }

  /** [[rangePrefixSum]] plus the scan's own by-products: the annotated
    * rows keep `__pt` (their partition's total) and `__total` (the
    * grand total) so callers needing N — exact ntile, rank shares —
    * get it without a second pass over the relation.
    *
    * `freeze = false` skips the checkpoint: the caller has already
    * frozen the input (or chains several scans over one frozen
    * relation — q226's three RFM passes), so the two consumers of the
    * range exchange dedup through ReusedExchange inside the one plan
    * instead of through a per-pass materialization. */
  private def rangeScan(rows: DataFrame, order: Seq[Column], value: Column,
      outCol: String, freeze: Boolean): (DataFrame, DataFrame) = {
    val s = rows.sparkSession
    import s.implicits._
    val np = s.sessionState.conf.numShufflePartitions
    val part0 = rows.repartitionByRange(np, order: _*)
      .withColumn("__pid", spark_partition_id())
    val part = if (freeze) part0.localCheckpoint() else part0
    val offs = part.groupBy($"__pid")
      .agg(sum(value).as("__pt"))
      .withColumn("__off", coalesce(sum($"__pt").over(
        Window.orderBy($"__pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__total", sum($"__pt").over(
        Window.orderBy($"__pid").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"__pid", $"__off", $"__pt", $"__total")
    val annotated = part.join(broadcast(offs), "__pid")
      .withColumn(outCol, $"__off" + sum(value).over(
        Window.partitionBy($"__pid").orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__pid", "__off")
    (annotated, offs)
  }

  /** Row-level EXACT ntile without a global sort (VERDICT r6 #1/#2):
    * attaches `ntile(nTiles).over(Window.orderBy(order: _*))` as
    * `outCol` — semantically identical to the builtin, including tie
    * behavior, because `order` is a total order and a row's ntile is
    * closed-form integer arithmetic on its global RANK (with
    * q = N div T, r = N mod T, the first r tiles hold q+1 rows). Rank
    * is a [[rangePrefixSum]] of ones, so no WindowExec ever sorts the
    * input relation in one partition.
    *
    * Why not [[exactNtileAgg]]'s value-histogram engine (q223/q207):
    * that engine is right when the score domain is BOUNDED (quantized
    * scores, basis points); q226's monetary score is cents — near-
    * unique per customer — so its "histogram" would be customer-sized
    * and the broadcast the engine relies on would not hold at scale.
    * Rank-from-a-distributed-scan is exact at any score cardinality. */
  def withExactNtile(rows: DataFrame, order: Seq[Column], nTiles: Int,
      outCol: String, freeze: Boolean = true): DataFrame = {
    // N rides along as the scan's own __total by-product — no second
    // pass over the relation just to count it
    val ranked = rangeScan(rows, order, lit(1L), "__rank", freeze)._1
    ranked
      .withColumn("__q", expr(s"__total div $nTiles"))
      .withColumn("__r", expr(s"__total % $nTiles"))
      .withColumn(outCol, expr(tileOfRank("__rank", "__q", "__r")).cast("long"))
      .drop("__rank", "__pt", "__total", "__q", "__r")
  }

  /** W1 forward-fill: error events have their value masked to NULL and
    * inherit the last non-null value in event order, per user. */
  def q20Ffill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("v_masked",
        when($"event_type" === "error", lit(null)).otherwise($"value"))
      .withColumn("v_filled",
        RefOps.ffill($"v_masked", Seq($"user_id"), $"event_id"))
      .select($"user_id", $"event_id", $"event_type", $"v_filled")
      .orderBy($"user_id", $"event_id")
  }

  val q20Oracle: String =
    """SELECT user_id, event_id, event_type,
       last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
       FROM events ORDER BY user_id, event_id"""

  /** W2 head-N per group: top-3 orders by totalprice per customer
    * (deterministic tie-break on orderkey). */
  def q21TopNPerGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, d)
      .filter($"o_custkey" < 200)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  val q21Oracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders WHERE o_custkey < 200)
       WHERE rn <= 3 ORDER BY o_custkey, rn"""

  /** T4 running-sum segmentation: signup events open a new segment per
    * user; aggregate per segment. */
  def q22RunningSegment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("seg",
        RefOps.segmentId($"event_type" === "signup", Seq($"user_id"), $"event_id"))
      .groupBy($"user_id", $"seg")
      .agg(count(lit(1)).as("n_events"), decSum($"value").as("seg_value"))
      .orderBy($"user_id", $"seg")
  }

  val q22Oracle: String =
    """WITH seg AS (
         SELECT user_id, value,
           sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         FROM events)
       SELECT user_id, CAST(seg AS BIGINT) AS seg, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS seg_value
       FROM seg GROUP BY user_id, seg ORDER BY user_id, seg"""

  /** Sweep-line concurrency — max simultaneously-open sessions per
    * day: each q23 session becomes a (+1 at start, −1 after end) delta
    * event, a GLOBAL time-ordered running sum yields the concurrency
    * curve, and the per-day max is read off it. The classic interval
    * overlap-counting idiom (capacity planning, rate-limit sizing).
    *
    * Tie discipline: deltas sort (us, delta ASC) so a −1 at time t
    * applies before a +1 at the same t — the half-open [start, end+1)
    * reading, mirrored in the oracle. Identical +1 (or −1) deltas at
    * the same instant are a genuine tie, but a prefix sum over equal
    * addends is permutation-invariant, so the per-day max is still
    * deterministic. Scale: the curve runs on [[rangePrefixSum]] — the
    * range-partitioned two-phase scan with partition-boundary offsets
    * — so a billion-session sweep distributes instead of collapsing
    * into one sort task (the r7 audit-rule catch: the delta stream is
    * 2·|sessions|, smaller than events but still data-sized). */
  def q111ConcurrencySweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(s, d)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev_us", lag($"us", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_us".isNull || $"us" - $"prev_us" > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run))
      .groupBy($"user_id", $"session_id")
      .agg(min($"us").as("start_us"), max($"us").as("end_us"))
    val deltas = sessions.select($"start_us".as("us"), lit(1L).as("delta"))
      .unionAll(sessions.select(($"end_us" + 1).as("us"), lit(-1L).as("delta")))
    rangePrefixSum(deltas, Seq($"us", $"delta"), $"delta", "open")
      .withColumn("day", to_date(timestamp_micros($"us")))
      .groupBy($"day")
      .agg(max($"open").as("max_concurrent"))
      .orderBy($"day")
  }

  val q111Oracle: String =
    """WITH t AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
         FROM events),
       sx AS (
         SELECT user_id, us,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM t),
       sess AS (
         SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
         FROM sx GROUP BY 1, 2),
       deltas AS (
         SELECT start_us AS us, CAST(1 AS BIGINT) AS delta FROM sess
         UNION ALL
         SELECT end_us + 1, CAST(-1 AS BIGINT) FROM sess),
       curve AS (
         SELECT us, delta,
           CAST(sum(delta) OVER (ORDER BY us, delta
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
         FROM deltas)
       SELECT CAST(make_timestamp(us) AS DATE) AS day,
              CAST(max(open) AS BIGINT) AS max_concurrent
       FROM curve GROUP BY 1 ORDER BY 1"""

  /** SLO error-budget burn-rate alert simulation (q382) — the Google
    * SRE multiwindow, multi-burn-rate pattern: with SLO = 75% good
    * events, burn rate over a window = error_rate / 0.25 (milli units
    * = 4000·errors div total). Two alert rules are evaluated at every
    * data hour: FAST pages when the 1 h AND 6 h burns both breach
    * (1.4 / 1.2 — short window for reaction speed, long window so a
    * single spike can't page), SLOW tickets when 6 h AND 24 h breach
    * (1.15 / 1.05). Output per rule: hours evaluated, breaches, max
    * short-window burn, first breach hour — the "would this policy
    * have paged, and when" readout an SRE tunes thresholds against.
    *
    * Shape: one fact scan → the bounded HOURLY spine; all rolling
    * sums are RANGE windows on the integer hour index over that spine
    * (range, not rows: empty hours must count as zero traffic, which
    * matters at small scale factors). Integer burn units; ties and
    * leading partial windows defined identically on both engines. */
  def q382BurnRate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        ($"event_type" === "error").cast("long").as("err"))
      .groupBy($"hr").agg(count(lit(1)).as("tot"), sum($"err").as("errs"))
    val w = Window.orderBy($"hr")
    val rates = hourly
      .withColumn("e6", sum($"errs").over(w.rangeBetween(-5, 0)))
      .withColumn("t6", sum($"tot").over(w.rangeBetween(-5, 0)))
      .withColumn("e24", sum($"errs").over(w.rangeBetween(-23, 0)))
      .withColumn("t24", sum($"tot").over(w.rangeBetween(-23, 0)))
      .withColumn("b1", expr("4000 * errs div tot"))
      .withColumn("b6", expr("4000 * e6 div t6"))
      .withColumn("b24", expr("4000 * e24 div t24"))
      .withColumn("fast", $"b1" >= 1400 && $"b6" >= 1200)
      .withColumn("slow", $"b6" >= 1150 && $"b24" >= 1050)
    def rule(name: String, breach: Column, shortBurn: Column) =
      rates.agg(count(lit(1)).as("n_hours"),
        sum(breach.cast("long")).as("n_breaches"),
        max(when(breach, shortBurn)).as("mb"),
        min(when(breach, $"hr")).as("fb"))
        .select(lit(name).as("rule"), $"n_hours", $"n_breaches",
          coalesce($"mb", lit(0L)).as("max_burn_milli"),
          coalesce($"fb", lit(-1L)).as("first_breach_hr"))
    rule("fast_page", $"fast", $"b1")
      .unionByName(rule("slow_ticket", $"slow", $"b6"))
      .orderBy($"rule")
  }

  val q382Oracle: String =
    """WITH hourly AS (
         SELECT epoch_us(ts) // 3600000000 AS hr,
           CAST(count(*) AS BIGINT) AS tot,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS errs
         FROM events GROUP BY 1),
       rates AS (
         SELECT hr, tot, errs,
           CAST(sum(errs) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e6,
           CAST(sum(tot) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS t6,
           CAST(sum(errs) OVER (ORDER BY hr RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS e24,
           CAST(sum(tot) OVER (ORDER BY hr RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS t24
         FROM hourly),
       b AS (
         SELECT hr, 4000 * errs // tot AS b1, 4000 * e6 // t6 AS b6,
           4000 * e24 // t24 AS b24
         FROM rates),
       f AS (
         SELECT hr, b1, b6, b24,
           b1 >= 1400 AND b6 >= 1200 AS fast,
           b6 >= 1150 AND b24 >= 1050 AS slow
         FROM b)
       SELECT 'fast_page' AS rule, CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(CASE WHEN fast THEN 1 ELSE 0 END) AS BIGINT) AS n_breaches,
         COALESCE(max(CASE WHEN fast THEN b1 END), 0) AS max_burn_milli,
         COALESCE(min(CASE WHEN fast THEN hr END), -1) AS first_breach_hr
       FROM f
       UNION ALL
       SELECT 'slow_ticket', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN slow THEN 1 ELSE 0 END) AS BIGINT),
         COALESCE(max(CASE WHEN slow THEN b6 END), 0),
         COALESCE(min(CASE WHEN slow THEN hr END), -1)
       FROM f ORDER BY rule"""

  /** Sessionization via the gap>threshold running-sum idiom — the same
    * T4 pattern at training-pipeline scale. Gap compared in integer
    * microseconds (unix_micros vs DuckDB epoch_us: both floor ns→µs,
    * so the cut points agree exactly). */
  def q23Sessionize(s: SparkSession, d: String): DataFrame = {
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
      .agg(count(lit(1)).as("n_events"),
        ((max($"us") - min($"us")) / lit(1000000L)).cast("long")
          .as("duration_sec"),
        date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .orderBy($"user_id", $"session_id")
  }

  val q23Oracle: String =
    """WITH t AS (
         SELECT user_id, event_id, ts, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
         FROM events),
       s AS (
         SELECT user_id, ts, us,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM t)
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
         CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
       FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** Tumbling 1-hour time window aggregate (batch twin of the streaming
    * windowed agg; window() aligns to epoch hours = date_trunc). */
  def q24HourlyWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), decSum($"value").as("total_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"event_type", $"n", $"total_value")
      .orderBy($"hour_start", $"event_type")
  }

  val q24Oracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Sliding window (1 hour, slide 30 min): each event lands in two
    * windows; the oracle reconstructs them from floored epoch-µs. */
  def q25SlidingWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), decSum($"value").as("total_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("win_start"),
        $"n", $"total_value")
      .orderBy($"win_start")
  }

  val q25Oracle: String =
    """WITH starts AS (
         SELECT unnest([
             make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
             make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000)
           ]) AS win_start, value
         FROM events)
       SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM starts GROUP BY 1 ORDER BY 1"""

  /** Native session_window (30 min gap) — Spark's built-in session
    * merge; oracle reproduces the >= gap-split islands. */
  def q26SessionWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  val q26Oracle: String =
    """WITH t AS (
         SELECT user_id, ts, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_us
         FROM events),
       s AS (
         SELECT user_id, ts,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM t)
       SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         count(*) AS n_events
       FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  /** Rollup (grouping sets) over the snowflake dims — subtotals + grand
    * total in one pass (free from Catalyst's Expand). */
  def q27Rollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"), decSum($"c_acctbal").as("total_bal"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  val q27Oracle: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP (r_name, n_name)
       ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""

  /** lag/lead/rank analytics: per-customer order price deltas. */
  def q28LagLead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, d)
      .filter($"o_custkey" < 100)
      .select($"o_custkey", $"o_orderkey",
        $"o_totalprice",
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"),
        rank().over(Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")).as("price_rank"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q28Oracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
       rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
       FROM orders WHERE o_custkey < 100 ORDER BY o_custkey, o_orderkey"""

  /** The rest of the ranking/navigation window family: first/last/nth
    * value over an explicit frame, ntile bucketing, percent_rank and
    * cume_dist (emitted as exact integer basis points — the quotients
    * are small-integer ratios, but quantizing sidesteps any engine
    * float-formatting drift). Frame note: first/last/nth use the FULL
    * partition frame (unbounded both ways) so the result is a property
    * of the partition, not of the current row's position. */
  def q69WindowFamily(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byDate = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val full = byDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter($"o_custkey" < 100)
      .select($"o_custkey", $"o_orderkey",
        first($"o_orderkey").over(full).as("first_key"),
        last($"o_orderkey").over(full).as("last_key"),
        nth_value($"o_orderkey", 2).over(full).as("second_key"),
        ntile(4).over(byDate).as("quartile"),
        floor(percent_rank().over(byDate) * 10000).cast("long").as("pr_bp"),
        floor(cume_dist().over(byDate) * 10000).cast("long").as("cd_bp"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q69Oracle: String =
    """SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER wfull AS first_key,
       last_value(o_orderkey) OVER wfull AS last_key,
       nth_value(o_orderkey, 2) OVER wfull AS second_key,
       ntile(4) OVER wdate AS quartile,
       CAST(floor(percent_rank() OVER wdate * 10000) AS BIGINT) AS pr_bp,
       CAST(floor(cume_dist() OVER wdate * 10000) AS BIGINT) AS cd_bp
       FROM orders WHERE o_custkey < 100
       WINDOW wdate AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
              wfull AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       ORDER BY o_custkey, o_orderkey"""

  /** AS-OF JOIN via the custom Catalyst operator (graft.plans.AsOfJoin:
    * logical node + planner strategy + streaming sort-merge exec): for
    * every purchase, the user's latest click at-or-before it. Times
    * compared at microsecond precision on both engines (Spark ts is
    * already µs; the oracle truncates via epoch_us). */
  def q63AsofJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"),
        $"ts".as("c_ts"), $"value".as("click_value"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "ts", "c_user", "c_ts")
      .select($"user_id", $"event_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("p_time"),
        $"click_id", $"click_value")
      .orderBy($"user_id", $"event_id")
  }

  val q63Oracle: String =
    """WITH p AS (
         SELECT user_id, event_id, make_timestamp(epoch_us(ts)) AS ts
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id AS c_user, event_id AS click_id,
           make_timestamp(epoch_us(ts)) AS c_ts, value AS click_value
         FROM events WHERE event_type = 'click')
       SELECT p.user_id, p.event_id,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_time,
         c.click_id, c.click_value
       FROM p ASOF LEFT JOIN c ON p.user_id = c.c_user AND p.ts >= c.c_ts
       ORDER BY p.user_id, p.event_id"""

  /** Per-row trailing time-RANGE frame (RANGE BETWEEN 3600 PRECEDING):
    * for every event, the count and quantized sum of the same user's
    * events in the trailing hour — the rolling-rate primitive behind
    * abuse velocity checks and per-key rate features. Unlike the
    * tumbling/sliding GROUP-BY windows (q24/q25), this is a per-ROW
    * frame over an ordered partition: no row is bucketed, every row
    * sees its own trailing hour. Value-based RANGE frames bound state
    * by time, not row count — the frame Spark maintains per partition
    * is a sliding deque, so a burst of events widens the frame's row
    * count but never its time span (the property that matters when one
    * hot key bursts at 100 TB). Integer epoch-seconds (ns-safe floor)
    * and per-scalar milli-quantized values keep the frame boundaries
    * and sums bit-exact cross-engine. */
  def q84RangeFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_s").rangeBetween(-3600, 0)
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(ts) div 1000000").as("ts_s"),
        floor($"value" * 1000).cast("long").as("vmilli"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum($"vmilli").over(w))
      .select($"user_id", $"event_id", $"ts_s", $"n_1h", $"sum_1h")
      .orderBy($"user_id", $"ts_s", $"event_id")
  }

  val q84Oracle: String =
    """WITH b AS (
         SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s,
           CAST(floor(value * 1000) AS BIGINT) AS vmilli
         FROM events)
       SELECT user_id, event_id, ts_s,
         CAST(count(*) OVER w AS BIGINT) AS n_1h,
         CAST(sum(vmilli) OVER w AS BIGINT) AS sum_1h
       FROM b
       WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
       ORDER BY user_id, ts_s, event_id"""

  /** Rolling z-score anomaly detection: an event is anomalous when its
    * value deviates from the mean of the same user's trailing 10-event
    * window by more than 2 standard deviations. The z-test runs as the
    * INTEGER inequality (n·x−Σ)² > 4·(n·Σx²−Σ²) over milli-quantized
    * values (q94's moment trick, windowed) — no sqrt, no doubles, so
    * the flags are bit-identical cross-engine at any partition count.
    *
    * Scale shape: one shuffle (partitionBy user), then a bounded ROWS
    * frame — Spark maintains a 10-row deque per partition stream, O(1)
    * memory per user regardless of user size. Only anomalies are
    * emitted (output ≪ input). */
  def q121Anomalies(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(-9, Window.currentRow)
    Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        floor($"value" * 1000).cast("long").as("vm"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum($"vm").over(w))
      .withColumn("sxx", sum($"vm" * $"vm").over(w))
      .filter($"n" === 10) // full windows only (warm-up rows can't test)
      .filter(($"n" * $"vm" - $"sx") * ($"n" * $"vm" - $"sx") >
        lit(4L) * ($"n" * $"sxx" - $"sx" * $"sx"))
      .select($"user_id", $"event_id", $"vm", $"sx", $"sxx")
      .orderBy($"user_id", $"event_id")
  }

  val q121Oracle: String =
    """WITH t AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
           CAST(floor(value * 1000) AS BIGINT) AS vm
         FROM events),
       wn AS (
         SELECT user_id, event_id, vm,
           CAST(count(*) OVER w AS BIGINT) AS n,
           CAST(sum(vm) OVER w AS BIGINT) AS sx,
           CAST(sum(vm * vm) OVER w AS BIGINT) AS sxx
         FROM t
         WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
       SELECT user_id, event_id, vm, sx, sxx
       FROM wn
       WHERE n = 10
         AND (n * vm - sx) * (n * vm - sx) > 4 * (n * sxx - sx * sx)
       ORDER BY user_id, event_id"""

  /** Integer-exact trailing EWMA (q156) — the exponential-smoothing
    * time-series primitive the window family lacked: per event type,
    * daily volumes on the dense q109-style calendar spine, smoothed
    * with halving weights over an 8-day horizon. The geometric tail
    * beyond 8 days carries < 1/255 of the mass, so the TRUNCATED sum
    * score(t) = Σ_{i=0..7} 2^{7−i}·n(t−i) is the whole estimator in
    * integers: ewma_milli = score·1000 div 255 (Σ2^i = 255), exact in
    * both engines — no float recursion s(t)=α·x+(1−α)·s(t−1), whose
    * rounding would drift cross-engine and whose serial dependency
    * would defeat partitioned evaluation anyway.
    *
    * Scale shape: one partial agg to daily counts, the broadcast-range
    * spine join (q109), then ONE window pass per type ordered by day —
    * the 8 lag() terms share a single sort+frame; the spine guarantees
    * lag-by-rows IS lag-by-days. */
  def q156Ewma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val range = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = daily.select($"event_type").distinct()
      .crossJoin(broadcast(range))
      .select($"event_type",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val score = (0 to 7).map(i =>
      lag($"n", i, 0L).over(w) * lit(1L << (7 - i))).reduce(_ + _)
    spine.join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("ewma_score", score)
      .select($"event_type", $"day", $"n",
        $"ewma_score", expr("ewma_score * 1000 div 255").as("ewma_milli"))
      .orderBy($"event_type", $"day")
  }

  val q156Oracle: String =
    """WITH a AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2),
       r AS (SELECT min(day) AS d0, max(day) AS d1 FROM a),
       spine AS (
         SELECT event_type,
           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         FROM (SELECT DISTINCT event_type FROM a), r),
       dense AS (
         SELECT spine.event_type AS event_type, spine.day AS day,
           coalesce(n, 0) AS n
         FROM spine LEFT JOIN a
           ON spine.event_type = a.event_type AND spine.day = a.day)
       SELECT event_type, day, CAST(n AS BIGINT) AS n,
         CAST(128 * n + 64 * lag(n, 1, 0) OVER w + 32 * lag(n, 2, 0) OVER w
            + 16 * lag(n, 3, 0) OVER w + 8 * lag(n, 4, 0) OVER w
            + 4 * lag(n, 5, 0) OVER w + 2 * lag(n, 6, 0) OVER w
            + lag(n, 7, 0) OVER w AS BIGINT) AS ewma_score,
         CAST((128 * n + 64 * lag(n, 1, 0) OVER w + 32 * lag(n, 2, 0) OVER w
            + 16 * lag(n, 3, 0) OVER w + 8 * lag(n, 4, 0) OVER w
            + 4 * lag(n, 5, 0) OVER w + 2 * lag(n, 6, 0) OVER w
            + lag(n, 7, 0) OVER w) * 1000 // 255 AS BIGINT) AS ewma_milli
       FROM dense
       WINDOW w AS (PARTITION BY event_type ORDER BY day)
       ORDER BY event_type, day"""

  /** Event-lateness audit (q166): how late do events arrive relative
    * to the high-water mark of what already arrived? — the BATCH
    * analysis that sizes a STREAMING watermark (§2.10's
    * `withWatermark` durations are exactly this distribution's tail).
    * Arrival order is event_id (the ingest sequence); lateness of an
    * event is running_max(event_time) − event_time at its arrival
    * position; the report counts, per type, how many events a 15-min
    * or 1-hour watermark would have dropped, and the worst lateness
    * seen. All integer µs.
    *
    * Scale shape: the running max is per event_type partition (the
    * per-source watermark a real ingest tracks — a single global
    * arrival order would serialize the window); one shuffle, one
    * ordered pass, then a partial-agg rollup. */
  def q166LatenessAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select($"event_type", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("late_us", max($"us").over(w) - $"us")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(($"late_us" > 15L * 60 * 1000000).cast("long")).as("n_late_15m"),
        sum(($"late_us" > 60L * 60 * 1000000).cast("long")).as("n_late_1h"),
        max($"late_us").as("max_late_us"))
      .orderBy($"event_type")
  }

  val q166Oracle: String =
    """WITH t AS (
         SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
       lat AS (
         SELECT event_type,
           max(us) OVER (PARTITION BY event_type ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us AS late_us
         FROM t)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN late_us > 900000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late_15m,
         CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late_1h,
         CAST(max(late_us) AS BIGINT) AS max_late_us
       FROM lat GROUP BY 1 ORDER BY 1"""

  /** Time-weighted average (q170) — TWAP over an irregular event
    * series: a value is assumed to HOLD until the next observation, so
    * the average weights each reading by the µs it was in force —
    * Σ vᵢ·(tᵢ₊₁−tᵢ) div (t_N−t₁) — not by its row count. The
    * difference from a plain avg is exactly what sampling bias does to
    * irregular telemetry (a burst of readings at one level would
    * otherwise swamp the quiet majority). Milli-quantized values ×
    * µs durations stay < 2⁶³ for spans up to ~10⁵ years; the final
    * div is nonneg/nonneg (both-engine truncation agreement).
    *
    * One shuffle (partitionBy user), one lead() pass, one partial agg
    * — the same O(1)-state-per-stream shape as q121. */
  def q170Twap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        floor($"value" * 1000).cast("long").as("vm"))
      .withColumn("nxt", lead($"us", 1).over(w))
      .filter($"nxt".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_holds"),
        (max($"nxt") - min($"us")).as("span_us"),
        sum($"vm" * ($"nxt" - $"us")).as("vt_sum"),
        sum($"vm").as("vm_sum"))
      .select($"user_id", $"n_holds", $"span_us",
        expr("vt_sum div span_us").as("twap_milli"),
        expr("vm_sum div n_holds").as("avg_milli"))
      .orderBy($"user_id")
  }

  val q170Oracle: String =
    """WITH t AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
           CAST(floor(value * 1000) AS BIGINT) AS vm
         FROM events),
       h AS (
         SELECT user_id, us, vm,
           lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
         FROM t)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_holds,
         CAST(max(nxt) - min(us) AS BIGINT) AS span_us,
         CAST(sum(vm * (nxt - us)) AS BIGINT) // (max(nxt) - min(us)) AS twap_milli,
         CAST(sum(vm) AS BIGINT) // count(*) AS avg_milli
       FROM h WHERE nxt IS NOT NULL
       GROUP BY 1 ORDER BY 1"""

  /** Weekday seasonality index of order volume and revenue — the
    * calendar profile behind staffing/capacity planning and the q177
    * ACF's lag-7 reading: idx_bp = (per-weekday daily mean) / (overall
    * daily mean) in basis points, for both order count and revenue.
    * 10000 = flat; the synthetic corpus IS near-flat, which the spec
    * pins as a weighted-mean invariant rather than assuming signal.
    *
    * Parity: day-of-week is ISO (Spark `weekday()+1` == DuckDB
    * `isodow`, Monday=1 — neither engine's 0/1-Sunday default is
    * portable); revenue in floor()ed whole dollars (Spark decimal→long
    * casts truncate, DuckDB rounds — the explicit floor removes the
    * difference); both index ratios are single identical IEEE
    * expressions over exact int64 moments.
    *
    * Shape: fact scan → per-day partial agg (calendar-sized) → 7-row
    * groupBy; the totals row is broadcast. Nothing after the first
    * collapse is data-sized. */
  def q183WeekdaySeasonality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".as("day"))
      .agg(count(lit(1)).as("n_ord"),
        sum(floor($"o_totalprice").cast("long")).as("rev"))
      .withColumn("dow", (weekday($"day".cast("date")) + 1).cast("long"))
    val tot = daily.agg(sum($"n_ord").as("n_tot"), sum($"rev").as("r_tot"),
      count(lit(1)).as("d_tot"))
    daily.groupBy($"dow")
      .agg(count(lit(1)).as("n_days"), sum($"n_ord").as("n_orders"),
        sum($"rev").as("rev"))
      .crossJoin(broadcast(tot))
      .select($"dow", $"n_days", $"n_orders", $"rev",
        floor($"n_orders" * $"d_tot" * lit(10000.0) / ($"n_days" * $"n_tot"))
          .cast("long").as("vol_idx_bp"),
        floor($"rev" * $"d_tot" * lit(10000.0) / ($"n_days" * $"r_tot"))
          .cast("long").as("rev_idx_bp"))
      .orderBy($"dow")
  }

  val q183Oracle: String =
    """WITH daily AS (
         SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS n_ord,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
         FROM orders GROUP BY 1),
       dd AS (SELECT isodow(CAST(day AS DATE)) AS dow, n_ord, rev FROM daily),
       tot AS (SELECT CAST(sum(n_ord) AS BIGINT) AS n_tot,
                 CAST(sum(rev) AS BIGINT) AS r_tot,
                 CAST(count(*) AS BIGINT) AS d_tot FROM dd),
       g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n_ord) AS BIGINT) AS n_orders,
               CAST(sum(rev) AS BIGINT) AS rev
             FROM dd GROUP BY 1)
       SELECT CAST(dow AS BIGINT) AS dow, n_days, n_orders, rev,
         CAST(floor(n_orders * d_tot * 10000.0 / (n_days * n_tot)) AS BIGINT) AS vol_idx_bp,
         CAST(floor(rev * d_tot * 10000.0 / (n_days * r_tot)) AS BIGINT) AS rev_idx_bp
       FROM g CROSS JOIN tot ORDER BY dow"""

  /** Year-over-year monthly revenue growth: monthly sums → lag-12 over
    * the (tiny) month spine → growth in basis points, NULL for the
    * first year (no comparable). The month relation is calendar-sized,
    * so the unpartitioned lag window is safe at any scale (q117's
    * histogram argument). Growth ratio is one identical IEEE floor
    * both sides; months keyed as y*100+m integers.
    *
    * Assumes a CONTIGUOUS month spine (true of this data, pinned in
    * BehaviorSpec): lag-12-rows == same-month-prior-year only without
    * gaps — a sparse series must densify first (q109's spine) or join
    * on ym−100 instead. */
  def q185YoyGrowth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate"))
        .cast("long").as("ym"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("rev"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy($"ym")
    monthly
      .withColumn("rev_prev", lag($"rev", 12).over(w))
      .select($"ym", $"n_orders", $"rev", $"rev_prev",
        when($"rev_prev".isNotNull,
          floor(($"rev" - $"rev_prev") * lit(10000.0) / $"rev_prev")
            .cast("long")).as("yoy_bp"))
      .orderBy($"ym")
  }

  val q185Oracle: String =
    """WITH m AS (
         SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS rev,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY 1),
       l AS (SELECT ym, n_orders, rev,
               lag(rev, 12) OVER (ORDER BY ym) AS rev_prev FROM m)
       SELECT ym, n_orders, rev, rev_prev,
         CASE WHEN rev_prev IS NOT NULL
           THEN CAST(floor((rev - rev_prev) * 10000.0 / rev_prev) AS BIGINT)
         END AS yoy_bp
       FROM l ORDER BY ym"""

  /** CUSUM change-point detection over the daily revenue series — the
    * level-shift monitor the q121 rolling z-score can't provide (a
    * z-score flags single outliers; CUSUM accumulates SUSTAINED small
    * shifts until they cross a decision threshold — the Page 1954
    * sequential test, standard on data-volume and quality-rate
    * monitors).
    *
    * The textbook recursion S⁺ₜ = max(0, S⁺ₜ₋₁ + xₜ−m−k) is
    * non-associative, but has a CLOSED WINDOW FORM: with prefix sums
    * Pₜ = Σᵢ≤ₜ(xᵢ−m−k), S⁺ₜ = Pₜ − min(0, min_{j≤t} Pⱼ) — the running
    * drawup, with P₀=0 in the extremum so the first rows match the
    * recursion; symmetric S⁻ via the running max of Qₜ = Σ(xᵢ−m+k). That turns a
    * sequential scan into two window aggregates over the CALENDAR-SIZED
    * day relation (q117's argument: the unpartitioned window never
    * touches fact-table cardinality). All integer: m is the floor
    * mean, allowance k = m div 50 (2%), threshold h = 2m; flags are
    * exact int comparisons, identical cross-engine. */
  def q195Cusum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".as("day"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
    val tot = daily.agg(sum($"x").as("sx"), count(lit(1)).as("n"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("m", expr("sx div n"))
      .withColumn("k", expr("(sx div n) div 50"))
      .withColumn("p_up", sum($"x" - $"m" - $"k").over(w))
      .withColumn("p_dn", sum($"x" - $"m" + $"k").over(w))
      .withColumn("s_up", $"p_up" - least(min($"p_up").over(w), lit(0L)))
      .withColumn("s_dn", greatest(max($"p_dn").over(w), lit(0L)) - $"p_dn")
      .select($"day", $"x", $"s_up", $"s_dn",
        ($"s_up" > $"m" * 2).cast("long").as("drift_up"),
        ($"s_dn" > $"m" * 2).cast("long").as("drift_dn"))
      .orderBy($"day")
  }

  val q195Oracle: String =
    """WITH daily AS (
         SELECT o_orderdate AS day,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1),
       tot AS (SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS n
               FROM daily),
       base AS (
         SELECT day, x, sx // n AS m, (sx // n) // 50 AS k
         FROM daily CROSS JOIN tot),
       pre AS (
         SELECT day, x, m, k,
           CAST(sum(x - m - k) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p_up,
           CAST(sum(x - m + k) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p_dn
         FROM base),
       c AS (
         SELECT day, x, m,
           p_up - least(CAST(min(p_up) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT), 0) AS s_up,
           greatest(CAST(max(p_dn) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT), 0) - p_dn AS s_dn
         FROM pre)
       SELECT day, x, s_up, s_dn,
         CAST(s_up > m * 2 AS BIGINT) AS drift_up,
         CAST(s_dn > m * 2 AS BIGINT) AS drift_dn
       FROM c ORDER BY day"""

  /** Centered ±3-day moving average (q192) — the RANGE frame with a
    * FOLLOWING bound, the one frame direction q84 (trailing-only)
    * doesn't exercise. RANGE (not ROWS) on integer epoch-days, so
    * calendar gaps shrink the window instead of leaking neighbors in:
    * a day bordering a gap averages over the days that exist, which is
    * why the mean divides by the frame's own count, not 7. Integer
    * division is safe (both operands positive). The window is over the
    * calendar-sized day relation (q117's argument). Centered frames
    * are inherently non-streaming (they read the future) — this is the
    * batch smoothing pass behind q121-style anomaly baselines. */
  def q192CenteredMa(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
      .withColumn("day_num",
        datediff($"day", lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.orderBy($"day_num").rangeBetween(-3, 3)
    daily
      .withColumn("frame_sum", sum($"x").over(w))
      .withColumn("frame_n", count(lit(1)).over(w))
      .select($"day", $"x", $"frame_sum", $"frame_n",
        expr("frame_sum div frame_n").as("ma"))
      .orderBy($"day")
  }

  val q192Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1),
       n AS (
         SELECT day, x,
           CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS day_num
         FROM daily),
       f AS (
         SELECT day, x,
           CAST(sum(x) OVER (ORDER BY day_num
             RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS frame_sum,
           CAST(count(*) OVER (ORDER BY day_num
             RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS frame_n
         FROM n)
       SELECT day, x, frame_sum, frame_n, frame_sum // frame_n AS ma
       FROM f ORDER BY day"""

  /** Clamp-at-zero running balance (q202): per-supplier daily net
    * stock flow (returns in, shipments out) accumulated under the
    * inventory rule "stock never goes negative" — the nonlinear
    * recurrence S_i = max(0, S_{i-1} + x_i) that looks like it needs
    * recursion or a per-key sequential scan, but has the exact window
    * closed form S_i = P_i − min(0, min_{k≤i} P_k) (prefix sum minus
    * clamped running minimum: each time the raw prefix dips to a new
    * low the clamp "writes off" exactly that deficit, permanently).
    * Same family as backlog tracking, rate-limiter token buckets, and
    * drawdown-reset P&L — all usually misimplemented as driver loops.
    *
    * Shape: daily pre-agg collapses the fact table, then ONE window
    * pass per supplier partition computes both running quantities; the
    * per-supplier rollup is partial-aggregating. Everything integer
    * (quantities), no recursion, no mapGroups — at 100 TB this is a
    * shuffle on s_suppkey and a linear in-partition scan. */
  def q202ClampedBalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.lineitem(s, d)
      .groupBy($"l_suppkey".as("supp"), $"l_shipdate".cast("date").as("day"))
      .agg(sum(when($"l_returnflag" === "R", $"l_quantity")
        .otherwise(-$"l_quantity")).cast("long").as("net"))
    val run = Window.partitionBy($"supp").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("p", sum($"net").over(run))
      .withColumn("stock", $"p" - least(min($"p").over(run), lit(0L)))
      .groupBy($"supp")
      .agg(count(lit(1)).as("n_days"),
        max($"stock").as("peak_stock"),
        expr("max_by(stock, day)").as("final_stock"),
        sum(($"stock" === 0L).cast("long")).as("n_stockout_days"))
      .orderBy($"supp")
  }

  val q202Oracle: String =
    """WITH daily AS (
         SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS day,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
                         ELSE -l_quantity END) AS BIGINT) AS net
         FROM lineitem GROUP BY 1, 2),
       pr AS (
         SELECT supp, day,
           CAST(sum(net) OVER (PARTITION BY supp ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
         FROM daily),
       r AS (
         SELECT supp, day, p,
           CAST(min(p) OVER (PARTITION BY supp ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runmin
         FROM pr),
       st AS (
         SELECT supp, day, p - least(runmin, 0) AS stock FROM r)
       SELECT supp, CAST(count(*) AS BIGINT) AS n_days,
         CAST(max(stock) AS BIGINT) AS peak_stock,
         CAST(max_by(stock, day) AS BIGINT) AS final_stock,
         CAST(sum(CASE WHEN stock = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_stockout_days
       FROM st GROUP BY supp ORDER BY supp"""

  /** Additive seasonal decomposition (q212): daily revenue split into
    * TREND (the q192 centered ±3-day moving average) + SEASONAL (the
    * mean detrended value per ISO weekday — q183's index re-derived on
    * the detrended series, which is the correct order: deseasonalizing
    * raw data conflates trend drift with weekday effect) + RESIDUAL,
    * with the global variance-explained share. The STL-lite everybody
    * actually ships; the residual column is what q121-style anomaly
    * flags should threshold on.
    *
    * Parity: the daily series and trend are integers (q192's div);
    * the seasonal index divides a possibly-NEGATIVE detrended sum, so
    * it uses the floor(x·1.0/n) shared-double form (the q139 rule —
    * `div` truncates, `//` floors, they disagree below zero); residual
    * sums of squares are then exact int64 again, and var_explained_bp
    * one last integer division of non-negatives. Shape: two window
    * passes over the calendar-sized daily relation (trend, then
    * nothing — the seasonal join is a 7-row broadcast), one 7-row
    * output. */
  def q212SeasonalDecomp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
      .withColumn("day_num",
        datediff($"day", lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.orderBy($"day_num").rangeBetween(-3, 3)
    val detW = daily
      .withColumn("fs", sum($"x").over(w))
      .withColumn("fn", count(lit(1)).over(w))
      .withColumn("trend", expr("fs div fn"))
      .withColumn("dt", $"x" - $"trend")
      .withColumn("dow", (weekday($"day") + 1).cast("long"))
    val seasonal = detW.groupBy($"dow")
      .agg(count(lit(1)).as("n_days"), sum($"dt").as("sdt"))
      .withColumn("seasonal", floor($"sdt" * lit(1.0) / $"n_days").cast("long"))
    val joined = detW.join(broadcast(seasonal.select($"dow", $"seasonal")), "dow")
      .withColumn("resid", $"dt" - $"seasonal")
    val tot = joined.agg(sum($"dt" * $"dt").as("ss_dt"),
      sum($"resid" * $"resid").as("ss_res"))
    seasonal.crossJoin(broadcast(tot))
      .select($"dow", $"n_days", $"seasonal",
        // floored-mean seasonal can (rarely) push ss_res above ss_dt,
        // so the numerator may be negative → shared double floor, not div
        floor(($"ss_dt" - $"ss_res") * lit(10000.0) / $"ss_dt")
          .cast("long").as("var_explained_bp"))
      .orderBy($"dow")
  }

  val q212Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1),
       n AS (
         SELECT day, x,
           CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS day_num
         FROM daily),
       f AS (
         SELECT day, x,
           CAST(sum(x) OVER win AS BIGINT) AS fs,
           CAST(count(*) OVER win AS BIGINT) AS fn
         FROM n
         WINDOW win AS (ORDER BY day_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       det AS (
         SELECT day, x, x - fs // fn AS dt,
           CAST(isodow(day) AS BIGINT) AS dow
         FROM f),
       seas AS (
         SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(dt) AS BIGINT) AS sdt,
           CAST(floor(sum(dt) * 1.0 / count(*)) AS BIGINT) AS seasonal
         FROM det GROUP BY dow),
       j AS (
         SELECT det.dt, det.dt - seas.seasonal AS resid
         FROM det JOIN seas ON det.dow = seas.dow),
       tot AS (
         SELECT CAST(sum(dt * dt) AS BIGINT) AS ss_dt,
           CAST(sum(resid * resid) AS BIGINT) AS ss_res
         FROM j)
       SELECT dow, n_days, seasonal,
         CAST(floor((ss_dt - ss_res) * 10000.0 / ss_dt) AS BIGINT) AS var_explained_bp
       FROM seas CROSS JOIN tot ORDER BY dow"""

  /** Interval-union coverage (q217): each event opens a 30-minute
    * activity interval; per user, how much wall-clock is covered by
    * the UNION of those intervals (overlaps merged, not double-
    * counted), and in how many contiguous activity islands? The
    * gaps-and-islands pattern in its interval form — billable-time,
    * uptime-from-heartbeats, and crawl-activity accounting all reduce
    * to it, and the naive Σ durations overcounts every overlap (the
    * `overcount_sec` column pins exactly how much, so the query also
    * certifies its own merge). q172 counts pairwise overlaps; this
    * merges them.
    *
    * Island detection: an interval starts a new island iff its start
    * exceeds the running max END of all EARLIER intervals (strictly
    * before — the 1-preceding frame; abutting intervals merge, by the
    * half-open [s, s+30m) convention). Island id = running count of
    * starts; per-island coverage = max(end) − min(start), exact in
    * int64 micros. One window pass per user partition, ordered by
    * (start, event id) for determinism; two tiny rollups after.
    * At 100 TB this is a shuffle on user_id and linear scans. */
  def q217IntervalUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val span = 1800000000L // 30 min in micros
    val byUser = Window.partitionBy($"user_id").orderBy($"st", $"event_id")
    val prevMax = byUser.rowsBetween(Window.unboundedPreceding, -1)
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("st"))
      .withColumn("en", $"st" + span)
      .withColumn("pmax", max($"en").over(prevMax))
      .withColumn("is_new",
        ($"pmax".isNull || $"st" > $"pmax").cast("long"))
      .withColumn("island", sum($"is_new").over(run))
      .groupBy($"user_id", $"island")
      .agg(min($"st").as("is"), max($"en").as("ie"), count(lit(1)).as("n_ev"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_islands"),
        (sum($"ie" - $"is") / lit(1000000L)).cast("long").as("covered_sec"),
        sum($"n_ev").as("n_events"))
      .withColumn("overcount_sec",
        ($"n_events" * (span / 1000000L)) - $"covered_sec")
      .orderBy($"user_id")
  }

  val q217Oracle: String =
    """WITH iv AS (
         SELECT user_id, event_id, epoch_us(ts) AS st,
           epoch_us(ts) + 1800000000 AS en
         FROM events),
       m AS (
         SELECT user_id, event_id, st, en,
           max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         FROM iv),
       isl AS (
         SELECT user_id, event_id, st, en,
           CAST(sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY st, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS island
         FROM m),
       pi AS (
         SELECT user_id, island, CAST(min(st) AS BIGINT) AS is_,
           CAST(max(en) AS BIGINT) AS ie, CAST(count(*) AS BIGINT) AS n_ev
         FROM isl GROUP BY 1, 2)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
         CAST(sum(ie - is_) // 1000000 AS BIGINT) AS covered_sec,
         CAST(sum(n_ev) AS BIGINT) AS n_events,
         CAST(sum(n_ev) AS BIGINT) * 1800 - CAST(sum(ie - is_) // 1000000 AS BIGINT)
           AS overcount_sec
       FROM pi GROUP BY user_id ORDER BY user_id"""

  /** Sliding rate-limit audit (q225): per user, the maximum number of
    * events inside ANY trailing 60-second window — computed exactly
    * with a RANGE frame over event-time micros (count over
    * [t−60s, t]), which evaluates the sliding count at every event,
    * the only moments a trailing maximum can change. This is the
    * rate-limiter / abuse-detection primitive ("did anyone exceed N
    * requests per minute?") and, with q219's burstiness, the traffic
    * shape pair; the RANGE-on-bigint trailing frame also completes
    * the frame-type coverage next to q84 (trailing rows), q192
    * (centered range on days), and q160 (bounded explode form).
    *
    * Exact integers throughout. Shape: one RANGE window per user
    * partition, then a per-user partial-agg max — shuffle on user_id
    * and a linear scan, nothing else. */
  def q225RateLimit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-60000000L, 0L)
    Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"))
      .withColumn("c60", count(lit(1)).over(w))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), max($"c60").as("max_per_min"))
      .withColumn("over_10", ($"max_per_min" > 10L).cast("long"))
      .orderBy($"user_id")
  }

  val q225Oracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
       c AS (
         SELECT user_id,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS c60
         FROM e)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(c60) AS BIGINT) AS max_per_min,
         CAST(max(c60) > 10 AS BIGINT) AS over_10
       FROM c GROUP BY user_id ORDER BY user_id"""

  /** Seasonality-adjusted anomaly days (q229): q212's decomposition
    * driven to its purpose — flag the days whose RESIDUAL (revenue
    * minus trend minus weekday effect) exceeds 5× the residual MAD.
    * Thresholding the residual instead of the raw series is the whole
    * point of decomposing: a strong Saturday is normal, a strong
    * Saturday AFTER removing the Saturday effect is news. MAD (median
    * absolute deviation) rather than σ because anomalies contaminate
    * the σ they're tested against; the median ignores them (q138's
    * argument, composed with q212's decomposition).
    *
    * Exactness: residuals are integers (q212); the MAD is an exact
    * integer median via the cumulative-crossing idiom (q197) over the
    * |resid| value domain; the flag is an integer comparison. Shape:
    * q212's two window passes + one domain-bounded median + a filter —
    * the calendar-sized relation end to end. */
  def q229AnomalyDays(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
      .withColumn("day_num",
        datediff($"day", lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.orderBy($"day_num").rangeBetween(-3, 3)
    val det = daily
      .withColumn("fs", sum($"x").over(w))
      .withColumn("fn", count(lit(1)).over(w))
      .withColumn("trend", expr("fs div fn"))
      .withColumn("dt", $"x" - $"trend")
      .withColumn("dow", (weekday($"day") + 1).cast("long"))
    val seasonal = det.groupBy($"dow")
      .agg(count(lit(1)).as("n_days"), sum($"dt").as("sdt"))
      .select($"dow", floor($"sdt" * lit(1.0) / $"n_days").cast("long").as("seasonal"))
    val resid = det.join(broadcast(seasonal), "dow")
      .select($"day", $"x", $"trend", ($"dt" - $"seasonal").as("resid"))
      .localCheckpoint() // feeds the MAD branch and the flag filter
    val byAbs = resid.groupBy(abs($"resid").as("a")).agg(count(lit(1)).as("c"))
    val cumW = Window.orderBy($"a")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byAbs.agg(sum($"c").as("n"))
    val mad = byAbs.withColumn("cum", sum($"c").over(cumW))
      .crossJoin(broadcast(tot))
      .filter($"cum" * 2 >= $"n")
      .agg(min($"a").as("mad"))
    resid.crossJoin(broadcast(mad))
      .filter(abs($"resid") > $"mad" * 5)
      .select($"day", $"x", $"trend", $"resid", $"mad",
        ($"resid" > 0).cast("long").as("is_spike"))
      .orderBy($"day")
  }

  val q229Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1),
       n AS (
         SELECT day, x,
           CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS day_num
         FROM daily),
       f AS (
         SELECT day, x,
           CAST(sum(x) OVER win AS BIGINT) AS fs,
           CAST(count(*) OVER win AS BIGINT) AS fn
         FROM n
         WINDOW win AS (ORDER BY day_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       det AS (
         SELECT day, x, fs // fn AS trend, x - fs // fn AS dt,
           CAST(isodow(day) AS BIGINT) AS dow
         FROM f),
       seas AS (
         SELECT dow, CAST(floor(sum(dt) * 1.0 / count(*)) AS BIGINT) AS seasonal
         FROM det GROUP BY dow),
       r AS (
         SELECT day, x, trend, dt - seasonal AS resid
         FROM det JOIN seas ON det.dow = seas.dow),
       byabs AS (SELECT abs(resid) AS a, CAST(count(*) AS BIGINT) AS c
                 FROM r GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM byabs),
       cum AS (
         SELECT a, CAST(sum(c) OVER (ORDER BY a
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM byabs),
       mad AS (SELECT CAST(min(a) AS BIGINT) AS mad
               FROM cum CROSS JOIN tot WHERE cum * 2 >= nn)
       SELECT day, x, trend, resid, mad,
         CAST(resid > 0 AS BIGINT) AS is_spike
       FROM r CROSS JOIN mad
       WHERE abs(resid) > mad * 5
       ORDER BY day"""

  /** SCD2 point-in-time dimension join (q240): each lineitem priced
    * against the customer's order-priority IN EFFECT on its ship date
    * — the slowly-changing-dimension lookup every warehouse does
    * against effective-dated history, and the second production
    * domain for the custom AsOfJoin plan (q63 proved it on event
    * streams; reusing the operator on (custkey, date) keys is the
    * point: a first-class operator generalizes, a hand-rolled window
    * rewrite would be re-derived per query). The "history" here is
    * each customer's own order stream: an order's priority becomes
    * effective on its order date and stays until the next order.
    *
    * Tie discipline: as-of semantics need a UNIQUE time per key or
    * the winner is undefined — the effective time is
    * epoch_µs(orderdate) + orderkey MOD 8.64e10 (one day of µs): the
    * residue keeps every orderkey inside its own day no matter how
    * large keys grow at scale (a raw `+ orderkey` would silently
    * spill into later days once keys exceed 8.64e10), and same-day
    * orders resolve to the LARGEST residue, deterministically in
    * both engines (a same-day residue collision needs two orderkeys
    * ≡ mod 8.64e10 for one customer on one day); the probe time is
    * end-of-ship-day so same-day changes apply. Output: revenue rollup by effective priority ×
    * returnflag.
    *
    * Shape: the fact side is lineitem⋈orders on orderkey (the q03
    * fact-fact shuffle) to recover custkey; the as-of itself plans
    * like a SortMergeJoin clustered on custkey (PLANS.md q63); the
    * rollup is one partial-agg pass. */
  def q240PitJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, d)
    val facts = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_returnflag",
        ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("cents"),
        (unix_micros($"l_shipdate".cast("timestamp")) + 86399999999L).as("ship_t"))
      .join(orders.select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
    val dim = orders.select($"o_custkey".as("d_cust"),
      (unix_micros($"o_orderdate".cast("timestamp"))
        + pmod($"o_orderkey", lit(86400000000L))).as("eff_t"),
      $"o_orderpriority".as("eff_priority"))
    graft.plans.AsOf.join(facts, dim, "o_custkey", "ship_t", "d_cust", "eff_t")
      // a few synthetic lineitems ship BEFORE their own order date; the
      // as-of is a LEFT join, so they surface as an explicit NONE bucket
      .groupBy(coalesce($"eff_priority", lit("0-NONE")).as("eff_priority"),
        $"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"cents").as("revenue_cents"))
      .orderBy($"eff_priority", $"l_returnflag")
  }

  val q240Oracle: String =
    """WITH f AS (
         SELECT o_custkey AS cust,
           CAST(epoch_us(l_shipdate) + 86399999999 AS BIGINT) AS ship_t,
           l_returnflag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       dim AS (
         SELECT o_custkey AS dcust,
           CAST(epoch_us(o_orderdate) + o_orderkey % 86400000000 AS BIGINT) AS eff_t,
           o_orderpriority AS eff_priority
         FROM orders)
       SELECT coalesce(eff_priority, '0-NONE') AS eff_priority,
         l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
       FROM f ASOF LEFT JOIN dim ON f.cust = dim.dcust AND f.ship_t >= dim.eff_t
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Rolling 30-day correlation between two daily series (q242):
    * trailing-window Pearson r of revenue vs shipped quantity — the
    * co-movement monitor behind pairs-trading, demand/price coupling,
    * and metric-drift dashboards. One RANGE frame maintains all five
    * sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) simultaneously;
    * r is closed-form from them per row — never a per-window rescan
    * (q84's frame discipline extended from sum/count to a bivariate
    * statistic).
    *
    * Exactness: the fact table collapses to ONE row per day (integer
    * dollars and quantity — dollars not cents, so Σx² over a 30-day
    * frame stays far inside int64 at any plausible scale); all frame
    * sums are exact int64; r_bp is ONE shared IEEE expression over
    * them, floored (q139's discipline). Windows with < 10 days of
    * history or zero variance emit no row (integer-exact guard —
    * identical in both engines).
    *
    * Shape: one partial-agg pass to the |days|-sized daily relation;
    * the unpartitioned window is calendar-bounded (the q89/q117
    * argument); output ~|days| rows. */
  def q242RollingCorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date($"l_shipdate").as("day"))
      .agg(sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"), sum($"l_quantity".cast("long")).as("y"))
      .select($"day", expr("cents div 100").as("x"), $"y",
        datediff($"day", lit("1992-01-01").cast("date")).as("dayn"))
    val w = Window.orderBy($"dayn").rangeBetween(-29L, 0L)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum($"x").over(w))
      .withColumn("sy", sum($"y").over(w))
      .withColumn("sxx", sum($"x" * $"x").over(w))
      .withColumn("syy", sum($"y" * $"y").over(w))
      .withColumn("sxy", sum($"x" * $"y").over(w))
      .filter($"n" >= 10L &&
        $"n" * $"sxx" - $"sx" * $"sx" > 0L && $"n" * $"syy" - $"sy" * $"sy" > 0L)
      .select($"day", $"n",
        floor(lit(10000.0) *
          (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
              sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double")))))
          .cast("long").as("r_bp"))
      .orderBy($"day")
  }

  val q242Oracle: String =
    """WITH daily AS (
         SELECT CAST(l_shipdate AS DATE) AS day,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) // 100
             AS x,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y,
           datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS dayn
         FROM lineitem GROUP BY 1, 4),
       f AS (
         SELECT day,
           CAST(count(*) OVER w AS BIGINT) AS n,
           CAST(sum(x) OVER w AS BIGINT) AS sx,
           CAST(sum(y) OVER w AS BIGINT) AS sy,
           CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
           CAST(sum(y * y) OVER w AS BIGINT) AS syy,
           CAST(sum(x * y) OVER w AS BIGINT) AS sxy
         FROM daily
         WINDOW w AS (ORDER BY dayn RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
       SELECT day, n,
         CAST(floor(10000.0 *
           (CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
               sqrt(CAST(n * syy - sy * sy AS DOUBLE))))) AS BIGINT) AS r_bp
       FROM f
       WHERE n >= 10 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       ORDER BY day"""

  /** Seasonal-naive forecast backtest (q249): predict each day's order
    * count with the same-weekday value one week earlier (the
    * seasonal-naive baseline every forecasting effort must beat) and
    * score it over the evaluation window — MAE, MAPE, and signed bias
    * per weekday plus overall. This is the BACKTEST shape: no model
    * state, just a lag-7 join over the day spine and error rollups;
    * swap the lag for any model's prediction column and the harness
    * is unchanged (q212's decomposition and q156's EWMA are candidate
    * models; their residuals feed the same scorer).
    *
    * Exactness: counts and absolute errors are int64; MAPE is the
    * ratio of integer sums (Σ|err|·10⁴ div Σactual — the
    * weighted/aggregate MAPE, immune to divide-by-zero days); bias
    * keeps its sign in integer units. Uses lag over the day spine
    * (dense here; q109's sequence-explode is the gap-filling step if
    * the calendar had holes).
    *
    * Shape: one partial-agg pass to the daily relation; a per-weekday
    * lag-7 == lag-1 OVER (PARTITION BY dow ORDER BY day) window on
    * the spine; two small rollups. */
  def q249ForecastBacktest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(count(lit(1)).as("actual"))
      .withColumn("dow", (weekday($"day") + 1).cast("long"))
    val withPred = daily
      .withColumn("pred", lag($"actual", 1).over(
        Window.partitionBy($"dow").orderBy($"day")))
      .filter($"pred".isNotNull)
      .withColumn("err", $"actual" - $"pred")
    val byDow = withPred.groupBy($"dow")
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"err")).as("sae"), sum($"err").as("bias"),
        sum($"actual").as("sa"))
    val overall = withPred
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"err")).as("sae"), sum($"err").as("bias"),
        sum($"actual").as("sa"))
      .select(lit(0L).as("dow"), $"n_days", $"sae", $"bias", $"sa")
    byDow.unionByName(overall)
      .select($"dow", $"n_days",
        expr("sae div n_days").as("mae"),
        expr("10000 * sae div sa").as("mape_bp"),
        $"bias")
      .orderBy($"dow")
  }

  val q249Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS actual,
           isodow(CAST(o_orderdate AS DATE)) AS dow
         FROM orders GROUP BY 1),
       p AS (
         SELECT day, dow, actual,
           lag(actual) OVER (PARTITION BY dow ORDER BY day) AS pred
         FROM daily),
       e AS (
         SELECT dow, actual, actual - pred AS err
         FROM p WHERE pred IS NOT NULL),
       bydow AS (
         SELECT CAST(dow AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(err)) AS BIGINT) AS sae,
           CAST(sum(err) AS BIGINT) AS bias,
           CAST(sum(actual) AS BIGINT) AS sa
         FROM e GROUP BY 1),
       overall AS (
         SELECT CAST(0 AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(err)) AS BIGINT) AS sae,
           CAST(sum(err) AS BIGINT) AS bias,
           CAST(sum(actual) AS BIGINT) AS sa
         FROM e)
       SELECT dow, n_days, sae // n_days AS mae,
         10000 * sae // sa AS mape_bp, bias
       FROM (SELECT * FROM bydow UNION ALL SELECT * FROM overall)
       ORDER BY dow"""

  /** Brown's double exponential smoothing + h-step forecast (q321):
    * the level-AND-trend upgrade of q156's EWMA — S′ is q156's
    * truncated power-of-two kernel (α = ½, 8 lags, weights 2⁷⁻ⁱ/255),
    * S″ is the SAME kernel applied to S′, which telescopes into ONE
    * 15-lag window whose weights are the kernel's self-convolution
    * (Σc = 255² — computed programmatically, not hand-typed). With
    * α = ½ the Brown identities reduce to level = (510·S₁−S₂)/255²
    * and trend = (255·S₁−S₂)/255², so everything up to the final
    * floor is INT64 on counts; the forecast ŷ(h) = level + h·trend
    * is reported at h ∈ {1, 7, 14}. Negative trends make the scaled
    * numerators signed — hence floor(x·1000.0/65025), the both-sides
    * float-floor idiom, never integer div.
    *
    * Scale: one shuffle to the (type, day) aggregate; windows run
    * per event_type over the bounded day spine. */
  def q321HoltDes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val range = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
    val spine = daily.select($"event_type").distinct()
      .crossJoin(broadcast(range))
      .select($"event_type",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val s1 = (0 to 7).map(i =>
      lag($"n", i, 0L).over(w) * lit(1L << (7 - i))).reduce(_ + _)
    val s2 = (0 to 14).map(i =>
      lag($"n", i, 0L).over(w) * lit(desConv(i))).reduce(_ + _)
    dense.withColumn("s1", s1).withColumn("s2", s2)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"day".desc)))
      .filter($"rn" === 1)
      .selectExpr("event_type", "day AS last_day",
        "CAST(floor((510 * s1 - s2) * 1000.0 / 65025) AS BIGINT) AS level_milli",
        "CAST(floor((255 * s1 - s2) * 1000.0 / 65025) AS BIGINT) AS trend_milli",
        "CAST(floor((510 * s1 - s2 + 1 * (255 * s1 - s2)) * 1000.0 / 65025) AS BIGINT) AS f1_milli",
        "CAST(floor((510 * s1 - s2 + 7 * (255 * s1 - s2)) * 1000.0 / 65025) AS BIGINT) AS f7_milli",
        "CAST(floor((510 * s1 - s2 + 14 * (255 * s1 - s2)) * 1000.0 / 65025) AS BIGINT) AS f14_milli")
      .orderBy($"event_type")
  }

  /** q156 kernel self-convolution: weight of lag i in S″. */
  private[graft] val desConv: IndexedSeq[Long] = {
    val k = (0 to 7).map(j => 1L << (7 - j))
    (0 to 14).map(i =>
      (math.max(0, i - 7) to math.min(7, i)).map(j => k(j) * k(i - j)).sum)
  }

  val q321Oracle: String = {
    def lagTerm(i: Int, coef: Long): String =
      if (i == 0) s"$coef * n" else s"$coef * lag(n, $i, 0) OVER w"
    val s1 = (0 to 7).map(i => lagTerm(i, 1L << (7 - i))).mkString(" + ")
    val s2 = (0 to 14).map(i => lagTerm(i, desConv(i))).mkString(" + ")
    s"""WITH a AS (
         SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2),
       r AS (SELECT min(day) AS d0, max(day) AS d1 FROM a),
       spine AS (
         SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         FROM (SELECT DISTINCT event_type FROM a), r),
       dense AS (
         SELECT spine.event_type AS event_type, spine.day AS day, coalesce(n, 0) AS n
         FROM spine LEFT JOIN a ON spine.event_type = a.event_type AND spine.day = a.day),
       sm AS (
         SELECT event_type, day,
           CAST($s1 AS BIGINT) AS s1,
           CAST($s2 AS BIGINT) AS s2,
           row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rn
         FROM dense
         WINDOW w AS (PARTITION BY event_type ORDER BY day))
       SELECT event_type, day AS last_day,
         CAST(floor((510 * s1 - s2) * 1000.0 / 65025) AS BIGINT) AS level_milli,
         CAST(floor((255 * s1 - s2) * 1000.0 / 65025) AS BIGINT) AS trend_milli,
         CAST(floor((510 * s1 - s2 + 1 * (255 * s1 - s2)) * 1000.0 / 65025) AS BIGINT) AS f1_milli,
         CAST(floor((510 * s1 - s2 + 7 * (255 * s1 - s2)) * 1000.0 / 65025) AS BIGINT) AS f7_milli,
         CAST(floor((510 * s1 - s2 + 14 * (255 * s1 - s2)) * 1000.0 / 65025) AS BIGINT) AS f14_milli
       FROM sm WHERE rn = 1 ORDER BY event_type"""
  }

  /** Hourly value-quantile sentinel, batch twin (q335): the same
    * single-aggregation bucket-histogram transform that runs under
    * Structured Streaming ([[graft.streaming.EventStreams
    * .valueQuantiles]]) — registering the batch face here puts the
    * SHARED code path under the DuckDB hash gate, so the streaming
    * query's arithmetic is oracle-checked even though the stream
    * itself is spec-checked by equality. */
  def q335HourlyQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.streaming.EventStreams.valueQuantiles(Tables.events(s, d))
      .orderBy($"hour_start")
  }

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q335_hourly_quantiles", q335HourlyQuantiles, graft.streaming.EventStreams.q335Oracle,
        NoBound(Structural)),
      Query("q321_holt_des", q321HoltDes, q321Oracle,
        NoBound("level/trend/forecasts in cents - money scale")),
      Query("q249_forecast_backtest", q249ForecastBacktest, q249Oracle,
        NoBound("MAPE unbounded above")),
      Query("q242_rolling_corr", q242RollingCorr, q242Oracle,
        Hooks(nonEmpty, range("r_bp", -10000, 10000))),
      Query("q240_pit_join", q240PitJoin, q240Oracle, NoBound(Structural)),
      Query("q229_anomaly_days", q229AnomalyDays, q229Oracle, NoBound(Structural)),
      Query("q225_rate_limit", q225RateLimit, q225Oracle, NoBound(Structural)),
      Query("q217_interval_union", q217IntervalUnion, q217Oracle, NoBound(Structural)),
      Query("q212_seasonal_decomp", q212SeasonalDecomp, q212Oracle,
        Hooks(nonEmpty, range("var_explained_bp", 0, 10000))),
      Query("q202_clamped_balance", q202ClampedBalance, q202Oracle, NoBound(Structural)),
      Query("q192_centered_ma", q192CenteredMa, q192Oracle, NoBound(Structural)),
      Query("q195_cusum", q195Cusum, q195Oracle, NoBound(Structural)),
      Query("q183_weekday_seasonality", q183WeekdaySeasonality, q183Oracle,
        NoBound("seasonality index ~10000, unbounded above")),
      Query("q185_yoy_growth", q185YoyGrowth, q185Oracle,
        Hooks(nonEmpty, atLeast("yoy_bp", -10000))),
      Query("q170_twap", q170Twap, q170Oracle, NoBound("TWAP cents - money scale")),
      Query("q166_lateness_audit", q166LatenessAudit, q166Oracle, NoBound(Structural)),
      Query("q156_ewma", q156Ewma, q156Oracle, NoBound("EWMA of cents - money scale")),
      Query("q121_anomalies", q121Anomalies, q121Oracle, NoBound(Structural)),
      Query("q84_range_frame", q84RangeFrame, q84Oracle, NoBound(Structural)),
      Query("q63_asof_join", q63AsofJoin, q63Oracle, NoBound(Structural)),
      Query("q20_ffill", q20Ffill, q20Oracle, NoBound(Structural)),
      Query("q21_topn_per_group", q21TopNPerGroup, q21Oracle, NoBound(Structural)),
      Query("q22_running_segment", q22RunningSegment, q22Oracle, NoBound(Structural)),
      Query("q23_sessionize", q23Sessionize, q23Oracle, NoBound(Structural)),
      Query("q111_concurrency_sweep", q111ConcurrencySweep, q111Oracle, NoBound(Structural)),
      Query("q382_burn_rate", q382BurnRate, q382Oracle, NoBound("burn ratio unbounded above")),
      Query("q24_hourly_window", q24HourlyWindow, q24Oracle, NoBound(Structural)),
      Query("q25_sliding_window", q25SlidingWindow, q25Oracle, NoBound(Structural)),
      Query("q26_session_window", q26SessionWindow, q26Oracle, NoBound(Structural)),
      Query("q27_rollup", q27Rollup, q27Oracle, NoBound(Structural)),
      Query("q28_lag_lead", q28LagLead, q28Oracle, NoBound(Structural)),
      Query("q69_window_family", q69WindowFamily, q69Oracle,
        Hooks(nonEmpty, range("pr_bp", 0, 10000), range("cd_bp", 0, 10000))),
    )
  }
}
