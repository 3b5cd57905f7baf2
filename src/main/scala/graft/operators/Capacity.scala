package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Capacity / serving planners over the events stream: the sizing
  * questions an operations team answers BEFORE a system exists —
  * cache capacity (LRU reuse-distance and LFU frequency curves),
  * tail-latency hedging payoff, queueing staffing (Erlang-C), retry
  * budgets, straggler speculation, and streaming watermark lateness.
  * (North-star extension — the reference has no event surface; these
  * extend the round-8 planner family q401–q438 with the classic
  * capacity-planning models: Mattson's stack-distance LRU curve
  * [Mattson et al., IBM Sys J 1970], Erlang's C formula, and the
  * hedged-request tail-sum identity of Dean & Barroso's "The Tail at
  * Scale".)
  *
  * Scale design, module-wide:
  *  - Every metric derives from ONE fact scan reduced to a
  *    bounded-domain histogram or a per-user bounded relation; the
  *    capacity/delay/attempt grids are literal and the readouts are
  *    closed-form integer arithmetic on the reduced relation.
  *  - Determinism: counts and centi-quantized durations are exact
  *    integers; ratios are cross-multiplied into bp/milli/micro with
  *    integer division on non-negative numerators; second-order terms
  *    cast one operand to decimal(38,0) BEFORE the multiply (the q423
  *    rule); the two double-precision models (Erlang's recursion,
  *    which has no closed integer form) evaluate the IDENTICAL
  *    bounded left-fold expression tree on both engines (the q184
  *    list_reduce precedent) before one floor.
  */
object Capacity extends graft.QueryModule {

  /** LRU cache-sizing curve by Mattson stack distance (q439): each
    * user's stream of content items (`props.k`) is a reference trace;
    * an item re-access HITS an LRU cache of capacity c iff its stack
    * distance — 1 + the number of DISTINCT other items the user
    * touched since the previous access of the same item — is ≤ c.
    * One pass computes every capacity's hit rate simultaneously (the
    * whole point of Mattson's algorithm: the curve for all c from one
    * trace), reported over a {1,2,4,8,16,32} grid next to the
    * irreducible cold-miss share.
    *
    * Scale: the trace is PER USER (a per-user personalization cache),
    * so sequencing is a user-partitioned window — never a global
    * sort — and the between-accesses distinct count is an equi join
    * on user_id with a positional residual, fan-in bounded by
    * per-user activity² (the q157 bounded-basket assumption; a
    * 100 TB year of events still has human-bounded per-user traces).
    * Item domain ≤ 100 keeps every interval's distinct set small. */
  def q439LruCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = Tables.events(s, d)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("item"),
        row_number().over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id"))
          .as("seq"))
      .localCheckpoint() // feeds intervals AND the probe side once
    val iv = a
      .withColumn("prev", lag($"seq", 1).over(
        Window.partitionBy($"user_id", $"item").orderBy($"seq")))
      .filter($"prev".isNotNull)
      .select($"user_id", $"item", $"prev", $"seq".as("p"))
    val probe = a.select($"user_id".as("m_user"), $"item".as("m_item"),
      $"seq".as("m_seq"))
    // left join: an immediate re-access (empty interval) must keep its
    // row — countDistinct over the null probe row is 0, distance 1
    val sd = iv.join(probe,
        $"m_user" === $"user_id" &&
          $"m_seq" > $"prev" && $"m_seq" < $"p", "left")
      .groupBy($"user_id", $"item", $"p")
      .agg((countDistinct($"m_item") + 1L).as("sd"))
    val tot = a.groupBy().agg(count(lit(1)).as("accesses"))
    val caps = Seq(1, 2, 4, 8, 16, 32)
    val hitAggs = caps.map(c =>
      sum(when($"sd" <= c, 1L).otherwise(0L)).as(s"__h$c"))
    val flat = sd.groupBy()
      .agg(count(lit(1)).as("re_accesses"), hitAggs: _*)
      .crossJoin(broadcast(tot))
    val stackArgs = caps.map(c => s"${c}L, __h$c").mkString(", ")
    flat.select($"accesses", $"re_accesses",
        expr(s"stack(${caps.size}, $stackArgs)").as(Seq("capacity", "hits")))
      .select($"capacity", $"accesses", $"re_accesses", $"hits",
        expr("hits * 10000 div accesses").as("hit_bp"),
        expr("(accesses - re_accesses) * 10000 div accesses").as("cold_bp"))
      .orderBy($"capacity")
  }

  val q439Oracle: String =
    """WITH a AS (
         SELECT user_id, CAST(props->>'k' AS BIGINT) AS item,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
         FROM events),
       iv AS (
         SELECT user_id, item,
                lag(seq) OVER (PARTITION BY user_id, item ORDER BY seq) AS prev,
                seq AS p
         FROM a),
       sd AS (
         SELECT iv.user_id, iv.item, iv.p,
                CAST(count(DISTINCT m.item) + 1 AS BIGINT) AS sd
         FROM iv LEFT JOIN a m
           ON m.user_id = iv.user_id AND m.seq > iv.prev AND m.seq < iv.p
         WHERE iv.prev IS NOT NULL
         GROUP BY 1, 2, 3),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS accesses FROM a),
       flat AS (
         SELECT CAST(count(*) AS BIGINT) AS re_accesses,
                CAST(sum(CASE WHEN sd <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                CAST(sum(CASE WHEN sd <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
                CAST(sum(CASE WHEN sd <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
                CAST(sum(CASE WHEN sd <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS h8,
                CAST(sum(CASE WHEN sd <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS h16,
                CAST(sum(CASE WHEN sd <= 32 THEN 1 ELSE 0 END) AS BIGINT) AS h32
         FROM sd),
       g AS (
         SELECT CAST(c.capacity AS BIGINT) AS capacity, t.accesses, f.re_accesses,
                CASE c.capacity WHEN 1 THEN f.h1 WHEN 2 THEN f.h2 WHEN 4 THEN f.h4
                     WHEN 8 THEN f.h8 WHEN 16 THEN f.h16 ELSE f.h32 END AS hits
         FROM (SELECT unnest([1, 2, 4, 8, 16, 32]) AS capacity) c, flat f, tot t)
       SELECT capacity, accesses, re_accesses, hits,
              hits * 10000 // accesses AS hit_bp,
              (accesses - re_accesses) * 10000 // accesses AS cold_bp
       FROM g ORDER BY capacity"""

  /** LFU / static-placement cache curve (q444): under the independent
    * reference model the best STATIC cache of capacity c holds the c
    * most-frequent items, and its hit rate is their cumulative
    * request share. The curve over the same {1,…,32} grid as q439 is
    * the classic LRU-vs-LFU sizing comparison: where the two curves
    * meet tells the operator recency buys nothing and a cheap static
    * placement (CDN pin, dictionary pin) suffices.
    *
    * Scale: one groupBy to the ≤100-item frequency table; ranking and
    * the cumulative window run on that bounded relation. */
  def q444LfuCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val freq = Tables.events(s, d)
      .select(get_json_object($"props", "$.k").cast("long").as("item"))
      .groupBy($"item").agg(count(lit(1)).as("cnt"))
    val ranked = freq
      .withColumn("rk", row_number().over(
        Window.orderBy($"cnt".desc, $"item")))
      .withColumn("cum", sum($"cnt").over(
        Window.orderBy($"cnt".desc, $"item")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = freq.groupBy()
      .agg(sum($"cnt").as("total"), count(lit(1)).as("n_items"))
    // a capacity beyond the item universe clamps to the last rank (the
    // whole catalog fits — hit rate 100%), so every grid row survives
    val caps = Seq(1, 2, 4, 8, 16, 32).toDF("capacity")
      .crossJoin(broadcast(tot))
    ranked.join(broadcast(caps),
        $"rk" === least($"capacity", $"n_items"))
      .select($"capacity".cast("long").as("capacity"), $"n_items", $"total",
        $"cum".as("cached_requests"),
        expr("cum * 10000 div total").as("lfu_hit_bp"))
      .orderBy($"capacity")
  }

  val q444Oracle: String =
    """WITH freq AS (
         SELECT CAST(props->>'k' AS BIGINT) AS item, CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1),
       ranked AS (
         SELECT item, cnt,
                row_number() OVER (ORDER BY cnt DESC, item) AS rk,
                CAST(sum(cnt) OVER (ORDER BY cnt DESC, item
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM freq),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                      CAST(count(*) AS BIGINT) AS n_items FROM freq)
       SELECT CAST(g.capacity AS BIGINT) AS capacity, n_items, total,
              cum AS cached_requests,
              cum * 10000 // total AS lfu_hit_bp
       FROM (SELECT unnest([1, 2, 4, 8, 16, 32]) AS capacity) g, tot
       JOIN ranked ON rk = least(g.capacity, n_items)
       ORDER BY capacity"""

  /** Hedged-request payoff (q445, Dean & Barroso "The Tail at Scale"):
    * if every request is issued TWICE and the first response wins,
    * the new latency is min(X₁, X₂) — and on the centi-quantized
    * integer support, E[X] and E[min] are EXACT tail sums over the
    * observed survival histogram: E[X]·n = Σ S_l·gap_l and
    * E[min]·n² = Σ S_l²·gap_l, where S_l counts requests with
    * duration ≥ level l and gap_l is the distance to the previous
    * observed level (the q413 cutpoint-gap discipline — survival
    * curves are constant between observed values). Per event class:
    * mean, hedged mean, and the saving in bp — the number that says
    * whether 2× request volume buys the tail.
    *
    * Scale: one scan → bounded (type, centi-duration) histogram; the
    * suffix-count windows partition by type over that bounded domain.
    * S² forms in decimal(38,0) (S ≤ n rows — int64 S²·gap wraps at
    * corpus scale; the q423 cast-before-multiply rule). */
  def q445HedgedPayoff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.events(s, d)
      .select($"event_type", floor($"value" * 100).cast("long").as("v"))
      .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
    val wt = Window.partitionBy($"event_type").orderBy($"v")
    val lev = hist
      .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
      // S_l = requests with duration >= v_l  (suffix count)
      .withColumn("surv", $"n" - coalesce(sum($"c").over(
        wt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("gap", $"v" - coalesce(lag($"v", 1).over(wt), lit(0L)))
    lev.groupBy($"event_type", $"n")
      .agg(sum($"surv" * $"gap").as("__e1"),
        sum($"surv".cast("decimal(38,0)") * $"surv" * $"gap").as("__e2"))
      .select($"event_type", $"n".as("n_requests"),
        expr("__e1 * 1000000 div n").as("mean_micro"),
        expr("CAST(__e2 * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("hedged_micro"))
      // greatest(..., 1) floors the denominator: on degenerate input
      // (every duration < 0.01 → single level-0 histogram) mean_micro
      // is 0, where Spark's non-ANSI div returns NULL but DuckDB's //
      // raises — the q440/q454 divergence guard (ADVICE r9 #4)
      .withColumn("saving_bp",
        expr("(mean_micro - hedged_micro) * 10000 div greatest(mean_micro, 1)"))
      .orderBy($"event_type")
  }

  val q445Oracle: String =
    """WITH hist AS (
         SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       lev AS (
         SELECT event_type, v, c,
                CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT)
                  - CAST(coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS surv,
                v - coalesce(lag(v) OVER (PARTITION BY event_type ORDER BY v), 0) AS gap
         FROM hist),
       agg AS (
         SELECT event_type, n,
                CAST(sum(surv * gap) AS BIGINT) AS e1,
                sum(CAST(surv AS HUGEINT) * surv * gap) AS e2
         FROM lev GROUP BY 1, 2)
       SELECT event_type, n AS n_requests,
              e1 * 1000000 // n AS mean_micro,
              CAST(e2 * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS hedged_micro,
              (e1 * 1000000 // n - CAST(e2 * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT))
                * 10000 // greatest(e1 * 1000000 // n, 1) AS saving_bp
       FROM agg ORDER BY event_type"""

  /** Erlang-C staffing planner (q441): per hour-of-day, the measured
    * arrival rate (events per hod-hour across the stream's days) at a
    * literal 180 s mean service time gives the offered load
    * A = arrivals/(20·days) erlangs; for each server count c the wait
    * probability comes from Erlang B via the standard recursion
    * B_k = A·B_{k−1}/(k + A·B_{k−1}) folded over k = 1..c, then
    * C = B/(1 − ρ(1−B)). The 24×{2,4,8,16} table is the staffing
    * curve — including the UNSTABLE cells (A ≥ c ⇒ wait prob pinned
    * to 1) that tell the operator which configs melt.
    *
    * Determinism: A is a ratio of exact ints evaluated once in
    * double; the recursion is a BOUNDED LEFT-FOLD over a literal
    * 1..c sequence — the identical expression tree as the oracle's
    * list_reduce (q184 precedent: fold ≡ list_reduce, same IEEE ops
    * in the same order) — floored to micro only at the readout.
    *
    * Scale: one scan → 24-row hod histogram + a 1-row day count;
    * everything after is a 96-cell literal-grid computation. */
  def q441ErlangStaffing(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"))
    val hod = ev.groupBy(expr("hr % 24").as("hod"))
      .agg(count(lit(1)).as("arrivals"))
    val days = ev.select(expr("hr div 24").as("day")).distinct()
      .groupBy().agg(count(lit(1)).as("n_days"))
    hod.crossJoin(broadcast(days))
      .select($"hod", $"arrivals", $"n_days",
        explode(typedLit(Seq(2, 4, 8, 16))).as("c"))
      .withColumn("a", $"arrivals" / (lit(20.0) * $"n_days"))
      .withColumn("b", expr(
        "aggregate(sequence(1, c), CAST(1.0 AS DOUBLE)," +
          " (acc, k) -> (a * acc) / (CAST(k AS DOUBLE) + a * acc))"))
      .withColumn("wait_prob_micro",
        when($"a" >= $"c", lit(1000000L)).otherwise(
          floor(expr("b / (1.0 - (a / CAST(c AS DOUBLE)) * (1.0 - b)) * 1000000"))
            .cast("long")))
      .select($"hod", $"arrivals",
        floor($"a" * 1000).cast("long").as("erlangs_milli"),
        $"c".cast("long").as("servers"),
        ($"a" < $"c").as("stable"), $"wait_prob_micro")
      .orderBy($"hod", $"servers")
  }

  val q441Oracle: String =
    """WITH ev AS (
         SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr FROM events),
       hod AS (SELECT hr % 24 AS hod, CAST(count(*) AS BIGINT) AS arrivals
               FROM ev GROUP BY 1),
       days AS (SELECT CAST(count(DISTINCT hr // 24) AS BIGINT) AS n_days FROM ev),
       g AS (
         SELECT hod, arrivals, CAST(c.c AS BIGINT) AS c,
                arrivals / (20.0 * n_days) AS a
         FROM hod, days, (SELECT unnest([2, 4, 8, 16]) AS c) c),
       e AS (
         SELECT hod, arrivals, c, a,
                list_reduce(
                  list_prepend(CAST(1.0 AS DOUBLE),
                    [CAST(k AS DOUBLE) FOR k IN generate_series(1, CAST(c AS INTEGER))]),
                  (acc, k) -> (a * acc) / (k + a * acc)) AS b
         FROM g)
       SELECT hod, arrivals,
              CAST(floor(a * 1000) AS BIGINT) AS erlangs_milli,
              c AS servers, a < c AS stable,
              CASE WHEN a >= c THEN 1000000
                   ELSE CAST(floor(b / (1.0 - (a / c) * (1.0 - b)) * 1000000) AS BIGINT)
              END AS wait_prob_micro
       FROM e ORDER BY hod, servers"""

  /** Retry-budget planner (q446): per hour-of-day, the measured
    * failure rate (share of 'error' events) quantized to bp drives
    * the closed-form retry algebra for max-attempt budgets
    * m ∈ {1,3,5}: success probability 1−p^m, expected attempts
    * Σ p^i, and expected backoff delay Σ p^i·100·2^(i−1) ms under
    * exponential backoff — the table that says whether 5 attempts
    * buy real success or just triple the load at the worst hour.
    *
    * Determinism/scale: the rate is quantized to p_bp = ⌊e·10⁴/n⌋
    * FIRST, so every power is a power of an integer ≤ 10⁴ — the
    * composition is exact decimal arithmetic with a DATA-INDEPENDENT
    * bound (p_bp⁵ ≤ 10²⁰ regardless of row count; composing raw
    * counts would overflow decimal(38) once n > 10⁶·⁵). One scan →
    * 24-row histogram → literal m grid. */
  def q446RetryBudget(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hod = Tables.events(s, d)
      .groupBy(expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("e"))
      .withColumn("p_bp", expr("e * 10000 div n").cast("decimal(38,0)"))
    // closed forms per literal m (B = 10^4 = the bp base):
    //   succ_micro     = 1e6·(B^m − p^m) / B^m
    //   attempts_milli = 1e3·Σ_{i<m} p^i·B^(m−1−i) / B^(m−1)
    //   backoff_ms     = 100·Σ_{1≤i<m} p^i·2^(i−1)·B^(m−1−i) / B^(m−1)
    // generated with explicit power chains once per literal m (no pow:
    // the oracle builder mirrors the identical chains in HUGEINT)
    def powP(i: Int): String =
      if (i == 0) "CAST(1 AS DECIMAL(38,0))"
      else "p_bp" + (" * p_bp" * (i - 1))
    def powB(i: Int): String =
      if (i == 0) "CAST(1 AS DECIMAL(38,0))"
      else "CAST(10000 AS DECIMAL(38,0))" + (" * 10000" * (i - 1))
    val rows = Seq(1, 3, 5).map { m =>
      val succ =
        s"CAST((${powB(m)} - ${powP(m)}) * 1000000 div (${powB(m)}) AS BIGINT)"
      val att = (0 until m)
        .map(i => s"${powP(i)} * ${if (m - 1 - i == 0) "1" else powB(m - 1 - i)}")
        .mkString(" + ")
      val attempts =
        s"CAST((${att}) * 1000 div (${powB(m - 1)}) AS BIGINT)"
      val backoff =
        if (m == 1) "CAST(0 AS BIGINT)"
        else {
          val t = (1 until m)
            .map(i => s"${powP(i)} * ${1L << (i - 1)} * " +
              s"${if (m - 1 - i == 0) "1" else powB(m - 1 - i)}")
            .mkString(" + ")
          s"CAST(100 * ($t) div (${powB(m - 1)}) AS BIGINT)"
        }
      s"named_struct('m', ${m}L, 'succ_micro', $succ, " +
        s"'attempts_milli', $attempts, 'backoff_ms_milli', $backoff)"
    }
    hod.select($"hod", $"n", $"e", $"p_bp".cast("long").as("p_bp"),
        explode(expr(s"array(${rows.mkString(", ")})")).as("r"))
      .select($"hod", $"n", $"e", $"p_bp",
        $"r.m".as("max_attempts"), $"r.succ_micro",
        $"r.attempts_milli", $"r.backoff_ms_milli")
      .orderBy($"hod", $"max_attempts")
  }

  val q446Oracle: String = {
    def powP(i: Int): String =
      if (i == 0) "CAST(1 AS HUGEINT)" else "p_bp" + (" * p_bp" * (i - 1))
    def powB(i: Int): String =
      if (i == 0) "CAST(1 AS HUGEINT)"
      else "CAST(10000 AS HUGEINT)" + (" * 10000" * (i - 1))
    val arms = Seq(1, 3, 5).map { m =>
      val succ =
        s"CAST((${powB(m)} - ${powP(m)}) * 1000000 // (${powB(m)}) AS BIGINT)"
      val att = (0 until m)
        .map(i => s"${powP(i)} * ${if (m - 1 - i == 0) "1" else powB(m - 1 - i)}")
        .mkString(" + ")
      val attempts = s"CAST((${att}) * 1000 // (${powB(m - 1)}) AS BIGINT)"
      val backoff =
        if (m == 1) "CAST(0 AS BIGINT)"
        else {
          val t = (1 until m)
            .map(i => s"${powP(i)} * ${1L << (i - 1)} * " +
              s"${if (m - 1 - i == 0) "1" else powB(m - 1 - i)}")
            .mkString(" + ")
          s"CAST(100 * ($t) // (${powB(m - 1)}) AS BIGINT)"
        }
      s"SELECT hod, n, e, CAST(p_bp AS BIGINT) AS p_bp, CAST($m AS BIGINT) AS max_attempts, " +
        s"$succ AS succ_micro, $attempts AS attempts_milli, $backoff AS backoff_ms_milli FROM hod"
    }
    s"""WITH hod AS (
         SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e,
                CAST(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                  * 10000 // count(*) AS HUGEINT) AS p_bp
         FROM events GROUP BY 1)
       ${arms.mkString("\nUNION ALL\n")}
       ORDER BY hod, max_attempts"""
  }

  /** Straggler / speculative-execution planner (q440): per event
    * class, the centi-quantized duration histogram yields exact p50 /
    * p99 order statistics, the straggler ratio, the 32-worker
    * makespan lower bound max(longest task, ⌈work/32⌉), and the
    * payoff of Dean-style speculation — every task still running at
    * p99 is relaunched and finishes at p99+p50, adding n_straggler·p50
    * duplicated work — the before/after table that justifies (or
    * kills) spark.speculation for each stage profile.
    *
    * Scale: one scan → bounded (type, centi) histogram; quantiles are
    * cumulative-count lookups on that bounded domain (never a
    * row-level sort); the readout is integer arithmetic. */
  def q440StragglerPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.events(s, d)
      .select($"event_type", floor($"value" * 100).cast("long").as("v"))
      .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
    val wt = Window.partitionBy($"event_type").orderBy($"v")
    val lev = hist
      .withColumn("cum", sum($"c").over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
      .withColumn("work", sum($"v" * $"c").over(Window.partitionBy($"event_type")))
      .withColumn("vmax", max($"v").over(Window.partitionBy($"event_type")))
    // exact order stats: smallest level whose cumulative count reaches
    // ceil(q·n) — integer rank arithmetic on the bounded histogram
    val q = lev.groupBy($"event_type", $"n", $"work", $"vmax")
      .agg(
        min(when($"cum" * 10000L >= $"n" * 5000L, $"v")).as("p50"),
        min(when($"cum" * 10000L >= $"n" * 9900L, $"v")).as("p99"))
    // stragglers = tasks strictly LONGER than p99; each relaunch adds
    // one duplicate unit of p50 work
    val strag = hist.join(q, "event_type")
      .groupBy($"event_type", $"n", $"work", $"vmax", $"p50", $"p99")
      .agg(sum(when($"v" > $"p99", $"c").otherwise(0L)).as("n_strag"))
    strag
      .withColumn("makespan_centi",
        greatest($"vmax", expr("(work + 31) div 32")))
      .withColumn("vmax_after", least($"vmax", $"p99" + $"p50"))
      .withColumn("makespan_after_centi",
        greatest($"vmax_after", expr("(work + n_strag * p50 + 31) div 32")))
      .select($"event_type", $"n".as("n_tasks"), $"work".as("work_centi"),
        $"p50".as("p50_centi"), $"p99".as("p99_centi"),
        expr("p99 * 1000 div greatest(p50, 1)").as("straggler_ratio_milli"),
        $"n_strag", $"makespan_centi", $"makespan_after_centi",
        greatest($"makespan_centi" - $"makespan_after_centi", lit(0L))
          .as("saving_centi"))
      .orderBy($"event_type")
  }

  val q440Oracle: String =
    """WITH hist AS (
         SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       lev AS (
         SELECT event_type, v, c,
                CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                CAST(sum(v * c) OVER (PARTITION BY event_type) AS BIGINT) AS work,
                CAST(max(v) OVER (PARTITION BY event_type) AS BIGINT) AS vmax
         FROM hist),
       q AS (
         SELECT event_type, n, work, vmax,
                min(CASE WHEN cum * 10000 >= n * 5000 THEN v END) AS p50,
                min(CASE WHEN cum * 10000 >= n * 9900 THEN v END) AS p99
         FROM lev GROUP BY 1, 2, 3, 4),
       strag AS (
         SELECT h.event_type, q.n, q.work, q.vmax, q.p50, q.p99,
                CAST(sum(CASE WHEN h.v > q.p99 THEN h.c ELSE 0 END) AS BIGINT) AS n_strag
         FROM hist h JOIN q ON h.event_type = q.event_type
         GROUP BY 1, 2, 3, 4, 5, 6)
       SELECT event_type, n AS n_tasks, work AS work_centi,
              p50 AS p50_centi, p99 AS p99_centi,
              p99 * 1000 // greatest(p50, 1) AS straggler_ratio_milli,
              n_strag,
              greatest(vmax, (work + 31) // 32) AS makespan_centi,
              greatest(least(vmax, p99 + p50),
                       (work + n_strag * p50 + 31) // 32) AS makespan_after_centi,
              greatest(greatest(vmax, (work + 31) // 32)
                - greatest(least(vmax, p99 + p50),
                           (work + n_strag * p50 + 31) // 32), 0) AS saving_centi
       FROM strag ORDER BY event_type"""

  /** Watermark-lateness planner (q451, the ingestion-side twin of
    * q438's state planner): replaying the stream in ARRIVAL order
    * (event_id — the generator's append order), an event is DROPPED
    * under watermark delay δ iff the max event-time already seen
    * exceeds its own timestamp by more than δ. The per-δ drop table
    * {0, 60, 300, 3600 s} plus the max observed lateness is what sets
    * `withWatermark` before the job ever runs — too tight silently
    * loses data, too loose pays q438's state bill (the two planners
    * together bracket the delay choice).
    *
    * Scale: the running max is a distributed prefix scan — ONE
    * repartitionByRange on arrival order, a per-partition running max
    * in a partitioned window, and a ≤numShufflePartitions-row
    * broadcast offset table carrying each partition's predecessor max
    * (the [[Windows.rangePrefixSum]] discipline with the max monoid;
    * never a global-sort window). The checkpoint pins the range
    * assignment both consumers agree on. */
  def q451WatermarkPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val np = s.sessionState.conf.numShufflePartitions
    val part = Tables.events(s, d)
      .select($"event_id", unix_micros($"ts").as("t"))
      .repartitionByRange(np, $"event_id")
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val offs = part.groupBy($"__pid").agg(max($"t").as("__pm"))
      .withColumn("__off", max($"__pm").over(
        Window.orderBy($"__pid").rowsBetween(Window.unboundedPreceding, -1)))
      .select($"__pid", $"__off")
    val late = part.join(broadcast(offs), "__pid")
      .withColumn("runmax", greatest(
        coalesce($"__off", lit(Long.MinValue)),
        max($"t").over(Window.partitionBy($"__pid").orderBy($"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .select((($"runmax" - $"t") / lit(1000000L)).cast("long").as("late_s"))
    val grid = Seq(0L, 60L, 300L, 3600L)
    val aggs = max($"late_s").as("max_late_s") +: grid.map(g =>
      sum(when($"late_s" > g, 1L).otherwise(0L)).as(s"__d$g"))
    val flat = late.groupBy()
      .agg(count(lit(1)).as("n"), aggs: _*)
    val stackArgs = grid.map(g => s"${g}L, __d$g").mkString(", ")
    flat.select($"n", $"max_late_s",
        expr(s"stack(${grid.size}, $stackArgs)").as(Seq("delay_s", "dropped")))
      .select($"delay_s", $"n", $"dropped",
        expr("dropped * 10000 div n").as("dropped_bp"), $"max_late_s")
      .orderBy($"delay_s")
  }

  val q451Oracle: String =
    """WITH a AS (
         SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
       r AS (
         SELECT (max(t) OVER (ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
                  // 1000000 AS late_s
         FROM a),
       flat AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(max(late_s) AS BIGINT) AS max_late_s,
                CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
                CAST(sum(CASE WHEN late_s > 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
                CAST(sum(CASE WHEN late_s > 300 THEN 1 ELSE 0 END) AS BIGINT) AS d300,
                CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS d3600
         FROM r)
       SELECT CAST(g.delay_s AS BIGINT) AS delay_s, n,
              CASE g.delay_s WHEN 0 THEN d0 WHEN 60 THEN d60
                   WHEN 300 THEN d300 ELSE d3600 END AS dropped,
              CASE g.delay_s WHEN 0 THEN d0 WHEN 60 THEN d60
                   WHEN 300 THEN d300 ELSE d3600 END * 10000 // n AS dropped_bp,
              max_late_s
       FROM (SELECT unnest([0, 60, 300, 3600]) AS delay_s) g, flat
       ORDER BY delay_s"""

  /** Retention-policy storage forecaster (q462): under TTL policies of
    * 7 / 30 / 90 days, how many event rows stay alive at the END of
    * the measured stream (rows inside the trailing TTL window), what
    * share of today's footprint that is, and the steady-state
    * projection avg-daily-volume × TTL — the three numbers a
    * data-retention review asks for before approving (or shrinking) a
    * TTL. Savings are reported against keep-forever.
    *
    * Scale: one scan → bounded day histogram; every policy is a
    * conditional sum over it plus closed-form arithmetic. */
  def q462RetentionForecast(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.events(s, d)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val ttls = Seq(7L, 30L, 90L)
    val mx = hist.groupBy().agg(max($"day").as("dmax"),
      sum($"c").as("n_total"), count(lit(1)).as("n_days"))
    val aliveAggs = ttls.map(t =>
      sum(when($"day" > $"dmax" - t, $"c").otherwise(0L)).as(s"__a$t"))
    val flat = hist.crossJoin(broadcast(mx))
      .groupBy($"dmax", $"n_total", $"n_days")
      .agg(aliveAggs.head, aliveAggs.tail: _*)
    val stackArgs = ttls.map(t => s"${t}L, __a$t").mkString(", ")
    flat.select($"n_total", $"n_days",
        expr(s"stack(${ttls.size}, $stackArgs)").as(Seq("ttl_days", "rows_alive")))
      .select($"ttl_days", $"n_total", $"n_days", $"rows_alive",
        expr("rows_alive * 10000 div n_total").as("alive_bp"),
        expr("least(n_total div n_days * ttl_days, n_total)").as("steady_rows"),
        expr("(n_total - rows_alive) * 10000 div n_total").as("savings_bp"))
      .orderBy($"ttl_days")
  }

  val q462Oracle: String =
    """WITH hist AS (
         SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1),
       mx AS (SELECT CAST(max(day) AS BIGINT) AS dmax,
                     CAST(sum(c) AS BIGINT) AS n_total,
                     CAST(count(*) AS BIGINT) AS n_days FROM hist),
       flat AS (
         SELECT n_total, n_days,
                CAST(sum(CASE WHEN day > dmax - 7 THEN c ELSE 0 END) AS BIGINT) AS a7,
                CAST(sum(CASE WHEN day > dmax - 30 THEN c ELSE 0 END) AS BIGINT) AS a30,
                CAST(sum(CASE WHEN day > dmax - 90 THEN c ELSE 0 END) AS BIGINT) AS a90
         FROM hist, mx GROUP BY 1, 2)
       SELECT CAST(g.ttl AS BIGINT) AS ttl_days, n_total, n_days,
              CASE g.ttl WHEN 7 THEN a7 WHEN 30 THEN a30 ELSE a90 END AS rows_alive,
              CASE g.ttl WHEN 7 THEN a7 WHEN 30 THEN a30 ELSE a90 END
                * 10000 // n_total AS alive_bp,
              least(n_total // n_days * g.ttl, n_total) AS steady_rows,
              (n_total - CASE g.ttl WHEN 7 THEN a7 WHEN 30 THEN a30 ELSE a90 END)
                * 10000 // n_total AS savings_bp
       FROM (SELECT unnest([7, 30, 90]) AS ttl) g, flat
       ORDER BY ttl_days"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q462_retention_forecast", q462RetentionForecast, q462Oracle,
        Hooks(nonEmpty, range("alive_bp", 0, 10000), range("savings_bp", 0, 10000))),
      Query("q439_lru_curve", q439LruCurve, q439Oracle,
        Hooks(nonEmpty, range("hit_bp", 0, 10000), range("cold_bp", 0, 10000))),
      Query("q440_straggler_planner", q440StragglerPlanner, q440Oracle,
        Hooks(nonEmpty,
          atLeast("straggler_ratio_milli", 1000))),
      Query("q441_erlang_staffing", q441ErlangStaffing, q441Oracle,
        Hooks(nonEmpty, range("wait_prob_micro", 0, 1000000))),
      Query("q444_lfu_curve", q444LfuCurve, q444Oracle,
        Hooks(nonEmpty, range("lfu_hit_bp", 0, 10000))),
      Query("q445_hedged_payoff", q445HedgedPayoff, q445Oracle,
        Hooks(nonEmpty, range("saving_bp", 0, 10000))),
      Query("q446_retry_budget", q446RetryBudget, q446Oracle,
        Hooks(nonEmpty, range("p_bp", 0, 10000), range("succ_micro", 0, 1000000))),
      Query("q451_watermark_planner", q451WatermarkPlanner, q451Oracle,
        Hooks(nonEmpty, range("dropped_bp", 0, 10000))),
    )
  }
}
