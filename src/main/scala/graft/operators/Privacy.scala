package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Privacy / compliance auditors over the customer dimension: the
  * re-identification and right-to-erasure questions a 100 TB
  * warehouse answers before it may ship data at all — k-anonymity of
  * the quasi-identifier grid (Sweeney 2002), the generalization
  * ladder with l-diversity (Machanavajjhala et al. 2007), and the
  * GDPR deletion fan-out cost. (North-star extension — a new
  * first-class family alongside the round-8 planners: quality gates
  * that read the SAME reduced relations the profiling ops already
  * produce.)
  *
  * Scale design, module-wide: every audit reduces the fact scan to a
  * bounded equivalence-class relation FIRST (the QI grid is
  * segments×nations×balance-buckets ≤ a few thousand cells; the
  * deletion fan-out domain is per-customer activity, human-bounded),
  * then runs closed-form integer readouts on that bounded relation —
  * never a row-level window, never a fact-sized shuffle past the
  * first groupBy. Ratios are integer bp via cross-multiplication. */
object Privacy extends graft.QueryModule {

  /** k-anonymity audit (q447): equivalence classes of the
    * quasi-identifier (mktsegment, nationkey, ⌊acctbal/1000⌋); for
    * each disclosure threshold k ∈ {2,5,10,20}, how many classes —
    * and how many ROWS (the re-identifiable share, in bp) — sit in
    * classes smaller than k. A release is k-anonymous iff
    * rows_at_risk = 0 at that k; min_class_size is the release's
    * actual k. */
  def q447KAnonymity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cls = Tables.customer(s, d)
      .groupBy($"c_mktsegment", $"c_nationkey",
        floor($"c_acctbal" / 1000.0).cast("long").as("bal_kb"))
      .agg(count(lit(1)).as("sz"))
    val ks = Seq(2, 5, 10, 20)
    val aggs = Seq(
      count(lit(1)).as("n_classes"),
      sum($"sz").as("n_rows"),
      min($"sz").as("min_class_size")) ++
      ks.flatMap(k => Seq(
        sum(when($"sz" < k, 1L).otherwise(0L)).as(s"__c$k"),
        sum(when($"sz" < k, $"sz").otherwise(0L)).as(s"__r$k")))
    val flat = cls.groupBy().agg(aggs.head, aggs.tail: _*)
    val stackArgs = ks.map(k => s"${k}L, __c$k, __r$k").mkString(", ")
    flat.select($"n_classes", $"n_rows", $"min_class_size",
        expr(s"stack(${ks.size}, $stackArgs)")
          .as(Seq("k", "classes_below", "rows_at_risk")))
      .select($"k", $"n_classes", $"min_class_size",
        $"classes_below", $"rows_at_risk",
        expr("rows_at_risk * 10000 div n_rows").as("risk_bp"))
      .orderBy($"k")
  }

  val q447Oracle: String =
    """WITH cls AS (
         SELECT c_mktsegment, c_nationkey,
                CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_kb,
                CAST(count(*) AS BIGINT) AS sz
         FROM customer GROUP BY 1, 2, 3),
       flat AS (
         SELECT CAST(count(*) AS BIGINT) AS n_classes,
                CAST(sum(sz) AS BIGINT) AS n_rows,
                CAST(min(sz) AS BIGINT) AS min_class_size,
                CAST(sum(CASE WHEN sz < 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                CAST(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT) AS r2,
                CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
                CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS r5,
                CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS c10,
                CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS r10,
                CAST(sum(CASE WHEN sz < 20 THEN 1 ELSE 0 END) AS BIGINT) AS c20,
                CAST(sum(CASE WHEN sz < 20 THEN sz ELSE 0 END) AS BIGINT) AS r20
         FROM cls)
       SELECT CAST(g.k AS BIGINT) AS k, n_classes, min_class_size,
              CASE g.k WHEN 2 THEN c2 WHEN 5 THEN c5 WHEN 10 THEN c10 ELSE c20 END
                AS classes_below,
              CASE g.k WHEN 2 THEN r2 WHEN 5 THEN r5 WHEN 10 THEN r10 ELSE r20 END
                AS rows_at_risk,
              CASE g.k WHEN 2 THEN r2 WHEN 5 THEN r5 WHEN 10 THEN r10 ELSE r20 END
                * 10000 // n_rows AS risk_bp
       FROM (SELECT unnest([2, 5, 10, 20]) AS k) g, flat
       ORDER BY k"""

  /** Generalization-ladder advisor with l-diversity (q448): four
    * coarsenings of the (nation, balance-bucket) quasi-identifier —
    * L0 (nation, ⌊bal/1000⌋), L1 (nation, ⌊bal/5000⌋), L2 (region,
    * ⌊bal/5000⌋), L3 (region) — each scored by its worst class:
    * k_min (smallest class), l_min (fewest DISTINCT values of the
    * sensitive attribute c_mktsegment in any class — k-anonymity
    * without l-diversity still leaks when a whole class shares one
    * sensitive value), and the bp of rows in classes below k = 5.
    * The advisor picks the FINEST level meeting k_min ≥ 5 ∧ l_min ≥ 2
    * — generalize as little as possible, but enough.
    *
    * Scale: ONE fact pass to the finest bounded cell grid
    * (nation × region × ⌊bal/1000⌋ × segment ≤ 25·11·5 cells, region
    * via the broadcast nation dim); every ladder level re-aggregates
    * those cells, so coarsening costs nothing extra. */
  def q448GeneralizationLadder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nat = Tables.nation(s, d)
      .select($"n_nationkey", $"n_regionkey")
    val cells = Tables.customer(s, d)
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_nationkey".as("nk"), $"n_regionkey".as("rk"),
        floor($"c_acctbal" / 1000.0).cast("long").as("b1"),
        $"c_mktsegment".as("sens"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("b5", expr("CAST(floor(b1 / 5.0) AS BIGINT)"))
      .localCheckpoint() // 4 ladder levels re-aggregate this ≤7k-cell grid
    def level(lvl: Int, keys: Seq[String]): DataFrame = {
      val cls = cells.groupBy(keys.map(col): _*)
        .agg(sum($"cnt").as("sz"), countDistinct($"sens").as("l"))
      cls.groupBy().agg(
        count(lit(1)).as("n_classes"),
        sum($"sz").as("n_rows"),
        min($"sz").as("k_min"),
        min($"l").as("l_min"),
        sum(when($"sz" < 5, $"sz").otherwise(0L)).as("__below"))
        .select(lit(lvl.toLong).as("level"), $"n_classes", $"k_min", $"l_min",
          expr("__below * 10000 div n_rows").as("below_k5_bp"),
          ($"k_min" >= 5 && $"l_min" >= 2).as("meets"))
    }
    val ladder = level(0, Seq("nk", "b1"))
      .unionByName(level(1, Seq("nk", "b5")))
      .unionByName(level(2, Seq("rk", "b5")))
      .unionByName(level(3, Seq("rk")))
    val pick = ladder.filter($"meets")
      .groupBy().agg(min($"level").as("__pick"))
    ladder.crossJoin(broadcast(pick))
      .withColumn("picked", $"level" === $"__pick")
      .drop("__pick")
      .orderBy($"level")
  }

  val q448Oracle: String = {
    def level(lvl: Int, keys: String): String =
      s"""SELECT CAST($lvl AS BIGINT) AS level,
            CAST(count(*) AS BIGINT) AS n_classes,
            CAST(min(sz) AS BIGINT) AS k_min,
            CAST(min(l) AS BIGINT) AS l_min,
            CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
              * 10000 // CAST(sum(sz) AS BIGINT) AS below_k5_bp,
            min(sz) >= 5 AND min(l) >= 2 AS meets
          FROM (SELECT CAST(sum(cnt) AS BIGINT) AS sz,
                       CAST(count(DISTINCT sens) AS BIGINT) AS l
                FROM cells GROUP BY $keys)"""
    s"""WITH cells AS (
         SELECT c_nationkey AS nk, n_regionkey AS rk,
                CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b1,
                CAST(floor(CAST(floor(c_acctbal / 1000.0) AS BIGINT) / 5.0) AS BIGINT) AS b5,
                c_mktsegment AS sens,
                CAST(count(*) AS BIGINT) AS cnt
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1, 2, 3, 4, 5),
       ladder AS (
         ${level(0, "nk, b1")}
         UNION ALL ${level(1, "nk, b5")}
         UNION ALL ${level(2, "rk, b5")}
         UNION ALL ${level(3, "rk")}),
       pick AS (SELECT min(level) AS p FROM ladder WHERE meets)
       SELECT level, n_classes, k_min, l_min, below_k5_bp, meets,
              level = p AS picked
       FROM ladder, pick ORDER BY level"""
  }

  /** Right-to-erasure fan-out planner (q452): deleting one customer
    * touches 1 customer row + their orders + those orders' lineitems
    * — and, under a date-partitioned lineitem layout, one FILE per
    * distinct order date. The planner reports the exact p50 / p99 /
    * max of both fan-outs plus the mean (milli), the numbers that
    * decide between row-level deletes, key-partitioned layout
    * (1 file per request), and date-partitioned layout (p99_files
    * rewrites per request).
    *
    * Scale: two keyed aggregates reduce orders/lineitem to per-
    * customer counts (lineitems roll up through their order's
    * custkey); the fan-out DOMAIN is human-bounded (orders per
    * customer), so the quantile lookups run on a bounded histogram —
    * the q440 rank discipline, never a row-level sort. */
  def q452DeletionCost(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("nl"))
    val ord = Tables.orders(s, d)
      .join(li, $"o_orderkey" === $"l_orderkey", "left")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce($"nl", lit(0L))).as("n_li"),
        countDistinct(expr("CAST(o_orderdate AS DATE)")).as("n_dates"))
    val fan = Tables.customer(s, d)
      .join(ord, $"c_custkey" === $"o_custkey", "left")
      .select(
        (lit(1L) + coalesce($"n_orders", lit(0L)) + coalesce($"n_li", lit(0L)))
          .as("rows_touched"),
        coalesce($"n_dates", lit(0L)).as("files_touched"))
      .localCheckpoint() // both fan-out histograms read this once
    def quantiles(vcol: String, tag: String): DataFrame = {
      val hist = fan.groupBy(col(vcol).as("v")).agg(count(lit(1)).as("c"))
      val lev = hist
        .withColumn("cum", sum($"c").over(Window.orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum($"c").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      lev.groupBy($"n")
        .agg(min(when($"cum" * 10000L >= $"n" * 5000L, $"v")).as("p50"),
          min(when($"cum" * 10000L >= $"n" * 9900L, $"v")).as("p99"),
          max($"v").as("mx"),
          sum($"v" * $"c").as("tot"))
        .select(lit(tag).as("fanout"), $"n".as("n_customers"),
          $"p50", $"p99", $"mx".as("max"),
          expr("tot * 1000 div n").as("mean_milli"))
    }
    quantiles("rows_touched", "rows")
      .unionByName(quantiles("files_touched", "files_by_date"))
      .orderBy($"fanout")
  }

  val q452Oracle: String =
    """WITH li AS (
         SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nl
         FROM lineitem GROUP BY 1),
       ord AS (
         SELECT o_custkey,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(coalesce(nl, 0)) AS BIGINT) AS n_li,
                CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_dates
         FROM orders LEFT JOIN li ON o_orderkey = l_orderkey
         GROUP BY 1),
       fan AS (
         SELECT 1 + coalesce(n_orders, 0) + coalesce(n_li, 0) AS rows_touched,
                coalesce(n_dates, 0) AS files_touched
         FROM customer LEFT JOIN ord ON c_custkey = o_custkey),
       q AS (
         SELECT 'rows' AS fanout, v, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT rows_touched AS v FROM fan) GROUP BY 1, 2
         UNION ALL
         SELECT 'files_by_date', v, CAST(count(*) AS BIGINT)
         FROM (SELECT files_touched AS v FROM fan) GROUP BY 1, 2),
       lev AS (
         SELECT fanout, v, c,
                CAST(sum(c) OVER (PARTITION BY fanout ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                CAST(sum(c) OVER (PARTITION BY fanout) AS BIGINT) AS n
         FROM q)
       SELECT fanout, n AS n_customers,
              min(CASE WHEN cum * 10000 >= n * 5000 THEN v END) AS p50,
              min(CASE WHEN cum * 10000 >= n * 9900 THEN v END) AS p99,
              CAST(max(v) AS BIGINT) AS max,
              CAST(sum(v * c) AS BIGINT) * 1000 // n AS mean_milli
       FROM lev GROUP BY fanout, n ORDER BY fanout"""

  /** Differential-privacy sensitivity planner (q459): before releasing
    * user-level-DP aggregates over the events stream, measure what the
    * Laplace noise actually costs. For the two release metrics —
    * event COUNT and value SUM (centi) — user-level sensitivity Δ is
    * the largest single-user contribution; the planner reports Δ at
    * max and at the exact p99 contribution (the standard "cap each
    * user's contribution, clip the tail" trick), the resulting
    * Laplace scale λ = Δ/ε per ε ∈ {1, 2, 8}, and the bias the cap
    * buys it: how many users get clipped and what share of total mass
    * their excess was. Uncapped Δ is hostage to one hyperactive user;
    * the (λ_max vs λ_p99, clipped_mass) pair is the noise-vs-bias
    * decision in numbers.
    *
    * Scale: one keyed aggregate to per-user contributions; both
    * metrics' contribution DOMAINS are activity-bounded, so the p99
    * rank lookups run on bounded histograms (q440 discipline);
    * λ is exact integer micro (Δ·10⁶ div ε). */
  def q459DpSensitivity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("cnt"),
        sum(floor($"value" * 100).cast("long")).as("sv"))
      .select(expr("stack(2, 'count', cnt, 'sum_centi', sv)")
        .as(Seq("metric", "contrib")))
    val hist = per.groupBy($"metric", $"contrib").agg(count(lit(1)).as("c"))
    val wt = Window.partitionBy($"metric").orderBy($"contrib")
    val lev = hist
      .withColumn("cum", sum($"c").over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nu", sum($"c").over(Window.partitionBy($"metric")))
      .withColumn("mass", sum($"contrib" * $"c").over(Window.partitionBy($"metric")))
    val caps = lev.groupBy($"metric", $"nu", $"mass")
      .agg(max($"contrib").as("d_max"),
        min(when($"cum" * 10000L >= $"nu" * 9900L, $"contrib")).as("d_p99"))
    val clip = hist.join(caps, "metric")
      .groupBy($"metric", $"nu", $"mass", $"d_max", $"d_p99")
      .agg(sum(when($"contrib" > $"d_p99", $"c").otherwise(0L)).as("clipped_users"),
        sum(when($"contrib" > $"d_p99", ($"contrib" - $"d_p99") * $"c")
          .otherwise(0L)).as("__excess"))
    clip.select($"metric", $"nu".as("n_users"), $"d_max", $"d_p99",
        $"clipped_users",
        expr("__excess * 10000 div mass").as("clipped_mass_bp"),
        explode(typedLit(Seq(1L, 2L, 8L))).as("eps"))
      .withColumn("lap_scale_max_micro", expr("d_max * 1000000 div eps"))
      .withColumn("lap_scale_p99_micro", expr("d_p99 * 1000000 div eps"))
      .orderBy($"metric", $"eps")
  }

  val q459Oracle: String =
    """WITH per AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sv
         FROM events GROUP BY 1),
       st AS (
         SELECT 'count' AS metric, cnt AS contrib FROM per
         UNION ALL SELECT 'sum_centi', sv FROM per),
       hist AS (SELECT metric, contrib, CAST(count(*) AS BIGINT) AS c
                FROM st GROUP BY 1, 2),
       lev AS (
         SELECT metric, contrib, c,
                CAST(sum(c) OVER (PARTITION BY metric ORDER BY contrib
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                CAST(sum(c) OVER (PARTITION BY metric) AS BIGINT) AS nu,
                CAST(sum(contrib * c) OVER (PARTITION BY metric) AS BIGINT) AS mass
         FROM hist),
       caps AS (
         SELECT metric, nu, mass, CAST(max(contrib) AS BIGINT) AS d_max,
                min(CASE WHEN cum * 10000 >= nu * 9900 THEN contrib END) AS d_p99
         FROM lev GROUP BY 1, 2, 3),
       clip AS (
         SELECT h.metric, nu, mass, d_max, d_p99,
                CAST(sum(CASE WHEN contrib > d_p99 THEN c ELSE 0 END) AS BIGINT)
                  AS clipped_users,
                CAST(sum(CASE WHEN contrib > d_p99 THEN (contrib - d_p99) * c
                              ELSE 0 END) AS BIGINT) AS excess
         FROM hist h JOIN caps USING (metric)
         GROUP BY 1, 2, 3, 4, 5)
       SELECT metric, nu AS n_users, d_max, d_p99, clipped_users,
              excess * 10000 // mass AS clipped_mass_bp,
              CAST(g.eps AS BIGINT) AS eps,
              d_max * 1000000 // g.eps AS lap_scale_max_micro,
              d_p99 * 1000000 // g.eps AS lap_scale_p99_micro
       FROM clip, (SELECT unnest([1, 2, 8]) AS eps) g
       ORDER BY metric, eps"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q459_dp_sensitivity", q459DpSensitivity, q459Oracle,
        Hooks(nonEmpty, range("clipped_mass_bp", 0, 10000))),
      Query("q447_k_anonymity", q447KAnonymity, q447Oracle,
        Hooks(nonEmpty, range("risk_bp", 0, 10000))),
      Query("q448_generalization_ladder", q448GeneralizationLadder, q448Oracle,
        Hooks(nonEmpty, range("below_k5_bp", 0, 10000))),
      Query("q452_deletion_cost", q452DeletionCost, q452Oracle,
        NoBound("mean cost cents - money scale")),
    )
  }
}
