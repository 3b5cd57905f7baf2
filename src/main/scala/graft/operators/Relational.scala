package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Core relational surface: scan → filter → project → join → aggregate →
  * set ops. These re-express the reference pipeline's relational skeleton
  * (SURVEY.md §2.2 filters/projections, §2.3 joins, §2.4 aggregations,
  * §2.7 union salvage) over the driver testdata, plus the standard
  * aggregation shapes Catalyst gives for free (partial+final hash agg,
  * distinct, broadcast joins).
  *
  * Scale notes (100 TB design):
  *  - Dimension joins (region/nation/supplier/part at any realistic SF)
  *    are explicitly `broadcast()` — no shuffle of the fact table.
  *  - Fact-fact joins (orders⋈lineitem) shuffle on the join key once;
  *    aggregations that follow reuse the same key where possible.
  *  - All money aggregations are decimal-exact → safe under any
  *    partitioning / AQE re-plan (no float reduce-order dependence).
  */
object Relational extends graft.QueryModule {

  /** TPC-H Q1-shaped pricing summary: full-scan partial+final hash agg.
    * At 100 TB this is the map-side-combine stress test: group count is
    * tiny (|returnflag|×|linestatus|), so partial aggregation reduces
    * each partition to a handful of rows before the single shuffle. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(18,2)"
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        decSum($"l_quantity").as("sum_qty"),
        decSum($"l_extendedprice").as("sum_base_price"),
        sum($"l_extendedprice".cast(dec) *
          (lit(1).cast(dec) - $"l_discount".cast(dec)))
          .cast("double").as("sum_disc_price"),
        sum($"l_extendedprice".cast(dec) *
          (lit(1).cast(dec) - $"l_discount".cast(dec)) *
          (lit(1).cast(dec) + $"l_tax".cast(dec)))
          .cast("double").as("sum_charge"),
        decAvg($"l_quantity").as("avg_qty"),
        decAvg($"l_extendedprice").as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** P6 date-window predicate (SURVEY.md §2.2) — the reference's
    * load-bearing today/tomorrow filter. Written as a RANGE on the raw
    * timestamp, not `to_date(col).isin(...)`: wrapping the column in a
    * function defeats parquet pushdown, the range reaches the scan as
    * PushedFilters (min/max row-group pruning — the difference between
    * reading 2 days and reading 100 TB). */
  def q02DateWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderdate" >= lit("1997-03-15 00:00:00").cast("timestamp") &&
        $"o_orderdate" < lit("1997-03-17 00:00:00").cast("timestamp"))
      .select($"o_orderkey", to_date($"o_orderdate").as("o_date"),
        $"o_orderpriority", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val q02Oracle: String =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
       o_orderpriority, o_totalprice
       FROM orders
       WHERE CAST(o_orderdate AS DATE) IN (DATE '1997-03-15', DATE '1997-03-16')
       ORDER BY o_orderkey"""

  /** Fact⋈fact⋈dim join + aggregation by market segment. The orders⋈
    * lineitem join shuffles both sides on orderkey (sort-merge or
    * shuffled-hash under AQE); customer is small relative to facts but
    * still fact-scale, so it shuffles on custkey — no broadcast hint. */
  def q03SegmentRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(18,2)"
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    val ord = Tables.orders(s, d)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    // Partial-agg pushdown below the join: collapse lineitem to one
    // revenue row per order BEFORE joining (4:1 at TPC-H shape, and the
    // groupBy shuffles on l_orderkey — the key the join needed anyway,
    // so the exchange is shared work, not extra). After the collapse
    // each o_orderkey appears exactly once, so the original
    // countDistinct(o_orderkey) — a second Expand+shuffle — becomes a
    // plain count. Decimal partials keep the sum exact under
    // re-association.
    val orderRev = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .groupBy($"l_orderkey")
      .agg(sum($"l_extendedprice".cast(dec) *
        (lit(1).cast(dec) - $"l_discount".cast(dec))).as("order_rev"))
    // Second partial collapse, same principle one level up: aggregate
    // per CUSTOMER before the dim join (orders:customers ≈ 10:1), so
    // the customer join probes ~|customers| rows instead of |orders| —
    // and the final segment rollup reduces pre-shrunk partials. Sums
    // of decimal partials re-associate exactly; the order count
    // becomes a sum of per-customer counts.
    val perCust = ord.join(orderRev, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"order_rev").as("cust_rev"), count(lit(1)).as("cust_orders"))
    perCust.join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(
        sum($"cust_rev").cast("double").as("revenue"),
        sum($"cust_orders").as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  /** Skew-salted JOIN (the join-side companion to q59's salted agg):
    * when one join key is hot enough to overwhelm a single task, the
    * standard fix is to widen the key with a salt — the probe (fact)
    * side derives its salt from a non-key attribute, and the build
    * (dim) side replicates each row across all 16 salt values, so the
    * hot key's rows spread over 16 tasks instead of one. The oracle is
    * the PLAIN join: salting must change the physical distribution,
    * never the answer. (AQE's skew-join split is the automatic cousin
    * — `AdaptiveSpec` documents it; this is the explicit form for when
    * the skew is known ahead of time, e.g. the null-key or default-key
    * hot spot every large fact table has.) */
  def q87SaltedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val salts = s.range(16).select($"id".cast("int").as("salt"))
    val fact = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_quantity",
        pmod(hash($"l_linenumber"), lit(16)).cast("int").as("salt"))
    val dim = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderpriority")
      .crossJoin(broadcast(salts)) // replicate build side across salts
    fact.join(dim, $"l_orderkey" === $"o_orderkey" && fact("salt") === dim("salt"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val q87Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  val q03Oracle: String =
    """SELECT c_mktsegment,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
       FROM customer JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Broadcast snowflake dims: nation and region are broadcast so the
    * customer fact never shuffles for the join (only for the groupBy,
    * which is on the joined dim attrs — one shuffle total). */
  def q04RegionStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"),
        decSum($"c_acctbal").as("total_acctbal"))
      .orderBy($"r_name", $"n_name")
  }

  val q04Oracle: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name ORDER BY r_name, n_name"""

  /** Left-outer enrichment + coalesce-to-default — the reference's
    * "attach empty JSON and continue" failure semantics (SURVEY.md §2.3):
    * orders left-join a filtered lineitem aggregate; missing payloads
    * become 0 instead of dropping the row. */
  def q05LeftJoinCoalesce(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The per-order partial stays DECIMAL through the outer sum so the
    // re-aggregation is exact under any reduce order; double only at
    // the output boundary.
    val heavy = Tables.lineitem(s, d)
      .filter($"l_quantity" > 45)
      .groupBy($"l_orderkey")
      .agg(sum($"l_extendedprice".cast("decimal(18,2)")).as("heavy_price"),
        count(lit(1)).as("heavy_lines"))
    Tables.orders(s, d)
      .join(heavy, $"o_orderkey" === $"l_orderkey", "left_outer")
      .groupBy($"o_orderpriority")
      .agg(
        sum(coalesce($"heavy_price", lit(0).cast("decimal(18,2)")))
          .cast("double").as("heavy_revenue"),
        sum(coalesce($"heavy_lines", lit(0L))).as("heavy_line_count"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q05Oracle: String =
    """WITH heavy AS (
         SELECT l_orderkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS heavy_price,
           count(*) AS heavy_lines
         FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey)
       SELECT o_orderpriority,
         CAST(sum(COALESCE(heavy_price, CAST(0 AS DECIMAL(18,2)))) AS DOUBLE) AS heavy_revenue,
         CAST(sum(COALESCE(heavy_lines, 0)) AS BIGINT) AS heavy_line_count,
         count(*) AS n_orders
       FROM orders LEFT JOIN heavy ON o_orderkey = l_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Left-semi join (EXISTS): customers having at least one urgent order. */
  def q06SemiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    Tables.customer(s, d)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val q06Oracle: String =
    """SELECT c_mktsegment, count(*) AS n_customers FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Left-anti join (NOT EXISTS): customers with no urgent 1995 order. */
  def q07AntiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val urgent95 = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT" &&
        year($"o_orderdate") === 1995)
      .select($"o_custkey")
    Tables.customer(s, d)
      .join(urgent95, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_idle_customers"))
      .orderBy($"c_nationkey")
  }

  val q07Oracle: String =
    """SELECT c_nationkey, count(*) AS n_idle_customers FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT'
                         AND year(o_orderdate) = 1995)
       GROUP BY c_nationkey ORDER BY c_nationkey"""

  /** U1 union salvage (SURVEY.md §2.7): two per-"league" frames unioned
    * by NAME (columns deliberately projected in different orders — the
    * pandas concat semantic) then re-aggregated. */
  def q08UnionSalvage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val a = o.filter(year($"o_orderdate") === 1995)
      .select($"o_orderkey", $"o_totalprice", year($"o_orderdate").as("o_year"))
    val b = o.filter(year($"o_orderdate") === 2000)
      .select(year($"o_orderdate").as("o_year"), $"o_totalprice", $"o_orderkey")
    a.unionByName(b)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_orders"), decSum($"o_totalprice").as("total"))
      .orderBy($"o_year")
  }

  val q08Oracle: String =
    """SELECT o_year, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM (
         SELECT o_orderkey, o_totalprice, year(o_orderdate) AS o_year
         FROM orders WHERE year(o_orderdate) = 1995
         UNION ALL
         SELECT o_orderkey, o_totalprice, year(o_orderdate) AS o_year
         FROM orders WHERE year(o_orderdate) = 2000)
       GROUP BY o_year ORDER BY o_year"""

  /** Global top-k: total sort + limit with a deterministic tiebreak
    * (Spark executes this as TakeOrderedAndProject — per-partition
    * top-k then a k-row merge on the driver, never a full sort). */
  def q09GlobalTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  val q09Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""

  /** INTERSECT / EXCEPT set ops over distinct customer key sets. */
  def q09bSetOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def buyers(yr: Int) = Tables.orders(s, d)
      .filter(year($"o_orderdate") === yr)
      .select($"o_custkey").distinct()
    val both = buyers(1995).intersect(buyers(1996))
      .agg(count(lit(1)).as("n_both"))
    val only95 = buyers(1995).except(buyers(1996))
      .agg(count(lit(1)).as("n_only_1995"))
    both.crossJoin(only95)
  }

  val q09bOracle: String =
    """SELECT
       (SELECT count(*) FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)) AS n_both,
       (SELECT count(*) FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)) AS n_only_1995"""

  /** Incremental aggregate maintenance — the materialized-view pattern:
    * yesterday's aggregate SNAPSHOT (orders before the cutoff) merged
    * with today's DELTA (orders since) must equal a full recompute,
    * because every aggregate here is algebraically mergeable (count and
    * decimal-sum add; min/max take least/greatest). The oracle IS the
    * full recompute over all rows — hash equality proves the merge
    * algebra, which is what lets a 100 TB pipeline maintain aggregates
    * by scanning ONLY the day's delta instead of all of history.
    *
    * Determinism note: partial sums stay DECIMAL through the merge
    * (decimal addition is exact, so snapshot+delta equals the direct
    * decimal total bit-for-bit) and cast to double once at the end —
    * summing doubles per half and adding would round differently than
    * the oracle's single cast. */
  def q103IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutoff = lit("1998-01-01").cast("timestamp")
    def half(pred: org.apache.spark.sql.Column) = Tables.orders(s, d).filter(pred)
      .groupBy(($"o_custkey" % 100).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("total_dec"),
        min($"o_orderdate").as("first_date"),
        max($"o_orderdate").as("last_date"))
    val snap = half($"o_orderdate" < cutoff)
    val delta = half($"o_orderdate" >= cutoff)
    snap.as("a").join(delta.as("b"), Seq("bucket"), "full_outer")
      .select($"bucket",
        (coalesce($"a.n", lit(0L)) + coalesce($"b.n", lit(0L))).as("n"),
        (coalesce($"a.total_dec", lit(0).cast("decimal(18,2)")) +
          coalesce($"b.total_dec", lit(0).cast("decimal(18,2)")))
          .cast("double").as("total"),
        least(coalesce($"a.first_date", $"b.first_date"),
          coalesce($"b.first_date", $"a.first_date")).as("first_date"),
        greatest(coalesce($"a.last_date", $"b.last_date"),
          coalesce($"b.last_date", $"a.last_date")).as("last_date"))
      .orderBy($"bucket")
  }

  val q103Oracle: String =
    """SELECT o_custkey % 100 AS bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
       FROM orders GROUP BY 1 ORDER BY 1"""

  /** Snapshot diff / CDC delta generation — the inverse of q62's
    * latest-wins merge: given two table snapshots, emit the change
    * feed (I/U/D rows with old and new values) that transforms one
    * into the other. Both snapshots derive deterministically from
    * orders so the engines construct identical inputs: snapshot A
    * drops every 7th key, snapshot B drops every 5th and re-prices
    * every 3rd (+1.00) — yielding all three op kinds.
    *
    * Shape at scale: ONE full-outer sort-merge join on the key — the
    * irreducible cost of diffing unordered snapshots — then scan-local
    * CASE classification; unchanged rows (the overwhelming majority in
    * a real diff) are filtered before the output sort, so the delta,
    * not the table, is what downstream consumes. The price compare is
    * decimal-exact (same discipline as q103). */
  def q108SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
      .select($"o_orderkey", $"o_totalprice".cast("decimal(18,2)").as("price"))
    val snapA = o.filter($"o_orderkey" % 7 =!= 0)
    val snapB = o.filter($"o_orderkey" % 5 =!= 0)
      .select($"o_orderkey",
        when($"o_orderkey" % 3 === 0, $"price" + lit(1).cast("decimal(18,2)"))
          .otherwise($"price").as("price"))
    snapA.as("a").join(snapB.as("b"), Seq("o_orderkey"), "full_outer")
      .withColumn("op",
        when($"a.price".isNull, "I")
          .when($"b.price".isNull, "D")
          .when($"a.price" =!= $"b.price", "U"))
      .filter($"op".isNotNull)
      .select($"o_orderkey", $"op",
        $"a.price".cast("double").as("old_price"),
        $"b.price".cast("double").as("new_price"))
      .orderBy($"o_orderkey")
  }

  val q108Oracle: String =
    """WITH o AS (
         SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
         FROM orders),
       a AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
       b AS (
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN price + CAST(1 AS DECIMAL(18,2))
                ELSE price END AS price
         FROM o WHERE o_orderkey % 5 <> 0),
       j AS (
         SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           a.price AS ap, b.price AS bp
         FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
       SELECT o_orderkey,
         CASE WHEN ap IS NULL THEN 'I'
              WHEN bp IS NULL THEN 'D'
              WHEN ap <> bp THEN 'U' END AS op,
         CAST(ap AS DOUBLE) AS old_price, CAST(bp AS DOUBLE) AS new_price
       FROM j
       WHERE ap IS NULL OR bp IS NULL OR ap <> bp
       ORDER BY o_orderkey"""

  /** Textual-SQL surface: the same engine through `spark.sql` — tables
    * registered as temp views, the query written as ANSI SQL text, and
    * a `graft`-registered function (`dot_q`, injected by
    * [[graft.functions.GraftExtensions]] via SparkSessionExtensions)
    * callable FROM SQL. Catalyst parses/plans SQL text into the same
    * optimized plans as the DataFrame API — this query exists to pin
    * that equivalence (its oracle is near-verbatim the same SQL). */
  def q110SqlSurface(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(dot_q(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS BIGINT) AS dotq_check
         FROM orders_v JOIN customer_v ON o_custkey = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""")
  }

  val q110Oracle: String =
    """SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(32 AS BIGINT) AS dotq_check
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment
       ORDER BY c_mktsegment"""

  /** Correlated-subquery surface (q151): EXISTS, NOT EXISTS (the
    * scalable NOT IN rewrite), and a correlated scalar COUNT
    * subquery. Catalyst decorrelates all three
    * (RewritePredicateSubquery → left-semi/left-anti joins;
    * RewriteCorrelatedScalarSubquery → a left outer aggregate join with
    * the COUNT-over-empty-group ⇒ 0 repair), so the executed plan is
    * three joins over one orders scan — no per-row re-execution exists
    * anywhere. That rewrite IS the scale story: a 100 TB `customer`
    * with a correlated probe per row is a nested loop in a naive
    * engine and three hash joins here. The COUNT-bug repair
    * (customers with no 'F' orders must read 0, not NULL) is exactly
    * the semantic a hand-rolled join rewrite gets wrong, which is why
    * the query exists in SQL form.
    *
    * The anti leg is deliberately `IS NOT NULL AND NOT EXISTS`, not
    * `NOT IN`: a NOT IN over a nullable fact-sized subquery forces
    * Spark's null-aware anti join — a data-sized broadcast or a
    * BroadcastNestedLoopJoin, the cartesian-class shape the
    * cartesian rule of `ScaleGuard.rules` forbids — while NOT EXISTS
    * plans a plain hash LeftAnti (VERDICT r8 lock #3 finding). The
    * ORACLE keeps the original NOT IN, so the query also pins that the
    * rewrite preserves NOT IN semantics on the null-free key (q191
    * pins the with-NULLs side of that equivalence). */
  def q151Subqueries(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c_custkey, c_mktsegment,
           (SELECT CAST(count(*) AS BIGINT) FROM orders_v o
             WHERE o.o_custkey = c.c_custkey
               AND o.o_orderstatus = 'F') AS n_finished
         FROM customer_v c
         WHERE EXISTS (
             SELECT 1 FROM orders_v o
             WHERE o.o_custkey = c.c_custkey
               AND CAST(o.o_totalprice AS DECIMAL(18,2)) >
                   CAST(300000 AS DECIMAL(18,2)))
           AND c.c_custkey IS NOT NULL
           AND NOT EXISTS (
             SELECT 1 FROM orders_v o2
             WHERE o2.o_custkey = c.c_custkey
               AND o2.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""")
  }

  val q151Oracle: String =
    """SELECT c_custkey, c_mktsegment,
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
         WHERE o.o_custkey = c.c_custkey
           AND o.o_orderstatus = 'F') AS n_finished
       FROM customer c
       WHERE EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND CAST(o.o_totalprice AS DECIMAL(18,2)) >
                 CAST(300000 AS DECIMAL(18,2)))
         AND c.c_custkey NOT IN (
           SELECT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT')
       ORDER BY c_custkey"""

  /** Correlated LATERAL subquery (q178): per-nation top-3 customers by
    * balance, written as a dependent join in SQL text — the remaining
    * subquery surface after q151's EXISTS/IN/scalar trio. A LATERAL
    * derived table may reference the outer row, and this one carries
    * the hard decorrelation case: ORDER BY + LIMIT UNDER the
    * correlation, where Catalyst must rewrite per-outer-row semantics
    * into a window (rank ≤ 3 per nation) over one customer scan
    * (DecorrelateInnerQuery's domain-join + limit→window rewrite; a
    * naive engine re-runs a top-3 sort of customer per nation row).
    * Same scale story as q151: 25 nested sorts at reference scale, a
    * nested loop over every outer row at 100 TB, versus one shuffle
    * here. Determinism: balance ties broken by c_name; money exact in
    * decimal, cast to double only at output. */
  def q178Lateral(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("nation_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT n_name, c_name,
           CAST(CAST(bal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
         FROM nation_v n,
         LATERAL (
           SELECT c_name, c_acctbal AS bal
           FROM customer_v c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c_acctbal DESC, c_name
           LIMIT 3) t
         ORDER BY n_name, acctbal DESC, c_name""")
  }

  val q178Oracle: String =
    """SELECT n_name, c_name,
       CAST(CAST(bal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
       FROM nation n,
       LATERAL (
         SELECT c_name, c_acctbal AS bal
         FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name
         LIMIT 3) t
       ORDER BY n_name, acctbal DESC, c_name"""

  /** Relational division (q168): "parts shipped by suppliers in ALL
    * regions" — the ∀-quantified join (Codd's division) the rest of
    * the join family can't express directly. SQL's textbook form is a
    * double NOT EXISTS (an anti-join of an anti-join); the scalable
    * form used here is coverage COUNTING: dedup the (part, region)
    * pairs, count distinct regions per part, and compare against the
    * divisor's cardinality — two partial-aggregating shuffles instead
    * of nested correlated anti-joins. Output is the whole coverage
    * profile (how many parts reach k of the 5 regions, with an example
    * part each); the n_regions = |divisor| row IS the division result.
    *
    * At 100 TB: nation/region are broadcast (fixed cardinality); the
    * supplier→region map joins on stats — broadcast while it fits,
    * shuffled beyond. The pair dedup shuffles (part, region) — already
    * maximally collapsed by map-side distinct. */
  def q168DivisionProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val supRegion = Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")
      .join(broadcast(Tables.nation(s, d)
        .select($"n_nationkey", $"n_regionkey")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)
        .select($"r_regionkey", $"r_name")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"r_name")
    val perPart = Tables.lineitem(s, d)
      .select($"l_partkey", $"l_suppkey")
      // supplier scales with SF — no forced broadcast (stats/AQE pick)
      .join(supRegion, $"l_suppkey" === $"s_suppkey")
      .select($"l_partkey".as("part"), $"r_name").distinct()
      .groupBy($"part").agg(count(lit(1)).as("n_regions")) // already distinct
    perPart.groupBy($"n_regions")
      .agg(count(lit(1)).as("n_parts"), min($"part").as("example_part"))
      .orderBy($"n_regions")
  }

  val q168Oracle: String =
    """WITH pr AS (
         SELECT DISTINCT l_partkey AS part, r_name
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey),
       pp AS (
         SELECT part, CAST(count(*) AS BIGINT) AS n_regions
         FROM pr GROUP BY 1)
       SELECT n_regions, CAST(count(*) AS BIGINT) AS n_parts,
         min(part) AS example_part
       FROM pp GROUP BY 1 ORDER BY 1"""

  /** Order-independent table fingerprints (q163): per table, XOR of a
    * deterministic 60-bit per-row hash + the row count — the
    * reconciliation primitive for cross-system migration ("does the
    * copy in the new engine hold exactly the rows of the old?").
    * XOR is commutative/associative and self-inverse, so the
    * fingerprint is partition-order independent (any shuffle tree
    * gives the same value), maps partially aggregate to ONE long per
    * task, and the difference of two fingerprints localizes a
    * mismatch without moving any data — the same property Merkle-less
    * anti-entropy uses. Row rendering is pinned cross-engine: decimals
    * via DECIMAL(18,2) (fixed 2-dp string), timestamps via epoch
    * micros, fields joined with '|'.
    *
    * Caveat by design: XOR is blind to double-insertion of the same
    * row pair — the row COUNT column alongside closes the loophole for
    * whole-table equality. */
  def q163TableFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def fp(name: String, df: DataFrame, cols: Seq[org.apache.spark.sql.Column]) =
      df.select(hash60(concat_ws("|", cols: _*)).as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("fingerprint"))
        .select(lit(name).as("tbl"), $"n_rows", $"fingerprint")
    val nat = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    fp("customer", cust, Seq($"c_custkey", $"c_name", $"c_nationkey",
        $"c_mktsegment", $"c_acctbal".cast("decimal(18,2)").cast("string")))
      .unionByName(fp("nation", nat,
        Seq($"n_nationkey", $"n_name", $"n_regionkey")))
      .unionByName(fp("orders", ord, Seq($"o_orderkey", $"o_custkey",
        $"o_orderstatus", $"o_totalprice".cast("decimal(18,2)").cast("string"),
        // NTZ parquet timestamp → epoch µs; session TZ is pinned UTC in
        // every builder, so the cast is the identity DuckDB's epoch_us does
        unix_micros($"o_orderdate".cast("timestamp")), $"o_orderpriority")))
      .orderBy($"tbl")
  }

  val q163Oracle: String =
    """SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
         bit_xor(('0x' || substr(md5(concat_ws('|', c_custkey, c_name,
           c_nationkey, c_mktsegment, c_acctbal::DECIMAL(18,2))), 1, 15))::BIGINT)
           AS fingerprint
       FROM customer
       UNION ALL
       SELECT 'nation', CAST(count(*) AS BIGINT),
         bit_xor(('0x' || substr(md5(concat_ws('|', n_nationkey, n_name,
           n_regionkey)), 1, 15))::BIGINT)
       FROM nation
       UNION ALL
       SELECT 'orders', CAST(count(*) AS BIGINT),
         bit_xor(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
           o_orderstatus, o_totalprice::DECIMAL(18,2), epoch_us(o_orderdate),
           o_orderpriority)), 1, 15))::BIGINT)
       FROM orders
       ORDER BY tbl"""

  /** Six-table snowflake star join (q158) — the TPC-H Q5/Q9 shape that
    * exercises Catalyst's join planning end to end: part prunes the
    * fact as a LEFT-SEMI (predicate `p_size < 25` never leaves the dim
    * scan), the supplier→nation→region chain collapses into ONE map
    * (region filter applied before the join, so the chain ships only
    * matching suppliers), and the data-sized shuffle is the
    * lineitem⋈orders fact-fact join — on a fact already thinned by
    * both dim probes. Money stays decimal(18,2) end to end
    * (re-association exact).
    *
    * At 100 TB: nation/region are broadcast by hint (fixed
    * cardinality); part/supplier SCALE with SF, so their joins carry
    * no hint — stats broadcast them while they fit the threshold and
    * AQE shuffles them beyond it. Either way the fact table moves
    * through at most the exchanges its own joins need. */
  def q158StarRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(18,2)"
    val supAsia = Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")
      .join(broadcast(Tables.nation(s, d)
          .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)
          .filter($"r_name" === "ASIA").select($"r_regionkey")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"n_name")
    val prt = Tables.part(s, d).filter($"p_size" < 25).select($"p_partkey")
    val ord = Tables.orders(s, d)
      .select($"o_orderkey", year($"o_orderdate").cast("long").as("o_year"))
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        ($"l_extendedprice".cast(dec) *
          (lit(1).cast(dec) - $"l_discount".cast(dec))).as("rev"))
      // part/supplier scale with SF (unlike nation/region), so no
      // forced broadcast: stats pick the build side at test SF, AQE
      // shuffles once the SF-scaled dims outgrow the threshold
      .join(prt, $"l_partkey" === $"p_partkey", "left_semi")
      .join(supAsia, $"l_suppkey" === $"s_suppkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name", $"o_year")
      .agg(sum($"rev").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"n_name", $"o_year")
  }

  val q158Oracle: String =
    """SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 25)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Null-semantics audit (q154): SQL three-valued logic pinned
    * cross-engine on a synthesized nullable key (`nullif(status, 'P')`
    * — the testdata itself is null-free). Exercises the three places
    * engines classically diverge: (1) null-safe equality (`<=>` /
    * IS NOT DISTINCT FROM) as a JOIN predicate — the only way the
    * 'pending' dimension row with a NULL key can match; (2)
    * `count(*)` vs `count(col)` (the NULL-key group counts rows but
    * zero non-null values); (3) GROUP BY over an expression that
    * produces NULLs. The dimension is a 3-row inline VALUES relation,
    * so the null-safe join is a broadcast — null-safe equality
    * hash-partitions fine (NULL is just a key value to the hash),
    * unlike `= OR (IS NULL AND IS NULL)` formulations that defeat
    * equi-join detection and fall to nested loops at scale. */
  def q154NullSemantics(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT d.label,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o.st) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o.st) AS BIGINT) AS n_distinct
         FROM (SELECT nullif(o_orderstatus, 'P') AS st FROM orders_v) o
         JOIN (SELECT * FROM VALUES
                 ('F', 'finished'), ('O', 'open'),
                 (CAST(NULL AS STRING), 'pending') AS t(st, label)) d
           ON o.st <=> d.st
         GROUP BY d.label
         ORDER BY d.label""")
  }

  val q154Oracle: String =
    """SELECT d.label,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(o.st) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT o.st) AS BIGINT) AS n_distinct
       FROM (SELECT nullif(o_orderstatus, 'P') AS st FROM orders) o
       JOIN (VALUES ('F', 'finished'), ('O', 'open'), (NULL, 'pending'))
         d(st, label)
         ON o.st IS NOT DISTINCT FROM d.st
       GROUP BY d.label
       ORDER BY d.label"""

  /** Bag-semantics set operations (q187): EXCEPT ALL / INTERSECT ALL
    * over two month slices of the (returnflag, linestatus, quantity)
    * multiset — the multiplicity-preserving cousins of q09b's DISTINCT
    * set ops, and a different operator in Catalyst: both rewrite to a
    * count-difference aggregation + `Generate replicaterows(...)`
    * (RewriteExceptAll / RewriteIntersectAll), so the plan has no
    * row-matching at all. That rewrite is the scale story: bag
    * difference of two 100 TB scans is ONE groupBy on the value tuple
    * with per-side counts, not a pairing problem. Output re-groups the
    * surviving multiset into (row, multiplicity) for a stable,
    * order-free compare. */
  def q187BagSetOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def slice(m: String, mNext: String) = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit(m).cast("timestamp") &&
        $"l_shipdate" < lit(mNext).cast("timestamp"))
      .select($"l_returnflag", $"l_linestatus",
        $"l_quantity".cast("long").as("qty"))
    val a = slice("1997-01-01", "1997-02-01")
    val b = slice("1997-02-01", "1997-03-01")
    val ex = a.exceptAll(b)
      .groupBy($"l_returnflag", $"l_linestatus", $"qty")
      .agg(count(lit(1)).as("multiplicity"))
      .withColumn("op", lit("except_all"))
    val in = a.intersectAll(b)
      .groupBy($"l_returnflag", $"l_linestatus", $"qty")
      .agg(count(lit(1)).as("multiplicity"))
      .withColumn("op", lit("intersect_all"))
    ex.unionByName(in)
      .select($"op", $"l_returnflag", $"l_linestatus", $"qty", $"multiplicity")
      .orderBy($"op", $"l_returnflag", $"l_linestatus", $"qty")
  }

  val q187Oracle: String =
    """WITH a AS (
         SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'),
       b AS (
         SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-02-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'),
       ex AS (
         SELECT 'except_all' AS op, l_returnflag, l_linestatus, qty,
           CAST(count(*) AS BIGINT) AS multiplicity
         FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
         GROUP BY 2, 3, 4),
       ix AS (
         SELECT 'intersect_all' AS op, l_returnflag, l_linestatus, qty,
           CAST(count(*) AS BIGINT) AS multiplicity
         FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
         GROUP BY 2, 3, 4)
       SELECT op, l_returnflag, l_linestatus, qty, multiplicity
       FROM (SELECT * FROM ex UNION ALL SELECT * FROM ix)
       ORDER BY op, l_returnflag, l_linestatus, qty"""

  /** NOT IN with NULLs in the subquery (q191) — SQL's sharpest
    * three-valued-logic edge: `x NOT IN (set containing NULL)` is
    * never TRUE for any x, so the with-nulls variant must return
    * count 0, which this query PINS next to the null-filtered
    * variant's real count — against DuckDB's NATIVE NOT IN on both.
    *
    * The Spark side is the SCALABLE null-split rewrite, not Spark's
    * native null-aware anti join: Spark can only execute a nullable
    * NOT IN as single-column NAAJ under a BroadcastHashJoin (a
    * data-sized broadcast of the probe — executor OOM at 100 TB) or a
    * BroadcastNestedLoopJoin (O(N·M)) — the cartesian-class shape the
    * cartesian rule of `ScaleGuard.rules` forbids (VERDICT r8 lock #3
    * finding). The production rewrite every distributed engine ships
    * instead: ONE hash LeftAnti join on the null-filtered probe + a
    * 1-row has-null gate that collapses the with-nulls variant to 0 —
    * three-valued logic preserved, all joins equi. A naive "NOT IN → anti join"
    * rewrite WITHOUT the gate silently returns the wrong, non-empty
    * answer; the pinned 0 vs DuckDB's true NOT IN is the regression
    * trap for exactly that bug. q154 covers the null-safe-equality
    * cousin. */
  def q191NullAwareAnti(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      """WITH probe AS (
           SELECT CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                       ELSE o_custkey END AS k
           FROM orders_v
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         hasnull AS (
           SELECT CAST(count(*) AS BIGINT) AS n_null FROM probe
           WHERE k IS NULL),
         anti AS (
           SELECT CAST(count(*) AS BIGINT) AS n_anti FROM customer_v c
           WHERE c.c_custkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey)),
         with_nulls AS (
           SELECT CASE WHEN n_null > 0 THEN CAST(0 AS BIGINT)
                       ELSE n_anti END AS n_rows
           FROM hasnull CROSS JOIN anti),
         no_nulls AS (SELECT n_anti AS n_rows FROM anti)
         SELECT 'not_in_with_nulls' AS variant, n_rows FROM with_nulls
         UNION ALL
         SELECT 'not_in_null_filtered' AS variant, n_rows FROM no_nulls
         ORDER BY variant""")
  }

  val q191Oracle: String =
    """WITH probe AS (
         SELECT CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                     ELSE o_custkey END AS k
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
       with_nulls AS (
         SELECT CAST(count(*) AS BIGINT) AS n_rows FROM customer
         WHERE c_custkey NOT IN (SELECT k FROM probe)),
       no_nulls AS (
         SELECT CAST(count(*) AS BIGINT) AS n_rows FROM customer
         WHERE c_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
       SELECT 'not_in_with_nulls' AS variant, n_rows FROM with_nulls
       UNION ALL
       SELECT 'not_in_null_filtered' AS variant, n_rows FROM no_nulls
       ORDER BY variant"""

  /** Price-index decomposition (q203): per brand, how much of the
    * 1995→1996 revenue change is PRICE vs VOLUME — the Laspeyres index
    * (base-year quantities as weights), the Paasche index (current-year
    * weights), and their geometric mean, the Fisher ideal index. The
    * canonical economics answer to "did we sell dearer or just more?",
    * and the same algebra as a training-corpus cost decomposition
    * (tokens/doc × docs — which moved?).
    *
    * Exactness: unit prices are rationals, so each part-year price is
    * fixed to MILLI-CENTS by one integer division (revenue·1000 div
    * qty — floor, both engines; milli not micro keeps Σq·p under 2⁶³
    * through ~sf10000); the index numerators/denominators are then
    * int64 sums of q·p products and the bp ratio one more integer
    * division. Fisher needs a square root: floor(sqrt(L·P)) evaluated
    * on int64-exact inputs < 2⁵³ in IEEE doubles — correctly rounded,
    * bit-identical cross-engine (the q139 rule). Only parts trading in
    * BOTH years enter (the matched-basket requirement).
    *
    * Shape: one lineitem scan → (brand, part, year) partial agg; the
    * base/current split is a self-join of that SMALL relation on
    * (brand, part) — dimension-sized, not fact-sized; per-brand rollup
    * partial-aggregates. */
  def q203PriceIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val py = Tables.lineitem(s, d)
      // part scales with SF — no forced broadcast (stats/AQE pick)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .filter(year($"l_shipdate").isin(1995, 1996))
      .groupBy($"p_brand".as("brand"), $"l_partkey".as("part"),
        year($"l_shipdate").as("yr"))
      .agg(sum($"l_quantity".cast("long")).as("q"),
        sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"))
          .as("r_cents"))
      .withColumn("p_milli", expr("r_cents * 1000 div q"))
    val base = py.filter($"yr" === 1995)
      .select($"brand", $"part", $"q".as("q0"), $"p_milli".as("p0"))
    val cur = py.filter($"yr" === 1996)
      .select($"brand", $"part", $"q".as("q1"), $"p_milli".as("p1"))
    base.join(cur, Seq("brand", "part"))
      .groupBy($"brand")
      .agg(count(lit(1)).as("n_parts"),
        sum($"q0" * $"p1").as("l_num"), sum($"q0" * $"p0").as("l_den"),
        sum($"q1" * $"p1").as("p_num"), sum($"q1" * $"p0").as("p_den"))
      .select($"brand", $"n_parts",
        expr("l_num * 10000 div l_den").as("laspeyres_bp"),
        expr("p_num * 10000 div p_den").as("paasche_bp"))
      .withColumn("fisher_bp",
        floor(sqrt($"laspeyres_bp" * $"paasche_bp")).cast("long"))
      .orderBy($"brand")
  }

  val q203Oracle: String =
    """WITH py AS (
         SELECT p_brand AS brand, l_partkey AS part,
           year(l_shipdate) AS yr,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r_cents
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE year(l_shipdate) IN (1995, 1996)
         GROUP BY 1, 2, 3),
       pm AS (SELECT brand, part, yr, q, r_cents * 1000 // q AS p_milli FROM py),
       base AS (SELECT brand, part, q AS q0, p_milli AS p0 FROM pm WHERE yr = 1995),
       cur AS (SELECT brand, part, q AS q1, p_milli AS p1 FROM pm WHERE yr = 1996),
       j AS (
         SELECT brand, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(q0 * p1) AS BIGINT) AS l_num, CAST(sum(q0 * p0) AS BIGINT) AS l_den,
           CAST(sum(q1 * p1) AS BIGINT) AS p_num, CAST(sum(q1 * p0) AS BIGINT) AS p_den
         FROM base JOIN cur USING (brand, part)
         GROUP BY brand)
       SELECT brand, n_parts,
         l_num * 10000 // l_den AS laspeyres_bp,
         p_num * 10000 // p_den AS paasche_bp,
         CAST(floor(sqrt(CAST((l_num * 10000 // l_den) * (p_num * 10000 // p_den) AS DOUBLE))) AS BIGINT) AS fisher_bp
       FROM j ORDER BY brand"""

  /** Incremental JOIN-view maintenance (q257): q103 maintains an
    * AGGREGATE under inserts; this maintains a JOIN — the other half
    * of materialized-view upkeep. View V = revenue per order priority
    * over orders ⋈ lineitem. With insert deltas on BOTH sides
    * (ΔO = every 7th order "arrived today", ΔL = every 5th order's
    * lineitems), the delta-join identity
    * ΔV = ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL (disjoint by construction) updates
    * the view from three joins each bounded by a DELTA side — at
    * 100 TB a delta is a day's data, so every maintenance join moves
    * delta-sized (not history-sized) rows through its shuffle, vs
    * re-joining two full tables nightly. The output reports the
    * maintained total alongside the three delta contributions; the
    * oracle recomputes V from scratch and derives identical columns —
    * hash equality IS the delta-join algebra proof.
    *
    * Exactness: revenue in integer cents (decimal→long); the four
    * component relations partition orders×lineitem pairs exactly
    * (old/new × old/new), so v_full = v_old + the three deltas with
    * no dust. */
  def q257JoinIvm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
    val l = Tables.lineitem(s, d).select($"l_orderkey",
      ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val oOld = o.filter($"o_orderkey" % 7 =!= 0)
    val oNew = o.filter($"o_orderkey" % 7 === 0)
    val lOld = l.filter($"l_orderkey" % 5 =!= 0)
    val lNew = l.filter($"l_orderkey" % 5 === 0)
    // the three maintenance joins are REAL separate joins, shaped as
    // they'd run nightly. No forced broadcast of ΔO: a day's delta
    // still scales with SF, so the equi-joins go through stats/AQE
    // (broadcast while the delta fits, shuffle on delta size beyond).
    // v_old stands in for the stored view (in production it is a
    // table read, not a join).
    def leg(os: DataFrame, ls: DataFrame, kind: String) =
      os.join(ls, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(sum($"cents").as("v")).withColumn("kind", lit(kind))
    leg(oOld, lOld, "v_old")
      .unionByName(leg(oNew, lOld, "d_new_orders"))
      .unionByName(leg(oOld, lNew, "d_new_items"))
      .unionByName(leg(oNew, lNew, "d_both"))
      .groupBy($"o_orderpriority")
      .agg(
        coalesce(sum(when($"kind" === "v_old", $"v")), lit(0L)).as("v_old"),
        coalesce(sum(when($"kind" === "d_new_orders", $"v")), lit(0L)).as("d_new_orders"),
        coalesce(sum(when($"kind" === "d_new_items", $"v")), lit(0L)).as("d_new_items"),
        coalesce(sum(when($"kind" === "d_both", $"v")), lit(0L)).as("d_both"))
      .withColumn("v_maintained",
        $"v_old" + $"d_new_orders" + $"d_new_items" + $"d_both")
      .orderBy($"o_orderpriority")
  }

  val q257Oracle: String =
    """WITH j AS (
         SELECT o_orderpriority,
           o_orderkey % 7 = 0 AS o_new, l_orderkey % 5 = 0 AS l_new,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
       SELECT o_orderpriority,
         CAST(sum(CASE WHEN NOT o_new AND NOT l_new THEN cents ELSE 0 END) AS BIGINT)
           AS v_old,
         CAST(sum(CASE WHEN o_new AND NOT l_new THEN cents ELSE 0 END) AS BIGINT)
           AS d_new_orders,
         CAST(sum(CASE WHEN NOT o_new AND l_new THEN cents ELSE 0 END) AS BIGINT)
           AS d_new_items,
         CAST(sum(CASE WHEN o_new AND l_new THEN cents ELSE 0 END) AS BIGINT)
           AS d_both,
         CAST(sum(cents) AS BIGINT) AS v_maintained
       FROM j GROUP BY 1 ORDER BY 1"""

  /** ABC revenue classification of parts (q266): A = parts covering
    * the top 80% of revenue, B = the next 15%, C = the tail — the
    * inventory-management Pareto cut (q175 reports concentration
    * numbers; this assigns the classes and their populations). The
    * boundary rule is "first part whose RUNNING share crosses the
    * line starts the next class" (strictly-less comparison), ties
    * broken by part key — deterministic in both engines.
    *
    * Shape: one partial-agg pass to per-part revenue; the running
    * share is a [[Windows.rangePrefixSum]] over the |parts| relation
    * ordered by (revenue desc, key) — the part relation scales with
    * the data, so the cumulative sum runs as the range-partitioned
    * two-phase scan, never a one-task global window (r7 audit-rule
    * catch). Class rollup is 3 rows. */
  def q266AbcClassification(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perPart = Tables.lineitem(s, d)
      .groupBy($"l_partkey")
      .agg(sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("rev"))
    val tot = perPart.agg(sum($"rev").as("total"))
    Windows.rangePrefixSum(perPart.crossJoin(broadcast(tot)),
        Seq($"rev".desc, $"l_partkey"), $"rev", "cum")
      .withColumn("cls",
        when(($"cum" - $"rev") * 100 < $"total" * 80, "A")
          .when(($"cum" - $"rev") * 100 < $"total" * 95, "B")
          .otherwise("C"))
      .groupBy($"cls")
      .agg(count(lit(1)).as("n_parts"), sum($"rev").as("class_rev_cents"))
      .withColumn("rev_share_bp",
        sum($"class_rev_cents").over(Window.partitionBy()).cast("long"))
      .select($"cls", $"n_parts", $"class_rev_cents",
        expr("10000 * class_rev_cents div rev_share_bp").as("rev_share_bp"))
      .orderBy($"cls")
  }

  val q266Oracle: String =
    """WITH pp AS (
         SELECT l_partkey,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS rev
         FROM lineitem GROUP BY l_partkey),
       tot AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM pp),
       c AS (
         SELECT rev, total,
           CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM pp CROSS JOIN tot),
       cls AS (
         SELECT CASE WHEN (cum - rev) * 100 < total * 80 THEN 'A'
                     WHEN (cum - rev) * 100 < total * 95 THEN 'B'
                     ELSE 'C' END AS cls,
           rev
         FROM c),
       agg AS (
         SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS class_rev_cents
         FROM cls GROUP BY cls),
       g AS (SELECT CAST(sum(class_rev_cents) AS BIGINT) AS allrev FROM agg)
       SELECT cls, n_parts, class_rev_cents,
         10000 * class_rev_cents // allrev AS rev_share_bp
       FROM agg CROSS JOIN g ORDER BY cls"""

  /** Aggregate view maintenance under RETRACTIONS (q298): q103 merges
    * insert-only deltas, but real CDC streams carry deletes — and
    * deletes split the aggregate surface in two. Additive aggregates
    * (count, sum) maintain by signed merge: apply the delta with −1
    * multiplicity. Non-additive ones (min/max) CANNOT retract — if the
    * deleted row held the minimum there is no algebra that recovers
    * the runner-up — so the maintainer re-aggregates ONLY the affected
    * groups from the post-delete base (the standard partial-recompute:
    * delta-group-bounded work, not a full refresh). The oracle is the
    * full recompute over the post-delete state, so the hash match IS
    * the maintenance proof (q276's pattern).
    *
    * Delete set: every order with o_orderkey ≡ 0 (mod 97) —
    * deterministic, hits every bucket. Shape: snapshot agg + signed
    * delta agg (both partial-agg groupBys), one semi-join-bounded
    * re-aggregation for min/max on affected buckets, one broadcast
    * merge. */
  def q298RetractionIvm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d).select($"o_orderkey",
      ($"o_custkey" % 100).as("bucket"),
      $"o_totalprice".cast("decimal(18,2)").as("price"), $"o_orderdate")
      .localCheckpoint()
    val deleted = base.filter($"o_orderkey" % 97 === 0)
    // additive path: snapshot totals merged with signed delete totals
    val snap = base.groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"price").as("total_dec"))
    val dneg = deleted.groupBy($"bucket")
      .agg(count(lit(1)).as("dn"), sum($"price").as("dtotal"))
    // non-additive path: re-aggregate min/max over the POST-DELETE base,
    // but only for buckets the delta touched; untouched buckets keep
    // their snapshot extremes
    val snapExt = base.groupBy($"bucket")
      .agg(min($"o_orderdate").as("first_date"),
        max($"o_orderdate").as("last_date"))
    val touched = dneg.select($"bucket")
    val recompExt = base.filter($"o_orderkey" % 97 =!= 0)
      .join(broadcast(touched), Seq("bucket"), "left_semi")
      .groupBy($"bucket")
      .agg(min($"o_orderdate").as("r_first"), max($"o_orderdate").as("r_last"))
    snap.join(broadcast(dneg), Seq("bucket"), "left")
      .join(snapExt, Seq("bucket"))
      .join(broadcast(recompExt), Seq("bucket"), "left")
      .select($"bucket",
        ($"n" - coalesce($"dn", lit(0L))).as("n"),
        ($"total_dec" - coalesce($"dtotal", lit(0).cast("decimal(18,2)")))
          .cast("double").as("total"),
        coalesce($"r_first", $"first_date").as("first_date"),
        coalesce($"r_last", $"last_date").as("last_date"))
      .filter($"n" > 0)
      .orderBy($"bucket")
  }

  val q298Oracle: String =
    """SELECT o_custkey % 100 AS bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
       FROM orders WHERE o_orderkey % 97 <> 0
       GROUP BY 1 HAVING count(*) > 0 ORDER BY 1"""


  /** GDPR deletion-debt planner (q304): given an erasure list (every
    * 97th customer), how much REWRITE does honoring it cost per
    * month-partition of the orders table? In a parquet lake a delete
    * rewrites whole files, so the planner reports, per partition:
    * stored rows, rows to erase, and the write amplification
    * rows-rewritten-per-row-erased — plus a '_TOTAL' row. The report
    * that decides between eager rewrite, deletion vectors, and
    * compaction-time cleanup. One scan, one partial-agg groupBy; the
    * erasure list arrives as a broadcast semi-joinable dim. */
  def q304DeletionDebt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.orders(s, d)
      .select(date_format($"o_orderdate", "yyyy-MM").as("part"),
        ($"o_custkey" % 97 === 0).cast("long").as("del"))
      .groupBy($"part")
      .agg(count(lit(1)).as("n_rows"), sum($"del").as("n_erase"))
      .withColumn("rewrite_rows",
        when($"n_erase" > 0, $"n_rows").otherwise(lit(0L)))
      .withColumn("amp_permille",
        when($"n_erase" > 0, expr("(1000 * n_rows) div n_erase"))
          .otherwise(lit(0L)))
    val tot = per.agg(sum($"n_rows").as("n_rows"),
        sum($"n_erase").as("n_erase"), sum($"rewrite_rows").as("rewrite_rows"))
      .select(lit("_TOTAL").as("part"), $"n_rows", $"n_erase",
        $"rewrite_rows",
        expr("(1000 * rewrite_rows) div nullif(n_erase, 0)").as("amp_permille"))
    per.unionByName(tot).orderBy($"part")
  }

  val q304Oracle: String =
    """WITH per AS (
         SELECT strftime(o_orderdate, '%Y-%m') AS part,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_erase
         FROM orders GROUP BY 1),
       ext AS (
         SELECT part, n_rows, n_erase,
           CASE WHEN n_erase > 0 THEN n_rows ELSE 0 END AS rewrite_rows,
           CASE WHEN n_erase > 0 THEN (1000 * n_rows) // n_erase ELSE 0 END AS amp_permille
         FROM per),
       tot AS (
         SELECT '_TOTAL' AS part, CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(n_erase) AS BIGINT) AS n_erase,
           CAST(sum(rewrite_rows) AS BIGINT) AS rewrite_rows,
           (1000 * CAST(sum(rewrite_rows) AS BIGINT)) // nullif(CAST(sum(n_erase) AS BIGINT), 0) AS amp_permille
         FROM ext)
       SELECT * FROM (SELECT * FROM ext UNION ALL SELECT * FROM tot)
       ORDER BY part"""

  /** Merkle partition-tree diff (q305): localize WHERE two table
    * states differ without comparing rows — the table-sync / repair
    * primitive behind "which partitions do I re-copy?". Each month
    * partition's leaf digest is the bit_xor of its row hashes
    * (order-free, partial-agg friendly — q163 fingerprints the whole
    * table; this builds the TREE), quarters and years xor their
    * children, and the diff of two states (here: base orders vs the
    * q298 post-erasure state) walks level by level. Output: every
    * tree node with both digests and a differs flag — a differing
    * year that narrows to one differing quarter and one month is the
    * log-time localization argument, readable directly from the rows.
    * Both trees build from ONE scan each (three-level rollup of the
    * same leaf relation). */
  def q305MerkleDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        hash60(concat_ws("|", $"o_orderkey", $"o_custkey",
          $"o_totalprice".cast("decimal(18,2)"))).as("h"),
        ($"o_custkey" % 97 =!= 0).cast("long").as("keep"))
      .select(
        date_format($"o_orderdate", "yyyy-MM").as("month"),
        date_format($"o_orderdate", "yyyy").as("year"),
        concat(date_format($"o_orderdate", "yyyy"), lit("-Q"),
          quarter($"o_orderdate")).as("qtr"),
        $"h", $"keep")
      .localCheckpoint()
    def level(col0: String, lvl: String): DataFrame = rows
      .groupBy(col(col0).as("node"))
      .agg(expr("bit_xor(h)").as("h_base"),
        expr("bit_xor(CASE WHEN keep = 1 THEN h ELSE 0 END)").as("h_new"))
      .select(lit(lvl).as("level"), $"node", $"h_base", $"h_new")
    val root = rows.groupBy()
      .agg(expr("bit_xor(h)").as("h_base"),
        expr("bit_xor(CASE WHEN keep = 1 THEN h ELSE 0 END)").as("h_new"))
      .select(lit("0_root").as("level"), lit("*").as("node"),
        $"h_base", $"h_new")
    root
      .unionByName(level("year", "1_year"))
      .unionByName(level("qtr", "2_quarter"))
      .unionByName(level("month", "3_month"))
      .withColumn("differs", ($"h_base" =!= $"h_new").cast("long"))
      .orderBy($"level", $"node")
  }

  val q305Oracle: String =
    """WITH rws AS (
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
           strftime(o_orderdate, '%Y') AS year,
           strftime(o_orderdate, '%Y') || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS qtr,
           ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
              CAST(o_custkey AS VARCHAR) || '|' ||
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)), 1, 15))::BIGINT AS h,
           CASE WHEN o_custkey % 97 <> 0 THEN 1 ELSE 0 END AS keep
         FROM orders),
       lvl AS (
         SELECT '0_root' AS level, '*' AS node,
           CAST(bit_xor(h) AS BIGINT) AS h_base,
           CAST(bit_xor(CASE WHEN keep = 1 THEN h ELSE 0 END) AS BIGINT) AS h_new
         FROM rws
         UNION ALL
         SELECT '1_year', year, CAST(bit_xor(h) AS BIGINT),
           CAST(bit_xor(CASE WHEN keep = 1 THEN h ELSE 0 END) AS BIGINT)
         FROM rws GROUP BY year
         UNION ALL
         SELECT '2_quarter', qtr, CAST(bit_xor(h) AS BIGINT),
           CAST(bit_xor(CASE WHEN keep = 1 THEN h ELSE 0 END) AS BIGINT)
         FROM rws GROUP BY qtr
         UNION ALL
         SELECT '3_month', month, CAST(bit_xor(h) AS BIGINT),
           CAST(bit_xor(CASE WHEN keep = 1 THEN h ELSE 0 END) AS BIGINT)
         FROM rws GROUP BY month)
       SELECT level, node, h_base, h_new,
         CAST(h_base <> h_new AS BIGINT) AS differs
       FROM lvl ORDER BY level, node"""

  /** Top-k incremental view maintenance (q405, the continuous top-k
    * result of Mouratidis et al., SIGMOD'06, in IVM form): maintain a
    * top-10 spend leaderboard under an insert-only delta WITHOUT
    * re-ranking the full population. Soundness of the candidate set:
    * under inserts, totals only grow, so the k-th total θ only grows;
    * an untouched customer outside the old top-k kept its old total
    * < old θ ≤ new θ and can never enter — the new top-k is exactly
    * top-k(old top-k ∪ touched customers). The maintained state is the
    * per-customer totals index (q103's maintained aggregate) plus the
    * 10-row leaderboard; per batch the engine touches the delta's
    * customers (an index key-join, AQE-sized — no broadcast hint, the
    * delta is data-sized at 100 TB) and ranks a (10 + |delta keys|)-row
    * candidate relation. The oracle re-ranks the full population from
    * scratch — the hash match IS the IVM-equals-recompute proof
    * (q380's discipline). */
  def q405TopkIvm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 10
    val cutoff = lit("1998-05-01").cast("timestamp")
    val cents = ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")
    // maintained state: totals index at the cutoff + its top-10
    val index = Tables.orders(s, d).filter($"o_orderdate" < cutoff)
      .groupBy($"o_custkey").agg(sum(cents).as("t"))
    val oldTop = index.orderBy($"t".desc, $"o_custkey").limit(K)
    // delta: per-customer increments (delta-sized)
    val delta = Tables.orders(s, d).filter($"o_orderdate" >= cutoff)
      .groupBy($"o_custkey").agg(sum(cents).as("dt"))
    // touched customers read their old total from the index by key
    val touched = delta.join(index, Seq("o_custkey"), "left")
      .select($"o_custkey", (coalesce($"t", lit(0L)) + $"dt").as("t"))
    val candidates = touched.unionByName(
      oldTop.join(delta.select($"o_custkey"), Seq("o_custkey"), "left_anti"))
    candidates.orderBy($"t".desc, $"o_custkey").limit(K)
      .withColumn("rank", row_number().over(
        Window.orderBy($"t".desc, $"o_custkey")))
      .select($"rank".cast("long").as("rank"), $"o_custkey", $"t".as("total_cents"))
      .orderBy($"rank")
  }

  val q405Oracle: String =
    """SELECT CAST(row_number() OVER (ORDER BY t DESC, o_custkey) AS BIGINT) AS rank,
         o_custkey, t AS total_cents
       FROM (
         SELECT o_custkey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS t
         FROM orders GROUP BY 1)
       ORDER BY t DESC, o_custkey LIMIT 10"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q405_topk_ivm", q405TopkIvm, q405Oracle, NoBound(Structural)),
      Query("q266_abc_classification", q266AbcClassification, q266Oracle,
        Hooks(nonEmpty, range("rev_share_bp", 0, 10000),
          // A/B/C partition the revenue: 3 floors lose ≤ 2 bp
          groupSum(Seq(), "rev_share_bp", 9997, 10000))),
      Query("q257_join_ivm", q257JoinIvm, q257Oracle, NoBound(Structural)),
      Query("q203_price_index", q203PriceIndex, q203Oracle,
        NoBound("price-index ratios unbounded above")),
      Query("q191_null_aware_anti", q191NullAwareAnti, q191Oracle, NoBound(Structural)),
      Query("q187_bag_set_ops", q187BagSetOps, q187Oracle, NoBound(Structural)),
      Query("q168_division_profile", q168DivisionProfile, q168Oracle, NoBound(Structural)),
      Query("q163_table_fingerprint", q163TableFingerprint, q163Oracle, NoBound(Structural)),
      Query("q158_star_revenue", q158StarRevenue, q158Oracle, NoBound(Structural)),
      Query("q154_null_semantics", q154NullSemantics, q154Oracle, NoBound(Structural)),
      Query("q178_lateral", q178Lateral, q178Oracle, NoBound(Structural)),
      Query("q151_subqueries", q151Subqueries, q151Oracle, NoBound(Structural)),
      Query("q110_sql_surface", q110SqlSurface, q110Oracle, NoBound(Structural)),
      Query("q108_snapshot_diff", q108SnapshotDiff, q108Oracle, NoBound(Structural)),
      Query("q103_incremental_agg", q103IncrementalAgg, q103Oracle, NoBound(Structural)),
      Query("q298_retraction_ivm", q298RetractionIvm, q298Oracle, NoBound(Structural)),
      Query("q304_deletion_debt", q304DeletionDebt, q304Oracle, NoBound(Structural)),
      Query("q305_merkle_diff", q305MerkleDiff, q305Oracle, NoBound(Structural)),
      Query("q87_salted_join", q87SaltedJoin, q87Oracle, NoBound(Structural)),
      Query("q09_global_topk", q09GlobalTopK, q09Oracle, NoBound(Structural)),
      Query("q09b_set_ops", q09bSetOps, q09bOracle, NoBound(Structural)),
      Query("q01_pricing_summary", q01PricingSummary, q01Oracle, NoBound(Structural)),
      Query("q02_date_window", q02DateWindow, q02Oracle, NoBound(Structural)),
      Query("q03_segment_revenue", q03SegmentRevenue, q03Oracle, NoBound(Structural)),
      Query("q04_region_stats", q04RegionStats, q04Oracle, NoBound(Structural)),
      Query("q05_left_join_coalesce", q05LeftJoinCoalesce, q05Oracle, NoBound(Structural)),
      Query("q06_semi_join", q06SemiJoin, q06Oracle, NoBound(Structural)),
      Query("q07_anti_join", q07AntiJoin, q07Oracle, NoBound(Structural)),
      Query("q08_union_salvage", q08UnionSalvage, q08Oracle, NoBound(Structural)),
    )
  }
}
