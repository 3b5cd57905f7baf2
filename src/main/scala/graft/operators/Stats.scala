package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Remaining aggregation surface: cube grouping sets, multi-distinct
  * aggregation, exact percentiles, approximate distinct (HLL), and the
  * skew-salting idiom with a plain-SQL oracle proving it changes the
  * plan, not the answer.
  */
object Stats extends graft.QueryModule {

  /** CUBE over the snowflake dims: all four grouping sets in one pass
    * (Catalyst Expand), exercised beyond q27's ROLLUP. */
  def q55Cube(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .cube($"r_name", $"c_mktsegment")
      .agg(count(lit(1)).as("n"), decSum($"c_acctbal").as("total_bal"))
      .orderBy($"r_name".asc_nulls_first, $"c_mktsegment".asc_nulls_first)
  }

  val q55Oracle: String =
    """SELECT r_name, c_mktsegment, count(*) AS n,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY CUBE (r_name, c_mktsegment)
       ORDER BY r_name NULLS FIRST, c_mktsegment NULLS FIRST"""

  /** Multiple DISTINCT aggregates in one group-by — WITHOUT the
    * multi-distinct Expand. Catalyst plans N distinct aggregates by
    * Expanding every input row N× before the shuffle (3× the scan
    * feeding the exchange here). Instead, each distinct count runs as
    * its own partial-dedup aggregation — groupBy(flag, key) dedups
    * map-side, so what shuffles is the per-partition DISTINCT pair
    * set, a fraction of the Expand volume — and the three 3-row
    * results broadcast-join back together on the group key. Measured
    * 1.7 → 1.4 s at sf0.1 (the Expand volume is still modest there);
    * at 100 TB the Expand form shuffles 3× the fact table, this
    * shuffles ~|distinct pairs| — that's where the shape matters. */
  def q56DistinctStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    def nd(col: String, as: String) =
      li.select($"l_returnflag", expr(col)).distinct()
        .groupBy($"l_returnflag").agg(count(lit(1)).as(as))
    val mm = li.groupBy($"l_returnflag")
      .agg(min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))
    nd("l_partkey", "n_parts")
      .join(nd("l_suppkey", "n_supps"), "l_returnflag")
      .join(nd("l_orderkey", "n_orders"), "l_returnflag")
      .join(mm, "l_returnflag")
      .select($"l_returnflag", $"n_parts", $"n_supps", $"n_orders",
        $"min_qty", $"max_qty")
      .orderBy($"l_returnflag")
  }

  val q56Oracle: String =
    """SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_orderkey) AS n_orders,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Exact percentiles (sort-based `percentile`, linear interpolation —
    * the same formula DuckDB's quantile_cont uses). */
  def q57Percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        // one sort buffer for both quantiles (see q54)
        expr("percentile(o_totalprice, array(0.5, 0.9))").as("pct"),
        count(lit(1)).as("n"))
      .select($"o_orderpriority", $"pct"(0).as("median_price"),
        $"pct"(1).as("p90_price"), $"n")
      .orderBy($"o_orderpriority")
  }

  val q57Oracle: String =
    """SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       count(*) AS n
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Approximate distinct via HLL. Sketch internals are engine-
    * specific, so the APPROX values can't cross-engine compare — the
    * output instead carries the exact counts plus error-bound booleans
    * that the DuckDB oracle pins to TRUE (see below), making the
    * sketch's contract driver-checked rather than rows-only.
    *
    * Plan shape: two single-distinct aggregations cross-joined, NOT one
    * agg with two countDistinct columns — multiple distinct groups make
    * Spark Expand every input row once per group (2× the scan feeding
    * the shuffle; measured 5.6 s → ~2 s at sf0.1). Single-row cross
    * join is free. */
  def q58ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE scan for both keys: tag-explode (l_partkey, l_orderkey) into a
    // (tag, k) stream, partial-distinct it (map-side combine collapses
    // duplicates before the only shuffle), then count + HLL per tag.
    // HLL is duplicate-insensitive, so sketching the distinct stream
    // gives bit-identical estimates to sketching the raw multiset —
    // and the exact count rides the same pass as count(*). The earlier
    // two-aggregation form (one per key, avoiding Spark's Expand
    // rewrite for mixed distinct aggregates) scanned lineitem twice
    // and ran two jobs: 1.8 s → ~1.0 s at sf0.1.
    val tagged = Tables.lineitem(s, d)
      .select(explode(array(
        struct(lit(1).as("tag"), $"l_partkey".as("k")),
        struct(lit(2).as("tag"), $"l_orderkey".as("k")))).as("tk"))
      .select($"tk.tag".as("tag"), $"tk.k".as("k"))
      .distinct()
    val per = tagged.groupBy($"tag").agg(
      count(lit(1)).as("exact"),
      approx_count_distinct($"k", 0.02).as("approx"))
    // The sketch values themselves are engine-specific (HLL++ here, a
    // different HLL in DuckDB), so they can't be hash-compared — but
    // the sketch's CONTRACT can: emit the exact counts plus a bound
    // check (|approx − exact| ≤ 10% of exact — 5σ at rsd 0.02), and
    // let the oracle pin the booleans to TRUE. A sketch regression
    // (or rsd misconfiguration) then fails the driver compare instead
    // of silently passing a rows-only check.
    per.agg(
        max(when($"tag" === 1, $"exact")).as("exact_parts"),
        max(when($"tag" === 2, $"exact")).as("exact_orders"),
        max(when($"tag" === 1,
          abs($"approx" - $"exact") * lit(10L) <= $"exact")).as("parts_within_10pct"),
        max(when($"tag" === 2,
          abs($"approx" - $"exact") * lit(10L) <= $"exact")).as("orders_within_10pct"))
  }

  val q58Oracle: String =
    """SELECT count(DISTINCT l_partkey) AS exact_parts,
              count(DISTINCT l_orderkey) AS exact_orders,
              TRUE AS parts_within_10pct,
              TRUE AS orders_within_10pct
       FROM lineitem"""

  /** Skew-salting idiom: pre-aggregate on (key, salt) to spread a
    * low-cardinality hot key across partitions, then re-aggregate on
    * the key. The oracle is the PLAIN group-by — salting must change
    * the plan, never the answer (decimal partials keep it exact). */
  def q59SaltedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(hash($"l_orderkey"), lit(16)))
      .groupBy($"l_returnflag", $"salt")
      .agg(sum($"l_quantity".cast("decimal(18,2)")).as("partial_qty"),
        count(lit(1)).as("partial_n"))
      .groupBy($"l_returnflag")
      .agg(sum($"partial_qty").cast("double").as("sum_qty"),
        sum($"partial_n").as("n"))
      .orderBy($"l_returnflag")
  }

  val q59Oracle: String =
    """SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Approximate percentiles (KLL/GK-style sketch behind Spark's
    * `approx_percentile`) under the same contract-check pattern as
    * q58's HLL: sketch internals are engine-specific, so the output
    * carries the EXACT interpolated percentiles (hash-compared) plus
    * booleans asserting the approx value lands between the exact
    * p−1% and p+1% quantiles — the sketch's rank-error guarantee
    * (accuracy 10000 → rank error ≤ 0.01%), which the oracle pins to
    * TRUE. At 100 TB the sketch is the only option: it's one pass,
    * fixed memory, mergeable across partitions; exact `percentile`
    * collects every value per group. */
  def q54ApproxPercentile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        // one percentile buffer for all three quantiles (array form):
        // each scalar call sorts its own copy of the group's values
        expr("percentile(o_totalprice, array(0.49, 0.5, 0.51))").as("pct"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx"),
        count(lit(1)).as("n"))
      .select($"o_orderpriority", $"pct"(1).as("exact_median"), $"n",
        ($"approx" >= $"pct"(0) && $"approx" <= $"pct"(2))
          .as("median_within_rank_1pct"))
      .orderBy($"o_orderpriority")
  }

  val q54Oracle: String =
    """SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS exact_median,
       count(*) AS n,
       TRUE AS median_within_rank_1pct
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Correlation / regression aggregate family (corr, covar_samp,
    * stddev_samp, regr_slope, regr_intercept) with exact cross-engine
    * parity: native double-accumulating aggregates are engine-specific
    * (Spark uses Welford-style co-moments, DuckDB its own kernel), so
    * the hash-compared values are computed FROM EXACT INTEGER MOMENTS
    * (n, Σx, Σy, Σx², Σy², Σxy as decimal(38,0) — overflow-safe, and
    * partial-aggregation-friendly: each is a plain sum with map-side
    * combine) with identical closed-form expression text in both
    * engines; single IEEE divisions/sqrts on identical inputs are
    * bit-deterministic (the q73/q77 precedent). Spark's NATIVE corr /
    * covar_samp / stddev_samp are still exercised — as contract
    * booleans (|native − moment-form| within 1e-6 relative) the oracle
    * pins to TRUE, q58-style. x = l_quantity, y = whole-dollar
    * l_extendedprice (decimal-floored, exact both sides). */
  def q80StatsFamily(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val d38 = "decimal(38,0)"
    val base = Tables.lineitem(s, d).select($"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      floor($"l_extendedprice".cast("decimal(18,2)")).cast("long").as("y"))
    base.groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum($"x").cast(d38).as("sx"), sum($"y").cast(d38).as("sy"),
        sum($"x" * $"x").cast(d38).as("sxx"),
        sum($"y" * $"y").cast(d38).as("syy"),
        sum($"x" * $"y").cast(d38).as("sxy"),
        corr($"x".cast("double"), $"y".cast("double")).as("nat_corr"),
        covar_samp($"x".cast("double"), $"y".cast("double")).as("nat_covar"),
        stddev_samp($"x".cast("double")).as("nat_sd"))
      .withColumn("cnum", expr(s"cast(cast(n as $d38) * sxy - sx * sy as double)"))
      .withColumn("dxx", expr(s"cast(cast(n as $d38) * sxx - sx * sx as double)"))
      .withColumn("dyy", expr(s"cast(cast(n as $d38) * syy - sy * sy as double)"))
      .withColumn("corr_xy", expr("cnum / (sqrt(dxx) * sqrt(dyy))"))
      .withColumn("regr_slope", expr("cnum / dxx"))
      .withColumn("regr_icept",
        expr(s"cast(sy * sxx - sx * sxy as double) / dxx"))
      .withColumn("covar_samp_xy",
        expr(s"cnum / cast(cast(n as $d38) * (cast(n as $d38) - 1) as double)"))
      .withColumn("stddev_x",
        expr(s"sqrt(dxx / cast(cast(n as $d38) * (cast(n as $d38) - 1) as double))"))
      .select($"l_returnflag", $"n", $"corr_xy", $"regr_slope", $"regr_icept",
        $"covar_samp_xy", $"stddev_x",
        (abs($"nat_corr" - $"corr_xy") <= lit(1e-6)).as("native_corr_ok"),
        (abs($"nat_covar" - $"covar_samp_xy") <=
          abs($"covar_samp_xy") * lit(1e-6)).as("native_covar_ok"),
        (abs($"nat_sd" - $"stddev_x") <=
          abs($"stddev_x") * lit(1e-6)).as("native_stddev_ok"))
      .orderBy($"l_returnflag")
  }

  val q80Oracle: String =
    """WITH b AS (
         SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) AS y
         FROM lineitem),
       m AS (
         SELECT l_returnflag, count(*) AS n,
           CAST(sum(x) AS DECIMAL(38,0)) AS sx, CAST(sum(y) AS DECIMAL(38,0)) AS sy,
           CAST(sum(x*x) AS DECIMAL(38,0)) AS sxx,
           CAST(sum(y*y) AS DECIMAL(38,0)) AS syy,
           CAST(sum(x*y) AS DECIMAL(38,0)) AS sxy
         FROM b GROUP BY l_returnflag),
       e AS (
         SELECT l_returnflag, n,
           CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) AS cnum,
           CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) AS dxx,
           CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS dyy,
           CAST(sy * sxx - sx * sxy AS DOUBLE) AS inum,
           CAST(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - 1) AS DOUBLE) AS nn1
         FROM m)
       SELECT l_returnflag, n,
         cnum / (sqrt(dxx) * sqrt(dyy)) AS corr_xy,
         cnum / dxx AS regr_slope,
         inum / dxx AS regr_icept,
         cnum / nn1 AS covar_samp_xy,
         sqrt(dxx / nn1) AS stddev_x,
         TRUE AS native_corr_ok, TRUE AS native_covar_ok,
         TRUE AS native_stddev_ok
       FROM e ORDER BY l_returnflag"""

  /** Fixed-width histogram + CDF (width_bucket profiling): 20 equal
    * buckets over [0, 600000) on o_totalprice, per-bucket count,
    * min/max, and the running cumulative count. The bucket expression
    * is the same double arithmetic text in both engines (mul, div,
    * floor — each IEEE-deterministic on identical inputs), clamped into
    * range; the CDF is an integer running sum over 20 rows. This is
    * the data-profiling primitive behind range-partition boundary
    * estimation: at 100 TB the histogram is one partial-agg pass, and
    * its output IS the partition spec. */
  def q89Histogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .withColumn("bucket",
        least(greatest(floor($"o_totalprice" * 20 / 600000), lit(0)), lit(19))
          .cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("min_price"),
        max($"o_totalprice").as("max_price"))
      .withColumn("cum_n", sum($"n").over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .orderBy($"bucket")
  }

  val q89Oracle: String =
    """WITH b AS (
         SELECT CAST(least(greatest(floor(o_totalprice * 20 / 600000), 0), 19) AS BIGINT) AS bucket,
           o_totalprice
         FROM orders),
       h AS (
         SELECT bucket, count(*) AS n,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM b GROUP BY bucket)
       SELECT bucket, n, min_price, max_price,
         CAST(sum(n) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
       FROM h ORDER BY bucket"""

  /** Heavy hitters via a Misra–Gries mergeable summary
    * ([[graft.functions.MisraGries]], k = 9 counters) checked against
    * the exact per-key counts. The key is a deterministic skew
    * synthesis over events (the testdata is uniform): 70 % of rows
    * collapse onto user_id % 3 — three hot keys at ~23 % each — the
    * rest keep their user_id as a cold tail, mirroring q59/q87's
    * synthetic-skew convention.
    *
    * Output = every key whose EXACT count exceeds n/10 (integer
    * compare cnt·10 > n), with two contract booleans the oracle pins
    * TRUE: `in_sketch` (MG retained the key — guaranteed, since
    * n/10 = n/(k+1) is exactly the MG retention bound for k = 9) and
    * `err_bound_ok` (est ≤ exact and exact − est ≤ n/(k+1), the
    * two-sided mergeable-summary error bound). The sketch side runs as
    * a real partial-aggregating udaf over the same scan; the exact
    * side is the groupBy any candidate verification pass would run on
    * ONLY the surviving keys at scale. */
  def q100HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 9
    val keyed = Tables.events(s, d).select(
      when($"user_id" % 10 < 7, $"user_id" % 3)
        .otherwise($"user_id").as("key"))
    val mg = udaf(new graft.functions.MisraGries(k))
    val sketch = keyed.agg(mg($"key").as("s"))
      .select(explode($"s").as(Seq("key", "est")))
    val exact = keyed.groupBy($"key").agg(count(lit(1)).as("cnt"))
    val tot = exact.agg(sum($"cnt").as("n"))
    exact.crossJoin(broadcast(tot))
      .filter($"cnt" * 10 > $"n")
      .join(broadcast(sketch), Seq("key"), "left")
      .select($"key", $"cnt",
        $"est".isNotNull.as("in_sketch"),
        ($"est".isNotNull && $"est" <= $"cnt" &&
          ($"cnt" - $"est") * (k + 1) <= $"n").as("err_bound_ok"))
      .orderBy($"key")
  }

  val q100Oracle: String =
    """WITH keyed AS (
         SELECT CASE WHEN user_id % 10 < 7 THEN user_id % 3
                     ELSE user_id END AS key
         FROM events),
       e AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt FROM keyed GROUP BY 1),
       t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM e)
       SELECT key, cnt, TRUE AS in_sketch, TRUE AS err_bound_ok
       FROM e, t WHERE cnt * 10 > n ORDER BY key"""

  /** Count-Min sketch (Cormode & Muthukrishnan '05) term-frequency
    * estimation: a 4×256 counter grid over every token occurrence,
    * queried for the exact top-10 terms and checked against their true
    * counts. The sketch is LINEAR, so it builds as a plain partial
    * aggregation: each occurrence maps to 4 (row, bucket) cells and the
    * groupBy collapses every map task to ≤ 4·256 rows before the
    * exchange — the whole corpus crosses the shuffle as ≤ 1024 counters
    * per task regardless of data size (the same mergeable-summary shape
    * as q100's Misra–Gries, expressed declaratively instead of as a
    * udaf). Estimate = min over the 4 rows of the term's cell.
    *
    * Parity: bucket = ((h mod p)·(2r+3) + (r+1)) mod p mod 256 over the
    * shared 60-bit md5 token hash (p = 2³¹−1; products stay < 2³⁵ —
    * exact in int64 on both engines), so sketch and estimates are
    * deterministic and hash-compare exactly. `over_ok` pins CMS's
    * one-sided guarantee (estimate never undercounts); `err` publishes
    * the collision overcount for the audit trail. */
  def q127CountMin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = 2147483647L
    // CMS is linear, so the sketch of the occurrence stream equals the
    // sketch of the (term, tf) table — and the exact tf groupBy is
    // computed anyway as this query's verification side. Feeding the
    // grid from the vocab-sized tf table (checkpointed once for both
    // consumers) hashes each DISTINCT term once instead of md5-ing
    // every occurrence and 4×-exploding the corpus (measured 2.2 →
    // <1 s at sf0.1). On a pure-sketch deployment (no exact side) the
    // occurrence-stream formulation is the same plan minus this
    // groupBy: map-side partial aggregation still collapses each task
    // to ≤ 4·256 cells.
    val tf = Tables.documents(s, d)
      .select(explode(graft.functions.Fns.tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cells = tf
      .select($"tf", (graft.functions.Fns.hash60($"term") % p).as("hp"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .select($"r", $"tf",
        (($"hp" * ($"r" * 2 + 3) + ($"r" + 1)) % p % 256).as("bucket"))
      .groupBy($"r", $"bucket").agg(sum($"tf").as("c"))
    // top-10 terms by exact count: TakeOrderedAndProject (per-partition
    // heaps), not a global row_number over the vocab relation
    val top = tf.withColumnRenamed("tf", "exact_cnt")
      .orderBy($"exact_cnt".desc, $"term")
      .limit(10)
    top
      .withColumn("hp", graft.functions.Fns.hash60($"term") % p)
      .withColumn("r", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket", ($"hp" * ($"r" * 2 + 3) + ($"r" + 1)) % p % 256)
      .join(cells, Seq("r", "bucket"))
      .groupBy($"term")
      .agg(max($"exact_cnt").as("exact_cnt"), min($"c").as("est_cnt"))
      .select($"term", $"exact_cnt", $"est_cnt",
        ($"est_cnt" - $"exact_cnt").as("err"),
        ($"est_cnt" >= $"exact_cnt").as("over_ok"))
      .orderBy($"term")
  }

  val q127Oracle: String =
    """WITH occ AS (
         SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       hp AS (SELECT term, ('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647 AS hp
              FROM occ),
       cells AS (
         SELECT r, (hp * (r*2+3) + (r+1)) % 2147483647 % 256 AS bucket,
           CAST(count(*) AS BIGINT) AS c
         FROM hp, (SELECT unnest(generate_series(0, 3)) AS r)
         GROUP BY 1, 2),
       ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt FROM occ GROUP BY 1),
       top AS (
         SELECT term, exact_cnt FROM ex
         ORDER BY exact_cnt DESC, term LIMIT 10),
       est AS (
         SELECT t.term, t.exact_cnt, CAST(min(c) AS BIGINT) AS est_cnt
         FROM (SELECT term, exact_cnt,
                 ('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647 AS hp
               FROM top) t
         CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r) rs
         JOIN cells ON cells.r = rs.r
           AND cells.bucket = (t.hp * (rs.r*2+3) + (rs.r+1)) % 2147483647 % 256
         GROUP BY 1, 2)
       SELECT term, exact_cnt, est_cnt, est_cnt - exact_cnt AS err,
         est_cnt >= exact_cnt AS over_ok
       FROM est ORDER BY term"""

  /** Robust outlier audit — median/MAD, not mean/stddev: flag orders
    * whose totalprice sits more than 5 MADs from their market segment's
    * median. Mean/σ outlier rules break on the heavy tails they're
    * meant to find (the outliers inflate σ until nothing is an
    * outlier); median/MAD is the standard robust replacement for data
    * QA gates.
    *
    * Parity: prices go through decimal→integer CENTS first, so the
    * only doubles are the two interpolated medians — exact k.0/k.5
    * halves (q57's proven percentile parity), making `dev > 5·mad`
    * decidable identically in both engines.
    *
    * Shape: segment medians are a 5-row aggregate joined back via
    * BROADCAST (fact side never reshuffles for the residual pass); the
    * MAD is a second 5-row aggregate over the residuals, broadcast
    * again for the final count. Three passes over the fact table, zero
    * fact-table shuffles beyond the first groupBy's partial aggs. At
    * 100 TB the exact sort-based `percentile` inside each segment is
    * the one non-scalable piece — the swap is approx_percentile
    * (q54's sketch) with the SAME downstream algebra. */
  def q138MadOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // localCheckpoint: three consumers (median agg, residual pass, final
    // count) would otherwise re-run the scan+join trio — materialize the
    // 2-column fact projection once
    val seg = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("segment"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .localCheckpoint()
    val med = seg.groupBy($"segment")
      .agg(expr("percentile(cents, 0.5)").as("med_cents"),
        count(lit(1)).as("n"))
    val dev = seg.join(broadcast(med), "segment")
      .withColumn("dev", abs($"cents" - $"med_cents"))
    val mad = dev.groupBy($"segment".as("seg2"))
      .agg(expr("percentile(dev, 0.5)").as("mad_cents"))
    dev.join(broadcast(mad), $"segment" === $"seg2")
      .groupBy($"segment")
      .agg(first($"n").as("n"), first($"med_cents").as("med_cents"),
        first($"mad_cents").as("mad_cents"),
        sum(($"dev" > $"mad_cents" * 5).cast("long")).as("n_outliers"))
      .orderBy($"segment")
  }

  val q138Oracle: String =
    """WITH seg AS (
         SELECT c_mktsegment AS segment,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey),
       med AS (
         SELECT segment, quantile_cont(cents, 0.5) AS med_cents,
           CAST(count(*) AS BIGINT) AS n
         FROM seg GROUP BY 1),
       dev AS (
         SELECT seg.segment, n, med_cents, abs(cents - med_cents) AS dev
         FROM seg JOIN med USING (segment)),
       mad AS (
         SELECT segment, quantile_cont(dev, 0.5) AS mad_cents
         FROM dev GROUP BY 1)
       SELECT dev.segment, any_value(n) AS n, any_value(med_cents) AS med_cents,
         any_value(mad_cents) AS mad_cents,
         CAST(sum(CASE WHEN dev > mad_cents * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM dev JOIN mad ON dev.segment = mad.segment
       GROUP BY 1 ORDER BY 1"""

  /** Explicit GROUPING SETS — the third member of the grouped-analytics
    * family next to ROLLUP (q27) and CUBE (q55), for when the wanted
    * slices are neither a prefix chain nor the full lattice: here the
    * two single-dimension slices plus the grand total, WITHOUT the
    * (lang, source) cross cells a cube would also compute. grouping_id
    * disambiguates "NULL because aggregated away" from a (hypothetical)
    * NULL data value — the standard pivot-table contract.
    *
    * Plan shape: one Expand of 3× (one replica per grouping set — the
    * explicit list is exactly why it beats cube's 4×) feeding a single
    * hash aggregate; same single-shuffle cost class as a plain groupBy
    * with a small constant factor. */
  def q146GroupingSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupingSets(
        Seq(Seq($"lang"), Seq($"source"), Seq.empty),
        $"lang", $"source")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars"))
      .orderBy($"gid", $"lang".asc_nulls_first, $"source".asc_nulls_first)
  }

  val q146Oracle: String =
    """SELECT lang, source, CAST(grouping_id(lang, source) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
       FROM documents
       GROUP BY GROUPING SETS ((lang), (source), ())
       ORDER BY gid, lang NULLS FIRST, source NULLS FIRST"""

  /** KMV (k-minimum-values) distinct sketch — the fourth sketch in the
    * family (HLL q58, Misra–Gries q100, Count-Min q127), with a
    * property the others lack: its state is a DETERMINISTIC function of
    * the data (the k smallest distinct 60-bit hashes), so the oracle
    * hash-compares the sketch itself, not just pinned error bounds.
    * Estimate: (k−1)·2⁶⁰ / h₍ₖ₎ — distinct 3-gram types per lang, with
    * the exact count alongside as the verification column (q58's
    * pattern).
    *
    * Scale shape: [[graft.functions.MinKLongs]] partially aggregates —
    * every map task keeps ≤ k longs per lang and the shuffle moves
    * k-sized sorted buffers, NOT the distinct set (the oracle's
    * row_number formulation, fine for DuckDB single-node, would
    * globally sort all distinct hashes per group). Duplicates are
    * absorbed by the buffer, so the sketch rides the raw shingle
    * stream with no distinct() pass. The exact column's distinct
    * aggregation is the one corpus-sized shuffle — at 100 TB it is
    * the audit you run on a sample, while the sketch runs on
    * everything. The estimate's double chain (63·2⁶⁰ ≈ 7.3e19 exceeds
    * int64) is IEEE-deterministic: same operands → same rounding →
    * same floor in both engines. */
  def q147KmvDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    val mink = udaf(new graft.functions.MinKLongs(k))
    val sh = Tables.documents(s, d)
      .select($"lang",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15)).as("h"))
      .localCheckpoint() // sketch and exact audit share one shingle pass
    val sk = sh.groupBy($"lang")
      .agg(mink($"h").as("mins"))
      .select($"lang", expr(s"try_element_at(mins, $k)").as("kth_min"))
    val ex = sh.groupBy($"lang")
      .agg(countDistinct($"h").as("exact_distinct"))
    ex.join(sk, "lang")
      .select($"lang", $"kth_min",
        floor(lit((k - 1).toDouble) * lit(1152921504606846976.0) /* 2^60 */
          / $"kth_min").cast("long").as("est_distinct"),
        $"exact_distinct")
      .orderBy($"lang")
  }

  val q147Oracle: String =
    """WITH tk AS (
         SELECT lang, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT lang, unnest(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS s
         FROM tk),
       dh AS (SELECT DISTINCT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
              FROM sh),
       rk AS (SELECT lang, h,
                row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
              FROM dh),
       kth AS (SELECT lang AS lang2, h AS kth_min FROM rk WHERE rn = 64),
       ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS exact_distinct
              FROM dh GROUP BY 1)
       SELECT lang, kth_min,
         CAST(floor(63.0 * 1152921504606846976.0 / kth_min) AS BIGINT) AS est_distinct,
         exact_distinct
       FROM ex LEFT JOIN kth ON lang = lang2 ORDER BY lang"""

  /** KMV union algebra as a QUERY — the sketch-merge property that
    * makes q147 useful at warehouse scale: the union of per-slice
    * sketches IS the sketch of the union. Here the corpus-wide
    * distinct-shingle estimate is computed ONLY from the five per-lang
    * k-minima buffers (explode + re-sketch, never re-touching the
    * corpus), and the oracle computes the global kth-min directly from
    * the data — a hash match proves merge(sketch(A), sketch(B)) ==
    * sketch(A ∪ B) end to end. Same contract as q127's Count-Min
    * linearity check, for the distinct-count dimension.
    *
    * At 100 TB this is the query pattern for "distinct across the
    * whole lake" when only per-partition/per-day sketches are stored:
    * the second aggregation touches 5 × 64 longs. */
  def q148KmvUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    val mink = udaf(new graft.functions.MinKLongs(k))
    val sh = Tables.documents(s, d)
      .select($"lang",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15)).as("h"))
      .localCheckpoint() // per-lang sketches + the exact audit column
    val perLang = sh.groupBy($"lang").agg(mink($"h").as("mins"))
    val merged = perLang
      .select(explode($"mins").as("h"))
      .agg(mink($"h").as("mins"))
      .select(expr(s"try_element_at(mins, $k)").as("kth_min"))
    val ex = sh.agg(countDistinct($"h").as("exact_distinct"))
    merged.crossJoin(ex)
      .select($"kth_min",
        floor(lit((k - 1).toDouble) * lit(1152921504606846976.0)
          / $"kth_min").cast("long").as("est_distinct"),
        $"exact_distinct")
  }

  val q148Oracle: String =
    """WITH tk AS (
         SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT unnest(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS s
         FROM tk),
       dh AS (SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
       rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM dh),
       kth AS (SELECT h AS kth_min FROM rk WHERE rn = 64),
       ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM dh)
       SELECT kth_min,
         CAST(floor(63.0 * 1152921504606846976.0 / kth_min) AS BIGINT) AS est_distinct,
         exact_distinct
       FROM kth CROSS JOIN ex"""

  /** Benford first-digit audit (q171): the leading-digit distribution
    * of order values in cents against Benford's law P(d) = log₁₀(1 +
    * 1/d) — the classic screen for fabricated or truncated numeric
    * data (naturally-arising multi-magnitude amounts follow it;
    * synthetic uniform data, like this testdata, deliberately does
    * NOT — the audit exists to expose exactly that, and the per-digit
    * deviation column shows it). The leading digit is extracted
    * arithmetically-by-rendering (first char of the integer's decimal
    * string — identical in any engine, no float log10 involved);
    * expected masses are shared ⌊log₁₀(1+1/d)·10⁶⌋ ppm literals.
    *
    * One scan, one 9-group partial agg — audit-shaped at any scale. */
  def q171Benford(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val benford = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val bexpr = element_at(array(benford.map(lit): _*), $"digit".cast("int"))
    Tables.orders(s, d)
      .select(substring(($"o_totalprice".cast("decimal(18,2)") * 100)
        .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum($"n").over())
      .select($"digit", $"n",
        expr("n * 1000000 div total").as("observed_ppm"),
        bexpr.as("benford_ppm"),
        abs(expr("n * 1000000 div total") - bexpr).as("abs_dev_ppm"))
      .orderBy($"digit")
  }

  val q171Oracle: String =
    """WITH dg AS (
         SELECT CAST(substr(CAST(CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT)
             AS VARCHAR), 1, 1) AS BIGINT) AS digit
         FROM orders),
       c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY 1),
       t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       b AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
               (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
               (9, 45757)) v(digit, benford_ppm))
       SELECT c.digit, n, n * 1000000 // total AS observed_ppm,
         CAST(benford_ppm AS BIGINT) AS benford_ppm,
         abs(n * 1000000 // total - benford_ppm) AS abs_dev_ppm
       FROM c JOIN b ON c.digit = b.digit CROSS JOIN t
       ORDER BY c.digit"""

  /** Deterministic Poisson bootstrap (q167): 5–95% confidence
    * intervals for the per-priority mean order value from B = 32
    * replicates, with NO resampling shuffle — the distributed
    * bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams", Google 2012): classic resampling needs n draws
    * WITH replacement from the whole dataset (a global operation);
    * the Poisson trick gives each ROW an independent Poisson(1)
    * replicate weight, computed scan-side from a hash, so every
    * replicate is a weighted aggregation that partially aggregates
    * like any other — the ×B fan-out never crosses a shuffle wider
    * than (group, b) partials.
    *
    * Determinism contract: the uniform draw is q75's Knuth
    * multiplicative hash on (orderkey·37 + b), inverted to a weight
    * through the cumulative-Poisson(1) thresholds ⌊F(k)·2³²⌋ embedded
    * as shared integer literals (tail ≥ 5 capped at 5, mass 0.37%);
    * replicate means are floor(cents·10/n) in IEEE doubles (< 2⁵³,
    * q139's contract); the CI is ranks 2 and 31 of the 32 ordered
    * replicate means. Same constants both engines → hash-identical. */
  def q167PoissonBootstrap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 32
    val weightSql =
      """CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
              WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
              WHEN u < 4279248373 THEN 4 ELSE 5 END"""
    val base = Tables.orders(s, d)
      .select($"o_orderpriority".as("pri"), $"o_orderkey",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .localCheckpoint() // one scan: point estimate + 32 replicates
    val point = base.groupBy($"pri")
      .agg(count(lit(1)).as("n_total"), sum($"cents").as("sc"))
      .select($"pri", $"n_total",
        floor($"sc" * lit(10.0) / $"n_total").cast("long").as("mean_milli"))
    val reps = base
      .select($"pri", $"o_orderkey", $"cents",
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("u", knuthHash(expr("o_orderkey * 37 + b")) % lit(4294967296L))
      .withColumn("w", expr(weightSql))
      .groupBy($"pri", $"b")
      .agg(sum($"w" * $"cents").as("sc"), sum($"w").as("nw"))
      .filter($"nw" > 0)
      .select($"pri", $"b",
        floor($"sc" * lit(10.0) / $"nw").cast("long").as("rep_milli"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"pri").orderBy($"rep_milli", $"b")))
    val ci = reps.groupBy($"pri").agg(
      count(lit(1)).as("n_reps"),
      max(when($"rk" === 2, $"rep_milli")).as("ci_lo_milli"),
      max(when($"rk" === B - 1, $"rep_milli")).as("ci_hi_milli"))
    point.join(ci, "pri")
      .select($"pri", $"n_total", $"mean_milli",
        $"n_reps", $"ci_lo_milli", $"ci_hi_milli")
      .orderBy($"pri")
  }

  val q167Oracle: String =
    """WITH base AS (
         SELECT o_orderpriority AS pri, o_orderkey,
           CAST(o_totalprice::DECIMAL(18,2) * 100 AS BIGINT) AS cents
         FROM orders),
       pt AS (
         SELECT pri, CAST(count(*) AS BIGINT) AS n_total,
           CAST(floor(CAST(sum(cents) AS DOUBLE) * 10.0 / count(*)) AS BIGINT)
             AS mean_milli
         FROM base GROUP BY 1),
       reps AS (
         SELECT pri, b,
           CAST(floor(CAST(sum(w * cents) AS DOUBLE) * 10.0 / sum(w)) AS BIGINT)
             AS rep_milli
         FROM (
           SELECT pri, cents, b,
             CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
                  WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
                  WHEN u < 4279248373 THEN 4 ELSE 5 END AS w
           FROM (
             SELECT pri, cents, b,
               ((o_orderkey * 37 + b) % 2147483648) * 2654435761 % 4294967296 AS u
             FROM base, unnest(generate_series(0, 31)) AS g(b)))
         GROUP BY 1, 2 HAVING sum(w) > 0),
       rk AS (
         SELECT pri, rep_milli,
           row_number() OVER (PARTITION BY pri ORDER BY rep_milli, b) AS rk
         FROM reps),
       ci AS (
         SELECT pri, CAST(count(*) AS BIGINT) AS n_reps,
           max(CASE WHEN rk = 2 THEN rep_milli END) AS ci_lo_milli,
           max(CASE WHEN rk = 31 THEN rep_milli END) AS ci_hi_milli
         FROM rk GROUP BY 1)
       SELECT pt.pri, n_total, mean_milli, n_reps, ci_lo_milli, ci_hi_milli
       FROM pt JOIN ci ON pt.pri = ci.pri
       ORDER BY pt.pri"""

  /** Two-level aggregation (q162): median-of-medians — per-customer
    * median order value, then the distribution OF those medians per
    * market segment. The nesting is what makes it an operator of its
    * own: a per-entity statistic becomes the input population of a
    * per-group statistic, the standard robust-analytics shape
    * ("typical customer's typical order") that flattening into one agg
    * would silently change (order-weighted vs customer-weighted).
    *
    * Scale shape: level 1 groups on (segment, custkey) — the
    * fine-grain shuffle where each sort buffer holds ONE customer's
    * orders (~10 rows); level 2 re-shuffles only |customers| rows into
    * |segments| exact-percentile buffers. Both levels use the exact
    * interpolated percentile (the q57 cross-engine contract); at
    * extreme scale level 2's exact buffer is the piece you'd swap for
    * q149's mergeable digest. */
  def q162MedianOfMedians(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    Tables.orders(s, d).select($"o_custkey", $"o_totalprice")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_custkey")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        expr("percentile(med, array(0.5, 0.9))").as("pct"),
        min($"med").as("min_med"), max($"med").as("max_med"))
      .select($"c_mktsegment", $"n_cust",
        $"pct"(0).as("med_of_med"), $"pct"(1).as("p90_of_med"),
        $"min_med", $"max_med")
      .orderBy($"c_mktsegment")
  }

  val q162Oracle: String =
    """WITH cm AS (
         SELECT c_mktsegment, o_custkey,
           quantile_cont(o_totalprice, 0.5) AS med
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2)
       SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
         quantile_cont(med, 0.5) AS med_of_med,
         quantile_cont(med, 0.9) AS p90_of_med,
         min(med) AS min_med, max(med) AS max_med
       FROM cm GROUP BY 1 ORDER BY 1"""

  /** KMV set-overlap estimation (q155) — the third leg of the KMV
    * family: q147 sketches one set, q148 proves union mergeability,
    * and this answers INTERSECTION queries from sketches alone. For
    * every lang pair, the union sketch is the k smallest distinct
    * values of the two k-minima buffers (q148's merge); ρ = the share
    * of those union minima present in BOTH per-lang buffers is an
    * unbiased Jaccard estimator (Beyer et al., SIGMOD'07), and
    * |A∩B| ≈ ρ · est(|A∪B|) by inclusion–exclusion. Everything after
    * the per-lang sketches touches 10 pairs × 64 longs — array algebra
    * on broadcast-sized state — while the EXACT intersection audit
    * alongside is the corpus-sized distinct self-join you could not
    * afford at 100 TB (that asymmetry is the point of the sketch).
    *
    * Determinism contract (q147's): fixed hash → the sketches, the
    * union minima, ρ, and both integer estimates are identical in any
    * engine, so the driver hash-compares the estimator state itself;
    * the exact columns audit it. */
  def q155KmvJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    val mink = udaf(new graft.functions.MinKLongs(k))
    val sh = Tables.documents(s, d)
      .select($"lang",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15)).as("h"))
      .localCheckpoint() // one shingle pass feeds sketches + exact audit
    val perLang = sh.groupBy($"lang")
      .agg(mink($"h").as("mins"), countDistinct($"h").as("nd"))
    val dhd = sh.select($"lang", $"h").distinct()
    val inter = dhd.as("x")
      .join(dhd.as("y"), $"x.h" === $"y.h" && $"x.lang" < $"y.lang")
      .groupBy($"x.lang".as("l1"), $"y.lang".as("l2"))
      .agg(count(lit(1)).as("exact_inter"))
    perLang.as("a").join(perLang.as("b"), $"a.lang" < $"b.lang")
      .select($"a.lang".as("l1"), $"b.lang".as("l2"),
        slice(array_sort(array_distinct(concat($"a.mins", $"b.mins"))), 1, k)
          .as("mk"),
        $"a.mins".as("ma"), $"b.mins".as("mb"),
        $"a.nd".as("nd1"), $"b.nd".as("nd2"))
      .select($"l1", $"l2", $"nd1", $"nd2",
        expr(s"try_element_at(mk, $k)").as("kth_min"),
        size(array_intersect(array_intersect($"mk", $"ma"), $"mb"))
          .cast("long").as("overlap_k"))
      .join(inter, Seq("l1", "l2"), "left")
      .select($"l1", $"l2", $"kth_min",
        floor(lit((k - 1).toDouble) * lit(1152921504606846976.0) /* 2^60 */
          / $"kth_min").cast("long").as("est_union"),
        $"overlap_k",
        expr(s"overlap_k * 10000 div $k").as("est_jacc_bp"),
        coalesce($"exact_inter", lit(0L)).as("exact_inter"),
        ($"nd1" + $"nd2" - coalesce($"exact_inter", lit(0L))).as("exact_union"),
        expr("coalesce(exact_inter, 0) * 10000 div (nd1 + nd2 - coalesce(exact_inter, 0))")
          .as("exact_jacc_bp"))
      .orderBy($"l1", $"l2")
  }

  val q155Oracle: String =
    """WITH tk AS (
         SELECT lang, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT lang, unnest(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS s
         FROM tk),
       dh AS (SELECT DISTINCT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
              FROM sh),
       rk AS (SELECT lang, h,
                row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
              FROM dh),
       buf AS (SELECT lang, h FROM rk WHERE rn <= 64),
       nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM dh GROUP BY 1),
       pr AS (SELECT a.lang AS l1, b.lang AS l2, a.nd AS nd1, b.nd AS nd2
              FROM nd a JOIN nd b ON a.lang < b.lang),
       u AS (SELECT DISTINCT pr.l1, pr.l2, buf.h
             FROM pr JOIN buf ON buf.lang = pr.l1 OR buf.lang = pr.l2),
       ur AS (SELECT l1, l2, h,
                row_number() OVER (PARTITION BY l1, l2 ORDER BY h) AS rn
              FROM u),
       uk AS (SELECT l1, l2, h AS kth_min FROM ur WHERE rn = 64),
       ov AS (SELECT ur.l1, ur.l2, CAST(count(*) AS BIGINT) AS overlap_k
              FROM ur
              JOIN buf b1 ON b1.lang = ur.l1 AND b1.h = ur.h
              JOIN buf b2 ON b2.lang = ur.l2 AND b2.h = ur.h
              WHERE ur.rn <= 64 GROUP BY 1, 2),
       iv AS (SELECT x.lang AS l1, y.lang AS l2,
                CAST(count(*) AS BIGINT) AS exact_inter
              FROM dh x JOIN dh y ON x.h = y.h AND x.lang < y.lang
              GROUP BY 1, 2)
       SELECT pr.l1, pr.l2, uk.kth_min,
         CAST(floor(63.0 * 1152921504606846976.0 / uk.kth_min) AS BIGINT)
           AS est_union,
         coalesce(ov.overlap_k, 0) AS overlap_k,
         coalesce(ov.overlap_k, 0) * 10000 // 64 AS est_jacc_bp,
         coalesce(iv.exact_inter, 0) AS exact_inter,
         nd1 + nd2 - coalesce(iv.exact_inter, 0) AS exact_union,
         coalesce(iv.exact_inter, 0) * 10000
           // (nd1 + nd2 - coalesce(iv.exact_inter, 0)) AS exact_jacc_bp
       FROM pr
       LEFT JOIN uk ON uk.l1 = pr.l1 AND uk.l2 = pr.l2
       LEFT JOIN ov ON ov.l1 = pr.l1 AND ov.l2 = pr.l2
       LEFT JOIN iv ON iv.l1 = pr.l1 AND iv.l2 = pr.l2
       ORDER BY pr.l1, pr.l2"""

  /** q-digest mergeable quantile sketch (q149) — the fourth sketch
    * dimension (distinct = KMV q147, heavy hitters = q100, frequency =
    * CMS q127, quantiles = this). Per return flag, the sketch estimates
    * the 25/50/75/95th percentile of l_extendedprice in integer cents
    * over a 2²⁴ universe with compression k = 2048, and the query then
    * audits each estimate EXACTLY: r_le = #{x ≤ est} and r_lt =
    * #{x < est} are counted against the data, and the q-digest theorem
    * (est is an ε-approximate φ-quantile with ε = O(depth/k), any merge
    * order) is pinned as booleans the oracle fixes to TRUE.
    *
    * Scale shape: [[graft.functions.QDigestQuantiles]] partially
    * aggregates — map tasks ship ≤ 3k counters per group instead of the
    * value stream, which is what q57's exact per-group percentile (a
    * global sort per group) cannot do at 100 TB. The audit join is a
    * 12-row broadcast back over one cached scan — the verification
    * pass you run at test scale, while production reads the digest
    * alone. Estimates themselves stay internal: compress points are
    * data-split dependent, so only the exact columns and the
    * always-true bound are cross-engine comparable (q54/q58 contract).
    */
  def q149QdigestQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val depth = 24; val k = 2048
    val phis = Seq(2500, 5000, 7500, 9500)
    val qd = udaf(new graft.functions.QDigestQuantiles(depth, k, phis))
    val base = Tables.lineitem(s, d)
      .select($"l_returnflag",
        ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .localCheckpoint() // one scan feeds the sketch and the exact audit
    val ests = base.groupBy($"l_returnflag")
      .agg(qd($"cents").as("ests"))
      .select($"l_returnflag".as("rf"),
        posexplode($"ests").as(Seq("pos", "est")))
      .select($"rf", element_at(
        array(phis.map(lit): _*), $"pos" + 1).as("phi_bp"), $"est")
    base.join(broadcast(ests), $"l_returnflag" === $"rf")
      .groupBy($"l_returnflag", $"phi_bp")
      .agg(count(lit(1)).as("n"),
        sum(($"cents" <= $"est").cast("long")).as("r_le"),
        sum(($"cents" < $"est").cast("long")).as("r_lt"))
      .select($"l_returnflag", $"phi_bp", $"n",
        // theorem, evaluated exactly: rank(est) brackets the target
        // within the ε·n budget (2·depth·n/k + 2 covers post-merge
        // pre-compress internal counts of up to 2τ on the query path)
        ($"r_le" >= ceil($"n" * $"phi_bp" / lit(10000.0)).cast("long"))
          .as("le_ok"),
        ($"r_lt" <= ($"n" * $"phi_bp" / lit(10000.0)).cast("long")
          + lit(2L * depth) * $"n" / lit(k) + 2L).as("lt_ok"))
      .orderBy($"l_returnflag", $"phi_bp")
  }

  val q149Oracle: String =
    """SELECT l_returnflag, phi_bp, CAST(count(*) AS BIGINT) AS n,
       TRUE AS le_ok, TRUE AS lt_ok
       FROM lineitem CROSS JOIN (VALUES (2500),(5000),(7500),(9500)) p(phi_bp)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Lag-1..7 autocorrelation (ACF) of the daily-revenue series — the
    * time-series health check behind seasonality detection and
    * forecasting-feature selection (a strong lag-7 spike = weekly
    * cycle; all-lags-near-zero = the series is noise and a forecast
    * adds nothing).
    *
    * Parity: the series is whole-dollar daily sums (floor() BEFORE the
    * bigint cast on both sides — Spark's decimal→long cast truncates
    * while DuckDB's rounds, so the floor is load-bearing), centered on
    * the FLOOR mean (one integer division — exact cross-engine, unlike
    * the rational mean). With |y| ≤ ~10⁷ over ~2.4k days, Σy² ≤ ~10¹⁸
    * stays in int64; the final ratio is floor(num·10⁴/den) evaluated in
    * IEEE doubles with an identical expression tree on both sides.
    *
    * Shape: one orders scan → per-day partial agg (~2.4k rows); the
    * unpartitioned ordered window runs over that day-level relation,
    * not the fact table (the q117 histogram argument — at 100 TB the
    * day relation is still tiny because the calendar is). One window
    * pass produces all 7 lag columns; the 7 (num, den) sums reduce to
    * a single row, exploded back to 7 output rows. */
  def q177Acf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lags = 1 to 7
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".as("day"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
    val tot = daily.agg(sum($"x").as("sx"), count(lit(1)).as("n"))
    val y = daily.crossJoin(broadcast(tot))
      .select($"day", ($"x" - expr("sx div n")).as("y"))
    val w = Window.orderBy($"day")
    val lagged = y.select(($"y" +: lags.map(k => lag($"y", k).over(w).as(s"y$k"))): _*)
    val moments = lagged.agg(sum($"y" * $"y").as("den"),
      lags.map(k => sum($"y" * col(s"y$k")).as(s"num$k")): _*)
    moments
      .select(posexplode(array(lags.map(k => col(s"num$k")): _*))
        .as(Seq("pos", "num")), $"den")
      .select(($"pos" + 1).cast("long").as("lag"), $"num", $"den",
        floor($"num" * lit(10000.0) / $"den").cast("long").as("acf_bp"))
      .orderBy($"lag")
  }

  val q177Oracle: String = {
    val lagCols = (1 to 7).map(k => s"lag(y, $k) OVER (ORDER BY day) AS y$k").mkString(", ")
    val numCols = (1 to 7).map(k => s"CAST(sum(y * y$k) AS BIGINT) AS num$k").mkString(", ")
    val arms = (1 to 7).map(k =>
      s"SELECT CAST($k AS BIGINT) AS lag, num$k AS num, den FROM a")
      .mkString(" UNION ALL ")
    s"""WITH daily AS (
         SELECT o_orderdate AS day,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1),
       tot AS (SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS n FROM daily),
       y AS (SELECT day, x - (sx // n) AS y FROM daily CROSS JOIN tot),
       l AS (SELECT y, $lagCols FROM y),
       a AS (SELECT CAST(sum(y * y) AS BIGINT) AS den, $numCols FROM l)
       SELECT lag, num, den,
         CAST(floor(num * 10000.0 / den) AS BIGINT) AS acf_bp
       FROM ($arms) ORDER BY lag"""
  }

  /** Mann–Whitney U rank-sum test (q194), integer-exact: does the
    * n_chars distribution differ between two corpus sources? The
    * nonparametric two-sample location test — the distribution-shift
    * audit you run before believing a per-source quality gap (q31) or
    * after a loader change, where a t-test's normality assumption is
    * unavailable. Works on ranks only, so it is EXACT in int64: ranks
    * are computed per distinct value (average-rank tie handling kept
    * integral by carrying 2·rank), and the output is the doubled rank
    * sums, doubled U statistics, and the tie-correction term
    * Σ(t³−t) — everything a caller needs for the normal approximation,
    * none of the irrational parts. `u2_identity` pins the invariant
    * U_a + U_b = n_a·n_b at 0 — any ranking bug breaks it.
    *
    * Scale shape: one groupBy collapses the corpus to the distinct
    * VALUE relation (bounded by the value domain, not corpus size);
    * the single unpartitioned window runs over that tiny relation, and
    * the final reduce is one row. The corpus-sized stage is only the
    * partial-aggregating groupBy. */
  def q194RankSum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byVal = Tables.documents(s, d)
      .filter($"source".isin("src0", "src1"))
      .groupBy($"n_chars".as("v"))
      .agg(sum(when($"source" === "src0", 1L).otherwise(0L)).as("na"),
        sum(when($"source" === "src1", 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
    byVal
      .withColumn("cnt", $"na" + $"nb")
      .withColumn("less", coalesce(sum($"cnt").over(w), lit(0L)))
      .agg(
        sum($"na").as("n_a"), sum($"nb").as("n_b"),
        sum($"na" * ($"less" * 2 + $"cnt" + 1)).as("r2_a"),
        sum($"nb" * ($"less" * 2 + $"cnt" + 1)).as("r2_b"),
        sum($"cnt" * ($"cnt" - 1) * ($"cnt" + 1)).as("tie_term"))
      .select($"n_a", $"n_b", $"r2_a", $"r2_b",
        ($"r2_a" - $"n_a" * ($"n_a" + 1)).as("u2_a"),
        ($"r2_b" - $"n_b" * ($"n_b" + 1)).as("u2_b"),
        $"tie_term")
      .withColumn("u2_identity",
        $"u2_a" + $"u2_b" - $"n_a" * $"n_b" * 2)
  }

  val q194Oracle: String =
    """WITH f AS (
         SELECT source, n_chars AS v FROM documents
         WHERE source IN ('src0', 'src1')),
       byv AS (
         SELECT v,
           CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS nb
         FROM f GROUP BY v),
       r AS (
         SELECT v, na, nb, na + nb AS cnt,
           CAST(coalesce(sum(na + nb) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS less
         FROM byv),
       a AS (
         SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
           CAST(sum(na * (less * 2 + cnt + 1)) AS BIGINT) AS r2_a,
           CAST(sum(nb * (less * 2 + cnt + 1)) AS BIGINT) AS r2_b,
           CAST(sum(cnt * (cnt - 1) * (cnt + 1)) AS BIGINT) AS tie_term
         FROM r)
       SELECT n_a, n_b, r2_a, r2_b,
         r2_a - n_a * (n_a + 1) AS u2_a,
         r2_b - n_b * (n_b + 1) AS u2_b,
         tie_term,
         (r2_a - n_a * (n_a + 1)) + (r2_b - n_b * (n_b + 1)) - n_a * n_b * 2 AS u2_identity
       FROM a"""

  /** Exact weighted median (q197): per return flag, the smallest price
    * (in cents) at which cumulative quantity-weight crosses half the
    * total — the weighted-percentile primitive (q57 covers unweighted
    * exact, q54/q149 the sketched forms). A weighted median is what
    * "median price per unit SOLD" means, and no built-in covers it:
    * percentile_approx ignores weights unless rows are exploded
    * weight-many times, which multiplies the shuffle by mean(w).
    *
    * Shape (r15): the weighted median is a weighted ORDER STATISTIC —
    * the smallest cents whose cumulative quantity-weight reaches
    * ⌈tot/2⌉ (equivalent to the 2·cum ≥ tot crossing on integers) —
    * so it runs on [[Windows.valuesAtRanks]], the selection engine's
    * weighted generalization: one stats pass (per-flag weight totals +
    * global lo/hi) then log_B(range) scan+histogram passes, no range
    * exchange of the fact at all. The r13 distributed prefix-sum shape
    * (range exchange + offset windows + crossing filter) drew 1.9-2.0 s
    * at sf0.1 across 14 jobs, 11× its DuckDB twin — nearly all of it
    * exchange + sequential-stage overhead this shape never pays; at
    * 100 TB the engine's conditional-sum scans also beat range-
    * exchanging the fact (guide §2.4). The flag domain is discovered
    * by the engine's own groupBy stats pass (a bounded 3-value enum),
    * never assumed. Money is exact: decimal(18,2)·100 → int64 cents on
    * both engines; every narrowing comparison is integer. */
  def q197WeightedMedian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.lineitem(s, d)
      .select($"l_returnflag".as("flag"),
        ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("cents"),
        $"l_quantity".cast("long").as("w"))
    val tb = Windows.valuesAtRanksByKey(rows, $"cents", $"flag",
      n => Seq((n + 1) / 2), weight = $"w")
    tb.counts.keys.toSeq.sorted
      .map(f => (f, tb.bounds(f)(0), tb.counts(f)))
      .toDF("flag", "wmedian_cents", "total_weight")
      .orderBy($"flag")
  }

  val q197Oracle: String =
    """WITH v AS (
         SELECT l_returnflag AS flag,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS cw
         FROM lineitem GROUP BY 1, 2),
       c AS (
         SELECT flag, cents, cw,
           CAST(sum(cw) OVER (PARTITION BY flag ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(cw) OVER (PARTITION BY flag) AS BIGINT) AS tot
         FROM v)
       SELECT flag, CAST(min(cents) AS BIGINT) AS wmedian_cents,
         CAST(max(tot) AS BIGINT) AS total_weight
       FROM c WHERE cum * 2 >= tot GROUP BY flag ORDER BY flag"""

  /** From-scratch HyperLogLog (q198): [[graft.functions.HllLongs]]
    * (p = 12, dense registers, linear-counting small-range fix) run
    * per return flag over hashed part keys, audited against the exact
    * distinct count. q58 trusts Spark's built-in HLL++; this pins OUR
    * register algebra — reduce/merge mergeability is what the spec
    * exercises directly — behind the same cross-engine contract: the
    * oracle can't rebuild an engine-specific sketch, so the comparable
    * columns are the exact count and the error-bound boolean (3σ ≈
    * 4.9% at p = 12) pinned TRUE.
    *
    * Shape: the sketch groupBy partially aggregates (4 KiB of
    * registers per group per map task cross the shuffle — never the
    * key stream); the exact branch is the audit you run at test scale
    * only. */
  def q198HllSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hll = udaf(new graft.functions.HllLongs(12))
    val li = Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_partkey")
    val est = li.select($"l_returnflag", xxhash64($"l_partkey").as("h"))
      .groupBy($"l_returnflag").agg(hll($"h").as("est"))
    val exact = li.distinct()
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n_exact"))
    est.join(exact, "l_returnflag")
      .select($"l_returnflag", $"n_exact",
        (abs($"est" - $"n_exact") * 100 <= $"n_exact" * 5).as("within_5pct"))
      .orderBy($"l_returnflag")
  }

  val q198Oracle: String =
    """SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
       TRUE AS within_5pct
       FROM lineitem GROUP BY 1 ORDER BY 1"""

  /** Bitmap-index audience overlap (q199): month-to-month active-
    * customer overlap for 1995, computed on PACKED BITMAPS — customers
    * bucketed 60 per int64 (bucket = key div 60, bit = key mod 60),
    * one `bit_or` aggregation per (month, bucket), pairwise AND +
    * popcount for the intersection. The roaring-bitmap idea in pure
    * relational algebra: a 150k-customer month compresses to ~2.5k
    * bitmap rows, so the 66 month-pair intersections touch KiBs, not
    * the fact table — the segment-overlap / audience-sizing workhorse.
    * Bit 60-63 stay unused so every packed word is non-negative in
    * both engines.
    *
    * Shape: one orders scan → (month, bucket) bit_or partial agg; the
    * pair join is bucket-aligned (equi-join on bucket, month inequality
    * as residual), and per-month cardinalities come from popcounting
    * the SAME bitmaps (no second distinct pass). Everything after the
    * first agg is bitmap-domain-sized. At 100 TB the bitmap relation
    * is |customers|/60 per month — still tiny next to orders. */
  def q199BitmapOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bm = Tables.orders(s, d)
      .filter(year($"o_orderdate") === 1995)
      .select((month($"o_orderdate")).cast("long").as("m"),
        ($"o_custkey" % 60).cast("int").as("bit"),
        expr("o_custkey div 60").cast("long").as("bucket"))
      .groupBy($"m", $"bucket")
      .agg(expr("bit_or(shiftleft(1L, bit))").as("bits"))
      .localCheckpoint() // feeds per-month counts and both pair sides
    val nm = bm.groupBy($"m").agg(sum(bit_count($"bits")).cast("long").as("n"))
    bm.as("a").join(bm.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.m") < col("b.m"))
      .groupBy(col("a.m").as("m1"), col("b.m").as("m2"))
      .agg(sum(bit_count(col("a.bits").bitwiseAND(col("b.bits"))))
        .cast("long").as("n_both"))
      .join(broadcast(nm.select($"m".as("m1"), $"n".as("n_m1"))), "m1")
      .join(broadcast(nm.select($"m".as("m2"), $"n".as("n_m2"))), "m2")
      .select($"m1", $"m2", $"n_m1", $"n_m2", $"n_both",
        expr("n_both * 10000 div (n_m1 + n_m2 - n_both)").as("jaccard_bp"))
      .orderBy($"m1", $"m2")
  }

  val q199Oracle: String =
    """WITH bm AS (
         SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
           o_custkey // 60 AS bucket,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(o_custkey % 60 AS INTEGER)) AS BIGINT) AS bits
         FROM orders WHERE year(o_orderdate) = 1995
         GROUP BY 1, 2),
       nm AS (SELECT m, CAST(sum(bit_count(bits)) AS BIGINT) AS n FROM bm GROUP BY m),
       pr AS (
         SELECT a.m AS m1, b.m AS m2,
           CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_both
         FROM bm a JOIN bm b ON a.bucket = b.bucket AND a.m < b.m
         GROUP BY 1, 2)
       SELECT m1, m2, x.n AS n_m1, y.n AS n_m2, n_both,
         n_both * 10000 // (x.n + y.n - n_both) AS jaccard_bp
       FROM pr JOIN nm x ON pr.m1 = x.m JOIN nm y ON pr.m2 = y.m
       ORDER BY m1, m2"""

  /** Trimmed and winsorized means (q200): per order priority, the
    * 10%-trimmed mean (drop the bottom and top n/10 order totals) and
    * the 10%-winsorized mean (clamp them to the 10th/90th boundary
    * values) — the robust-location estimators that survive the heavy
    * tails ruining plain averages in spend/latency reporting, exact in
    * integer cents. Trimming is rank arithmetic: lo = n div 10, keep
    * ranks (lo, n−lo]; ties at a boundary are harmless because any
    * tie-break keeps the same VALUE multiset. Winsorizing adds back
    * lo copies of each boundary value. Integer division floors the
    * means (both sides positive).
    *
    * Shape: one window pass per priority partition (rank + count),
    * then conditional partial aggs — no self-joins, no percentile
    * buffers; the window input is the orders relation partitioned 5
    * ways, the natural parallel sort. */
  def q200TrimmedMean(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.orders(s, d)
      .select($"o_orderpriority".as("prio"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val part = Window.partitionBy($"prio")
    val rnW = part.orderBy($"cents")
    v.withColumn("rn", row_number().over(rnW).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .withColumn("lo", expr("n div 10"))
      .groupBy($"prio")
      .agg(max($"n").as("n"),
        sum(when($"rn" > $"lo" && $"rn" <= $"n" - $"lo", $"cents")).as("trim_sum"),
        max(when($"rn" === $"lo" + 1, $"cents")).as("v_lo"),
        max(when($"rn" === $"n" - $"lo", $"cents")).as("v_hi"),
        max($"lo").as("lo"))
      .select($"prio", $"n",
        expr("trim_sum div (n - 2 * lo)").as("trimmed_mean_cents"),
        expr("(trim_sum + lo * v_lo + lo * v_hi) div n").as("winsor_mean_cents"),
        $"v_lo".as("p10_cents"), $"v_hi".as("p90_cents"))
      .orderBy($"prio")
  }

  val q200Oracle: String =
    """WITH v AS (
         SELECT o_orderpriority AS prio,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM orders),
       r AS (
         SELECT prio, cents,
           CAST(row_number() OVER (PARTITION BY prio ORDER BY cents) AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS n
         FROM v),
       a AS (
         SELECT prio, max(n) AS n, max(n) // 10 AS lo,
           CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                         THEN cents END) AS BIGINT) AS trim_sum,
           CAST(max(CASE WHEN rn = n // 10 + 1 THEN cents END) AS BIGINT) AS v_lo,
           CAST(max(CASE WHEN rn = n - n // 10 THEN cents END) AS BIGINT) AS v_hi
         FROM r GROUP BY prio)
       SELECT prio, n,
         trim_sum // (n - 2 * lo) AS trimmed_mean_cents,
         (trim_sum + lo * v_lo + lo * v_hi) // n AS winsor_mean_cents,
         v_lo AS p10_cents, v_hi AS p90_cents
       FROM a ORDER BY prio"""

  /** Join-size estimation by sampling (q206): the self-join size on
    * l_partkey (Σ c_p² — what a planner must know before picking a
    * strategy) estimated two ways against the exact value: KEY
    * sampling (keep every row of 1-in-20 hash-chosen KEYS, scale the
    * sampled Σc² by 20 — unbiased, because a join key's contribution
    * is all-or-nothing) and ROW sampling (keep 1-in-20 hash-chosen
    * ROWS, scale pair counts by 20² = 400 — the estimator textbooks
    * warn about: row thinning hits c² quadratically, so rare keys
    * vanish and the estimate rides the survivors). Both samples are
    * HASH-derived, so the whole query is deterministic cross-engine —
    * no rand(), no pinned-boolean weakening: the oracle reproduces
    * the exact same samples and errors.
    *
    * Shape: one scan → per-key counts (partial agg); each estimator
    * is a filter + 1-row reduce over the count relation. The sample
    * decision rides the scan (hash-mod predicates push down); at
    * 100 TB key-sampling is the one you can evaluate without ever
    * joining. */
  def q206JoinSizeEst(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_partkey".as("k"),
        (hash60(concat_ws("-", $"l_orderkey", $"l_linenumber")) % 20 === 0)
          .as("row_in"))
    val counts = li.groupBy($"k")
      .agg(count(lit(1)).as("c"), sum($"row_in".cast("long")).as("c_samp"))
      .withColumn("key_in", hash60($"k".cast("string")) % 20 === 0)
      .localCheckpoint() // three 1-row reduces read it
    val exact = counts.agg(sum($"c" * $"c").as("exact_size"))
    val keyEst = counts.filter($"key_in")
      .agg((sum($"c" * $"c") * 20).as("key_est"))
    val rowEst = counts.agg((sum($"c_samp" * $"c_samp") * 400).as("row_est"))
    exact.crossJoin(keyEst).crossJoin(rowEst)
      .select($"exact_size", $"key_est", $"row_est",
        expr("abs(key_est - exact_size) * 10000 div exact_size")
          .as("key_err_bp"),
        expr("abs(row_est - exact_size) * 10000 div exact_size")
          .as("row_err_bp"))
  }

  val q206Oracle: String =
    """WITH li AS (
         SELECT l_partkey AS k,
           ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
              CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 20 = 0 AS row_in
         FROM lineitem),
       counts AS (
         SELECT k, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(CASE WHEN row_in THEN 1 ELSE 0 END) AS BIGINT) AS c_samp,
           ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT % 20 = 0 AS key_in
         FROM li GROUP BY k),
       e AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_size FROM counts),
       ke AS (SELECT CAST(sum(c * c) * 20 AS BIGINT) AS key_est
              FROM counts WHERE key_in),
       re AS (SELECT CAST(sum(c_samp * c_samp) * 400 AS BIGINT) AS row_est
              FROM counts)
       SELECT exact_size, key_est, row_est,
         abs(key_est - exact_size) * 10000 // exact_size AS key_err_bp,
         abs(row_est - exact_size) * 10000 // exact_size AS row_err_bp
       FROM e CROSS JOIN ke CROSS JOIN re"""

  /** Weight-of-evidence / information-value screening (q207): decile-
    * bin order totals and score how well the bin separates urgent from
    * non-urgent orders — WOE = ln(good-share / bad-share) per bin, IV =
    * Σ (Δshare · WOE) — credit-scoring's standard univariate feature
    * screen (IV < 0.02 ⇒ the feature is useless, > 0.3 ⇒ strong), the
    * same add-λ-smoothed divergence family as q128's PSI but against a
    * LABEL instead of across time.
    *
    * Parity: deciles are EXACT ntile(10) semantics over a TOTAL order
    * (cents, orderkey — ntile is row_number-based, so the tie-break is
    * the determinism), computed via [[Windows.exactNtileAgg]]'s
    * histogram-rank engine rather than a global row-level window (the
    * cents histogram is bounded by the price range); counts are exact;
    * WOE/IV are the q128 pattern — ONE shared double expression tree
    * (ratios of +1/+10-smoothed int64 counts, one ln, floor to micro)
    * evaluated identically in both engines. Shape: one bounded
    * histogram window + boundary-group ranking for the decile, one
    * partial-agg rollup to 10 rows, IV reduces those. */
  def q207WoeIv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.orders(s, d)
      .select(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"),
        $"o_orderkey",
        ($"o_orderpriority" === "1-URGENT").cast("long").as("bad"))
    val bins = Windows.exactNtileAgg(v, "cents", "o_orderkey", "bad",
        10, descending = false)
      .select($"tile".as("decile"), $"n_t".as("n"), $"y_t".as("n_bad"))
      .withColumn("n_good", $"n" - $"n_bad")
    val tot = bins.agg(sum($"n_good").as("g"), sum($"n_bad").as("b"))
    bins.crossJoin(broadcast(tot))
      .select($"decile", $"n", $"n_bad", $"n_good",
        (($"n_good" + lit(1.0)) / ($"g" + lit(10.0))).as("gs"),
        (($"n_bad" + lit(1.0)) / ($"b" + lit(10.0))).as("bs"))
      .select($"decile", $"n", $"n_bad", $"n_good",
        floor(log($"gs" / $"bs") * lit(1000000.0)).cast("long").as("woe_micro"),
        floor(($"gs" - $"bs") * log($"gs" / $"bs") * lit(1000000.0))
          .cast("long").as("iv_micro"))
      .orderBy($"decile")
  }

  val q207Oracle: String =
    """WITH v AS (
         SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           o_orderkey,
           CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS bad
         FROM orders),
       dec AS (
         SELECT bad,
           CAST(ntile(10) OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS decile
         FROM v),
       bins AS (
         SELECT decile, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bad) AS BIGINT) AS n_bad,
           CAST(count(*) - sum(bad) AS BIGINT) AS n_good
         FROM dec GROUP BY decile),
       tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g,
                      CAST(sum(n_bad) AS BIGINT) AS b FROM bins),
       r AS (
         SELECT decile, n, n_bad, n_good,
           (n_good + 1.0) / (g + 10.0) AS gs,
           (n_bad + 1.0) / (b + 10.0) AS bs
         FROM bins CROSS JOIN tot)
       SELECT decile, n, n_bad, n_good,
         CAST(floor(ln(gs / bs) * 1000000.0) AS BIGINT) AS woe_micro,
         CAST(floor((gs - bs) * ln(gs / bs) * 1000000.0) AS BIGINT) AS iv_micro
       FROM r ORDER BY decile"""

  /** Leave-one-out target encoding (q209): replace a categorical
    * (p_brand) with the mean of the target (l_quantity) over all OTHER
    * rows of the same brand — (Σy − y_i) / (n − 1) — the standard
    * high-cardinality encoder, with the leave-one-out correction that
    * keeps a row's own label out of its feature (plain mean encoding
    * leaks the target and inflates validation scores; LOO is the
    * minimal fix). Micro-unit integer division keeps it exact; n = 1
    * brands fall back to the global mean (the same rule production
    * encoders apply to unseen categories).
    *
    * The per-row encodings are fact-table-sized, so the QUERY output
    * is the per-brand audit: row count, target sum, and the extreme
    * LOO values (the rows whose own y was largest/smallest get the
    * most extreme corrections — min/max pin the whole per-row vector
    * through any regression). Shape: one partial-agg groupBy for the
    * brand sums, broadcast back onto the scan, second partial-agg
    * rollup; no window, no self-join. */
  def q209LooEncoding(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.lineitem(s, d)
      // part scales with SF — no forced broadcast (stats/AQE pick)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"p_brand".as("brand"), $"l_quantity".cast("long").as("y"))
    val g = rows.groupBy($"brand")
      .agg(count(lit(1)).as("n"), sum($"y").as("sum_y"))
    val tot = rows.agg(sum($"y").as("sy"), count(lit(1)).as("cnt"))
      .select(expr("sy * 1000000 div cnt").as("global_micro"))
    rows.join(broadcast(g), "brand").crossJoin(broadcast(tot))
      .withColumn("loo_micro",
        when($"n" > 1, expr("(sum_y - y) * 1000000 div (n - 1)"))
          .otherwise($"global_micro"))
      .groupBy($"brand")
      .agg(max($"n").as("n"), max($"sum_y").as("sum_y"),
        min($"loo_micro").as("loo_min_micro"),
        max($"loo_micro").as("loo_max_micro"))
      .orderBy($"brand")
  }

  val q209Oracle: String =
    """WITH rows_ AS (
         SELECT p_brand AS brand, CAST(l_quantity AS BIGINT) AS y
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       g AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sum_y
             FROM rows_ GROUP BY brand),
       tot AS (SELECT CAST(sum(y) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS global_micro
               FROM rows_),
       loo AS (
         SELECT r.brand, g.n, g.sum_y,
           CASE WHEN g.n > 1 THEN (g.sum_y - r.y) * 1000000 // (g.n - 1)
                ELSE global_micro END AS loo_micro
         FROM rows_ r JOIN g ON r.brand = g.brand CROSS JOIN tot)
       SELECT brand, max(n) AS n, max(sum_y) AS sum_y,
         CAST(min(loo_micro) AS BIGINT) AS loo_min_micro,
         CAST(max(loo_micro) AS BIGINT) AS loo_max_micro
       FROM loo GROUP BY brand ORDER BY brand"""

  /** Gini coefficient of revenue concentration (q211): per market
    * segment, how unequally is customer revenue distributed? G =
    * (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over rank-sorted per-customer
    * totals — the Lorenz-curve summary regulators and marketplaces
    * quote, and (with q175's Pareto/HHI) the third concentration lens.
    * Rank ties are harmless: within a tied value group Σ i·x is
    * invariant under rank permutation, so the orderkey tie-break only
    * fixes determinism, not the answer.
    *
    * Exactness: revenue is floored to whole DOLLARS before ranking —
    * dollars keep num·10⁴ = n·Σx·G·10⁴ within int64 through ~sf100
    * where cents would overflow; everything including the final bp
    * division is integer. Shape: customer totals are one partial agg;
    * the rank window runs over the CUSTOMER relation (not lineitem)
    * partitioned by segment; the moment reduce is 5 rows. */
  def q211Gini(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.orders(s, d)
      // customer scales with SF — no forced broadcast (stats/AQE pick)
      .join(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("seg"), $"o_custkey")
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
    val rk = Window.partitionBy($"seg").orderBy($"x", $"o_custkey")
    cust.withColumn("i", row_number().over(rk).cast("long"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"x").as("sum_x"),
        sum($"i" * $"x").as("rank_wsum"))
      .select($"seg", $"n", $"sum_x",
        expr("(2 * rank_wsum - (n + 1) * sum_x) * 10000 div (n * sum_x)")
          .as("gini_bp"))
      .orderBy($"seg")
  }

  val q211Oracle: String =
    """WITH cust AS (
         SELECT c_mktsegment AS seg, o_custkey,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2),
       r AS (
         SELECT seg, x,
           CAST(row_number() OVER (PARTITION BY seg ORDER BY x, o_custkey) AS BIGINT) AS i
         FROM cust),
       a AS (
         SELECT seg, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(i * x) AS BIGINT) AS rank_wsum
         FROM r GROUP BY seg)
       SELECT seg, n, sum_x,
         (2 * rank_wsum - (n + 1) * sum_x) * 10000 // (n * sum_x) AS gini_bp
       FROM a ORDER BY seg"""

  /** Wilson score intervals (q213): per event type, the share of
    * high-value events (value ≥ 50) with its 95% Wilson CI — the
    * binomial interval that behaves at small n and extreme p where
    * the naive ±z√(p(1−p)/n) Wald interval collapses or escapes
    * [0,1]. This is the closed-form counterpart of q167's bootstrap
    * CI, and the interval A/B dashboards should quote.
    *
    * Parity: counts are exact; center and half-width are ONE shared
    * double expression tree (z = 1.96 as the literal 196/100), floored
    * to ppm on both engines; the q128/q139 shared-IEEE discipline.
    * Bounds are clamped into [0, 10⁶] by construction (Wilson's
    * algebra guarantees it; the floor can only pull inward). Shape:
    * one partial-agg groupBy to |event types| rows; everything else is
    * per-row arithmetic. */
  def q213WilsonCi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.events(s, d)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(($"value" >= 50.0).cast("long")).as("succ"))
    g.select($"event_type", $"n", $"succ",
        expr("succ * 1000000 div n").as("p_ppm"),
        ($"succ" * lit(1.0) / $"n").as("p"), ($"n" * lit(1.0)).as("nd"))
      .withColumn("z2", lit(1.96 * 1.96))
      .withColumn("denom", lit(1.0) + $"z2" / $"nd")
      .withColumn("center", ($"p" + $"z2" / (lit(2.0) * $"nd")) / $"denom")
      .withColumn("hw",
        (lit(1.96) * sqrt($"p" * (lit(1.0) - $"p") / $"nd"
          + $"z2" / (lit(4.0) * $"nd" * $"nd"))) / $"denom")
      .select($"event_type", $"n", $"succ", $"p_ppm",
        floor(($"center" - $"hw") * lit(1000000.0)).cast("long").as("lo_ppm"),
        floor(($"center" + $"hw") * lit(1000000.0)).cast("long").as("hi_ppm"))
      .orderBy($"event_type")
  }

  val q213Oracle: String =
    """WITH g AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS succ
         FROM events GROUP BY event_type),
       e AS (
         SELECT event_type, n, succ,
           succ * 1000000 // n AS p_ppm,
           succ * 1.0 / n AS p, n * 1.0 AS nd,
           1.96 * 1.96 AS z2
         FROM g),
       c AS (
         SELECT event_type, n, succ, p_ppm,
           (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
           (1.96 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)))
             / (1.0 + z2 / nd) AS hw
         FROM e)
       SELECT event_type, n, succ, p_ppm,
         CAST(floor((center - hw) * 1000000.0) AS BIGINT) AS lo_ppm,
         CAST(floor((center + hw) * 1000000.0) AS BIGINT) AS hi_ppm
       FROM c ORDER BY event_type"""

  /** Hill tail-index estimator (q220): over the top k = 100 order
    * totals, H = (1/k)·Σ ln(x_i / x_k) and the tail exponent α = 1/H —
    * the standard answer to "how heavy is this tail?": α < 2 means
    * infinite variance (plan for skew-killing, q87's salting), α > 3
    * means the tail is tame and mean-based capacity planning is safe.
    * Run on spend here; the same estimator profiles file sizes,
    * session lengths, and dedup-cluster sizes before choosing
    * partition strategies.
    *
    * Parity: the top-(k+1) set is deterministic (orderBy value desc,
    * key — TakeOrdered, no global sort); each ln term is floored to
    * micro-nats INDEPENDENTLY (term-wise floors make the sum
    * order-free and integer-exact — the q216 discipline); H and α are
    * integer divisions of that exact sum. x_k is the (k+1)-th value —
    * the threshold ITSELF is excluded from the sum (its term is 0
    * anyway: ln(x_k/x_k)). Shape: one TakeOrdered(101) over the scan,
    * then driver-free arithmetic on 101 rows. */
  def q220HillTail(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 100
    val top = Tables.orders(s, d)
      .select(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"),
        $"o_orderkey")
      .orderBy($"cents".desc, $"o_orderkey")
      .limit(k + 1)
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy($"cents", $"o_orderkey")))
    val xk = ranked.filter($"rn" === 1).select($"cents".as("xk"))
    ranked.filter($"rn" > 1).crossJoin(broadcast(xk))
      .select(floor(log($"cents" * lit(1.0) / $"xk") * lit(1000000.0))
        .cast("long").as("term_micro"), $"xk")
      .agg(count(lit(1)).as("k"), max($"xk").as("xk_cents"),
        sum($"term_micro").as("sum_ln_micro"))
      .select($"k", $"xk_cents", $"sum_ln_micro",
        expr("sum_ln_micro div k").as("hill_micro"),
        expr("1000000000 div (sum_ln_micro div k)").as("alpha_milli"))
  }

  val q220Oracle: String =
    """WITH top AS (
         SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           o_orderkey
         FROM orders ORDER BY cents DESC, o_orderkey LIMIT 101),
       rk AS (
         SELECT cents, o_orderkey,
           row_number() OVER (ORDER BY cents, o_orderkey) AS rn
         FROM top),
       xkv AS (SELECT cents AS xk FROM rk WHERE rn = 1),
       t AS (
         SELECT CAST(floor(ln(cents * 1.0 / xk) * 1000000.0) AS BIGINT) AS term_micro,
           xk
         FROM rk CROSS JOIN xkv WHERE rn > 1),
       a AS (
         SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(xk) AS BIGINT) AS xk_cents,
           CAST(sum(term_micro) AS BIGINT) AS sum_ln_micro
         FROM t)
       SELECT k, xk_cents, sum_ln_micro,
         sum_ln_micro // k AS hill_micro,
         1000000000 // (sum_ln_micro // k) AS alpha_milli
       FROM a"""

  /** Kolmogorov–Smirnov two-sample statistic (q221): D = sup_x |F₁(x)
    * − F₂(x)| between two sources' n_chars distributions — the
    * whole-shape complement to q194's location-sensitive rank test (KS
    * sees variance and shape differences a rank-sum misses; together
    * they are the distribution-shift toolkit). EXACT in integers: the
    * sup runs over the pooled distinct values, and |cum₁·n₂ − cum₂·n₁|
    * is compared as int64 before any division — D_bp is derived from
    * the argmax numerator only at the end. Also emits the classic
    * √((n₁+n₂)/(n₁n₂))-scaled critical value at α = 0.05 (c = 1.358)
    * as a shared-double bp and the reject flag.
    *
    * Shape: the corpus collapses to the per-value count relation
    * (q194's shape); one cumulative window over the value domain; the
    * sup is a 1-row max-reduce. */
  def q221KsTest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byVal = Tables.documents(s, d)
      .filter($"source".isin("src0", "src1"))
      .groupBy($"n_chars".as("v"))
      .agg(sum(when($"source" === "src0", 1L).otherwise(0L)).as("c1"),
        sum(when($"source" === "src1", 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal
      .withColumn("cum1", sum($"c1").over(w))
      .withColumn("cum2", sum($"c2").over(w))
    val tot = cum.agg(max($"cum1").as("n1"), max($"cum2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .agg(max(abs($"cum1" * $"n2" - $"cum2" * $"n1")).as("d_num"),
        max($"n1").as("n1"), max($"n2").as("n2"))
      .select($"n1", $"n2", $"d_num",
        expr("d_num * 10000 div (n1 * n2)").as("d_bp"),
        floor(lit(1.358) * sqrt(($"n1" + $"n2") * lit(1.0) / ($"n1" * $"n2"))
          * lit(10000.0)).cast("long").as("crit_bp"))
      .withColumn("reject", $"d_bp" > $"crit_bp")
  }

  val q221Oracle: String =
    """WITH byv AS (
         SELECT n_chars AS v,
           CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c2
         FROM documents WHERE source IN ('src0', 'src1') GROUP BY v),
       cum AS (
         SELECT v,
           CAST(sum(c1) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
           CAST(sum(c2) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
         FROM byv),
       tot AS (SELECT max(cum1) AS n1, max(cum2) AS n2 FROM cum),
       agg AS (
         SELECT CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
         FROM cum CROSS JOIN tot)
       SELECT n1, n2, d_num,
         d_num * 10000 // (n1 * n2) AS d_bp,
         CAST(floor(1.358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)) * 10000.0) AS BIGINT)
           AS crit_bp,
         d_num * 10000 // (n1 * n2)
           > CAST(floor(1.358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)) * 10000.0) AS BIGINT)
           AS reject
       FROM agg"""

  /** Welch's two-sample t-test (q231): does mean order value differ
    * between URGENT and LOW priority orders? The unequal-variance
    * companion to q194 (rank-sum, location) and q221 (KS, shape) —
    * Welch is the default parametric A/B read-out when group variances
    * and sizes differ, and the Welch–Satterthwaite df is the part
    * naive pooled-t gets wrong.
    *
    * Exactness: the sufficient statistics (n, Σx, Σx²) are EXACT — Σx²
    * in decimal (c² ≤ 3.6e15 × 30k rows overflows int64 at sf0.1) —
    * and both engines evaluate the IDENTICAL parenthesized double tree
    * over them (the shared-IEEE discipline: same nodes, same order ⇒
    * bit-equal doubles ⇒ equal floors). Output floors t and df to
    * milli; means as integer division.
    *
    * Shape: ONE partial-agg scan (conditional aggregation — no
    * groupBy, no shuffle beyond the 1-row reduce); arithmetic on the
    * 1-row result. At 100 TB the scan is the only stage. */
  def q231WelchTtest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .select(($"o_orderpriority" === "1-URGENT").as("g1"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .select($"g1", $"c",
        ($"c".cast("decimal(12,0)") * $"c".cast("decimal(12,0)")).as("c2"))
      .agg(
        sum(when($"g1", 1L).otherwise(0L)).as("n1"),
        sum(when($"g1", $"c")).as("s1"),
        sum(when($"g1", $"c2")).as("q1"),
        sum(when(!$"g1", 1L).otherwise(0L)).as("n2"),
        sum(when(!$"g1", $"c")).as("s2"),
        sum(when(!$"g1", $"c2")).as("q2"))
      .selectExpr(
        "n1", "n2",
        "s1 div n1 AS mean1_cents", "s2 div n2 AS mean2_cents",
        """CAST(floor(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) -
             (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
            sqrt((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
                 (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))) * 1000.0) AS BIGINT)
           AS t_milli""",
        """CAST(floor(
            (((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
              (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))) *
             ((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
              (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)))) /
            (((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) *
              (((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) +
             ((((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) *
              (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))) * 1000.0) AS BIGINT)
           AS df_milli""")
      .withColumn("reject", abs($"t_milli") > 1960L)
  }

  val q231Oracle: String =
    """WITH a AS (
         SELECT
           CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN g1 THEN c END) AS BIGINT) AS s1,
           sum(CASE WHEN g1 THEN CAST(c AS HUGEINT) * c END) AS q1,
           CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN NOT g1 THEN c END) AS BIGINT) AS s2,
           sum(CASE WHEN NOT g1 THEN CAST(c AS HUGEINT) * c END) AS q2
         FROM (
           SELECT o_orderpriority = '1-URGENT' AS g1,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')))
       SELECT n1, n2, s1 // n1 AS mean1_cents, s2 // n2 AS mean2_cents,
         CAST(floor(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) -
             (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
            sqrt((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
                 (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))) * 1000.0) AS BIGINT)
           AS t_milli,
         CAST(floor(
            (((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
              (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))) *
             ((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
              (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)))) /
            (((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) *
              (((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) +
             ((((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) *
              (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))) * 1000.0) AS BIGINT)
           AS df_milli,
         abs(CAST(floor(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) -
             (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
            sqrt((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
                 (((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))) * 1000.0) AS BIGINT)) > 1960
           AS reject
       FROM a"""

  /** Mutual information between two categorical features (q234):
    * MI(segment; nation) over customers, with marginal entropies and
    * the normalized score MI/√(H(x)·H(y)) — the model-free "are these
    * columns related?" screen (q207's WOE/IV is the supervised
    * cousin; this one needs no label). Near-zero NMI here is itself
    * the finding: TPC-H assigns segments independently of nation.
    *
    * Exactness: every term is floored to micro-nats INDEPENDENTLY
    * (term-wise floors ⇒ order-free integer sums, q216's discipline);
    * ln arguments are exact-integer ratios (c_xy·N / c_x·c_y).
    * Zero-count cells contribute nothing and are naturally absent
    * from the joint groupBy.
    *
    * Shape: one partial-agg pass to the |X|·|Y| joint relation (≤125
    * rows regardless of corpus size); margins via window sums OVER
    * THAT RELATION (not re-scans); three 1-row reduces cross-joined.
    * At 100 TB the corpus scan is the only data-sized stage. */
  def q234MutualInfo(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val joint = Tables.customer(s, d)
      .groupBy($"c_mktsegment".as("x"), $"c_nationkey".as("y"))
      .agg(count(lit(1)).as("cxy"))
    val withMargins = joint
      .withColumn("cx", sum($"cxy").over(Window.partitionBy($"x")))
      .withColumn("cy", sum($"cxy").over(Window.partitionBy($"y")))
      .withColumn("n", sum($"cxy").over(Window.partitionBy()))
    val mi = withMargins.select(
      $"n",
      floor((($"cxy".cast("double") / $"n".cast("double")) *
        log(($"cxy".cast("double") * $"n".cast("double")) /
          ($"cx".cast("double") * $"cy".cast("double")))) * lit(1000000.0))
        .cast("long").as("term"))
      .agg(max($"n").as("n"), sum($"term").as("mi_micro"))
    val hx = withMargins.select($"x", $"cx", $"n").distinct()
      .select(floor((-($"cx".cast("double") / $"n".cast("double")) *
        log($"cx".cast("double") / $"n".cast("double"))) * lit(1000000.0))
        .cast("long").as("term"))
      .agg(sum($"term").as("hx_micro"))
    val hy = withMargins.select($"y", $"cy", $"n").distinct()
      .select(floor((-($"cy".cast("double") / $"n".cast("double")) *
        log($"cy".cast("double") / $"n".cast("double"))) * lit(1000000.0))
        .cast("long").as("term"))
      .agg(sum($"term").as("hy_micro"))
    // nullif on the entropy geomean: a degenerate marginal (single
    // segment or single nation ⇒ hx or hy = 0) must yield NULL in BOTH
    // engines — Spark's `div` nulls on zero while DuckDB's `//` raises,
    // so without the shared guard the two diverge on degenerate data
    mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .withColumn("nmi_milli",
        expr("mi_micro * 1000 div nullif(CAST(floor(sqrt(CAST(hx_micro AS DOUBLE) * CAST(hy_micro AS DOUBLE))) AS BIGINT), 0)"))
  }

  val q234Oracle: String =
    """WITH joint AS (
         SELECT c_mktsegment AS x, c_nationkey AS y,
           CAST(count(*) AS BIGINT) AS cxy
         FROM customer GROUP BY 1, 2),
       m AS (
         SELECT x, y, cxy,
           CAST(sum(cxy) OVER (PARTITION BY x) AS BIGINT) AS cx,
           CAST(sum(cxy) OVER (PARTITION BY y) AS BIGINT) AS cy,
           CAST(sum(cxy) OVER () AS BIGINT) AS n
         FROM joint),
       mi AS (
         SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(sum(CAST(floor(((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE)) *
             ln((CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)) /
                (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))) * 1000000.0) AS BIGINT)) AS BIGINT)
             AS mi_micro
         FROM m),
       hx AS (
         SELECT CAST(sum(CAST(floor((-(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)) *
             ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0) AS BIGINT)) AS BIGINT)
             AS hx_micro
         FROM (SELECT DISTINCT x, cx, n FROM m)),
       hy AS (
         SELECT CAST(sum(CAST(floor((-(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) *
             ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0) AS BIGINT)) AS BIGINT)
             AS hy_micro
         FROM (SELECT DISTINCT y, cy, n FROM m))
       SELECT n, mi_micro, hx_micro, hy_micro,
         mi_micro * 1000 // nullif(CAST(floor(sqrt(CAST(hx_micro AS DOUBLE) * CAST(hy_micro AS DOUBLE))) AS BIGINT), 0)
           AS nmi_milli
       FROM mi CROSS JOIN hx CROSS JOIN hy"""

  /** Distributed EXACT median by iterative range narrowing (q238): the
    * classic selection algorithm for data that cannot be globally
    * sorted — each round partitions the live value range into 256
    * equal-width buckets, one partial-agg counting pass finds the
    * bucket containing the target rank, and the range shrinks 256×.
    * ⌈log₂₅₆(range)⌉ passes total (3 here: ~10⁷ cents → 43k → 169 → 1)
    * — each pass a scan + a ≤256-row aggregate, nothing ever sorted,
    * nothing ever collected but the histogram. This is how you take an
    * exact quantile of 100 TB: q57's exact percentile sorts within
    * groups, q54/q149's sketches approximate; this one is exact AND
    * sort-free (the driver loop is the engine's iterative-dataflow
    * idiom, same as q71/q150/q173).
    *
    * The rank convention is the LOWER median k = (n+1) div 2, kept in
    * integers end-to-end; ties need no care (bucket counting is
    * multiplicity-aware by construction). */
  def q238IterativeMedian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = Tables.lineitem(s, d)
      .select(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long").as("c"))
    val (n, mn, mx) = cents.agg(count(lit(1)), min($"c"), max($"c"))
      .as[(Long, Long, Long)].head()
    val k = (n + 1) / 2
    var lo = mn
    var hi = mx
    var below = 0L // exact count of values < lo, maintained across rounds
    while (lo < hi) {
      val width = (hi - lo) / 256 + 1
      val hist = cents.filter($"c" >= lo && $"c" <= hi)
        .groupBy(expr(s"(c - $lo) div $width").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var cum = below
      var b = 0L
      while (cum + hist.getOrElse(b, 0L) < k) {
        cum += hist.getOrElse(b, 0L); b += 1
      }
      below = cum
      lo = lo + b * width
      hi = math.min(hi, lo + width - 1)
    }
    Seq((n, k, lo)).toDF("n", "k", "median_cents")
  }

  val q238Oracle: String =
    """WITH c AS (
         SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
         FROM lineitem),
       t AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST((count(*) + 1) // 2 AS BIGINT) AS k
         FROM c),
       sel AS (
         SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c)
       SELECT n, k,
         (SELECT cents FROM sel WHERE rn = (SELECT k FROM t)) AS median_cents
       FROM t"""

  /** Volume/rate/mix decomposition of a year-over-year revenue change
    * (q244): for each market segment, split Δrevenue (1995 → 1996)
    * into a VOLUME effect (order-count change at the old average order
    * value), a RATE effect (average-value change at the old volume),
    * and the residual INTERACTION — the shift-share arithmetic behind
    * every "why did revenue move?" readout (q203's price indexes are
    * the SKU-level cousin; this is the account-level one).
    *
    * Exactness: revenues in integer cents; volume = (n₁−n₀)·rev₀ div
    * n₀ and rate = (rev₁ div n₁ − rev₀ div n₀)·n₀ are integer
    * divisions (both engines truncate toward zero on these provably
    * non-negative-denominator terms), and interaction is DEFINED as
    * the residual Δrev − volume − rate, so the three effects sum to
    * the exact Δ by construction — truncation dust lands in the
    * interaction term, where shift-share practice puts it anyway.
    *
    * Shape: one orders⋈customer pass collapses to the (segment, year)
    * relation (partial agg); the pivot to per-segment 1995/1996
    * columns and the effect arithmetic run on ≤|segments| rows. */
  def q244MixDecomposition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byYear = Tables.orders(s, d)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .join(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), year($"o_orderdate").as("yr"))
      .agg(count(lit(1)).as("n"),
        sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("rev"))
    byYear.groupBy($"segment")
      .agg(sum(when($"yr" === 1995, $"n")).as("n0"),
        sum(when($"yr" === 1995, $"rev")).as("rev0"),
        sum(when($"yr" === 1996, $"n")).as("n1"),
        sum(when($"yr" === 1996, $"rev")).as("rev1"))
      .select($"segment", $"n0", $"n1", $"rev0", $"rev1",
        ($"rev1" - $"rev0").as("delta"),
        expr("(n1 - n0) * rev0 div n0").as("volume_effect"),
        expr("(rev1 div n1 - rev0 div n0) * n0").as("rate_effect"))
      .withColumn("interaction",
        $"delta" - $"volume_effect" - $"rate_effect")
      .orderBy($"segment")
  }

  val q244Oracle: String =
    """WITH byyear AS (
         SELECT c_mktsegment AS segment, year(o_orderdate) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS rev
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE year(o_orderdate) IN (1995, 1996)
         GROUP BY 1, 2),
       piv AS (
         SELECT segment,
           CAST(sum(CASE WHEN yr = 1995 THEN n END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN yr = 1995 THEN rev END) AS BIGINT) AS rev0,
           CAST(sum(CASE WHEN yr = 1996 THEN n END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN yr = 1996 THEN rev END) AS BIGINT) AS rev1
         FROM byyear GROUP BY segment)
       SELECT segment, n0, n1, rev0, rev1,
         rev1 - rev0 AS delta,
         (n1 - n0) * rev0 // n0 AS volume_effect,
         (rev1 // n1 - rev0 // n0) * n0 AS rate_effect,
         (rev1 - rev0) - ((n1 - n0) * rev0 // n0)
           - ((rev1 // n1 - rev0 // n0) * n0) AS interaction
       FROM piv ORDER BY segment"""

  /** CUPED variance reduction (q245): adjust each customer's 1996
    * spend by their 1995 (pre-period) spend — ŷᵢ = yᵢ − θ(xᵢ − x̄),
    * θ = cov(x,y)/var(x) — and report how much metric variance the
    * covariate removes (ρ², the maximum CUPED can deliver). The
    * standard experimentation-platform trick: a pre-period covariate
    * shrinks A/B confidence intervals by 1/(1−ρ²) with zero bias.
    * Read with q231 (the test CUPED would then sharpen).
    *
    * Exactness: per-customer yearly spends collapse to integer
    * DOLLARS (cents div 100 — Σx² must clear int64 at 100 TB scale
    * too); all five moments are exact int64; θ and ρ² are ONE shared
    * IEEE tree over them, floored to micro/bp. Customers missing a
    * year count as 0 spend (the left-join-coalesce is part of the
    * estimand: "no orders" is a real pre-period value).
    *
    * Shape: one orders pass → (custkey, year) partial agg → customer
    * pivot; the moments are a second 1-row partial agg; no window, no
    * sort. */
  def q245Cuped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spend = Tables.orders(s, d)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .groupBy($"o_custkey", year($"o_orderdate").as("yr"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .groupBy($"o_custkey")
      .agg(expr("coalesce(sum(CASE WHEN yr = 1995 THEN c END), 0) div 100").as("x"),
        expr("coalesce(sum(CASE WHEN yr = 1996 THEN c END), 0) div 100").as("y"))
    spend.agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .selectExpr("n", "sx", "sy",
        // every product is formed in DOUBLE (int64 n·Σxy would overflow
        // at scale); both engines evaluate the identical tree
        """CAST(floor(1000000.0 *
             ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
           AS BIGINT) AS theta_micro""",
        """CAST(floor(10000.0 *
             (((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
              ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
               (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))))
           AS BIGINT) AS rho2_bp""")
  }

  val q245Oracle: String =
    """WITH spend AS (
         SELECT o_custkey,
           coalesce(sum(CASE WHEN year(o_orderdate) = 1995
             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) // 100
             AS x,
           coalesce(sum(CASE WHEN year(o_orderdate) = 1996
             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) // 100
             AS y
         FROM orders WHERE year(o_orderdate) IN (1995, 1996)
         GROUP BY o_custkey),
       m AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
         FROM spend)
       SELECT n, sx, sy,
         CAST(floor(1000000.0 *
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
           AS BIGINT) AS theta_micro,
         CAST(floor(10000.0 *
           (((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
            ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))))
           AS BIGINT) AS rho2_bp
       FROM m"""

  /** Monthly order→ship latency percentile trend (q250): p50/p90/p99
    * of days-to-ship per order month — the SLA trend report. The
    * scalable exact-percentile shape: the fact table collapses to the
    * (month, latency-days) COUNT relation first (partial agg), and
    * the percentile is the cumulative-count crossing value over that
    * domain-bounded relation (q197/q117's discipline — the window
    * sees |months|×|distinct latencies| rows, never the fact table;
    * latencies are bounded days, so this holds at any scale). Rank
    * convention: smallest value with cum·100 ≥ n·P (the inverted-CDF
    * / type-1 quantile), exact in integers.
    *
    * Negative latencies (the generator's ship-before-order rows,
    * q240's NONE population) are REPORTED, not dropped: min_days in
    * the output keeps the audit honest. */
  def q250LatencyTrend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lat = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select(date_format($"o_orderdate", "yyyy-MM").as("month"),
        datediff(to_date($"l_shipdate"), to_date($"o_orderdate")).cast("long")
          .as("days"))
      .groupBy($"month", $"days").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"month").orderBy($"days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lat
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(Window.partitionBy($"month")))
      .groupBy($"month")
      .agg(max($"n").as("n_items"),
        min($"days").as("min_days"),
        min(when($"cum" * 100 >= $"n" * 50, $"days")).as("p50_days"),
        min(when($"cum" * 100 >= $"n" * 90, $"days")).as("p90_days"),
        min(when($"cum" * 100 >= $"n" * 99, $"days")).as("p99_days"))
      .orderBy($"month")
  }

  val q250Oracle: String =
    """WITH lat AS (
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(datediff('day', CAST(o_orderdate AS DATE),
             CAST(l_shipdate AS DATE)) AS BIGINT) AS days,
           CAST(count(*) AS BIGINT) AS c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2),
       cc AS (
         SELECT month, days, c,
           CAST(sum(c) OVER (PARTITION BY month ORDER BY days
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(c) OVER (PARTITION BY month) AS BIGINT) AS n
         FROM lat)
       SELECT month, max(n) AS n_items,
         min(days) AS min_days,
         min(CASE WHEN cum * 100 >= n * 50 THEN days END) AS p50_days,
         min(CASE WHEN cum * 100 >= n * 90 THEN days END) AS p90_days,
         min(CASE WHEN cum * 100 >= n * 99 THEN days END) AS p99_days
       FROM cc GROUP BY month ORDER BY month"""

  /** Per-brand log-log price-elasticity regression (q253): for every
    * brand, the least-squares slope of ln(monthly quantity) on
    * ln(monthly unit price) across its month series — grouped
    * regression (REGR_SLOPE per key), the workhorse of pricing and
    * demand analysis. TPC-H prices don't drive quantities, so slopes
    * near zero ARE the expected finding; the operator under test is
    * the grouped exact-moment regression, not the economics.
    *
    * Exactness: unit price = integer division of cents by quantity;
    * both lns floor to micro-nats (one shared double op each, q134's
    * discipline); per-brand moment sums are exact int64; slope and r
    * form every product in DOUBLE (n·Σxy brushes int64 at this
    * magnitude — q245's rule). Months with zero quantity cannot occur
    * (a month row exists only if lineitems exist).
    *
    * Shape: one partial-agg pass to (brand, month); a second to the
    * per-brand moment row; closed-form per brand. Nothing bigger than
    * |brands|×|months| after the first agg. */
  def q253Elasticity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand".as("brand"),
        date_format($"l_shipdate", "yyyy-MM").as("month"))
      .agg(sum($"l_quantity".cast("long")).as("q"),
        sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"))
          .as("rev"))
      .select($"brand",
        floor(log(expr("CAST(rev div q AS DOUBLE)")) * lit(1000000.0))
          .cast("long").as("x"),
        floor(log($"q".cast("double")) * lit(1000000.0)).cast("long").as("y"))
    monthly.groupBy($"brand")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .filter($"n" >= 12L)
      .selectExpr("brand", "n AS n_months",
        """CAST(floor(1000.0 *
             ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
           AS BIGINT) AS slope_milli""",
        """CAST(floor(10000.0 *
             ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
               sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))))
           AS BIGINT) AS r_bp""")
      .orderBy($"brand")
  }

  val q253Oracle: String =
    """WITH monthly AS (
         SELECT p_brand AS brand, strftime(l_shipdate, '%Y-%m') AS month,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS rev
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2),
       xy AS (
         SELECT brand,
           CAST(floor(ln(CAST(rev // q AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
           CAST(floor(ln(CAST(q AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
         FROM monthly),
       m AS (
         SELECT brand, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
         FROM xy GROUP BY brand)
       SELECT brand, n AS n_months,
         CAST(floor(1000.0 *
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
           AS BIGINT) AS slope_milli,
         CAST(floor(10000.0 *
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))))
           AS BIGINT) AS r_bp
       FROM m WHERE n >= 12 ORDER BY brand"""

  /** Two-proportion z-test on funnel conversion between cohorts
    * (q255): does the view→click rate differ between even and odd
    * user ids? The A/B read-out for RATES, completing the test
    * toolkit (q231 Welch for means, q194/q221 for distributions,
    * q213 for single-proportion CIs): pooled z = (p̂₁−p̂₂)/√(p̂(1−p̂)
    * (1/n₁+1/n₂)). Cohort by user-id parity is the determinist
    * stand-in for an experiment assignment column.
    *
    * Exactness: stage counts are exact (q72's strict event-time
    * gates, evaluated per cohort in ONE pass via conditional
    * aggregation); rates in integer bp; z is one shared IEEE tree
    * over the four counts, floored to milli; |z| > 1.96 reject flag
    * compares in integers.
    *
    * Shape: the funnel's per-user min-reduces (two partial aggs +
    * broadcast semi-gates) then a 1-row reduce — the cohort split
    * adds a projection, not a pass. */
  def q255FunnelZtest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val c = e.join(v, "user_id")
      // bounded conversion: click within ONE HOUR of the first view —
      // unbounded "ever clicks" saturates at p=1 here, which zeroes the
      // pooled-variance denominator (and answers a useless question)
      .filter($"event_type" === "click" && $"us" > $"t1" &&
        $"us" <= $"t1" + 3600000000L)
      .groupBy($"user_id").agg(min($"us").as("t2"))
    v.join(c, Seq("user_id"), "left")
      .select(($"user_id" % 2 === 0).as("even"), $"t2".isNotNull.as("conv"))
      .agg(
        sum(when($"even", 1L).otherwise(0L)).as("n1"),
        sum(when($"even" && $"conv", 1L).otherwise(0L)).as("k1"),
        sum(when(!$"even", 1L).otherwise(0L)).as("n2"),
        sum(when(!$"even" && $"conv", 1L).otherwise(0L)).as("k2"))
      .selectExpr("n1", "k1", "n2", "k2",
        "10000 * k1 div n1 AS rate1_bp", "10000 * k2 div n2 AS rate2_bp",
        """CAST(floor(1000.0 *
             ((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
             sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
                  (1.0 - (CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))) *
                  ((1.0 / CAST(n1 AS DOUBLE)) + (1.0 / CAST(n2 AS DOUBLE)))))
           AS BIGINT) AS z_milli""")
      .withColumn("reject", abs($"z_milli") > 1960L)
  }

  val q255Oracle: String =
    """WITH e AS (
         SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       v AS (
         SELECT user_id, min(us) AS t1 FROM e
         WHERE event_type = 'view' GROUP BY 1),
       c AS (
         SELECT e.user_id, min(us) AS t2 FROM e JOIN v USING (user_id)
         WHERE event_type = 'click' AND us > t1 AND us <= t1 + 3600000000
         GROUP BY 1),
       j AS (
         SELECT v.user_id % 2 = 0 AS even, c.user_id IS NOT NULL AS conv
         FROM v LEFT JOIN c ON v.user_id = c.user_id),
       a AS (
         SELECT
           CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN even AND conv THEN 1 ELSE 0 END) AS BIGINT) AS k1,
           CAST(sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN NOT even AND conv THEN 1 ELSE 0 END) AS BIGINT) AS k2
         FROM j)
       SELECT n1, k1, n2, k2,
         10000 * k1 // n1 AS rate1_bp, 10000 * k2 // n2 AS rate2_bp,
         CAST(floor(1000.0 *
           ((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
           sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
                (1.0 - (CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))) *
                ((1.0 / CAST(n1 AS DOUBLE)) + (1.0 / CAST(n2 AS DOUBLE)))))
           AS BIGINT) AS z_milli,
         abs(CAST(floor(1000.0 *
           ((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
           sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) *
                (1.0 - (CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))) *
                ((1.0 / CAST(n1 AS DOUBLE)) + (1.0 / CAST(n2 AS DOUBLE)))))
           AS BIGINT)) > 1960 AS reject
       FROM a"""

  /** One-way ANOVA across order priorities (q262): does mean order
    * value differ across the five priority classes? F = (SSB/(k−1)) /
    * (SSW/(N−k)) plus the effect size η² = SSB/SST — the k-group
    * generalization of q231's two-sample Welch (classic equal-variance
    * ANOVA here; with five near-equal groups the robustness caveat is
    * moot and the operator under test is the grouped-moment algebra).
    *
    * Exactness: per-group (n, Σx, Σx²) are exact (dollars; Σx² in
    * decimal for scale headroom); the cross-group reduction
    * Σ_g (Σx_g)²/n_g uses TERM-WISE milli floors (order-free integer
    * sum — five doubles summed in engine-dependent order would not be
    * bit-stable); F and η² are one shared IEEE tree over those exact
    * pieces.
    *
    * Shape: one partial-agg pass to k group rows, one 1-row reduce
    * over them. */
  def q262Anova(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val groups = Tables.orders(s, d)
      .select($"o_orderpriority".as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100")
          .as("x"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"x").as("s"),
        sum($"x".cast("decimal(14,0)") * $"x".cast("decimal(14,0)")).as("q"))
      .select($"n", $"s", $"q",
        // whole-dollar^2 units: the milli scaling overflowed int64 at
        // sf0.1 (s^2/n ~ 7e14 already); the F ratio is scale-free
        floor(($"s".cast("double") * $"s".cast("double")) /
          $"n".cast("double")).cast("long").as("t_d2"))
    groups
      .agg(count(lit(1)).as("k"), sum($"n").as("n_total"),
        sum($"s").as("s_total"), sum($"q".cast("decimal(28,0)")).as("q_total"),
        sum($"t_d2").as("sum_t"))
      .selectExpr("k", "n_total",
        """CAST(floor(1000.0 *
             (((CAST(sum_t AS DOUBLE) - (CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)) / CAST(n_total AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)) /
              ((CAST(q_total AS DOUBLE) - CAST(sum_t AS DOUBLE)) / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)))))
           AS BIGINT) AS f_milli""",
        """CAST(floor(10000.0 *
             ((CAST(sum_t AS DOUBLE) - (CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)) / CAST(n_total AS DOUBLE)) /
              (CAST(q_total AS DOUBLE) - (CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)) / CAST(n_total AS DOUBLE))))
           AS BIGINT) AS eta2_bp""")
  }

  val q262Oracle: String =
    """WITH g AS (
         SELECT o_orderpriority AS g,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS x
         FROM orders),
       grp AS (
         SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
           sum(CAST(x AS HUGEINT) * x) AS q
         FROM g GROUP BY g),
       t AS (
         SELECT n, s, q,
           CAST(floor((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) /
             CAST(n AS DOUBLE)) AS BIGINT) AS t_d2
         FROM grp),
       a AS (
         SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,
           CAST(sum(s) AS BIGINT) AS s_total, sum(q) AS q_total,
           CAST(sum(t_d2) AS BIGINT) AS sum_t
         FROM t)
       SELECT k, n_total,
         CAST(floor(1000.0 *
           (((CAST(sum_t AS DOUBLE) - (CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)) / CAST(n_total AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)) /
            ((CAST(q_total AS DOUBLE) - CAST(sum_t AS DOUBLE)) / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)))))
           AS BIGINT) AS f_milli,
         CAST(floor(10000.0 *
           ((CAST(sum_t AS DOUBLE) - (CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)) / CAST(n_total AS DOUBLE)) /
            (CAST(q_total AS DOUBLE) - (CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)) / CAST(n_total AS DOUBLE))))
           AS BIGINT) AS eta2_bp
       FROM a"""

  /** Two-proportion power analysis (q290): the sample size an A/B test
    * needs PER ARM to detect a 10% relative lift in each segment's
    * urgent-order share at alpha = 0.05 (two-sided) and 80% power —
    * the forward-planning complement of q255's z-test (q255 judges a
    * finished experiment; this sizes the next one from the observed
    * baseline). n = (z_a*sqrt(2*pbar*qbar) + z_b*sqrt(p1*q1 + p2*q2))^2
    * / (p2 - p1)^2, z_a = 1.959964, z_b = 0.841621.
    *
    * Determinism: baselines are exact int64 counts from ONE partial-agg
    * pass over orders (joined to the broadcast customer dim); the
    * double formula is the SAME IEEE expression tree on both engines
    * (sqrt/mult/div are correctly rounded; no pow, no libm ln), then
    * ceil once to an integer row count. p2 = 1.1*p1 stays < 1 for any
    * baseline below 90.9% — urgent shares sit near 20%. */
  def q290PowerAnalysis(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    val st = Tables.orders(s, d)
      // customer scales with SF — no forced broadcast (stats/AQE pick)
      .join(dim, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        count(when($"o_orderpriority" === "1-URGENT", lit(1))).as("n_urgent"))
    st.select($"segment", $"n_orders", $"n_urgent",
        expr("(1000000 * n_urgent) div n_orders").as("p1_ppm"),
        expr("""CAST(ceil(
          (1.959964 * sqrt(2.0 * ((CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0) * (1.0 - (CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0))
           + 0.841621 * sqrt(CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - CAST(n_urgent AS DOUBLE) / n_orders)
                             + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - 1.1 * CAST(n_urgent AS DOUBLE) / n_orders)))
          * (1.959964 * sqrt(2.0 * ((CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0) * (1.0 - (CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0))
           + 0.841621 * sqrt(CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - CAST(n_urgent AS DOUBLE) / n_orders)
                             + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - 1.1 * CAST(n_urgent AS DOUBLE) / n_orders)))
          / ((0.1 * CAST(n_urgent AS DOUBLE) / n_orders) * (0.1 * CAST(n_urgent AS DOUBLE) / n_orders))
        ) AS BIGINT)""").as("n_per_arm"))
      .orderBy($"segment")
  }

  val q290Oracle: String =
    """WITH st AS (
         SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS n_urgent
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1)
       SELECT segment, n_orders, n_urgent,
         (1000000 * n_urgent) // n_orders AS p1_ppm,
         CAST(ceil(
           (1.959964 * sqrt(2.0 * ((CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0) * (1.0 - (CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0))
            + 0.841621 * sqrt(CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - CAST(n_urgent AS DOUBLE) / n_orders)
                              + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - 1.1 * CAST(n_urgent AS DOUBLE) / n_orders)))
           * (1.959964 * sqrt(2.0 * ((CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0) * (1.0 - (CAST(n_urgent AS DOUBLE) / n_orders + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders) / 2.0))
            + 0.841621 * sqrt(CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - CAST(n_urgent AS DOUBLE) / n_orders)
                              + 1.1 * CAST(n_urgent AS DOUBLE) / n_orders * (1.0 - 1.1 * CAST(n_urgent AS DOUBLE) / n_orders)))
           / ((0.1 * CAST(n_urgent AS DOUBLE) / n_orders) * (0.1 * CAST(n_urgent AS DOUBLE) / n_orders))
         ) AS BIGINT) AS n_per_arm
       FROM st ORDER BY segment"""

  /** Continuous-metric MDE planner (q367): q290 sizes a PROPORTION
    * test; this is its companion for the revenue-type metric every
    * commerce experiment actually ships — per-customer 1996 spend.
    * From one pass of sufficient statistics (n, Σc, Σc² — the square
    * sums in DECIMAL/HUGEINT so the variance is exact-integer until
    * the final formula), emit the two planning curves every platform
    * power page shows: the minimum detectable effect at a grid of
    * per-arm sample sizes (absolute cents and relative bp of the
    * mean), and the per-arm n required for a grid of relative MDEs.
    * α = 0.05 two-sided, power = 0.8: z-sum 1.959964 + 0.841621 =
    * 2.801585 (same constants as q290), MDE(n) = z·√(2σ²/n),
    * n(Δ) = ⌈2σ²z²/Δ²⌉.
    *
    * Parity: mean/var are materialized ONCE as doubles from exact
    * integer sums (q231 staging); each grid cell is a single IEEE
    * expression floored (or ceil'd) once — identical trees both
    * engines. Shape: fact scan → per-customer agg → 1 sufficient-stat
    * row → literal 4-element grids; output is 12 rows regardless of
    * data size. */
  def q367MdePlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.orders(s, d)
      .filter(year($"o_orderdate") === 1996)
      .groupBy($"o_custkey")
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .select($"c", ($"c".cast("decimal(12,0)") * $"c".cast("decimal(12,0)")).as("c2"))
    val st = c.agg(count(lit(1)).as("n"), sum($"c").as("s1"), sum($"c2").as("s2"))
    val m = st.selectExpr(
      "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean",
      """(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         / (CAST(n AS DOUBLE) - 1.0) AS var""")
    val nGrid = "explode(array(1000, 10000, 100000, 1000000))"
    val bpGrid = "explode(array(100, 200, 500, 1000))"
    val atN = m.select($"mean", $"var", expr(nGrid).as("g"))
    val mdeCents = atN.selectExpr("'mde_cents_at_n' AS kind", "CAST(g AS BIGINT) AS param",
      "CAST(floor(2.801585 * sqrt(2.0 * var / CAST(g AS DOUBLE))) AS BIGINT) AS value")
    val mdeBp = atN.selectExpr("'mde_bp_at_n' AS kind", "CAST(g AS BIGINT) AS param",
      "CAST(floor(10000.0 * 2.801585 * sqrt(2.0 * var / CAST(g AS DOUBLE)) / mean) AS BIGINT) AS value")
    val nFor = m.select($"mean", $"var", expr(bpGrid).as("g"))
      .selectExpr("'n_for_mde_bp' AS kind", "CAST(g AS BIGINT) AS param",
        """CAST(ceil(2.0 * var * 2.801585 * 2.801585
           / (mean * CAST(g AS DOUBLE) / 10000.0) / (mean * CAST(g AS DOUBLE) / 10000.0)) AS BIGINT) AS value""")
    mdeCents.unionByName(mdeBp).unionByName(nFor)
      .orderBy($"kind", $"param")
  }

  val q367Oracle: String =
    """WITH c AS (
         SELECT o_custkey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
         FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
       st AS (
         SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s1,
           sum(CAST(c AS HUGEINT) * c) AS s2
         FROM c),
       m AS (
         SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1.0) AS var
         FROM st),
       a AS (
         SELECT 'mde_cents_at_n' AS kind, CAST(g AS BIGINT) AS param,
           CAST(floor(2.801585 * sqrt(2.0 * var / CAST(g AS DOUBLE))) AS BIGINT) AS value
         FROM m, (SELECT unnest([1000, 10000, 100000, 1000000]) AS g)
         UNION ALL
         SELECT 'mde_bp_at_n', CAST(g AS BIGINT),
           CAST(floor(10000.0 * 2.801585 * sqrt(2.0 * var / CAST(g AS DOUBLE)) / mean) AS BIGINT)
         FROM m, (SELECT unnest([1000, 10000, 100000, 1000000]) AS g)
         UNION ALL
         SELECT 'n_for_mde_bp', CAST(g AS BIGINT),
           CAST(ceil(2.0 * var * 2.801585 * 2.801585
             / (mean * CAST(g AS DOUBLE) / 10000.0) / (mean * CAST(g AS DOUBLE) / 10000.0)) AS BIGINT)
         FROM m, (SELECT unnest([100, 200, 500, 1000]) AS g))
       SELECT kind, param, value FROM a ORDER BY kind, param"""


  /** Unbiased pass@k estimator (q374, Chen et al. 2021's Codex
    * formula): given per-problem sufficient counts (n samples drawn,
    * c successes), pass@k = 1 − C(n−c,k)/C(n,k) — the probability at
    * least one of k drawn samples succeeds, computed WITHOUT bias
    * from the naive 1−(1−c/n)^k. The eval-harness aggregation every
    * LLM codegen report runs; here problems = customers with ≥ 10
    * orders, samples = their orders, success = urgent priority (any
    * (problem, n, c) relation slots in). The binomial ratio is the
    * telescoping product Π_{i<k} (n−c−i)/(n−i), folded LEFT in
    * doubles — Spark's `aggregate` HOF from init 1.0 and DuckDB's
    * `list_reduce` produce the identical IEEE product (1.0·t₀ = t₀
    * exactly) — with the n−c < k degenerate case pinned to 1 before
    * any arithmetic. Per-problem values floor to micro once, then
    * only integer sums.
    *
    * Shape: one fact-scan partial agg → |problems| rows → ×3 k-grid →
    * 3-row rollup. */
  def q374PassAtK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = Tables.orders(s, d).groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"),
        count(when($"o_orderpriority" === "1-URGENT", lit(1))).as("c"))
      .filter($"n" >= 10)
    p.select($"n", $"c",
        explode(expr("array(CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(10 AS BIGINT))")).as("k"))
      .withColumn("pass_micro", expr(
        """CASE WHEN n - c < k THEN CAST(1000000 AS BIGINT)
           ELSE CAST(floor((1.0 - aggregate(sequence(CAST(0 AS BIGINT), k - 1),
             CAST(1.0 AS DOUBLE),
             (a, i) -> a * CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE))) * 1000000.0) AS BIGINT) END"""))
      .groupBy($"k")
      .agg(count(lit(1)).as("n_problems"),
        expr("sum(pass_micro) div count(1)").as("mean_pass_micro"),
        sum(when($"pass_micro" === 1000000L, 1L).otherwise(0L)).as("n_certain"))
      .orderBy($"k")
  }

  val q374Oracle: String =
    """WITH p AS (
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
           CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS c
         FROM orders GROUP BY 1 HAVING count(*) >= 10),
       pk AS (
         SELECT o_custkey, n, c, CAST(k AS BIGINT) AS k,
           CASE WHEN n - c < k THEN CAST(1000000 AS BIGINT)
                ELSE CAST(floor((1.0 - list_reduce(
                  list_transform(range(0, CAST(k AS INTEGER)),
                    i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
                  (a, b) -> a * b)) * 1000000.0) AS BIGINT) END AS pass_micro
         FROM p, (SELECT unnest([1, 5, 10]) AS k))
       SELECT k, CAST(count(*) AS BIGINT) AS n_problems,
         CAST(sum(pass_micro) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_pass_micro,
         CAST(sum(CASE WHEN pass_micro = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_certain
       FROM pk GROUP BY 1 ORDER BY k"""

  /** Best-of-n expected-reward curve (q378): if a selector draws k of
    * a problem's n candidate samples (uniformly, without replacement)
    * and keeps the best, what reward does it expect? The BoN scaling
    * curve every reward-model / inference-compute report plots —
    * computed EXACTLY from order statistics, no resampling:
    * E[max of k] = Σ_{i≥k} r₍ᵢ₎ · C(i−1,k−1)/C(n,k), with the weight
    * as the telescoping product (k/n)·Π_{j<k−1} (i−1−j)/(n−1−j)
    * (q374's left-fold HOF — identical IEEE on both engines).
    * Problems = customers with ≥ 16 orders, rewards = order cents,
    * k ∈ {1, 4, 16}; k = 1 reads back the plain mean, k = n the max.
    * Each term floors to milli-cents BEFORE summing so the
    * per-problem reduction is integer and order-free.
    *
    * Shape: per-problem ranks are a customer-partitioned window (the
    * natural partitioning — never global); the k-grid triples the
    * ranked relation; two keyed rollups end it. */
  def q378BestOfN(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = Tables.orders(s, d).select($"o_custkey", $"o_orderkey",
      ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("r"))
    val sized = p.groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .filter($"n" >= 16)
    val ranked = p.join(sized, "o_custkey")
      .withColumn("i", row_number().over(Window.partitionBy($"o_custkey")
        .orderBy($"r", $"o_orderkey")).cast("long"))
    val terms = ranked.select($"o_custkey", $"n", $"r", $"i",
        explode(expr("array(CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(16 AS BIGINT))")).as("k"))
      .filter($"i" >= $"k")
      .withColumn("term_milli", expr(
        """CAST(floor(1000.0 * r *
             CASE WHEN k = 1 THEN 1.0 / n
                  ELSE CAST(k AS DOUBLE) / n * aggregate(sequence(CAST(0 AS BIGINT), k - 2),
                    CAST(1.0 AS DOUBLE),
                    (a, j) -> a * CAST(i - 1 - j AS DOUBLE) / CAST(n - 1 - j AS DOUBLE))
             END) AS BIGINT)"""))
    terms.groupBy($"o_custkey", $"k").agg(sum($"term_milli").as("bon_milli"))
      .groupBy($"k").agg(count(lit(1)).as("n_problems"),
        expr("sum(bon_milli) div (1000 * count(1))").as("mean_bon_cents"))
      .orderBy($"k")
  }

  val q378Oracle: String =
    """WITH p AS (
         SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
         FROM orders),
       sized AS (
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM p
         GROUP BY 1 HAVING count(*) >= 16),
       ranked AS (
         SELECT p.o_custkey, sized.n, p.r,
           CAST(row_number() OVER (PARTITION BY p.o_custkey ORDER BY p.r, p.o_orderkey) AS BIGINT) AS i
         FROM p JOIN sized ON p.o_custkey = sized.o_custkey),
       terms AS (
         SELECT o_custkey, CAST(k AS BIGINT) AS k,
           CAST(floor(1000.0 * r *
             CASE WHEN k = 1 THEN 1.0 / n
                  ELSE CAST(k AS DOUBLE) / n * list_reduce(
                    list_transform(range(0, CAST(k - 2 AS INTEGER) + 1),
                      j -> CAST(i - 1 - j AS DOUBLE) / CAST(n - 1 - j AS DOUBLE)),
                    (a, b) -> a * b)
             END) AS BIGINT) AS term_milli
         FROM ranked, (SELECT unnest([1, 4, 16]) AS k)
         WHERE i >= k),
       per AS (
         SELECT o_custkey, k, CAST(sum(term_milli) AS BIGINT) AS bon_milli
         FROM terms GROUP BY 1, 2)
       SELECT k, CAST(count(*) AS BIGINT) AS n_problems,
         CAST(sum(bon_milli) AS BIGINT) // (1000 * CAST(count(*) AS BIGINT)) AS mean_bon_cents
       FROM per GROUP BY 1 ORDER BY k"""

  /** Delta-method SE for a RATIO metric under clustered randomization
    * (q386, the Deng et al. experimentation-platform formula): the
    * metric is revenue-per-order, but the randomization unit is the
    * CUSTOMER — so the naive per-order variance is a lie (orders from
    * one customer are correlated), and the correct SE linearizes
    * R = ΣY/ΣN around the customer-level moments:
    * var(R) ≈ (S_YY − 2R·S_YN + R²·S_NN) / ((k−1)·k·n̄²). The output
    * carries BOTH standard errors and their design-effect ratio —
    * deff > 1 is the whole point, it is how much the iid assumption
    * understates uncertainty. Arms are custkey parity (A/A), so the
    * calibration claim is no rejection at α = 0.05.
    *
    * Parity: all second-order sums in DECIMAL/HUGEINT; R, both
    * variances, z are each one double tree floored once. Shape: two
    * partial-agg passes over one orders scan (customer grain, then
    * order grain) → 2 arm rows → a single comparison row. */
  def q386RatioDelta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select(($"o_custkey" % 2).as("arm"),
      $"o_custkey",
      ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("c"))
    val cu = o.groupBy($"arm", $"o_custkey")
      .agg(count(lit(1)).as("nn"), sum($"c").as("y"))
    val st = cu.groupBy($"arm").agg(
      count(lit(1)).as("k"), sum($"y").as("sy"), sum($"nn").as("sn"),
      sum($"y".cast("decimal(20,0)") * $"y".cast("decimal(18,0)")).as("syy"),
      sum($"y".cast("decimal(20,0)") * $"nn".cast("decimal(18,0)")).as("syn"),
      sum($"nn".cast("decimal(20,0)") * $"nn".cast("decimal(18,0)")).as("snn"))
    val ord = o.groupBy($"arm").agg(
      sum($"c".cast("decimal(20,0)") * $"c".cast("decimal(18,0)")).as("scc"))
    val m = st.join(ord, "arm").selectExpr("arm", "k", "sy", "sn",
      "CAST(sy AS DOUBLE) / sn AS r",
      """( (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / k)
          - 2.0 * (CAST(sy AS DOUBLE) / sn) * (CAST(syn AS DOUBLE) - CAST(sy AS DOUBLE) * sn / k)
          + (CAST(sy AS DOUBLE) / sn) * (CAST(sy AS DOUBLE) / sn) * (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / k)
        ) / (CAST(k AS DOUBLE) - 1.0) / CAST(k AS DOUBLE)
          / ((CAST(sn AS DOUBLE) / k) * (CAST(sn AS DOUBLE) / k)) AS var_r""",
      """(CAST(scc AS DOUBLE) - CAST(sy AS DOUBLE) * sy / sn)
         / (CAST(sn AS DOUBLE) - 1.0) / CAST(sn AS DOUBLE) AS var_naive""")
    val a = m.filter($"arm" === 1).select($"k".as("k_treat"), $"r".as("ra"),
      $"var_r".as("va"), $"var_naive".as("na"))
    val b = m.filter($"arm" === 0).select($"k".as("k_ctrl"), $"r".as("rb"),
      $"var_r".as("vb"), $"var_naive".as("nb"))
    a.crossJoin(b).selectExpr("k_treat", "k_ctrl",
      "CAST(floor(ra * 1000.0) AS BIGINT) AS r_treat_milli",
      "CAST(floor(rb * 1000.0) AS BIGINT) AS r_ctrl_milli",
      "CAST(floor((ra - rb) * 1000.0) AS BIGINT) AS diff_milli",
      "CAST(floor(sqrt(va + vb) * 1000.0) AS BIGINT) AS se_delta_milli",
      "CAST(floor(sqrt(na + nb) * 1000.0) AS BIGINT) AS se_naive_milli",
      "CAST(floor((va + vb) / (na + nb) * 1000.0) AS BIGINT) AS deff_milli",
      "CAST(floor((ra - rb) / sqrt(va + vb) * 1000.0) AS BIGINT) AS z_milli",
      "abs((ra - rb) / sqrt(va + vb)) > 1.959964 AS reject")
  }

  val q386Oracle: String =
    """WITH o AS (
         SELECT o_custkey % 2 AS arm, o_custkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         FROM orders),
       cu AS (
         SELECT arm, o_custkey, CAST(count(*) AS BIGINT) AS nn,
           CAST(sum(c) AS BIGINT) AS y
         FROM o GROUP BY 1, 2),
       st AS (
         SELECT arm, CAST(count(*) AS BIGINT) AS k,
           CAST(sum(y) AS BIGINT) AS sy, CAST(sum(nn) AS BIGINT) AS sn,
           sum(CAST(y AS HUGEINT) * y) AS syy,
           sum(CAST(y AS HUGEINT) * nn) AS syn,
           sum(CAST(nn AS HUGEINT) * nn) AS snn
         FROM cu GROUP BY 1),
       ordm AS (
         SELECT arm, sum(CAST(c AS HUGEINT) * c) AS scc FROM o GROUP BY 1),
       m AS (
         SELECT st.arm, k, sy, sn,
           CAST(sy AS DOUBLE) / sn AS r,
           ( (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / k)
             - 2.0 * (CAST(sy AS DOUBLE) / sn) * (CAST(syn AS DOUBLE) - CAST(sy AS DOUBLE) * sn / k)
             + (CAST(sy AS DOUBLE) / sn) * (CAST(sy AS DOUBLE) / sn) * (CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / k)
           ) / (CAST(k AS DOUBLE) - 1.0) / CAST(k AS DOUBLE)
             / ((CAST(sn AS DOUBLE) / k) * (CAST(sn AS DOUBLE) / k)) AS var_r,
           (CAST(scc AS DOUBLE) - CAST(sy AS DOUBLE) * sy / sn)
             / (CAST(sn AS DOUBLE) - 1.0) / CAST(sn AS DOUBLE) AS var_naive
         FROM st JOIN ordm ON st.arm = ordm.arm)
       SELECT a.k AS k_treat, b.k AS k_ctrl,
         CAST(floor(a.r * 1000.0) AS BIGINT) AS r_treat_milli,
         CAST(floor(b.r * 1000.0) AS BIGINT) AS r_ctrl_milli,
         CAST(floor((a.r - b.r) * 1000.0) AS BIGINT) AS diff_milli,
         CAST(floor(sqrt(a.var_r + b.var_r) * 1000.0) AS BIGINT) AS se_delta_milli,
         CAST(floor(sqrt(a.var_naive + b.var_naive) * 1000.0) AS BIGINT) AS se_naive_milli,
         CAST(floor((a.var_r + b.var_r) / (a.var_naive + b.var_naive) * 1000.0) AS BIGINT) AS deff_milli,
         CAST(floor((a.r - b.r) / sqrt(a.var_r + b.var_r) * 1000.0) AS BIGINT) AS z_milli,
         abs((a.r - b.r) / sqrt(a.var_r + b.var_r)) > 1.959964 AS reject
       FROM m a JOIN m b ON a.arm = 1 AND b.arm = 0"""

  /** Multiple-testing decision table (q387): q311's 25 per-nation A/A
    * Welch tests run through all four classic procedures SIDE BY SIDE
    * — Bonferroni, Holm step-down, Hochberg step-up (the FWER family
    * in increasing power) and Benjamini–Hochberg (FDR) — because the
    * platform question is never "is BH right" but "how much do the
    * procedures disagree on THIS family". The guaranteed nesting
    * bonf ⊆ holm ⊆ hochberg ⊆ BH is the structural invariant the spec
    * locks. Step logic is integer over the bounded family: Holm
    * rejects rank i iff no rank ≤ i fails p·(m−r+1) ≤ α (a running
    * max over nulls), Hochberg iff some rank ≥ i passes the same bound
    * (a suffix min). On A/A data all four report zero — the
    * calibration claim.
    *
    * Shape: one fact scan → 25 sufficient-stat rows; every window
    * runs over the bounded family. */
  def q387MultipleTesting(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), ($"o_orderkey" % 2 === 1).as("g1"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .select($"nation", $"g1", $"c",
        ($"c".cast("decimal(12,0)") * $"c".cast("decimal(12,0)")).as("c2"))
    val a = base.groupBy($"nation").agg(
      sum(when($"g1", 1L).otherwise(0L)).as("n1"),
      sum(when($"g1", $"c")).as("s1"),
      sum(when($"g1", $"c2")).as("q1"),
      sum(when(!$"g1", 1L).otherwise(0L)).as("n0"),
      sum(when(!$"g1", $"c")).as("s0"),
      sum(when(!$"g1", $"c2")).as("q0"))
    val p = a.selectExpr("nation",
      """((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) /
         sqrt((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
              (((CAST(q0 AS DOUBLE) - (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE))) AS zd""")
      .selectExpr("nation",
        "CAST(least(floor(2.0 * exp(-0.717 * abs(zd) - 0.416 * zd * zd) * 1000000.0), 1000000.0) AS BIGINT) AS p_micro")
    val wAsc = Window.orderBy($"rnk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.orderBy($"rnk".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.withColumn("rnk", row_number().over(
        Window.orderBy($"p_micro", $"nation")).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()).cast("long"))
      .withColumn("first_fail_le",
        max(when($"p_micro" * ($"m" - $"rnk" + 1) > 50000L, $"rnk")).over(wAsc))
      .withColumn("hoch_any_ge",
        min(when($"p_micro" * ($"m" - $"rnk" + 1) <= 50000L, $"rnk")).over(wDesc))
      .withColumn("kstar",
        max(when($"p_micro" * $"m" <= $"rnk" * 50000L, $"rnk").otherwise(0L))
          .over(Window.partitionBy()))
      .select($"nation", $"p_micro", $"rnk",
        ($"p_micro" * $"m" <= 50000L).as("bonf_reject"),
        $"first_fail_le".isNull.as("holm_reject"),
        $"hoch_any_ge".isNotNull.as("hochberg_reject"),
        ($"rnk" <= $"kstar").as("bh_reject"))
      .orderBy($"rnk")
  }

  val q387Oracle: String =
    """WITH base AS (
         SELECT n.n_name AS nation, o_orderkey % 2 = 1 AS g1,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
         JOIN nation n ON cu.c_nationkey = n.n_nationkey),
       a AS (
         SELECT nation,
           CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN g1 THEN c END) AS BIGINT) AS s1,
           sum(CASE WHEN g1 THEN CAST(c AS HUGEINT) * c END) AS q1,
           CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN NOT g1 THEN c END) AS BIGINT) AS s0,
           sum(CASE WHEN NOT g1 THEN CAST(c AS HUGEINT) * c END) AS q0
         FROM base GROUP BY 1),
       z AS (
         SELECT nation,
           ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) /
             sqrt((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
                  (((CAST(q0 AS DOUBLE) - (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE))) AS zd
         FROM a),
       p AS (
         SELECT nation,
           CAST(least(floor(2.0 * exp(-0.717 * abs(zd) - 0.416 * zd * zd) * 1000000.0), 1000000.0) AS BIGINT) AS p_micro
         FROM z),
       r AS (
         SELECT nation, p_micro,
           CAST(row_number() OVER (ORDER BY p_micro, nation) AS BIGINT) AS rnk,
           CAST(count(*) OVER () AS BIGINT) AS m
         FROM p),
       fl AS (
         SELECT *,
           CAST(max(CASE WHEN p_micro * (m - rnk + 1) > 50000 THEN rnk ELSE NULL END)
             OVER (ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS first_fail_le,
           CAST(min(CASE WHEN p_micro * (m - rnk + 1) <= 50000 THEN rnk END)
             OVER (ORDER BY rnk DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hoch_any_ge,
           CAST(max(CASE WHEN p_micro * m <= rnk * 50000 THEN rnk ELSE 0 END) OVER () AS BIGINT) AS kstar
         FROM r)
       SELECT nation, p_micro, rnk,
         p_micro * m <= 50000 AS bonf_reject,
         first_fail_le IS NULL AS holm_reject,
         hoch_any_ge IS NOT NULL AS hochberg_reject,
         rnk <= kstar AS bh_reject
       FROM fl ORDER BY rnk"""

  /** Always-valid sequential A/B monitor — the mixture SPRT (mSPRT,
    * Johari et al. 2017/2022, the "peeking problem" fix): per day, the
    * cumulative two-sample mean difference in whole-dollar order value
    * between deterministic arms (o_orderkey parity), the normal-
    * mixture likelihood ratio Λ with prior τ² = σ², and the
    * always-valid p-value p_n = min(1, 1/max_{d'≤d} Λ_d') — monotone
    * non-increasing by construction, so the experimenter may stop ANY
    * day without inflating false positives (q290 sizes the experiment,
    * q255 judges its endpoint, this one makes continuous monitoring
    * legitimate).
    *
    * Determinism: day aggregates and global moments are exact int64
    * (whole dollars — floor() before the bigint cast, the q177 rule;
    * Σusd² stays in int64 headroom where cents would overflow, the
    * q262 rule); Λ's doubles come from ONE identical IEEE expression
    * tree (sqrt + exp — the q210 Kaplan–Meier precedent), the exp
    * argument is clamped at 60 and Λ·10⁶ at 10¹⁵ so a decisive
    * experiment saturates instead of overflowing to engine-dependent
    * infinities, and Λ is floored ONCE to micro units before the
    * integer running max.
    *
    * Shape: one orders scan → per-day partial agg (~2.4k rows); both
    * cumulative windows run over the day-level relation (the calendar
    * is tiny at any corpus scale); global moments broadcast. */
  def q291Msprt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select(
      $"o_orderdate".cast("date").as("day"),
      floor($"o_totalprice".cast("decimal(18,2)")).cast("long").as("usd"),
      ($"o_orderkey" % 2).as("arm"))
    val daily = o.groupBy($"day").agg(
      count(when($"arm" === 0, lit(1))).as("na_d"),
      sum(when($"arm" === 0, $"usd").otherwise(lit(0L))).as("sa_d"),
      count(when($"arm" === 1, lit(1))).as("nb_d"),
      sum(when($"arm" === 1, $"usd").otherwise(lit(0L))).as("sb_d"))
    val g = o.agg(count(lit(1)).as("gn"), sum($"usd").as("gs"),
      sum($"usd" * $"usd").as("gss"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("na", sum($"na_d").over(w))
      .withColumn("sa", sum($"sa_d").over(w))
      .withColumn("nb", sum($"nb_d").over(w))
      .withColumn("sb", sum($"sb_d").over(w))
      .filter($"na" > 0 && $"nb" > 0)
      .crossJoin(broadcast(g))
      .withColumn("lam_micro", expr("""CAST(floor(least(
          sqrt((2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0))
               / (2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0)
                  + (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn))))
          * exp(least(
              (CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb) * (CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb)
                * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn))
              / (2.0 * (2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0))
                 / 1.0
                 * (2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0)
                    + (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)))),
              60.0))
          * 1000000.0, 1000000000000000.0)) AS BIGINT)"""))
      .withColumn("diff_micro", expr(
        "CAST(floor((CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb) * 1000000.0) AS BIGINT)"))
    val wm = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum.withColumn("maxlam", max($"lam_micro").over(wm))
      .select($"day", $"na", $"nb", $"diff_micro", $"lam_micro",
        expr("least(CAST(10000 AS BIGINT), 10000000000 div greatest(maxlam, 1))")
          .as("pval_bp"))
      .orderBy($"day")
  }

  val q291Oracle: String =
    """WITH o AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS usd,
           o_orderkey % 2 AS arm
         FROM orders),
       daily AS (
         SELECT day,
           CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS na_d,
           CAST(sum(CASE WHEN arm = 0 THEN usd ELSE 0 END) AS BIGINT) AS sa_d,
           CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS nb_d,
           CAST(sum(CASE WHEN arm = 1 THEN usd ELSE 0 END) AS BIGINT) AS sb_d
         FROM o GROUP BY 1),
       g AS (SELECT CAST(count(*) AS BIGINT) AS gn, CAST(sum(usd) AS BIGINT) AS gs,
               CAST(sum(usd * usd) AS BIGINT) AS gss FROM o),
       cum AS (
         SELECT day,
           CAST(sum(na_d) OVER wnd AS BIGINT) AS na,
           CAST(sum(sa_d) OVER wnd AS BIGINT) AS sa,
           CAST(sum(nb_d) OVER wnd AS BIGINT) AS nb,
           CAST(sum(sb_d) OVER wnd AS BIGINT) AS sb
         FROM daily
         WINDOW wnd AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       lam AS (
         SELECT day, na, nb,
           CAST(floor((CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb) * 1000000.0) AS BIGINT) AS diff_micro,
           CAST(floor(least(
             sqrt((2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0))
                  / (2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0)
                     + (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn))))
             * exp(least(
                 (CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb) * (CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb)
                   * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn))
                 / (2.0 * (2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0))
                    / 1.0
                    * (2.0 * (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)) / ((na + nb) / 2.0)
                       + (CAST(gss AS DOUBLE)/gn - (CAST(gs AS DOUBLE)/gn)*(CAST(gs AS DOUBLE)/gn)))),
                 60.0))
             * 1000000.0, 1000000000000000.0)) AS BIGINT) AS lam_micro
         FROM cum, g
         WHERE na > 0 AND nb > 0),
       fin AS (
         SELECT *, CAST(max(lam_micro) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS maxlam
         FROM lam)
       SELECT day, na, nb, diff_micro, lam_micro,
         least(CAST(10000 AS BIGINT), 10000000000 // greatest(maxlam, 1)) AS pval_bp
       FROM fin ORDER BY day"""


  /** Fixed-effect meta-analysis across segments (q301, Cochran's Q +
    * Higgins' I²): treat each market segment's A/B mean-value effect
    * (orderkey-parity arms, whole-dollar order values) as one study;
    * inverse-variance-pool them and test whether the per-segment
    * effects are HOMOGENEOUS (Q against χ²(k−1)) — the standard answer
    * to "is this lift the same everywhere or driven by one slice?",
    * and the aggregation layer over q231/q255's single-cell tests.
    *
    * Determinism: per-segment moments are exact int64 (whole dollars,
    * q262's headroom rule); δ_i and Welch v_i are single IEEE trees;
    * the meta sums Σw, Σwδ, and Q accumulate through cumulative
    * windows in FIXED segment order over the 5-row aggregate (q210's
    * ordered-window discipline — no reduce-order ambiguity), and each
    * reported number is floored once. Output: one row per segment
    * (effect, weight) + a '_META' row (Q milli, I² bp, pooled effect).
    */
  def q301MetaAnalysis(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      // un-hinted customer join (r10): |customer| scales with the data
      // — AQE decides from runtime stats (PlanAudit caught the hint
      // executing behind this query's checkpoint)
      .join(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment".as("segment")),
        $"o_custkey" === $"c_custkey")
      .select($"segment", ($"o_orderkey" % 2).as("arm"),
        floor($"o_totalprice".cast("decimal(18,2)")).cast("long").as("usd"))
    val st = base.groupBy($"segment").agg(
      count(when($"arm" === 0, lit(1))).as("n0"),
      sum(when($"arm" === 0, $"usd").otherwise(lit(0L))).as("s0"),
      sum(when($"arm" === 0, $"usd" * $"usd").otherwise(lit(0L))).as("q0"),
      count(when($"arm" === 1, lit(1))).as("n1"),
      sum(when($"arm" === 1, $"usd").otherwise(lit(0L))).as("s1"),
      sum(when($"arm" === 1, $"usd" * $"usd").otherwise(lit(0L))).as("q1"))
    val eff = st.select($"segment", $"n0", $"n1",
        expr("CAST(s0 AS DOUBLE)/n0 - CAST(s1 AS DOUBLE)/n1").as("delta"),
        expr("""(CAST(q0 AS DOUBLE)/n0 - (CAST(s0 AS DOUBLE)/n0)*(CAST(s0 AS DOUBLE)/n0)) / n0
              + (CAST(q1 AS DOUBLE)/n1 - (CAST(s1 AS DOUBLE)/n1)*(CAST(s1 AS DOUBLE)/n1)) / n1""")
          .as("v"))
      .localCheckpoint()
      // segment is a bounded enum domain (5 TPC-H values); the limit
      // restates that past the checkpoint (no-op) for the window audit
      .limit(64)
    val w = Window.orderBy($"segment")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = eff
      .withColumn("cw", sum(lit(1.0) / $"v").over(w))
      .withColumn("cwd", sum($"delta" / $"v").over(w))
      .withColumn("k", sum(lit(1L)).over(w))
      .orderBy($"segment".desc).limit(1)
      .select(($"cwd" / $"cw").as("dbar"), $"cw", $"k")
    val qstat = eff.crossJoin(broadcast(tot))
      .withColumn("cq", sum(($"delta" - $"dbar") * ($"delta" - $"dbar") / $"v")
        .over(w))
      .orderBy($"segment".desc).limit(1)
      .select($"k", $"dbar", $"cw", $"cq")
    val seg = eff.select($"segment", $"n0", $"n1",
      floor($"delta" * lit(1000000.0)).cast("long").as("delta_micro"),
      floor(sqrt($"v") * lit(1000.0)).cast("long").as("se_milli"),
      lit(0L).as("q_milli"), lit(0L).as("i2_bp"))
    val meta = qstat.select(lit("_META").as("segment"),
      $"k".as("n0"), lit(0L).as("n1"),
      floor($"dbar" * lit(1000000.0)).cast("long").as("delta_micro"),
      floor(sqrt(lit(1.0) / $"cw") * lit(1000.0)).cast("long").as("se_milli"),
      floor($"cq" * lit(1000.0)).cast("long").as("q_milli"),
      greatest(lit(0L),
        floor(($"cq" - ($"k" - 1)) / $"cq" * lit(10000.0)).cast("long"))
        .as("i2_bp"))
    seg.unionByName(meta).orderBy($"segment")
  }

  val q301Oracle: String =
    """WITH base AS (
         SELECT c_mktsegment AS segment, o_orderkey % 2 AS arm,
           CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS usd
         FROM orders JOIN customer ON o_custkey = c_custkey),
       st AS (
         SELECT segment,
           CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN arm = 0 THEN usd ELSE 0 END) AS BIGINT) AS s0,
           CAST(sum(CASE WHEN arm = 0 THEN usd * usd ELSE 0 END) AS BIGINT) AS q0,
           CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN arm = 1 THEN usd ELSE 0 END) AS BIGINT) AS s1,
           CAST(sum(CASE WHEN arm = 1 THEN usd * usd ELSE 0 END) AS BIGINT) AS q1
         FROM base GROUP BY 1),
       eff AS (
         SELECT segment, n0, n1,
           CAST(s0 AS DOUBLE)/n0 - CAST(s1 AS DOUBLE)/n1 AS delta,
           (CAST(q0 AS DOUBLE)/n0 - (CAST(s0 AS DOUBLE)/n0)*(CAST(s0 AS DOUBLE)/n0)) / n0
             + (CAST(q1 AS DOUBLE)/n1 - (CAST(s1 AS DOUBLE)/n1)*(CAST(s1 AS DOUBLE)/n1)) / n1 AS v
         FROM st),
       tot AS (
         SELECT cwd / cw AS dbar, cw, k FROM (
           SELECT segment,
             sum(1.0 / v) OVER wnd AS cw,
             sum(delta / v) OVER wnd AS cwd,
             CAST(sum(1) OVER wnd AS BIGINT) AS k
           FROM eff
           WINDOW wnd AS (ORDER BY segment ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         ORDER BY segment DESC LIMIT 1),
       qs AS (
         SELECT k, dbar, cw, cq FROM (
           SELECT e.segment, t.k, t.dbar, t.cw,
             sum((e.delta - t.dbar) * (e.delta - t.dbar) / e.v) OVER wnd AS cq
           FROM eff e CROSS JOIN tot t
           WINDOW wnd AS (ORDER BY e.segment ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         ORDER BY segment DESC LIMIT 1)
       SELECT * FROM (
         SELECT segment, n0, n1,
           CAST(floor(delta * 1000000.0) AS BIGINT) AS delta_micro,
           CAST(floor(sqrt(v) * 1000.0) AS BIGINT) AS se_milli,
           CAST(0 AS BIGINT) AS q_milli, CAST(0 AS BIGINT) AS i2_bp
         FROM eff
         UNION ALL
         SELECT '_META', k, 0,
           CAST(floor(dbar * 1000000.0) AS BIGINT),
           CAST(floor(sqrt(1.0 / cw) * 1000.0) AS BIGINT),
           CAST(floor(cq * 1000.0) AS BIGINT),
           greatest(0, CAST(floor((cq - (k - 1)) / cq * 10000.0) AS BIGINT))
         FROM qs)
       ORDER BY segment"""

  /** Sample-ratio-mismatch sentinel (q302): per day, are the two arms
    * actually 50/50? SRM is the #1 silent killer of online experiments
    * (a biased bucketing bug invalidates every downstream metric); the
    * daily χ² = (n₀−n₁)²/(n₀+n₁) against its 3.841 / 10.828 critical
    * values (χ²(1) at 5% / 0.1%) gives warn and alert flags per day
    * plus the worst-day summary. Counts exact; one floored double
    * division per day. */
  def q302SrmSentinel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .select($"o_orderdate".cast("date").as("day"),
        ($"o_orderkey" % 2).as("arm"))
      .groupBy($"day").agg(
        count(when($"arm" === 0, lit(1))).as("n0"),
        count(when($"arm" === 1, lit(1))).as("n1"))
      .withColumn("chi_milli", expr("""CAST(floor(
          CAST((n0 - n1) AS DOUBLE) * (n0 - n1) / (n0 + n1) * 1000.0)
          AS BIGINT)"""))
      .withColumn("warn", ($"chi_milli" > 3841L).cast("long"))
      .withColumn("alert", ($"chi_milli" > 10828L).cast("long"))
    daily.filter($"warn" === 1)
      .unionByName(daily.orderBy($"chi_milli".desc, $"day").limit(1))
      .distinct()
      .orderBy($"day")
  }

  val q302Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS BIGINT) AS n0,
           CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT) AS n1
         FROM orders GROUP BY 1),
       scored AS (
         SELECT *, CAST(floor(CAST((n0 - n1) AS DOUBLE) * (n0 - n1)
             / (n0 + n1) * 1000.0) AS BIGINT) AS chi_milli
         FROM daily),
       flagged AS (
         SELECT *, CAST(chi_milli > 3841 AS BIGINT) AS warn,
           CAST(chi_milli > 10828 AS BIGINT) AS alert
         FROM scored)
       SELECT DISTINCT * FROM (
         SELECT * FROM flagged WHERE warn = 1
         UNION ALL
         (SELECT * FROM flagged ORDER BY chi_milli DESC, day LIMIT 1))
       ORDER BY day"""

  /** Cluster-randomized design effect (q303): if the experiment had
    * been randomized by NATION instead of by customer, how much sample
    * would the clustering waste? ICC from the one-way ANOVA components
    * (q262's machinery: MSB/MSW over nation clusters of whole-dollar
    * order values), design effect 1 + (m̄−1)·ICC, and the effective
    * sample size n/deff — the number every geo-experiment proposal
    * needs before claiming power. Exact int64 moments; the ANOVA
    * ratios are one IEEE tree; floors once each. */
  def q303ClusterDesign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      // customer scales with SF — no forced broadcast (stats/AQE pick)
      .join(Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey"), $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".as("cl"),
        floor($"o_totalprice".cast("decimal(18,2)")).cast("long").as("usd"))
    val per = base.groupBy($"cl")
      .agg(count(lit(1)).as("m"), sum($"usd").as("sm"),
        sum($"usd" * $"usd").as("qm"))
    val w = Window.orderBy($"cl")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("ck", sum(lit(1L)).over(w))
      .withColumn("cn", sum($"m").over(w))
      .withColumn("cs", sum($"sm").over(w))
      .withColumn("cq", sum($"qm").over(w))
      // between-group SS accumulates exactly: Σ s_i²/m_i needs doubles,
      // fixed cl order (q210's ordered-window discipline)
      .withColumn("cbs", sum(expr("CAST(sm AS DOUBLE) * sm / m")).over(w))
      .orderBy($"cl".desc).limit(1)
      .select(
        $"ck".as("k"), $"cn".as("n"),
        expr("""CAST(floor(
            ((cbs - CAST(cs AS DOUBLE) * cs / cn) / (ck - 1)
             - (CAST(cq AS DOUBLE) - cbs) / (cn - ck))
            / ((cbs - CAST(cs AS DOUBLE) * cs / cn) / (ck - 1)
               + (CAST(cn AS DOUBLE) / ck - 1)
                 * ((CAST(cq AS DOUBLE) - cbs) / (cn - ck)))
            * 10000.0) AS BIGINT)""").as("icc_bp"))
      .withColumn("deff_milli", expr("""CAST(floor(
          1000.0 + (CAST(n AS DOUBLE) / k - 1) * icc_bp / 10.0) AS BIGINT)"""))
      .withColumn("n_eff", expr("(1000 * n) div deff_milli"))
  }

  val q303Oracle: String =
    """WITH base AS (
         SELECT c_nationkey AS cl,
           CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS usd
         FROM orders JOIN customer ON o_custkey = c_custkey),
       per AS (
         SELECT cl, CAST(count(*) AS BIGINT) AS m, CAST(sum(usd) AS BIGINT) AS sm,
           CAST(sum(usd * usd) AS BIGINT) AS qm
         FROM base GROUP BY 1),
       cum AS (
         SELECT cl,
           CAST(sum(1) OVER wnd AS BIGINT) AS ck,
           CAST(sum(m) OVER wnd AS BIGINT) AS cn,
           CAST(sum(sm) OVER wnd AS BIGINT) AS cs,
           CAST(sum(qm) OVER wnd AS BIGINT) AS cq,
           sum(CAST(sm AS DOUBLE) * sm / m) OVER wnd AS cbs
         FROM per
         WINDOW wnd AS (ORDER BY cl ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       last AS (SELECT * FROM cum ORDER BY cl DESC LIMIT 1),
       icc AS (
         SELECT ck AS k, cn AS n,
           CAST(floor(
             ((cbs - CAST(cs AS DOUBLE) * cs / cn) / (ck - 1)
              - (CAST(cq AS DOUBLE) - cbs) / (cn - ck))
             / ((cbs - CAST(cs AS DOUBLE) * cs / cn) / (ck - 1)
                + (CAST(cn AS DOUBLE) / ck - 1)
                  * ((CAST(cq AS DOUBLE) - cbs) / (cn - ck)))
             * 10000.0) AS BIGINT) AS icc_bp
         FROM last),
       de AS (
         SELECT *, CAST(floor(
           1000.0 + (CAST(n AS DOUBLE) / k - 1) * icc_bp / 10.0) AS BIGINT) AS deff_milli
         FROM icc)
       SELECT k, n, icc_bp, deff_milli, (1000 * n) // deff_milli AS n_eff FROM de"""


  /** Spearman rank correlation with tie midranks (q308): does a
    * customer's balance track their order ACTIVITY monotonically? —
    * the rank-based association that catches what Pearson (q80)
    * misses when the relationship is monotone but not linear, per
    * segment plus an '_ALL' row. Midranks come from each variable's
    * VALUE HISTOGRAM: the average rank of value v is cum_before(v) +
    * (cnt+1)/2, kept integral as 2·rank = 2·cumb + cnt + 1 — so the
    * whole computation is Pearson's moment form over exact int64
    * doubled-ranks (q80's machinery), with one IEEE sqrt at the end.
    * Windows run over per-segment value histograms (bounded domains,
    * segment-partitioned). */
  def q308Spearman(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perCust = Tables.customer(s, d)
      .select($"c_custkey", $"c_mktsegment".as("seg"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("x"))
      .join(Tables.orders(s, d).groupBy($"o_custkey".as("c_custkey"))
        .agg(count(lit(1)).as("y")), Seq("c_custkey"), "left")
      .select($"seg", $"x", coalesce($"y", lit(0L)).as("y"))
      .localCheckpoint()
    def withAll(df: DataFrame): DataFrame =
      df.unionByName(df.withColumn("seg", lit("_ALL")))
    val base = withAll(perCust)
    def ranks(vcol: String, rname: String): DataFrame = {
      val w = Window.partitionBy($"seg").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy($"seg", col(vcol).as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cumb", coalesce(sum($"cnt").over(w), lit(0L)))
        .select($"seg", $"v".as(vcol),
          (lit(2L) * $"cumb" + $"cnt" + 1L).as(rname))
    }
    val joined = base
      .join(ranks("x", "rx"), Seq("seg", "x"))
      .join(ranks("y", "ry"), Seq("seg", "y"))
    joined.groupBy($"seg").agg(
        count(lit(1)).as("n"),
        sum($"rx").as("sx"), sum($"ry").as("sy"),
        sum($"rx" * $"ry").as("sxy"),
        sum($"rx" * $"rx").as("sxx"), sum($"ry" * $"ry").as("syy"))
      .select($"seg".as("segment"), $"n",
        expr("""CAST(floor(
            (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
            * 10000.0) AS BIGINT)""").as("rho_bp"))
      .orderBy($"segment")
  }

  val q308Oracle: String =
    """WITH pc AS (
         SELECT c.c_custkey, c.c_mktsegment AS seg,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
           COALESCE(o.y, 0) AS y
         FROM customer c LEFT JOIN (
           SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS y
           FROM orders GROUP BY 1) o USING (c_custkey)),
       base AS (SELECT seg, x, y FROM pc
                UNION ALL SELECT '_ALL', x, y FROM pc),
       rx AS (
         SELECT seg, v AS x, 2 * cumb + cnt + 1 AS rx FROM (
           SELECT seg, v, cnt, COALESCE(CAST(sum(cnt) OVER (PARTITION BY seg
             ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
           FROM (SELECT seg, x AS v, CAST(count(*) AS BIGINT) AS cnt
                 FROM base GROUP BY 1, 2))),
       ry AS (
         SELECT seg, v AS y, 2 * cumb + cnt + 1 AS ry FROM (
           SELECT seg, v, cnt, COALESCE(CAST(sum(cnt) OVER (PARTITION BY seg
             ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
           FROM (SELECT seg, y AS v, CAST(count(*) AS BIGINT) AS cnt
                 FROM base GROUP BY 1, 2))),
       j AS (
         SELECT b.seg, rx.rx, ry.ry
         FROM base b JOIN rx ON b.seg = rx.seg AND b.x = rx.x
         JOIN ry ON b.seg = ry.seg AND b.y = ry.y),
       m AS (
         SELECT seg, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
           CAST(sum(rx * ry) AS BIGINT) AS sxy,
           CAST(sum(rx * rx) AS BIGINT) AS sxx,
           CAST(sum(ry * ry) AS BIGINT) AS syy
         FROM j GROUP BY 1)
       SELECT seg AS segment, n,
         CAST(floor(
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           * 10000.0) AS BIGINT) AS rho_bp
       FROM m ORDER BY segment"""

  /** Quantile treatment effects (q309): the DISTRIBUTIONAL view of the
    * A/B comparison — per arm (orderkey parity), exact p10/p50/p90 of
    * whole-dollar order value via cumulative-count crossing over the
    * per-arm value histogram (the q250 idiom, no sort of fact rows),
    * and the per-quantile effect. Mean-effect tests (q231/q301) can
    * read ZERO while the tails move in opposite directions; QTE is how
    * that shows up. Integer throughout: the φ-th order statistic is
    * the smallest value whose cumulative count reaches ⌈φ·n⌉. */
  def q309Qte(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vals = Tables.orders(s, d)
      .select(($"o_orderkey" % 2).as("arm"),
        floor($"o_totalprice".cast("decimal(18,2)")).cast("long").as("usd"))
    val hist = vals.groupBy($"arm", $"usd").agg(count(lit(1)).as("cnt"))
    val tot = vals.groupBy($"arm").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"arm").orderBy($"usd")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum($"cnt").over(w))
      .join(broadcast(tot), "arm")
    val phis = Seq(1000L, 5000L, 9000L).toDF("phi_bp")
    val qs = cum.crossJoin(broadcast(phis))
      .filter($"cum" * 10000L >= $"phi_bp" * $"n")
      .groupBy($"arm", $"phi_bp").agg(min($"usd").as("q"))
    qs.groupBy($"phi_bp").pivot("arm", Seq(0, 1)).agg(first($"q"))
      .select($"phi_bp", $"0".as("q_arm0"), $"1".as("q_arm1"),
        ($"1" - $"0").as("qte_usd"))
      .orderBy($"phi_bp")
  }

  val q309Oracle: String =
    """WITH vals AS (
         SELECT o_orderkey % 2 AS arm,
           CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS usd
         FROM orders),
       hist AS (SELECT arm, usd, CAST(count(*) AS BIGINT) AS cnt
                FROM vals GROUP BY 1, 2),
       tot AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY 1),
       cum AS (
         SELECT h.arm, h.usd, t.n,
           CAST(sum(cnt) OVER (PARTITION BY h.arm ORDER BY h.usd
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM hist h JOIN tot t USING (arm)),
       phis AS (SELECT CAST(unnest([1000, 5000, 9000]) AS BIGINT) AS phi_bp),
       qs AS (
         SELECT arm, phi_bp, CAST(min(usd) AS BIGINT) AS q
         FROM cum CROSS JOIN phis
         WHERE cum * 10000 >= phi_bp * n
         GROUP BY 1, 2)
       SELECT a.phi_bp, a.q AS q_arm0, b.q AS q_arm1, b.q - a.q AS qte_usd
       FROM qs a JOIN qs b ON a.phi_bp = b.phi_bp AND a.arm = 0 AND b.arm = 1
       ORDER BY a.phi_bp"""

  /** Mann–Kendall trend test + Sen's slope per year (q310): is daily
    * revenue trending, non-parametrically? MK's S = Σ sign(x_j − x_i)
    * over ordered day pairs is robust to outliers and needs no
    * linearity; the tie-corrected variance gives the z read-out, and
    * Sen's slope (median of pairwise slopes) is the robust effect
    * size that OLS (q253) isn't.
    *
    * Scale shape: the fact scan reduces to a DAILY aggregate first —
    * a relation bounded by the calendar (~2.4k rows at ANY data
    * scale), so the O(n²) pairwise self-join is over a bounded
    * broadcast-sized input and the per-year window over slope values
    * is bounded too. Slopes quantized to milli-cents/day via
    * floor(dx·1000/dd) in doubles (exact: |dx|·1000 < 2⁵³); S, ties,
    * and the var18 polynomial are pure int64; one IEEE sqrt at the
    * end, floored once. Sen's median = smallest slope whose
    * cumulative pair count reaches ⌈npairs/2⌉. */
  def q310MannKendall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".cast("date").as("day"),
        year($"o_orderdate").cast("long").as("yr"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("x"))
      .localCheckpoint()
    val pairs = daily.select($"yr", $"day".as("d1"), $"x".as("x1"))
      .join(daily.select($"yr", $"day".as("d2"), $"x".as("x2")), Seq("yr"))
      .filter($"d2" > $"d1")
      .select($"yr",
        when($"x2" > $"x1", 1L).when($"x2" < $"x1", -1L).otherwise(0L).as("sgn"),
        floor(($"x2" - $"x1") * lit(1000.0) / datediff($"d2", $"d1"))
          .cast("long").as("slope"))
    val sp = pairs.groupBy($"yr")
      .agg(count(lit(1)).as("npairs"), sum($"sgn").as("s"))
    val nn = daily.groupBy($"yr").agg(count(lit(1)).as("n"))
    val ties = daily.groupBy($"yr", $"x").agg(count(lit(1)).as("t"))
      .groupBy($"yr")
      .agg(sum($"t" * ($"t" - 1) * (lit(2L) * $"t" + 5L)).as("tiesum"))
    val v = nn.join(sp, "yr").join(ties, Seq("yr"), "left")
      .select($"yr", $"n", $"s", $"npairs",
        ($"n" * ($"n" - 1) * (lit(2L) * $"n" + 5L) -
          coalesce($"tiesum", lit(0L))).as("var18"))
    val w = Window.partitionBy($"yr").orderBy($"slope")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val senm = pairs.groupBy($"yr", $"slope").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(w))
      .join(v.select($"yr", $"npairs"), "yr")
      .filter($"cum" >= expr("(npairs + 1) div 2"))
      .groupBy($"yr").agg(min($"slope").as("sen_milli"))
    val zc = when($"s" > 0,
        floor(($"s" - 1) / sqrt($"var18" / lit(18.0)) * 1000.0).cast("long"))
      .when($"s" < 0,
        floor(($"s" + 1) / sqrt($"var18" / lit(18.0)) * 1000.0).cast("long"))
      .otherwise(0L)
    v.join(senm, "yr")
      .select($"yr".as("year"), $"n", $"s", zc.as("z_milli"), $"sen_milli",
        when(zc > 1960L, "up").when(zc < -1960L, "down")
          .otherwise("none").as("trend"))
      .orderBy($"year")
  }

  val q310Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1, 2),
       pairs AS (
         SELECT a.yr,
           CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
           CAST(floor((b.x - a.x) * 1000.0 / datediff('day', a.day, b.day)) AS BIGINT) AS slope
         FROM daily a JOIN daily b ON a.yr = b.yr AND b.day > a.day),
       sp AS (SELECT yr, CAST(count(*) AS BIGINT) AS npairs, CAST(sum(sgn) AS BIGINT) AS s
              FROM pairs GROUP BY 1),
       nn AS (SELECT yr, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
       ties AS (SELECT yr, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tiesum
                FROM (SELECT yr, x, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY 1, 2)
                GROUP BY 1),
       v AS (SELECT nn.yr, nn.n, sp.s, sp.npairs,
               nn.n * (nn.n - 1) * (2 * nn.n + 5) - COALESCE(ties.tiesum, 0) AS var18
             FROM nn JOIN sp USING (yr) LEFT JOIN ties USING (yr)),
       sen AS (SELECT yr, slope,
                 CAST(sum(count(*)) OVER (PARTITION BY yr ORDER BY slope
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM pairs GROUP BY yr, slope),
       senm AS (SELECT sen.yr, CAST(min(sen.slope) AS BIGINT) AS sen_milli
                FROM sen JOIN v ON sen.yr = v.yr
                WHERE sen.cum >= (v.npairs + 1) // 2
                GROUP BY 1),
       zz AS (SELECT v.yr, v.n, v.s, senm.sen_milli,
                CASE WHEN v.s > 0 THEN CAST(floor((v.s - 1) / sqrt(v.var18 / 18.0) * 1000.0) AS BIGINT)
                     WHEN v.s < 0 THEN CAST(floor((v.s + 1) / sqrt(v.var18 / 18.0) * 1000.0) AS BIGINT)
                     ELSE 0 END AS z_milli
              FROM v JOIN senm ON v.yr = senm.yr)
       SELECT yr AS year, n, s, z_milli, sen_milli,
         CASE WHEN z_milli > 1960 THEN 'up' WHEN z_milli < -1960 THEN 'down'
              ELSE 'none' END AS trend
       FROM zz ORDER BY year"""

  /** Benjamini–Hochberg FDR control over a family of tests (q311):
    * the experimentation-platform guardrail for the multiple-
    * comparisons problem — 25 per-nation A/A Welch z-tests (orderkey
    * parity), each two-sided p via the Lin (1989) ONE-sided normal
    * tail approximation doubled and clamped to 1:
    * p ≈ min(1, 2·exp(−0.717|z| − 0.416z²)) — Lin's expression
    * approximates P(Z > |z|), so the factor of 2 is what makes the
    * label "two-sided" true (ADVICE r6: without it BH ran at an
    * effective α≈0.10). Then the BH step-up:
    * reject all ranks ≤ k* = max{i : p_(i) ≤ i·α/m}. The step-up
    * comparison is INTEGER (p_micro·m ≤ i·50000), so rank logic is
    * exact; Bonferroni shown alongside. On A/A data the expected
    * output is zero rejections — that is the product claim.
    *
    * Shape: one partial-agg fact scan to 25 sufficient-stat rows;
    * the rank/step-up windows run over the bounded 25-row family
    * (m = number of tests, never data-sized). zd is materialized
    * ONCE as a double column, so both engines floor the identical
    * IEEE tree (q231's discipline, without its expression blow-up). */
  def q311FdrBh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), ($"o_orderkey" % 2 === 1).as("g1"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .select($"nation", $"g1", $"c",
        ($"c".cast("decimal(12,0)") * $"c".cast("decimal(12,0)")).as("c2"))
    val a = base.groupBy($"nation").agg(
      sum(when($"g1", 1L).otherwise(0L)).as("n1"),
      sum(when($"g1", $"c")).as("s1"),
      sum(when($"g1", $"c2")).as("q1"),
      sum(when(!$"g1", 1L).otherwise(0L)).as("n0"),
      sum(when(!$"g1", $"c")).as("s0"),
      sum(when(!$"g1", $"c2")).as("q0"))
    val z = a.selectExpr("nation", "n0", "n1",
      """((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) /
         sqrt((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
              (((CAST(q0 AS DOUBLE) - (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE))) AS zd""")
    val p = z.selectExpr("nation", "n0", "n1",
      "CAST(floor(zd * 1000.0) AS BIGINT) AS z_milli",
      "CAST(least(floor(2.0 * exp(-0.717 * abs(zd) - 0.416 * zd * zd) * 1000000.0), 1000000.0) AS BIGINT) AS p_micro")
    val r = p
      .withColumn("rnk",
        row_number().over(Window.orderBy($"p_micro", $"nation")).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()).cast("long"))
    r.withColumn("kstar",
        max(when($"p_micro" * $"m" <= $"rnk" * 50000L, $"rnk").otherwise(0L))
          .over(Window.partitionBy()))
      .select($"nation", $"n0", $"n1", $"z_milli", $"p_micro", $"rnk",
        ($"rnk" <= $"kstar").as("bh_reject"),
        ($"p_micro" * $"m" <= 50000L).as("bonf_reject"))
      .orderBy($"rnk")
  }

  val q311Oracle: String =
    """WITH base AS (
         SELECT n.n_name AS nation, o_orderkey % 2 = 1 AS g1,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
         JOIN nation n ON cu.c_nationkey = n.n_nationkey),
       a AS (
         SELECT nation,
           CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN g1 THEN c END) AS BIGINT) AS s1,
           sum(CASE WHEN g1 THEN CAST(c AS HUGEINT) * c END) AS q1,
           CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN NOT g1 THEN c END) AS BIGINT) AS s0,
           sum(CASE WHEN NOT g1 THEN CAST(c AS HUGEINT) * c END) AS q0
         FROM base GROUP BY 1),
       z AS (
         SELECT nation, n0, n1,
           ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) /
             sqrt((((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) +
                  (((CAST(q0 AS DOUBLE) - (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE))) AS zd
         FROM a),
       p AS (
         SELECT nation, n0, n1,
           CAST(floor(zd * 1000.0) AS BIGINT) AS z_milli,
           CAST(least(floor(2.0 * exp(-0.717 * abs(zd) - 0.416 * zd * zd) * 1000000.0), 1000000.0) AS BIGINT) AS p_micro
         FROM z),
       r AS (
         SELECT nation, n0, n1, z_milli, p_micro,
           CAST(row_number() OVER (ORDER BY p_micro, nation) AS BIGINT) AS rnk,
           CAST(count(*) OVER () AS BIGINT) AS m
         FROM p),
       k AS (
         SELECT r.*, CAST(max(CASE WHEN p_micro * m <= rnk * 50000 THEN rnk ELSE 0 END) OVER () AS BIGINT) AS kstar
         FROM r)
       SELECT nation, n0, n1, z_milli, p_micro, rnk,
         rnk <= kstar AS bh_reject,
         p_micro * m <= 50000 AS bonf_reject
       FROM k ORDER BY rnk"""

  /** Difference-in-differences (q312): the quasi-experimental
    * estimator — treated = customer-key parity, post = orderdate ≥
    * 1998-07-01, outcome = order value; DiD = (m̄₁₁−m̄₁₀)−(m̄₀₁−m̄₀₀)
    * per segment plus an exact _ALL (re-aggregated from the CELL
    * sufficient statistics, not a second scan). SE is the four-cell
    * independent-means form; on parity (A/A) assignment the expected
    * read-out is no rejection — the null-calibration claim.
    *
    * Shape: ONE fact scan → ≤ 24 sufficient-stat cells (n, Σc, Σc²
    * with Σc² in decimal for int64 headroom); everything after is
    * arithmetic on a bounded relation. Doubles appear once, in one
    * staged tree, floored once (q231 discipline). */
  def q312Did(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), ($"c_custkey" % 2).as("t"),
        when($"o_orderdate" >= lit("1998-07-01").cast("date"), 1L)
          .otherwise(0L).as("p"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .select($"seg", $"t", $"p", $"c",
        ($"c".cast("decimal(12,0)") * $"c".cast("decimal(12,0)")).as("c2"))
    val cells = base.groupBy($"seg", $"t", $"p")
      .agg(count(lit(1)).as("n"), sum($"c").as("s"), sum($"c2").as("q"))
      .localCheckpoint()
    val allc = cells.groupBy($"t", $"p")
      .agg(sum($"n").as("n"), sum($"s").as("s"), sum($"q").as("q"))
      .withColumn("seg", lit("_ALL"))
      .select($"seg", $"t", $"p", $"n", $"s", $"q")
    def cell(t: Int, p: Int, col: String): String =
      s"max(CASE WHEN t = $t AND p = $p THEN $col END)"
    val wide = cells.unionByName(allc).groupBy($"seg").agg(
      expr(cell(0, 0, "n")).as("n00"), expr(cell(0, 1, "n")).as("n01"),
      expr(cell(1, 0, "n")).as("n10"), expr(cell(1, 1, "n")).as("n11"),
      expr("CAST(" + cell(0, 0, "s") + " AS DOUBLE)").as("s00"),
      expr("CAST(" + cell(0, 1, "s") + " AS DOUBLE)").as("s01"),
      expr("CAST(" + cell(1, 0, "s") + " AS DOUBLE)").as("s10"),
      expr("CAST(" + cell(1, 1, "s") + " AS DOUBLE)").as("s11"),
      expr("CAST(" + cell(0, 0, "q") + " AS DOUBLE)").as("q00"),
      expr("CAST(" + cell(0, 1, "q") + " AS DOUBLE)").as("q01"),
      expr("CAST(" + cell(1, 0, "q") + " AS DOUBLE)").as("q10"),
      expr("CAST(" + cell(1, 1, "q") + " AS DOUBLE)").as("q11"))
    val eff = wide.selectExpr("seg", "n00", "n01", "n10", "n11",
      "(s11 / n11 - s10 / n10) - (s01 / n01 - s00 / n00) AS did",
      """sqrt(((q00 - s00 * s00 / n00) / (n00 - 1.0)) / n00 +
              ((q01 - s01 * s01 / n01) / (n01 - 1.0)) / n01 +
              ((q10 - s10 * s10 / n10) / (n10 - 1.0)) / n10 +
              ((q11 - s11 * s11 / n11) / (n11 - 1.0)) / n11) AS se""")
    eff.selectExpr("seg AS segment", "n00", "n01", "n10", "n11",
        "CAST(floor(did) AS BIGINT) AS did_cents",
        "CAST(floor(se) AS BIGINT) AS se_cents",
        "CAST(floor(did / se * 1000.0) AS BIGINT) AS z_milli")
      .withColumn("reject", abs($"z_milli") > 1960L)
      .orderBy($"segment")
  }

  val q312Oracle: String =
    """WITH base AS (
         SELECT cu.c_mktsegment AS seg,
           CAST(cu.c_custkey % 2 AS BIGINT) AS t,
           CASE WHEN o.o_orderdate >= DATE '1998-07-01' THEN 1 ELSE 0 END AS p,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey),
       cells AS (
         SELECT seg, t, p, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
           sum(CAST(c AS HUGEINT) * c) AS q
         FROM base GROUP BY 1, 2, 3),
       allc AS (
         SELECT '_ALL' AS seg, t, p, CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(s) AS BIGINT) AS s, sum(q) AS q
         FROM cells GROUP BY 2, 3),
       u AS (SELECT * FROM cells UNION ALL SELECT * FROM allc),
       wide AS (
         SELECT seg,
           max(CASE WHEN t = 0 AND p = 0 THEN n END) AS n00,
           max(CASE WHEN t = 0 AND p = 1 THEN n END) AS n01,
           max(CASE WHEN t = 1 AND p = 0 THEN n END) AS n10,
           max(CASE WHEN t = 1 AND p = 1 THEN n END) AS n11,
           CAST(max(CASE WHEN t = 0 AND p = 0 THEN s END) AS DOUBLE) AS s00,
           CAST(max(CASE WHEN t = 0 AND p = 1 THEN s END) AS DOUBLE) AS s01,
           CAST(max(CASE WHEN t = 1 AND p = 0 THEN s END) AS DOUBLE) AS s10,
           CAST(max(CASE WHEN t = 1 AND p = 1 THEN s END) AS DOUBLE) AS s11,
           CAST(max(CASE WHEN t = 0 AND p = 0 THEN q END) AS DOUBLE) AS q00,
           CAST(max(CASE WHEN t = 0 AND p = 1 THEN q END) AS DOUBLE) AS q01,
           CAST(max(CASE WHEN t = 1 AND p = 0 THEN q END) AS DOUBLE) AS q10,
           CAST(max(CASE WHEN t = 1 AND p = 1 THEN q END) AS DOUBLE) AS q11
         FROM u GROUP BY 1),
       eff AS (
         SELECT seg, n00, n01, n10, n11,
           (s11 / n11 - s10 / n10) - (s01 / n01 - s00 / n00) AS did,
           sqrt(((q00 - s00 * s00 / n00) / (n00 - 1.0)) / n00 +
                ((q01 - s01 * s01 / n01) / (n01 - 1.0)) / n01 +
                ((q10 - s10 * s10 / n10) / (n10 - 1.0)) / n10 +
                ((q11 - s11 * s11 / n11) / (n11 - 1.0)) / n11) AS se
         FROM wide)
       SELECT seg AS segment, n00, n01, n10, n11,
         CAST(floor(did) AS BIGINT) AS did_cents,
         CAST(floor(se) AS BIGINT) AS se_cents,
         CAST(floor(did / se * 1000.0) AS BIGINT) AS z_milli,
         abs(CAST(floor(did / se * 1000.0) AS BIGINT)) > 1960 AS reject
       FROM eff ORDER BY segment"""

  /** OLS multiple regression via normal equations (q322): fit
    * y = b₀ + b₁·acctbal + b₂·days(orderdate) per segment + _ALL —
    * the 2-regressor upgrade of q253's log-log elasticity. The whole
    * fit is CLOSED FORM off eleven sufficient statistics (n, Σx, Σx²,
    * Σxy … — second-order sums in decimal for int64 headroom, the
    * q231 convention), solved by Cramer's rule on a 3×3 system whose
    * determinants are staged double columns (computed once, both
    * engines floor the identical tree). _ALL re-aggregates the exact
    * per-segment sums — no second scan. R² from the same stats.
    * One partial-agg scan at any scale; everything after is
    * arithmetic on ≤6 rows. */
  def q322OlsRegression(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal"),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("y"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("x1"),
        datediff($"o_orderdate".cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
      .select($"seg", $"y", $"x1", $"x2",
        ($"x1".cast("decimal(12,0)") * $"x1".cast("decimal(12,0)")).as("p11"),
        ($"x1".cast("decimal(12,0)") * $"x2".cast("decimal(12,0)")).as("p12"),
        ($"x2".cast("decimal(12,0)") * $"x2".cast("decimal(12,0)")).as("p22"),
        ($"x1".cast("decimal(12,0)") * $"y".cast("decimal(12,0)")).as("p1y"),
        ($"x2".cast("decimal(12,0)") * $"y".cast("decimal(12,0)")).as("p2y"),
        ($"y".cast("decimal(12,0)") * $"y".cast("decimal(12,0)")).as("pyy"))
    val cells = base.groupBy($"seg").agg(
        count(lit(1)).as("n"), sum($"x1").as("s1"), sum($"x2").as("s2"),
        sum($"y").as("sy"), sum($"p11").as("s11"), sum($"p12").as("s12"),
        sum($"p22").as("s22"), sum($"p1y").as("s1y"), sum($"p2y").as("s2y"),
        sum($"pyy").as("syy"))
      .localCheckpoint()
    val allc = cells.groupBy().agg(
        sum($"n").as("n"), sum($"s1").as("s1"), sum($"s2").as("s2"),
        sum($"sy").as("sy"), sum($"s11").as("s11"), sum($"s12").as("s12"),
        sum($"s22").as("s22"), sum($"s1y").as("s1y"), sum($"s2y").as("s2y"),
        sum($"syy").as("syy"))
      .withColumn("seg", lit("_ALL"))
      .select(cells.columns.map(col).toSeq: _*)
    cells.unionByName(allc)
      .selectExpr("seg", "n",
        "CAST(n AS DOUBLE) AS dn", "CAST(s1 AS DOUBLE) AS d1",
        "CAST(s2 AS DOUBLE) AS d2", "CAST(sy AS DOUBLE) AS dy",
        "CAST(s11 AS DOUBLE) AS d11", "CAST(s12 AS DOUBLE) AS d12",
        "CAST(s22 AS DOUBLE) AS d22", "CAST(s1y AS DOUBLE) AS d1y",
        "CAST(s2y AS DOUBLE) AS d2y", "CAST(syy AS DOUBLE) AS dyy")
      .selectExpr("seg", "n", "dn", "d1", "d2", "dy", "d1y", "d2y", "dyy",
        "dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2) + d2 * (d1 * d12 - d11 * d2) AS det0",
        "dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y) + d2 * (d1y * d12 - d11 * d2y) AS detb0",
        "dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2) + d2 * (d1 * d2y - d1y * d2) AS detb1",
        "dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2) + dy * (d1 * d12 - d11 * d2) AS detb2")
      .selectExpr("seg", "n",
        "detb0 / det0 AS b0", "detb1 / det0 AS b1", "detb2 / det0 AS b2",
        "dy", "d1y", "d2y", "dyy", "dn")
      .selectExpr("seg AS segment", "n",
        "CAST(floor(b0) AS BIGINT) AS b0_cents",
        "CAST(floor(b1 * 1000000.0) AS BIGINT) AS b1_micro",
        "CAST(floor(b2 * 1000.0) AS BIGINT) AS b2_milli",
        "CAST(floor((1.0 - (dyy - b0 * dy - b1 * d1y - b2 * d2y) / (dyy - dy * dy / dn)) * 10000.0) AS BIGINT) AS r2_bp")
      .orderBy($"segment")
  }

  val q322Oracle: String =
    """WITH base AS (
         SELECT cu.c_mktsegment AS seg,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
           CAST(CAST(cu.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
           CAST(datediff('day', DATE '1995-01-01', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x2
         FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey),
       cells AS (
         SELECT seg, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
           CAST(sum(y) AS BIGINT) AS sy,
           sum(CAST(x1 AS HUGEINT) * x1) AS s11,
           sum(CAST(x1 AS HUGEINT) * x2) AS s12,
           sum(CAST(x2 AS HUGEINT) * x2) AS s22,
           sum(CAST(x1 AS HUGEINT) * y) AS s1y,
           sum(CAST(x2 AS HUGEINT) * y) AS s2y,
           sum(CAST(y AS HUGEINT) * y) AS syy
         FROM base GROUP BY 1),
       allc AS (
         SELECT '_ALL' AS seg, CAST(sum(n) AS BIGINT), CAST(sum(s1) AS BIGINT), CAST(sum(s2) AS BIGINT),
           CAST(sum(sy) AS BIGINT), sum(s11), sum(s12), sum(s22), sum(s1y), sum(s2y), sum(syy)
         FROM cells),
       u AS (SELECT * FROM cells UNION ALL SELECT * FROM allc),
       dd AS (
         SELECT seg, n,
           CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
           CAST(sy AS DOUBLE) AS dy, CAST(s11 AS DOUBLE) AS d11, CAST(s12 AS DOUBLE) AS d12,
           CAST(s22 AS DOUBLE) AS d22, CAST(s1y AS DOUBLE) AS d1y, CAST(s2y AS DOUBLE) AS d2y,
           CAST(syy AS DOUBLE) AS dyy
         FROM u),
       det AS (
         SELECT seg, n, dn, d1, d2, dy, d1y, d2y, dyy,
           dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2) + d2 * (d1 * d12 - d11 * d2) AS det0,
           dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y) + d2 * (d1y * d12 - d11 * d2y) AS detb0,
           dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2) + d2 * (d1 * d2y - d1y * d2) AS detb1,
           dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2) + dy * (d1 * d12 - d11 * d2) AS detb2
         FROM dd),
       fit AS (
         SELECT seg, n,
           detb0 / det0 AS b0, detb1 / det0 AS b1, detb2 / det0 AS b2,
           dy, d1y, d2y, dyy, dn
         FROM det)
       SELECT seg AS segment, n,
         CAST(floor(b0) AS BIGINT) AS b0_cents,
         CAST(floor(b1 * 1000000.0) AS BIGINT) AS b1_micro,
         CAST(floor(b2 * 1000.0) AS BIGINT) AS b2_milli,
         CAST(floor((1.0 - (dyy - b0 * dy - b1 * d1y - b2 * d2y) / (dyy - dy * dy / dn)) * 10000.0) AS BIGINT) AS r2_bp
       FROM fit ORDER BY segment"""

  /** Propensity-score stratification (q323): the observational-causal
    * companion to q245 (CUPED) and q312 (DiD) — treatment =
    * high-balance customer (> $5,000), outcome = lifetime spend,
    * stratified by each nation's treatment RATE (coarsened-exact-
    * matching on the only confounder proxy the schema offers):
    * nations are quintiled by rate through the q93 cumulative-
    * histogram idiom over the 25-row nation relation, within-stratum
    * effects are treated-minus-control means, and the pooled ATE is
    * the population-weighted sum accumulated through a FIXED-order
    * cumulative window (q301 discipline). Doubles appear once per
    * stratum, floored once. Scale: one customer scan + one orders
    * partial agg; all windows over ≤25-row bounded relations. */
  def q323PropensityStrata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey",
        when($"c_acctbal".cast("decimal(18,2)") > 5000.00, 1L)
          .otherwise(0L).as("treated"))
    val nrate = cust.groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        expr("1000 * sum(treated) div count(*)").as("rate_milli"))
    val ranked = nrate
      .withColumn("cum", sum($"n_cust").over(
        Window.orderBy($"rate_milli", $"c_nationkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum($"n_cust").over(Window.partitionBy()))
    val strata = ranked.select($"c_nationkey",
      least(lit(4L), expr("5 * (cum - 1) div tot")).as("stratum"))
    val ordv = Tables.orders(s, d)
      .groupBy($"o_custkey".as("c_custkey"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("spend"))
    val joined = cust.join(broadcast(strata), "c_nationkey")
      .join(ordv, Seq("c_custkey"), "left")
      .select($"stratum", $"treated", coalesce($"spend", lit(0L)).as("spend"))
    val cells = joined.groupBy($"stratum").agg(
        sum($"treated").as("n_t"),
        sum(lit(1L) - $"treated").as("n_c"),
        sum(when($"treated" === 1, $"spend")).as("sy_t"),
        sum(when($"treated" === 0, $"spend")).as("sy_c"))
    val eff = cells.selectExpr("stratum", "n_t", "n_c",
      "CAST(sy_t AS DOUBLE) / n_t - CAST(sy_c AS DOUBLE) / n_c AS effd")
    val pool = eff
      .withColumn("cumeff", sum(($"n_t" + $"n_c") * $"effd").over(
        Window.orderBy($"stratum")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_all", sum($"n_t" + $"n_c").over(Window.partitionBy()))
      .withColumn("rn", row_number().over(Window.orderBy($"stratum".desc)))
    val perStratum = pool.select($"stratum".cast("string").as("stratum"),
      $"n_t", $"n_c", floor($"effd").cast("long").as("effect_cents"))
    val pooled = pool.groupBy().agg(
        sum($"n_t").as("n_t"), sum($"n_c").as("n_c"),
        floor(max(when($"rn" === 1, $"cumeff" / $"n_all"))).cast("long")
          .as("effect_cents"))
      .withColumn("stratum", lit("_POOLED"))
      .select($"stratum", $"n_t", $"n_c", $"effect_cents")
    perStratum.unionByName(pooled).orderBy($"stratum")
  }

  val q323Oracle: String =
    """WITH cust AS (
         SELECT c_custkey, c_nationkey,
           CASE WHEN CAST(c_acctbal AS DECIMAL(18,2)) > 5000.00 THEN 1 ELSE 0 END AS treated
         FROM customer),
       nrate AS (
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
           1000 * CAST(sum(treated) AS BIGINT) // CAST(count(*) AS BIGINT) AS rate_milli
         FROM cust GROUP BY 1),
       ranked AS (
         SELECT c_nationkey, rate_milli,
           CAST(sum(n_cust) OVER (ORDER BY rate_milli, c_nationkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(n_cust) OVER () AS BIGINT) AS tot
         FROM nrate),
       strata AS (
         SELECT c_nationkey, CAST(least(4, 5 * (cum - 1) // tot) AS BIGINT) AS stratum
         FROM ranked),
       ordv AS (
         SELECT o_custkey AS c_custkey,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS spend
         FROM orders GROUP BY 1),
       joined AS (
         SELECT s.stratum, c.treated, COALESCE(o.spend, 0) AS spend
         FROM cust c JOIN strata s ON c.c_nationkey = s.c_nationkey
         LEFT JOIN ordv o ON c.c_custkey = o.c_custkey),
       cells AS (
         SELECT stratum,
           CAST(sum(treated) AS BIGINT) AS n_t,
           CAST(sum(1 - treated) AS BIGINT) AS n_c,
           CAST(sum(CASE WHEN treated = 1 THEN spend END) AS BIGINT) AS sy_t,
           CAST(sum(CASE WHEN treated = 0 THEN spend END) AS BIGINT) AS sy_c
         FROM joined GROUP BY 1),
       eff AS (
         SELECT stratum, n_t, n_c,
           CAST(sy_t AS DOUBLE) / n_t - CAST(sy_c AS DOUBLE) / n_c AS effd
         FROM cells),
       pool AS (
         SELECT stratum, n_t, n_c, effd,
           sum((n_t + n_c) * effd) OVER (ORDER BY stratum
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumeff,
           CAST(sum(n_t + n_c) OVER () AS BIGINT) AS n_all,
           row_number() OVER (ORDER BY stratum DESC) AS rn
         FROM eff)
       SELECT CAST(stratum AS VARCHAR) AS stratum, n_t, n_c,
         CAST(floor(effd) AS BIGINT) AS effect_cents
       FROM pool
       UNION ALL
       SELECT '_POOLED', CAST(sum(n_t) AS BIGINT), CAST(sum(n_c) AS BIGINT),
         CAST(floor(max(CASE WHEN rn = 1 THEN cumeff / n_all END)) AS BIGINT)
       FROM pool
       ORDER BY stratum"""

  /** James–Stein / Efron–Morris shrinkage of group means (q338): the
    * winner's-curse correction — 25 per-nation mean order values are
    * shrunk toward the grand mean with the positive-part factor
    * B_i = max(0, 1 − (k−3)·(σ̂²/n_i)/S), S = Σ(m_i − m̄)², σ̂² the
    * pooled within variance. Near-zero B here is the correct
    * finding: nation means on this data are mostly noise, and the
    * raw per-group leaderboard (q04-style) overstates the spread —
    * exactly what a metrics platform ships shrinkage for. The two
    * k-sized double sums accumulate through FIXED-order cumulative
    * windows (q301 discipline); one fact scan, everything after on
    * the 25-row relation. */
  def q338JamesStein(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("y"))
    val cells = base.groupBy($"nation").agg(
      count(lit(1)).as("n"), sum($"y").as("sy"),
      sum($"y".cast("decimal(12,0)") * $"y".cast("decimal(12,0)")).as("syy"))
    val tot = cells.agg(sum($"n").as("nt"), sum($"sy").as("syt"),
      count(lit(1)).as("k"))
    val st = cells.crossJoin(broadcast(tot))
      .selectExpr("nation", "n",
        "CAST(sy AS DOUBLE) / n AS mi",
        "CAST(syt AS DOUBLE) / nt AS gm",
        "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) AS wss",
        "nt", "k")
    val wcum = Window.orderBy($"nation")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val acc = st
      .withColumn("cumw", sum($"wss").over(wcum))
      .withColumn("cums", sum(($"mi" - $"gm") * ($"mi" - $"gm")).over(wcum))
      .withColumn("rn", row_number().over(Window.orderBy($"nation".desc)))
    val scal = acc.filter($"rn" === 1)
      .selectExpr("cumw / (nt - k) AS sig2", "cums AS s")
    acc.crossJoin(broadcast(scal))
      .selectExpr("nation", "n", "mi", "gm",
        "greatest(0.0, 1.0 - (k - 3) * (sig2 / n) / s) AS b")
      .selectExpr("nation", "n",
        "CAST(floor(mi) AS BIGINT) AS mean_cents",
        "CAST(floor(b * 1000.0) AS BIGINT) AS b_milli",
        "CAST(floor(gm + b * (mi - gm)) AS BIGINT) AS shrunk_cents")
      .orderBy($"nation")
  }

  val q338Oracle: String =
    """WITH base AS (
         SELECT n.n_name AS nation,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
         FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
         JOIN nation n ON cu.c_nationkey = n.n_nationkey),
       cells AS (
         SELECT nation, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
           sum(CAST(y AS HUGEINT) * y) AS syy
         FROM base GROUP BY 1),
       tot AS (
         SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(sy) AS BIGINT) AS syt,
           CAST(count(*) AS BIGINT) AS k
         FROM cells),
       st AS (
         SELECT c.nation, c.n,
           CAST(c.sy AS DOUBLE) / c.n AS mi,
           CAST(t.syt AS DOUBLE) / t.nt AS gm,
           (CAST(c.syy AS DOUBLE) - CAST(c.sy AS DOUBLE) * CAST(c.sy AS DOUBLE) / c.n) AS wss,
           t.nt, t.k
         FROM cells c CROSS JOIN tot t),
       acc AS (
         SELECT nation, n, mi, gm, nt, k,
           sum(wss) OVER (ORDER BY nation ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
           sum((mi - gm) * (mi - gm)) OVER (ORDER BY nation ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums,
           row_number() OVER (ORDER BY nation DESC) AS rn
         FROM st),
       scal AS (SELECT cumw / (nt - k) AS sig2, cums AS s FROM acc WHERE rn = 1),
       fit AS (
         SELECT a.nation, a.n, a.mi, a.gm,
           greatest(0.0, 1.0 - (a.k - 3) * (sc.sig2 / a.n) / sc.s) AS b
         FROM acc a CROSS JOIN scal sc)
       SELECT nation, n,
         CAST(floor(mi) AS BIGINT) AS mean_cents,
         CAST(floor(b * 1000.0) AS BIGINT) AS b_milli,
         CAST(floor(gm + b * (mi - gm)) AS BIGINT) AS shrunk_cents
       FROM fit ORDER BY nation"""

  /** Qini / uplift-by-decile audit (q339): the TARGETING read-out an
    * uplift model ships with — customers deciled by a score (balance,
    * via the q93 descending cumulative-histogram idiom — never a
    * row-level ntile), per decile the treated-vs-control conversion
    * uplift and the cumulative Qini curve
    * Q(k) = ΣY_t − ΣY_c·N_t/N_c. On parity (A/A) arms the curve
    * correctly hugs zero — the null-calibration claim. Integer rates
    * (micro, floor-div); the single double ratio in Q is one
    * identical tree floored once. One customer scan + one orders
    * semi-aggregate; windows over the 10-row decile relation. */
  def q339Qini(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_custkey", ($"c_custkey" % 2).as("t"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("score"))
    val conv = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .groupBy($"o_custkey".as("c_custkey")).agg(lit(1L).as("converted"))
    val base = cust.join(conv, Seq("c_custkey"), "left")
      .select($"t", $"score", coalesce($"converted", lit(0L)).as("y"))
      .localCheckpoint()
    val hist = base.groupBy($"score").agg(count(lit(1)).as("cnt"))
    val dec = hist
      .withColumn("cum", sum($"cnt").over(Window.orderBy($"score".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum($"cnt").over(Window.partitionBy()))
      .select($"score",
        least(lit(9L), expr("10 * (cum - cnt) div tot")).as("decile"))
    val cells = base.join(dec, "score").groupBy($"decile").agg(
      sum(when($"t" === 1, 1L).otherwise(0L)).as("n_t"),
      sum(when($"t" === 0, 1L).otherwise(0L)).as("n_c"),
      sum(when($"t" === 1, $"y").otherwise(0L)).as("y_t"),
      sum(when($"t" === 0, $"y").otherwise(0L)).as("y_c"))
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cnt_t", sum($"n_t").over(w))
      .withColumn("cnt_c", sum($"n_c").over(w))
      .withColumn("cy_t", sum($"y_t").over(w))
      .withColumn("cy_c", sum($"y_c").over(w))
      .selectExpr("decile", "n_t", "n_c",
        "1000000 * y_t div n_t AS rate_t_micro",
        "1000000 * y_c div n_c AS rate_c_micro",
        "1000000 * y_t div n_t - 1000000 * y_c div n_c AS uplift_micro",
        "CAST(floor((cy_t - CAST(cy_c AS DOUBLE) * cnt_t / cnt_c) * 1000.0) AS BIGINT) AS qini_milli")
      .orderBy($"decile")
  }

  val q339Oracle: String =
    """WITH cust AS (
         SELECT c_custkey, CAST(c_custkey % 2 AS BIGINT) AS t,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS score
         FROM customer),
       conv AS (
         SELECT o_custkey AS c_custkey, CAST(1 AS BIGINT) AS converted
         FROM orders
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY 1),
       base AS (
         SELECT c.t, c.score, COALESCE(v.converted, 0) AS y
         FROM cust c LEFT JOIN conv v ON c.c_custkey = v.c_custkey),
       hist AS (
         SELECT score, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1),
       dec AS (
         SELECT score,
           CAST(least(9, 10 * (cum - cnt) // tot) AS BIGINT) AS decile
         FROM (SELECT score, cnt,
                 CAST(sum(cnt) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(sum(cnt) OVER () AS BIGINT) AS tot
               FROM hist)),
       cells AS (
         SELECT d.decile,
           CAST(sum(CASE WHEN b.t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
           CAST(sum(CASE WHEN b.t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           CAST(sum(CASE WHEN b.t = 1 THEN b.y ELSE 0 END) AS BIGINT) AS y_t,
           CAST(sum(CASE WHEN b.t = 0 THEN b.y ELSE 0 END) AS BIGINT) AS y_c
         FROM base b JOIN dec d ON b.score = d.score
         GROUP BY 1),
       cum AS (
         SELECT decile, n_t, n_c, y_t, y_c,
           CAST(sum(n_t) OVER w AS BIGINT) AS cnt_t, CAST(sum(n_c) OVER w AS BIGINT) AS cnt_c,
           CAST(sum(y_t) OVER w AS BIGINT) AS cy_t, CAST(sum(y_c) OVER w AS BIGINT) AS cy_c
         FROM cells
         WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT decile, n_t, n_c,
         1000000 * y_t // n_t AS rate_t_micro,
         1000000 * y_c // n_c AS rate_c_micro,
         1000000 * y_t // n_t - 1000000 * y_c // n_c AS uplift_micro,
         CAST(floor((cy_t - CAST(cy_c AS DOUBLE) * cnt_t / cnt_c) * 1000.0) AS BIGINT) AS qini_milli
       FROM cum ORDER BY decile"""

  /** UCB1 bandit planning table (q342): the deterministic face of the
    * explore/exploit loop — per arm (order priority), empirical
    * reward mean (order value > $250k) plus the Auer et al.
    * exploration bonus √(2 ln N / n_i), ranked into the next play
    * order. Thompson sampling draws noise; UCB1 is a pure function
    * of the counts, so the whole planner is one partial-agg scan and
    * a 5-row ranking — and the engine's job is exactly this table
    * (the draw/serve loop lives outside, q307's planner pattern).
    * Integer mean (micro floor-div); the bonus is one identical
    * double tree floored once. */
  def q342Ucb1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = Tables.orders(s, d)
      .select($"o_orderpriority".as("arm"),
        when($"o_totalprice".cast("decimal(18,2)") > 250000.00, 1L)
          .otherwise(0L).as("reward"))
      .groupBy($"arm")
      .agg(count(lit(1)).as("n"), sum($"reward").as("wins"))
    val tot = agg.agg(sum($"n").as("nt"))
    agg.crossJoin(broadcast(tot))
      .selectExpr("arm", "n", "wins",
        "1000000 * wins div n AS mean_micro",
        "CAST(floor(sqrt(2.0 * ln(CAST(nt AS DOUBLE)) / n) * 1000000.0) AS BIGINT) AS bonus_micro")
      .withColumn("ucb_micro", $"mean_micro" + $"bonus_micro")
      .withColumn("play_rank", row_number().over(
        Window.orderBy(($"mean_micro" + $"bonus_micro").desc, $"arm")).cast("long"))
      .orderBy($"play_rank")
  }

  val q342Oracle: String =
    """WITH pulls AS (
         SELECT o_orderpriority AS arm,
           CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) > 250000.00 THEN 1 ELSE 0 END AS reward
         FROM orders),
       agg AS (
         SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(reward) AS BIGINT) AS wins
         FROM pulls GROUP BY 1),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM agg),
       sc AS (
         SELECT arm, n, wins,
           1000000 * wins // n AS mean_micro,
           CAST(floor(sqrt(2.0 * ln(CAST(nt AS DOUBLE)) / n) * 1000000.0) AS BIGINT) AS bonus_micro
         FROM agg CROSS JOIN tot)
       SELECT arm, n, wins, mean_micro, bonus_micro,
         mean_micro + bonus_micro AS ucb_micro,
         CAST(row_number() OVER (ORDER BY mean_micro + bonus_micro DESC, arm) AS BIGINT) AS play_rank
       FROM sc ORDER BY play_rank"""

  /** Theil-T inequality decomposition (q345): the DECOMPOSABLE
    * inequality index (q211's Gini is not): T = Σ (y/Y)·ln(y·n/Y),
    * split exactly into within-segment contributions plus a
    * between-segment term ln(ȳ_g/ȳ)·Y_g/Y. Near-zero between-share
    * is the finding: segments explain none of the balance
    * inequality. Per-row terms are floored to NANO (the row weight
    * y/Y is ~1e-5, so micro would quantize to zero) then only
    * integer-summed; balances are shifted +$1000 so y > 0 and the
    * log is defined — the shift is part of the operator contract.
    * One scan + a 5-row decomposition. */
  def q345Theil(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_mktsegment".as("seg"),
        (($"c_acctbal".cast("decimal(18,2)") * 100).cast("long") + 100000L).as("y"))
    val tot = cust.agg(count(lit(1)).as("n"), sum($"y").as("yt"))
    val rowterm = cust.crossJoin(broadcast(tot))
      .selectExpr("seg", "y", "n", "yt",
        "CAST(floor(ln(CAST(y AS DOUBLE) * n / yt) * CAST(y AS DOUBLE) / yt * 1000000000.0) AS BIGINT) AS t_nano")
    val within = rowterm.groupBy($"seg")
      .agg(count(lit(1)).as("n_g"), sum($"y").as("y_g"),
        sum($"t_nano").as("t_g_nano"))
    val betw = within.crossJoin(broadcast(tot))
      .selectExpr("seg", "n_g", "y_g", "t_g_nano",
        "CAST(floor(ln(CAST(y_g AS DOUBLE) * n / (yt * CAST(n_g AS DOUBLE))) * y_g / yt * 1000000000.0) AS BIGINT) AS b_nano")
    betw
      .withColumn("theil_total_nano",
        sum($"t_g_nano").over(Window.partitionBy()))
      .withColumn("theil_between_nano",
        sum($"b_nano").over(Window.partitionBy()))
      .select($"seg".as("segment"), $"n_g", $"y_g",
        $"t_g_nano".as("theil_contrib_nano"), $"b_nano".as("between_nano"),
        $"theil_total_nano", $"theil_between_nano")
      .orderBy($"segment")
  }

  val q345Oracle: String =
    """WITH cust AS (
         SELECT c_mktsegment AS seg, c_custkey,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000 AS y
         FROM customer),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS yt FROM cust),
       rowterm AS (
         SELECT c.seg, c.y, t.n, t.yt,
           CAST(floor(ln(CAST(c.y AS DOUBLE) * t.n / t.yt) * CAST(c.y AS DOUBLE) / t.yt * 1000000000.0) AS BIGINT) AS t_nano
         FROM cust c CROSS JOIN tot t),
       within AS (
         SELECT seg, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(y) AS BIGINT) AS y_g,
           CAST(sum(t_nano) AS BIGINT) AS t_g_nano
         FROM rowterm GROUP BY 1),
       betw AS (
         SELECT w.seg, w.n_g, w.y_g, w.t_g_nano,
           CAST(floor(ln(CAST(w.y_g AS DOUBLE) * t.n / (t.yt * CAST(w.n_g AS DOUBLE))) * w.y_g / t.yt * 1000000000.0) AS BIGINT) AS b_nano
         FROM within w CROSS JOIN tot t)
       SELECT seg AS segment, n_g, y_g, t_g_nano AS theil_contrib_nano, b_nano AS between_nano,
         CAST(sum(t_g_nano) OVER () AS BIGINT) AS theil_total_nano,
         CAST(sum(b_nano) OVER () AS BIGINT) AS theil_between_nano
       FROM betw ORDER BY segment"""

  /** Delete-one-group jackknife variance (q346): the resampling-free
    * uncertainty estimate for a MEAN over clustered data — leave out
    * each nation in turn, recompute the mean from the TOTALS minus
    * that group (exact integer arithmetic; no data re-scan), and
    * apply the grouped-jackknife variance (k−1)/k·Σ(R₍ᵢ₎−R̄)². The
    * deterministic cousin of q167's Poisson bootstrap — same
    * clustered-uncertainty question, zero randomness. Group sums are
    * one partial-agg scan; the k-sized double accumulations run
    * through fixed-order cumulative windows (q301 discipline). */
  def q346Jackknife(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grp = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".as("g"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("y"))
      .groupBy($"g").agg(count(lit(1)).as("n_g"), sum($"y").as("y_g"))
    val tot = grp.agg(sum($"n_g").as("n"), sum($"y_g").as("yt"),
      count(lit(1)).as("k"))
    val pseudo = grp.crossJoin(broadcast(tot))
      .selectExpr("g", "n_g", "k",
        "CAST(yt - y_g AS DOUBLE) / (n - n_g) AS r_i",
        "CAST(yt AS DOUBLE) / n AS r_all")
    val wcum = Window.orderBy($"g")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val acc = pseudo
      .withColumn("cum_r", sum($"r_i").over(wcum))
      .withColumn("rn", row_number().over(Window.orderBy($"g".desc)))
    val mean = acc.filter($"rn" === 1)
      .selectExpr("cum_r / k AS rbar")
    acc.crossJoin(broadcast(mean))
      .withColumn("cum_ss",
        sum(($"r_i" - $"rbar") * ($"r_i" - $"rbar")).over(wcum))
      .withColumn("rn2", row_number().over(Window.orderBy($"g".desc)))
      .filter($"rn2" === 1)
      .selectExpr(
        "CAST(floor(r_all) AS BIGINT) AS mean_cents",
        "CAST(floor((k - 1.0) / k * cum_ss * 1000000.0) AS BIGINT) AS jk_var_micro",
        "CAST(floor(sqrt((k - 1.0) / k * cum_ss) * 1000.0) AS BIGINT) AS jk_se_milli",
        "CAST(k AS BIGINT) AS k")
  }

  val q346Oracle: String =
    """WITH base AS (
         SELECT cu.c_nationkey AS g,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
         FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey),
       grp AS (
         SELECT g, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(y) AS BIGINT) AS y_g
         FROM base GROUP BY 1),
       tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(y_g) AS BIGINT) AS yt,
               CAST(count(*) AS BIGINT) AS k FROM grp),
       pseudo AS (
         SELECT grp.g, grp.n_g, tot.k,
           CAST(tot.yt - grp.y_g AS DOUBLE) / (tot.n - grp.n_g) AS r_i,
           CAST(tot.yt AS DOUBLE) / tot.n AS r_all
         FROM grp CROSS JOIN tot),
       acc AS (
         SELECT g, n_g, k, r_i, r_all,
           sum(r_i) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r,
           row_number() OVER (ORDER BY g DESC) AS rn
         FROM pseudo),
       mean AS (SELECT cum_r / k AS rbar, k FROM acc WHERE rn = 1),
       vterm AS (
         SELECT a.g, a.n_g, a.r_i, a.r_all, m.rbar, m.k,
           sum((a.r_i - m.rbar) * (a.r_i - m.rbar)) OVER (ORDER BY a.g
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ss,
           row_number() OVER (ORDER BY a.g DESC) AS rn
         FROM acc a CROSS JOIN mean m)
       SELECT CAST(floor(r_all) AS BIGINT) AS mean_cents,
         CAST(floor((k - 1.0) / k * cum_ss * 1000000.0) AS BIGINT) AS jk_var_micro,
         CAST(floor(sqrt((k - 1.0) / k * cum_ss) * 1000.0) AS BIGINT) AS jk_se_milli,
         CAST(k AS BIGINT) AS k
       FROM vterm WHERE rn = 1"""

  /** Index-of-dispersion / overdispersion test (q348): is daily order
    * arrival Poisson-like per segment? VMR = s²/x̄ and the χ²
    * dispersion statistic Σ(x−x̄)²/x̄ vs the 99% normal approximation
    * n + 2.33√(2n) — the diagnostic that decides whether a Poisson
    * rate model (q225's limiter, q167's bootstrap) or a negative-
    * binomial one fits the traffic. The under-dispersed verdict on
    * this data (VMR ≈ 0.5) is itself the finding. Exact int sums per
    * segment; one staged double ratio, floored per output column. */
  def q348Dispersion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("seg"),
        $"o_orderdate".cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
    val agg = daily.groupBy($"seg").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
    agg.selectExpr("seg", "n", "sx",
        "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (CAST(sx AS DOUBLE)) AS dstat")
      .selectExpr("seg AS segment", "n", "sx AS total_orders",
        "CAST(floor(dstat * n / (n - 1.0) * 1000.0) AS BIGINT) AS vmr_milli",
        "CAST(floor(dstat * n * 1000.0) AS BIGINT) AS chi2_milli",
        """CAST(floor(dstat * n * 1000.0) AS BIGINT)
           > CAST(floor((n + 2.33 * sqrt(2.0 * n)) * 1000.0) AS BIGINT) AS overdispersed""")
      .orderBy($"segment")
  }

  val q348Oracle: String =
    """WITH daily AS (
         SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS x
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1, 2),
       agg AS (
         SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(x * x) AS BIGINT) AS sxx
         FROM daily GROUP BY 1),
       disp AS (
         SELECT seg, n, sx,
           (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (CAST(sx AS DOUBLE)) AS dstat
         FROM agg)
       SELECT seg AS segment, n, sx AS total_orders,
         CAST(floor(dstat * n / (n - 1.0) * 1000.0) AS BIGINT) AS vmr_milli,
         CAST(floor(dstat * n * 1000.0) AS BIGINT) AS chi2_milli,
         CAST(floor(dstat * n * 1000.0) AS BIGINT)
           > CAST(floor((n + 2.33 * sqrt(2.0 * n)) * 1000.0) AS BIGINT) AS overdispersed
       FROM disp ORDER BY segment"""

  /** Covariate-balance audit — standardized mean differences (q349):
    * the table every observational study (q323's stratification,
    * q312's DiD) must print before anyone believes its effect:
    * per covariate, SMD = (x̄₁−x̄₀)/√((s₁²+s₀²)/2), with the |SMD| <
    * 0.1 convention as the balanced verdict. On parity (A/A)
    * assignment every covariate passes — the calibration claim. The
    * covariates are stacked LONG (one union'd scan → per-(covariate,
    * arm) sufficient stats, Σx² in decimal), so adding a covariate
    * is one more union leg, not a new pipeline. One identical double
    * tree per covariate, floored once. */
  def q349SmdBalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_custkey", ($"c_custkey" % 2).as("t"), $"c_nationkey",
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("bal"))
    val ords = Tables.orders(s, d)
      .groupBy($"o_custkey".as("c_custkey")).agg(count(lit(1)).as("n_ord"))
    val base = cust.join(ords, Seq("c_custkey"), "left")
      .select($"t", $"c_nationkey", $"bal",
        coalesce($"n_ord", lit(0L)).as("n_ord"))
      .localCheckpoint()
    val long = base.select($"t", lit("bal").as("covariate"), $"bal".as("x"))
      .unionByName(base.select($"t", lit("n_ord").as("covariate"),
        $"n_ord".as("x")))
      .unionByName(base.select($"t", lit("nation").as("covariate"),
        $"c_nationkey".cast("long").as("x")))
    val agg = long.groupBy($"covariate", $"t").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"),
      sum($"x".cast("decimal(12,0)") * $"x".cast("decimal(12,0)")).as("sxx"))
    val wide = agg.filter($"t" === 1)
      .select($"covariate", $"n".as("n1"), $"sx".as("s1"), $"sxx".as("q1"))
      .join(agg.filter($"t" === 0)
        .select($"covariate", $"n".as("n0"), $"sx".as("s0"), $"sxx".as("q0")),
        "covariate")
    wide.selectExpr("covariate", "n0", "n1",
        """(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) /
           sqrt((
             (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1.0) +
             (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1.0)) / 2.0) AS d""")
      .selectExpr("covariate", "n0", "n1",
        "CAST(floor(d * 10000.0) AS BIGINT) AS smd_bp",
        "abs(CAST(floor(d * 10000.0) AS BIGINT)) < 1000 AS balanced")
      .orderBy($"covariate")
  }

  val q349Oracle: String =
    """WITH cust AS (
         SELECT c_custkey, CAST(c_custkey % 2 AS BIGINT) AS t, c_nationkey,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
         FROM customer),
       ords AS (
         SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n_ord
         FROM orders GROUP BY 1),
       base AS (
         SELECT c.t, c.c_nationkey, c.bal, COALESCE(o.n_ord, 0) AS n_ord
         FROM cust c LEFT JOIN ords o ON c.c_custkey = o.c_custkey),
       long AS (
         SELECT t, 'bal' AS covariate, bal AS x FROM base
         UNION ALL SELECT t, 'n_ord', n_ord FROM base
         UNION ALL SELECT t, 'nation', c_nationkey FROM base),
       agg AS (
         SELECT covariate, t, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
           sum(CAST(x AS HUGEINT) * x) AS sxx
         FROM long GROUP BY 1, 2),
       wide AS (
         SELECT a.covariate, a.n AS n1, a.sx AS s1, a.sxx AS q1,
           b.n AS n0, b.sx AS s0, b.sxx AS q0
         FROM agg a JOIN agg b ON a.covariate = b.covariate AND a.t = 1 AND b.t = 0),
       smd AS (
         SELECT covariate, n0, n1,
           (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) /
           sqrt((
             (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1.0) +
             (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1.0)) / 2.0) AS d
         FROM wide)
       SELECT covariate, n0, n1,
         CAST(floor(d * 10000.0) AS BIGINT) AS smd_bp,
         abs(CAST(floor(d * 10000.0) AS BIGINT)) < 1000 AS balanced
       FROM smd ORDER BY covariate"""

  /** Kendall τ-b rank correlation (q352): the concordant/discordant-
    * pair companion to q308's Spearman, with the τ-b tie correction —
    * over the 25-row nation aggregate (total balance vs order count),
    * so the O(k²) pair join is bounded by the DIMENSION, and pair
    * classification is pure int64 sign arithmetic; one sqrt at the
    * end. */
  def q352KendallTau(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bal = Tables.customer(s, d)
      .groupBy($"c_nationkey".as("g"))
      .agg(sum(($"c_acctbal".cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val ord = Tables.orders(s, d)
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("g")).agg(count(lit(1)).as("y"))
    val nat = bal.join(ord, Seq("g"), "left")
      .select($"g", $"x", coalesce($"y", lit(0L)).as("y"))
    val pairs = nat.select($"g".as("ga"), $"x".as("xa"), $"y".as("ya"))
      .crossJoin(nat.select($"g".as("gb"), $"x".as("xb"), $"y".as("yb")))
      .filter($"ga" < $"gb")
      .select(
        when(($"xa" - $"xb") * ($"ya" - $"yb") > 0, 1L).otherwise(0L).as("conc"),
        when(($"xa" - $"xb") * ($"ya" - $"yb") < 0, 1L).otherwise(0L).as("disc"),
        when($"xa" === $"xb", 1L).otherwise(0L).as("tx"),
        when($"ya" === $"yb", 1L).otherwise(0L).as("ty"))
    pairs.agg(count(lit(1)).as("n0"), sum($"conc").as("nc"),
        sum($"disc").as("nd"), sum($"tx").as("ntx"), sum($"ty").as("nty"))
      .selectExpr("n0 AS n_pairs", "nc", "nd", "ntx", "nty",
        "CAST(floor((nc - nd) / sqrt(CAST(n0 - ntx AS DOUBLE) * (n0 - nty)) * 10000.0) AS BIGINT) AS tau_b_bp")
  }

  val q352Oracle: String =
    """WITH bal AS (
         SELECT c_nationkey AS g,
           CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
         FROM customer GROUP BY 1),
       ord AS (
         SELECT c.c_nationkey AS g, CAST(count(*) AS BIGINT) AS y
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1),
       nat AS (
         SELECT bal.g, bal.x, COALESCE(ord.y, 0) AS y
         FROM bal LEFT JOIN ord ON bal.g = ord.g),
       pairs AS (
         SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
           CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
           CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
           CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
         FROM nat a JOIN nat b ON a.g < b.g),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n0,
           CAST(sum(conc) AS BIGINT) AS nc, CAST(sum(disc) AS BIGINT) AS nd,
           CAST(sum(tx) AS BIGINT) AS ntx, CAST(sum(ty) AS BIGINT) AS nty
         FROM pairs)
       SELECT n0 AS n_pairs, nc, nd, ntx, nty,
         CAST(floor((nc - nd) / sqrt(CAST(n0 - ntx AS DOUBLE) * (n0 - nty)) * 10000.0) AS BIGINT) AS tau_b_bp
       FROM agg"""

  /** DeLong standard error of the AUC (q353): q252 reports the point
    * estimate; this reports whether it MEANS anything — the
    * placement-value variance method, computed exactly over the
    * bounded score-bucket histogram (placements are constant within
    * a bucket, so bucket-weighted sums reproduce the per-row
    * statistics with zero approximation beyond the bucketing
    * contract). Label = custkey parity, so the calibrated answer is
    * AUC ≈ ½, |z| < 1.96 — the A/A claim. Score buckets via
    * floor(cents/10⁴·1.0) (float-floor: cents go negative, the
    * div-vs-// trap). Both k-sized double accumulations run through
    * fixed-order cumulative windows (q301). */
  def q353AucSe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.customer(s, d)
      .select(($"c_custkey" % 2).as("label"),
        floor(($"c_acctbal".cast("decimal(18,2)") * 100).cast("long") / lit(10000.0))
          .cast("long").as("s"))
      .groupBy($"s")
      .agg(sum($"label").as("np"), sum(lit(1L) - $"label").as("nn"))
    val wb = Window.orderBy($"s").rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
    val plc = hist
      .withColumn("nn_below", coalesce(sum($"nn").over(wb), lit(0L)))
      .withColumn("np_below", coalesce(sum($"np").over(wb), lit(0L)))
      .withColumn("npt", sum($"np").over(all))
      .withColumn("nnt", sum($"nn").over(all))
      .selectExpr("s", "np", "nn", "npt", "nnt",
        "(CAST(nn_below AS DOUBLE) + nn / 2.0) / nnt AS v10",
        "1.0 - (CAST(np_below AS DOUBLE) + np / 2.0) / npt AS v01")
      .localCheckpoint()
      // s is a ~110-bin value histogram (acctbal range / 100-unit
      // bins); the limit restates that bound past the checkpoint
      // (no-op) for the window audit
      .limit(256)
    val wcum = Window.orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val auc = plc
      .withColumn("cum_a", sum($"np" * $"v10").over(wcum))
      .withColumn("rn", row_number().over(Window.orderBy($"s".desc)))
      .filter($"rn" === 1)
      .selectExpr("cum_a / npt AS a")
    plc.crossJoin(broadcast(auc))
      .withColumn("cum_s10",
        sum($"np" * ($"v10" - $"a") * ($"v10" - $"a")).over(wcum))
      .withColumn("cum_s01",
        sum($"nn" * ($"v01" - $"a") * ($"v01" - $"a")).over(wcum))
      .withColumn("rn", row_number().over(Window.orderBy($"s".desc)))
      .filter($"rn" === 1)
      .selectExpr("npt", "nnt",
        "CAST(floor(a * 10000.0) AS BIGINT) AS auc_bp",
        "CAST(floor(sqrt(cum_s10 / (npt - 1.0) / npt + cum_s01 / (nnt - 1.0) / nnt) * 10000.0) AS BIGINT) AS se_bp",
        "CAST(floor((a - 0.5) / sqrt(cum_s10 / (npt - 1.0) / npt + cum_s01 / (nnt - 1.0) / nnt) * 1000.0) AS BIGINT) AS z_milli")
      .withColumn("reject", abs($"z_milli") > 1960L)
  }

  val q353Oracle: String =
    """WITH scored AS (
         SELECT CAST(c_custkey % 2 AS BIGINT) AS label,
           CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) / 10000.0) AS BIGINT) AS s
         FROM customer),
       hist AS (
         SELECT s, CAST(sum(label) AS BIGINT) AS np,
           CAST(sum(1 - label) AS BIGINT) AS nn
         FROM scored GROUP BY 1),
       cum AS (
         SELECT s, np, nn,
           CAST(COALESCE(sum(nn) OVER wb, 0) AS BIGINT) AS nn_below,
           CAST(COALESCE(sum(np) OVER wb, 0) AS BIGINT) AS np_below,
           CAST(sum(np) OVER () AS BIGINT) AS npt,
           CAST(sum(nn) OVER () AS BIGINT) AS nnt
         FROM hist
         WINDOW wb AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       plc AS (
         SELECT s, np, nn, npt, nnt,
           (CAST(nn_below AS DOUBLE) + nn / 2.0) / nnt AS v10,
           1.0 - (CAST(np_below AS DOUBLE) + np / 2.0) / npt AS v01
         FROM cum),
       am AS (
         SELECT s, np, nn, npt, nnt, v10, v01,
           sum(np * v10) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
           row_number() OVER (ORDER BY s DESC) AS rn
         FROM plc),
       auc AS (SELECT cum_a / npt AS a FROM am WHERE rn = 1),
       ss AS (
         SELECT p.s, p.npt, p.nnt, a.a,
           sum(p.np * (p.v10 - a.a) * (p.v10 - a.a)) OVER w AS cum_s10,
           sum(p.nn * (p.v01 - a.a) * (p.v01 - a.a)) OVER w AS cum_s01,
           row_number() OVER (ORDER BY p.s DESC) AS rn
         FROM plc p CROSS JOIN auc a
         WINDOW w AS (ORDER BY p.s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT npt, nnt,
         CAST(floor(a * 10000.0) AS BIGINT) AS auc_bp,
         CAST(floor(sqrt(cum_s10 / (npt - 1.0) / npt + cum_s01 / (nnt - 1.0) / nnt) * 10000.0) AS BIGINT) AS se_bp,
         CAST(floor((a - 0.5) / sqrt(cum_s10 / (npt - 1.0) / npt + cum_s01 / (nnt - 1.0) / nnt) * 1000.0) AS BIGINT) AS z_milli,
         abs(CAST(floor((a - 0.5) / sqrt(cum_s10 / (npt - 1.0) / npt + cum_s01 / (nnt - 1.0) / nnt) * 1000.0) AS BIGINT)) > 1960 AS reject
       FROM ss WHERE rn = 1"""

  /** DKW sample-size planner for quantile estimation (q359): how many
    * rows until the EMPIRICAL CDF is within ε of truth everywhere,
    * w.p. 1−δ — n ≥ ln(2/δ)/(2ε²) by Dvoretzky–Kiefer–Wolfowitz.
    * The planning companion to q149/q54's sketches: it answers
    * "is sampling enough, or do I need the sketch?" against the
    * table's measured row count. Deterministic planning table
    * (q307/q342/q351 pattern); one count scan × a literal grid. */
  def q359DkwPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = Seq(100L, 200L, 500L, 1000L).toDF("eps_bp")
      .crossJoin(Seq(20L, 100L, 1000L).toDF("delta_recip"))
    val n = Tables.orders(s, d).agg(count(lit(1)).as("n_have"))
    grid.crossJoin(broadcast(n))
      .selectExpr("eps_bp", "delta_recip",
        "CAST(ceil(ln(2.0 * delta_recip) / (2.0 * (eps_bp / 10000.0) * (eps_bp / 10000.0))) AS BIGINT) AS n_needed",
        "n_have")
      .withColumn("sufficient", $"n_have" >= $"n_needed")
      .orderBy($"eps_bp", $"delta_recip")
  }

  val q359Oracle: String =
    """WITH grid AS (
         SELECT e.eps_bp, d.delta_recip
         FROM (SELECT CAST(unnest([100, 200, 500, 1000]) AS BIGINT) AS eps_bp) e
         CROSS JOIN (SELECT CAST(unnest([20, 100, 1000]) AS BIGINT) AS delta_recip) d),
       n AS (SELECT CAST(count(*) AS BIGINT) AS n_have FROM orders)
       SELECT g.eps_bp, g.delta_recip,
         CAST(ceil(ln(2.0 * g.delta_recip) / (2.0 * (g.eps_bp / 10000.0) * (g.eps_bp / 10000.0))) AS BIGINT) AS n_needed,
         n.n_have,
         n.n_have >= CAST(ceil(ln(2.0 * g.delta_recip) / (2.0 * (g.eps_bp / 10000.0) * (g.eps_bp / 10000.0))) AS BIGINT) AS sufficient
       FROM grid g CROSS JOIN n
       ORDER BY eps_bp, delta_recip"""

  /** Changepoint detection — binary-segmentation step (q318): the
    * top-5 candidate split days of the daily-revenue series by
    * between-segment sum-of-squares (CUSUM-of-means / CART split
    * criterion): BSS(τ) = S_L²/n_L + S_R²/n_R − S²/n, maximized over
    * τ. q195's CUSUM monitors a known baseline; this finds WHERE the
    * level shifted, offline. Full binary segmentation recurses on the
    * winner — one level is the per-pass operator (the q79/q237 loop
    * discipline: each pass is a plan, the driver recurses).
    *
    * Scale shape: the fact scan reduces to the bounded daily
    * aggregate (≤2.4k rows at any SF); prefix sums via cumulative
    * window over that bounded spine; BSS in doubles from exact int64
    * prefix sums (identical tree both engines), floored once;
    * argmax fully tie-broken (bss desc, day). */
  def q318Changepoint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val wcum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val pre = daily
      .withColumn("sl", sum($"x").over(wcum))
      .withColumn("nl", row_number().over(Window.orderBy($"day")).cast("long"))
      .withColumn("st", sum($"x").over(all))
      .withColumn("nt", count(lit(1)).over(all).cast("long"))
    val bss = pre.filter($"nl" < $"nt")
      .selectExpr("day", "sl", "nl", "st - sl AS sr", "nt - nl AS nr",
        """CAST(floor((
             CAST(sl AS DOUBLE) * sl / nl +
             CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl) -
             CAST(st AS DOUBLE) * st / nt) / nt * 1000.0) AS BIGINT) AS bss_pn_milli""")
    bss.withColumn("rank", row_number().over(
        Window.orderBy($"bss_pn_milli".desc, $"day")).cast("long"))
      .filter($"rank" <= 5)
      .selectExpr("rank", "day AS split_day", "nl AS n_left", "nr AS n_right",
        "sl div nl AS mean_left_cents", "sr div nr AS mean_right_cents",
        "bss_pn_milli")
      .orderBy($"rank")
  }

  val q318Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1),
       pre AS (
         SELECT day, x,
           CAST(sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sl,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS nl,
           CAST(sum(x) OVER () AS BIGINT) AS st,
           CAST(count(*) OVER () AS BIGINT) AS nt
         FROM daily),
       bss AS (
         SELECT day, sl, nl, st - sl AS sr, nt - nl AS nr,
           CAST(floor((
             CAST(sl AS DOUBLE) * sl / nl +
             CAST(st - sl AS DOUBLE) * (st - sl) / (nt - nl) -
             CAST(st AS DOUBLE) * st / nt) / nt * 1000.0) AS BIGINT) AS bss_pn_milli
         FROM pre WHERE nl < nt),
       top AS (
         SELECT day AS split_day, nl AS n_left, nr AS n_right,
           sl // nl AS mean_left_cents, sr // nr AS mean_right_cents, bss_pn_milli,
           CAST(row_number() OVER (ORDER BY bss_pn_milli DESC, day) AS BIGINT) AS rank
         FROM bss)
       SELECT rank, split_day, n_left, n_right, mean_left_cents, mean_right_cents, bss_pn_milli
       FROM top WHERE rank <= 5 ORDER BY rank"""


  /** Pairwise-eval sample-size planner (q331): how many head-to-head
    * comparisons are needed before a winrate's 95% CI half-width
    * shrinks to w — n = ⌈z²·p(1−p)/w²⌉ with z² = 3.8416 — over a
    * winrate grid plus the OBSERVED urgent-order rate as the
    * data-grounded row (the binomial sizing twin of q367's continuous
    * MDE planner). Operands stay < 2⁵³ so the one double division is
    * exact-input correctly-rounded on both engines; everything else is
    * integers on a 12-row grid. */
  def q331WilsonSamplePlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = Tables.orders(s, d)
      .agg((count(when($"o_orderpriority" === "1-URGENT", lit(1))) * 10000L)
        .as("num"), count(lit(1)).as("den"))
      .select(expr("num div den").as("p_bp"), lit("observed").as("kind"))
    val ps = Seq(5000L, 5500L, 6000L).toDF("p_bp")
      .withColumn("kind", lit("grid"))
      .unionByName(obs)
    val ws = Seq(100L, 200L, 500L).toDF("w_bp")
    ps.crossJoin(broadcast(ws))
      .select($"kind", $"p_bp", $"w_bp",
        ceil(lit(38416.0) * $"p_bp" * (lit(10000L) - $"p_bp")
          / (lit(10000.0) * $"w_bp" * $"w_bp")).cast("long").as("n_required"))
      .orderBy($"kind", $"p_bp", $"w_bp")
  }

  val q331Oracle: String =
    """WITH obs AS (
         SELECT CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) * 10000 // count(*) AS BIGINT) AS p_obs
         FROM orders),
       ps AS (
         SELECT CAST(unnest([5000, 5500, 6000]) AS BIGINT) AS p_bp, 'grid' AS kind
         UNION ALL SELECT p_obs, 'observed' FROM obs),
       ws AS (SELECT CAST(unnest([100, 200, 500]) AS BIGINT) AS w_bp)
       SELECT kind, p_bp, w_bp,
         CAST(ceil((38416.0 * p_bp * (10000 - p_bp)) / (10000.0 * w_bp * w_bp)) AS BIGINT) AS n_required
       FROM ps CROSS JOIN ws ORDER BY kind, p_bp, w_bp"""

  /** q403's row bound: every prefix moment, Σc·i² with i ≤ 255 the
    * largest, fits a Long while the row count is at most this. */
  private val VoptMaxRows: Long = Long.MaxValue / (255L * 255L)

  /** V-optimal histogram ROI curve (q403): for k = 1..8 buckets, the
    * minimum total within-bucket SSE achievable when partitioning the
    * non-null order-price distribution (quantized to a 256-bin equi-width
    * pre-histogram, SSE measured on the bin-index domain) into k
    * contiguous buckets — the classic v-optimal construction
    * (Jagadish et al., VLDB'98) solved by exact DP, reported as a
    * bucket-budget ROI curve (cost + marginal gain per extra bucket)
    * the optimizer's histogram-memory knob reads directly.
    *
    * Determinism: every segment cost is the floored-integer
    * Σc·x² − (Σc·x)² div Σc over exact prefix sums, so the DP
    * compares identical integers on both engines (the square term
    * rides BigInt driver-side, so the int64-headroom bound N·255 <
    * 3·10⁹ never bites; the Long prefix moments themselves hold up to
    * [[VoptMaxRows]] orders, a named `require`). Scale (r15): one
    * partial-agg pass bins the fact table to a CONSTANT ≤256-cell
    * histogram, which is fetched to
    * the driver (the q437/q454 grid-sized-collect pattern — bounded by
    * construction, independent of fact size) and the prefix moments,
    * 256×257/2 segment costs and all 8 DP levels run as driver
    * arithmetic. The r14 declarative DP ran the same ≤33k-cell state
    * space as 8 sequential join+agg stages — 13 jobs, 2.05 s at sf0.1,
    * 6× the DuckDB twin, nearly all stage-wave overhead on 256-row
    * relations. The oracle KEEPS the declarative DP (the stronger
    * form), proving equivalence on data every round. */
  def q403VoptimalHist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 8
    // a null price has no bin: least(255, NULL) would put it in 255
    val cents = Tables.orders(s, d).filter($"o_totalprice".isNotNull).select(
      ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("v"))
    val mm = cents.agg(min($"v").as("mn"), max($"v").as("mx"))
    val bins = cents.crossJoin(broadcast(mm))
      .select(least(lit(255L), expr("(v - mn) * 256 div (mx - mn + 1)")).as("i"))
      .groupBy($"i").agg(count(lit(1)).as("c"))
    val c = new Array[Long](256)
    bins.collect().foreach(r => c(r.getLong(0).toInt) = r.getLong(1))
    require(c.sum <= VoptMaxRows, s"q403: ${c.sum} orders exceed VoptMaxRows = " +
      s"$VoptMaxRows, past which the Long prefix moment Σc·i² (i ≤ 255) overflows")
    // prefix moments pn/px/pq over the filled 256-bin histogram
    val pn = new Array[Long](257); val px = new Array[Long](257)
    val pq = new Array[Long](257)
    for (i <- 0 until 256) {
      pn(i + 1) = pn(i) + c(i)
      px(i + 1) = px(i) + c(i) * i
      pq(i + 1) = pq(i) + c(i) * i.toLong * i
    }
    // segment SSE exactly as the oracle floors it: truncating division
    // on non-negative operands (BigInt / == DuckDB // here)
    def segCost(lo: Int, hi: Int): Long = {
      val n = pn(hi + 1) - pn(lo)
      if (n == 0L) 0L
      else {
        val sx = BigInt(px(hi + 1) - px(lo))
        ((BigInt(pq(hi + 1) - pq(lo))) - sx * sx / n).toLong
      }
    }
    // exact v-optimal DP, identical recurrence to the oracle's unrolled
    // joins: cost_k(hi) = min over pi of cost_{k-1}(pi) + s(pi+1, hi);
    // Long.MaxValue marks states the join form leaves absent (hi < k-1)
    var prev = Array.tabulate(256)(hi => segCost(0, hi))
    val curve = new Array[Long](K + 1)
    curve(1) = prev(255)
    for (k <- 2 to K) {
      val cur = Array.tabulate(256) { hi =>
        var m = Long.MaxValue
        var pi = 0
        while (pi < hi) {
          if (prev(pi) != Long.MaxValue) {
            val cand = prev(pi) + segCost(pi + 1, hi)
            if (cand < m) m = cand
          }
          pi += 1
        }
        m
      }
      prev = cur
      curve(k) = prev(255)
    }
    (1 to K).map(k => (k.toLong, curve(k),
        if (k == 1) 0L else curve(k - 1) - curve(k)))
      .toDF("k", "total_sse", "marginal_gain")
      .orderBy($"k")
  }

  val q403Oracle: String = {
    val K = 8
    val dp = (2 to K).map(k =>
      s"""c$k AS (SELECT seg.hi AS i, min(p.cost + seg.s) AS cost
          FROM c${k - 1} p JOIN seg ON seg.lo = p.i + 1 GROUP BY 1)""")
      .mkString(",\n")
    val finals = (1 to K)
      .map(k => s"SELECT $k AS k, cost FROM c$k WHERE i = 255")
      .mkString("\nUNION ALL\n")
    s"""WITH cents AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
                     FROM orders WHERE o_totalprice IS NOT NULL),
       mm AS (SELECT min(v) AS mn, max(v) AS mx FROM cents),
       bins AS (
         SELECT LEAST(255, (v - mn) * 256 // (mx - mn + 1)) AS i, CAST(count(*) AS BIGINT) AS c
         FROM cents, mm GROUP BY 1),
       grid AS (SELECT unnest(generate_series(0, 255)) AS i),
       filled AS (SELECT g.i, coalesce(b.c, 0) AS c FROM grid g LEFT JOIN bins b USING (i)),
       pref AS (
         SELECT i,
           CAST(sum(c) OVER w AS BIGINT) AS pn,
           CAST(sum(c * i) OVER w AS BIGINT) AS px,
           CAST(sum(c * i * i) OVER w AS BIGINT) AS pq
         FROM filled WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       seg AS (
         SELECT lo.i AS lo, hi.i AS hi,
           CASE WHEN hi.pn - coalesce(pl.pn, 0) = 0 THEN 0
                ELSE (hi.pq - coalesce(pl.pq, 0))
                     - (hi.px - coalesce(pl.px, 0)) * (hi.px - coalesce(pl.px, 0))
                       // (hi.pn - coalesce(pl.pn, 0)) END AS s
         FROM pref hi JOIN pref lo ON lo.i <= hi.i
         LEFT JOIN pref pl ON pl.i = lo.i - 1),
       c1 AS (SELECT hi AS i, s AS cost FROM seg WHERE lo = 0),
       $dp,
       curve AS ($finals)
       SELECT CAST(k AS BIGINT) AS k, CAST(cost AS BIGINT) AS total_sse,
         CAST(coalesce(lag(cost) OVER (ORDER BY k) - cost, 0) AS BIGINT) AS marginal_gain
       FROM curve ORDER BY k"""
  }

  /** AMS / tug-of-war F2 sketch audit (q410, Alon–Matias–Szegedy '96):
    * estimate the second frequency moment of `l_partkey` — the self-join
    * size, the quantity a join-size estimator actually needs — from 64
    * ±1-sign counters Z_r = Σ_v f_v·s_r(v), and audit the estimate
    * against the exact F2 = Σ f_v². Reports the plain mean-of-Z²
    * estimator and the median-of-means over 4 groups of 16 (the paper's
    * error-control construction, here the deterministic lower median),
    * each with its signed error in bp. Deterministic: the sign is a bit
    * of the shared 60-bit hash of (key, replica); every intermediate is
    * an exact BIGINT.
    *
    * Scale: frequencies come from one fact-table groupBy (domain-sized,
    * map-side combining); the ×64 replica fan-out rides a broadcast
    * 64-row grid and immediately re-aggregates to 64 rows — partial
    * aggregation collapses it to 64 rows per partition before the
    * shuffle, so the wire cost is 64·partitions, not 64·|domain|. In
    * production the same counters are one mergeable UDAF pass (the
    * Misra–Gries/QDigest house pattern); the relational form is chosen
    * because it is oracle-twinnable line by line. */
  def q410AmsF2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.lineitem(s, d)
      .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
    val z = c.crossJoin(broadcast((0L until 64L).toDF("r")))
      .select($"r",
        ((lit(1L) - lit(2L) * (hash60(concat($"l_partkey".cast("string"),
          lit(":"), $"r".cast("string"))) % 2)) * $"c").as("zc"))
      .groupBy($"r").agg(sum($"zc").as("z"))
    val z2 = z.select($"r", ($"z" * $"z").as("z2"), expr("r div 16").as("g"))
      .localCheckpoint()
    val estMean = z2.agg(expr("sum(z2) div 64").as("est_mean"))
    val estMom = z2.groupBy($"g").agg(expr("sum(z2) div 16").as("m"))
      .withColumn("rn", row_number().over(Window.orderBy($"m", $"g")))
      .filter($"rn" === 2).select($"m".as("est_mom"))
    c.agg(sum($"c" * $"c").as("exact_f2"))
      .crossJoin(broadcast(estMean))
      .crossJoin(broadcast(estMom))
      .select($"exact_f2", $"est_mean", $"est_mom",
        expr("abs(est_mean - exact_f2) * 10000 div exact_f2").as("err_mean_bp"),
        expr("abs(est_mom - exact_f2) * 10000 div exact_f2").as("err_mom_bp"))
  }

  val q410Oracle: String =
    """WITH c AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
       grid AS (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS r),
       z AS (SELECT r,
               CAST(sum((1 - 2 * (('0x' || substr(md5(l_partkey::VARCHAR || ':' || r::VARCHAR), 1, 15))::BIGINT % 2)) * c) AS BIGINT) AS z
             FROM c, grid GROUP BY 1),
       zz AS (SELECT r, z * z AS z2, r // 16 AS g FROM z),
       mean AS (SELECT CAST(sum(z2) AS BIGINT) // 64 AS est_mean FROM zz),
       means AS (SELECT g, CAST(sum(z2) AS BIGINT) // 16 AS m FROM zz GROUP BY 1),
       med AS (SELECT m AS est_mom FROM
                 (SELECT m, g, row_number() OVER (ORDER BY m, g) AS rn FROM means)
               WHERE rn = 2),
       ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM c)
       SELECT exact_f2, est_mean, est_mom,
              abs(est_mean - exact_f2) * 10000 // exact_f2 AS err_mean_bp,
              abs(est_mom - exact_f2) * 10000 // exact_f2 AS err_mom_bp
       FROM ex, mean, med"""

  /** Histogram-fidelity audit (q420, the optimizer-statistics question
    * behind q403): with a 16-bucket budget, how far off are the range-
    * selectivity ESTIMATES an equi-width vs an equi-depth histogram of
    * the order-price distribution produces? For thresholds at 30/50/90%
    * of the value span, both histograms estimate sel(v ≤ X) by full
    * buckets + uniform interpolation inside the straddling bucket
    * (System R's rule), and the audit reports each estimate against the
    * exact count, in bp of the table. Equi-depth's bounded per-bucket
    * mass caps its error at ~1/32 of the table per threshold while
    * equi-width's error scales with how much mass piles into one
    * bucket — the audit shows that gap as data.
    *
    * Scale: equi-width buckets are one groupBy over the quantized
    * column; equi-depth buckets come from the distributed exact-ntile
    * engine ([[Windows.withExactNtile]] — range repartition + offset
    * table, no global window); both collapse to ≤16-row (lo, hi, cnt)
    * relations, and estimates are conditional sums of those against a
    * broadcast 3-row threshold grid. Truth for all three thresholds
    * rides ONE aggregate pass. */
  def q420HistogramFidelity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = Tables.orders(s, d).select(
      ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("v"))
    val mm = cents.agg(min($"v").as("mn"), max($"v").as("mx"),
      count(lit(1)).as("n"))
    val th = mm.crossJoin(broadcast(Seq(3L, 5L, 9L).toDF("j")))
      .select($"j", expr("mn + (mx - mn) * j div 10").as("x"), $"n")
    val truth = cents.crossJoin(broadcast(th.select($"j", $"x")))
      .groupBy($"j").agg(sum(when($"v" <= $"x", 1L).otherwise(0L)).as("actual"))
    val ew = cents.crossJoin(broadcast(mm))
      .groupBy(least(lit(15L), expr("(v - mn) * 16 div (mx - mn + 1)")).as("bk"))
      .agg(min($"v").as("lo"), max($"v").as("hi"), count(lit(1)).as("cnt"))
      .select(lit("equi_width").as("scheme"), $"lo", $"hi", $"cnt")
    val ed = Windows.withExactNtile(cents, Seq($"v"), 16, "tile")
      .groupBy($"tile")
      .agg(min($"v").as("lo"), max($"v").as("hi"), count(lit(1)).as("cnt"))
      .select(lit("equi_depth").as("scheme"), $"lo", $"hi", $"cnt")
    ew.unionByName(ed)
      .crossJoin(broadcast(th))
      .groupBy($"scheme", $"j", $"x", $"n")
      .agg(sum(when($"hi" <= $"x", $"cnt")
        .when($"lo" <= $"x",
          expr("cnt * (x - lo + 1) div (hi - lo + 1)"))
        .otherwise(0L)).as("est"))
      .join(truth, "j")
      .select($"scheme", $"j", $"x", $"est", $"actual",
        expr("abs(est - actual) * 10000 div n").as("err_bp"))
      .orderBy($"scheme", $"j")
  }

  val q420Oracle: String =
    """WITH cents AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders),
       mm AS (SELECT min(v) AS mn, max(v) AS mx, CAST(count(*) AS BIGINT) AS n FROM cents),
       th AS (SELECT CAST(j AS BIGINT) AS j,
                     CAST(mn + (mx - mn) * j // 10 AS BIGINT) AS x, n
              FROM mm, (SELECT unnest([3, 5, 9]) AS j)),
       truth AS (
         SELECT j, CAST(sum(CASE WHEN v <= x THEN 1 ELSE 0 END) AS BIGINT) AS actual
         FROM cents, th GROUP BY 1),
       ew AS (
         SELECT 'equi_width' AS scheme, min(v) AS lo, max(v) AS hi,
                CAST(count(*) AS BIGINT) AS cnt
         FROM cents, mm GROUP BY least(15, (v - mn) * 16 // (mx - mn + 1))),
       ed AS (
         SELECT 'equi_depth' AS scheme, min(v) AS lo, max(v) AS hi,
                CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT v, ntile(16) OVER (ORDER BY v) AS tile FROM cents)
         GROUP BY tile),
       hist AS (SELECT * FROM ew UNION ALL SELECT * FROM ed),
       est AS (
         SELECT scheme, j, x, n,
                CAST(sum(CASE WHEN hi <= x THEN cnt
                              WHEN lo <= x THEN cnt * (x - lo + 1) // (hi - lo + 1)
                              ELSE 0 END) AS BIGINT) AS est
         FROM hist, th GROUP BY 1, 2, 3, 4)
       SELECT scheme, j, x, est, actual,
              abs(est - actual) * 10000 // n AS err_bp
       FROM est JOIN truth USING (j)
       ORDER BY scheme, j"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q420_histogram_fidelity", q420HistogramFidelity, q420Oracle,
        NoBound("estimation error unbounded above")),
      Query("q410_ams_f2", q410AmsF2, q410Oracle, NoBound("sketch error unbounded above")),
      Query("q403_voptimal_hist", q403VoptimalHist, q403Oracle, NoBound(Structural)),
      Query("q331_wilson_sample_plan", q331WilsonSamplePlan, q331Oracle,
        Hooks(nonEmpty, range("p_bp", 0, 10000), range("w_bp", 0, 10000))),
      Query("q262_anova", q262Anova, q262Oracle, Hooks(nonEmpty, range("eta2_bp", 0, 10000))),
      Query("q255_funnel_ztest", q255FunnelZtest, q255Oracle,
        Hooks(nonEmpty, range("rate1_bp", 0, 10000), range("rate2_bp", 0, 10000))),
      Query("q253_elasticity", q253Elasticity, q253Oracle,
        Hooks(nonEmpty, range("r_bp", -10000, 10000))),
      Query("q250_latency_trend", q250LatencyTrend, q250Oracle, NoBound(Structural)),
      Query("q244_mix_decomposition", q244MixDecomposition, q244Oracle, NoBound(Structural)),
      Query("q245_cuped", q245Cuped, q245Oracle, Hooks(nonEmpty, range("rho2_bp", 0, 10000))),
      Query("q238_iterative_median", q238IterativeMedian, q238Oracle, NoBound(Structural)),
      Query("q231_welch_ttest", q231WelchTtest, q231Oracle, NoBound("t statistic unbounded")),
      Query("q234_mutual_info", q234MutualInfo, q234Oracle,
        Hooks(nonEmpty, range("nmi_milli", 0, 1000))),
      Query("q221_ks_test", q221KsTest, q221Oracle, Hooks(nonEmpty, range("d_bp", 0, 10000))),
      Query("q220_hill_tail", q220HillTail, q220Oracle,
        NoBound("fitted tail exponent - data-dependent")),
      Query("q213_wilson_ci", q213WilsonCi, q213Oracle,
        Hooks(nonEmpty, range("p_ppm", 0, 1000000), range("lo_ppm", 0, 1000000), range("hi_ppm", 0, 1000000), range("hi_ppm - p_ppm", 0, 1000000), range("p_ppm - lo_ppm", 0, 1000000))),
      Query("q209_loo_encoding", q209LooEncoding, q209Oracle,
        NoBound("leave-one-out means in cents - money scale")),
      Query("q211_gini", q211Gini, q211Oracle, Hooks(nonEmpty, range("gini_bp", 0, 10000))),
      // per-bin IV contribution (g-b)ln(g/b) has both factors same-sign
      Query("q207_woe_iv", q207WoeIv, q207Oracle, Hooks(nonEmpty, atLeast("iv_micro", 0))),
      Query("q206_join_size_est", q206JoinSizeEst, q206Oracle,
        NoBound("estimation error unbounded above")),
      Query("q198_hll_sketch", q198HllSketch, q198Oracle, NoBound(Structural)),
      Query("q199_bitmap_overlap", q199BitmapOverlap, q199Oracle,
        Hooks(nonEmpty, range("jaccard_bp", 0, 10000))),
      Query("q200_trimmed_mean", q200TrimmedMean, q200Oracle, NoBound(Structural)),
      Query("q290_power_analysis", q290PowerAnalysis, q290Oracle,
        Hooks(nonEmpty, range("p1_ppm", 0, 1000000))),
      Query("q367_mde_planner", q367MdePlanner, q367Oracle, NoBound(Structural)),
      Query("q374_pass_at_k", q374PassAtK, q374Oracle,
        Hooks(nonEmpty, range("mean_pass_micro", 0, 1000000))),
      Query("q378_best_of_n", q378BestOfN, q378Oracle, NoBound(Structural)),
      Query("q386_ratio_delta", q386RatioDelta, q386Oracle,
        NoBound("delta-method ratios/SEs - money scale")),
      Query("q387_multiple_testing", q387MultipleTesting, q387Oracle,
        Hooks(nonEmpty, range("p_micro", 0, 1000000))),
      Query("q291_msprt", q291Msprt, q291Oracle, Hooks(nonEmpty, range("pval_bp", 0, 10000))),
      Query("q301_meta_analysis", q301MetaAnalysis, q301Oracle,
        Hooks(nonEmpty, range("i2_bp", 0, 10000))),
      Query("q302_srm_sentinel", q302SrmSentinel, q302Oracle,
        NoBound("chi-square unbounded above")),
      Query("q303_cluster_design", q303ClusterDesign, q303Oracle,
        Hooks(nonEmpty, range("icc_bp", -10000, 10000))),
      Query("q308_spearman", q308Spearman, q308Oracle,
        Hooks(nonEmpty, range("rho_bp", -10000, 10000))),
      Query("q309_qte", q309Qte, q309Oracle, Hooks(nonEmpty, range("phi_bp", 0, 10000))),
      Query("q310_mann_kendall", q310MannKendall, q310Oracle, NoBound("z and Sen slope unbounded")),
      Query("q311_fdr_bh", q311FdrBh, q311Oracle, Hooks(nonEmpty, range("p_micro", 0, 1000000))),
      Query("q312_did", q312Did, q312Oracle, NoBound("z statistic unbounded")),
      Query("q318_changepoint", q318Changepoint, q318Oracle,
        NoBound("between-segment SS in cents^2 - money scale")),
      Query("q322_ols_regression", q322OlsRegression, q322Oracle,
        Hooks(nonEmpty, range("r2_bp", 0, 10000))),
      Query("q323_propensity_strata", q323PropensityStrata, q323Oracle, NoBound(Structural)),
      // positive-part James–Stein shrinkage: b = max(0, 1 - x), x >= 0
      Query("q338_james_stein", q338JamesStein, q338Oracle,
        Hooks(nonEmpty, range("b_milli", 0, 1000))),
      Query("q339_qini", q339Qini, q339Oracle,
        Hooks(nonEmpty, range("rate_t_micro", 0, 1000000), range("rate_c_micro", 0, 1000000), range("uplift_micro", -1000000, 1000000))),
      Query("q342_ucb1", q342Ucb1, q342Oracle, Hooks(nonEmpty, range("mean_micro", 0, 1000000))),
      Query("q345_theil", q345Theil, q345Oracle, NoBound(Structural)),
      Query("q346_jackknife", q346Jackknife, q346Oracle,
        NoBound("variance in cents^2 - money scale")),
      Query("q348_dispersion", q348Dispersion, q348Oracle, NoBound("VMR/chi unbounded above")),
      Query("q349_smd_balance", q349SmdBalance, q349Oracle,
        NoBound("standardized mean diff unbounded")),
      Query("q352_kendall_tau", q352KendallTau, q352Oracle,
        Hooks(nonEmpty, range("tau_b_bp", -10000, 10000))),
      Query("q353_auc_se", q353AucSe, q353Oracle,
        Hooks(nonEmpty, range("auc_bp", 0, 10000), range("se_bp", 0, 10000))),
      Query("q359_dkw_planner", q359DkwPlanner, q359Oracle,
        NoBound("DKW eps<=1 only when n>=4 - data-dependent edge")),
      Query("q197_weighted_median", q197WeightedMedian, q197Oracle, NoBound(Structural)),
      Query("q194_rank_sum", q194RankSum, q194Oracle, NoBound(Structural)),
      Query("q177_acf", q177Acf, q177Oracle, Hooks(nonEmpty, range("acf_bp", -10000, 10000))),
      Query("q171_benford", q171Benford, q171Oracle,
        Hooks(nonEmpty, range("observed_ppm", 0, 1000000),
          range("benford_ppm", 0, 1000000), range("abs_dev_ppm", 0, 1000000),
          // the 9 theoretical floors are literal constants: Σ = 999995 exactly
          groupSum(Seq(), "benford_ppm", 999995, 999995),
          // observed first-digit mass partitions: 9 floors lose ≤ 9 ppm
          groupSum(Seq(), "observed_ppm", 999991, 1000000))),
      Query("q167_poisson_bootstrap", q167PoissonBootstrap, q167Oracle,
        NoBound("bootstrap mean/CI of cents - money scale")),
      Query("q162_median_of_medians", q162MedianOfMedians, q162Oracle, NoBound(Structural)),
      Query("q155_kmv_jaccard", q155KmvJaccard, q155Oracle,
        Hooks(nonEmpty, range("est_jacc_bp", 0, 10000), range("exact_jacc_bp", 0, 10000))),
      Query("q149_qdigest_quantiles", q149QdigestQuantiles, q149Oracle,
        Hooks(nonEmpty, range("phi_bp", 0, 10000))),
      Query("q148_kmv_union", q148KmvUnion, q148Oracle, NoBound(Structural)),
      Query("q147_kmv_distinct", q147KmvDistinct, q147Oracle, NoBound(Structural)),
      Query("q146_grouping_sets", q146GroupingSets, q146Oracle, NoBound(Structural)),
      Query("q138_mad_outliers", q138MadOutliers, q138Oracle, NoBound(Structural)),
      Query("q127_count_min", q127CountMin, q127Oracle, NoBound(Structural)),
      Query("q100_heavy_hitters", q100HeavyHitters, q100Oracle, NoBound(Structural)),
      Query("q89_histogram", q89Histogram, q89Oracle, NoBound(Structural)),
      Query("q80_stats_family", q80StatsFamily, q80Oracle, NoBound(Structural)),
      Query("q54_approx_percentile", q54ApproxPercentile, q54Oracle, NoBound(Structural)),
      Query("q55_cube", q55Cube, q55Oracle, NoBound(Structural)),
      Query("q56_distinct_stats", q56DistinctStats, q56Oracle, NoBound(Structural)),
      Query("q57_percentiles", q57Percentiles, q57Oracle, NoBound(Structural)),
      Query("q58_approx_distinct", q58ApproxDistinct, q58Oracle, NoBound(Structural)),
      Query("q59_salted_agg", q59SaltedAgg, q59Oracle, NoBound(Structural)),
    )
  }
}
