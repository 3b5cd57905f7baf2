package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Data-engineering QA operators: constraint auditing, key-skew
  * diagnostics, and multi-dimensional (Z-order) layout clustering.
  *
  * Reference lineage: the reference pipeline's only "validation" is
  * count-and-retry around the Postgres load (`app/team_utilities.py:510-554`,
  * `app/ref_utilities.py:206-245`) — rows that fail to parse are silently
  * resynchronized (`team_utilities.py:82-88`) and nothing checks
  * referential shape before load. These operators are the audit layer a
  * production pipeline runs in front of such a sink.
  *
  * Scale design:
  *  - q112 folds five constraint checks into TWO join passes + one
  *    group-by: the three lineitem-side rules share a single
  *    lineitem⋈orders left join (one shuffle of the fact table — at
  *    100 TB this is the expensive pass, so every per-row rule rides
  *    it), the customer-FK rule shares the orders⋈customer join, and
  *    the duplicate-key rule is one partial-agg groupBy. Conditional
  *    sums mean no rule adds a pass.
  *  - q117 derives exact count-distribution percentiles from the
  *    HISTOGRAM of per-key counts (groupBy cnt → ~|distinct counts|
  *    rows), never sorting rows globally: the single-partition window
  *    runs over the tiny histogram, the q93 trick. This is the
  *    "should I salt this key?" advisor — max/mean ratio and p99 of
  *    the key-count distribution are exactly the numbers that decide
  *    between a plain and a salted shuffle (q59/q87).
  *  - q118 computes a 32-bit Morton (Z-order) interleave of
  *    (partkey, suppkey) as a pure integer expression and buckets rows
  *    by z-prefix. Fixing a z-prefix bounds BOTH dimensions (a 2-D
  *    tile), which is why sorting a table by z before writing makes
  *    parquet min/max stats prunable on either column — the layout
  *    trick behind Delta/Iceberg Z-ORDER. At 100 TB the write path is
  *    `repartitionByRange($"z") .sortWithinPartitions($"z")`; here we
  *    audit the tile occupancy that layout would produce.
  */
object Quality extends graft.QueryModule {

  /** Five-rule constraint audit over orders/lineitem/customer:
    * referential integrity (two FKs), key uniqueness, range rule,
    * cross-table date rule. One output row per rule. */
  def q112DqAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    // pass 1: all three lineitem-side rules ride one left join
    val liAgg = li.select($"l_orderkey", $"l_quantity", $"l_shipdate")
      .join(o.select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey", "left")
      .agg(
        count(lit(1)).as("n_li"),
        sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("orphan"),
        sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L).otherwise(0L))
          .as("qty_bad"),
        sum(when($"o_orderkey".isNotNull && ($"l_shipdate" < $"o_orderdate"), 1L)
          .otherwise(0L)).as("ship_bad"))
    // pass 2: customer-FK rule on the orders⋈customer join
    val oAgg = o.select($"o_custkey")
      .join(c.select($"c_custkey"), $"o_custkey" === $"c_custkey", "left")
      .agg(count(lit(1)).as("n_o"),
        sum(when($"c_custkey".isNull, 1L).otherwise(0L)).as("fk_bad"))
    // pass 3: duplicate-key rule (partial-agg groupBy)
    val dupAgg = o.groupBy($"o_orderkey").agg(count(lit(1)).as("c"))
      .agg(sum($"c" - 1).as("dup_bad"))
    liAgg.crossJoin(oAgg).crossJoin(dupAgg)
      .select(explode(array(
        struct(lit("lineitem_orphan_fk").as("rule"),
          $"n_li".as("n_checked"), $"orphan".as("n_violations")),
        struct(lit("lineitem_qty_range").as("rule"),
          $"n_li".as("n_checked"), $"qty_bad".as("n_violations")),
        struct(lit("lineitem_ship_before_order").as("rule"),
          $"n_li".as("n_checked"), $"ship_bad".as("n_violations")),
        struct(lit("orders_customer_fk").as("rule"),
          $"n_o".as("n_checked"), $"fk_bad".as("n_violations")),
        struct(lit("orders_dup_key").as("rule"),
          $"n_o".as("n_checked"), $"dup_bad".as("n_violations")))).as("r"))
      .select($"r.rule", $"r.n_checked", $"r.n_violations")
      .orderBy($"rule")
  }

  val q112Oracle: String =
    """WITH lo AS (
         SELECT l.l_quantity, l.l_shipdate, o.o_orderkey, o.o_orderdate
         FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
       li_agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_li,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan,
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_bad,
           CAST(sum(CASE WHEN o_orderkey IS NOT NULL AND l_shipdate < o_orderdate
                         THEN 1 ELSE 0 END) AS BIGINT) AS ship_bad
         FROM lo),
       o_agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fk_bad
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
       dup AS (
         SELECT CAST(sum(c - 1) AS BIGINT) AS dup_bad
         FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey))
       SELECT rule, n_checked, n_violations FROM (
         SELECT 'lineitem_orphan_fk' AS rule, n_li AS n_checked, orphan AS n_violations
           FROM li_agg
         UNION ALL SELECT 'lineitem_qty_range', n_li, qty_bad FROM li_agg
         UNION ALL SELECT 'lineitem_ship_before_order', n_li, ship_bad FROM li_agg
         UNION ALL SELECT 'orders_customer_fk', n_o, fk_bad FROM o_agg, dup
         UNION ALL SELECT 'orders_dup_key', n_o, dup_bad FROM o_agg, dup)
       ORDER BY rule"""

  /** Key-skew diagnostic for l_partkey: exact percentiles of the
    * per-key count distribution (from the count histogram — no global
    * row sort) plus the max/mean skew ratio in basis points. */
  def q117SkewDiag(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kc = Tables.lineitem(s, d)
      .groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
    val tot = kc.agg(count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"),
      max($"cnt").as("max_cnt"))
    // histogram of counts: |distinct count values| rows — tiny, so the
    // single-partition ordered window is safe at any scale
    val w = Window.orderBy($"cnt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kc.groupBy($"cnt").agg(count(lit(1)).as("nk"))
      .withColumn("cum", sum($"nk").over(w))
      .crossJoin(broadcast(tot))
      .agg(
        max($"n_keys").as("n_keys"),
        max($"n_rows").as("n_rows"),
        max($"max_cnt").as("max_cnt"),
        min(when($"cum" * 2 >= $"n_keys", $"cnt")).as("p50_cnt"),
        min(when($"cum" * 10 >= $"n_keys" * 9, $"cnt")).as("p90_cnt"),
        min(when($"cum" * 100 >= $"n_keys" * 99, $"cnt")).as("p99_cnt"))
      .withColumn("skew_bp", expr("10000 * max_cnt * n_keys div n_rows"))
  }

  val q117Oracle: String =
    """WITH kc AS (
         SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
         FROM lineitem GROUP BY 1),
       tot AS (
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_cnt
         FROM kc),
       h AS (SELECT cnt, CAST(count(*) AS BIGINT) AS nk FROM kc GROUP BY 1),
       hc AS (
         SELECT cnt, CAST(sum(nk) OVER (ORDER BY cnt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM h)
       SELECT max(n_keys) AS n_keys, max(n_rows) AS n_rows,
         max(max_cnt) AS max_cnt,
         min(CASE WHEN cum * 2 >= n_keys THEN cnt END) AS p50_cnt,
         min(CASE WHEN cum * 10 >= n_keys * 9 THEN cnt END) AS p90_cnt,
         min(CASE WHEN cum * 100 >= n_keys * 99 THEN cnt END) AS p99_cnt,
         (10000 * max(max_cnt) * max(n_keys)) // max(n_rows) AS skew_bp
       FROM hc CROSS JOIN tot"""

  /** 32-bit Morton interleave of (l_partkey & 0xFFFF, l_suppkey & 0xFFFF)
    * — partkey bits land at odd positions, suppkey bits at even — then
    * tile occupancy per 2^16 z-prefix bucket. Within one bucket both
    * key ranges are bounded by 256 (the 2-D tile property the
    * `QualitySpec` asserts). Pure integer expression, fully codegen'd. */
  def q118Zorder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sparkZ = (0 until 16).map(i =>
      s"shiftleft(shiftright(pk, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright(sk, $i) & 1, ${2 * i})").mkString(" + ")
    Tables.lineitem(s, d)
      .select($"l_partkey".bitwiseAND(65535).as("pk"),
        $"l_suppkey".bitwiseAND(65535).as("sk"))
      .withColumn("z", expr(sparkZ))
      .groupBy(expr("z div 65536").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min($"pk").as("min_pk"), max($"pk").as("max_pk"),
        min($"sk").as("min_sk"), max($"sk").as("max_sk"))
      .orderBy($"zbucket")
  }

  val q118Oracle: String = {
    val duckZ = (0 until 16).map(i =>
      s"(((pk >> $i) & 1) << ${2 * i + 1}) + (((sk >> $i) & 1) << ${2 * i})")
      .mkString(" + ")
    s"""WITH b AS (
         SELECT l_partkey & 65535 AS pk, l_suppkey & 65535 AS sk FROM lineitem),
       z AS (SELECT pk, sk, $duckZ AS z FROM b)
       SELECT z // 65536 AS zbucket, count(*) AS n,
         min(pk) AS min_pk, max(pk) AS max_pk,
         min(sk) AS min_sk, max(sk) AS max_sk
       FROM z GROUP BY 1 ORDER BY 1"""
  }

  /** The tf front end of the two-gate quality queries (q139, q176,
    * q223, q252): ONE tokenization into a checkpointed (doc_id, term,
    * tf) relation feeds both gates. Returns (doc_id, `score(q)`), where
    * q is the q31 quality score rebuilt from tf aggregates (n_tokens =
    * Σtf, distinct terms = row count, stopword hits = Σtf over the
    * stoplist), and (doc_id, `label`), the 0/1 q77 surprisal gate
    * Σtf·s / Σtf ≤ 3401500 (a double division, unlike q77's `div`). */
  private def scoreAndLabel(s: SparkSession, d: String,
      score: Column => Column, label: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val scored = tf.groupBy($"doc_id")
      .agg(sum($"tf").as("n_tok"), count(lit(1)).as("uniq"),
        sum(when($"term".isin(stopWords.map(lit): _*), $"tf").otherwise(lit(0L)))
          .as("nstop"))
      .select($"doc_id", score(qualityScore($"n_tok", $"nstop", $"uniq")))
    val tc = tf.groupBy($"term").agg(sum($"tf").as("cnt"))
    val tot = tc.agg(sum($"cnt").as("t"))
    val labeled = tf.join(tc, "term").crossJoin(broadcast(tot))
      .withColumn("s_micro", surprisal($"t", $"cnt"))
      .groupBy($"doc_id")
      .agg((sum($"tf" * $"s_micro") / sum($"tf") <= lit(3401500))
        .cast("long").as(label))
    (scored, labeled)
  }

  /** Inter-rater agreement (Cohen's κ) between two independent quality
    * gates — the calibration check a curation pipeline runs before
    * trusting any single filter: gate A is the q31 heuristic score
    * (length/stopword/uniqueness), gate B the q77 unigram-LM surprisal.
    * κ corrects raw percent-agreement for the agreement two gates with
    * these marginals would produce BY CHANCE — the difference between
    * "both filters keep 50% so they agree half the time anyway" and
    * real signal overlap. Output is the full 2×2 contingency plus
    * κ in basis points (can be legitimately negative: systematic
    * disagreement — worth knowing before ensembling filters).
    *
    * Parity: both gates are integer-thresholded (q31's permille score,
    * q77's micro-nat surprisal), the contingency is exact counts, and κ
    * is floor((po−pe)·10⁴/(1−pe)) evaluated as ONE double division
    * whose operands stay ≤ n²·10⁴ < 2⁵³ — exact in IEEE, identical
    * floor in both engines even when κ < 0 (integer `div` would
    * truncate toward zero and disagree with `//` there).
    *
    * Shape: ONE scan — both gates derive from the same per-doc tf
    * relation (q31's length/stopword/uniqueness counts are tf
    * aggregates too: n_tokens = Σtf, distinct terms = row count,
    * stopword hits = Σtf over the stoplist), checkpointed once for its
    * three consumers; then one equi-join on doc_id and a single global
    * 1-row reduce. The first formulation scanned + tokenized documents
    * a second time just to rebuild gate A from the raw token array. */
  def q139RaterAgreement(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (gateA, gateB) =
      scoreAndLabel(s, d, q => (q >= 1980).cast("long").as("a"), "b")
    gateA.join(gateB, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum($"a" * $"b").as("n11"), sum($"a" * (lit(1) - $"b")).as("n10"),
        sum((lit(1) - $"a") * $"b").as("n01"),
        sum((lit(1) - $"a") * (lit(1) - $"b")).as("n00"))
      .withColumn("pe_num",
        ($"n11" + $"n10") * ($"n11" + $"n01") + ($"n01" + $"n00") * ($"n10" + $"n00"))
      .select($"n", $"n11", $"n10", $"n01", $"n00",
        floor((($"n11" + $"n00") * $"n" - $"pe_num") * lit(10000.0)
          / ($"n" * $"n" - $"pe_num")).cast("long").as("kappa_bp"))
  }

  val q139Oracle: String =
    """WITH t AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       ga AS (
         SELECT doc_id,
           CAST(least(len(tk), 100) * 10
             + (1000 - CAST(floor(len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) * 1000.0 / len(tk)) AS BIGINT))
             + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) >= 1980 AS BIGINT) AS a
         FROM t),
       tok AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
       gb AS (
         SELECT doc_id,
           CAST(sum(tf * CAST(floor(ln((t * 1.0) / cnt) * 1000000.0) AS BIGINT)) * 1.0
             / sum(tf) <= 3401500 AS BIGINT) AS b
         FROM tf JOIN tc USING (term) CROSS JOIN tot GROUP BY 1),
       ct AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a * b) AS BIGINT) AS n11, CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
           CAST(sum((1 - a) * b) AS BIGINT) AS n01,
           CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
         FROM ga JOIN gb USING (doc_id))
       SELECT n, n11, n10, n01, n00,
         CAST(floor(((n11 + n00) * n - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))) * 10000.0
           / (n * n - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)))) AS BIGINT) AS kappa_bp
       FROM ct"""

  /** χ² independence audit between two categorical slices (lang ×
    * source) — the dataset-bias check: does language composition differ
    * by source beyond what margins explain? Large per-cell
    * contributions localize WHICH (lang, source) cell drives the
    * skew — the actionable output, vs a single yes/no statistic.
    *
    * The grid is the CROSS JOIN of the two margin relations (all
    * r×c cells, including unobserved o=0 ones — omitting empty cells
    * understates χ²), left-joined against observed counts. Each
    * contribution is (o·n − rt·ct)²/(rt·ct·n) in micro units: o·n ≤
    * 2.5e7 on this data so the square stays < 2⁵³ and the whole chain
    * (long→double exact, IEEE mult/div correctly rounded, floor) is
    * deterministic cross-engine with no ln/exp involved at all. At
    * billion-doc scale the square outgrows double exactness — the swap
    * is decimal(38,0) arithmetic with the same algebra.
    *
    * Shape: one corpus-sized groupBy; margins derive from the CELL
    * relation (bounded by r×c); the grid is margin-sized. Nothing
    * after the first aggregation touches the corpus. */
  def q145Chi2Independence(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = Tables.documents(s, d)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
      .localCheckpoint() // feeds margins, total, and the grid probe
    val rt = obs.groupBy($"lang").agg(sum($"o").as("rt"))
    val ct = obs.groupBy($"source").agg(sum($"o").as("ct"))
    val n = obs.agg(sum($"o").as("n"))
    val grid = rt.crossJoin(ct).crossJoin(broadcast(n))
    val cells = grid.join(obs, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
      .withColumn("contrib_micro",
        floor(($"o" * $"n" - $"rt" * $"ct") * ($"o" * $"n" - $"rt" * $"ct")
          * lit(1000000.0) / ($"rt" * $"ct" * $"n")).cast("long"))
    val tot = cells.agg(sum($"contrib_micro").as("chi2_micro"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      .select($"lang", $"source", $"o", $"contrib_micro",
        $"chi2_micro", $"n_cells")
      .orderBy($"lang", $"source")
  }

  val q145Oracle: String =
    """WITH obs AS (
         SELECT lang, source, CAST(count(*) AS BIGINT) AS o
         FROM documents GROUP BY 1, 2),
       rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
       ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
       n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
       grid AS (SELECT lang, source, rt, ct, n FROM rt CROSS JOIN ct CROSS JOIN n),
       cells AS (
         SELECT g.lang, g.source, CAST(coalesce(o.o, 0) AS BIGINT) AS o, rt, ct, n,
           CAST(floor((coalesce(o.o,0)*n - rt*ct) * (coalesce(o.o,0)*n - rt*ct)
             * 1000000.0 / (rt*ct*n)) AS BIGINT) AS contrib_micro
         FROM grid g LEFT JOIN obs o ON g.lang = o.lang AND g.source = o.source),
       tot AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro,
                 CAST(count(*) AS BIGINT) AS n_cells FROM cells)
       SELECT lang, source, o, contrib_micro, chi2_micro, n_cells
       FROM cells CROSS JOIN tot ORDER BY lang, source"""

  /** Calibration / reliability audit (ECE) of the q31-style heuristic
    * quality score against the q77 LM-surprisal gate — the check a
    * curation pipeline runs before using a cheap score as a sampling
    * weight: per score-decile, does the FRACTION of docs the expensive
    * gate accepts track the score itself? q139 answers "do the two
    * gates agree" with one κ; this emits the reliability table (which
    * score band over/under-promises) plus the expected-calibration-
    * error summary — the actionable version.
    *
    * Parity: the score is q139's integer permille composite (range
    * [0,3000), binned by `div 300` into deciles), the label is q139's
    * gate B verbatim, and both per-bin rates are ppm floor-divisions of
    * exact counts (n_pos·10⁶ div n_b; s_sum·10⁶ div (3000·n_b)) — all
    * ≤ 1.5·10¹² so 64-bit integer division is exact and identical to
    * DuckDB's `//`. ECE is the n_b-weighted mean |acc−conf| in ppm,
    * again one integer division.
    *
    * Shape: ONE corpus tokenization feeds both gates (the q139
    * checkpoint trick); everything after the per-doc join groups into
    * ≤ 10 bin rows — the reduction is all partial-agg, and the final
    * ECE rides a broadcast of the 10-row bin relation. */
  def q176Calibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (score, label) = scoreAndLabel(s, d, _.as("score"), "y")
    val bins = score.join(label, "doc_id")
      .groupBy(expr("score div 300").as("bin"))
      .agg(count(lit(1)).as("n_b"), sum($"y").as("n_pos"),
        sum($"score").as("s_sum"))
      .withColumn("acc_ppm", expr("n_pos * 1000000 div n_b"))
      .withColumn("conf_ppm", expr("s_sum * 1000000 div (3000 * n_b)"))
    val ece = bins
      .agg(sum($"n_b").as("n"),
        sum($"n_b" * abs($"acc_ppm" - $"conf_ppm")).as("dev"))
      .select(expr("dev div n").as("ece_ppm"))
    bins.crossJoin(broadcast(ece))
      .select($"bin", $"n_b", $"n_pos", $"acc_ppm", $"conf_ppm", $"ece_ppm")
      .orderBy($"bin")
  }

  /** Cumulative-gains / lift table (q223): treat q176's heuristic
    * quality score as a retrieval model for the LM-gate label and ask
    * the budgeted question — if we keep only the top d deciles, what
    * share of the good documents do we capture, and at what lift over
    * random? This is the curation counterpart of a marketing gains
    * chart, and the decision artifact behind every "keep the top X%"
    * threshold (q193 spends a budget this way; this measures whether
    * the score deserves it). Deciles are EXACT ntile(10) semantics
    * over the total order (score desc, doc_id) — but computed without
    * a global row-level sort. Gains/lift are integer bp divisions of
    * exact cumulative counts.
    *
    * Exact ntile without the global sort: a row's ntile depends only
    * on its global rank, and rank decomposes as (rows in strictly
    * higher score groups) + (row_number within its own group). The
    * first term comes from the SCORE HISTOGRAM (groupBy(score), a
    * bounded relation — the score formula has ≲3k reachable values —
    * so its cumulative window is a q93-style bounded-histogram
    * window, never a doc-level one). The tile of a rank is closed-
    * form arithmetic on (N div 10, N mod 10). A score group whose
    * rank range [cumb+1, cumb+cnt] lies inside one tile contributes
    * its (cnt, Σy) wholesale — no per-row work at all. Only groups
    * STRADDLING one of the 9 tile boundaries (≤ 9 groups, at most one
    * per boundary... a group can cover several) are joined back to
    * their rows and ranked by a window PARTITIONED BY score — the
    * per-boundary-group sort is the irreducible cost of exact ntile
    * under ties, and it touches boundary groups only, not the corpus.
    *
    * Shape: q176's score+label machinery (one checkpointed tf
    * relation), one bounded histogram window, one partitioned
    * row_number over the straddling residue, a 10-row cumulative
    * window after the decile agg. No unpartitioned row-level
    * WindowExec anywhere (asserted in QualitySpec). */
  def q223GainsCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (score, label) = scoreAndLabel(s, d, _.as("score"), "y")
    // one materialization feeds both exactNtileAgg branches (histogram
    // build + boundary-group ranking) — the local stand-in for the
    // reused shuffle a cluster plan would keep (q149's pattern)
    val scored = score.join(label, "doc_id").localCheckpoint()
    // exact ntile(10) over (score desc, doc_id) via the shared
    // histogram-rank engine — see Windows.exactNtileAgg
    val dec = Windows.exactNtileAgg(scored, "score", "doc_id", "y",
        10, descending = true)
      .select($"tile".as("decile"), $"n_t".as("n_d"), $"y_t".as("pos_d"))
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dec
      .withColumn("cum_n", sum($"n_d").over(w))
      .withColumn("cum_pos", sum($"pos_d").over(w))
    val g = cum.agg(max($"cum_n").as("n_all"), max($"cum_pos").as("pos_all"))
    cum.crossJoin(broadcast(g))
      .select($"decile", $"n_d", $"pos_d",
        expr("cum_pos * 10000 div pos_all").as("gain_bp"),
        expr("(cum_pos * n_all * 10000) div (pos_all * cum_n)").as("lift_bp"))
      .orderBy($"decile")
  }

  val q223Oracle: String =
    """WITH tok AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       sc AS (
         SELECT doc_id,
           CAST(least(sum(tf), 100) * 10
             + (1000 - CAST(floor(sum(CASE WHEN term IN ('the','a','of','and','in','to')
                                           THEN tf ELSE 0 END) * 1000.0 / sum(tf)) AS BIGINT))
             + CAST(floor(count(*) * 1000.0 / sum(tf)) AS BIGINT) AS BIGINT) AS score
         FROM tf GROUP BY 1),
       tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
       gb AS (
         SELECT doc_id,
           CAST(sum(tf * CAST(floor(ln((t * 1.0) / cnt) * 1000000.0) AS BIGINT)) * 1.0
             / sum(tf) <= 3401500 AS BIGINT) AS y
         FROM tf JOIN tc USING (term) CROSS JOIN tot GROUP BY 1),
       dd AS (
         SELECT CAST(ntile(10) OVER (ORDER BY score DESC, sc.doc_id) AS BIGINT) AS decile, y
         FROM sc JOIN gb ON sc.doc_id = gb.doc_id),
       dec AS (
         SELECT decile, CAST(count(*) AS BIGINT) AS n_d, CAST(sum(y) AS BIGINT) AS pos_d
         FROM dd GROUP BY decile),
       cum AS (
         SELECT decile, n_d, pos_d,
           CAST(sum(n_d) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
           CAST(sum(pos_d) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
         FROM dec),
       g AS (SELECT max(cum_n) AS n_all, max(cum_pos) AS pos_all FROM cum)
       SELECT decile, n_d, pos_d,
         cum_pos * 10000 // pos_all AS gain_bp,
         (cum_pos * n_all * 10000) // (pos_all * cum_n) AS lift_bp
       FROM cum CROSS JOIN g ORDER BY decile"""

  val q176Oracle: String =
    """WITH tok AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       sc AS (
         SELECT doc_id,
           CAST(least(sum(tf), 100) * 10
             + (1000 - CAST(floor(sum(CASE WHEN term IN ('the','a','of','and','in','to')
                                           THEN tf ELSE 0 END) * 1000.0 / sum(tf)) AS BIGINT))
             + CAST(floor(count(*) * 1000.0 / sum(tf)) AS BIGINT) AS BIGINT) AS score
         FROM tf GROUP BY 1),
       tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
       gb AS (
         SELECT doc_id,
           CAST(sum(tf * CAST(floor(ln((t * 1.0) / cnt) * 1000000.0) AS BIGINT)) * 1.0
             / sum(tf) <= 3401500 AS BIGINT) AS y
         FROM tf JOIN tc USING (term) CROSS JOIN tot GROUP BY 1),
       b AS (
         SELECT score // 300 AS bin, CAST(count(*) AS BIGINT) AS n_b,
           CAST(sum(y) AS BIGINT) AS n_pos, CAST(sum(score) AS BIGINT) AS s_sum
         FROM sc JOIN gb USING (doc_id) GROUP BY 1),
       bb AS (
         SELECT bin, n_b, n_pos, n_pos * 1000000 // n_b AS acc_ppm,
           s_sum * 1000000 // (3000 * n_b) AS conf_ppm
         FROM b),
       e AS (SELECT CAST(sum(n_b * abs(acc_ppm - conf_ppm)) // sum(n_b) AS BIGINT) AS ece_ppm
             FROM bb)
       SELECT bin, n_b, n_pos, acc_ppm, conf_ppm, ece_ppm
       FROM bb CROSS JOIN e ORDER BY bin"""

  /** Zone-map / data-skipping audit: for a predicate `shipdate >= m`,
    * how many 256-row files could min/max statistics let the scan SKIP
    * — under the table's NATURAL write order versus a shipdate-sorted
    * rewrite? A file is prunable iff its max_shipdate < m (the parquet
    * row-group / Iceberg-manifest rule). The natural layout of this
    * data is date-uncorrelated, so its curve sits at ~0 across the
    * calendar; the sorted layout prunes in proportion to the threshold
    * — the GAP between the two curves is the exact number this audit
    * exists to produce: the scan savings a `repartitionByRange(sort
    * key)` rewrite would buy, measured BEFORE paying to rewrite 100 TB
    * (the decision-side companion to q118's Z-order tiles and
    * `LayoutSpec`'s real PartitionFilters).
    *
    * Parity & shape — both curves are SHUFFLE-LIGHT by construction,
    * no global sort anywhere:
    *  - natural files are 64-orderkey write batches (what an appending
    *    writer produces); their max-stat table is one partial-agg
    *    groupBy on `l_orderkey div 64`, and the 12-probe grid runs over
    *    that stats relation only — a real audit reads footer stats,
    *    never data, and this is its exact dataflow.
    *  - the sorted layout needs no simulation at all: with 256-row
    *    files in shipdate order, a file is entirely below probe m iff
    *    its last row is, so pruned(m) = ⌊|rows < m|/256⌋ EXACTLY and
    *    n_files = ⌈n/256⌉ — twelve conditional sums in ONE pass over
    *    the scan. (Simulating with a global row_number measured 2.2 s
    *    at sf0.1 and would single-partition at scale; the closed form
    *    is both exact and free.)
    * Both sides emit bp fractions (integer div) since the two layouts
    * have different file counts. */
  def q181ZonemapAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val probes = (1 to 12).map(m => f"1997-$m%02d-01")
    val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_shipdate")
    // natural layout: per-write-batch max stats, then the probe grid
    val natFiles = li.groupBy(expr("l_orderkey div 64").as("nat_f"))
      .agg(max($"l_shipdate").as("max_sd"))
    val natCurve = natFiles
      .select($"max_sd", explode(array(probes.map(lit): _*)).as("probe"))
      .groupBy($"probe")
      .agg(count(lit(1)).as("nat_files"),
        sum(($"max_sd" < $"probe".cast("timestamp")).cast("long"))
          .as("pruned_nat"))
    // sorted layout: closed form from one multi-conditional-sum pass
    val belowCols = probes.map(p =>
      sum(($"l_shipdate" < lit(p).cast("timestamp")).cast("long"))
        .as(s"below_$p"))
    val srtCurve = li
      .agg(count(lit(1)).as("n"), belowCols: _*)
      .select(posexplode(array(probes.map(p => col(s"below_$p")): _*))
        .as(Seq("pos", "below")), $"n")
      .select(element_at(array(probes.map(lit): _*), $"pos" + 1).as("probe"),
        expr("(n + 255) div 256").as("srt_files"),
        expr("below div 256").as("pruned_srt"))
    natCurve.join(srtCurve, "probe")
      .select($"probe", $"nat_files", $"pruned_nat",
        expr("pruned_nat * 10000 div nat_files").as("nat_bp"),
        $"srt_files", $"pruned_srt",
        expr("pruned_srt * 10000 div srt_files").as("srt_bp"))
      .orderBy($"probe")
  }

  val q181Oracle: String = {
    val probeList = (1 to 12).map(m => f"('1997-$m%02d-01')").mkString(",")
    val belowCols = (1 to 12).map(m =>
      f"CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1997-$m%02d-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS b$m%02d")
      .mkString(", ")
    val belowArms = (1 to 12).map(m =>
      f"SELECT '1997-$m%02d-01' AS probe, b$m%02d AS below, n FROM s").mkString(" UNION ALL ")
    s"""WITH nf AS (
         SELECT l_orderkey // 64 AS nat_f, max(l_shipdate) AS max_sd
         FROM lineitem GROUP BY 1),
       nc AS (
         SELECT probe, CAST(count(*) AS BIGINT) AS nat_files,
           CAST(sum(CASE WHEN max_sd < CAST(probe AS TIMESTAMP) THEN 1 ELSE 0 END) AS BIGINT) AS pruned_nat
         FROM nf CROSS JOIN (VALUES $probeList) p(probe) GROUP BY 1),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n, $belowCols FROM lineitem),
       sc AS (SELECT probe, below, n FROM ($belowArms))
       SELECT probe, nat_files, pruned_nat,
         pruned_nat * 10000 // nat_files AS nat_bp,
         (n + 255) // 256 AS srt_files, below // 256 AS pruned_srt,
         (below // 256) * 10000 // ((n + 255) // 256) AS srt_bp
       FROM nc JOIN sc USING (probe) ORDER BY probe"""
  }

  /** Two-level distributed sequence-gap census (q243): the largest
    * holes in the order-key sequence — missing-id detection for
    * invoice/audit trails. The naive formulation is lead() over ONE
    * global ordering (a single-partition window — the known scale
    * cliff); the scalable shape splits the work: keys are blocked by
    * `key div 4096`, INTERNAL gaps come from a per-block lag window
    * (parallel by block), and CROSS-BLOCK gaps from a lag over the
    * block-summary relation (|blocks| rows ≈ |keys|/4096 — if even
    * that exceeds one partition, recurse: it's the same two-level
    * trick one level up). Union, keep positive gaps, top-10 by
    * (length desc, start) — TakeOrdered, no global sort anywhere.
    *
    * Empty blocks fall out naturally: a cross-block gap spans from
    * one present block's max to the NEXT PRESENT block's min, so a
    * run of wholly-missing blocks becomes one gap. Gap arithmetic is
    * pure int64; the oracle is the single-window naive form —
    * different algorithm, same answer, which is the point. */
  def q243GapCensus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the raw o_orderkey sequence is gap-free by construction in this
    // generator; the census runs over the FILLED orders' keys (status
    // 'F'), whose holes are the open/pending orders — the realistic
    // "which invoice ranges are incomplete?" question
    val keys = Tables.orders(s, d).filter($"o_orderstatus" === "F")
      .select($"o_orderkey".as("k"))
      .withColumn("blk", expr("k div 4096"))
    val byBlk = Window.partitionBy($"blk").orderBy($"k")
    val internal = keys
      .withColumn("nxt", lead($"k", 1).over(byBlk))
      .filter($"nxt".isNotNull && $"nxt" - $"k" > 1L)
      .select(($"k" + 1L).as("gap_start"), ($"nxt" - $"k" - 1L).as("gap_len"))
    val blocks = keys.groupBy($"blk")
      .agg(min($"k").as("bmin"), max($"k").as("bmax"))
    val cross = blocks
      .withColumn("nmin", lead($"bmin", 1).over(Window.orderBy($"blk")))
      .filter($"nmin".isNotNull && $"nmin" - $"bmax" > 1L)
      .select(($"bmax" + 1L).as("gap_start"), ($"nmin" - $"bmax" - 1L).as("gap_len"))
    internal.unionByName(cross)
      .orderBy($"gap_len".desc, $"gap_start").limit(10)
  }

  val q243Oracle: String =
    """WITH g AS (
         SELECT o_orderkey AS k,
           lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
         FROM orders WHERE o_orderstatus = 'F')
       SELECT k + 1 AS gap_start, CAST(nxt - k - 1 AS BIGINT) AS gap_len
       FROM g WHERE nxt IS NOT NULL AND nxt - k > 1
       ORDER BY gap_len DESC, gap_start LIMIT 10"""

  /** ROC AUC of the heuristic quality score against the LM-gate label
    * (q252): the threshold-free companion to q176 (calibration), q214
    * (P/R/F1 at a fixed gate), and q223 (gains deciles) — AUC is the
    * probability a random positive outranks a random negative, and
    * the rank-statistic identity AUC = (2ΣR₊ − n₊(n₊+1)) / (2n₊n₋)
    * (average ranks for ties) computes it EXACTLY in integers from
    * the score VALUE DOMAIN: group by score, cumulative counts, and
    * each score value contributes pos·(2·cum_below + n + 1) doubled
    * rank mass (q194's 2·rank trick keeps tie-averaged ranks
    * integral). Gini = 2·AUC − 1 comes along free.
    *
    * Shape: the q223 score/label construction (one tf checkpoint
    * feeding both), then one groupBy over the score domain + one
    * cumulative window over that bounded relation + a 1-row reduce.
    * The fact-sized stages are the tf passes; ranking never sorts
    * documents, only score values. */
  def q252Auc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (score, label) = scoreAndLabel(s, d, _.as("score"), "y")
    val byScore = score.join(label, "doc_id")
      .groupBy($"score")
      .agg(count(lit(1)).as("n"), sum($"y").as("npos"))
    val w = Window.orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cum", sum($"n").over(w))
      .select($"n", $"npos", ($"cum" - $"n").as("below"))
      .agg(sum($"npos").as("n_pos"), sum($"n" - $"npos").as("n_neg"),
        sum($"npos" * (lit(2L) * $"below" + $"n" + 1L)).as("r2sum"))
      .select($"n_pos", $"n_neg",
        expr("(r2sum - n_pos * (n_pos + 1)) * 10000 div (2 * n_pos * n_neg)")
          .as("auc_bp"))
      .withColumn("gini_bp", $"auc_bp" * 2 - 10000L)
  }

  val q252Oracle: String =
    """WITH tok AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       sc AS (
         SELECT doc_id,
           CAST(least(sum(tf), 100) * 10
             + (1000 - CAST(floor(sum(CASE WHEN term IN ('the','a','of','and','in','to')
                                           THEN tf ELSE 0 END) * 1000.0 / sum(tf)) AS BIGINT))
             + CAST(floor(count(*) * 1000.0 / sum(tf)) AS BIGINT) AS BIGINT) AS score
         FROM tf GROUP BY 1),
       tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
       gb AS (
         SELECT doc_id,
           CAST(sum(tf * CAST(floor(ln((t * 1.0) / cnt) * 1000000.0) AS BIGINT)) * 1.0
             / sum(tf) <= 3401500 AS BIGINT) AS y
         FROM tf JOIN tc USING (term) CROSS JOIN tot GROUP BY 1),
       bys AS (
         SELECT score, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS npos
         FROM sc JOIN gb USING (doc_id) GROUP BY score),
       cc AS (
         SELECT n, npos,
           CAST(sum(n) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n
             AS below
         FROM bys),
       agg AS (
         SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
           CAST(sum(n - npos) AS BIGINT) AS n_neg,
           CAST(sum(npos * (2 * below + n + 1)) AS BIGINT) AS r2sum
         FROM cc)
       SELECT n_pos, n_neg,
         (r2sum - n_pos * (n_pos + 1)) * 10000 // (2 * n_pos * n_neg) AS auc_bp,
         (r2sum - n_pos * (n_pos + 1)) * 10000 // (2 * n_pos * n_neg) * 2 - 10000
           AS gini_bp
       FROM agg"""

  /** Cross-table freshness watermark (q260): per time-bearing table,
    * its high-water mark and lag behind the fleet-wide maximum, plus
    * the SAFE consistent watermark (the MINIMUM of the per-table
    * maxima — the latest instant every table has reached, which is
    * the only timestamp an incremental consumer may process up to
    * without seeing partial joins). The data-eng freshness audit
    * behind every "is the pipeline caught up?" page.
    *
    * Shape: one max-reduce per table (scan-only, parquet footer
    * statistics could even short-circuit it), a 4-row union, a 1-row
    * broadcast of the extrema back over it. Second-granularity
    * timestamps keep cross-engine parity trivial. */
  def q260FreshnessWatermark(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def hwm(df: DataFrame, name: String, col: org.apache.spark.sql.Column) =
      df.agg(max(col).as("ts")).select(lit(name).as("tbl"),
        unix_micros($"ts".cast("timestamp")).as("hwm_us"))
    val marks = hwm(Tables.orders(s, d), "orders", $"o_orderdate")
      .unionByName(hwm(Tables.lineitem(s, d), "lineitem", $"l_shipdate"))
      .unionByName(hwm(Tables.events(s, d), "events", $"ts"))
    val ext = marks.agg(min($"hwm_us").as("safe_us"), max($"hwm_us").as("max_us"))
    marks.crossJoin(broadcast(ext))
      .select($"tbl", expr("hwm_us div 1000000").as("hwm_s"),
        expr("(max_us - hwm_us) div 1000000").as("lag_behind_max_s"),
        expr("safe_us div 1000000").as("safe_watermark_s"))
      .orderBy($"tbl")
  }

  val q260Oracle: String =
    """WITH marks AS (
         SELECT 'orders' AS tbl, epoch_us(max(o_orderdate)) AS hwm_us FROM orders
         UNION ALL
         SELECT 'lineitem', epoch_us(max(l_shipdate)) FROM lineitem
         UNION ALL
         SELECT 'events', epoch_us(max(ts)) FROM events),
       ext AS (SELECT min(hwm_us) AS safe_us, max(hwm_us) AS max_us FROM marks)
       SELECT tbl, CAST(hwm_us // 1000000 AS BIGINT) AS hwm_s,
         CAST((max_us - hwm_us) // 1000000 AS BIGINT) AS lag_behind_max_s,
         CAST(safe_us // 1000000 AS BIGINT) AS safe_watermark_s
       FROM marks CROSS JOIN ext ORDER BY tbl"""

  /** Exact isotonic calibration (q293) via the minimax identity: fit
    * the best MONOTONE map from account-balance bin to urgent-order
    * propensity — the calibrator of choice when Platt scaling's
    * sigmoid shape is wrong and histogram binning is too jagged
    * (Zadrozny & Elkan 2002). The L2-isotonic solution has the closed
    * form  iso(i) = max_{j≤i} min_{k≥i} avg(y over bins j..k)  — no
    * PAVA iteration, no sequential driver loop: over the BOUNDED
    * 20-bin relation the whole minimax is two grouped reductions over
    * a ≤20³ interval grid, exact and order-free.
    *
    * Determinism: bin sums are exact int64; interval averages are
    * single IEEE divisions of those int64s (identical both engines);
    * min/max over those doubles are value-comparisons (no
    * accumulation); the result is floored to micro once. Equal-width
    * bins over integer cents make bin assignment pure integer math.
    *
    * Shape: one customers-orders semi-join pass → per-customer label,
    * one partial-agg groupBy to 20 bins; everything after is
    * constant-sized (the q93 bounded-domain argument). */
  def q293IsotonicCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("c_custkey")).distinct()
    val cust = Tables.customer(s, d)
      .select($"c_custkey",
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .join(urgent.withColumn("y", lit(1L)), Seq("c_custkey"), "left")
      .select($"cents", coalesce($"y", lit(0L)).as("y"))
    val rng = cust.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    val bins = cust.crossJoin(broadcast(rng))
      .select(least(expr("(20 * (cents - lo)) div (hi - lo + 1)"), lit(19L))
        .as("bin"), $"y")
      .groupBy($"bin").agg(count(lit(1)).as("cnt"), sum($"y").as("pos"))
      .localCheckpoint()
      // ≤ 20 bins by construction; the checkpoint erased that, so the
      // limit restates the bound in the plan (no-op) for the window audit
      .limit(20)
    // interval grid over the 20-row bin relation: prefix sums via a
    // bounded window, intervals from prefix differences
    val w = Window.orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins
      .withColumn("ccnt", sum($"cnt").over(w))
      .withColumn("cpos", sum($"pos").over(w))
      .select($"bin", $"cnt", $"pos", $"ccnt", $"cpos")
    val jj = pre.select($"bin".as("j"), ($"ccnt" - $"cnt").as("cb"),
      ($"cpos" - $"pos").as("pb"))
    val kk = pre.select($"bin".as("k"), $"ccnt".as("ce"), $"cpos".as("pe"))
    val ivals = jj.crossJoin(kk).filter($"j" <= $"k")
      .select($"j", $"k",
        (($"pe" - $"pb").cast("double") / ($"ce" - $"cb").cast("double"))
          .as("q"))
    val idim = bins.select($"bin".as("i"))
    val inner = idim.join(ivals, $"j" <= $"i" && $"k" >= $"i")
      .groupBy($"i", $"j").agg(min($"q").as("mq"))
    val iso = inner.groupBy($"i").agg(max($"mq").as("iso"))
    bins.join(iso, $"bin" === $"i")
      .select($"bin", $"cnt", $"pos",
        expr("(1000000 * pos) div cnt").as("raw_rate_micro"),
        floor($"iso" * lit(1000000.0)).cast("long").as("iso_rate_micro"))
      .orderBy($"bin")
  }

  val q293Oracle: String =
    """WITH urgent AS (
         SELECT DISTINCT o_custkey AS c_custkey FROM orders
         WHERE o_orderpriority = '1-URGENT'),
       cust AS (
         SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CASE WHEN u.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
         FROM customer c LEFT JOIN urgent u USING (c_custkey)),
       rng AS (SELECT CAST(min(cents) AS BIGINT) AS lo, CAST(max(cents) AS BIGINT) AS hi FROM cust),
       bins AS (
         SELECT least((20 * (cents - lo)) // (hi - lo + 1), 19) AS bin,
           CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
         FROM cust, rng GROUP BY 1),
       pre AS (
         SELECT bin, cnt, pos,
           CAST(sum(cnt) OVER wnd AS BIGINT) AS ccnt,
           CAST(sum(pos) OVER wnd AS BIGINT) AS cpos
         FROM bins
         WINDOW wnd AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       ivals AS (
         SELECT j.bin AS j, k.bin AS k,
           CAST(k.cpos - (j.cpos - j.pos) AS DOUBLE)
             / CAST(k.ccnt - (j.ccnt - j.cnt) AS DOUBLE) AS q
         FROM pre j JOIN pre k ON j.bin <= k.bin),
       inner_min AS (
         SELECT i.bin AS i, v.j, min(v.q) AS mq
         FROM bins i JOIN ivals v ON v.j <= i.bin AND v.k >= i.bin
         GROUP BY 1, 2),
       iso AS (SELECT i, max(mq) AS iso FROM inner_min GROUP BY 1)
       SELECT b.bin, b.cnt, b.pos,
         (1000000 * b.pos) // b.cnt AS raw_rate_micro,
         CAST(floor(iso.iso * 1000000.0) AS BIGINT) AS iso_rate_micro
       FROM bins b JOIN iso ON b.bin = iso.i
       ORDER BY b.bin"""


  /** Split-conformal prediction audit (q294, Vovk et al. / Lei et al.):
    * per segment, calibrate a residual threshold with a finite-sample
    * coverage guarantee — the distribution-free answer to "give me an
    * interval that contains 90% of future values, no normality
    * assumed". Customers split by custkey parity into calibration and
    * test; nonconformity = |balance − segment calibration mean| in
    * exact cents; the threshold is the ⌈(n+1)·0.9⌉-th smallest
    * calibration score (an EXACT order statistic, computed by
    * cumulative-count crossing over the per-segment score histogram —
    * the q250 idiom, no sort of raw rows); the test half then reports
    * empirical coverage, which the guarantee says lands ≥ 9000 bp in
    * expectation.
    *
    * All integer: cents, integer mean (floor), absolute residuals,
    * histogram counts, one bp division at the end. The per-segment
    * windows run over value histograms (bounded domains), partitioned
    * by segment. */
  def q294ConformalAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_mktsegment".as("segment"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("cents"),
        ($"c_custkey" % 2).as("half"))
      .localCheckpoint()
    val mu = cust.filter($"half" === 1)
      .groupBy($"segment")
      .agg(expr("sum(cents) div count(1)").as("mu"), count(lit(1)).as("n_cal"))
    val scored = cust.join(broadcast(mu), "segment")
      .select($"segment", $"half", $"n_cal", abs($"cents" - $"mu").as("sc"))
    val hist = scored.filter($"half" === 1)
      .groupBy($"segment", $"n_cal", $"sc").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"segment").orderBy($"sc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // k = ceil((n+1)·0.9) = (9·(n+1) + 9) div 10 clamped to n; the
    // threshold is the smallest score whose cumulative count reaches k
    val thr = hist
      .withColumn("cum", sum($"c").over(w))
      .withColumn("k", least(expr("(9 * (n_cal + 1) + 9) div 10"), $"n_cal"))
      .filter($"cum" >= $"k")
      .groupBy($"segment", $"n_cal", $"k").agg(min($"sc").as("threshold"))
    val cov = scored.filter($"half" === 0).select($"segment", $"sc")
      .join(broadcast(thr), "segment")
      .groupBy($"segment", $"n_cal", $"k", $"threshold")
      .agg(count(lit(1)).as("n_test"),
        count(when($"sc" <= $"threshold", lit(1))).as("n_covered"))
    cov.select($"segment", $"n_cal", $"k", $"threshold", $"n_test",
        $"n_covered", expr("(10000 * n_covered) div n_test").as("coverage_bp"))
      .orderBy($"segment")
  }

  val q294Oracle: String =
    """WITH cust AS (
         SELECT c_mktsegment AS segment,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           c_custkey % 2 AS half
         FROM customer),
       mu AS (
         SELECT segment, CAST(sum(cents) AS BIGINT) // count(*) AS mu,
           CAST(count(*) AS BIGINT) AS n_cal
         FROM cust WHERE half = 1 GROUP BY 1),
       scored AS (
         SELECT c.segment, c.half, m.n_cal, abs(c.cents - m.mu) AS sc
         FROM cust c JOIN mu m ON c.segment = m.segment),
       hist AS (
         SELECT segment, n_cal, sc, CAST(count(*) AS BIGINT) AS c
         FROM scored WHERE half = 1 GROUP BY 1, 2, 3),
       thr AS (
         SELECT segment, n_cal, k, CAST(min(sc) AS BIGINT) AS threshold FROM (
           SELECT segment, n_cal, sc,
             CAST(sum(c) OVER (PARTITION BY segment ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             least((9 * (n_cal + 1) + 9) // 10, n_cal) AS k
           FROM hist)
         WHERE cum >= k GROUP BY 1, 2, 3)
       SELECT s.segment, t.n_cal, t.k, t.threshold,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(count(CASE WHEN s.sc <= t.threshold THEN 1 END) AS BIGINT) AS n_covered,
         (10000 * CAST(count(CASE WHEN s.sc <= t.threshold THEN 1 END) AS BIGINT))
           // CAST(count(*) AS BIGINT) AS coverage_bp
       FROM scored s JOIN thr t ON s.segment = t.segment
       WHERE s.half = 0
       GROUP BY 1, 2, 3, 4 ORDER BY 1"""


  /** K-fold cross-validated calibration audit (q300): how well does a
    * balance-bin propensity model TRANSFER? 5 folds by customer-key
    * residue; each fold is scored by the model trained on the OTHER
    * four and charged its expected calibration error. The punchline is
    * the plan, not the math: no 5× re-training pass — the (bin, fold)
    * contingency is built in ONE partial-agg scan and every fold's
    * leave-one-out training stats are the bin totals MINUS its own
    * cell (complement arithmetic over a 100-row relation), so adding
    * folds costs nothing. The per-fold ECE row plus a pooled summary
    * row (fold = −1) make the generalization gap visible next to the
    * in-sample q176/q215-style calibration numbers.
    *
    * All integer: counts exact; predicted and observed rates floored
    * to micro once per cell; ECE is the n-weighted integer mean of
    * |pred − obs|. */
  def q300CvCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("c_custkey")).distinct()
    val cust = Tables.customer(s, d)
      .select($"c_custkey",
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .join(urgent.withColumn("y", lit(1L)), Seq("c_custkey"), "left")
      .select($"c_custkey", $"cents", coalesce($"y", lit(0L)).as("y"))
    val rng = cust.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    val cells = cust.crossJoin(broadcast(rng))
      .select(least(expr("(20 * (cents - lo)) div (hi - lo + 1)"), lit(19L))
        .as("bin"), ($"c_custkey" % 5).as("fold"), $"y")
      .groupBy($"bin", $"fold")
      .agg(count(lit(1)).as("n"), sum($"y").as("pos"))
      .localCheckpoint()
    val binTot = cells.groupBy($"bin")
      .agg(sum($"n").as("nb"), sum($"pos").as("pb"))
    val scored = cells.join(binTot, "bin")
      .withColumn("pred_micro",
        expr("(1000000 * (pb - pos)) div nullif(nb - n, 0)"))
      .withColumn("obs_micro", expr("(1000000 * pos) div n"))
      // a bin fully contained in one fold has no LOO training data —
      // its cells drop (pred undefined), same on both engines
      .filter($"pred_micro".isNotNull)
      .withColumn("dev", abs($"pred_micro" - $"obs_micro"))
    val perFold = scored.groupBy($"fold")
      .agg(sum($"n").as("n_eval"),
        expr("sum(n * dev) div sum(n)").as("ece_micro"))
    val pooled = scored.agg(sum($"n").as("n_eval"),
        expr("sum(n * dev) div sum(n)").as("ece_micro"))
      .select(lit(-1L).as("fold"), $"n_eval", $"ece_micro")
    perFold.unionByName(pooled).orderBy($"fold")
  }

  val q300Oracle: String =
    """WITH urgent AS (
         SELECT DISTINCT o_custkey AS c_custkey FROM orders
         WHERE o_orderpriority = '1-URGENT'),
       cust AS (
         SELECT c.c_custkey,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
           CASE WHEN u.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
         FROM customer c LEFT JOIN urgent u USING (c_custkey)),
       rng AS (SELECT CAST(min(cents) AS BIGINT) AS lo, CAST(max(cents) AS BIGINT) AS hi FROM cust),
       cells AS (
         SELECT least((20 * (cents - lo)) // (hi - lo + 1), 19) AS bin,
           c_custkey % 5 AS fold,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
         FROM cust, rng GROUP BY 1, 2),
       bt AS (SELECT bin, CAST(sum(n) AS BIGINT) AS nb, CAST(sum(pos) AS BIGINT) AS pb
              FROM cells GROUP BY 1),
       scored AS (
         SELECT c.fold, c.n,
           abs((1000000 * (bt.pb - c.pos)) // nullif(bt.nb - c.n, 0)
               - (1000000 * c.pos) // c.n) AS dev
         FROM cells c JOIN bt USING (bin)
         WHERE (1000000 * (bt.pb - c.pos)) // nullif(bt.nb - c.n, 0) IS NOT NULL),
       pf AS (
         SELECT fold, CAST(sum(n) AS BIGINT) AS n_eval,
           CAST(sum(n * dev) AS BIGINT) // CAST(sum(n) AS BIGINT) AS ece_micro
         FROM scored GROUP BY 1),
       pooled AS (
         SELECT CAST(-1 AS BIGINT) AS fold, CAST(sum(n) AS BIGINT) AS n_eval,
           CAST(sum(n * dev) AS BIGINT) // CAST(sum(n) AS BIGINT) AS ece_micro
         FROM scored)
       SELECT * FROM (SELECT * FROM pf UNION ALL SELECT * FROM pooled)
       ORDER BY fold"""


  /** k-anonymity / l-diversity audit (q306, Sweeney 2002; Machanavajjhala
    * 2007): before a customer extract ships, how re-identifiable is it?
    * Quasi-identifiers = (segment, nation, balance decile); every
    * equivalence class's size k is one partial-agg groupBy, and the
    * audit reports the minimum k, the row mass living in classes below
    * k = 5 and k = 10, and — for the sensitive attribute (the
    * customer's dominant order priority) — the share of classes with
    * l < 2 distinct sensitive values, where membership alone disclose
    * the attribute. All integers off two stacked bounded groupBys.
    *
    * The balance decile uses the q93 value-histogram idiom (bounded
    * cumulative window over distinct cents — never a row-level
    * ntile). */
  /** The quasi-identifier rows both privacy ops audit: per customer
    * (segment, nation, balance decile) plus the sensitive attribute
    * (dominant order priority). Shared by [[q306KAnonymity]] (audit at
    * full QI detail) and [[q404AnonLadder]] (generalization planner). */
  private def anonQiRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_custkey", $"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // dominant order priority per customer, count-desc then name tiebreak
    val dom = Tables.orders(s, d)
      .groupBy($"o_custkey", $"o_orderpriority").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_custkey")
          .orderBy($"c".desc, $"o_orderpriority")))
      .filter($"rn" === 1)
      .select($"o_custkey".as("c_custkey"), $"o_orderpriority".as("sens"))
    // balance decile from the value histogram (q93 idiom)
    val vc = cust.groupBy($"cents".as("v")).agg(count(lit(1)).as("cnt"))
    val tot = cust.agg(count(lit(1)).as("n_total"))
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
    val decile = vc
      .withColumn("cumb", coalesce(sum($"cnt").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .select($"v".as("cents"), expr("(10 * cumb) div n_total").as("dec"))
    cust.join(broadcast(decile), "cents")
      .join(dom, Seq("c_custkey"), "left")
      .select($"seg", $"nat", $"dec", coalesce($"sens", lit("NONE")).as("sens"))
  }

  def q306KAnonymity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = anonQiRows(s, d)
    val classes = rows.groupBy($"seg", $"nat", $"dec")
      .agg(count(lit(1)).as("k"), countDistinct($"sens").as("l"))
    classes.agg(
        sum($"k").as("n_rows"), count(lit(1)).as("n_classes"),
        min($"k").as("k_min"),
        sum(when($"k" < 5, $"k").otherwise(lit(0L))).as("r5"),
        sum(when($"k" < 10, $"k").otherwise(lit(0L))).as("r10"),
        count(when($"l" < 2, lit(1))).as("c_l1"))
      .select($"n_rows", $"n_classes", $"k_min",
        expr("(10000 * r5) div n_rows").as("rows_k_lt5_bp"),
        expr("(10000 * r10) div n_rows").as("rows_k_lt10_bp"),
        expr("(10000 * c_l1) div n_classes").as("classes_l_lt2_bp"))
  }

  val q306Oracle: String =
    """WITH cust AS (
         SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM customer),
       dom AS (
         SELECT c_custkey, sens FROM (
           SELECT o_custkey AS c_custkey, o_orderpriority AS sens,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY count(*) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_custkey, o_orderpriority)
         WHERE rn = 1),
       vc AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM cust GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cust),
       dec AS (
         SELECT v AS cents, (10 * cumb) // n_total AS dec FROM (
           SELECT v, cnt, COALESCE(CAST(sum(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
           FROM vc), t),
       rws AS (
         SELECT c.seg, c.nat, d.dec, COALESCE(m.sens, 'NONE') AS sens
         FROM cust c JOIN dec d USING (cents)
         LEFT JOIN dom m USING (c_custkey)),
       cls AS (
         SELECT seg, nat, dec, CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT sens) AS BIGINT) AS l
         FROM rws GROUP BY 1, 2, 3)
       SELECT CAST(sum(k) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_classes,
         CAST(min(k) AS BIGINT) AS k_min,
         (10000 * CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT))
           // CAST(sum(k) AS BIGINT) AS rows_k_lt5_bp,
         (10000 * CAST(sum(CASE WHEN k < 10 THEN k ELSE 0 END) AS BIGINT))
           // CAST(sum(k) AS BIGINT) AS rows_k_lt10_bp,
         (10000 * CAST(count(CASE WHEN l < 2 THEN 1 END) AS BIGINT))
           // CAST(count(*) AS BIGINT) AS classes_l_lt2_bp
       FROM cls"""

  /** Generalization-ladder anonymization planner (q404, the planning
    * half of [[q306KAnonymity]]'s audit — Incognito's lattice walk,
    * LeFevre 2005, on a suppression ladder): for each generalization
    * level of the quasi-identifier — L0 (seg, nat, decile), L1 drop
    * the decile, L2 drop nation, L3 full suppression — the class
    * count (the utility that survives), minimum class size k, minimum
    * sensitive-value diversity l, and the row mass in classes below
    * k = 5; `picked` marks the LEAST generalized level meeting the
    * release gate k ≥ 5 ∧ l ≥ 2.
    *
    * Scale: all four levels come from ONE pass over the QI rows via
    * GROUPING SETS (partial-agg per set, no per-level rescans), then a
    * bounded 4-row rollup; the pick attaches as a broadcast 1-row
    * aggregate over those 4 rows. */
  def q404AnonLadder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = anonQiRows(s, d)
    val classes = rows
      .groupingSets(
        Seq(Seq($"seg", $"nat", $"dec"), Seq($"seg", $"nat"), Seq($"seg"), Seq()),
        $"seg", $"nat", $"dec")
      .agg(grouping_id().as("gid"), count(lit(1)).as("k"),
        countDistinct($"sens").as("l"))
    val lv = classes
      .withColumn("level",
        when($"gid" === 0, 0L).when($"gid" === 1, 1L)
          .when($"gid" === 3, 2L).otherwise(3L))
      .withColumn("qi",
        when($"gid" === 0, "seg,nat,decile").when($"gid" === 1, "seg,nat")
          .when($"gid" === 3, "seg").otherwise("suppressed"))
      .groupBy($"level", $"qi")
      .agg(count(lit(1)).as("n_classes"),
        min($"k").as("k_min"), min($"l").as("l_min"),
        expr("CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 10000 div sum(k) AS BIGINT)")
          .as("rows_k_lt5_bp"))
    lv.crossJoin(broadcast(
        lv.filter($"k_min" >= 5 && $"l_min" >= 2).agg(min($"level").as("p"))))
      .select($"level", $"qi", $"n_classes", $"k_min", $"l_min", $"rows_k_lt5_bp",
        ($"level" === $"p").cast("long").as("picked"))
      .orderBy($"level")
  }

  val q404Oracle: String =
    """WITH cust AS (
         SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM customer),
       dom AS (
         SELECT c_custkey, sens FROM (
           SELECT o_custkey AS c_custkey, o_orderpriority AS sens,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY count(*) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_custkey, o_orderpriority)
         WHERE rn = 1),
       vc AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM cust GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cust),
       dec AS (
         SELECT v AS cents, (10 * cumb) // n_total AS dec FROM (
           SELECT v, cnt, COALESCE(CAST(sum(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
           FROM vc), t),
       rws AS (
         SELECT c.seg, c.nat, d.dec, COALESCE(m.sens, 'NONE') AS sens
         FROM cust c JOIN dec d USING (cents)
         LEFT JOIN dom m USING (c_custkey)),
       classes AS (
         SELECT GROUPING(seg, nat, dec) AS gid,
                CAST(count(*) AS BIGINT) AS k,
                CAST(count(DISTINCT sens) AS BIGINT) AS l
         FROM rws GROUP BY GROUPING SETS ((seg, nat, dec), (seg, nat), (seg), ())),
       lv AS (
         SELECT CAST(CASE gid WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 3 THEN 2 ELSE 3 END AS BIGINT) AS level,
                CASE gid WHEN 0 THEN 'seg,nat,decile' WHEN 1 THEN 'seg,nat'
                         WHEN 3 THEN 'seg' ELSE 'suppressed' END AS qi,
                CAST(count(*) AS BIGINT) AS n_classes,
                min(k) AS k_min, min(l) AS l_min,
                CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 10000 // sum(k) AS BIGINT) AS rows_k_lt5_bp
         FROM classes GROUP BY 1, 2),
       pick AS (SELECT min(level) AS p FROM lv WHERE k_min >= 5 AND l_min >= 2)
       SELECT level, qi, n_classes, k_min, l_min, rows_k_lt5_bp,
              CAST(CASE WHEN level = p THEN 1 ELSE 0 END AS BIGINT) AS picked
       FROM lv, pick ORDER BY level"""

  /** Differential-privacy noise calibration planner (q307): before
    * publishing per-segment counts under ε-DP, what does each ε cost
    * in accuracy? For the Laplace mechanism on a count (sensitivity 1)
    * the scale is 1/ε and the expected absolute error is b = 1/ε, so
    * the planning table reports, per segment × ε ∈ {0.1, 0.5, 1, 2},
    * the noise scale and the expected RELATIVE error in bp — the
    * utility half of the privacy-utility negotiation, computed without
    * ever drawing noise (the mechanism is run elsewhere; planning is
    * deterministic). Pure integer arithmetic off one count pass and a
    * 4-row literal ε dim. */
  def q307DpPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.customer(s, d)
      .groupBy($"c_mktsegment".as("segment")).agg(count(lit(1)).as("n"))
    val eps = Seq(100L, 500L, 1000L, 2000L).toDF("eps_milli")
    per.crossJoin(broadcast(eps))
      .select($"segment", $"eps_milli", $"n",
        expr("1000000 div eps_milli").as("scale_milli"),
        expr("(10000 * 1000) div (eps_milli * n)").as("rel_err_bp"))
      .orderBy($"segment", $"eps_milli")
  }

  val q307Oracle: String =
    """WITH per AS (
         SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n
         FROM customer GROUP BY 1),
       eps AS (SELECT CAST(unnest([100, 500, 1000, 2000]) AS BIGINT) AS eps_milli)
       SELECT segment, eps_milli, n,
         1000000 // eps_milli AS scale_milli,
         (10000 * 1000) // (eps_milli * n) AS rel_err_bp
       FROM per CROSS JOIN eps
       ORDER BY segment, eps_milli"""


  /** Bradley–Terry pairwise-preference ranking (q313): the arena-
    * leaderboard model — 20 document sources "battle" round-robin
    * (round r pits each source's r-th doc against every other's;
    * winner = higher vocabulary richness, integer micro so wins are
    * exact; ties excluded, BT-standard), then TWO
    * minorization–maximization steps from a uniform start:
    * π′_i = 2W_i/N_i closed-form, then π″_i = W_i / Σ_j n_ij/(π′_i+π′_j).
    * The j-sum is a double over ≤19 terms, accumulated through a
    * FIXED-order cumulative window (q301's discipline) so both
    * engines fold left-to-right identically; floored once to micro.
    *
    * Scale shape: battles are linear in docs (per-round join on the
    * bounded source dim), immediately aggregated to ≤C(20,2) pair
    * stats; every window thereafter runs over the bounded source/pair
    * relations. */
  def q313BradleyTerry(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"source", $"doc_id",
        floor(lit(1000000.0) * size(array_distinct(split($"text", " ")))
          / size(split($"text", " "))).cast("long").as("rich"))
      .withColumn("idx", row_number().over(
        Window.partitionBy($"source").orderBy($"doc_id")))
      .localCheckpoint()
    val battles = docs.select($"source".as("sa"), $"idx", $"rich".as("ra"))
      .join(docs.select($"source".as("sb"), $"idx", $"rich".as("rb")), Seq("idx"))
      .filter($"sa" < $"sb" && $"ra" =!= $"rb")
      .select($"sa", $"sb", when($"ra" > $"rb", 1L).otherwise(0L).as("wa"))
    val pairw = battles.groupBy($"sa", $"sb")
      .agg(count(lit(1)).as("n"), sum($"wa").as("w"))
    val edges = pairw.select($"sa".as("i"), $"sb".as("j"), $"n", $"w")
      .unionByName(pairw.select($"sb".as("i"), $"sa".as("j"), $"n",
        ($"n" - $"w").as("w")))
    val tot = edges.groupBy($"i")
      .agg(sum($"n").as("ni"), sum($"w").as("wi"))
    val pi1 = tot.select($"i", (lit(2.0) * $"wi" / $"ni").as("pi"))
    val terms = edges
      .join(pi1.select($"i", $"pi".as("pa")), Seq("i"))
      .join(pi1.select($"i".as("j"), $"pi".as("pb")), Seq("j"))
      .select($"i", $"j", ($"n" / ($"pa" + $"pb")).as("term"))
    val den = terms
      .withColumn("cum", sum($"term").over(Window.partitionBy($"i")
        .orderBy($"j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"i").orderBy($"j".desc)))
      .filter($"rn" === 1)
    den.join(tot, "i")
      .select($"i", $"ni", $"wi",
        floor($"wi" / $"cum" * 1000000.0).cast("long").as("pi2_micro"))
      .withColumn("rank", row_number().over(
        Window.orderBy($"pi2_micro".desc, $"i")).cast("long"))
      .select($"i".as("source"), $"ni".as("battles"), $"wi".as("wins"),
        $"pi2_micro", $"rank")
      .orderBy($"rank")
  }

  val q313Oracle: String =
    """WITH docs AS (
         SELECT source, doc_id,
           CAST(floor(1000000.0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))) AS BIGINT) AS rich,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS idx
         FROM documents),
       battles AS (
         SELECT a.source AS sa, b.source AS sb,
           CASE WHEN a.rich > b.rich THEN 1 ELSE 0 END AS wa
         FROM docs a JOIN docs b ON a.idx = b.idx AND a.source < b.source
         WHERE a.rich <> b.rich),
       pairw AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS n, CAST(sum(wa) AS BIGINT) AS w
                 FROM battles GROUP BY 1, 2),
       edges AS (
         SELECT sa AS i, sb AS j, n, w FROM pairw
         UNION ALL SELECT sb, sa, n, n - w FROM pairw),
       tot AS (SELECT i, CAST(sum(n) AS BIGINT) AS ni, CAST(sum(w) AS BIGINT) AS wi
               FROM edges GROUP BY 1),
       pi1 AS (SELECT i, 2.0 * wi / ni AS pi FROM tot),
       terms AS (
         SELECT e.i, e.j, e.n / (a.pi + b.pi) AS term
         FROM edges e JOIN pi1 a ON e.i = a.i JOIN pi1 b ON e.j = b.i),
       den AS (
         SELECT i,
           sum(term) OVER (PARTITION BY i ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           row_number() OVER (PARTITION BY i ORDER BY j DESC) AS rn
         FROM terms),
       pi2 AS (
         SELECT d.i, t.ni, t.wi, CAST(floor(t.wi / d.cum * 1000000.0) AS BIGINT) AS pi2_micro
         FROM den d JOIN tot t ON d.i = t.i WHERE d.rn = 1)
       SELECT i AS source, ni AS battles, wi AS wins, pi2_micro,
         CAST(row_number() OVER (ORDER BY pi2_micro DESC, i) AS BIGINT) AS rank
       FROM pi2 ORDER BY rank"""

  /** McNemar's paired test (q314): do two classifiers disagree in a
    * SYSTEMATIC direction on the same documents? Accuracy deltas
    * (q214) ignore pairing; McNemar conditions on the discordant
    * cells only — classifier A = "has ' the '" vs B = "≥5 stopword
    * tokens", both predicting lang='en'. Continuity-corrected
    * χ² = (max(|b−c|−1,0))²/(b+c), PURE int64 off one scan (a 2×2
    * contingency fold like q145, but paired). Degenerate b+c=0 is
    * guarded identically on both sides. */
  def q314Mcnemar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, d).select(
      ($"lang" === "en").as("truth"),
      concat(lit(" "), $"text", lit(" ")).contains(" the ").as("pa"),
      expr("""size(split(text, ' ')) - size(filter(split(text, ' '),
           x -> x <> 'the' AND x <> 'a' AND x <> 'of')) >= 5""").as("pb"))
    t.agg(
        count(lit(1)).as("n"),
        sum(when($"pa" === $"truth" && $"pb" === $"truth", 1L).otherwise(0L)).as("both_right"),
        sum(when($"pa" === $"truth" && $"pb" =!= $"truth", 1L).otherwise(0L)).as("only_a"),
        sum(when($"pa" =!= $"truth" && $"pb" === $"truth", 1L).otherwise(0L)).as("only_b"),
        sum(when($"pa" =!= $"truth" && $"pb" =!= $"truth", 1L).otherwise(0L)).as("both_wrong"))
      .selectExpr("n", "both_right", "only_a", "only_b", "both_wrong",
        "1000000 * (both_right + only_a) div n AS acc_a_micro",
        "1000000 * (both_right + only_b) div n AS acc_b_micro",
        """CASE WHEN only_a + only_b = 0 THEN 0
           ELSE (1000 * greatest(abs(only_a - only_b) - 1, 0) * greatest(abs(only_a - only_b) - 1, 0)) div (only_a + only_b)
           END AS chi2_milli""")
      .withColumn("reject", $"chi2_milli" > 3841L)
  }

  val q314Oracle: String =
    """WITH t AS (
         SELECT lang = 'en' AS truth,
           (' ' || text || ' ' LIKE '% the %') AS pa,
           len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '),
             x -> x <> 'the' AND x <> 'a' AND x <> 'of')) >= 5 AS pb
         FROM documents),
       c AS (
         SELECT
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pa = truth AND pb = truth THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
           CAST(sum(CASE WHEN pa = truth AND pb <> truth THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
           CAST(sum(CASE WHEN pa <> truth AND pb = truth THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
           CAST(sum(CASE WHEN pa <> truth AND pb <> truth THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
         FROM t)
       SELECT n, both_right, only_a, only_b, both_wrong,
         1000000 * (both_right + only_a) // n AS acc_a_micro,
         1000000 * (both_right + only_b) // n AS acc_b_micro,
         CASE WHEN only_a + only_b = 0 THEN 0
              ELSE (1000 * greatest(abs(only_a - only_b) - 1, 0) * greatest(abs(only_a - only_b) - 1, 0)) // (only_a + only_b)
         END AS chi2_milli,
         CASE WHEN only_a + only_b = 0 THEN FALSE
              ELSE (1000 * greatest(abs(only_a - only_b) - 1, 0) * greatest(abs(only_a - only_b) - 1, 0)) // (only_a + only_b) > 3841
         END AS reject
       FROM c"""

  /** Precision–recall curve + average precision (q315): the
    * imbalanced-class companion to q252's ROC-AUC — scores are the
    * integer dot product of each embedding with the label-0 class
    * CENTROID (per-dim milli mean, the q79 k-means building block),
    * so the ranking is a real retrieval model, not an arbitrary
    * column. PR points are computed per SCORE BUCKET (÷2000 → a
    * bounded threshold histogram at any data scale — never a
    * row-level rank), cumulated descending; AP is the step-sum
    * Σ Δtp·precision/n₀, all int64.
    *
    * Scale shape: explode is linear (64·N), the centroid is a 64-row
    * broadcast, and every window runs over the bounded bucket
    * histogram. */
  def q315PrCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = Tables.embeddings(s, d).select($"vec_id", $"label",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qa"))
    val ex = q.select($"vec_id", $"label", posexplode($"qa").as(Seq("dim", "qv")))
    val cent = ex.filter($"label" === 0)
      .groupBy($"dim")
      .agg(floor(sum($"qv") * lit(1.0) / count(lit(1))).cast("long").as("cm"))
    val sc = ex.join(broadcast(cent), "dim")
      .groupBy($"vec_id")
      .agg(max(when($"label" === 0, 1L).otherwise(0L)).as("pos"),
        sum($"qv" * $"cm").as("s_dot"))
    val b = sc.groupBy(floor($"s_dot" / lit(2000.0)).cast("long").as("thr_bucket"))
      .agg(count(lit(1)).as("nb"), sum($"pos").as("tpb"))
    val w = Window.orderBy($"thr_bucket".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    val cum = b
      .withColumn("cn", sum($"nb").over(w))
      .withColumn("ctp", sum($"tpb").over(w))
      .withColumn("n0", sum($"tpb").over(all))
    val pr = cum.selectExpr("thr_bucket", "nb", "tpb", "n0",
      "cn", "ctp",
      "1000000 * ctp div cn AS precision_micro",
      "1000000 * ctp div n0 AS recall_micro")
      .withColumn("ap_term", $"tpb" * $"precision_micro")
    pr.withColumn("ap_micro",
        expr("sum(ap_term) OVER () div n0"))
      .select($"thr_bucket", $"cn", $"ctp", $"precision_micro",
        $"recall_micro", $"ap_micro")
      .orderBy($"thr_bucket".desc)
  }

  val q315Oracle: String =
    """WITH q AS (
         SELECT vec_id, label, [CAST(floor(x::DOUBLE * 1000) AS BIGINT) FOR x IN embedding] AS qa
         FROM embeddings),
       ex AS (
         SELECT vec_id, label, unnest(qa) AS qv, unnest(range(len(qa))) AS dim FROM q),
       cent AS (
         SELECT dim, CAST(floor(CAST(sum(qv) AS BIGINT) * 1.0 / count(*)) AS BIGINT) AS cm
         FROM ex WHERE label = 0 GROUP BY 1),
       sc AS (
         SELECT e.vec_id, CAST(max(CASE WHEN e.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
           CAST(sum(e.qv * c.cm) AS BIGINT) AS s_dot
         FROM ex e JOIN cent c ON e.dim = c.dim
         GROUP BY 1),
       b AS (
         SELECT CAST(floor(s_dot / 2000.0) AS BIGINT) AS thr_bucket,
           CAST(count(*) AS BIGINT) AS nb, CAST(sum(pos) AS BIGINT) AS tpb
         FROM sc GROUP BY 1),
       cum AS (
         SELECT thr_bucket, nb, tpb,
           CAST(sum(nb) OVER (ORDER BY thr_bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
           CAST(sum(tpb) OVER (ORDER BY thr_bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ctp,
           CAST(sum(tpb) OVER () AS BIGINT) AS n0
         FROM b),
       pr AS (
         SELECT thr_bucket, cn, ctp, n0,
           1000000 * ctp // cn AS precision_micro,
           1000000 * ctp // n0 AS recall_micro,
           tpb * (1000000 * ctp // cn) AS ap_term
         FROM cum)
       SELECT thr_bucket, cn, ctp, precision_micro, recall_micro,
         CAST(sum(ap_term) OVER () AS BIGINT) // n0 AS ap_micro
       FROM pr ORDER BY thr_bucket DESC"""

  /** Randomized-response frequency estimation (q332): Warner's
    * local-DP mechanism alongside q307's central-DP planner — each
    * customer reports segment membership truthfully w.p. 3/4 and
    * inverted w.p. 1/4 (the "coin flip" is a reproducible hash bit,
    * q143 discipline — the mechanism's randomness is simulated, the
    * ESTIMATOR is the operator), and the debiasing estimator
    * π̂ = 2f̂ − 1/2 recovers each segment's true frequency. Output
    * shows observed f, the estimate, the true rate, and the error —
    * the utility-loss readout for ε = ln 3 local DP. Pure integer
    * arithmetic; one scan × 5-row segment dim. */
  def q332RandomizedResponse(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment",
      when(graft.functions.Fns.hash60(concat($"c_custkey", lit(":rr"))) % 4 === 0, 1L)
        .otherwise(0L).as("lie"))
    val segs = Tables.customer(s, d)
      .select($"c_mktsegment".as("seg")).distinct()
    base.crossJoin(broadcast(segs))
      .select($"seg",
        when($"c_mktsegment" === $"seg", 1L).otherwise(0L).as("truth"),
        $"lie")
      .withColumn("yes", when($"truth" + $"lie" === 1, 1L).otherwise(0L))
      .groupBy($"seg").agg(count(lit(1)).as("n"),
        sum($"yes").as("n_yes"), sum($"truth").as("n_true"))
      .selectExpr("seg", "n", "n_yes",
        "1000 * n_yes div n AS f_milli",
        "2 * (1000 * n_yes div n) - 500 AS est_milli",
        "1000 * n_true div n AS true_milli",
        "(2 * (1000 * n_yes div n) - 500 - 1000 * n_true div n) * 10 AS err_bp")
      .orderBy($"seg")
  }

  val q332Oracle: String =
    """WITH base AS (
         SELECT c_custkey, c_mktsegment,
           CASE WHEN ('0x' || substr(md5(c_custkey || ':rr'), 1, 15))::BIGINT % 4 = 0
                THEN 1 ELSE 0 END AS lie
         FROM customer),
       segs AS (SELECT DISTINCT c_mktsegment AS seg FROM customer),
       resp AS (
         SELECT s.seg,
           CASE WHEN b.c_mktsegment = s.seg THEN 1 ELSE 0 END AS truth,
           b.lie
         FROM base b CROSS JOIN segs s),
       agg AS (
         SELECT seg, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN truth + lie = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_yes,
           CAST(sum(truth) AS BIGINT) AS n_true
         FROM resp GROUP BY 1)
       SELECT seg, n, n_yes,
         1000 * n_yes // n AS f_milli,
         2 * (1000 * n_yes // n) - 500 AS est_milli,
         1000 * n_true // n AS true_milli,
         (2 * (1000 * n_yes // n) - 500 - 1000 * n_true // n) * 10 AS err_bp
       FROM agg ORDER BY seg"""

  /** Brier-score decomposition (q354): Murphy's
    * REL − RES + UNC split of a probability forecast — forecast =
    * balance-decile midpoint (a deliberately uninformative model for
    * parity labels), observed = per-bin outcome rate. The read-out
    * REL ≈ 0.077, RES ≈ 0.001, UNC = 0.25 says "miscalibrated AND
    * unresolving" — the two failure axes q176's ECE conflates.
    * Fixed-width bins (q93-class bounded histogram); the two bin-
    * weighted double sums run through fixed-order cumulative windows
    * (q301); per-bin milli columns floored once each. */
  def q354Brier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.customer(s, d).select(
      ($"c_custkey" % 2).as("o"),
      least(lit(9L), greatest(lit(0L),
        floor((($"c_acctbal".cast("decimal(18,2)") * 100).cast("long")
          + 100000L) / lit(121000.0)).cast("long"))).as("bin"))
    val bins = scored.groupBy($"bin")
      .agg(count(lit(1)).as("n_k"), sum($"o").as("o_k"))
    val tot = bins.agg(sum($"n_k").as("n"), sum($"o_k").as("ot"))
    val terms = bins.crossJoin(broadcast(tot))
      .selectExpr("bin", "n_k", "o_k", "n",
        "(2.0 * bin + 1.0) / 20.0 AS p_k",
        "CAST(o_k AS DOUBLE) / n_k AS obar_k",
        "CAST(ot AS DOUBLE) / n AS obar")
    val wcum = Window.orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    terms
      .withColumn("p_k_milli", floor($"p_k" * 1000.0).cast("long"))
      .withColumn("obar_k_milli", floor($"obar_k" * 1000.0).cast("long"))
      .withColumn("cum_rel",
        sum($"n_k" * ($"p_k" - $"obar_k") * ($"p_k" - $"obar_k")).over(wcum))
      .withColumn("cum_res",
        sum($"n_k" * ($"obar_k" - $"obar") * ($"obar_k" - $"obar")).over(wcum))
      .withColumn("rn", row_number().over(Window.orderBy($"bin".desc)))
      .withColumn("rel_micro", floor(
        max(when($"rn" === 1, $"cum_rel" / $"n")).over(all) * 1000000.0).cast("long"))
      .withColumn("res_micro", floor(
        max(when($"rn" === 1, $"cum_res" / $"n")).over(all) * 1000000.0).cast("long"))
      .withColumn("unc_micro", floor(
        max(when($"rn" === 1, $"obar" * (lit(1.0) - $"obar"))).over(all) * 1000000.0).cast("long"))
      .select($"bin", $"n_k", $"o_k", $"p_k_milli", $"obar_k_milli",
        $"rel_micro", $"res_micro", $"unc_micro")
      .orderBy($"bin")
  }

  val q354Oracle: String =
    """WITH scored AS (
         SELECT CAST(c_custkey % 2 AS BIGINT) AS o,
           least(9, greatest(0, CAST(floor((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000) / 121000.0) AS BIGINT))) AS bin
         FROM customer),
       bins AS (
         SELECT bin, CAST(count(*) AS BIGINT) AS n_k, CAST(sum(o) AS BIGINT) AS o_k
         FROM scored GROUP BY 1),
       tot AS (SELECT CAST(sum(n_k) AS BIGINT) AS n, CAST(sum(o_k) AS BIGINT) AS ot FROM bins),
       terms AS (
         SELECT b.bin, b.n_k, b.o_k, t.n, t.ot,
           (2.0 * b.bin + 1.0) / 20.0 AS p_k,
           CAST(b.o_k AS DOUBLE) / b.n_k AS obar_k,
           CAST(t.ot AS DOUBLE) / t.n AS obar
         FROM bins b CROSS JOIN tot t),
       acc AS (
         SELECT bin, n_k, o_k, n, obar,
           CAST(floor(p_k * 1000.0) AS BIGINT) AS p_k_milli,
           CAST(floor(obar_k * 1000.0) AS BIGINT) AS obar_k_milli,
           sum(n_k * (p_k - obar_k) * (p_k - obar_k)) OVER w AS cum_rel,
           sum(n_k * (obar_k - obar) * (obar_k - obar)) OVER w AS cum_res,
           row_number() OVER (ORDER BY bin DESC) AS rn
         FROM terms
         WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT bin, n_k, o_k, p_k_milli, obar_k_milli,
         CAST(floor(max(CASE WHEN rn = 1 THEN cum_rel / n END) OVER () * 1000000.0) AS BIGINT) AS rel_micro,
         CAST(floor(max(CASE WHEN rn = 1 THEN cum_res / n END) OVER () * 1000000.0) AS BIGINT) AS res_micro,
         CAST(floor(max(CASE WHEN rn = 1 THEN obar * (1.0 - obar) END) OVER () * 1000000.0) AS BIGINT) AS unc_micro
       FROM acc ORDER BY bin"""

  /** Length-controlled win rate — Mantel–Haenszel (q358): is src0's
    * arena win rate (q313's battles) an artifact of document LENGTH?
    * Battles are stratified by length bucket and pooled with the
    * matched-pair Mantel–Haenszel odds ratio Σa_k/Σb_k — the
    * length-controlled leaderboard correction (the fix q356's audit
    * calls for). Per-stratum win rates integer; the single pooled
    * ratio accumulates through fixed-order windows and floors once. */
  def q358MantelHaenszel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"source", $"doc_id",
        floor(lit(1000000.0) * size(array_distinct(split($"text", " ")))
          / size(split($"text", " "))).cast("long").as("rich"),
        least(lit(3L), expr("size(split(text, ' ')) div 30").cast("long"))
          .as("lbucket"))
      .withColumn("idx", row_number().over(
        Window.partitionBy($"source").orderBy($"doc_id")))
      .localCheckpoint()
    val battles = docs.select($"source".as("sa"), $"idx", $"rich".as("ra"),
        $"lbucket".as("la"))
      .join(docs.select($"source".as("sb"), $"idx", $"rich".as("rb"),
        $"lbucket".as("lb")), Seq("idx"))
      .filter($"sa" < $"sb" && $"ra" =!= $"rb")
      .filter(($"sa" === "src0") =!= ($"sb" === "src0"))
      .select(least($"la", $"lb").as("stratum"),
        when(when($"sa" === "src0", $"ra").otherwise($"rb") >
             when($"sa" === "src0", $"rb").otherwise($"ra"), 1L)
          .otherwise(0L).as("focal_win"))
    val strat = battles.groupBy($"stratum")
      .agg(sum($"focal_win").as("a_k"),
        sum(lit(1L) - $"focal_win").as("b_k"))
    val wcum = Window.orderBy($"stratum")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    strat
      .withColumn("winrate_bp", expr("10000 * a_k div (a_k + b_k)"))
      .withColumn("cum_a", sum($"a_k".cast("double")).over(wcum))
      .withColumn("cum_b", sum($"b_k".cast("double")).over(wcum))
      .withColumn("rn", row_number().over(Window.orderBy($"stratum".desc)))
      .withColumn("mh_or_milli", floor(
        max(when($"rn" === 1, $"cum_a" / $"cum_b"))
          .over(Window.partitionBy()) * 1000.0).cast("long"))
      .select($"stratum", $"a_k", $"b_k", $"winrate_bp", $"mh_or_milli")
      .orderBy($"stratum")
  }

  val q358Oracle: String =
    """WITH docs AS (
         SELECT source, doc_id,
           CAST(floor(1000000.0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))) AS BIGINT) AS rich,
           CAST(least(3, len(string_split(text, ' ')) // 30) AS BIGINT) AS lbucket,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS idx
         FROM documents),
       battles AS (
         SELECT least(a.lbucket, b.lbucket) AS stratum,
           CASE WHEN (CASE WHEN a.source = 'src0' THEN a.rich ELSE b.rich END) >
                     (CASE WHEN a.source = 'src0' THEN b.rich ELSE a.rich END) THEN 1 ELSE 0 END AS focal_win
         FROM docs a JOIN docs b ON a.idx = b.idx AND a.source < b.source
         WHERE a.rich <> b.rich AND (a.source = 'src0') <> (b.source = 'src0')),
       strat AS (
         SELECT stratum,
           CAST(sum(focal_win) AS BIGINT) AS a_k,
           CAST(sum(1 - focal_win) AS BIGINT) AS b_k
         FROM battles GROUP BY 1),
       mh AS (
         SELECT stratum, a_k, b_k,
           10000 * a_k // (a_k + b_k) AS winrate_bp,
           sum(CAST(a_k AS DOUBLE)) OVER w AS cum_a,
           sum(CAST(b_k AS DOUBLE)) OVER w AS cum_b,
           row_number() OVER (ORDER BY stratum DESC) AS rn
         FROM strat
         WINDOW w AS (ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT stratum, a_k, b_k, winrate_bp,
         CAST(floor(max(CASE WHEN rn = 1 THEN cum_a / cum_b END) OVER () * 1000.0) AS BIGINT) AS mh_or_milli
       FROM mh ORDER BY stratum"""

  /** Sort-key advisor (q363): which single-column sort order prunes
    * the most files for a given predicate workload? For each
    * candidate layout (orderdate / custkey / totalprice), rows are
    * binned into 64 simulated files by the layout key's cumulative
    * histogram (the q93 idiom — an equal-mass sort simulation with
    * no actual sort), per-file zonemaps (min/max of EVERY workload
    * column) are built exactly as q181 would, and each workload
    * predicate counts the files its range overlaps. The advisor
    * ranks layouts by average scan fraction — q118 (Z-order) and
    * q181 (audit) get their missing DECISION step. All integer
    * counting; one fact scan total (the layouts fan out via explode
    * and the zonemaps fold into the histogram aggregate). */
  def q363SortkeyAdvisor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val epoch = lit("1970-01-01").cast("date")
    val base = Tables.orders(s, d).select($"o_custkey",
      datediff($"o_orderdate".cast("date"), epoch).cast("long").as("od_d"),
      ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("tp"))
    // ONE scan, ONE fact-sized exchange (r15; was 2 scans of a 3-way
    // union + a fact-sized sort-merge join at 17× the DuckDB twin):
    // a simulated file is a union of whole key groups, and min/max
    // COMPOSE (file min = min of per-key mins), so the per-file
    // zonemaps fold into the SAME aggregate that builds the cumulative
    // histogram — file_id then attaches to the key-group relation by
    // the window alone and the fact join disappears. The 3-layout
    // fan-out rides one explode instead of re-scanning per branch.
    val hist = base.select(explode(array(
        struct(lit("orderdate").as("layout"), $"od_d".as("k")),
        struct(lit("custkey").as("layout"), $"o_custkey".as("k")),
        struct(lit("totalprice").as("layout"), $"tp".as("k")))).as("lk"),
        $"o_custkey", $"od_d", $"tp")
      .groupBy($"lk.layout".as("layout"), $"lk.k".as("k"))
      .agg(count(lit(1)).as("cnt"),
        min($"o_custkey").as("ck_mn"), max($"o_custkey").as("ck_mx"),
        min($"od_d").as("od_mn"), max($"od_d").as("od_mx"),
        min($"tp").as("tp_mn"), max($"tp").as("tp_mx"))
    val binned = hist
      .withColumn("cum", sum($"cnt").over(Window.partitionBy($"layout")
        .orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot",
        sum($"cnt").over(Window.partitionBy($"layout")))
      .withColumn("file_id", least(lit(63L), expr("64 * (cum - cnt) div tot")))
    val files = binned
      .groupBy($"layout", $"file_id")
      .agg(min($"ck_mn").as("ck_lo"), max($"ck_mx").as("ck_hi"),
        min($"od_mn").as("od_lo"), max($"od_mx").as("od_hi"),
        min($"tp_mn").as("tp_lo"), max($"tp_mx").as("tp_hi"))
    val dLo = datediff(lit("1998-01-01").cast("date"), epoch)
    val dHi = datediff(lit("1998-07-01").cast("date"), epoch)
    files.groupBy($"layout").agg(
        sum(when($"od_hi" >= dLo && $"od_lo" < dHi, 1L).otherwise(0L))
          .as("q_date_files"),
        sum(when($"ck_hi" >= 100L && $"ck_lo" <= 200L, 1L).otherwise(0L))
          .as("q_cust_files"),
        sum(when($"tp_hi" >= 30000000L, 1L).otherwise(0L))
          .as("q_price_files"),
        count(lit(1)).as("n_files"))
      .selectExpr("layout", "n_files", "q_date_files", "q_cust_files",
        "q_price_files",
        "10000 * (q_date_files + q_cust_files + q_price_files) div (3 * n_files) AS avg_scan_bp")
      .withColumn("rank", row_number().over(Window
        .orderBy($"avg_scan_bp", $"layout")).cast("long"))
      .orderBy($"rank")
  }

  val q363Oracle: String =
    """WITH base AS (
         SELECT o_custkey,
           CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS od_d,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS tp
         FROM orders),
       long AS (
         SELECT 'orderdate' AS layout, od_d AS k, o_custkey, od_d, tp FROM base
         UNION ALL SELECT 'custkey', o_custkey, o_custkey, od_d, tp FROM base
         UNION ALL SELECT 'totalprice', tp, o_custkey, od_d, tp FROM base),
       hist AS (
         SELECT layout, k, CAST(count(*) AS BIGINT) AS cnt FROM long GROUP BY 1, 2),
       binned AS (
         SELECT layout, k,
           least(63, 64 * (cum - cnt) // tot) AS file_id
         FROM (SELECT layout, k, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY layout ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(sum(cnt) OVER (PARTITION BY layout) AS BIGINT) AS tot
               FROM hist)),
       files AS (
         SELECT l.layout, b.file_id,
           min(l.o_custkey) AS ck_lo, max(l.o_custkey) AS ck_hi,
           min(l.od_d) AS od_lo, max(l.od_d) AS od_hi,
           min(l.tp) AS tp_lo, max(l.tp) AS tp_hi
         FROM long l JOIN binned b ON l.layout = b.layout AND l.k = b.k
         GROUP BY 1, 2),
       w AS (
         SELECT layout,
           CAST(sum(CASE WHEN od_hi >= date_diff('day', DATE '1970-01-01', DATE '1998-01-01')
                          AND od_lo < date_diff('day', DATE '1970-01-01', DATE '1998-07-01')
                     THEN 1 ELSE 0 END) AS BIGINT) AS q_date_files,
           CAST(sum(CASE WHEN ck_hi >= 100 AND ck_lo <= 200 THEN 1 ELSE 0 END) AS BIGINT) AS q_cust_files,
           CAST(sum(CASE WHEN tp_hi >= 30000000 THEN 1 ELSE 0 END) AS BIGINT) AS q_price_files,
           CAST(count(*) AS BIGINT) AS n_files
         FROM files GROUP BY 1)
       SELECT layout, n_files, q_date_files, q_cust_files, q_price_files,
         10000 * (q_date_files + q_cust_files + q_price_files) // (3 * n_files) AS avg_scan_bp,
         CAST(row_number() OVER (ORDER BY 10000 * (q_date_files + q_cust_files + q_price_files) // (3 * n_files), layout) AS BIGINT) AS rank
       FROM w ORDER BY rank"""

  /** Learned-index error audit (q371, the RMI metric of Kraska et al.
    * 2018): fit rank ≈ slope·key + intercept per shard (OLS on exact
    * sufficient statistics) and report the MAX and mean absolute rank
    * error — max_err IS the binary-search window a learned index
    * would need on that shard, i.e. "how learnable is this key
    * layout". Shards are the 5 order priorities; keys are price
    * cents.
    *
    * Exact per-shard ranks WITHOUT a per-shard sort: one
    * [[Windows.rangePrefixSum]] over the (shard, key, tie) total
    * order gives global ranks; subtracting each shard's broadcast
    * min-rank offset yields the shard-local row_number. The
    * distributed-scan relation is consumed twice (moment sums, then
    * the residual pass) — the scan+shuffle half is pinned by the
    * prefix-sum engine's checkpoint, so only cheap arithmetic
    * re-executes.
    *
    * Parity: Σkr/Σk² in DECIMAL (HUGEINT in the oracle) so the OLS
    * inputs are exact; slope/intercept are each ONE double tree;
    * per-row error floors once (q231 discipline). */
  def q371LearnedIndexAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = Tables.orders(s, d).select(
      $"o_orderpriority".as("shard"),
      ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("key"),
      $"o_orderkey".as("tie"))
    val g = Windows.rangePrefixSum(k, Seq($"shard", $"key", $"tie"), lit(1L), "rg")
    val offs = g.groupBy($"shard").agg(min($"rg").as("r0"))
    val r = g.join(broadcast(offs), "shard")
      .select($"shard", $"key", ($"rg" - $"r0" + 1).as("r"))
    val st = r.groupBy($"shard").agg(
      count(lit(1)).as("n"), sum($"key").as("sk"), sum($"r").as("sr"),
      sum($"key".cast("decimal(20,0)") * $"r".cast("decimal(18,0)")).as("skr"),
      sum($"key".cast("decimal(20,0)") * $"key".cast("decimal(18,0)")).as("skk"))
    val m = st.selectExpr("shard", "n",
      """(CAST(n AS DOUBLE) * CAST(skr AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sr AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) AS slope""",
      """CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(n AS DOUBLE) * CAST(skr AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sr AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))
           * (CAST(sk AS DOUBLE) / CAST(n AS DOUBLE)) AS icept""")
    r.join(broadcast(m), "shard")
      .select($"shard", $"n",
        floor($"slope" * 1000000000.0).cast("long").as("slope_nano"),
        abs(floor($"slope" * $"key" + $"icept").cast("long") - $"r").as("err"))
      .groupBy($"shard", $"n", $"slope_nano")
      .agg(max($"err").as("max_err"),
        expr("1000 * sum(err) div n").as("avg_err_milli"))
      .orderBy($"shard")
  }

  val q371Oracle: String =
    """WITH k AS (
         SELECT o_orderpriority AS shard,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS key,
           o_orderkey AS tie
         FROM orders),
       r AS (
         SELECT shard, key,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY key, tie) AS BIGINT) AS r
         FROM k),
       st AS (
         SELECT shard, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(key) AS BIGINT) AS sk, CAST(sum(r) AS BIGINT) AS sr,
           sum(CAST(key AS HUGEINT) * r) AS skr,
           sum(CAST(key AS HUGEINT) * key) AS skk
         FROM r GROUP BY 1),
       m AS (
         SELECT shard, n,
           (CAST(n AS DOUBLE) * CAST(skr AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sr AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) AS slope,
           CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(n AS DOUBLE) * CAST(skr AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sr AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))
               * (CAST(sk AS DOUBLE) / CAST(n AS DOUBLE)) AS icept
         FROM st),
       e AS (
         SELECT r.shard AS shard, m.n, m.slope,
           abs(CAST(floor(m.slope * r.key + m.icept) AS BIGINT) - r.r) AS err
         FROM r JOIN m ON r.shard = m.shard)
       SELECT shard, n, CAST(floor(slope * 1000000000.0) AS BIGINT) AS slope_nano,
         CAST(max(err) AS BIGINT) AS max_err,
         1000 * CAST(sum(err) AS BIGINT) // n AS avg_err_milli
       FROM e GROUP BY 1, 2, 3 ORDER BY shard"""

  /** Cardinality-estimation q-error audit (q373): how wrong would a
    * System-R-style optimizer be on THIS data? Five classic estimates
    * — range predicate by date interpolation, equality by 1/NDV,
    * their conjunction by independence, PK-FK join by
    * |O|·|L|/max(ndv), and filtered join by chaining — each compared
    * against the exact actual, reported as the standard q-error
    * max(est/act, act/est) in milli (Leis et al. 2015's metric). The
    * audit is the planner's feedback loop: a q-error near 1 says the
    * textbook assumptions hold on this corpus; a crafted correlated
    * workload (see spec) sends it off the chart.
    *
    * Shape: three aggregation passes (orders profile, lineitem
    * profile, the actual join counts) → 1-row broadcasts → 5 literal
    * case rows. NDVs are exact count-distincts here so the oracle can
    * twin them; a production optimizer would read the same numbers
    * off HLL sketches (q54). */
  def q373CardinalityAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val epoch = lit("1970-01-01").cast("date")
    val cut = lit("1996-01-01").cast("date")
    val o = Tables.orders(s, d).agg(
      count(lit(1)).as("n_o"),
      countDistinct($"o_orderkey").as("ndv_ok"),
      countDistinct($"o_orderpriority").as("ndv_pri"),
      min(datediff($"o_orderdate", epoch)).cast("long").as("d_min"),
      max(datediff($"o_orderdate", epoch)).cast("long").as("d_max"),
      count(when($"o_orderdate" >= cut, lit(1))).as("act_date"),
      count(when($"o_orderpriority" === "1-URGENT", lit(1))).as("act_pri"),
      count(when($"o_orderdate" >= cut &&
        $"o_orderpriority" === "1-URGENT", lit(1))).as("act_conj"))
    val l = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_l"), countDistinct($"l_orderkey").as("ndv_lk"))
    val j = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
      .agg(count(lit(1)).as("act_join"),
        count(when($"o_orderpriority" === "1-URGENT", lit(1))).as("act_jf"))
    val est = o.crossJoin(broadcast(l)).crossJoin(broadcast(j))
      .withColumn("d_cut", datediff(cut, epoch).cast("long"))
      .selectExpr(
        "CAST(floor(CAST(n_o AS DOUBLE) * (d_max - d_cut + 1) / (d_max - d_min + 1)) AS BIGINT) AS e_date",
        "CAST(floor(CAST(n_o AS DOUBLE) / ndv_pri) AS BIGINT) AS e_pri",
        "CAST(floor(CAST(n_o AS DOUBLE) * (d_max - d_cut + 1) / (d_max - d_min + 1) / ndv_pri) AS BIGINT) AS e_conj",
        "CAST(floor(CAST(n_o AS DOUBLE) * n_l / greatest(ndv_ok, ndv_lk)) AS BIGINT) AS e_join",
        "CAST(floor(CAST(n_o AS DOUBLE) * n_l / greatest(ndv_ok, ndv_lk) / ndv_pri) AS BIGINT) AS e_jf",
        "act_date", "act_pri", "act_conj", "act_join", "act_jf")
    est.select(explode(expr(
      """array(
           struct('sel_range_date' AS kase, e_date AS est_rows, act_date AS actual_rows),
           struct('sel_eq_priority' AS kase, e_pri AS est_rows, act_pri AS actual_rows),
           struct('sel_conjunction' AS kase, e_conj AS est_rows, act_conj AS actual_rows),
           struct('join_ol' AS kase, e_join AS est_rows, act_join AS actual_rows),
           struct('join_filtered' AS kase, e_jf AS est_rows, act_jf AS actual_rows))"""))
      .as("c"))
      .select($"c.kase".as("kase"), $"c.est_rows".as("est_rows"),
        $"c.actual_rows".as("actual_rows"))
      .withColumn("qerr_milli", expr(
        """CAST(floor(1000.0 * greatest(
             CAST(greatest(est_rows, 1) AS DOUBLE) / greatest(actual_rows, 1),
             CAST(greatest(actual_rows, 1) AS DOUBLE) / greatest(est_rows, 1))) AS BIGINT)"""))
      .orderBy($"kase")
  }

  val q373Oracle: String =
    """WITH o AS (
         SELECT CAST(count(*) AS BIGINT) AS n_o,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv_ok,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ndv_pri,
           CAST(min(date_diff('day', DATE '1970-01-01', o_orderdate)) AS BIGINT) AS d_min,
           CAST(max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS BIGINT) AS d_max,
           CAST(count(CASE WHEN o_orderdate >= DATE '1996-01-01' THEN 1 END) AS BIGINT) AS act_date,
           CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS act_pri,
           CAST(count(CASE WHEN o_orderdate >= DATE '1996-01-01' AND o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS act_conj
         FROM orders),
       l AS (
         SELECT CAST(count(*) AS BIGINT) AS n_l,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv_lk
         FROM lineitem),
       j AS (
         SELECT CAST(count(*) AS BIGINT) AS act_join,
           CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS act_jf
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       c AS (SELECT CAST(date_diff('day', DATE '1970-01-01', DATE '1996-01-01') AS BIGINT) AS d_cut),
       est AS (
         SELECT
           CAST(floor(CAST(n_o AS DOUBLE) * (d_max - d_cut + 1) / (d_max - d_min + 1)) AS BIGINT) AS e_date,
           CAST(floor(CAST(n_o AS DOUBLE) / ndv_pri) AS BIGINT) AS e_pri,
           CAST(floor(CAST(n_o AS DOUBLE) * (d_max - d_cut + 1) / (d_max - d_min + 1) / ndv_pri) AS BIGINT) AS e_conj,
           CAST(floor(CAST(n_o AS DOUBLE) * n_l / greatest(ndv_ok, ndv_lk)) AS BIGINT) AS e_join,
           CAST(floor(CAST(n_o AS DOUBLE) * n_l / greatest(ndv_ok, ndv_lk) / ndv_pri) AS BIGINT) AS e_jf,
           act_date, act_pri, act_conj, act_join, act_jf
         FROM o CROSS JOIN l CROSS JOIN j CROSS JOIN c),
       pairs AS (
         SELECT 'sel_range_date' AS kase, e_date AS est_rows, act_date AS actual_rows FROM est
         UNION ALL SELECT 'sel_eq_priority', e_pri, act_pri FROM est
         UNION ALL SELECT 'sel_conjunction', e_conj, act_conj FROM est
         UNION ALL SELECT 'join_ol', e_join, act_join FROM est
         UNION ALL SELECT 'join_filtered', e_jf, act_jf FROM est)
       SELECT kase, est_rows, actual_rows,
         CAST(floor(1000.0 * greatest(
           CAST(greatest(est_rows, 1) AS DOUBLE) / greatest(actual_rows, 1),
           CAST(greatest(actual_rows, 1) AS DOUBLE) / greatest(est_rows, 1))) AS BIGINT) AS qerr_milli
       FROM pairs ORDER BY kase"""

  /** t-closeness audit (q384, Li et al. 2007) — the third member of
    * the privacy trio q306 opens (k-anonymity says classes are big,
    * l-diversity says they carry several sensitive values; t-closeness
    * says each class's sensitive DISTRIBUTION must sit within t of the
    * global one, or class membership itself leaks). Same
    * quasi-identifier classes as q306 (segment × nation × balance
    * decile), sensitive attribute = dominant order priority, which is
    * ORDINAL (1-URGENT … 5-LOW, NONE last) — so the right distance is
    * the ordered-attribute Earth Mover's Distance:
    * EMD = (1/(m−1))·Σⱼ |CumP(j) − CumQ(j)|, computed exactly as
    * cross-multiplied integer cumulative counts (no division inside
    * the sum). Output: every class with its EMD in milli and the
    * t = 0.2 breach flag.
    *
    * Shape: one rows pass (q306's), counts on the (class × 6-rank)
    * grid, per-class windows over 6-row partitions, a broadcast
    * global-distribution join. Class count is bounded by the QI
    * domain (≤ 5·25·10), not the data. */
  def q384TCloseness(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select($"c_custkey", $"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val dom = Tables.orders(s, d)
      .groupBy($"o_custkey", $"o_orderpriority").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_custkey")
          .orderBy($"c".desc, $"o_orderpriority")))
      .filter($"rn" === 1)
      .select($"o_custkey".as("c_custkey"), $"o_orderpriority".as("sens"))
    val vc = cust.groupBy($"cents".as("v")).agg(count(lit(1)).as("cnt"))
    val tot = cust.agg(count(lit(1)).as("n_total"))
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
    val decile = vc
      .withColumn("cumb", coalesce(sum($"cnt").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .select($"v".as("cents"), expr("(10 * cumb) div n_total").as("dec"))
    val srankSql =
      """CASE sens WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
         WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
         WHEN '5-LOW' THEN 5 ELSE 6 END"""
    val rows2 = cust.join(broadcast(decile), "cents")
      .join(dom, Seq("c_custkey"), "left")
      .withColumn("sens", coalesce($"sens", lit("NONE")))
      .select($"seg", $"nat", $"dec", expr(srankSql).cast("long").as("srank"))
    val cls = rows2.groupBy($"seg", $"nat", $"dec", $"srank")
      .agg(count(lit(1)).as("c"))
    val classes = rows2.groupBy($"seg", $"nat", $"dec")
      .agg(count(lit(1)).as("nc"))
    val grid = classes
      .select($"seg", $"nat", $"dec", $"nc",
        explode(expr("sequence(CAST(1 AS BIGINT), 6)")).as("srank"))
      .join(cls, Seq("seg", "nat", "dec", "srank"), "left")
      .withColumn("c", coalesce($"c", lit(0L)))
      .withColumn("cumc", sum($"c").over(
        Window.partitionBy($"seg", $"nat", $"dec").orderBy($"srank")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val glob = rows2.groupBy($"srank").agg(count(lit(1)).as("g"))
    val globGrid = s.range(1, 7).select($"id".as("srank"))
      .join(glob, Seq("srank"), "left")
      .withColumn("g", coalesce($"g", lit(0L)))
      .withColumn("cumg", sum($"g").over(
        Window.orderBy($"srank")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(rows2.agg(count(lit(1)).as("ng"))))
      .select($"srank", $"cumg", $"ng")
    grid.join(broadcast(globGrid), "srank")
      .filter($"srank" <= 5) // the m-th cum difference is identically 0
      .groupBy($"seg", $"nat", $"dec", $"nc", $"ng")
      .agg(sum(abs($"cumc" * $"ng" - $"cumg" * $"nc")).as("num"))
      .select($"seg", $"nat", $"dec", $"nc".as("n_class"),
        expr("(1000 * num) div (5 * nc * ng)").as("emd_milli"))
      .withColumn("breach_t02", $"emd_milli" > 200)
      .orderBy($"seg", $"nat", $"dec")
  }

  val q384Oracle: String =
    """WITH cust AS (
         SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM customer),
       dom AS (
         SELECT c_custkey, sens FROM (
           SELECT o_custkey AS c_custkey, o_orderpriority AS sens,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY count(*) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_custkey, o_orderpriority)
         WHERE rn = 1),
       vc AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM cust GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cust),
       dec AS (
         SELECT v AS cents, (10 * cumb) // n_total AS dec FROM (
           SELECT v, cnt, COALESCE(CAST(sum(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumb
           FROM vc), t),
       rws AS (
         SELECT c.seg, c.nat, d.dec,
           CAST(CASE COALESCE(m.sens, 'NONE') WHEN '1-URGENT' THEN 1
             WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
             WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5
             ELSE 6 END AS BIGINT) AS srank
         FROM cust c JOIN dec d USING (cents)
         LEFT JOIN dom m USING (c_custkey)),
       cls AS (
         SELECT seg, nat, dec, srank, CAST(count(*) AS BIGINT) AS c
         FROM rws GROUP BY 1, 2, 3, 4),
       classes AS (
         SELECT seg, nat, dec, CAST(count(*) AS BIGINT) AS nc
         FROM rws GROUP BY 1, 2, 3),
       grid AS (
         SELECT cl.seg, cl.nat, cl.dec, cl.nc, r.srank,
           CAST(sum(COALESCE(c.c, 0)) OVER (PARTITION BY cl.seg, cl.nat, cl.dec
             ORDER BY r.srank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc
         FROM classes cl CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS srank) r
         LEFT JOIN cls c ON c.seg = cl.seg AND c.nat = cl.nat
           AND c.dec = cl.dec AND c.srank = r.srank),
       gcum AS (
         SELECT r.srank,
           CAST(sum(COALESCE(g.g, 0)) OVER (ORDER BY r.srank
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumg
         FROM (SELECT unnest([1, 2, 3, 4, 5, 6]) AS srank) r
         LEFT JOIN (SELECT srank, CAST(count(*) AS BIGINT) AS g
                    FROM rws GROUP BY 1) g ON g.srank = r.srank),
       ng AS (SELECT CAST(count(*) AS BIGINT) AS ng FROM rws)
       SELECT grid.seg, grid.nat, grid.dec, grid.nc AS n_class,
         (1000 * CAST(sum(abs(grid.cumc * ng.ng - gcum.cumg * grid.nc)) AS BIGINT))
           // (5 * grid.nc * ng.ng) AS emd_milli,
         (1000 * CAST(sum(abs(grid.cumc * ng.ng - gcum.cumg * grid.nc)) AS BIGINT))
           // (5 * grid.nc * ng.ng) > 200 AS breach_t02
       FROM grid JOIN gcum ON grid.srank = gcum.srank CROSS JOIN ng
       WHERE grid.srank <= 5
       GROUP BY grid.seg, grid.nat, grid.dec, grid.nc, ng.ng
       ORDER BY grid.seg, grid.nat, grid.dec"""

  /** Quality-score → near-dup lift (q328): does the q31 heuristic
    * quality score PREDICT near-duplication? Docs are quintiled by
    * score (exact distributed ntile — the q226 engine, never a global
    * sort) and each quintile reports its near-dup membership rate
    * against the corpus base rate as a lift. A clean corpus shows
    * lift > 1 in the bottom quintile (low-quality docs are where the
    * boilerplate/template mass lives) — the calibration evidence for
    * using the score as a pre-dedup prefilter.
    *
    * Shape: q31's scan-local score; dup membership from the shared
    * banded pair relation; one exact-ntile pass + 5-row rollup. */
  def q328QualityDupLift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val nTok = size(tk)
    val q = Tables.documents(s, d)
      .filter(size(tokens($"text")) > 0)
      .select($"doc_id",
        qualityScore(nTok, stopCount(tk), size(array_distinct(tk))).as("score"))
    val dup = Dedup.jaccardPairs(s, d)
      .select(explode(array($"doc1", $"doc2")).as("doc_id"))
      .distinct().withColumn("is_dup", lit(1L))
    val scored = Windows.withExactNtile(
      q.join(dup, Seq("doc_id"), "left")
        .select($"doc_id", $"score", coalesce($"is_dup", lit(0L)).as("is_dup")),
      Seq($"score", $"doc_id"), 5, "quintile")
    val base = scored.agg(
      expr("CAST(sum(is_dup) * 10000 div count(1) AS BIGINT)").as("base_bp"))
    scored.groupBy($"quintile")
      .agg(count(lit(1)).as("n_docs"), sum($"is_dup").as("n_dup"))
      .crossJoin(broadcast(base))
      .withColumn("dup_bp", expr("n_dup * 10000 div n_docs"))
      .withColumn("lift_milli",
        when($"base_bp" > 0, expr("(n_dup * 10000 div n_docs) * 1000 div base_bp"))
          .otherwise(lit(-1L)))
      .select($"quintile", $"n_docs", $"n_dup", $"dup_bp", $"base_bp",
        $"lift_milli")
      .orderBy($"quintile")
  }

  val q328Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       q AS (
         SELECT doc_id,
           least(len(tk), 100) * 10
             + (1000 - CAST(floor(len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) * 1000.0 / len(tk)) AS BIGINT))
             + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) AS score
         FROM tk WHERE len(tk) > 0),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id, unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       prs AS (
         SELECT doc1, doc2 FROM inter
         JOIN nz sa ON doc1 = sa.doc_id JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       dup AS (SELECT DISTINCT doc_id FROM (SELECT doc1 AS doc_id FROM prs UNION ALL SELECT doc2 FROM prs)),
       scored AS (
         SELECT q.doc_id, q.score, CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
           ntile(5) OVER (ORDER BY q.score, q.doc_id) AS quintile
         FROM q LEFT JOIN dup ON q.doc_id = dup.doc_id),
       base AS (SELECT CAST(sum(is_dup) AS BIGINT) * 10000 // count(*) AS base_bp FROM scored)
       SELECT CAST(quintile AS BIGINT) AS quintile,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(is_dup) AS BIGINT) AS n_dup,
         CAST(sum(is_dup) AS BIGINT) * 10000 // count(*) AS dup_bp,
         base_bp,
         CAST(CASE WHEN base_bp > 0 THEN (CAST(sum(is_dup) AS BIGINT) * 10000 // count(*)) * 1000 // base_bp ELSE -1 END AS BIGINT) AS lift_milli
       FROM scored CROSS JOIN base GROUP BY quintile, base_bp ORDER BY quintile"""

  /** Heuristic filter-cascade attribution (q409, the Gopher/FineWeb
    * quality-rule stack as a measured plan): four standard pre-training
    * text filters applied in a fixed order — F1 too-short (<20 tokens),
    * F2 top-token dominance (>12% of tokens are one type), F3 English
    * stopword density (<2%, the "not running prose" rule), F4 low
    * distinct-token ratio (<40%, repetition) — and, per filter, three
    * attribution counts a curation team actually argues about:
    * `n_fail` (docs failing the rule in isolation), `cascade_removed`
    * (docs this stage removes GIVEN the earlier stages already ran —
    * order-dependent marginal), and `sole_removed` (docs ONLY this rule
    * removes — its irreplaceable contribution). survivors/n_docs ride
    * every row. Deterministic: permille thresholds on integer ratios.
    *
    * Scale: one scan, one 1-row aggregate — every rule and every
    * attribution is a conditional sum over per-row flags, so adding a
    * filter adds zero passes (the q112 discipline); the 4-row output
    * explodes from the aggregate, not from data. The repartition after
    * tokenize is the q402 materialization barrier (stops CollapseProject
    * from inlining tokens() into the nested dominance lambda — O(n²)
    * re-tokenization otherwise). */
  def q409FilterCascade(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one-pass native expression for (n_tokens, n_distinct, top_c) —
    // the composable top-token-dominance form is a NESTED interpreted
    // HOF, O(n_tokens * n_distinct) per doc (measured 3.4x on q430)
    val base = Tables.documents(s, d)
      .select($"doc_id", $"text",
        graft.functions.TextExprs.repetition_stats($"text").as("rs"))
    val nTok = $"rs.n_tokens"
    val stopPm = permille(stopCount(tokens($"text")), nTok)
    val uniqPm = permille($"rs.n_distinct", nTok)
    val top1Pm = permille($"rs.top_c", nTok)
    val flags = base.select(
      (nTok < 20).cast("long").as("f1"),
      (top1Pm > 120).cast("long").as("f2"),
      (stopPm < 20).cast("long").as("f3"),
      (uniqPm < 400).cast("long").as("f4"))
    val agg = flags.agg(
      count(lit(1)).as("n_docs"),
      sum($"f1").as("n1"), sum($"f2").as("n2"),
      sum($"f3").as("n3"), sum($"f4").as("n4"),
      sum((lit(1) - $"f1") * $"f2").as("c2"),
      sum((lit(1) - $"f1") * (lit(1) - $"f2") * $"f3").as("c3"),
      sum((lit(1) - $"f1") * (lit(1) - $"f2") * (lit(1) - $"f3") * $"f4").as("c4"),
      sum($"f1" * (lit(1) - $"f2") * (lit(1) - $"f3") * (lit(1) - $"f4")).as("s1"),
      sum((lit(1) - $"f1") * $"f2" * (lit(1) - $"f3") * (lit(1) - $"f4")).as("s2"),
      sum((lit(1) - $"f1") * (lit(1) - $"f2") * $"f3" * (lit(1) - $"f4")).as("s3"),
      sum((lit(1) - $"f1") * (lit(1) - $"f2") * (lit(1) - $"f3") * $"f4").as("s4"),
      sum((lit(1) - $"f1") * (lit(1) - $"f2") * (lit(1) - $"f3") * (lit(1) - $"f4"))
        .as("survivors"))
    agg.select($"n_docs", $"survivors", explode(array(
        struct(lit("f1_short").as("rule"), $"n1".as("n_fail"),
          $"n1".as("cascade_removed"), $"s1".as("sole_removed")),
        struct(lit("f2_dominance").as("rule"), $"n2".as("n_fail"),
          $"c2".as("cascade_removed"), $"s2".as("sole_removed")),
        struct(lit("f3_stopword").as("rule"), $"n3".as("n_fail"),
          $"c3".as("cascade_removed"), $"s3".as("sole_removed")),
        struct(lit("f4_repetition").as("rule"), $"n4".as("n_fail"),
          $"c4".as("cascade_removed"), $"s4".as("sole_removed")))).as("x"))
      .select($"x.rule".as("rule"), $"x.n_fail", $"x.cascade_removed",
        $"x.sole_removed", $"n_docs", $"survivors")
      .orderBy($"rule")
  }

  val q409Oracle: String =
    """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS tk FROM documents),
       m AS (SELECT CAST(len(tk) AS BIGINT) AS n,
               CAST(floor(len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) * 1000.0 / len(tk)) AS BIGINT) AS stop_pm,
               CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) AS uniq_pm,
               CAST(floor(list_max(list_transform(list_distinct(tk), u -> len(list_filter(tk, x -> x = u)))) * 1000.0 / len(tk)) AS BIGINT) AS top1_pm
             FROM t),
       g AS (SELECT CASE WHEN n < 20 THEN 1 ELSE 0 END AS f1,
               CASE WHEN top1_pm > 120 THEN 1 ELSE 0 END AS f2,
               CASE WHEN stop_pm < 20 THEN 1 ELSE 0 END AS f3,
               CASE WHEN uniq_pm < 400 THEN 1 ELSE 0 END AS f4
             FROM m),
       a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f1) AS BIGINT) AS n1, CAST(sum(f2) AS BIGINT) AS n2,
               CAST(sum(f3) AS BIGINT) AS n3, CAST(sum(f4) AS BIGINT) AS n4,
               CAST(sum((1-f1)*f2) AS BIGINT) AS c2,
               CAST(sum((1-f1)*(1-f2)*f3) AS BIGINT) AS c3,
               CAST(sum((1-f1)*(1-f2)*(1-f3)*f4) AS BIGINT) AS c4,
               CAST(sum(f1*(1-f2)*(1-f3)*(1-f4)) AS BIGINT) AS s1,
               CAST(sum((1-f1)*f2*(1-f3)*(1-f4)) AS BIGINT) AS s2,
               CAST(sum((1-f1)*(1-f2)*f3*(1-f4)) AS BIGINT) AS s3,
               CAST(sum((1-f1)*(1-f2)*(1-f3)*f4) AS BIGINT) AS s4,
               CAST(sum((1-f1)*(1-f2)*(1-f3)*(1-f4)) AS BIGINT) AS survivors
             FROM g)
       SELECT 'f1_short' AS rule, n1 AS n_fail, n1 AS cascade_removed, s1 AS sole_removed, n_docs, survivors FROM a
       UNION ALL
       SELECT 'f2_dominance', n2, c2, s2, n_docs, survivors FROM a
       UNION ALL
       SELECT 'f3_stopword', n3, c3, s3, n_docs, survivors FROM a
       UNION ALL
       SELECT 'f4_repetition', n4, c4, s4, n_docs, survivors FROM a
       ORDER BY rule"""

  /** Bucket-count advisor (q418): for bucketed-table layouts B ∈
    * {8, 16, 32}, measure the hash-bucket skew of the orders
    * customer key — max bucket over ideal (n/B) in bp, buckets used —
    * and pick the SMALLEST B whose skew stays under 1.2× (smaller B =
    * fewer files and cheaper small-SF shuffles; the cap keeps the
    * slowest bucket from dominating a bucket-wise join). Complements
    * q117 (is this KEY skewed?) with the layout question (how many
    * buckets absorb it?). Deterministic: the shared 60-bit hash, exact
    * counts, integer bp.
    *
    * Scale: one scan fans out ×|grid| against a broadcast 3-row grid
    * into a (B, bucket) groupBy — ≤ Σ B = 56 post-aggregate rows, with
    * map-side combine doing the heavy lifting; the pick rule is a
    * window over the 3-row advisor relation. */
  def q418BucketAdvisor(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = Seq(8L, 16L, 32L).toDF("b")
    val sizes = Tables.orders(s, d).select($"o_custkey")
      .crossJoin(broadcast(grid))
      .groupBy($"b",
        pmod(graft.functions.Fns.hash60($"o_custkey".cast("string")), $"b")
          .as("bucket"))
      .agg(count(lit(1)).as("c"))
    val per = sizes.groupBy($"b")
      .agg(sum($"c").as("n_rows"), max($"c").as("max_bucket"),
        count(lit(1)).as("buckets_used"))
      .select($"b", $"n_rows", $"max_bucket", $"buckets_used",
        expr("max_bucket * b * 10000 div n_rows").as("skew_bp"))
    per.withColumn("rk", row_number().over(
        Window.orderBy(($"skew_bp" <= 12000).cast("int").desc, $"b")))
      .select($"b", $"n_rows", $"max_bucket", $"buckets_used", $"skew_bp",
        ($"rk" === 1).cast("long").as("selected"))
      .orderBy($"b")
  }

  val q418Oracle: String =
    """WITH grid AS (SELECT CAST(unnest([8, 16, 32]) AS BIGINT) AS b),
       sizes AS (
         SELECT b,
                ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT % b AS bucket,
                CAST(count(*) AS BIGINT) AS c
         FROM orders, grid GROUP BY 1, 2),
       per AS (
         SELECT b, CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_bucket,
                CAST(count(*) AS BIGINT) AS buckets_used,
                max(c) * b * 10000 // CAST(sum(c) AS BIGINT) AS skew_bp
         FROM sizes GROUP BY 1),
       ranked AS (
         SELECT *, row_number() OVER (
           ORDER BY CASE WHEN skew_bp <= 12000 THEN 1 ELSE 0 END DESC, b) AS rk
         FROM per)
       SELECT b, n_rows, max_bucket, buckets_used, skew_bp,
              CASE WHEN rk = 1 THEN 1 ELSE 0 END AS selected
       FROM ranked ORDER BY b"""

  /** Training-order shuffle audit (q429): is the corpus, read in
    * doc_id order, actually shuffled — or do same-source documents
    * clump (crawl order leaking into SGD batches)? Measures per source
    * the adjacent same-source pair count against its expectation under
    * a uniform random permutation, c·(c−1)/n pairs (sampling without
    * replacement), plus the corpus-level clumping ratio in milli.
    * Ratio ≫ 1000 means batches see correlated data and the loader
    * needs a shuffle pass before training.
    *
    * Scale: adjacency is a doc_id = doc_id+1 EQUI-join — a co-
    * partitioned shuffle join, never a global-order window — so the
    * audit runs at fact scale; expectations come from the |sources|-row
    * count relation and one broadcast total. */
  def q429ShuffleAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source")
    val adj = docs.as("a").join(docs.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1 &&
          col("a.source") === col("b.source"))
      .groupBy(col("a.source").as("source"))
      .agg(count(lit(1)).as("adj_pairs"))
    val per = docs.groupBy($"source").agg(count(lit(1)).as("c"))
    val tot = per.agg(sum($"c").as("n"))
    val rows = per.join(adj, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .select($"source", $"c", coalesce($"adj_pairs", lit(0L)).as("adj_pairs"),
        // expected adjacent same-source pairs under a random permutation
        expr("c * (c - 1) * 1000 div n").as("expected_milli"))
    val summ = rows.agg(sum($"adj_pairs").as("t_adj"),
        sum($"expected_milli").as("t_exp_milli"))
      .select($"t_adj", $"t_exp_milli",
        expr("case when t_exp_milli > 0 then t_adj * 1000000 div t_exp_milli else -1 end")
          .as("clump_ratio_milli"))
    rows.crossJoin(broadcast(summ))
      .select($"source", $"c", $"adj_pairs", $"expected_milli",
        $"t_adj", $"clump_ratio_milli")
      .orderBy($"source")
  }

  val q429Oracle: String =
    """WITH docs AS (SELECT doc_id, source FROM documents),
       adj AS (
         SELECT a.source, CAST(count(*) AS BIGINT) AS adj_pairs
         FROM docs a JOIN docs b
           ON b.doc_id = a.doc_id + 1 AND a.source = b.source
         GROUP BY 1),
       per AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM docs GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per),
       rows_ AS (
         SELECT p.source, p.c, CAST(coalesce(a.adj_pairs, 0) AS BIGINT) AS adj_pairs,
                p.c * (p.c - 1) * 1000 // n AS expected_milli
         FROM per p LEFT JOIN adj a ON p.source = a.source, tot),
       summ AS (
         SELECT CAST(sum(adj_pairs) AS BIGINT) AS t_adj,
                CAST(sum(expected_milli) AS BIGINT) AS t_exp_milli
         FROM rows_)
       SELECT source, c, adj_pairs, expected_milli, t_adj,
              CASE WHEN t_exp_milli > 0 THEN t_adj * 1000000 // t_exp_milli ELSE -1 END AS clump_ratio_milli
       FROM rows_, summ ORDER BY source"""

  /** Filter-subset Pareto frontier (q430, q409's completion: not "what
    * does each rule remove" but "WHICH rule subset should ship"): all
    * 16 subsets of the four q409 quality rules, each scored on the
    * two axes a curation lead trades off — surviving docs and mean
    * surviving quality — with the Pareto-dominance flag computed over
    * the 16-point frontier. The dominated subsets are dead options;
    * the frontier is the menu.
    *
    * Scale: ONE scan reduces the corpus to a ≤16-row contingency
    * relation keyed by the flag tuple; subset evaluation is a 16×16
    * bitmask join and dominance a 16×16 self-join — both constant-
    * sized regardless of corpus scale. */
  def q430FilterPareto(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"text",
        graft.functions.TextExprs.repetition_stats($"text").as("rs"))
    val nTok = $"rs.n_tokens"
    val nStop = stopCount(tokens($"text"))
    val stopPm = permille(nStop, nTok)
    val uniqPm = permille($"rs.n_distinct", nTok)
    val top1Pm = permille($"rs.top_c", nTok)
    val q = qualityScore(nTok, nStop, $"rs.n_distinct")
    val cont = base.select(
        ((nTok < 20).cast("long") * 8 + (top1Pm > 120).cast("long") * 4 +
          (stopPm < 20).cast("long") * 2 + (uniqPm < 400).cast("long")).as("cb"),
        q.as("q"))
      .groupBy($"cb").agg(count(lit(1)).as("n"), sum($"q").as("qsum"))
    val names = Seq("none", "f4", "f3", "f3+f4", "f2", "f2+f4", "f2+f3",
      "f2+f3+f4", "f1", "f1+f4", "f1+f3", "f1+f3+f4", "f1+f2", "f1+f2+f4",
      "f1+f2+f3", "all")
    val subsets = names.zipWithIndex.map { case (nm, m) => (m.toLong, nm) }
      .toDF("mask", "rules")
    val scored = subsets.join(cont, expr("(cb & mask) = 0"), "left")
      .groupBy($"mask", $"rules")
      .agg(coalesce(sum($"n"), lit(0L)).as("survivors"),
        coalesce(sum($"qsum"), lit(0L)).as("qsum"))
      .select($"mask", $"rules", $"survivors",
        expr("case when survivors > 0 then qsum * 1000 div survivors else 0 end")
          .as("qavg_milli"))
      // freeze once: the dominance self-join and the final join would
      // otherwise re-run the corpus scan 3x; restated bound (PLANS.md)
      .localCheckpoint().limit(16)
    val dom = scored.as("a").join(scored.as("b"),
        col("b.survivors") >= col("a.survivors") &&
          col("b.qavg_milli") >= col("a.qavg_milli") &&
          (col("b.survivors") > col("a.survivors") ||
            col("b.qavg_milli") > col("a.qavg_milli")))
      .groupBy(col("a.mask").as("mask")).agg(count(lit(1)).as("dominators"))
    scored.join(dom, Seq("mask"), "left")
      .select($"mask", $"rules", $"survivors", $"qavg_milli",
        ($"dominators".isNull).cast("long").as("pareto"))
      .orderBy($"mask")
  }

  val q430Oracle: String =
    """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS tk FROM documents),
       m AS (SELECT CAST(len(tk) AS BIGINT) AS n,
               CAST(floor(len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) * 1000.0 / len(tk)) AS BIGINT) AS stop_pm,
               CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) AS uniq_pm,
               CAST(floor(list_max(list_transform(list_distinct(tk), u -> len(list_filter(tk, x -> x = u)))) * 1000.0 / len(tk)) AS BIGINT) AS top1_pm
             FROM t),
       g AS (SELECT
               (CASE WHEN n < 20 THEN 8 ELSE 0 END
                + CASE WHEN top1_pm > 120 THEN 4 ELSE 0 END
                + CASE WHEN stop_pm < 20 THEN 2 ELSE 0 END
                + CASE WHEN uniq_pm < 400 THEN 1 ELSE 0 END) AS cb,
               least(n, 100) * 10 + (1000 - stop_pm) + uniq_pm AS q
             FROM m),
       cont AS (SELECT cb, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS qsum
                FROM g GROUP BY 1),
       subsets AS (
         SELECT CAST(mask AS BIGINT) AS mask, rules FROM (VALUES
           (0, 'none'), (1, 'f4'), (2, 'f3'), (3, 'f3+f4'), (4, 'f2'),
           (5, 'f2+f4'), (6, 'f2+f3'), (7, 'f2+f3+f4'), (8, 'f1'),
           (9, 'f1+f4'), (10, 'f1+f3'), (11, 'f1+f3+f4'), (12, 'f1+f2'),
           (13, 'f1+f2+f4'), (14, 'f1+f2+f3'), (15, 'all')) AS v(mask, rules)),
       scored AS (
         SELECT mask, rules,
                CAST(coalesce(sum(n), 0) AS BIGINT) AS survivors,
                CASE WHEN coalesce(sum(n), 0) > 0
                     THEN CAST(sum(qsum) AS BIGINT) * 1000 // CAST(sum(n) AS BIGINT)
                     ELSE 0 END AS qavg_milli
         FROM subsets LEFT JOIN cont ON (cb & mask) = 0
         GROUP BY 1, 2),
       dom AS (
         SELECT a.mask, CAST(count(*) AS BIGINT) AS dominators
         FROM scored a JOIN scored b
           ON b.survivors >= a.survivors AND b.qavg_milli >= a.qavg_milli
          AND (b.survivors > a.survivors OR b.qavg_milli > a.qavg_milli)
         GROUP BY 1)
       SELECT s.mask, s.rules, s.survivors, s.qavg_milli,
              CASE WHEN d.mask IS NULL THEN 1 ELSE 0 END AS pareto
       FROM scored s LEFT JOIN dom d ON s.mask = d.mask
       ORDER BY s.mask"""

  /** Inclusion-dependency discovery (q431, the SINDY/BINDER profiling
    * question "which column pairs are foreign keys?"): for six
    * candidate child⊆parent column pairs across the TPC-H-ish tables,
    * measure the child's distinct domain, the values missing from the
    * parent, and the inclusion coverage in bp — full inclusion is an
    * FK candidate, partial inclusion (customers without orders, parts
    * never ordered) is the profiling signal that the REVERSE direction
    * is not a key. This is the schema-discovery pass a lakehouse runs
    * on undocumented data before anyone writes a join.
    *
    * Scale: each candidate costs two domain-sized distincts and one
    * LEFT ANTI join on those domains — never on fact rows; the six
    * candidates are independent branches of one union, so they
    * pipeline. */
  def q431FkDiscovery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def cand(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val cd = child.select(col(ck).as("k")).distinct()
      val pd = parent.select(col(pk).as("k")).distinct()
      cd.agg(count(lit(1)).as("child_ndv"))
        .crossJoin(cd.join(pd, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("missing")))
        .select(lit(name).as("candidate"), $"child_ndv", $"missing",
          expr("(child_ndv - missing) * 10000 div child_ndv").as("inclusion_bp"),
          ($"missing" === 0).cast("long").as("is_fk"))
    }
    val li = Tables.lineitem(s, d); val or = Tables.orders(s, d)
    val cu = Tables.customer(s, d); val pa = Tables.part(s, d)
    val su = Tables.supplier(s, d)
    Seq(
      cand("lineitem.l_orderkey<orders.o_orderkey", li, "l_orderkey", or, "o_orderkey"),
      cand("orders.o_custkey<customer.c_custkey", or, "o_custkey", cu, "c_custkey"),
      cand("lineitem.l_partkey<part.p_partkey", li, "l_partkey", pa, "p_partkey"),
      cand("lineitem.l_suppkey<supplier.s_suppkey", li, "l_suppkey", su, "s_suppkey"),
      cand("customer.c_custkey<orders.o_custkey", cu, "c_custkey", or, "o_custkey"),
      cand("part.p_partkey<lineitem.l_partkey", pa, "p_partkey", li, "l_partkey"))
      .reduce(_ unionByName _)
      .orderBy($"candidate")
  }

  val q431Oracle: String = {
    def c(name: String, ct: String, ck: String, pt: String, pk: String) =
      s"""SELECT '$name' AS candidate,
            (SELECT CAST(count(DISTINCT $ck) AS BIGINT) FROM $ct) AS child_ndv,
            (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT DISTINCT $ck FROM $ct EXCEPT SELECT DISTINCT $pk FROM $pt)) AS missing"""
    val branches = Seq(
      c("lineitem.l_orderkey<orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      c("orders.o_custkey<customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      c("lineitem.l_partkey<part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      c("lineitem.l_suppkey<supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      c("customer.c_custkey<orders.o_custkey", "customer", "c_custkey", "orders", "o_custkey"),
      c("part.p_partkey<lineitem.l_partkey", "part", "p_partkey", "lineitem", "l_partkey"))
      .mkString("\nUNION ALL\n")
    s"""WITH cands AS ($branches)
       SELECT candidate, child_ndv, missing,
              (child_ndv - missing) * 10000 // child_ndv AS inclusion_bp,
              CASE WHEN missing = 0 THEN 1 ELSE 0 END AS is_fk
       FROM cands ORDER BY candidate"""
  }

  /** Functional-dependency audit (q432, the TANE/profiling question
    * "does X determine Y?"): six candidate FDs across the tables, each
    * measured as the number of left-hand-side groups whose right-hand
    * side is not single-valued, plus the g3-style compliance rate in
    * bp. Key columns trivially hold; the interesting rows are the
    * refuted ones (a part has FOUR suppliers; a customer orders under
    * every priority) — each refutation is a join-key or partition-key
    * assumption someone would otherwise bake into a pipeline.
    *
    * Scale: one groupBy per candidate on the LHS domain, reduced to a
    * 1-row violation count; six independent union branches. r14: "RHS
    * is not single-valued" is decided by min(rhs) < max(rhs) instead
    * of count-distinct — identical on non-null RHS (and an all-null
    * group is single-valued under both forms: ndv=0 and min=max=NULL
    * both land in the not-violating arm), but min/max fold in ONE
    * partial aggregate where count(DISTINCT) pays a two-level
    * distinct expansion per branch (measured: 23 -> 11 jobs,
    * QTime 1.46 -> sub-second; the oracle keeps its count(DISTINCT)
    * form, proving equivalence on every SF). */
  def q432FdAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def fd(name: String, t: DataFrame, lhs: String, rhs: String): DataFrame =
      t.groupBy(col(lhs)).agg(min(col(rhs)).as("mn"), max(col(rhs)).as("mx"))
        .agg(count(lit(1)).as("lhs_groups"),
          sum(when($"mn" < $"mx", 1L).otherwise(0L)).as("violating"))
        .select(lit(name).as("fd"), $"lhs_groups", $"violating",
          expr("(lhs_groups - violating) * 10000 div lhs_groups").as("fd_bp"),
          ($"violating" === 0).cast("long").as("holds"))
    val li = Tables.lineitem(s, d); val or = Tables.orders(s, d)
    val cu = Tables.customer(s, d); val na = Tables.nation(s, d)
    Seq(
      fd("nation.n_nationkey->n_regionkey", na, "n_nationkey", "n_regionkey"),
      fd("orders.o_orderkey->o_orderstatus", or, "o_orderkey", "o_orderstatus"),
      fd("customer.c_nationkey->c_mktsegment", cu, "c_nationkey", "c_mktsegment"),
      fd("orders.o_custkey->o_orderpriority", or, "o_custkey", "o_orderpriority"),
      fd("lineitem.l_partkey->l_suppkey", li, "l_partkey", "l_suppkey"),
      fd("lineitem.l_orderkey->l_returnflag", li, "l_orderkey", "l_returnflag"))
      .reduce(_ unionByName _)
      .orderBy($"fd")
  }

  val q432Oracle: String = {
    def fd(name: String, t: String, lhs: String, rhs: String) =
      s"""SELECT '$name' AS fd,
            CAST(count(*) AS BIGINT) AS lhs_groups,
            CAST(sum(CASE WHEN ndv_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating
          FROM (SELECT $lhs, count(DISTINCT $rhs) AS ndv_rhs FROM $t GROUP BY 1)"""
    val branches = Seq(
      fd("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
      fd("orders.o_orderkey->o_orderstatus", "orders", "o_orderkey", "o_orderstatus"),
      fd("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
      fd("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
      fd("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
      fd("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"))
      .mkString("\nUNION ALL\n")
    s"""WITH cands AS ($branches)
       SELECT fd, lhs_groups, violating,
              (lhs_groups - violating) * 10000 // lhs_groups AS fd_bp,
              CASE WHEN violating = 0 THEN 1 ELSE 0 END AS holds
       FROM cands ORDER BY fd"""
  }

  /** Monthly schema/content-drift monitor (q460, the data-contract
    * check in front of every warehouse ingest): per ingest month and
    * audited column of `orders` — status, priority, and the
    * dollar-floored total — report row volume, null share, distinct
    * count, and FIRST-SEEN distinct values (values no earlier month
    * ever produced). A categorical column suddenly minting new values
    * is the canonical upstream-schema-change smell, caught here as a
    * nonzero `new_values` after month one, before it poisons
    * downstream dictionaries.
    *
    * Scale: ONE fact pass stacks the audited columns into a
    * (month, col, value) cell relation; first-seen months come from a
    * min() over the (col, value) domain — value-domain-sized shuffles,
    * not row-sized — and the readout is an aggregate of the cells. */
  def q460SchemaDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stackArgs = Seq(
      "'o_orderstatus', o_orderstatus",
      "'o_orderpriority', o_orderpriority",
      "'o_total_dollars', CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING)")
      .mkString(", ")
    val cells = Tables.orders(s, d)
      .select(expr("CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)")
          .as("ym"),
        expr(s"stack(3, $stackArgs)").as(Seq("col_name", "v")))
      .groupBy($"ym", $"col_name", $"v").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the profile AND the first-seen pass
    val firstSeen = cells.groupBy($"col_name", $"v")
      .agg(min($"ym").as("first_ym"))
      .groupBy($"col_name", $"first_ym".as("ym"))
      .agg(count(lit(1)).as("new_values"))
    cells.groupBy($"ym", $"col_name")
      .agg(sum($"c").as("n_rows"),
        sum(when($"v".isNull, $"c").otherwise(0L)).as("__nulls"),
        countDistinct($"v").as("ndv"))
      .join(firstSeen, Seq("ym", "col_name"), "left")
      .select($"ym", $"col_name", $"n_rows",
        expr("__nulls * 10000 div n_rows").as("null_bp"), $"ndv",
        coalesce($"new_values", lit(0L)).as("new_values"))
      .orderBy($"ym", $"col_name")
  }

  val q460Oracle: String =
    """WITH cells AS (
         SELECT ym, col_name, v, CAST(count(*) AS BIGINT) AS c
         FROM (
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
                  'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
           UNION ALL
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT),
                  'o_orderpriority', o_orderpriority FROM orders
           UNION ALL
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT),
                  'o_total_dollars',
                  CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) FROM orders)
         GROUP BY 1, 2, 3),
       fs AS (
         SELECT col_name, first_ym AS ym, CAST(count(*) AS BIGINT) AS new_values
         FROM (SELECT col_name, v, min(ym) AS first_ym FROM cells GROUP BY 1, 2)
         GROUP BY 1, 2)
       SELECT c.ym, c.col_name, CAST(sum(c.c) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN c.v IS NULL THEN c.c ELSE 0 END) AS BIGINT)
                * 10000 // CAST(sum(c.c) AS BIGINT) AS null_bp,
              CAST(count(DISTINCT c.v) AS BIGINT) AS ndv,
              coalesce(any_value(fs.new_values), 0) AS new_values
       FROM cells c LEFT JOIN fs ON c.ym = fs.ym AND c.col_name = fs.col_name
       GROUP BY 1, 2 ORDER BY 1, 2"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q460_schema_drift", q460SchemaDrift, q460Oracle,
        Hooks(nonEmpty, range("null_bp", 0, 10000))),
      Query("q431_fk_discovery", q431FkDiscovery, q431Oracle,
        Hooks(nonEmpty, range("inclusion_bp", 0, 10000))),
      Query("q432_fd_audit", q432FdAudit, q432Oracle, Hooks(nonEmpty, range("fd_bp", 0, 10000))),
      Query("q429_shuffle_audit", q429ShuffleAudit, q429Oracle,
        NoBound("clump ratio unbounded above")),
      Query("q430_filter_pareto", q430FilterPareto, q430Oracle,
        NoBound("mean latency micro - time scale")),
      Query("q418_bucket_advisor", q418BucketAdvisor, q418Oracle,
        Hooks(nonEmpty, atLeast("skew_bp", 10000))),
      Query("q409_filter_cascade", q409FilterCascade, q409Oracle, NoBound(Structural)),
      Query("q328_quality_dup_lift", q328QualityDupLift, q328Oracle,
        Hooks(nonEmpty, range("dup_bp", 0, 10000), range("base_bp", 0, 10000))),
      Query("q384_t_closeness", q384TCloseness, q384Oracle,
        Hooks(nonEmpty, range("emd_milli", 0, 1000))),
      Query("q373_cardinality_audit", q373CardinalityAudit, q373Oracle,
        Hooks(nonEmpty, atLeast("qerr_milli", 1000))),
      Query("q371_learned_index_audit", q371LearnedIndexAudit, q371Oracle,
        NoBound("position error scales with row count")),
      Query("q354_brier", q354Brier, q354Oracle,
        Hooks(nonEmpty, range("p_k_milli", 0, 1000), range("obar_k_milli", 0, 1000), range("rel_micro", 0, 1000000), range("res_micro", 0, 1000000), range("unc_micro", 0, 1000000))),
      Query("q363_sortkey_advisor", q363SortkeyAdvisor, q363Oracle,
        Hooks(nonEmpty, range("avg_scan_bp", 0, 10000))),
      Query("q358_mantel_haenszel", q358MantelHaenszel, q358Oracle,
        Hooks(nonEmpty, range("winrate_bp", 0, 10000))),
      Query("q332_randomized_response", q332RandomizedResponse, q332Oracle,
        Hooks(nonEmpty, range("f_milli", 0, 1000), range("true_milli", 0, 1000))),
      Query("q313_bradley_terry", q313BradleyTerry, q313Oracle,
        NoBound("pi normalized to mean 1e6 - rows sum to n*1e6 (dynamic)")),
      Query("q314_mcnemar", q314Mcnemar, q314Oracle,
        Hooks(nonEmpty, range("acc_a_micro", 0, 1000000), range("acc_b_micro", 0, 1000000))),
      Query("q315_pr_curve", q315PrCurve, q315Oracle,
        Hooks(nonEmpty, range("precision_micro", 0, 1000000), range("recall_micro", 0, 1000000), range("ap_micro", 0, 1000000))),
      Query("q260_freshness_watermark", q260FreshnessWatermark, q260Oracle, NoBound(Structural)),
      Query("q252_auc", q252Auc, q252Oracle,
        Hooks(nonEmpty, range("auc_bp", 0, 10000), range("gini_bp", -10000, 10000))),
      Query("q243_gap_census", q243GapCensus, q243Oracle, NoBound(Structural)),
      Query("q181_zonemap_audit", q181ZonemapAudit, q181Oracle,
        Hooks(nonEmpty, range("nat_bp", 0, 10000), range("srt_bp", 0, 10000))),
      Query("q176_calibration", q176Calibration, q176Oracle,
        Hooks(nonEmpty, range("acc_ppm", 0, 1000000), range("conf_ppm", 0, 1000000), range("ece_ppm", 0, 1000000))),
      Query("q223_gains_curve", q223GainsCurve, q223Oracle,
        Hooks(nonEmpty, range("gain_bp", 0, 10000))),
      Query("q293_isotonic_calibration", q293IsotonicCalibration, q293Oracle,
        Hooks(nonEmpty, range("raw_rate_micro", 0, 1000000), range("iso_rate_micro", 0, 1000000))),
      Query("q294_conformal_audit", q294ConformalAudit, q294Oracle,
        Hooks(nonEmpty, range("coverage_bp", 0, 10000))),
      Query("q300_cv_calibration", q300CvCalibration, q300Oracle,
        Hooks(nonEmpty, range("ece_micro", 0, 1000000))),
      Query("q306_k_anonymity", q306KAnonymity, q306Oracle,
        Hooks(nonEmpty, range("rows_k_lt5_bp", 0, 10000), range("rows_k_lt10_bp", 0, 10000), range("classes_l_lt2_bp", 0, 10000))),
      Query("q404_anon_ladder", q404AnonLadder, q404Oracle,
        Hooks(nonEmpty, range("rows_k_lt5_bp", 0, 10000))),
      Query("q307_dp_planner", q307DpPlanner, q307Oracle,
        NoBound("eps/scale are config literals; rel err unbounded")),
      Query("q145_chi2_independence", q145Chi2Independence, q145Oracle,
        NoBound("chi-square unbounded above")),
      Query("q139_rater_agreement", q139RaterAgreement, q139Oracle,
        Hooks(nonEmpty, range("kappa_bp", -10000, 10000))),
      Query("q112_dq_audit", q112DqAudit, q112Oracle, NoBound(Structural)),
      // ---- r14 expansion (VERDICT r13 ask #5): the bounded tail of
      // the previously-uncovered queries. Every bound below is
      // DEFINITIONAL (share/probability caps, ratio floors like
      // q-error >= 1 / skew >= 1 / amplification >= 1, growth >= -100%,
      // entropy <= ln(alphabet)) — never an observed envelope. Floors
      // whose statistic is unbounded above use atLeast, not a made-up
      // range cap.
      Query("q117_skew_diag", q117SkewDiag, q117Oracle, Hooks(nonEmpty, atLeast("skew_bp", 10000))),
      Query("q118_zorder", q118Zorder, q118Oracle, NoBound(Structural)),
    )
  }
}
