package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import graft.functions.LabelExprs.{long_product, micro_share, order_key, order_key_string}
import graft.functions.OrderKey
import graft.io.Tables

/** Annotation / label-quality analytics (round 11, north-star family):
  * the statistics an LLM-training shop runs over its LABELING pipeline
  * before trusting any human- or model-judged dataset — multi-rater
  * chance-corrected agreement (Fleiss' κ for fixed panels,
  * Krippendorff's α for ragged ones), Dawid–Skene-style rater-quality
  * estimation with weighted re-voting, rank agreement between scoring
  * functions (Kendall τ-b), classical-test-theory item analysis for
  * eval benchmarks (difficulty + point-biserial discrimination), and
  * split-conformal coverage audits for model-predicted labels. These
  * sit next to `Eval` (which consumes the labels these operators vet).
  *
  * Scale design, module-wide: every statistic reduces the fact scan to
  * a bounded or key-aggregated relation BEFORE any window or self-join
  * touches it — per-(item, rater) judgments collapse by one groupBy;
  * agreement coefficients are closed-form rationals over a handful of
  * int64 sufficient statistics (never an item-pair join); Kendall τ
  * self-joins a ≤400-cell quantized histogram, never the fact table;
  * windows are PARTITIONED over bounded per-key histograms. Arithmetic
  * is exact-int64 sufficient stats with `div` floors where signs are
  * provably non-negative, and the q139 shared-IEEE rule (one identical
  * double expression tree in both engines, operands < 2⁵³ so the
  * int64→double hop is exact) where a coefficient can be negative or
  * needs a sqrt. Products that could pass int64 at corpus scale are
  * DECIMAL(38,0)-wrapped (HUGEINT twins). Determinism: the conformal
  * split uses `Fns.hash60`, never engine-local `hash()`/`random()`. */
object Annotation extends graft.QueryModule {

  /** Shared judgment relation for q478–q480: each (order, rater) cell
    * is one categorical judgment, where the 7-rater pool is
    * `l_suppkey % 7` and the label is the lexicographically-smallest
    * returnflag the rater saw on that order (a deterministic collapse
    * of multi-row raters). One fact scan, one groupBy; the string min
    * runs on the label's order key ([[graft.functions.OrderKey]]), a
    * long, so the groupBy is a HashAggregate — a string min buffer
    * plans a SortAggregate, two sorts of the whole fact table. */
  private[graft] def judgments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey".as("item"), ($"l_suppkey" % 7).as("rater"))
      .agg(min(order_key($"l_returnflag")).as("k"))
      .select($"item", $"rater", order_key_string($"k").as("label"))
  }

  private val judgmentsSql: String =
    """SELECT l_orderkey AS item, l_suppkey % 7 AS rater,
              min(l_returnflag) AS label
       FROM lineitem GROUP BY 1, 2"""

  /** Session-scoped SHARED judgment checkpoint (r13): every
    * graft-table query in this family starts from the same derived
    * relation, and re-deriving it per query re-ran the fact scan +
    * shuffle ~9 times per Verify/Bench session (~0.9 s each at sf0.1 —
    * the r13 twin_ratio screen surfaced it through q488). The
    * checkpointed RDD lives exactly as long as the session key, like
    * the soft-EM model cache; crafted-relation entry points take their
    * own DataFrame and never touch the cache. */
  private val judCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def judgmentsShared(s: SparkSession, d: String): DataFrame = {
    judCache.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped }
    judCache.getOrElseUpdate((s, d), checkpointOnce(judgments(s, d)))
  }

  /** `df` itself when it already IS a materialized local checkpoint
    * (the shared judgments above), else its local checkpoint. The
    * hard-EM fit fans its judgment input out to consumers that
    * exchange reuse cannot dedupe, so it needs it checkpointed; but a
    * second checkpoint of the shared relation only re-ran a full pass
    * and kept a second resident copy of it (43.6 MB at sf0.1).
    * Crafted relations (a `toDF` of local rows) are not checkpoints
    * and still get one. */
  private def checkpointOnce(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD if r.rdd.isCheckpointed => df
    case _ => df.localCheckpoint()
  }

  // ---------------------------------------------------------------
  // q478 — Fleiss' kappa (fixed-panel multi-rater agreement)
  // ---------------------------------------------------------------

  /** Fleiss' κ over a (item, rater, label) judgment relation
    * restricted to items judged by exactly `panel` raters. Exposed for
    * crafted-matrix tests. Closed form over three int64 sufficient
    * statistics: with n = panel, S = Σ_items Σ_labels n_il²,
    * A = S − n·N, B = Σ_labels T_l² (T_l the label column totals),
    *   P̄  = A / (n(n−1)N),   P̄e = B / (n²N²),
    * and cross-multiplying κ = (P̄−P̄e)/(1−P̄e) by the common
    * denominator n²(n−1)N² gives the exact integer rational
    *   κ = (nN·A − (n−1)B) / (n²(n−1)N² − (n−1)B).
    * Both operands stay below 2⁵³ at test SFs (documented swap:
    * DECIMAL(38,0) cross-products at billion-item scale), evaluated as
    * ONE shared-IEEE floor·10⁴ since κ < 0 is legitimate. */
  def fleissKappa(jud0: DataFrame, panel: Int): DataFrame = {
    val s = jud0.sparkSession
    import s.implicits._
    val n = panel.toLong
    // jud is a pure Aggregate consumed twice inside ONE action:
    // ReuseExchange dedupes it (one fact scan, one shuffle read twice)
    // — measured faster than a checkpoint, which adds a serial job
    val jud = jud0
    val cells = jud
      .join(jud.groupBy($"item").agg(count(lit(1)).as("nr"))
        .filter($"nr" === n).select($"item"), Seq("item"), "left_semi")
      .groupBy($"item", $"label").agg(count(lit(1)).as("nil"))
      .localCheckpoint()
    val perItem = cells.groupBy($"item").agg(sum($"nil" * $"nil").as("s2"))
      .agg(count(lit(1)).as("n_items"), sum($"s2").as("s"))
    val perLabel = cells.groupBy($"label").agg(sum($"nil").as("tl"))
      .agg(sum($"tl" * $"tl").as("b"))
    perItem.crossJoin(perLabel)
      .select($"n_items", (($"s") - lit(n) * $"n_items").as("a"), $"b")
      .select($"n_items",
        expr(s"a * 1000 div (${n * (n - 1)} * n_items)").as("pbar_milli"),
        expr(s"b * 1000 div (${n * n} * n_items * n_items)").as("pe_milli"),
        // degenerate-marginal sentinel (ADVICE r11): a corpus unanimous
        // on ONE label has B = n²N² so P̄e = 1 and κ is 0/0 — floor(NaN)
        // casts diverge across engines (Spark non-ANSI null vs DuckDB
        // error); emit NULL, same contract as q493's monthly sentinel
        expr(s"""CASE WHEN ${n * n} * n_items * n_items = b THEN NULL
          ELSE CAST(floor(
            (CAST($n * n_items * a AS DOUBLE) - ${n - 1} * CAST(b AS DOUBLE))
            / (${n * n * (n - 1)} * CAST(n_items AS DOUBLE) * n_items
               - ${n - 1} * CAST(b AS DOUBLE))
            * 10000.0) AS BIGINT) END""").as("kappa_bp"))
  }

  /** Fleiss' κ audit (q478): do the 7 synthetic raters agree on order
    * labels beyond chance? Items = orders judged by EXACTLY 3 raters
    * (Fleiss assumes a fixed panel size; the ragged rest goes to
    * q479's Krippendorff α). Output: panel size check plus P̄ (raw
    * agreement), P̄e (chance agreement from label marginals), and the
    * chance-corrected κ in basis points.
    *
    * Scale: two groupBys collapse the fact scan to per-(item, rater)
    * then per-(item, label) cells; the coefficient is a closed-form
    * rational of three int64 sums — no item-pair join ever exists.
    * κ_bp uses the q139 shared-IEEE rule (can be negative; `div`
    * truncation would disagree with DuckDB's floor below zero). */
  def q478FleissKappa(s: SparkSession, d: String): DataFrame =
    fleissKappa(judgmentsShared(s, d), 3)

  val q478Oracle: String =
    s"""WITH jud AS ($judgmentsSql),
       pan AS (SELECT item FROM jud GROUP BY item HAVING count(*) = 3),
       cells AS (
         SELECT j.item, j.label, CAST(count(*) AS BIGINT) AS nil
         FROM jud j SEMI JOIN pan ON j.item = pan.item
         GROUP BY 1, 2),
       pi AS (
         SELECT CAST(count(*) AS BIGINT) AS n_items,
                CAST(sum(s2) AS BIGINT) AS s
         FROM (SELECT item, sum(nil * nil) AS s2 FROM cells GROUP BY 1)),
       pl AS (
         SELECT CAST(sum(tl * tl) AS BIGINT) AS b
         FROM (SELECT label, sum(nil) AS tl FROM cells GROUP BY 1)),
       k AS (SELECT n_items, s - 3 * n_items AS a, b FROM pi CROSS JOIN pl)
       SELECT n_items,
         a * 1000 // (6 * n_items) AS pbar_milli,
         b * 1000 // (9 * n_items * n_items) AS pe_milli,
         CASE WHEN 9 * n_items * n_items = b THEN NULL
         ELSE CAST(floor(
           (CAST(3 * n_items * a AS DOUBLE) - 2 * CAST(b AS DOUBLE))
           / (18 * CAST(n_items AS DOUBLE) * n_items - 2 * CAST(b AS DOUBLE))
           * 10000.0) AS BIGINT) END AS kappa_bp
       FROM k"""

  // ---------------------------------------------------------------
  // q479 — Krippendorff's alpha (nominal, ragged panels)
  // ---------------------------------------------------------------

  /** Krippendorff's α (nominal metric) over a (item, rater, label)
    * relation, items with 2..7 raters — the agreement coefficient that
    * tolerates RAGGED panels and missing judgments, which is what real
    * labeling queues produce. Exposed for crafted-matrix tests.
    *
    * Exact rational form: with n_u the item's judgment count, per-item
    * observed disagreement Σ_l n_ul(n_u − n_ul)/(n_u − 1) is cleared of
    * its varying denominator by the lcm trick — 60/(n_u−1) is an exact
    * integer for n_u ∈ [2,7] — giving
    *   Do60n = Σ_u (60/(n_u−1))·Σ_l n_ul(n_u−n_ul)   (= 60·n·D_o)
    *   E     = Σ_l n_l(n − n_l)                       (n·(n−1)·D_e)
    *   α     = (60E − Do60n·(n−1)) / (60E).
    * All int64 (operands < 2⁵³ at test SFs; DECIMAL swap documented
    * for corpus scale), one shared-IEEE floor·10⁴ since α < 0 is
    * legitimate (systematic disagreement). */
  def krippendorffAlpha(jud: DataFrame): DataFrame = {
    val s = jud.sparkSession
    import s.implicits._
    val cells = jud
      .groupBy($"item", $"label").agg(count(lit(1)).as("nil"))
      .withColumn("nu", sum($"nil").over(Window.partitionBy($"item")))
      .filter($"nu" >= 2)
      // two consumers BEHIND A WINDOW: exchange reuse stops at the
      // window node, so without the checkpoint the whole cell+window
      // chain re-runs per consumer (measured +25% — see PLANS.md r11)
      .localCheckpoint()
    val obs = cells
      .groupBy($"item", $"nu")
      .agg(sum($"nil" * ($"nu" - $"nil")).as("dis"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("(60 div (nu - 1)) * dis")).as("do60n"),
        sum($"nu").as("n"))
    val exp = cells.groupBy($"label").agg(sum($"nil").as("nl"))
    obs.crossJoin(broadcast(exp.agg(sum($"nl" * $"nl").as("sl2"))))
      .select($"n_items", $"n".as("n_judgments"), $"do60n",
        ($"n" * $"n" - $"sl2").as("e"))
      .select($"n_items", $"n_judgments",
        expr("CAST(CAST(do60n AS DECIMAL(38,0)) * 1000000 div (60 * n_judgments) AS BIGINT)")
          .as("do_ppm"),
        expr("CAST(CAST(e AS DECIMAL(38,0)) * 1000000 div (CAST(n_judgments AS DECIMAL(38,0)) * (n_judgments - 1)) AS BIGINT)")
          .as("de_ppm"),
        // unanimous-corpus sentinel (ADVICE r11): all kept judgments on
        // one label gives E = n² − sl2 = 0, so α is 0/0 NaN and the
        // floor-cast diverges across engines — NULL, per module rule
        expr("""CASE WHEN e = 0 THEN NULL
          ELSE CAST(floor(
            (60 * CAST(e AS DOUBLE) - CAST(do60n AS DOUBLE) * (n_judgments - 1))
            / (60 * CAST(e AS DOUBLE))
            * 10000.0) AS BIGINT) END""").as("alpha_bp"))
  }

  /** Krippendorff's α audit (q479): the same judgment relation as
    * q478 but over EVERY item with ≥2 raters (2..7, ragged) — the
    * coefficient labeling teams quote when panels are incomplete.
    * Output: item/judgment counts, observed and expected disagreement
    * in ppm, α in basis points.
    *
    * Scale: identical reduction discipline to q478 — the only window
    * is item-partitioned over the per-(item, label) cell relation
    * (≤3 rows per item), and the α closed form consumes four int64
    * totals. The 60/(n_u−1) lcm clearing keeps per-item terms exact
    * integers; nothing in the plan depends on rater-pair joins. */
  def q479KrippendorffAlpha(s: SparkSession, d: String): DataFrame =
    krippendorffAlpha(judgmentsShared(s, d))

  val q479Oracle: String =
    s"""WITH jud AS ($judgmentsSql),
       cells AS (
         SELECT item, label, CAST(count(*) AS BIGINT) AS nil,
                CAST(sum(count(*)) OVER (PARTITION BY item) AS BIGINT) AS nu
         FROM jud GROUP BY 1, 2),
       kept AS (SELECT * FROM cells WHERE nu >= 2),
       obs AS (
         SELECT CAST(count(*) AS BIGINT) AS n_items,
                CAST(sum((60 // (nu - 1)) * dis) AS BIGINT) AS do60n,
                CAST(sum(nu) AS BIGINT) AS n
         FROM (SELECT item, nu, sum(nil * (nu - nil)) AS dis
               FROM kept GROUP BY 1, 2)),
       exp1 AS (
         SELECT CAST(sum(nl * nl) AS BIGINT) AS sl2
         FROM (SELECT label, sum(nil) AS nl FROM kept GROUP BY 1))
       SELECT n_items, n AS n_judgments,
         CAST(CAST(do60n AS HUGEINT) * 1000000 // (60 * n) AS BIGINT) AS do_ppm,
         CAST((n * n - sl2)::HUGEINT * 1000000
           // (n::HUGEINT * (n - 1)) AS BIGINT) AS de_ppm,
         CASE WHEN n * n - sl2 = 0 THEN NULL
         ELSE CAST(floor(
           (60 * CAST(n * n - sl2 AS DOUBLE) - CAST(do60n AS DOUBLE) * (n - 1))
           / (60 * CAST(n * n - sl2 AS DOUBLE))
           * 10000.0) AS BIGINT) END AS alpha_bp
       FROM obs CROSS JOIN exp1"""

  // ---------------------------------------------------------------
  // q480 — Dawid–Skene hard-EM rater quality + weighted re-vote
  // ---------------------------------------------------------------

  /** One hard-EM Dawid–Skene round over a (item, rater, label)
    * relation, exposed for crafted tests. Step 0: majority vote per
    * item (ties to the lexicographically-smaller label). M-step: each
    * rater's accuracy against the vote, in milli. E-step (hard):
    * re-vote each item with raters weighted by their milli accuracy
    * (argmax of summed weights, same tie-break). Output per rater:
    * judgment count, accuracy vs the plain vote, accuracy vs the
    * weighted re-vote — the separation between "agrees with the crowd"
    * and "agrees with the QUALITY-WEIGHTED crowd" is the rater signal
    * Dawid–Skene adds over raw agreement.
    *
    * Scale: votes are per-item windows over the (item, label) cell
    * relation (bounded ≤3 rows/item, item-partitioned — never a global
    * sort); the weight relation is ≤|rater-pool| rows and joins back
    * un-hinted (AQE broadcasts from runtime stats); every join in the
    * chain is an equi-join on item or rater. All integer. */
  def dawidSkene(jud: DataFrame): DataFrame = {
    val s = jud.sparkSession
    import s.implicits._
    // j feeds four window/join stages that exchange reuse cannot
    // dedupe (each consumer sits behind a different window): measured
    // 2.7 s checkpointed vs 4.0 s relying on reuse at sf0.1. q480's
    // input is the shared judgment checkpoint, which j reuses as is
    val j = checkpointOnce(jud)
    def vote(df: DataFrame, wcol: String): DataFrame = {
      val w = Window.partitionBy($"item").orderBy(col(wcol).desc, $"label")
      df.withColumn("rk", row_number().over(w))
        .filter($"rk" === 1).select($"item", $"label".as("vlabel"))
    }
    // mv has a single consumer and wts fans out behind an Aggregate
    // (its exchange is reused; only the ≤7-group final agg re-runs):
    // checkpointing either just adds a serial job — j alone pays off
    val mv = vote(
      j.groupBy($"item", $"label").agg(count(lit(1)).as("c")), "c")
    val wts = j.join(mv, "item")
      .groupBy($"rater")
      .agg(count(lit(1)).as("n_judgments"),
        sum(($"label" === $"vlabel").cast("long")).as("ok0"))
      .withColumn("w", expr("ok0 * 1000 div n_judgments"))
    val ev = vote(
      j.join(wts.select($"rater", $"w"), "rater")
        .groupBy($"item", $"label").agg(sum($"w").as("sw")), "sw")
    j.join(ev, "item")
      .groupBy($"rater").agg(sum(($"label" === $"vlabel").cast("long")).as("ok1"))
      .join(wts, "rater")
      .select($"rater", $"n_judgments",
        expr("ok0 * 1000 div n_judgments").as("acc_mv_milli"),
        expr("ok1 * 1000 div n_judgments").as("acc_em_milli"))
      .orderBy($"rater")
  }

  /** Dawid–Skene rater-quality audit (q480): the 7-rater judgment pool
    * pushed through one hard-EM round — per rater, accuracy against
    * the majority vote and against the accuracy-weighted re-vote.
    * ≤7-row output.
    *
    * Scale: see [[dawidSkene]] — the fact scan collapses to judgments
    * once; votes are item-partitioned windows over ≤3-row groups; the
    * rater-pool weight relation is bounded by construction (modulo
    * key) and all its joins are un-hinted equi-joins. */
  def q480DawidSkene(s: SparkSession, d: String): DataFrame =
    dawidSkene(judgmentsShared(s, d))

  val q480Oracle: String =
    s"""WITH jud AS ($judgmentsSql),
       mv AS (
         SELECT item, label AS vlabel FROM (
           SELECT item, label, row_number() OVER (
             PARTITION BY item ORDER BY count(*) DESC, label) AS rk
           FROM jud GROUP BY item, label)
         WHERE rk = 1),
       wts AS (
         SELECT j.rater, CAST(count(*) AS BIGINT) AS n_judgments,
                CAST(sum(CASE WHEN j.label = mv.vlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS ok0
         FROM jud j JOIN mv ON j.item = mv.item
         GROUP BY 1),
       ev AS (
         SELECT item, label AS vlabel FROM (
           SELECT s.item, s.label, row_number() OVER (
             PARTITION BY s.item ORDER BY s.sw DESC, s.label) AS rk
           FROM (
             SELECT j.item, j.label,
                    sum(w.ok0 * 1000 // w.n_judgments) AS sw
             FROM jud j JOIN wts w ON j.rater = w.rater
             GROUP BY 1, 2) s)
         WHERE rk = 1),
       acc1 AS (
         SELECT j.rater,
                CAST(sum(CASE WHEN j.label = ev.vlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS ok1
         FROM jud j JOIN ev ON j.item = ev.item
         GROUP BY 1)
       SELECT w.rater, w.n_judgments,
              w.ok0 * 1000 // w.n_judgments AS acc_mv_milli,
              a.ok1 * 1000 // w.n_judgments AS acc_em_milli
       FROM wts w JOIN acc1 a ON w.rater = a.rater
       ORDER BY w.rater"""

  // ---------------------------------------------------------------
  // q481 — Kendall tau-b between two supplier scoring functions
  // ---------------------------------------------------------------

  /** Kendall τ-b rank agreement (q481): do two supplier scoring
    * functions — total line revenue vs distinct orders served — induce
    * the same ranking? τ counts concordant minus discordant pairs;
    * the b-variant corrects both margins for ties, which the 20×20
    * quantization deliberately introduces (τ on quantized scores IS
    * τ-b with tie groups = buckets).
    *
    * Scale: the fact scan collapses to per-supplier (x, y) once; both
    * axes quantize to 20 fixed-width buckets against the global max
    * (a 1-row broadcast, the q139 `tot` idiom), giving a ≤400-cell
    * joint histogram; the pair count is a theta self-join of that
    * BOUNDED histogram (≤160k cell pairs of pure integer arithmetic —
    * never a supplier-pair join, which at 100 TB would be 10¹²
    * pairs). Ties come off the marginals. One shared-IEEE sqrt at the
    * end (τ ∈ [−1,1] signed — q308's discipline). */
  def q481KendallTau(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.lineitem(s, d)
      .groupBy($"l_suppkey".as("sk"))
      .agg((sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
        .cast("decimal(18,2)")) * 100).cast("long").as("x"),
        countDistinct($"l_orderkey").as("y"))
    val mx = per.agg(max($"x").as("xm"), max($"y").as("ym"))
    val h = per.crossJoin(broadcast(mx))
      .select(least(expr("x * 20 div greatest(xm, 1)"), lit(19L)).as("xb"),
        least(expr("y * 20 div greatest(ym, 1)"), lit(19L)).as("yb"))
      .groupBy($"xb", $"yb").agg(count(lit(1)).as("c"))
      // ≤400 cells by construction (20×20 grid); four consumers and
      // the limit defeats exchange reuse (measured +40% un-checkpointed)
      // — the checkpoint erases provenance, so restate the bound as a
      // no-op limit the scale audits can verify structurally (q370)
      .localCheckpoint().limit(400)
    val pairs = h.as("a").join(h.as("b"),
        col("a.xb") < col("b.xb") ||
          (col("a.xb") === col("b.xb") && col("a.yb") < col("b.yb")))
      .agg(
        sum(when(col("a.xb") < col("b.xb") && col("a.yb") < col("b.yb"),
          col("a.c") * col("b.c")).otherwise(0L)).as("conc"),
        sum(when(col("a.xb") < col("b.xb") && col("a.yb") > col("b.yb"),
          col("a.c") * col("b.c")).otherwise(0L)).as("disc"))
    val margins = h.agg(sum($"c").as("n"))
    val tx = h.groupBy($"xb").agg(sum($"c").as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("tx"))
    val ty = h.groupBy($"yb").agg(sum($"c").as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("ty"))
    pairs.crossJoin(broadcast(margins)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select($"n".as("n_suppliers"), $"conc", $"disc", $"tx", $"ty",
        expr("""CAST(floor(
            (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - tx)
                   * (CAST(n AS DOUBLE) * (n - 1) / 2 - ty))
            * 10000.0) AS BIGINT)""").as("tau_b_bp"))
  }

  val q481Oracle: String =
    """WITH per AS (
         SELECT l_suppkey AS sk,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,2))) AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS y
         FROM lineitem GROUP BY 1),
       mx AS (SELECT max(x) AS xm, max(y) AS ym FROM per),
       h AS (
         SELECT least(x * 20 // greatest(xm, 1), 19) AS xb,
                least(y * 20 // greatest(ym, 1), 19) AS yb,
                CAST(count(*) AS BIGINT) AS c
         FROM per CROSS JOIN mx GROUP BY 1, 2),
       pairs AS (
         SELECT
           CAST(sum(CASE WHEN a.xb < b.xb AND a.yb < b.yb
             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
           CAST(sum(CASE WHEN a.xb < b.xb AND a.yb > b.yb
             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
         FROM h a JOIN h b
           ON a.xb < b.xb OR (a.xb = b.xb AND a.yb < b.yb)),
       m AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
       tx AS (
         SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tx
         FROM (SELECT sum(c) AS t FROM h GROUP BY xb)),
       ty AS (
         SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS ty
         FROM (SELECT sum(c) AS t FROM h GROUP BY yb))
       SELECT n AS n_suppliers, conc, disc, tx, ty,
         CAST(floor(
           (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - tx)
                  * (CAST(n AS DOUBLE) * (n - 1) / 2 - ty))
           * 10000.0) AS BIGINT) AS tau_b_bp
       FROM pairs CROSS JOIN m CROSS JOIN tx CROSS JOIN ty"""

  // ---------------------------------------------------------------
  // q482 — classical-test-theory item analysis (eval benchmarks)
  // ---------------------------------------------------------------

  /** Benchmark item analysis (q482): the classical-test-theory pass an
    * eval team runs over a question bank — per ITEM (part brand, the
    * schema-bounded 25-item "benchmark"), difficulty = pass rate of
    * the persons (suppliers) who attempted it, and discrimination =
    * point-biserial correlation between the item response and the
    * person's REST score (pass count excluding this item). Items that
    * everyone passes/fails discriminate nothing and emit NULL — the
    * sentinel, not a fake 0.
    *
    * Response model: person s "passes" item i when their mean shipped
    * quantity on that brand ≥ 26 (sum ≥ 26·count — exact integer, no
    * division). Scale: one fact-dim join (un-hinted; AQE broadcasts
    * the part dim from stats) collapses to the ≤|persons|·25 response
    * matrix; person scores are one groupBy; the per-item moments are
    * int64 sufficient statistics with one shared-IEEE sqrt (q308).
    * Nothing after the response matrix touches fact rows. */
  def q482ItemAnalysis(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val resp = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey".as("sk"), $"p_brand".as("item"))
      .agg((sum($"l_quantity".cast("long")) >=
        lit(26L) * count(lit(1))).cast("long").as("x"))
      .localCheckpoint()
    val person = resp.groupBy($"sk")
      .agg(sum($"x").as("score"), count(lit(1)).as("attempts"))
    resp.join(person, "sk")
      .select($"item", $"x", ($"score" - $"x").as("r"))
      .groupBy($"item")
      .agg(count(lit(1)).as("n_persons"), sum($"x").as("sx"),
        sum($"r").as("sr"), sum($"x" * $"r").as("sxr"),
        sum($"r" * $"r").as("srr"))
      .select($"item", $"n_persons",
        expr("sx * 1000 div n_persons").as("difficulty_milli"),
        expr("""CASE WHEN n_persons * sx - sx * sx <= 0
                  OR n_persons * srr - sr * sr <= 0 THEN NULL
            ELSE CAST(floor(
              (CAST(n_persons AS DOUBLE) * sxr - CAST(sx AS DOUBLE) * sr)
              / sqrt((CAST(n_persons AS DOUBLE) * sx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(n_persons AS DOUBLE) * srr - CAST(sr AS DOUBLE) * sr))
              * 10000.0) AS BIGINT) END""").as("disc_bp"))
      .orderBy($"item")
  }

  val q482Oracle: String =
    """WITH resp AS (
         SELECT l_suppkey AS sk, p_brand AS item,
                CAST(sum(CAST(l_quantity AS BIGINT))
                  >= 26 * count(*) AS BIGINT) AS x
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2),
       person AS (
         SELECT sk, CAST(sum(x) AS BIGINT) AS score,
                CAST(count(*) AS BIGINT) AS attempts
         FROM resp GROUP BY 1),
       m AS (
         SELECT item, CAST(count(*) AS BIGINT) AS n_persons,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(score - x) AS BIGINT) AS sr,
                CAST(sum(x * (score - x)) AS BIGINT) AS sxr,
                CAST(sum((score - x) * (score - x)) AS BIGINT) AS srr
         FROM resp JOIN person USING (sk)
         GROUP BY 1)
       SELECT item, n_persons,
         sx * 1000 // n_persons AS difficulty_milli,
         CASE WHEN n_persons * sx - sx * sx <= 0
                OR n_persons * srr - sr * sr <= 0 THEN NULL
           ELSE CAST(floor(
             (CAST(n_persons AS DOUBLE) * sxr - CAST(sx AS DOUBLE) * sr)
             / sqrt((CAST(n_persons AS DOUBLE) * sx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n_persons AS DOUBLE) * srr - CAST(sr AS DOUBLE) * sr))
             * 10000.0) AS BIGINT) END AS disc_bp
       FROM m ORDER BY item"""

  // ---------------------------------------------------------------
  // q483 — split-conformal prediction coverage audit
  // ---------------------------------------------------------------

  /** Split-conformal coverage audit (q483): the distribution-free
    * calibration check for any model-predicted label — split orders
    * into calibration/test halves by a deterministic hash, fit the
    * trivial per-segment mean predictor on the calibration half, take
    * q̂ = the ⌈(n_cal+1)·0.9⌉-th smallest absolute residual
    * (the finite-sample split-conformal quantile, α = 0.1), and
    * measure test-half coverage of pred ± q̂ — which conformal theory
    * guarantees ≥ 90% in expectation REGARDLESS of the model. Scores
    * quantize to $1000 buckets on both sides of the inequality, so the
    * order statistic and the coverage test are self-consistent exact
    * integers.
    *
    * Scale: the per-segment mean and score histograms are one groupBy
    * each; the quantile is a cumulative-count crossing over the
    * BOUNDED per-segment bucket histogram (q309's idiom — never a
    * sort of fact rows); the 5-row q̂/μ relations join back un-hinted.
    * Split determinism: `Fns.hash60` parity, never `random()`. The
    * base relation is checkpointed because its three consumers (μ, the
    * calibration histogram, the test coverage pass) sit behind joins
    * exchange reuse can't cross; the materialization is a narrow
    * 3-column projection of orders — swap localCheckpoint for
    * persist(DISK_ONLY) if executor memory is the constraint at
    * cluster scale. */
  def q483ConformalCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment".as("segment")),
        $"o_custkey" === $"c_custkey")
      .select($"segment",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"),
        (graft.functions.Fns.hash60($"o_orderkey".cast("string")) % 2)
          .as("half"))
      .localCheckpoint()
    val mu = base.filter($"half" === 0).groupBy($"segment")
      .agg(count(lit(1)).as("n_cal"),
        expr("sum(cents) div count(1)").as("mu"))
    val scored = base.join(mu, "segment")
      .withColumn("sb", expr("abs(cents - mu) div 100000"))
    val calH = scored.filter($"half" === 0)
      .groupBy($"segment", $"n_cal", $"sb").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"segment").orderBy($"sb")
    val qhat = calH
      .withColumn("cum", sum($"c").over(w))
      .filter($"cum" >= expr("(9 * (n_cal + 1) + 9) div 10"))
      .groupBy($"segment").agg(min($"sb").as("qb"))
    scored.filter($"half" === 1)
      .join(qhat, "segment")
      .groupBy($"segment")
      .agg(max($"n_cal").as("n_cal"), count(lit(1)).as("n_test"),
        max($"qb").as("qhat_bucket"),
        sum(($"sb" <= $"qb").cast("long")).as("cov"))
      .select($"segment", $"n_cal", $"n_test", $"qhat_bucket",
        expr("cov * 1000 div n_test").as("coverage_milli"))
      .orderBy($"segment")
  }

  val q483Oracle: String =
    """WITH base AS (
         SELECT c_mktsegment AS segment,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS cents,
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                  ::bigint % 2 AS half
         FROM orders JOIN customer ON o_custkey = c_custkey),
       mu AS (
         SELECT segment, CAST(count(*) AS BIGINT) AS n_cal,
                CAST(sum(cents) // count(*) AS BIGINT) AS mu
         FROM base WHERE half = 0 GROUP BY 1),
       scored AS (
         SELECT b.segment, b.half, mu.n_cal,
                abs(b.cents - mu.mu) // 100000 AS sb
         FROM base b JOIN mu ON b.segment = mu.segment),
       calh AS (
         SELECT segment, n_cal, sb, CAST(count(*) AS BIGINT) AS c
         FROM scored WHERE half = 0 GROUP BY 1, 2, 3),
       qhat AS (
         SELECT segment, min(sb) AS qb FROM (
           SELECT segment, n_cal, sb, c,
                  CAST(sum(c) OVER (PARTITION BY segment ORDER BY sb
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
           FROM calh)
         WHERE cum >= (9 * (n_cal + 1) + 9) // 10
         GROUP BY 1)
       SELECT s.segment, max(s.n_cal) AS n_cal,
              CAST(count(*) AS BIGINT) AS n_test,
              max(q.qb) AS qhat_bucket,
              CAST(sum(CASE WHEN s.sb <= q.qb THEN 1 ELSE 0 END) AS BIGINT)
                * 1000 // count(*) AS coverage_milli
       FROM scored s JOIN qhat q ON s.segment = q.segment
       WHERE s.half = 1
       GROUP BY s.segment ORDER BY s.segment"""

  // ---------------------------------------------------------------
  // q484 — KR-20 / Cronbach's alpha internal-consistency reliability
  // ---------------------------------------------------------------

  /** Benchmark reliability (q484): KR-20 (= Cronbach's α on binary
    * items) over q482's response matrix, restricted to persons who
    * attempted ALL 25 items (the complete-case panel the coefficient
    * assumes). With per-item pass counts and per-person total scores,
    * both variance sums share the n² denominator, which cancels:
    *   A = Σ_items (n·Σxᵢ − (Σxᵢ)²),  B = n·Σt² − (Σt)²,
    *   α = k/(k−1) · (1 − A/B) = k(B − A) / ((k−1)B).
    * Exact int64 throughout (n ≤ |suppliers|, t ≤ 25), one shared-IEEE
    * floor·10⁴ since α < 0 is legitimate (items measuring opposite
    * things). A zero-variance total score emits the NULL sentinel.
    *
    * Scale: the response matrix collapses the fact scan once (q482's
    * join); the complete-case filter and both moment sets are bounded
    * groupBys (25 items; |persons| keyed by supplier). Nothing after
    * the response matrix touches fact rows. */
  def q484Kr20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val resp = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey".as("sk"), $"p_brand".as("item"))
      .agg((sum($"l_quantity".cast("long")) >=
        lit(26L) * count(lit(1))).cast("long").as("x"))
    // resp is a pure Aggregate: its three consumers (the completeness
    // semi-join's both sides + the moment sets) share one exchange via
    // ReuseExchange — no checkpoint needed inside a single action
    val complete = resp
      .join(resp.groupBy($"sk").agg(count(lit(1)).as("k"))
        .filter($"k" === 25).select($"sk"), Seq("sk"), "left_semi")
    val person = complete.groupBy($"sk").agg(sum($"x").as("t"))
      .agg(count(lit(1)).as("n"), sum($"t").as("st"),
        sum($"t" * $"t").as("stt"))
    val items = complete.groupBy($"item").agg(count(lit(1)).as("ni"),
        sum($"x").as("sx"))
    person.crossJoin(broadcast(
        items.agg(sum(expr("ni * sx - sx * sx")).as("a_num"))))
      .select($"n".as("n_persons"),
        ($"n" * $"stt" - $"st" * $"st").as("b"), $"a_num")
      .select($"n_persons", $"a_num".as("sum_item_var_n2"),
        $"b".as("total_var_n2"),
        expr("""CASE WHEN b <= 0 THEN NULL ELSE CAST(floor(
            25 * (CAST(b AS DOUBLE) - CAST(a_num AS DOUBLE))
            / (24 * CAST(b AS DOUBLE)) * 10000.0) AS BIGINT) END""")
          .as("kr20_bp"))
  }

  val q484Oracle: String =
    """WITH resp AS (
         SELECT l_suppkey AS sk, p_brand AS item,
                CAST(sum(CAST(l_quantity AS BIGINT))
                  >= 26 * count(*) AS BIGINT) AS x
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2),
       comp AS (
         SELECT r.* FROM resp r SEMI JOIN (
           SELECT sk FROM resp GROUP BY sk HAVING count(*) = 25) f
           ON r.sk = f.sk),
       person AS (
         SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS st,
                CAST(sum(t * t) AS BIGINT) AS stt
         FROM (SELECT sk, sum(x) AS t FROM comp GROUP BY 1)),
       itm AS (
         SELECT CAST(sum(ni * sx - sx * sx) AS BIGINT) AS a_num
         FROM (SELECT item, CAST(count(*) AS BIGINT) AS ni,
                      CAST(sum(x) AS BIGINT) AS sx
               FROM comp GROUP BY 1)),
       m AS (SELECT n, n * stt - st * st AS b, a_num
             FROM person CROSS JOIN itm)
       SELECT n AS n_persons, a_num AS sum_item_var_n2, b AS total_var_n2,
         CASE WHEN b <= 0 THEN NULL ELSE CAST(floor(
           25 * (CAST(b AS DOUBLE) - CAST(a_num AS DOUBLE))
           / (24 * CAST(b AS DOUBLE)) * 10000.0) AS BIGINT) END AS kr20_bp
       FROM m"""

  // ---------------------------------------------------------------
  // q485 — judge-panel-size planner (majority-vote accuracy curve)
  // ---------------------------------------------------------------

  /** Panel-size planner (q485): "how many judges do I need?" — given
    * the 7 raters' measured accuracies (q480's majority-vote M-step),
    * the exact probability that a majority of the TOP-k raters
    * (accuracy-descending, rater-ascending ties) votes correctly,
    * assuming independent errors, for k ∈ {1,3,5,7}. Computed by the
    * full 2^k bitmask expansion: each mask's probability is the
    * product Π pᵢ (voters correct) · Π (1000−pᵢ) (voters wrong) in
    * milli^k units — DECIMAL(38,0) exactly (1000⁷·10⁶ = 10²⁷ < 10³⁸;
    * HUGEINT twin), masks with popcount > k/2 summed, normalized to
    * micro with one `div`. The marginal-judge lift column is what the
    * planner reads: stop adding judges when it flattens.
    *
    * Scale: everything below the rater-accuracy aggregate (bounded by
    * the 7-key modulo pool) is literal-grid HOF work on ≤1 row — the
    * 100 TB cost is q480's M-step scan. The 2^k grids are bounded
    * literals (≤128 masks); no join in the expansion. */
  /** Exact majority-vote accuracy for a panel of the first `k` entries
    * of a milli-accuracy array column `ps`, in micro: Σ over masks
    * m∈[0,2^k) with popcount(m) > k/2 of Π_{bit i set} pᵢ ·
    * Π_{bit i clear} (1000 − pᵢ), in milli^k units (exact
    * DECIMAL(38,0): ≤ 10²¹); micro = total / 10^(3k−6) — the rescale
    * divisor stays a plain BIGINT literal for every k. Exposed for
    * hand-computed-panel tests. */
  private[graft] def majorityExpr(k: Int): String = {
    val scale = if (k == 1) "* 1000" else s"div ${"1" + "0" * (3 * k - 6)}"
    s"""CAST(aggregate(sequence(0, ${(1 << k) - 1}),
          CAST(0 AS DECIMAL(38,0)),
          (acc, m) -> acc + CASE WHEN bit_count(m) > ${k / 2} THEN
            aggregate(sequence(0, ${k - 1}), CAST(1 AS DECIMAL(38,0)),
              (pr, i) -> pr * CASE WHEN ((m >> i) % 2) = 1
                THEN element_at(ps, i + 1)
                ELSE 1000 - element_at(ps, i + 1) END)
            ELSE CAST(0 AS DECIMAL(38,0)) END)
        $scale AS BIGINT)"""
  }

  def q485PanelPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the majority-vote window blocks exchange reuse between the two
    // jud consumers: checkpoint (measured 1.6 s vs 2.0 s at sf0.1)
    val jud = judgmentsShared(s, d)
    val w = Window.partitionBy($"item").orderBy($"c".desc, $"label")
    val mv = jud.groupBy($"item", $"label").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1).select($"item", $"label".as("vlabel"))
    val acc = jud.join(mv, "item")
      .groupBy($"rater")
      .agg(sum(($"label" === $"vlabel").cast("long")).as("ok"),
        count(lit(1)).as("nj"))
      .select($"rater", expr("ok * 1000 div nj").as("p"))
    val ps = acc
      .agg(sort_array(collect_list(struct(($"p" * -1).as("np"),
        $"rater")), asc = true).as("o"))
      .select(expr("transform(o, x -> -x.np)").as("ps"))
    val ks = Seq(1, 3, 5, 7).map(majorityExpr)
    ps.select(
        expr(s"stack(4, 1L, ${ks(0)}, 3L, ${ks(1)}, 5L, ${ks(2)}, 7L, ${ks(3)})")
          .as(Seq("panel_k", "p_majority_micro")))
      .withColumn("lift_micro",
        $"p_majority_micro" -
          coalesce(lag($"p_majority_micro", 1).over(
            Window.orderBy($"panel_k")), $"p_majority_micro"))
      .orderBy($"panel_k")
  }

  val q485Oracle: String = {
    val ks = Seq(1, 3, 5, 7).map { k =>
      val scale = if (k == 1) "* 1000" else s"// ${"1" + "0" * (3 * k - 6)}"
      s"""CAST(list_sum(list_transform(range(0, ${1 << k}), m ->
            CASE WHEN bit_count(CAST(m AS BIGINT)) > ${k / 2} THEN
              list_reduce(list_prepend(CAST(1 AS HUGEINT),
                list_transform(range(0, $k), i ->
                  CAST(CASE WHEN ((m >> i) % 2) = 1 THEN ps[i + 1]
                       ELSE 1000 - ps[i + 1] END AS HUGEINT))),
                (a, b) -> a * b)
            ELSE CAST(0 AS HUGEINT) END))
          $scale AS BIGINT)"""
    }
    s"""WITH jud AS ($judgmentsSql),
       mv AS (
         SELECT item, label AS vlabel FROM (
           SELECT item, label, row_number() OVER (
             PARTITION BY item ORDER BY count(*) DESC, label) AS rk
           FROM jud GROUP BY item, label)
         WHERE rk = 1),
       acc AS (
         SELECT j.rater,
                CAST(sum(CASE WHEN j.label = mv.vlabel THEN 1 ELSE 0 END)
                  AS BIGINT) * 1000 // count(*) AS p
         FROM jud j JOIN mv ON j.item = mv.item
         GROUP BY 1),
       ord AS (SELECT list(p ORDER BY p DESC, rater) AS ps FROM acc),
       grid AS (
         SELECT * FROM (VALUES (CAST(1 AS BIGINT), 1), (3, 2), (5, 3), (7, 4))
           v(panel_k, ki)),
       pm AS (
         SELECT g.panel_k,
                CASE g.ki WHEN 1 THEN ${ks(0)} WHEN 2 THEN ${ks(1)}
                     WHEN 3 THEN ${ks(2)} ELSE ${ks(3)} END
                  AS p_majority_micro
         FROM grid g CROSS JOIN ord)
       SELECT panel_k, p_majority_micro,
              p_majority_micro - coalesce(lag(p_majority_micro)
                OVER (ORDER BY panel_k), p_majority_micro) AS lift_micro
       FROM pm ORDER BY panel_k"""
  }

  // ---------------------------------------------------------------
  // q486 — intra-rater test-retest consistency
  // ---------------------------------------------------------------

  /** Intra-rater test-retest audit (q486): BEFORE the judgment
    * collapse, a rater seeing the same item on multiple fact rows is a
    * repeated measurement — the fraction of those retest cells where
    * every raw label agrees is the rater's self-consistency, the QA
    * stat that separates noisy raters from biased ones (a biased rater
    * is perfectly self-consistent; q480 catches them instead). Per
    * rater: judged cells, retest cells, self-consistency in milli.
    *
    * Scale: one fact groupBy to (item, rater) cells carrying count +
    * min/max label (agreement ⇔ min = max — no per-cell label set is
    * ever collected); the per-rater rollup is bounded by the 7-key
    * pool. Exact integer throughout. */
  def q486TestRetest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey".as("item"), ($"l_suppkey" % 7).as("rater"))
      .agg(count(lit(1)).as("nraw"),
        (min($"l_returnflag") === max($"l_returnflag")).cast("long")
          .as("consist"))
      .groupBy($"rater")
      .agg(count(lit(1)).as("n_cells"),
        sum(($"nraw" >= 2).cast("long")).as("n_retest"),
        sum(when($"nraw" >= 2, $"consist").otherwise(0L)).as("ok"))
      .select($"rater", $"n_cells", $"n_retest",
        expr("ok * 1000 div greatest(n_retest, 1L)")
          .as("self_consistent_milli"))
      .orderBy($"rater")
  }

  val q486Oracle: String =
    """WITH cells AS (
         SELECT l_orderkey AS item, l_suppkey % 7 AS rater,
                CAST(count(*) AS BIGINT) AS nraw,
                CAST(min(l_returnflag) = max(l_returnflag) AS BIGINT)
                  AS consist
         FROM lineitem GROUP BY 1, 2)
       SELECT rater, CAST(count(*) AS BIGINT) AS n_cells,
              CAST(sum(CASE WHEN nraw >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_retest,
              CAST(sum(CASE WHEN nraw >= 2 THEN consist ELSE 0 END)
                AS BIGINT) * 1000
                // greatest(CAST(sum(CASE WHEN nraw >= 2 THEN 1 ELSE 0 END)
                     AS BIGINT), 1) AS self_consistent_milli
       FROM cells GROUP BY rater ORDER BY rater"""

  // ---------------------------------------------------------------
  // q487 — pairwise judge-agreement matrix (Cohen's kappa per pair)
  // ---------------------------------------------------------------

  /** Judge-pair agreement matrix (q487): Cohen's κ for every pair of
    * the 7 raters over the items BOTH judged — the drill-down behind
    * q478/q479's single coefficient that localizes WHICH judge pair
    * disagrees (a miscalibrated judge shows up as a whole low row).
    * Per pair: co-judged items, raw agreement, and κ in basis points
    * from the pair's own label marginals:
    *   κ = (n·agree − Σ_l ca_l·cb_l) / (n² − Σ_l ca_l·cb_l).
    *
    * Scale: rater pairs expand INSIDE each item's ≤7-element collected
    * basket (the q157/q465 idiom — ≤21 pairs per item, never a
    * fact-fact self-join); marginals are groupBys of the pair relation
    * keyed by the bounded (rater, rater, label) domain; the κ algebra
    * runs on the ≤21-row pair aggregate. Shared-IEEE floor (κ < 0
    * legitimate); the degenerate pe = n² case (both judges constant)
    * emits the NULL sentinel. */
  /** The pairwise-κ core over a (item, rater, label) relation, exposed
    * for crafted-contingency tests — see [[q487JudgePairKappa]]. */
  def judgePairKappa(jud: DataFrame): DataFrame = {
    val s = jud.sparkSession
    import s.implicits._
    val pairs = jud
      .groupBy($"item")
      .agg(collect_list(struct($"rater", $"label")).as("bs"))
      .filter(size($"bs") >= 2)
      .select(explode(expr(
        """flatten(transform(bs, x ->
             transform(filter(bs, y -> y.rater > x.rater), y -> struct(
               x.rater AS ra, y.rater AS rb,
               x.label AS la, y.label AS lb))))""")).as("pr"))
      .select($"pr.ra", $"pr.rb", $"pr.la", $"pr.lb")
      .localCheckpoint()
    val base = pairs.groupBy($"ra", $"rb")
      .agg(count(lit(1)).as("n"),
        sum(($"la" === $"lb").cast("long")).as("agree"))
    val pe = pairs.groupBy($"ra", $"rb", $"la".as("l"))
      .agg(count(lit(1)).as("ca"))
      .join(pairs.groupBy($"ra", $"rb", $"lb".as("l"))
        .agg(count(lit(1)).as("cb")), Seq("ra", "rb", "l"))
      .groupBy($"ra", $"rb").agg(sum($"ca" * $"cb").as("pe_num"))
    base.join(pe, Seq("ra", "rb"), "left")
      .withColumn("pe_num", coalesce($"pe_num", lit(0L)))
      .select($"ra", $"rb", $"n",
        expr("agree * 1000 div n").as("agree_milli"),
        expr("""CASE WHEN n * n - pe_num <= 0 THEN NULL ELSE CAST(floor(
            (CAST(n AS DOUBLE) * agree - CAST(pe_num AS DOUBLE))
            / (CAST(n AS DOUBLE) * n - CAST(pe_num AS DOUBLE))
            * 10000.0) AS BIGINT) END""").as("kappa_bp"))
      .orderBy($"ra", $"rb")
  }

  def q487JudgePairKappa(s: SparkSession, d: String): DataFrame =
    judgePairKappa(judgmentsShared(s, d))

  val q487Oracle: String =
    s"""WITH jud AS ($judgmentsSql),
       pairs AS (
         SELECT a.rater AS ra, b.rater AS rb, a.label AS la, b.label AS lb
         FROM jud a JOIN jud b ON a.item = b.item AND a.rater < b.rater),
       base AS (
         SELECT ra, rb, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                  AS agree
         FROM pairs GROUP BY 1, 2),
       ma AS (SELECT ra, rb, la AS l, CAST(count(*) AS BIGINT) AS ca
              FROM pairs GROUP BY 1, 2, 3),
       mb AS (SELECT ra, rb, lb AS l, CAST(count(*) AS BIGINT) AS cb
              FROM pairs GROUP BY 1, 2, 3),
       pe AS (
         SELECT ra, rb, CAST(sum(ca * cb) AS BIGINT) AS pe_num
         FROM ma JOIN mb USING (ra, rb, l) GROUP BY 1, 2)
       SELECT b.ra, b.rb, b.n,
              b.agree * 1000 // b.n AS agree_milli,
              CASE WHEN b.n * b.n - coalesce(pe.pe_num, 0) <= 0 THEN NULL
                ELSE CAST(floor(
                  (CAST(b.n AS DOUBLE) * b.agree
                     - CAST(coalesce(pe.pe_num, 0) AS DOUBLE))
                  / (CAST(b.n AS DOUBLE) * b.n
                     - CAST(coalesce(pe.pe_num, 0) AS DOUBLE))
                  * 10000.0) AS BIGINT) END AS kappa_bp
       FROM base b LEFT JOIN pe ON b.ra = pe.ra AND b.rb = pe.rb
       ORDER BY b.ra, b.rb"""

  // ---------------------------------------------------------------
  // q488 — qualification-test designer (exact binomial tails)
  // ---------------------------------------------------------------

  /** Exact binomial upper tail P(X ≥ t | n, p) in micro, for a milli
    * probability SQL expression `p` — Σ_{k≥t} C(n,k)·p^k·(1000−p)^(n−k)
    * in milli^n DECIMAL(38,0) units (n ≤ 10 ⇒ ≤ 252·10³⁰ < 10³⁸;
    * HUGEINT twin), rescaled by the BIGINT literal 10^(3n−6). The
    * C(n,k) coefficients are computed HERE (exact Long arithmetic) and
    * inlined as literals into BOTH engines' SQL — the identical-text
    * discipline. `t` is a SQL expression so one string serves the whole
    * threshold grid. */
  private[graft] def binomTailExpr(n: Int, t: String, p: String): String = {
    val choose = Array.iterate(Array(1L), n + 1)(r =>
      (0L +: r.toSeq :+ 0L).sliding(2).map(_.sum).toArray).last
    val terms = (0 to n).map { k =>
      val prod = (Seq.fill(k)(s"CAST(($p) AS DECIMAL(38,0))") ++
        Seq.fill(n - k)(s"CAST((1000 - ($p)) AS DECIMAL(38,0))"))
        .mkString(" * ")
      s"CASE WHEN $k >= ($t) THEN ${choose(k)} * $prod ELSE CAST(0 AS DECIMAL(38,0)) END"
    }
    s"CAST((${terms.mkString(" + ")}) div ${"1" + "0" * (3 * n - 6)} AS BIGINT)"
  }

  /** Qualification-test designer (q488): before trusting a new
    * annotator, labeling teams gate them on a gold quiz — this op
    * derives the gold set AND sizes the quiz. Gold-for-rater is
    * leave-one-out consensus: an item counts for rater r only when the
    * OTHER ≥2 raters are unanimous (r's own vote can't vouch for
    * itself); the rater's gold accuracy follows, and the panel median
    * is the "honest rater" operating point. For quiz sizes n ∈ {5, 10}
    * the designer picks the smallest pass threshold t* whose
    * coin-flipping spammer (p = 0.5) passes ≤ 5%, and reports both
    * operating characteristics at t*: spammer pass rate and the
    * median-honest-rater pass rate — the quiz is usable only if the
    * two separate. All tails are EXACT binomial sums (see
    * [[binomTailExpr]]).
    *
    * Scale: gold classification is one judgment-relation pass (per-item
    * top-label stats via an item-partitioned window over ≤3-row cell
    * groups, then one equi-join back); everything after the 7-row
    * accuracy aggregate is literal-grid arithmetic on ≤2 rows. */
  def q488QualificationDesigner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val jud = judgmentsShared(s, d)
    val cells = jud.groupBy($"item", $"label").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"item").orderBy($"c".desc, $"label")
    val top = cells
      .withColumn("nu", sum($"c").over(Window.partitionBy($"item")))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"item", $"label".as("top_label"), $"c".as("c1"), $"nu")
      .filter($"nu" >= 3)
    val gold = jud.join(top, "item")
      .withColumn("gstat", expr(
        """CASE WHEN label = top_label AND c1 = nu THEN 1
                WHEN label <> top_label AND c1 = nu - 1 THEN 0
                ELSE -1 END"""))
      .filter($"gstat" >= 0)
      .groupBy($"rater")
      .agg(count(lit(1)).as("n_gold"), sum($"gstat").as("ok"))
      .select($"rater", expr("ok * 1000 div n_gold").as("p"))
    // the panel's median gold accuracy — lower median by construction
    // ((k+1) div 2 of k sorted values), NOT a hard-coded element 4:
    // fewer-than-7 gold raters must still pick a true median, and under
    // ANSI mode an out-of-bounds element_at throws (ADVICE r11). A
    // ZERO-gold corpus degenerates to index 0 (invalid even non-ANSI) —
    // NULL sentinel, matching the DuckDB twin's a[0] → NULL (ADVICE r12)
    val pmed = gold.agg(sort_array(collect_list($"p")).as("a"))
      .select(expr(
        """CASE WHEN size(a) = 0 THEN NULL
           ELSE element_at(a, CAST((size(a) + 1) div 2 AS INT)) END""").as("p_med"))
    val grid = Seq(5, 10).map { n =>
      val spam = binomTailExpr(n, "t", "500")
      val hon = binomTailExpr(n, "t", "p_med")
      pmed.select(lit(n.toLong).as("quiz_n"),
          explode(expr(s"sequence(0L, ${n}L)")).as("t"), $"p_med")
        .select($"quiz_n", $"t", $"p_med",
          expr(spam).as("spammer_pass_micro"), expr(hon).as("honest_pass_micro"))
    }.reduce(_ unionByName _)
    val wt = Window.partitionBy($"quiz_n").orderBy($"t")
    grid.filter($"spammer_pass_micro" <= 50000L)
      .withColumn("rk", row_number().over(wt)).filter($"rk" === 1)
      .select($"quiz_n", $"t".as("t_star"), $"p_med",
        $"spammer_pass_micro", $"honest_pass_micro")
      .orderBy($"quiz_n")
  }

  val q488Oracle: String = {
    def tail(n: Int, t: String, p: String): String = {
      val choose = Array.iterate(Array(1L), n + 1)(r =>
        (0L +: r.toSeq :+ 0L).sliding(2).map(_.sum).toArray).last
      val terms = (0 to n).map { k =>
        val prod = (Seq.fill(k)(s"CAST(($p) AS HUGEINT)") ++
          Seq.fill(n - k)(s"CAST((1000 - ($p)) AS HUGEINT)"))
          .mkString(" * ")
        s"CASE WHEN $k >= ($t) THEN ${choose(k)} * $prod ELSE CAST(0 AS HUGEINT) END"
      }
      s"CAST((${terms.mkString(" + ")}) // ${"1" + "0" * (3 * n - 6)} AS BIGINT)"
    }
    val rows = Seq(5, 10).map { n =>
      s"""SELECT $n AS quiz_n, t, p_med,
            ${tail(n, "t", "500")} AS spammer_pass_micro,
            ${tail(n, "t", "p_med")} AS honest_pass_micro
          FROM pmed CROSS JOIN (SELECT unnest(range(0, ${n + 1})) AS t)"""
    }.mkString(" UNION ALL ")
    s"""WITH jud AS ($judgmentsSql),
       cells AS (
         SELECT item, label, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(count(*)) OVER (PARTITION BY item) AS BIGINT) AS nu
         FROM jud GROUP BY 1, 2),
       top AS (
         SELECT item, label AS top_label, c AS c1, nu FROM (
           SELECT *, row_number() OVER (
             PARTITION BY item ORDER BY c DESC, label) AS rk
           FROM cells)
         WHERE rk = 1 AND nu >= 3),
       gold AS (
         SELECT j.rater,
                CAST(sum(CASE WHEN j.label = t.top_label THEN 1 ELSE 0 END)
                  AS BIGINT) * 1000
                  // CAST(count(*) AS BIGINT) AS p
         FROM jud j JOIN top t ON j.item = t.item
         WHERE (j.label = t.top_label AND t.c1 = t.nu)
            OR (j.label <> t.top_label AND t.c1 = t.nu - 1)
         GROUP BY 1),
       ga AS (SELECT list(p ORDER BY p) AS a FROM gold),
       pmed AS (SELECT a[(len(a) + 1) // 2] AS p_med FROM ga),
       grid AS ($rows),
       ranked AS (
         SELECT quiz_n, t, p_med, spammer_pass_micro, honest_pass_micro,
                row_number() OVER (PARTITION BY quiz_n ORDER BY t) AS rk
         FROM grid WHERE spammer_pass_micro <= 50000)
       SELECT quiz_n, t AS t_star, p_med,
              spammer_pass_micro, honest_pass_micro
       FROM ranked WHERE rk = 1 ORDER BY quiz_n"""
  }

  // ---------------------------------------------------------------
  // q489 — cost-optimal panel router (exact subset-majority search)
  // ---------------------------------------------------------------

  /** Exact majority-vote accuracy of the rater SUBSET encoded by
    * bitmask column `s_mask` over the 7-element milli-accuracy array
    * `ps` (rater order), in micro: Σ over vote masks m ⊆ s with
    * |m| > |s|/2 of Π_{i∈s} (i∈m ? pᵢ : 1000−pᵢ). Products carry only
    * the |s| member bits (milli^|s| ≤ 10²¹ DECIMAL(38,0)); the rescale
    * divisor 10^(3|s|−6) is looked up from a 7-branch CASE. Even
    * panels need a STRICT majority — ties fail (the conservative
    * read). */
  private[graft] def subsetMajorityExpr: String = {
    // micro = sum·10⁶/1000^k = sum·1000/10^(3k−3): multiply the exact
    // DECIMAL sum by 1000 first (≤10²⁴), then one div by a BIGINT
    // literal that exists for every k (10^18 max at k=7)
    val divisor = (1 to 7).map(k =>
      s"WHEN bit_count(s_mask) = $k THEN ${"1" + "0" * (3 * k - 3)}L")
      .mkString(" ")
    s"""CAST(aggregate(sequence(0, 127), CAST(0 AS DECIMAL(38,0)),
          (acc, m) -> acc + CASE
            WHEN (m & ~s_mask) = 0
             AND 2 * bit_count(m & s_mask) > bit_count(s_mask) THEN
              aggregate(sequence(0, 6), CAST(1 AS DECIMAL(38,0)),
                (pr, i) -> pr * CASE
                  WHEN ((s_mask >> i) % 2) = 0 THEN 1
                  WHEN ((m >> i) % 2) = 1 THEN element_at(ps, i + 1)
                  ELSE 1000 - element_at(ps, i + 1) END)
            ELSE CAST(0 AS DECIMAL(38,0)) END)
        * 1000 div (CASE $divisor END) AS BIGINT)"""
  }

  /** Cost-optimal panel router (q489): which judges should an item be
    * routed to? Given the 7 raters' measured accuracies (q480's
    * M-step) and a per-judgment cost of rater_key + 1 (seniors cost
    * more), search ALL 127 non-empty panels exactly — each panel's
    * majority-vote accuracy via the full vote-mask expansion (see
    * [[subsetMajorityExpr]]) — and for each target accuracy in
    * {70%, 80%, 90%} return the CHEAPEST panel that meets it
    * (ties: fewer judges, then smaller mask). Unreachable targets emit
    * no row rather than a fake panel.
    *
    * Scale: everything below the 7-row accuracy aggregate is a
    * 127-row literal explode × a 128-mask HOF per row (≤3⁷ products
    * total) — driver-free, bounded by construction; the argmin per
    * target is a window over ≤381 rows. */
  def q489PanelRouter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val jud = judgmentsShared(s, d)
    val w = Window.partitionBy($"item").orderBy($"c".desc, $"label")
    val mv = jud.groupBy($"item", $"label").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1).select($"item", $"label".as("vlabel"))
    val acc = jud.join(mv, "item")
      .groupBy($"rater")
      .agg(sum(($"label" === $"vlabel").cast("long")).as("ok"),
        count(lit(1)).as("nj"))
      .select($"rater", expr("ok * 1000 div nj").as("p"))
    val ps = acc
      .agg(sort_array(collect_list(struct($"rater", $"p"))).as("o"))
      .select(expr("transform(o, x -> x.p)").as("ps"))
    val panels = ps
      .select(explode(expr("sequence(1, 127)")).as("s_mask"), $"ps")
      .select($"s_mask",
        expr("bit_count(s_mask)").cast("long").as("n_judges"),
        expr("""aggregate(sequence(0, 6), 0L,
            (acc, i) -> acc + CASE WHEN ((s_mask >> i) % 2) = 1
              THEN i + 1 ELSE 0 END)""").as("cost"),
        expr(subsetMajorityExpr).as("acc_micro"))
    val targets = Seq(700000L, 800000L, 900000L)
      .map(t => panels.withColumn("target_micro", lit(t))
        .filter($"acc_micro" >= t))
      .reduce(_ unionByName _)
    val wt = Window.partitionBy($"target_micro")
      .orderBy($"cost", $"n_judges", $"s_mask")
    targets.withColumn("rk", row_number().over(wt)).filter($"rk" === 1)
      .select($"target_micro", $"s_mask".cast("long").as("panel_mask"),
        $"n_judges", $"cost", $"acc_micro")
      .orderBy($"target_micro")
  }

  val q489Oracle: String = {
    val divisor = (1 to 7).map(k =>
      s"WHEN bit_count(CAST(s_mask AS BIGINT)) = $k THEN ${"1" + "0" * (3 * k - 3)}")
      .mkString(" ")
    s"""WITH jud AS ($judgmentsSql),
       mv AS (
         SELECT item, label AS vlabel FROM (
           SELECT item, label, row_number() OVER (
             PARTITION BY item ORDER BY count(*) DESC, label) AS rk
           FROM jud GROUP BY item, label)
         WHERE rk = 1),
       acc AS (
         SELECT j.rater,
                CAST(sum(CASE WHEN j.label = mv.vlabel THEN 1 ELSE 0 END)
                  AS BIGINT) * 1000 // count(*) AS p
         FROM jud j JOIN mv ON j.item = mv.item
         GROUP BY 1),
       pv AS (SELECT list(p ORDER BY rater) AS ps FROM acc),
       panels AS (
         SELECT s_mask,
                CAST(bit_count(CAST(s_mask AS BIGINT)) AS BIGINT) AS n_judges,
                CAST(list_sum(list_transform(range(0, 7), i ->
                  CASE WHEN ((s_mask >> i) % 2) = 1 THEN i + 1 ELSE 0 END))
                  AS BIGINT) AS cost,
                CAST(list_sum(list_transform(range(0, 128), m ->
                  CASE WHEN (m & ~s_mask) = 0
                        AND 2 * bit_count(CAST(m & s_mask AS BIGINT))
                            > bit_count(CAST(s_mask AS BIGINT)) THEN
                    list_reduce(list_prepend(CAST(1 AS HUGEINT),
                      list_transform(range(0, 7), i ->
                        CAST(CASE WHEN ((s_mask >> i) % 2) = 0 THEN 1
                             WHEN ((m >> i) % 2) = 1 THEN ps[i + 1]
                             ELSE 1000 - ps[i + 1] END AS HUGEINT))),
                      (a, b) -> a * b)
                  ELSE CAST(0 AS HUGEINT) END))
                  * 1000 // (CASE $divisor END) AS BIGINT) AS acc_micro
         FROM pv CROSS JOIN (SELECT unnest(range(1, 128)) AS s_mask)),
       tg AS (
         SELECT t.target_micro, p.*
         FROM panels p CROSS JOIN (SELECT unnest([CAST(700000 AS BIGINT),
           800000, 900000]) AS target_micro) t
         WHERE p.acc_micro >= t.target_micro),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY target_micro
           ORDER BY cost, n_judges, s_mask) AS rk
         FROM tg)
       SELECT target_micro, CAST(s_mask AS BIGINT) AS panel_mask,
              n_judges, cost, acc_micro
       FROM ranked WHERE rk = 1 ORDER BY target_micro"""
  }

  // ---------------------------------------------------------------
  // q490 — Rasch 1PL fit (PROX / normal approximation)
  // ---------------------------------------------------------------

  /** The complete-case binary response matrix shared by q484/q490/q491:
    * person = supplier, item = the 25 part brands, pass = mean shipped
    * quantity ≥ 26, restricted to persons who attempted all 25 items.
    * One fact-dim join + groupBy; the completeness semi-join shares the
    * aggregate exchange (see q484). */
  private def responses(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val resp = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey".as("sk"), $"p_brand".as("item"))
      .agg((sum($"l_quantity".cast("long")) >=
        lit(26L) * count(lit(1))).cast("long").as("x"))
    resp.join(resp.groupBy($"sk").agg(count(lit(1)).as("k"))
      .filter($"k" === 25).select($"sk"), Seq("sk"), "left_semi")
  }

  private val responsesSql: String =
    """WITH resp0 AS (
         SELECT l_suppkey AS sk, p_brand AS item,
                CAST(sum(CAST(l_quantity AS BIGINT))
                  >= 26 * count(*) AS BIGINT) AS x
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2),
       resp AS (
         SELECT r.* FROM resp0 r SEMI JOIN (
           SELECT sk FROM resp0 GROUP BY sk HAVING count(*) = 25) f
           ON r.sk = f.sk)"""

  /** Rasch 1PL fit via PROX (q490): the IRT counterpart of q482's
    * classical item analysis — item difficulties on a LOGIT scale,
    * where q482's raw pass rates conflate item hardness with panel
    * ability. PROX (the normal-approximation closed form): raw item
    * logits dᵢ = ln((n−sᵢ)/sᵢ) floored to micro-nats per item (the
    * q141 ln discipline — ln of an integer ratio, identical libm
    * operands both engines), centered on their integer mean; person
    * logits bₚ = ln(rₚ/(25−rₚ)) likewise; the spread-expansion factor
    * Y = √((1 + V_b/2.89)/(1 − V_b·V_d/8.35)) uses both micro-logit
    * variances from exact int64 moments and is applied as ONE
    * shared-IEEE tree per row. Degenerate items (everyone passes or
    * fails — infinite logit) emit no row rather than a clamp; the
    * person-variance side likewise drops perfect/zero scorers.
    *
    * Scale: everything after the response matrix (one fact-dim join +
    * groupBy, ≤|persons|·25 rows) is 25-row / |persons|-keyed
    * aggregate arithmetic; moments are exact int64 (micro² sums stay
    * < 2⁵³ at any panel the 25-item design admits). The panel count
    * `np` is a measured driver-side count on the checkpointed matrix
    * (one cheap distinct — the broadcastIfSmall proof pattern), inlined
    * as a literal so the per-item logit is a scalar expression rather
    * than a join against a 1-row relation. */
  def q490RaschProx(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val resp = responses(s, d).localCheckpoint()
    val np = resp.select($"sk").distinct().count() // action on checkpoint
    val items = resp.groupBy($"item").agg(sum($"x").as("si"))
      .filter($"si" > 0 && $"si" < np)
      .withColumn("d0",
        expr(s"CAST(floor(ln(($np - si) * 1.0 / si) * 1000000.0) AS BIGINT)"))
    val dstats = items.agg(count(lit(1)).as("ni"), sum($"d0").as("sd"),
      sum($"d0" * $"d0").as("sdd"))
    val persons = resp.groupBy($"sk").agg(sum($"x").as("r"))
      .filter($"r" > 0 && $"r" < 25)
      .withColumn("b0",
        expr("CAST(floor(ln(r * 1.0 / (25 - r)) * 1000000.0) AS BIGINT)"))
    val bstats = persons.agg(count(lit(1)).as("nb"), sum($"b0").as("sb"),
      sum($"b0" * $"b0").as("sbb"))
    // the mean logit can be NEGATIVE: `div` truncates toward zero while
    // DuckDB `//` floors — use the shared floor(·) tree on both sides
    items.crossJoin(broadcast(dstats)).crossJoin(broadcast(bstats))
      .select($"item", $"si",
        ($"d0" - expr("CAST(floor(sd * 1.0 / ni) AS BIGINT)"))
          .as("d_centered"),
        expr("""CAST(floor(
            (d0 - CAST(floor(sd * 1.0 / ni) AS BIGINT)) * sqrt(
              (1.0 + (CAST(nb AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)
                     / (CAST(nb AS DOUBLE) * nb) / 1e12 / 2.89)
              / (1.0 - (CAST(nb AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)
                       / (CAST(nb AS DOUBLE) * nb) / 1e12
                     * ((CAST(ni AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)
                        / (CAST(ni AS DOUBLE) * ni) / 1e12) / 8.35))
            ) AS BIGINT)""").as("difficulty_micro"))
      .orderBy($"item")
  }

  val q490Oracle: String =
    s"""$responsesSql,
       np AS (SELECT CAST(count(DISTINCT sk) AS BIGINT) AS np FROM resp),
       items AS (
         SELECT item, CAST(sum(x) AS BIGINT) AS si,
                CAST(floor(ln((np - sum(x)) * 1.0 / sum(x)) * 1000000.0)
                  AS BIGINT) AS d0
         FROM resp CROSS JOIN np
         GROUP BY item, np
         HAVING sum(x) > 0 AND sum(x) < np),
       dstats AS (
         SELECT CAST(count(*) AS BIGINT) AS ni, CAST(sum(d0) AS BIGINT) AS sd,
                CAST(sum(d0 * d0) AS BIGINT) AS sdd
         FROM items),
       persons AS (
         SELECT sk, CAST(sum(x) AS BIGINT) AS r,
                CAST(floor(ln(sum(x) * 1.0 / (25 - sum(x))) * 1000000.0)
                  AS BIGINT) AS b0
         FROM resp GROUP BY sk
         HAVING sum(x) > 0 AND sum(x) < 25),
       bstats AS (
         SELECT CAST(count(*) AS BIGINT) AS nb, CAST(sum(b0) AS BIGINT) AS sb,
                CAST(sum(b0 * b0) AS BIGINT) AS sbb
         FROM persons)
       SELECT item, si,
         d0 - CAST(floor(sd * 1.0 / ni) AS BIGINT) AS d_centered,
         CAST(floor(
           (d0 - CAST(floor(sd * 1.0 / ni) AS BIGINT)) * sqrt(
             (1.0 + (CAST(nb AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)
                    / (CAST(nb AS DOUBLE) * nb) / 1e12 / 2.89)
             / (1.0 - (CAST(nb AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)
                      / (CAST(nb AS DOUBLE) * nb) / 1e12
                    * ((CAST(ni AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)
                       / (CAST(ni AS DOUBLE) * ni) / 1e12) / 8.35))
           ) AS BIGINT) AS difficulty_micro
       FROM items CROSS JOIN dstats CROSS JOIN bstats
       ORDER BY item"""

  // ---------------------------------------------------------------
  // q491 — Rasch item-fit audit (outfit mean-squares)
  // ---------------------------------------------------------------

  /** Bucketed logistic table: P(x=1 | b − d = `diff` micro-logits) in
    * milli — a bounded CASE ladder standing in for 1/(1+e^(−diff)),
    * the q477 eloExpected discipline (exp() is libm-dependent; the
    * table is exact-integer and EXACTLY antisymmetric: p(z) + p(−z) =
    * 1000, so residuals are sign-symmetric). Cut points at ±{0.5, 1,
    * 1.5, 2, 3} logits with the true logistic's milli values. */
  private[graft] def logisticMilli(diff: String): String =
    s"""CASE WHEN ($diff) <= -3000000 THEN 47
             WHEN ($diff) <= -2000000 THEN 119
             WHEN ($diff) <= -1500000 THEN 182
             WHEN ($diff) <= -1000000 THEN 269
             WHEN ($diff) <=  -500000 THEN 378
             WHEN ($diff) <   0       THEN 439
             WHEN ($diff) =   0       THEN 500
             WHEN ($diff) <    500000 THEN 561
             WHEN ($diff) <   1000000 THEN 622
             WHEN ($diff) <   1500000 THEN 731
             WHEN ($diff) <   2000000 THEN 818
             WHEN ($diff) <   3000000 THEN 881
             ELSE 953 END"""

  /** Rasch item-fit audit (q491): which items MISFIT the 1PL model —
    * the question bank QA that follows any IRT calibration. Re-derives
    * q490's person abilities and item difficulties (raw centered
    * logits — the fit statistic is expansion-invariant in bucketed
    * form), scores every (person, item) response's expected pass
    * probability through the antisymmetric logistic table, and
    * aggregates the OUTFIT mean-square per item: mean of
    * z² = (x − p)²/(p(1−p)) — in milli, EXACT integers end to end
    * (z²_milli = (x·1000 − p)²·1000 div (p·(1000−p))). Items with
    * outfit > 1.5 flag `noisy` (unmodeled variance), < 0.5 `overfit`
    * (redundant), else `fit` — the standard 0.5/1.5 rule.
    *
    * Scale: one response-matrix pass joined against the 25-row item
    * relation and the person-logit relation (un-hinted equi-joins; AQE
    * broadcasts the 25-row side from stats); the output is ≤25 rows.
    * The wrong ("antisymmetric but uncentered") formulation would bias
    * every z² the same way — centering d0 on its integer-mean keeps
    * the table inputs aligned with q490's scale. */
  def q491RaschOutfit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val resp = responses(s, d).localCheckpoint()
    val np = resp.select($"sk").distinct().count()
    val items = resp.groupBy($"item").agg(sum($"x").as("si"))
      .filter($"si" > 0 && $"si" < np)
      .withColumn("d0",
        expr(s"CAST(floor(ln(($np - si) * 1.0 / si) * 1000000.0) AS BIGINT)"))
    // mean logit can be negative: shared floor tree (div would truncate)
    val dmean = items.agg(
      expr("CAST(floor(sum(d0) * 1.0 / count(1)) AS BIGINT)").as("dm"))
    val di = items.crossJoin(broadcast(dmean))
      .select($"item", ($"d0" - $"dm").as("dc"))
    val persons = resp.groupBy($"sk").agg(sum($"x").as("r"))
      .filter($"r" > 0 && $"r" < 25)
      .withColumn("b0",
        expr("CAST(floor(ln(r * 1.0 / (25 - r)) * 1000000.0) AS BIGINT)"))
      .select($"sk", $"b0")
    resp.join(persons, "sk").join(di, "item")
      .withColumn("p", expr(logisticMilli("b0 - dc")))
      .withColumn("z2",
        expr("(x * 1000 - p) * (x * 1000 - p) * 1000 div (p * (1000 - p))"))
      .groupBy($"item")
      .agg(count(lit(1)).as("n_persons"),
        expr("sum(z2) div count(1)").as("outfit_milli"))
      .select($"item", $"n_persons", $"outfit_milli",
        expr("""CASE WHEN outfit_milli > 1500 THEN 'noisy'
                     WHEN outfit_milli < 500 THEN 'overfit'
                     ELSE 'fit' END""").as("verdict"))
      .orderBy($"item")
  }

  val q491Oracle: String = {
    val p = logisticMilli("b0 - dc")
    s"""$responsesSql,
       np AS (SELECT CAST(count(DISTINCT sk) AS BIGINT) AS np FROM resp),
       items AS (
         SELECT item, CAST(sum(x) AS BIGINT) AS si,
                CAST(floor(ln((np - sum(x)) * 1.0 / sum(x)) * 1000000.0)
                  AS BIGINT) AS d0
         FROM resp CROSS JOIN np
         GROUP BY item, np
         HAVING sum(x) > 0 AND sum(x) < np),
       dmean AS (SELECT CAST(floor(sum(d0) * 1.0 / count(*)) AS BIGINT) AS dm
                 FROM items),
       di AS (SELECT item, d0 - dm AS dc FROM items CROSS JOIN dmean),
       persons AS (
         SELECT sk,
                CAST(floor(ln(sum(x) * 1.0 / (25 - sum(x))) * 1000000.0)
                  AS BIGINT) AS b0
         FROM resp GROUP BY sk
         HAVING sum(x) > 0 AND sum(x) < 25),
       scored AS (
         SELECT di.item,
                ((r.x * 1000 - $p) * (r.x * 1000 - $p) * 1000)
                  // (($p) * (1000 - ($p))) AS z2
         FROM resp r JOIN persons USING (sk) JOIN di USING (item))
       SELECT item, CAST(count(*) AS BIGINT) AS n_persons,
              CAST(sum(z2) AS BIGINT) // count(*) AS outfit_milli,
              CASE WHEN CAST(sum(z2) AS BIGINT) // count(*) > 1500 THEN 'noisy'
                   WHEN CAST(sum(z2) AS BIGINT) // count(*) < 500 THEN 'overfit'
                   ELSE 'fit' END AS verdict
       FROM scored GROUP BY item ORDER BY item"""
  }

  // ---------------------------------------------------------------
  // q492 — vote-margin re-labeling router
  // ---------------------------------------------------------------

  /** Re-labeling router (q492): which items should go back into the
    * labeling queue? The standard triage keys on the VOTE MARGIN — top
    * label count minus runner-up count within the item's panel: a
    * margin of 0–1 means the consensus hangs on one judgment. Output
    * is the (panel size × margin) grid with item counts and each
    * cell's routing verdict — `relabel` when the margin can flip on
    * one more judgment (margin ≤ 1), `audit` when it's thin relative
    * to the panel (margin ≤ panel/2), else `accept` — plus the share
    * of the corpus each cell holds in milli, which is the queue-sizing
    * number a labeling team actually budgets with.
    *
    * Scale: one judgment-relation pass to per-(item, label) cells; the
    * margin derives from an item-partitioned window over ≤3-row
    * groups; the output grid is bounded by (7 panels × 8 margins).
    * Exact integer throughout. */
  def q492RelabelRouter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val jud = judgmentsShared(s, d)
    val w = Window.partitionBy($"item").orderBy($"c".desc, $"label")
    val margins = jud.groupBy($"item", $"label").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
      .withColumn("c2",
        coalesce(lead($"c", 1).over(w), lit(0L)))
      // panel size sums over ALL the item's cells — before the top-row
      // filter, or it degenerates to the winning count
      .withColumn("n_raters", sum($"c").over(Window.partitionBy($"item")))
      .filter($"rk" === 1)
      .select($"item", $"n_raters", ($"c" - $"c2").as("margin"))
    val total = margins.agg(count(lit(1)).as("t"))
    margins.groupBy($"n_raters", $"margin")
      .agg(count(lit(1)).as("n_items"))
      .crossJoin(broadcast(total))
      .select($"n_raters", $"margin", $"n_items",
        expr("n_items * 1000 div t").as("share_milli"),
        expr("""CASE WHEN margin <= 1 THEN 'relabel'
                     WHEN 2 * margin <= n_raters THEN 'audit'
                     ELSE 'accept' END""").as("verdict"))
      .orderBy($"n_raters", $"margin")
  }

  val q492Oracle: String =
    s"""WITH jud AS ($judgmentsSql),
       cells AS (
         SELECT item, label, CAST(count(*) AS BIGINT) AS c
         FROM jud GROUP BY 1, 2),
       ranked AS (
         SELECT item, c,
                row_number() OVER (PARTITION BY item
                  ORDER BY c DESC, label) AS rk,
                coalesce(lead(c) OVER (PARTITION BY item
                  ORDER BY c DESC, label), 0) AS c2,
                CAST(sum(c) OVER (PARTITION BY item) AS BIGINT) AS n_raters
         FROM cells),
       margins AS (
         SELECT item, n_raters, c - c2 AS margin
         FROM ranked WHERE rk = 1),
       total AS (SELECT CAST(count(*) AS BIGINT) AS t FROM margins)
       SELECT n_raters, margin, CAST(count(*) AS BIGINT) AS n_items,
              CAST(count(*) AS BIGINT) * 1000 // t AS share_milli,
              CASE WHEN margin <= 1 THEN 'relabel'
                   WHEN 2 * margin <= n_raters THEN 'audit'
                   ELSE 'accept' END AS verdict
       FROM margins CROSS JOIN total
       GROUP BY n_raters, margin, t ORDER BY n_raters, margin"""

  // ---------------------------------------------------------------
  // q493 — agreement drift monitor (monthly Fleiss' kappa trend)
  // ---------------------------------------------------------------

  /** Agreement-drift monitor (q493): q478's single κ says whether the
    * panel agrees; labeling teams watch whether agreement is
    * DEGRADING — the leading indicator of guideline rot or rater
    * churn. Items bucket by their order month; each month's fixed
    * 3-rater panel gets its own exact Fleiss' κ (the q478 rational,
    * keyed by month: κ = (3NA − 2B)/(18N² − 2B) with per-month
    * A = S − 3N and B = Σ T_l²), and each month carries its
    * month-over-month delta — the alerting number. Months with < 10
    * panel items emit NULL κ (too small to read) rather than noise.
    *
    * Scale: the month key rides the judgment groupBy (one fact pass +
    * one orders equi-join, un-hinted); every aggregate after the
    * per-(month, item, label) cells is keyed by the bounded month
    * domain; the MoM window is month-ordered over the bounded month
    * relation. Exact int64 sufficient statistics per month; κ via the
    * shared-IEEE floor (negative-capable).
    *
    * r14 rewrite (was QTime 2.21 s / 15 jobs, static plan 16 scans):
    * the old (item, rater) groupBy partitioning satisfied NOTHING
    * downstream — the panel semi-join re-exchanged the fact and both
    * monthly branches re-ran the whole jud⋈orders subtree. Now one
    * repartition(item) up front serves every aggregate by subset
    * partitioning (item ⊆ each group key; the broadcast orders join
    * preserves it), and the panel filter is a HAVING on the per-item
    * aggregate instead of a self-join (nr = Σ_label nil counts the
    * same jud rows). The two monthly branches fan out on the per-item
    * relation and re-run only the post-exchange aggregates — the
    * repartition exchange itself is reused, and a checkpoint at the
    * fan-out A/B'd a wash (0.94 s/11 jobs vs 1.02 s/10 jobs,
    * PLANS.md r14), so the estate stays frozen. */
  def q493AgreementDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, d)
      .select($"l_orderkey".as("item"), ($"l_suppkey" % 7).as("rater"),
        $"l_returnflag".as("rf"))
      .repartition($"item")
      .groupBy($"item", $"rater").agg(min($"rf").as("label"))
      .join(Tables.orders(s, d).select($"o_orderkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).as("m")),
        $"item" === $"o_orderkey")
      .groupBy($"m", $"item", $"label").agg(count(lit(1)).as("nil"))
      .groupBy($"m", $"item").agg(sum($"nil").as("nr"),
        sum($"nil" * $"nil").as("s2"),
        collect_list(struct($"label", $"nil")).as("cl"))
      .filter($"nr" === 3)
      
    val perItem = items
      .groupBy($"m").agg(count(lit(1)).as("n_items"), sum($"s2").as("s"))
    val perLabel = items
      .select($"m", explode($"cl").as("e"))
      .groupBy($"m", $"e.label").agg(sum($"e.nil").as("tl"))
      .groupBy($"m").agg(sum($"tl" * $"tl").as("b"))
    val monthly = perItem.join(perLabel, "m")
      .select($"m", $"n_items",
        (($"s") - lit(3L) * $"n_items").as("a"), $"b")
      .select($"m", $"n_items",
        // second NULL arm: a month where ONE label carries every vote
        // has P̄e = 1 and a 0/0 κ — NaN casts differently across
        // engines, so the degenerate month is a sentinel, not a cast
        expr("""CASE WHEN n_items < 10
                  OR 9 * n_items * n_items = b THEN NULL ELSE CAST(floor(
            (CAST(3 * n_items * a AS DOUBLE) - 2 * CAST(b AS DOUBLE))
            / (18 * CAST(n_items AS DOUBLE) * n_items
               - 2 * CAST(b AS DOUBLE))
            * 10000.0) AS BIGINT) END""").as("kappa_bp"))
    monthly
      .withColumn("mom_delta_bp",
        $"kappa_bp" - lag($"kappa_bp", 1).over(Window.orderBy($"m")))
      .orderBy($"m")
  }

  val q493Oracle: String =
    """WITH jud AS (
         SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
                j.item, j.rater, j.label
         FROM (SELECT l_orderkey AS item, l_suppkey % 7 AS rater,
                      min(l_returnflag) AS label
               FROM lineitem GROUP BY 1, 2) j
         JOIN orders ON o_orderkey = j.item),
       pan AS (SELECT item FROM jud GROUP BY item HAVING count(*) = 3),
       cells AS (
         SELECT j.m, j.item, j.label, CAST(count(*) AS BIGINT) AS nil
         FROM jud j SEMI JOIN pan ON j.item = pan.item
         GROUP BY 1, 2, 3),
       pi AS (
         SELECT m, CAST(count(*) AS BIGINT) AS n_items,
                CAST(sum(s2) AS BIGINT) AS s
         FROM (SELECT m, item, sum(nil * nil) AS s2 FROM cells GROUP BY 1, 2)
         GROUP BY m),
       pl AS (
         SELECT m, CAST(sum(tl * tl) AS BIGINT) AS b
         FROM (SELECT m, label, sum(nil) AS tl FROM cells GROUP BY 1, 2)
         GROUP BY m),
       monthly AS (
         SELECT pi.m, pi.n_items,
                CASE WHEN pi.n_items < 10
                  OR 9 * pi.n_items * pi.n_items = pl.b THEN NULL ELSE CAST(floor(
                  (CAST(3 * pi.n_items * (pi.s - 3 * pi.n_items) AS DOUBLE)
                     - 2 * CAST(pl.b AS DOUBLE))
                  / (18 * CAST(pi.n_items AS DOUBLE) * pi.n_items
                     - 2 * CAST(pl.b AS DOUBLE))
                  * 10000.0) AS BIGINT) END AS kappa_bp
         FROM pi JOIN pl ON pi.m = pl.m)
       SELECT m, n_items, kappa_bp,
              kappa_bp - lag(kappa_bp) OVER (ORDER BY m) AS mom_delta_bp
       FROM monthly ORDER BY m"""

  // ---------------------------------------------------------------
  // q494/q495 — Dawid–Skene soft-EM: per-rater confusion matrices
  // ---------------------------------------------------------------

  /** Soft-EM Dawid–Skene over a (item, rater, label) relation — the
    * full-model upgrade of q480's hard-EM (VERDICT r11 ask #4): instead
    * of one scalar accuracy per rater, estimate each rater's CONFUSION
    * MATRIX θ_r[g][l] = P(rater says l | true class g) and carry SOFT
    * posteriors between iterations, so a systematically-biased rater
    * (high raw accuracy, asymmetric errors) is discounted exactly on
    * the labels they confuse rather than uniformly. Fixed 2 EM rounds:
    *
    *   init: majority vote (ties → lexicographically-smaller label).
    *   M1:   hard confusion counts vs the vote; Laplace-smoothed
    *         θ¹_centi = ((cnt+1)·100) div (tot_g + L); class prior
    *         π¹_centi = ((votes_g+1)·100) div (N + L).
    *   E1:   posterior score(i,g) = π¹_g · Π_{r∈raters(i)} θ¹_r[g][l_ir]
    *         — an EXACT integer product of ≤9 CENTI factors (panel ≤7
    *         by construction), ≤100⁹ = 10¹⁸ < 2⁶³, pure int64 on both
    *         engines; normalized per item to post¹_micro = score·10⁶
    *         div Σ_g score (the one DECIMAL(38,0)/HUGEINT hop — the
    *         ·10⁶ intermediate passes int64).
    *   M2:   SOFT confusion in micro-items: sconf_r[g][l] = Σ_i post¹;
    *         θ²_milli = ((sconf+10⁶)·1000) div (stot_g + L·10⁶) (the
    *         REPORTED matrices keep milli resolution); soft prior π²
    *         analogously from the per-class posterior mass.
    *   E2:   final posterior from θ²_centi = θ²_milli div 10 (exactly
    *         ((sconf+10⁶)·100) div (stot+L·10⁶) by the nested-floor
    *         identity floor(floor(n/p)/q) = floor(n/(pq))) + argmax
    *         label (ties → smaller label).
    *
    * E-step factors are CENTI so the per-item fold is pure int64.
    * Quantization is a design constant of the statistic, applied
    * identically in both engines; the reported θ² stays milli. All
    * divisions are non-negative floors (truncation agrees); the sums
    * are commutative-exact so collect order is irrelevant; nothing
    * float touches the fit.
    *
    * Shape: two passes over the judgments, each one exchange by item
    * ([[evidence]]), per-item hash aggregates on it, a shuffled hash
    * join of the per-item result back to the judgments on the same
    * partitioning, and one model-sized hash aggregate whose
    * ≤ |raters|·L² cells the driver collects; the driver does the
    * M-steps' arithmetic.
    *   pass 1 (init + M1 counts): the vote as a max over packed
    *     (count, label order key) longs ([[voteKey]]), each judgment
    *     re-keyed by its item's vote into (rater, vote, label) counts;
    *     the vote per class counts each item once, at its smallest
    *     rater. The ≤ 8 ceiling fails this pass, bound named.
    *   pass 2 (E1 + M2 sums): θ¹ joins the judgments as a broadcast
    *     |raters|·L-row local relation of class-factor columns, L exact
    *     int64 product aggregates per item
    *     ([[graft.functions.LongProduct]]) and the normalization
    *     ([[withPosterior]]) give post¹, and the join back sums it per
    *     (rater, label, class), and once per item for the class mass.
    * No window, no sort, no collected array, no higher-order-function
    * lambda: every aggregate is a HashAggregate over fixed-width
    * buffers inside whole-stage codegen. The fitted [[DsModel]] holds
    * ≤ |raters|·L² numbers and nothing data-sized; E2 ([[labelsFrom]])
    * is one more pass, run only by the queries that report per-item
    * labels. Soft counts stay int64 below ~9·10¹² judgments
    * (10⁶-scaled); panels beyond 8 judgments would need a DECIMAL
    * product (100¹⁰ > 2⁶³, and 9 θ-factors plus the prior is the int64
    * ceiling) — both swaps documented here deliberately. */
  private def dsSoftFit(jud: DataFrame): DsModel = {
    val s = jud.sparkSession
    import s.implicits._
    val j = evidence(jud)
    // pass 1: the vote per item, each judgment re-keyed by it; n_first
    // counts an item once, at its smallest rater
    val votes = j.groupBy($"item", $"lk")
      .agg(count(lit(1)).as("c"), min($"rater").as("r0"))
      .groupBy($"item")
      .agg(max(voteKey($"c", $"lk")).as("m"), sum($"c").as("k"), min($"r0").as("r0"))
      .select($"item", $"r0",
        when($"k" > DsMaxPanel, raise_error(concat(
          lit(s"soft-EM int64 E-step supports panels of <= $DsMaxPanel judgments/item, got "),
          $"k".cast("string"),
          lit(" — swap the E-step product to DECIMAL(38,0) past this bound (see scaladoc)"))))
          .otherwise(voteOf($"m")).as("g"))
    val m1 = collectModel(j.join(votes.hint("shuffle_hash"), "item")
      .groupBy($"rater", $"g", $"lk")
      .agg(count(lit(1)).as("cnt"), sum(($"rater" === $"r0").cast("long")).as("n_first")),
      "vote cells")
    // order keys sort as their labels do
    val keys = m1.map(_.getLong(2)).distinct.sorted.toIndexedSeq
    val raters = m1.map(_.getLong(0)).distinct.sorted.toIndexedSeq
    val (nl, nr) = (keys.length, raters.length)
    val lpos = keys.zipWithIndex.toMap
    val rpos = raters.zipWithIndex.toMap
    // M1 on the driver: cnt((r·L + g)·L + l), votes per class
    val cnt = new Array[Long](nr * nl * nl)
    val nv = new Array[Long](nl)
    m1.foreach { row =>
      val (r, g, l) = (rpos(row.getLong(0)), lpos(row.getLong(1)), lpos(row.getLong(2)))
      cnt((r * nl + g) * nl + l) = row.getLong(3)
      nv(g) += row.getLong(4)
    }
    val prior1 = nv.toIndexedSeq.map(smoothed(_, total(nv), 1L, nl, 100L))
    val f1 = factorRelation(s, raters, keys, (r, l, g) => {
      val row = (r * nl + g) * nl
      smoothed(cnt(row + l), total(cnt.slice(row, row + nl)), 1L, nl, 100L)
    })
    // pass 2: E1 per item, its posterior spread over its judgments
    val post = withPosterior(j.join(broadcast(f1), Seq("rater", "lk"))
      .groupBy($"item")
      .agg(min($"rater").as("r0"), products(nl, "f", "q"): _*), Seq("item", "r0"), prior1, "q")
      .select(Seq($"item", $"r0") ++ (0 until nl).map(g => $"post".getItem(g).as(s"p$g")): _*)
    val m2 = collectModel(j.join(post.hint("shuffle_hash"), "item")
      .groupBy($"rater", $"lk")
      .agg(count(lit(1)).as("n"), (0 until nl).flatMap(g => Seq(sum(col(s"p$g")),
        sum(when($"rater" === $"r0", col(s"p$g"))))): _*),
      "soft cells")
    // M2 on the driver: soft sums sc((r·L + l)·L + g) (None: no
    // posterior reached the cell), judgment counts per (r, l), class mass
    val sc = Array.fill[Option[Long]](nr * nl * nl)(None)
    val nj = new Array[Long](nr * nl)
    val mass = Array.fill[Option[Long]](nl)(None)
    m2.foreach { row =>
      val code = rpos(row.getLong(0)) * nl + lpos(row.getLong(1))
      nj(code) = row.getLong(2)
      for (g <- 0 until nl) {
        if (!row.isNullAt(3 + 2 * g)) sc(code * nl + g) = Some(row.getLong(3 + 2 * g))
        if (!row.isNullAt(4 + 2 * g))
          mass(g) = Some(Math.addExact(mass(g).getOrElse(0L), row.getLong(4 + 2 * g)))
      }
    }
    def sconf(r: Int, g: Int, l: Int): Option[Long] = sc((r * nl + l) * nl + g)
    val theta2 = IndexedSeq.tabulate(nr * nl * nl) { i =>
      val (r, g, l) = (i / (nl * nl), i / nl % nl, i % nl)
      smoothed(sconf(r, g, l).getOrElse(0L),
        total((0 until nl).flatMap(sconf(r, g, _))), Micro, nl, 1000L)
    }
    val prior2 = mass.toIndexedSeq.map(m =>
      smoothed(m.getOrElse(0L), total(mass.flatten), Micro, nl, 100L))
    val agree = IndexedSeq.tabulate(nr) { r =>
      val own = (0 until nl).flatMap(l => sconf(r, l, l))
      (total(nj.slice(r * nl, r * nl + nl)), if (own.isEmpty) None else Some(total(own)))
    }
    DsModel(jud.schema("rater").dataType, raters, keys, theta2, prior2, agree)
  }

  /** The ≤ 8-judgments-per-item ceiling of the int64 E-step (see
    * [[dsSoftFit]]). */
  private val DsMaxPanel = 8
  private val Micro = 1000000L

  /** Cap on the cells one fit pass collects: |raters|·L² vote cells,
    * then |raters|·L soft cells. */
  private val DsMaxModelCells = 1 << 16

  private def collectModel(df: DataFrame, what: String): Array[Row] = {
    val rows = df.limit(DsMaxModelCells + 1).collect()
    require(rows.length <= DsMaxModelCells,
      s"soft-EM $what: more than DsMaxModelCells = $DsMaxModelCells cells; " +
        "the fit keeps |raters|·L² cells on the driver")
    rows
  }

  /** The fit's evidence: judgments that carry a rater and a label, as
    * (item, rater: bigint, lk: the label's order key), repartitioned by
    * item. Every per-item aggregate of a pass and its join back to the
    * judgments then read this one exchange (reused), with no further
    * shuffle of the judgments, and every key is fixed-width. Labels
    * are strings of ≤ 7 UTF-8 bytes ([[OrderKey]]; a longer one fails,
    * bound named). Dawid–Skene reads one label per (item, rater), as
    * the shared judgments hold by construction. */
  private def evidence(jud: DataFrame): DataFrame = {
    val s = jud.sparkSession
    import s.implicits._
    require(jud.schema("label").dataType == StringType,
      s"soft-EM labels must be strings, got ${jud.schema("label").dataType.sql}")
    jud.select($"item", $"rater".cast("long").as("rater"), order_key($"label").as("lk"))
      .filter($"rater".isNotNull && $"lk".isNotNull)
      .repartition($"item")
  }

  /** A label group's vote key: its count above its label's order key
    * `lk`, inverted so that `max` picks the largest count and, among
    * equal counts, the smaller label — the hash-aggregatable form of
    * (count desc, label asc). Exact for counts below 16 (the ≤ 8 panel
    * bound); [[voteOf]] reads the winner's order key back. */
  private def voteKey(c: Column, lk: Column): Column =
    shiftleft(c, OrderKey.Bits).bitwiseOR(lit(OrderKey.Mask) - lk)

  private def voteOf(m: Column): Column =
    lit(OrderKey.Mask) - m.bitwiseAND(lit(OrderKey.Mask))

  /** One exact int64 product `<to>g` per class g of the factor columns
    * `<from>g` (see [[graft.functions.LongProduct]]). */
  private def products(nl: Int, from: String, to: String): Seq[Column] =
    (0 until nl).map(g => long_product(col(s"$from$g")).as(s"$to$g"))

  /** The E-step's normalization of `df`'s class products `<q>g`,
    * keeping columns `keep`: scores s_g = prior_g · q_g (int64,
    * overflow fails), `post` — the array of s_g·10⁶ div Σ s
    * ([[graft.functions.MicroShare]], the oracle's HUGEINT hop), all
    * NULL when Σ s = 0 (the sentinel of both engines) — and `top`, the
    * 1-based first position of the largest score: the (score desc,
    * label asc) argmax on the sorted label axis. An empty axis (no
    * judgment) gives an empty `post` and a NULL `top`. */
  private def withPosterior(df: DataFrame, keep: Seq[String], prior: IndexedSeq[Long],
      q: String): DataFrame = {
    val sg = prior.indices.map(g => col(s"s$g"))
    df.select(keep.map(col) ++ prior.indices.map(g => (lit(prior(g)) * col(s"$q$g")).as(s"s$g")): _*)
      .withColumn("ssum", sg.foldLeft(lit(0L))(_ + _))
      .select(keep.map(col) ++ Seq(
        array(sg.map(micro_share(_, col("ssum"))): _*).cast("array<bigint>").as("post"),
        (if (sg.isEmpty) lit(null)
         else array_position(array(sg: _*), array_max(array(sg: _*)))).cast("int").as("top")): _*)
  }

  /** A local relation of each (rater, label) cell's class factors:
    * (rater, lk, f0 … f(L−1)) with f_g = `f`(rater index, label
    * position, g), labels by order key. */
  private def factorRelation(s: SparkSession, raters: IndexedSeq[Long],
      keys: IndexedSeq[Long], f: (Int, Int, Int) => Long): DataFrame =
    s.createDataFrame((for (r <- raters.indices; l <- keys.indices) yield
      Row.fromSeq(Seq(raters(r), keys(l)) ++ keys.indices.map(f(r, l, _)))).asJava,
      StructType(Seq(StructField("rater", LongType), StructField("lk", LongType)) ++
        keys.indices.map(g => StructField(s"f$g", LongType))))

  /** Laplace-smoothed share ((x + u)·scale) div (tot + L·u): every θ
    * and π of the fit, u = 1 for counts and 10⁶ for posterior sums in
    * micro-items. int64; an overflow fails, like ANSI arithmetic. */
  private def smoothed(x: Long, tot: Long, u: Long, nl: Int, scale: Long): Long =
    Math.multiplyExact(Math.addExact(x, u), scale) /
      Math.addExact(tot, Math.multiplyExact(nl.toLong, u))

  private def total(xs: Iterable[Long]): Long = xs.foldLeft(0L)(Math.addExact)

  /** A fitted soft-EM model — every θ and π, ≤ |raters|·L² numbers: the
    * sorted rater and label axes (labels as order keys), θ² in milli at
    * ((r·L + g)·L + l), the soft prior π² in centi, and per rater its
    * judgment count and the posterior mass on its own labels (None: no
    * posterior reached them). Fit once per (session, dataset dir) for
    * q494–q496. */
  private case class DsModel(raterType: DataType, raters: IndexedSeq[Long],
      keys: IndexedSeq[Long], theta2Milli: IndexedSeq[Long],
      prior2: IndexedSeq[Long], agree: IndexedSeq[(Long, Option[Long])]) {
    val labels: IndexedSeq[String] = keys.map(OrderKey.decode(_).toString)
    def nl: Int = keys.length
    def theta2(r: Int, g: Int, l: Int): Long = theta2Milli((r * nl + g) * nl + l)
  }

  /** Session-scoped soft-EM model cache (VERDICT r12 ask #5): q494,
    * q495 and q496 are three REPORTS off ONE fitted model, memoized per
    * (session, dataset dir). It holds the model only — driver-side
    * numbers, no checkpoint — on top of the shared judgments it was fit
    * from. Crafted-relation entry points ([[dawidSkeneSoftConfusion]]
    * etc.) bypass the cache. The map stays tiny (sessions × SF dirs)
    * and a stopped session's entries are dropped lazily on next
    * access. */
  private val dsSoftCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DsModel]
  private def dsSoftFor(s: SparkSession, d: String): DsModel = {
    dsSoftCache.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped }
    dsSoftCache.getOrElseUpdate((s, d), dsSoftFit(judgmentsShared(s, d)))
  }

  /** `rows` of `schema` as a local relation, rater in the model's
    * rater type. */
  private def local(s: SparkSession, m: DsModel, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(rows.asJava, schema)
      .withColumn("rater", col("rater").cast(m.raterType))

  /** Round-2 confusion matrices of a fitted model, in q494's output
    * shape, sorted. */
  private def confusionFrom(s: SparkSession, m: DsModel): DataFrame =
    local(s, m, for (r <- m.raters.indices; g <- m.labels.indices; l <- m.labels.indices)
      yield Row(m.raters(r), m.labels(g), m.labels(l), m.theta2(r, g, l)),
      StructType(Seq(StructField("rater", LongType), StructField("true_label", StringType),
        StructField("said_label", StringType), StructField("theta2_milli", LongType))))

  /** Round-2 confusion matrices for a crafted or real judgment
    * relation, in q494's output shape. */
  def dawidSkeneSoftConfusion(jud: DataFrame): DataFrame =
    confusionFrom(jud.sparkSession, dsSoftFit(jud))

  /** q494: the soft-EM confusion matrices themselves — per (rater,
    * true-class, said-label) the round-2 Laplace-smoothed θ² in milli.
    * |raters|·L² rows (63 here); the artifact a labeling op reads to
    * see WHICH labels a rater confuses, not just how often they are
    * wrong. Scale: see [[dsSoftFit]]. */
  def q494DawidSkeneSoftConfusion(s: SparkSession, d: String): DataFrame =
    confusionFrom(s, dsSoftFor(s, d))

  /** Item-level soft-EM labels: (item, mv_label, ds_label, post_micro)
    * — the majority vote next to the confusion-aware posterior argmax.
    * Exposed for crafted-matrix tests (the biased-rater flip case);
    * q495 aggregates it into the transition matrix. */
  def dawidSkeneSoftLabels(jud: DataFrame): DataFrame =
    labelsFrom(jud, dsSoftFit(jud))

  /** E2 over `jud` with a fitted model: one more pass of the fit's
    * shape — per (item, label) the count and the class products of the
    * θ²_centi (θ²_milli div 10) factors, per item the vote and the
    * products times π² — then the argmax on the raw scores (ties →
    * smaller label) and the winner's posterior (NULL when every class
    * score is 0, the E1 sentinel). */
  private def labelsFrom(jud: DataFrame, m: DsModel): DataFrame = {
    val s = jud.sparkSession
    import s.implicits._
    val nl = m.nl
    val f2 = factorRelation(s, m.raters, m.keys, (r, l, g) => m.theta2(r, g, l) / 10)
    withPosterior(evidence(jud).join(broadcast(f2), Seq("rater", "lk"))
      .groupBy($"item", $"lk")
      .agg(count(lit(1)).as("c"), products(nl, "f", "q"): _*)
      .groupBy($"item")
      .agg(max(voteKey($"c", $"lk")).as("m"), products(nl, "q", "q"): _*)
      .withColumn("mv_label", order_key_string(voteOf($"m"))), Seq("item", "mv_label"), m.prior2, "q")
      .select($"item", $"mv_label",
        element_at(typedLit(m.labels), $"top").as("ds_label"),
        element_at($"post", $"top").as("post_micro"))
  }

  /** q495: what the confusion-aware model CHANGES — final posterior
    * labels after E2 vs the plain majority vote, grouped into a
    * (mv_label, ds_label) transition matrix with the posterior mass
    * that moved. Off-diagonal rows are items where modeling WHO erred
    * (and on which labels) overturns the crowd. Scale: the E2 pass
    * repeats the fit's panel shape; everything after it is
    * ≤L²-row arithmetic. */
  def q495DawidSkeneSoftFlips(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    labelsFrom(judgmentsShared(s, d), dsSoftFor(s, d))
      .groupBy($"mv_label", $"ds_label")
      // n_post counts items that CARRY a posterior (the ssum=0 NULL
      // sentinel yields post_micro NULL — ADVICE r13: without the
      // separate count, the sanity floor divides posterior mass by
      // sentinel items that contributed none of it)
      .agg(count(lit(1)).as("n_items"), count($"post_micro").as("n_post"),
        sum($"post_micro").as("sum_post_micro"))
      .orderBy($"mv_label", $"ds_label")
  }

  /** Shared CTE prefix for the q494/q495 oracles — the same 2-round
    * centi-quantized soft-EM in DuckDB: BIGINT products via
    * list_reduce (≤100⁹ < 2⁶³), HUGEINT only for the ·10⁶ posterior
    * normalization, θ² reported in milli exactly like the Spark side. */
  private val dsSoftSql: String =
    s"""WITH jud AS ($judgmentsSql),
       lab AS (SELECT DISTINCT label AS g FROM jud),
       nl AS (SELECT CAST(count(*) AS BIGINT) AS lcnt FROM lab),
       cells AS (SELECT item, label, CAST(count(*) AS BIGINT) AS c
                 FROM jud GROUP BY 1, 2),
       mv AS (
         SELECT item, label AS vlabel FROM (
           SELECT item, label, row_number() OVER (
             PARTITION BY item ORDER BY c DESC, label) AS rk FROM cells)
         WHERE rk = 1),
       nit AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM mv),
       conf0 AS (
         SELECT j.rater, m.vlabel AS g, j.label AS l,
                CAST(count(*) AS BIGINT) AS cnt
         FROM jud j JOIN mv m ON j.item = m.item GROUP BY 1, 2, 3),
       tot0 AS (SELECT rater, g, CAST(sum(cnt) AS BIGINT) AS tot
                FROM conf0 GROUP BY 1, 2),
       grid AS (SELECT r.rater, lg.g, ll.l
                FROM (SELECT DISTINCT rater FROM jud) r
                CROSS JOIN lab lg
                CROSS JOIN (SELECT DISTINCT label AS l FROM jud) ll),
       theta1 AS (
         SELECT gr.rater, gr.g, gr.l,
                ((coalesce(c.cnt, 0) + 1) * 100)
                  // (coalesce(t.tot, 0) + (SELECT lcnt FROM nl)) AS th
         FROM grid gr
         LEFT JOIN conf0 c ON c.rater = gr.rater AND c.g = gr.g AND c.l = gr.l
         LEFT JOIN tot0 t ON t.rater = gr.rater AND t.g = gr.g),
       pri1 AS (
         SELECT lg.g, ((coalesce(v.c, 0) + 1) * 100)
                  // ((SELECT n_items FROM nit) + (SELECT lcnt FROM nl)) AS pri
         FROM lab lg LEFT JOIN (
           SELECT vlabel, CAST(count(*) AS BIGINT) AS c FROM mv GROUP BY 1) v
         ON v.vlabel = lg.g),
       score1 AS (
         SELECT e.item, e.g,
                p.pri * list_reduce(list_prepend(1::BIGINT, list(e.th)),
                                    (a, b) -> a * b) AS sc
         FROM (SELECT j.item, t1.g, t1.th
               FROM jud j JOIN theta1 t1
               ON t1.rater = j.rater AND t1.l = j.label) e
         JOIN pri1 p ON p.g = e.g GROUP BY e.item, e.g, p.pri),
       post1 AS (
         SELECT item, g,
                CASE WHEN sum(sc) OVER (PARTITION BY item) = 0 THEN NULL
                ELSE CAST(CAST(sc AS HUGEINT) * 1000000
                  // (sum(sc) OVER (PARTITION BY item)) AS BIGINT) END AS p
         FROM score1),
       sconf AS (
         SELECT j.rater, p.g, j.label AS l, CAST(sum(p.p) AS BIGINT) AS sc
         FROM jud j JOIN post1 p ON p.item = j.item GROUP BY 1, 2, 3),
       stot AS (SELECT rater, g, CAST(sum(sc) AS BIGINT) AS st
                FROM sconf GROUP BY 1, 2),
       theta2 AS (
         SELECT gr.rater, gr.g, gr.l,
                ((coalesce(s.sc, 0) + 1000000) * 1000)
                  // (coalesce(t.st, 0)
                     + (SELECT lcnt FROM nl) * 1000000) AS theta2_milli
         FROM grid gr
         LEFT JOIN sconf s ON s.rater = gr.rater AND s.g = gr.g AND s.l = gr.l
         LEFT JOIN stot t ON t.rater = gr.rater AND t.g = gr.g)"""

  val q494Oracle: String = dsSoftSql + """
       SELECT rater, g AS true_label, l AS said_label, theta2_milli
       FROM theta2 ORDER BY 1, 2, 3"""

  val q495Oracle: String = dsSoftSql + """,
       pri2 AS (
         SELECT lg.g, ((coalesce(sp.s, 0) + 1000000) * 100)
                  // ((SELECT CAST(sum(p) AS BIGINT) FROM post1)
                     + (SELECT lcnt FROM nl) * 1000000) AS pri
         FROM lab lg LEFT JOIN (
           SELECT g, CAST(sum(p) AS BIGINT) AS s FROM post1 GROUP BY 1) sp
         ON sp.g = lg.g),
       score2 AS (
         SELECT e.item, e.g,
                p.pri * list_reduce(list_prepend(1::BIGINT, list(e.th)),
                                    (a, b) -> a * b) AS sc
         FROM (SELECT j.item, t2.g, t2.theta2_milli // 10 AS th
               FROM jud j JOIN theta2 t2
               ON t2.rater = j.rater AND t2.l = j.label) e
         JOIN pri2 p ON p.g = e.g GROUP BY e.item, e.g, p.pri),
       post2 AS (
         SELECT item, g,
                CASE WHEN sum(sc) OVER (PARTITION BY item) = 0 THEN NULL
                ELSE CAST(CAST(sc AS HUGEINT) * 1000000
                  // (sum(sc) OVER (PARTITION BY item)) AS BIGINT) END AS p,
                row_number() OVER (PARTITION BY item ORDER BY sc DESC, g) AS rk
         FROM score2),
       final AS (SELECT item, g AS ds_label, p AS post_micro
                 FROM post2 WHERE rk = 1)
       SELECT m.vlabel AS mv_label, f.ds_label,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(count(f.post_micro) AS BIGINT) AS n_post,
              CAST(sum(f.post_micro) AS BIGINT) AS sum_post_micro
       FROM final f JOIN mv m ON m.item = f.item
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------
  // q496 — soft-EM rater report (posterior agreement + θ² diagonal)
  // ---------------------------------------------------------------

  /** Per-rater report from the soft model (q496) — the leaderboard a
    * labeling operation actually reads after fitting q494/q495:
    *
    *  - `agree_micro`: mean posterior mass the model assigns to the
    *    rater's OWN labels (Σ post¹(g = label) div n) — soft-expected
    *    accuracy, crediting partial posterior mass where the hard
    *    accuracy of q480 scores 0/1 against a single vote;
    *  - `diag_milli`: mean θ² diagonal — the rater's self-consistency
    *    under the fitted confusion model (a spammer's collapsed column
    *    drags the off-class diagonal down even when raw agreement with
    *    an imbalanced crowd looks fine).
    *
    * Scale: read off the fitted model — the agreement mass is the
    * diagonal of pass 2's soft sums (Σ_l sconf_r[l][l] over the rater's
    * n judgments), the diagonal mean is L θ² cells; |raters| rows of
    * driver arithmetic, no pass over the judgments. All integer. */
  def dawidSkeneRaterReport(jud: DataFrame): DataFrame =
    reportFrom(jud.sparkSession, dsSoftFit(jud))

  private def reportFrom(s: SparkSession, m: DsModel): DataFrame =
    local(s, m, m.raters.indices.map { r =>
      val (n, own) = m.agree(r)
      Row(m.raters(r), n, own.map(_ / n).orNull,
        total(m.labels.indices.map(g => m.theta2(r, g, g))) / m.nl)
    }, StructType(Seq(StructField("rater", LongType), StructField("n_judgments", LongType),
      StructField("agree_micro", LongType), StructField("diag_milli", LongType))))

  def q496DsRaterReport(s: SparkSession, d: String): DataFrame =
    reportFrom(s, dsSoftFor(s, d))

  val q496Oracle: String = dsSoftSql + """,
       agree AS (
         SELECT j.rater, CAST(count(*) AS BIGINT) AS n_judgments,
                CAST(sum(p.p) AS BIGINT) AS sum_agree
         FROM jud j JOIN post1 p ON p.item = j.item AND p.g = j.label
         GROUP BY 1),
       diag AS (
         SELECT rater, CAST(sum(theta2_milli) AS BIGINT)
                // (SELECT lcnt FROM nl) AS diag_milli
         FROM theta2 WHERE g = l GROUP BY 1)
       SELECT a.rater, a.n_judgments,
              a.sum_agree // a.n_judgments AS agree_micro,
              d.diag_milli
       FROM agree a JOIN diag d ON d.rater = a.rater
       ORDER BY a.rater"""

  /** The module's queries with their oracle twins and value-sanity
    * contracts. The hooks (VERDICT r11 ask #7) are magnitude/range
    * invariants the oracle hash-compare is blind to (a shared-algebra
    * bug passes the hash — q489's 1000× slip did). Run by `Verify` on
    * the written parquet.
    *
    * Tightness honesty (ADVICE r12): most bounds are
    * mathematically-certain at any scale factor (probabilities in
    * their defined ranges), but two are DISTRIBUTIONAL and documented
    * as such — Krippendorff's α is unbounded below in theory (extreme
    * label imbalance; the −3 floor here covers any corpus this engine
    * targets and every tested SF). q495's posterior-mean floor is
    * 10⁶/L for the winning class over items that CARRY a posterior
    * (n_post — the ssum=0 sentinel items are excluded, making the
    * bound exact rather than distributional; ADVICE r13), hardcoded
    * for the graft L = 3 label universe. */
  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q478_fleiss_kappa", q478FleissKappa, q478Oracle,
        Hooks(nonEmpty, range("pbar_milli", 0, 1000),
          range("pe_milli", 0, 1000), range("kappa_bp", -10000, 10000))),
      Query("q479_krippendorff_alpha", q479KrippendorffAlpha, q479Oracle,
        Hooks(nonEmpty,
          range("do_ppm", 0, 1000000), range("de_ppm", 0, 1000000),
          // distributional floor (see scaladoc): α < −3 needs pathological
          // label imbalance, not reachable on the graft corpus
          range("alpha_bp", -30000, 10000))),
      Query("q480_dawid_skene", q480DawidSkene, q480Oracle,
        Hooks(nonEmpty,
          range("acc_mv_milli", 0, 1000), range("acc_em_milli", 0, 1000))),
      Query("q481_kendall_tau", q481KendallTau, q481Oracle,
        Hooks(nonEmpty, range("tau_b_bp", -10000, 10000))),
      Query("q482_item_analysis", q482ItemAnalysis, q482Oracle,
        Hooks(nonEmpty,
          range("difficulty_milli", 0, 1000), range("disc_bp", -20000, 10000))),
      Query("q483_conformal_coverage", q483ConformalCoverage, q483Oracle,
        Hooks(nonEmpty,
          range("coverage_milli", 0, 1000))),
      // KR-20 <= 1 definitionally (unbounded below)
      Query("q484_kr20_reliability", q484Kr20, q484Oracle,
        Hooks(nonEmpty, atLeast("10000 - kr20_bp", 0))),
      Query("q485_panel_planner", q485PanelPlanner, q485Oracle,
        Hooks(nonEmpty, range("p_majority_micro", 0, 1000000), range("lift_micro", -1000000, 1000000))),
      Query("q486_test_retest", q486TestRetest, q486Oracle,
        Hooks(nonEmpty, range("self_consistent_milli", 0, 1000))),
      Query("q487_judge_pair_kappa", q487JudgePairKappa, q487Oracle,
        Hooks(nonEmpty, range("agree_milli", 0, 1000), range("kappa_bp", -10000, 10000))),
      Query("q488_qualification_designer", q488QualificationDesigner, q488Oracle,
        Hooks(nonEmpty, range("spammer_pass_micro", 0, 1000000), range("honest_pass_micro", 0, 1000000))),
      Query("q489_panel_router", q489PanelRouter, q489Oracle,
        Hooks(nonEmpty, range("acc_micro", 0, 1000000),
          range("n_judges", 1, 7), range("cost", 0, Long.MaxValue / 2))),
      Query("q490_rasch_prox", q490RaschProx, q490Oracle,
        NoBound("PROX difficulty logits unbounded both sides")),
      // outfit is a mean of squared standardized residuals
      Query("q491_rasch_outfit", q491RaschOutfit, q491Oracle,
        Hooks(nonEmpty, atLeast("outfit_milli", 0))),
      Query("q492_relabel_router", q492RelabelRouter, q492Oracle,
        Hooks(nonEmpty, range("share_milli", 0, 1000))),
      Query("q493_agreement_drift", q493AgreementDrift, q493Oracle,
        Hooks(nonEmpty,
          range("kappa_bp", -10000, 10000))),
      // θ rows are conditional probabilities: each in [0,1000] milli and
      // each (rater, true-class) row of the matrix sums to 1000 minus
      // ≤ L−1 of div truncation
      Query("q494_ds_soft_confusion", q494DawidSkeneSoftConfusion, q494Oracle,
        Hooks(nonEmpty,
          range("theta2_milli", 0, 1000),
          groupSum(Seq("rater", "true_label"), "theta2_milli", 997, 1000))),
      // the winning posterior is ≥ 1/L and ≤ 1, in micro; the 300000
      // floor hardcodes the graft L = 3 label universe (re-derive as
      // 10⁶ div L elsewhere). The mean divides by n_post — items the
      // ssum=0 sentinel NULLs out carry no posterior mass, so dividing
      // by n_items would undershoot the floor on CORRECT output
      // (ADVICE r13); with n_post the bound is exact, not
      // distributional. n_post = 0 ⇒ sum is NULL ⇒ range skips
      Query("q495_ds_soft_flips", q495DawidSkeneSoftFlips, q495Oracle,
        Hooks(nonEmpty,
          range("n_items", 1, 1000000000000L),
          range("n_items - n_post", 0, 1000000000000L),
          range("CASE WHEN n_post = 0 THEN NULL ELSE sum_post_micro div n_post END",
            300000, 1000000))),
      Query("q496_ds_rater_report", q496DsRaterReport, q496Oracle,
        Hooks(nonEmpty,
          range("n_judgments", 1, 1000000000000L),
          range("agree_micro", 0, 1000000), range("diag_milli", 0, 1000))),
    )
  }
}
