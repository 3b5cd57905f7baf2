package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Evaluation-suite analytics (round 10, north-star family): the
  * statistics an LLM-training shop runs over its EVAL results — model
  * strength from pairwise preferences (Bradley–Terry), the pass@k
  * unbiased estimator, bootstrap confidence intervals, the paired
  * sign-flip permutation test, McNemar's disagreement test, Borda rank
  * aggregation across judges, and exact rank-sum ROC-AUC. The same
  * math drives A/B reads on data-recipe ablations, so it belongs in
  * the engine next to the curation/quality operators that produce the
  * runs being compared.
  *
  * Scale design, module-wide: pairwise structures are BASKET-BLOCKED
  * (the q157 collect+HOF idiom — pairs within an order's ≤7-supplier
  * basket, never |suppliers|²); resampling replicas are literal grids
  * (explode of a bounded sequence — work is replicas × rows, one
  * scan); all iteration (the Bradley–Terry MM rounds) is a fixed
  * unrolled chain of per-key equi-joins with NO broadcast hints (AQE
  * decides from runtime stats); every statistic reduces to a bounded
  * relation before any window touches it; arithmetic is exact-integer
  * micro/milli units with `div` flooring mirrored term-by-term in the
  * DuckDB twins (the q420/q423 discipline), DECIMAL(38,0)-wrapped
  * wherever a product can pass int64 at corpus scale. Determinism:
  * resampling weights/signs come from the md5-based `Fns.hash60`
  * primitive, not engine-local `hash()`/`random()`. */
object Eval extends graft.QueryModule {

  // ---------------------------------------------------------------
  // q465 — Bradley–Terry strength from pairwise preferences
  // ---------------------------------------------------------------

  /** Bradley–Terry strength fit (q465): suppliers "compete" within
    * each order's basket (winner = higher line revenue in that order;
    * ties to the lower suppkey), giving a pairwise win table; two
    * minorization–maximization rounds from a uniform start yield
    * strengths in exact micro-units. Round 1 closes to
    * p¹ᵢ = 2e6·Wᵢ/Nᵢ (uniform start makes every pair denominator 2p);
    * round 2 re-weights each opponent pair by 1/(p¹ᵢ+p¹ⱼ) — the real
    * MM step that separates strength from raw win rate (beating
    * strong opponents counts more). Top-20 by round-2 strength.
    *
    * Scale: pair generation is basket-blocked (≤21 pairs per order,
    * one collect per order with ≤7-element buffers); the MM round is
    * two equi-joins of the pair-count relation against the
    * per-supplier strength relation — un-hinted, AQE broadcasts when
    * runtime stats allow and shuffles past the threshold. Products
    * are DECIMAL(38,0)-wrapped (wins·1e12 passes int64 at ~1e7
    * wins). */
  /** The two MM rounds over a (lo, hi, lo_win) pair list — the
    * iterative core of [[q465BradleyTerry]], exposed for direct
    * testing on crafted tournaments (a player beating STRONG opponents
    * must out-rank a same-win-rate player beating weak ones). */
  def bradleyTerry(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // materialize the pair-count relation ONCE: it feeds the strength
    // aggregate AND both sides of the round-2 term join — without the
    // checkpoint the whole basket-collect + HOF-expansion front end
    // (the expensive distributed half, ~1.7 s of q465's 3.6 s at
    // sf0.1) re-runs per consumer (the q71/q157 discipline)
    val pc = pairs.groupBy($"lo", $"hi")
      .agg(count(lit(1)).as("n"), sum($"lo_win").as("w_lo"))
      .localCheckpoint()
    // explode-both-sides, ONE pass over pc (r14): the unionByName
    // form scanned the checkpoint twice through two partial aggregates
    val sup = pc.select(explode(array(
        struct($"lo".as("sk"), $"n", $"w_lo".as("w")),
        struct($"hi".as("sk"), $"n", ($"n" - $"w_lo").as("w")))).as("e"))
      .groupBy($"e.sk".as("sk"))
      .agg(sum($"e.n").as("games"), sum($"e.w").as("wins"))
    // p1 is |players|-sized and consumed three times (both term-join
    // sides + the final select): one more cheap materialization.
    // p1_micro stays on the DECIMAL expression unconditionally — the
    // relation is player-sized, so interpreted decimal cost is noise
    val p1 = sup.withColumn("p1_micro",
      expr("CAST(CAST(wins AS DECIMAL(38,0)) * 2000000 div games AS BIGINT)"))
      .localCheckpoint()
    // Measured int64-headroom gate (r13, the soft-EM discipline applied
    // to the MM loop per VERDICT r12 #1.5): the remaining products are
    // value·1e12 with value ≤ Σgames, so when the MEASURED game total
    // keeps Σgames·1e12 under 2⁶³ (Σgames ≤ 8·10⁶ — one bounded
    // aggregate on the just-checkpointed player table, the q490
    // measured-count pattern) the pair-sized t fold and the p2
    // normalization run as codegen BIGINT arithmetic; past the bound
    // they fall back to the DECIMAL(38,0) expressions (correct, just
    // interpreted). Integer results are IDENTICAL on both paths (`div`
    // truncation on non-negative operands), and ANSI mode would THROW,
    // not wrap, if the measured gate were ever wrong.
    val int64Safe =
      p1.agg(coalesce(sum($"games"), lit(0L)).as("sg")).select($"sg")
        .as[Long].head() <= 8000000L
    // castOut=false keeps the fallback's intermediate DECIMAL width (the
    // per-pair t term itself may exceed int64 there; only the final
    // per-player micros are BIGINT-ranged by contract).
    // Eager-action contract (ADVICE r13): the gate's head() runs at
    // DataFrame-CONSTRUCTION time, so building this plan executes the
    // basket/pair front end once even if the caller never acts on the
    // result. Acceptable because p1 is localCheckpoint'd — the gate
    // aggregate reads the materialized RDD, and every later consumer
    // reuses it rather than re-running lineage
    def scaled(v: String, scale: String, den: String, castOut: Boolean = true) =
      if (int64Safe) expr(s"$v * ${scale}L div greatest($den, 1L)")
      else if (castOut) expr(
        s"CAST(CAST($v AS DECIMAL(38,0)) * $scale div greatest($den, 1L) AS BIGINT)")
      else expr(s"CAST($v AS DECIMAL(38,0)) * $scale div greatest($den, 1L)")
    val terms = pc
      .join(p1.select($"sk".as("lo"), $"p1_micro".as("pa")), "lo")
      .join(p1.select($"sk".as("hi"), $"p1_micro".as("pb")), "hi")
      // the hot fold: pair-relation-sized (ADVICE r10 flagged the bare
      // BIGINT version — the measured gate above is the loud guard)
      .withColumn("t", scaled("n", "1000000000000", "pa + pb", castOut = false))
    // the r13 unionByName here ran the terms subtree TWICE — its two
    // broadcast joins and the t fold sit behind no exchange, so
    // ReuseExchange cannot dedupe them (the VERDICT r13 #4 ask);
    // exploding both sides computes terms once and halves the tail
    val den = terms.select(explode(array(
        struct($"lo".as("sk"), $"t"), struct($"hi".as("sk"), $"t"))).as("e"))
      .groupBy($"e.sk".as("sk")).agg(sum($"e.t").as("denom"))
    p1.join(den, "sk")
      .select($"sk".as("suppkey"), $"games", $"wins", $"p1_micro",
        scaled("wins", "1000000000000", "denom").as("p2_micro"))
  }

  def q465BradleyTerry(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE exchange (r13 shape, r14 engine): the first cut aggregated
    // (order, supplier) revenue in its own 600k-group shuffle and THEN
    // collected baskets in a second — two full-fact exchanges with no
    // map-side-combine benefit (the pair key is near-unique). Revenue
    // rides as exact integer cents: each line's DECIMAL(18,2) term is
    // cents-exact, so the long sum and the win comparison are
    // bit-identical to the oracle's DECIMAL-sum comparison while
    // shuffling primitive longs instead of 16-byte decimals.
    // r14: per-supplier revenue reduced by a codegen hash aggregate
    // behind ONE repartition(ord) exchange (subset partitioning serves
    // both groupBys), not the O(b²) in-array filter-aggregate — the
    // q476 A/B measured the HOF form at 3.3× the hash-agg front end
    val pairs = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ord"), $"l_suppkey".as("sk"),
        (($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,2)") * 100).cast("long").as("c"))
      .repartition($"ord")
      .groupBy($"ord", $"sk").agg(sum($"c").as("rev"))
      .groupBy($"ord")
      .agg(collect_list(struct($"sk", $"rev")).as("bs"))
      .filter(size($"bs") >= 2)
      .select(explode(expr(
        """flatten(transform(bs, x ->
             transform(filter(bs, y -> y.sk > x.sk), y -> struct(
               x.sk AS lo, y.sk AS hi,
               CASE WHEN x.rev >= y.rev THEN 1L ELSE 0L END AS lo_win))))"""))
        .as("pr"))
      .select($"pr.lo", $"pr.hi", $"pr.lo_win")
    bradleyTerry(pairs).orderBy($"p2_micro".desc, $"suppkey").limit(20)
  }

  val q465Oracle: String =
    """WITH rev AS (
         SELECT l_orderkey AS ord, l_suppkey AS sk,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
         FROM lineitem GROUP BY 1, 2),
       pairs AS (
         SELECT a.sk AS lo, b.sk AS hi,
                CASE WHEN a.rev >= b.rev THEN 1 ELSE 0 END AS lo_win
         FROM rev a JOIN rev b ON a.ord = b.ord AND a.sk < b.sk),
       pc AS (
         SELECT lo, hi, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(lo_win) AS BIGINT) AS w_lo
         FROM pairs GROUP BY 1, 2),
       sup AS (
         SELECT sk, CAST(sum(n) AS BIGINT) AS games,
                CAST(sum(w) AS BIGINT) AS wins
         FROM (SELECT lo AS sk, n, w_lo AS w FROM pc
               UNION ALL SELECT hi, n, n - w_lo FROM pc)
         GROUP BY 1),
       p1 AS (
         SELECT sk, games, wins,
                CAST(CAST(wins AS HUGEINT) * 2000000 // games AS BIGINT)
                  AS p1_micro
         FROM sup),
       terms AS (
         SELECT pc.lo, pc.hi,
                CAST(CAST(pc.n AS HUGEINT) * 1000000000000
                  // greatest(a.p1_micro + b.p1_micro, 1) AS BIGINT) AS t
         FROM pc JOIN p1 a ON pc.lo = a.sk JOIN p1 b ON pc.hi = b.sk),
       den AS (
         SELECT sk, CAST(sum(t) AS BIGINT) AS denom
         FROM (SELECT lo AS sk, t FROM terms
               UNION ALL SELECT hi, t FROM terms)
         GROUP BY 1)
       SELECT p1.sk AS suppkey, games, wins, p1_micro,
              CAST(CAST(wins AS HUGEINT) * 1000000000000
                // greatest(denom, 1) AS BIGINT) AS p2_micro
       FROM p1 JOIN den USING (sk)
       ORDER BY p2_micro DESC, suppkey LIMIT 20"""

  // ---------------------------------------------------------------
  // q466 — pass@k unbiased estimator
  // ---------------------------------------------------------------

  /** The exact pass@k chain 1000 − Π_{i<k}(n−c−i)/(n−i) in milli,
    * evaluated as an UNROLLED integer ladder (start 1e9, floor-divide
    * each step) so Spark and DuckDB truncate identically term by
    * term. The product passes through 0 exactly when n−c < k (the
    * factor hits 0 at i = n−c before any negative factor), so no
    * clamp is needed. */
  private[graft] def passAtK(k: Int, divOp: String): String = {
    val chain = (0 until k).foldLeft("1000000000") { (acc, i) =>
      s"(($acc) * (n - c - $i) $divOp (n - $i))"
    }
    s"(1000 - (($chain) $divOp 1000000))"
  }

  /** pass@k estimator (q466): each part is a "task", its lineitems
    * are independent "attempts", an attempt passes when it was
    * returned (l_returnflag = 'R'); the unbiased estimator
    * pass@k = 1 − C(n−c,k)/C(n,k) (Chen et al. 2021, the HumanEval
    * combinatorial identity) per task, averaged per brand for
    * k ∈ {1, 5, 10} over tasks with n ≥ 10 attempts.
    *
    * Scale: one fact scan → per-part (n, c) aggregate → equi-join to
    * the part dim for the brand → 25-row bounded output; the
    * combinatorial ratio is a closed-form expression, no explosion. */
  def q466PassAtK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tasks = Tables.lineitem(s, d)
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("c"))
      .filter($"n" >= 10)
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"p_brand".as("brand"), $"n", $"c",
        expr(passAtK(1, "div")).as("p1"),
        expr(passAtK(5, "div")).as("p5"),
        expr(passAtK(10, "div")).as("p10"))
    tasks.groupBy($"brand")
      .agg(count(lit(1)).as("n_tasks"),
        expr("sum(p1) div count(1)").as("pass1_milli"),
        expr("sum(p5) div count(1)").as("pass5_milli"),
        expr("sum(p10) div count(1)").as("pass10_milli"))
      .orderBy($"brand")
  }

  val q466Oracle: String = {
    def pk(k: Int) = passAtK(k, "//")
    s"""WITH tasks AS (
         SELECT p_brand AS brand, n, c,
                ${pk(1)} AS p1, ${pk(5)} AS p5, ${pk(10)} AS p10
         FROM (
           SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
           FROM lineitem GROUP BY 1) t
         JOIN part ON p_partkey = l_partkey
         WHERE n >= 10)
       SELECT brand, CAST(count(*) AS BIGINT) AS n_tasks,
              CAST(sum(p1) // count(*) AS BIGINT) AS pass1_milli,
              CAST(sum(p5) // count(*) AS BIGINT) AS pass5_milli,
              CAST(sum(p10) // count(*) AS BIGINT) AS pass10_milli
       FROM tasks GROUP BY brand ORDER BY brand"""
  }

  // ---------------------------------------------------------------
  // q467 — bootstrap confidence interval (Poisson resampling)
  // ---------------------------------------------------------------

  /** Bootstrap CI (q467): the mean document length with a 32-replica
    * Poisson(1) bootstrap — each replica reweights every doc by a
    * DETERMINISTIC pseudo-Poisson draw (md5 counter-based: u =
    * hash60(doc_id:replica) mod 1e6 against the Poisson(1) inverse
    * CDF cutoffs 367879/735758/919698/981011 — P(0)=e⁻¹ etc. in
    * micro), the standard scale-out bootstrap (one pass, no
    * per-replica shuffles of the corpus; Poissonization is what makes
    * it streamable). Interval = 2nd..31st order statistics of the 32
    * replica means (~94% coverage).
    *
    * Scale: replicas are a literal explode grid (32× one scan); the
    * per-replica aggregate groups on the bounded replica id; the
    * order statistics read a 32-element array on one row. */
  def q467BootstrapCi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weighted = Tables.documents(s, d)
      .select($"doc_id", $"n_chars")
      .withColumn("b", explode(expr("sequence(0, 31)")))
      .withColumn("u", graft.functions.Fns.hash60(
        concat($"doc_id".cast("string"), lit(":"), $"b".cast("string")))
        % 1000000L)
      .withColumn("w", expr(
        """CASE WHEN u < 367879 THEN 0L WHEN u < 735758 THEN 1L
                WHEN u < 919698 THEN 2L WHEN u < 981011 THEN 3L
                ELSE 4L END"""))
    val reps = weighted.groupBy($"b")
      .agg(expr("sum(w * n_chars) * 1000 div greatest(sum(w), 1L)")
        .as("rep_mean_milli"))
    val point = Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(n_chars) * 1000 div count(1)").as("point_milli"))
    point.crossJoin(broadcast(
      reps.agg(sort_array(collect_list($"rep_mean_milli")).as("ms"))))
      .select($"n_docs", $"point_milli",
        expr("element_at(ms, 2)").as("lo_milli"),
        expr("element_at(ms, 31)").as("hi_milli"),
        lit(32L).as("n_replicas"))
  }

  val q467Oracle: String =
    """WITH w AS (
         SELECT g.b,
                CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
                     WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
                     ELSE 4 END AS w,
                n_chars
         FROM (SELECT doc_id, n_chars FROM documents) d
         CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) g
         CROSS JOIN LATERAL (SELECT ('0x' || substr(md5(
             CAST(d.doc_id AS VARCHAR) || ':' || CAST(g.b AS VARCHAR)),
             1, 15))::BIGINT % 1000000 AS u) h),
       reps AS (
         SELECT b, CAST(sum(w * n_chars) * 1000
                  // greatest(sum(w), 1) AS BIGINT) AS rep_mean_milli
         FROM w GROUP BY b),
       ms AS (SELECT list_sort(list(rep_mean_milli)) AS ms FROM reps),
       pt AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) * 1000 // count(*) AS BIGINT)
                  AS point_milli
         FROM documents)
       SELECT n_docs, point_milli,
              ms[2] AS lo_milli, ms[31] AS hi_milli,
              CAST(32 AS BIGINT) AS n_replicas
       FROM pt, ms"""

  // ---------------------------------------------------------------
  // q468 — paired sign-flip permutation test
  // ---------------------------------------------------------------

  /** Paired permutation test (q468): do finished (linestatus F) lines
    * carry a different mean discount than open (O) lines on the same
    * orders? Per order with both statuses, the paired difference
    * d = avg_bp(F) − avg_bp(O); observed statistic T = Σd; 60
    * deterministic sign-flip replicas give the permutation null;
    * p = (1 + #{|T_r| ≥ |T|}) / 61 in milli — the add-one estimator
    * that keeps p valid at any replica count. Replica r's sign for an
    * order is BIT r of the order's single 60-bit md5 hash — one hash
    * per order, not one per (order, replica): md5 dominated the first
    * cut of this query (4.9 s → the hash count drops 60×), and
    * independent uniform bits are exactly what the hash guarantees.
    *
    * Scale: the paired-diff relation is one fact scan + one bounded
    * conditional aggregate per order; replicas are a literal explode
    * grid over THAT reduced relation (60 × |pairs|, not 60 × |fact|);
    * the verdict is a 1-row readout. */
  def q468PermutationTest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val diffs = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(
        sum(when($"l_linestatus" === "F",
          floor($"l_discount" * 10000).cast("long"))).as("sa"),
        sum(when($"l_linestatus" === "F", 1L).otherwise(0L)).as("na"),
        sum(when($"l_linestatus" === "O",
          floor($"l_discount" * 10000).cast("long"))).as("ss"),
        sum(when($"l_linestatus" === "O", 1L).otherwise(0L)).as("ns"))
      .filter($"na" > 0 && $"ns" > 0)
      .select($"l_orderkey".as("ord"),
        expr("sa div na - ss div ns").as("diff"))
    val obs = diffs.agg(count(lit(1)).as("n_pairs"),
      sum($"diff").as("t_obs"))
    val reps = diffs
      .withColumn("h", graft.functions.Fns.hash60($"ord".cast("string")))
      .withColumn("r", explode(expr("sequence(0, 59)")))
      .withColumn("sgn", expr("1L - 2L * (shiftright(h, r) & 1L)"))
      .groupBy($"r").agg(sum($"sgn" * $"diff").as("t_r"))
    obs.crossJoin(broadcast(
      reps.agg(collect_list($"t_r").as("ts"))))
      .select($"n_pairs", $"t_obs",
        expr("""CAST((1 + size(filter(ts, t -> abs(t) >= abs(t_obs))))
                AS BIGINT) * 1000 div 61""").as("p_milli"),
        expr("aggregate(ts, 0L, (a, t) -> a + abs(t)) div 60")
          .as("mean_abs_t_null"))
  }

  val q468Oracle: String =
    """WITH diffs AS (
         SELECT l_orderkey AS ord, sa // na - ss // ns AS diff
         FROM (
           SELECT l_orderkey,
                  CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(floor(l_discount * 10000) AS BIGINT) END)
                    AS BIGINT) AS sa,
                  CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
                  CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(floor(l_discount * 10000) AS BIGINT) END)
                    AS BIGINT) AS ss,
                  CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ns
           FROM lineitem
           GROUP BY 1) t
         WHERE na > 0 AND ns > 0),
       obs AS (
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(diff) AS BIGINT) AS t_obs
         FROM diffs),
       reps AS (
         SELECT g.r, CAST(sum((1 - 2 * ((('0x' || substr(md5(
                  CAST(ord AS VARCHAR)), 1, 15))::BIGINT >> g.r) & 1))
                  * diff) AS BIGINT) AS t_r
         FROM diffs
         CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS r) g
         GROUP BY 1)
       SELECT n_pairs, t_obs,
              CAST((1 + (SELECT count(*) FROM reps
                         WHERE abs(t_r) >= abs(t_obs))) * 1000 // 61
                AS BIGINT) AS p_milli,
              CAST((SELECT sum(abs(t_r)) FROM reps) // 60 AS BIGINT)
                AS mean_abs_t_null
       FROM obs"""

  // ---------------------------------------------------------------
  // q469 — McNemar's test for paired classifier disagreement
  // ---------------------------------------------------------------

  /** McNemar's test (q469): two "classifiers" judge every order —
    * A: the order was placed urgent/high priority; B: the order had
    * at least one returned lineitem. The paired 2×2 table's
    * OFF-DIAGONAL counts carry all the signal (concordant cells
    * cancel); the χ² statistic (b−c)²/(b+c) in milli says whether the
    * two systems disagree beyond coin-flip symmetry — the standard
    * paired read for "did the new model actually change outcomes".
    *
    * Scale: B is a per-order max-flag aggregate (one fact scan), the
    * join is per-order equi, the table is a 1-row conditional
    * aggregate. */
  def q469McNemar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(max(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("fb"))
    Tables.orders(s, d)
      .select($"o_orderkey",
        when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("fa"))
      .join(b, $"o_orderkey" === $"l_orderkey", "left")
      .select($"fa", coalesce($"fb", lit(0L)).as("fb"))
      .agg(count(lit(1)).as("n"),
        sum(when($"fa" === 1 && $"fb" === 1, 1L).otherwise(0L)).as("both_pos"),
        sum(when($"fa" === 1 && $"fb" === 0, 1L).otherwise(0L)).as("a_only"),
        sum(when($"fa" === 0 && $"fb" === 1, 1L).otherwise(0L)).as("b_only"),
        sum(when($"fa" === 0 && $"fb" === 0, 1L).otherwise(0L)).as("neither"))
      // the squared diff is DECIMAL(38,0)-wrapped: (b−c)²·1000 passes
      // int64 at ~3e9 discordant orders (the q423 rule)
      .withColumn("mcnemar_milli", expr(
        """CAST(CAST(a_only - b_only AS DECIMAL(38,0)) * (a_only - b_only)
           * 1000 div greatest(a_only + b_only, 1L) AS BIGINT)"""))
  }

  val q469Oracle: String =
    """WITH b AS (
         SELECT l_orderkey,
                CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS fb
         FROM lineitem GROUP BY 1),
       t AS (
         SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS fa,
                coalesce(fb, 0) AS fb
         FROM orders LEFT JOIN b ON l_orderkey = o_orderkey),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
                -- "both" is a DuckDB reserved word
                CAST(sum(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_pos,
                CAST(sum(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a_only,
                CAST(sum(CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_only,
                CAST(sum(CASE WHEN fa = 0 AND fb = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS neither
         FROM t)
       SELECT n, both_pos, a_only, b_only, neither,
              CAST(CAST(a_only - b_only AS HUGEINT) * (a_only - b_only)
                * 1000 // greatest(a_only + b_only, 1) AS BIGINT)
                AS mcnemar_milli
       FROM agg"""

  // ---------------------------------------------------------------
  // q470 — Borda rank aggregation across judges
  // ---------------------------------------------------------------

  /** Borda count (q470): every customer is a "judge" who ranks the
    * suppliers appearing in their orders by total revenue delivered;
    * a supplier scores (ballot size − rank) points per ballot; the
    * aggregate ranking is the points sum — the positional
    * rank-aggregation baseline every LLM-judge ensemble gets compared
    * against (robust to per-judge scale, sensitive only to order).
    * Top-20 suppliers by points.
    *
    * Scale: ONE ballot shuffle (r14, the q465 basket discipline —
    * was: a (judge, supplier) pre-aggregate exchange feeding TWO
    * judge-partitioned window passes and their sort). Raw joined
    * lines group by judge once; the per-supplier revenue reduces
    * INSIDE the ballot array (O(b²) HOF over a human-bounded ballot),
    * `array_sort` on (−cents, sk) realizes the (rev DESC, sk)
    * tie-break in-array, and the positional lambda index IS the rank
    * — no row_number, no count-over-window, no fact-sized sort.
    * Revenue rides as exact integer cents: each line's DECIMAL(18,2)
    * term is cents-exact, so the in-array long sum orders identically
    * to the oracle's DECIMAL sum. Final per-supplier sum cut to 20 by
    * a TakeOrdered heap. */
  def q470BordaCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("judge"), $"l_suppkey".as("sk"),
        (($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,2)") * 100).cast("long").as("c"))
      // ONE exchange on judge serves both aggregates below:
      // HashPartitioning(judge) satisfies ClusteredDistribution for
      // the (judge, sk) grouping too (same-key rows co-located), so
      // the per-supplier cents reduce runs as a codegen HASH aggregate
      // — not an O(b²) in-array HOF (measured 2× slower at b≈40
      // lines/ballot) — and the ballot collect adds no shuffle
      .repartition($"judge")
      .groupBy($"judge", $"sk")
      .agg(sum($"c").as("cents"))
      .groupBy($"judge")
      .agg(collect_list(struct((-$"cents").as("nc"), $"sk")).as("raw"))
      // (rev desc, sk asc) == ascending (−cents, sk) struct order
      .withColumn("bal", expr("array_sort(raw)"))
      // 0-based lambda index i ⇒ rank i+1 ⇒ points m − (i+1)
      .select(explode(expr(
        """transform(bal, (x, i) ->
             struct(x.sk AS sk, CAST(size(bal) - i - 1 AS BIGINT) AS pts))"""))
        .as("e"))
      .groupBy($"e.sk")
      .agg(count(lit(1)).as("ballots"), sum($"e.pts").as("borda_points"))
      .select($"sk".as("suppkey"), $"ballots", $"borda_points")
      .orderBy($"borda_points".desc, $"suppkey").limit(20)
  }

  val q470Oracle: String =
    """WITH scores AS (
         SELECT o_custkey AS judge, l_suppkey AS sk,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         GROUP BY 1, 2),
       ranked AS (
         SELECT sk,
                CAST(row_number() OVER (PARTITION BY judge
                  ORDER BY rev DESC, sk) AS BIGINT) AS rk,
                CAST(count(*) OVER (PARTITION BY judge) AS BIGINT) AS m
         FROM scores)
       SELECT sk AS suppkey, CAST(count(*) AS BIGINT) AS ballots,
              CAST(sum(m - rk) AS BIGINT) AS borda_points
       FROM ranked GROUP BY sk
       ORDER BY borda_points DESC, suppkey LIMIT 20"""

  // ---------------------------------------------------------------
  // q471 — exact ROC-AUC via the Mann–Whitney rank sum
  // ---------------------------------------------------------------

  /** Exact ROC-AUC (q471): quantity as the "score", returned as the
    * "label" — AUC = (Σ_pos midrank − n₊(n₊+1)/2) / (n₊·n₋), the
    * Mann–Whitney identity, computed EXACTLY over the score
    * HISTOGRAM: with a bounded score domain (quantity ∈ 1..50) the
    * midranks come from cumulative histogram counts (doubled to stay
    * integer under the ties correction), so the fact table is
    * touched once and never sorted — the 100 TB way to score a
    * classifier (a row-level global rank would be a single-partition
    * sort; the histogram is 50 rows).
    *
    * Scale: one scan → 50-cell (score, pos, neg) histogram → bounded
    * global window for the cumulative → 1-row readout; products pass
    * through DECIMAL(38,0) (n₊·n₋ wraps int64 at ~3e9 rows each). */
  def q471RocAuc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.lineitem(s, d)
      .groupBy($"l_quantity".cast("long").as("q"))
      .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("pos"),
        sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("neg"))
    val w = Window.orderBy($"q")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("before", coalesce(sum($"pos" + $"neg").over(w), lit(0L)))
      // doubled midrank: 2·(cum_before) + (cnt + 1) keeps ties exact
      .withColumn("mr2", lit(2) * $"before" + $"pos" + $"neg" + 1)
      .agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
        sum(expr("CAST(pos AS DECIMAL(38,0)) * mr2")).as("rs2"))
      .select($"n_pos", $"n_neg",
        expr("""CAST((rs2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))
                * 500000 div (CAST(n_pos AS DECIMAL(38,0)) * n_neg)
                AS BIGINT)""").as("auc_micro"))
      .withColumn("gini_micro", expr("2 * auc_micro - 1000000"))
  }

  val q471Oracle: String =
    """WITH hist AS (
         SELECT CAST(l_quantity AS BIGINT) AS q,
                CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
                CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS neg
         FROM lineitem GROUP BY 1),
       mr AS (
         SELECT pos, neg,
                2 * coalesce(sum(pos + neg) OVER (ORDER BY q
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + pos + neg + 1 AS mr2
         FROM hist),
       agg AS (
         SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                CAST(sum(neg) AS BIGINT) AS n_neg,
                sum(CAST(pos AS HUGEINT) * mr2) AS rs2
         FROM mr)
       SELECT n_pos, n_neg,
              CAST((rs2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 500000
                // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_micro,
              CAST(2 * ((rs2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 500000
                // (CAST(n_pos AS HUGEINT) * n_neg)) - 1000000 AS BIGINT)
                AS gini_micro
       FROM agg"""


  // ---------------------------------------------------------------
  // q472 — experiment sizing: minimum detectable effect
  // ---------------------------------------------------------------

  /** MDE / power planner (q472): for each event class, the minimum
    * detectable effect of a two-arm test at the OBSERVED variance and
    * arm size — MDE = (z_{α/2} + z_{power})·√(2σ²/n) at 80%/90% power,
    * α = 5% — the "is this A/B even worth running" readout every
    * experimentation platform serves next to q301's meta-analysis.
    * Arms split by event-id parity (the q301 arm discipline); σ² is
    * the pooled sample variance of centi-quantized values.
    *
    * Determinism: moments are exact int64 (Σv, Σv² on centi units);
    * the variance and MDE are a single IEEE expression tree evaluated
    * on identical integer operands in both engines (the q139/q128
    * shared-IEEE discipline), floored once to micro. Scale: one scan
    * → per-type moments → 2·|event types| bounded rows. */
  def q472MdePlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = Tables.events(s, d)
      .select($"event_type", floor($"value" * 100).cast("long").as("v"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v").as("s1"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("s2d"))
      .select($"event_type", $"n", $"s1",
        expr("CAST(s2d AS DOUBLE)").as("s2"))
    m.select($"event_type", $"n",
        explode(expr("array(struct(80L AS power_pct, 2.801585 AS zsum)," +
          " struct(90L AS power_pct, 3.241516 AS zsum))")).as("g"))
      .join(m.drop("n"), "event_type")
      .select($"event_type", $"g.power_pct".as("power_pct"),
        expr("n div 2").as("n_per_arm"),
        expr("""CAST(floor(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1)) * 10000.0) AS BIGINT)""").as("sigma_centi_e4"),
        expr("""CAST(floor(g.zsum * sqrt(2.0 * ((s2 - CAST(s1 AS DOUBLE)
                * s1 / n) / (n - 1)) / (n div 2)) * 10000.0) AS BIGINT)""")
          .as("mde_centi_e4"))
      .orderBy($"event_type", $"power_pct")
  }

  val q472Oracle: String =
    """WITH m AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS BIGINT) AS s1,
                CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS s2
         FROM (SELECT event_type,
                      CAST(floor(value * 100) AS BIGINT) AS v
               FROM events) t
         GROUP BY 1),
       g AS (SELECT 80 AS power_pct, 2.801585 AS zsum
             UNION ALL SELECT 90, 3.241516)
       SELECT event_type, CAST(power_pct AS BIGINT) AS power_pct,
              n // 2 AS n_per_arm,
              CAST(floor(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1)) * 10000.0) AS BIGINT) AS sigma_centi_e4,
              CAST(floor(zsum * sqrt(2.0 * ((s2 - CAST(s1 AS DOUBLE)
                * s1 / n) / (n - 1)) / (n // 2)) * 10000.0) AS BIGINT)
                AS mde_centi_e4
       FROM m, g ORDER BY event_type, power_pct"""

  // ---------------------------------------------------------------
  // q473 — Wilson lower-bound leaderboard
  // ---------------------------------------------------------------

  /** Wilson-bound leaderboard (q473): the q465 pairwise win table
    * ranked by the 95% WILSON LOWER BOUND of each supplier's win rate
    * instead of the raw rate — the standard small-sample-honest
    * leaderboard (a 3-0 newcomer must not outrank a 900-100 veteran).
    *
    * Determinism: games/wins are exact int64 from the basket-blocked
    * pair pass; the bound is one IEEE tree on identical integer
    * operands (q139 discipline), floored once to micro. Scale: same
    * basket-blocked pair generation as q465 (≤21 pairs/order), one
    * per-supplier aggregate, TakeOrdered top-20. */
  def q473WilsonLeaderboard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r14 (the q465/q476 discipline, after the r14 pair-1 screen
    // flagged this query at 12.4× its twin): ONE repartition(ord)
    // exchange serves both the (ord, sk) cents hash-aggregate and the
    // basket collect (was: two full-fact exchanges shipping 16-byte
    // decimals); revenue rides as exact integer cents, so the win
    // comparison is bit-identical to the oracle's DECIMAL compare
    val pairs = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ord"), $"l_suppkey".as("sk"),
        (($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,2)") * 100).cast("long").as("c"))
      .repartition($"ord")
      .groupBy($"ord", $"sk").agg(sum($"c").as("rev"))
      .groupBy($"ord")
      .agg(collect_list(struct($"sk", $"rev")).as("bs"))
      .filter(size($"bs") >= 2)
      .select(explode(expr(
        """flatten(transform(bs, x ->
             transform(filter(bs, y -> y.sk > x.sk), y -> struct(
               x.sk AS lo, y.sk AS hi,
               CASE WHEN x.rev >= y.rev THEN 1L ELSE 0L END AS lo_win))))"""))
        .as("pr"))
    val sup = pairs
      .select(expr("stack(2, pr.lo, pr.lo_win, pr.hi, 1L - pr.lo_win)")
        .as(Seq("sk", "w")))
      .groupBy($"sk").agg(count(lit(1)).as("games"), sum($"w").as("wins"))
    sup
      .withColumn("winrate_milli", expr("wins * 1000 div games"))
      .withColumn("wilson_lo_micro", expr(
        """CAST(floor(((CAST(wins AS DOUBLE) / games + 1.92080 / games
           - 1.959964 * sqrt((CAST(wins AS DOUBLE) / games)
             * (1.0 - CAST(wins AS DOUBLE) / games) / games
             + 0.96040 / (CAST(games AS DOUBLE) * games)))
           / (1.0 + 3.841618 / games)) * 1000000.0) AS BIGINT)"""))
      .select($"sk".as("suppkey"), $"games", $"wins",
        $"winrate_milli", $"wilson_lo_micro")
      .orderBy($"wilson_lo_micro".desc, $"suppkey").limit(20)
  }

  val q473Oracle: String =
    """WITH rev AS (
         SELECT l_orderkey AS ord, l_suppkey AS sk,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
         FROM lineitem GROUP BY 1, 2),
       pairs AS (
         SELECT a.sk AS lo, b.sk AS hi,
                CASE WHEN a.rev >= b.rev THEN 1 ELSE 0 END AS lo_win
         FROM rev a JOIN rev b ON a.ord = b.ord AND a.sk < b.sk),
       sup AS (
         SELECT sk, CAST(count(*) AS BIGINT) AS games,
                CAST(sum(w) AS BIGINT) AS wins
         FROM (SELECT lo AS sk, lo_win AS w FROM pairs
               UNION ALL SELECT hi, 1 - lo_win FROM pairs)
         GROUP BY 1)
       SELECT sk AS suppkey, games, wins,
              wins * 1000 // games AS winrate_milli,
              CAST(floor(((CAST(wins AS DOUBLE) / games + 1.92080 / games
                - 1.959964 * sqrt((CAST(wins AS DOUBLE) / games)
                  * (1.0 - CAST(wins AS DOUBLE) / games) / games
                  + 0.96040 / (CAST(games AS DOUBLE) * games)))
                / (1.0 + 3.841618 / games)) * 1000000.0) AS BIGINT)
                AS wilson_lo_micro
       FROM sup
       ORDER BY wilson_lo_micro DESC, suppkey LIMIT 20"""


  // ---------------------------------------------------------------
  // q474 — GRPO advantage distribution
  // ---------------------------------------------------------------

  /** Group-relative advantage histogram (q474): the GRPO/RLOO
    * post-training read — within each "prompt group" (user), rewards
    * are normalized to advantages (v − mean)/σ, and the engine
    * reports the pooled advantage distribution in half-σ buckets
    * (clamped to ±4σ) plus the group count. A healthy reward model
    * gives a roughly symmetric unit-ish histogram; mass piled at the
    * clamps is the reward-hacking / saturation smell this readout
    * exists to catch.
    *
    * Determinism: per-group moments are exact int64 on centi-quantized
    * rewards (group sizes are human-bounded, so Σv² stays < 2⁵³ and
    * the doubles below are exact); the bucket index is ONE shared-IEEE
    * expression tree — floor(2·(v·n − s1)/(n·σ)) with σ from the
    * n·s2 − s1² form — mirrored verbatim in the oracle (q139/q128
    * discipline). Degenerate groups (n < 2 or zero variance) are
    * excluded on both sides. Scale: one scan → per-group moments →
    * equi-join back (AQE decides the build) → ≤17-row histogram. */
  def q474GrpoAdvantage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, d)
      .select($"user_id".as("g"), floor($"value" * 100).cast("long").as("v"))
    val m = rows.groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"v").as("s1"),
        sum($"v" * $"v").as("s2"))
      .filter($"n" >= 2 && $"s2" * $"n" > $"s1" * $"s1")
    rows.join(m, "g")
      .withColumn("bkt", expr(
        """greatest(-8L, least(8L, CAST(floor(
             2.0 * (CAST(v AS DOUBLE) * n - s1)
             / (n * sqrt((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * s1)
                         / (n - 1.0) / n))) AS BIGINT)))"""))
      .groupBy($"bkt").agg(count(lit(1)).as("cnt"),
        countDistinct($"g").as("n_groups"))
      .orderBy($"bkt")
  }

  val q474Oracle: String =
    """WITH rows_ AS (
         SELECT user_id AS g, CAST(floor(value * 100) AS BIGINT) AS v
         FROM events),
       m AS (
         SELECT g, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS BIGINT) AS s1,
                CAST(sum(v * v) AS BIGINT) AS s2
         FROM rows_ GROUP BY 1
         HAVING count(*) >= 2 AND
                CAST(sum(v * v) AS BIGINT) * CAST(count(*) AS BIGINT)
                  > CAST(sum(v) AS BIGINT) * CAST(sum(v) AS BIGINT)),
       b AS (
         SELECT greatest(-8, least(8, CAST(floor(
                  2.0 * (CAST(v AS DOUBLE) * n - s1)
                  / (n * sqrt((CAST(s2 AS DOUBLE) * n
                               - CAST(s1 AS DOUBLE) * s1)
                              / (n - 1.0) / n))) AS BIGINT))) AS bkt, g
         FROM rows_ JOIN m USING (g))
       SELECT bkt, CAST(count(*) AS BIGINT) AS cnt,
              CAST(count(DISTINCT g) AS BIGINT) AS n_groups
       FROM b GROUP BY bkt ORDER BY bkt"""

  // ---------------------------------------------------------------
  // q475 — best-of-n expected payoff
  // ---------------------------------------------------------------

  /** Best-of-n payoff planner (q475): if you sample n attempts and
    * keep the best score, what do you expect? E[max of n] =
    * Σ_v v·(F(v)ⁿ − F(v−)ⁿ) computed EXACTLY over the bounded score
    * histogram (quantity ∈ 1..50) — the closed-form that prices
    * best-of-n inference against its n× cost, next to q466's pass@k
    * (same question for binary rewards). n ∈ {1, 4, 16}.
    *
    * Determinism: F = cum/total is one exact-operand IEEE division
    * (both < 2⁵³); the powers are LADDERED SQUARINGS materialized as
    * named columns (f2=f·f, f4=f2·f2, f8=f4·f4, f16=f8·f8) because
    * IEEE multiplication is correctly rounded while pow() is
    * library-dependent — the one cross-engine-unsafe primitive this
    * module refuses. Scale: one scan → 50-cell histogram → bounded
    * cumulative window → 3-row readout. */
  def q475BestOfN(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.lineitem(s, d)
      .groupBy($"l_quantity".cast("long").as("q"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy($"q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val f = hist
      .withColumn("tot", sum($"c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("f1", expr("CAST(cum AS DOUBLE) / tot"))
      .withColumn("g1", expr("CAST(cum - c AS DOUBLE) / tot"))
      .withColumn("f2", $"f1" * $"f1").withColumn("g2", $"g1" * $"g1")
      .withColumn("f4", $"f2" * $"f2").withColumn("g4", $"g2" * $"g2")
      .withColumn("f8", $"f4" * $"f4").withColumn("g8", $"g4" * $"g4")
      .withColumn("f16", $"f8" * $"f8").withColumn("g16", $"g8" * $"g8")
    // each term is floored to nano BEFORE the sum: a raw double SUM is
    // reduce-order dependent, an int64 sum is exact in any order (the
    // module's no-double-reductions rule); ≤50 terms × ≤50 q × 1e9
    // stays far under int64
    f.agg(
        sum(expr("CAST(floor(q * (f1 - g1) * 1000000000.0) AS BIGINT)")).as("e1"),
        sum(expr("CAST(floor(q * (f4 - g4) * 1000000000.0) AS BIGINT)")).as("e4"),
        sum(expr("CAST(floor(q * (f16 - g16) * 1000000000.0) AS BIGINT)")).as("e16"))
      .select(explode(expr(
        """array(struct(1L AS n_samples, e1 div 1000000 AS e_max_milli),
                 struct(4L AS n_samples, e4 div 1000000 AS e_max_milli),
                 struct(16L AS n_samples, e16 div 1000000 AS e_max_milli))"""))
        .as("r"))
      .select($"r.n_samples".as("n_samples"), $"r.e_max_milli".as("e_max_milli"))
      .orderBy($"n_samples")
  }

  val q475Oracle: String =
    """WITH hist AS (
         SELECT CAST(l_quantity AS BIGINT) AS q,
                CAST(count(*) AS BIGINT) AS c
         FROM lineitem GROUP BY 1),
       f AS (
         SELECT q, c,
                CAST(sum(c) OVER () AS BIGINT) AS tot,
                CAST(sum(c) OVER (ORDER BY q
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
         FROM hist),
       p AS (
         SELECT q,
                CAST(cum AS DOUBLE) / tot AS f1,
                CAST(cum - c AS DOUBLE) / tot AS g1
         FROM f),
       p2 AS (SELECT q, f1, g1, f1*f1 AS f2, g1*g1 AS g2 FROM p),
       p4 AS (SELECT q, f1, g1, f2, g2, f2*f2 AS f4, g2*g2 AS g4 FROM p2),
       p8 AS (SELECT q, f1, g1, f4, g4, f4*f4 AS f8, g4*g4 AS g8 FROM p4),
       p16 AS (SELECT q, f1, g1, f4, g4, f8*f8 AS f16, g8*g8 AS g16 FROM p8),
       e AS (
         SELECT CAST(sum(CAST(floor(q * (f1 - g1) * 1000000000.0) AS BIGINT)) AS BIGINT) AS e1,
                CAST(sum(CAST(floor(q * (f4 - g4) * 1000000000.0) AS BIGINT)) AS BIGINT) AS e4,
                CAST(sum(CAST(floor(q * (f16 - g16) * 1000000000.0) AS BIGINT)) AS BIGINT) AS e16
         FROM p16)
       SELECT n_samples, e_max_milli FROM (
         SELECT 1 AS n_samples, e1 // 1000000 AS e_max_milli FROM e
         UNION ALL
         SELECT 4, e4 // 1000000 FROM e
         UNION ALL
         SELECT 16, e16 // 1000000 FROM e)
       ORDER BY n_samples"""

  // ---------------------------------------------------------------
  // q476 — position-bias audit for pairwise judgments
  // ---------------------------------------------------------------

  /** Judge-level position-bias core of [[q476PositionBias]], exposed
    * for crafted-judgment tests. Input: one row per pairwise judgment
    * — (judge, lo, hi, lo_first, lo_win) with lo < hi, `lo_first` = 1
    * when lo was presented in position 1, `lo_win` = 1 when lo won.
    * Output per judge: the position-1 win rate (an unbiased judge sits
    * near the tie-break-adjusted base rate; mass above it is position
    * bias) and the swap-consistency rate over pairs the judge saw in
    * BOTH orientations (majority verdict per orientation; a consistent
    * judge gives the same verdict regardless of presentation order —
    * the standard LLM-judge QA check). */
  def positionBias(jm: DataFrame): DataFrame = {
    val s = jm.sparkSession
    import s.implicits._
    val pc = jm.groupBy($"judge", $"lo", $"hi")
      .agg(sum($"lo_first").as("n1"),
        sum($"lo_win" * $"lo_first").as("w1"),
        (count(lit(1)) - sum($"lo_first")).as("n2"),
        sum($"lo_win" * (lit(1L) - $"lo_first")).as("w2"))
    pc.groupBy($"judge")
      .agg(sum($"n1" + $"n2").as("n_judgments"),
        sum($"w1" + $"n2" - $"w2").as("pos1_wins"),
        sum(when($"n1" > 0 && $"n2" > 0, 1L).otherwise(0L))
          .as("n_swap_pairs"),
        sum(when($"n1" > 0 && $"n2" > 0 &&
          (($"w1" * 2 >= $"n1") === ($"w2" * 2 >= $"n2")), 1L)
          .otherwise(0L)).as("consist"))
      .select($"judge", $"n_judgments",
        expr("pos1_wins * 1000 div n_judgments").as("pos1_win_milli"),
        $"n_swap_pairs",
        expr("consist * 1000 div greatest(n_swap_pairs, 1L)")
          .as("swap_consistent_milli"))
      .orderBy($"judge")
  }

  /** Position-bias audit (q476, VERDICT r10 ask #6a): the q465 pair
    * machinery re-read as PRESENTED pairs — within each order's
    * basket, the supplier whose first lineitem appears earlier
    * (min l_linenumber) holds position 1; the winner is the higher
    * revenue with ties to position 1 (tie-to-first is itself the bias
    * being audited). Judges are the five order priorities. Per judge:
    * position-1 win rate, and swap-consistency over (lo, hi) pairs the
    * judge saw in both presentation orders.
    *
    * Scale: pair generation is basket-blocked (≤21 pairs/order); the
    * judge key arrives by one un-hinted fact-fact equi-join (orders);
    * the per-(judge, pair) aggregate is an equi-shuffle whose key
    * domain is bounded by observed baskets, and the output is 5 rows.
    * All arithmetic exact-integer (milli, `div` floors mirrored). */
  def q476PositionBias(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // revenue rides as exact integer cents — comparisons are
    // bit-identical to the oracle's DECIMAL-sum comparisons.
    // r14: the per-supplier (rev, first-position) reduce moved OUT of
    // the array — the triple-pass O(b²) HOF (array_distinct + two
    // filter-aggregates per key) measured 2.66 s on the front end
    // alone vs 0.81 s for repartition(ord) + a codegen hash aggregate
    // (the q470 discipline: HashPartitioning(ord) satisfies both the
    // (ord, sk) reduce and the ballot collect — one exchange, no HOF)
    val jm = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ord"), $"l_suppkey".as("sk"),
        (($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,2)") * 100).cast("long").as("c"),
        $"l_linenumber".cast("long").as("lnum"))
      .repartition($"ord")
      .groupBy($"ord", $"sk")
      .agg(sum($"c").as("rev"), min($"lnum").as("ln"))
      .groupBy($"ord")
      .agg(collect_list(struct($"sk", $"rev", $"ln")).as("bs"))
      .filter(size($"bs") >= 2)
      .join(Tables.orders(s, d)
        .select($"o_orderkey", $"o_orderpriority".as("judge")),
        $"ord" === $"o_orderkey")
      .select($"judge", explode(expr(
        """flatten(transform(bs, x ->
             transform(filter(bs, y -> y.sk > x.sk), y -> struct(
               x.sk AS lo, y.sk AS hi,
               CASE WHEN x.ln < y.ln THEN 1L ELSE 0L END AS lo_first,
               CASE WHEN (x.ln < y.ln AND x.rev >= y.rev)
                      OR (y.ln < x.ln AND x.rev > y.rev)
                 THEN 1L ELSE 0L END AS lo_win))))""")).as("pr"))
      .select($"judge", $"pr.lo", $"pr.hi", $"pr.lo_first", $"pr.lo_win")
    positionBias(jm)
  }

  val q476Oracle: String =
    """WITH rev AS (
         SELECT l_orderkey AS ord, l_suppkey AS sk,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev,
                CAST(min(l_linenumber) AS BIGINT) AS ln
         FROM lineitem GROUP BY 1, 2),
       jm AS (
         SELECT o_orderpriority AS judge,
                a.sk AS lo, b.sk AS hi,
                CASE WHEN a.ln < b.ln THEN 1 ELSE 0 END AS lo_first,
                CASE WHEN (a.ln < b.ln AND a.rev >= b.rev)
                       OR (b.ln < a.ln AND a.rev > b.rev)
                  THEN 1 ELSE 0 END AS lo_win
         FROM rev a JOIN rev b ON a.ord = b.ord AND a.sk < b.sk
         JOIN orders ON o_orderkey = a.ord),
       pc AS (
         SELECT judge, lo, hi,
                CAST(sum(lo_first) AS BIGINT) AS n1,
                CAST(sum(lo_win * lo_first) AS BIGINT) AS w1,
                CAST(count(*) - sum(lo_first) AS BIGINT) AS n2,
                CAST(sum(lo_win * (1 - lo_first)) AS BIGINT) AS w2
         FROM jm GROUP BY 1, 2, 3)
       SELECT judge,
              CAST(sum(n1 + n2) AS BIGINT) AS n_judgments,
              CAST(sum(w1 + n2 - w2) AS BIGINT) * 1000
                // CAST(sum(n1 + n2) AS BIGINT) AS pos1_win_milli,
              CAST(sum(CASE WHEN n1 > 0 AND n2 > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_swap_pairs,
              CAST(sum(CASE WHEN n1 > 0 AND n2 > 0
                        AND ((2*w1 >= n1) = (2*w2 >= n2))
                        THEN 1 ELSE 0 END) AS BIGINT) * 1000
                // greatest(CAST(sum(CASE WHEN n1 > 0 AND n2 > 0
                             THEN 1 ELSE 0 END) AS BIGINT), 1)
                AS swap_consistent_milli
       FROM pc GROUP BY judge ORDER BY judge"""

  // ---------------------------------------------------------------
  // q477 — online Elo (sequential rating periods)
  // ---------------------------------------------------------------

  /** Elo expected-score table in milli for a rating diff `d` (milli
    * points): a bounded CASE ladder standing in for the logistic
    * 1/(1+10^(-d/400)) — pow() is library-dependent across engines
    * (the module's one refused primitive), while the FIDE-style lookup
    * table is exact-integer and EXACTLY antisymmetric: e(d) + e(-d) =
    * 1000 for every d, so ratings stay zero-sum. Identical SQL text in
    * both engines (only the diff operand differs). */
  private[graft] def eloExpected(d: String): String =
    s"""CASE WHEN ($d) <= -400000 THEN 91 WHEN ($d) <= -200000 THEN 240
             WHEN ($d) <= -100000 THEN 360 WHEN ($d) < 0 THEN 440
             WHEN ($d) = 0 THEN 500 WHEN ($d) < 100000 THEN 560
             WHEN ($d) < 200000 THEN 640 WHEN ($d) < 400000 THEN 760
             ELSE 909 END"""

  /** The sequential Elo fold over a sorted rating-period array, for a
    * fixed `n`-player roster keyed 0..n-1: `ms` is an array of
    * struct(t, gs: array(struct(a, b, awin))); the fold carries the
    * n-element milli-rating vector, applying each period's games as a
    * BATCH against the period-START ratings (the classical
    * rating-period form — and what makes the per-period update
    * order-free: deltas are integer sums). K = 32 points. Exposed for
    * crafted-tournament tests. Spark's transform/aggregate lambda
    * index is 0-based (the DuckDB twin's is 1-based). */
  private[graft] def eloFoldExpr(msCol: String, n: Int): String = {
    // element_at takes an INT ordinal; player keys may arrive as BIGINT
    val ra = "element_at(acc, CAST(g.a AS INT) + 1)"
    val rb = "element_at(acc, CAST(g.b AS INT) + 1)"
    val eA = eloExpected(s"$ra - $rb")
    val eB = eloExpected(s"$rb - $ra")
    s"""aggregate($msCol, array_repeat(1500000L, $n), (acc, mo) ->
          transform(acc, (r, i) -> r + aggregate(
            filter(mo.gs, g -> g.a = i OR g.b = i), 0L,
            (sacc, g) -> sacc + CASE WHEN g.a = i
              THEN 32 * (g.awin * 1000 - ($eA))
              ELSE 32 * ((1 - g.awin) * 1000 - ($eB)) END)))"""
  }

  /** Online Elo (q477, VERDICT r10 ask #6b): the SEQUENTIAL twin of
    * q465's batch Bradley–Terry — nations are a fixed 25-player roster
    * (keys 0..24, schema-bounded); each ship-month is a rating period
    * in which every nation pair plays one game (winner = higher
    * monthly supplier revenue, missing months count 0, ties to the
    * lower key); ratings update period by period in month order, so a
    * nation's rating reflects WHEN it won, not just how often — the
    * online/streaming read q465's order-free MM fit cannot give.
    *
    * Scale: one fact scan → (month, nation) aggregate (bounded: 25 ×
    * calendar months); the game grid is bounded-cross-bounded; the
    * fold runs on ONE row over ~25k game structs — the 100 TB cost
    * lives entirely in the first aggregate. Exact-integer throughout;
    * the expected-score table replaces pow() (see [[eloExpected]]).
    * Same-code check: zero-sum conservation Σr = 25·1500000 is a
    * structural invariant of the antisymmetric table. */
  def q477OnlineElo(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mrev = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy((year($"l_shipdate") * 12 + month($"l_shipdate")).as("m"),
        $"s_nationkey".as("nk"))
      .agg(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
        .cast("decimal(18,2)")).as("rev"))
    val mn = mrev.select($"m").distinct()
      .withColumn("t", row_number().over(Window.orderBy($"m")).cast("long"))
    val nk = Tables.nation(s, d).select($"n_nationkey")
    val grid = mn.crossJoin(nk.select($"n_nationkey".as("a")))
      .crossJoin(nk.select($"n_nationkey".as("b")))
      .filter($"a" < $"b")
    // games is consumed twice (the fold and the win totals): one cheap
    // materialization of the bounded ~|months|·300-row relation
    val games = grid
      .join(mrev.select($"m".as("ma"), $"nk".as("nka"), $"rev".as("ra")),
        $"m" === $"ma" && $"a" === $"nka", "left")
      .join(mrev.select($"m".as("mb"), $"nk".as("nkb"), $"rev".as("rb")),
        $"m" === $"mb" && $"b" === $"nkb", "left")
      .select($"t", $"a", $"b",
        when(coalesce($"ra", lit(0)) >= coalesce($"rb", lit(0)), 1L)
          .otherwise(0L).as("awin"))
      .localCheckpoint()
    val folded = games.groupBy($"t")
      .agg(sort_array(collect_list(struct($"a", $"b", $"awin"))).as("gs"))
      .agg(sort_array(collect_list(struct($"t", $"gs"))).as("ms"))
      .select(expr(eloFoldExpr("ms", 25)).as("rs"))
    val wins = games
      .select(expr("stack(2, a, awin, b, 1L - awin)").as(Seq("nk", "w")))
      .groupBy($"nk").agg(sum($"w").as("wins"))
    folded
      .select(posexplode($"rs").as(Seq("idx", "elo_milli")))
      .select($"idx".cast("long").as("nationkey"), $"elo_milli")
      .join(Tables.nation(s, d)
        .select($"n_nationkey", $"n_name".as("name")),
        $"nationkey" === $"n_nationkey")
      .join(wins, $"nationkey" === wins("nk"))
      .select($"nationkey", $"name", $"wins", $"elo_milli")
      .orderBy($"elo_milli".desc, $"nationkey")
  }

  val q477Oracle: String = {
    val eA = eloExpected("e.rs[g.a + 1] - e.rs[g.b + 1]")
    val eB = eloExpected("e.rs[g.b + 1] - e.rs[g.a + 1]")
    s"""WITH RECURSIVE mrev AS (
         SELECT (year(l_shipdate) * 12 + month(l_shipdate)) AS m,
                s_nationkey AS nk,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
         GROUP BY 1, 2),
       mn AS (
         SELECT m, CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t
         FROM (SELECT DISTINCT m FROM mrev)),
       grid AS (
         SELECT mn.t, mn.m, a.n_nationkey AS a, b.n_nationkey AS b
         FROM mn, nation a, nation b WHERE a.n_nationkey < b.n_nationkey),
       games AS (
         SELECT g.t, g.a, g.b,
                CASE WHEN coalesce(ra.rev, 0) >= coalesce(rb.rev, 0)
                  THEN 1 ELSE 0 END AS awin
         FROM grid g
         LEFT JOIN mrev ra ON ra.m = g.m AND ra.nk = g.a
         LEFT JOIN mrev rb ON rb.m = g.m AND rb.nk = g.b),
       mgames AS (
         SELECT t, list(struct_pack(a := a, b := b, awin := awin)
                  ORDER BY a, b) AS gs
         FROM games GROUP BY t),
       elo AS (
         SELECT CAST(0 AS BIGINT) AS t,
                (SELECT list_transform(generate_series(1, 25),
                   x -> CAST(1500000 AS BIGINT))) AS rs
         UNION ALL
         SELECT e.t + 1,
                list_transform(e.rs, (r, i) -> r + coalesce(list_sum(
                  list_transform(
                    list_filter(mg.gs, g -> g.a = i - 1 OR g.b = i - 1),
                    g -> CASE WHEN g.a = i - 1
                      THEN 32 * (g.awin * 1000 - ($eA))
                      ELSE 32 * ((1 - g.awin) * 1000 - ($eB)) END)), 0))
         FROM elo e JOIN mgames mg ON mg.t = e.t + 1),
       final AS (SELECT rs FROM elo ORDER BY t DESC LIMIT 1),
       rated AS (
         SELECT unnest(list_transform(rs, (r, i) -> struct_pack(
                  nationkey := CAST(i - 1 AS BIGINT), elo_milli := r)),
                recursive := true)
         FROM final),
       wins AS (
         SELECT nk, CAST(sum(w) AS BIGINT) AS wins FROM (
           SELECT a AS nk, awin AS w FROM games
           UNION ALL SELECT b, 1 - awin FROM games)
         GROUP BY 1)
       SELECT nationkey, n_name AS name, wins, elo_milli
       FROM rated JOIN nation ON n_nationkey = nationkey
       JOIN wins ON nk = nationkey
       ORDER BY elo_milli DESC, nationkey"""
  }

  /** The module's queries. Value-sanity hooks (VERDICT r11 ask #7) —
    * see [[Annotation.queries]]. q489's 1000× acc_micro slip is exactly
    * the class these catch; only provable invariants are asserted. */
  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      // strengths are positive; a supplier cannot win more than it plays
      Query("q465_bradley_terry", q465BradleyTerry, q465Oracle,
        Hooks(nonEmpty, range("wins", 0, Long.MaxValue / 2),
          range("games - wins", 0, Long.MaxValue / 2),
          range("p1_micro", 1, 1000000000000L),
          range("p2_micro", 1, 1000000000000L))),
      // pass@k is a probability and monotone in k
      Query("q466_pass_at_k", q466PassAtK, q466Oracle,
        Hooks(nonEmpty, range("pass1_milli", 0, 1000),
          range("pass10_milli", 0, 1000),
          range("pass5_milli - pass1_milli", 0, 1000),
          range("pass10_milli - pass5_milli", 0, 1000))),
      // percentile CI: hi >= lo by construction (point can fall
      // outside a percentile interval in theory — not asserted)
      Query("q467_bootstrap_ci", q467BootstrapCi, q467Oracle,
        Hooks(nonEmpty, atLeast("hi_milli - lo_milli", 0))),
      Query("q468_permutation_test", q468PermutationTest, q468Oracle,
        Hooks(nonEmpty, range("p_milli", 0, 1000))),
      Query("q469_mcnemar", q469McNemar, q469Oracle, NoBound("McNemar chi-square unbounded above")),
      Query("q470_borda_count", q470BordaCount, q470Oracle,
        NoBound("structural: ballots/points scale with row count - oracle hash is the check")),
      Query("q471_roc_auc", q471RocAuc, q471Oracle,
        Hooks(nonEmpty, range("auc_micro", 0, 1000000),
          range("gini_micro", -1000000, 1000000))),
      Query("q472_mde_planner", q472MdePlanner, q472Oracle,
        NoBound("planner grid of literals + sigma/MDE in cents-e4 - money scale")),
      // a Wilson lower bound never exceeds the point estimate
      Query("q473_wilson_leaderboard", q473WilsonLeaderboard, q473Oracle,
        Hooks(nonEmpty,
          range("winrate_milli", 0, 1000), range("wilson_lo_micro", 0, 1000000),
          range("winrate_milli * 1000 - wilson_lo_micro", 0, 1000000))),
      Query("q474_grpo_advantage", q474GrpoAdvantage, q474Oracle,
        NoBound("structural: advantage-bucket counts - z-domain buckets are literals")),
      Query("q475_best_of_n", q475BestOfN, q475Oracle,
        NoBound("expected max reward in cents - money scale")),
      Query("q476_position_bias", q476PositionBias, q476Oracle,
        Hooks(nonEmpty,
          range("pos1_win_milli", 0, 1000),
          range("swap_consistent_milli", 0, 1000))),
      Query("q477_online_elo", q477OnlineElo, q477Oracle,
        NoBound("Elo ratings unbounded both sides")),
    )
  }
}
