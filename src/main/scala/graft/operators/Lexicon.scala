package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Tokenizer-training and corpus-composition operators — the lexical
  * layer of a training-data pipeline: learning a subword vocabulary
  * from the corpus (BPE), budgeting a stratified sample across slices
  * (Neyman allocation), and scoring pairwise textual overlap with the
  * summarization-style clipped n-gram metrics (ROUGE).
  *
  * Scale design:
  *  - q280 BPE: the working set after the first groupBy is the WORD
  *    HISTOGRAM — vocabulary-sized, not corpus-sized. 100 TB of text
  *    collapses to |vocab| rows in one partial-agg pass, and every
  *    merge round is an explode + partial agg over that bounded
  *    relation plus a 1-row TakeOrdered argmax that re-enters the plan
  *    as a broadcast. No driver-side loop state beyond the unrolled
  *    round count (q237's driver-loop contract).
  *  - q281 Neyman: per-stratum moments are one partial-agg groupBy;
  *    the allocation window runs over the |strata|-row aggregate
  *    (bounded — the "window above aggregation" shape that the window
  *    rule of `ScaleGuard.rules` accepts).
  *  - q282 ROUGE: candidate pairs come from the shared q42 inverted-
  *    index relation (already thresholded + banded); the clipped
  *    overlap join touches only the ≤2·topK selected documents, pinned
  *    to broadcast joins.
  */
object Lexicon extends graft.QueryModule {

  /** Byte-pair-encoding merge learning, 3 synchronous rounds (Sennrich
    * et al. 2016 — the tokenizer-training core of every LLM data
    * stack), fully in-plan:
    *
    *  1. one corpus scan → word histogram (freq-weighted; the BPE
    *     working set is vocab-sized from here on);
    *  2. per round: adjacent-symbol pair counts (explode + partial
    *     agg, overlap-counting like the reference algorithm), argmax
    *     pair by (count desc, pair asc — deterministic tie-break),
    *     merge applied via non-overlapping left-to-right string
    *     replacement.
    *
    * The merge-application trick keeps everything in Catalyst: symbols
    * are rendered as a DOUBLE-space-joined, single-space-padded string
    * (" a  b  c "); the pair (a,b) becomes the pattern " a  b " whose
    * non-overlapping left-to-right `replace` (identical semantics in
    * Spark and DuckDB) is EXACTLY the greedy BPE merge scan — each
    * match consumes one space from each neighboring boundary and the
    * replacement " ab " restores them, so "a a a a" → "aa aa" and
    * "a a a" → "aa a" like the reference implementation, while the
    * double-space boundary makes a cross-symbol false match (pair
    * "x y" against "…ax  y…") impossible.
    *
    * The per-round localCheckpoint is the driver-loop contract (q237):
    * it cuts the re-derivation of round r-1's argmax out of round r's
    * lineage; the checkpointed relation is vocab-sized.
    *
    * Output: one row per merge round (pair, merged symbol, weighted
    * count) + a round-0 summary row carrying the corpus symbol count
    * after all merges. */
  /** One BPE merge applied to a symbol array: non-overlapping
    * left-to-right replacement of adjacent pair `pair` ("a b") by its
    * concatenation, via the padded double-space string rendering (see
    * q280's scaladoc for why this is exactly the greedy merge scan).
    * Exposed for direct spec testing of the boundary cases. */
  private[graft] def mergeSyms(syms: Column, pair: Column): Column =
    split(trim(replace(
      concat(lit(" "), array_join(syms, "  "), lit(" ")),
      concat(lit(" "), replace(pair, lit(" "), lit("  ")), lit(" ")),
      concat(lit(" "), replace(pair, lit(" "), lit("")), lit(" ")))),
      "  ")

  def q280BpeMergeLoop(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wh = Tables.documents(s, d)
      .select(explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select($"freq",
        transform(sequence(lit(1), length($"w")),
          i => $"w".substr(i, lit(1))).as("syms"))
      .localCheckpoint()
    var cur = wh
    var rounds = Vector.empty[DataFrame]
    for (r <- 1 to 3) {
      val pairs = cur.filter(size($"syms") >= 2)
        .select($"freq",
          explode(transform(sequence(lit(1), size($"syms") - 1),
            i => concat(element_at($"syms", i), lit(" "),
              element_at($"syms", i + 1)))).as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
      val best = pairs.orderBy($"cnt".desc, $"pair").limit(1)
      rounds = rounds :+ best.select(lit(r.toLong).as("round"), $"pair",
        replace($"pair", lit(" "), lit("")).as("merged"), $"cnt")
      cur = cur.crossJoin(broadcast(best.select($"pair".as("bp"))))
        .select($"freq", mergeSyms($"syms", $"bp").as("syms"))
        .localCheckpoint()
    }
    val summary = cur.agg(sum($"freq" * size($"syms")).as("cnt"))
      .select(lit(0L).as("round"), lit("").as("pair"),
        lit("corpus_symbols").as("merged"), $"cnt")
    rounds.reduce(_ unionByName _).unionByName(summary).orderBy($"round")
  }

  val q280Oracle: String =
    """WITH wh AS (
         SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
           SELECT unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS w
           FROM documents) GROUP BY 1),
       w0 AS (SELECT freq,
                list_transform(generate_series(1, len(w)), i -> w[i]) AS syms
              FROM wh),
       p1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
                         i -> syms[i] || ' ' || syms[i+1])) AS pair
                FROM w0 WHERE len(syms) >= 2) GROUP BY 1),
       b1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
       w1 AS (SELECT freq,
                string_split(trim(replace(
                  ' ' || array_to_string(syms, '  ') || ' ',
                  ' ' || replace(b1.pair, ' ', '  ') || ' ',
                  ' ' || replace(b1.pair, ' ', '') || ' ')), '  ') AS syms
              FROM w0, b1),
       p2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
                         i -> syms[i] || ' ' || syms[i+1])) AS pair
                FROM w1 WHERE len(syms) >= 2) GROUP BY 1),
       b2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
       w2 AS (SELECT freq,
                string_split(trim(replace(
                  ' ' || array_to_string(syms, '  ') || ' ',
                  ' ' || replace(b2.pair, ' ', '  ') || ' ',
                  ' ' || replace(b2.pair, ' ', '') || ' ')), '  ') AS syms
              FROM w1, b2),
       p3 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
                         i -> syms[i] || ' ' || syms[i+1])) AS pair
                FROM w2 WHERE len(syms) >= 2) GROUP BY 1),
       b3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
       w3 AS (SELECT freq,
                string_split(trim(replace(
                  ' ' || array_to_string(syms, '  ') || ' ',
                  ' ' || replace(b3.pair, ' ', '  ') || ' ',
                  ' ' || replace(b3.pair, ' ', '') || ' ')), '  ') AS syms
              FROM w2, b3)
       SELECT * FROM (
         SELECT CAST(1 AS BIGINT) AS round, pair, replace(pair, ' ', '') AS merged, cnt FROM b1
         UNION ALL
         SELECT CAST(2 AS BIGINT), pair, replace(pair, ' ', ''), cnt FROM b2
         UNION ALL
         SELECT CAST(3 AS BIGINT), pair, replace(pair, ' ', ''), cnt FROM b3
         UNION ALL
         SELECT CAST(0 AS BIGINT), '', 'corpus_symbols',
           CAST(sum(freq * len(syms)) AS BIGINT) FROM w3)
       ORDER BY round"""

  /** Neyman-allocated stratified sampling plan (Neyman 1934): split a
    * 10,000-row sample budget across customer market segments
    * proportionally to N_h·σ_h — the allocation that minimizes the
    * variance of the stratified mean estimator. The corpus-sampling
    * counterpart: budget annotation/eval slots across slices by how
    * big AND how internally varied each slice is, not by size alone.
    *
    * Determinism: moments are exact int64 sums of integer cents; σ_h
    * is the population sd floored to whole cents, computed by the SAME
    * IEEE expression tree on both engines (products formed in double —
    * the int64 square of a cent sum overflows, q245's rule); the
    * integer largest-remainder rounding makes allocations sum to the
    * budget exactly, ties broken by segment name. The remainder-rank
    * window runs over the 5-row strata aggregate. */
  def q281NeymanAllocation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val st = Tables.customer(s, d)
      .select($"c_mktsegment".as("segment"),
        ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_h"), sum($"cents").as("sum_c"),
        sum($"cents" * $"cents").as("sumsq_c"))
      .withColumn("sd_c",
        floor(sqrt(($"sumsq_c".cast("double")
          - $"sum_c".cast("double") * $"sum_c".cast("double") / $"n_h")
          / $"n_h")).cast("long"))
      .withColumn("weight", $"n_h" * $"sd_c")
    val tot = st.agg(sum($"weight").as("w_tot"))
    val base = st.crossJoin(broadcast(tot))
      .withColumn("alloc_floor", expr("(10000 * weight) div w_tot"))
      .withColumn("rem", expr("(10000 * weight) % w_tot"))
    val leftover = base.agg((lit(10000L) - sum($"alloc_floor")).as("left"))
    val rw = Window.orderBy($"rem".desc, $"segment")
    base.crossJoin(broadcast(leftover))
      .withColumn("rr", row_number().over(rw).cast("long"))
      .select($"segment", $"n_h", $"sd_c", $"weight",
        ($"alloc_floor" + when($"rr" <= $"left", 1L).otherwise(0L))
          .as("alloc"))
      .orderBy($"segment")
  }

  val q281Oracle: String =
    """WITH st AS (
         SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_h,
           CAST(sum(cents) AS BIGINT) AS sum_c,
           CAST(sum(cents * cents) AS BIGINT) AS sumsq_c
         FROM (SELECT c_mktsegment,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM customer)
         GROUP BY 1),
       sd AS (
         SELECT *, CAST(floor(sqrt((CAST(sumsq_c AS DOUBLE)
                  - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n_h)
                  / n_h)) AS BIGINT) AS sd_c
         FROM st),
       w AS (SELECT *, n_h * sd_c AS weight FROM sd),
       t AS (SELECT CAST(sum(weight) AS BIGINT) AS w_tot FROM w),
       base AS (
         SELECT w.*, (10000 * weight) // w_tot AS alloc_floor,
           (10000 * weight) % w_tot AS rem
         FROM w, t),
       lo AS (SELECT 10000 - CAST(sum(alloc_floor) AS BIGINT) AS leftover FROM base),
       rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, segment) AS rr
              FROM base)
       SELECT segment, n_h, sd_c, weight,
         CAST(alloc_floor + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
       FROM rk, lo ORDER BY segment"""

  /** ROUGE-1/2 scoring (Lin 2004) over the top-20 near-duplicate
    * candidate pairs: clipped n-gram precision / recall / F1 in basis
    * points, the summarization-metric view of pairwise overlap that
    * complements Jaccard (q42 treats grams as a SET; ROUGE clips by
    * occurrence count, so repeated boilerplate is counted once per
    * occurrence on the smaller side, not once total).
    *
    * Scale: candidates come from the shared q42 inverted-index pair
    * relation (banded + thresholded — never all pairs); the gram
    * relation is built ONLY for the ≤40 selected documents (the id
    * relation carries that bound as a plan-level limit) and its
    * overlap joins are plain equi-joins — tiny by construction, so
    * AQE broadcasts them at runtime without a pinned hint. F1 needs
    * no float: with
    * overlap o and sizes s1,s2, F1 = 2o/(s1+s2), so f1_bp =
    * 20000·o div (s1+s2) exactly. */
  def q282RougePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val top = Dedup.jaccardPairs(s, d)
      .orderBy($"jaccard_bp".desc, $"doc1", $"doc2").limit(20)
      .select($"doc1", $"doc2").localCheckpoint()
    val ids = top.select($"doc1".as("doc_id"))
      .unionByName(top.select($"doc2".as("doc_id"))).distinct()
      .limit(40) // 2 × top-20, restated past the checkpoint for the audit
    val docs = Tables.documents(s, d).join(broadcast(ids), "doc_id")
      .select($"doc_id", tokens($"text").as("tk"))
    val uni = docs.select($"doc_id", lit(1L).as("n"), explode($"tk").as("g"))
    val bi = docs.filter(size($"tk") >= 2)
      .select($"doc_id", lit(2L).as("n"),
        explode(transform(sequence(lit(1), size($"tk") - 1),
          i => concat(element_at($"tk", i), lit(" "),
            element_at($"tk", i + 1)))).as("g"))
    val grams = uni.unionByName(bi)
      .groupBy($"doc_id", $"n", $"g").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val sizes = grams.groupBy($"doc_id", $"n").agg(sum($"tf").as("sz"))
    val ov = top
      .join(grams.as("ga"), $"doc1" === col("ga.doc_id"))
      .join(grams.as("gb"),
        $"doc2" === col("gb.doc_id") && col("ga.n") === col("gb.n") &&
          col("ga.g") === col("gb.g"))
      .groupBy($"doc1", $"doc2", col("ga.n").as("n"))
      .agg(sum(least(col("ga.tf"), col("gb.tf"))).as("ov"))
    val pairN = top.crossJoin(
      Seq(1L, 2L).toDF("n"))
    pairN
      .join(ov, Seq("doc1", "doc2", "n"), "left")
      .join(sizes.select($"doc_id".as("doc1"), $"n",
        $"sz".as("sz1")), Seq("doc1", "n"))
      .join(sizes.select($"doc_id".as("doc2"), $"n",
        $"sz".as("sz2")), Seq("doc2", "n"))
      .select($"doc1", $"doc2", $"n",
        coalesce($"ov", lit(0L)).as("ov"), $"sz1", $"sz2")
      .withColumn("p_bp", expr("(10000 * ov) div sz2"))
      .withColumn("r_bp", expr("(10000 * ov) div sz1"))
      .withColumn("f1_bp", expr("(20000 * ov) div (sz1 + sz2)"))
      .orderBy($"doc1", $"doc2", $"n")
  }

  val q282Oracle: String =
    """WITH tkk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       shd0 AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tkk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM shd0 WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       cand AS (
         SELECT doc1, doc2,
           CAST(floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_bp
         FROM inter
         JOIN nz sa ON doc1 = sa.doc_id
         JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       top AS (SELECT doc1, doc2 FROM cand
               ORDER BY jaccard_bp DESC, doc1, doc2 LIMIT 20),
       sel AS (SELECT DISTINCT doc_id FROM
                 (SELECT doc1 AS doc_id FROM top
                  UNION ALL SELECT doc2 FROM top)),
       dtk AS (SELECT t.doc_id, tk FROM tkk t JOIN sel USING (doc_id)),
       grams AS (
         SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS tf FROM (
           SELECT doc_id, CAST(1 AS BIGINT) AS n, unnest(tk) AS g FROM dtk
           UNION ALL
           SELECT doc_id, CAST(2 AS BIGINT) AS n,
             unnest(list_transform(generate_series(1, len(tk)-1),
               i -> tk[i] || ' ' || tk[i+1])) AS g
           FROM dtk WHERE len(tk) >= 2)
         GROUP BY 1, 2, 3),
       sizes AS (SELECT doc_id, n, CAST(sum(tf) AS BIGINT) AS sz
                 FROM grams GROUP BY 1, 2),
       ov AS (
         SELECT doc1, doc2, ga.n AS n,
           CAST(sum(least(ga.tf, gb.tf)) AS BIGINT) AS ov
         FROM top
         JOIN grams ga ON doc1 = ga.doc_id
         JOIN grams gb ON doc2 = gb.doc_id AND ga.n = gb.n AND ga.g = gb.g
         GROUP BY 1, 2, 3),
       pn AS (SELECT doc1, doc2, n FROM top, (SELECT unnest([1, 2]) AS n))
       SELECT pn.doc1, pn.doc2, CAST(pn.n AS BIGINT) AS n,
         COALESCE(ov.ov, 0) AS ov, s1.sz AS sz1, s2.sz AS sz2,
         (10000 * COALESCE(ov.ov, 0)) // s2.sz AS p_bp,
         (10000 * COALESCE(ov.ov, 0)) // s1.sz AS r_bp,
         (20000 * COALESCE(ov.ov, 0)) // (s1.sz + s2.sz) AS f1_bp
       FROM pn
       LEFT JOIN ov ON pn.doc1 = ov.doc1 AND pn.doc2 = ov.doc2 AND pn.n = ov.n
       JOIN sizes s1 ON pn.doc1 = s1.doc_id AND pn.n = s1.n
       JOIN sizes s2 ON pn.doc2 = s2.doc_id AND pn.n = s2.n
       ORDER BY pn.doc1, pn.doc2, pn.n"""

  /** Per-language Jensen–Shannon divergence against the REST of the
    * corpus — the slice-drift metric behind mixture rebalancing: how
    * far does each language's unigram distribution sit from the
    * complement's? (JSD is KL's symmetric, bounded [0, ln 2] cousin —
    * the right shape for "how different is this slice", where raw KL
    * blows up on slice-only vocabulary.)
    *
    * Determinism (q141's rule): with a = lang term count, A = lang
    * total, b = complement count, B = complement total, the two odds
    * ratios p/m = 2aB/(aB+bA) and q/m = 2bA/(aB+bA) are exact int64
    * rationals (products < 2⁵³); each term's ln is floored to
    * micro-nats ONCE, weighted by the INTEGER counts a (resp. b), and
    * the per-language jsd is (s1 div A + s2 div B) div 2 — integer
    * sums, order-free, engine-identical. Terms absent from a side
    * contribute zero to that side (the 0·ln 0 limit), so each sum runs
    * only over its side's support. Each KL sum is clamped at 0 before
    * its division (ADVICE r6): KL is nonnegative by construction, but
    * floor-quantization can push a near-identical slice's sum a few
    * micro-nats below zero, where Spark `div` (truncates) and DuckDB
    * `//` (floors) would disagree — the clamp restores both the math
    * and the repo's signed-value floor idiom.
    *
    * Scale: per-(lang, term) counts are one corpus-scan partial agg;
    * everything downstream (term marginals, the langs × vocab
    * complement relation) is VOCAB-sized. The lang-totals dim enters
    * as a broadcast. */
  def q283JsdSlices(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lt = Tables.documents(s, d)
      .select($"lang", explode(tokens($"text")).as("term"))
      .groupBy($"lang", $"term").agg(count(lit(1)).as("a"))
      .localCheckpoint()
    val gt = lt.groupBy($"term").agg(sum($"a").as("gt"))
    val al = lt.groupBy($"lang").agg(sum($"a").as("atot"))
    val tot = lt.agg(sum($"a").as("t"))
    // langs × vocab complement grid: VOCAB-sized per language —
    // bounded by type counts, not corpus size
    val grid = gt.crossJoin(broadcast(al)).crossJoin(broadcast(tot))
      .join(lt, Seq("lang", "term"), "left")
      .select($"lang", $"term", coalesce($"a", lit(0L)).as("a"),
        ($"gt" - coalesce($"a", lit(0L))).as("b"),
        $"atot", ($"t" - $"atot").as("btot"))
    val terms = grid
      .select($"lang", $"atot", $"btot", $"a", $"b",
        when($"a" > 0,
          $"a" * floor(log(($"a" * $"btot" * 2) * lit(1.0)
            / ($"a" * $"btot" + $"b" * $"atot")) * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)).as("w1"),
        when($"b" > 0,
          $"b" * floor(log(($"b" * $"atot" * 2) * lit(1.0)
            / ($"a" * $"btot" + $"b" * $"atot")) * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L)).as("w2"))
    terms.groupBy($"lang")
      .agg(max($"atot").as("n_tokens"), max($"btot").as("n_rest"),
        count(when($"a" > 0, lit(1))).as("n_terms"),
        sum($"w1").as("s1"), sum($"w2").as("s2"))
      .select($"lang", $"n_tokens", $"n_terms",
        expr("((greatest(s1, 0) div n_tokens) + (greatest(s2, 0) div n_rest)) div 2")
          .as("jsd_micro"))
      .orderBy($"lang")
  }

  val q283Oracle: String =
    """WITH lt AS (
         SELECT lang, term, CAST(count(*) AS BIGINT) AS a FROM (
           SELECT lang,
             unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS term
           FROM documents) GROUP BY 1, 2),
       gt AS (SELECT term, CAST(sum(a) AS BIGINT) AS gt FROM lt GROUP BY 1),
       al AS (SELECT lang, CAST(sum(a) AS BIGINT) AS atot FROM lt GROUP BY 1),
       tot AS (SELECT CAST(sum(a) AS BIGINT) AS t FROM lt),
       grid AS (
         SELECT al.lang, gt.term, COALESCE(lt.a, 0) AS a,
           gt.gt - COALESCE(lt.a, 0) AS b, al.atot AS atot, t.t - al.atot AS btot
         FROM gt CROSS JOIN al CROSS JOIN tot t
         LEFT JOIN lt ON lt.lang = al.lang AND lt.term = gt.term),
       terms AS (
         SELECT lang, atot, btot, a, b,
           CASE WHEN a > 0 THEN a * CAST(floor(ln((a*btot*2)*1.0 / (a*btot + b*atot)) * 1000000.0) AS BIGINT)
                ELSE 0 END AS w1,
           CASE WHEN b > 0 THEN b * CAST(floor(ln((b*atot*2)*1.0 / (a*btot + b*atot)) * 1000000.0) AS BIGINT)
                ELSE 0 END AS w2
         FROM grid)
       SELECT lang, max(atot) AS n_tokens,
         CAST(count(CASE WHEN a > 0 THEN 1 END) AS BIGINT) AS n_terms,
         ((greatest(CAST(sum(w1) AS BIGINT), 0) // max(atot))
          + (greatest(CAST(sum(w2) AS BIGINT), 0) // max(btot))) // 2 AS jsd_micro
       FROM terms GROUP BY lang ORDER BY lang"""

  /** Tokenizer fertility by language under the q280-learned BPE vocab:
    * merges are learned from the GLOBAL pair statistics (exactly
    * q280's three — the per-(lang, word) histogram aggregates to the
    * same global pair counts), then applied to every language's
    * words, and fertility = subword tokens per word is reported per
    * language. The metric behind "this tokenizer taxes language X":
    * a vocab learned on a skewed mix segments under-represented
    * languages into more pieces (Rust et al. 2021's fertility, on the
    * corpus' own miniature BPE).
    *
    * Scale: identical to q280 — the working set is the (lang × word)
    * histogram; the per-round argmax is global and re-enters as a
    * broadcast. */
  def q284BpeFertility(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wh = Tables.documents(s, d)
      .select($"lang", explode(tokens($"text")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("freq"))
      .select($"lang", $"freq",
        transform(sequence(lit(1), length($"w")),
          i => $"w".substr(i, lit(1))).as("syms"))
      .localCheckpoint()
    var cur = wh
    for (_ <- 1 to 3) {
      val best = cur.filter(size($"syms") >= 2)
        .select($"freq",
          explode(transform(sequence(lit(1), size($"syms") - 1),
            i => concat(element_at($"syms", i), lit(" "),
              element_at($"syms", i + 1)))).as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"pair").limit(1)
      cur = cur.crossJoin(broadcast(best.select($"pair".as("bp"))))
        .select($"lang", $"freq", mergeSyms($"syms", $"bp").as("syms"))
        .localCheckpoint()
    }
    cur.groupBy($"lang")
      .agg(sum($"freq").as("n_words"),
        sum($"freq" * size($"syms")).as("n_subtok"))
      .select($"lang", $"n_words", $"n_subtok",
        expr("(10000 * n_subtok) div n_words").as("fertility_bp"))
      .orderBy($"lang")
  }

  val q284Oracle: String =
    """WITH wh AS (
         SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
           SELECT lang,
             unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS w
           FROM documents) GROUP BY 1, 2),
       w0 AS (SELECT lang, freq,
                list_transform(generate_series(1, len(w)), i -> w[i]) AS syms
              FROM wh),
       b1 AS (SELECT pair FROM (
                SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                  SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
                           i -> syms[i] || ' ' || syms[i+1])) AS pair
                  FROM w0 WHERE len(syms) >= 2) GROUP BY 1)
              ORDER BY cnt DESC, pair LIMIT 1),
       w1 AS (SELECT lang, freq,
                string_split(trim(replace(
                  ' ' || array_to_string(syms, '  ') || ' ',
                  ' ' || replace(b1.pair, ' ', '  ') || ' ',
                  ' ' || replace(b1.pair, ' ', '') || ' ')), '  ') AS syms
              FROM w0, b1),
       b2 AS (SELECT pair FROM (
                SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                  SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
                           i -> syms[i] || ' ' || syms[i+1])) AS pair
                  FROM w1 WHERE len(syms) >= 2) GROUP BY 1)
              ORDER BY cnt DESC, pair LIMIT 1),
       w2 AS (SELECT lang, freq,
                string_split(trim(replace(
                  ' ' || array_to_string(syms, '  ') || ' ',
                  ' ' || replace(b2.pair, ' ', '  ') || ' ',
                  ' ' || replace(b2.pair, ' ', '') || ' ')), '  ') AS syms
              FROM w1, b2),
       b3 AS (SELECT pair FROM (
                SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                  SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
                           i -> syms[i] || ' ' || syms[i+1])) AS pair
                  FROM w2 WHERE len(syms) >= 2) GROUP BY 1)
              ORDER BY cnt DESC, pair LIMIT 1),
       w3 AS (SELECT lang, freq,
                string_split(trim(replace(
                  ' ' || array_to_string(syms, '  ') || ' ',
                  ' ' || replace(b3.pair, ' ', '  ') || ' ',
                  ' ' || replace(b3.pair, ' ', '') || ' ')), '  ') AS syms
              FROM w2, b3)
       SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
         CAST(sum(freq * len(syms)) AS BIGINT) AS n_subtok,
         (10000 * CAST(sum(freq * len(syms)) AS BIGINT))
           // CAST(sum(freq) AS BIGINT) AS fertility_bp
       FROM w3 GROUP BY lang ORDER BY lang"""

  /** Good–Turing frequency-of-frequencies profile per language
    * (Good 1953): the unseen-mass estimate p₀ = N₁/T and the
    * discounted count r* = (r+1)·N_{r+1}/N_r for r = 1..3 — the
    * smoothing view of q76's vocabulary profile, and the standard
    * answer to "how much of this language's distribution have we NOT
    * seen" when sizing a crawl or a held-out split.
    *
    * Everything is integer: frequency-of-frequencies come from two
    * stacked vocab-sized groupBys; p₀ lands in basis points and r* in
    * milli-units by integer floor division. Zero N_r (possible in a
    * tiny slice) yields NULL r* on both engines via nullif. */
  def q285GoodTuring(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tc = Tables.documents(s, d)
      .select($"lang", explode(tokens($"text")).as("term"))
      .groupBy($"lang", $"term").agg(count(lit(1)).as("r"))
    val fof = tc.groupBy($"lang")
      .agg(sum($"r").as("t"), count(lit(1)).as("v"),
        count(when($"r" === 1, lit(1))).as("n1"),
        count(when($"r" === 2, lit(1))).as("n2"),
        count(when($"r" === 3, lit(1))).as("n3"),
        count(when($"r" === 4, lit(1))).as("n4"))
    fof.select($"lang", $"t", $"v", $"n1", $"n2", $"n3", $"n4",
        expr("(10000 * n1) div t").as("p0_bp"),
        expr("(2000 * n2) div nullif(n1, 0)").as("rstar1_milli"),
        expr("(3000 * n3) div nullif(n2, 0)").as("rstar2_milli"),
        expr("(4000 * n4) div nullif(n3, 0)").as("rstar3_milli"))
      .orderBy($"lang")
  }

  val q285Oracle: String =
    """WITH tc AS (
         SELECT lang, term, CAST(count(*) AS BIGINT) AS r FROM (
           SELECT lang,
             unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS term
           FROM documents) GROUP BY 1, 2),
       fof AS (
         SELECT lang, CAST(sum(r) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v,
           CAST(count(CASE WHEN r = 1 THEN 1 END) AS BIGINT) AS n1,
           CAST(count(CASE WHEN r = 2 THEN 1 END) AS BIGINT) AS n2,
           CAST(count(CASE WHEN r = 3 THEN 1 END) AS BIGINT) AS n3,
           CAST(count(CASE WHEN r = 4 THEN 1 END) AS BIGINT) AS n4
         FROM tc GROUP BY 1)
       SELECT lang, t, v, n1, n2, n3, n4,
         (10000 * n1) // t AS p0_bp,
         (2000 * n2) // nullif(n1, 0) AS rstar1_milli,
         (3000 * n3) // nullif(n2, 0) AS rstar2_milli,
         (4000 * n4) // nullif(n3, 0) AS rstar3_milli
       FROM fof ORDER BY lang"""

  /** Sliding 8-gram duplicate-span coverage (the per-document metric
    * of exact-substring dedup, Lee et al. 2022): a token is
    * "duplicated" if it lies inside ANY 8-token window whose exact
    * text occurs ≥2 times corpus-wide; report each document's
    * duplicated-token mass. Unlike q34's aligned chunks, the windows
    * SLIDE — a copied passage is caught at every offset, which is
    * what makes the metric robust to insertions before the copy.
    *
    * Shape: one scan explodes per-position window hashes (60-bit —
    * longs shuffle, not 8-word strings); one corpus-wide partial-agg
    * count marks duplicated window STARTS; the start flags join back
    * position-aligned, and per-token coverage is a window max over
    * [p−7, p] PARTITIONED BY doc — the union-of-intervals computed
    * without materializing intervals. Every window is doc-partitioned;
    * nothing global is sorted. */
  def q286DupSpanCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d).select($"doc_id", $"text")
    // one compiled pass per doc for all window hashes (positional
    // ShingleHashSeq expression — the interpreted HOF formulation with
    // 8 element_ats per window was the query's bottleneck)
    val starts = base
      .select($"doc_id", posexplode(
        graft.functions.TextExprs.shingle_hash_seq($"text", 8, 15))
        .as(Seq("sp", "gh")))
    val dupg = starts.groupBy($"gh").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 2)
    // (doc_id, sp) is unique in `starts`, so the dup-gram semi-join
    // leaves it unique. Coverage = |∪ [s, s+7]| over the doc's dup
    // starts; with every interval exactly 8 long, the union telescopes
    // to Σ min(8, next_start − start) + 8 over the SORTED start list —
    // so the union is computed from the (small, per-doc-bounded) dup
    // start arrays alone. The first formulation exploded every token
    // position and ran a [p−7, p] window max over the corpus token
    // stream: 6M window rows at sf0.1, 2.2 s, and 2.9× DuckDB; this
    // one aggregates only dup starts — the token stream is never
    // re-materialized after the gram count.
    val dupStarts = starts.join(dupg.select($"gh"), "gh")
      .select($"doc_id", $"sp")
    val cov = dupStarts.groupBy($"doc_id")
      .agg(array_sort(collect_list($"sp")).as("ss"))
      .select($"doc_id",
        expr("""aggregate(transform(sequence(1, size(ss)),
            i -> IF(i < size(ss),
                    least(CAST(8 AS BIGINT),
                          CAST(element_at(ss, i + 1) - element_at(ss, i) AS BIGINT)),
                    CAST(8 AS BIGINT))),
          CAST(0 AS BIGINT), (a, x) -> a + x)""").as("dup_tokens"))
    val nt = base.select($"doc_id",
      size(tokens($"text")).cast("long").as("n_tokens"))
    cov.join(nt, "doc_id")
      .select($"doc_id", $"n_tokens", $"dup_tokens",
        expr("(10000 * dup_tokens) div n_tokens").as("dup_bp"))
      .orderBy($"doc_id")
  }

  val q286Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       starts AS (
         SELECT doc_id, sp, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh FROM (
           SELECT doc_id, unnest(generate_series(1, len(tk) - 7)) AS sp,
             unnest(list_transform(generate_series(1, len(tk) - 7),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
                 || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS g
           FROM tk WHERE len(tk) >= 8)),
       dupg AS (SELECT gh FROM starts GROUP BY gh HAVING count(*) >= 2),
       ds AS (SELECT doc_id, sp, CAST(1 AS BIGINT) AS dupstart
              FROM starts JOIN dupg USING (gh)),
       pos AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS p FROM tk),
       cov AS (
         SELECT pos.doc_id, pos.p,
           max(COALESCE(ds.dupstart, 0)) OVER (PARTITION BY pos.doc_id
             ORDER BY pos.p ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
         FROM pos LEFT JOIN ds ON pos.doc_id = ds.doc_id AND pos.p = ds.sp)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(covered) AS BIGINT) AS dup_tokens,
         (10000 * CAST(sum(covered) AS BIGINT)) // count(*) AS dup_bp
       FROM cov GROUP BY doc_id HAVING sum(covered) > 0
       ORDER BY doc_id"""

  /** PMI collocation mining (Church & Hanks 1990): the top-25 bigram
    * collocations by pointwise mutual information, with a count floor
    * of 5 (PMI without a floor surfaces one-off typos — the floor is
    * the standard fix). The phrase-mining pass that feeds multi-word
    * vocab entries and tokenizer preprocessing.
    *
    * Determinism: PMI = ln(c12·T / (c1·c2)) on exact int64 operands
    * (products < 2⁵³), floored once to micro-nats (q141's rule);
    * top-25 by (pmi, bigram) is a TakeOrdered, not a global sort.
    * Scale: the bigram stream partial-aggs to bigram-TYPE counts in
    * one pass; c1/c2 derive from the type relation, not the corpus. */
  def q287PmiCollocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bg = Tables.documents(s, d)
      .select(tokens($"text").as("tk"))
      .filter(size($"tk") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(element_at(tk, i) as w1, element_at(tk, i + 1) as w2))"))
        .as("bg"))
      .select($"bg.w1", $"bg.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = bg.groupBy($"w1").agg(sum($"c12").as("c1"))
    val c2 = bg.groupBy($"w2").agg(sum($"c12").as("c2"))
    val tot = bg.agg(sum($"c12").as("t"))
    bg.filter($"c12" >= 5)
      .join(c1, "w1").join(c2, "w2").crossJoin(broadcast(tot))
      .select($"w1", $"w2", $"c12",
        floor(log(($"c12" * $"t") * lit(1.0) / ($"c1" * $"c2"))
          * lit(1000000.0)).cast("long").as("pmi_micro"))
      .orderBy($"pmi_micro".desc, $"w1", $"w2").limit(25)
  }

  val q287Oracle: String =
    """WITH tkk AS (
         SELECT list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       bg AS (
         SELECT u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS c12 FROM (
           SELECT unnest(list_transform(generate_series(1, len(tk)-1),
             i -> {'w1': tk[i], 'w2': tk[i+1]})) AS u
           FROM tkk WHERE len(tk) >= 2) GROUP BY 1, 2),
       c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1),
       c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM bg GROUP BY 1),
       tot AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM bg)
       SELECT w1, w2, c12,
         CAST(floor(ln((c12 * t) * 1.0 / (c1.c1 * c2.c2)) * 1000000.0) AS BIGINT) AS pmi_micro
       FROM bg JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
       WHERE c12 >= 5
       ORDER BY pmi_micro DESC, w1, w2 LIMIT 25"""

  /** Unigram-LM subword segmentation — Viterbi inference (q317), the
    * SentencePiece/Kudo-2018 companion to q280's BPE training: a
    * piece vocabulary is seeded from corpus substring frequencies
    * (all single chars for closure + the top-40 length-2..4
    * substrings, freq-weighted, deterministically tie-broken), piece
    * cost = ⌊ln(total/freq)·10⁶⌋ micro-nats (q141's exact-rational ln
    * discipline), and each word is segmented by minimum-total-cost
    * dynamic programming: best(i) = min over j∈[i−4,i) of
    * best(j) + cost(word[j+1..i]).
    *
    * The DP is unrolled as LMAX=12 synchronous rounds (words longer
    * than 12 chars are out of scope by contract — the cap is the
    * round count, the q280/q299 bounded-loop discipline). Each round
    * is a ≤4-way union of (vocab-broadcast) joins over the DISTINCT-
    * WORD relation — bounded by true vocabulary size at any corpus
    * scale, and the argmin is fully tie-broken (cost, then segment
    * string compared in UTF-8 BYTE order — the collation DuckDB's
    * ROW_NUMBER ... ORDER BY seg uses; Java's UTF-16 code-unit order
    * diverges from it for non-BMP code points, ADVICE r6). The oracle
    * is the same 12 rounds as generated SQL, with AS MATERIALIZED on
    * the round states (the q182 lesson: a 4-way-recursive CTE inlines
    * exponentially without it).
    *
    * Output: per word — corpus count, length, piece count, total cost
    * in micro-nats, and the '|'-joined segmentation itself. */
  def q317UnigramViterbi(s: SparkSession, d: String): DataFrame =
    unigramViterbi(s, d, VocabCollectCap)

  /** The piece-cost table is vocab-bounded BY ARGUMENT (all single
    * chars + top-40 multigrams ≤ |charset| + 40 ≤ ~1.1M Unicode code
    * points); `vocabCap` turns that argument into CODE (VERDICT r6
    * #8): collecting an unexpectedly large "vocabulary" fails fast
    * with a diagnosis instead of silently materializing it on the
    * driver. */
  private[graft] val VocabCollectCap = 2000000

  /** UTF-8 byte-order string comparison (a < b) — DuckDB's default
    * binary collation, used for the Viterbi tie-break so the
    * equal-cost winner matches the oracle on any corpus. */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private[graft] def unigramViterbi(s: SparkSession, d: String,
      vocabCap: Int): DataFrame = {
    import s.implicits._
    val LMAX = 12
    val words = Tables.documents(s, d)
      .select(explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .cache()
    val sub = words
      .select($"w", $"cnt", explode(sequence(lit(1), lit(4))).as("ln"))
      .filter(length($"w") >= $"ln")
      .select($"w", $"cnt", $"ln",
        explode(sequence(lit(1), length($"w") - $"ln" + 1)).as("st"))
      .select(expr("substr(w, st, ln)").as("piece"), $"cnt")
    val freq = sub.groupBy($"piece").agg(sum($"cnt").as("freq"))
    val multi = freq.filter(length($"piece") >= 2)
      .withColumn("rn", row_number().over(Window.orderBy($"freq".desc, $"piece")))
      .filter($"rn" <= 40).select($"piece", $"freq")
    val vocab = freq.filter(length($"piece") === 1).unionByName(multi)
    val tot = vocab.agg(sum($"freq").as("t"))
    val costs = vocab.crossJoin(broadcast(tot))
      .select($"piece",
        floor(log($"t" * lit(1.0) / $"freq") * 1000000.0).cast("long").as("pcost"))
      .cache()
    // The piece-cost table is VOCAB-BOUNDED (all single chars + top-40
    // multigrams) — collecting it is a driver control decision over a
    // tiny relation (the q238 class). The per-word DP itself is
    // genuine per-row imperative logic, so it runs as a typed map
    // over the DISTINCT-WORD relation (the union-find / multimodal
    // doctrine: mapPartitions-class code exactly where Catalyst does
    // not fit) — embarrassingly parallel per word at any corpus
    // scale, one narrow stage, no per-round jobs. Two declarative
    // formulations were measured first and rejected: per-round
    // DataFrames need an eager checkpoint per position (12 jobs,
    // 9.6 s at sf0.1), and a rolling-column projection chain
    // re-expands through projection collapse into a 4^LMAX
    // expression tree (OOM). The result is still hash-checked
    // against the DuckDB unrolled-CTE oracle.
    val costRows = costs.collect()
    require(costRows.length <= vocabCap,
      s"q317 piece vocabulary has ${costRows.length} entries, above the " +
        s"driver-collect cap $vocabCap — the single-char closure implies a " +
        "charset this large is corrupt input (or the cap needs a reasoned " +
        "raise); at that size the cost table must ship as a broadcast join, " +
        "not a collected map")
    val costMap = costRows
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = words.filter(length($"w") <= LMAX)
      .select($"w", $"cnt").as[(String, Long)]
      .map { case (w, cnt) =>
        val best = Array.fill[(Long, String)](w.length + 1)((Long.MaxValue, ""))
        best(0) = (0L, "")
        for (i <- 1 to w.length) {
          var winner: (Long, String) = (Long.MaxValue, "")
          for (k <- 1 to math.min(4, i) if best(i - k)._1 != Long.MaxValue) {
            val piece = w.substring(i - k, i)
            costMap.get(piece).foreach { pc =>
              val cand = (best(i - k)._1 + pc, best(i - k)._2 + "|" + piece)
              // argmin on (cost, seg) with seg compared in UTF-8 byte
              // order — the oracle's ORDER BY collation
              if (cand._1 < winner._1 ||
                  (cand._1 == winner._1 && utf8Lt(cand._2, winner._2)))
                winner = cand
            }
          }
          best(i) = winner
        }
        val (c, seg) = best(w.length)
        (w, cnt, w.length.toLong,
          seg.split("\\|").length - 1L, c, seg.drop(1))
      }
      .toDF("word", "cnt", "wlen", "n_pieces", "cost_micro", "seg")
    out.filter($"cost_micro" =!= Long.MaxValue).orderBy($"word")
  }

  /** q317's oracle: the identical 12-round DP, generated as unrolled
    * MATERIALIZED CTEs. */
  val q317Oracle: String = {
    val LMAX = 12
    val head =
      s"""WITH words AS MATERIALIZED (
         SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
           SELECT unnest(list_filter(string_split_regex(text,'\\s+'), t -> t <> '')) AS w
           FROM documents) GROUP BY 1),
       sub1 AS (SELECT w, cnt, ln FROM words CROSS JOIN (SELECT unnest([1,2,3,4]) AS ln) WHERE len(w) >= ln),
       sub2 AS (SELECT substr(w, CAST(st AS INTEGER), CAST(ln AS INTEGER)) AS piece, cnt
                FROM (SELECT w, cnt, ln, unnest(range(1, len(w) - ln + 2)) AS st FROM sub1)),
       freq AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM sub2 GROUP BY 1),
       multi AS (SELECT piece, freq FROM (
                   SELECT piece, freq, row_number() OVER (ORDER BY freq DESC, piece) AS rn
                   FROM freq WHERE len(piece) >= 2) WHERE rn <= 40),
       vocab AS (SELECT piece, freq FROM freq WHERE len(piece) = 1
                 UNION ALL SELECT piece, freq FROM multi),
       tot AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM vocab),
       costs AS MATERIALIZED (SELECT piece, CAST(floor(ln(t * 1.0 / freq) * 1000000.0) AS BIGINT) AS pcost
                 FROM vocab CROSS JOIN tot),
       s0 AS MATERIALIZED (SELECT w AS word, CAST(0 AS BIGINT) AS cost, '' AS seg FROM words WHERE len(w) <= $LMAX)"""
    val rounds = (1 to LMAX).map { i =>
      val cands = (math.max(0, i - 4) until i).map { j =>
        s"""SELECT s.word, s.cost + v.pcost AS cost, s.seg || '|' || v.piece AS seg
          FROM s$j s JOIN costs v ON v.piece = substr(s.word, ${j + 1}, ${i - j})
          WHERE len(s.word) >= $i"""
      }.mkString(" UNION ALL ")
      s"""c$i AS ($cands),
       s$i AS MATERIALIZED (SELECT word, cost, seg FROM (
         SELECT word, cost, seg, row_number() OVER (PARTITION BY word ORDER BY cost, seg) AS rn
         FROM c$i) WHERE rn = 1)"""
    }
    val finals = (1 to LMAX).map { i =>
      s"SELECT word, CAST($i AS BIGINT) AS wlen, cost, seg FROM s$i WHERE len(word) = $i"
    }.mkString(" UNION ALL ")
    (Seq(head) ++ rounds).mkString(",\n") +
      s""",
       fin AS ($finals)
       SELECT f.word, wc.cnt, f.wlen,
         CAST(len(string_split(f.seg, '|')) - 1 AS BIGINT) AS n_pieces,
         f.cost AS cost_micro, substr(f.seg, 2) AS seg
       FROM fin f JOIN words wc ON f.word = wc.w
       ORDER BY f.word"""
  }

  /** Vocabulary coverage by source (q324): build the top-16 corpus
    * vocabulary (count-desc, token tie-break — the deterministic
    * truncated-vocab a tokenizer would freeze) and report, per source,
    * token coverage (bp) and type coverage under it — the OOV exposure
    * table that decides whether a vocab trained on the mix actually
    * serves every source (a source with low coverage trains on
    * mostly-UNK text). K is small at test scale so OOV is visible; the
    * structure is K-invariant.
    *
    * Shape: one token explode feeds both the vocab count and the
    * coverage rollup; the vocab is a top-K cut (bounded broadcast). */
  def q324VocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"source", explode(graft.functions.Fns.tokens($"text")).as("t"))
    val vocab = tok.groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t").limit(16)
      .select($"t", lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tok"),
        sum(when($"in_vocab", 1L).otherwise(0L)).as("n_cov"),
        countDistinct($"t").as("n_types"),
        countDistinct(when($"in_vocab", $"t")).as("n_types_cov"))
      .withColumn("cov_bp", expr("n_cov * 10000 div n_tok"))
      .select($"source", $"n_tok", $"n_cov", $"cov_bp", $"n_types",
        $"n_types_cov")
      .orderBy($"source")
  }

  val q324Oracle: String =
    """WITH tok AS (
         SELECT source, unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS t
         FROM documents),
       vc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
       vocab AS (SELECT t FROM vc ORDER BY c DESC, t LIMIT 16),
       cov AS (
         SELECT source, count(*) AS n_tok,
           sum(CASE WHEN t IN (SELECT t FROM vocab) THEN 1 ELSE 0 END) AS n_cov,
           count(DISTINCT t) AS n_types,
           count(DISTINCT CASE WHEN t IN (SELECT t FROM vocab) THEN t END) AS n_types_cov
         FROM tok GROUP BY source)
       SELECT source, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(n_cov AS BIGINT) AS n_cov,
         CAST(n_cov AS BIGINT) * 10000 // n_tok AS cov_bp,
         CAST(n_types AS BIGINT) AS n_types,
         CAST(n_types_cov AS BIGINT) AS n_types_cov
       FROM cov ORDER BY source"""

  /** Negative-sampling distribution table (q334, Mikolov et al. 2013):
    * the unigram^(3/4) proposal — x^0.75 computed as √(c·√c), two
    * correctly-rounded sqrts and one exact-input multiply, never pow —
    * as integer milli-weights, normalized against the INTEGER weight
    * total (never a float sum), with the flattening visible next to
    * the raw unigram share and the expected draw count per 100k
    * negatives. Top-20 rows by frequency; the normalizer covers the
    * whole vocabulary. */
  def q334NegativeSampling(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select(explode(graft.functions.Fns.tokens($"text")).as("t"))
    val w = tok.groupBy($"t").agg(count(lit(1)).as("cnt"))
      .withColumn("w", floor(sqrt($"cnt" * sqrt($"cnt")) * 1000.0).cast("long"))
    val tw = w.agg(sum($"w").as("wtot"), sum($"cnt").as("ctot"))
    w.crossJoin(broadcast(tw))
      .select($"t".as("token"), $"cnt", $"w".as("w_milli"),
        expr("(w * 1000000) div wtot").as("share_ppm"),
        expr("(cnt * 1000000) div ctot").as("unigram_ppm"),
        expr("((w * 1000000) div wtot) div 10").as("draws_per_100k"))
      .orderBy($"cnt".desc, $"token").limit(20)
  }

  val q334Oracle: String =
    """WITH tok AS (
         SELECT unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS t
         FROM documents),
       c AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
       w AS (SELECT t, cnt, CAST(floor(sqrt(cnt * sqrt(cnt)) * 1000.0) AS BIGINT) AS w FROM c),
       tw AS (SELECT CAST(sum(w) AS BIGINT) AS wtot, CAST(sum(cnt) AS BIGINT) AS ctot FROM w)
       SELECT t AS token, cnt, w AS w_milli,
         (w * 1000000) // wtot AS share_ppm,
         (cnt * 1000000) // ctot AS unigram_ppm,
         ((w * 1000000) // wtot) // 10 AS draws_per_100k
       FROM w CROSS JOIN tw
       ORDER BY cnt DESC, t LIMIT 20"""

  /** Corpus-adaptive stopword discovery (q350): per token, document
    * frequency rate and idf in micro-nats (the q188 exact-rational ln
    * idiom), flagging candidates whose df-rate clears 60% — the
    * data-derived stopword list that replaces a hand-curated one
    * before TF-IDF/BM25 indexing (q73/q98) on a new-domain corpus.
    * Top-20 by term frequency; flags ride with the evidence, the
    * caller picks the cut. */
  def q350StopwordDiscovery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = Tables.documents(s, d)
      .select($"doc_id", graft.functions.Fns.tokens($"text").as("tk"))
    val nd = tk.agg(count(lit(1)).as("n_docs"))
    val st = tk.select($"doc_id", explode($"tk").as("t"))
      .groupBy($"t")
      .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
    st.crossJoin(broadcast(nd))
      .select($"t".as("token"), $"tf", $"df",
        expr("(df * 10000) div n_docs").as("df_bp"),
        floor(log($"n_docs" * lit(1.0) / $"df") * lit(1000000.0))
          .cast("long").as("idf_micro"),
        when(expr("(df * 10000) div n_docs") >= 6000, 1L).otherwise(0L)
          .as("stopword"))
      .orderBy($"tf".desc, $"token").limit(20)
  }

  val q350Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM tk),
       tok AS (SELECT doc_id, unnest(tk) AS t FROM tk),
       st AS (
         SELECT t, CAST(count(*) AS BIGINT) AS tf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         FROM tok GROUP BY t)
       SELECT t AS token, tf, df,
         (df * 10000) // n_docs AS df_bp,
         CAST(floor(ln(n_docs * 1.0 / df) * 1000000.0) AS BIGINT) AS idf_micro,
         CAST(CASE WHEN (df * 10000) // n_docs >= 6000 THEN 1 ELSE 0 END AS BIGINT) AS stopword
       FROM st CROSS JOIN nd
       ORDER BY tf DESC, t LIMIT 20"""

  /** Interpolated LM model selection (q396): held-out surprisal of the
    * λ·bigram + (1−λ)·add-one-unigram mixture at λ ∈ {¼, ½, ¾} — the
    * classic Jelinek–Mercer grid search, run as one table. Every
    * probability is an EXACT int64 rational: with λ = l/4, p =
    * (l·c(ab)·(N+V) + (4−l)·(c(b)+1)·c(a)) / (4·c(a)·(N+V)), falling
    * back to the unigram term alone when the context is unseen; ln is
    * taken once per event on the exact rational and floored to
    * micro-nats (the q141 discipline — only integer sums after).
    * Held-out = doc_id % 5 = 0; train = the rest. The λ row with the
    * smallest total surprisal is the model selection.
    *
    * Shape: train counts are gram-type relations; scoring is three
    * equi-joins from the held-out bigram events; the λ grid is a
    * 3-row literal. */
  def q396LmInterpolation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = Tables.documents(s, d)
      .select($"doc_id", graft.functions.Fns.tokens($"text").as("tk"))
    def bigrams(df: DataFrame) = df.filter(size($"tk") >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
             i -> struct(element_at(tk, i) AS a, element_at(tk, i + 1) AS b))"""))
        .as("x"))
      .select($"x.a".as("a"), $"x.b".as("b"))
    val train = tk.filter($"doc_id" % 5 =!= 0)
    val ho = tk.filter($"doc_id" % 5 === 0)
    val tuni = train.select(explode($"tk").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("cb"))
    val tn = tuni.agg(sum($"cb").as("n"), count(lit(1)).as("v"))
    val tbi = bigrams(train).groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
    val tctx = tbi.groupBy($"a").agg(sum($"cab").as("ca"))
    val lam = Seq(1L, 2L, 3L).toDF("l4")
    bigrams(ho)
      .join(tctx, Seq("a"), "left")
      .join(tbi, Seq("a", "b"), "left")
      .join(tuni, $"b" === $"t", "left")
      .crossJoin(broadcast(tn))
      .crossJoin(broadcast(lam))
      .select($"l4",
        when(coalesce($"ca", lit(0L)) > 0,
          $"l4" * coalesce($"cab", lit(0L)) * ($"n" + $"v")
            + (lit(4L) - $"l4") * (coalesce($"cb", lit(0L)) + 1) * $"ca")
          .otherwise((lit(4L) - $"l4") * (coalesce($"cb", lit(0L)) + 1))
          .as("num"),
        when(coalesce($"ca", lit(0L)) > 0, lit(4L) * $"ca" * ($"n" + $"v"))
          .otherwise(lit(4L) * ($"n" + $"v")).as("den"))
      .select($"l4",
        floor(log($"den" * lit(1.0) / $"num") * lit(1000000.0))
          .cast("long").as("sup"))
      .groupBy($"l4")
      .agg(count(lit(1)).as("n_events"), sum($"sup").as("total_micro"))
      .select(($"l4" * 250).as("lambda_milli"), $"n_events", $"total_micro",
        expr("total_micro div n_events").as("avg_micro"))
      .orderBy($"lambda_milli")
  }

  val q396Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       train AS (SELECT doc_id, tk FROM tk WHERE doc_id % 5 <> 0),
       ho AS (SELECT doc_id, tk FROM tk WHERE doc_id % 5 = 0),
       tuni AS (
         SELECT t, CAST(count(*) AS BIGINT) AS cb
         FROM (SELECT unnest(tk) AS t FROM train) GROUP BY t),
       tn AS (SELECT CAST(sum(cb) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM tuni),
       tbi AS (
         SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM (
           SELECT tk[i] AS a, tk[i+1] AS b
           FROM train, unnest(generate_series(1, len(tk)-1)) AS u(i)
           WHERE len(tk) >= 2) GROUP BY a, b),
       tctx AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM tbi GROUP BY a),
       ev AS (
         SELECT tk[i] AS a, tk[i+1] AS b
         FROM ho, unnest(generate_series(1, len(tk)-1)) AS u(i)
         WHERE len(tk) >= 2),
       lam AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS l4),
       terms AS (
         SELECT lam.l4,
           CASE WHEN coalesce(tctx.ca, 0) > 0
             THEN lam.l4 * coalesce(tbi.cab, 0) * (tn.n + tn.v)
                  + (4 - lam.l4) * (coalesce(tuni.cb, 0) + 1) * tctx.ca
             ELSE (4 - lam.l4) * (coalesce(tuni.cb, 0) + 1) END AS num,
           CASE WHEN coalesce(tctx.ca, 0) > 0
             THEN 4 * tctx.ca * (tn.n + tn.v)
             ELSE 4 * (tn.n + tn.v) END AS den
         FROM ev
         LEFT JOIN tctx ON ev.a = tctx.a
         LEFT JOIN tbi ON ev.a = tbi.a AND ev.b = tbi.b
         LEFT JOIN tuni ON ev.b = tuni.t
         CROSS JOIN tn CROSS JOIN lam)
       SELECT l4 * 250 AS lambda_milli,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(ln(den * 1.0 / num) * 1000000.0) AS BIGINT)) AS BIGINT) AS total_micro,
         CAST(sum(CAST(floor(ln(den * 1.0 / num) * 1000000.0) AS BIGINT)) // count(*) AS BIGINT) AS avg_micro
       FROM terms GROUP BY l4 ORDER BY lambda_milli"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q324_vocab_coverage", q324VocabCoverage, q324Oracle,
        Hooks(nonEmpty, range("cov_bp", 0, 10000))),
      Query("q396_lm_interpolation", q396LmInterpolation, q396Oracle,
        Hooks(nonEmpty, range("lambda_milli", 0, 1000))),
      Query("q334_negative_sampling", q334NegativeSampling, q334Oracle,
        Hooks(nonEmpty, range("share_ppm", 0, 1000000), range("unigram_ppm", 0, 1000000))),
      Query("q350_stopword_discovery", q350StopwordDiscovery, q350Oracle,
        Hooks(nonEmpty, range("df_bp", 0, 10000))),
      Query("q317_unigram_viterbi", q317UnigramViterbi, q317Oracle,
        NoBound("Viterbi path cost unbounded (grows with length)")),
      Query("q280_bpe_merge_loop", q280BpeMergeLoop, q280Oracle, NoBound(Structural)),
      Query("q281_neyman_allocation", q281NeymanAllocation, q281Oracle, NoBound(Structural)),
      Query("q282_rouge_pairs", q282RougePairs, q282Oracle,
        Hooks(nonEmpty, range("p_bp", 0, 10000), range("r_bp", 0, 10000), range("f1_bp", 0, 10000))),
      Query("q283_jsd_slices", q283JsdSlices, q283Oracle,
        Hooks(nonEmpty, range("jsd_micro", 0, 1000000))),
      // BPE leaves every word >= 1 subtoken
      Query("q284_bpe_fertility", q284BpeFertility, q284Oracle,
        Hooks(nonEmpty, atLeast("fertility_bp", 10000))),
      Query("q285_good_turing", q285GoodTuring, q285Oracle,
        Hooks(nonEmpty, range("p0_bp", 0, 10000))),
      Query("q286_dup_span_coverage", q286DupSpanCoverage, q286Oracle,
        Hooks(nonEmpty, range("dup_bp", 0, 10000))),
      Query("q287_pmi_collocations", q287PmiCollocations, q287Oracle,
        NoBound("PMI unbounded both sides")),
    )
  }
}
