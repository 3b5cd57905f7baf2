package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Retrieval-side operators of a training-data pipeline: BM25 keyword
  * retrieval (the classic sparse ranker used to mine hard negatives and
  * to pre-filter RAG corpora) and exact duplicated-span detection (the
  * hashed-span variant of suffix-array substring dedup — Lee et al.
  * 2022, "Deduplicating Training Data Makes Language Models Better").
  *
  * Scale design:
  *  - q98 BM25: ONE scan and ONE shuffle (groupBy doc_id) produce the
  *    per-doc length and all per-term tfs as parallel aggregate
  *    columns; corpus statistics (N, avgdl, per-term df) collapse to a
  *    single broadcast scalar row, so the scoring join is
  *    exchange-free. Top-20 is TakeOrderedAndProject (per-partition
  *    heaps), never a global sort. At 100 TB: identical shape — the
  *    only wide exchange is doc-keyed and partially aggregated
  *    map-side; the stats row stays O(#query-terms).
  *  - q99 span dedup: spans are hashed per-row by the native
  *    [[graft.functions.TextExprs.ShingleHashes]] expression (one
  *    compiled pass, 60-bit md5 prefixes, within-doc distinct); the
  *    single heavy shuffle is the groupBy on span hash — the same
  *    cost center every substring-dedup implementation pays. The
  *    duplicated-hash set stays far smaller than the span stream
  *    (HAVING ≥2 docs), so the back-join is a shuffle-pruned left-semi
  *    against a reduced build side. 60-bit hashes make cross-doc
  *    false positives negligible at corpus scale (~n²/2⁶¹); a
  *    verification re-join on the raw span text is the exact-mode
  *    extension and shares the same plan shape.
  */
object Retrieval extends graft.QueryModule {

  // query terms with deliberately spread document frequency:
  // "dup" is the rare planted token (high idf), the others are
  // ordinary vocabulary (low idf)
  private val QueryTerms = Seq("spark", "vector", "dup")
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 top-20 docs for a fixed 3-term query. Per-term contributions
    * are floor-quantized to integer basis points BEFORE the per-doc
    * sum, so the aggregate is an order-free integer sum and the
    * cross-engine result is bit-exact (the double expression inside
    * each floor is evaluated with the identical IEEE tree on both
    * engines — same discipline as q73's score_bp). */
  def q98Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("term"))
    // one pass: doc length + tf of every query term as parallel columns
    val tfCols = QueryTerms.zipWithIndex.map { case (t, i) =>
      sum(when($"term" === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    // `per` feeds both the scoring join and the corpus-stats row;
    // materialize once (q73's checkpointed-tf rationale — the pruned
    // projections of the two consumers canonicalize differently, so
    // ReuseExchange alone leaves two full tokenize+groupBy subtrees)
    val per = tok.groupBy($"doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      .localCheckpoint()
    // corpus stats: one broadcast scalar row (N, Σdl, df per term)
    val dfCols = QueryTerms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val glCols = Seq(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl")) ++ dfCols
    val gl = per.agg(glCols.head, glCols.tail: _*)
    val avgdl = $"sum_dl".cast("double") / $"n_docs".cast("double")
    def termBp(i: Int) = {
      val tf = col(s"tf$i"); val dfx = col(s"df$i")
      val idf = log(($"n_docs" - dfx + lit(0.5)) / (dfx + lit(0.5)) + lit(1.0))
      val w = (tf * lit(K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * ($"dl".cast("double") / avgdl)))
      floor(idf * w * lit(1000.0))
    }
    val nHit = QueryTerms.indices
      .map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    per.crossJoin(broadcast(gl))
      .select($"doc_id", nHit.as("n_hit"),
        QueryTerms.indices.map(termBp).reduce(_ + _).cast("long").as("score_bp"))
      .filter($"score_bp" > 0)
      .orderBy($"score_bp".desc, $"doc_id")
      .limit(20)
      .withColumn("rnk",
        row_number().over(Window.orderBy($"score_bp".desc, $"doc_id")).cast("long"))
  }

  val q98Oracle: String =
    """WITH tok AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       per AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
           CAST(sum(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
           CAST(sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
           CAST(sum(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS tf2
         FROM tok GROUP BY 1),
       gl AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
           CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
           CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
           CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
         FROM per),
       sc AS (
         SELECT doc_id,
           CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(
             floor(ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0)
                   * ((tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
                   * 1000.0)
           + floor(ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
                   * ((tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
                   * 1000.0)
           + floor(ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
                   * ((tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
                   * 1000.0) AS BIGINT) AS score_bp
         FROM per, gl)
       SELECT doc_id, n_hit, score_bp,
              CAST(row_number() OVER (ORDER BY score_bp DESC, doc_id) AS BIGINT) AS rnk
       FROM sc WHERE score_bp > 0
       ORDER BY score_bp DESC, doc_id LIMIT 20"""

  /** Duplicated-span profile: for every doc with ≥8 tokens, how many of
    * its distinct 8-token spans also appear verbatim in ANOTHER doc.
    * dup_bp = span-level duplication in basis points (integer div). */
  def q99SpanDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // (doc, span-hash) stream feeds two aggregations + the semi join;
    // materialize once (same rationale as q73's checkpointed tf)
    val spans = Tables.documents(s, d)
      .select($"doc_id",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 8, 15)).as("h"))
      .localCheckpoint()
    val dup = spans.groupBy($"h")
      .agg(count(lit(1)).as("nd")) // distinct within doc ⇒ count == distinct docs
      .filter($"nd" >= 2)
      .select($"h")
    val nd = spans.join(dup, Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup_spans"))
    spans.groupBy($"doc_id").agg(count(lit(1)).as("n_spans"))
      .join(nd, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_spans"))
      .select($"doc_id", $"n_spans", $"n_dup_spans",
        expr("n_dup_spans * 10000 div n_spans").as("dup_bp"))
      .orderBy($"doc_id")
  }

  val q99Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sp AS (
         SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(tk) >= 8
                THEN list_transform(generate_series(1, len(tk) - 7),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
                         || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])
                ELSE [] END)) AS s
         FROM tk),
       h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sp),
       dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
       nd AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
         FROM h WHERE h IN (SELECT h FROM dup) GROUP BY 1),
       ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM h GROUP BY 1)
       SELECT ns.doc_id AS doc_id, n_spans,
              CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
              CAST(coalesce(n_dup_spans, 0) * 10000 // n_spans AS BIGINT) AS dup_bp
       FROM ns LEFT JOIN nd ON ns.doc_id = nd.doc_id
       ORDER BY doc_id"""

  /** Hybrid retrieval via Reciprocal-Rank Fusion: the BM25 top-20
    * (q98's sparse ranking) fused with the embedding-cosine top-20 for
    * the query vector (vec_id 0), score = Σ_lists ⌊10⁶/(60+rank)⌋ —
    * Cormack et al.'s RRF with the standard k=60, the default fusion in
    * hybrid search stacks. Working on RANKS (not scores) is what makes
    * the fusion scale-free: BM25 basis points and cosine rank keys
    * never need calibration against each other.
    *
    * Scale shape: each ranking is already a top-k (TakeOrdered — no
    * global sort of either corpus); the fusion full-outer join and the
    * final window run on ≤ 40 rows. Integer-exact throughout: ranks
    * are ints and the RRF contribution is an integer division. */
  def q119RrfFusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sparse = q98Bm25(s, d).select($"doc_id".as("id"), $"rnk".as("rnk_sparse"))
    val qv = Similarity.quantized(s, d)
    val query = qv.filter($"vec_id" === 0).select($"qa".as("qv"), $"n2".as("qn"))
    val dense = qv.filter($"vec_id" =!= 0)
      .select($"vec_id".as("id"), $"qa", $"n2")
      .crossJoin(broadcast(query))
      .withColumn("num", dotQ($"qa", $"qv"))
      .filter($"num" > 0)
      .withColumn("rank_key", expr("(num * num * 10000) div (n2 * qn)"))
      .orderBy($"rank_key".desc, $"id")
      .limit(20)
      .withColumn("rnk_dense",
        row_number().over(Window.orderBy($"rank_key".desc, $"id")).cast("long"))
      .select($"id", $"rnk_dense")
    sparse.join(dense, Seq("id"), "full_outer")
      // RRF contributions from the NULLABLE ranks (absent list → 0),
      // THEN the display ranks coalesce to 0 — order matters
      .select($"id",
        coalesce($"rnk_sparse", lit(0L)).as("rnk_sparse"),
        coalesce($"rnk_dense", lit(0L)).as("rnk_dense"),
        (coalesce(expr("1000000 div (60 + rnk_sparse)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rnk_dense)"), lit(0L))).as("rrf_micro"))
      .withColumn("fused_rank",
        row_number().over(Window.orderBy($"rrf_micro".desc, $"id")).cast("long"))
      .filter($"fused_rank" <= 10)
      .orderBy($"fused_rank")
  }

  val q119Oracle: String =
    s"""WITH sp AS (
         SELECT doc_id AS id, rnk AS rnk_sparse FROM ($q98Oracle)),
       qn AS (
         SELECT vec_id, [CAST(floor(x::DOUBLE * 1000) AS BIGINT) FOR x IN embedding] AS qa
         FROM embeddings),
       n2t AS (
         SELECT vec_id, qa,
           CAST(list_sum(list_transform(qa, x -> x*x)) AS BIGINT) AS n2
         FROM qn),
       qv AS (SELECT qa AS qv, n2 AS qn FROM n2t WHERE vec_id = 0),
       den AS (
         SELECT vec_id AS id,
           CAST(list_sum(list_transform(list_zip(qa, qv), p -> p[1]*p[2])) AS BIGINT) AS num,
           n2, qn
         FROM n2t CROSS JOIN qv WHERE vec_id <> 0),
       dr AS (
         SELECT id,
           CAST(row_number() OVER (ORDER BY (num*num*10000) // (n2*qn) DESC, id) AS BIGINT) AS rnk_dense
         FROM den WHERE num > 0
         ORDER BY (num*num*10000) // (n2*qn) DESC, id LIMIT 20),
       f AS (
         SELECT COALESCE(sp.id, dr.id) AS id, rnk_sparse, rnk_dense
         FROM sp FULL OUTER JOIN dr ON sp.id = dr.id),
       g AS (
         SELECT id,
           COALESCE(rnk_sparse, 0) AS rnk_sparse,
           COALESCE(rnk_dense, 0) AS rnk_dense,
           COALESCE(1000000 // (60 + rnk_sparse), 0)
             + COALESCE(1000000 // (60 + rnk_dense), 0) AS rrf_micro
         FROM f)
       SELECT id, rnk_sparse, rnk_dense, CAST(rrf_micro AS BIGINT) AS rrf_micro,
         CAST(row_number() OVER (ORDER BY rrf_micro DESC, id) AS BIGINT) AS fused_rank
       FROM g QUALIFY fused_rank <= 10 ORDER BY fused_rank"""

  /** Maximal duplicated-run extraction — the ExactSubstr direction of
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): q99 counts WHICH 8-token spans
    * repeat across docs; this reconstructs HOW LONG each contiguous
    * duplicated stretch is, per doc, so a scrubber can cut the run
    * (len ≥ 50 tokens in the paper) instead of dropping the doc.
    *
    * Relational formulation: positioned spans (the explode keeps the
    * token offset), cross-doc duplicated hashes (min(doc) ≠ max(doc) —
    * positions make within-doc repeats possible, so q99's plain count
    * no longer equals doc count, and two running extremes beat a
    * two-phase countDistinct), then gaps-and-islands:
    * adjacent duplicated positions share (pos − row_number()) within a
    * doc, and an island of L consecutive duplicated 8-spans is a
    * duplicated run of L+7 TOKENS. The per-doc window sorts only that
    * doc's duplicated positions (bounded by doc length) — no global
    * sort anywhere.
    *
    * Scale: the span-hash shuffle is the one corpus-sized exchange (the
    * same exchange q99 pays); the distinct-doc filter is partial-agg
    * friendly; the islands pass runs on the duplicated RESIDUE only. */
  def q142DupRuns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // positioned spans: q99's ShingleHashes can't carry offsets, so the
    // span string is rebuilt per position and hashed with the shared
    // md5-60 primitive (identical hash values either way)
    val sp = Tables.documents(s, d)
      .select($"doc_id", graft.functions.Fns.tokens($"text").as("tk"))
      .filter(size($"tk") >= 8)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(tk) - 7), i -> struct(i as pos, array_join(slice(tk, i, 8), ' ') as sp))"))
        .as("e"))
      .select($"doc_id", $"e.pos".as("pos"),
        graft.functions.Fns.hash60($"e.sp").as("h"))
      // feeds dup-set build, residue probe, and per-doc totals —
      // r12 A/B: 1.34 s vs 2.40 s without (the 8-gram slice/join
      // expression is the cost; ReuseExchange cannot dedupe it) — keep
      .localCheckpoint()
    // "appears in ≥2 docs" as min(doc) ≠ max(doc): one partial-agg
    // exchange, vs countDistinct's two-phase ((h,doc) then h) expansion
    // — measured 3.2 → 2.3 s at sf0.1, and at scale it halves the
    // heaviest shuffle in the query
    val dup = sp.groupBy($"h")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" =!= $"mx").select($"h")
    val dp = sp.join(dup, Seq("h"), "left_semi")
      .withColumn("grp", $"pos" - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"pos")))
    val runs = dp.groupBy($"doc_id", $"grp")
      .agg((count(lit(1)) + 7).as("run_tokens"))
    val per = sp.groupBy($"doc_id").agg(count(lit(1)).as("n_spans"))
    per
      .join(dp.groupBy($"doc_id").agg(count(lit(1)).as("n_dup_pos")),
        Seq("doc_id"), "left")
      .join(runs.groupBy($"doc_id").agg(max($"run_tokens").as("max_run_tokens")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_pos", "max_run_tokens"))
      .orderBy($"doc_id")
  }

  val q142Oracle: String =
    """WITH t AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
         FROM documents),
       sp AS (
         SELECT doc_id, i AS pos,
           ('0x' || substr(md5(tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]), 1, 15))::BIGINT AS h
         FROM t, unnest(generate_series(1, len(tk)-7)) AS g(i)
         WHERE len(tk) >= 8),
       dup AS (SELECT h FROM sp GROUP BY h HAVING min(doc_id) <> max(doc_id)),
       dp AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM sp WHERE h IN (SELECT h FROM dup)),
       runs AS (SELECT doc_id, CAST(count(*) + 7 AS BIGINT) AS run_tokens
                FROM dp GROUP BY doc_id, grp),
       per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM sp GROUP BY 1)
       SELECT p.doc_id AS doc_id, n_spans,
         CAST(coalesce(d.n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
         CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_run_tokens
       FROM per p
       LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_pos
                  FROM dp GROUP BY 1) d ON p.doc_id = d.doc_id
       LEFT JOIN (SELECT doc_id, CAST(max(run_tokens) AS BIGINT) AS max_run
                  FROM runs GROUP BY 1) r ON p.doc_id = r.doc_id
       ORDER BY doc_id"""

  /** Query-likelihood retrieval with Dirichlet smoothing (q344): the
    * LM-based ranking that sits beside BM25 (q98) in every retrieval
    * stack — score(d) = Σ_t ln((tf + μ·cf_t/|C|)/(|d| + μ)), μ=2000,
    * over a literal 3-term query. Each term's log is taken on an
    * EXACT int64 rational ((tf·C + μ·cf)/(C·(len+μ))), floored once
    * to micro-nats, then only integer-summed — the q141 discipline,
    * so the ranking is bit-stable cross-engine. Zero-tf terms keep
    * the collection-model mass (the whole point of smoothing), which
    * is why the scan is a LEFT join from the doc-length relation.
    *
    * Scale: tf touches only postings of the ≤|q| query terms; the
    * per-doc side is the doc-length aggregate; top-20 fully
    * tie-broken. */
  def q344QueryLikelihood(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("w"))
      .localCheckpoint()
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("len"))
    val cf = toks.groupBy($"w").agg(count(lit(1)).as("cf"))
    val ctot = toks.agg(count(lit(1)).as("c"))
    val qterms = Seq("spark", "join", "window").toDF("w")
    val tf = toks.join(broadcast(qterms), "w")
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val scored = dl.crossJoin(broadcast(qterms))
      .join(broadcast(cf.join(qterms, "w")), "w")
      .crossJoin(broadcast(ctot))
      .join(tf, Seq("doc_id", "w"), "left")
      .selectExpr("doc_id",
        "COALESCE(tf, 0) AS tf",
        """CAST(floor(ln(
            (CAST(COALESCE(tf, 0) AS DOUBLE) * c + 2000.0 * cf)
            / (CAST(c AS DOUBLE) * (len + 2000))) * 1000000.0) AS BIGINT) AS s_micro""")
    scored.groupBy($"doc_id")
      .agg(sum($"s_micro").as("ql_micro"),
        sum(when($"tf" > 0, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"ql_micro".desc, $"doc_id")).cast("long"))
      .filter($"rank" <= 20)
      .select($"rank", $"doc_id", $"n_hit", $"ql_micro")
      .orderBy($"rank")
  }

  val q344Oracle: String =
    """WITH toks AS (
         SELECT doc_id, unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS w
         FROM documents),
       dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM toks GROUP BY 1),
       cf AS (SELECT w, CAST(count(*) AS BIGINT) AS cf FROM toks GROUP BY 1),
       ctot AS (SELECT CAST(count(*) AS BIGINT) AS c FROM toks),
       qterms AS (SELECT unnest(['spark', 'join', 'window']) AS w),
       tf AS (
         SELECT t.doc_id, t.w, CAST(count(*) AS BIGINT) AS tf
         FROM toks t JOIN qterms q ON t.w = q.w GROUP BY 1, 2),
       scored AS (
         SELECT d.doc_id, COALESCE(tf.tf, 0) AS tf,
           CAST(floor(ln(
             (CAST(COALESCE(tf.tf, 0) AS DOUBLE) * ct.c + 2000.0 * cf.cf)
             / (CAST(ct.c AS DOUBLE) * (d.len + 2000))) * 1000000.0) AS BIGINT) AS s_micro
         FROM dl d CROSS JOIN qterms q
         JOIN cf ON cf.w = q.w
         CROSS JOIN ctot ct
         LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.w = q.w),
       agg AS (
         SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS ql_micro,
           CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         FROM scored GROUP BY 1),
       r AS (
         SELECT doc_id, n_hit, ql_micro,
           row_number() OVER (ORDER BY ql_micro DESC, doc_id) AS rnk
         FROM agg)
       SELECT CAST(rnk AS BIGINT) AS rank, doc_id, n_hit, ql_micro
       FROM r WHERE rnk <= 20 ORDER BY rnk"""

  /** BM25 parameter-sensitivity sweep (q395): the q98 scorer rerun at
    * three (k1, b) operating points — Robertson's default (1.2, 0.75),
    * low-saturation/low-normalization (0.9, 0.4), high-k1 (2.0, 0.75) —
    * with pairwise top-10 overlap between the rankings. High overlap
    * says the corpus is insensitive to tuning (don't grid-search it);
    * a low-overlap pair names exactly which knob reorders results.
    * One token pass and one corpus-stats row feed all three configs
    * via a 3-row literal grid (never three scans); per-term floors
    * mirror q98's so each config IS q98 at those parameters. */
  def q395Bm25ParamSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("term"))
    val tfCols = QueryTerms.zipWithIndex.map { case (t, i) =>
      sum(when($"term" === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val per = tok.groupBy($"doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      .localCheckpoint()
    val dfCols = QueryTerms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val glCols = Seq(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl")) ++ dfCols
    val gl = per.agg(glCols.head, glCols.tail: _*)
    val cfgs = Seq(("c0_k12_b75", 1.2, 0.75), ("c1_k09_b40", 0.9, 0.4),
      ("c2_k20_b75", 2.0, 0.75)).toDF("cfg", "k1", "b")
    val avgdl = $"sum_dl".cast("double") / $"n_docs".cast("double")
    def termBp(i: Int) = {
      val tf = col(s"tf$i"); val dfx = col(s"df$i")
      val idf = log(($"n_docs" - dfx + lit(0.5)) / (dfx + lit(0.5)) + lit(1.0))
      val w = (tf * ($"k1" + lit(1.0))) /
        (tf + $"k1" * ((lit(1.0) - $"b") + $"b" * ($"dl".cast("double") / avgdl)))
      floor(idf * w * lit(1000.0))
    }
    val top = per.crossJoin(broadcast(gl)).crossJoin(broadcast(cfgs))
      .select($"cfg", $"doc_id",
        QueryTerms.indices.map(termBp).reduce(_ + _).cast("long").as("score_bp"))
      .filter($"score_bp" > 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"cfg").orderBy($"score_bp".desc, $"doc_id")))
      .filter($"rn" <= 10)
      .select($"cfg", $"doc_id")
      .localCheckpoint()
    top.as("a").join(top.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.cfg") < col("b.cfg"))
      .groupBy(col("a.cfg").as("cfg_a"), col("b.cfg").as("cfg_b"))
      .agg(count(lit(1)).as("overlap_10"))
      .withColumn("overlap_bp", expr("overlap_10 * 10000 div 10"))
      .orderBy($"cfg_a", $"cfg_b")
  }

  val q395Oracle: String =
    """WITH tok AS (
         SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS term
         FROM documents),
       per AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
           CAST(sum(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
           CAST(sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
           CAST(sum(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS tf2
         FROM tok GROUP BY 1),
       gl AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
           CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
           CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
           CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
         FROM per),
       cfg AS (SELECT unnest(['c0_k12_b75', 'c1_k09_b40', 'c2_k20_b75']) AS cfg,
                      unnest([1.2, 0.9, 2.0]) AS k1, unnest([0.75, 0.4, 0.75]) AS b),
       sc AS (
         SELECT cfg.cfg, doc_id,
           CAST(
             floor(ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0)
                   * ((tf0 * (k1 + 1.0)) / (tf0 + k1 * ((1.0 - b) + b * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
                   * 1000.0)
           + floor(ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
                   * ((tf1 * (k1 + 1.0)) / (tf1 + k1 * ((1.0 - b) + b * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
                   * 1000.0)
           + floor(ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
                   * ((tf2 * (k1 + 1.0)) / (tf2 + k1 * ((1.0 - b) + b * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
                   * 1000.0) AS BIGINT) AS score_bp
         FROM per CROSS JOIN gl CROSS JOIN cfg),
       top AS (
         SELECT cfg, doc_id, score_bp,
           row_number() OVER (PARTITION BY cfg ORDER BY score_bp DESC, doc_id) AS rn
         FROM sc WHERE score_bp > 0)
       SELECT a.cfg AS cfg_a, b.cfg AS cfg_b,
         CAST(count(*) AS BIGINT) AS overlap_10,
         CAST(count(*) * 10000 // 10 AS BIGINT) AS overlap_bp
       FROM (SELECT * FROM top WHERE rn <= 10) a
       JOIN (SELECT * FROM top WHERE rn <= 10) b
         ON a.doc_id = b.doc_id AND a.cfg < b.cfg
       GROUP BY 1, 2 ORDER BY cfg_a, cfg_b"""

  /** Rank-biased overlap (q421, Webber et al. 2010): top-weighted
    * agreement between two rankings of the same corpus — here the
    * quality ranking (q31's integer score) vs the raw-length ranking,
    * i.e. "does picking by quality differ from picking by length?".
    * RBO@10 with persistence p = 0.9: Σ_d (1−p)·p^(d−1)·overlap(d)/d.
    * The weights (1−p)p^(d−1) = 9^(d−1)/10^d are exact integers at
    * scale 10^10, carried as a LITERAL grid on both engines — no float
    * powers anywhere; per-depth terms floor-divide by d, so the
    * reported `rbo_e10` is exact and reproducible bit-for-bit.
    * Emits the per-depth agreement curve (overlap, A_d in bp, term)
    * plus the total, the form reviewers actually read.
    *
    * Scale: both top-10s are TakeOrderedAndProject (per-partition
    * heaps, no global sort); everything after is a ≤10-row relation —
    * the rank join, the depth grid, and the windowed rank are all
    * bounded by the cutoff, not the data. */
  def q421RankBiasedOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"n_chars", tokens($"text").as("tk"))
      .repartition($"doc_id")
    val scored = base.select($"doc_id", $"n_chars",
      qualityScore(size($"tk").cast("long"), stopCount($"tk"),
        size(array_distinct($"tk"))).as("q"))
    val topA = scored.orderBy($"q".desc, $"doc_id").limit(10)
      .withColumn("ra", row_number().over(Window.orderBy($"q".desc, $"doc_id")))
    val topB = scored.orderBy($"n_chars".desc, $"doc_id").limit(10)
      .withColumn("rb", row_number().over(Window.orderBy($"n_chars".desc, $"doc_id")))
    val matched = topA.join(topB, "doc_id")
      .select(greatest($"ra", $"rb").as("dmax"))
    // exact integer weights: w_d = 9^(d-1) * 10^(10-d) = (1-p)p^(d-1) * 1e10
    val wts = Seq(
      1L -> 1000000000L, 2L -> 900000000L, 3L -> 810000000L,
      4L -> 729000000L, 5L -> 656100000L, 6L -> 590490000L,
      7L -> 531441000L, 8L -> 478296900L, 9L -> 430467210L,
      10L -> 387420489L).toDF("d", "w")
    val perDepth = wts.join(matched, $"dmax" <= $"d", "left")
      .groupBy($"d", $"w")
      .agg(sum(when($"dmax".isNotNull, 1L).otherwise(0L)).as("overlap"))
      .select($"d", $"w", $"overlap",
        expr("overlap * 10000 div d").as("a_d_bp"),
        expr("w * overlap div d").as("term_e10"))
    perDepth
      .crossJoin(broadcast(perDepth.agg(sum($"term_e10").as("rbo_e10"))))
      .select($"d", $"w", $"overlap", $"a_d_bp", $"term_e10", $"rbo_e10")
      .orderBy($"d")
  }

  val q421Oracle: String =
    """WITH t AS (SELECT doc_id, n_chars,
               list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS tk
             FROM documents),
       scored AS (
         SELECT doc_id, n_chars,
                least(len(tk), 100) * 10
                + (1000 - CAST(floor(len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) * 1000.0 / len(tk)) AS BIGINT))
                + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) AS q
         FROM t),
       ta AS (SELECT doc_id, ra FROM
                (SELECT doc_id, row_number() OVER (ORDER BY q DESC, doc_id) AS ra FROM scored)
              WHERE ra <= 10),
       tb AS (SELECT doc_id, rb FROM
                (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rb FROM scored)
              WHERE rb <= 10),
       matched AS (SELECT greatest(ra, rb) AS dmax FROM ta JOIN tb USING (doc_id)),
       wts AS (SELECT * FROM (VALUES
         (1, 1000000000), (2, 900000000), (3, 810000000), (4, 729000000),
         (5, 656100000), (6, 590490000), (7, 531441000), (8, 478296900),
         (9, 430467210), (10, 387420489)) AS v(d, w)),
       per AS (
         SELECT CAST(d AS BIGINT) AS d, CAST(w AS BIGINT) AS w,
                CAST(sum(CASE WHEN dmax IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap
         FROM wts LEFT JOIN matched ON dmax <= d GROUP BY 1, 2),
       per2 AS (
         SELECT d, w, overlap, overlap * 10000 // d AS a_d_bp,
                w * overlap // d AS term_e10
         FROM per),
       tot AS (SELECT CAST(sum(term_e10) AS BIGINT) AS rbo_e10 FROM per2)
       SELECT d, w, overlap, a_d_bp, term_e10, rbo_e10
       FROM per2 CROSS JOIN tot ORDER BY d"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q421_rbo", q421RankBiasedOverlap, q421Oracle,
        Hooks(nonEmpty, range("a_d_bp", 0, 10000))),
      Query("q395_bm25_param_sweep", q395Bm25ParamSweep, q395Oracle,
        Hooks(nonEmpty, range("overlap_bp", 0, 10000))),
      Query("q344_query_likelihood", q344QueryLikelihood, q344Oracle,
        NoBound("log-likelihood unbounded below")),
      Query("q98_bm25", q98Bm25, q98Oracle, NoBound("BM25 score unbounded above")),
      Query("q99_span_dedup", q99SpanDedup, q99Oracle, Hooks(nonEmpty, range("dup_bp", 0, 10000))),
      Query("q142_dup_runs", q142DupRuns, q142Oracle, NoBound(Structural)),
      // RRF with k=60 over two rankers: each term <= 1e6/61
      Query("q119_rrf_fusion", q119RrfFusion, q119Oracle,
        Hooks(nonEmpty, range("rrf_micro", 0, 32786))),
    )
  }
}
