package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Dataset-curation operators — the steps between "scored documents"
  * and "training shards" in an LLM data pipeline: cross-document
  * duplicated-passage detection, per-document repetition profiling
  * (Gopher-style quality rules), greedy sequence packing into
  * fixed-size token bins, pattern scrubbing/redaction accounting, and
  * the deterministic train/val/test split.
  *
  * Scale design:
  *  - q34 passage dedup: chunking is one (doc, chunk_no) partial-agg
  *    groupBy over the exploded token stream (the shuffle key includes
  *    doc_id, so it redistributes the corpus once); the cross-doc
  *    roll-up groups by chunk text — the classic inverted-index shape
  *    whose fan-in is bounded by passage frequency. Only repeated
  *    passages survive the HAVING, so the output is tiny at any scale.
  *  - q35 repetition profile: both passes are partial-agg groupBys
  *    keyed by doc_id(+term) — map-side combine does the heavy
  *    counting; no global structure is ever built.
  *  - q36 sequence packing: one window per lang partition, ordered by
  *    doc_id (a single shuffle); bin assignment is pure integer
  *    arithmetic on the running sum. At 100 TB packing is per-shard by
  *    construction: partition the corpus, pack within partitions —
  *    exactly what partitionBy(lang) models here.
  *  - q37 scrub: scan-side regexp projections + one partial-agg
  *    groupBy on a low-cardinality key. Redaction at scale IS a scan.
  *  - q38 split: the same multiplicative-hash-vs-threshold filter as
  *    q75's sampler, but exhaustive (every doc lands in exactly one
  *    split) — zero shuffles beyond the accounting groupBy, and the
  *    assignment is reproducible across engines, runs, and cluster
  *    sizes (which `rand(seed)` cannot give).
  */
object Curation extends graft.QueryModule {

  /** Duplicated-passage detection (chunk-level dedup, à la C4/RefinedWeb
    * line dedup but over fixed 8-token windows): split every document
    * into non-overlapping 8-token chunks (ragged tails dropped), then
    * report every chunk text that occurs in ≥ 2 distinct documents.
    * Downstream policy: cut the passage from every doc but `first_doc`.
    */
  def q34PassageDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Chunk per row by slicing the token array — token order is free
    // (it's the array), and no (doc, pos) token stream ever shuffles.
    // The repartition is the materialization barrier: without it
    // CollapseProject inlines `tokens(text)` into the transform lambda
    // and re-tokenizes the document once per chunk (the round-1 HOF
    // pitfall). With it, the only wide exchanges are this doc-count
    // one and the final by-chunk groupBy.
    val chunks = Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("toks"))
      .repartition($"doc_id")
      .filter(size($"toks") >= 8)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(toks) div 8 - 1),
           i -> array_join(slice(toks, i*8+1, 8), ' '))""")).as("chunk"))
    chunks.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occur"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .filter($"n_docs" >= 2)
      .orderBy($"chunk")
  }

  val q34Oracle: String =
    """WITH tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       ch AS (
         SELECT doc_id,
           unnest([list_aggregate(tk[i*8+1 : i*8+8], 'string_agg', ' ')
                   FOR i IN generate_series(0, len(tk)//8 - 1)]) AS chunk
         FROM tk WHERE len(tk) >= 8)
       SELECT chunk, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occur,
         CAST(min(doc_id) AS BIGINT) AS first_doc,
         CAST(max(doc_id) AS BIGINT) AS last_doc
       FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
       ORDER BY chunk"""

  /** Per-document repetition profile — the Gopher-rule family: token
    * count, distinct-token count, most-frequent-token share, and the
    * share of bigram occurrences belonging to repeated bigrams (both
    * in integer permille), plus the resulting `repetitive` flag.
    * Thresholds (top token > 16%, duplicated bigrams > 20%) are the
    * quality gate a filtering pass would apply. */
  def q35RepetitionProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Single-pass RepetitionStats expression: the whole profile is
    // scan → project → sort, NO shuffle. The earlier declarative form
    // (explode → tf groupBy → per-doc groupBy, window-lead bigrams →
    // bigram groupBy → per-doc groupBy → join) shuffled |tokens| rows
    // three times for what is per-row-computable state (~1.0 s →
    // ~0.4 s at sf0.1; the same scan-local argument as q43's
    // SimHash60). The struct is referenced by several output columns —
    // whole-stage codegen's subexpression elimination evaluates the
    // expression once per row after CollapseProject merges the
    // projections (the round-1 HOF re-eval pitfall does NOT apply to
    // a single named struct: it is one expression tree, dedup-able,
    // not a lambda re-inlined per element).
    Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.TextExprs.repetition_stats($"text").as("r"))
      .filter($"r".isNotNull)
      .select($"doc_id",
        $"r.n_tokens".as("n_tokens"),
        $"r.n_distinct".as("n_distinct"),
        expr("r.top_c * 1000 div r.n_tokens").as("top_tok_permille"),
        when($"r.n_bigrams" > 0, expr("r.dup_occ * 1000 div r.n_bigrams"))
          .otherwise(0L).as("dup_bigram_permille"))
      .withColumn("repetitive",
        $"top_tok_permille" > 160 || $"dup_bigram_permille" > 200)
      .orderBy($"doc_id")
  }

  val q35Oracle: String =
    """WITH tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       uni AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
       tf AS (SELECT doc_id, tok, count(*) AS c FROM uni GROUP BY 1, 2),
       us AS (
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(c) AS BIGINT) AS top_c
         FROM tf GROUP BY 1),
       bg AS (
         SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i+1])) AS bg
         FROM tk WHERE len(tk) >= 2),
       bf AS (SELECT doc_id, bg, count(*) AS bc FROM bg GROUP BY 1, 2),
       bs AS (
         SELECT doc_id, CAST(sum(bc) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN bc > 1 THEN bc ELSE 0 END) AS BIGINT) AS dup_occ
         FROM bf GROUP BY 1)
       SELECT us.doc_id, n_tokens, n_distinct,
         CAST(top_c * 1000 // n_tokens AS BIGINT) AS top_tok_permille,
         CAST(CASE WHEN coalesce(n_bigrams, 0) > 0
                   THEN coalesce(dup_occ, 0) * 1000 // n_bigrams
                   ELSE 0 END AS BIGINT) AS dup_bigram_permille,
         (top_c * 1000 // n_tokens > 160 OR
          CASE WHEN coalesce(n_bigrams, 0) > 0
               THEN coalesce(dup_occ, 0) * 1000 // n_bigrams
               ELSE 0 END > 200) AS repetitive
       FROM us LEFT JOIN bs USING (doc_id) ORDER BY doc_id"""

  /** Greedy sequence packing: fill 512-token context bins per language
    * in doc_id order — each document goes to the bin where the running
    * token count stood when it arrived (a document that crosses a bin
    * boundary stays in the bin it started in, so `fill_permille` can
    * exceed 1000 on its bin; the trailing bin runs short). Per-bin
    * accounting is what a shard-writer needs to emit fixed-budget
    * training sequences. */
  def q36SequencePacking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", size(tokens($"text")).cast("long").as("n_tok"))
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum($"n_tok").over(w))
      .withColumn("bin_id", expr("(cum - n_tok) div 512"))
      .groupBy($"lang", $"bin_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"))
      .withColumn("fill_permille", expr("n_tokens * 1000 div 512"))
      .orderBy($"lang", $"bin_id")
  }

  val q36Oracle: String =
    """WITH tk AS (
         SELECT doc_id, lang,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tok
         FROM documents),
       cum AS (
         SELECT doc_id, lang, n_tok,
           CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         FROM tk)
       SELECT lang, CAST((cum0) AS BIGINT) AS bin_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(min(doc_id) AS BIGINT) AS first_doc,
         CAST(sum(n_tok) * 1000 // 512 AS BIGINT) AS fill_permille
       FROM (SELECT *, (cum - n_tok) // 512 AS cum0 FROM cum)
       GROUP BY lang, cum0 ORDER BY lang, bin_id"""

  /** Pattern scrub / redaction accounting over the events stream's
    * props payload: mask every digit run to '#' (the PII-redaction
    * shape — emails/phones/ids reduce to the same regexp_replace
    * pipeline) and account per event type: events seen, characters
    * masked, distinct post-redaction shapes, and a sample shape.
    * The real redaction pass is the same projection minus the
    * aggregation — a pure scan-side rewrite. */
  def q37ScrubProps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type",
        regexp_replace($"props", "[0-9]+", "#").as("shape"),
        (length($"props") - length(regexp_replace($"props", "[0-9]", "")))
          .cast("long").as("masked"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"masked").as("masked_chars"),
        countDistinct($"shape").as("n_shapes"), min($"shape").as("sample_shape"))
      .orderBy($"event_type")
  }

  val q37Oracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT) AS masked_chars,
         CAST(count(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g')) AS BIGINT) AS n_shapes,
         min(regexp_replace(props, '[0-9]+', '#', 'g')) AS sample_shape
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** 1%/1%/98% split-point thresholds: floor(2³²·0.01) and
    * floor(2³²·0.02), exact integers shared with the oracle. */
  private val testBound = 42949672L
  private val valBound = 85899345L

  /** Deterministic train/val/test split: the q75 multiplicative hash
    * routes every document into exactly one split (test < 1%, val next
    * 1%, train the rest), with per-(split, lang) accounting. Unlike
    * `rand(seed)`, the assignment is a pure function of doc_id —
    * stable across engines, re-runs, repartitioning, and corpus
    * growth (existing docs never migrate when new ones arrive). */
  def q38TrainSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = knuthHash($"doc_id") % lit(4294967296L)
    Tables.documents(s, d)
      .withColumn("split",
        when(h < testBound, "test").when(h < valBound, "val").otherwise("train"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
      .orderBy($"split", $"lang")
  }

  val q38Oracle: String =
    """WITH k AS (
         SELECT lang, n_chars,
           CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 42949672
                THEN 'test'
                WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 85899345
                THEN 'val' ELSE 'train' END AS split
         FROM documents)
       SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
       FROM k GROUP BY split, lang ORDER BY split, lang"""

  /** Per-source quota sampling (domain balancing): cap every source at
    * K documents, chosen by a deterministic multiplicative hash of
    * doc_id (q75's idiom — reproducible cross-engine, no RNG), with
    * doc_id as the total tiebreak. This is the curation step that stops
    * one crawl domain from dominating a training mix. Shape at scale:
    * one hash per row (no join), a row_number window partitioned by
    * source — the per-source state is a counter, and skewed mega-
    * sources are exactly the case the hash-order matters for (the kept
    * subset is a uniform sample of the source, not its head). */
  def q81SourceQuota(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("hk",
        knuthHash($"doc_id") % lit(4294967296L))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"hk", $"doc_id")))
      .filter($"rn" <= 10)
      .select($"source", $"doc_id", $"rn".cast("long").as("rn"))
      .orderBy($"source", $"rn")
  }

  val q81Oracle: String =
    """WITH h AS (
         SELECT source, doc_id,
           ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hk
         FROM documents),
       r AS (
         SELECT source, doc_id,
           CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
             AS BIGINT) AS rn
         FROM h)
       SELECT source, doc_id, rn FROM r WHERE rn <= 10
       ORDER BY source, rn"""

  /** Temperature-based source mixing (the multinomial-with-temperature
    * reweighting used to balance training mixes): sample each source at
    * a rate ∝ √n (temperature 0.5), so small sources are up-weighted
    * relative to proportional sampling. Everything is integer fixed-
    * point: per-source weight wᵢ = floor(√nᵢ·10⁶) (sqrt is IEEE
    * correctly-rounded, so wᵢ is bit-exact cross-engine; no double is
    * ever summed), target share = wᵢ·10⁶ div Σw, and membership is the
    * q75 multiplicative-hash threshold — deterministic, join-free
    * per row, reproducible on any engine. Scale shape: the weight table
    * is |sources| rows (a broadcast), the keep decision is one hash
    * compare per row in the scan. */
  def q85TemperatureMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val w = docs.groupBy($"source").agg(count(lit(1)).as("n_total"))
      .withColumn("w", floor(sqrt($"n_total") * lit(1000000L)).cast("long"))
    // the normalizer stays in-plan (1-row broadcast), no driver collect
    val tot = w.agg(sum($"w").as("tot"))
    val rated = w.crossJoin(broadcast(tot))
      .withColumn("rate_ppm", expr("w * 1000000 div tot"))
    docs.join(broadcast(rated), "source")
      .withColumn("kept",
        knuthHash($"doc_id") % lit(4294967296L) <
          expr("rate_ppm * 4294967296 div 1000000")) // integer div, not `/`
      .groupBy($"source", $"n_total", $"rate_ppm")
      .agg(sum(when($"kept", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"source")
  }

  val q85Oracle: String =
    """WITH c AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_total,
           CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS w
         FROM documents GROUP BY source),
       t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM c),
       r AS (
         SELECT source, n_total, (w * 1000000) // tot AS rate_ppm
         FROM c, t),
       k AS (
         SELECT d.source, r.n_total, r.rate_ppm,
           CASE WHEN ((d.doc_id % 2147483648) * 2654435761) % 4294967296 <
                     (r.rate_ppm * 4294967296) // 1000000
                THEN 1 ELSE 0 END AS kept
         FROM documents d JOIN r USING (source))
       SELECT source, n_total, rate_ppm, CAST(sum(kept) AS BIGINT) AS n_kept
       FROM k GROUP BY source, n_total, rate_ppm ORDER BY source"""

  /** Mixture-epoch planning — the readout side of temperature mixing:
    * given per-source TOKEN counts (not doc counts: budgets are paid in
    * tokens) and a √n temperature-0.5 target share, how many epochs of
    * each source fill one corpus-sized token budget? epochs_milli >
    * 1000 is the classic small-source oversampling signal (the source
    * is repeated); large sources land under 1000 (subsampled). The
    * plan is two scalar-sized aggregations over one scan — the
    * per-source stats table is |sources| rows, every division is
    * integer fixed-point (√ is IEEE correctly-rounded, never summed),
    * so the plan is bit-exact cross-engine and costs one shuffle of
    * |sources| partial aggregates at any corpus size. */
  def q101MixtureEpochs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perSrc = Tables.documents(s, d)
      .groupBy($"source")
      .agg(sum(size(graft.functions.Fns.tokens($"text"))).cast("long").as("n_tok"))
      .withColumn("w", floor(sqrt($"n_tok") * lit(1000000L)).cast("long"))
    val tot = perSrc.agg(sum($"w").as("tot_w"), sum($"n_tok").as("budget"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("w * 1000000 div tot_w"))
      .withColumn("target_tok", expr("budget * share_ppm div 1000000"))
      .withColumn("epochs_milli", expr("target_tok * 1000 div n_tok"))
      .select($"source", $"n_tok", $"share_ppm", $"target_tok", $"epochs_milli")
      .orderBy($"source")
  }

  val q101Oracle: String =
    """WITH c AS (
         SELECT source,
           CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS BIGINT) AS n_tok
         FROM documents GROUP BY source),
       w AS (
         SELECT source, n_tok,
           CAST(floor(sqrt(n_tok) * 1000000) AS BIGINT) AS w
         FROM c),
       t AS (SELECT CAST(sum(w) AS BIGINT) AS tot_w,
                    CAST(sum(n_tok) AS BIGINT) AS budget FROM w),
       r AS (
         SELECT source, n_tok, (w * 1000000) // tot_w AS share_ppm
         FROM w, t),
       f AS (
         SELECT source, n_tok, share_ppm,
           (budget * share_ppm) // 1000000 AS target_tok
         FROM r, t)
       SELECT source, n_tok, share_ppm, target_tok,
              CAST(target_tok * 1000 // n_tok AS BIGINT) AS epochs_milli
       FROM f ORDER BY source"""

  /** End-to-end curation pipeline — the composed flagship of the LLM-
    * data operator set, every stage an already-oracle-checked idiom
    * chained into one plan: exact dedup (q40's normalized 5-token
    * prefix key, min-doc_id survivor) → quality gate (q31's integer
    * permille score ≥ 2000) → per-source quota (q81's hash-ordered cap,
    * 15/source) → train/val/test split accounting (q38's hash bounds).
    * One query because that's how it runs in production: Catalyst sees
    * the whole chain, so column pruning reaches the scan (only text/
    * source/doc_id/n_chars are read) and each stage's filter reduces
    * the next stage's input — the pipeline never materializes between
    * stages. Everything is integer/hash deterministic: the full
    * composition hash-matches the oracle's CTE chain. */
  def q90CurationPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val norm = lower(regexp_replace(trim($"text"), "\\s+", " "))
    val tkRaw = tokens($"text")
    val h = knuthHash($"doc_id") % lit(4294967296L)
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars",
        md5(concat_ws(" ",
          slice(tokens(norm), 1, 5))).as("dup_key"),
        qualityScore(size(tkRaw), stopCount(tkRaw), size(array_distinct(tkRaw)))
          .as("quality_score"))
      .withColumn("dup_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"dup_key").orderBy($"doc_id")))
      .filter($"dup_rn" === 1)                       // dedup survivor
      .filter($"quality_score" >= 2000)              // quality gate
      .withColumn("hk", h)
      .withColumn("quota_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"hk", $"doc_id")))
      .filter($"quota_rn" <= 15)                     // source quota
      .withColumn("split",
        when($"hk" < testBound, "test").when($"hk" < valBound, "val")
          .otherwise("train"))
      .groupBy($"split", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
      .orderBy($"split", $"source")
  }

  val q90Oracle: String =
    """WITH base AS (
         SELECT doc_id, source, n_chars,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk,
           md5(array_to_string(
             (list_filter(string_split_regex(lower(trim(regexp_replace(text,'\s+',' ','g'))), '\s+'), t -> t <> ''))[1:5],
             ' ')) AS dup_key
         FROM documents),
       scored AS (
         SELECT doc_id, source, n_chars, dup_key,
           least(len(tk), 100) * 10
             + (1000 - CAST(floor(len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) * 1000.0 / len(tk)) AS BIGINT))
             + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT)
             AS quality_score,
           row_number() OVER (PARTITION BY dup_key ORDER BY doc_id) AS dup_rn
         FROM base),
       surv AS (
         SELECT doc_id, source, n_chars,
           ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hk
         FROM scored WHERE dup_rn = 1 AND quality_score >= 2000),
       quota AS (
         SELECT doc_id, source, n_chars, hk,
           row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS quota_rn
         FROM surv),
       fin AS (
         SELECT source, n_chars,
           CASE WHEN hk < 42949672 THEN 'test'
                WHEN hk < 85899345 THEN 'val' ELSE 'train' END AS split
         FROM quota WHERE quota_rn <= 15)
       SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
       FROM fin GROUP BY split, source ORDER BY split, source"""

  /** 2-D Pareto skyline of the corpus: documents not dominated on
    * (n_chars ↓, quality_score ↑) — no other doc is both shorter and at
    * least as good, or as short and strictly better. The multi-
    * objective curation shortlist (quality-per-byte frontier).
    *
    * Scale shape: the naive NOT EXISTS is a self-join; the sort-based
    * skyline needs a global row order. This uses NEITHER: collapse to
    * the per-n_chars quality maximum first (q93's value-histogram trick
    * — shuffle sized by |distinct lengths|, not |docs|), run the
    * running-max dominance test over that tiny ordered histogram, and
    * broadcast the surviving (length, max-quality) frontier back over
    * the corpus. The single-partition window touches only the value
    * domain. */
  def q123Skyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        qualityScore(size(tk), stopCount(tk), size(array_distinct(tk)))
          .as("quality_score"))
    val hq = docs.groupBy($"n_chars").agg(max($"quality_score").as("mq"))
    val w = Window.orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = hq
      .withColumn("prevmax", max($"mq").over(w))
      .filter($"prevmax".isNull || $"mq" > $"prevmax")
      .select($"n_chars", $"mq")
    docs.join(broadcast(frontier), Seq("n_chars"))
      .filter($"quality_score" === $"mq")
      .select($"doc_id", $"n_chars", $"quality_score")
      .orderBy($"n_chars", $"doc_id")
  }

  val q123Oracle: String =
    """WITH t AS (
         SELECT doc_id, n_chars,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       q AS (
         SELECT doc_id, n_chars,
           least(len(tk), 100) * 10
           + (1000 - CAST(floor(len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) * 1000.0 / len(tk)) AS BIGINT))
           + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT)
             AS quality_score
         FROM t),
       hq AS (SELECT n_chars, max(quality_score) AS mq FROM q GROUP BY 1),
       sw AS (
         SELECT n_chars, mq,
           max(mq) OVER (ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
         FROM hq),
       sky AS (SELECT n_chars, mq FROM sw WHERE prevmax IS NULL OR mq > prevmax)
       SELECT doc_id, q.n_chars AS n_chars, quality_score
       FROM q JOIN sky ON q.n_chars = sky.n_chars AND q.quality_score = sky.mq
       ORDER BY n_chars, doc_id"""

  /** Domain-level curation stats over parsed URLs: synthesize each
    * document's canonical URL (deterministic, q12's synthesis
    * convention — the testdata carries no organic URL column), then
    * parse it BACK with Spark's native `parse_url` (HOST / PATH /
    * QUERY:lang) and aggregate per (host, top path segment) — the
    * domain-balance / blocklist audit a web-corpus pipeline runs
    * before sampling (per-domain caps are q81's quota; this is the
    * table that feeds it).
    *
    * Oracle: DuckDB has no parse_url, so the twin extracts the same
    * components with anchored regexes — agreeing outputs pin that the
    * parser actually decomposes the URL, not just string-slices it.
    *
    * Scale: URL parse is scan-local codegen'd projection; the only
    * shuffle is the (host, seg) partial-agg groupBy, host-count sized. */
  def q129DomainStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val url = concat(lit("https://"), $"source", lit(".example.com/cat"),
      ($"doc_id" % 7).cast("string"), lit("/doc"), $"doc_id".cast("string"),
      lit("?lang="), $"lang", lit("&p="), ($"doc_id" % 13).cast("string"))
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars", url.as("url"))
      .select($"doc_id", $"n_chars",
        parse_url($"url", lit("HOST")).as("host"),
        regexp_extract(parse_url($"url", lit("PATH")), "^/(cat[0-9]+)/", 1)
          .as("seg"),
        parse_url($"url", lit("QUERY"), lit("lang")).as("url_lang"))
      .groupBy($"host", $"seg")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"url_lang").as("n_langs"),
        sum($"n_chars").as("sum_chars"),
        min($"doc_id").as("first_doc"))
      .orderBy($"host", $"seg")
  }

  val q129Oracle: String =
    """WITH u AS (
         SELECT doc_id, n_chars,
           'https://' || source || '.example.com/cat' || (doc_id % 7)
             || '/doc' || doc_id || '?lang=' || lang || '&p=' || (doc_id % 13)
             AS url
         FROM documents),
       p AS (
         SELECT doc_id, n_chars,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+/(cat[0-9]+)/', 1) AS seg,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS url_lang
         FROM u)
       SELECT host, seg, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT url_lang) AS BIGINT) AS n_langs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(min(doc_id) AS BIGINT) AS first_doc
       FROM p GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Rendezvous (highest-random-weight) shard assignment + balance
    * audit — the stable-sharding primitive for a 100 TB ingest layout:
    * each doc goes to argmax over shards of hash(doc, shard). Unlike
    * `doc_id % k`, adding or removing a shard reassigns only ~1/k of
    * the corpus (every surviving shard keeps every doc it already won),
    * which is what makes incremental re-layout affordable at scale.
    *
    * The argmax is max(h·8 + shard) — the 60-bit hash and the 3-bit
    * shard id packed into one int64 (2⁶⁰·8 + 7 = 2⁶³−1: exactly fits),
    * so the winner extraction is a plain hash-aggregable MAX with the
    * tie broken by shard id arithmetically (a max(struct) formulation
    * measured here falls back to SortAggregate — per-partition sorts
    * for what should be one running long). Output: per-shard doc
    * counts, char mass, and load permille (the audit that the weights
    * actually balance).
    *
    * Shape: an 8× row fan-out (generate shard candidates per doc — no
    * shuffle), per-doc max PARTIAL-aggregated before the one doc-keyed
    * exchange (the fan-out collapses map-side; one combined row per doc
    * moves), then an 8-row groupBy. The denominator row is a bare
    * documents count — NOT a second pass over the assignment (each doc
    * wins exactly once by construction). */
  def q140RendezvousShards(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nShards = 8
    val won = Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        explode(sequence(lit(0), lit(nShards - 1))).as("shard"))
      .withColumn("k",
        hash60(concat($"doc_id", lit(":"), $"shard")) * 8 + $"shard")
      .groupBy($"doc_id")
      .agg(first($"n_chars").as("n_chars"), (max($"k") % 8).as("shard"))
    val tot = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
    won.groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
      .crossJoin(broadcast(tot))
      .select($"shard".cast("long").as("shard"), $"n_docs", $"n_chars",
        expr("n_docs * 1000 div n_total").as("load_permille"))
      .orderBy($"shard")
  }

  val q140Oracle: String =
    """WITH cand AS (
         SELECT doc_id, n_chars,
           ('0x' || substr(md5(doc_id || ':' || s), 1, 15))::BIGINT * 8 + s AS k
         FROM documents, unnest(generate_series(0, 7)) AS t(s)),
       won AS (
         SELECT doc_id, any_value(n_chars) AS n_chars, max(k) % 8 AS shard
         FROM cand GROUP BY doc_id),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
       SELECT CAST(shard AS BIGINT) AS shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         CAST(count(*) * 1000 // n_total AS BIGINT) AS load_permille
       FROM won CROSS JOIN tot
       GROUP BY shard, n_total ORDER BY shard"""

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * draw 50 docs with inclusion probability ∝ n_chars by ranking on
    * key = u^(1/w) — here the deterministic twin ln(u)/w with
    * u = hash60(doc)/2⁶⁰ standing in for the uniform draw, quantized to
    * integer micro units (one double ln per doc, the q77 rule; floor
    * and the divide are IEEE-exact on identical operands). Length-
    * proportional sampling is how mixture audits draw "token-fair"
    * inspection samples — uniform doc sampling over-represents shorts.
    *
    * Scale shape: the A-ES reduction is top-k by key — a
    * TakeOrderedAndProject (per-partition heaps, no global sort), with
    * the display rank windowed AFTER the 50-row cut. */
  def q143WeightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        floor(log(hash60(concat($"doc_id", lit(":ws")))
            / lit(1152921504606846976.0) /* 2^60 */) * lit(1000000.0)
          / $"n_chars").cast("long").as("key_micro"))
      .orderBy($"key_micro".desc, $"doc_id")
      .limit(50)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"key_micro".desc, $"doc_id")))
      .select($"rank".cast("long").as("rank"), $"doc_id", $"n_chars", $"key_micro")
      .orderBy($"rank")
  }

  val q143Oracle: String =
    """WITH k AS (
         SELECT doc_id, n_chars,
           CAST(floor(ln(('0x' || substr(md5(doc_id || ':ws'), 1, 15))::BIGINT
               / 1152921504606846976.0) * 1000000.0 / n_chars) AS BIGINT) AS key_micro
         FROM documents),
       r AS (SELECT doc_id, n_chars, key_micro,
               CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id) AS BIGINT) AS rank
             FROM k)
       SELECT rank, doc_id, n_chars, key_micro FROM r WHERE rank <= 50
       ORDER BY rank"""

  /** Per-source nucleus (top-p) budget cut (q193): within each source,
    * rank documents by the q31 quality composite and keep the
    * highest-quality prefix until 80% of the source's character mass
    * is covered (the first doc always kept) — the curation move that
    * spends a fixed token budget on the best material per source,
    * rather than truncating uniformly (q81's count quota) or
    * re-weighting sources against each other (q85/q101). Same shape
    * as sampling-time nucleus/top-p: an ordered cumulative-mass cut.
    *
    * Determinism: rank ties break on doc_id; the cut is an integer
    * inequality (cum·5 ≤ total·4); empty-token docs are excluded up
    * front (their quality is undefined — division by zero — in BOTH
    * engines). One window pass per source partition over the doc
    * relation, then a per-source partial-agg rollup; nothing global. */
  def q193NucleusBudget(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val scored = Tables.documents(s, d)
      .filter(size(tokens($"text")) > 0)
      .select($"doc_id", $"source", $"n_chars".cast("long").as("mass"),
        qualityScore(size(tk), stopCount(tk), size(array_distinct(tk))).as("q"))
    val ord = Window.partitionBy($"source").orderBy($"q".desc, $"doc_id")
    val cumW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum", sum($"mass").over(cumW))
      .withColumn("total", sum($"mass").over(Window.partitionBy($"source")))
      .withColumn("rn", row_number().over(ord))
      .withColumn("kept",
        ($"cum" * 5 <= $"total" * 4 || $"rn" === 1).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"kept").as("n_kept"),
        max($"total").as("mass_total"), sum($"kept" * $"mass").as("mass_kept"))
      .withColumn("kept_bp", expr("mass_kept * 10000 div mass_total"))
      .orderBy($"source")
  }

  val q193Oracle: String =
    """WITH t AS (
         SELECT doc_id, source, n_chars,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
         FROM documents),
       sc AS (
         SELECT doc_id, source, CAST(n_chars AS BIGINT) AS mass,
           least(len(tk), 100) * 10
             + (1000 - CAST(floor(len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) * 1000.0 / len(tk)) AS BIGINT))
             + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) AS q
         FROM t WHERE len(tk) > 0),
       w AS (
         SELECT source, mass,
           CAST(sum(mass) OVER (PARTITION BY source ORDER BY q DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(mass) OVER (PARTITION BY source) AS BIGINT) AS total,
           row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn
         FROM sc),
       k AS (
         SELECT source, mass, total,
           CAST(cum * 5 <= total * 4 OR rn = 1 AS BIGINT) AS kept
         FROM w)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(kept) AS BIGINT) AS n_kept,
         CAST(max(total) AS BIGINT) AS mass_total,
         CAST(sum(kept * mass) AS BIGINT) AS mass_kept,
         CAST(sum(kept * mass) AS BIGINT) * 10000 // CAST(max(total) AS BIGINT) AS kept_bp
       FROM k GROUP BY source ORDER BY source"""

  /** Length-bucketed batching audit (q204): how many pad tokens does
    * each batching strategy burn? Docs are token-counted, capped at
    * the 2048 context, and assigned to 16-token buckets (narrow enough to be non-degenerate on the short synthetic docs; production would use 128); per bucket
    * the query reports the waste under FIXED padding (every sequence
    * padded to 2048 — the naive collator) vs BUCKETED padding (padded
    * to the bucket's own max — dynamic/length-grouped batching). The
    * padding-efficiency report is what decides a packing strategy
    * before anyone trains; q36's sequence packing is the third
    * strategy this baselines against. `eff_bp` = real tokens over
    * padded slots in basis points, integer division (denominator
    * n·max > 0 by construction).
    *
    * Shape: one documents scan → per-bucket partial agg; ~16 output
    * rows. Nothing shuffles but the bucket rollup. */
  def q204LengthBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ctx = 2048
    val bw = 16
    Tables.documents(s, d)
      .select(least(size(tokens($"text")), lit(ctx)).cast("long").as("tok"))
      .filter($"tok" >= 1)
      .withColumn("bucket", expr(s"(tok + ${bw - 1}) div $bw"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"tok").as("sum_tok"),
        max($"tok").as("bucket_max"),
        sum(lit(ctx.toLong) - $"tok").as("waste_fixed"))
      .withColumn("waste_bucketed", $"n_docs" * $"bucket_max" - $"sum_tok")
      .withColumn("eff_bp",
        expr("sum_tok * 10000 div (n_docs * bucket_max)"))
      .orderBy($"bucket")
  }

  val q204Oracle: String =
    """WITH t AS (
         SELECT least(CAST(len(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> '')) AS BIGINT), 2048) AS tok
         FROM documents),
       b AS (
         SELECT tok, (tok + 15) // 16 AS bucket FROM t WHERE tok >= 1)
       SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS sum_tok,
         CAST(max(tok) AS BIGINT) AS bucket_max,
         CAST(sum(2048 - tok) AS BIGINT) AS waste_fixed,
         CAST(count(*) AS BIGINT) * CAST(max(tok) AS BIGINT)
           - CAST(sum(tok) AS BIGINT) AS waste_bucketed,
         CAST(sum(tok) AS BIGINT) * 10000
           // (CAST(count(*) AS BIGINT) * CAST(max(tok) AS BIGINT)) AS eff_bp
       FROM b GROUP BY bucket ORDER BY bucket"""

  /** Largest-remainder (Hamilton) apportionment (q205): split a fixed
    * 10,000-slot training budget across sources proportional to their
    * character mass so the allocations SUM EXACTLY to the budget —
    * the constraint naive per-source rounding silently violates (and
    * which then breaks downstream "sample exactly N" contracts). Each
    * source gets ⌊K·w/W⌋ plus one extra slot if its remainder
    * K·w mod W ranks among the seats left over; ranking ties break on
    * source name. Pure integer arithmetic end to end — the allocation
    * every mixture scheduler (q85/q101) actually needs.
    *
    * Shape: per-source mass is one partial agg; everything after runs
    * on the |sources|-row relation (broadcast total, one ranking
    * window). At 100 TB only the mass agg sees the corpus. */
  def q205Apportionment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 10000L
    val mass = Tables.documents(s, d)
      .groupBy($"source").agg(sum($"n_chars".cast("long")).as("w"))
    val tot = mass.agg(sum($"w").as("big_w"), count(lit(1)).as("n_src"))
    val base = mass.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"w * $k div big_w"))
      .withColumn("rem", expr(s"w * $k % big_w"))
    val short = base.agg((lit(k) - sum($"base")).as("n_extra"))
    val rk = Window.orderBy($"rem".desc, $"source")
    base.crossJoin(broadcast(short))
      .withColumn("rnk", row_number().over(rk).cast("long"))
      .withColumn("extra", ($"rnk" <= $"n_extra").cast("long"))
      .select($"source", $"w", $"base", $"extra",
        ($"base" + $"extra").as("alloc"))
      .orderBy($"source")
  }

  val q205Oracle: String =
    """WITH mass AS (
         SELECT source, CAST(sum(n_chars) AS BIGINT) AS w
         FROM documents GROUP BY source),
       tot AS (SELECT CAST(sum(w) AS BIGINT) AS big_w FROM mass),
       base AS (
         SELECT source, w,
           w * 10000 // big_w AS base,
           w * 10000 % big_w AS rem
         FROM mass CROSS JOIN tot),
       short AS (SELECT 10000 - CAST(sum(base) AS BIGINT) AS n_extra FROM base),
       rk AS (
         SELECT source, w, base,
           CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rnk
         FROM base)
       SELECT source, w, base,
         CAST(rnk <= n_extra AS BIGINT) AS extra,
         base + CAST(rnk <= n_extra AS BIGINT) AS alloc
       FROM rk CROSS JOIN short
       ORDER BY source"""

  /** Consistent-hash ring sharding (q208): q140's rendezvous
    * alternative — 8 shards × 16 virtual nodes hashed onto a 60-bit
    * ring, every doc owned by its SUCCESSOR vnode (smallest vnode
    * position ≥ the doc's position, wrapping past the top). The ring
    * is what memcached/Dynamo-style systems actually deploy: adding a
    * shard moves only the keys in the arcs its vnodes claim (~1/9 of
    * the data), where modulo sharding moves nearly everything.
    *
    * The successor lookup is a BROADCAST ARC RANGE JOIN — the
    * production shape: the 128-vnode ring becomes its arc table
    * ((prev_pos, pos] per vnode, built with one lag window over the
    * LITERAL ring relation — 128 rows, no data source anywhere near
    * it), each doc key probes the broadcast arcs with a range
    * predicate (scan-local, ~128 comparisons per row, no shuffle of
    * the doc relation), and keys above the top vnode left-join-miss
    * into the ring's minimum-position vnode (the wrap). Output is the
    * per-shard load profile with imbalance in bp of the 1/8 ideal.
    * (An earlier form unioned vnodes into the doc stream and ran a
    * global desc-sort forward-fill — correct, but one global sort of
    * the doc relation; the arc probe is what survives 100 TB.) */
  def q208HashRing(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ring = (0 until 8).flatMap(sh => (0 until 16).map(v => (sh, v)))
      .toDF("shard", "v")
      .select($"shard".cast("long").as("vnode_shard"),
        hash60(concat_ws(":", lit("shard"), $"shard", $"v")).as("pos"))
    val minVnode = ring.orderBy($"pos").limit(1)
      .select($"vnode_shard".as("wrap_shard"))
    // arc table: vnode at `pos` owns keys in (prev_pos, pos]; the lag
    // window runs over the 128-row literal ring, not over data
    val wRing = Window.orderBy($"pos")
    val arcs = ring
      .withColumn("lo", lag($"pos", 1).over(wRing))
      .select($"vnode_shard", $"lo", $"pos".as("hi"))
    val keys = Tables.documents(s, d)
      .select($"doc_id", hash60($"doc_id".cast("string")).as("pos"))
    keys
      .join(broadcast(arcs),
        ($"lo".isNull || $"pos" > $"lo") && $"pos" <= $"hi", "left_outer")
      .crossJoin(broadcast(minVnode))
      .select($"doc_id", coalesce($"vnode_shard", $"wrap_shard").as("shard"))
      .groupBy($"shard").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(
        Tables.documents(s, d).agg(count(lit(1)).as("n_total"))))
      .select($"shard", $"n_docs",
        expr("n_docs * 10000 div n_total").as("share_bp"),
        expr("abs(n_docs * 8 - n_total) * 10000 div n_total")
          .as("imbalance_bp"))
      .orderBy($"shard")
  }

  val q208Oracle: String =
    """WITH ring AS (
         SELECT CAST(sh AS BIGINT) AS vnode_shard,
           ('0x' || substr(md5('shard:' || CAST(sh AS VARCHAR) || ':' ||
              CAST(v AS VARCHAR)), 1, 15))::BIGINT AS pos
         FROM generate_series(0, 7) s(sh)
         CROSS JOIN generate_series(0, 15) t(v)),
       wrapv AS (SELECT vnode_shard AS wrap_shard FROM ring
                 ORDER BY pos LIMIT 1),
       keys AS (
         SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS pos
         FROM documents),
       u AS (
         SELECT pos, vnode_shard, CAST(NULL AS BIGINT) AS doc_id FROM ring
         UNION ALL
         SELECT pos, CAST(NULL AS BIGINT), doc_id FROM keys),
       f AS (
         SELECT doc_id,
           last_value(vnode_shard IGNORE NULLS) OVER (
             ORDER BY pos DESC, vnode_shard DESC NULLS LAST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS owner
         FROM u),
       asg AS (
         SELECT doc_id, coalesce(owner, (SELECT wrap_shard FROM wrapv)) AS shard
         FROM f WHERE doc_id IS NOT NULL),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
       SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) * 10000 // n_total AS share_bp,
         abs(CAST(count(*) AS BIGINT) * 8 - n_total) * 10000 // n_total AS imbalance_bp
       FROM asg CROSS JOIN tot GROUP BY shard, n_total ORDER BY shard"""

  /** Resharding movement audit (q372): q208's ring asserts in prose
    * that "adding shards moves only the arcs the new vnodes claim,
    * where modulo moves nearly everything" — this op MEASURES it for
    * the 8 → 12 scale-up. Every doc key is placed four ways in ONE
    * scan-local pass (mod 8, mod 12, ring of 8 shards, ring of 12 —
    * the 12-ring reuses the 8-ring's vnode positions for shards 0-7,
    * which is exactly why consistent hashing wins: old vnodes keep
    * their arcs), each ring lookup a broadcast arc range join (q208's
    * production shape; no shuffle of the doc relation anywhere).
    * Output: 2 rows — strategy, docs, moved, moved share in bp.
    * Expected physics: ring ≈ 4/12 of keys move (the new shards'
    * capacity share), modulo ≈ 11/12 (keys keep their slot only when
    * h mod 24 agrees). */
  def q372ReshardingAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def ringParts(nShards: Int, tag: String) = {
      val ring = (0 until nShards).flatMap(sh => (0 until 16).map(v => (sh, v)))
        .toDF("shard", "v")
        .select($"shard".cast("long").as(s"vshard$tag"),
          hash60(concat_ws(":", lit("shard"), $"shard", $"v")).as(s"pos$tag"))
      val wrap = ring.orderBy(col(s"pos$tag")).limit(1)
        .select(col(s"vshard$tag").as(s"wrap$tag"))
      val arcs = ring
        .withColumn(s"lo$tag", lag(col(s"pos$tag"), 1)
          .over(Window.orderBy(col(s"pos$tag"))))
        .select(col(s"vshard$tag"), col(s"lo$tag"), col(s"pos$tag").as(s"hi$tag"))
      (arcs, wrap)
    }
    val (arcs8, wrap8) = ringParts(8, "8")
    val (arcs12, wrap12) = ringParts(12, "12")
    val asg = Tables.documents(s, d)
      .select($"doc_id", hash60($"doc_id".cast("string")).as("pos"))
      .join(broadcast(arcs8),
        ($"lo8".isNull || $"pos" > $"lo8") && $"pos" <= $"hi8", "left_outer")
      .crossJoin(broadcast(wrap8))
      .withColumn("ring_old", coalesce($"vshard8", $"wrap8"))
      .select($"doc_id", $"pos", $"ring_old")
      .join(broadcast(arcs12),
        ($"lo12".isNull || $"pos" > $"lo12") && $"pos" <= $"hi12", "left_outer")
      .crossJoin(broadcast(wrap12))
      .withColumn("ring_new", coalesce($"vshard12", $"wrap12"))
      .select(($"pos" % 8 =!= $"pos" % 12).cast("long").as("mod_moved"),
        ($"ring_old" =!= $"ring_new").cast("long").as("ring_moved"))
    val tot = asg.agg(count(lit(1)).as("n_docs"),
      sum($"mod_moved").as("mod_m"), sum($"ring_moved").as("ring_m"))
    tot.select(lit("mod").as("strategy"), $"n_docs", $"mod_m".as("n_moved"),
        expr("10000 * mod_m div n_docs").as("moved_bp"))
      .unionByName(tot.select(lit("ring").as("strategy"), $"n_docs",
        $"ring_m".as("n_moved"),
        expr("10000 * ring_m div n_docs").as("moved_bp")))
      .orderBy($"strategy")
  }

  val q372Oracle: String =
    """WITH ring8 AS (
         SELECT CAST(sh AS BIGINT) AS vshard,
           ('0x' || substr(md5('shard:' || CAST(sh AS VARCHAR) || ':' ||
              CAST(v AS VARCHAR)), 1, 15))::BIGINT AS pos
         FROM generate_series(0, 7) s(sh)
         CROSS JOIN generate_series(0, 15) t(v)),
       ring12 AS (
         SELECT CAST(sh AS BIGINT) AS vshard,
           ('0x' || substr(md5('shard:' || CAST(sh AS VARCHAR) || ':' ||
              CAST(v AS VARCHAR)), 1, 15))::BIGINT AS pos
         FROM generate_series(0, 11) s(sh)
         CROSS JOIN generate_series(0, 15) t(v)),
       arcs8 AS (SELECT vshard, lag(pos) OVER (ORDER BY pos) AS lo, pos AS hi FROM ring8),
       arcs12 AS (SELECT vshard, lag(pos) OVER (ORDER BY pos) AS lo, pos AS hi FROM ring12),
       wrap8 AS (SELECT vshard FROM ring8 ORDER BY pos LIMIT 1),
       wrap12 AS (SELECT vshard FROM ring12 ORDER BY pos LIMIT 1),
       keys AS (
         SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS pos
         FROM documents),
       asg AS (
         SELECT k.pos,
           coalesce(a8.vshard, (SELECT vshard FROM wrap8)) AS ring_old,
           coalesce(a12.vshard, (SELECT vshard FROM wrap12)) AS ring_new
         FROM keys k
         LEFT JOIN arcs8 a8 ON (a8.lo IS NULL OR k.pos > a8.lo) AND k.pos <= a8.hi
         LEFT JOIN arcs12 a12 ON (a12.lo IS NULL OR k.pos > a12.lo) AND k.pos <= a12.hi),
       tot AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pos % 8 <> pos % 12 THEN 1 ELSE 0 END) AS BIGINT) AS mod_m,
           CAST(sum(CASE WHEN ring_old <> ring_new THEN 1 ELSE 0 END) AS BIGINT) AS ring_m
         FROM asg)
       SELECT 'mod' AS strategy, n_docs, mod_m AS n_moved,
         10000 * mod_m // n_docs AS moved_bp FROM tot
       UNION ALL
       SELECT 'ring', n_docs, ring_m, 10000 * ring_m // n_docs FROM tot
       ORDER BY strategy"""

  /** Net-new content contribution per source (q261): how much of each
    * source's shingle mass is FIRST SEEN there, when sources are
    * ingested in priority (name) order? Gross shingles credit every
    * source that contains them; net-new credits only the first — the
    * marginal-value number that prices a data acquisition ("source k
    * adds only 8% new content given what we already have"). The
    * q247 exclusive-reach question lifted from users to content, and
    * the additive complement of q173's greedy set cover (which picks
    * the order; this audits a FIXED order).
    *
    * Shape: one shingle explode → (shingle, source) dedup →
    * per-shingle min(source) partial agg; gross counts ride the same
    * deduped relation; one rollup joins the two |sources|-sized
    * results. All corpus-sized work is the two partial aggs. */
  def q261NetNewContent(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = Tables.documents(s, d)
      .select($"source",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15)).as("sh"))
      .distinct()
    val gross = ss.groupBy($"source").agg(count(lit(1)).as("gross_shingles"))
    val netNew = ss.groupBy($"sh").agg(min($"source").as("source"))
      .groupBy($"source").agg(count(lit(1)).as("net_new_shingles"))
    gross.join(netNew, Seq("source"), "left")
      .withColumn("net_new_shingles", coalesce($"net_new_shingles", lit(0L)))
      .withColumn("net_new_bp", expr("10000 * net_new_shingles div gross_shingles"))
      .orderBy($"source")
  }

  val q261Oracle: String =
    """WITH tk AS (
         SELECT source, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT source, unnest(list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END)) AS shd
         FROM tk),
       ss AS (
         SELECT DISTINCT source,
           ('0x' || substr(md5(shd), 1, 15))::BIGINT AS sh
         FROM sh),
       gross AS (
         SELECT source, CAST(count(*) AS BIGINT) AS gross_shingles
         FROM ss GROUP BY source),
       netnew AS (
         SELECT source, CAST(count(*) AS BIGINT) AS net_new_shingles
         FROM (SELECT sh, min(source) AS source FROM ss GROUP BY sh)
         GROUP BY source)
       SELECT g.source, g.gross_shingles,
         coalesce(n.net_new_shingles, 0) AS net_new_shingles,
         10000 * coalesce(n.net_new_shingles, 0) // g.gross_shingles
           AS net_new_bp
       FROM gross g LEFT JOIN netnew n ON g.source = n.source
       ORDER BY g.source"""

  /** The (doc, hashed-bigram-bucket) stream q267's DSIR model and
    * scorer both consume: bigrams over the whitespace tokens, bucketed
    * by the shared md5-60 hash mod 4096. */
  private[graft] def dsirBigramBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", tokens($"text").as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", $"lang", $"source", explode(expr(
        """transform(sequence(1, size(tk) - 1),
           i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"""))
        .as("g"))
      .withColumn("b", hash60($"g") % 4096)
  }

  /** The DSIR bucket model: per-bucket target/raw counts, corpus
    * totals, and the add-one-smoothed importance weight in micro-nats.
    * Bounded relation (≤ 4096 rows); `n_t`/`n_r` ride along so callers
    * (the streaming weight array) can compute the unseen-bucket default
    * weight without a second totals pass. */
  private[graft] def dsirModel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bc = dsirBigramBuckets(s, d).groupBy($"b")
      .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("c_t"),
        count(lit(1)).as("c_r"))
    val tot = bc.agg(sum($"c_t").as("n_t"), sum($"c_r").as("n_r"))
    bc.crossJoin(broadcast(tot))
      .withColumn("w_micro",
        floor(log(
          (($"c_t" + 1) * ($"n_r" + 4096)).cast("double") /
            (($"c_r" + 1) * ($"n_t" + 4096)).cast("double")) * 1000000.0)
          .cast("long"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * (non-target) document by how target-like its hashed-bigram profile
    * is, and keep the top 25. Target sample = the `lang='en'` slice;
    * raw = the whole corpus. Features are bigrams hashed into B=4096
    * buckets (the shared md5-60 hash); both distributions are
    * add-one-smoothed unigram models over buckets, and the document
    * score is Σ_counts log(p_target(b)/p_raw(b)) with the house
    * micro-nat term-wise floor (one shared IEEE ln per BUCKET, then
    * exact integer count-weighted sums — order-free).
    *
    * Scale: the bucket model is a bounded relation (≤ 4096 rows) built
    * by one partial-agg groupBy over the bigram stream; doc scoring is
    * a per-(doc,bucket) partial-agg groupBy + a broadcast join against
    * the 4096-row weight table + one per-doc sum. The top-25 cut is
    * TakeOrderedAndProject. Note the weight formula multiplies
    * (c+1)·(N+B) inside one double before the ln — exact below 2⁵³
    * (any realistic bucket count); beyond that split into ln terms and
    * accept ±1 micro-nat per bucket. */
  def q267DsirSelect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bg = dsirBigramBuckets(s, d)
    val w = dsirModel(s, d).select($"b", $"w_micro")
    bg.filter($"lang" =!= "en")
      .groupBy($"doc_id", $"lang", $"source", $"b")
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(w), "b")
      .groupBy($"doc_id", $"lang", $"source")
      .agg(sum($"cnt" * $"w_micro").as("score_micro"))
      .orderBy($"score_micro".desc, $"doc_id")
      .limit(25)
  }

  val q267Oracle: String =
    """WITH tk AS (
         SELECT doc_id, lang, source,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       bg AS (
         SELECT doc_id, lang, source,
           unnest([('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT % 4096
                   FOR i IN generate_series(1, len(tk) - 1)]) AS b
         FROM tk WHERE len(tk) >= 2),
       bc AS (
         SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
           CAST(count(*) AS BIGINT) AS c_r
         FROM bg GROUP BY b),
       tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t, CAST(sum(c_r) AS BIGINT) AS n_r FROM bc),
       w AS (
         SELECT b, CAST(floor(ln(((c_t + 1) * (n_r + 4096))::DOUBLE
             / ((c_r + 1) * (n_t + 4096))::DOUBLE) * 1000000.0) AS BIGINT) AS w_micro
         FROM bc CROSS JOIN tot),
       ds AS (
         SELECT doc_id, lang, source, b, CAST(count(*) AS BIGINT) AS cnt
         FROM bg WHERE lang <> 'en' GROUP BY 1, 2, 3, 4),
       sc AS (
         SELECT doc_id, lang, source, CAST(sum(cnt * w_micro) AS BIGINT) AS score_micro
         FROM ds JOIN w USING (b) GROUP BY 1, 2, 3)
       SELECT doc_id, lang, source, score_micro
       FROM sc ORDER BY score_micro DESC, doc_id LIMIT 25"""

  /** Cross-document boilerplate scrub (CCNet / RefinedWeb line-level
    * dedup, applied — q34 detects shared passages, this one REMOVES
    * them and accounts for it): any 8-token chunk occurring in ≥ 3
    * distinct documents is boilerplate; every occurrence is cut from
    * every document. Output is the per-document accounting a curation
    * run reports: chunk counts, occurrences removed, tokens kept
    * (ragged tails always survive), and the removed share in permille.
    *
    * Scale: same two shuffles as q34 (doc-keyed chunking, chunk-keyed
    * frequency roll-up); the boilerplate residue is tiny by
    * construction (bounded by chunks with df ≥ 3) so the join back is
    * a broadcast, and the accounting is one per-doc partial agg. The
    * scrub itself at 100 TB is this exact plan with the projection
    * writing the filtered text instead of counts. */
  def q268BoilerplateScrub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("toks"))
      .repartition($"doc_id")
      .localCheckpoint() // both the chunk stream and the per-doc base read this
    val chunks = docs.filter(size($"toks") >= 8)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(toks) div 8 - 1),
           i -> array_join(slice(toks, i*8+1, 8), ' '))""")).as("chunk"))
    val bp = chunks.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 3).select($"chunk")
    val removed = chunks.join(broadcast(bp), "chunk")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_bp"))
    docs.select($"doc_id", size($"toks").cast("long").as("n_tok"),
        expr("size(toks) div 8").cast("long").as("n_chunks"))
      .join(removed, Seq("doc_id"), "left")
      .withColumn("n_bp", coalesce($"n_bp", lit(0L)))
      .withColumn("kept_tokens", $"n_tok" - $"n_bp" * 8)
      .withColumn("removed_permille",
        when($"n_tok" > 0, expr("n_bp * 8000 div n_tok")).otherwise(0L))
      .orderBy($"doc_id")
  }

  val q268Oracle: String =
    """WITH tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       ch AS (
         SELECT doc_id,
           unnest([list_aggregate(tk[i*8+1 : i*8+8], 'string_agg', ' ')
                   FOR i IN generate_series(0, len(tk)//8 - 1)]) AS chunk
         FROM tk WHERE len(tk) >= 8),
       bp AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 3),
       rm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bp
              FROM ch JOIN bp USING (chunk) GROUP BY doc_id)
       SELECT tk.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tok,
         CAST(len(tk.tk) // 8 AS BIGINT) AS n_chunks,
         CAST(coalesce(rm.n_bp, 0) AS BIGINT) AS n_bp,
         CAST(len(tk.tk) - coalesce(rm.n_bp, 0) * 8 AS BIGINT) AS kept_tokens,
         CAST(CASE WHEN len(tk.tk) > 0 THEN coalesce(rm.n_bp, 0) * 8000 // len(tk.tk)
                   ELSE 0 END AS BIGINT) AS removed_permille
       FROM tk LEFT JOIN rm ON tk.doc_id = rm.doc_id
       ORDER BY tk.doc_id"""

  /** Context-length truncation audit — the planning table behind
    * choosing a sequence cap: for each candidate cap (32/64/96 tokens,
    * bracketing this corpus' 10–99 length range), how many documents
    * overflow, how many tokens a hard truncation discards, and what
    * share of the corpus that loss is (bp). The q97/q104 packing
    * planners consume exactly this trade-off.
    *
    * Shape: everything computes off the LENGTH HISTOGRAM (groupBy
    * n_tok — bounded by max doc length), cross-joined with the 3-row
    * literal cap relation; no per-doc work after the one partial-agg
    * groupBy, and the corpus total rides the same histogram. */
  def q275TruncationAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.documents(s, d)
      .select(size(tokens($"text")).cast("long").as("n_tok"))
      .groupBy($"n_tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds both the totals row and the per-cap sums
    val tot = hist.agg(sum($"cnt" * $"n_tok").as("total_tokens"))
    val caps = Seq(32L, 64L, 96L).toDF("cap")
    hist.crossJoin(broadcast(caps))
      .groupBy($"cap")
      .agg(sum(when($"n_tok" > $"cap", $"cnt").otherwise(0L)).as("n_docs_over"),
        sum(when($"n_tok" > $"cap", ($"n_tok" - $"cap") * $"cnt")
          .otherwise(0L)).as("tokens_lost"))
      .crossJoin(broadcast(tot))
      .withColumn("loss_bp", expr("tokens_lost * 10000 div total_tokens"))
      .select($"cap", $"n_docs_over", $"tokens_lost", $"total_tokens", $"loss_bp")
      .orderBy($"cap")
  }

  val q275Oracle: String =
    """WITH hist AS (
         SELECT CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tok,
           CAST(count(*) AS BIGINT) AS cnt
         FROM documents GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt * n_tok) AS BIGINT) AS total_tokens FROM hist),
       caps AS (SELECT CAST(unnest([32, 64, 96]) AS BIGINT) AS cap)
       SELECT cap,
         CAST(sum(CASE WHEN n_tok > cap THEN cnt ELSE 0 END) AS BIGINT) AS n_docs_over,
         CAST(sum(CASE WHEN n_tok > cap THEN (n_tok - cap) * cnt ELSE 0 END) AS BIGINT) AS tokens_lost,
         total_tokens,
         CAST(sum(CASE WHEN n_tok > cap THEN (n_tok - cap) * cnt ELSE 0 END) * 10000
           // total_tokens AS BIGINT) AS loss_bp
       FROM hist CROSS JOIN caps CROSS JOIN tot
       GROUP BY cap, total_tokens ORDER BY cap"""

  /** Incremental maintenance of the DSIR bucket model (the q103/q257
    * IVM discipline applied to q267's language model): the corpus
    * model lives as a stored 4096-row count table; when a new doc
    * batch lands (the doc_id%10==0 convention shared with q52), its
    * bucket counts are aggregated ALONE and merged algebraically into
    * the snapshot — counts add under full-outer + coalesce, totals
    * add, and the smoothed weight recomputes from merged counts only.
    * No corpus rescan: at scale the snapshot side is a table read, and
    * the delta side touches only the new batch (this plan's two scans
    * over one parquet dir are the local stand-in — the checkpoint
    * below is the "stored snapshot"). The oracle recomputes the model
    * from the FULL corpus from scratch — hash equality IS the merge-
    * correctness proof (same contract as q103). The output model is
    * what [[graft.streaming.DocStreams.dsirWeightArray]] would pin for
    * the next ingest window. */
  def q276DsirModelIvm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bg = dsirBigramBuckets(s, d).localCheckpoint()
    def counts(pred: org.apache.spark.sql.Column) = bg.filter(pred)
      .groupBy($"b")
      .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("c_t"),
        count(lit(1)).as("c_r"))
    val snap = counts($"doc_id" % 10 =!= 0)
    val delta = counts($"doc_id" % 10 === 0)
    val merged = snap.as("a").join(delta.as("b"), Seq("b"), "full_outer")
      .select($"b",
        (coalesce($"a.c_t", lit(0L)) + coalesce($"b.c_t", lit(0L))).as("c_t"),
        (coalesce($"a.c_r", lit(0L)) + coalesce($"b.c_r", lit(0L))).as("c_r"))
    val tot = merged.agg(sum($"c_t").as("n_t"), sum($"c_r").as("n_r"))
    merged.crossJoin(broadcast(tot))
      .withColumn("w_micro",
        floor(log(
          (($"c_t" + 1) * ($"n_r" + 4096)).cast("double") /
            (($"c_r" + 1) * ($"n_t" + 4096)).cast("double")) * 1000000.0)
          .cast("long"))
      .select($"b", $"c_t", $"c_r", $"w_micro")
      .orderBy($"b")
  }

  val q276Oracle: String =
    """WITH tk AS (
         SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       bg AS (
         SELECT doc_id, lang,
           unnest([('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT % 4096
                   FOR i IN generate_series(1, len(tk) - 1)]) AS b
         FROM tk WHERE len(tk) >= 2),
       bc AS (
         SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
           CAST(count(*) AS BIGINT) AS c_r
         FROM bg GROUP BY b),
       tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t, CAST(sum(c_r) AS BIGINT) AS n_r FROM bc)
       SELECT b, c_t, c_r,
         CAST(floor(ln(((c_t + 1) * (n_r + 4096))::DOUBLE
             / ((c_r + 1) * (n_t + 4096))::DOUBLE) * 1000000.0) AS BIGINT) AS w_micro
       FROM bc CROSS JOIN tot ORDER BY b"""

  /** DPO/RLHF preference-pair mining (q316): build (chosen, rejected)
    * training pairs from a scored candidate pool — documents grouped
    * by their leading token (the "prompt"), scored by stopword
    * density (integer micro, exact comparisons), chosen = best,
    * rejected = worst, pair emitted only when the group has ≥2
    * candidates AND the margin clears 0.02 (margin filtering is what
    * keeps noisy near-tie pairs out of a DPO set). Both endpoints are
    * picked by fully tie-broken row_number windows PARTITIONED by
    * prompt — per-group, never global, so the construction is one
    * shuffle on the prompt key at any scale. */
  def q316DpoPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, d).select($"doc_id",
      element_at(split($"text", " "), 1).as("prompt"),
      floor(lit(1000000.0) * size(expr(
          "filter(split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')"))
        / size(split($"text", " "))).cast("long").as("score"))
    val ranked = scored
      .withColumn("rb", row_number().over(Window.partitionBy($"prompt")
        .orderBy($"score".desc, $"doc_id")))
      .withColumn("rw", row_number().over(Window.partitionBy($"prompt")
        .orderBy($"score".asc, $"doc_id".desc)))
      .withColumn("n_cand",
        count(lit(1)).over(Window.partitionBy($"prompt")).cast("long"))
    ranked.filter($"rb" === 1)
      .select($"prompt", $"n_cand", $"doc_id".as("chosen_doc"),
        $"score".as("chosen_score"))
      .join(ranked.filter($"rw" === 1)
        .select($"prompt", $"doc_id".as("rejected_doc"),
          $"score".as("rejected_score")), Seq("prompt"))
      .withColumn("margin", $"chosen_score" - $"rejected_score")
      .filter($"n_cand" >= 2 && $"margin" >= 20000L)
      .select($"prompt", $"n_cand", $"chosen_doc", $"chosen_score",
        $"rejected_doc", $"rejected_score", $"margin")
      .orderBy($"prompt")
  }

  val q316Oracle: String =
    """WITH scored AS (
         SELECT doc_id, string_split(text, ' ')[1] AS prompt,
           CAST(floor(1000000.0 * len(list_filter(string_split(text, ' '),
             x -> x = 'the' OR x = 'a' OR x = 'of')) / len(string_split(text, ' '))) AS BIGINT) AS score
         FROM documents),
       ranked AS (
         SELECT prompt, doc_id, score,
           row_number() OVER (PARTITION BY prompt ORDER BY score DESC, doc_id) AS rb,
           row_number() OVER (PARTITION BY prompt ORDER BY score ASC, doc_id DESC) AS rw,
           CAST(count(*) OVER (PARTITION BY prompt) AS BIGINT) AS n_cand
         FROM scored),
       pairs AS (
         SELECT b.prompt, b.n_cand,
           b.doc_id AS chosen_doc, b.score AS chosen_score,
           w.doc_id AS rejected_doc, w.score AS rejected_score,
           b.score - w.score AS margin
         FROM ranked b JOIN ranked w ON b.prompt = w.prompt AND b.rb = 1 AND w.rw = 1)
       SELECT prompt, n_cand, chosen_doc, chosen_score, rejected_doc, rejected_score, margin
       FROM pairs WHERE n_cand >= 2 AND margin >= 20000
       ORDER BY prompt"""

  /** Preference-pair length-bias audit (q356): the reward-hacking
    * check every RLHF/DPO set needs — over q316's (chosen, rejected)
    * pairs, does the winner run systematically LONGER? Sign test on
    * the paired length comparison (continuity-corrected χ², q314's
    * machinery applied to the pair stream) plus the raw token delta.
    * A length_biased=true verdict means the "quality" signal is
    * partly verbosity and the scorer needs length control (q358's
    * stratified win-rate is the companion fix). Pure int64; one
    * derived relation over the pair construction. */
  def q356LengthBias(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, d).select($"doc_id",
      element_at(split($"text", " "), 1).as("prompt"),
      size(split($"text", " ")).cast("long").as("n_tok"),
      floor(lit(1000000.0) * size(expr(
          "filter(split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')"))
        / size(split($"text", " "))).cast("long").as("score"))
    val ranked = scored
      .withColumn("rb", row_number().over(Window.partitionBy($"prompt")
        .orderBy($"score".desc, $"doc_id")))
      .withColumn("rw", row_number().over(Window.partitionBy($"prompt")
        .orderBy($"score".asc, $"doc_id".desc)))
      .withColumn("n_cand",
        count(lit(1)).over(Window.partitionBy($"prompt")).cast("long"))
    val pairs = ranked.filter($"rb" === 1)
      .select($"prompt", $"n_cand", $"n_tok".as("len_c"),
        $"score".as("score_c"))
      .join(ranked.filter($"rw" === 1)
        .select($"prompt", $"n_tok".as("len_r"), $"score".as("score_r")),
        Seq("prompt"))
      .filter($"n_cand" >= 2 && $"score_c" - $"score_r" >= 20000L)
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when($"len_c" > $"len_r", 1L).otherwise(0L)).as("longer"),
        sum(when($"len_c" < $"len_r", 1L).otherwise(0L)).as("shorter"),
        sum($"len_c" - $"len_r").as("tok_delta"))
      .selectExpr("n_pairs", "longer", "shorter", "tok_delta",
        """CASE WHEN longer + shorter = 0 THEN 0
           ELSE (1000 * greatest(abs(longer - shorter) - 1, 0) * greatest(abs(longer - shorter) - 1, 0)) div (longer + shorter)
           END AS sign_chi2_milli""")
      .withColumn("length_biased", $"sign_chi2_milli" > 3841L)
  }

  val q356Oracle: String =
    """WITH scored AS (
         SELECT doc_id, string_split(text, ' ')[1] AS prompt,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(floor(1000000.0 * len(list_filter(string_split(text, ' '),
             x -> x = 'the' OR x = 'a' OR x = 'of')) / len(string_split(text, ' '))) AS BIGINT) AS score
         FROM documents),
       ranked AS (
         SELECT prompt, doc_id, score, n_tok,
           row_number() OVER (PARTITION BY prompt ORDER BY score DESC, doc_id) AS rb,
           row_number() OVER (PARTITION BY prompt ORDER BY score ASC, doc_id DESC) AS rw,
           CAST(count(*) OVER (PARTITION BY prompt) AS BIGINT) AS n_cand
         FROM scored),
       pairs AS (
         SELECT b.prompt, b.n_tok AS len_c, w.n_tok AS len_r
         FROM ranked b JOIN ranked w ON b.prompt = w.prompt AND b.rb = 1 AND w.rw = 1
         WHERE b.n_cand >= 2 AND b.score - w.score >= 20000),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN len_c > len_r THEN 1 ELSE 0 END) AS BIGINT) AS longer,
           CAST(sum(CASE WHEN len_c < len_r THEN 1 ELSE 0 END) AS BIGINT) AS shorter,
           CAST(sum(len_c - len_r) AS BIGINT) AS tok_delta
         FROM pairs)
       SELECT n_pairs, longer, shorter, tok_delta,
         CASE WHEN longer + shorter = 0 THEN 0
           ELSE (1000 * greatest(abs(longer - shorter) - 1, 0) * greatest(abs(longer - shorter) - 1, 0)) // (longer + shorter)
         END AS sign_chi2_milli,
         CASE WHEN longer + shorter = 0 THEN FALSE
           ELSE (1000 * greatest(abs(longer - shorter) - 1, 0) * greatest(abs(longer - shorter) - 1, 0)) // (longer + shorter) > 3841
         END AS length_biased
       FROM agg"""

  /** Multi-epoch mixture waterfilling (q369): given a token budget of
    * 2× the corpus (the data-constrained regime of Muennighoff et al.
    * 2023), how many epochs of each source should the run see? Target
    * sampling weights are sqrt-smoothed (w_s = √T_s — between
    * proportional and uniform, the standard multilingual temperature
    * idea q85 applies to quotas), but no source may exceed 3 epochs —
    * so proportional allocation must WATERFILL: sources whose share
    * would cross the epoch cap are pinned there and the residual
    * budget re-spreads over the rest. Rather than iterating to the
    * fixed point, the cut has a closed form: sort sources by the
    * water level at which they cap (cap_s/w_s), and exactly one
    * prefix length j satisfies "row j caps at level λ_j = R_j/W_j,
    * row j+1 does not" — found by a window pass over the BOUNDED
    * source relation plus exact cross-multiplied comparisons
    * (decimal on the Spark side, HUGEINT in the oracle; no division
    * enters a comparison).
    *
    * Parity: the sort key is ⌊cap·10⁶/w⌋ computed in DOUBLE on both
    * sides (identical IEEE); residual allocations are one
    * double-floor each. Shape: one corpus scan → |sources| rows;
    * everything after is arithmetic on the bounded relation. */
  def q369EpochWaterfill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, d)
      .select($"source", size(tokens($"text")).cast("long").as("ntok"))
      .groupBy($"source").agg(sum($"ntok").as("tok"))
    val b = t.agg((sum($"tok") * 2).as("budget"))
    val ord = Window.orderBy($"ratio", $"source")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sRows = t
      .select($"source", $"tok",
        floor(sqrt($"tok".cast("double")) * 1000.0).cast("long").as("wm"),
        ($"tok" * 3).as("cap"))
      .withColumn("ratio", floor($"cap".cast("double") * 1000000.0 / $"wm"))
      .withColumn("j", row_number().over(ord).cast("long"))
      .withColumn("cum_cap", sum($"cap").over(cum))
      .withColumn("cum_w", sum($"wm").over(cum))
      .localCheckpoint()
    val tot = sRows.agg(sum($"wm").as("w_all"))
    val cuts0 = sRows.select($"j", $"cum_cap", $"cum_w")
      .unionByName(s.range(1).select(lit(0L).as("j"),
        lit(0L).as("cum_cap"), lit(0L).as("cum_w")))
    val cuts = cuts0.crossJoin(broadcast(b)).crossJoin(broadcast(tot))
      .select($"j", ($"budget" - $"cum_cap").as("r"),
        ($"w_all" - $"cum_w").as("wrem"))
    val sj = sRows.select($"j", $"cap".as("cap_j"), $"wm".as("wm_j"))
    val sn = sRows.select(($"j" - 1).as("j"), $"cap".as("cap_n"), $"wm".as("wm_n"))
    val valid = cuts.join(sj, Seq("j"), "left").join(sn, Seq("j"), "left")
      .filter($"r" >= 0)
      .filter($"j" === 0L || expr(
        """CAST(cap_j AS DECIMAL(20,0)) * CAST(wrem AS DECIMAL(18,0))
           <= CAST(r AS DECIMAL(20,0)) * CAST(wm_j AS DECIMAL(18,0))"""))
      .filter($"cap_n".isNull || expr(
        """CAST(cap_n AS DECIMAL(20,0)) * CAST(wrem AS DECIMAL(18,0))
           > CAST(r AS DECIMAL(20,0)) * CAST(wm_n AS DECIMAL(18,0))"""))
      .select($"j".as("vj"), $"r", $"wrem")
      // the bracketing conditions admit exactly ONE water level, but
      // sRows' checkpoint erased the provenance that proves the
      // relation small — the limit restates the bound in the plan
      // (no-op at runtime) for the broadcast audit
      .limit(1)
    sRows.crossJoin(broadcast(valid))
      .select($"source", $"tok", $"wm".as("w_milli"),
        ($"j" <= $"vj").as("capped"),
        when($"j" <= $"vj", $"cap")
          .otherwise(floor($"r".cast("double") * $"wm" / $"wrem").cast("long"))
          .as("alloc_tok"))
      .withColumn("epochs_milli", expr("1000 * alloc_tok div tok"))
      .orderBy($"source")
  }

  val q369Oracle: String =
    """WITH t AS (
         SELECT source,
           CAST(sum(len(list_filter(string_split_regex(text,'\s+'), x -> x <> ''))) AS BIGINT) AS tok
         FROM documents GROUP BY 1),
       b AS (SELECT CAST(2 * sum(tok) AS BIGINT) AS budget FROM t),
       w AS (
         SELECT source, tok,
           CAST(floor(sqrt(CAST(tok AS DOUBLE)) * 1000.0) AS BIGINT) AS wm,
           3 * tok AS cap
         FROM t),
       s AS (
         SELECT *, floor(CAST(cap AS DOUBLE) * 1000000.0 / wm) AS ratio,
           CAST(row_number() OVER (ORDER BY floor(CAST(cap AS DOUBLE) * 1000000.0 / wm), source) AS BIGINT) AS j,
           CAST(sum(cap) OVER (ORDER BY floor(CAST(cap AS DOUBLE) * 1000000.0 / wm), source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cap,
           CAST(sum(wm) OVER (ORDER BY floor(CAST(cap AS DOUBLE) * 1000000.0 / wm), source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w
         FROM w),
       tot AS (SELECT CAST(sum(wm) AS BIGINT) AS w_all, CAST(count(*) AS BIGINT) AS n FROM s),
       cuts AS (
         SELECT j.j, budget - COALESCE(s.cum_cap, 0) AS r,
           w_all - COALESCE(s.cum_w, 0) AS wrem
         FROM (SELECT unnest(range(0, (SELECT n FROM tot) + 1)) AS j) j
         CROSS JOIN b CROSS JOIN tot LEFT JOIN s ON s.j = j.j),
       valid AS (
         SELECT c.j, c.r, c.wrem FROM cuts c
         LEFT JOIN s sj ON sj.j = c.j
         LEFT JOIN s sn ON sn.j = c.j + 1
         WHERE c.r >= 0
           AND (c.j = 0 OR CAST(sj.cap AS HUGEINT) * c.wrem <= CAST(c.r AS HUGEINT) * sj.wm)
           AND (sn.j IS NULL OR CAST(sn.cap AS HUGEINT) * c.wrem > CAST(c.r AS HUGEINT) * sn.wm))
       SELECT s.source, s.tok, s.wm AS w_milli, s.j <= v.j AS capped,
         CASE WHEN s.j <= v.j THEN s.cap
              ELSE CAST(floor(CAST(v.r AS DOUBLE) * s.wm / v.wrem) AS BIGINT) END AS alloc_tok,
         1000 * (CASE WHEN s.j <= v.j THEN s.cap
              ELSE CAST(floor(CAST(v.r AS DOUBLE) * s.wm / v.wrem) AS BIGINT) END) // s.tok AS epochs_milli
       FROM s CROSS JOIN valid v ORDER BY s.source"""

  /** Sequence-length bucketing planner (q370): pick 3 interior bucket
    * boundaries over document token lengths (capped at 512) so that
    * padding every doc to its bucket's top wastes the FEWEST tokens —
    * the batching-efficiency knob every trainer tunes by hand, solved
    * exactly. The objective decomposes over buckets —
    * pad(a,b] = (N(b)−N(a))·b − (S(b)−S(a)) from the count/mass
    * prefix sums — so the optimum is a K=4-stage DP over the BOUNDED
    * length histogram (≤ 512 rows at any corpus size: the q317
    * bounded-DP doctrine, but here even the DP stays declarative —
    * each stage is a histogram × histogram join with a per-endpoint
    * argmin window, fully tie-broken (cost, then smaller boundary) so
    * the winning PATH is deterministic). Backtracking is 3 bounded
    * joins; the final boundary is pinned to the max observed length.
    *
    * Output: 4 rows — bucket, (lo, hi] bounds, docs, pad tokens; the
    * pad column sums to the DP optimum. Contract: ≥ 4 distinct capped
    * lengths. Shape: one corpus scan → ≤ 512-row histogram;
    * everything else is arithmetic on that bounded relation. */
  def q370LengthBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cumw = Window.orderBy($"l")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = Tables.documents(s, d)
      .select(least(size(tokens($"text")), lit(512)).cast("long").as("l"))
      .filter($"l" >= 1)
      .groupBy($"l").agg(count(lit(1)).as("cnt"))
      .withColumn("nn", sum($"cnt").over(cumw))
      .withColumn("ss", sum($"cnt" * $"l").over(cumw))
      .localCheckpoint()
    val mx = pre.agg(max($"l").as("lmax"))
    // the checkpoint erased the ≤512-row histogram bound; restate it
    // (runtime no-op) so the DP rounds' theta self-join carries its
    // boundedness IN PLAN — the ScaleGuard/audit-lock discipline
    val preB = pre.limit(512)
    val rounds = scala.collection.mutable.Buffer[DataFrame](
      pre.select($"l".as("b"), ($"nn" * $"l" - $"ss").as("cost"),
        lit(0L).as("arg")))
    for (_ <- 2 to 4) {
      val next = preB.as("p").join(preB.as("q"), $"q.l" < $"p.l")
        .join(rounds.last.as("r"), $"r.b" === $"q.l")
        .select($"p.l".as("b"),
          ($"r.cost" + ($"p.nn" - $"q.nn") * $"p.l" - ($"p.ss" - $"q.ss"))
            .as("cost"),
          $"q.l".as("arg"))
        .withColumn("rn",
          row_number().over(Window.partitionBy($"b").orderBy($"cost", $"arg")))
        .filter($"rn" === 1).select($"b", $"cost", $"arg")
        .localCheckpoint()
      rounds += next
    }
    // each DP round is ≤ 512 rows (one per capped length) but the
    // checkpoints erased that provenance — the limit restates the
    // histogram bound in the plan (no-op at runtime) so the broadcast
    // audit can prove the backtracking joins' build sides bounded
    def named(df: DataFrame, n: Int) =
      df.select($"b".as(s"b$n"), $"arg".as(s"a$n")).limit(512)
    val t4 = named(rounds(3), 4).join(broadcast(mx), $"b4" === $"lmax")
      .select($"b4", $"a4")
    val t3 = named(rounds(2), 3).join(broadcast(t4), $"b3" === $"a4")
    val t2 = named(rounds(1), 2).join(broadcast(t3), $"b2" === $"a3")
    val t1 = named(rounds(0), 1).join(broadcast(t2), $"b1" === $"a2")
    val bounds = t1.select(explode(expr(
      """array(
           struct(CAST(1 AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS lo, b1 AS hi),
           struct(CAST(2 AS BIGINT) AS bucket, b1 AS lo, b2 AS hi),
           struct(CAST(3 AS BIGINT) AS bucket, b2 AS lo, b3 AS hi),
           struct(CAST(4 AS BIGINT) AS bucket, b3 AS lo, b4 AS hi))"""))
      .as("s"))
      .select($"s.bucket".as("bucket"), $"s.lo".as("lo_excl"), $"s.hi".as("hi"))
    bounds.join(pre.select($"l", $"cnt"), $"l" > $"lo_excl" && $"l" <= $"hi")
      .groupBy($"bucket", $"lo_excl", $"hi")
      .agg(sum($"cnt").as("n_docs"),
        sum($"cnt" * ($"hi" - $"l")).as("pad_tokens"))
      .orderBy($"bucket")
  }

  /** q370's oracle: the identical DP, rounds generated as MATERIALIZED
    * CTEs. */
  val q370Oracle: String = {
    val head =
      """WITH lens AS (
         SELECT least(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')), 512) AS l
         FROM documents
         WHERE len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) >= 1),
       hist AS MATERIALIZED (
         SELECT l, CAST(count(*) AS BIGINT) AS cnt FROM lens GROUP BY 1),
       pre AS MATERIALIZED (
         SELECT l, cnt,
           CAST(sum(cnt) OVER (ORDER BY l ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nn,
           CAST(sum(cnt * l) OVER (ORDER BY l ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ss
         FROM hist),
       mx AS (SELECT max(l) AS lmax FROM pre),
       r1 AS MATERIALIZED (
         SELECT l AS b, nn * l - ss AS cost, CAST(0 AS BIGINT) AS arg FROM pre)"""
    val rounds = (2 to 4).map { k =>
      s""",
       r$k AS MATERIALIZED (
         SELECT b, cost, arg FROM (
           SELECT p.l AS b,
             r.cost + (p.nn - q.nn) * p.l - (p.ss - q.ss) AS cost, q.l AS arg,
             row_number() OVER (PARTITION BY p.l
               ORDER BY r.cost + (p.nn - q.nn) * p.l - (p.ss - q.ss), q.l) AS rn
           FROM pre p JOIN pre q ON q.l < p.l JOIN r${k - 1} r ON r.b = q.l)
         WHERE rn = 1)"""
    }.mkString
    head + rounds +
      """,
       b4 AS (SELECT r4.b, r4.arg FROM r4 JOIN mx ON r4.b = mx.lmax),
       b3 AS (SELECT r3.b, r3.arg FROM r3 JOIN b4 ON r3.b = b4.arg),
       b2 AS (SELECT r2.b, r2.arg FROM r2 JOIN b3 ON r2.b = b3.arg),
       b1 AS (SELECT r1.b, r1.arg FROM r1 JOIN b2 ON r1.b = b2.arg),
       bounds AS (
         SELECT CAST(1 AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS lo_excl, CAST(b1.b AS BIGINT) AS hi FROM b1
         UNION ALL SELECT 2, CAST(b1.b AS BIGINT), CAST(b2.b AS BIGINT) FROM b1, b2
         UNION ALL SELECT 3, CAST(b2.b AS BIGINT), CAST(b3.b AS BIGINT) FROM b2, b3
         UNION ALL SELECT 4, CAST(b3.b AS BIGINT), CAST(b4.b AS BIGINT) FROM b3, b4)
       SELECT bucket, lo_excl, hi, CAST(sum(h.cnt) AS BIGINT) AS n_docs,
         CAST(sum(h.cnt * (bounds.hi - h.l)) AS BIGINT) AS pad_tokens
       FROM bounds JOIN hist h ON h.l > bounds.lo_excl AND h.l <= bounds.hi
       GROUP BY 1, 2, 3 ORDER BY bucket"""
  }

  /** Compute-optimal training plan (q53, Hoffmann et al. 2022
    * "Chinchilla"): for a grid of compute budgets C = 10^18..10^24
    * FLOPs, the compute-optimal parameter count under C ≈ 6·N·D with
    * the D ≈ 20·N rule is N* = √(C/120), D* = 20·N* — and the table
    * joins THIS corpus's token count to report how many epochs of the
    * corpus each budget would demand (the data-constrained gap q369's
    * waterfilling then allocates). All integer except one √ of an
    * exact double quotient (√ is correctly rounded in IEEE — the
    * engine's only sanctioned transcendental).
    *
    * Shape: a 7-row literal grid × one corpus-token aggregate; scans
    * nothing twice, shuffles nothing. */
  def q53ChinchillaPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tot = Tables.documents(s, d)
      .select(size(tokens($"text")).cast("long").as("nt"))
      .agg(sum($"nt").as("corpus_tokens"))
    val grid = Seq(18L -> 1.0e18, 19L -> 1.0e19, 20L -> 1.0e20,
      21L -> 1.0e21, 22L -> 1.0e22, 23L -> 1.0e23, 24L -> 1.0e24)
      .toDF("exp10_flops", "c")
    grid.crossJoin(broadcast(tot))
      .withColumn("n_params", floor(sqrt($"c" / 120.0)).cast("long"))
      .withColumn("d_tokens", $"n_params" * 20)
      .withColumn("epochs_needed_milli",
        expr("d_tokens * 1000 div corpus_tokens"))
      .select($"exp10_flops", $"n_params", $"d_tokens", $"corpus_tokens",
        $"epochs_needed_milli")
      .orderBy($"exp10_flops")
  }

  val q53Oracle: String =
    """WITH tot AS (
         SELECT CAST(sum(len(list_filter(string_split_regex(text,'\s+'), t -> t <> ''))) AS BIGINT) AS corpus_tokens
         FROM documents),
       grid AS (SELECT unnest([1.0e18,1.0e19,1.0e20,1.0e21,1.0e22,1.0e23,1.0e24]) AS c,
                       unnest([18,19,20,21,22,23,24]) AS e)
       SELECT CAST(e AS BIGINT) AS exp10_flops,
         CAST(floor(sqrt(c / 120.0)) AS BIGINT) AS n_params,
         CAST(floor(sqrt(c / 120.0)) AS BIGINT) * 20 AS d_tokens,
         corpus_tokens,
         CAST(floor(sqrt(c / 120.0)) AS BIGINT) * 20 * 1000 // corpus_tokens AS epochs_needed_milli
       FROM grid CROSS JOIN tot ORDER BY exp10_flops"""

  /** Compaction / file-size planner (q327): per (source, target file
    * size), how many output files a compaction of that source's
    * documents would produce, the resulting average file size, and a
    * small-file-debt flag (source total below half a file) — the
    * classic small-files planning table for a partitioned-by-source
    * lake layout, the write-side twin of q362's TTL and q363's
    * sort-key planners. Bytes are estimated from n_chars (the text
    * payload dominates).
    *
    * Shape: one source-keyed aggregate × a 3-row literal target grid;
    * nothing else moves. */
  def q327CompactionPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("est_bytes"))
    val tg = Seq(16384L, 65536L, 262144L).toDF("target_bytes")
    src.crossJoin(broadcast(tg))
      .withColumn("n_files",
        expr("(est_bytes + target_bytes - 1) div target_bytes"))
      .withColumn("avg_file_bytes", expr("est_bytes div n_files"))
      .withColumn("small_file_debt",
        when($"est_bytes" < expr("target_bytes div 2"), 1L).otherwise(0L))
      .select($"source", $"target_bytes", $"n_docs", $"est_bytes",
        $"n_files", $"avg_file_bytes", $"small_file_debt")
      .orderBy($"source", $"target_bytes")
  }

  val q327Oracle: String =
    """WITH src AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS est_bytes
         FROM documents GROUP BY source),
       tg AS (SELECT CAST(unnest([16384, 65536, 262144]) AS BIGINT) AS target_bytes)
       SELECT source, target_bytes, n_docs, est_bytes,
         (est_bytes + target_bytes - 1) // target_bytes AS n_files,
         est_bytes // ((est_bytes + target_bytes - 1) // target_bytes) AS avg_file_bytes,
         CAST(CASE WHEN est_bytes < target_bytes // 2 THEN 1 ELSE 0 END AS BIGINT) AS small_file_debt
       FROM src CROSS JOIN tg ORDER BY source, target_bytes"""

  /** KV-cache serving-memory planner (q330): for a 7B-class decoder
    * (32 layers × 4096 hidden, fp16 ⇒ 512 KiB of K+V per token), the
    * per-context-length table of KV bytes per sequence, the max batch
    * that fits a 64 GiB cache budget, and — joined from THIS corpus —
    * how many documents fit each context without truncation (the
    * serving twin of q275's training-side truncation audit). Pure
    * integer arithmetic on a literal grid × a bounded length
    * histogram.
    */
  def q330KvCachePlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lens = Tables.documents(s, d)
      .select(size(tokens($"text")).cast("long").as("l"))
      .groupBy($"l").agg(count(lit(1)).as("cnt"))
    val tot = lens.agg(sum($"cnt").as("n_docs"))
    val grid = Seq(128L, 512L, 2048L).toDF("ctx")
    grid.join(lens, $"l" <= $"ctx", "left")
      .groupBy($"ctx")
      .agg(coalesce(sum($"cnt"), lit(0L)).as("docs_fitting"))
      .crossJoin(broadcast(tot))
      .select($"ctx", $"docs_fitting",
        expr("docs_fitting * 10000 div n_docs").as("fit_bp"),
        ($"ctx" * 524288L).as("kv_bytes_per_seq"),
        expr("68719476736 div (ctx * 524288)").as("max_batch_64g"))
      .orderBy($"ctx")
  }

  val q330Oracle: String =
    """WITH lens AS (
         SELECT CAST(len(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS BIGINT) AS l
         FROM documents),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM lens),
       grid AS (SELECT CAST(unnest([128, 512, 2048]) AS BIGINT) AS ctx)
       SELECT ctx,
         (SELECT CAST(count(*) AS BIGINT) FROM lens WHERE l <= ctx) AS docs_fitting,
         (SELECT CAST(count(*) AS BIGINT) FROM lens WHERE l <= ctx) * 10000 // n_docs AS fit_bp,
         ctx * 524288 AS kv_bytes_per_seq,
         68719476736 // (ctx * 524288) AS max_batch_64g
       FROM grid CROSS JOIN tot ORDER BY ctx"""

  /** Competence-based curriculum pacing (q337, Platanios et al. 2019):
    * at each tenth of training, competence c(t) bounds the difficulty
    * of admissible examples — difficulty here is token length, the
    * classic text proxy — and the table reports, for linear vs √
    * pacing, the length cut and the docs/tokens unlocked at each step.
    * √ pacing front-loads data (c(0.1) ≈ 0.32), which is exactly what
    * the table makes visible against linear.
    *
    * Shape: everything runs on the bounded length histogram — the cut
    * is a min-over-threshold join, availability a cumulative lookup;
    * no per-doc work after the histogram. */
  def q337CurriculumPacing(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables.documents(s, d)
      .select(size(tokens($"text")).cast("long").as("l"))
      .filter($"l" > 0)
      .groupBy($"l").agg(count(lit(1)).as("cnt"))
    val wc = Window.orderBy($"l")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cd", sum($"cnt").over(wc))
      .withColumn("ct", sum($"cnt" * $"l").over(wc))
      .localCheckpoint()
      // the histogram is value-domain bounded; restate past the
      // checkpoint (no-op) for the plan audits
      .limit(100000)
    val tot = cum.agg(max($"cd").as("n"))
    val steps = (1L to 10L).toDF("t")
    val pol = steps.crossJoin(broadcast(tot))
      .select($"t", lit("linear").as("policy"),
        ($"t" * 100L).as("c_milli"), expr("(t * n) div 10").as("target"))
      .unionByName(steps.crossJoin(broadcast(tot))
        .select($"t", lit("sqrt").as("policy"),
          floor(sqrt($"t" / 10.0) * 1000.0).cast("long").as("c_milli"),
          floor(sqrt($"t" / 10.0) * $"n").cast("long").as("target")))
    val cut = pol.join(cum, $"cd" >= $"target")
      .groupBy($"policy", $"t", $"c_milli")
      .agg(min($"l").as("l_cut"))
    cut.join(cum.select($"l", $"cd", $"ct"), $"l" <= $"l_cut", "left")
      .groupBy($"policy", $"t", $"c_milli", $"l_cut")
      .agg(coalesce(max($"cd"), lit(0L)).as("docs_avail"),
        coalesce(max($"ct"), lit(0L)).as("tokens_avail"))
      .select($"policy", $"t".as("step"), $"c_milli", $"l_cut",
        $"docs_avail", $"tokens_avail")
      .orderBy($"policy", $"step")
  }

  val q337Oracle: String =
    """WITH tk AS (
         SELECT CAST(len(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS BIGINT) AS l
         FROM documents),
       hist AS (SELECT l, CAST(count(*) AS BIGINT) AS cnt FROM tk WHERE l > 0 GROUP BY l),
       cum AS (
         SELECT l, cnt,
           CAST(sum(cnt) OVER (ORDER BY l ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cd,
           CAST(sum(cnt * l) OVER (ORDER BY l ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ct
         FROM hist),
       tot AS (SELECT CAST(max(cd) AS BIGINT) AS n FROM cum),
       steps AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS t),
       pol AS (
         SELECT t, 'linear' AS policy, t * 100 AS c_milli, (t * n) // 10 AS target
         FROM steps CROSS JOIN tot
         UNION ALL
         SELECT t, 'sqrt', CAST(floor(sqrt(t / 10.0) * 1000.0) AS BIGINT),
           CAST(floor(sqrt(t / 10.0) * n) AS BIGINT) FROM steps CROSS JOIN tot),
       cut AS (
         SELECT p.policy, p.t, p.c_milli, min(CASE WHEN c.cd >= p.target THEN c.l END) AS l_cut
         FROM pol p CROSS JOIN cum c GROUP BY 1, 2, 3)
       SELECT cut.policy, cut.t AS step, cut.c_milli, cut.l_cut,
         CAST(coalesce(max(c2.cd), 0) AS BIGINT) AS docs_avail,
         CAST(coalesce(max(c2.ct), 0) AS BIGINT) AS tokens_avail
       FROM cut LEFT JOIN cum c2 ON c2.l <= cut.l_cut
       GROUP BY 1, 2, 3, 4 ORDER BY policy, step"""

  /** Two-phase quality-anneal schedule (q357): the "finish training on
    * the good stuff" recipe — 80% of the one-epoch token budget flows
    * pro-rata to every source, the final 20% only to the top half of
    * sources by mean q31 quality — as an exact integer allocation
    * table with each source's effective upweight. The mixture-schedule
    * complement of q369's cap-constrained waterfilling (q369 answers
    * "how much can each source give", this answers "when should it be
    * fed").
    *
    * Shape: one per-source aggregate; ranking windows run over the
    * bounded source relation; allocations are integer divisions. */
  def q357AnnealSchedule(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val nTok = size(tk)
    val q = Tables.documents(s, d)
      .filter(size(tokens($"text")) > 0)
      .select($"source", nTok.cast("long").as("l"),
        qualityScore(nTok, stopCount(tk), size(array_distinct(tk))).as("score"))
      .groupBy($"source")
      .agg(sum($"l").as("tok"),
        expr("CAST(sum(score) AS BIGINT) div count(1)").as("avg_q"))
    val rk = q
      .withColumn("r", row_number().over(
        Window.orderBy($"avg_q".desc, $"source")))
      .withColumn("k", count(lit(1)).over(Window.partitionBy()))
      .withColumn("tok_all", sum($"tok").over(Window.partitionBy()))
      .withColumn("anneal",
        when($"r" <= expr("k div 2"), 1L).otherwise(0L))
    val at = rk.agg(
      sum(when($"anneal" === 1, $"tok").otherwise(0L)).as("tok_ann"))
    rk.crossJoin(broadcast(at))
      .withColumn("phase1_tok", expr("(tok_all * 8 div 10) * tok div tok_all"))
      .withColumn("phase2_tok",
        when($"anneal" === 1, expr("(tok_all * 2 div 10) * tok div tok_ann"))
          .otherwise(0L))
      .select($"source", $"tok", $"avg_q", $"anneal", $"phase1_tok",
        $"phase2_tok",
        expr("(phase1_tok + phase2_tok) * 1000 div tok").as("upweight_milli"))
      .orderBy($"source")
  }

  val q357Oracle: String =
    """WITH tk AS (
         SELECT source, doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       q AS (
         SELECT source,
           CAST(sum(len(tk)) AS BIGINT) AS tok,
           CAST(sum(least(len(tk), 100) * 10
             + (1000 - CAST(floor(len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) * 1000.0 / len(tk)) AS BIGINT))
             + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT)) AS BIGINT)
             // CAST(count(*) AS BIGINT) AS avg_q
         FROM tk WHERE len(tk) > 0 GROUP BY source),
       rk AS (
         SELECT *, row_number() OVER (ORDER BY avg_q DESC, source) AS r,
           CAST(count(*) OVER () AS BIGINT) AS k,
           CAST(sum(tok) OVER () AS BIGINT) AS tok_all
         FROM q),
       ann AS (SELECT *, CASE WHEN r <= k // 2 THEN 1 ELSE 0 END AS anneal FROM rk),
       at AS (SELECT CAST(sum(CASE WHEN anneal = 1 THEN tok ELSE 0 END) AS BIGINT) AS tok_ann FROM ann)
       SELECT source, tok, avg_q, CAST(anneal AS BIGINT) AS anneal,
         (tok_all * 8 // 10) * tok // tok_all AS phase1_tok,
         CAST(CASE WHEN anneal = 1 THEN (tok_all * 2 // 10) * tok // tok_ann ELSE 0 END AS BIGINT) AS phase2_tok,
         ((tok_all * 8 // 10) * tok // tok_all
           + CASE WHEN anneal = 1 THEN (tok_all * 2 // 10) * tok // tok_ann ELSE 0 END) * 1000 // tok AS upweight_milli
       FROM ann CROSS JOIN at ORDER BY source"""

  /** Shapley data valuation for the coverage game (q402): each source's
    * exact Shapley value when a coalition's worth is the number of
    * distinct word-3-gram types its members jointly cover. For coverage
    * games the 2^n coalition sum collapses to the closed form
    * φ(s) = Σ_{g : s ∋ g} 1/|S_g| (every source holding gram g splits
    * g's credit equally), so the exact game-theoretic attribution is
    * ONE distinct pass + one gram-keyed join — no coalition enumeration.
    * Credits are floored micro-units (1e6 div m), so sums are integer-
    * exact on both engines; `share_bp` is each source's slice of the
    * total credit. The complement of q377's leave-one-out LM valuation:
    * LOO measures marginal value against the FULL coalition, Shapley
    * averages it over all orders — a source whose grams are all shared
    * twice scores 0 under LOO-style uniqueness but φ/2 per gram here.
    *
    * Scale: shuffles are on the (source, gram) distinct relation and
    * the gram-type domain — corpus-vocabulary-sized, not token-count-
    * sized; output is |sources| rows; the grand total attaches as a
    * broadcast 1-row aggregate. */
  def q402ShapleyCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // grams travel as the shared 60-bit hash (q78's ShingleHashes
    // idiom): every shuffle key is a long, not a ~30-byte string.
    // The repartition is the materialization barrier keeping
    // CollapseProject from inlining tokens() into the shingle lambda
    // (the round-1 HOF pitfall — re-tokenizes once per trigram)
    val st = Tables.documents(s, d)
      .select($"doc_id", $"source", tokens($"text").as("tk"))
      .repartition($"doc_id")
      .select($"source", explode(shingles3($"tk")).as("g0"))
      .select($"source", hash60($"g0").as("g"))
      .distinct()
    val m = st.groupBy($"g").agg(count(lit(1)).as("m"))
    // |sources|-row bounded result, frozen so the grand-total branch
    // doesn't re-evaluate the gram pipeline a second time
    val phi = st.join(m, "g")
      .groupBy($"source")
      .agg(count(lit(1)).as("types_present"),
        sum(when($"m" === 1, 1L).otherwise(0L)).as("types_unique"),
        sum(expr("1000000 div m")).as("phi_micro"))
      .localCheckpoint()
    phi.crossJoin(broadcast(phi.agg(sum($"phi_micro").as("__t"))))
      .select($"source", $"types_present", $"types_unique", $"phi_micro",
        expr("phi_micro * 10000 div __t").as("share_bp"))
      .orderBy($"source")
  }

  val q402Oracle: String =
    """WITH tk AS (SELECT source, list_filter(string_split_regex(text,'\s+'), t->t<>'') AS tk FROM documents),
       sg AS (
         SELECT source, unnest(CASE WHEN len(tk) >= 3
           THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
           ELSE [] END) AS g0
         FROM tk),
       st AS (SELECT DISTINCT source, ('0x' || substr(md5(g0), 1, 15))::BIGINT AS g FROM sg),
       m AS (SELECT g, CAST(count(*) AS BIGINT) AS m FROM st GROUP BY 1),
       phi AS (
         SELECT source,
                CAST(count(*) AS BIGINT) AS types_present,
                CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS types_unique,
                CAST(sum(1000000 // m) AS BIGINT) AS phi_micro
         FROM st JOIN m USING (g) GROUP BY 1),
       tot AS (SELECT CAST(sum(phi_micro) AS BIGINT) AS t FROM phi)
       SELECT source, types_present, types_unique, phi_micro,
              phi_micro * 10000 // t AS share_bp
       FROM phi, tot ORDER BY source"""

  /** Continuous-batching throughput planner (q406, the Orca/vLLM
    * scheduling argument as a measured plan): for serving batch sizes
    * B ∈ {8, 16, 32}, compare STATIC batching — the batch runs
    * max(len) decode steps, short requests pad — against idealized
    * token-level CONTINUOUS batching — ceil(Σ len / B) steps, a new
    * request occupies a slot the step after one finishes. Reports per
    * B the step counts, the padding-token waste, and the speedup in
    * bp; the input length distribution is the documents table's token
    * counts in doc_id arrival order. Deterministic: batch membership
    * is closed-form off the exact arrival rank ((rank−1) div B), all
    * counters integers.
    *
    * Scale: the arrival rank is a [[Windows.rangePrefixSum]] of ones
    * (no global sort); the 3-row B grid rides a broadcast cross join;
    * shuffles touch (B, batch) keys — request-count-sized, shrinking
    * 8–32× at the batch rollup. */
  def q406BatchingPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val req = Windows.rangePrefixSum(
      Tables.documents(s, d)
        .select($"doc_id", size(tokens($"text")).cast("long").as("gen")),
      Seq($"doc_id"), lit(1L), "rn")
    val grid = Seq(8L, 16L, 32L).toDF("b")
    req.crossJoin(broadcast(grid))
      .groupBy($"b", expr("(rn - 1) div b").as("batch"))
      .agg(max($"gen").as("mx"), sum($"gen").as("tok"), count(lit(1)).as("cnt"))
      .groupBy($"b")
      .agg(sum($"cnt").as("n_requests"), count(lit(1)).as("n_batches"),
        sum($"mx").as("steps_static"), sum($"tok").as("total_tokens"),
        sum($"mx" * $"cnt" - $"tok").as("padding_tokens"))
      .select($"b", $"n_requests", $"n_batches", $"steps_static",
        expr("(total_tokens + b - 1) div b").as("steps_cont"),
        $"padding_tokens",
        expr("steps_static * 10000 div ((total_tokens + b - 1) div b)")
          .as("speedup_bp"))
      .orderBy($"b")
  }

  val q406Oracle: String =
    """WITH req AS (
         SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
                CAST(len(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS BIGINT) AS gen
         FROM documents),
       grid AS (SELECT unnest([8, 16, 32]) AS b),
       batches AS (
         SELECT b, (rn - 1) // b AS batch,
                max(gen) AS mx, CAST(sum(gen) AS BIGINT) AS tok, CAST(count(*) AS BIGINT) AS cnt
         FROM req, grid GROUP BY 1, 2),
       agg AS (
         SELECT CAST(b AS BIGINT) AS b,
                CAST(sum(cnt) AS BIGINT) AS n_requests,
                CAST(count(*) AS BIGINT) AS n_batches,
                CAST(sum(mx) AS BIGINT) AS steps_static,
                CAST(sum(tok) AS BIGINT) AS total_tokens,
                CAST(sum(mx * cnt - tok) AS BIGINT) AS padding_tokens
         FROM batches GROUP BY 1)
       SELECT b, n_requests, n_batches, steps_static,
              (total_tokens + b - 1) // b AS steps_cont,
              padding_tokens,
              steps_static * 10000 // ((total_tokens + b - 1) // b) AS speedup_bp
       FROM agg ORDER BY b"""

  /** Prefix-cache sharing planner (q407, the vLLM/SGLang radix-cache
    * argument as a measured plan): model an inference server that caches
    * prompt-prefix KV state in a radix tree, evaluated at fixed prefix
    * depths D ∈ {4, 8, 16} tokens. Each request's cacheable prefix is
    * its first min(len, D) tokens; requests sharing a prefix string
    * share one cache entry. Reports per D the total prefix tokens
    * across requests, the distinct tokens actually stored, the saved
    * (= cache-hit) tokens and hit rate in bp, and how many prefix
    * groups are shared vs singleton. Deterministic: prefixes travel as
    * the shared 60-bit hash, all counters integers.
    *
    * Scale: one scan of documents; the shuffle key is (D, prefix-hash)
    * — request-count-sized ×|grid|, combining map-side since equal
    * prefixes collapse — then a |grid|-row rollup. No sort, no
    * broadcast of anything data-sized (the depth grid is 3 rows). */
  def q407PrefixCachePlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val req = Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("tk"))
      .select($"tk", size($"tk").cast("long").as("len"))
    val grid = Seq(4L, 8L, 16L).toDF("d")
    req.crossJoin(broadcast(grid))
      .select($"d", least($"d", $"len").as("plen"),
        hash60(concat_ws(" ",
          slice($"tk", lit(1), least($"d", $"len").cast("int")))).as("pk"))
      .groupBy($"d", $"pk")
      .agg(count(lit(1)).as("cnt"), max($"plen").as("plen"))
      .groupBy($"d")
      .agg(sum($"cnt").as("n_requests"),
        sum($"cnt" * $"plen").as("prefix_tokens_total"),
        sum($"plen").as("prefix_tokens_stored"),
        sum(when($"cnt" >= 2, 1L).otherwise(0L)).as("shared_prefixes"),
        sum(when($"cnt" === 1, 1L).otherwise(0L)).as("singleton_prefixes"))
      .select($"d", $"n_requests", $"prefix_tokens_total",
        $"prefix_tokens_stored",
        ($"prefix_tokens_total" - $"prefix_tokens_stored").as("tokens_saved"),
        expr("(prefix_tokens_total - prefix_tokens_stored) * 10000 div prefix_tokens_total")
          .as("hit_bp"),
        $"shared_prefixes", $"singleton_prefixes")
      .orderBy($"d")
  }

  val q407Oracle: String =
    """WITH t AS (SELECT list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS tk FROM documents),
       r AS (SELECT tk, CAST(len(tk) AS BIGINT) AS len FROM t),
       grid AS (SELECT CAST(unnest([4, 8, 16]) AS BIGINT) AS d),
       pre AS (
         SELECT d, least(d, len) AS plen,
                ('0x' || substr(md5(array_to_string(list_slice(tk, 1, CAST(least(d, len) AS INT)), ' ')), 1, 15))::BIGINT AS pk
         FROM r, grid),
       g AS (SELECT d, pk, CAST(count(*) AS BIGINT) AS cnt, max(plen) AS plen
             FROM pre GROUP BY 1, 2),
       agg AS (
         SELECT d, CAST(sum(cnt) AS BIGINT) AS n_requests,
                CAST(sum(cnt * plen) AS BIGINT) AS prefix_tokens_total,
                CAST(sum(plen) AS BIGINT) AS prefix_tokens_stored,
                CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_prefixes,
                CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_prefixes
         FROM g GROUP BY 1)
       SELECT d, n_requests, prefix_tokens_total, prefix_tokens_stored,
              prefix_tokens_total - prefix_tokens_stored AS tokens_saved,
              (prefix_tokens_total - prefix_tokens_stored) * 10000 // prefix_tokens_total AS hit_bp,
              shared_prefixes, singleton_prefixes
       FROM agg ORDER BY d"""

  /** One DoReMi-style mixture-reweighting step (q411, the
    * multiplicative-weights update of Xie et al. 2023 linearized to
    * stay in exact integers): per source, the mean q31 quality score in
    * micro units; sources whose mean falls short of the corpus mean get
    * their mixture weight bumped proportionally to the deficit
    * (w_raw = 10⁶ + excess/1000, the mirror-descent step with η encoded
    * as the integer divisor — linearized exp(η·excess), exact and
    * monotone, where the float exp would hash-diverge across engines).
    * Weights renormalize to EXACTLY 10⁶ ppm by largest-remainder
    * apportionment (the q205 idiom — floor quotas, then +1 to the
    * largest remainders, ties to the lexicographically smaller source).
    *
    * Scale: one scan → one |sources|-row aggregate; the corpus mean
    * attaches as a broadcast 1-row aggregate; the apportionment
    * windows run over the bounded source relation. Σ w_ppm = 10⁶ by
    * construction — a mixture sampler can consume it directly. */
  def q411MixtureRebalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val qs = Tables.documents(s, d).select($"source",
      qualityScore(size(tk).cast("long"), stopCount(tk), size(array_distinct(tk)))
        .as("q"))
    val per = qs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"q").as("qsum"))
      .select($"source", $"n_docs",
        expr("qsum * 1000000 div n_docs").as("qavg_micro"))
    val glob = qs.agg(expr("sum(q) * 1000000 div count(1)").as("tavg_micro"))
    val raw = per.crossJoin(broadcast(glob))
      .select($"source", $"n_docs", $"qavg_micro",
        greatest(lit(0L), $"tavg_micro" - $"qavg_micro").as("excess_micro"))
      .withColumn("w_raw", expr("1000000 + excess_micro div 1000"))
    val tot = raw.crossJoin(broadcast(raw.agg(sum($"w_raw").as("w_tot"))))
      .select($"source", $"n_docs", $"qavg_micro", $"excess_micro", $"w_raw",
        expr("w_raw * 1000000 div w_tot").as("w_floor"),
        expr("(w_raw * 1000000) % w_tot").as("rem"))
    val ranked = tot
      .withColumn("rk", row_number().over(Window.orderBy($"rem".desc, $"source")))
      .crossJoin(broadcast(tot.agg(
        (lit(1000000L) - sum($"w_floor")).as("deficit"))))
    ranked.select($"source", $"n_docs", $"qavg_micro", $"excess_micro",
        $"w_raw", ($"w_floor" + when($"rk" <= $"deficit", 1L).otherwise(0L))
          .as("w_ppm"))
      .orderBy($"source")
  }

  val q411Oracle: String =
    """WITH t AS (SELECT source, list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS tk FROM documents),
       qs AS (
         SELECT source,
                least(len(tk), 100) * 10
                + (1000 - CAST(floor(len(list_filter(tk, x -> list_contains(['the','a','of','and','in','to'], x))) * 1000.0 / len(tk)) AS BIGINT))
                + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) AS q
         FROM t),
       per AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(q) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS qavg_micro
         FROM qs GROUP BY 1),
       gmean AS (SELECT CAST(sum(q) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS tavg_micro FROM qs),
       raw AS (
         SELECT source, n_docs, qavg_micro,
                greatest(0, tavg_micro - qavg_micro) AS excess_micro,
                1000000 + greatest(0, tavg_micro - qavg_micro) // 1000 AS w_raw
         FROM per, gmean),
       wt AS (SELECT CAST(sum(w_raw) AS BIGINT) AS w_tot FROM raw),
       quo AS (
         SELECT source, n_docs, qavg_micro, excess_micro, w_raw,
                w_raw * 1000000 // w_tot AS w_floor,
                (w_raw * 1000000) % w_tot AS rem
         FROM raw, wt),
       def AS (SELECT 1000000 - CAST(sum(w_floor) AS BIGINT) AS deficit FROM quo),
       rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM quo)
       SELECT source, n_docs, qavg_micro, excess_micro, w_raw,
              w_floor + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS w_ppm
       FROM rk, def ORDER BY source"""

  /** Resize-movement audit (q414): when a shard cluster grows 4 → 5
    * nodes, what fraction of keys MOVE under (a) naive `key mod N`
    * assignment vs (b) rendezvous / highest-random-weight hashing
    * (Thaler–Ravishankar; q140's assignment scheme)? HRW's contract is
    * that a resize relocates only ~1/N_new of keys (the ones whose new
    * node wins the hash race) while mod-N reshuffles almost everything
    * — this op MEASURES both on the orders key population, against the
    * 1/5 ideal. The scheme comparison that justifies q140 as the
    * sharding default, now as data instead of a scaladoc claim.
    *
    * Scale: per-key owner columns are pure hash expressions (5 md5s,
    * codegen'd, map-side); the only aggregate is one 1-row conditional
    * sum → a 2-row literal explode. No shuffle of key-sized data at
    * all. */
  def q414RebalanceDelta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def h(n: Int) = hash60(concat($"o_orderkey".cast("string"), lit(s"#$n")))
    val owner4 =
      when(h(0) >= h(1) && h(0) >= h(2) && h(0) >= h(3), 0L)
        .when(h(1) >= h(2) && h(1) >= h(3), 1L)
        .when(h(2) >= h(3), 2L).otherwise(3L)
    val owner5 =
      when(h(0) >= h(1) && h(0) >= h(2) && h(0) >= h(3) && h(0) >= h(4), 0L)
        .when(h(1) >= h(2) && h(1) >= h(3) && h(1) >= h(4), 1L)
        .when(h(2) >= h(3) && h(2) >= h(4), 2L)
        .when(h(3) >= h(4), 3L).otherwise(4L)
    val agg = Tables.orders(s, d)
      .select(($"o_orderkey" % 4 =!= $"o_orderkey" % 5).cast("long").as("mod_moved"),
        (owner4 =!= owner5).cast("long").as("hrw_moved"))
      .agg(count(lit(1)).as("n_keys"),
        sum($"mod_moved").as("mod_moved"),
        sum($"hrw_moved").as("hrw_moved"))
    agg.select($"n_keys", explode(array(
        struct(lit("mod_n").as("scheme"), $"mod_moved".as("moved")),
        struct(lit("rendezvous").as("scheme"), $"hrw_moved".as("moved")))).as("x"))
      .select($"x.scheme".as("scheme"), $"n_keys", $"x.moved".as("moved"),
        expr("x.moved * 10000 div n_keys").as("moved_bp"),
        lit(2000L).as("ideal_bp"))
      .orderBy($"scheme")
  }

  val q414Oracle: String = {
    def h(n: Int) =
      s"('0x' || substr(md5(o_orderkey::VARCHAR || '#$n'), 1, 15))::BIGINT"
    s"""WITH o AS (
         SELECT o_orderkey,
                ${h(0)} AS h0, ${h(1)} AS h1, ${h(2)} AS h2,
                ${h(3)} AS h3, ${h(4)} AS h4
         FROM orders),
       owners AS (
         SELECT CASE WHEN o_orderkey % 4 <> o_orderkey % 5 THEN 1 ELSE 0 END AS mod_moved,
           CASE
             WHEN h0 >= h1 AND h0 >= h2 AND h0 >= h3 THEN 0
             WHEN h1 >= h2 AND h1 >= h3 THEN 1
             WHEN h2 >= h3 THEN 2 ELSE 3 END AS owner4,
           CASE
             WHEN h0 >= h1 AND h0 >= h2 AND h0 >= h3 AND h0 >= h4 THEN 0
             WHEN h1 >= h2 AND h1 >= h3 AND h1 >= h4 THEN 1
             WHEN h2 >= h3 AND h2 >= h4 THEN 2
             WHEN h3 >= h4 THEN 3 ELSE 4 END AS owner5
         FROM o),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(mod_moved) AS BIGINT) AS mod_moved,
                CAST(sum(CASE WHEN owner4 <> owner5 THEN 1 ELSE 0 END) AS BIGINT) AS hrw_moved
         FROM owners)
       SELECT 'mod_n' AS scheme, n_keys, mod_moved AS moved,
              mod_moved * 10000 // n_keys AS moved_bp, CAST(2000 AS BIGINT) AS ideal_bp
       FROM agg
       UNION ALL
       SELECT 'rendezvous', n_keys, hrw_moved,
              hrw_moved * 10000 // n_keys, 2000
       FROM agg
       ORDER BY scheme"""
  }

  /** Paged-KV fragmentation audit (q422, the vLLM memory argument as a
    * measured plan, the spatial twin of q406's temporal padding): for
    * KV block sizes B ∈ {16, 32, 64} tokens, a paged allocator wastes
    * only the last block's remainder per request (ceil(len/B)·B − len)
    * while a contiguous allocator must reserve max(len) per request and
    * wastes the full headroom. Reports per B the blocks allocated, both
    * waste totals, and both fragmentation rates in bp of allocated
    * memory — the table that justifies paging and picks the block size.
    *
    * Scale: request lengths are one scan; max(len) and totals ride one
    * 1-row aggregate; the block-size grid is a broadcast 3-row literal
    * folded BEFORE the aggregate, so the shuffle carries 3 partial rows
    * per partition. */
  def q422KvFragmentation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val req = Tables.documents(s, d)
      .select(size(tokens($"text")).cast("long").as("len"))
    val grid = Seq(16L, 32L, 64L).toDF("b")
    req.crossJoin(broadcast(grid))
      .groupBy($"b")
      .agg(count(lit(1)).as("n_requests"),
        sum($"len").as("total_tokens"),
        max($"len").as("max_len"),
        sum(expr("(len + b - 1) div b")).as("blocks_total"),
        sum(expr("((len + b - 1) div b) * b - len")).as("waste_paged"))
      .select($"b", $"n_requests", $"total_tokens", $"max_len",
        $"blocks_total", $"waste_paged",
        ($"n_requests" * $"max_len" - $"total_tokens").as("waste_contig"),
        expr("waste_paged * 10000 div (total_tokens + waste_paged)")
          .as("frag_paged_bp"),
        expr("(n_requests * max_len - total_tokens) * 10000 div (n_requests * max_len)")
          .as("frag_contig_bp"))
      .orderBy($"b")
  }

  val q422Oracle: String =
    """WITH req AS (
         SELECT CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) AS len
         FROM documents),
       grid AS (SELECT CAST(unnest([16, 32, 64]) AS BIGINT) AS b),
       agg AS (
         SELECT b, CAST(count(*) AS BIGINT) AS n_requests,
                CAST(sum(len) AS BIGINT) AS total_tokens,
                max(len) AS max_len,
                CAST(sum((len + b - 1) // b) AS BIGINT) AS blocks_total,
                CAST(sum(((len + b - 1) // b) * b - len) AS BIGINT) AS waste_paged
         FROM req, grid GROUP BY 1)
       SELECT b, n_requests, total_tokens, max_len, blocks_total, waste_paged,
              n_requests * max_len - total_tokens AS waste_contig,
              waste_paged * 10000 // (total_tokens + waste_paged) AS frag_paged_bp,
              (n_requests * max_len - total_tokens) * 10000 // (n_requests * max_len) AS frag_contig_bp
       FROM agg ORDER BY b"""

  /** Cache-sizing curve (q427): the hit rate a perfect-LFU cache of
    * C entries achieves on the orders customer-key stream — the top-C
    * keys' frequency mass over total accesses — for C ∈ {100, 1000,
    * 10000}, against the uniform-admission baseline C/|keys| (what a
    * random cache gets on the same stream). The lift between the two
    * is the skewness dividend: how much a frequency-aware admission
    * policy is worth on THIS workload, the number that sizes a
    * broadcast-side cache or a hot-shard replica tier.
    *
    * Scale: one groupBy builds the key-frequency relation; each grid
    * point is a TakeOrderedAndProject top-C (per-partition heaps, no
    * global sort) collapsing to one row; totals ride one broadcast
    * 1-row aggregate. */
  def q427CacheSizing(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.orders(s, d)
      .groupBy($"o_custkey").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum($"c").as("n_access"), count(lit(1)).as("n_keys"))
    def topC(k: Int) = counts.orderBy($"c".desc, $"o_custkey").limit(k)
      .agg(coalesce(sum($"c"), lit(0L)).as("hits"))
      .select(lit(k.toLong).as("cache_keys"), $"hits")
    topC(100).unionByName(topC(1000)).unionByName(topC(10000))
      .crossJoin(broadcast(tot))
      .select($"cache_keys", $"n_keys", $"n_access", $"hits",
        expr("hits * 10000 div n_access").as("hit_bp"),
        least(lit(10000L), expr("cache_keys * 10000 div n_keys")).as("base_bp"))
      .withColumn("lift_milli",
        expr("case when base_bp > 0 then hit_bp * 1000 div base_bp else -1 end"))
      .orderBy($"cache_keys")
  }

  val q427Oracle: String =
    """WITH counts AS (
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_access,
                      CAST(count(*) AS BIGINT) AS n_keys FROM counts),
       ranked AS (
         SELECT c, row_number() OVER (ORDER BY c DESC, o_custkey) AS rn FROM counts),
       grid AS (SELECT CAST(unnest([100, 1000, 10000]) AS BIGINT) AS cache_keys),
       hits AS (
         SELECT cache_keys,
                CAST(coalesce(sum(CASE WHEN rn <= cache_keys THEN c END), 0) AS BIGINT) AS hits
         FROM grid LEFT JOIN ranked ON rn <= cache_keys GROUP BY 1)
       SELECT cache_keys, n_keys, n_access, hits,
              hits * 10000 // n_access AS hit_bp,
              least(10000, cache_keys * 10000 // n_keys) AS base_bp,
              CASE WHEN least(10000, cache_keys * 10000 // n_keys) > 0
                   THEN (hits * 10000 // n_access) * 1000 // least(10000, cache_keys * 10000 // n_keys)
                   ELSE -1 END AS lift_milli
       FROM hits, tot ORDER BY cache_keys"""

  /** Attention-FLOPs waste planner (q428, the quadratic completion of
    * q422's linear KV story): self-attention costs len² per sequence,
    * so batching strategy moves REAL money — compare, on this corpus's
    * length distribution, the computed-vs-useful attention area of
    * (a) pad-to-max 512, (b) length-bucketed padding to {32, 64, 128,
    * 512}, (c) dense packing with block-diagonal masking over full
    * 512² blocks. Useful area is Σ len² in every scheme; utilization
    * in bp is the scheduler's objective. Bucketing recovers most of
    * the padding waste without a packing kernel; packing pays only
    * the final partial block.
    *
    * Scale: one scan computes per-doc len and len² partials; every
    * strategy is a conditional aggregate of the SAME pass (the q112
    * rule); sums of squares stay < 2⁶³ while Σ len² < 9·10¹⁸ — at
    * larger corpora the moment columns move to decimal(38,0), q386's
    * discipline. */
  def q428AttentionWaste(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 512L
    val req = Tables.documents(s, d)
      .select(size(tokens($"text")).cast("long").as("len"))
      .select($"len", ($"len" * $"len").as("len2"),
        when($"len" <= 32, 32L).when($"len" <= 64, 64L)
          .when($"len" <= 128, 128L).otherwise(B).as("bucket"))
    val agg = req.agg(count(lit(1)).as("n"), sum($"len").as("toks"),
      sum($"len2").as("useful"), sum($"bucket" * $"bucket").as("bucketed"))
    agg.select(explode(array(
        struct(lit("pad_to_512").as("strategy"), ($"n" * B * B).as("computed")),
        struct(lit("length_bucketed").as("strategy"), $"bucketed".as("computed")),
        struct(lit("packed_block_diag").as("strategy"),
          (expr(s"(toks + ${B - 1}) div $B") * B * B).as("computed")))).as("x"),
        $"n", $"useful")
      .select($"x.strategy".as("strategy"), $"n".as("n_seqs"), $"useful",
        $"x.computed".as("computed"),
        expr("useful * 10000 div x.computed").as("util_bp"))
      .orderBy($"strategy")
  }

  val q428Oracle: String =
    """WITH req AS (
         SELECT CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) AS len
         FROM documents),
       r2 AS (SELECT len, len * len AS len2,
                     CASE WHEN len <= 32 THEN 32 WHEN len <= 64 THEN 64
                          WHEN len <= 128 THEN 128 ELSE 512 END AS bucket
              FROM req),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len) AS BIGINT) AS toks,
                CAST(sum(len2) AS BIGINT) AS useful,
                CAST(sum(bucket * bucket) AS BIGINT) AS bucketed
         FROM r2),
       strat AS (
         SELECT 'pad_to_512' AS strategy, n AS n_seqs, useful, n * 512 * 512 AS computed FROM agg
         UNION ALL SELECT 'length_bucketed', n, useful, bucketed FROM agg
         UNION ALL SELECT 'packed_block_diag', n, useful, ((toks + 511) // 512) * 512 * 512 FROM agg)
       SELECT strategy, n_seqs, useful, computed,
              useful * 10000 // computed AS util_bp
       FROM strat ORDER BY strategy"""

  /** Greedy max-cover source selection (q457, the submodular-greedy
    * complement of q402's Shapley attribution and q377's LOO): pick
    * K = 4 sources one at a time, each round the source adding the
    * most NOT-YET-COVERED distinct word-3-gram types — the classic
    * (1−1/e)-approximate solution to "which 4 crawls buy the most
    * vocabulary coverage?", with per-round marginals that expose the
    * diminishing returns the budget decision actually turns on.
    *
    * Shape: the same (source, gram-hash) distinct relation as q402,
    * frozen once; each greedy round is one anti-join + one
    * |sources|-row aggregate, and the driver touches ONE row per
    * round (the argmax — the q150/q237 iterative-driver-loop
    * doctrine: per-iteration driver traffic is O(1), never data).
    * Ties break (count desc, source asc) on both engines. */
  def q457GreedyMaxCover(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val st = Tables.documents(s, d)
      .select($"doc_id", $"source", tokens($"text").as("tk"))
      .repartition($"doc_id")
      .select($"source", explode(shingles3($"tk")).as("g0"))
      .select($"source", hash60($"g0").as("g"))
      .distinct()
      .localCheckpoint()
    val universe = st.select($"g").distinct().count()
    var covered = st.select($"g").filter(lit(false))
    val recs = scala.collection.mutable.Buffer[(Long, String, Long, Long)]()
    var cum = 0L
    var saturated = false
    for (r <- 1 to 4 if !saturated) {
      // saturation (no source adds anything) ends the greedy early —
      // mirrored by the oracle's empty per-round argmax CTE
      val picks = st.join(covered, Seq("g"), "left_anti")
        .groupBy($"source").agg(count(lit(1)).as("mn"))
        .orderBy($"mn".desc, $"source").limit(1)
        .as[(String, Long)].collect()
      if (picks.isEmpty) saturated = true
      else {
        val pick = picks.head
        // coverage additions are DISJOINT by construction (the anti
        // join already excluded covered grams), so cum coverage is the
        // running sum of marginals — no distinct, no count job — and
        // duplicate grams on the anti join's right side are harmless
        covered = covered
          .union(st.filter($"source" === pick._1).select($"g"))
          .localCheckpoint()
        cum += pick._2
        recs += ((r.toLong, pick._1, pick._2, cum))
      }
    }
    recs.toSeq.toDF("round", "source", "marginal_types", "cum_types")
      .withColumn("universe", lit(universe))
      .withColumn("cum_bp", expr("cum_types * 10000 div universe"))
      .orderBy($"round")
  }

  val q457Oracle: String = {
    def round(r: Int): String = {
      val prevCov =
        if (r == 1) "" else s" WHERE g NOT IN (SELECT g FROM c${r - 1})"
      val covPrev = if (r == 1) "" else s"SELECT g FROM c${r - 1} UNION "
      s"""p$r AS (
           SELECT source AS s$r, CAST(count(*) AS BIGINT) AS m$r
           FROM st$prevCov GROUP BY source
           ORDER BY count(*) DESC, source LIMIT 1),
         c$r AS (
           ${covPrev}SELECT DISTINCT st.g FROM st, p$r WHERE st.source = s$r)"""
    }
    s"""WITH tk AS (SELECT source, list_filter(string_split_regex(text,'\\s+'), t->t<>'') AS tk FROM documents),
       sg AS (
         SELECT source, unnest(CASE WHEN len(tk) >= 3
           THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
           ELSE [] END) AS g0
         FROM tk),
       st AS (SELECT DISTINCT source, ('0x' || substr(md5(g0), 1, 15))::BIGINT AS g FROM sg),
       u AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS universe FROM st),
       ${(1 to 4).map(round).mkString(",\n")}
       SELECT r.round, r.source, r.marginal_types, r.cum_types, u.universe,
              r.cum_types * 10000 // u.universe AS cum_bp
       FROM (
         SELECT CAST(1 AS BIGINT) AS round, s1 AS source, m1 AS marginal_types,
                (SELECT CAST(count(*) AS BIGINT) FROM c1) AS cum_types FROM p1
         UNION ALL
         SELECT 2, s2, m2, (SELECT CAST(count(*) AS BIGINT) FROM c2) FROM p2
         UNION ALL
         SELECT 3, s3, m3, (SELECT CAST(count(*) AS BIGINT) FROM c3) FROM p3
         UNION ALL
         SELECT 4, s4, m4, (SELECT CAST(count(*) AS BIGINT) FROM c4) FROM p4) r, u
       ORDER BY r.round"""
  }

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q457_greedy_max_cover", q457GreedyMaxCover, q457Oracle,
        Hooks(nonEmpty, range("cum_bp", 0, 10000))),
      Query("q428_attention_waste", q428AttentionWaste, q428Oracle,
        Hooks(nonEmpty, range("util_bp", 0, 10000))),
      Query("q427_cache_sizing", q427CacheSizing, q427Oracle,
        Hooks(nonEmpty, range("hit_bp", 0, 10000), range("base_bp", 0, 10000))),
      Query("q422_kv_fragmentation", q422KvFragmentation, q422Oracle,
        Hooks(nonEmpty, range("frag_paged_bp", 0, 10000), range("frag_contig_bp", 0, 10000))),
      Query("q414_rebalance_delta", q414RebalanceDelta, q414Oracle,
        Hooks(nonEmpty, range("moved_bp", 0, 10000), range("ideal_bp", 0, 10000))),
      Query("q411_mixture_rebalance", q411MixtureRebalance, q411Oracle,
        Hooks(nonEmpty, range("w_ppm", 0, 1000000),
          // normalized weights partition ppm mass (floor slack)
          groupSum(Seq(), "w_ppm", 999000, 1000000))),
      Query("q407_prefix_cache", q407PrefixCachePlan, q407Oracle,
        Hooks(nonEmpty, range("hit_bp", 0, 10000))),
      Query("q406_batching_planner", q406BatchingPlanner, q406Oracle,
        NoBound("speedup ratio unbounded above")),
      Query("q402_shapley_coverage", q402ShapleyCoverage, q402Oracle,
        Hooks(nonEmpty, range("share_bp", 0, 10000))),
      Query("q53_chinchilla_plan", q53ChinchillaPlan, q53Oracle,
        NoBound("epochs-needed scales with token deficit")),
      Query("q337_curriculum_pacing", q337CurriculumPacing, q337Oracle,
        Hooks(nonEmpty, range("c_milli", 0, 1000))),
      Query("q357_anneal_schedule", q357AnnealSchedule, q357Oracle,
        NoBound("upweight ratio unbounded above")),
      Query("q330_kv_cache_plan", q330KvCachePlan, q330Oracle,
        Hooks(nonEmpty, range("fit_bp", 0, 10000))),
      Query("q327_compaction_plan", q327CompactionPlan, q327Oracle, NoBound(Structural)),
      Query("q369_epoch_waterfill", q369EpochWaterfill, q369Oracle,
        NoBound("water-fill levels scale with token mass")),
      Query("q370_length_buckets", q370LengthBuckets, q370Oracle, NoBound(Structural)),
      Query("q372_resharding_audit", q372ReshardingAudit, q372Oracle,
        Hooks(nonEmpty, range("moved_bp", 0, 10000))),
      Query("q356_length_bias", q356LengthBias, q356Oracle, NoBound("chi-square unbounded above")),
      Query("q316_dpo_pairs", q316DpoPairs, q316Oracle, NoBound(Structural)),
      Query("q276_dsir_model_ivm", q276DsirModelIvm, q276Oracle,
        NoBound("DSIR log-ratio weight unbounded")),
      Query("q275_truncation_audit", q275TruncationAudit, q275Oracle,
        Hooks(nonEmpty, range("loss_bp", 0, 10000))),
      Query("q267_dsir_select", q267DsirSelect, q267Oracle,
        NoBound("DSIR log-ratio score unbounded")),
      Query("q268_boilerplate_scrub", q268BoilerplateScrub, q268Oracle,
        Hooks(nonEmpty, range("n_bp", 0, 10000))),
      Query("q261_netnew_content", q261NetNewContent, q261Oracle,
        Hooks(nonEmpty, range("net_new_bp", 0, 10000))),
      Query("q208_hash_ring", q208HashRing, q208Oracle,
        Hooks(nonEmpty, range("share_bp", 0, 10000),
          // 8 shards partition the docs: 8 floors lose ≤ 7 bp
          groupSum(Seq(), "share_bp", 9992, 10000))),
      Query("q204_length_buckets", q204LengthBuckets, q204Oracle,
        Hooks(nonEmpty, range("eff_bp", 0, 10000))),
      Query("q205_apportionment", q205Apportionment, q205Oracle, NoBound(Structural)),
      Query("q193_nucleus_budget", q193NucleusBudget, q193Oracle,
        Hooks(nonEmpty, range("kept_bp", 0, 10000))),
      Query("q143_weighted_sample", q143WeightedSample, q143Oracle,
        NoBound("Gumbel-trick log key - unbounded below")),
      Query("q140_rendezvous_shards", q140RendezvousShards, q140Oracle,
        Hooks(nonEmpty,
          range("load_permille", 0, 1000),
          // 8 shards partition the docs: 8 floors lose <= 7 permille
          groupSum(Seq(), "load_permille", 993, 1000))),
      Query("q129_domain_stats", q129DomainStats, q129Oracle, NoBound(Structural)),
      Query("q123_skyline", q123Skyline, q123Oracle, NoBound(Structural)),
      Query("q90_curation_pipeline", q90CurationPipeline, q90Oracle, NoBound(Structural)),
      Query("q85_temperature_mix", q85TemperatureMix, q85Oracle,
        Hooks(nonEmpty, range("rate_ppm", 0, 1000000))),
      Query("q101_mixture_epochs", q101MixtureEpochs, q101Oracle,
        Hooks(nonEmpty, range("share_ppm", 0, 1000000),
          // source shares partition the token mass (≤1000-source slack)
          groupSum(Seq(), "share_ppm", 999000, 1000000))),
      Query("q81_source_quota", q81SourceQuota, q81Oracle, NoBound(Structural)),
      Query("q34_passage_dedup", q34PassageDedup, q34Oracle, NoBound(Structural)),
      Query("q35_repetition_profile", q35RepetitionProfile, q35Oracle,
        Hooks(nonEmpty,
          range("top_tok_permille", 0, 1000), range("dup_bigram_permille", 0, 1000))),
      Query("q36_sequence_packing", q36SequencePacking, q36Oracle, NoBound(Structural)),
      Query("q37_scrub_props", q37ScrubProps, q37Oracle, NoBound(Structural)),
      Query("q38_train_split", q38TrainSplit, q38Oracle, NoBound(Structural)),
    )
  }
}
