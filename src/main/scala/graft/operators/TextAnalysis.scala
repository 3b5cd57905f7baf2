package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._

/** Text-analysis operators for a training-data pipeline (builder brief /
  * SURVEY.md §7.4): token counting, quality scoring, language ID, and
  * document fingerprinting, over the `documents` table.
  *
  * Design rules:
  *  - Everything is a per-row Column expression (no UDFs, no shuffle
  *    beyond the final demo aggregation) → whole-stage codegen'd and
  *    trivially scalable: at 100 TB these run map-side at scan speed.
  *  - All scores are integer-valued (counts, permille ratios via floor)
  *    so cross-engine comparison is exact. Rational quotients with
  *    denominator ≤ ~1000 are ≥ 1/1000 away from the nearest integer
  *    when not exact, so floor(double) cannot misround.
  */
object TextAnalysis extends graft.QueryModule {

  /** Token statistics: whitespace tokens, a BPE-ish regex token count
    * (word runs + single non-word marks — the classic pre-tokenizer
    * shape), distinct counts, char totals per doc. */
  def q30TokenStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    Tables.documents(s, d)
      .select($"doc_id", $"lang",
        size(tk).as("n_tokens"),
        size(array_distinct(tk)).as("n_uniq_tokens"),
        size(regexp_extract_all($"text", lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .as("n_bpe_tokens"),
        length(regexp_replace($"text", "\\s+", "")).as("n_nonspace_chars"),
        $"n_chars")
      .orderBy($"doc_id")
  }

  val q30Oracle: String =
    """SELECT doc_id, lang,
       len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
       len(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS n_uniq_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
       length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace_chars,
       n_chars
       FROM documents ORDER BY doc_id"""

  /** Quality scoring: length score + stopword-density penalty, integer
    * permille arithmetic (the classic pre-training heuristic filter). */
  def q31QualityScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val nTok = size(tk)
    val nStop = stopCount(tk)
    val nUniq = size(array_distinct(tk))
    Tables.documents(s, d)
      .select($"doc_id",
        nTok.as("n_tokens"), nStop.as("n_stop"),
        permille(nStop, nTok).as("stop_permille"),
        permille(nUniq, nTok).as("uniq_permille"),
        qualityScore(nTok, nStop, nUniq).as("quality_score"))
      .orderBy($"doc_id")
  }

  val q31Oracle: String =
    """WITH t AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       c AS (
         SELECT doc_id, len(tk) AS n_tokens,
           len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) AS n_stop,
           CAST(floor(len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) * 1000.0 / len(tk)) AS BIGINT) AS stop_permille,
           CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT) AS uniq_permille
         FROM t)
       SELECT doc_id, n_tokens, n_stop, stop_permille, uniq_permille,
         least(n_tokens, 100) * 10 + (1000 - stop_permille) + uniq_permille AS quality_score
       FROM c ORDER BY doc_id"""

  /** Language ID by stopword-profile scoring: count marker-word hits per
    * language, argmax with a fixed priority order (first-match-wins tie
    * break, the reference's T8 idiom), then a confusion matrix against
    * the labeled lang column. */
  /** Shared n-gram language predictor: (doc_id, lang, pred_lang) —
    * the scoring core of q32's confusion matrix and q214's
    * precision/recall/F1 evaluation. */
  private[operators] def langPredictions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "in"),
      "de" -> Seq("der", "die", "das", "und"),
      "fr" -> Seq("le", "les", "et", "une"),
      "es" -> Seq("el", "los", "y", "una"),
      "zh" -> Seq("的", "是", "了"))
    val tk = tokens($"text")
    def score(ws: Seq[String]): Column =
      size(filter(tk, t => t.isin(ws.map(lit): _*)))
    val scored = Tables.documents(s, d)
      .select(Seq($"doc_id", $"lang") ++
        markers.map { case (l, ws) => score(ws).as(s"c_$l") }: _*)
    val pred = markers.map(_._1).foldRight(lit("und")) { (l, els) =>
      val c = col(s"c_$l")
      val others = markers.map(_._1).filter(_ != l).map(o => c >= col(s"c_$o"))
      when(c > 0 && others.reduce(_ && _), lit(l)).otherwise(els)
    }
    scored.withColumn("pred_lang", pred).select($"doc_id", $"lang", $"pred_lang")
  }

  def q32LangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    langPredictions(s, d)
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred_lang")
  }

  val q32Oracle: String =
    """WITH t AS (
         SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sc AS (
         SELECT doc_id, lang,
           len(list_filter(tk, t -> list_contains(['the','a','and','of','in'], t))) AS c_en,
           len(list_filter(tk, t -> list_contains(['der','die','das','und'], t))) AS c_de,
           len(list_filter(tk, t -> list_contains(['le','les','et','une'], t))) AS c_fr,
           len(list_filter(tk, t -> list_contains(['el','los','y','una'], t))) AS c_es,
           len(list_filter(tk, t -> list_contains(['的','是','了'], t))) AS c_zh
         FROM t),
       p AS (
         SELECT lang,
           CASE
             WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
             WHEN c_de > 0 AND c_de >= c_en AND c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
             WHEN c_fr > 0 AND c_fr >= c_en AND c_fr >= c_de AND c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
             WHEN c_es > 0 AND c_es >= c_en AND c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
             WHEN c_zh > 0 AND c_zh >= c_en AND c_zh >= c_de AND c_zh >= c_fr AND c_zh >= c_es THEN 'zh'
             ELSE 'und' END AS pred_lang
         FROM sc)
       SELECT lang, pred_lang, count(*) AS n
       FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""

  /** Document fingerprinting: winnowing-style minimum over 3-gram
    * shingle hashes (rolling-hash family; the min makes it robust to
    * local edits), plus the full-text hash.
    *
    * Perf: the composable form `array_min(transform(shingles3(tokens(
    * text)), hash60))` re-evaluates the tokenization once per element
    * access inside the HOF lambdas (CodegenFallback + CollapseProject
    * re-inlining) — measured 33 s at sf0.1. [[graft.functions.ShingleHashes]]
    * does one compiled pass per row; min-over-distinct == min-over-all,
    * and the shingle count is just max(n_tokens-2, 0). */
  def q33Fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        hash60(md5($"text")).as("exact_fp"),
        array_min(graft.functions.TextExprs.shingle_hashes($"text", 3, 15))
          .as("winnow_fp"),
        greatest(size(tokens($"text")) - 2, lit(0)).cast("int").as("n_shingles"))
      .orderBy($"doc_id")
  }

  val q33Oracle: String =
    """WITH t AS (
         SELECT doc_id, text,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, text,
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END AS s
         FROM t)
       SELECT doc_id,
         ('0x' || substr(md5(md5(text)), 1, 15))::BIGINT AS exact_fp,
         list_min(list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS winnow_fp,
         len(s) AS n_shingles
       FROM sh ORDER BY doc_id"""

  /** BPE-style pre-tokenization (q152): the class-based regex split
    * every BPE/WordPiece tokenizer runs before merges — maximal runs of
    * letters, digits, or other non-space symbols become separate
    * subtoken seeds (GPT-2's pretokenizer, minus the lookahead RE2
    * can't do — the pattern here is deliberately in the regex subset
    * Java and RE2 agree on). Applied to customer display names
    * (`Customer#000000042` → `Customer`, `#`, `000000042`): per market
    * segment, subtoken counts by class and the per-name subtoken
    * arity. Complements q30 (whitespace tokens) and q130 (the BPE
    * merge step itself) — together they cover the brief's "token
    * counting (whitespace + a BPE-ish regex)" line end to end.
    *
    * Scale shape: `regexp_extract_all` is a codegen'd projection —
    * scan → explode → one partial+final hash agg; no UDF, no shuffle
    * beyond the group-by. */
  def q152SubtokenProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"
    Tables.customer(s, d)
      .select($"c_mktsegment",
        explode(expr(s"regexp_extract_all(c_name, '$pat', 0)")).as("tok"))
      .withColumn("tok_class",
        when($"tok".rlike("^[0-9]"), lit("digits"))
          .when($"tok".rlike("^[A-Za-z]"), lit("letters"))
          .otherwise(lit("symbols")))
      .groupBy($"c_mktsegment", $"tok_class")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("n_distinct"),
        sum(length($"tok")).as("n_chars"))
      .orderBy($"c_mktsegment", $"tok_class")
  }

  val q152Oracle: String =
    """SELECT c_mktsegment,
         CASE WHEN regexp_matches(tok, '^[0-9]') THEN 'digits'
              WHEN regexp_matches(tok, '^[A-Za-z]') THEN 'letters'
              ELSE 'symbols' END AS tok_class,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
         CAST(sum(length(tok)) AS BIGINT) AS n_chars
       FROM (SELECT c_mktsegment,
               unnest(regexp_extract_all(c_name, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+')) AS tok
             FROM customer)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Classification evaluation (q214): per-class precision, recall,
    * and F1 of the q32 language predictor against the labeled `lang`
    * column, plus a `__micro__` row (micro-averaged P = R = F1 =
    * accuracy for single-label classification). The eval half every
    * classifier-in-the-pipeline needs (q180 covers the IR/ranking
    * metrics; this covers the classification ones), computed straight
    * off the confusion matrix: tp from the diagonal, fp from the
    * predicted-class column sums, fn from the true-class row sums.
    * All ratios are ppm integer divisions; zero denominators (a class
    * never predicted) yield 0, the sklearn zero_division=0 contract.
    *
    * Shape: the corpus collapses to the |classes|² confusion matrix
    * in one partial agg; every metric is arithmetic on that tiny
    * relation (two re-groupings + an outer join on class). */
  def q214ClassificationEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cm = langPredictions(s, d)
      .groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n"))
      .localCheckpoint() // class sums, diagonal, and micro all read it
    val actual = cm.groupBy($"lang".as("cls")).agg(sum($"n").as("n_actual"))
    val predicted = cm.groupBy($"pred_lang".as("cls")).agg(sum($"n").as("n_predicted"))
    val tp = cm.filter($"lang" === $"pred_lang")
      .select($"lang".as("cls"), $"n".as("tp"))
    val per = actual.join(predicted, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left_outer")
      .select($"cls",
        coalesce($"n_actual", lit(0L)).as("n_actual"),
        coalesce($"n_predicted", lit(0L)).as("n_predicted"),
        coalesce($"tp", lit(0L)).as("tp"))
      .withColumn("prec_ppm",
        when($"n_predicted" > 0, expr("tp * 1000000 div n_predicted")).otherwise(0L))
      .withColumn("rec_ppm",
        when($"n_actual" > 0, expr("tp * 1000000 div n_actual")).otherwise(0L))
      .withColumn("f1_ppm",
        when($"prec_ppm" + $"rec_ppm" > 0,
          expr("2 * prec_ppm * rec_ppm div (prec_ppm + rec_ppm)")).otherwise(0L))
    val micro = cm.agg(sum($"n").as("n_all"),
        sum(when($"lang" === $"pred_lang", $"n").otherwise(0L)).as("tp_all"))
      .select(lit("__micro__").as("cls"), $"n_all".as("n_actual"),
        $"n_all".as("n_predicted"), $"tp_all".as("tp"),
        expr("tp_all * 1000000 div n_all").as("prec_ppm"),
        expr("tp_all * 1000000 div n_all").as("rec_ppm"),
        expr("tp_all * 1000000 div n_all").as("f1_ppm"))
    per.unionByName(micro).orderBy($"cls")
  }

  val q214Oracle: String = {
    val cm =
      """WITH t AS (
         SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       sc AS (
         SELECT doc_id, lang,
           len(list_filter(tk, t -> list_contains(['the','a','and','of','in'], t))) AS c_en,
           len(list_filter(tk, t -> list_contains(['der','die','das','und'], t))) AS c_de,
           len(list_filter(tk, t -> list_contains(['le','les','et','une'], t))) AS c_fr,
           len(list_filter(tk, t -> list_contains(['el','los','y','una'], t))) AS c_es,
           len(list_filter(tk, t -> list_contains(['的','是','了'], t))) AS c_zh
         FROM t),
       p AS (
         SELECT lang,
           CASE
             WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
             WHEN c_de > 0 AND c_de >= c_en AND c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
             WHEN c_fr > 0 AND c_fr >= c_en AND c_fr >= c_de AND c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
             WHEN c_es > 0 AND c_es >= c_en AND c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
             WHEN c_zh > 0 AND c_zh >= c_en AND c_zh >= c_de AND c_zh >= c_fr AND c_zh >= c_es THEN 'zh'
             ELSE 'und' END AS pred_lang
         FROM sc),
       cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
              FROM p GROUP BY 1, 2)"""
    cm + """,
       act AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS n_actual FROM cm GROUP BY 1),
       prd AS (SELECT pred_lang AS cls, CAST(sum(n) AS BIGINT) AS n_predicted FROM cm GROUP BY 1),
       diag AS (SELECT lang AS cls, n AS tp FROM cm WHERE lang = pred_lang),
       per AS (
         SELECT coalesce(act.cls, prd.cls) AS cls,
           coalesce(n_actual, 0) AS n_actual,
           coalesce(n_predicted, 0) AS n_predicted,
           coalesce(tp, 0) AS tp
         FROM act FULL OUTER JOIN prd ON act.cls = prd.cls
         LEFT JOIN diag ON coalesce(act.cls, prd.cls) = diag.cls),
       m AS (
         SELECT cls, n_actual, n_predicted, tp,
           CASE WHEN n_predicted > 0 THEN tp * 1000000 // n_predicted ELSE 0 END AS prec_ppm,
           CASE WHEN n_actual > 0 THEN tp * 1000000 // n_actual ELSE 0 END AS rec_ppm
         FROM per),
       mf AS (
         SELECT cls, n_actual, n_predicted, tp, prec_ppm, rec_ppm,
           CASE WHEN prec_ppm + rec_ppm > 0
                THEN 2 * prec_ppm * rec_ppm // (prec_ppm + rec_ppm) ELSE 0 END AS f1_ppm
         FROM m),
       micro AS (
         SELECT '__micro__' AS cls,
           CAST(sum(n) AS BIGINT) AS n_actual, CAST(sum(n) AS BIGINT) AS n_predicted,
           CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) * 1000000
             // CAST(sum(n) AS BIGINT) AS prec_ppm,
           CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) * 1000000
             // CAST(sum(n) AS BIGINT) AS rec_ppm,
           CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) * 1000000
             // CAST(sum(n) AS BIGINT) AS f1_ppm
         FROM cm)
       SELECT * FROM mf UNION ALL SELECT * FROM micro ORDER BY cls"""
  }

  /** Character-entropy quality signal (q216): per-source distribution
    * of per-document Shannon entropy over letter frequencies — the
    * compression-ratio proxy: natural prose sits near the language's
    * ceiling (~2.9 nats for English letters), boilerplate and
    * keyword-stuffed spam sit low, and random noise pegs the maximum.
    * One of the cheap "does this even look like text" gates (q31's
    * ratios, q35's repetition, this) that run before any model-based
    * scoring.
    *
    * Parity: letter counts are exact ((doc, letter) partial agg over
    * `regexp_extract_all(lower(text), '[a-z]')` — identical extraction
    * both engines); each entropy TERM −(c/n)·ln(c/n) is floored to
    * micro-nats independently (term-wise floors are order-free, so
    * the integer SUM of ≤ 26 floored terms is exact cross-engine —
    * tighter discipline than floating accumulation). Shape: explode →
    * (doc, letter) partial agg → per-doc sum → per-source rollup;
    * every stage partial-aggregates and the letter alphabet caps the
    * per-doc state at 26 rows. */
  def q216CharEntropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, d)
      .select($"doc_id", $"source",
        explode(expr("regexp_extract_all(lower(text), '[a-z]', 0)")).as("ch"))
      .groupBy($"doc_id", $"source", $"ch").agg(count(lit(1)).as("c"))
    val perDoc = counts
      .withColumn("n", sum($"c").over(Window.partitionBy($"doc_id")))
      .withColumn("term_micro",
        floor(-($"c" * lit(1.0) / $"n") * log($"c" * lit(1.0) / $"n")
          * lit(1000000.0)).cast("long"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"term_micro").as("ent_micro"), max($"n").as("n_letters"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(ent_micro) div count(1)").as("avg_ent_micro"),
        min($"ent_micro").as("min_ent_micro"),
        max($"ent_micro").as("max_ent_micro"))
      .orderBy($"source")
  }

  val q216Oracle: String =
    """WITH ch AS (
         SELECT doc_id, source,
           unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
         FROM documents),
       cnt AS (
         SELECT doc_id, source, ch, CAST(count(*) AS BIGINT) AS c
         FROM ch GROUP BY 1, 2, 3),
       wn AS (
         SELECT doc_id, source, c,
           CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
         FROM cnt),
       t AS (
         SELECT doc_id, source, n,
           CAST(floor(-(c * 1.0 / n) * ln(c * 1.0 / n) * 1000000.0) AS BIGINT)
             AS term_micro
         FROM wn),
       pd AS (
         SELECT doc_id, source, CAST(sum(term_micro) AS BIGINT) AS ent_micro,
           max(n) AS n_letters
         FROM t GROUP BY 1, 2)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ent_micro) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_ent_micro,
         CAST(min(ent_micro) AS BIGINT) AS min_ent_micro,
         CAST(max(ent_micro) AS BIGINT) AS max_ent_micro
       FROM pd GROUP BY source ORDER BY source"""

  /** Code-switching / mixed-language audit: run q32's 5-profile
    * stopword predictor per 20-token WINDOW instead of per document,
    * then report per doc how many windows there are, how many agree
    * with the labeled language, and how many distinct (non-'und')
    * languages the windows claim — `mixed` flags docs whose windows
    * disagree about the language, the signature of concatenated or
    * code-switched text that a doc-level langid mistakes for one
    * language. Docs under 20 tokens have no full window and drop out
    * (too short to window-vote).
    *
    * Shape: one scan, a bounded per-doc window explode (≤ n_tok/20
    * rows), the marker counts as scan-side array filters, and one
    * per-doc partial agg. Nothing shuffles but the ≤5-per-doc window
    * rows. */
  def q277CodeSwitch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "in"),
      "de" -> Seq("der", "die", "das", "und"),
      "fr" -> Seq("le", "les", "et", "une"),
      "es" -> Seq("el", "los", "y", "una"),
      "zh" -> Seq("的", "是", "了"))
    val win = Tables.documents(s, d)
      .select($"doc_id", $"lang", tokens($"text").as("tk"))
      .filter(size($"tk") >= 20)
      .select($"doc_id", $"lang", explode(expr(
        """transform(sequence(0, size(tk) div 20 - 1),
           i -> slice(tk, i*20+1, 20))""")).as("w"))
    def score(ws: Seq[String]): Column =
      size(filter($"w", t => t.isin(ws.map(lit): _*)))
    val scored = win.select(Seq($"doc_id", $"lang") ++
      markers.map { case (l, ws) => score(ws).as(s"c_$l") }: _*)
    val pred = markers.map(_._1).foldRight(lit("und")) { (l, els) =>
      val c = col(s"c_$l")
      val others = markers.map(_._1).filter(_ != l).map(o => c >= col(s"c_$o"))
      when(c > 0 && others.reduce(_ && _), lit(l)).otherwise(els)
    }
    scored.withColumn("pred", pred)
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"pred" === $"lang", 1L).otherwise(0L)).as("n_match"),
        countDistinct(when($"pred" =!= "und", $"pred")).as("n_langs"))
      .withColumn("mixed", $"n_langs" >= 2)
      .orderBy($"doc_id")
  }

  val q277Oracle: String =
    """WITH t AS (
         SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       win AS (
         SELECT doc_id, lang,
           unnest([tk[i*20+1 : i*20+20] FOR i IN generate_series(0, len(tk)//20 - 1)]) AS w
         FROM t WHERE len(tk) >= 20),
       sc AS (
         SELECT doc_id, lang,
           len(list_filter(w, t -> list_contains(['the','a','and','of','in'], t))) AS c_en,
           len(list_filter(w, t -> list_contains(['der','die','das','und'], t))) AS c_de,
           len(list_filter(w, t -> list_contains(['le','les','et','une'], t))) AS c_fr,
           len(list_filter(w, t -> list_contains(['el','los','y','una'], t))) AS c_es,
           len(list_filter(w, t -> list_contains(['的','是','了'], t))) AS c_zh
         FROM win),
       p AS (
         SELECT doc_id, lang,
           CASE
             WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
             WHEN c_de > 0 AND c_de >= c_en AND c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
             WHEN c_fr > 0 AND c_fr >= c_en AND c_fr >= c_de AND c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
             WHEN c_es > 0 AND c_es >= c_en AND c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
             WHEN c_zh > 0 AND c_zh >= c_en AND c_zh >= c_de AND c_zh >= c_fr AND c_zh >= c_es THEN 'zh'
             ELSE 'und' END AS pred
         FROM sc)
       SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         CAST(count(DISTINCT CASE WHEN pred <> 'und' THEN pred END) AS BIGINT) AS n_langs,
         (count(DISTINCT CASE WHEN pred <> 'und' THEN pred END) >= 2) AS mixed
       FROM p GROUP BY doc_id, lang ORDER BY doc_id"""

  /** T5-style span-corruption masking plan (q325): deterministically
    * select mask spans over each document's token stream — span
    * starts where hash60(doc_id:pos) ≡ 0 (mod 10) (≈10% of
    * positions), each span covering 3 tokens; overlapping spans
    * merge, and the plan reports per doc the span count, masked-token
    * count, merged-run count, and corruption rate. This is the
    * PLANNING half of denoising-objective pretraining data prep (the
    * actual sentinel-token rewrite is a trivial map once the plan
    * exists); the hash makes the "random" selection reproducible
    * across engines and runs — the q143 discipline.
    *
    * Scale: posexplode is linear; both windows are PARTITIONED by
    * doc_id (never global); output is one row per document. */
  def q325SpanCorruption(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "w")))
    val marked = tok.select($"doc_id", $"pos",
      when(hash60(concat($"doc_id", lit(":"), $"pos")) % 10 === 0, 1L)
        .otherwise(0L).as("is_start"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val cov = marked.withColumn("covered",
      max($"is_start").over(wDoc.rowsBetween(-2, Window.currentRow)))
    val runs = cov.withColumn("run_start",
      when($"covered" === 1 && lag($"covered", 1, 0L).over(wDoc) === 0, 1L)
        .otherwise(0L))
    runs.groupBy($"doc_id").agg(
        count(lit(1)).as("n_tok"),
        sum($"is_start").as("n_spans"),
        sum($"covered").as("n_masked"),
        sum($"run_start").as("n_runs"))
      .withColumn("corruption_permille", expr("1000 * n_masked div n_tok"))
      .orderBy($"doc_id")
  }

  val q325Oracle: String =
    """WITH tok AS (
         SELECT doc_id, unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS w,
           unnest(range(len(list_filter(string_split_regex(text,'\s+'), t -> t <> '')))) AS pos
         FROM documents),
       marked AS (
         SELECT doc_id, pos,
           CASE WHEN ('0x' || substr(md5(doc_id || ':' || pos), 1, 15))::BIGINT % 10 = 0
                THEN 1 ELSE 0 END AS is_start
         FROM tok),
       cov AS (
         SELECT doc_id, pos, is_start,
           max(is_start) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
         FROM marked),
       runs AS (
         SELECT doc_id, pos, is_start, covered,
           CASE WHEN covered = 1 AND lag(covered, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos) = 0
                THEN 1 ELSE 0 END AS run_start
         FROM cov)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(is_start) AS BIGINT) AS n_spans,
         CAST(sum(covered) AS BIGINT) AS n_masked,
         CAST(sum(run_start) AS BIGINT) AS n_runs,
         1000 * CAST(sum(covered) AS BIGINT) // CAST(count(*) AS BIGINT) AS corruption_permille
       FROM runs GROUP BY 1 ORDER BY doc_id"""

  /** Within-doc repetition quality rules (q366) — the Gopher /
    * MassiveText filter family (Rae et al. 2021 §A1.1): texts that
    * loop on themselves (boilerplate, templated spam, decoding
    * loops) are flagged by the fraction of n-gram POSITIONS whose
    * n-gram occurs more than once in the same document, plus the
    * share claimed by the single most common 2-gram. This is the
    * WITHIN-document complement of q286's cross-document duplicate
    * spans. Per (doc, n): dup_frac = Σ_{g: c(g)≥2} c(g) over the
    * (n − g + 1) gram positions; top_frac = max c(g) over positions —
    * both exact integer basis points. Report per language: doc
    * counts, average scores, and docs over the flag thresholds
    * (≥ 20% duplicated 2-gram positions / ≥ 8% in one 2-gram —
    * Gopher's 0.20 dup-bigram line).
    *
    * Docs with < 3 tokens are out of contract (no trigram positions).
    *
    * Shape: two explode→(doc, gram) partial-agg passes (map-side
    * combine does the heavy lifting: gram TYPES per doc, not
    * positions, cross the shuffle), one per-doc join, one 5-row lang
    * rollup. Everything else is per-row arithmetic at scan speed. */
  def q366RepetitionRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"lang", tokens($"text").as("tk"))
      .filter(size($"tk") >= 3)
      .select($"doc_id", $"lang", $"tk", size($"tk").cast("long").as("n"))
    def gramCounts(g: Int): DataFrame = {
      val mk = (1 until g).foldLeft("element_at(tk, i)") { (acc, j) =>
        s"concat($acc, ' ', element_at(tk, i + $j))"
      }
      base.select($"doc_id",
        explode(expr(s"transform(sequence(1, size(tk) - ${g - 1}), i -> $mk)"))
          .as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
    }
    val d2 = gramCounts(2).groupBy($"doc_id")
      .agg(sum(when($"c" >= 2, $"c").otherwise(0L)).as("dup2"),
        max($"c").as("top2"))
    val d3 = gramCounts(3).groupBy($"doc_id")
      .agg(sum(when($"c" >= 2, $"c").otherwise(0L)).as("dup3"))
    base.select($"doc_id", $"lang", $"n")
      .join(d2, Seq("doc_id"), "left")
      .join(d3, Seq("doc_id"), "left")
      .select($"lang",
        expr("10000 * coalesce(dup2, 0) div (n - 1)").as("dup2_bp"),
        expr("10000 * coalesce(dup3, 0) div (n - 2)").as("dup3_bp"),
        expr("10000 * coalesce(top2, 0) div (n - 1)").as("top2_bp"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(dup2_bp) div count(1)").as("avg_dup2_bp"),
        expr("sum(dup3_bp) div count(1)").as("avg_dup3_bp"),
        expr("sum(top2_bp) div count(1)").as("avg_top2_bp"),
        sum(when($"dup2_bp" >= 2000, 1L).otherwise(0L)).as("n_flag_dup2"),
        sum(when($"top2_bp" >= 800, 1L).otherwise(0L)).as("n_flag_top2"))
      .orderBy($"lang")
  }

  val q366Oracle: String =
    """WITH tk AS (
         SELECT doc_id, lang,
           list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       base AS (SELECT doc_id, lang, tk, len(tk) AS n FROM tk WHERE len(tk) >= 3),
       g2 AS (
         SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
           SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)-1),
             i -> tk[i] || ' ' || tk[i+1])) AS g
           FROM base) GROUP BY 1, 2),
       g3 AS (
         SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
           SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)-2),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
           FROM base) GROUP BY 1, 2),
       d2 AS (SELECT doc_id,
               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup2,
               CAST(max(c) AS BIGINT) AS top2
             FROM g2 GROUP BY 1),
       d3 AS (SELECT doc_id,
               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3
             FROM g3 GROUP BY 1),
       per AS (
         SELECT b.lang,
           10000 * COALESCE(d2.dup2, 0) // (b.n - 1) AS dup2_bp,
           10000 * COALESCE(d3.dup3, 0) // (b.n - 2) AS dup3_bp,
           10000 * COALESCE(d2.top2, 0) // (b.n - 1) AS top2_bp
         FROM base b LEFT JOIN d2 USING (doc_id) LEFT JOIN d3 USING (doc_id))
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dup2_bp) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_dup2_bp,
         CAST(sum(dup3_bp) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_dup3_bp,
         CAST(sum(top2_bp) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_top2_bp,
         CAST(sum(CASE WHEN dup2_bp >= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup2,
         CAST(sum(CASE WHEN top2_bp >= 800 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top2
       FROM per GROUP BY lang ORDER BY lang"""

  /** Positional repetition profile (q29): WHERE inside documents does
    * duplication live? q366 scores repetition per doc; this localizes
    * it — each 3-gram position is flagged duplicated when its gram
    * TYPE recurs within the doc, positions map to within-doc quartiles
    * by exact integer arithmetic, and the corpus-level quartile table
    * shows whether boilerplate is front-loaded (headers, nav chrome —
    * the common web case, and the evidence for head-truncation
    * policies) or tail-loaded (footers, references).
    *
    * Shape: one scan → position-exploded grams; the dup flag is a
    * (doc, gram)-partitioned window count (groups are per-doc gram
    * multiplicities — never hot); rollup is a 4-row aggregate. */
  def q29RepetitionPosition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = Tables.documents(s, d)
      .select($"doc_id", graft.functions.Fns.tokens($"text").as("tk"))
      .filter(size($"tk") >= 3)
    val g = tk
      .select($"doc_id", (size($"tk") - 2).cast("long").as("ng"),
        explode(transform(sequence(lit(1), size($"tk") - 2),
          i => struct(i.cast("long").as("i"),
            concat_ws(" ", element_at($"tk", i), element_at($"tk", i + 1),
              element_at($"tk", i + 2)).as("g")))).as("x"))
      .select($"doc_id", $"ng", $"x.i".as("i"), $"x.g".as("g"))
    g.withColumn("tf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id", $"g")))
      .select(expr("((i - 1) * 4) div ng").as("quartile"),
        when($"tf" >= 2, 1L).otherwise(0L).as("dup"))
      .groupBy($"quartile")
      .agg(count(lit(1)).as("n_pos"), sum($"dup").as("n_dup"))
      .withColumn("dup_bp", expr("n_dup * 10000 div n_pos"))
      .orderBy($"quartile")
  }

  val q29Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       g AS (
         SELECT doc_id, len(tk) - 2 AS ng, i,
           tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
         FROM tk, unnest(generate_series(1, len(tk)-2)) AS u(i)
         WHERE len(tk) >= 3),
       cnt AS (
         SELECT doc_id, ng, i,
           count(*) OVER (PARTITION BY doc_id, g) AS tf
         FROM g),
       qd AS (
         SELECT ((i-1) * 4) // ng AS quartile,
           CASE WHEN tf >= 2 THEN 1 ELSE 0 END AS dup
         FROM cnt)
       SELECT CAST(quartile AS BIGINT) AS quartile,
         CAST(count(*) AS BIGINT) AS n_pos,
         CAST(sum(dup) AS BIGINT) AS n_dup,
         CAST(sum(dup) AS BIGINT) * 10000 // count(*) AS dup_bp
       FROM qd GROUP BY 1 ORDER BY 1"""

  /** Positional token drift (q394): split every doc into thirds and
    * measure each third's unigram distribution against the corpus
    * distribution as an exact total-variation distance — cross-
    * multiplied integer counts, no float sums — plus the single most
    * deviating token per third. Non-zero drift between starts and
    * ends is the structural signature of headers/boilerplate (q29
    * localizes REPETITION; this localizes distributional shift, which
    * catches non-repeated templates too) and is what makes "train on
    * doc prefixes" a biased shortcut.
    *
    * Shape: one position explode → (third × token) cells (bounded by
    * 3·|vocab|); everything downstream runs on that bounded relation. */
  def q394PositionalDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = Tables.documents(s, d)
      .select(graft.functions.Fns.tokens($"text").as("tk"))
      .filter(size($"tk") >= 3)
    val pos = tk.select(explode(expr(
        """transform(sequence(1, size(tk)),
             i -> struct(least((3 * (i - 1)) div size(tk), 2) AS third,
                         element_at(tk, i) AS t))""")).as("x"))
      .select($"x.third".cast("long").as("third"), $"x.t".as("t"))
    val cell = pos.groupBy($"third", $"t").agg(count(lit(1)).as("c"))
    val pt = cell.groupBy($"third").agg(sum($"c").as("n"))
    val corp = cell.groupBy($"t").agg(sum($"c").as("ca"))
    val ct = corp.agg(sum($"ca").as("na"))
    // the FULL (third × vocab) grid, not just occupied cells: a token
    // ABSENT from a third deviates by its whole corpus mass — dropping
    // zero cells silently undercounts TVD (caught by the planted-
    // header spec before this op shipped)
    val dev = pt.crossJoin(corp)
      .join(cell, Seq("third", "t"), "left")
      .crossJoin(broadcast(ct))
      .select($"third", $"t",
        abs(coalesce($"c", lit(0L)) * $"na" - $"ca" * $"n").as("xdev"),
        $"n", $"na")
    val tvd = dev.groupBy($"third")
      .agg(max($"n").as("n_tokens"),
        expr("CAST(sum(xdev) * 10000 div (2 * max(n) * max(na)) AS BIGINT)")
          .as("tvd_bp"))
    val top = dev
      .withColumn("rn", row_number().over(
        Window.partitionBy($"third").orderBy($"xdev".desc, $"t")))
      .filter($"rn" === 1)
      .select($"third", $"t".as("top_token"),
        expr("xdev * 10000 div (n * na)").as("top_dev_bp"))
    tvd.join(top, "third")
      .select($"third", $"n_tokens", $"tvd_bp", $"top_token", $"top_dev_bp")
      .orderBy($"third")
  }

  val q394Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       pos AS (
         SELECT least((3 * (i - 1)) // len(tk), 2) AS third, tk[i] AS t
         FROM tk, unnest(generate_series(1, len(tk))) AS u(i)
         WHERE len(tk) >= 3),
       cell AS (SELECT third, t, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY 1, 2),
       pt AS (SELECT third, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY third),
       corp AS (SELECT t, CAST(count(*) AS BIGINT) AS ca FROM pos GROUP BY t),
       ct AS (SELECT CAST(sum(ca) AS BIGINT) AS na FROM corp),
       dev AS (
         SELECT pt.third, corp.t,
           abs(coalesce(cell.c, 0) * ct.na - corp.ca * pt.n) AS xdev, pt.n, ct.na
         FROM pt CROSS JOIN corp
         LEFT JOIN cell ON cell.third = pt.third AND cell.t = corp.t
         CROSS JOIN ct),
       tvd AS (
         SELECT third, CAST(max(n) AS BIGINT) AS n_tokens,
           CAST(sum(xdev) * 10000 // (2 * max(n) * max(na)) AS BIGINT) AS tvd_bp
         FROM dev GROUP BY third),
       top AS (
         SELECT third, t AS top_token,
           CAST(xdev * 10000 // (n * na) AS BIGINT) AS top_dev_bp,
           row_number() OVER (PARTITION BY third ORDER BY xdev DESC, t) AS rn
         FROM dev)
       SELECT CAST(tvd.third AS BIGINT) AS third, tvd.n_tokens, tvd.tvd_bp,
         top.top_token, top.top_dev_bp
       FROM tvd JOIN top ON tvd.third = top.third AND top.rn = 1
       ORDER BY third"""

  /** Wasserstein-1 length drift per source (q413): earth-mover distance
    * between each source's token-length distribution and the corpus
    * reference — the drift metric that, unlike PSI (q128) / JSD (q283)
    * / TVD (q394), charges a shift by HOW FAR the mass moved, so
    * "everything one token longer" scores small while "half the docs
    * became 10× longer" scores large. On the integer length support,
    * W1 = Σ_cutpoints |CDF_s − CDF_ref| · gap, where gap = distance to
    * the NEXT observed cutpoint (ADVICE r8: without the gap weight the
    * sum charges RANK distance — all-mass-at-10 vs all-mass-at-100
    * would score ~1 token instead of 90 across a sparse gap — because
    * both CDFs are constant between observed lengths, each |ΔCDF| term
    * carries its whole plateau's width). Evaluated on the FULL
    * (source × observed-length) grid with zero cells (the q394
    * lesson: a length a source never produces still deviates by the
    * reference's cumulative mass there); the last cutpoint's gap is
    * immaterial (both CDFs are 1 there, the term is 0). Exact
    * integers: CDFs are compared cross-multiplied
    * (|cum_s·n_ref − cum_ref·n_s|·gap in micro units over n_s·n_ref),
    * never as float ratios.
    *
    * Scale: per-source histograms come from one groupBy on
    * (source, len) — length is a bounded-vocabulary axis — the grid is
    * |sources|·|lengths|, and the CDF windows partition by source over
    * that bounded grid; nothing row-level ever enters a window. */
  def q413WassersteinDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lens = Tables.documents(s, d)
      .select($"source", size(tokens($"text")).cast("long").as("len"))
    val hist = lens.groupBy($"source", $"len").agg(count(lit(1)).as("c"))
    val grid = hist.select($"source").distinct()
      .crossJoin(hist.select($"len").distinct())
    val filled = grid.join(hist, Seq("source", "len"), "left")
      .select($"source", $"len", coalesce($"c", lit(0L)).as("c"))
    val wsrc = Window.partitionBy($"source").orderBy($"len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = filled.select($"source", $"len",
      sum($"c").over(wsrc).as("cum_s"))
    val perSrc = hist.groupBy($"source").agg(sum($"c").as("n_s"))
    val ref = hist.groupBy($"len").agg(sum($"c").as("rc"))
    val wref = Window.orderBy($"len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val refCum = ref.select($"len", sum($"rc").over(wref).as("cum_r"),
      (coalesce(lead($"len", 1).over(Window.orderBy($"len")), $"len" + 1)
        - $"len").as("gap"))
    val nRef = hist.agg(sum($"c").as("n_ref"))
    cums.join(perSrc, "source").join(refCum, "len")
      .crossJoin(broadcast(nRef))
      .groupBy($"source", $"n_s")
      .agg(sum(expr("abs(cum_s * n_ref - cum_r * n_s) * gap * 1000000 div (n_s * n_ref)"))
        .as("w1_micro"))
      .select($"source", $"n_s".as("n_docs"), $"w1_micro")
      .orderBy($"source")
  }

  val q413Oracle: String =
    """WITH lens AS (
         SELECT source,
                CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) AS len
         FROM documents),
       hist AS (SELECT source, len, CAST(count(*) AS BIGINT) AS c FROM lens GROUP BY 1, 2),
       grid AS (SELECT s.source, l.len FROM
                  (SELECT DISTINCT source FROM hist) s,
                  (SELECT DISTINCT len FROM hist) l),
       filled AS (
         SELECT g.source, g.len, coalesce(h.c, 0) AS c
         FROM grid g LEFT JOIN hist h ON g.source = h.source AND g.len = h.len),
       cums AS (
         SELECT source, len,
                CAST(sum(c) OVER (PARTITION BY source ORDER BY len
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s
         FROM filled),
       persrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM hist GROUP BY 1),
       ref AS (SELECT len, CAST(sum(c) AS BIGINT) AS rc FROM hist GROUP BY 1),
       refcum AS (
         SELECT len, CAST(sum(rc) OVER (ORDER BY len
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_r,
           CAST(coalesce(lead(len) OVER (ORDER BY len), len + 1) - len AS BIGINT) AS gap
         FROM ref),
       nref AS (SELECT CAST(sum(c) AS BIGINT) AS n_ref FROM hist)
       SELECT c.source, p.n_s AS n_docs,
              CAST(sum(abs(c.cum_s * n_ref - r.cum_r * p.n_s) * r.gap * 1000000 // (p.n_s * n_ref)) AS BIGINT) AS w1_micro
       FROM cums c
       JOIN persrc p USING (source)
       JOIN refcum r USING (len)
       CROSS JOIN nref
       GROUP BY 1, 2 ORDER BY source"""

  /** Burrows' delta stylometry (q424, Burrows 2002): fingerprint each
    * source by its function-word profile — the per-million-token rates
    * of the six marker stopwords — z-score each rate against the
    * across-source distribution of that word, and measure every source
    * pair's delta = mean |z_a − z_b|. Low delta = same "authorial
    * hand": the standard cheap detector for one crawl masquerading as
    * two sources (and the contamination question "is this new source
    * really new?"). Exact integers throughout: rates in micro,
    * population variance by the cross-multiplied k·Σr² − (Σr)² form
    * (no floored-mean bias), z in milli via cross-multiplication, and
    * the one √ is IEEE correctly-rounded on an exact int64 (the q331/
    * q419 discipline).
    *
    * Scale: ONE scan (per-doc marker counts are Column exprs, no token
    * explode) → one |sources|-row aggregate; the word unpivot, the
    * per-word stats, and the pairwise delta join all run on
    * |sources|·6 ≤ bounded relations. */
  def q424BurrowsDelta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val perDoc = Tables.documents(s, d).select(
      Seq($"source", size(tk).cast("long").as("nt")) ++
        stopWords.zipWithIndex.map { case (w, i) =>
          size(filter(tk, t => t === w)).cast("long").as(s"c$i")
        }: _*)
    val per = perDoc.groupBy($"source").agg(
      sum($"nt").as("nt"),
      stopWords.indices.map(i => sum(col(s"c$i")).as(s"c$i")): _*)
    val rates = per.select($"source", explode(array(
        stopWords.zipWithIndex.map { case (w, i) =>
          struct(lit(w).as("w"), expr(s"c$i * 1000000 div nt").as("rate"))
        }: _*)).as("x"))
      .select($"source", $"x.w".as("w"), $"x.rate".as("rate"))
    val stats = rates.groupBy($"w").agg(
        count(lit(1)).as("k"), sum($"rate").as("m"),
        sum($"rate" * $"rate").as("m2"))
      .select($"w", $"k", $"m",
        floor(sqrt(expr("(k * m2 - m * m) div (k * k)"))).cast("long").as("sd"))
    val z = rates.join(broadcast(stats), "w")
      .select($"source", $"w",
        when($"sd" === 0, 0L)
          .otherwise(expr("(rate * k - m) * 1000 div (k * sd)")).as("z_milli"))
    z.as("a").join(z.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(abs(col("a.z_milli") - col("b.z_milli"))).as("sabs"))
      .withColumn("delta_milli", expr("sabs div 6")).drop("sabs")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src_a").orderBy($"delta_milli", $"src_b")))
      .select($"src_a", $"src_b", $"delta_milli",
        ($"rn" === 1).cast("long").as("nearest"))
      .orderBy($"src_a", $"src_b")
  }

  val q424Oracle: String =
    """WITH t AS (SELECT source, list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS tk FROM documents),
       perdoc AS (
         SELECT source, CAST(len(tk) AS BIGINT) AS nt,
                CAST(len(list_filter(tk, x -> x = 'the')) AS BIGINT) AS c0,
                CAST(len(list_filter(tk, x -> x = 'a')) AS BIGINT) AS c1,
                CAST(len(list_filter(tk, x -> x = 'of')) AS BIGINT) AS c2,
                CAST(len(list_filter(tk, x -> x = 'and')) AS BIGINT) AS c3,
                CAST(len(list_filter(tk, x -> x = 'in')) AS BIGINT) AS c4,
                CAST(len(list_filter(tk, x -> x = 'to')) AS BIGINT) AS c5
         FROM t),
       per AS (
         SELECT source, CAST(sum(nt) AS BIGINT) AS nt,
                CAST(sum(c0) AS BIGINT) AS c0, CAST(sum(c1) AS BIGINT) AS c1,
                CAST(sum(c2) AS BIGINT) AS c2, CAST(sum(c3) AS BIGINT) AS c3,
                CAST(sum(c4) AS BIGINT) AS c4, CAST(sum(c5) AS BIGINT) AS c5
         FROM perdoc GROUP BY 1),
       rates AS (
         SELECT source, 'the' AS w, c0 * 1000000 // nt AS rate FROM per
         UNION ALL SELECT source, 'a', c1 * 1000000 // nt FROM per
         UNION ALL SELECT source, 'of', c2 * 1000000 // nt FROM per
         UNION ALL SELECT source, 'and', c3 * 1000000 // nt FROM per
         UNION ALL SELECT source, 'in', c4 * 1000000 // nt FROM per
         UNION ALL SELECT source, 'to', c5 * 1000000 // nt FROM per),
       stats AS (
         SELECT w, CAST(count(*) AS BIGINT) AS k, CAST(sum(rate) AS BIGINT) AS m,
                CAST(floor(sqrt((CAST(count(*) AS BIGINT) * CAST(sum(rate * rate) AS BIGINT)
                  - CAST(sum(rate) AS BIGINT) * CAST(sum(rate) AS BIGINT))
                  // (CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT)))) AS BIGINT) AS sd
         FROM rates GROUP BY 1),
       z AS (
         SELECT source, rates.w,
                CASE WHEN sd = 0 THEN 0
                     ELSE (rate * k - m) * 1000 // (k * sd) END AS z_milli
         FROM rates JOIN stats ON rates.w = stats.w),
       pairs AS (
         SELECT a.source AS src_a, b.source AS src_b,
                CAST(sum(abs(a.z_milli - b.z_milli)) AS BIGINT) // 6 AS delta_milli
         FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
         GROUP BY 1, 2)
       SELECT src_a, src_b, delta_milli,
              CASE WHEN row_number() OVER (PARTITION BY src_a ORDER BY delta_milli, src_b) = 1
                   THEN 1 ELSE 0 END AS nearest
       FROM pairs ORDER BY src_a, src_b"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q424_burrows_delta", q424BurrowsDelta, q424Oracle,
        NoBound("Burrows delta unbounded above")),
      Query("q413_wasserstein_drift", q413WassersteinDrift, q413Oracle,
        NoBound("W1 scales with value domain")),
      Query("q29_repetition_position", q29RepetitionPosition, q29Oracle,
        Hooks(nonEmpty, range("dup_bp", 0, 10000))),
      Query("q394_positional_drift", q394PositionalDrift, q394Oracle,
        Hooks(nonEmpty, range("tvd_bp", 0, 10000))),
      Query("q366_repetition_rules", q366RepetitionRules, q366Oracle,
        Hooks(nonEmpty, range("avg_dup2_bp", 0, 10000), range("avg_dup3_bp", 0, 10000), range("avg_top2_bp", 0, 10000))),
      Query("q325_span_corruption", q325SpanCorruption, q325Oracle,
        Hooks(nonEmpty,
          range("corruption_permille", 0, 1000))),
      Query("q277_code_switch", q277CodeSwitch, q277Oracle, NoBound(Structural)),
      // [a-z] alphabet: entropy <= ln(26) = 3.258097 micro-nats
      Query("q216_char_entropy", q216CharEntropy, q216Oracle,
        Hooks(nonEmpty,
          range("avg_ent_micro", 0, 3258097), range("min_ent_micro", 0, 3258097),
          range("max_ent_micro", 0, 3258097),
          atLeast("avg_ent_micro - min_ent_micro", 0),
          atLeast("max_ent_micro - avg_ent_micro", 0))),
      Query("q214_classification_eval", q214ClassificationEval, q214Oracle,
        Hooks(nonEmpty, range("prec_ppm", 0, 1000000), range("rec_ppm", 0, 1000000), range("f1_ppm", 0, 1000000))),
      Query("q152_subtoken_profile", q152SubtokenProfile, q152Oracle, NoBound(Structural)),
      Query("q30_token_stats", q30TokenStats, q30Oracle, NoBound(Structural)),
      Query("q31_quality_score", q31QualityScore, q31Oracle,
        Hooks(nonEmpty, range("stop_permille", 0, 1000),
          range("uniq_permille", 0, 1000))),
      Query("q32_langid", q32LangId, q32Oracle, NoBound(Structural)),
      Query("q33_fingerprint", q33Fingerprint, q33Oracle, NoBound(Structural)),
    )
  }
}
