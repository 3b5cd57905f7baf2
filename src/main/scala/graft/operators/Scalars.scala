package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.functions.Fns._
import graft.ops.RefOps

/** The reference's scalar transform surface (SURVEY.md §2.2 projections/
  * filters, §2.8 string/date/array/json functions) exercised over the
  * driver testdata, each with a DuckDB oracle twin.
  *
  * All of these are pure per-row Column expressions — they stay inside
  * whole-stage codegen and impose no shuffle; the groupBys that follow
  * exist only to keep oracle outputs small and deterministic.
  */
object Scalars extends graft.QueryModule {

  /** P1/P2 token-blacklist filter (isin-not) + aggregation. */
  def q10TokenBlacklist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter(!$"event_type".isin("error", "view"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), decSum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  val q10Oracle: String =
    """SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events WHERE event_type NOT IN ('error','view')
       GROUP BY event_type ORDER BY event_type"""

  /** P3 arity filter: keep rows whose text splits into a given token
    * range (the reference keeps exactly-3-field schedule rows). */
  def q11ArityFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("n_tokens", size(tokens($"text")))
      .filter($"n_tokens".between(30, 60))
      .select($"doc_id", $"n_tokens", $"lang")
      .orderBy($"doc_id")
  }

  val q11Oracle: String =
    """SELECT doc_id, len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens, lang
       FROM documents
       WHERE len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) BETWEEN 30 AND 60
       ORDER BY doc_id"""

  /** P11/P12 URL synthesis: strip a row-id prefix with regexp_replace,
    * concat base + suffix variants (the reference's 3 h2h URLs). */
  def q12UrlSynthesis(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val withId = Tables.orders(s, d)
      .filter($"o_orderkey" < 500)
      .withColumn("row_id", concat(lit("g_1_"), $"o_orderkey"))
    val Seq(overall, home, away) =
      RefOps.h2hUrls($"row_id", "https://example.test/match/")
    withId.select($"o_orderkey", $"row_id",
      overall.as("match_url"), home.as("home_url"), away.as("away_url"))
      .orderBy($"o_orderkey")
  }

  val q12Oracle: String =
    """SELECT o_orderkey, 'g_1_' || o_orderkey AS row_id,
       'https://example.test/match/' || regexp_replace('g_1_' || o_orderkey, '^g_1_', '') || '/#/h2h/overall' AS match_url,
       'https://example.test/match/' || regexp_replace('g_1_' || o_orderkey, '^g_1_', '') || '/#/h2h/home' AS home_url,
       'https://example.test/match/' || regexp_replace('g_1_' || o_orderkey, '^g_1_', '') || '/#/h2h/away' AS away_url
       FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""

  /** T6 substring_index head/tail extraction (the minute-before-quote
    * idiom) — first token, last token, first-3-tokens prefix. */
  def q13TokenHeads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        substring_index($"text", " ", 1).as("first_tok"),
        substring_index($"text", " ", -1).as("last_tok"),
        substring_index($"text", " ", 3).as("first3"))
      .orderBy($"doc_id")
  }

  val q13Oracle: String =
    """SELECT doc_id,
       string_split(text, ' ')[1] AS first_tok,
       string_split(text, ' ')[-1] AS last_tok,
       array_to_string(string_split(text, ' ')[1:3], ' ') AS first3
       FROM documents ORDER BY doc_id"""

  /** T7 overtime-minute arithmetic: "45+2" → 47, folded over the split
    * parts; plain minutes pass through. Minute strings synthesized from
    * lineitem so the op runs at fact scale. */
  def q14OvertimeSum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_partkey" < 200)
      .withColumn("minute_raw",
        when($"l_linenumber" > 3,
          concat($"l_linenumber".cast("string"), lit("+"),
            $"l_quantity".cast("int").cast("string")))
          .otherwise($"l_linenumber".cast("string")))
      .select($"l_orderkey", $"l_linenumber", $"minute_raw",
        RefOps.overtimeMinute($"minute_raw").as("minute"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q14Oracle: String =
    """WITH raw AS (
         SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber > 3
                THEN l_linenumber || '+' || CAST(l_quantity AS INT)
                ELSE CAST(l_linenumber AS VARCHAR) END AS minute_raw
         FROM lineitem WHERE l_partkey < 200)
       SELECT l_orderkey, l_linenumber, minute_raw,
         CASE WHEN contains(minute_raw, '+')
              THEN CAST(CAST(split_part(minute_raw,'+',1) AS INT)
                        + CAST(split_part(minute_raw,'+',2) AS INT) AS VARCHAR)
              ELSE minute_raw END AS minute
       FROM raw ORDER BY l_orderkey, l_linenumber"""

  /** T8-style first-match-wins CASE classification (the reference's
    * svg-class keyword dict) over the first document token. */
  def q15KeywordClassify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fw = substring_index($"text", " ", 1)
    Tables.documents(s, d)
      .withColumn("cls",
        when(fw.contains("s") && fw.contains("h"), "s_and_h")
          .when(fw.contains("s"), "s_only")
          .when(fw.contains("a"), "a_ish")
          .when(fw.contains("e"), "e_ish")
          .otherwise("other"))
      .groupBy($"cls", $"lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"cls", $"lang")
  }

  val q15Oracle: String =
    """WITH fw AS (SELECT lang, string_split(text,' ')[1] AS w FROM documents)
       SELECT CASE WHEN contains(w,'s') AND contains(w,'h') THEN 's_and_h'
                   WHEN contains(w,'s') THEN 's_only'
                   WHEN contains(w,'a') THEN 'a_ish'
                   WHEN contains(w,'e') THEN 'e_ish'
                   ELSE 'other' END AS cls,
              lang, count(*) AS n
       FROM fw GROUP BY 1, 2 ORDER BY 1, 2"""

  /** T11/T12 date round-trip: format to the reference's "dd.MM. HH:mm"
    * scrape shape, re-parse with year injection, emit ISO strings. */
  def q16DateRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderkey" < 2000)
      .withColumn("scraped", date_format($"o_orderdate", "dd.MM. HH:mm"))
      .select($"o_orderkey", $"scraped",
        date_format(RefOps.parseScheduleDate($"scraped", 1997),
          "yyyy-MM-dd HH:mm:ss").as("parsed"))
      .orderBy($"o_orderkey")
  }

  val q16Oracle: String =
    """SELECT o_orderkey,
       strftime(o_orderdate, '%d.%m. %H:%M') AS scraped,
       strftime(try_strptime(strftime(o_orderdate, '%d.%m. %H:%M') || '.1997',
                             '%d.%m. %H:%M.%Y'), '%Y-%m-%d %H:%M:%S') AS parsed
       FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"""

  /** T1/T2 split + explode (flatten) → token frequency. The shuffle key
    * is the token — at 100 TB this is the classic skewed-key aggregation;
    * partial aggregation absorbs the skew before the exchange. */
  def q17TokenExplode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 100)
      .orderBy($"token")
  }

  val q17Oracle: String =
    """SELECT token, count(*) AS cnt
       FROM (SELECT unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> '')) AS token
             FROM documents)
       GROUP BY token HAVING count(*) >= 100 ORDER BY token"""

  /** T13 JSON extraction from the events props column + re-aggregation. */
  def q18JsonExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), decSum($"value").as("total_value"))
      .orderBy($"k")
  }

  val q18Oracle: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1 ORDER BY 1"""

  /** A1 group-by-collect: per-user sorted activity multiset, joined to a
    * string for a deterministic cross-engine representation. */
  def q19GroupCollect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(array_join(sort_array(collect_list($"event_type")), ",").as("activities"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  val q19Oracle: String =
    """SELECT user_id,
       array_to_string(list_sort(list(event_type)), ',') AS activities,
       count(*) AS n_events
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** Array-function surface (set algebra over token arrays): intersect,
    * union, except between each document's head-10 and tail-10 token
    * windows, plus the sorted-intersection rendering and a Jaccard
    * score in basis points. All Spark set ops (`array_intersect/union/
    * except`) dedup; the oracle spells the same semantics with
    * list_filter + list_distinct, and both sides sort before rendering
    * so result ORDER inside the arrays is never compared. Docs shorter
    * than 20 tokens are excluded (negative-index slice edge semantics
    * differ across engines; at scale the filter is a scan-local
    * predicate). */
  def q88ArrayOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("tk"))
      .filter(size($"tk") >= 20)
      .select($"doc_id",
        slice($"tk", 1, 10).as("a"), slice($"tk", -10, 10).as("b"))
      .select($"doc_id",
        array_sort(array_intersect($"a", $"b")).as("inter"),
        array_sort(array_union($"a", $"b")).as("uni"),
        array_sort(array_except($"a", $"b")).as("exc"))
      .select($"doc_id",
        size($"inter").cast("long").as("n_inter"),
        size($"uni").cast("long").as("n_union"),
        size($"exc").cast("long").as("n_except"),
        array_join($"inter", " ").as("inter_str"))
      .withColumn("jaccard_bp", expr("n_inter * 10000 div n_union"))
      .orderBy($"doc_id")
  }

  val q88Oracle: String =
    """WITH tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       ab AS (
         SELECT doc_id, tk[1:10] AS a, tk[-10:] AS b
         FROM tk WHERE len(tk) >= 20),
       ops AS (
         SELECT doc_id,
           list_sort(list_distinct(list_filter(a, x -> list_contains(b, x)))) AS inter,
           list_sort(list_distinct(a || b)) AS uni,
           list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))) AS exc
         FROM ab)
       SELECT doc_id,
         CAST(len(inter) AS BIGINT) AS n_inter,
         CAST(len(uni) AS BIGINT) AS n_union,
         CAST(len(exc) AS BIGINT) AS n_except,
         coalesce(array_to_string(inter, ' '), '') AS inter_str,
         len(inter) * 10000 // len(uni) AS jaccard_bp
       FROM ops ORDER BY doc_id"""

  /** Spark 4 VARIANT surface (q279): heterogeneous semi-structured
    * payloads — each event type carries a DIFFERENT JSON shape
    * (purchase: flat amount; click: flat target string; signup: a
    * NESTED profile object; view/error: a code) — parsed once into the
    * binary VariantType and field-extracted with typed
    * `try_variant_get` paths, including a two-level path into the
    * nested shape. Exactly the open-schema ingest problem VARIANT
    * exists for: one column, per-row shape, no schema unification, no
    * per-shape DataFrame split.
    *
    * The oracle never touches JSON: it computes the same aggregates
    * straight from the payload-construction semantics — hash equality
    * proves the JSON→VARIANT→typed-path round trip is value-exact
    * (cents ride a decimal cast, never a raw double). Scale: scan →
    * project (parse_json + extractions are per-row expressions) → one
    * partial-agg groupBy; the variant never shuffles. */
  def q279VariantExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("cents",
        ($"value".cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("js", expr(
        """CASE event_type
             WHEN 'purchase' THEN to_json(named_struct('amount_cents', cents, 'cur', 'usd'))
             WHEN 'click'    THEN to_json(named_struct('target', concat('el-', user_id % 10)))
             WHEN 'signup'   THEN to_json(named_struct('profile', named_struct('plan', concat('p', user_id % 3))))
             ELSE                 to_json(named_struct('code', user_id % 7))
           END"""))
      .withColumn("v", expr("parse_json(js)"))
      .select($"event_type",
        expr("try_variant_get(v, '$.amount_cents', 'bigint')").as("amount"),
        expr("try_variant_get(v, '$.target', 'string')").as("target"),
        expr("try_variant_get(v, '$.profile.plan', 'string')").as("plan"),
        expr("try_variant_get(v, '$.code', 'bigint')").as("code"))
    ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count($"amount").as("n_amount"),
        coalesce(sum($"amount"), lit(0L)).as("amount_cents_total"),
        countDistinct($"target").as("n_targets"),
        countDistinct($"plan").as("n_plans"),
        coalesce(sum($"code"), lit(0L)).as("code_sum"))
      .orderBy($"event_type")
  }

  val q279Oracle: String =
    """WITH ev AS (
         SELECT event_type, user_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       x AS (
         SELECT event_type,
           CASE WHEN event_type = 'purchase' THEN cents END AS amount,
           CASE WHEN event_type = 'click' THEN 'el-' || (user_id % 10) END AS target,
           CASE WHEN event_type = 'signup' THEN 'p' || (user_id % 3) END AS plan,
           CASE WHEN event_type NOT IN ('purchase', 'click', 'signup')
                THEN user_id % 7 END AS code
         FROM ev)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(count(amount) AS BIGINT) AS n_amount,
         CAST(coalesce(sum(amount), 0) AS BIGINT) AS amount_cents_total,
         CAST(count(DISTINCT target) AS BIGINT) AS n_targets,
         CAST(count(DISTINCT plan) AS BIGINT) AS n_plans,
         CAST(coalesce(sum(code), 0) AS BIGINT) AS code_sum
       FROM x GROUP BY event_type ORDER BY event_type"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q279_variant_extract", q279VariantExtract, q279Oracle, NoBound(Structural)),
      Query("q88_array_ops", q88ArrayOps, q88Oracle,
        Hooks(nonEmpty, range("jaccard_bp", 0, 10000))),
      Query("q10_token_blacklist", q10TokenBlacklist, q10Oracle, NoBound(Structural)),
      Query("q11_arity_filter", q11ArityFilter, q11Oracle, NoBound(Structural)),
      Query("q12_url_synthesis", q12UrlSynthesis, q12Oracle, NoBound(Structural)),
      Query("q13_token_heads", q13TokenHeads, q13Oracle, NoBound(Structural)),
      Query("q14_overtime_sum", q14OvertimeSum, q14Oracle, NoBound(Structural)),
      Query("q15_keyword_classify", q15KeywordClassify, q15Oracle, NoBound(Structural)),
      Query("q16_date_roundtrip", q16DateRoundtrip, q16Oracle, NoBound(Structural)),
      Query("q17_token_explode", q17TokenExplode, q17Oracle, NoBound(Structural)),
      Query("q18_json_extract", q18JsonExtract, q18Oracle, NoBound(Structural)),
      Query("q19_group_collect", q19GroupCollect, q19Oracle, NoBound(Structural)),
    )
  }
}
