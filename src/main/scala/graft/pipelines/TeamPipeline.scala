package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{RefOps, TokenParse}

/** The reference's team/h2h pipeline (SURVEY.md §3.1) as one lazy
  * Catalyst plan: schedule fixture → T3 clean-split → P3 arity filter →
  * P11 URL synthesis → T11 date parse → P6 date window → left joins to
  * the h2h token streams (T4 segmentation + P1/P2 filters + T5 parse)
  * and the per-match event rows (T6/T7/T8/T9/T10/A1) → the
  * historic_match sink schema with its five JSON payload columns.
  *
  * The reference enriches by POSITIONAL list alignment (append-in-loop,
  * app/team_utilities.py:441-506); here every enrichment is a key-based
  * left-outer join with coalesce-to-empty-JSON — the reference's
  * "attach empty JSON and continue" failure semantics (:458-465) —
  * which is what makes the plan distributable.
  *
  * Scale notes: per-day schedules are tiny, so the enrichment joins
  * broadcast the parsed payloads; the windows used for segmentation
  * partition by match_url (never a global orderBy).
  */
object TeamPipeline {

  private val EmptyJson = "{}"

  /** T4+P1+P2+T5: token streams → the three parsed form payloads. */
  def parseH2hStreams(h2hTokens: DataFrame): DataFrame = {
    val s = h2hTokens.sparkSession
    import s.implicits._
    val headers = Seq("LAATSTE WEDSTRIJDEN", "HEAD-TO-HEAD")
    val isHeader = !RefOps.containsNone($"tok", headers)
    val byUrl = Window.partitionBy($"match_url").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segmented = h2hTokens
      .select($"match_url", posexplode($"tokens").as(Seq("pos", "tok")))
      .filter(RefOps.notBlacklisted($"tok", Seq("Toon meer wedstrijden"))) // P1
      .withColumn("seg", sum(when(isHeader, 1).otherwise(0)).over(byUrl))
      .filter($"seg".between(1, 3) && !isHeader) // P2: headers dropped (ref :69-71)
    val segArrays = segmented
      .groupBy($"match_url", $"seg")
      .agg(transform(array_sort(collect_list(struct($"pos", $"tok"))),
        x => x.getField("tok")).as("toks"))
    segArrays
      .groupBy($"match_url")
      .agg(
        first(when($"seg" === 1, $"toks"), ignoreNulls = true).as("toks1"),
        first(when($"seg" === 2, $"toks"), ignoreNulls = true).as("toks2"),
        first(when($"seg" === 3, $"toks"), ignoreNulls = true).as("toks3"))
      .select($"match_url",
        to_json(TokenParse.parseTeamUdf(coalesce($"toks1", array())))
          .as("home_team_matches"),
        to_json(TokenParse.parseTeamUdf(coalesce($"toks2", array())))
          .as("away_team_matches"),
        to_json(TokenParse.parseH2hUdf(coalesce($"toks3", array())))
          .as("head2head_matches"))
  }

  /** T6–T10 + A1: per-side event rows → the nested per-match pattern
    * payload {'0': {'team': {...}, 'opponent': {...}}, ...}. */
  def parseMatchDetails(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val activities = Seq("goal", "penalty(missed)", "redcard",
      "red-yellowcard", "substitution", "var", "yellowcard")
    // T9 role resolution (ref :253-258): which DOM side is "the team".
    val role = when($"home_name".contains($"team"),
        when($"css_side" === "home", "team").otherwise("opponent"))
      .otherwise(when($"css_side" === "away", "team").otherwise("opponent"))
    // one exchange, by team page: every aggregation below groups on
    // keys that start with team_url, so each is already clustered
    val classified = events
      .repartition($"team_url")
      .withColumn("minute",
        RefOps.overtimeMinute(RefOps.minuteHead($"minute_raw"))) // T6+T7
      .withColumn("activity", RefOps.classifyEvent($"event_html")) // T8
      .withColumn("role", role)
    // the match header (one value per match) rides along each
    // aggregation instead of a separate groupBy joined back
    val headers = Seq("tournament", "match_date", "home_name", "away_name",
      "match_score").map(h => first(col(h)).as(h))
    val perActivity = classified
      .groupBy($"team_url", $"match_idx", $"role", $"activity")
      .agg(transform(array_sort(collect_list(struct($"row_idx", $"minute"))),
        x => x.getField("minute")).as("minutes"), headers: _*)
    val detailCols = activities.map(a =>
      coalesce(first(when($"activity" === a, $"minutes"), ignoreNulls = true),
        array().cast("array<string>")).as(a))
    val perRole = perActivity
      .groupBy($"team_url", $"match_idx", $"role")
      .agg(detailCols.head, detailCols.tail ++ headers: _*)
    // details dict in the reference's insertion order (ref :284-286)
    val details = struct(
      array($"tournament").as("tournament") +:
        array($"match_date").as("date") +:
        array($"home_name", $"away_name").as("teams") +:
        array($"match_score").as("match_score") +:
        activities.map(a => col(s"`$a`").as(a)): _*)
    perRole
      .groupBy($"team_url", $"match_idx")
      .agg(
        first(when($"role" === "team", details), ignoreNulls = true).as("team"),
        first(when($"role" === "opponent", details), ignoreNulls = true).as("opponent"))
      .groupBy($"team_url")
      .agg(map_from_entries(array_sort(collect_list(
        struct($"match_idx",
          struct($"team", $"opponent"))))).as("detail_map"))
      .select($"team_url",
        to_json(map_from_entries(transform(map_entries($"detail_map"),
          e => struct(e.getField("key").cast("string").as("key"),
            e.getField("value").as("value"))))).as("details_json"))
  }

  /** Full pipeline: schedule fixture → enriched historic_match rows. */
  def run(schedule: DataFrame, h2hTokens: DataFrame, events: DataFrame,
      today: String, tomorrow: String, year: Int = 2023): DataFrame = {
    val s = schedule.sparkSession
    import s.implicits._
    val fields = RefOps.cleanSplit($"raw_text", scrub = Seq("\n-\n-")) // T3
    val Seq(overallUrl, homeUrl, awayUrl) = RefOps.h2hUrls($"row_id")  // P11
    val base = schedule
      .withColumn("fields", fields)
      .filter(size($"fields") === 3) // P3 (ref :418-420)
      .select($"league",
        $"fields".getItem(0).as("raw_date"),
        $"fields".getItem(1).as("hometeam"),
        $"fields".getItem(2).as("awayteam"),
        overallUrl.as("match_urls"), homeUrl.as("home_urls"), awayUrl.as("away_urls"))
      .withColumn("date_ts", RefOps.parseScheduleDate($"raw_date", year)) // T11
      .filter(RefOps.inDateWindow($"date_ts", today, tomorrow)) // P6
    val h2h = parseH2hStreams(h2hTokens)
    val details = parseMatchDetails(events)
    // the two detail joins hit the SAME derived dataset — distinct
    // column names per side avoid the self-join ambiguity
    val homeDetails = details.select($"team_url".as("home_det_url"),
      $"details_json".as("home_team_matchespattern"))
    val awayDetails = details.select($"team_url".as("away_det_url"),
      $"details_json".as("away_team_matchespattern"))
    base
      .join(broadcast(h2h), $"match_urls" === h2h("match_url"), "left_outer")
      .join(broadcast(homeDetails), $"home_urls" === $"home_det_url", "left_outer")
      .join(broadcast(awayDetails), $"away_urls" === $"away_det_url", "left_outer")
      .select(
        date_format($"date_ts", "yyyy-MM-dd HH:mm:ss").as("date"),
        $"hometeam", $"awayteam", $"match_urls", $"home_urls", $"away_urls",
        $"league",
        coalesce($"home_team_matches", lit(EmptyJson)).as("home_team_matches"),
        coalesce($"away_team_matches", lit(EmptyJson)).as("away_team_matches"),
        coalesce($"head2head_matches", lit(EmptyJson)).as("head2head_matches"),
        coalesce($"home_team_matchespattern", lit(EmptyJson)).as("home_team_matchespattern"),
        coalesce($"away_team_matchespattern", lit(EmptyJson)).as("away_team_matchespattern"))
  }
}
