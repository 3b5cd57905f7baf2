package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipelines.{Fixtures, RefPipeline, TeamPipeline}

/** Reference-parity pipeline queries (SURVEY.md §3): the two end-to-end
  * pipelines over reference-shaped fixtures (FIXTURES.md §B). Their
  * inputs are the scrape-boundary fixtures, not the driver's parquet
  * tables — so the oracle SQL reconstructs the SAME fixture relations
  * as inline VALUES CTEs and recomputes the pipelines in DuckDB:
  * q61 end to end (it has no UDF anywhere), q60 with exactly ONE
  * pre-materialized piece — the three T5 token-parse payload JSONs per
  * match_url (the engine's only UDF; the oracle contract's escape
  * hatch is scoped to it, and its field-level semantics are pinned
  * independently in TokenParseSpec/PipelineSpec). Everything else —
  * T3 clean-split, P3 arity, P11 URL synthesis, T11/T12 date parses,
  * P6 windowing, W1 ffill, T6/T7 minutes, T8 classification, T9
  * roles, A1/A2 grouping, T14 header/pop, and the exact JSON assembly
  * — is recomputed by DuckDB and hash-compared. The ScalaTest golden
  * suites (`PipelineSpec`) carry field-level parity assertions too.
  */
object Parity extends graft.QueryModule {

  def q60TeamPipeline(s: SparkSession, d: String): DataFrame =
    TeamPipeline.run(
      Fixtures.schedule(s), Fixtures.h2hTokens(s), Fixtures.matchEvents(s),
      Fixtures.Today, Fixtures.Tomorrow)

  def q61RefPipeline(s: SparkSession, d: String): DataFrame =
    RefPipeline.run(
      Fixtures.resultsRows(s), Fixtures.refereeLinks(s),
      Fixtures.refereeHistLinks(s), Fixtures.refereeHistRows(s),
      Fixtures.Today, Fixtures.Tomorrow)

  /** S1 as a DataSource V2 connector (q186): the schedule scan read
    * through [[graft.sources.ScheduleSource]] — filter pushdown on
    * `league` becomes partition pruning inside the connector, column
    * pruning reaches it too (both asserted in `ScheduleSourceSpec`) —
    * then the reference transform chain: T1 newline split, T11 date
    * parse with the hardcoded-year injection, P6 today/tomorrow window.
    * UNLIKE q60/q61 this fixture IS oracle-checked: the source's row
    * formula is closed-form, so the oracle SQL regenerates the
    * identical relation with generate_series and applies the same
    * filters — the driver hash-compares a custom connector end to end. */
  def q186Dsv2Schedule(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.format("graft.sources.ScheduleSource")
      .option("leagues", 6).option("rowsPerLeague", 48).load()
      .filter($"league".isin("league_01", "league_03"))
      .withColumn("f", split($"raw_text", "\n"))
      .select($"league", $"match_idx",
        date_format(to_timestamp(concat(element_at($"f", 1), lit(".2023")),
          "dd.MM. HH:mm.yyyy"), "yyyy-MM-dd HH:mm:ss").as("kickoff"),
        element_at($"f", 2).as("hometeam"),
        element_at($"f", 3).as("awayteam"), $"row_id")
      .filter(to_date($"kickoff").isin(Fixtures.Today, Fixtures.Tomorrow))
      .orderBy($"league", $"match_idx")
  }

  val q186Oracle: String =
    """WITH g AS (
         SELECT i, j FROM generate_series(0, 5) s(i), generate_series(0, 47) t(j)
         WHERE i IN (1, 3)),
       r AS (
         SELECT 'league_' || lpad(CAST(i AS VARCHAR), 2, '0') AS league,
           CAST(j AS BIGINT) AS match_idx,
           DATE '2023-10-28' + CAST((j % 5) - 1 AS INTEGER) AS d,
           10 + (j % 12) AS hr,
           (i*31 + j*7) % 97 AS home,
           ((i*31 + j*7) % 97 + 1 + (i*17 + j*13) % 96) % 97 AS away,
           'g_1_' || i || '_' || j AS row_id
         FROM g)
       SELECT league, match_idx,
         strftime(CAST(d AS TIMESTAMP) + hr * INTERVAL 1 HOUR,
           '%Y-%m-%d %H:%M:%S') AS kickoff,
         'team_' || lpad(CAST(home AS VARCHAR), 2, '0') AS hometeam,
         'team_' || lpad(CAST(away AS VARCHAR), 2, '0') AS awayteam,
         row_id
       FROM r
       WHERE d IN (DATE '2023-10-28', DATE '2023-10-29')
       ORDER BY league, match_idx"""

  val q60Oracle: String =
    """WITH sched(league, raw_text, row_id) AS (VALUES
    ('La Liga', '28.10. 21:00' || chr(10) || 'Real Madrid' || chr(10) || 'Barcelona', 'g_1_abc123'),
    ('La Liga', '29.10. 18:30' || chr(10) || 'Girona' || chr(10) || 'Sevilla', 'g_1_def456'),
    ('La Liga', '15.11. 20:00' || chr(10) || 'Valencia' || chr(10) || 'Betis', 'g_1_zzz999'),
    ('Serie B', '28.10. 14:00' || chr(10) || 'Como' || chr(10) || 'Pisa' || chr(10) || 'extra', 'g_1_bad000'),
    ('Serie B', '28.10. 16:00' || chr(10) || 'Parma' || chr(10) || 'Bari' || chr(10) || '-' || chr(10) || '-', 'g_1_ghi789')),
  -- T5 payloads pre-materialized per the oracle contract's UDF escape
  -- hatch: the parse of the fixture token streams under the reference's
  -- resync semantics (field-level goldens in TokenParseSpec/PipelineSpec)
  h2h(match_url, home_team_matches, away_team_matches, head2head_matches) AS (VALUES
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/overall',
     '{"date":["21.10.","LaLiga"],"league":["LaLiga","Cadiz"],"home_club":["Real Madrid","Real Madrid"],"away_club":["Girona","0"],"home_club_goal":["3","2"],"away_club_goal":["0"]}',
     '{"date":["22.10.","15.10."],"league":["LaLiga","LaLiga"],"home_club":["Barcelona","Granada"],"away_club":["Athletic","Barcelona"],"home_club_goal":["1","2"],"away_club_goal":["0","2"]}',
     '{"date":["01.04.","28.03.2015"],"league":["LaLiga","LaLiga"],"home_club":["Real Madrid","Barcelona"],"away_club":["Barcelona","Real Madrid"],"home_club_goal":["2","1"],"away_club_goal":["1","0"]}'),
    ('https://www.flashscore.nl/wedstrijd/def456/#/h2h/overall',
     '{"date":["20.10."],"league":["LaLiga"],"home_club":["Girona"],"away_club":["Almeria"],"home_club_goal":["5"],"away_club_goal":["2"]}',
     '{"date":["21.10."],"league":["LaLiga"],"home_club":["Sevilla"],"away_club":["Osasuna"],"home_club_goal":["1"],"away_club_goal":["1"]}',
     '{"date":[],"league":[],"home_club":[],"away_club":[],"home_club_goal":[],"away_club_goal":[]}')),
  ev(team_url, team, match_idx, row_idx, css_side, minute_raw, event_html,
     tournament, match_date, home_name, away_name, match_score) AS (VALUES
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/home', 'Real Madrid', 0, 0, 'home',
     '12''' || chr(10) || 'Vinicius', '<div><svg class="soccer-ico something">x</svg></div>',
     'SPANJE: LaLiga', '21.10.2023 16:15', 'Real Madrid', 'Girona', '3-0'),
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/home', 'Real Madrid', 0, 1, 'home',
     '45+2''' || chr(10) || 'Modric', '<div><svg class="yellow-ico something">x</svg></div>',
     'SPANJE: LaLiga', '21.10.2023 16:15', 'Real Madrid', 'Girona', '3-0'),
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/home', 'Real Madrid', 0, 2, 'away',
     '60''' || chr(10) || 'Stuani', '<div><svg class="warning-ico something">x</svg></div>',
     'SPANJE: LaLiga', '21.10.2023 16:15', 'Real Madrid', 'Girona', '3-0'),
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/home', 'Real Madrid', 0, 3, 'away',
     '75''' || chr(10) || 'Blind', '<div><svg class="red-ico something">x</svg></div>',
     'SPANJE: LaLiga', '21.10.2023 16:15', 'Real Madrid', 'Girona', '3-0'),
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/home', 'Real Madrid', 1, 0, 'home',
     '30''' || chr(10) || 'Chris', '<div><svg class="substitution-ico something">x</svg></div>',
     'SPANJE: LaLiga', '14.10.2023 21:00', 'Cadiz', 'Real Madrid', '0-2'),
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/home', 'Real Madrid', 1, 1, 'away',
     '55''' || chr(10) || 'Bellingham', '<div><svg class="var-ico something">x</svg></div>',
     'SPANJE: LaLiga', '14.10.2023 21:00', 'Cadiz', 'Real Madrid', '0-2'),
    ('https://www.flashscore.nl/wedstrijd/abc123/#/h2h/home', 'Real Madrid', 1, 2, 'away',
     '80''' || chr(10) || 'Kroos', '<div><svg class="card-ico something">x</svg></div>',
     'SPANJE: LaLiga', '14.10.2023 21:00', 'Cadiz', 'Real Madrid', '0-2')),
  base0 AS (
    SELECT league,
      string_split(replace(replace(raw_text, chr(10) || '-' || chr(10) || '-', ''), chr(10), ','), ',') AS fields,
      row_id
    FROM sched),
  base1 AS (
    SELECT league, fields[1] AS raw_date, fields[2] AS hometeam, fields[3] AS awayteam,
      'https://www.flashscore.nl/wedstrijd/' || regexp_replace(row_id, '^g_1_', '') AS stem
    FROM base0 WHERE len(fields) = 3),
  base AS (
    SELECT league, hometeam, awayteam,
      stem || '/#/h2h/overall' AS match_urls,
      stem || '/#/h2h/home' AS home_urls,
      stem || '/#/h2h/away' AS away_urls,
      strptime(raw_date || '.2023', '%d.%m. %H:%M.%Y') AS date_ts
    FROM base1
    WHERE CAST(strptime(raw_date || '.2023', '%d.%m. %H:%M.%Y') AS DATE)
      IN (DATE '2023-10-28', DATE '2023-10-29')),
  cls AS (
    SELECT team_url, team, match_idx, row_idx, css_side,
      tournament, match_date, home_name, away_name, match_score,
      (CASE WHEN contains(c, '+')
        THEN CAST(list_sum(list_transform(string_split(c, '+'), x -> CAST(x AS INTEGER))) AS VARCHAR)
        ELSE c END) AS minute,
      (CASE
        WHEN contains(k, 'card') AND NOT contains(k, 'red') AND NOT contains(k, 'yellow') THEN 'red-yellowcard'
        WHEN contains(k, 'red') THEN 'redcard'
        WHEN contains(k, 'soccer') THEN 'goal'
        WHEN contains(k, 'substitution') THEN 'substitution'
        WHEN contains(k, 'var') THEN 'var'
        WHEN contains(k, 'warning') THEN 'penalty(missed)'
        WHEN contains(k, 'yellow') THEN 'yellowcard'
        ELSE 'unknown' END) AS activity,
      (CASE WHEN contains(home_name, team)
        THEN (CASE WHEN css_side = 'home' THEN 'team' ELSE 'opponent' END)
        ELSE (CASE WHEN css_side = 'away' THEN 'team' ELSE 'opponent' END)
      END) AS role
    FROM (SELECT *,
        string_split_regex(replace(minute_raw, chr(10), ''''), '''')[1] AS c,
        regexp_extract(event_html, 'svg class="([^"]+)', 1) AS k
      FROM ev)),
  perrole AS (
    SELECT team_url, match_idx, role,
      any_value(tournament) AS tournament, any_value(match_date) AS match_date,
      any_value(home_name) AS home_name, any_value(away_name) AS away_name,
      any_value(match_score) AS match_score,
      coalesce(list(minute ORDER BY row_idx) FILTER (activity = 'goal'), CAST([] AS VARCHAR[])) AS goal,
      coalesce(list(minute ORDER BY row_idx) FILTER (activity = 'penalty(missed)'), CAST([] AS VARCHAR[])) AS pm,
      coalesce(list(minute ORDER BY row_idx) FILTER (activity = 'redcard'), CAST([] AS VARCHAR[])) AS rc,
      coalesce(list(minute ORDER BY row_idx) FILTER (activity = 'red-yellowcard'), CAST([] AS VARCHAR[])) AS ryc,
      coalesce(list(minute ORDER BY row_idx) FILTER (activity = 'substitution'), CAST([] AS VARCHAR[])) AS sub,
      coalesce(list(minute ORDER BY row_idx) FILTER (activity = 'var'), CAST([] AS VARCHAR[])) AS var,
      coalesce(list(minute ORDER BY row_idx) FILTER (activity = 'yellowcard'), CAST([] AS VARCHAR[])) AS yc
    FROM cls GROUP BY 1, 2, 3),
  rolestruct AS (
    SELECT team_url, match_idx, role,
      struct_pack(
        tournament := [tournament], "date" := [match_date],
        teams := [home_name, away_name], match_score := [match_score],
        goal := goal, "penalty(missed)" := pm, redcard := rc,
        "red-yellowcard" := ryc, substitution := sub, "var" := var,
        yellowcard := yc) AS det
    FROM perrole),
  permatch AS (
    SELECT team_url, match_idx,
      to_json(struct_pack(
        team := list(det) FILTER (role = 'team')[1],
        opponent := list(det) FILTER (role = 'opponent')[1]))::VARCHAR AS pair_json
    FROM rolestruct GROUP BY 1, 2),
  details AS (
    SELECT team_url,
      '{' || string_agg('"' || match_idx || '":' || pair_json, ',' ORDER BY match_idx) || '}' AS details_json
    FROM permatch GROUP BY 1)
  SELECT strftime(b.date_ts, '%Y-%m-%d %H:%M:%S') AS date,
    b.hometeam, b.awayteam, b.match_urls, b.home_urls, b.away_urls, b.league,
    coalesce(h.home_team_matches, '{}') AS home_team_matches,
    coalesce(h.away_team_matches, '{}') AS away_team_matches,
    coalesce(h.head2head_matches, '{}') AS head2head_matches,
    coalesce(dh.details_json, '{}') AS home_team_matchespattern,
    coalesce(da.details_json, '{}') AS away_team_matchespattern
  FROM base b
  LEFT JOIN h2h h ON b.match_urls = h.match_url
  LEFT JOIN details dh ON b.home_urls = dh.team_url
  LEFT JOIN details da ON b.away_urls = da.team_url"""

  val q61Oracle: String =
    """WITH rr(league, row_idx, cells, matchlink) AS (VALUES
    ('Premier League', 0, ['28/10/2023','15:00','Arsenal','2:1','Chelsea','2:1'], '/report/arsenal-chelsea/'),
    ('Premier League', 1, CAST([] AS VARCHAR[]), ''),
    ('Premier League', 2, ['','17:30','Liverpool','1:1','Everton','1:1'], '/report/liverpool-everton/'),
    ('Premier League', 3, ['','20:00','Wolves','0:3','City','0:3'], ''),
    ('Premier League', 4, ['29/10/2023','14:00','Spurs','1:0','Villa','1:0'], '/report/spurs-villa/'),
    ('Premier League', 5, ['15/11/2023','19:45','Brighton','2:2','Fulham','2:2'], '/report/brighton-fulham/')),
  rl(matchlink, refereelink) AS (VALUES
    ('https://www.worldfootball.net/report/arsenal-chelsea/',
     'https://www.worldfootball.net/referee_summary/taylor/'),
    ('https://www.worldfootball.net/report/spurs-villa/',
     'https://www.worldfootball.net/referee_summary/oliver/')),
  hl(refereelink, hist_links) AS (VALUES
    ('https://www.worldfootball.net/referee_summary/taylor/',
     ['https://www.worldfootball.net/referee_summary/taylor/2022-2023/',
      'https://www.worldfootball.net/not_a_summary/taylor/x/']),
    ('https://www.worldfootball.net/referee_summary/oliver/',
     CAST([] AS VARCHAR[]))),
  hr(hist_link, row_idx, cells) AS (VALUES
    ('https://www.worldfootball.net/referee_summary/taylor/2022-2023/', 0,
     ['Date','Home','drop','Away','Score','Yellow','Unknown','Red']),
    ('https://www.worldfootball.net/referee_summary/taylor/2022-2023/', 1,
     ['01/10/2022','Leeds','x','Derby','1:0','3','0','1']),
    ('https://www.worldfootball.net/referee_summary/taylor/2022-2023/', 2,
     ['08/10/2022','Stoke','x','Hull','2:2','5','1','0'])),
  base0 AS (
    SELECT league, row_idx,
      cells[1] AS date_raw, cells[2] AS time, cells[3] AS hometeam,
      cells[5] AS awayteam, cells[6] AS result,
      'https://www.worldfootball.net' || matchlink AS matchlink
    FROM rr WHERE len(cells) > 0 AND matchlink <> ''),
  ff AS (
    SELECT *, last_value(nullif(date_raw, '') IGNORE NULLS) OVER (
        PARTITION BY league ORDER BY row_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS date_filled
    FROM base0),
  win AS (
    SELECT *, strptime(date_filled, '%d/%m/%Y') AS date_parsed
    FROM ff
    WHERE CAST(strptime(date_filled, '%d/%m/%Y') AS DATE)
      IN (DATE '2023-10-28', DATE '2023-10-29')),
  withref AS (
    SELECT w.*, coalesce(rl.refereelink, '') AS refereelink
    FROM win w LEFT JOIN rl USING (matchlink)),
  hlf AS (
    SELECT refereelink AS rlk,
      list_filter(hist_links, l -> contains(l, 'referee_summary')) AS links
    FROM hl),
  withhist AS (
    SELECT w.*, coalesce(h.links, CAST([] AS VARCHAR[])) AS links,
      to_json(MAP {'1': coalesce(h.links, CAST([] AS VARCHAR[]))})::VARCHAR
        AS referee_matchistlink
    FROM withref w LEFT JOIN hlf h ON w.refereelink = h.rlk),
  dr AS (
    SELECT hist_link, row_idx,
      cells[1:2] || cells[4:8] AS cells7
    FROM hr WHERE row_idx > 0),
  exploded AS (
    SELECT w.league, w.row_idx, u.lpos, u.hist_link
    FROM withhist w
    LEFT JOIN LATERAL (SELECT unnest(w.links) AS hist_link,
                        generate_subscripts(w.links, 1) AS lpos) u ON TRUE),
  joined AS (
    SELECT e.league, e.row_idx, e.lpos, d.row_idx AS hist_row, d.cells7
    FROM exploded e LEFT JOIN dr d USING (hist_link)),
  coll AS (
    SELECT league, row_idx,
      list(cells7 ORDER BY lpos, hist_row)
        FILTER (WHERE cells7 IS NOT NULL) AS rows7
    FROM joined GROUP BY league, row_idx),
  det AS (
    SELECT league, row_idx,
      CASE WHEN rows7 IS NULL OR len(rows7) = 0 THEN '{}'
        ELSE to_json(struct_pack(
          "Date" := list_transform(rows7, r -> r[1]),
          "Home Team" := list_transform(rows7, r -> r[2]),
          "Away Team" := list_transform(rows7, r -> r[3]),
          "Score" := list_transform(rows7, r -> r[4]),
          "Yellow Cards" := list_transform(rows7, r -> r[5]),
          "Unkown Card" := list_transform(rows7, r -> r[6]),
          "Red Cards" := list_transform(rows7, r -> r[7])))::VARCHAR
      END AS referee_matchhistdetails
    FROM coll)
  SELECT strftime(w.date_parsed, '%Y-%m-%d') AS date,
    w.time, w.hometeam, w.awayteam, w.result, w.matchlink, w.league,
    w.refereelink, w.referee_matchistlink,
    coalesce(d.referee_matchhistdetails, '{}') AS referee_matchhistdetails
  FROM withhist w LEFT JOIN det d USING (league, row_idx)"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q186_dsv2_schedule", q186Dsv2Schedule, q186Oracle, NoBound(Structural)),
      Query("q60_team_pipeline", q60TeamPipeline, q60Oracle, NoBound(Structural)),
      Query("q61_ref_pipeline", q61RefPipeline, q61Oracle, NoBound(Structural)),
    )
  }

  /** q186's connector rows are SQL-regenerable; q60/q61 recompute the
    * fixture pipelines from inline VALUES (see object scaladoc). */
}
