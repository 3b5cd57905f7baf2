package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.RefOps

/** The reference's referee pipeline (SURVEY.md §3.2) as one lazy plan:
  * results-table fixture → P4 non-empty filter → column projection →
  * P5 link filter → P12 URL prefix → W1 forward-fill (the reference's
  * only window function) → T12 date parse → P6 date window → chained
  * left-outer joins for referee link / history links (S5/S6) → per
  * results row, its history details (S7) → T14 header-drop +
  * column-pop → A2 column-major re-bucketing → the ref_historic_match
  * sink schema.
  *
  * NB the reference's salvage-retry loads `today_df` instead of the
  * accumulated `final_dataset` (app/ref_utilities.py:240) — a bug we
  * deliberately do NOT reproduce (SURVEY.md §7.5.3): our union salvage
  * semantics are exercised by q08 (unionByName).
  */
object RefPipeline {

  def run(resultsRows: DataFrame, refereeLinks: DataFrame,
      refHistLinks: DataFrame, refHistRows: DataFrame,
      today: String, tomorrow: String): DataFrame = {
    val s = resultsRows.sparkSession
    import s.implicits._

    val base = resultsRows
      .filter(size($"cells") > 0) // P4 (ref :91-93)
      .select($"league", $"row_idx",
        $"cells".getItem(0).as("date_raw"),
        $"cells".getItem(1).as("time"),
        $"cells".getItem(2).as("hometeam"),
        $"cells".getItem(3).as("score"),
        $"cells".getItem(4).as("awayteam"),
        $"cells".getItem(5).as("result"),
        $"matchlink")
      .filter($"matchlink" =!= "") // P5 (ref :99)
      .withColumn("matchlink",
        concat(lit("https://www.worldfootball.net"), $"matchlink")) // P12
      // W1 ffill in scrape order, partitioned by the scrape unit
      .withColumn("date_filled",
        RefOps.ffill(when($"date_raw" === "", lit(null)).otherwise($"date_raw"),
          Seq($"league"), $"row_idx"))
      .withColumn("date_parsed", RefOps.parseResultsDate($"date_filled")) // T12
      .filter(RefOps.inDateWindow($"date_parsed", today, tomorrow)) // P6

    // S5: matchlink → refereelink ('' when the page had none, ref :127-128)
    val withRef = base
      .join(broadcast(refereeLinks), Seq("matchlink"), "left_outer")
      .withColumn("refereelink", coalesce($"refereelink", lit("")))

    // S6: refereelink → season history links, only 'referee_summary'
    // ones (ref :157), wrapped in the reference's {'1': [...]} shape
    val histLinks = refHistLinks
      .select($"refereelink".as("rl"),
        filter($"hist_links", l => l.contains("referee_summary")).as("links"))
    val withHist = withRef
      .join(broadcast(histLinks), $"refereelink" === $"rl", "left_outer")
      .withColumn("links", coalesce($"links", array().cast("array<string>")))
      .withColumn("referee_matchistlink",
        to_json(map_from_arrays(array(lit("1")), array($"links"))))

    // S7 + T14 + A2, per results row: explode its history links, drop
    // each linked page's header row, pop the 3rd cell, then re-bucket
    // column-major into the 7 named lists in link order then row order
    // (ref :188-195). Keyed on the results row (league, row_idx), so two
    // rows sharing a matchlink each list their own history once; the
    // ffill window's exchange (by league) already clusters that key, so
    // the aggregate plans no exchange and withHist is computed once.
    val detailRows = refHistRows
      .filter($"row_idx" > 0) // T14 header drop (ref :188)
      .select($"hist_link", $"row_idx".as("hist_row"),
        concat(slice($"cells", 1, 2),
          slice($"cells", 4, 5)).as("cells7")) // pop index 2 (ref :189-190)
    val detailKeys = Seq("Date", "Home Team", "Away Team", "Score",
      "Yellow Cards", "Unkown Card", "Red Cards") // sic (ref :173)
    val outCols = Seq("date", "time", "hometeam", "awayteam", "result",
      "matchlink", "league", "refereelink", "referee_matchistlink")
    withHist
      .select($"row_idx",
        date_format($"date_parsed", "yyyy-MM-dd").as("date"),
        $"time", $"hometeam", $"awayteam", $"result", $"matchlink",
        $"league", $"refereelink", $"referee_matchistlink", // P9: score dropped
        posexplode_outer($"links").as(Seq("lpos", "hist_link")))
      .join(detailRows, Seq("hist_link"), "left_outer")
      .groupBy(("row_idx" +: outCols).map(col): _*)
      // collect_list skips nulls but NOT structs with null fields, so
      // wrap: rows from empty link lists / detail-less links vanish.
      .agg(transform(
        array_sort(collect_list(when($"cells7".isNotNull,
          struct($"lpos", $"hist_row", $"cells7")))),
        x => x.getField("cells7")).as("rows7"))
      .select(outCols.map(col) :+
        when(size($"rows7") === 0, lit("{}"))
          .otherwise(to_json(struct(detailKeys.zipWithIndex.map { case (k, i) =>
            transform($"rows7", r => r.getItem(i)).as(k)
          }: _*))).as("referee_matchhistdetails"): _*)
  }
}
