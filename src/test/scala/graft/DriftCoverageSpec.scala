package graft

/** Planted invariants for the wave-3 operators: greedy max-cover
  * source selection (q457), int8 calibration (q458), DP sensitivity
  * (q459), and the monthly schema-drift monitor (q460). */
class DriftCoverageSpec extends SparkSpec {
  import spark.implicits._

  test("q457: greedy picks the big source, then the only marginal one, then saturates") {
    val dir = java.nio.file.Files.createTempDirectory("maxcover").toString
    Seq(
      (1L, "w1 w2 w3 w4 w5", "en", "A", 10L), // grams: 3
      (2L, "w3 w4 w5 w6", "en", "B", 10L), // 2 grams, 1 new vs A
      (3L, "w1 w2 w3", "en", "C", 10L)) // 1 gram, subset of A
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Curation.q457GreedyMaxCover(spark, dir)
      .as[(Long, String, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // universe = 4 gram types; saturation after round 2 → only 2 rows
    assert(got.map(r => (r._1, r._2, r._3, r._4)) ==
      List((1L, "A", 3L, 3L), (2L, "B", 1L, 4L)))
    assert(got.head._5 == 4L && got(1)._6 == 10000L)
  }

  test("q458: percentile calibration trades 2 clipped outliers for a zero-error body") {
    val dir = java.nio.file.Files.createTempDirectory("quant").toString
    val body = Array.fill(499)(0.1f)
    Seq((1L, "a", -1.0f +: body), (2L, "b", 1.0f +: body))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Similarity.q458QuantCalibration(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // minmax: range [-1000, 1000]; the 998 body values land 2 milli off
    val mm = got("minmax")
    assert(mm._2 == 1000L && mm._3 == -1000L && mm._4 == 1000L)
    assert(mm._5 == 3992L && mm._6 == 2L && mm._7 == 0L)
    // pct_1_99: clips to the body's single value — exact there, the two
    // outliers eat 1100/900 error and 20 bp of values are clipped
    val p = got("pct_1_99")
    assert(p._3 == 100L && p._4 == 100L)
    assert(p._5 == 2020000L && p._6 == 1100L && p._7 == 20L)
  }

  test("q459: one hyperactive user sets d_max; capping at p99 clips exactly them") {
    val dir = java.nio.file.Files.createTempDirectory("dpsens").toString
    def ns(m: Int) = (1704067200L + m * 60L) * 1000000000L
    val rows = (1 to 10).map(i =>
      (i.toLong, ns(i), 1L, "view", 1.0, "{}")) ++
      (2 to 100).map(u => (100L + u, ns(u), u.toLong, "view", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Privacy.q459DpSensitivity(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._7) -> r).toMap
    val c1 = got(("count", 1L))
    assert(c1._2 == 100L && c1._3 == 10L && c1._4 == 1L)
    assert(c1._5 == 1L && c1._6 == 825L) // 9 excess of 109 total mass
    assert(c1._8 == 10000000L && c1._9 == 1000000L)
    val s8 = got(("sum_centi", 8L))
    assert(s8._3 == 1000L && s8._4 == 100L)
    assert(s8._8 == 125000000L && s8._9 == 12500000L)
  }

  test("q460: a category minting a new value shows up in that month's new_values") {
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    val m1 = java.sql.Timestamp.valueOf("1995-03-10 00:00:00")
    val m2 = java.sql.Timestamp.valueOf("1995-04-10 00:00:00")
    Seq(
      (1L, 1L, "O", 10.5, m1, "1-URGENT"),
      (2L, 2L, "F", 10.7, m1, "1-URGENT"),
      (3L, 3L, "O", 10.9, m2, "1-URGENT"),
      (4L, 4L, "X", 20.0, m2, "1-URGENT")) // 'X' first seen in month 2
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Quality.q460SchemaDrift(spark, dir)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got((199503L, "o_orderstatus"))._6 == 2L)
    assert(got((199504L, "o_orderstatus"))._6 == 1L) // the minted 'X'
    assert(got((199504L, "o_orderpriority"))._6 == 0L)
    assert(got((199503L, "o_total_dollars")) == ((199503L, "o_total_dollars", 2L, 0L, 1L, 1L)))
    assert(got((199504L, "o_total_dollars")) == ((199504L, "o_total_dollars", 2L, 0L, 2L, 1L)))
  }
}
