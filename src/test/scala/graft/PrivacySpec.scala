package graft

/** Planted mini-schemas for the privacy/compliance family (q447, q448,
  * q452) — class sizes, diversity, and deletion fan-outs small enough
  * to audit on paper. */
class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("q447: classes {3,1} put exactly the singleton at risk for k=2") {
    val dir = java.nio.file.Files.createTempDirectory("kanon").toString
    Seq(
      (1L, "a", 0, 500.0, "AUTOMOBILE"),
      (2L, "b", 0, 600.0, "AUTOMOBILE"), // same (seg, nation, ⌊bal/1000⌋=0)
      (3L, "c", 0, 700.0, "AUTOMOBILE"),
      (4L, "d", 0, 1500.0, "AUTOMOBILE")) // bucket 1 — a singleton class
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = operators.Privacy.q447KAnonymity(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(2L)._2 == 2L && got(2L)._3 == 1L) // 2 classes, min size 1
    assert(got(2L)._4 == 1L && got(2L)._5 == 1L && got(2L)._6 == 2500L)
    assert(got(5L)._4 == 2L && got(5L)._5 == 4L && got(5L)._6 == 10000L)
  }

  test("q448: the ladder generalizes until region-level meets k>=5 and l>=2") {
    val dir = java.nio.file.Files.createTempDirectory("ladder").toString
    // 6 customers, 2 nations of one region, balances in 6 distinct
    // 1000-buckets (L0 singletons), alternating sensitive segments
    Seq(
      (1L, "a", 0, 500.0, "A"), (2L, "b", 0, 1500.0, "B"),
      (3L, "c", 0, 2500.0, "A"), (4L, "d", 1, 3500.0, "B"),
      (5L, "e", 1, 4500.0, "A"), (6L, "f", 1, 9500.0, "B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((0, "N0", 0), (1, "N1", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val got = operators.Privacy.q448GeneralizationLadder(spark, dir)
      .as[(Long, Long, Long, Long, Long, Boolean, Boolean)].collect()
      .sortBy(_._1).toList
    // L0: 6 singleton classes — k_min 1, l_min 1, everything below k=5
    assert(got(0) == ((0L, 6L, 1L, 1L, 10000L, false, false)))
    // L3 (region only): one class of 6 with both segments — the pick
    assert(got(3)._2 == 1L && got(3)._3 == 6L && got(3)._4 == 2L)
    assert(got(3)._6 && got(3)._7)
    // nothing finer meets, so exactly one row is picked
    assert(got.count(_._7) == 1)
  }

  test("q452: deletion fan-out {4,1} rows / {1,0} date-files by hand") {
    val dir = java.nio.file.Files.createTempDirectory("erasure").toString
    Seq((1L, "a", 0, 0.0, "S"), (2L, "b", 0, 0.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, java.sql.Timestamp.valueOf("1995-03-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1), (10L, 2))
      .toDF("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Privacy.q452DeletionCost(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // customer 1: 1 + 1 order + 2 lineitems = 4; customer 2: just itself
    assert(got("rows") == (("rows", 2L, 1L, 4L, 4L, 2500L)))
    assert(got("files_by_date") == (("files_by_date", 2L, 0L, 1L, 1L, 500L)))
  }
}
