package graft

/** The value-sanity layer must actually be able to go red: these are
  * the crafted-garbage cases the oracle hash compare cannot catch. */
class SanitySpec extends SparkSpec {
  import spark.implicits._

  test("range catches the q489-class magnitude slip and passes sane values") {
    // acc_micro inflated 1000× — the exact historical bug
    val bad = Seq((1L, 585000000L)).toDF("n_judges", "acc_micro")
    val v = Sanity.run("qx", bad, Seq(Sanity.range("acc_micro", 0, 1000000)))
    assert(v.size == 1 && v.head.contains("out of"))
    val good = Seq((1L, 585000L)).toDF("n_judges", "acc_micro")
    assert(Sanity.run("qx", good, Seq(Sanity.range("acc_micro", 0, 1000000))).isEmpty)
    // expression columns work (derived invariants like wins ≤ games)
    val mono = Seq((10L, 12L)).toDF("games", "wins")
    assert(Sanity.run("qx", mono,
      Seq(Sanity.range("games - wins", 0, 100))).nonEmpty)
  }

  test("nonEmpty flags the silently-empty result the hash compare passes") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Sanity.run("qx", empty, Seq(Sanity.nonEmpty)).nonEmpty)
    assert(Sanity.run("qx", Seq((1L, 2L)).toDF("a", "b"),
      Seq(Sanity.nonEmpty)).isEmpty)
  }

  test("groupSum checks a probability partition per group") {
    val theta = Seq(
      (0L, "A", "A", 600L), (0L, "A", "B", 399L),  // sums to 999: fine
      (1L, "A", "A", 600L), (1L, "A", "B", 600L)   // sums to 1200: broken
    ).toDF("rater", "true_label", "said_label", "theta2_milli")
    val v = Sanity.run("qx", theta,
      Seq(Sanity.groupSum(Seq("rater", "true_label"), "theta2_milli", 997, 1000)))
    assert(v.size == 1 && v.head.contains("1200"))
  }

  test("a missing declared column is a violation, not a silent pass") {
    val df = Seq((1L, 2L)).toDF("a", "b")
    assert(Sanity.run("qx", df, Seq(Sanity.range("zz", 0, 1))).nonEmpty)
    assert(Sanity.run("qx", df,
      Seq(Sanity.groupSum(Seq("zz"), "a", 0, 1))).nonEmpty)
  }

  test("atLeast floors go red below the floor and skip all-null") {
    val df = Seq((999L, 1L)).toDF("qerr_milli", "x")
    assert(Sanity.run("qx", df,
      Seq(Sanity.atLeast("qerr_milli", 1000))).nonEmpty)
    assert(Sanity.run("qx", Seq((1000L, 1L)).toDF("qerr_milli", "x"),
      Seq(Sanity.atLeast("qerr_milli", 1000))).isEmpty)
    // NULL-sentinel expression rows are skipped, not violations
    assert(Sanity.run("qx", Seq((-1L, 1L)).toDF("ks_milli", "x"),
      Seq(Sanity.range("CASE WHEN ks_milli >= 0 THEN ks_milli END", 0, 1000)))
      .isEmpty)
  }
}
