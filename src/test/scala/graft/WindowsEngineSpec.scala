package graft

import org.apache.spark.sql.functions._
import graft.operators.Windows

/** Focused spec for the r15 selection-engine internals
  * ([[Windows.valuesAtRanks]] / [[Windows.valuesAtRanksByKey]] /
  * [[Windows.tileBoundaries]]): the weighted-rank generalization, the
  * per-population start intervals, the adaptive per-level bin sizing,
  * the ADVICE-r14 hardening (null guard, snapshot narrowing) — all
  * against brute-force order statistics on crafted data — and the
  * engine preconditions (bin overflow, negative weights, key bound). */
class WindowsEngineSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force value at weighted rank r: smallest v whose cumulative
    * weight (in v order) reaches r. */
  private def bruteAtRank(vw: Seq[(Long, Long)], r: Long): Long = {
    val sorted = vw.sortBy(_._1)
    var cum = 0L
    sorted.foreach { case (v, w) =>
      cum += w
      if (cum >= r) return v
    }
    sys.error("rank beyond total")
  }

  test("tileBoundaries matches brute-force ntile boundaries (ties, skew, wide domain)") {
    // heavy tie blocks + a far outlier to force multiple narrowing levels
    val vals = Seq.fill(400)(7L) ++ (1L to 300L).map(_ * 13) ++
      Seq.fill(50)(9000000L) ++ Seq(-5000000L, 12345678L)
    val df = vals.toDF("v")
    for (nTiles <- Seq(1, 4, 16)) {
      val tb = Windows.tileBoundaries(df, $"v", Seq(("all", lit(1L))), nTiles)
      val n = vals.size.toLong
      val q = n / nTiles; val r = n % nTiles
      val expect = (1 to nTiles).map { t =>
        bruteAtRank(vals.map(v => (v, 1L)), t * q + math.min(t, r))
      }
      assert(tb.bounds("all").toSeq == expect, s"nTiles=$nTiles")
      assert(tb.counts("all") == n)
      assert(tb.lo == vals.min && tb.hi == vals.max)
    }
  }

  test("tileBoundaries: explicit small bin count still exact (multi-level path)") {
    val vals = (1L to 5000L).map(v => v * v % 999983L)
    val df = vals.toDF("v")
    val tb = Windows.tileBoundaries(df, $"v", Seq(("all", lit(1L))), 8, bins = 7)
    val n = vals.size.toLong; val q = n / 8; val r = n % 8
    val expect = (1 to 8).map(t =>
      bruteAtRank(vals.map(v => (v, 1L)), t * q + math.min(t, r)))
    assert(tb.bounds("all").toSeq == expect)
  }

  test("valuesAtRanks: overlapping populations start at their own intervals") {
    // pop "even" occupies a disjoint low band, pop "all" the full range
    val rows = ((1L to 1000L).map(v => (v, 1L)) ++
      (2000000L to 2000500L).map(v => (v, 0L))).toDF("v", "isLow")
    val tb = Windows.valuesAtRanks(rows, $"v",
      Seq(("low", $"isLow"), ("all", lit(1L))), n => Seq((n + 1) / 2))
    assert(tb.bounds("low")(0) == 500L) // median of 1..1000 at rank 500
    val all = (1L to 1000L) ++ (2000000L to 2000500L)
    assert(tb.bounds("all")(0) == bruteAtRank(all.map(v => (v, 1L)), (all.size + 1L) / 2))
    assert(tb.lo == 1L && tb.hi == 2000500L) // global stays unfiltered
  }

  test("valuesAtRanksByKey: weighted median equals the 2·cum ≥ tot crossing") {
    val data = Seq(
      ("A", 10L, 3L), ("A", 20L, 1L), ("A", 30L, 4L), ("A", 40L, 2L),
      ("B", 5L, 1L), ("B", 6L, 1L),
      ("C", 100L, 7L), ("C", 100L, 5L), ("C", 101L, 1L))
    val df = data.toDF("k", "v", "w")
    val tb = Windows.valuesAtRanksByKey(df, $"v", $"k",
      n => Seq((n + 1) / 2), weight = $"w")
    // brute force per key with the oracle's crossing rule
    data.groupBy(_._1).foreach { case (k, rows) =>
      val tot = rows.map(_._3).sum
      val byV = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      var cum = 0L
      val med = byV.collectFirst {
        case (v, w) if { cum += w; 2 * cum >= tot } => v
      }.get
      assert(tb.bounds(k)(0) == med, s"key=$k")
      assert(tb.counts(k) == tot, s"key=$k")
    }
  }

  test("valuesAtRanksByKey: zero-weight values are never selected") {
    val df = Seq(("A", 1L, 5L), ("A", 2L, 0L), ("A", 3L, 5L))
      .toDF("k", "v", "w")
    val tb = Windows.valuesAtRanksByKey(df, $"v", $"k",
      n => Seq((n + 1) / 2), weight = $"w")
    // rank ⌈10/2⌉ = 5 crosses at v=1 (cum 5 ≥ 5); v=2 carries no weight
    assert(tb.bounds("A")(0) == 1L)
  }

  test("null values fail loudly (ADVICE r14 guard)") {
    val df = Seq(Some(1L), None, Some(3L)).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Windows.valuesAtRanks(df, $"v", Seq(("all", lit(1L))), n => Seq(1L))
    }
    assert(e.getMessage.contains("null"))
  }

  test("valuesAtRanksByKey: bins = 1 fails on the argument, not on convergence (ADVICE r15 #3)") {
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L)).toDF("k", "v")
    Seq(1, -1).foreach { bins =>
      val e = intercept[IllegalArgumentException] {
        Windows.valuesAtRanksByKey(df, $"v", $"k", n => Seq(1L), bins = bins)
      }
      assert(e.getMessage.contains(s"bins=$bins"), e.getMessage)
    }
  }

  test("levelBins: 17 intervals near the int64 headroom edge keep the cell budget (ADVICE r15 #1)") {
    // widest interval the range require admits is ~2·Long.MaxValue/32;
    // 17 × that overflows a product test into a negative "fits"
    val w = Long.MaxValue / 16
    Seq(17, 64).foreach { nIvs =>
      val b = Windows.levelBins(0, nIvs, nIvs, w)
      assert(b != w && b >= 1024L && b <= 16384L, s"nIvs=$nIvs bins=$b")
    }
    assert(Windows.levelBins(0, 2, 2, 1000L) == 1000L) // fits: width-sized
    assert(Windows.levelBins(7, 17, 17, w) == 7L)      // explicit bins win
  }

  test("negative weights fail loudly in both rank engines (ADVICE r15 #2)") {
    val df = Seq(("A", 1L, 2L), ("A", 2L, -1L), ("B", 3L, 1L)).toDF("k", "v", "w")
    val e1 = intercept[IllegalArgumentException] {
      Windows.valuesAtRanks(df, $"v", Seq(("all", lit(1L))), n => Seq(1L), weight = $"w")
    }
    assert(e1.getMessage.contains("negative weight"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Windows.valuesAtRanksByKey(df, $"v", $"k", n => Seq(1L), weight = $"w")
    }
    assert(e2.getMessage.contains("negative weight"), e2.getMessage)
  }

  test("valuesAtRanksByKey: one key past MaxKeyDomain fails on the bound (VERDICT r15 #3)") {
    val df = (0 to Windows.MaxKeyDomain).map(k => (k.toString, k.toLong)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Windows.valuesAtRanksByKey(df, $"v", $"k", n => Seq(1L))
    }
    assert(e.getMessage.contains(s"MaxKeyDomain = ${Windows.MaxKeyDomain}"), e.getMessage)
  }

  test("out-of-range rank fails loudly") {
    val df = Seq(1L, 2L).toDF("v")
    val e = intercept[IllegalArgumentException] {
      Windows.valuesAtRanks(df, $"v", Seq(("all", lit(1L))), n => Seq(n + 1))
    }
    assert(e.getMessage.contains("outside"))
  }
}
