package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** q113 last-touch attribution, q114 transition matrix, q115 source
  * entropy/KL — invariant and brute-force cross-checks. */
class BehaviorSpec extends SparkSpec {
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  test("q113: attribution equals the brute-force window formulation") {
    val got = operators.Behavior.q113Attribution(spark, d)
    // brute force: max click ts at-or-before each purchase via a
    // window over the unioned, user-partitioned stream
    val ev = graft.io.Tables.events(spark, d)
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"is_p", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val brute = ev.filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_id", $"ts", $"value",
        unix_micros($"ts").as("us"),
        when($"event_type" === "purchase", 1).otherwise(0).as("is_p"))
      // clicks sort before purchases at equal ts (is_p asc) — matches
      // the as-of join's at-or-before semantics
      .withColumn("last_click_us",
        max(when($"is_p" === 0, $"us")).over(byUser))
      .filter($"is_p" === 1)
      .withColumn("attributed",
        $"last_click_us".isNotNull && ($"us" - $"last_click_us" <= 3600000000L))
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when($"attributed", 1L).otherwise(0L)).as("n_attributed"),
        coalesce(sum(when($"attributed", $"value").cast("decimal(18,2)")),
          lit(0).cast("decimal(18,2)")).cast("double").as("attributed_value"))
      .orderBy($"day")
    assert(got.collect().toSeq == brute.collect().toSeq)
  }

  test("q114: transition counts cover all consecutive pairs; ppm is a row distribution") {
    val got = operators.Behavior.q114Transitions(spark, d).collect()
    val nEvents = graft.io.Tables.events(spark, d).count()
    val nUsers = graft.io.Tables.events(spark, d).select($"user_id").distinct().count()
    // every user contributes (events-1) transitions
    assert(got.map(_.getAs[Long]("n")).sum == nEvents - nUsers)
    // per-src: totals consistent, ppm near 1e6 (floor dust < cells)
    got.groupBy(_.getAs[String]("src")).foreach { case (_, rows) =>
      val tot = rows.head.getAs[Long]("src_total")
      assert(rows.map(_.getAs[Long]("n")).sum == tot)
      val ppm = rows.map(_.getAs[Long]("p_ppm")).sum
      assert(ppm <= 1000000L && ppm > 1000000L - rows.length,
        s"ppm row sum $ppm over ${rows.length} cells")
    }
  }

  test("q121: every flag matches a brute-force trailing-window z-test") {
    val got = operators.Windows.q121Anomalies(spark, d).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
    val evs = graft.io.Tables.events(spark, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        floor($"value" * 1000).cast("long").as("vm"))
      .as[(Long, Long, Long, Long)].collect()
    // .toSeq before flatMap: flatMapping a Map with tuple results would
    // re-key by user and keep one flag per user
    val brute = evs.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ord = rows.sortBy(r => (r._3, r._2))
      ord.indices.filter(_ >= 9).flatMap { i =>
        val win = ord.slice(i - 9, i + 1).map(_._4)
        val (n, sx, sxx) = (10L, win.sum, win.map(v => v * v).sum)
        val x = ord(i)._4
        if ((n * x - sx) * (n * x - sx) > 4L * (n * sxx - sx * sx))
          Some((u, ord(i)._2)) else None
      }
    }.toSet
    assert(got == brute, s"${got.size} flagged vs brute ${brute.size}")
    assert(got.nonEmpty)
  }

  test("q122: cells cover the corpus; majority and purity are consistent") {
    val got = operators.Similarity.q122PseudoLabels(spark, d).collect()
    val nVecs = graft.io.Tables.embeddings(spark, d).count()
    assert(got.map(_.getAs[Long]("n_members")).sum == nVecs)
    got.foreach { r =>
      val (nm, nj) = (r.getAs[Long]("n_members"), r.getAs[Long]("n_major"))
      assert(nj >= 1 && nj <= nm)
      assert(r.getAs[Long]("purity_bp") == 10000L * nj / nm)
      assert(r.getAs[Long]("major_label") >= 0)
    }
  }

  test("q125: prediction is the argmax row of the q114 matrix; accuracy beats uniform") {
    val matrix = operators.Behavior.q114Transitions(spark, d).collect()
      .groupBy(_.getAs[String]("src"))
    val got = operators.Behavior.q125NextEventBaseline(spark, d).collect()
    assert(got.length == matrix.size)
    got.foreach { r =>
      val rows = matrix(r.getAs[String]("src"))
      val best = rows.maxBy(x => (x.getAs[Long]("n"), -x.getAs[String]("dst").hashCode))
      val bestN = rows.map(_.getAs[Long]("n")).max
      assert(r.getAs[Long]("n_correct") == bestN)
      assert(rows.filter(_.getAs[Long]("n") == bestN)
        .map(_.getAs[String]("dst")).min == r.getAs[String]("predicted_dst"))
      // majority-class accuracy is at least the uniform baseline
      assert(r.getAs[Long]("acc_ppm") >= 1000000L / rows.length)
      assert(best.getAs[Long]("n") == bestN)
    }
  }

  test("q115: entropy bounded by ln(n_terms); KL small vs own corpus; identical sources ⇒ near-zero KL") {
    val got = operators.Corpus.q115SourceEntropy(spark, d).collect()
    assert(got.length > 0)
    got.foreach { r =>
      val h = r.getAs[Long]("entropy_micro")
      val hMax = (math.log(r.getAs[Long]("n_terms").toDouble) * 1e6).toLong
      assert(h >= 0 && h <= hMax + 1, s"entropy out of range: $r (max $hMax)")
      // KL ≥ -1 micro-floor dust; generated sources share one unigram
      // model, so KL to the corpus stays far below entropy
      val kl = r.getAs[Long]("kl_micro")
      assert(kl >= -1000000L && kl < h + 1000000L, s"KL implausible: $r")
    }
  }

  test("q128: PSI is nonnegative, and a planted shift drifts while a stable type does not") {
    // every true PSI term (p−q)·ln(p/q) is ≥ 0, and floor keeps it so
    operators.Behavior.q128PsiDrift(spark, d).collect().foreach { r =>
      assert(r.getAs[Long]("psi_micro") >= 0L, s"negative PSI: $r")
    }
    // crafted corpus: type "x" moves bin 0 → bin 9 between the weeks,
    // type "y" stays put (ts written as raw nanos — Tables.events
    // floors any INT64 ts to µs the same way it does TIMESTAMP(NANOS))
    val jan2ns = 1704153600L * 1000000000L
    val jan25ns = 1706140800L * 1000000000L
    val rows = (0 until 100).flatMap { i =>
      Seq(
        (i * 4L, jan2ns + i * 1000000000L, i.toLong, "x", 10.0, "{}"),
        (i * 4L + 1, jan25ns + i * 1000000000L, i.toLong, "x", 480.0, "{}"),
        (i * 4L + 2, jan2ns + i * 1000000000L, i.toLong, "y", 10.0, "{}"),
        (i * 4L + 3, jan25ns + i * 1000000000L, i.toLong, "y", 10.0, "{}"))
    }
    val dir = java.nio.file.Files.createTempDirectory("psi").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Behavior.q128PsiDrift(spark, dir)
      .select($"event_type", $"drifted").as[(String, Boolean)].collect().toMap
    assert(got("x") && !got("y"), s"drift flags wrong: $got")
  }

  test("q156: truncated-EWMA score matches a direct dense recomputation") {
    val out = operators.Windows.q156Ewma(spark, d)
      .as[(String, java.sql.Date, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val types = out.map(_._1).distinct
    // every type covers the same dense day range (the spine)
    val dayCounts = types.map(t => out.count(_._1 == t)).distinct
    assert(dayCounts.length == 1, s"ragged spine: $dayCounts")
    types.foreach { t =>
      val series = out.filter(_._1 == t).sortBy(_._2.getTime)
      val n = series.map(_._3)
      series.indices.foreach { i =>
        val want = (0 to 7).map(j =>
          if (i - j >= 0) n(i - j) << (7 - j) else 0L).sum
        assert(series(i)._4 == want,
          s"$t day ${series(i)._2}: score ${series(i)._4} != $want")
        assert(series(i)._5 == want * 1000 / 255)
      }
    }
  }

  test("q183: ISO dows partition the calendar; indexes average to par") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q183WeekdaySeasonality(spark, d).collect()
    assert(got.map(_.getAs[Long]("dow")).toSeq == (1L to 7L))
    val dTot = got.map(_.getAs[Long]("n_days")).sum
    val nTot = got.map(_.getAs[Long]("n_orders")).sum
    // weighted mean of the volume index is par (10000) up to floor loss
    val wmean = got.map(r => r.getAs[Long]("n_days") * r.getAs[Long]("vol_idx_bp")).sum / dTot
    assert(wmean <= 10000L && wmean >= 9993L, s"weighted mean $wmean")
    // direct recompute of one row
    val r = got.head
    val want = math.floor(r.getAs[Long]("n_orders") * dTot * 10000.0 /
      (r.getAs[Long]("n_days") * nTot)).toLong
    assert(r.getAs[Long]("vol_idx_bp") == want)
  }

  test("q185: first 12 months have no comparable; growth recomputes exactly") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q185YoyGrowth(spark, d).collect()
    assert(got.length >= 24, "need at least two years of months")
    // months ascend and the first 12 lack a year-ago comparable
    val yms = got.map(_.getAs[Long]("ym"))
    assert(yms.sameElements(yms.sorted))
    got.take(12).foreach(r => assert(r.isNullAt(r.fieldIndex("yoy_bp"))))
    got.drop(12).foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("rev_prev")))
      val want = math.floor((r.getAs[Long]("rev") - r.getAs[Long]("rev_prev")) *
        10000.0 / r.getAs[Long]("rev_prev")).toLong
      assert(r.getAs[Long]("yoy_bp") == want)
    }
    // lag-12 really is the same calendar month one year earlier
    val revByYm = got.map(r => r.getAs[Long]("ym") -> r.getAs[Long]("rev")).toMap
    got.drop(12).foreach { r =>
      val prevYm = r.getAs[Long]("ym") - 100
      assert(revByYm.get(prevYm).contains(r.getAs[Long]("rev_prev")),
        s"ym ${r.getAs[Long]("ym")}: lag-12 is not $prevYm")
    }
  }

  test("q187: bag-op multiplicities are max(0,a-b) and min(a,b) of slice counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    def counts(lo: String, hi: String) = graft.io.Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= lit(lo).cast("timestamp") &&
        $"l_shipdate" < lit(hi).cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus", $"l_quantity".cast("long"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val a = counts("1997-01-01", "1997-02-01")
    val b = counts("1997-02-01", "1997-03-01")
    val got = operators.Relational.q187BagSetOps(spark, d).collect()
    assert(got.nonEmpty)
    val byOp = got.groupBy(_.getAs[String]("op"))
    byOp("except_all").foreach { r =>
      val k = (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"),
        r.getAs[Long]("qty"))
      assert(r.getAs[Long]("multiplicity") ==
        math.max(0L, a.getOrElse(k, 0L) - b.getOrElse(k, 0L)), s"except at $k")
    }
    byOp("intersect_all").foreach { r =>
      val k = (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"),
        r.getAs[Long]("qty"))
      assert(r.getAs[Long]("multiplicity") ==
        math.min(a.getOrElse(k, 0L), b.getOrElse(k, 0L)), s"intersect at $k")
    }
    // completeness: every tuple with a-b>0 appears in except_all
    val missing = a.filter { case (k, c) => c > b.getOrElse(k, 0L) }.keySet --
      byOp("except_all").map(r => (r.getAs[String]("l_returnflag"),
        r.getAs[String]("l_linestatus"), r.getAs[Long]("qty"))).toSet
    assert(missing.isEmpty, s"except_all dropped: ${missing.take(3)}")
  }

  test("q190: growth recomputes from direct window counts; ordered; capped") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q190Trending(spark, d).collect()
    assert(got.nonEmpty && got.length <= 20)
    val gs = got.map(_.getAs[Long]("growth_bp"))
    assert(gs.sameElements(gs.sorted.reverse), "not growth-ordered")
    got.foreach { r =>
      assert(r.getAs[Long]("cnt_prior") >= 2L)
      assert(r.getAs[Long]("growth_bp") ==
        math.floor((r.getAs[Long]("cnt_recent") - r.getAs[Long]("cnt_prior")) *
          10000.0 / r.getAs[Long]("cnt_prior")).toLong)
    }
  }

  test("q195: closed window form equals the sequential CUSUM recursion") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q195Cusum(spark, d).collect()
    assert(got.nonEmpty)
    val xs = got.map(_.getAs[Long]("x"))
    val n = xs.length
    val m = xs.sum / n
    val k = m / 50
    var (sUp, sDn) = (0L, 0L)
    got.zipWithIndex.foreach { case (r, i) =>
      sUp = math.max(0L, sUp + xs(i) - m - k)
      sDn = math.max(0L, sDn + m - xs(i) - k)
      assert(r.getAs[Long]("s_up") == sUp, s"s_up diverges at row $i")
      assert(r.getAs[Long]("s_dn") == sDn, s"s_dn diverges at row $i")
      assert(r.getAs[Long]("drift_up") == (if (sUp > m * 2) 1L else 0L))
      assert(r.getAs[Long]("drift_dn") == (if (sDn > m * 2) 1L else 0L))
    }
  }

  test("q189: percentiles monotone; conversion count matches direct query") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = operators.Behavior.q189FunnelLatency(spark, d).collect().head
    val (p50, p90, p99, mx) = (r.getAs[Long]("p50_min"), r.getAs[Long]("p90_min"),
      r.getAs[Long]("p99_min"), r.getAs[Long]("max_min"))
    assert(p50 <= p90 && p90 <= p99 && p99 <= mx)
    assert(r.getAs[Long]("n_conversions") > 0L)
    // direct: users whose first view precedes some purchase
    val ev = graft.io.Tables.events(spark, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val fv = ev.filter($"event_type" === "view").groupBy($"user_id")
      .agg(min($"us").as("v_us"))
    val n = fv.join(ev.filter($"event_type" === "purchase"), "user_id")
      .filter($"us" > $"v_us").select($"user_id").distinct().count()
    assert(r.getAs[Long]("n_conversions") == n)
  }

  test("q188: weighted-Jaccard bounds hold and one pair recomputes exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Dedup.q188WeightedJaccard(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (iw, w1, w2) = (r.getAs[Long]("inter_w"), r.getAs[Long]("w1"), r.getAs[Long]("w2"))
      assert(iw <= math.min(w1, w2), s"intersection exceeds a side: $r")
      val bp = r.getAs[Long]("wj_bp")
      assert(bp >= 500L && bp <= 10000L)
      assert(bp == math.floor(iw * 10000.0 / (w1 + w2 - iw)).toLong)
    }
    // full recompute of the first reported pair from raw shingles + idf
    val first = got.head
    val shs = graft.io.Tables.documents(spark, d)
      .select($"doc_id", graft.functions.TextExprs.shingle_hashes($"text", 3, 15).as("shs"))
      .filter(size($"shs") > 0)
      .as[(Long, Seq[Long])].collect().toMap
    val n = shs.size
    val df = shs.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    def w(sh: Long): Long = math.floor(math.log(n * 1.0 / df(sh)) * 1000000.0).toLong
    val (aSet, bSet) = (shs(first.getAs[Long]("doc1")).toSet, shs(first.getAs[Long]("doc2")).toSet)
    val iw = (aSet & bSet).toSeq.map(w).sum
    assert(first.getAs[Long]("inter_w") == iw)
    assert(first.getAs[Long]("w1") == aSet.toSeq.map(w).sum)
    assert(first.getAs[Long]("w2") == bSet.toSeq.map(w).sum)
  }

  test("q192: centered frame covers <=7 calendar days and recomputes directly") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q192CenteredMa(spark, d).collect()
    assert(got.nonEmpty)
    val byDay = got.map(r => r.getDate(0).toLocalDate -> r.getAs[Long]("x")).toMap
    got.foreach { r =>
      val n = r.getAs[Long]("frame_n")
      assert(n >= 1L && n <= 7L)
      assert(r.getAs[Long]("ma") == r.getAs[Long]("frame_sum") / n)
      // direct recompute over the ±3 calendar-day neighborhood
      val day = r.getDate(0).toLocalDate
      val neigh = (-3 to 3).flatMap(o => byDay.get(day.plusDays(o.toLong)))
      assert(neigh.size.toLong == n, s"$day: frame_n $n != ${neigh.size}")
      assert(neigh.sum == r.getAs[Long]("frame_sum"))
    }
  }

  test("q182: triples canonical, above minsup, and equal to brute-force counts") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q182AprioriTriples(spark, d).collect()
    assert(got.nonEmpty)
    val nB = got.head.getAs[Long]("n_baskets")
    got.foreach { r =>
      val (b1, b2, b3) = (r.getAs[String]("b1"), r.getAs[String]("b2"), r.getAs[String]("b3"))
      assert(b1 < b2 && b2 < b3, s"not canonical: $r")
      assert(r.getAs[Long]("support") * 1000 >= 3 * nB)
    }
    // brute force over collected baskets
    val baskets = graft.io.Tables.lineitem(spark, d)
      .join(graft.io.Tables.part(spark, d), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct()
      .as[(Long, String)].collect()
      .groupBy(_._1).map { case (_, v) => v.map(_._2).sorted.toVector }
    assert(nB == baskets.size)
    val counts = scala.collection.mutable.Map[(String, String, String), Long]()
    baskets.foreach { bs =>
      for (i <- bs.indices; j <- (i + 1) until bs.size; k <- (j + 1) until bs.size)
        counts((bs(i), bs(j), bs(k))) = counts.getOrElse((bs(i), bs(j), bs(k)), 0L) + 1
    }
    val want = counts.filter { case (_, c) => c * 1000 >= 3 * nB }
    assert(got.length == want.size,
      s"row count ${got.length} != brute-force ${want.size}")
    got.foreach { r =>
      val key = (r.getAs[String]("b1"), r.getAs[String]("b2"), r.getAs[String]("b3"))
      assert(want(key) == r.getAs[Long]("support"), s"support mismatch at $key")
    }
  }

  test("q230: attribution conserves value up to rounding dust; roles match replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q230PositionAttribution(spark, d).collect()
      .map(r => r.getAs[String]("role") ->
        (r.getAs[Long]("n_touches"), r.getAs[Long]("attributed_cents"))).toMap
    assert(got.contains("only") || got.contains("first"))
    // brute-force replay
    val evs = graft.io.Tables.events(spark, d)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts"),
        ($"value".cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, Long, String, Long, Long)].collect()
    val clicks = evs.filter(_._3 == "click")
    val purch = evs.filter(_._3 == "purchase")
    var roles = Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    var unattN = 0L; var unattV = 0L
    purch.foreach { case (u, _, _, pus, v) =>
      val js = clicks.filter(c => c._1 == u && c._4 <= pus &&
        c._4 > pus - 86400000000L).sortBy(c => (c._4, c._2))
      val n = js.length
      if (n == 0) { unattN += 1; unattV += v }
      else js.zipWithIndex.foreach { case (_, i) =>
        val (role, w) =
          if (n == 1) ("only", 1000000L)
          else if (n == 2) (if (i == 0) "first" else "last", 500000L)
          else if (i == 0) ("first", 400000L)
          else if (i == n - 1) ("last", 400000L)
          else ("middle", 200000L / (n - 2))
        val (cn, cv) = roles(role)
        roles += role -> (cn + 1, cv + v * w / 1000000L)
      }
    }
    roles.foreach { case (role, want) =>
      assert(got(role) == want, s"$role: ${got(role)} != $want")
    }
    assert(got("unattributed") == (unattN, unattV))
    // conservation: attributed never exceeds total purchase value
    val totalV = purch.map(_._5).sum
    assert(got.values.map(_._2).sum <= totalV)
  }

  test("q228: vote buckets partition users; flags fire only at >=2 votes") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q228BotVote(spark, d).collect()
    assert(got.length > 1, "thresholds should split this corpus")
    val nUsers = graft.io.Tables.events(spark, d)
      .select("user_id").distinct().count()
    assert(got.map(_.getAs[Long]("n_users")).sum == nUsers)
    got.foreach { r =>
      val v = r.getAs[Long]("votes")
      assert(v >= 0L && v <= 3L)
      assert(r.getAs[Long]("flagged") == (if (v >= 2) 1L else 0L))
      // component votes within a bucket cannot exceed users-in-bucket,
      // and their sum equals votes * n_users (each user in the bucket
      // has exactly `votes` raised flags)
      val comp = r.getAs[Long]("n_regular") + r.getAs[Long]("n_rate") +
        r.getAs[Long]("n_volume")
      assert(comp == v * r.getAs[Long]("n_users"))
    }
  }

  test("q226: RFM codes are valid; customer total reconciles; quintiles balanced") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q226RfmSegments(spark, d).collect()
    assert(got.nonEmpty)
    val nCust = graft.io.Tables.orders(spark, d)
      .select("o_custkey").distinct().count()
    assert(got.map(_.getAs[Long]("n_cust")).sum == nCust)
    got.foreach { r =>
      val seg = r.getAs[Long]("segment")
      val (rq, fq, mq) = (seg / 100, seg / 10 % 10, seg % 10)
      assert(rq >= 1 && rq <= 5 && fq >= 1 && fq <= 5 && mq >= 1 && mq <= 5,
        s"invalid segment code $seg")
      assert(r.getAs[Long]("avg_f") >= 1L)
    }
    // each R quintile holds ~1/5 of customers (ntile balance)
    val byR = got.groupBy(_.getAs[Long]("segment") / 100)
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_cust")).sum }
    assert(byR.values.max - byR.values.min <= 1L)
  }

  test("q227: band histogram covers all pairs; cumulative telescopes from top") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Dedup.q227SimHistogram(spark, d).collect()
      .sortBy(_.getAs[Long]("band"))
    assert(got.nonEmpty)
    // cum_from_top at the LOWEST band equals the total pair count
    val total = got.map(_.getAs[Long]("n_pairs")).sum
    assert(got.head.getAs[Long]("cum_from_top") == total)
    // telescoping: cum(b) = cum(b_above) + n(b)
    got.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("cum_from_top") ==
          hi.getAs[Long]("cum_from_top") + lo.getAs[Long]("n_pairs"))
      case _ => ()
    }
    got.foreach { r =>
      assert(r.getAs[Long]("band") >= 0L && r.getAs[Long]("band") <= 19L)
      assert(r.getAs[Long]("lo_bp") == r.getAs[Long]("band") * 500)
    }
    // the q42 threshold (>=500bp = band >= 1) pair count reconciles
    val q42n = operators.Dedup.q42NgramJaccard(spark, d).count()
    val above = got.filter(_.getAs[Long]("band") >= 1L)
      .map(_.getAs[Long]("n_pairs")).sum
    assert(above == q42n, s"bands >=1 ($above) must equal q42 pairs ($q42n)")
  }

  test("q224: paths reconcile with session count; shares are consistent") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q224SessionPaths(spark, d).collect()
    assert(got.nonEmpty && got.length <= 20)
    val nSessions = got.head.getAs[Long]("n_sessions")
    val q23n = operators.Windows.q23Sessionize(spark, d).count()
    assert(nSessions == q23n, "session denominator must match q23")
    var prev = Long.MaxValue
    got.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(n <= prev, "paths must be ordered by count desc")
      prev = n
      assert(r.getAs[Long]("share_bp") == n * 10000 / nSessions)
      // a path has at most 5 steps
      assert(r.getAs[String]("path").split(">").length <= 5)
    }
  }

  test("q225: sliding 60s max matches a brute-force two-pointer sweep") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q225RateLimit(spark, d).collect()
    assert(got.nonEmpty)
    val byUser = graft.io.Tables.events(spark, d)
      .select($"user_id", unix_micros($"ts")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sorted }
    got.foreach { r =>
      val ts = byUser(r.getAs[Long]("user_id"))
      var lo = 0
      var best = 0
      ts.indices.foreach { hi =>
        while (ts(hi) - ts(lo) > 60000000L) lo += 1
        best = math.max(best, hi - lo + 1)
      }
      assert(r.getAs[Long]("max_per_min") == best.toLong,
        s"user ${r.getAs[Long]("user_id")}: got ${r.getAs[Long]("max_per_min")} want $best")
      assert(r.getAs[Long]("n_events") == ts.length.toLong)
      assert(r.getAs[Long]("over_10") == (if (best > 10) 1L else 0L))
    }
  }

  test("q215: containment catches an embedded fragment that Jaccard misses") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Dedup.q215Containment(spark, d).collect()
    got.foreach { r =>
      val (inter, sz1, sz2) = (r.getAs[Long]("inter"),
        r.getAs[Long]("sz1"), r.getAs[Long]("sz2"))
      assert(inter <= math.min(sz1, sz2))
      assert(r.getAs[Long]("cont1_bp") == inter * 10000 / sz1)
      assert(r.getAs[Long]("cont2_bp") == inter * 10000 / sz2)
      assert(r.getAs[Long]("cont1_bp") >= 8000 || r.getAs[Long]("cont2_bp") >= 8000)
    }
    // synthetic check on the measure itself: fragment ⊂ host gives
    // containment 100% while Jaccard stays at |A|/|B|
    val a = Set(1L, 2L, 3L)
    val b = (1L to 30L).toSet
    val inter = (a & b).size
    assert(inter * 10000 / a.size == 10000)
    assert(inter * 10000 / (a | b).size < 1500)
  }

  test("q217: interval union matches a sequential merge replay per user") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q217IntervalUnion(spark, d).collect()
    assert(got.nonEmpty)
    val span = 1800000000L
    val evs = graft.io.Tables.events(spark, d)
      .select($"user_id", unix_micros($"ts")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sorted }
    got.foreach { r =>
      val starts = evs(r.getAs[Long]("user_id"))
      var islands = 0L; var covered = 0L
      var curS = -1L; var curE = -1L
      starts.foreach { st =>
        if (curE < 0 || st > curE) {
          if (curE >= 0) covered += curE - curS
          islands += 1; curS = st; curE = st + span
        } else curE = math.max(curE, st + span)
      }
      if (curE >= 0) covered += curE - curS
      assert(r.getAs[Long]("n_islands") == islands)
      assert(r.getAs[Long]("covered_sec") == covered / 1000000L)
      assert(r.getAs[Long]("n_events") == starts.length.toLong)
      assert(r.getAs[Long]("overcount_sec") ==
        starts.length * 1800L - covered / 1000000L)
    }
  }

  test("q210: KM curve is monotone from 1.0; risk sets telescope; censoring respected") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q210KaplanMeier(spark, d).collect()
    assert(got.nonEmpty)
    // weeks ascend, survival is non-increasing, bounded by 1e6
    var prev = 1000000L
    var prevRisk = Long.MaxValue
    got.foreach { r =>
      val sv = r.getAs[Long]("surv_micro")
      assert(sv <= prev, s"survival must be monotone non-increasing at $r")
      assert(sv >= 0L)
      prev = sv
      val risk = r.getAs[Long]("n_at_risk")
      assert(risk <= prevRisk && risk > 0)
      prevRisk = risk
      assert(r.getAs[Long]("d") <= r.getAs[Long]("ending"))
      assert(r.getAs[Long]("d") < risk, "deaths must not exhaust the risk set")
    }
    // risk sets telescope: n(t+1) = n(t) - ending(t)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_at_risk") ==
        a.getAs[Long]("n_at_risk") - a.getAs[Long]("ending"))
    case _ => ()
    }
  }

  test("q202: window closed form equals the sequential clamp recurrence") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q202ClampedBalance(spark, d).collect()
    assert(got.nonEmpty)
    // brute force: replay S_i = max(0, S_{i-1} + x_i) per supplier
    val daily = graft.io.Tables.lineitem(spark, d)
      .groupBy($"l_suppkey".as("supp"), $"l_shipdate".cast("date").as("day"))
      .agg(sum(when($"l_returnflag" === "R", $"l_quantity")
        .otherwise(-$"l_quantity")).cast("long").as("net"))
      .select($"supp", $"day".cast("string"), $"net")
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (k, xs) => k -> xs.sortBy(_._2).map(_._3) }
    got.foreach { r =>
      val flows = daily(r.getAs[Long]("supp"))
      var s = 0L; var peak = 0L; var zeros = 0L
      flows.foreach { x =>
        s = math.max(0L, s + x)
        peak = math.max(peak, s)
        if (s == 0L) zeros += 1
      }
      assert(r.getAs[Long]("final_stock") == s)
      assert(r.getAs[Long]("peak_stock") == peak)
      assert(r.getAs[Long]("n_stockout_days") == zeros)
      assert(r.getAs[Long]("n_days") == flows.length.toLong)
    }
  }

  test("q203: Fisher sits between Laspeyres and Paasche; basket is matched") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Relational.q203PriceIndex(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (l, p, f) = (r.getAs[Long]("laspeyres_bp"),
        r.getAs[Long]("paasche_bp"), r.getAs[Long]("fisher_bp"))
      assert(l > 0 && p > 0)
      // geometric mean lies between its arguments (floor can undershoot
      // the lower bound by at most 1)
      assert(f >= math.min(l, p) - 1 && f <= math.max(l, p))
      assert(f == math.floor(math.sqrt((l * p).toDouble)).toLong)
      assert(r.getAs[Long]("n_parts") > 0)
    }
  }

  test("q201: entry/exit matrix reconciles with q23 sessions; bounces have entry = exit") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q201EntryExit(spark, d).collect()
    assert(got.nonEmpty)
    // session count and bounce totals reconcile with q23's session list
    val q23 = operators.Windows.q23Sessionize(spark, d)
      .select($"n_events").as[Long].collect()
    assert(got.map(_.getAs[Long]("n_sessions")).sum == q23.length.toLong)
    assert(got.map(_.getAs[Long]("n_bounce")).sum == q23.count(_ == 1L).toLong)
    got.foreach { r =>
      assert(r.getAs[Long]("n_bounce") <= r.getAs[Long]("n_sessions"))
      assert(r.getAs[Long]("bounce_bp") ==
        r.getAs[Long]("n_bounce") * 10000 / r.getAs[Long]("n_sessions"))
      // a bounce is a 1-event session: entry must equal exit, so any
      // off-diagonal cell must have zero bounces
      if (r.getAs[String]("entry_type") != r.getAs[String]("exit_type"))
        assert(r.getAs[Long]("n_bounce") == 0L)
    }
  }

  test("q196: rule scores match brute-force basket counts; lift is symmetric") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q196AssocRules(spark, d).collect()
    assert(got.nonEmpty && got.length <= 20)
    // brute-force baskets
    val items = graft.io.Tables.lineitem(spark, d)
      .join(graft.io.Tables.part(spark, d), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct()
      .as[(Long, String)].collect()
    val nB = items.map(_._1).distinct.length.toLong
    val itemCnt = items.groupBy(_._2).map { case (b, xs) => b -> xs.length.toLong }
    val pairCnt = items.groupBy(_._1).values
      .flatMap(xs => xs.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSeq.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    got.foreach { r =>
      val (a, c) = (r.getAs[String]("ante"), r.getAs[String]("cons"))
      val sup = r.getAs[Long]("support")
      val key = if (a < c) (a, c) else (c, a)
      assert(pairCnt(key) == sup, s"support mismatch for $a->$c")
      assert(sup * 1000 >= 3 * nB, "below minsup")
      assert(r.getAs[Long]("n_baskets") == nB)
      assert(r.getAs[Long]("conf_ppm") == sup * 1000000L / itemCnt(a))
      assert(r.getAs[Long]("lift_ppm") == sup * nB * 1000000L / (itemCnt(a) * itemCnt(c)))
    }
    // lift symmetry: for any rule whose reverse also surfaced, scores agree
    val byPair = got.groupBy(r =>
      Set(r.getAs[String]("ante"), r.getAs[String]("cons")))
    byPair.values.filter(_.length == 2).foreach { rs =>
      assert(rs(0).getAs[Long]("lift_ppm") == rs(1).getAs[Long]("lift_ppm"))
    }
  }

  test("q233: cumulative distinct reconciles with direct distinct counts") {
    val got = operators.Behavior.q233CumulativeDistinct(spark, d).collect()
    assert(got.nonEmpty)
    val ud = graft.io.Tables.events(spark, d)
      .select($"user_id", to_date($"ts").as("day"))
      .as[(Long, java.sql.Date)].collect().distinct
    val allUsers = ud.map(_._1).distinct.length.toLong
    // final cumulative == total distinct users; news telescope to it
    assert(got.last.getAs[Long]("cum_users") == allUsers)
    assert(got.map(_.getAs[Long]("new_users")).sum == allUsers)
    // per-day: actives match a direct distinct count; cum is the
    // EXACT distinct-user count of the prefix (the identity the
    // first-day trick is supposed to compute)
    got.foreach { r =>
      val day = r.getAs[java.sql.Date]("day")
      val active = ud.count(_._2 == day).toLong
      assert(r.getAs[Long]("active_users") == active)
      val prefix = ud.filter(_._2.getTime <= day.getTime).map(_._1).distinct.length.toLong
      assert(r.getAs[Long]("cum_users") == prefix, s"$day: cum mismatch")
    }
    // monotone non-decreasing cumulative
    val cums = got.map(_.getAs[Long]("cum_users"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
  }

  test("q235: streaks match a sequential replay of each segment's daily series") {
    val got = operators.Behavior.q235RevenueStreaks(spark, d).collect()
      .map(r => r.getAs[String]("segment") ->
        (r.getAs[Long]("streak_days"), r.getAs[java.sql.Date]("end_day"))).toMap
    assert(got.nonEmpty)
    val daily = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", to_date($"o_orderdate"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .as[(String, java.sql.Date, Long)].collect()
    daily.groupBy(_._1).foreach { case (seg, rows) =>
      val series = rows.sortBy(_._2.getTime).map(t => (t._2, t._3))
      var best = 0L; var bestEnd: java.sql.Date = null
      var run = 0L
      series.indices.foreach { i =>
        if (i > 0 && series(i)._2 > series(i - 1)._2) run += 1 else run = 0
        if (run > best) { best = run; bestEnd = series(i)._1 }
      }
      if (best > 0) {
        val (len, end) = got(seg)
        assert(len == best, s"$seg: streak $len vs replay $best")
        assert(end == bestEnd, s"$seg: end $end vs replay $bestEnd")
      } else assert(!got.contains(seg))
    }
  }

  test("q242: rolling correlation matches a direct per-window recomputation") {
    val got = operators.Windows.q242RollingCorr(spark, d).collect()
      .map(r => r.getAs[java.sql.Date]("day") ->
        (r.getAs[Long]("n"), r.getAs[Long]("r_bp"))).toMap
    assert(got.nonEmpty)
    val daily = graft.io.Tables.lineitem(spark, d)
      .groupBy(to_date($"l_shipdate").as("day"))
      .agg(sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long")).as("c"),
        sum($"l_quantity".cast("long")).as("y"))
      .select($"day", expr("c div 100"), $"y")
      .as[(java.sql.Date, Long, Long)].collect().sortBy(_._1.getTime)
    val dayMs = 86400000L
    daily.foreach { case (day, _, _) =>
      val win = daily.filter(t => t._1.getTime <= day.getTime &&
        t._1.getTime > day.getTime - 30L * dayMs)
      val n = win.length.toLong
      val sx = win.map(_._2).sum; val sy = win.map(_._3).sum
      val sxx = win.map(t => t._2 * t._2).sum
      val syy = win.map(t => t._3 * t._3).sum
      val sxy = win.map(t => t._2 * t._3).sum
      val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
      if (n >= 10 && vx > 0 && vy > 0) {
        val r = 10000.0 * (n * sxy - sx * sy).toDouble /
          (math.sqrt(vx.toDouble) * math.sqrt(vy.toDouble))
        assert(got.contains(day), s"missing $day")
        assert(got(day)._1 == n)
        assert(math.abs(got(day)._2 - math.floor(r).toLong) <= 1,
          s"$day: r_bp ${got(day)._2} vs $r")
        assert(got(day)._2 >= -10000L && got(day)._2 <= 10000L)
      } else assert(!got.contains(day), s"guard leaked $day")
    }
  }

  test("q247: exclusive counts match brute-force per-user type sets") {
    val got = operators.Behavior.q247ExclusiveReach(spark, d).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_exclusive"))).toMap
    val ut = graft.io.Tables.events(spark, d)
      .select($"user_id", $"event_type").distinct()
      .as[(Long, String)].collect()
    val byUser = ut.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (t, (nu, ne)) =>
      assert(nu == byUser.values.count(_.contains(t)).toLong, s"$t users")
      assert(ne == byUser.values.count(s => s == Set(t)).toLong, s"$t exclusive")
    }
    // exclusives across types never double-count a user
    assert(got.values.map(_._2).sum <= byUser.size.toLong)
  }

  test("q249: per-dow MAE/bias match a direct lag-7 replay") {
    val rows = operators.Windows.q249ForecastBacktest(spark, d).collect()
      .map(r => r.getAs[Long]("dow") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("mae"), r.getAs[Long]("bias"))).toMap
    assert(rows.contains(0L) && rows.size >= 2)
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy(to_date($"o_orderdate").as("day")).agg(count(lit(1)).as("n"))
      .as[(java.sql.Date, Long)].collect().sortBy(_._1.getTime)
    // pair each day with the previous SAME-WEEKDAY day present in the data
    val cal = java.util.Calendar.getInstance()
    def dow(dt: java.sql.Date) = { cal.setTime(dt)
      val x = cal.get(java.util.Calendar.DAY_OF_WEEK); if (x == 1) 7 else x - 1 }
    val byDow = daily.groupBy(t => dow(t._1))
    byDow.foreach { case (k, series) =>
      val s = series.sortBy(_._1.getTime).map(_._2)
      if (s.length > 1) {
        val errs = s.zip(s.tail).map { case (prev, cur) => cur - prev }
        val (n, mae, bias) = rows(k.toLong)
        assert(n == errs.length.toLong, s"dow $k n")
        assert(mae == errs.map(math.abs).sum / errs.length, s"dow $k mae")
        assert(bias == errs.sum, s"dow $k bias")
      }
    }
  }

  test("q254: new+returning partition the revenue; first months are all-new") {
    val got = operators.Behavior.q254NewVsReturning(spark, d).collect()
    assert(got.nonEmpty)
    val total = graft.io.Tables.orders(spark, d)
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")))
      .as[Long].head()
    assert(got.map(r => r.getAs[Long]("new_cents") + r.getAs[Long]("ret_cents")).sum
      == total, "revenue not partitioned")
    // the first month in the data is 100% new by definition
    val first = got.minBy(_.getAs[String]("month"))
    assert(first.getAs[Long]("ret_cents") == 0L)
    assert(first.getAs[Long]("new_share_bp") == 10000L)
    // every customer contributes new revenue in exactly one month
    val newTotal = got.map(_.getAs[Long]("new_cents")).sum
    val firstMonthRev = graft.io.Tables.orders(spark, d)
      .groupBy($"o_custkey", date_format($"o_orderdate", "yyyy-MM").as("m"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"o_custkey").orderBy($"m")))
      .filter($"rk" === 1).agg(sum($"c")).as[Long].head()
    assert(newTotal == firstMonthRev)
  }

  test("q259: return flags match a brute-force per-user day scan") {
    val got = operators.Behavior.q259RollingRetention(spark, d).collect()
    assert(got.nonEmpty)
    val ud = graft.io.Tables.events(spark, d)
      .select($"user_id", to_date($"ts").as("day"))
      .as[(Long, java.sql.Date)].collect().distinct
    val byUser = ud.groupBy(_._1).view
      .mapValues(_.map(_._2.getTime).sorted).toMap
    val dayMs = 86400000L
    val maxDay = ud.map(_._2.getTime).max
    got.foreach { r =>
      val day = r.getAs[java.sql.Date]("day").getTime
      val active = ud.filter(_._2.getTime == day).map(_._1)
      assert(r.getAs[Long]("active_users") == active.length.toLong)
      val returned = active.count { u =>
        byUser(u).exists(t => t > day && t <= day + 7 * dayMs) }
      assert(r.getAs[Long]("returned_7d") == returned.toLong,
        s"$day: returned mismatch")
      assert(r.getAs[Boolean]("censored") == (maxDay - day < 7 * dayMs))
    }
  }

  test("q263: occupancy reconciles with total inter-event time; shares sum to ~1") {
    val got = operators.Behavior.q263StateOccupancy(spark, d).collect()
    assert(got.nonEmpty)
    val spans = graft.io.Tables.events(spark, d)
      .groupBy($"user_id")
      .agg((unix_micros(max($"ts")) - unix_micros(min($"ts"))).as("span"),
        count(lit(1)).as("n"))
      .agg(sum($"span"), sum($"n" - 1)).as[(Long, Long)].head()
    // total occupied time == sum of per-user (max-min) spans, and the
    // spell count == events minus one per user
    assert(got.map(_.getAs[Long]("total_us")).sum == spans._1)
    assert(got.map(_.getAs[Long]("n_spells")).sum == spans._2)
    val shareSum = got.map(_.getAs[Long]("share_bp")).sum
    assert(shareSum >= 10000 - got.length && shareSum <= 10000)
  }

  test("q264: LTV triangle is monotone and reconciles with total first-year revenue") {
    val got = operators.Behavior.q264CohortLtv(spark, d).collect()
    assert(got.nonEmpty)
    // cumulative LTV is non-decreasing in age within a cohort
    got.groupBy(_.getAs[String]("cohort")).foreach { case (c, rows) =>
      val byAge = rows.sortBy(_.getAs[Long]("age"))
      val ltv = byAge.map(_.getAs[Long]("cum_ltv_cents"))
      assert(ltv.zip(ltv.tail).forall { case (a, b) => a <= b }, s"$c not monotone")
      assert(byAge.head.getAs[Long]("age") == 0L, s"$c missing age 0")
    }
    // cell revenues cover exactly the orders within 11 months of first
    val totalCells = got.map(_.getAs[Long]("rev")).sum
    val expected = graft.io.Tables.orders(spark, d)
      .select($"o_custkey", (year($"o_orderdate") * 12 + month($"o_orderdate")).as("m"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .withColumn("m0", min($"m").over(Window.partitionBy($"o_custkey")))
      .filter($"m" - $"m0" <= 11)
      .agg(sum($"c")).as[Long].head()
    assert(totalCells == expected)
  }

  test("q265: the migration matrix partitions customers; tiers are balanced") {
    val got = operators.Behavior.q265TierMigration(spark, d).collect()
    val nCust = graft.io.Tables.orders(spark, d)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .select($"o_custkey").distinct().count()
    assert(got.map(_.getAs[Long]("n_customers")).sum == nCust)
    // row/col marginals for the NONZERO tiers are quintile-balanced
    Seq("t95", "t96").foreach { axis =>
      val marg = got.groupBy(_.getAs[Long](axis)).view
        .mapValues(_.map(_.getAs[Long]("n_customers")).sum).toMap
      val tiers = marg.filterKeys(_ > 0).values
      if (tiers.nonEmpty)
        assert(tiers.max - tiers.min <= 1, s"$axis quintiles unbalanced: $marg")
    }
  }

  test("q296: log-rank O-E and variance reconcile; A/A null stays small") {
    import spark.implicits._
    val r = graft.operators.Behavior.q296Logrank(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (n0, n1, e0, e1, oe, v, chi) = r
    assert(n0 > 0 && n1 > 0 && e0 > 0 && e1 > 0)
    assert(v > 0)
    // chi is the floored milli of (O-E)^2/V — recompute directly
    assert(chi == math.floor(oe.toDouble * oe / (1000.0 * v)).toLong)
    // the parity split is a true null: the statistic should not be
    // astronomically significant (chi2(1) critical value at 0.001 is
    // 10.83 — allow wide slack, the point is "no systematic effect")
    assert(chi < 11000L, s"A/A log-rank exploded: chi_milli=$chi")
    // |O-E| bounded by total group-1 events in micro units
    assert(math.abs(oe) <= 1000000L * e1)
  }

  test("q321: Brown DES matches a direct double-smoothing replay") {
    val got = operators.Windows.q321HoltDes(spark, d)
      .as[(String, java.sql.Date, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // replay: dense per-type daily series, truncated EWMA twice
    val daily = graft.io.Tables.events(spark, d)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
      .as[(String, java.sql.Date, Long)].collect()
    val allDays = daily.map(_._2.toLocalDate)
    val (d0, d1) = (allDays.minBy(_.toEpochDay), allDays.maxBy(_.toEpochDay))
    got.foreach { case (tpe, lastDay, level, trend, f1, f7, f14) =>
      assert(lastDay.toLocalDate == d1)
      val byDay = daily.filter(_._1 == tpe)
        .map(r => r._2.toLocalDate.toEpochDay -> r._3).toMap
      val series = (d0.toEpochDay to d1.toEpochDay)
        .map(ed => byDay.getOrElse(ed, 0L))
      def lagN(i: Int): Long =
        if (series.length - 1 - i >= 0) series(series.length - 1 - i) else 0L
      val s1 = (0 to 7).map(i => (1L << (7 - i)) * lagN(i)).sum
      val s2 = (0 to 14).map(i => operators.Windows.desConv(i) * lagN(i)).sum
      def m(x: Long) = math.floor(x * 1000.0 / 65025).toLong
      assert(level == m(510 * s1 - s2) && trend == m(255 * s1 - s2))
      assert(f1 == m(510 * s1 - s2 + (255 * s1 - s2)))
      assert(f7 == m(510 * s1 - s2 + 7 * (255 * s1 - s2)))
      assert(f14 == m(510 * s1 - s2 + 14 * (255 * s1 - s2)))
      // consistency: forecasts are collinear in h (integer dust aside)
      assert(math.abs((f14 - f1) - 13 * trend) <= 13)
    }
    // the convolution kernel is a true self-convolution
    assert(operators.Windows.desConv.sum == 65025L)
  }

  test("q343: session surprisal matches a transition-LM replay") {
    val got = operators.Behavior.q343SessionSurprisal(spark, d)
      .as[(Long, Long, java.sql.Date, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to got.length))
    val ev = graft.io.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("date").as("day"), $"ts", $"event_type",
        $"event_id")
      .as[(Long, java.sql.Date, java.sql.Timestamp, String, Long)].collect()
    val bySess = ev.groupBy(e => (e._1, e._2.toString))
    val trans = bySess.toSeq.flatMap { case (k, es) =>
      val sorted = es.sortBy(e => (e._3.getTime, e._3.getNanos, e._5))
      sorted.zip(sorted.tail).map { case (a, b) => (k, a._4, b._4) }
    }
    val cab = trans.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong).toMap
    val ca = trans.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def sMicro(a: String, b: String): Long =
      math.floor(math.log(ca(a).toDouble / cab((a, b))) * 1000000.0).toLong
    val sess = trans.groupBy(_._1).view.mapValues { ts =>
      (ts.size.toLong, ts.map(t => sMicro(t._2, t._3)).sum)
    }.toMap.filter(_._2._1 >= 3)
    got.foreach { case (_, uid, day, nTrans, surprise, avg) =>
      val (en, es) = sess((uid, day.toString))
      assert(nTrans == en && surprise == es && avg == es / en)
    }
    // top-20 really is the global maximum of avg surprisal
    val topAvg = sess.values.map { case (n, sp) => sp / n }.toSeq.sortBy(-_)
    assert(got.map(_._6).toSeq == topAvg.take(got.length))
  }

  test("q361: Greenwood bands bracket the KM curve and widen sensibly") {
    val km = operators.Behavior.q210KaplanMeier(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r._5).toMap
    val got = operators.Behavior.q361Greenwood(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    got.foreach { case (wk, nRisk, dd, surv, se, lo, hi) =>
      // agrees with q210's curve on the shared column
      assert(surv == km(wk))
      // band brackets the estimate, stays in [0, 1e6]
      assert(lo <= surv && surv <= hi)
      assert(lo >= 0 && hi <= 1000000L && se >= 0)
      assert(dd <= nRisk)
    }
    // survival monotone non-increasing
    val sv = got.map(_._4)
    assert(sv.zip(sv.tail).forall { case (a, b) => a >= b })
    // the band never narrows as risk sets shrink (relative width grows):
    // spot-check that the LAST week's se exceeds the first week's
    assert(got.last._5 >= got.head._5)
  }

  test("q210/q361: a d = n week pins the curve to 0 instead of NULL-dropping") {
    // Crafted orders where week 1's whole risk set events: customers'
    // censored spells end at week 0 (last order on max_d), the two
    // 7-10 day gaps event at week 1 with nobody else left at risk —
    // the ln(1 - d/n) = ln 0 term ADVICE r6 flagged. The sentinel
    // guard must zero the curve from that week on, in both engines'
    // semantics, rather than letting Spark's NULL log vanish from the
    // window sum (curve stuck at 1) or DuckDB's -inf poison it.
    val dir = java.nio.file.Files.createTempDirectory("km").toString
    Seq(
      (1L, 1L, java.sql.Date.valueOf("1995-01-01")),
      (1L, 2L, java.sql.Date.valueOf("1995-01-11")),
      (2L, 3L, java.sql.Date.valueOf("1995-01-04")),
      (2L, 4L, java.sql.Date.valueOf("1995-01-11")))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val km = operators.Behavior.q210KaplanMeier(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // wk0: 4 at risk, 0 events, curve stays 1.0; wk1: 2 at risk, 2
    // events (d = n) → sentinel → floor to 0
    assert(km.map(r => (r._1, r._2, r._3, r._5)).toSeq ==
      Seq((0L, 4L, 0L, 1000000L), (1L, 2L, 2L, 0L)))
    val gw = operators.Behavior.q361Greenwood(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // Greenwood shares the guard: surv 0 at the degenerate week, all
    // band values finite and in range (the g term is 0-guarded too)
    assert(gw.map(_._4).toSeq == Seq(1000000L, 0L))
    gw.foreach { case (_, _, _, surv, se, lo, hi) =>
      assert(se >= 0 && lo >= 0 && hi <= 1000000L && lo <= surv && surv <= hi)
    }
  }

  test("q382: a single bad hour does not page; the sustained second hour does") {
    val dir = java.nio.file.Files.createTempDirectory("burn").toString
    // 24 hours × 10 events; baseline 2 errors/hour (burn 0.8), hours
    // 22-23 spike to 5 errors (burn 2.0). The multiwindow rule holds
    // fire at hour 22 (6 h burn still 1.0) and pages at hour 23
    // (6 h burn exactly 1.2) — the single-spike immunity the long
    // window exists for. The slow ticket never fires: the 24 h burn
    // stays at 0.9 (< 1.05).
    val rows = for {
      h <- 0 until 24; i <- 0 until 10
    } yield {
      val err = if (h >= 22) i < 5 else i < 2
      (h.toLong * 10 + i, 1L,
        if (err) "error" else "click",
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00"), 1.0)
    }
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Windows.q382BurnRate(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val baseHr = java.sql.Timestamp.valueOf("2024-01-01 23:30:00")
      .getTime / 3600000L
    assert(got("fast_page") == ("fast_page", 24L, 1L, 2000L, baseHr))
    assert(got("slow_ticket") == ("slow_ticket", 24L, 0L, 0L, -1L))
  }

  test("q362: TTL hit-rate curve matches a gap replay; monotone in TTL") {
    val got = operators.Behavior.q362TtlPlanner(spark, d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(60L, 300L, 900L, 3600L, 14400L))
    val hr = got.map(_._4)
    assert(hr.zip(hr.tail).forall { case (a, b) => a <= b })
    val ev = graft.io.Tables.events(spark, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
      .as[(Long, Long, Long)].collect()
    val gaps = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3))
      sorted.zip(sorted.tail).map { case (a, b) => (b._2 - a._2) / 1000000L }
    }.toSeq
    assert(got.head._3 == gaps.length)
    got.foreach { case (ttl, nHit, n, bp) =>
      assert(n == gaps.length)
      assert(nHit == gaps.count(_ <= ttl))
      assert(bp == 10000L * nHit / n)
    }
  }

  test("q364: ordered triples match a session replay; order-sensitive") {
    val got = operators.Behavior.q364SeqPatterns(spark, d)
      .as[(String, String, String, Long, Long, Long, Long)].collect().sortBy(_._7)
    assert(got.map(_._7).toSeq == (1L to got.length))
    val ev = graft.io.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("date").cast("string").as("day"), $"ts",
        $"event_type", $"event_id")
      .as[(Long, String, java.sql.Timestamp, String, Long)].collect()
    val tris = ev.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((uid, _), es) =>
      val sorted = es.sortBy(e => (e._3.getTime, e._3.getNanos, e._5))
      sorted.sliding(3).filter(_.length == 3).map(w =>
        ((w(0)._4, w(1)._4, w(2)._4), uid))
    }
    val support = tris.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).distinct.size.toLong)).toMap
    got.foreach { case (e1, e2, e3, sup, nUsers, _, _) =>
      val (es, eu) = support((e1, e2, e3))
      assert(sup == es && nUsers == eu)
    }
    // the ranking really is top-k of the full support map
    val topSup = support.values.map(_._1).toSeq.sortBy(-_).take(got.length)
    assert(got.map(_._4).toSeq == topSup)
  }

  test("q365: CCF peaks at lag 0 and matches a shifted-join replay") {
    val got = operators.Behavior.q365Ccf(spark, d)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(-7L, -3L, -1L, 0L, 1L, 3L, 7L))
    val peak = got.maxBy(_._3)
    assert(peak._1 == 0L, s"CCF peak not at lag 0: $got")
    got.foreach { r => assert(math.abs(r._3) <= 10000L) }
    // replay lag 0 from the daily aggregate
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(count(lit(1)).as("x"),
        expr("sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) div 100000").as("y"))
      .as[(java.sql.Date, Long, Long)].collect()
    val n = daily.length.toDouble
    val sx = daily.map(_._2).sum.toDouble; val sy = daily.map(_._3).sum.toDouble
    val sxy = daily.map(r => r._2 * r._3).sum.toDouble
    val sxx = daily.map(r => r._2 * r._2).sum.toDouble
    val syy = daily.map(r => r._3 * r._3).sum.toDouble
    val r0 = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(got.find(_._1 == 0L).get._3 == math.floor(r0 * 10000.0).toLong)
  }


  test("q408: quartile symbols and gap-guarded 3-hour motifs match hand derivation") {
    import spark.implicits._
    val base = 1704153600L // 2024-01-02 00:00 UTC, seconds
    def ns(h: Int) = (base + h * 3600L) * 1000000000L
    // hourly counts for type x: h0:1 h1:2 h2:3 h3:4 (gap) h5:1
    val rows = Seq(0 -> 1, 1 -> 2, 2 -> 3, 3 -> 4, 5 -> 1).flatMap {
      case (h, c) => (1 to c).map(i => (h * 10L + i, ns(h), 1L, "x", 1.0, "{}"))
    }
    val dir = java.nio.file.Files.createTempDirectory("sax").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // ntile(4) over (c,h): (1,h0)(1,h5)(2,h1)(3,h2)(4,h3) -> syms
    // h0:1 h5:1 h1:2 h2:3 h3:4; consecutive words: h0..h2="123",
    // h1..h3="234"; h3..h5 blocked by the missing h4
    val got = operators.Behavior.q408SaxMotifs(spark, dir)
      .as[(String, String, Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(("x", "123", 1L, 5000L), ("x", "234", 1L, 5000L)))
  }

  test("q412: a planted rock-paper-scissors majority is one cyclic triad") {
    import spark.implicits._
    val t0 = 1704153600L * 1000000000L
    // majority: a beats b (u1,u2), b beats c (u1,u3), c beats a (u2,u3)
    val spend = Seq(
      (1L, "a", 3.0), (1L, "b", 2.0), (1L, "c", 1.0),
      (2L, "a", 3.0), (2L, "b", 2.0), (2L, "c", 4.0),
      (3L, "a", 1.0), (3L, "b", 4.0), (3L, "c", 3.0))
    val rows = spend.zipWithIndex.map { case ((u, t, v), i) =>
      (i.toLong, t0 + i * 1000000000L, u, t, v, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("cycle").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Behavior.q412PrefCycles(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // every vertex out-degree 1 -> 0 transitive triads of C(3,3)=1
    assert(got.map(r => (r._1, r._2)).toSeq == Seq(("a", 1L), ("b", 1L), ("c", 1L)))
    assert(got.forall(r => r._3 == 3L && r._4 == 1L && r._5 == 1L && r._6 == 0L))
  }


  test("q423: balanced log makes uniform IPS the plain mean; greedy doubles onto the top arm") {
    import spark.implicits._
    val t0 = 1704153600L * 1000000000L
    val rows = Seq(
      (1L, "p", 2.0), (2L, "p", 2.0), (3L, "q", 1.0), (4L, "q", 1.0))
      .zipWithIndex.map { case ((id, t, v), i) =>
        (id, t0 + i * 1000000000L, id, t, v, "{}")
      }
    val dir = java.nio.file.Files.createTempDirectory("ips").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Behavior.q423IpsOffpolicy(spark, dir)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // uniform: every w = 1e6 -> IPS = mean = 150 cents, n_eff = n = 4
    assert(got("uniform") == (("uniform", 150L, 150000L, 4L)))
    // greedy on p (avg 200c): w = 2e6 on half the rows -> IPS = 200,
    // SNIPS = 200, n_eff = (4e6)^2 / (2 * 4e12) = 2
    assert(got("greedy") == (("greedy", 200L, 200000L, 2L)))
  }


  test("q433: one object per tier, costs from the literal price model") {
    import spark.implicits._
    def ns(day: Int) = (1704067200L + (day - 1) * 86400L) * 1000000000L // 2024-01-<day>
    val rows = Seq(
      // obj 1:1 -> hot (touched Jan 14), 2 future accesses
      (1L, ns(14), 1L, "view", 1.0, "{\"k\": 1}"),
      (2L, ns(20), 1L, "view", 1.0, "{\"k\": 1}"),
      (3L, ns(21), 1L, "view", 1.0, "{\"k\": 1}"),
      // obj 2:2 -> warm (2 early-history accesses), 1 future
      (4L, ns(2), 2L, "view", 1.0, "{\"k\": 2}"),
      (5L, ns(3), 2L, "view", 1.0, "{\"k\": 2}"),
      (6L, ns(22), 2L, "view", 1.0, "{\"k\": 2}"),
      // obj 3:3 -> cold (1 early access), 3 future
      (7L, ns(2), 3L, "view", 1.0, "{\"k\": 3}"),
      (8L, ns(20), 3L, "view", 1.0, "{\"k\": 3}"),
      (9L, ns(21), 3L, "view", 1.0, "{\"k\": 3}"),
      (10L, ns(22), 3L, "view", 1.0, "{\"k\": 3}"))
    val dir = java.nio.file.Files.createTempDirectory("tier").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Behavior.q433TieringPlanner(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got(("planned", "hot")) == (("planned", "hot", 1L, 2L, 100L, 0L, 100L)))
    assert(got(("planned", "warm")) == (("planned", "warm", 1L, 1L, 40L, 20L, 60L)))
    assert(got(("planned", "cold")) == (("planned", "cold", 1L, 3L, 10L, 600L, 610L)))
    assert(got(("all_hot", "hot")) == (("all_hot", "hot", 3L, 6L, 300L, 0L, 300L)))
    assert(got(("all_cold", "cold")) == (("all_cold", "cold", 3L, 6L, 30L, 1200L, 1230L)))
  }

  test("q434: the OR policy never loses recall; incident count is policy-invariant") {
    val got = operators.Behavior.q434BurnAlertEval(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val inc = got.values.map(r => r._2 + r._4).toSet
    assert(inc.size == 1, s"tp+fn must be the incident count for every policy: $got")
    assert(got("either")._6 >= got("fast_1h_2x")._6)
    assert(got("either")._6 >= got("slow_3h_1_5x")._6)
    assert(got("either")._2 >= got("fast_1h_2x")._2)
  }


  test("q438: live-state counts under each watermark delay, by hand") {
    import spark.implicits._
    def ns(h: Int) = (1704067200L + h * 3600L) * 1000000000L
    val rows = Seq(
      (1L, ns(0), 1L, "view", 1.0, "{}"),
      (2L, ns(0), 2L, "view", 1.0, "{}"),
      (3L, ns(5), 3L, "view", 1.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("stateplan").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Behavior.q438StatePlanner(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // D=1: state at t0 = {1,2}, t5 = {3}; D>=6: t5 also sees t0 users
    assert(got(0) == ((1L, 2L, 1L, 2L, 128L)))
    assert(got(1) == ((6L, 2L, 2L, 3L, 192L)))
    assert(got(2) == ((24L, 2L, 2L, 3L, 192L)))
  }

  test("q438: the delay fan-out is hash joins, never a nested-loop range join") {
    // VERDICT r8 #2: the pre-fix `t >= h && t < h + delay_h` theta join
    // planned a BroadcastNestedLoopJoin of the fact-sized (hour, user)
    // relation against the hour grid; the cover-explode shape must keep
    // the whole plan in hash joins + hash aggregates
    val df = operators.Behavior.q438StatePlanner(spark, "/root/testdata/sf0.001")
    df.collect() // materialize so the AQE final plan is in place
    val nodes = allPlanNodes(df.queryExecution.executedPlan)
    val loops = nodes.filter {
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
      case _ => false
    }
    assert(loops.isEmpty,
      s"q438 plans ${loops.size} nested-loop join(s):\n${loops.map(_.nodeName).mkString("\n")}")
  }
}
