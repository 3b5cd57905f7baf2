package graft

import graft.operators.Stats

/** The HLL sketch values are engine-specific, so q58 exposes the
  * sketch CONTRACT instead: exact counts + error-bound booleans the
  * oracle pins to TRUE. Assert the booleans here too (and at a tighter
  * tolerance than the query's 10% emergency bound). */
class StatsSpec extends SparkSpec {

  test("q177: 7 lags, |acf| bounded by Cauchy-Schwarz, lag-1 matches brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q177Acf(spark, d).collect()
    assert(got.map(_.getAs[Long]("lag")).toSeq == (1L to 7L))
    val den = got.head.getAs[Long]("den")
    assert(den > 0L)
    got.foreach { r =>
      assert(r.getAs[Long]("den") == den, "den is lag-independent")
      assert(math.abs(r.getAs[Long]("acf_bp")) <= 10000L)
      assert(r.getAs[Long]("acf_bp") ==
        math.floor(r.getAs[Long]("num") * 10000.0 / den).toLong)
    }
    // brute-force lag-1 numerator on the collected daily series
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy($"o_orderdate").agg(sum(floor($"o_totalprice").cast("long")).as("x"))
      .orderBy($"o_orderdate").select($"x").as[Long].collect()
    val m = daily.sum / daily.length
    val y = daily.map(_ - m)
    val num1 = y.iterator.zip(y.iterator.drop(1)).map { case (a, b) => a * b }.sum
    assert(got.find(_.getAs[Long]("lag") == 1L).get.getAs[Long]("num") == num1)
    assert(den == y.map(v => v * v).sum)
  }

  test("approx_count_distinct bound booleans hold at sf0.001") {
    val r = Stats.q58ApproxDistinct(spark, "/root/testdata/sf0.001").head()
    assert(r.getAs[Boolean]("parts_within_10pct"),
      s"parts sketch outside 10%: $r")
    assert(r.getAs[Boolean]("orders_within_10pct"),
      s"orders sketch outside 10%: $r")
    assert(r.getAs[Long]("exact_parts") > 0 && r.getAs[Long]("exact_orders") > 0)
  }

  test("q80 moment-form stats agree with Spark's native aggregates") {
    val rows = Stats.q80StatsFamily(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("native_corr_ok"), s"corr drifted: $r")
      assert(r.getAs[Boolean]("native_covar_ok"), s"covar drifted: $r")
      assert(r.getAs[Boolean]("native_stddev_ok"), s"stddev drifted: $r")
      val c = r.getAs[Double]("corr_xy")
      assert(c >= -1.0 && c <= 1.0, s"corr out of range: $c")
      assert(r.getAs[Double]("stddev_x") >= 0.0)
    }
  }

  test("q127: CMS never undercounts, and the grid is linear in N") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val rows = Stats.q127CountMin(spark, d).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("over_ok"), s"CMS undercounted: $r")
      assert(r.getAs[Long]("err") >= 0L)
    }
    // linearity: every sketch row's counters sum to the occurrence total
    val occ = graft.io.Tables.documents(spark, d)
      .select(explode(graft.functions.Fns.tokens(col("text"))).as("term"))
    val n = occ.count()
    val perRow = occ
      .select((graft.functions.Fns.hash60(col("term")) % 2147483647L).as("hp"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .groupBy(col("r")).agg(count(lit(1)).as("s"))
      .collect().map(_.getAs[Long]("s"))
    assert(perRow.length == 4 && perRow.forall(_ == n))
  }

  test("sketch error is within 6% (3x the requested 2% rsd)") {
    import org.apache.spark.sql.functions._
    val li = graft.io.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val r = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
      countDistinct(col("l_partkey")).as("ep"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
      countDistinct(col("l_orderkey")).as("eo")).head()
    val (ap, ep) = (r.getAs[Long]("ap"), r.getAs[Long]("ep"))
    val (ao, eo) = (r.getAs[Long]("ao"), r.getAs[Long]("eo"))
    assert(math.abs(ap - ep).toDouble / ep < 0.06, s"parts: $ap vs $ep")
    assert(math.abs(ao - eo).toDouble / eo < 0.06, s"orders: $ao vs $eo")
  }

  // ---- q149: q-digest quantile sketch algebra (direct, no Spark) ----

  test("q-digest: rank error within the ε budget on uniform data") {
    val depth = 14; val k = 256
    val phis = Seq(1000, 2500, 5000, 7500, 9000, 9900)
    val qd = new graft.functions.QDigestQuantiles(depth, k, phis)
    val n = 10000
    // deterministic shuffle of 0..n-1 (multiplicative hash order)
    val vals = (0 until n).sortBy(v => (v * 2654435761L) & 0xffffffffL)
    val buf = vals.foldLeft(qd.zero)((b, v) => qd.reduce(b, v.toLong))
    val ests = qd.finish(buf)
    val budget = 2L * depth * n / k + 2 // the q149 contract bound
    phis.zip(ests).foreach { case (bp, est) =>
      // values are exactly 0..n-1, so rank(x ≤ est) = est+1
      val target = math.ceil(n.toDouble * bp / 10000.0).toLong
      assert(est + 1 >= target, s"phi=$bp est=$est below target $target")
      assert(est <= target + budget, s"phi=$bp est=$est over budget ($target+$budget)")
    }
    // state bound: the append log repacks to ≤ 4× the ≤ 3k compressed
    // digest (plus the 512-pair floor), so the buffer stays O(k)
    assert(buf.length <= 1 + 8 * (3 * k + 512), s"digest grew to ${buf.length}")
  }

  test("q-digest: merge of split halves honors the same bound") {
    val depth = 14; val k = 256
    val qd = new graft.functions.QDigestQuantiles(depth, k, Seq(5000))
    val n = 10000
    val (a, b) = (0 until n).partition(v => ((v * 40503L) & 4L) == 0L)
    // merge consumes its inputs (in-place, like Spark's partial-buffer
    // contract: each partial is merged exactly once) — rebuild per call
    def bufA = a.foldLeft(qd.zero)((x, v) => qd.reduce(x, v.toLong))
    def bufB = b.foldLeft(qd.zero)((x, v) => qd.reduce(x, v.toLong))
    val est = qd.finish(qd.merge(bufA, bufB)).head
    val budget = 2L * depth * n / k + 2
    assert(est + 1 >= n / 2 && est <= n / 2 + budget, s"merged median $est")
    // merge is symmetric in outcome bounds (not necessarily state)
    val est2 = qd.finish(qd.merge(bufB, bufA)).head
    assert(est2 + 1 >= n / 2 && est2 <= n / 2 + budget, s"flipped merge $est2")
  }

  test("q155: KMV Jaccard estimator brackets the true overlap (direct)") {
    val k = 64
    val mk = new graft.functions.MinKLongs(k)
    def h(v: Int): Long = (v * 0x9E3779B97F4A7C15L) >>> 4 // scramble, keep positive
    // |A|=1000, |B|=1000, |A∩B|=500 → J = 1/3
    val a = (1 to 1000).map(h)
    val b = (501 to 1500).map(h)
    val bufA = a.foldLeft(mk.zero)(mk.reduce)
    val bufB = b.foldLeft(mk.zero)(mk.reduce)
    val union = mk.merge(bufA, bufB)
    assert(union.length == k && union == union.sorted && union.distinct == union)
    val rho = union.count(v => bufA.contains(v) && bufB.contains(v)).toDouble / k
    // 3σ for a proportion at J=1/3, k=64 → ±0.18
    assert(math.abs(rho - 1.0 / 3) < 0.18, s"rho=$rho")
    // inclusion–exclusion estimate of the union size from the kth min
    val est = 63.0 * (1L << 60).toDouble / union.last
    assert(est > 1000 && est < 2000, s"est union=$est (true 1500)")
  }

  test("q162: nested medians are bracketed and customer-weighted") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val rows = Stats.q162MedianOfMedians(spark, d)
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (seg, n, mm, p90, lo, hi) =>
      assert(lo <= mm && mm <= p90 && p90 <= hi, s"$seg brackets broken")
      assert(n > 0)
    }
    // level-2 population = customers with >= 1 order (customer-weighted,
    // NOT order-weighted — the point of the nesting)
    val custWithOrders = graft.io.Tables.orders(spark, d)
      .select($"o_custkey").distinct().count()
    assert(rows.map(_._2).sum == custWithOrders)
  }

  test("q167: bootstrap CI brackets the point estimate; 32 replicates per group") {
    import spark.implicits._
    val rows = Stats.q167PoissonBootstrap(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 5)
    rows.foreach { case (pri, n, mean, nReps, lo, hi) =>
      assert(nReps == 32, s"$pri replicates: $nReps")
      assert(lo <= hi, s"$pri: CI inverted")
      // percentile-bootstrap CI of the mean should bracket the point
      // estimate on this data (deterministic — pinned)
      assert(lo <= mean && mean <= hi, s"$pri: $mean outside [$lo, $hi]")
      assert(n > 0)
    }
  }

  test("q-digest: point mass collapses every quantile to the value") {
    val qd = new graft.functions.QDigestQuantiles(14, 64, Seq(100, 5000, 9900))
    val buf = (1 to 5000).foldLeft(qd.zero)((b, _) => qd.reduce(b, 777L))
    assert(qd.finish(buf) == Seq(777L, 777L, 777L))
    // out-of-universe values clamp to the extreme leaves, never throw
    val clamped = qd.reduce(qd.reduce(qd.zero, -5L), 1L << 60)
    val mass = (0 until clamped(0).toInt).map(i => clamped(2 + 2 * i)).sum
    assert(mass == 2L)
  }

  test("HLL: exact in linear-counting range, merge = single-pass, error bound holds") {
    val hll = new graft.functions.HllLongs(12)
    def hash(x: Long) = {
      // 64-bit splitmix — a decent stand-in for xxhash64 in unit tests
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // small range: LC should be near-exact at n << m
    val small = (1L to 500L).map(hash)
    val sk = small.foldLeft(hll.zero)(hll.reduce)
    val estSmall = hll.finish(sk)
    assert(math.abs(estSmall - 500L) <= 10L, s"LC estimate $estSmall")
    // duplicates are absorbed: feeding the stream twice changes nothing
    val sk2 = small.foldLeft(small.foldLeft(hll.zero)(hll.reduce))(hll.reduce)
    assert(hll.finish(sk2) == estSmall)
    // merge algebra: split-merge equals single-pass, any order
    val big = (1L to 60000L).map(hash)
    val (l, r) = big.splitAt(17000)
    val one = big.foldLeft(hll.zero)(hll.reduce)
    val merged = hll.merge(
      r.foldLeft(hll.zero)(hll.reduce), l.foldLeft(hll.zero)(hll.reduce))
    assert(java.util.Arrays.equals(one, merged))
    // raw-estimator range: within 3 rsd = 4.9% at p=12
    val est = hll.finish(one)
    assert(math.abs(est - 60000L) <= 60000L * 5 / 100, s"estimate $est")
  }

  test("q199: bitmap popcount overlap equals brute-force set intersection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q199BitmapOverlap(spark, d).collect()
    assert(got.nonEmpty)
    val active = graft.io.Tables.orders(spark, d)
      .filter(year($"o_orderdate") === 1995)
      .select(month($"o_orderdate").cast("long"), $"o_custkey")
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).toSet }
    got.foreach { r =>
      val (a, b) = (active(r.getAs[Long]("m1")), active(r.getAs[Long]("m2")))
      assert(r.getAs[Long]("n_m1") == a.size.toLong)
      assert(r.getAs[Long]("n_m2") == b.size.toLong)
      assert(r.getAs[Long]("n_both") == (a & b).size.toLong)
    }
    val pairs = got.map(r => (r.getAs[Long]("m1"), r.getAs[Long]("m2"))).toSet
    // every month pair with a shared bucket surfaces; with 1995 fully
    // populated that is all 66 ordered pairs
    assert(pairs.size == got.length)
  }

  test("q200: trimmed/winsorized means match brute force on sorted values") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q200TrimmedMean(spark, d).collect()
    assert(got.nonEmpty)
    val rows = graft.io.Tables.orders(spark, d)
      .select($"o_orderpriority",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
      .as[(String, Long)].collect()
    got.foreach { r =>
      val xs = rows.filter(_._1 == r.getAs[String]("prio")).map(_._2).sorted
      val n = xs.length
      val lo = n / 10
      val mid = xs.slice(lo, n - lo)
      assert(r.getAs[Long]("n") == n.toLong)
      assert(r.getAs[Long]("p10_cents") == xs(lo))
      assert(r.getAs[Long]("p90_cents") == xs(n - lo - 1))
      assert(r.getAs[Long]("trimmed_mean_cents") == mid.sum / mid.length)
      val winSum = mid.sum + lo * xs(lo) + lo * xs(n - lo - 1)
      assert(r.getAs[Long]("winsor_mean_cents") == winSum / n)
      // robustness direction: both estimators sit inside the value range
      assert(r.getAs[Long]("trimmed_mean_cents") >= xs.head &&
        r.getAs[Long]("trimmed_mean_cents") <= xs.last)
    }
  }

  test("q221: KS statistic matches a brute-force ECDF sweep") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Stats.q221KsTest(spark, d).head()
    val vals = graft.io.Tables.documents(spark, d)
      .filter($"source".isin("src0", "src1"))
      .select($"source", $"n_chars").as[(String, Long)].collect()
    val a = vals.filter(_._1 == "src0").map(_._2).sorted
    val b = vals.filter(_._1 == "src1").map(_._2).sorted
    assert(r.getAs[Long]("n1") == a.length.toLong)
    assert(r.getAs[Long]("n2") == b.length.toLong)
    val pooled = (a ++ b).distinct.sorted
    val dNum = pooled.map { v =>
      val c1 = a.count(_ <= v).toLong; val c2 = b.count(_ <= v).toLong
      math.abs(c1 * b.length - c2 * a.length)
    }.max
    assert(r.getAs[Long]("d_num") == dNum)
    assert(r.getAs[Long]("d_bp") == dNum * 10000 / (a.length.toLong * b.length))
    assert(r.getAs[Boolean]("reject") ==
      (r.getAs[Long]("d_bp") > r.getAs[Long]("crit_bp")))
  }

  test("q222: provenance cells match brute-force prefix-key intersections") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Dedup.q222DupProvenance(spark, d).collect()
    assert(got.nonEmpty, "prefix key must collide on this corpus")
    val hs = graft.io.Tables.documents(spark, d)
      .select(graft.functions.Fns.hash60(
        array_join(slice(graft.functions.Fns.tokens($"text"), 1, 5), " ")).as("h"),
        $"source")
      .as[(Long, String)].collect()
    got.foreach { r =>
      val (s1, s2) = (r.getAs[String]("src1"), r.getAs[String]("src2"))
      val want =
        if (s1 == s2)
          hs.filter(_._2 == s1).groupBy(_._1).count(_._2.length >= 2).toLong
        else {
          val h1 = hs.filter(_._2 == s1).map(_._1).toSet
          val h2 = hs.filter(_._2 == s2).map(_._1).toSet
          (h1 & h2).size.toLong
        }
      assert(r.getAs[Long]("n_hashes") == want, s"cell ($s1,$s2)")
    }
  }

  test("q223: gains are monotone to 10000bp; lift decreasing toward 10000") {
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q223GainsCurve(spark, d).collect()
    assert(got.length == 10)
    assert(got.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    var prevGain = 0L
    got.foreach { r =>
      val g = r.getAs[Long]("gain_bp")
      assert(g >= prevGain, "cumulative gains must be monotone")
      prevGain = g
    }
    assert(got.last.getAs[Long]("gain_bp") == 10000L, "full capture at decile 10")
    assert(got.last.getAs[Long]("lift_bp") == 10000L, "lift converges to 1")
    // total positives reconcile
    val pos = got.map(_.getAs[Long]("pos_d")).sum
    assert(pos > 0L)
  }

  test("q220: Hill estimator matches brute force on the top-k tail") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Stats.q220HillTail(spark, d).head()
    assert(r.getAs[Long]("k") == 100L)
    val cents = graft.io.Tables.orders(spark, d)
      .select(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
      .as[Long].collect().sorted(Ordering[Long].reverse).take(101)
    val xk = cents.last
    assert(r.getAs[Long]("xk_cents") == xk)
    val sum = cents.init.map(c =>
      math.floor(math.log(c.toDouble / xk) * 1e6).toLong).sum
    assert(r.getAs[Long]("sum_ln_micro") == sum)
    assert(r.getAs[Long]("hill_micro") == sum / 100)
    assert(r.getAs[Long]("alpha_milli") == 1000000000L / (sum / 100))
    // TPC-H totals are NOT heavy-tailed: alpha should be large (> 3)
    assert(r.getAs[Long]("alpha_milli") > 3000L)
  }

  test("q219: burstiness is -1 for periodic gaps, ~0 for Poisson, in [-1,1] on data") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Behavior.q219Burstiness(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val b = r.getAs[Long]("burst_bp")
      assert(b >= -10000L && b <= 10000L, s"B out of range: $r")
      assert(r.getAs[Long]("n") >= 1L && r.getAs[Long]("mean_sec") >= 0L)
    }
    // the statistic itself: constant gaps → B = -1 exactly
    def bOf(gaps: Seq[Long]): Double = {
      val n = gaps.length.toDouble
      val mu = gaps.sum / n
      val sd = math.sqrt(gaps.map(g => (g - mu) * (g - mu)).sum / n)
      (sd - mu) / (sd + mu)
    }
    assert(bOf(Seq(10L, 10L, 10L, 10L)) == -1.0)
    // exponential-ish spread: B near 0 (within 0.35 for this small sample)
    assert(math.abs(bOf(Seq(1L, 3L, 7L, 15L, 2L, 5L, 30L, 9L))) < 0.35)
  }

  test("q218: dequantization error bounded by the scalar step; cosine stays high") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Similarity.q218QuantizationAudit(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      // int8 with per-vector scale keeps relative SSE small and cosine
      // near 1e4 bp on any non-degenerate vectors
      assert(r.getAs[Long]("avg_rel_err_bp") <= r.getAs[Long]("max_rel_err_bp"))
      assert(r.getAs[Long]("max_rel_err_bp") < 100L,
        s"rel err above 1%: $r")
      assert(r.getAs[Long]("min_cos_bp") >= 9990L, s"cosine degraded: $r")
      assert(r.getAs[Long]("n_vecs") > 0L)
    }
  }

  test("q213: Wilson interval brackets p-hat and stays inside [0, 1e6]") {
    val d = "/root/testdata/sf0.001"
    val got = Stats.q213WilsonCi(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (lo, hi, p) = (r.getAs[Long]("lo_ppm"), r.getAs[Long]("hi_ppm"),
        r.getAs[Long]("p_ppm"))
      assert(lo >= 0L && hi <= 1000000L, s"bounds escaped [0,1]: $r")
      assert(lo <= p && p <= hi, s"interval must bracket p-hat: $r")
      // brute-force the Wilson bounds
      val (n, succ) = (r.getAs[Long]("n").toDouble, r.getAs[Long]("succ").toDouble)
      val z2 = 1.96 * 1.96
      val ph = succ / n
      val center = (ph + z2 / (2 * n)) / (1 + z2 / n)
      val hw = 1.96 * math.sqrt(ph * (1 - ph) / n + z2 / (4 * n * n)) / (1 + z2 / n)
      assert(lo == math.floor((center - hw) * 1e6).toLong)
      assert(hi == math.floor((center + hw) * 1e6).toLong)
    }
  }

  test("q229: flagged days exceed 5x the brute-force residual MAD") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q229AnomalyDays(spark, d).collect()
    assert(got.nonEmpty, "sf0.001 should flag at least one day")
    // brute-force the residual series (same replay as the q212 spec)
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
      .select($"day".cast("string"), $"x").as[(String, Long)].collect()
      .map { case (s0, x) => (java.time.LocalDate.parse(s0), x) }.sortBy(_._1)
    val byDay = daily.toMap
    val dt = daily.map { case (day, x) =>
      val neigh = (-3 to 3).flatMap(o => byDay.get(day.plusDays(o.toLong)))
      (day, x, x - neigh.sum / neigh.size)
    }
    val seas = dt.groupBy(_._1.getDayOfWeek.getValue).map { case (dow, xs) =>
      dow -> math.floor(xs.map(_._3).sum.toDouble / xs.length).toLong
    }
    val resid = dt.map { case (day, x, v) =>
      (day, x, v - seas(day.getDayOfWeek.getValue))
    }
    val sortedAbs = resid.map(r => math.abs(r._3)).sorted
    var cum = 0L
    val madWant = sortedAbs.find { _ => cum += 1; cum * 2 >= sortedAbs.length }.get
    val flagged = resid.filter(r => math.abs(r._3) > madWant * 5)
    assert(got.length == flagged.length,
      s"flag count ${got.length} != brute ${flagged.length}")
    got.foreach { r =>
      assert(r.getAs[Long]("mad") == madWant)
      assert(math.abs(r.getAs[Long]("resid")) > madWant * 5)
      assert(r.getAs[Long]("is_spike") == (if (r.getAs[Long]("resid") > 0) 1L else 0L))
    }
  }

  test("q212: decomposition matches a brute-force trend/seasonal/residual replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Windows.q212SeasonalDecomp(spark, d).collect()
    assert(got.length == 7)
    assert(got.map(_.getAs[Long]("dow")).toSeq == (1L to 7L))
    val ve = got.head.getAs[Long]("var_explained_bp")
    got.foreach(r => assert(r.getAs[Long]("var_explained_bp") == ve))
    assert(ve <= 10000L)
    // brute force the whole decomposition on the collected daily series
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
      .select($"day".cast("string"), $"x").as[(String, Long)].collect()
      .map { case (s0, x) => (java.time.LocalDate.parse(s0), x) }.sortBy(_._1)
    val byDay = daily.toMap
    val dt = daily.map { case (day, x) =>
      val neigh = (-3 to 3).flatMap(o => byDay.get(day.plusDays(o.toLong)))
      val trend = Math.floorDiv(neigh.sum, neigh.size.toLong)
      (day.getDayOfWeek.getValue.toLong, x - trend)
    }
    val seas = dt.groupBy(_._1).map { case (dow, xs) =>
      dow -> math.floor(xs.map(_._2).sum.toDouble / xs.length).toLong
    }
    got.foreach { r =>
      assert(r.getAs[Long]("seasonal") == seas(r.getAs[Long]("dow")),
        s"seasonal mismatch at dow ${r.getAs[Long]("dow")}")
    }
    val ssDt = dt.map(t => t._2 * t._2).sum
    val ssRes = dt.map { case (dow, v) => val e = v - seas(dow); e * e }.sum
    assert(ve == math.floor((ssDt - ssRes) * 10000.0 / ssDt).toLong)
  }

  test("q209: LOO extremes match brute force; encoding excludes own label") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q209LooEncoding(spark, d).collect()
    assert(got.nonEmpty)
    val rows = graft.io.Tables.lineitem(spark, d)
      .join(graft.io.Tables.part(spark, d), $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"l_quantity".cast("long"))
      .as[(String, Long)].collect()
    got.foreach { r =>
      val ys = rows.filter(_._1 == r.getAs[String]("brand")).map(_._2)
      assert(r.getAs[Long]("n") == ys.length.toLong)
      val sum = ys.sum
      assert(r.getAs[Long]("sum_y") == sum)
      if (ys.length > 1) {
        val loos = ys.map(y => (sum - y) * 1000000L / (ys.length - 1))
        assert(r.getAs[Long]("loo_min_micro") == loos.min)
        assert(r.getAs[Long]("loo_max_micro") == loos.max)
        // LOO of the max label is the MINIMUM encoding (own label excluded)
        assert(loos.min == (sum - ys.max) * 1000000L / (ys.length - 1))
      }
    }
  }

  test("q211: Gini matches brute-force Lorenz computation and sits in [0,1)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q211Gini(spark, d).collect()
    assert(got.nonEmpty)
    val cust = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_custkey")
      .agg(sum(floor($"o_totalprice").cast("long")).as("x"))
      .select($"c_mktsegment", $"x").as[(String, Long)].collect()
    got.foreach { r =>
      val xs = cust.filter(_._1 == r.getAs[String]("seg")).map(_._2).sorted
      val n = xs.length.toLong
      val sx = xs.sum
      val rw = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val bp = (2 * rw - (n + 1) * sx) * 10000 / (n * sx)
      assert(r.getAs[Long]("gini_bp") == bp)
      assert(bp >= 0 && bp < 10000)
    }
  }

  test("q207: WOE decile counts partition the table; IV contributions have WOE's sign") {
    val d = "/root/testdata/sf0.001"
    val got = Stats.q207WoeIv(spark, d).collect()
    assert(got.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val nTot = graft.io.Tables.orders(spark, d).count()
    assert(got.map(_.getAs[Long]("n")).sum == nTot)
    // ntile balance: deciles differ by at most one row
    val ns = got.map(_.getAs[Long]("n"))
    assert(ns.max - ns.min <= 1L)
    got.foreach { r =>
      assert(r.getAs[Long]("n_bad") + r.getAs[Long]("n_good") == r.getAs[Long]("n"))
      // iv term = (gs-bs)*ln(gs/bs) >= 0 up to the floor's -1; and it
      // must carry WOE's sign direction: ln>0 iff gs>bs
      assert(r.getAs[Long]("iv_micro") >= -1L)
    }
  }

  test("q208: ring assignment matches a brute-force successor lookup; all docs assigned") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val rows = graft.operators.Curation.q208HashRing(spark, d).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.io.Tables.documents(spark, d).count())
    // brute force: rebuild the 128-point ring and assign each doc
    def h60(x: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val ring = for (sh <- 0 until 8; v <- 0 until 16)
      yield (h60(s"shard:$sh:$v"), sh.toLong)
    val sortedRing = ring.sortBy(_._1)
    def owner(pos: Long): Long =
      sortedRing.find(_._1 >= pos).getOrElse(sortedRing.head)._2
    val docs = graft.io.Tables.documents(spark, d)
      .select($"doc_id").as[Long].collect()
    val want = docs.groupBy(id => owner(h60(id.toString)))
      .map { case (sh, xs) => sh -> xs.length.toLong }
    rows.foreach { r =>
      assert(want(r.getAs[Long]("shard")) == r.getAs[Long]("n_docs"),
        s"shard ${r.getAs[Long]("shard")}")
    }
  }

  test("q206: exact self-join size matches brute force; key-sampling beats row-sampling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Stats.q206JoinSizeEst(spark, d).head()
    val counts = graft.io.Tables.lineitem(spark, d)
      .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
      .select($"c").as[Long].collect()
    assert(r.getAs[Long]("exact_size") == counts.map(c => c * c).sum)
    assert(r.getAs[Long]("key_err_bp") ==
      math.abs(r.getAs[Long]("key_est") - r.getAs[Long]("exact_size")) * 10000 /
        r.getAs[Long]("exact_size"))
    // the headline planner lesson on this (and any non-degenerate) data
    assert(r.getAs[Long]("key_err_bp") < r.getAs[Long]("row_err_bp"),
      s"key sampling should beat row sampling: $r")
  }

  test("q194: U identity pinned at 0 and rank sums match brute-force ranking") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Stats.q194RankSum(spark, d).head()
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    assert(na > 0 && nb > 0)
    assert(r.getAs[Long]("u2_identity") == 0L)
    // total doubled rank sum over both groups = n(n+1)
    val n = na + nb
    assert(r.getAs[Long]("r2_a") + r.getAs[Long]("r2_b") == n * (n + 1))
    // brute force: average-rank with ties on the collected values
    val vals = graft.io.Tables.documents(spark, d)
      .filter($"source".isin("src0", "src1"))
      .select($"source", $"n_chars").as[(String, Long)].collect()
    val sorted = vals.map(_._2).sorted
    val first = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).min }
    val count = sorted.groupBy(identity).map { case (v, xs) => v -> xs.length }
    def rank2(v: Long) = 2L * first(v) + count(v) + 1 // 2*(avg 1-based rank)
    val r2a = vals.filter(_._1 == "src0").map(t => rank2(t._2)).sum
    assert(r.getAs[Long]("r2_a") == r2a, s"r2_a ${r.getAs[Long]("r2_a")} != $r2a")
  }

  test("q197: weighted median crosses half the weight and matches brute force") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q197WeightedMedian(spark, d).collect()
    assert(got.nonEmpty)
    val rows = graft.io.Tables.lineitem(spark, d)
      .select($"l_returnflag",
        ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"),
        $"l_quantity".cast("long"))
      .as[(String, Long, Long)].collect()
    got.foreach { r =>
      val flag = r.getAs[String]("flag")
      val xs = rows.filter(_._1 == flag).map(t => (t._2, t._3)).sortBy(_._1)
      val tot = xs.map(_._2).sum
      assert(r.getAs[Long]("total_weight") == tot)
      var cum = 0L
      val wm = xs.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
      assert(r.getAs[Long]("wmedian_cents") == wm, s"$flag: expected $wm")
      // at least half the weight sits at or below the median, and
      // strictly less than half sits strictly below it
      val below = xs.filter(_._1 < wm).map(_._2).sum
      val atOrBelow = xs.filter(_._1 <= wm).map(_._2).sum
      assert(atOrBelow * 2 >= tot && below * 2 < tot)
    }
  }

  test("q231: Welch t matches a direct two-sample recomputation") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Stats.q231WelchTtest(spark, d).collect().head
    val cents = graft.io.Tables.orders(spark, d)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .select($"o_orderpriority" === "1-URGENT",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
      .as[(Boolean, Long)].collect()
    def stats(xs: Array[Double]) = {
      val n = xs.length.toDouble
      val m = xs.sum / n
      (n, m, xs.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    val (n1, m1, v1) = stats(cents.filter(_._1).map(_._2.toDouble))
    val (n2, m2, v2) = stats(cents.filterNot(_._1).map(_._2.toDouble))
    assert(r.getAs[Long]("n1") == n1.toLong && r.getAs[Long]("n2") == n2.toLong)
    val se2 = v1 / n1 + v2 / n2
    val t = (m1 - m2) / math.sqrt(se2)
    val df = se2 * se2 /
      (v1 * v1 / (n1 * n1 * (n1 - 1)) + v2 * v2 / (n2 * n2 * (n2 - 1)))
    // centered recomputation vs the query's raw-moment form: equal to
    // within floating dust, so compare at milli ± 1
    assert(math.abs(r.getAs[Long]("t_milli") - math.floor(t * 1000).toLong) <= 1,
      s"t drift: got ${r.getAs[Long]("t_milli")} want ~${t * 1000}")
    assert(math.abs(r.getAs[Long]("df_milli") - math.floor(df * 1000).toLong) <= 1)
    // Welch df is bounded by min(n1,n2)-1 below and n1+n2-2 above
    assert(r.getAs[Long]("df_milli") >= 1000L * (math.min(n1, n2).toLong - 1)
      && r.getAs[Long]("df_milli") <= 1000L * (n1 + n2).toLong)
  }

  test("q234: MI of an independent assignment is tiny; NMI bounded; entropies sane") {
    val d = "/root/testdata/sf0.001"
    val r = Stats.q234MutualInfo(spark, d).collect().head
    val n = r.getAs[Long]("n")
    assert(n == graft.io.Tables.customer(spark, d).count())
    val mi = r.getAs[Long]("mi_micro")
    val hx = r.getAs[Long]("hx_micro")
    val hy = r.getAs[Long]("hy_micro")
    // H(segment) ≤ ln 5, H(nation) ≤ ln 25 (micro-nats, floor dust ≤ |cells|)
    assert(hx > 0 && hx <= math.floor(math.log(5.0) * 1e6).toLong + 1)
    assert(hy > 0 && hy <= math.floor(math.log(25.0) * 1e6).toLong + 1)
    // MI ≥ -(term floor dust); independence keeps it far below entropy
    assert(mi >= -200L, s"MI floor dust out of range: $mi")
    assert(mi < math.min(hx, hy) / 4, s"segment⊥nation violated: $mi")
    val nmi = r.getAs[Long]("nmi_milli")
    assert(nmi >= -1L && nmi <= 1000L, s"NMI out of range: $nmi")
  }

  test("q244: the three effects sum exactly to the revenue delta") {
    val d = "/root/testdata/sf0.001"
    val got = Stats.q244MixDecomposition(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("volume_effect") + r.getAs[Long]("rate_effect")
        + r.getAs[Long]("interaction") == r.getAs[Long]("delta"),
        s"effects do not telescope: $r")
      // volume effect carries the sign of the count change
      val dn = r.getAs[Long]("n1") - r.getAs[Long]("n0")
      val ve = r.getAs[Long]("volume_effect")
      assert(dn == 0 && ve == 0 || dn * ve >= 0, s"volume sign: $r")
    }
  }

  test("q245: CUPED theta and rho2 match a direct covariance computation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Stats.q245Cuped(spark, d).collect().head
    val xs = graft.io.Tables.orders(spark, d)
      .filter(year($"o_orderdate").isin(1995, 1996))
      .groupBy($"o_custkey")
      .agg(
        expr("coalesce(sum(CASE WHEN year(o_orderdate) = 1995 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) div 100").as("x"),
        expr("coalesce(sum(CASE WHEN year(o_orderdate) = 1996 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) div 100").as("y"))
      .as[(Long, Long, Long)].collect()
    val n = xs.length.toDouble
    val mx = xs.map(_._2).sum / n; val my = xs.map(_._3).sum / n
    val cov = xs.map(t => (t._2 - mx) * (t._3 - my)).sum
    val vx = xs.map(t => (t._2 - mx) * (t._2 - mx)).sum
    val vy = xs.map(t => (t._3 - my) * (t._3 - my)).sum
    assert(r.getAs[Long]("n") == xs.length.toLong)
    assert(math.abs(r.getAs[Long]("theta_micro") -
      math.floor(1e6 * cov / vx).toLong) <= 1)
    val rho2 = r.getAs[Long]("rho2_bp")
    assert(math.abs(rho2 - math.floor(1e4 * cov * cov / (vx * vy)).toLong) <= 1)
    assert(rho2 >= 0 && rho2 <= 10000)
  }

  test("q250: monthly percentiles satisfy the exact crossing property") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q250LatencyTrend(spark, d).collect()
    assert(got.nonEmpty)
    val lat = graft.io.Tables.lineitem(spark, d)
      .join(graft.io.Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .select(date_format($"o_orderdate", "yyyy-MM"),
        datediff(to_date($"l_shipdate"), to_date($"o_orderdate")).cast("long"))
      .as[(String, Long)].collect()
    got.foreach { r =>
      val m = r.getAs[String]("month")
      val xs = lat.filter(_._1 == m).map(_._2).sorted
      assert(r.getAs[Long]("n_items") == xs.length.toLong)
      assert(r.getAs[Long]("min_days") == xs.head)
      Seq(50 -> "p50_days", 90 -> "p90_days", 99 -> "p99_days").foreach {
        case (pct, colName) =>
          val v = r.getAs[Long](colName)
          val atOrBelow = xs.count(_ <= v).toLong
          val below = xs.count(_ < v).toLong
          assert(atOrBelow * 100 >= xs.length.toLong * pct, s"$m $colName low")
          assert(below * 100 < xs.length.toLong * pct, s"$m $colName not minimal")
      }
      assert(r.getAs[Long]("p50_days") <= r.getAs[Long]("p90_days"))
      assert(r.getAs[Long]("p90_days") <= r.getAs[Long]("p99_days"))
    }
  }

  test("q253: grouped regression matches a direct per-brand least squares") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = Stats.q253Elasticity(spark, d).collect()
      .map(r => r.getAs[String]("brand") ->
        (r.getAs[Long]("n_months"), r.getAs[Long]("slope_milli"),
          r.getAs[Long]("r_bp"))).toMap
    assert(got.nonEmpty)
    val xy = graft.io.Tables.lineitem(spark, d)
      .join(graft.io.Tables.part(spark, d), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", date_format($"l_shipdate", "yyyy-MM"))
      .agg(sum($"l_quantity".cast("long")).as("q"),
        sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long")).as("rev"))
      .select($"p_brand",
        floor(log(expr("CAST(rev div q AS DOUBLE)")) * lit(1e6)).cast("long"),
        floor(log($"q".cast("double")) * lit(1e6)).cast("long"))
      .as[(String, Long, Long)].collect()
    xy.groupBy(_._1).foreach { case (brand, rows) =>
      if (rows.length >= 12) {
        val n = rows.length.toDouble
        val sx = rows.map(_._2).sum.toDouble; val sy = rows.map(_._3).sum.toDouble
        val sxx = rows.map(t => t._2.toDouble * t._2).sum
        val syy = rows.map(t => t._3.toDouble * t._3).sum
        val sxy = rows.map(t => t._2.toDouble * t._3).sum
        val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        val rr = (n * sxy - sx * sy) /
          (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
        val (gn, gs, gr) = got(brand)
        assert(gn == rows.length.toLong)
        assert(math.abs(gs - math.floor(slope * 1000).toLong) <= 1, s"$brand slope")
        assert(math.abs(gr - math.floor(rr * 10000).toLong) <= 1, s"$brand r")
        assert(gr >= -10000 && gr <= 10000)
      } else assert(!got.contains(brand))
    }
  }

  test("q255: z matches a direct two-proportion computation") {
    val r = Stats.q255FunnelZtest(spark, "/root/testdata/sf0.001").collect().head
    val (n1, k1) = (r.getAs[Long]("n1"), r.getAs[Long]("k1"))
    val (n2, k2) = (r.getAs[Long]("n2"), r.getAs[Long]("k2"))
    assert(n1 > 0 && n2 > 0 && k1 <= n1 && k2 <= n2)
    val p1 = k1.toDouble / n1; val p2 = k2.toDouble / n2
    val p = (k1 + k2).toDouble / (n1 + n2)
    assert(p > 0 && p < 1, "fixture degenerate — bounded gate failed")
    val z = (p1 - p2) / math.sqrt(p * (1 - p) * (1.0 / n1 + 1.0 / n2))
    assert(math.abs(r.getAs[Long]("z_milli") - math.floor(z * 1000).toLong) <= 1)
    assert(r.getAs[Boolean]("reject") == (math.abs(r.getAs[Long]("z_milli")) > 1960))
    assert(r.getAs[Long]("rate1_bp") == 10000 * k1 / n1)
  }

  test("q262: F and eta2 match a direct ANOVA decomposition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Stats.q262Anova(spark, d).collect().head
    val xs = graft.io.Tables.orders(spark, d)
      .select($"o_orderpriority",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"))
      .as[(String, Long)].collect()
    val n = xs.length.toDouble
    val mean = xs.map(_._2).sum / n
    val groups = xs.groupBy(_._1).values
    val ssb = groups.map { g =>
      val gn = g.length.toDouble; val gm = g.map(_._2).sum / gn
      gn * (gm - mean) * (gm - mean) }.sum
    val ssw = groups.map { g =>
      val gm = g.map(_._2).sum / g.length.toDouble
      g.map(t => (t._2 - gm) * (t._2 - gm)).sum }.sum
    val k = groups.size.toDouble
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val eta2 = ssb / (ssb + ssw)
    assert(r.getAs[Long]("k") == groups.size.toLong)
    assert(r.getAs[Long]("n_total") == xs.length.toLong)
    // centered vs raw-moment forms agree to floating dust
    assert(math.abs(r.getAs[Long]("f_milli") - math.floor(f * 1000).toLong) <= 1,
      s"F ${r.getAs[Long]("f_milli")} vs $f")
    assert(math.abs(r.getAs[Long]("eta2_bp") - math.floor(eta2 * 10000).toLong) <= 1)
  }

  test("q367: MDE curves match a direct recomputation; the two curves invert each other") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{sum, year}
    val d = "/root/testdata/sf0.001"
    val rows = graft.operators.Stats.q367MdePlanner(spark, d)
      .as[(String, Long, Long)].collect()
    assert(rows.length == 12)
    // direct sufficient-stat replay
    val spend = graft.io.Tables.orders(spark, d)
      .filter(year($"o_orderdate") === 1996)
      .groupBy($"o_custkey")
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .as[(Long, Long)].collect().map(_._2)
    val n = spend.length.toDouble
    val mean = spend.map(_.toDouble).sum / n
    val s2 = spend.map(c => BigInt(c) * BigInt(c)).sum
    val vr = (s2.toDouble - spend.map(_.toDouble).sum * spend.map(_.toDouble).sum / n) / (n - 1.0)
    val z = 2.801585
    val m = rows.map(r => (r._1, r._2) -> r._3).toMap
    Seq(1000L, 10000L, 100000L, 1000000L).foreach { g =>
      val mde = z * math.sqrt(2.0 * vr / g)
      assert(m(("mde_cents_at_n", g)) == math.floor(mde).toLong)
      assert(m(("mde_bp_at_n", g)) == math.floor(10000.0 * mde / mean).toLong)
    }
    Seq(100L, 200L, 500L, 1000L).foreach { bp =>
      val delta = mean * bp / 10000.0
      assert(m(("n_for_mde_bp", bp)) ==
        math.ceil(2.0 * vr * z * z / delta / delta).toLong)
    }
    // inversion: sizing for the MDE that n=10000 delivers lands near 10000
    val bpAt10k = m(("mde_bp_at_n", 10000L))
    val nBack = 2.0 * vr * z * z / (mean * bpAt10k / 10000.0) / (mean * bpAt10k / 10000.0)
    assert(math.abs(nBack - 10000.0) / 10000.0 < 0.02) // bp floor dust only
    // MDE shrinks with n; required n shrinks with larger MDE
    val mdes = Seq(1000L, 10000L, 100000L, 1000000L).map(g => m(("mde_cents_at_n", g)))
    assert(mdes == mdes.sortBy(-_))
  }

  test("q403: two price clusters — one bucket pays the full SSE, two pay zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vopt").toString
    // 6 orders at $10.00 (bin 0), 6 at $100.00 (bin 255):
    // cost_1 = 6·255² − (6·255)² div 12 = 390150 − 195075 = 195075,
    // cost_k = 0 for every k ≥ 2 (each cluster its own bucket)
    ((1 to 6).map(i => (i.toLong, 10.00)) ++
      (7 to 12).map(i => (i.toLong, 100.00)))
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Stats.q403VoptimalHist(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 8L))
    assert(got.head == ((1L, 195075L, 0L)))
    assert(got(1) == ((2L, 0L, 195075L)))          // all gain arrives at k=2
    assert(got.drop(2).forall(r => r._2 == 0L && r._3 == 0L))
  }

  /** q403 on a local `orders` fixture (ADVICE r15 #4), run by Spark
    * and, through DuckDB, by its oracle twin; both as sorted
    * (k, total_sse, marginal_gain) rows. */
  private def q403BothEngines(prices: Seq[Option[Double]])
      : (Seq[(Long, Long, Long)], Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vopt-edge").toString
    prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Stats.q403VoptimalHist(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // Spark writes orders.parquet as a directory of part files
    val duck =
      """import duckdb, sys
        |con = duckdb.connect()
        |con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sys.argv[1]}/orders.parquet/*.parquet'")
        |for r in con.execute(sys.stdin.read()).fetchall(): print(*r)""".stripMargin
    val sql = new java.io.ByteArrayInputStream(
      operators.Stats.q403Oracle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (out, err) = (new StringBuilder, new StringBuilder)
    val rc = (scala.sys.process.Process(Seq("python3", "-c", duck, dir)) #< sql)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'),
        l => err.append(l).append('\n')))
    assert(rc == 0, s"DuckDB oracle run failed:\n$err")
    val want = out.toString.linesIterator.filter(_.nonEmpty)
      .map(_.split(" ").map(_.toLong))
      .map { case Array(k, sse, gain) => (k, sse, gain) }.toSeq.sortBy(_._1)
    (got, want)
  }

  test("q403: an empty orders table gives 8 zero rows in both engines (ADVICE r15 #4)") {
    val (got, want) = q403BothEngines(Seq.empty)
    assert(got == want, s"spark $got vs oracle $want")
    assert(got == (1L to 8L).map(k => (k, 0L, 0L)))
  }

  test("q403: a null o_totalprice runs and matches the oracle (ADVICE r15 #4)") {
    // the null price is left out: it used to land in bin 255 through
    // least(255, NULL), in both engines
    val prices = Seq.fill(6)(Some(10.00)) ++ Seq.fill(6)(Some(100.00))
    val (got, want) = q403BothEngines(prices :+ None)
    val (gotNonNull, wantNonNull) = q403BothEngines(prices)
    assert(got.map(_._1) == (1L to 8L))
    assert(got == want, s"spark $got vs oracle $want")
    assert(got == gotNonNull, s"spark: 13 rows $got vs the 12 non-null rows $gotNonNull")
    assert(want == wantNonNull, s"oracle: 13 rows $want vs the 12 non-null rows $wantNonNull")
  }

  test("q374: pass@k matches exact binomial ratios; degenerate rows pin to 0/1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("passk").toString
    // A: 10 trials 0 successes -> pass 0 at every k. B: 10/10 -> 1.
    // C: 12 trials 2 successes -> 1 - C(10,k)/C(12,k):
    //   k=1: 1-10/12 = 166666 micro; k=5: 1-252/792 = 681818;
    //   k=10: 1-1/66 = 984848.
    val rows =
      (1 to 10).map(i => (1L, i.toLong, "9-OTHER")) ++
      (1 to 10).map(i => (2L, 100L + i, "1-URGENT")) ++
      (1 to 12).map(i => (3L, 200L + i,
        if (i <= 2) "1-URGENT" else "9-OTHER")) ++
      (1 to 5).map(i => (4L, 300L + i, "1-URGENT")) // < 10 trials: excluded
    rows.toDF("o_custkey", "o_orderkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Stats.q374PassAtK(spark, dir)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 3L, (0L + 1000000L + 166666L) / 3, 1L))
    assert(got(5L) == (5L, 3L, (0L + 1000000L + 681818L) / 3, 1L))
    assert(got(10L) == (10L, 3L, (0L + 1000000L + 984848L) / 3, 1L))
    // real corpus: pass@k is monotone non-decreasing in k
    val real = operators.Stats.q374PassAtK(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(real.map(_._1).toSeq == Seq(1L, 5L, 10L))
    val means = real.map(_._3)
    assert(means.zip(means.tail).forall { case (a, b) => a <= b })
    assert(real.map(_._2).distinct.length == 1) // same problem set at every k
  }

  test("q387: the four procedures nest; planted signal rejects everywhere, null nowhere") {
    import spark.implicits._
    // A/A corpus: all four procedures must report zero rejections
    val real = operators.Stats.q387MultipleTesting(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Boolean, Boolean, Boolean, Boolean)].collect()
    assert(real.length == 25)
    real.foreach { case (_, _, _, bonf, holm, hoch, bh) =>
      assert(!bonf && !holm && !hoch && !bh)
      // the power ordering is structural, not data-dependent
      assert(!bonf || holm); assert(!holm || hoch); assert(!hoch || bh)
    }
    // planted effect: nation A's odd orders pay 10x; B and C are null
    val dir = java.nio.file.Files.createTempDirectory("mt").toString
    Seq((0L, "A"), (1L, "B"), (2L, "C"))
      .toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    (1 to 60).map(i => (i.toLong, (i % 3).toLong))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (1 to 600).map { k =>
      val cust = (k % 60) + 1L
      val nat = cust % 3
      val price = if (nat == 0 && k % 2 == 1) 1000.0 + k % 7
        else 100.0 + k % 7
      (k.toLong, cust, price)
    }.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Stats.q387MultipleTesting(spark, dir)
      .as[(String, Long, Long, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A")._4 && got("A")._5 && got("A")._6 && got("A")._7)
    Seq("B", "C").foreach { n =>
      assert(!got(n)._4 && !got(n)._5 && !got(n)._6 && !got(n)._7)
    }
  }

  test("q386: clustering inflates the ratio SE; A/A never rejects") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ratio").toString
    // each arm: two whale customers (5 orders x $1000) and two small
    // ones (5 orders x $10). Order values cluster hard by customer, so
    // the delta-method SE must exceed the naive iid-order SE.
    val rows = for {
      arm <- 0 to 1; ci <- 0 until 4; oi <- 0 until 5
    } yield {
      val key = 2L * (10 * arm + ci) + arm // even for arm 0, odd for arm 1
      (key, key * 100 + oi, if (ci < 2) 1000.0 else 10.0)
    }
    rows.toDF("o_custkey", "o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val g = operators.Stats.q386RatioDelta(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().head
    val (kt, kc, rt, rc, diff, seD, seN, deff, z, reject) = g
    assert(kt == 4L && kc == 4L)
    // identical arms: r = (2*5*100000 + 2*5*1000)/20 = 50500 cents
    assert(rt == 50500000L && rc == 50500000L && diff == 0L && z == 0L)
    assert(!reject)
    // the clustering penalty is large and the naive SE hides it
    assert(seD > seN && deff > 1500L, s"deff $deff")
    // real corpus A/A: calibrated, and deff is sane (near 1 on
    // independent synthetic orders)
    val real = operators.Stats.q386RatioDelta(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().head
    assert(!real._10 && real._8 > 500L && real._8 < 2000L)
  }

  test("q378: best-of-n matches exact combinatorial expectation; curve is monotone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bon").toString
    // one problem with rewards 1..16 cents (prices 0.01..0.16)
    (1 to 16).map(i => (1L, i.toLong, i / 100.0))
      .toDF("o_custkey", "o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Stats.q378BestOfN(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // E[max_k] = sum_{i>=k} i * C(i-1,k-1)/C(16,k) in cents — replayed
    // with the op's EXACT left-fold (so milli floors land identically)
    // and cross-checked against the BigInt combinatorial ratio
    def C(n: Int, k: Int): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (BigInt(n - k + 1) to BigInt(n)).product / (BigInt(1) to BigInt(k)).product
    def expect(k: Int): Long = {
      val milli = (k to 16).map { i =>
        val w = if (k == 1) 1.0 / 16
          else k.toDouble / 16 * (0 to k - 2).foldLeft(1.0)((a, j) =>
            a * (i - 1 - j).toDouble / (16 - 1 - j))
        // the combinatorial identity the fold implements
        val exact = BigDecimal(C(i - 1, k - 1)) / BigDecimal(C(16, k))
        assert((BigDecimal(w) - exact).abs < 1e-9)
        math.floor(1000.0 * i * w).toLong
      }.sum
      milli / 1000
    }
    // k=1 is the plain mean: (1+..+16)/16 = 8.5 -> 8 after floor chain
    assert(got(1L) == 8L && got(1L) == expect(1))
    assert(got(4L) == expect(4) && got(16L) == expect(16))
    // k=16 selects the max with certainty
    assert(got(16L) == 16L)
    // diminishing-returns curve on the real corpus
    val real = operators.Stats.q378BestOfN(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(real.map(_._1).toSeq == Seq(1L, 4L, 16L))
    val m = real.map(_._3)
    assert(m(0) < m(1) && m(1) < m(2))
    assert(m(1) - m(0) > m(2) - m(1)) // concave in k
  }

  test("q290: power-analysis formula matches a direct recomputation; monotone in baseline") {
    import spark.implicits._
    val rows = graft.operators.Stats.q290PowerAnalysis(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, u, p1ppm, nArm) =>
      assert(p1ppm == 1000000L * u / n)
      val p1 = u.toDouble / n
      val p2 = 1.1 * p1
      val pbar = (p1 + p2) / 2.0
      val num = 1.959964 * math.sqrt(2.0 * pbar * (1.0 - pbar)) +
        0.841621 * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
      val expect = math.ceil(num * num / ((0.1 * p1) * (0.1 * p1))).toLong
      assert(nArm == expect)
    }
    // relative-MDE sizing shrinks as the baseline grows
    val byP1 = rows.sortBy(_._4)
    assert(byP1.map(_._5).toSeq == byP1.map(_._5).sortBy(-_).toSeq)
  }

  test("q291: mSPRT sequential replay matches; always-valid p is non-increasing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q291Msprt(spark, d)
      .as[(java.sql.Date, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // reference replay: day-level aggregates + the same formula
    val o = spark.read.parquet(s"$d/orders.parquet")
      .select(col("o_orderdate").cast("date").as("day"),
        floor(col("o_totalprice").cast("decimal(18,2)")).cast("long").as("usd"),
        (col("o_orderkey") % 2).as("arm"))
      .as[(java.sql.Date, Long, Long)].collect()
    val gn = o.length.toDouble
    val gs = o.map(_._2).sum.toDouble
    val gss = o.map(x => x._2 * x._2).sum.toDouble
    val sig2 = gss / gn - (gs / gn) * (gs / gn)
    val byDay = o.groupBy(_._1).toSeq.sortBy(_._1.toString)
    var (na, sa, nb, sb) = (0L, 0L, 0L, 0L)
    var maxLam = 1L
    val expected = byDay.map { case (day, rows) =>
      na += rows.count(_._3 == 0); sa += rows.filter(_._3 == 0).map(_._2).sum
      nb += rows.count(_._3 == 1); sb += rows.filter(_._3 == 1).map(_._2).sum
      (day, na, sa, nb, sb)
    }.filter(r => r._2 > 0 && r._4 > 0).map { case (day, na, sa, nb, sb) =>
      val dd = sa.toDouble / na - sb.toDouble / nb
      val v = 2.0 * sig2 / ((na + nb) / 2.0)
      val lam = math.sqrt(v / (v + sig2)) *
        math.exp(math.min(dd * dd * sig2 / (2.0 * v / 1.0 * (v + sig2)), 60.0))
      val lamMicro = math.floor(math.min(lam * 1e6, 1e15)).toLong
      maxLam = math.max(maxLam, math.max(lamMicro, 1L))
      val pval = math.min(10000L, 10000000000L / maxLam)
      (day, na, nb, math.floor(dd * 1e6).toLong, lamMicro, pval)
    }
    assert(got.toSeq.map(r => (r._1.toString, r._2, r._3, r._4, r._5, r._6)) ==
      expected.map(r => (r._1.toString, r._2, r._3, r._4, r._5, r._6)))
    // the always-valid guarantee: p never increases
    val ps = got.map(_._6)
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a })
  }

  test("q301: meta-analysis replay; A/A effects pool homogeneous") {
    import spark.implicits._
    val rows = graft.operators.Stats.q301MetaAnalysis(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    val segs = rows.filter(_._1 != "_META")
    val meta = rows.find(_._1 == "_META").get
    assert(segs.length == 5 && meta._2 == 5)
    // pooled effect lies within the per-segment effect envelope
    assert(meta._4 >= segs.map(_._4).min && meta._4 <= segs.map(_._4).max)
    // pooled SE beats every single segment's SE (inverse-variance pooling)
    assert(meta._5 <= segs.map(_._5).min)
    // I2 is consistent with Q and df = 4
    val q = meta._6 / 1000.0
    val expI2 = math.max(0L, math.floor((q - 4) / q * 10000).toLong)
    assert(meta._7 == expI2)
  }

  test("q302: SRM sentinel flags exactly the chi-threshold days") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q302SrmSentinel(spark, d)
      .as[(java.sql.Date, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, n0, n1, chi, warn, alert) =>
      assert(chi == math.floor((n0 - n1).toDouble * (n0 - n1) / (n0 + n1) * 1000.0).toLong)
      assert(warn == (if (chi > 3841) 1L else 0L))
      assert(alert == (if (chi > 10828) 1L else 0L))
    }
    // every warn-flagged day in the raw dailies appears in the output
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(when(col("o_orderkey") % 2 === 0, 1)).as("n0"),
        count(when(col("o_orderkey") % 2 === 1, 1)).as("n1"))
      .as[(java.sql.Date, Long, Long)].collect()
    val warnDays = daily.filter { case (_, n0, n1) =>
      math.floor((n0 - n1).toDouble * (n0 - n1) / (n0 + n1) * 1000.0) > 3841 }
      .map(_._1.toString).toSet
    assert(warnDays.subsetOf(got.map(_._1.toString).toSet))
  }

  test("q303: design effect reconciles with a direct ANOVA replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val r = graft.operators.Stats.q303ClusterDesign(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val (k, n, icc, deff, neff) = r
    val base = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("cl"),
        floor(col("o_totalprice").cast("decimal(18,2)")).cast("long").as("usd"))
      .as[(Long, Long)].collect()
    val byCl = base.groupBy(_._1).toSeq.sortBy(_._1)
    assert(k == byCl.length && n == base.length)
    // replay the cumulative-window accumulation in the same cl order
    var (cbs, cs, cq) = (0.0, 0L, 0L)
    byCl.foreach { case (_, rs) =>
      val sm = rs.map(_._2).sum
      cbs += sm.toDouble * sm / rs.length
      cs += sm; cq += rs.map(x => x._2 * x._2).sum
    }
    val msb = (cbs - cs.toDouble * cs / n) / (k - 1)
    val msw = (cq.toDouble - cbs) / (n - k)
    val iccExp = math.floor(
      (msb - msw) / (msb + (n.toDouble / k - 1) * msw) * 10000.0).toLong
    assert(icc == iccExp)
    assert(deff == math.floor(1000.0 + (n.toDouble / k - 1) * icc / 10.0).toLong)
    assert(neff == 1000L * n / deff)
  }

  test("q308: Spearman rho matches a midrank replay; bounded in [-1,1]") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q308Spearman(spark, d)
      .as[(String, Long, Long)].collect()
    assert(got.map(_._1).contains("_ALL"))
    got.foreach { case (_, _, rho) => assert(rho >= -10000L && rho <= 10000L) }
    // independent replay: classic midranks over the _ALL population
    val base = graft.io.Tables.customer(spark, d)
      .select(col("c_custkey"), (col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long").as("x"))
      .join(graft.io.Tables.orders(spark, d)
        .groupBy(col("o_custkey").as("c_custkey")).agg(count(lit(1)).as("y")),
        Seq("c_custkey"), "left")
      .select(col("x"), coalesce(col("y"), lit(0L)).as("y"))
      .as[(Long, Long)].collect()
    def midranks(v: Seq[Long]): Map[Long, Double] = {
      val sorted = v.sorted
      sorted.zipWithIndex.groupBy(_._1)
        .map { case (k, g) => k -> (g.map(_._2 + 1).sum.toDouble / g.length) }
    }
    val rx = midranks(base.map(_._1).toSeq)
    val ry = midranks(base.map(_._2).toSeq)
    val n = base.length
    val xs = base.map(b => rx(b._1)); val ys = base.map(b => ry(b._2))
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = base.indices.map(i => xs(i) * ys(i)).sum
    val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
    val rho = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val expAll = math.floor(rho * 10000.0).toLong
    assert(got.find(_._1 == "_ALL").get._3 == expAll)
  }

  test("q309: QTE quantiles match a sorted-order-statistic replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q309Qte(spark, d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1000L, 5000L, 9000L))
    val vals = graft.io.Tables.orders(spark, d)
      .select((col("o_orderkey") % 2).as("arm"),
        floor(col("o_totalprice").cast("decimal(18,2)")).cast("long").as("usd"))
      .as[(Long, Long)].collect()
    def quant(arm: Long, phiBp: Long): Long = {
      val v = vals.filter(_._1 == arm).map(_._2).sorted
      // smallest value whose cumulative count reaches ceil(phi*n/10000)
      val k = ((phiBp * v.length + 9999) / 10000).toInt
      v(k - 1)
    }
    got.foreach { case (phi, q0, q1, qte) =>
      assert(q0 == quant(0, phi) && q1 == quant(1, phi) && qte == q1 - q0)
    }
  }

  test("q310: Mann-Kendall S/z/Sen match a direct pairwise replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q310MannKendall(spark, d)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(got.nonEmpty)
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).as("x"))
      .as[(java.sql.Date, Long)].collect()
      .map { case (dt, x) => (dt.toLocalDate, x) }
    got.foreach { case (year, n, s, zMilli, senMilli, trend) =>
      val series = daily.filter(_._1.getYear == year).sortBy(_._1.toEpochDay)
      assert(n == series.length)
      val pairs = for {
        i <- series.indices; j <- (i + 1) until series.length
      } yield (series(i), series(j))
      val expS = pairs.map { case ((_, xi), (_, xj)) =>
        java.lang.Long.signum(xj - xi).toLong }.sum
      assert(s == expS)
      val tiesum = series.groupBy(_._2).values
        .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
      val var18 = n * (n - 1) * (2 * n + 5) - tiesum
      val expZ =
        if (s > 0) math.floor((s - 1) / math.sqrt(var18 / 18.0) * 1000.0).toLong
        else if (s < 0) math.floor((s + 1) / math.sqrt(var18 / 18.0) * 1000.0).toLong
        else 0L
      assert(zMilli == expZ)
      val slopes = pairs.map { case ((di, xi), (dj, xj)) =>
        math.floor((xj - xi) * 1000.0 / (dj.toEpochDay - di.toEpochDay)).toLong
      }.sorted
      assert(senMilli == slopes((slopes.length + 1) / 2 - 1))
      assert(trend == (if (expZ > 1960) "up" else if (expZ < -1960) "down" else "none"))
    }
  }

  test("q311: BH step-up replay; rejections form a rank prefix") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q311FdrBh(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Boolean, Boolean)].collect()
      .sortBy(_._6)
    val m = got.length
    assert(got.map(_._6).toSeq == (1L to m).toSeq)
    // p is non-decreasing in rank; BH rejections are exactly ranks <= k*
    val ps = got.map(_._5)
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    val kstar = (1 to m).filter(i => ps(i - 1) * m <= i.toLong * 50000L)
      .lastOption.getOrElse(0)
    got.foreach { r => assert(r._7 == (r._6 <= kstar)) }
    // Bonferroni is never more permissive than BH
    got.foreach { r => if (r._8) assert(r._7) }
  }

  test("q312: DiD _ALL row reconciles with a direct four-cell replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val all = graft.operators.Stats.q312Did(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Boolean)].collect()
      .find(_._1 == "_ALL").get
    val cells = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select((col("c_custkey") % 2).as("t"),
        when(col("o_orderdate") >= lit("1998-07-01").cast("date"), 1L)
          .otherwise(0L).as("p"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .as[(Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
      .map { case (k, rs) =>
        k -> (rs.length.toLong, rs.map(_._3).sum.toDouble,
          rs.map(r => BigInt(r._3) * BigInt(r._3)).sum.toDouble)
      }
    def cell(t: Long, p: Long) = cells((t, p))
    val (n00, s00, q00) = cell(0, 0); val (n01, s01, q01) = cell(0, 1)
    val (n10, s10, q10) = cell(1, 0); val (n11, s11, q11) = cell(1, 1)
    assert((all._2, all._3, all._4, all._5) == (n00, n01, n10, n11))
    val did = (s11 / n11 - s10 / n10) - (s01 / n01 - s00 / n00)
    val se = math.sqrt(
      ((q00 - s00 * s00 / n00) / (n00 - 1.0)) / n00 +
      ((q01 - s01 * s01 / n01) / (n01 - 1.0)) / n01 +
      ((q10 - s10 * s10 / n10) / (n10 - 1.0)) / n10 +
      ((q11 - s11 * s11 / n11) / (n11 - 1.0)) / n11)
    assert(all._6 == math.floor(did).toLong)
    assert(all._7 == math.floor(se).toLong)
    assert(all._8 == math.floor(did / se * 1000.0).toLong)
    assert(all._9 == (math.abs(all._8) > 1960))
  }

  test("q318: changepoint top split matches an exhaustive BSS replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q318Changepoint(spark, d)
      .as[(Long, java.sql.Date, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 5L).toSeq)
    // bss non-increasing down the ranks
    val bs = got.map(_._7)
    assert(bs.zip(bs.tail).forall { case (a, b) => a >= b })
    val daily = graft.io.Tables.orders(spark, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).as("x"))
      .as[(java.sql.Date, Long)].collect().sortBy(_._1.toString)
    val st = daily.map(_._2).sum
    val nt = daily.length.toLong
    var sl = 0L
    val cand = daily.dropRight(1).zipWithIndex.map { case ((day, x), i) =>
      sl += x
      val nl = i + 1L
      val sr = st - sl
      val bss = math.floor((sl.toDouble * sl / nl + sr.toDouble * sr / (nt - nl)
        - st.toDouble * st / nt) / nt * 1000.0).toLong
      (day, nl, nt - nl, sl / nl, sr / (nt - nl), bss, sl, sr)
    }
    val top = cand.sortBy(c => (-c._6, c._1.toString)).take(5)
    got.zip(top).foreach { case (g, t) =>
      assert(g._2.toString == t._1.toString && g._3 == t._2 && g._4 == t._3)
      assert(g._5 == t._4 && g._6 == t._5 && g._7 == t._6)
    }
  }

  test("q322: OLS normal-equation fit matches a Cramer replay on _ALL") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q322OlsRegression(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 6 && got.map(_._1).contains("_ALL"))
    got.foreach { r => assert(r._6 >= -1 && r._6 <= 10000) } // R² in range
    val rows = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_acctbal")),
        col("o_custkey") === col("c_custkey"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long"))
      .as[(Long, Long, Long)].collect()
    val dn = rows.length.toDouble
    def bsum(f: ((Long, Long, Long)) => BigInt): Double =
      rows.map(f).sum.toDouble
    val d1 = bsum(r => BigInt(r._2)); val d2 = bsum(r => BigInt(r._3))
    val dy = bsum(r => BigInt(r._1))
    val d11 = bsum(r => BigInt(r._2) * r._2); val d12 = bsum(r => BigInt(r._2) * r._3)
    val d22 = bsum(r => BigInt(r._3) * r._3); val d1y = bsum(r => BigInt(r._2) * r._1)
    val d2y = bsum(r => BigInt(r._3) * r._1); val dyy = bsum(r => BigInt(r._1) * r._1)
    val det0 = dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2) + d2 * (d1 * d12 - d11 * d2)
    val detb0 = dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y) + d2 * (d1y * d12 - d11 * d2y)
    val detb1 = dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2) + d2 * (d1 * d2y - d1y * d2)
    val detb2 = dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2) + dy * (d1 * d12 - d11 * d2)
    val (b0, b1, b2) = (detb0 / det0, detb1 / det0, detb2 / det0)
    val all = got.find(_._1 == "_ALL").get
    assert(all._2 == rows.length)
    assert(all._3 == math.floor(b0).toLong)
    assert(all._4 == math.floor(b1 * 1000000.0).toLong)
    assert(all._5 == math.floor(b2 * 1000.0).toLong)
    assert(all._6 == math.floor(
      (1.0 - (dyy - b0 * dy - b1 * d1y - b2 * d2y) / (dyy - dy * dy / dn)) * 10000.0).toLong)
  }

  test("q323: stratified ATE replay; pooled is the weighted stratum mix") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q323PropensityStrata(spark, d)
      .as[(String, Long, Long, Long)].collect()
    val strata = got.filter(_._1 != "_POOLED").sortBy(_._1)
    val pooled = got.find(_._1 == "_POOLED").get
    assert(pooled._2 == strata.map(_._2).sum && pooled._3 == strata.map(_._3).sum)
    // pooled effect lies within the stratum-effect envelope
    assert(pooled._4 >= strata.map(_._4).min && pooled._4 <= strata.map(_._4).max)
    // every customer is in exactly one stratum
    val nCust = graft.io.Tables.customer(spark, d).count()
    assert(pooled._2 + pooled._3 == nCust)
  }

  test("q338: James-Stein shrinkage matches an exact fold replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q338JamesStein(spark, d)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 25)
    val rows = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(graft.io.Tables.nation(spark, d),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .as[(String, Long)].collect()
    val cells = rows.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.map(_._2).sum,
        g.map(v => BigInt(v._2) * v._2).sum)
    }.toMap
    val k = cells.size
    val nt = cells.values.map(_._1).sum
    val gm = cells.values.map(_._2).sum.toDouble / nt
    val nations = cells.keys.toSeq.sorted
    var (cumw, cums) = (0.0, 0.0)
    nations.foreach { nm =>
      val (n, sy, syy) = cells(nm)
      cumw += syy.toDouble - sy.toDouble * sy.toDouble / n
      val mi = sy.toDouble / n
      cums += (mi - gm) * (mi - gm)
    }
    val sig2 = cumw / (nt - k)
    got.foreach { case (nm, n, meanC, bMilli, shrunkC) =>
      val (cn, sy, _) = cells(nm)
      assert(n == cn)
      val mi = sy.toDouble / n
      val b = math.max(0.0, 1.0 - (k - 3) * (sig2 / n) / cums)
      assert(meanC == math.floor(mi).toLong)
      assert(bMilli == math.floor(b * 1000.0).toLong)
      assert(shrunkC == math.floor(gm + b * (mi - gm)).toLong)
      // shrunk estimate lies between the raw mean and the grand mean
      assert(shrunkC >= math.min(meanC, math.floor(gm).toLong) - 1 &&
        shrunkC <= math.max(meanC, math.ceil(gm).toLong) + 1)
    }
  }

  test("q339: Qini curve matches a full decile replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q339Qini(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L to 9L))
    val cust = graft.io.Tables.customer(spark, d)
      .select(col("c_custkey"), (col("c_custkey") % 2).as("t"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("score"))
      .as[(Long, Long, Long)].collect()
    val conv = graft.io.Tables.orders(spark, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().as[Long].collect().toSet
    // decile replay: descending-score histogram, bin by mass before
    val hist = cust.groupBy(_._3).view.mapValues(_.length.toLong).toSeq
      .sortBy(-_._1)
    val tot = cust.length.toLong
    var cum = 0L
    val decOf = hist.map { case (score, cnt) =>
      val before = cum; cum += cnt
      score -> math.min(9L, 10 * before / tot)
    }.toMap
    val byDec = cust.groupBy(c => decOf(c._3))
    var (cyT, cyC, cntT, cntC) = (0L, 0L, 0L, 0L)
    (0L to 9L).foreach { dec =>
      val g = byDec.getOrElse(dec, Array.empty[(Long, Long, Long)])
      val nT = g.count(_._2 == 1L).toLong; val nC = g.count(_._2 == 0L).toLong
      val yT = g.count(r => r._2 == 1L && conv(r._1)).toLong
      val yC = g.count(r => r._2 == 0L && conv(r._1)).toLong
      cyT += yT; cyC += yC; cntT += nT; cntC += nC
      val row = got(dec.toInt)
      assert(row._2 == nT && row._3 == nC)
      assert(row._4 == 1000000L * yT / nT && row._5 == 1000000L * yC / nC)
      assert(row._6 == row._4 - row._5)
      assert(row._7 == math.floor((cyT - cyC.toDouble * cntT / cntC) * 1000.0).toLong)
    }
    assert(cntT + cntC == tot)
  }

  test("q342: UCB1 scores match a direct replay; rank consistent") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q342Ucb1(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._7)
    assert(got.map(_._7).toSeq == (1L to got.length))
    val nt = got.map(_._2).sum
    got.foreach { case (_, n, wins, mean, bonus, ucb, _) =>
      assert(mean == 1000000L * wins / n)
      assert(bonus == math.floor(math.sqrt(2.0 * math.log(nt.toDouble) / n) * 1000000.0).toLong)
      assert(ucb == mean + bonus)
    }
    // play order is (ucb desc, arm) exactly
    val ord = got.map(r => (-r._6, r._1))
    assert(ord.sameElements(ord.sorted))
  }

  test("q345: Theil identities — total is the contrib sum, between tiny") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q345Theil(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 5)
    val total = got.head._6
    assert(got.forall(r => r._6 == total && r._7 == got.head._7))
    assert(total == got.map(_._4).sum)
    assert(got.head._7 == got.map(_._5).sum)
    // Theil >= 0 (up to per-row floor dust); between << total on
    // segment-independent balances
    assert(total > 0 && got.head._7 < total / 10)
    // between replay for one segment
    val n = got.map(_._2).sum
    val yt = got.map(_._3).sum
    got.foreach { case (_, nG, yG, _, bNano, _, _) =>
      val exp = math.floor(math.log(yG.toDouble * n / (yt * nG.toDouble))
        * yG / yt * 1000000000.0).toLong
      assert(bNano == exp)
    }
  }

  test("q346: grouped jackknife matches an exact replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val r = graft.operators.Stats.q346Jackknife(spark, d)
      .as[(Long, Long, Long, Long)].collect().head
    val grp = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(g => (g.length.toLong, g.map(_._2).sum))
      .toMap
    val k = grp.size
    val n = grp.values.map(_._1).sum
    val yt = grp.values.map(_._2).sum
    val gs = grp.keys.toSeq.sorted
    var cumR = 0.0
    gs.foreach { g => cumR += (yt - grp(g)._2).toDouble / (n - grp(g)._1) }
    val rbar = cumR / k
    var cumSS = 0.0
    gs.foreach { g =>
      val ri = (yt - grp(g)._2).toDouble / (n - grp(g)._1)
      cumSS += (ri - rbar) * (ri - rbar)
    }
    assert(r._1 == math.floor(yt.toDouble / n).toLong)
    assert(r._2 == math.floor((k - 1.0) / k * cumSS * 1000000.0).toLong)
    assert(r._3 == math.floor(math.sqrt((k - 1.0) / k * cumSS) * 1000.0).toLong)
    assert(r._4 == k)
  }

  test("q348: dispersion index matches a daily-count replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q348Dispersion(spark, d)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    assert(got.length == 5)
    val daily = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderdate").cast("date"))
      .agg(count(lit(1)).as("x"))
      .as[(String, java.sql.Date, Long)].collect()
    got.foreach { case (seg, n, totalOrders, vmr, chi2, over) =>
      val xs = daily.filter(_._1 == seg).map(_._3)
      assert(n == xs.length && totalOrders == xs.sum)
      val sx = xs.sum.toDouble
      val dstat = (xs.map(x => x * x).sum - sx * sx / n) / sx
      assert(vmr == math.floor(dstat * n / (n - 1.0) * 1000.0).toLong)
      assert(chi2 == math.floor(dstat * n * 1000.0).toLong)
      assert(over == (chi2 > math.floor((n + 2.33 * math.sqrt(2.0 * n)) * 1000.0).toLong))
    }
  }

  test("q349: SMD matches a direct replay; A/A arms are balanced") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q349SmdBalance(spark, d)
      .as[(String, Long, Long, Long, Boolean)].collect()
    assert(got.map(_._1).sorted.toSeq == Seq("bal", "n_ord", "nation"))
    // parity arms: every covariate balanced (the A/A calibration)
    got.foreach { r => assert(r._5 == (math.abs(r._4) < 1000)) }
    val base = graft.io.Tables.customer(spark, d)
      .select(col("c_custkey"), (col("c_custkey") % 2).as("t"),
        col("c_nationkey").cast("long"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))
      .join(graft.io.Tables.orders(spark, d)
        .groupBy(col("o_custkey").as("c_custkey")).agg(count(lit(1)).as("n_ord")),
        Seq("c_custkey"), "left")
      .na.fill(0L, Seq("n_ord"))
      .as[(Long, Long, Long, Long, Long)].collect()
    def smd(f: ((Long, Long, Long, Long, Long)) => Long): Long = {
      val g1 = base.filter(_._2 == 1L).map(f); val g0 = base.filter(_._2 == 0L).map(f)
      val (n1, n0) = (g1.length.toDouble, g0.length.toDouble)
      val (s1, s0) = (g1.sum.toDouble, g0.sum.toDouble)
      val q1 = g1.map(x => BigInt(x) * x).sum.toDouble
      val q0 = g0.map(x => BigInt(x) * x).sum.toDouble
      val dd = (s1 / n1 - s0 / n0) / math.sqrt(
        ((q1 - s1 * s1 / n1) / (n1 - 1.0) + (q0 - s0 * s0 / n0) / (n0 - 1.0)) / 2.0)
      math.floor(dd * 10000.0).toLong
    }
    assert(got.find(_._1 == "bal").get._4 == smd(_._4))
    assert(got.find(_._1 == "nation").get._4 == smd(_._3))
    assert(got.find(_._1 == "n_ord").get._4 == smd(_._5))
  }

  test("q351: bloom planner is the textbook optimum, monotone in FPR") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Dedup.q351BloomPlanner(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq == Seq(10L, 100L, 1000L, 10000L))
    val n = got.head._1
    got.foreach { case (nk, fr, m, k, bytes, bpk) =>
      assert(nk == n)
      assert(m == math.ceil(-n.toDouble * math.log(1.0 / fr)
        / (math.log(2.0) * math.log(2.0))).toLong)
      assert(k == math.ceil(math.log(fr.toDouble) / math.log(2.0)).toLong)
      assert(bytes == (m + 7) / 8)
      assert(bpk == math.floor(m.toDouble / n * 100.0).toLong)
    }
    // tighter FPR costs monotonically more bits and hashes
    assert(got.map(_._3).zip(got.map(_._3).tail).forall { case (a, b) => a < b })
    assert(got.map(_._4).zip(got.map(_._4).tail).forall { case (a, b) => a <= b })
  }

  test("q352: Kendall tau-b matches an exhaustive pair replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val r = graft.operators.Stats.q352KendallTau(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    val bal = graft.io.Tables.customer(spark, d)
      .groupBy(col("c_nationkey"))
      .agg(sum((col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")).as("x"))
      .as[(Long, Long)].collect().toMap
    val ord = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("y"))
      .as[(Long, Long)].collect().toMap
    val nat = bal.keys.toSeq.sorted.map(g => (bal(g), ord.getOrElse(g, 0L)))
    val pairs = for (i <- nat.indices; j <- (i + 1) until nat.length)
      yield (nat(i), nat(j))
    val nc = pairs.count { case ((xa, ya), (xb, yb)) => (xa - xb) * (ya - yb) > 0 }
    val nd = pairs.count { case ((xa, ya), (xb, yb)) => (xa - xb) * (ya - yb) < 0 }
    val ntx = pairs.count { case ((xa, _), (xb, _)) => xa == xb }
    val nty = pairs.count { case ((_, ya), (_, yb)) => ya == yb }
    val n0 = pairs.length
    assert(r._1 == n0 && r._2 == nc && r._3 == nd && r._4 == ntx && r._5 == nty)
    assert(r._6 == math.floor((nc - nd) /
      math.sqrt((n0 - ntx).toDouble * (n0 - nty)) * 10000.0).toLong)
  }

  test("q353: DeLong SE matches a placement-value replay; A/A no reject") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val r = graft.operators.Stats.q353AucSe(spark, d)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head
    val rows = graft.io.Tables.customer(spark, d)
      .select((col("c_custkey") % 2).as("label"),
        floor((col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          / lit(10000.0)).cast("long").as("s"))
      .as[(Long, Long)].collect()
    val pos = rows.filter(_._1 == 1L).map(_._2)
    val neg = rows.filter(_._1 == 0L).map(_._2)
    assert(r._1 == pos.length && r._2 == neg.length)
    def v10(s: Long) =
      (neg.count(_ < s) + neg.count(_ == s) / 2.0) / neg.length
    def v01(s: Long) =
      (pos.count(_ > s) + pos.count(_ == s) / 2.0) / pos.length
    val a = pos.map(v10).sum / pos.length
    val s10 = pos.map(s => math.pow(v10(s) - a, 2)).sum / (pos.length - 1.0)
    val s01 = neg.map(s => math.pow(v01(s) - a, 2)).sum / (neg.length - 1.0)
    val se = math.sqrt(s10 / pos.length + s01 / neg.length)
    // bucket-weighted vs per-row arithmetic differ in reduce order, so
    // compare at a coarse precision and pin the verdict/estimate bands
    assert(math.abs(r._3 - math.floor(a * 10000.0).toLong) <= 1)
    assert(math.abs(r._4 - math.floor(se * 10000.0).toLong) <= 1)
    assert(r._6 == (math.abs(r._5) > 1960))
    assert(!r._6) // parity labels: AUC compatible with 1/2
  }

  test("q359: DKW planner matches the closed form; monotone both ways") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Stats.q359DkwPlanner(spark, d)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(got.length == 12)
    got.foreach { case (eps, dr, need, have, ok) =>
      val exp = math.ceil(math.log(2.0 * dr)
        / (2.0 * (eps / 10000.0) * (eps / 10000.0))).toLong
      assert(need == exp && ok == (have >= need))
    }
    // tighter eps or delta => larger n
    got.groupBy(_._2).values.foreach { g =>
      val byEps = g.sortBy(_._1).map(_._3)
      assert(byEps.zip(byEps.tail).forall { case (a, b) => a >= b })
    }
    got.groupBy(_._1).values.foreach { g =>
      val byDelta = g.sortBy(_._2).map(_._3)
      assert(byDelta.zip(byDelta.tail).forall { case (a, b) => a <= b })
    }
  }

  test("q331: sample sizes replay the Wilson closed form and scale as 1/w^2") {
    import spark.implicits._
    val r = graft.operators.Stats.q331WilsonSamplePlan(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(r.size == 12)
    r.foreach { case (_, p, w, n) =>
      assert(n == math.ceil(38416.0 * p * (10000 - p) / (10000.0 * w * w)).toLong)
    }
    // quadratic cost of precision: halving the width ~quadruples n
    val g = r.filter(x => x._1 == "grid" && x._2 == 5000L).sortBy(_._3)
    assert(g.map(_._4) == Seq(9604L, 2401L, 385L))
  }


  test("q410: single-key population -> every sketch counter is +-N, zero error") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ams").toString
    Seq.fill(7)(42L).toDF("l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Stats.q410AmsF2(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().head
    // f = {42 -> 7}: F2 = 49 exactly; Z_r = +-7 for every replica, so
    // both estimators are exactly 49 regardless of the sign hashes
    assert(got == ((49L, 49L, 49L, 0L, 0L)), s"got $got")
  }
}
