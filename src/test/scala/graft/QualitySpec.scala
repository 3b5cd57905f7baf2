package graft

import org.apache.spark.sql.functions._

/** q112 constraint audit, q117 skew diagnostics, q118 Z-order tiles,
  * q116 triangle count — invariant and brute-force cross-checks
  * complementing the DuckDB oracles. */
class QualitySpec extends SparkSpec {
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  test("q223: plan has no unpartitioned row-level WindowExec") {
    val df = operators.Quality.q223GainsCurve(spark, d)
    val bad = graft.plans.ScaleGuard.globalWindowViolations(
      df.queryExecution.optimizedPlan)
    assert(bad.isEmpty, bad.map(_.treeString).mkString("\n"))
  }

  test("q112: five rules, violations bounded by checked, FKs clean on testdata") {
    val got = operators.Quality.q112DqAudit(spark, d).collect()
    assert(got.length == 5)
    assert(got.map(_.getAs[String]("rule")).sorted.sameElements(
      got.map(_.getAs[String]("rule"))), "rows not rule-ordered")
    got.foreach { r =>
      assert(r.getAs[Long]("n_violations") >= 0L)
      assert(r.getAs[Long]("n_violations") <= r.getAs[Long]("n_checked"))
    }
    // the generated TPC-H-ish testdata is referentially intact and
    // key-unique — those rules must report zero (a nonzero here means
    // the audit itself is broken, not the data)
    val byRule = got.map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
    assert(byRule("lineitem_orphan_fk") == 0L)
    assert(byRule("orders_customer_fk") == 0L)
    assert(byRule("orders_dup_key") == 0L)
    // n_checked matches the actual table sizes
    val nLi = graft.io.Tables.lineitem(spark, d).count()
    val nO = graft.io.Tables.orders(spark, d).count()
    assert(byRule.size == 5)
    got.foreach { r =>
      val expected = if (r.getAs[String]("rule").startsWith("lineitem")) nLi else nO
      assert(r.getAs[Long]("n_checked") == expected, s"wrong denominator: $r")
    }
  }

  test("q117: percentiles are monotone and consistent with the key counts") {
    val row = operators.Quality.q117SkewDiag(spark, d).collect().head
    val (nKeys, nRows) = (row.getAs[Long]("n_keys"), row.getAs[Long]("n_rows"))
    val (p50, p90, p99, mx) = (row.getAs[Long]("p50_cnt"),
      row.getAs[Long]("p90_cnt"), row.getAs[Long]("p99_cnt"),
      row.getAs[Long]("max_cnt"))
    assert(p50 <= p90 && p90 <= p99 && p99 <= mx, s"percentiles not monotone: $row")
    // cross-check against a brute-force sorted count list
    val counts = graft.io.Tables.lineitem(spark, d)
      .groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
      .select($"cnt").as[Long].collect().sorted
    assert(nKeys == counts.length && nRows == counts.sum && mx == counts.max)
    def pct(p: Int): Long = counts((p * counts.length + 99) / 100 - 1) // ceil rank, 1-based
    assert(p50 == pct(50) && p90 == pct(90) && p99 == pct(99),
      s"got ($p50,$p90,$p99) want (${pct(50)},${pct(90)},${pct(99)})")
    assert(row.getAs[Long]("skew_bp") == 10000L * mx * nKeys / nRows)
  }

  test("q176: bins partition the scored docs; rates in [0,1e6]; ECE is the weighted mean dev") {
    val got = operators.Quality.q176Calibration(spark, d).collect()
    assert(got.nonEmpty)
    val nDocs = graft.io.Tables.documents(spark, d)
      .filter(length(trim($"text")) > 0).count()
    assert(got.map(_.getAs[Long]("n_b")).sum == nDocs, "bins must partition the corpus")
    got.foreach { r =>
      assert(r.getAs[Long]("acc_ppm") >= 0L && r.getAs[Long]("acc_ppm") <= 1000000L)
      assert(r.getAs[Long]("conf_ppm") >= 0L && r.getAs[Long]("conf_ppm") <= 1000000L)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_b"))
    }
    // ECE recomputed from the published bins
    val n = got.map(_.getAs[Long]("n_b")).sum
    val dev = got.map(r => r.getAs[Long]("n_b") *
      math.abs(r.getAs[Long]("acc_ppm") - r.getAs[Long]("conf_ppm"))).sum
    assert(got.forall(_.getAs[Long]("ece_ppm") == dev / n))
  }

  test("q181: sorted layout beats natural; curves monotone; closed form exact") {
    val got = operators.Quality.q181ZonemapAudit(spark, d).collect()
    assert(got.length == 12)
    val natFiles = got.head.getAs[Long]("nat_files")
    val srtFiles = got.head.getAs[Long]("srt_files")
    assert(got.forall(_.getAs[Long]("nat_files") == natFiles))
    assert(got.forall(_.getAs[Long]("srt_files") == srtFiles))
    // month-start probes ascend → both curves must be non-decreasing
    val nat = got.map(_.getAs[Long]("pruned_nat"))
    val srt = got.map(_.getAs[Long]("pruned_srt"))
    assert(nat.sameElements(nat.sorted) && srt.sameElements(srt.sorted))
    got.foreach { r =>
      assert(r.getAs[Long]("pruned_nat") <= natFiles)
      assert(r.getAs[Long]("pruned_srt") <= srtFiles)
      assert(r.getAs[Long]("nat_bp") ==
        r.getAs[Long]("pruned_nat") * 10000 / natFiles)
      assert(r.getAs[Long]("srt_bp") ==
        r.getAs[Long]("pruned_srt") * 10000 / srtFiles)
    }
    // closed form: pruned_srt == ⌊rows_below/256⌋, srt_files == ⌈n/256⌉
    val li = graft.io.Tables.lineitem(spark, d)
    val n = li.count()
    val below = li
      .filter($"l_shipdate" < lit("1997-12-01").cast("timestamp")).count()
    val dec = got.last
    assert(srtFiles == (n + 255) / 256)
    assert(dec.getAs[Long]("pruned_srt") == below / 256,
      s"pruned_srt=${dec.getAs[Long]("pruned_srt")} below=$below")
    assert(dec.getAs[Long]("pruned_srt") > 0L, "audit measured nothing")
    // the layout dividend this audit exists to surface: on the
    // date-uncorrelated natural layout, sorting wins outright
    assert(dec.getAs[Long]("srt_bp") > dec.getAs[Long]("nat_bp"))
  }

  test("q118: each z-bucket is a bounded 2-D tile (both key ranges < 256)") {
    val got = operators.Quality.q118Zorder(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      // fixing z-prefix (bits ≥ 16) pins bits ≥ 8 of BOTH interleaved keys
      assert(r.getAs[Long]("max_pk") - r.getAs[Long]("min_pk") < 256L, s"pk tile leak: $r")
      assert(r.getAs[Long]("max_sk") - r.getAs[Long]("min_sk") < 256L, s"sk tile leak: $r")
    }
    // buckets cover all rows exactly once
    val nLi = graft.io.Tables.lineitem(spark, d).count()
    assert(got.map(_.getAs[Long]("n")).sum == nLi)
  }

  test("q116: triangle count equals brute-force triple enumeration") {
    val row = operators.Graph.q116Triangles(spark, d).collect().head
    // brute force: all node triples (a<b<c) with all three edges present
    val items = graft.io.Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1995-04-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p")).distinct()
    val e = items.as("a").join(items.as("b"), "ord")
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .filter($"u" < $"v").distinct()
    val edges = e.as[(Long, Long)].collect().toSet
    val nodes = edges.flatMap(t => Seq(t._1, t._2)).toArray.sorted
    var brute = 0L
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if edges((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.length
      if edges((nodes(j), nodes(k))) && edges((nodes(i), nodes(k)))
    } brute += 1
    assert(row.getAs[Long]("n_edges") == edges.size.toLong)
    assert(row.getAs[Long]("n_nodes") == nodes.length.toLong)
    assert(row.getAs[Long]("n_triangles") == brute,
      s"oriented count ${row.getAs[Long]("n_triangles")} != brute $brute")
    // wedge identity: Σ C(d,2) over degrees
    val degs = edges.toSeq.flatMap(t => Seq(t._1, t._2)).groupBy(identity).map(_._2.size.toLong)
    assert(row.getAs[Long]("n_wedges") == degs.map(dg => dg * (dg - 1) / 2).sum)
  }

  test("q216: entropy bounded by ln(26); uniform letters peg it, single letter zeroes it") {
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.TextAnalysis.q216CharEntropy(spark, d).collect()
    assert(got.nonEmpty)
    val lnMaxMicro = math.floor(math.log(26.0) * 1e6).toLong
    got.foreach { r =>
      assert(r.getAs[Long]("min_ent_micro") >= 0L)
      // term-wise floors can only undershoot the true entropy <= ln 26
      assert(r.getAs[Long]("max_ent_micro") <= lnMaxMicro)
      assert(r.getAs[Long]("avg_ent_micro") >= r.getAs[Long]("min_ent_micro"))
      assert(r.getAs[Long]("avg_ent_micro") <= r.getAs[Long]("max_ent_micro"))
    }
    // the measure itself: 26 equi-frequent letters → ln 26 (up to 26 floors)
    val uniform = (0 until 26).map(_ => 10L)
    val n = uniform.sum.toDouble
    val ent = uniform.map { c =>
      math.floor(-(c / n) * math.log(c / n) * 1e6).toLong
    }.sum
    assert(ent > lnMaxMicro - 26 && ent <= lnMaxMicro)
    // a single repeated letter has zero entropy: -(1)ln(1) = 0
    assert(math.floor(-1.0 * math.log(1.0) * 1e6).toLong == 0L)
  }

  test("q214: metrics reconcile with the q32 confusion matrix; micro row is accuracy") {
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.TextAnalysis.q214ClassificationEval(spark, d).collect()
    val cm = graft.operators.TextAnalysis.q32LangId(spark, d).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("pred_lang")) ->
        r.getAs[Long]("n")).toMap
    val total = cm.values.sum
    val correct = cm.collect { case ((t, p), n) if t == p => n }.sum
    val micro = got.find(_.getAs[String]("cls") == "__micro__").get
    assert(micro.getAs[Long]("tp") == correct)
    assert(micro.getAs[Long]("f1_ppm") == correct * 1000000L / total)
    got.filter(_.getAs[String]("cls") != "__micro__").foreach { r =>
      val c = r.getAs[String]("cls")
      val tp = cm.getOrElse((c, c), 0L)
      val actual = cm.collect { case ((t, _), n) if t == c => n }.sum
      val predicted = cm.collect { case ((_, p), n) if p == c => n }.sum
      assert(r.getAs[Long]("tp") == tp)
      assert(r.getAs[Long]("n_actual") == actual)
      assert(r.getAs[Long]("n_predicted") == predicted)
      val prec = if (predicted > 0) tp * 1000000L / predicted else 0L
      val rec = if (actual > 0) tp * 1000000L / actual else 0L
      assert(r.getAs[Long]("prec_ppm") == prec)
      assert(r.getAs[Long]("rec_ppm") == rec)
      val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0L
      assert(r.getAs[Long]("f1_ppm") == f1)
    }
  }

  test("q243: two-level gap census equals the single-window naive scan") {
    import spark.implicits._
    val got = operators.Quality.q243GapCensus(spark, d).collect()
      .map(r => (r.getAs[Long]("gap_start"), r.getAs[Long]("gap_len"))).toSeq
    val keys = graft.io.Tables.orders(spark, d)
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey").as[Long].collect().sorted
    val gaps = keys.zip(keys.tail)
      .collect { case (a, b) if b - a > 1 => (a + 1, b - a - 1) }
      .sortBy(t => (-t._2, t._1)).take(10).toSeq
    assert(got == gaps, s"census drift:\n$got\nvs\n$gaps")
    assert(got.nonEmpty, "fixture has no gaps — census untested")
    // note whether the fixture exercises the cross-block path (a gap
    // whose endpoints land in different 4096-key blocks); internal
    // gaps alone still validate the union shape
    val crossBlock = gaps.exists(g => (g._1 - 1) / 4096 != (g._1 + g._2) / 4096)
    info(s"cross-block gap present in fixture: $crossBlock")
  }

  test("q252: AUC equals the pairwise positive-over-negative probability") {
    import spark.implicits._
    val r = operators.Quality.q252Auc(spark, d).collect().head
    assert(r.getAs[Long]("n_pos") > 0 && r.getAs[Long]("n_neg") > 0)
    assert(r.getAs[Long]("gini_bp") == r.getAs[Long]("auc_bp") * 2 - 10000L)
    // brute-force pairwise AUC from the reconstructed (score, label)
    // relation: wins + half-ties over all pos x neg pairs
    val tf = graft.io.Tables.documents(spark, d)
      .select($"doc_id", explode(graft.functions.Fns.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val stop = Seq("the", "a", "of", "and", "in", "to")
    val score = tf.groupBy($"doc_id")
      .agg(sum($"tf").as("n_tok"), count(lit(1)).as("uniq"),
        sum(when($"term".isin(stop.map(lit): _*), $"tf").otherwise(lit(0L))).as("nstop"))
      .select($"doc_id",
        (least($"n_tok", lit(100)) * 10
          + (lit(1000) - floor($"nstop" * lit(1000) / $"n_tok").cast("long"))
          + floor($"uniq" * lit(1000) / $"n_tok").cast("long")).as("score"))
    val tc = tf.groupBy($"term").agg(sum($"tf").as("cnt"))
    val tot = tc.agg(sum($"cnt").as("t"))
    val label = tf.join(tc, "term").crossJoin(broadcast(tot))
      .withColumn("s_micro",
        floor(log(($"t" * lit(1.0)) / $"cnt") * lit(1000000.0)).cast("long"))
      .groupBy($"doc_id")
      .agg((sum($"tf" * $"s_micro") / sum($"tf") <= lit(3401500)).cast("long").as("y"))
    val rows = score.join(label, "doc_id")
      .select($"score", $"y").as[(Long, Long)].collect()
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 == 0L).map(_._1)
    var wins2 = 0L // doubled: win = 2, tie = 1
    pos.foreach { p => neg.foreach { n =>
      if (p > n) wins2 += 2 else if (p == n) wins2 += 1 } }
    val aucBp = wins2 * 10000L / (2L * pos.length * neg.length)
    assert(r.getAs[Long]("auc_bp") == aucBp,
      s"AUC ${r.getAs[Long]("auc_bp")} vs pairwise $aucBp")
  }

  test("q260: safe watermark is the min high-water mark; lags reconcile") {
    val got = operators.Quality.q260FreshnessWatermark(spark, d).collect()
    assert(got.map(_.getAs[String]("tbl")).sorted.toSeq
      == Seq("events", "lineitem", "orders"))
    val safe = got.head.getAs[Long]("safe_watermark_s")
    assert(got.forall(_.getAs[Long]("safe_watermark_s") == safe))
    assert(safe == got.map(_.getAs[Long]("hwm_s")).min)
    // exactly one table defines the fleet max (lag 0), and every lag is
    // max_hwm - hwm
    val maxH = got.map(_.getAs[Long]("hwm_s")).max
    got.foreach { r =>
      assert(r.getAs[Long]("lag_behind_max_s") == maxH - r.getAs[Long]("hwm_s"))
    }
    assert(got.exists(_.getAs[Long]("lag_behind_max_s") == 0L))
  }

  test("q293: minimax isotonic fit == PAVA replay; monotone; mass-preserving") {
    import spark.implicits._
    val got = graft.operators.Quality
      .q293IsotonicCalibration(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 20)
    // PAVA: pool adjacent violators over the (cnt, pos) sequence
    case class Block(cnt: Long, pos: Long) { def r: Double = pos.toDouble / cnt }
    var blocks = List.empty[Block] // reversed
    got.foreach { case (_, cnt, pos, _, _) =>
      var b = Block(cnt, pos)
      while (blocks.nonEmpty && blocks.head.r >= b.r) {
        b = Block(blocks.head.cnt + b.cnt, blocks.head.pos + b.pos)
        blocks = blocks.tail
      }
      blocks = b :: blocks
    }
    val pava = blocks.reverse.flatMap(b => Seq.fill(b.cnt.toInt)(b.r))
    // expand engine iso per-bin to per-customer weights for comparison
    val isoSeq = got.flatMap { case (_, cnt, _, _, iso) =>
      Seq.fill(cnt.toInt)(iso) }
    val pavaMicro = pava.map(r => math.floor(r * 1e6).toLong)
    assert(isoSeq.toSeq == pavaMicro)
    // monotone non-decreasing across bins
    val isoBins = got.map(_._5)
    assert(isoBins.zip(isoBins.tail).forall { case (a, b) => b >= a })
    // PAVA preserves the weighted mean within each pooled block, so
    // the global weighted sum matches the positives up to micro floors
    val n = got.map(_._2).sum
    val wsum = got.map { case (_, cnt, _, _, iso) => cnt * iso }.sum
    val posTot = got.map(_._3).sum
    assert(math.abs(wsum - 1000000L * posTot) <= n)
  }

  test("q294: conformal threshold is the exact order statistic; replay matches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q294ConformalAudit(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    val cust = spark.read.parquet(s"$d/customer.parquet")
      .select(col("c_mktsegment").as("seg"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        (col("c_custkey") % 2).as("half"))
      .as[(String, Long, Long)].collect()
    got.foreach { case (seg, nCal, k, thr, nTest, nCov, covBp) =>
      val cal = cust.filter(c => c._1 == seg && c._3 == 1).map(_._2)
      val test = cust.filter(c => c._1 == seg && c._3 == 0).map(_._2)
      assert(nCal == cal.length && nTest == test.length)
      val mu = Math.floorDiv(cal.sum, cal.length)
      val scores = cal.map(c => math.abs(c - mu)).sorted
      val kExp = math.min(math.ceil((cal.length + 1) * 0.9).toLong, cal.length)
      assert(k == kExp)
      assert(thr == scores(k.toInt - 1)) // k-th smallest, 1-indexed
      val covered = test.count(c => math.abs(c - mu) <= thr)
      assert(nCov == covered && covBp == 10000L * covered / test.length)
    }
  }

  test("q300: complement arithmetic == literal leave-one-fold-out training") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q300CvCalibration(spark, d)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 6 && got.head._1 == -1L)
    // literal replay: for each fold, train bin rates on the OTHER
    // folds' members, evaluate weighted |pred - obs| on this fold
    val cust = spark.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)].collect()
    val urgent = spark.read.parquet(s"$d/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().as[Long].collect().toSet
    val lo = cust.map(_._2).min; val hi = cust.map(_._2).max
    val rows = cust.map { case (ck, c) =>
      (math.min(20 * (c - lo) / (hi - lo + 1), 19L), ck % 5,
        if (urgent.contains(ck)) 1L else 0L) }
    val expected = (0L until 5L).flatMap { f =>
      val cellsF = rows.filter(_._2 == f).groupBy(_._1)
      val terms = cellsF.toSeq.flatMap { case (b, rs) =>
        val train = rows.filter(r => r._1 == b && r._2 != f)
        if (train.isEmpty) None
        else {
          val pred = 1000000L * train.map(_._3).sum / train.length
          val obs = 1000000L * rs.map(_._3).sum / rs.length
          Some((rs.length.toLong, math.abs(pred - obs)))
        }
      }
      val n = terms.map(_._1).sum
      if (n == 0) None else Some((f, n, terms.map(t => t._1 * t._2).sum / n))
    }
    assert(got.filter(_._1 >= 0).toSeq == expected)
    // pooled row is the n-weighted pooling of the same cell terms
    assert(got.head._2 == expected.map(_._2).sum)
  }

  test("q404: ladder generalizes until the k>=5, l>=2 gate first holds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ladder").toString
    // one segment, 3 nations x 2 customers, all balances distinct:
    // L0 classes are singletons (k=1), L1 pairs (k=2), L2 one class of
    // 6 with 2 sensitive values -> the first level passing the gate
    (1 to 6).map(i => (i.toLong, "A", (i % 3).toLong, 100.0 + i))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (1 to 6).map(i => (i.toLong, 100L + i, s"P${i % 2}"))
      .toDF("o_custkey", "o_orderkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.operators.Quality.q404AnonLadder(spark, dir)
      .select("level", "k_min", "l_min", "n_classes", "picked")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 6L, 6L))   // k_min climbs the ladder
    assert(got.map(_._4).toSeq == Seq(6L, 3L, 1L, 1L))   // utility (classes) falls
    assert(got.map(_._5).toSeq == Seq(0L, 0L, 1L, 0L))   // L2 is the least general pass
    assert(got(2)._3 == 2L)                              // and it is l-diverse
  }

  test("q306/q307: anonymity audit replay; DP planning identities") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val r = graft.operators.Quality.q306KAnonymity(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    val (nRows, nCls, kMin, r5, r10, l2) = r
    assert(nRows == spark.read.parquet(s"$d/customer.parquet").count())
    assert(kMin >= 1 && nCls <= nRows)
    assert(r5 <= r10 && r10 <= 10000) // k<5 mass nested in k<10 mass
    assert(l2 >= 0 && l2 <= 10000)
    // crafted: one class of 2 rows sharing a sensitive value (l=1),
    // one singleton class (k=1, l=1) — k_min 1, all rows below k=5
    val cdir = java.nio.file.Files.createTempDirectory("kanon").toString
    Seq((1L, "A", 1L, 100.00), (2L, "A", 1L, 100.00), (3L, "B", 2L, 900.00))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$cdir/customer.parquet")
    spark.emptyDataFrame.select(lit(1L).as("o_custkey"),
        lit("1-URGENT").as("o_orderpriority")).limit(0)
      .write.mode("overwrite").parquet(s"$cdir/orders.parquet")
    val c = graft.operators.Quality.q306KAnonymity(spark, cdir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(c == ((3L, 2L, 1L, 10000L, 10000L, 10000L)))

    val dp = graft.operators.Quality.q307DpPlanner(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(dp.length == 5 * 4)
    dp.foreach { case (_, eps, n, scale, rel) =>
      assert(scale == 1000000L / eps)
      assert(rel == 10000L * 1000L / (eps * n))
    }
    // tighter privacy (smaller eps) always costs more accuracy
    dp.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sortBy(-_).toSeq)
    }
  }

  test("q313: Bradley-Terry two MM steps match an exact fold replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q313BradleyTerry(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.map(_._5).sorted.toSeq == (1L to got.length).toSeq)
    // replay: battles from raw docs, then the exact MM arithmetic
    val docs = graft.io.Tables.documents(spark, d)
      .select(col("source"), col("doc_id"),
        floor(lit(1000000.0) * size(array_distinct(split(col("text"), " ")))
          / size(split(col("text"), " "))).cast("long").as("rich"))
      .as[(String, Long, Long)].collect()
    val byIdx = docs.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      rs.sortBy(_._2).zipWithIndex.map { case ((_, _, rich), i) => (i, src, rich) }
    }.groupBy(_._1)
    val wins = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    val games = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    byIdx.values.foreach { round =>
      for (a <- round; b <- round if a._2 < b._2 && a._3 != b._3) {
        games((a._2, b._2)) += 1
        if (a._3 > b._3) wins((a._2, b._2)) += 1
      }
    }
    val sources = docs.map(_._1).distinct.sorted
    def nij(i: String, j: String) =
      if (i < j) games((i, j)) else games((j, i))
    def wij(i: String, j: String) =
      if (i < j) wins((i, j)) else games((j, i)) - wins((j, i))
    val ni = sources.map(i => i -> sources.filter(_ != i).map(j => nij(i, j)).sum).toMap
    val wi = sources.map(i => i -> sources.filter(_ != i).map(j => wij(i, j)).sum).toMap
    val pi1 = sources.map(i => i -> 2.0 * wi(i) / ni(i)).toMap
    got.foreach { case (srcName, battles, winCount, pi2Micro, _) =>
      assert(battles == ni(srcName) && winCount == wi(srcName))
      // fold in ascending-j order, exactly as the cumulative window does
      var cum = 0.0
      sources.filter(j => j != srcName && nij(srcName, j) > 0).sorted.foreach { j =>
        cum += nij(srcName, j) / (pi1(srcName) + pi1(j))
      }
      assert(pi2Micro == math.floor(wi(srcName) / cum * 1000000.0).toLong)
    }
  }

  test("q314: McNemar counts and chi2 match a direct replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val r = graft.operators.Quality.q314Mcnemar(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Boolean)].collect().head
    val rows = graft.io.Tables.documents(spark, d)
      .select((col("lang") === "en").as("truth"),
        concat(lit(" "), col("text"), lit(" ")).contains(" the ").as("pa"),
        expr("""size(split(text, ' ')) - size(filter(split(text, ' '),
             x -> x <> 'the' AND x <> 'a' AND x <> 'of')) >= 5""").as("pb"))
      .as[(Boolean, Boolean, Boolean)].collect()
    val b = rows.count(r => r._2 == r._1 && r._3 != r._1).toLong
    val c = rows.count(r => r._2 != r._1 && r._3 == r._1).toLong
    assert(r._1 == rows.length && r._3 == b && r._4 == c)
    assert(r._2 + r._3 + r._4 + r._5 == r._1)
    val corr = math.max(math.abs(b - c) - 1, 0L)
    val exp = if (b + c == 0) 0L else 1000L * corr * corr / (b + c)
    assert(r._8 == exp && r._9 == (exp > 3841L))
  }

  test("q315: AP matches a scalar replay; recall monotone along curve") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q315PrCurve(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(-_._1)
    // descending buckets: cn and ctp (and so recall) non-decreasing
    assert(got.map(_._2).zip(got.map(_._2).tail).forall { case (a, b) => a <= b })
    assert(got.map(_._5).zip(got.map(_._5).tail).forall { case (a, b) => a <= b })
    // replay AP from raw embeddings
    val vecs = graft.io.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qa"))
      .as[(Long, Long, Seq[Long])].collect()
    val dims = vecs.head._3.length
    val lab0 = vecs.filter(_._2 == 0L)
    val cm = (0 until dims).map { k =>
      math.floor(lab0.map(_._3(k)).sum * 1.0 / lab0.length).toLong }
    val scored = vecs.map { case (_, lbl, qa) =>
      (math.floor((0 until dims).map(k => qa(k) * cm(k)).sum / 2000.0).toLong,
        if (lbl == 0L) 1L else 0L)
    }
    val hist = scored.groupBy(_._1).toSeq.sortBy(-_._1)
      .map { case (bkt, rs) => (bkt, rs.length.toLong, rs.map(_._2).sum) }
    val n0 = hist.map(_._3).sum
    var (cn, ctp, apSum) = (0L, 0L, 0L)
    val expRows = hist.map { case (bkt, nb, tpb) =>
      cn += nb; ctp += tpb
      val prec = 1000000L * ctp / cn
      apSum += tpb * prec
      (bkt, cn, ctp, prec, 1000000L * ctp / n0)
    }
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq == expRows)
    assert(got.head._6 == apSum / n0)
  }

  test("q332: randomized-response estimator identities hold per segment") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q332RandomizedResponse(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 5)
    val nTotal = got.head._2
    got.foreach { case (_, n, nYes, f, est, tru, err) =>
      assert(n == nTotal)
      assert(f == 1000L * nYes / n)
      assert(est == 2 * f - 500)
      assert(err == (est - tru) * 10)
      assert(tru >= 0 && tru <= 1000)
    }
    // the 5 one-vs-rest true rates partition the population
    assert(math.abs(got.map(_._6).sum - 1000L) <= 5) // integer-div dust
  }

  test("q384: hand-computed EMD on a two-class skew; identical classes read zero") {
    val dir = java.nio.file.Files.createTempDirectory("tclose").toString
    // one nation, one balance decile; segment A = 5 customers all
    // urgent-dominant, segment B = 5 customers spread over all five
    // priorities. Both classes sit EMD = 0.200 from the pooled global
    // (mirror images), right ON the t = 0.2 line -> no breach.
    val cust = (1 to 5).map(i => (i.toLong, "A", 1L, 100.0)) ++
      (6 to 10).map(i => (i.toLong, "B", 1L, 100.0))
    cust.toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (1 to 5).map(i => (100L + i, i.toLong, "1-URGENT")) ++
      (6 to 10).map(i => (100L + i, i.toLong, pris(i - 6)))
    orders.toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Quality.q384TCloseness(spark, dir)
      .as[(String, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("A", 1L, 0L, 5L, 200L, false),
      ("B", 1L, 0L, 5L, 200L, false)))
    // homogeneous sensitive attribute -> every class matches the global
    val dir2 = java.nio.file.Files.createTempDirectory("tclose0").toString
    cust.toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir2/customer.parquet")
    (1 to 10).map(i => (100L + i, i.toLong, "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir2/orders.parquet")
    val zero = operators.Quality.q384TCloseness(spark, dir2)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    assert(zero.length == 2 && zero.forall(r => r._5 == 0L && !r._6))
  }

  test("q373: correlated predicates blow up the independence estimate; PK-FK join is exact") {
    val dir = java.nio.file.Files.createTempDirectory("card").toString
    // 100 orders: half pre-1996, half post; urgency perfectly
    // correlated with recency (all 10 urgent orders are post-cut)
    val orders = (1 to 100).map { k =>
      val date = if (k <= 50) java.sql.Date.valueOf("1995-06-01")
        else java.sql.Date.valueOf("1996-06-01")
      val pri = if (k > 90) "1-URGENT" else "9-OTHER"
      (k.toLong, date, pri)
    }
    orders.toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1 to 100).flatMap(k => Seq((k.toLong, 1L), (k.toLong, 2L)))
      .toDF("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Quality.q373CardinalityAudit(spark, dir)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // date span 1995-06-01..1996-06-01 = 367 days, 153 post-cut:
    // est_date = ⌊100·153/367⌋ = 41 vs 50 actual
    assert(got("sel_range_date") == ("sel_range_date", 41L, 50L, 1219L))
    // uniform-value: est 50 vs 10 actual -> q-error 5.0
    assert(got("sel_eq_priority") == ("sel_eq_priority", 50L, 10L, 5000L))
    // independence halves the date estimate; truth is "urgent ⊂ post"
    assert(got("sel_conjunction") == ("sel_conjunction", 20L, 10L, 2000L))
    // PK-FK with matching NDVs: the formula is exact
    assert(got("join_ol") == ("join_ol", 200L, 200L, 1000L))
    assert(got("join_filtered") == ("join_filtered", 100L, 20L, 5000L))
    // near-uniform synthetic corpus: every assumption holds within ~30%
    // (the tiny sf0.001 slice carries mild date-priority correlation)
    val real = operators.Quality.q373CardinalityAudit(spark, d)
      .as[(String, Long, Long, Long)].collect()
    assert(real.length == 5)
    real.foreach { case (k, _, _, q) => assert(q >= 1000 && q < 1300, s"$k: $q") }
  }

  test("q371: perfectly linear keys audit near zero; clustered keys do not") {
    val dir = java.nio.file.Files.createTempDirectory("rmi").toString
    // shard "LIN": key = 100·rank (a perfect CDF line); shard "CLU":
    // two tight clusters the single line cannot follow
    val lin = (1 to 10).map(i => ("LIN", i * 100.0, i.toLong))
    val clu = (1 to 5).map(i => ("CLU", i * 1.0, 100L + i)) ++
      (6 to 10).map(i => ("CLU", 10000.0 + i, 100L + i))
    (lin ++ clu).toDF("o_orderpriority", "o_totalprice", "o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Quality.q371LearnedIndexAudit(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("LIN")._2 == 10L && got("CLU")._2 == 10L)
    // the line fits LIN to within floor dust; CLU needs a real window
    assert(got("LIN")._4 <= 1L)
    assert(got("CLU")._4 >= 2L)
    assert(got("CLU")._5 > got("LIN")._5)
    // real corpus: window sizes positive, slope positive (ranks grow
    // with price), avg <= max
    val real = operators.Quality.q371LearnedIndexAudit(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(real.length == 5)
    real.foreach { case (_, n, slope, mx, avg) =>
      assert(slope > 0 && mx >= 0 && avg <= 1000 * mx && n > 0)
    }
  }

  test("q366: repetition rules — looping doc flags, clean doc doesn't, short docs excluded") {
    val dir = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (1L, "a b a b a b", "en", "s", 11L),    // pure loop: every position duplicated
      (2L, "c d e f g h", "en", "s", 11L),    // all-distinct bigrams
      (3L, "x y", "en", "s", 3L),             // < 3 tokens: out of contract
      (4L, "p q r", "en", "s", 5L))           // boundary: exactly 3 tokens
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = operators.TextAnalysis.q366RepetitionRules(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    // doc1: dup2=5/5, top2=3/5, dup3=4/4; doc2: 0, 1/5, 0; doc4: 0, 1/2, 0
    assert(r.toSeq == Seq(("en", 3L,
      10000L / 3,                      // (10000 + 0 + 0) div 3
      10000L / 3,
      (6000L + 2000L + 5000L) / 3,
      1L,                              // only the loop crosses 20% dup
      3L)))                            // top-bigram floor 1/(n-1) crosses 8% here
  }

  test("q325: span plan replays exactly on one document") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.TextAnalysis.q325SpanCorruption(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, nTok, nSpans, nMasked, nRuns, perm) =>
      assert(nMasked >= nSpans && nMasked <= 3 * nSpans) // merge can only shrink
      assert(nRuns <= nSpans && (nSpans == 0) == (nRuns == 0))
      assert(perm == 1000 * nMasked / nTok)
    }
    // exact replay for the first 20 docs using the engine's own hash
    val docs = graft.io.Tables.documents(spark, d).filter(col("doc_id") < 20)
      .select(col("doc_id"), graft.functions.Fns.tokens(col("text")).as("tk"))
      .as[(Long, Seq[String])].collect()
    val hashes = docs.flatMap { case (id, tk) =>
      tk.indices.map(p => (id, p))
    }
    val hmap = hashes.toSeq.toDF("id", "p")
      .select($"id", $"p",
        (graft.functions.Fns.hash60(concat($"id", lit(":"), $"p")) % 10 === 0)
          .as("st"))
      .as[(Long, Int, Boolean)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    docs.foreach { case (id, tk) =>
      val starts = tk.indices.map(p => hmap((id, p)))
      val covered = tk.indices.map(p =>
        (math.max(0, p - 2) to p).exists(starts))
      val runs = tk.indices.count(p => covered(p) && (p == 0 || !covered(p - 1)))
      val row = got.find(_._1 == id).get
      assert(row._2 == tk.length && row._3 == starts.count(identity))
      assert(row._4 == covered.count(identity) && row._5 == runs)
    }
  }

  test("q354: Brier decomposition identities and a bin replay") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q354Brier(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty && got.map(_._1).forall(b => b >= 0 && b <= 9))
    val (rel, res, unc) = (got.head._6, got.head._7, got.head._8)
    assert(got.forall(r => r._6 == rel && r._7 == res && r._8 == unc))
    // resolution can never exceed uncertainty; all components >= 0
    assert(res <= unc && rel >= 0 && res >= 0)
    // parity labels: uncertainty pinned at ~0.25
    assert(unc >= 249000L && unc <= 250000L)
    // per-bin midpoints and rates replay
    got.foreach { case (bin, nK, oK, pMilli, obarMilli, _, _, _) =>
      assert(pMilli == math.floor((2.0 * bin + 1.0) / 20.0 * 1000.0).toLong)
      assert(obarMilli == math.floor(oK.toDouble / nK * 1000.0).toLong)
    }
    val n = got.map(_._2).sum
    assert(n == graft.io.Tables.customer(spark, d).count())
  }

  test("q358: MH pooled ratio is the stratum-sum ratio; rates consistent") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q358MantelHaenszel(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    val mh = got.head._5
    assert(got.forall(_._5 == mh))
    got.foreach { case (_, aK, bK, wr, _) =>
      assert(wr == 10000 * aK / (aK + bK))
    }
    // replay the pooled ratio in stratum order (the fold the window uses)
    var (ca, cb) = (0.0, 0.0)
    got.foreach { r => ca += r._2; cb += r._3 }
    assert(mh == math.floor(ca / cb * 1000.0).toLong)
  }

  test("q363: advisor ranks the sorted-on-predicate layout best per query") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Quality.q363SortkeyAdvisor(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).sorted.toSeq == Seq("custkey", "orderdate", "totalprice"))
    assert(got.map(_._7).sorted.toSeq == Seq(1L, 2L, 3L))
    val by = got.map(r => r._1 -> r).toMap
    // sorting on the predicate column prunes that query best (or ties)
    assert(by("orderdate")._3 <= by("custkey")._3 &&
      by("orderdate")._3 <= by("totalprice")._3)
    assert(by("custkey")._4 <= by("orderdate")._4 &&
      by("custkey")._4 <= by("totalprice")._4)
    assert(by("totalprice")._5 <= by("orderdate")._5 &&
      by("totalprice")._5 <= by("custkey")._5)
    // file counts and scan fractions are sane
    got.foreach { r =>
      assert(r._2 <= 64 && r._6 >= 0 && r._6 <= 10000)
      assert(r._3 <= r._2 && r._4 <= r._2 && r._5 <= r._2)
      assert(r._6 == 10000 * (r._3 + r._4 + r._5) / (3 * r._2))
    }
  }

  test("q29: repetition position localizes front-loaded boilerplate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("reppos").toString
    // doc1: 10 tokens -> 8 gram positions, quartiles of 2 positions
    // each; "a b c" recurs at positions 1 and 2 ONLY (front-loaded:
    // grams 1,2 duplicated <-> quartile 0 fully duplicated)
    Seq(
      (1L, "a b c a b c d e f g", "en", "s", 19L),
      (2L, "h i j k l m n o p q", "en", "s", 19L)) // all distinct
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = operators.TextAnalysis.q29RepetitionPosition(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc1 grams: [a b c, b c a, c a b, a b c, b c d, c d e, d e f, e f g]
    // duplicated type = "a b c" at i=1 and i=4 -> quartile 0 (i=1,2) has
    // one dup at i=1; quartile 1 (i=3,4) has one dup at i=4
    assert(r == Seq((0L, 4L, 1L, 2500L), (1L, 4L, 1L, 2500L),
      (2L, 4L, 0L, 0L), (3L, 4L, 0L, 0L)))
  }

  test("q328: quintile accounting and the lift identity hold") {
    import spark.implicits._
    val r = operators.Quality.q328QualityDupLift(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    val total = r.map(_._2).sum
    val dups = r.map(_._3).sum
    assert(r.map(_._5).distinct.size == 1)
    assert(r.head._5 == dups * 10000 / total)          // base rate replays
    r.foreach { case (_, n, nd, bp, base, lift) =>
      assert(bp == nd * 10000 / n)
      assert(lift == (if (base > 0) bp * 1000 / base else -1L))
    }
  }

  test("q394: planted front-loaded token dominates the first third's drift") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("posdrift").toString
    // every doc starts with HEADER then 8 varied tokens: the first
    // third over-represents HEADER, the rest under-represent it
    val docs = (1 to 20).map(i =>
      (i.toLong, s"HEADER a$i b$i c$i d$i e$i f$i g$i h$i", "en", "s", 40L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = operators.TextAnalysis.q394PositionalDrift(spark, dir)
      .as[(Long, Long, Long, String, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(0L, 1L, 2L))
    // 9 tokens/doc: thirds of 3; HEADER sits in third 0 of every doc
    assert(r.forall(_._4 == "HEADER"))
    assert(r.head._3 > 0L && r.head._3 >= r(1)._3)
    // token accounting: total positions = 9 per doc
    assert(r.map(_._2).sum == 9L * 20)
  }


  test("q409: each planted doc trips exactly one filter; attribution telescopes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cascade").toString
    val d18 = (1 to 18).map(i => s"w$i").mkString(" ")
    val d24 = (1 to 24).map(i => s"u$i").mkString(" ")
    Seq(
      // only F1: 10 tokens, 1 stopword, all distinct (top1 = 100pm)
      (1L, "the t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "s", 1L),
      // only F2: 25 tokens, x dominates at 200pm, stop 80pm, uniq 800pm
      (2L, "x x x x x the the " + d18, "en", "s", 1L),
      // only F3: 25 distinct tokens, zero stopwords
      (3L, (1 to 25).map(i => s"v$i").mkString(" "), "en", "s", 1L),
      // only F4: 10 distinct tokens x3 each -> uniq 333pm, top1 100pm
      (4L, (1 to 10).flatMap(i => Seq(s"r$i", s"r$i", s"r$i")).mkString(" ")
        .replace("r1 r1 r1", "the the the"), "en", "s", 1L),
      // survivor: 25 tokens, 1 stopword, all distinct
      (5L, "the " + d24, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Quality.q409FilterCascade(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    for ((rule, i) <- Seq("f1_short", "f2_dominance", "f3_stopword", "f4_repetition").zipWithIndex) {
      val (_, nFail, cascade, sole, nDocs, survivors) = got(rule)
      assert(nFail == 1L && cascade == 1L && sole == 1L,
        s"$rule expected (1,1,1), got ($nFail,$cascade,$sole)")
      assert(nDocs == 5L && survivors == 1L)
    }
    // telescoping: survivors + sum(cascade_removed) == n_docs
    assert(got.values.map(_._3).sum + 1L == 5L)
  }


  test("q424-adjacent sanity is covered in TextAnalysis; q418 skew maths on a planted key set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("buckets").toString
    (1 to 320).map(_.toLong).toDF("o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Quality.q418BucketAdvisor(spark, dir)
      .select($"b", $"n_rows", $"skew_bp", $"selected")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).forall(_ == 320L))
    // exactly one B selected, and it must be one with skew <= 1.2x if any
    assert(got.map(_._4).sum == 1L)
    val ok = got.filter(_._3 <= 12000L)
    if (ok.nonEmpty) assert(got.find(_._4 == 1L).get._1 == ok.minBy(_._1)._1)
  }


  test("q424: identical sources have delta 0 and pick each other as nearest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("delta").toString
    val sameText = "the cat sat on a mat and the dog ran to the hill in fog of war"
    val diffText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, sameText, "en", "A", 1L), (2L, sameText, "en", "B", 1L),
      (3L, diffText, "en", "C", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.TextAnalysis.q424BurrowsDelta(spark, dir)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("A", "B")) == ((0L, 1L)), s"identical sources: ${got(("A", "B"))}")
    assert(got(("A", "C"))._1 == got(("B", "C"))._1)
    assert(got(("A", "C"))._1 > 0L)
  }


  test("q429: planted clumps beat the random-permutation expectation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shuffle").toString
    // order A A B A A B: A has 2 adjacent same-source pairs, B none
    Seq(("A", 0L), ("A", 1L), ("B", 2L), ("A", 3L), ("A", 4L), ("B", 5L))
      .map { case (s, i) => (i, s"text $i", "en", s, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Quality.q429ShuffleAudit(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // expected_milli: A = 4*3*1000/6 = 2000, B = 2*1*1000/6 = 333
    assert(got("A") == (("A", 4L, 2L, 2000L, 2L, 857L)))
    assert(got("B") == (("B", 2L, 0L, 333L, 2L, 857L)))
  }

  test("q430: survivors = 5 - |subset| on the one-doc-per-rule corpus; 'none' is on the frontier") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pareto").toString
    val d18 = (1 to 18).map(i => s"w$i").mkString(" ")
    val d24 = (1 to 24).map(i => s"u$i").mkString(" ")
    Seq(
      (1L, "the t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "s", 1L),
      (2L, "x x x x x the the " + d18, "en", "s", 1L),
      (3L, (1 to 25).map(i => s"v$i").mkString(" "), "en", "s", 1L),
      (4L, (1 to 10).flatMap(i => Seq(s"r$i", s"r$i", s"r$i")).mkString(" ")
        .replace("r1 r1 r1", "the the the"), "en", "s", 1L),
      (5L, "the " + d24, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Quality.q430FilterPareto(spark, dir)
      .select($"mask", $"survivors", $"pareto")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq ==
      (0 to 15).map(m => 5L - java.lang.Long.bitCount(m.toLong)))
    assert(got(0)._3 == 1L, "the empty subset maximizes survivors -> frontier")
    // every mask with a dominator is flagged 0; frontier is non-empty
    assert(got.map(_._3).sum >= 1L)
  }


  test("q431/q432: planted schema yields the hand-derived inclusions and FDs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("profiling").toString
    Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, 1L, "A"), (2L, 1L, "B"), (3L, 2L, "A"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((1L, 1L, "F", "P1"), (2L, 1L, "O", "P2"), (3L, 2L, "F", "P1"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L, 1L, "R"), (1L, 2L, 2L, "N"), (2L, 1L, 2L, "N"), (3L, 9L, 1L, "N"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq(1L, 2L, 3L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")

    val fk = operators.Quality.q431FkDiscovery(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(fk("lineitem.l_partkey<part.p_partkey")
      == (("lineitem.l_partkey<part.p_partkey", 3L, 1L, 6666L, 0L)))
    assert(fk("customer.c_custkey<orders.o_custkey")
      == (("customer.c_custkey<orders.o_custkey", 3L, 1L, 6666L, 0L)))
    assert(fk("lineitem.l_orderkey<orders.o_orderkey")._5 == 1L)
    assert(fk("part.p_partkey<lineitem.l_partkey")._5 == 1L)

    val fd = operators.Quality.q432FdAudit(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(fd("customer.c_nationkey->c_mktsegment")
      == (("customer.c_nationkey->c_mktsegment", 2L, 1L, 5000L, 0L)))
    assert(fd("lineitem.l_partkey->l_suppkey")
      == (("lineitem.l_partkey->l_suppkey", 3L, 1L, 6666L, 0L)))
    assert(fd("lineitem.l_orderkey->l_returnflag")._3 == 1L)
    assert(fd("nation.n_nationkey->n_regionkey")._5 == 1L)
    assert(fd("orders.o_orderkey->o_orderstatus")._5 == 1L)
    assert(fd("orders.o_custkey->o_orderpriority")._4 == 5000L)
  }
}
