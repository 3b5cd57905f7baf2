package graft

import graft.operators.Dedup

/** q274 dedup-tier sensitivity on a crafted corpus where each tier
  * catches exactly one more planted duplicate family than the last. */
class DedupTierSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("dedup_tiers").toString
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q274: each tier surfaces its own planted family; dup mass monotone") {
    val prefix = (1 to 16).map(i => s"p$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, "a b c"), (2L, "a b c"),              // exact dup pair
      (3L, "x y z"), (4L, "z y x"),              // bag dup only
      (5L, s"$prefix tail one"), (6L, s"$prefix other end"), // prefix-16 only
      (7L, "lonely unique document")))
    val got = Dedup.q274DedupTiers(spark, d)
      .select($"tier", $"n_clusters", $"n_dup_docs", $"n_removable")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("1_exact", 1L, 2L, 1L),      // docs 1,2
      ("2_bag", 2L, 4L, 2L),        // + docs 3,4 (reordered words)
      ("3_prefix16", 2L, 4L, 2L)))  // docs 1,2 + 5,6; NOT the bag pair —
    // the prefix key is order-sensitive, so bag ⊄ prefix16: the two
    // loose tiers answer different questions off the exact base
    val rem = got.map(_._4)
    assert(rem.head <= rem(1) && rem.head <= rem(2)) // exact ⊆ each loose tier
  }

  test("q43: the SimHash kernel runs once per document; token-less docs drop out") {
    val d = docsDir(Seq((1L, "a b c"), (2L, "  \t "), (3L, ""), (4L, " x ")))
    val q = Dedup.q43Simhash(spark, d)
    // a filter on the kernel's own result is pushed below the
    // projection as isnotnull(simhash60(text)) and runs it twice
    val kernels = q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case k: graft.functions.SimHash60 => k }))
    assert(kernels.length == 1, s"simhash60 occurs ${kernels.length}x in\n" +
      q.queryExecution.optimizedPlan)
    assert(q.select($"doc_id").as[Long].collect().toSeq == Seq(1L, 4L))
    assert(q.filter($"simhash".isNull).count() == 0L)
  }

  test("q274: bag and prefix tiers subsume exact dups") {
    val d = docsDir(Seq((1L, "same text here"), (2L, "same text here")))
    val got = Dedup.q274DedupTiers(spark, d)
      .select($"tier", $"n_removable").as[(String, Long)].collect().toMap
    // an exact dup is a dup under every tier
    assert(got("1_exact") == 1L && got("2_bag") == 1L && got("3_prefix16") == 1L)
  }

  test("q289: identical pair estimates exactly; error bounded by 10000") {
    // 20+-token identical docs: exact jaccard 10000, all 24 signature
    // minima equal -> est 10000, err 0; a half-overlapping pair keeps
    // |err| < 10000 and mae reflects both
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val half = ((1 to 12).map(i => s"w$i") ++ (1 to 12).map(i => s"v$i")).mkString(" ")
    val d = docsDir(Seq((1L, base), (2L, base), (3L, half)))
    val got = Dedup.q289MinhashErrorAudit(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val ident = got.find(r => r._1 == 1L && r._2 == 2L).get
    assert(ident._3 == 10000L && ident._4 == 24L
      && ident._5 == 10000L && ident._6 == 0L)
    got.foreach { r =>
      assert(r._4 >= 0 && r._4 <= 24)
      assert(r._5 == 10000 * r._4 / 24)
      assert(math.abs(r._6) <= 10000)
      assert(r._7 == got.map(x => math.abs(x._6)).sum / got.length)
    }
  }

  test("q295: identical pair is TP; partition identities hold") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, base), (2L, base),
      (3L, "totally different words that share nothing with the pair")))
    val r = Dedup.q295LshPairEval(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (nc, nt, tp, fp, fn, p, rec, f1) = r
    assert(tp >= 1)            // the identical pair banded AND exact
    assert(nc == tp + fp && nt == tp + fn)
    assert(p == 10000 * tp / nc && rec == 10000 * tp / nt)
    assert(f1 == 20000 * tp / (nc + nt))
    // on the real corpus recall is high (q41's bands rarely miss a
    // >=0.05-jaccard pair) and precision is the known LSH trade
    val real = Dedup.q295LshPairEval(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(real._7 >= 5000, s"recall collapsed: $real")
    assert(real._1 == real._3 + real._4 && real._2 == real._3 + real._5)
  }

  test("q297: Chapman estimator identities; nested detectors collapse to the superset") {
    import spark.implicits._
    val r = graft.operators.Dedup
      .q297CaptureRecapture(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (n1, n2, m, nhat, se, cov1, cov2) = r
    assert(m <= math.min(n1, n2))
    assert(nhat == (n1 + 1) * (n2 + 1) / (m + 1) - 1)
    assert(nhat >= math.max(n1, n2)) // the estimate can never undershoot a sample
    assert(cov1 == 10000 * n1 / nhat && cov2 == 10000 * n2 / nhat)
    if (m == n1 || m == n2) assert(se == 0) // nested ⇒ zero Chapman variance
  }

  test("q39: k-ablation pins the k=24 column to q289 and shrinks with k") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val abl = Dedup.q39MinhashKAblation(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(abl.map(_._1) == Seq(8L, 16L, 24L))
    // same pair population at every k
    assert(abl.map(_._2).distinct.size == 1)
    abl.foreach { case (_, n, mae, mx) =>
      assert(n > 0 && mae >= 0 && mx >= mae) }
    // the k=24 row IS q289's estimator: its MAE must replay exactly
    val q289mae = Dedup.q289MinhashErrorAudit(spark, d)
      .select("mae_bp").as[Long].head()
    assert(abl.last._3 == q289mae)
  }

  test("q251: an open wedge through a bridging doc is counted open") {
    import spark.implicits._
    // A~B and B~C share halves of B; A and C share nothing (open
    // wedge). Plus a 3-clique of identical docs (closed wedges).
    val d = docsDir(Seq(
      1L -> "w1 w2 w3 w4 w5 w6",
      2L -> "w1 w2 w3 w4 x1 x2 x3 x4",
      3L -> "x1 x2 x3 x4 x5 x6",
      11L -> "p q r s t",
      12L -> "p q r s t",
      13L -> "p q r s t"))
    val r = Dedup.q251DedupTransitivity(spark, d)
      .as[(Long, Long, Long, Long)].collect().head
    // pairs: (1,2), (2,3), and the clique's 3; wedges: 1 open + 3 closed
    assert(r == ((5L, 4L, 3L, 7500L)))
  }

  test("q390: pair survival needs both endpoints; bias reads below parity") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val r = Dedup.q390SampledDedupBias(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    val (nDocs, nSamp, pf, psmp, surv, expSurv, df, ds, ratio) = r
    assert(nSamp <= nDocs && psmp <= pf && ds <= df)
    assert(surv == psmp * 10000 / pf)
    // expected survival is the squared sample rate (quadratic bias)
    val q = nSamp * 10000 / nDocs
    assert(expSurv == q * q / 10000)
    // the measured dup-rate ratio cannot exceed parity by much more
    // than discreteness: the sample under- or at-best equals the full
    // rate in expectation; assert it is a valid bp ratio
    assert(ratio >= 0 && ratio <= 20000)
  }

  test("q393: the savings curve is monotone non-increasing in the threshold") {
    import spark.implicits._
    val r = Dedup.q393DedupThresholdCurve(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(500L, 2000L, 5000L, 8000L))
    assert(r.map(_._2) == r.map(_._2).sorted.reverse)  // pairs shrink
    assert(r.map(_._3) == r.map(_._3).sorted.reverse)  // affected shrink
    r.foreach { case (_, np, aff, rem, bp) =>
      assert(rem <= aff && (np == 0L) == (aff == 0L))
      assert(aff <= 2 * np)
    }
  }

  test("q399: family accounting — docs and removables follow the histogram") {
    import spark.implicits._
    // two identical triples + one identical pair -> families {3:2? no:
    // one size-3 family, one size-2 family}
    val d = docsDir(Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "alpha beta gamma delta epsilon",
      11L -> "zeta eta theta iota kappa",
      12L -> "zeta eta theta iota kappa",
      21L -> "completely different text here now"))
    val r = Dedup.q399DupFamilySizes(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((2L, 1L, 2L, 1L, 11L), (3L, 1L, 3L, 2L, 1L)))
  }


  test("q436: identical docs share their min shingle, so content placement never splits them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shardloc").toString
    val dup = (1 to 30).map(i => s"s$i").mkString(" ")
    Seq(
      (1L, dup, "en", "a", 1L), (2L, dup, "en", "b", 1L),
      (3L, (1 to 30).map(i => s"z$i").mkString(" "), "en", "c", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Dedup.q436ShardLocalDedup(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    for (sShards <- Seq(4L, 16L)) {
      val c = got(("content_minhash", sShards))
      assert(c._3 == 1L && c._4 == 1L && c._5 == 0L,
        s"identical pair must co-locate under content placement: $c")
      assert(got(("id_hash", sShards))._3 == 1L)
    }
  }
}
