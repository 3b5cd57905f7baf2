package graft

import graft.operators.{Dedup, Prep}

/** Targeted tests for the prep operators on crafted inputs — chunk
  * stride/overlap arithmetic, mask ordering, tie handling in equi-depth
  * bins, and the integer outlier inequality — plus a consistency check
  * of the ensemble vote against its member methods on real testdata. */
class PrepSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("prep").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q169/q169b: no unpartitioned row-level WindowExec (global side is histogram/digest)") {
    val d001 = "/root/testdata/sf0.001"
    def globalWindows(df: org.apache.spark.sql.DataFrame) =
      graft.plans.ScaleGuard.globalWindowViolations(df.queryExecution.optimizedPlan)
    val a = operators.Prep.q169QuantileNorm(spark, d001)
    assert(globalWindows(a).isEmpty, "q169")
    val b = operators.Prep.q169bQuantileNormDigest(spark, d001)
    val rows = b.collect()
    assert(globalWindows(b).isEmpty, "q169b")
    // the digest rank-error theorem holds on every grid point
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Boolean]("le_ok") && r.getAs[Boolean]("lt_ok")))
  }

  test("q401: runs survive range-partition boundaries; advisor picks all three encodings") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("enc").toString
    // 12 single-line orders; l_returnflag is A×6 then B×6 — a run that
    // SPANS range partitions, so a partition-first row counted as a new
    // run (the bug the lasts-table correction exists for) would read >2
    (1 to 12).map { i =>
      (i.toLong, 1, 100.0, if (i <= 6) "A" else "B",
        if (i % 2 == 0) "X" else "Y", 5.0, i.toDouble, 7L)
    }.toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag",
        "l_linestatus", "l_quantity", "l_discount", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Prep.q401EncodingAdvisor(spark, dir)
      .select("col_name", "runs", "enc_pick")
      .as[(String, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("l_returnflag") == ((2L, "dict")))     // boundary-spanning run
    assert(got("l_linestatus") == ((12L, "dict")))    // alternating: every row a run
    assert(got("l_quantity") == ((1L, "dict")))       // constant: one run
    assert(got("l_orderkey") == ((12L, "plain")))     // unique ints: plain beats dict
    assert(got("l_discount") == ((12L, "plain")))
    assert(got("l_extendedprice") == ((1L, "dict")))
    assert(got("l_suppkey") == ((1L, "dict")))
  }

  test("q381: window boundaries are half-open at the cutoff; labels never leak into features") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pit").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    // cutoff 1997-01-01, features [1996-01-02, 1997-01-01), label
    // [1997-01-01, 1997-06-30)
    Seq(
      (1L, 10L, d("1996-06-01"), 100.0),  // cust 1: feature order...
      (1L, 11L, d("1997-01-01"), 999.0),  //   ...cutoff-day order = LABEL, not feature
      (2L, 20L, d("1996-12-31"), 50.0),   // cust 2: feature, then silence -> churned
      (3L, 30L, d("1996-01-01"), 70.0),   // cust 3: one day BEFORE the window -> excluded
      (4L, 40L, d("1997-02-01"), 80.0),   // cust 4: label-window only -> excluded (f=0)
      (5L, 50L, d("1996-11-01"), 60.0),   // cust 5: feature + late label order
      (5L, 51L, d("1997-06-29"), 10.0))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Prep.q381PitTrainingSet(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 214L, 1L, 10000L, 0L),  // cutoff-day order labels them retained
      (2L, 1L, 1L, 5000L, 1L),     // churned; m excludes nothing post-cutoff
      (5L, 61L, 1L, 6000L, 0L)))   // label order on the window's last day counts
    // the 999.00 cutoff-day order must NOT appear in cust 1's features
    assert(got.head._4 == 10000L)
  }

  test("q91: stride-24 windows of 32 — boundary sizes and 8-token overlap") {
    val toks = (1 to 40).map(i => s"t$i")
    val d = docsDir(Seq((1L, toks.mkString(" "), "en", "s", 1L)))
    val got = Prep.q91DocChunks(spark, d)
      .select($"chunk_id", $"start_tok", $"n_tok")
      .as[(Long, Long, Long)].collect().toSeq
    // starts 1 and 25: first chunk full (32), second clipped to 16
    assert(got == Seq((0L, 1L, 32L), (1L, 25L, 16L)))
  }

  test("q91: chunk hash is content-positional — doc of 24 tokens is one short chunk") {
    val d = docsDir(Seq(
      (1L, (1 to 24).map(i => s"w$i").mkString(" "), "en", "s", 1L),
      (2L, "", "en", "s", 0L))) // token-less doc emits nothing
    val got = Prep.q91DocChunks(spark, d)
      .select($"doc_id", $"n_tok").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 24L)))
  }

  test("q92: email masked before ID before digit runs — no double counting") {
    val dir = java.nio.file.Files.createTempDirectory("prep").toString
    Seq((7L, "Customer#000000007", 1, 0.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Prep.q92PiiScrub(spark, dir)
      .select($"n_email", $"n_id", $"n_num").as[(Long, Long, Long)].head()
    // profile: Customer#000000007 seg BUILDING contact building.7@mail.example ref 160162
    // one email; one ID (its 9-digit run must NOT also count as a num);
    // one bare digit run (the ref number)
    assert(got == ((1L, 1L, 1L)))
  }

  test("q93: distinct values spread one per decile; heavy ties collapse to one bin") {
    val spread = docsDir((1L to 10L).map(i =>
      (i, "x", "en", "s", 100L + i)))
    val bins = Prep.q93QualityBins(spark, spread)
      .select($"bin", $"n_docs").as[(Long, Long)].collect().toSeq
    assert(bins == (0L to 9L).map(b => (b, 1L)))

    val tied = docsDir((1L to 10L).map(i => (i, "x", "en", "s", 42L)))
    val one = Prep.q93QualityBins(spark, tied)
      .select($"bin", $"n_docs", $"lo_chars", $"hi_chars")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(one == Seq((0L, 10L, 42L, 42L)))
  }

  test("q94: integer |z|>2 inequality flags the single spike dimension value") {
    val dir = java.nio.file.Files.createTempDirectory("prep").toString
    // 10 one-dim vectors: nine 0.0 and one 1.0 → q = 0×9, 1000×1
    // (n·q − Σq)² = 9000² = 8.1e7 > 4(n·Σq² − Σq²) = 3.6e7 → 1 outlier
    (1 to 10).map(i => (i.toLong, Seq(if (i == 10) 1.0f else 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Prep.q94DimStandardize(spark, dir)
      .select($"dim", $"n", $"sum_q", $"sumsq_q", $"n_outlier")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L, 1000L, 1000000L, 1L)))
  }

  test("q95: every ensemble pair is confirmed by ≥2 member methods (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val mh = Dedup.q41MinhashLsh(spark, d).filter($"n_sig_equal" >= 8)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val sh = Dedup.q44SimhashPairs(spark, d)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val jc = Dedup.q42NgramJaccard(spark, d)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val ens = Dedup.q95NeardupEnsemble(spark, d)
      .select($"doc1", $"doc2", $"votes", $"mask")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(ens.nonEmpty) // the corpus has known near-dup pairs
    ens.foreach { case (a, b, votes, mask) =>
      val members = Seq(mh((a, b)), sh((a, b)), jc((a, b)))
      assert(members.count(identity) == votes && votes >= 2)
      val expectMask = (if (members(0)) 1L else 0L) +
        (if (members(1)) 2L else 0L) + (if (members(2)) 4L else 0L)
      assert(mask == expectMask)
    }
    // and no 2-vote pair was dropped
    val twoPlus = (mh & sh) | (mh & jc) | (sh & jc)
    assert(ens.map(e => (e._1, e._2)).toSet == twoPlus)
  }

  test("q126: prefix filter loses no J≥0.8 pair vs the full inverted index") {
    val d = "/root/testdata/sf0.001"
    // ground truth: q42's FULL inverted-index join, re-thresholded
    val full = Dedup.q42NgramJaccard(spark, d)
      .filter($"jaccard_bp" >= 8000)
      .select($"doc1", $"doc2", $"inter", $"n1", $"n2", $"jaccard_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val pref = Dedup.q126PrefixSimjoin(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(full.nonEmpty) // the corpus plants high-jaccard near-dups
    assert(pref == full)
  }

  test("q131: identical docs share every CDC chunk; disjoint vocab shares none") {
    val twin = (1 to 80).map(i => s"w$i").mkString(" ")
    val other = (1 to 80).map(i => s"z$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, twin, "en", "s", twin.length.toLong),
      (2L, twin, "en", "s", twin.length.toLong),
      (3L, other, "en", "s", other.length.toLong)))
    val got = Prep.q131CdcChunks(spark, d)
      .select($"doc_id", $"dup_permille").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1000L && got(2L) == 1000L, s"twins not fully dup: $got")
    assert(got(3L) == 0L, s"disjoint doc flagged dup: $got")
  }

  test("q96: near-dup cluster that straddles splits under doc-key lands whole") {
    // h(89) < testBound (doc-keyed split would send 89 to 'test');
    // h(1) and h(2) land in 'train'. Docs 1 and 89 are identical →
    // one cluster with canonical id 1 → BOTH split by key 1 (train).
    val d = docsDir(Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 1L),
      (89L, "alpha beta gamma delta epsilon zeta", "en", "s", 1L),
      (2L, "totally unrelated words nothing shared here", "en", "s", 1L)))
    val got = Dedup.q96LeakageSplit(spark, d)
      .select($"split", $"n_docs", $"n_clustered", $"n_clusters")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("train", 3L, 2L, 1L)))
  }

  test("q161: distributed y = G·1 equals the materialized Gram product") {
    val d = "/root/testdata/sf0.001"
    val vecs = graft.io.Tables.embeddings(spark, d)
      .select(graft.functions.Fns.quantize1000($"embedding"))
      .as[Seq[Long]].collect()
    val dim = vecs.head.length
    // brute force: actually build G, then multiply by the ones vector
    val g = Array.ofDim[Long](dim, dim)
    vecs.foreach { v =>
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { g(i)(j) += v(i) * v(j); j += 1 }
        i += 1
      }
    }
    val want = (0 until dim).map(i => g(i).sum)
    val got = graft.operators.Prep.q161PowerIter(spark, d)
      .select($"dim", $"y").as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    assert(got == want)
  }

  test("q236: FS bands partition each block; best pair maximizes the score") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Dedup.q236RecordLinkage(spark, d).collect()
    assert(got.nonEmpty)
    val nc = graft.io.Tables.customer(spark, d)
      .groupBy($"c_nationkey").count().as[(Int, Long)].collect().toMap
    val ns = graft.io.Tables.supplier(spark, d)
      .groupBy($"s_nationkey").count().as[(Int, Long)].collect().toMap
    got.foreach { r =>
      val nat = r.getAs[Int]("nationkey")
      // blocked pair count is exactly |customers| x |suppliers| in the block
      assert(r.getAs[Long]("n_pairs") == nc(nat) * ns(nat), s"block $nat")
      assert(r.getAs[Long]("n_match") + r.getAs[Long]("n_review")
        <= r.getAs[Long]("n_pairs"))
      // the best score is attainable: within the FS weight range
      val best = r.getAs[Long]("best_score_milli")
      assert(best >= -2392L && best <= 4806L, s"score out of range: $best")
    }
    // nations with both sides present are all reported
    assert(got.length == nc.keySet.intersect(ns.keySet).size)
  }

  test("q248: each config's candidates match a brute-force banding of the sigs") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Dedup.q248LshSweep(spark, d).collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_est_dups"))).toMap
    val sigs = operators.Dedup.minhashSigs(spark, d)
      .as[(Long, Seq[Long])].collect()
    def pairs(bands: Int, rows: Int): Set[(Long, Long)] = {
      val byBucket = sigs.flatMap { case (id, sig) =>
        (0 until bands).map(b => (b, sig.slice(b * rows, b * rows + rows)) -> id)
      }.groupBy(_._1).values
      byBucket.flatMap { members =>
        val ids = members.map(_._2).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    }
    val sigMap = sigs.toMap
    Seq((12, 2), (8, 3), (6, 4)).foreach { case (b, r) =>
      val want = pairs(b, r)
      if (want.isEmpty) assert(!got.contains((b, r)))
      else {
        assert(got((b, r))._1 == want.size.toLong, s"($b,$r) pair count")
        val est = want.count { case (d1, d2) =>
          sigMap(d1).zip(sigMap(d2)).count(t => t._1 == t._2) >= 12 }
        assert(got((b, r))._2 == est.toLong, s"($b,$r) est dups")
      }
    }
    // structural: every (6,4) collision is a (12,2) collision (a
    // matching 4-row band contains two matching 2-row halves)
    assert(pairs(6, 4).subsetOf(pairs(12, 2)))
  }

  test("q256: pair budget equals sum s(s-1)/2 and bounds the q41 candidate set") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val rows = operators.Dedup.q256LshCostPlanner(spark, d).collect()
    val total = rows.filter(_.getAs[Long]("sz") == 0L).head
    val classes = rows.filter(_.getAs[Long]("sz") > 0L)
    // per-class pairs arithmetic and the total roll-up
    classes.foreach { r =>
      val s = r.getAs[Long]("sz")
      assert(r.getAs[Long]("pairs") == r.getAs[Long]("n_buckets") * s * (s - 1) / 2)
    }
    assert(classes.map(_.getAs[Long]("pairs")).sum == total.getAs[Long]("pairs"))
    // direct bucket-size recomputation
    val sizes = operators.Dedup.minhashBands(spark, d)
      .groupBy($"b", $"band_key").count().select($"count").as[Long].collect()
    assert(total.getAs[Long]("pairs") == sizes.map(s => s * (s - 1) / 2).sum)
    // the planner's budget bounds the DISTINCT candidate pairs q41 emits
    val q41Pairs = operators.Dedup.q41MinhashLsh(spark, d).count()
    assert(q41Pairs <= total.getAs[Long]("pairs"),
      s"distinct pairs $q41Pairs exceed budget ${total.getAs[Long]("pairs")}")
  }

  test("q258: persistence curves are monotone and reconcile with q71-style CC") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Dedup.q258ThresholdPersistence(spark, d).collect()
      .map(r => r.getAs[Long]("threshold_bp") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("largest"))).toMap
    assert(got.keySet == Set(5000L, 7000L, 9000L))
    // tighter threshold => fewer-or-equal covered docs, and the largest
    // cluster can only shrink; cluster count is NOT monotone in general
    // but coverage and max size are
    assert(got(9000L)._2 <= got(7000L)._2 && got(7000L)._2 <= got(5000L)._2)
    assert(got(9000L)._3 <= got(7000L)._3 && got(7000L)._3 <= got(5000L)._3)
    // brute-force components at 0.5 from the pair relation
    val edges = operators.Dedup.jaccardPairs(spark, d)
      .filter($"jaccard_bp" >= 5000L)
      .select($"doc1", $"doc2").as[(Long, Long)].collect()
    if (edges.nonEmpty) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = parent.getOrElse(x, x)
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val comps = nodes.groupBy(find).values
      assert(got(5000L)._1 == comps.size.toLong)
      assert(got(5000L)._2 == nodes.length.toLong)
      assert(got(5000L)._3 == comps.map(_.length).max.toLong)
    } else assert(got(5000L) == ((0L, 0L, 0L)))
  }

  test("q299: ChiMerge == direct replay; bins stay ordered and mass-conserving") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Prep.q299ChiMerge(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 15)
    val cust = spark.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)].collect()
    val urgent = spark.read.parquet(s"$d/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().as[Long].collect().toSet
    val lo = cust.map(_._2).min; val hi = cust.map(_._2).max
    case class B(cnt: Long, pos: Long, loC: Long, hiC: Long)
    var bins = cust.groupBy { case (_, c) =>
        math.min(20 * (c - lo) / (hi - lo + 1), 19L) }
      .toSeq.sortBy(_._1).map { case (_, rows) =>
        B(rows.length, rows.count(r => urgent.contains(r._1)),
          rows.map(_._2).min, rows.map(_._2).max) }.toVector
    def chi(x: B, y: B): Double = {
      val det = (x.pos * (y.cnt - y.pos) - y.pos * (x.cnt - x.pos)).toDouble
      val den = (x.pos + y.pos).toDouble * ((x.cnt - x.pos) + (y.cnt - y.pos)) *
        x.cnt * y.cnt
      if (den == 0.0) 0.0 else (x.cnt + y.cnt) * det * det / den
    }
    for (_ <- 1 to 5) {
      val i = bins.indices.dropRight(1)
        .minBy(i => (chi(bins(i), bins(i + 1)), i))
      val m = B(bins(i).cnt + bins(i + 1).cnt, bins(i).pos + bins(i + 1).pos,
        bins(i).loC, bins(i + 1).hiC)
      bins = (bins.take(i) :+ m) ++ bins.drop(i + 2)
    }
    val expected = bins.zipWithIndex.map { case (b, i) =>
      (i.toLong, b.loC, b.hiC, b.cnt, b.pos, 1000000L * b.pos / b.cnt) }
    assert(got.toSeq == expected)
    // ordered, non-overlapping ranges; counts conserve the population
    got.sliding(2).foreach { case Array(a, b) => assert(a._3 < b._2); case _ => }
    assert(got.map(_._4).sum == cust.length.toLong)
  }

  test("q360: leakage delta — leaky feature dominates PIT on post-cutoff label") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val r = operators.Prep.q360PitLeakageDelta(spark, d)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head
    assert(r._1 == graft.io.Tables.customer(spark, d).count())
    // the leaky feature (which contains the label window) must
    // correlate at least as strongly as the PIT-correct one
    assert(r._4 >= r._3)
    assert(r._5 == r._4 - r._3 ||
      math.abs(r._5 - (r._4 - r._3)) <= 1) // independent floors
    assert(r._6 == (r._5 > 500))
    // exact replay of r_pit from raw data
    val cutoff = java.time.LocalDate.parse("1998-07-01")
    val ords = graft.io.Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderdate").cast("date"))
      .as[(Long, java.sql.Date)].collect()
    val custs = graft.io.Tables.customer(spark, d)
      .select(col("c_custkey")).as[Long].collect()
    val pit = ords.filter(_._2.toLocalDate.isBefore(cutoff))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val lab = ords.filter(!_._2.toLocalDate.isBefore(cutoff)).map(_._1).toSet
    val rows = custs.map(c =>
      (pit.getOrElse(c, 0L), if (lab(c)) 1L else 0L))
    val n = rows.length.toDouble
    val sp = rows.map(_._1).sum.toDouble; val ny = rows.map(_._2).sum.toDouble
    val spy = rows.map(t => t._1 * t._2).sum.toDouble
    val spp = rows.map(t => t._1 * t._1).sum.toDouble
    val syy = rows.map(t => t._2 * t._2).sum.toDouble
    val rPit = (n * spy - sp * ny) /
      math.sqrt((n * spp - sp * sp) * (n * syy - ny * ny))
    assert(r._3 == math.floor(rPit * 10000.0).toLong)
  }


  test("q416: greedy picks by benefit density under the 30% budget") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("views").toString
    (1 to 10).map { i =>
      (1L, (i - 1) / 2 + 1L, i.toLong, if (i <= 5) "A" else "B", "X",
        java.sql.Date.valueOf(f"2020-01-$i%02d"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Prep.q416ViewAdvisor(spark, dir)
      .select($"view", $"view_rows", $"benefit", $"rows_cum", $"selected")
      .as[(String, Long, Long, Long, Long)].collect()
    // fact 10, budget 3: flag_status (2 rows, benefit 240) then order
    // (1 row, benefit 45) fit; part (5 rows) blows the budget
    assert(got.map(_._1).toSeq == Seq("flag_status", "order", "part", "shipdate", "supp"))
    assert(got.map(_._5).toSeq == Seq(1L, 1L, 0L, 0L, 0L))
    assert(got(0)._4 == 2L && got(1)._4 == 3L)
  }

  test("q417: hand-computed counts, NDVs, estimates, and true cardinalities") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jcard").toString
    Seq(
      (1L, 5.0, java.sql.Date.valueOf("1993-06-01"), "R"),
      (1L, 20.0, java.sql.Date.valueOf("1995-01-01"), "N"),
      (2L, 5.0, java.sql.Date.valueOf("1993-06-01"), "N"))
      .toDF("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, 200000.0, "F"), (2L, 50000.0, "O"))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Prep.q417JoinCardAudit(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // pair a: cnt_l=2 (qty<10), ndv_l=2, cnt_o=1 (price>100k), ndv_o=1
    //         est = 2*1/max(2,1) = 1; actual = 1 -> qerr 1000
    assert(got("a_qty_price") == (("a_qty_price", 2L, 1L, 2L, 1L, 1L, 1L, 1000L)))
    assert(got("b_ship_status") == (("b_ship_status", 2L, 1L, 2L, 1L, 1L, 1L, 1000L)))
    assert(got("c_flag_status") == (("c_flag_status", 1L, 1L, 1L, 1L, 1L, 1L, 1000L)))
  }


  test("q425: short-circuit costs rank by true joint selectivity, not marginals") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pred").toString
    def row(p1: Boolean, p2: Boolean, p3: Boolean) =
      (if (p1) 5.0 else 20.0,
        java.sql.Date.valueOf(if (p2) "1993-01-01" else "1995-01-01"),
        if (p3) "R" else "N")
    val rows = Seq.fill(1)(row(true, true, true)) ++
      Seq.fill(1)(row(true, true, false)) ++
      Seq.fill(2)(row(false, true, true)) ++
      Seq.fill(3)(row(true, false, false)) ++
      Seq.fill(3)(row(false, false, false))
    rows.toDF("l_quantity", "l_shipdate", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // n=10 s1=5 s2=4 s3=3 s12=2 s13=1 s23=3
    val got = Prep.q425PredicateOrder(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    assert(got.head == (("flag,qty,ship", 14L, 1L, 0L)))
    assert(got.map(r => r._1 -> r._2).toMap == Map(
      "qty,ship,flag" -> 17L, "qty,flag,ship" -> 16L, "ship,qty,flag" -> 16L,
      "ship,flag,qty" -> 17L, "flag,qty,ship" -> 14L, "flag,ship,qty" -> 16L))
  }


  test("q426: semi-join truth and bloom leakage from hand-counted rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rtf").toString
    Seq((1L, "1994-03-15"), (2L, "1994-03-20"), (3L, "1995-01-01"), (4L, "1993-01-01"))
      .map { case (k, d) => (k, java.sql.Date.valueOf(d)) }
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(1L, 1L, 2L, 3L, 3L, 4L).toDF("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Prep.q426RuntimeFilterRoi(spark, dir)
      .select($"filter", $"probe_rows", $"build_keys", $"survivors",
        $"rows_shipped", $"reduction_bp")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("exact_semijoin") == (("exact_semijoin", 6L, 2L, 3L, 3L, 5000L)))
    // at 6 probe rows the modeled fp leakage floors to zero extra rows
    assert(got("bloom_8bpk")._5 == 3L && got("bloom_16bpk")._5 == 3L)
  }


  test("q437: on uniform data the 10% sample reproduces the exact boundaries") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rangesample").toString
    (1 to 800).map(k => (k.toLong, k.toDouble))
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Prep.q437RangeSampleAudit(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // v = 100*key is uniform; both boundary sets are {10000, ..., 70000}
    assert(got("range_full") == (("range_full", 800L, 100L, 10000L, 0L)))
    assert(got("range_sampled") == (("range_sampled", 800L, 100L, 10000L, 0L)))
    assert(got("hash")._2 == 800L)
  }
}
