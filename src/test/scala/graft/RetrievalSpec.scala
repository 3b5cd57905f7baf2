package graft

import org.apache.spark.sql.functions._
import graft.functions.MisraGries

/** Targeted tests for the retrieval/sketch operators added in round 5:
  * the Misra–Gries mergeable summary (eviction + guarantee on crafted
  * skew, which the sf tables' uniform keys never force), BM25 ranking
  * sanity, span-dedup detection on planted duplicates, and the
  * incremental-dedup batch/corpus contract. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // ---- MisraGries algebra (direct, no Spark) ----

  test("MisraGries: eviction keeps the heavy key, est <= true") {
    val mg = new MisraGries(2) // 2 counters, 4 distinct keys
    // 60% key 1, tail 2/3/4 interleaved: n=10, heavy bound n/(k+1)=3.33
    val stream = Seq(1L, 2L, 1L, 3L, 1L, 4L, 1L, 2L, 1L, 1L)
    val summary = stream.foldLeft(mg.zero)(mg.reduce)
    assert(summary.contains(1L), "key above n/(k+1) must survive")
    assert(summary(1L) <= 6L, "MG never overestimates")
    assert(6L - summary(1L) <= 10L / 3, "undercount within n/(k+1)")
  }

  test("MisraGries: merge preserves the mergeable-summaries bound") {
    val mg = new MisraGries(2)
    // two partitions, same skew: key 1 heavy in both
    val p1 = Seq(1L, 1L, 1L, 2L, 3L).foldLeft(mg.zero)(mg.reduce)
    val p2 = Seq(1L, 1L, 4L, 5L, 1L).foldLeft(mg.zero)(mg.reduce)
    val m = mg.merge(p1, p2)
    assert(m.size <= 2)
    assert(m.contains(1L), "6/10 > n/(k+1)=10/3 must survive the merge")
    assert(m(1L) <= 6L && 6L - m(1L) <= 10L / 3)
  }

  test("MisraGries: under-capacity summary is exact") {
    val mg = new MisraGries(8)
    val s = Seq(1L, 2L, 1L, 3L).foldLeft(mg.zero)(mg.reduce)
    assert(s == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  // ---- q100 end-to-end on the real table ----

  test("q100: every reported key is above threshold and bounds hold") {
    val rows = operators.Stats.q100HeavyHitters(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("in_sketch"), s"$r: heavy key missing from sketch")
      assert(r.getAs[Boolean]("err_bound_ok"), s"$r: MG error bound violated")
    }
  }

  // ---- BM25 ----

  test("q98: rare planted term dominates via idf; ranks are dense") {
    val rows = operators.Retrieval.q98Bm25(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("rnk")).toSeq == (1L to 20L),
      "dense ranks 1..20")
    val scores = rows.map(_.getAs[Long]("score_bp")).toSeq
    assert(scores == scores.sorted.reverse, "ordered by score desc")
    // 'dup' appears in ~26 of 500 docs -> idf ~ ln(500/26) >> the
    // common terms' idf ~ ln(500/450); every top-20 doc must contain it
    val dup = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .filter($"text".rlike("(^| )dup( |$)")).select($"doc_id")
      .as[Long].collect().toSet
    val top = rows.take(5).map(_.getAs[Long]("doc_id"))
    assert(top.forall(dup.contains),
      "top-ranked docs must contain the high-idf term")
  }

  // ---- span dedup ----

  test("q99: planted shared 8-token span is found; disjoint text is not") {
    val dir = java.nio.file.Files.createTempDirectory("retr-docs").toString
    val shared = "a b c d e f g h" // 8 tokens, one shared span
    Seq(
      (0L, s"x1 x2 $shared y1 y2", "en", "s0", 0L),
      (1L, s"z1 $shared z2 z3 z4", "en", "s1", 0L),
      (2L, "p q r s t u v w x y z", "en", "s2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Retrieval.q99SpanDedup(spark, dir)
      .select($"doc_id", $"n_dup_spans").as[(Long, Long)].collect().toMap
    assert(got(0L) == 1L && got(1L) == 1L, "exactly the planted span")
    assert(got(2L) == 0L, "disjoint doc has no duplicated span")
  }

  test("q99 on testdata: planted duplicate passages produce nonzero dup_bp") {
    val rows = operators.Retrieval.q99SpanDedup(spark, "/root/testdata/sf0.001")
    assert(rows.filter($"n_dup_spans" > 0).count() > 0)
  }

  // ---- mixture-epoch planning ----

  test("q101: budget conserved, temperature favors small sources") {
    val rows = operators.Curation.q101MixtureEpochs(spark, "/root/testdata/sf0.01")
      .collect()
    val nTok = rows.map(r => r.getAs[Long]("n_tok"))
    val budget = nTok.sum
    assert(rows.map(_.getAs[Long]("target_tok")).sum <= budget,
      "floor-quantized targets never exceed the budget")
    assert(rows.map(_.getAs[Long]("share_ppm")).sum <= 1000000L)
    // √n reweighting: the smallest source gets a HIGHER epochs_milli
    // (oversampled) than the largest (subsampled)
    val byTok = rows.sortBy(_.getAs[Long]("n_tok"))
    assert(byTok.head.getAs[Long]("epochs_milli") >=
      byTok.last.getAs[Long]("epochs_milli"))
  }

  // ---- quality-canonical selection ----

  test("q102: exactly one canonical per cluster, and it is the argmax") {
    val rows = operators.Dedup.q102QualityCanonical(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, members) =>
      val canon = members.filter(_.getAs[Boolean]("is_canonical"))
      assert(canon.length == 1, s"cluster $cid: one canonical")
      val best = members.map(_.getAs[Long]("quality_score")).max
      assert(canon.head.getAs[Long]("quality_score") == best,
        s"cluster $cid: canonical must have max quality")
    }
  }

  // ---- multimodal packing + index audit ----

  test("q104: bins are modality-consistent and conserve the budgeted docs") {
    val d = "/root/testdata/sf0.01"
    val bins = operators.Multimodal.q104MmPacking(spark, d).collect()
    assert(bins.nonEmpty)
    bins.foreach { b =>
      assert(b.getAs[Long]("text_tokens") + b.getAs[Long]("vis_tokens") ==
        b.getAs[Long]("n_tokens"), "modality split must sum to the bin total")
      assert(b.getAs[Long]("n_docs") >= 1)
    }
    // conservation: binned totals equal the fitting docs' budget total
    val budget = operators.Multimodal.q97MmBudget(spark, d)
      .filter($"fits_8k").agg(sum($"total_seq")).as[Long].first()
    assert(bins.map(_.getAs[Long]("n_tokens")).sum == budget)
  }

  test("q105: members conserved, worst <= mean per cell") {
    val d = "/root/testdata/sf0.01"
    val rows = operators.Similarity.q105IndexQuality(spark, d).collect()
    assert(rows.nonEmpty)
    val nVecs = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == nVecs,
      "every vector lands in exactly one cell")
    rows.foreach { r =>
      assert(r.getAs[Long]("worst_ckey") <= r.getAs[Long]("mean_ckey"))
      assert(r.getAs[Long]("balance_permille") > 0)
    }
  }

  // ---- incremental aggregate maintenance ----

  test("q103: snapshot+delta merge == full recompute, incl. one-sided buckets") {
    val dir = java.nio.file.Files.createTempDirectory("incagg").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    // bucket 1: only before cutoff; bucket 2: only after; bucket 3: both
    Seq(
      (1L, 1L, ts("1997-03-01 00:00:00"), 10.50),
      (2L, 1L, ts("1997-05-01 00:00:00"), 20.25),
      (3L, 2L, ts("1998-06-01 00:00:00"), 30.00),
      (4L, 3L, ts("1997-09-01 00:00:00"), 5.75),
      (5L, 3L, ts("1999-01-01 00:00:00"), 4.25))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Relational.q103IncrementalAgg(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 30.75), (2L, 1L, 30.00), (3L, 2L, 10.00)))
  }

  // ---- snapshot diff (CDC generation) ----

  test("q108: applying the emitted delta to snapshot A reproduces snapshot B") {
    val d = "/root/testdata/sf0.001"
    val o = spark.read.parquet(s"$d/orders.parquet")
      .select($"o_orderkey", $"o_totalprice".cast("decimal(18,2)").as("price"))
    val snapA = o.filter($"o_orderkey" % 7 =!= 0)
    val snapB = o.filter($"o_orderkey" % 5 =!= 0)
      .select($"o_orderkey",
        when($"o_orderkey" % 3 === 0, $"price" + lit(1).cast("decimal(18,2)"))
          .otherwise($"price").as("price"))
    val diff = operators.Relational.q108SnapshotDiff(spark, d)
    val applied = snapA
      .join(diff.filter($"op".isin("D", "U")).select($"o_orderkey"),
        Seq("o_orderkey"), "left_anti")
      .union(diff.filter($"op".isin("I", "U"))
        .select($"o_orderkey", $"new_price".cast("decimal(18,2)").as("price")))
    val got = applied.collect().map(r => (r.getLong(0), r.getDecimal(1))).toSet
    val want = snapB.collect().map(r => (r.getLong(0), r.getDecimal(1))).toSet
    assert(got == want, "delta must transform A into B exactly")
    assert(Seq("I", "U", "D").forall(op =>
      diff.filter($"op" === op).count() > 0), "all three op kinds present")
  }

  // ---- incremental dedup ----

  test("q52: batch doc identical to a corpus doc is flagged, clean doc is not") {
    val dir = java.nio.file.Files.createTempDirectory("retr-inc").toString
    val text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    Seq(
      (10L, text, "en", "s0", 0L), // batch (doc_id%10==0), dup of 11
      (11L, text, "en", "s1", 0L), // corpus twin
      (20L, "q1 q2 q3 q4 q5 q6 q7 q8", "en", "s2", 0L), // batch, unique
      (12L, "r1 r2 r3 r4 r5 r6 r7 r8", "en", "s3", 0L)) // corpus, unique
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Dedup.q52IncrementalDedup(spark, dir)
      .select($"doc_id", $"is_dup").as[(Long, Boolean)].collect().toMap
    assert(got == Map(10L -> true, 20L -> false))
  }

  // ---- hybrid fusion ----

  private val sfd = "/root/testdata/sf0.001"

  test("q119: RRF score reconstructs from the ranks; fused ranks are 1..10") {
    val got = operators.Retrieval.q119RrfFusion(spark, sfd).collect()
    assert(got.map(_.getAs[Long]("fused_rank")).toSeq == (1L to got.length))
    got.foreach { r =>
      def contrib(rank: Long) = if (rank == 0L) 0L else 1000000L / (60L + rank)
      assert(r.getAs[Long]("rrf_micro") ==
        contrib(r.getAs[Long]("rnk_sparse")) + contrib(r.getAs[Long]("rnk_dense")),
        s"rrf_micro mismatch: $r")
      // at least one list contributed
      assert(r.getAs[Long]("rnk_sparse") > 0 || r.getAs[Long]("rnk_dense") > 0)
    }
    // scores non-increasing in fused rank order
    val scores = got.map(_.getAs[Long]("rrf_micro"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q120: PMI matches a brute-force recount for every reported pair") {
    val got = operators.Corpus.q120PmiPairs(spark, sfd).collect()
    assert(got.nonEmpty && got.length <= 20)
    val docs: Array[(Long, Set[String])] = graft.io.Tables.documents(spark, sfd)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSet }
    val n = docs.length.toLong
    val cw = docs.flatMap(_._2).groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    got.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(w1 < w2)
      val cxy = docs.count { case (_, ws) => ws(w1) && ws(w2) }.toLong
      assert(r.getAs[Long]("c_xy") == cxy && cxy >= 5, s"support mismatch: $r")
      val pmi = math.floor(math.log((cxy * n).toDouble / (cw(w1) * cw(w2))) * 1e6).toLong
      assert(r.getAs[Long]("pmi_micro") == pmi, s"pmi mismatch: $r want $pmi")
    }
  }

  test("q165: PQ/ADC ranks 5 per query; ADC is exact on codebook seeds; recall floor holds") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.operators.Similarity.q165PqAdc(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect() // qid, rn, cid, adc, exact
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 5 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { vs =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq,
        "ADC not monotone in rank")
    }
    // a codebook seed (vec_id < 16) encodes to ITSELF in every
    // subspace, so its ADC distance is the exact distance
    rows.filter(_._3 < 16).foreach { case (qid, _, cid, adc, exact) =>
      assert(adc == exact, s"seed $cid not exactly reconstructed for q$qid")
    }
    // recall@5 vs the exact brute-force top-5 (deterministic data:
    // measured 0.28 overall, every query >= 1/5 — pinned as floors)
    val exact5 = graft.operators.Similarity.q46AnnTopK(spark, d)
    val q = graft.io.Tables.embeddings(spark, d)
      .select($"vec_id", graft.functions.Fns.quantize1000($"embedding").as("qa"))
      .as[(Long, Seq[Long])].collect().toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = byQ.keys.map { qid =>
      qid -> q.keys.filter(_ != qid).toSeq
        .sortBy(c => (d2(q(qid), q(c)), c)).take(5).toSet
    }.toMap
    val overlaps = byQ.map { case (qid, vs) =>
      vs.map(_._3).toSet.intersect(truth(qid)).size
    }
    assert(overlaps.forall(_ >= 1), s"a query lost all true neighbors: $overlaps")
    assert(overlaps.sum >= 7, s"recall collapsed: ${overlaps.sum}/25")
    assert(exact5.count() > 0) // brute-force baseline still alive
  }

  test("q180: nDCG/recall bounded, consistent, and hits agree with q46 truth") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Similarity.q180NdcgEval(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (hits, ndcg) = (r.getAs[Long]("n_hits"), r.getAs[Long]("ndcg_ppm"))
      assert(hits >= 0L && hits <= 10L)
      assert(r.getAs[Long]("recall_bp") == hits * 1000L)
      assert(ndcg >= 0L && ndcg <= 1000000L)
      assert((hits == 0L) == (ndcg == 0L), s"hits/ndcg inconsistent: $r")
    }
    // per-query hit count can never exceed the truth-set size for that
    // query (q46 at rn<=10 IS the truth list)
    val truthSizes = operators.Similarity.q46AnnTopK(spark, d)
      .groupBy($"qid").count().as[(Long, Long)].collect().toMap
    got.foreach { r =>
      val q = r.getAs[Long]("qid")
      assert(r.getAs[Long]("n_hits") <= truthSizes.getOrElse(q, 0L))
    }
  }

  test("q344: Dirichlet QL scores match a scalar replay") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Retrieval.q344QueryLikelihood(spark, d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to got.length))
    val docs = graft.io.Tables.documents(spark, d)
      .select($"doc_id", graft.functions.Fns.tokens($"text"))
      .as[(Long, Seq[String])].collect()
    val c = docs.map(_._2.length.toLong).sum
    val query = Seq("spark", "join", "window")
    val cf = query.map(t => t -> docs.map(_._2.count(_ == t).toLong).sum).toMap
    val scores = docs.map { case (id, tk) =>
      val len = tk.length.toLong
      val sc = query.map { t =>
        val tf = tk.count(_ == t).toLong
        math.floor(math.log(
          (tf.toDouble * c + 2000.0 * cf(t)) / (c.toDouble * (len + 2000)))
          * 1000000.0).toLong
      }.sum
      val hits = query.count(t => tk.contains(t)).toLong
      (id, hits, sc)
    }
    val top = scores.sortBy(s => (-s._3, s._1)).take(got.length)
    assert(got.map(r => (r._2, r._3, r._4)).toSeq ==
      top.map(t => (t._1, t._2, t._3)).toSeq)
    // smoothing property: a doc with MORE hits of a rarer term can
    // outrank longer docs — at minimum top-1 has all query terms
    assert(got.head._3 == query.length)
  }

  test("q395: the default-vs-high-k1 pair preserves top-10; identities hold") {
    import spark.implicits._
    val r = graft.operators.Retrieval.q395Bm25ParamSweep(spark, "/root/testdata/sf0.001")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(r.size == 3)
    assert(r.map(x => (x._1, x._2)).toSet == Set(
      ("c0_k12_b75", "c1_k09_b40"), ("c0_k12_b75", "c2_k20_b75"),
      ("c1_k09_b40", "c2_k20_b75")))
    r.foreach { case (_, _, ov, bp) =>
      assert(ov >= 0 && ov <= 10 && bp == ov * 1000) }
  }


  test("q421: identical rankings give overlap d at every depth and RBO = sum of weights") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rbo").toString
    // all-distinct tokens, no stopwords: quality = 10*n + 2000, so the
    // quality ranking IS the length ranking; n_chars mirrors token count
    (1 to 12).map { i =>
      val n = 20 + i
      (i.toLong, (1 to n).map(j => s"t${i}_$j").mkString(" "), "en", "s", n.toLong * 10)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Retrieval.q421RankBiasedOverlap(spark, dir)
      .select($"d", $"overlap", $"a_d_bp", $"rbo_e10")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == (1L to 10L).toSeq, s"overlaps: ${got.map(_._2).toSeq}")
    assert(got.forall(_._3 == 10000L))
    // RBO(identical)@10 = sum w_d = 1e10 * (1 - 0.9^10)
    assert(got.head._4 == 6513215599L)
  }
}
