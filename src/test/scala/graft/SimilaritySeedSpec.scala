package graft

import graft.operators.Similarity

/** Targeted tests for the round-6 embedding-curation additions:
  * farthest-first k-center seeding (q269), the JL random-projection
  * distortion audit (q270), and the k-NN label-agreement noise audit
  * (q271) — crafted geometries where the exact answer is checkable by
  * hand, unlike the synthetic corpus where only the oracle sees it. */
class SimilaritySeedSpec extends SparkSpec {
  import spark.implicits._

  private def embDir(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("simseed").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q269: farthest-first picks the known order; sel_dist non-increasing") {
    // 1-D line at 0, 1, 10, 4 (quantized ×1000). Seed = min vec_id (0 at x=0).
    // Round 2: farthest from {0} is x=10 (d=100e6). Round 3: min-dist to
    // {0,10} maximized at x=4 (d=16e6 vs 36e6 -> 16e6; x=1's is 1e6).
    // Round 4: remaining x=1, d=1e6.
    val d = embDir(Seq(
      (0L, Seq(0f, 0f), 0), (1L, Seq(1f, 0f), 0),
      (2L, Seq(10f, 0f), 0), (3L, Seq(4f, 0f), 0)))
    val got = Similarity.q269FarthestFirst(spark, d)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L), (2L, 2L, 100000000L),
      (3L, 3L, 16000000L), (4L, 1L, 1000000L)))
    // greedy k-center invariant: selection distances never increase
    val dists = got.drop(1).map(_._3)
    assert(dists == dists.sorted.reverse)
  }

  test("q270: distortion identity holds; identical pair reads exactly 10000") {
    // pair 0: (id 0, id 100) differ; pair 1: (id 1, id 101) identical
    val d = embDir(Seq(
      (0L, Seq(1f, 2f, 3f), 0), (100L, Seq(0.5f, -1f, 3f), 0),
      (1L, Seq(0.25f, 0.75f), 0), (101L, Seq(0.25f, 0.75f), 0)))
    val got = Similarity.q270JlAudit(spark, d)
      .select($"pair_id", $"orig_sq", $"proj_sq", $"distortion_bp")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.size == 2)
    val (_, orig, proj, dist) = got(0)
    assert(orig == 500 * 500 + 3000 * 3000) // q diffs: (500,3000,0)
    assert(dist == proj * 10000L / (16L * orig))
    assert(got(1) == (1L, 0L, 0L, 10000L)) // zero distance -> pinned exact
  }

  test("q273: the point between two centroids has margin 0 and ranks first") {
    // centroids are vec_id % 50 == 0: ids 0 and 50. vec 1 sits exactly
    // on the bisector (equal cosine to both), vec 2 hugs centroid 0.
    val d = embDir(Seq(
      (0L, Seq(1f, 0f), 0), (50L, Seq(0f, 1f), 0),
      (1L, Seq(1f, 1f), 0),       // 45 deg to both -> key1 == key2
      (2L, Seq(1f, 0.1f), 0)))    // decisively in cell 0
    val got = Similarity.q273AmbiguityMargin(spark, d)
      .select($"vec_id", $"cell1", $"cell2", $"margin")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.head._1 == 1L && got.head._4 == 0L) // most ambiguous first
    assert(got.head._2 == 0L && got.head._3 == 50L) // tie -> smaller centroid wins arn 1
    // margins are non-decreasing in output order
    val ms = got.map(_._4)
    assert(ms == ms.sorted)
    // the decisive point is far less ambiguous than the bisector point
    assert(got.find(_._1 == 2L).get._4 > 0L)
  }

  test("q271: odd label inside a tight cluster is flagged; peers are not") {
    // cluster A: 6 colinear vectors, labels 0 except vec 5 labeled 9;
    // cluster B: orthogonal (dot vs A = 0, filtered by num > 0), label 1
    val a = (0L to 5L).map(i =>
      (i, Seq(1f + 0.001f * i, 0f), if (i == 5) 9 else 0))
    val b = (10L to 15L).map(i => (i, Seq(0f, 1f + 0.001f * i), 1))
    val d = embDir(a ++ b)
    val got = Similarity.q271KnnLabelAudit(spark, d)
      .select($"vec_id", $"label", $"maj_label", $"n_agree", $"suspect")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(5L) == (5L, 9L, 0L, 5L, true))   // 5 of 5 neighbors say 0
    (0L to 4L).foreach { i =>
      assert(got(i) == (i, 0L, 0L, 4L, false))  // 4 peers + the odd one
    }
    (10L to 15L).foreach(i => assert(!got(i)._5))
    // no cross-cluster contamination: every B vector has 5 B neighbors
    val nbrs = Similarity.q271KnnLabelAudit(spark, d)
      .select($"vec_id", $"n_nbrs").as[(Long, Long)].collect().toMap
    assert(nbrs.values.forall(_ == 5L))
  }

  test("q288: recall audit — structural invariants and a perfect-cell geometry") {
    // 51 vectors: centroids are vec_id 0 and 50 (every 50th). Queries
    // are vec_ids 0..19. Cluster A = ids 0..19 near e1 (distinct small
    // x-offsets in dim 2), cluster B = ids 20..50 near e2. Every
    // query's exact top-5 lives in its own cell (cluster A maps to
    // centroid 0, cluster B to 50), so recall@5 must be 10000 for all
    // methods and queries.
    val dim = 4
    def v(x: Float, y: Float, z: Float): Seq[Float] = Seq(x, y, z, 0f)
    val rows = (0 to 19).map(i => (i.toLong, v(1f, 0.001f * i, 0f), 0)) ++
      (20 to 50).map(i => (i.toLong, v(0f, 1f, 0.001f * (i - 20)), 1))
    val d = embDir(rows)
    val got = Similarity.q288IvfRecallAudit(spark, d)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(got.length == 40)
    got.foreach { case (_, m, nEx, nHit, bp) =>
      assert(Set("ivf1", "ivf2").contains(m))
      assert(nHit <= nEx && nEx <= 5)
      assert(bp == 10000 * nHit / nEx)
      assert(bp == 10000L) // perfect-cell geometry: nothing is missed
    }
    // real corpus: bounds hold and 2-probe mean recall dominates 1-probe
    val real = Similarity.q288IvfRecallAudit(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(real.length == 40)
    real.foreach { case (_, _, nEx, nHit, bp) =>
      assert(nHit <= nEx && bp >= 0 && bp <= 10000)
    }
    val mean = real.groupBy(_._2).view.mapValues(r => r.map(_._5).sum / r.length)
    assert(mean("ivf2") >= mean("ivf1"))
  }

  test("q292: metrics match a full Scala replay of both rankings") {
    val d = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def quant(v: Array[Float], sc: Double): Array[Long] =
      v.map(x => math.floor(x.toDouble * sc).toLong)
    def rank(sc: Double): Map[Long, Seq[Long]] = {
      val q = emb.map { case (id, v) =>
        (id, quant(v, sc)) }
      val norms = q.map { case (id, a) => id -> a.map(x => x * x).sum }.toMap
      q.filter(_._1 < 20).map { case (qid, qv) =>
        val scored = q.filter(_._1 != qid).flatMap { case (cid, cv) =>
          val num = qv.zip(cv).map { case (a, b) => a * b }.sum
          if (num > 0)
            Some((cid, Math.floorDiv(num * num * 10000, norms(qid) * norms(cid))))
          else None
        }
        qid -> scored.sortBy { case (cid, k) => (-k, cid) }.take(10).map(_._1).toSeq
      }.toMap
    }
    val fine = rank(1000.0); val coarse = rank(100.0)
    val expected = (0L until 20L).map { qid =>
      val truth = fine(qid).toSet
      val got = coarse(qid)
      val rels = got.map(c => if (truth.contains(c)) 1L else 0L)
      val cum = rels.scanLeft(0L)(_ + _).tail
      val first = rels.indexOf(1L) match { case -1 => 0L; case i => i + 1L }
      val apn = rels.zip(cum).zipWithIndex.collect {
        case ((1L, ch), i) => ch * (2520L / (i + 1)) }.sum
      (qid, got.length.toLong, rels.sum, first,
        if (first > 0) 2520L / first else 0L, apn, 1000000L * apn / 25200L)
    }
    val got = Similarity.q292QuantRankEval(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the audit is informative on this corpus: some query takes damage
    assert(got.exists(_._7 < 1000000))
  }

  test("q336: B-cubed matches a from-scratch assignment + eval replay") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val vecs = graft.io.Tables.embeddings(spark, d)
      .select($"vec_id", $"label".cast("long").as("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qa"))
      .as[(Long, Long, Seq[Long])].collect()
    // replicate the engine's IVF assignment: centroid = vec_id % 50 == 0,
    // rank key = (num·|num|·10000) div (n2·cn), argmax with centroid tiebreak
    def n2(v: Seq[Long]) = v.map(x => x * x).sum
    val cents = vecs.filter(_._1 % 50 == 0).map(c => (c._1, c._3, n2(c._3)))
    val assigned = vecs.map { case (id, label, qa) =>
      val vn = n2(qa)
      val best = cents.map { case (cid, cv, cn) =>
        val num = qa.zip(cv).map { case (a, b) => a * b }.sum
        // Spark `div` truncates toward zero — match it exactly
        val key = num * math.abs(num) * 10000 / (vn * cn)
        (-key, cid)
      }.min
      (best._2, id, label)
    }
    val byCell = assigned.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val byClass = assigned.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val cellCls = assigned.groupBy(a => (a._1, a._3)).view.mapValues(_.length.toLong)
    val n = assigned.length.toLong
    val psum = cellCls.map { case ((cell, _), cnt) =>
      cnt * (1000000L * cnt / byCell(cell)) }.sum
    val rsum = cellCls.map { case ((_, cls), cnt) =>
      cnt * (1000000L * cnt / byClass(cls)) }.sum
    val (p, r) = (psum / n, rsum / n)
    val f1 = if (p + r == 0) 0L else 2 * p * r / (p + r)
    val got = Similarity.q336BcubedEval(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((n, byCell.size.toLong, byClass.size.toLong, p, r, f1)))
    // B-cubed stays inside [0, 1]; the harmonic mean sits between P and R
    assert(p <= 1000000L && r <= 1000000L)
    assert(f1 >= math.min(p, r) - 1 && f1 <= math.max(p, r))
  }

  test("q340: top dim correlations match a scalar Pearson replay") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = Similarity.q340DimCorr(spark, d)
      .as[(Int, Int, Long, Long, Long)].collect().sortBy(_._5)
    assert(got.map(_._5).toSeq == (1L to 15L))
    got.foreach { r => assert(math.abs(r._4) <= 10000L && r._1 < r._2) }
    // |rho| non-increasing down the ranks
    val a = got.map(r => math.abs(r._4))
    assert(a.zip(a.tail).forall { case (x, y) => x >= y })
    val vecs = graft.io.Tables.embeddings(spark, d)
      .select(expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .as[Seq[Long]].collect()
    def rho(i: Int, j: Int): Long = {
      val n = vecs.length.toDouble
      val (vi, vj) = (vecs.map(_(i)), vecs.map(_(j)))
      val si = vi.sum.toDouble; val sj = vj.sum.toDouble
      val sij = vi.zip(vj).map { case (a, b) => a * b }.sum.toDouble
      val sii = vi.map(x => x * x).sum.toDouble
      val sjj = vj.map(x => x * x).sum.toDouble
      math.floor((n * sij - si * sj) /
        math.sqrt((n * sii - si * si) * (n * sjj - sj * sj)) * 10000.0).toLong
    }
    got.foreach { r => assert(r._4 == rho(r._1, r._2), s"pair ${(r._1, r._2)}") }
  }

  test("q347: drift audit matches a centroid replay") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = Similarity.q347EmbeddingDrift(spark, d)
      .as[(Long, Int, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 5L))
    val cosAll = got.head._8
    assert(got.forall(_._8 == cosAll))
    assert(math.abs(cosAll) <= 1000000L)
    val vecs = graft.io.Tables.embeddings(spark, d)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .as[(Long, Seq[Long])].collect()
    val dims = vecs.head._2.length
    val a = vecs.filter(_._1 % 2 == 0).map(_._2)
    val b = vecs.filter(_._1 % 2 == 1).map(_._2)
    val sa = (0 until dims).map(k => a.map(_(k)).sum)
    val sb = (0 until dims).map(k => b.map(_(k)).sum)
    def bsum(f: Int => BigInt): Double = (0 until dims).map(f).sum.toDouble
    val expCos = math.floor(
      bsum(k => BigInt(sa(k)) * sb(k)) /
        math.sqrt(bsum(k => BigInt(sa(k)) * sa(k)) * bsum(k => BigInt(sb(k)) * sb(k)))
        * 1000000.0).toLong
    assert(cosAll == expCos)
    got.foreach { case (_, dim, ma, mb, shift, na, nb, _) =>
      assert(na == a.length && nb == b.length)
      assert(ma == math.floor(sa(dim).toDouble / na * 1000.0).toLong)
      assert(mb == math.floor(sb(dim).toDouble / nb * 1000.0).toLong)
      assert(shift == math.abs(ma - mb))
    }
    // shifts non-increasing down the ranks
    val sh = got.map(_._5)
    assert(sh.zip(sh.tail).forall { case (x, y) => x >= y })
  }

  test("q383: a planted centroid-facing point dominates every k-NN list") {
    // three clusters along mutually NEGATIVE directions (cross-cluster
    // cosine < 0 -> excluded by the num > 0 gate), plus one hub along
    // (1,1,1) with positive cosine to all three: it lands in every
    // other point's NN list (occ 12) while cluster points occur 3-4
    // times. The k-occurrence skew goes positive - textbook hubness.
    def cluster(base: Seq[Float], ids: Range) = ids.zipWithIndex.map {
      case (id, i) => (id.toLong,
        base.updated(base.indexWhere(_ > 0), base.max - i * 0.01f), 0)
    }
    val pts =
      cluster(Seq(1f, -0.3f, -0.3f), 1 to 4) ++
      cluster(Seq(-0.3f, 1f, -0.3f), 11 to 14) ++
      cluster(Seq(-0.3f, -0.3f, 1f), 21 to 24) :+
      (30L, Seq(1f, 1f, 1f), 0)
    val d = embDir(pts)
    // sampleMod=1 = the exhaustive audit (every point a query)
    val got = Similarity.hubnessAudit(spark, d, 1, Similarity.MaxHubnessQueries)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (nPts, nOcc, nAnti, maxOcc, topHub, nHubs, skew) = got
    assert(nPts == 13L && nOcc == 13L && nAnti == 0L)
    assert(topHub == 30L && maxOcc == 12L)
    assert(skew > 0L)
    // real corpus invariants: occurrence mass == listed slots, and the
    // occurrence population partitions into occurring + antihubs
    val real = Similarity.q383HubnessAudit(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(real._1 == real._2 + real._3)
  }

  test("q383: the query sample and cap are enforced IN THE PLAN, not prose") {
    // residue-class sample: of the planted ids {1-4,11-14,21-24,30}
    // only {4,12,24} are ≡ 0 (mod 4), so the sampled audit ranks
    // exactly 3 query lists; the hub can occur at most 3 times
    def cluster(base: Seq[Float], ids: Range) = ids.zipWithIndex.map {
      case (id, i) => (id.toLong,
        base.updated(base.indexWhere(_ > 0), base.max - i * 0.01f), 0)
    }
    val pts =
      cluster(Seq(1f, -0.3f, -0.3f), 1 to 4) ++
      cluster(Seq(-0.3f, 1f, -0.3f), 11 to 14) ++
      cluster(Seq(-0.3f, -0.3f, 1f), 21 to 24) :+
      (30L, Seq(1f, 1f, 1f), 0)
    val d = embDir(pts)
    val sampled = Similarity.hubnessAudit(spark, d, 4, Similarity.MaxHubnessQueries)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(sampled._1 == 13L)        // n_points is the FULL population
    assert(sampled._4 == 3L)         // hub occ capped by the 3 sampled queries
    assert(sampled._5 == 30L)        // and it is still the hub
    // the hard cap rides the plan as a global limit on the broadcast
    // (query) side — the boundedness the broadcast-hint rule verifies
    val capped = Similarity.hubnessAudit(spark, d, 1, 3)
    val planStr = capped.queryExecution.sparkPlan.toString
    assert(planStr.contains("TakeOrderedAndProject") || planStr.contains("GlobalLimit"))
    val occMass = capped.as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(occMass._1 == 13L)
    assert(occMass._4 <= 3L)         // ≤ cap query lists to appear in
    // guards: the audit REFUSES an unbounded/invalid query side
    intercept[IllegalArgumentException](
      Similarity.hubnessAudit(spark, d, 0, 10))
    intercept[IllegalArgumentException](
      Similarity.hubnessAudit(spark, d, 4, Similarity.MaxHubnessQueries + 1))
  }

  test("q379: packing respects the budget; rr never loses topic coverage") {
    val got = Similarity.q379ContextPack(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty && got.length % 2 == 0)
    got.foreach { case (_, _, nSel, toks, rel, nLab) =>
      assert(toks <= 256 && nSel > 0 && rel > 0 && nLab <= nSel)
    }
    val byQ = got.groupBy(_._1)
    byQ.foreach { case (qid, rows) =>
      val m = rows.map(r => r._2 -> r).toMap
      // diversity-first packing never covers FEWER topics
      assert(m("rr")._6 >= m("rel")._6, s"qid $qid")
    }
    // and somewhere the policies genuinely differ
    assert(byQ.exists { case (_, rows) =>
      val m = rows.map(r => r._2 -> r).toMap
      m("rr")._6 > m("rel")._6 || m("rel")._5 != m("rr")._5
    })
  }

  test("q376: each ranking is optimal on its own metric; degenerate labels collapse") {
    // real corpus: round-robin pins alpha-nDCG at 10000 (with unit
    // gains round-robin IS alpha-optimal), relevance order pins plain
    // nDCG at 10000, and each pays a tax on the other metric
    val real = Similarity.q376AlphaNdcg(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(real.nonEmpty)
    real.foreach { case (_, aRel, aDiv, nRel, nDiv) =>
      assert(aDiv == 10000L && nRel == 10000L)
      assert(aRel <= 10000L && nDiv <= 10000L)
    }
    assert(real.exists(_._2 < 10000L)) // the tax is real somewhere
    // all candidates same label -> the two rankings coincide exactly
    val mono = embDir((0L, Seq(1f, 0f), 7) +: (1 to 11).map(i =>
      (100L + i, Seq(1f, i / 100f), 7)))
    val gm = Similarity.q376AlphaNdcg(spark, mono)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(gm.length == 1 && gm.head._2 == 10000L && gm.head._3 == 10000L
      && gm.head._4 == 10000L && gm.head._5 == 10000L)
    // all labels distinct -> no redundancy discount anywhere: the
    // relevance order is also alpha-optimal
    val dist = embDir((0L, Seq(1f, 0f), 0) +: (1 to 11).map(i =>
      (100L + i, Seq(1f, i / 100f), i)))
    val gd = Similarity.q376AlphaNdcg(spark, dist)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(gd.length == 1 && gd.head._2 == 10000L)
  }

  test("q368: MMR breaks the near-dup tie toward the diverse candidate") {
    // Query (1,0). 100 = (0.9,0.43) is the best candidate; 101 =
    // (0.9,0.44) STRICTLY outranks 102 = (0.9,-0.44) on relevance
    // (float-storage floors break the symmetry: +0.44f quantizes to
    // 439, -0.44f to -440), so pure top-k orders them 100, 101, 102.
    // But 101 is a near-duplicate of 100 (sim ~9990 bp) while 102
    // sits across the axis (sim ~3860 bp), so MMR's penalty flips
    // pos 2 to the LESS relevant 102. 103 = (0,1) has dot 0 with the
    // query and is not a candidate at all.
    val d = embDir(Seq(
      (0L, Seq(1f, 0f), 0),
      (100L, Seq(0.9f, 0.43f), 0), (101L, Seq(0.9f, 0.44f), 0),
      (102L, Seq(0.9f, -0.44f), 0), (103L, Seq(0f, 1f), 0)))
    val got = Similarity.q368MmrRerank(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got.map(r => (r._2, r._3)) == Seq((1L, 100L), (2L, 102L), (3L, 101L)))
    // the flip demotes a STRICTLY more relevant near-duplicate
    val rel = got.map(r => r._3 -> r._4).toMap
    assert(rel(100L) > rel(101L) && rel(101L) > rel(102L))
    // greedy invariant: the achievable MMR score never increases
    val mmr = got.map(_._5)
    assert(mmr.zip(mmr.tail).forall { case (x, y) => x >= y })
    // and on the synthetic corpus: pos-1 is the relevance argmax and
    // selections are distinct per query
    val real = Similarity.q368MmrRerank(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(real.nonEmpty)
    real.groupBy(_._1).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_._2)
      assert(byPos.map(_._3).distinct.length == byPos.length)
      assert(byPos.head._4 == rows.map(_._4).max) // pos 1 = max rel
      val ms = byPos.map(_._5)
      assert(ms.zip(ms.tail).forall { case (x, y) => x >= y })
    }
  }

  test("q184: class-balanced weights replay the closed forms") {
    // labels with counts 1, 2, 5 (tot 8, k 3)
    val pts = Seq((1L, Seq(1f, 0f, 0f), 0)) ++
      (2 to 3).map(i => (i.toLong, Seq(1f, 0f, 0f), 1)) ++
      (4 to 8).map(i => (i.toLong, Seq(1f, 0f, 0f), 2))
    val d = embDir(pts)
    val r = Similarity.q184ClassWeights(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      (0L, 1L, 2666666L, 998999L),   // n=1: eff number ~ 1 -> weight ~ (1-b)*1000/(1-b)
      (1L, 2L, 1333333L, 499749L),
      (2L, 5L, 533333L, 200199L)))
    // rarer classes weigh strictly more under both schemes
    assert(r.map(_._3) == r.map(_._3).sortBy(-_))
    assert(r.map(_._4) == r.map(_._4).sortBy(-_))
  }

  test("q326: overlap bounds and self-consistency on the real corpus") {
    val r = Similarity.q326AcquisitionOverlap(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long)].collect().toSeq
    assert(r.map(_._1).sorted == Seq("conf_rand", "margin_conf", "margin_rand"))
    r.foreach { case (_, ov, bp) =>
      assert(ov >= 0 && ov <= 50 && bp == ov * 10000 / 50) }
  }

  test("q333: a planted constant dimension is flagged dead") {
    // dim 2 constant 0.5 for everyone, dim 3 all zero, dim 1 varies
    val pts = (1L to 6L).map(i => (i, Seq(0.1f * i, 0.5f, 0f), 0))
    val d = embDir(pts)
    val r = Similarity.q333DeadDims(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L)._7 == 0L && r(1L)._4 == 6L)            // live dim
    assert(r(2L)._7 == 1L && r(2L)._8 == 1L)            // constant -> dead
    assert(r(3L)._7 == 1L && r(3L)._3 == 6L)            // all-zero dead, n_zero = n
  }

  test("q397: a half-matching doc beats a weaker full-matching one under MaxSim") {
    // query 0: ones in sub-vector 0 and 1. doc 20 matches sub-vector 0
    // exactly and is orthogonal elsewhere; doc 21 is a weak uniform
    // match everywhere. MaxSim rewards the strong partial match.
    def v(parts: Seq[Seq[Float]]): Seq[Float] = parts.flatten
    val one16 = Seq.fill(16)(1f); val zero16 = Seq.fill(16)(0f)
    val weak16 = Seq.fill(16)(0.1f)
    val pts = Seq(
      (0L, v(Seq(one16, one16, zero16, zero16)), 0),
      (20L, v(Seq(one16, zero16, zero16, zero16)), 0),
      (21L, v(Seq(weak16, weak16, weak16, weak16)), 0))
    val d = embDir(pts)
    val r = Similarity.q397LateInteraction(spark, d)
      .as[(Long, Long, Long, Long)].collect().filter(_._1 == 0L)
    // doc 20: max over parts for q-part0 = 16e6; doc 21: part0 best = 16*1000*100
    assert(r.head._2 == 20L)
    assert(r.map(_._2).contains(21L))
    val m = r.map(x => x._2 -> x._3).toMap
    assert(m(20L) > m(21L))
  }

  test("q398: exported thresholds bound ~5% of each label, ties included") {
    val r = Similarity.q398OodCalibration(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.nonEmpty)
    r.foreach { case (_, n, mn, thr, nOod, bp) =>
      assert(bp == nOod * 10000 / n)
      if (n >= 20) {
        assert(nOod >= n / 20)          // at least the bottom 5%
        assert(mn <= thr)
      }
    }
  }
}
