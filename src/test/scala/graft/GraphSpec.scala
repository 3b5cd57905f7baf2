package graft

import org.apache.spark.sql.functions._

/** q82 PageRank step, q83 semantic dedup, q84 range frame — invariant
  * and brute-force cross-checks complementing the DuckDB oracles. */
class GraphSpec extends SparkSpec {
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  test("q278: star unravels in a two-round cascade; the 4x4 biclique core survives") {
    // star: supplier 100 serves parts 1..5 (part degree 1 -> peeled
    // round 1; the hub then drops to degree 0 -> peeled round 2).
    // biclique: parts 10..13 x suppliers 20..23, every degree exactly
    // 4 -> the 4-core, untouched through all rounds.
    val dir = java.nio.file.Files.createTempDirectory("kcore").toString
    val star = (1L to 5L).map(p => (p, 100L, 1.0))
    val k44 = for (p <- 10L to 13L; s <- 20L to 23L) yield (p, s, 1.0)
    (star ++ k44).toDF("l_partkey", "l_suppkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Graph.q278KcorePeel(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 9L, 16L),  // 5 leaf parts peel; 14 nodes -> 9
      (2L, 1L, 8L, 16L),  // the orphaned hub follows
      (3L, 0L, 8L, 16L),
      (4L, 0L, 8L, 16L))) // fixpoint: the biclique is the 4-core
  }

  test("q82: ranks carry the teleport base and flow conservation holds") {
    val got = operators.Graph.q82PagerankStep(spark, d).collect()
    assert(got.length > 0 && got.length <= 20)
    // every rank ≥ base + at least 1 incoming unit
    got.foreach { r =>
      assert(r.getAs[Long]("rank_micro") > 150000L, s"no inflow: $r")
      assert(r.getAs[Long]("n_in") >= 1L)
    }
    // top-20 is ordered desc with node tiebreak
    val ranks = got.map(r => (-r.getAs[Long]("rank_micro"), r.getAs[Long]("node")))
    assert(ranks.sameElements(ranks.sorted), "top-20 not rank-ordered")
    // conservation (un-truncated): total emitted flow across ALL
    // suppliers is #parts × 850000 minus only the integer-div dust
    // (< outdeg per part). Recompute without the limit.
    val edges = graft.io.Tables.lineitem(spark, d)
      .select($"l_partkey".as("src"), $"l_suppkey".as("dst")).distinct()
    val nParts = edges.select($"src").distinct().count()
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val total = edges.join(outdeg, "src")
      .agg(sum(expr("850000 div outdeg"))).as[Long].head()
    assert(total <= 850000L * nParts && total > 850000L * nParts - 4L * nParts,
      s"flow not conserved: $total vs ${850000L * nParts}")
  }

  test("q83: cells partition the corpus; representative is a member") {
    val got = operators.Similarity.q83SemanticDedup(spark, d)
    val nVecs = graft.io.Tables.embeddings(spark, d).count()
    val agg = got.agg(sum($"n_members"), sum($"n_dropped"), count(lit(1)))
      .as[(Long, Long, Long)].head()
    assert(agg._1 == nVecs, s"members don't cover corpus: $agg vs $nVecs")
    assert(agg._2 == agg._1 - agg._3, "dropped != members - representatives")
  }

  test("q85: temperature mix up-weights uniformly, deterministically") {
    val got = operators.Curation.q85TemperatureMix(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_total"))
      assert(r.getAs[Long]("rate_ppm") > 0L)
    }
    // uniform sources ⇒ identical rates, and Σrate ≈ 1e6 (div dust only)
    val rates = got.map(_.getAs[Long]("rate_ppm"))
    assert(rates.toSet.size == 1, s"uniform sources got mixed rates: ${rates.toSet}")
    val tot = rates.sum
    assert(tot <= 1000000L && tot > 1000000L - rates.length,
      s"rates don't normalize: $tot")
    assert(operators.Curation.q85TemperatureMix(spark, d).collect().toSeq ==
      got.toSeq)
  }

  test("q86: multi-probe dominates single-probe pointwise (recall lever)") {
    val single = operators.Similarity.q48AnnIvf(spark, d)
      .select($"qid", $"rn", $"rank_key").as[(Long, Int, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val multi = operators.Similarity.q86AnnMultiprobe(spark, d)
      .select($"qid", $"rn", $"rank_key").as[(Long, Int, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(multi.nonEmpty)
    // at every (query, position) the 2-cell candidate pool can only
    // improve (or tie) the similarity of the k-th neighbor
    single.foreach { case (k, sk) =>
      assert(multi.getOrElse(k, Long.MinValue) >= sk,
        s"multi-probe lost recall at $k: ${multi.get(k)} < $sk")
    }
  }

  test("q87: salted join answers like the plain join, salt in the join key") {
    val salted = operators.Relational.q87SaltedJoin(spark, d)
    // the salt column must be part of the equi-join key (that's the
    // whole point — the hot key fans out over 16 task-level keys)
    val plan = salted.queryExecution.optimizedPlan.toString
    assert(plan.contains("salt"), s"salt not in plan:\n$plan")
    val plain = graft.io.Tables.lineitem(spark, d)
      .join(graft.io.Tables.orders(spark, d),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"))
    assert(salted.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
  }

  test("q84: trailing-hour frame equals a brute-force time self-join") {
    val base = graft.io.Tables.events(spark, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(ts) div 1000000").as("ts_s"),
        floor($"value" * 1000).cast("long").as("vmilli"))
    val brute = base.as("a").join(base.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts_s") >= col("a.ts_s") - 3600 && col("b.ts_s") <= col("a.ts_s"))
      .groupBy(col("a.user_id").as("user_id"), col("a.event_id").as("event_id"),
        col("a.ts_s").as("ts_s"))
      .agg(count(lit(1)).as("n_1h"), sum(col("b.vmilli")).as("sum_1h"))
    val got = operators.Windows.q84RangeFrame(spark, d)
    assert(got.count() === base.count())
    assert(got.except(brute).isEmpty && brute.except(got).isEmpty,
      "window frame disagrees with brute-force join")
  }

  test("q132: axis-separated labels score sep_permille = 1000") {
    val dir = java.nio.file.Files.createTempDirectory("emb").toString
    // two orthogonal clusters with tiny within-label jitter
    val rows = (0 until 20).map { i =>
      val label = i % 2
      val base = Array.fill(8)(0.001f * i)
      base(label) = 1.0f
      (i.toLong, base, label)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Similarity.q132LabelSilhouette(spark, dir)
      .select($"label", $"n_vecs", $"sep_permille")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(0L, 1L))
    got.foreach { case (l, n, sep) =>
      assert(n == 10L && sep == 1000L, s"label $l not separated: $got")
    }
  }

  test("q133: hard negatives are cross-label, dense-ranked, rank-sorted") {
    val rows = operators.Similarity.q133HardNegatives(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("qlabel") != r.getAs[Long]("clabel"))
    }
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Number]("rn").longValue)
      assert(sorted.map(_.getAs[Number]("rn").longValue).toSeq == (1L to g.length))
      val keys = sorted.map(_.getAs[Long]("rank_key")).toSeq
      assert(keys == keys.sorted.reverse, s"rank_key not descending: $keys")
    }
  }

  test("q150 bfsHops: chain distances, hop cap, unreachable exclusion") {
    // undirected chain 1—2—…—10 plus a disconnected pair 99—100
    val chain = (1L to 9L).map(i => (i, i + 1)) :+ (99L, 100L)
    val edges = chain.toDF("src", "dst")
      .union(chain.map(_.swap).toDF("src", "dst"))
    val seeds = Seq(1L).toDF("node")
    val got = operators.Graph.bfsHops(edges, seeds, maxHops = 6)
      .as[(Long, Long)].collect().toMap
    // nodes 1..7 at dist 0..6; 8..10 beyond the cap; 99/100 unreachable
    assert(got == (1L to 7L).map(i => i -> (i - 1)).toMap, s"got $got")
  }

  test("q150 bfsHops: multi-seed minimum distance") {
    val chain = (1L to 9L).map(i => (i, i + 1))
    val edges = chain.toDF("src", "dst")
      .union(chain.map(_.swap).toDF("src", "dst"))
    val dists = operators.Graph.bfsHops(edges, Seq(1L, 10L).toDF("node"), 6)
      .as[(Long, Long)].collect().toMap
    assert(dists == (1L to 10L).map(i => i -> math.min(i - 1, 10 - i)).toMap)
  }

  test("q157: top-3 partner lists are ranked, bounded, and weight-symmetric") {
    val rows = operators.Graph.q157CoPurchase(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long)].collect() // part, rk, partner, n_co
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (part, vs) =>
      val byRk = vs.sortBy(_._2)
      assert(byRk.map(_._2).toSeq == (1 to vs.length).map(_.toLong),
        s"ranks broken for $part")
      // n_co non-increasing with rank; ties broken by partner id
      byRk.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
            s"order broken for $part: $a then $b")
        case _ => ()
      }
    }
    // co-occurrence is symmetric: recompute one pair's weight directly
    val (part, _, partner, nCo) = rows.maxBy(_._4)
    val items = graft.io.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p")).distinct()
    val direct = items.filter($"p" === part)
      .join(items.filter($"p" === partner).select($"ord"), "ord")
      .count()
    assert(direct == nCo, s"weight mismatch: $direct vs $nCo")
  }

  test("q179: assortativity matches driver-side brute force; |r| bounded") {
    val d = "/root/testdata/sf0.001"
    val row = operators.Graph.q179Assortativity(spark, d).collect().head
    assert(math.abs(row.getAs[Long]("r_bp")) <= 10000L)
    // brute force on the collected edge list
    val edges = graft.io.Tables.lineitem(spark, d)
      .select($"l_partkey", $"l_suppkey").distinct()
      .as[(Long, Long)].collect()
    val dp = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val ds = edges.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val xy = edges.map { case (p, sp) => (dp(p), ds(sp)) }
    val n = xy.length.toLong
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val (sxx, syy) = (xy.map(v => v._1 * v._1).sum, xy.map(v => v._2 * v._2).sum)
    val sxy = xy.map(v => v._1 * v._2).sum
    assert(row.getAs[Long]("n_edges") == n)
    assert(row.getAs[Long]("max_pdeg") == xy.map(_._1).max)
    assert(row.getAs[Long]("max_sdeg") == xy.map(_._2).max)
    val want = math.floor(((n * sxy - sx * sy) * 10000.0) /
      (math.sqrt((n * sxx - sx * sx) * 1.0) *
        math.sqrt((n * syy - sy * sy) * 1.0))).toLong
    assert(row.getAs[Long]("r_bp") == want)
  }

  test("q232: grid-blocked neighbor counts equal the brute-force N\u00b2 join") {
    import spark.implicits._
    val got = operators.Similarity.q232GridDbscan(spark, d).collect()
      .map(r => r.getAs[String]("class") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("total_deg"))).toMap
    val pts = graft.io.Tables.embeddings(spark, d).select($"vec_id",
        (floor(element_at($"embedding", 1).cast("double") * 1000.0)
          .cast("long") + 1000L),
        (floor(element_at($"embedding", 2).cast("double") * 1000.0)
          .cast("long") + 1000L))
      .as[(Long, Long, Long)].collect()
    val deg = pts.map { case (id, x, y) =>
      id -> pts.count { case (id2, x2, y2) =>
        id2 != id && (x - x2) * (x - x2) + (y - y2) * (y - y2) <= 3600L
      }.toLong
    }.toMap
    val core = deg.filter(_._2 >= 4L).keySet
    val border = pts.filter { case (id, x, y) =>
      !core(id) && pts.exists { case (id2, x2, y2) =>
        id2 != id && core(id2) &&
          (x - x2) * (x - x2) + (y - y2) * (y - y2) <= 3600L
      }
    }.map(_._1).toSet
    def want(cls: String, ids: Set[Long]) = {
      if (ids.nonEmpty) {
        assert(got(cls)._1 == ids.size.toLong, s"$cls count")
        assert(got(cls)._2 == ids.toSeq.map(deg).sum, s"$cls degree sum")
      } else assert(!got.contains(cls))
    }
    val noise = pts.map(_._1).toSet -- core -- border
    want("core", core); want("border", border); want("noise", noise)
    assert(got.values.map(_._1).sum == pts.length.toLong)
    // the fixture should actually exercise all three classes
    assert(core.nonEmpty && noise.nonEmpty, "degenerate spatial fixture")
  }

  // Crafted co-purchase fixture for q319/q320: orders are cliques.
  //   order 1: parts 1,20   order 2: parts 20,3   order 3: parts 3,40
  //   order 4: parts 1,40   order 5: parts 1,5,6
  // Edges: 1-20, 20-3, 3-40, 1-40, 1-5, 1-6, 5-6.
  // Degrees: 1:4, others:2. Seeds (partkey%10==0): 20, 40.
  private def copurchaseDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("copurchase").toString
    val rows = Seq((1L, 1L), (1L, 20L), (2L, 20L), (2L, 3L), (3L, 3L), (3L, 40L),
      (4L, 1L), (4L, 40L), (5L, 1L), (5L, 5L), (5L, 6L))
      .map { case (o, p) => (o, p, java.sql.Timestamp.valueOf("1995-02-01 00:00:00")) }
    rows.toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((20L, "B#two"), (40L, "B#four"), (100L, "B#offgraph"))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  test("q319: Adamic-Adar on a crafted graph matches hand computation") {
    val dir = copurchaseDir()
    val got = operators.Graph.q319AdamicAdar(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val w2 = math.floor(1000000.0 / math.log(2.0)).toLong  // deg-2 center
    val w4 = math.floor(1000000.0 / math.log(4.0)).toLong  // deg-4 center (node 1)
    // non-adjacent pairs with common neighbors:
    //   (1,3): centers 20,40 (deg 2 each)  -> 2*w2
    //   (20,40): centers 1(d4), 3(d2)      -> w4 + w2
    //   via center 1 (neighbors {20,40,5,6}): (5,20),(5,40),(6,20),(6,40) -> w4
    //   (5,6) adjacent -> excluded
    val exp = Seq(
      (1L, 3L, 2L, 2 * w2),
      (20L, 40L, 2L, w4 + w2),
      (5L, 20L, 1L, w4), (5L, 40L, 1L, w4),
      (6L, 20L, 1L, w4), (6L, 40L, 1L, w4))
      .sortBy { case (u, v, _, aa) => (-aa, u, v) }
    assert(got == exp)
  }

  test("q320: one LPA round labels exactly the seed-adjacent nodes") {
    val dir = copurchaseDir()
    val got = operators.Graph.q320LabelProp(spark, dir)
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    // seeds: 20 -> B#two, 40 -> B#four (100 is not a graph node).
    // unlabeled nodes: 1, 3, 5, 6.
    //   node 1: neighbors {20,40,5,6} -> B#two:1, B#four:1 -> tie -> B#four (asc)
    //   node 3: neighbors {20,40}     -> tie -> B#four
    //   nodes 5,6: no seed neighbors  -> _NONE
    assert(got == Seq(("B#four", 2L, 2L), ("_NONE", 2L, 0L)))
  }

  test("q341: modularity identities — sum of degrees, Q bounds, null replay") {
    val got = operators.Graph.q341Modularity(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val qSum = got.head._5
    assert(got.forall(_._5 == qSum))
    assert(qSum == got.map(_._4).sum)
    // Q in [-1/2, 1) in micro units
    assert(qSum >= -500000L && qSum < 1000000L)
    // Σ community degrees = 2m exactly; Σ e_in ≤ m
    val edges = graft.io.Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
      .select($"l_orderkey".as("ord"), $"l_partkey".as("p")).distinct()
    val e = edges.as("a").join(edges.as("b"), "ord")
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .filter($"u" < $"v").distinct()
    val m = e.count()
    assert(got.map(_._3).sum == 2 * m)
    assert(got.map(_._2).sum <= m)
  }

  test("q355: rec-eval accounting identities hold") {
    val r = operators.Graph.q355RecEval(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (mRecs, mHits, mP, bRecs, bHits, bP, lift) = r
    assert(mHits <= mRecs && bHits <= bRecs)
    assert(mP == 10000 * mHits / mRecs && bP == 10000 * bHits / bRecs)
    if (bHits == 0) assert(lift == -1)
    else assert(lift == math.floor(
      mHits.toDouble * bRecs / (bHits.toDouble * mRecs) * 1000.0).toLong)
    // every source gets at most 3 recs; baseline exactly 3 per source
    assert(bRecs % 3 == 0 && mRecs <= bRecs)
  }

  test("q375: K4 niche-part clique maps exposures exactly; A/A readout is flat-shaped") {
    val dir = java.nio.file.Files.createTempDirectory("expo").toString
    // four customers share one niche part in 1995H1 (complete K4);
    // treated = odd custkey. Neighbor treated-shares: custs 1,3 see
    // 1/3 (bucket 1), custs 2,4 see 2/3 (bucket 2). H2 spend only for
    // custs 1 (100.00) and 3 (50.00).
    val h1 = java.sql.Date.valueOf("1995-02-01")
    val h2 = java.sql.Date.valueOf("1995-08-01")
    (Seq(
      (101L, 1L, h1, 10.0), (102L, 2L, h1, 10.0),
      (103L, 3L, h1, 10.0), (104L, 4L, h1, 10.0),
      (201L, 1L, h2, 100.0), (203L, 3L, h2, 50.0)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((101L, 77L), (102L, 77L), (103L, 77L), (104L, 77L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Graph.q375ExposureMap(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq(
      (0L, 2L, 2L, 0L, 3L),        // custs 2,4: untreated, 2/3 exposed
      (1L, 1L, 2L, 7500L, 3L)))    // custs 1,3: treated, 1/3 exposed
    // real corpus (A/A parity treatment): cells bounded, buckets 0-3,
    // arm populations within 2x of each other per bucket
    val real = operators.Graph.q375ExposureMap(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(real.nonEmpty && real.length <= 8)
    assert(real.forall(r => r._2 >= 0 && r._2 <= 3 && r._3 > 0 && r._5 >= 1))
  }

  test("q385: star-graph MLE alphas pin exactly; all-degree-1 graph emits sentinels") {
    val dir = java.nio.file.Files.createTempDirectory("plaw").toString
    val ship = java.sql.Timestamp.valueOf("1995-02-01 00:00:00")
    // 5 orders each co-shipping hub part 100 with a distinct leaf part:
    // star K1,5 -> degrees {100: 5, leaves: 1 x5}
    (1 to 5).flatMap(i => Seq((i.toLong, 100L, ship), (i.toLong, i.toLong, ship)))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Graph.q385PowerlawFit(spark, dir)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // dmin=1: alpha = 1 + 6e6/(1*floor(ln5*1e6)) = 4.72801 -> 4728
    // dmin=2 (hub only): 1 + 1e6/floor(ln2.5*1e6) = 2.09135 -> 2091
    // dmin=4 (hub only): 1 + 1e6/floor(ln1.25*1e6) = 5.48152 -> 5481
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == Seq(
      (1L, 6L, 4728L), (2L, 1L, 2091L), (4L, 1L, 5481L)))
    assert(got.forall(_._4 >= 0))
    assert(got.count(_._5) == 1) // exactly one KS-minimizing cutoff
    // two disjoint edges: every degree is 1, every tail ln-sum is 0
    val dir2 = java.nio.file.Files.createTempDirectory("plaw1").toString
    Seq((1L, 10L, ship), (1L, 11L, ship), (2L, 20L, ship), (2L, 21L, ship))
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir2/lineitem.parquet")
    val degen = operators.Graph.q385PowerlawFit(spark, dir2)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(degen.map(r => (r._1, r._3, r._4, r._5)).toSeq == Seq(
      (1L, -1L, -1L, false), (2L, -1L, -1L, false), (4L, -1L, -1L, false)))
    assert(degen.head._2 == 4L) // the degenerate tail still reports its size
  }
}
