package graft

/** Invariants for the round-9 engine advisors (q442, q443, q449,
  * q450): planted shapes plus an independent Scala replay of the
  * consistent-hashing ring. */
class AdvisorSpec extends SparkSpec {
  import spark.implicits._

  /** Scala twin of Fns.hash60: md5-hex → first 15 nibbles → long. */
  private def h60(s0: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s0.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  test("q449: the ring replay agrees, and keys only ever move TO the new node") {
    val dir = java.nio.file.Files.createTempDirectory("ring").toString
    val ids = (1L to 500L)
    ids.map(i => (i, s"doc $i")).toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def ring(n: Int): Seq[Long] = for {
      node <- 0 until n; v <- 0 until 16
    } yield h60(s"n$node#$v") * 8 + node
    def succ(r: Seq[Long], pos: Long): Long = {
      val ge = r.filter(_ >= pos)
      (if (ge.nonEmpty) ge.min else r.min) % 8
    }
    val r4 = ring(4); val r5 = ring(5)
    val routed = ids.map { i =>
      val pos = h60(i.toString) * 8 + 7
      (succ(r4, pos), succ(r5, pos))
    }
    // the defining consistent-hashing property: a key that moves when
    // n4 grows to n5 moves ONLY to the new node
    assert(routed.filter { case (a, b) => a != b }.forall(_._2 == 4L))
    val expMoved = routed.count { case (a, b) => a != b }.toLong
    val got = operators.Prep.q449ConsistentHashing(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got._1 == 500L)
    assert(got._2 == expMoved, s"moved: got ${got._2}, replay $expMoved")
    val max4 = (0 until 4).map(n => routed.count(_._1 == n)).max.toLong
    assert(got._5 == max4 * 10000L / 500L)
  }

  test("q450: a perfectly correlated pair blows up, an engineered-independent pair reads exact") {
    val dir = java.nio.file.Files.createTempDirectory("qerr").toString
    val ship95 = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val ship94 = java.sql.Timestamp.valueOf("1994-01-01 00:00:00")
    (1 to 8).map { i =>
      (i.toLong, i.toLong, i.toLong, i,
        if (i <= 2) 30.0 else 10.0, // qty25 ⟺ disc5 (perfect correlation)
        if (i <= 2) 0.06 else 0.0,
        if (i <= 4) "R" else "N", // flagR half
        if (i % 2 == 1) ship95 else ship94) // ship95 half, cb=2 ⇒ independent
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_discount", "l_returnflag", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Prep.q450SelectivityAudit(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // qty25×disc5: est = 2·2/8 = 0.5 rows, actual 2 → q-error 4×, under
    val corr = got("qty25xdisc5")
    assert(corr._5 == 2L && corr._6 == 500L && corr._7 == 4000L
      && corr._8 == "under")
    // flagR×ship95: est = 4·4/8 = 2 rows = actual → 1.0, exact
    val ind = got("flagRxship95")
    assert(ind._5 == 2L && ind._7 == 1000L && ind._8 == "exact")
  }

  test("q443: a planted hot key splits; a single-partition key does not") {
    val dir = java.nio.file.Files.createTempDirectory("skew").toString
    // orderkey: ONE value (everything lands in one partition — no
    // median to compare against, no split); suppkey: 100 rows of key
    // 777 + 10 singleton keys (a real skewed spread)
    val rows = (1 to 110).map { i =>
      val supp = if (i <= 100) 777L else 1000L + i
      (42L, i.toLong, supp, i)
    }
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Prep.q443SkewSplitSim(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val ok = got("orderkey")
    assert(ok._2 == 1L && ok._3 == 110L && ok._4 == 110L && ok._5 == 110L)
    assert(ok._6 == 1000L && ok._7 == 0L && ok._8 == 1L && ok._9 == 110L)
    val sk = got("suppkey")
    assert(sk._3 == 110L)
    assert(sk._7 >= 1L, s"hot suppkey partition must split: $sk")
    assert(sk._8 > sk._2 && sk._9 < sk._4)
    assert(sk._10 > 1000L) // splitting the hot partition speeds up the max task
  }

  test("q453: Selinger costs on planted counts — the selective end leads") {
    val dir = java.nio.file.Files.createTempDirectory("joinorder").toString
    (1L to 10L).map(i => Tuple1(i)).toSeq.toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (1L to 20L).map(i => (i, i % 5 + 1)).toSeq.toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1L to 60L).map(i => (i % 20 + 1, i % 3 + 1)).toSeq
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1L to 4L).map(i => Tuple1(i)).toSeq.toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // n_c=10 n_o=20 (dv_ock=5) n_l=60 (dv_lok=20, dv_lpk=3) n_p=4:
    //   C>O>L>P: i1 = 10·20/10 = 20, i2 = 20·60/20 = 60 → cost 80
    //   L>O>C>P: i1 = 60·20/20 = 60, i2 = 60·10/10 = 60 → cost 120
    val got = operators.Prep.q453JoinOrderAdvisor(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 8) // every left-deep no-cross order of a 4-chain
    assert(got("C>O>L>P")._5 == 80L && got("L>O>C>P")._5 == 120L)
    assert(got("O>C>L>P")._5 == 80L)
    // tie at 80 breaks on plan string → C>O>L>P picked
    assert(got("C>O>L>P")._7 && got.values.count(_._7) == 1)
    assert(got("C>O>L>P")._4 == 60L) // final estimate 60·4/max(4,3)
  }

  test("q454: equi-depth survives the skew that breaks equi-width") {
    val dir = java.nio.file.Files.createTempDirectory("histo").toString
    // a uniform 1..160 backbone plus an 840-row point mass at 40.00 —
    // INSIDE width-bucket 3 and ABOVE cut x₂, so equi-width's uniform
    // within-bucket interpolation charges the cut ~half the cluster
    // while the truth below the cut is only the backbone
    val rows = (1 to 160).map(i => (i.toDouble, i.toLong, i)) ++
      (1 to 840).map(i => (40.0, 1000L + i, i))
    rows.toDF("l_extendedprice", "l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Prep.q454HistogramShootout(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got.size == 8)
    val c2 = got(1) // (cut_idx, x, truth, est_ew, est_ed, qew, qed)
    assert(c2._2 == 3633L && c2._3 == 36L, s"cut 2 geometry: $c2")
    assert(c2._6 > 5000L, s"equi-width must misjudge the straddled cluster: $c2")
    assert(c2._7 < 2000L, s"equi-depth stays within one tile: $c2")
    assert(got.map(_._7).sum < got.map(_._6).sum)
  }

  test("q455: sample estimates replay exactly from the md5 residues") {
    val dir = java.nio.file.Files.createTempDirectory("sample").toString
    val rows = (1 to 300).map { i =>
      (i.toLong / 4 + 1, i, if (i % 2 == 0) "R" else "N", (i % 7 + 1) * 100.0)
    }
    rows.toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val exp = rows.groupBy(_._3).map { case (flag, rs) =>
      val nEx = rs.size.toLong
      val sEx = rs.map(r => (r._4 * 100).toLong).sum
      val inRow = rs.filter(r => h60(s"${r._1}#${r._2}") % 16 == 0)
      val inClu = rs.filter(r => h60(r._1.toString) % 16 == 0)
      flag -> (nEx, sEx, inRow.size * 16L, inClu.size * 16L)
    }
    val got = operators.Prep.q455SamplingAudit(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    exp.foreach { case (flag, (nEx, sEx, estR, estC)) =>
      val g = got(flag)
      assert(g._2 == nEx && g._3 == sEx && g._4 == estR && g._5 == estC)
      assert(g._6 == math.abs(estR - nEx) * 10000 / nEx)
    }
  }

  test("q456: a one-month rollup is near-free to maintain; by-customer touches everything") {
    val dir = java.nio.file.Files.createTempDirectory("ivm").toString
    val d0 = java.sql.Timestamp.valueOf("1995-03-01 00:00:00")
    val d1 = java.sql.Timestamp.valueOf("1995-03-02 00:00:00")
    (1L to 10L).map(i => (i, i, if (i <= 5) d0 else d1, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Prep.q456IvmAdvisor(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    // by_month: 1 group, touched 1/day, delta 5/day → ivm 6 vs refresh 11
    assert(got("by_month") ==
      (("by_month", 10L, 1L, 2L, 5L, 1L, 6L, 11L, 1833L, "ivm")))
    // by_cust: 10 groups, touched 5/day → ivm 10 vs refresh 20
    assert(got("by_cust") ==
      (("by_cust", 10L, 10L, 2L, 5L, 5L, 10L, 20L, 2000L, "ivm")))
  }

  test("q461: the 3-replica placement replays in Scala, racks and failures included") {
    val dir = java.nio.file.Files.createTempDirectory("replica").toString
    val ids = (1L to 400L)
    ids.map(i => (i, s"doc $i")).toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h56(s0: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s0.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(14), 16)
    }
    val lim = 1L << 56
    val ring = for (n <- 0 until 12; v <- 0 until 16) yield (h56(s"n$n#$v"), n)
    def replicas(pos: Long): Seq[Int] = {
      val ord = ring.map { case (p, n) => (((p - pos) % lim + lim) % lim, n) }
        .sortBy(x => (x._1, x._2))
      ord.map(_._2).distinct.take(3)
    }
    val placed = ids.map(i => replicas(h56(i.toString)))
    val racks = placed.map(_.map(_ % 4))
    val d3 = racks.count(r => r.distinct.size == 3)
    val worst = (0 until 4).map(f => racks.count(_.count(_ == f) >= 2)).max
    val got = operators.Prep.q461ReplicaPlacement(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got._1 == 400L)
    assert(got._2 == d3 * 10000L / 400L, s"rack_diverse3: $got vs replay $d3")
    assert(got._4 == worst * 10000L / 400L, s"worst rack: $got vs replay $worst")
    val maxLoad = (0 until 12).map(n => placed.count(_.head == n)).max
    assert(got._5 == maxLoad * 10000L / 400L)
  }

  test("q463: MOR/COW policy table replays from planted churn") {
    val dir = java.nio.file.Files.createTempDirectory("morcow").toString
    (1L to 64L).map(i => (i, s"c$i")).toSeq.toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val d1 = java.sql.Timestamp.valueOf("1995-03-01 00:00:00")
    val d2 = java.sql.Timestamp.valueOf("1995-03-02 00:00:00")
    Seq((1L, 1L, d1), (2L, 2L, d1), (3L, 3L, d1), (4L, 1L, d2))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // avg_keys = (3 + 1) div 2 = 2; avg_files replayed from the md5 buckets
    val f1 = Seq(1L, 2L, 3L).map(k => h60(k.toString) % 32).distinct.size
    val f2 = Seq(1L).map(k => h60(k.toString) % 32).distinct.size
    val avgFiles = (f1 + f2) / 2L
    val got = operators.Prep.q463MorCowPlanner(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("cow") ==
      (("cow", 2L, 2L, avgFiles, avgFiles * 2L, 1000L, avgFiles * 1000L)))
    // mor_7: writes 2 + 64/7 = 11/day; read amp 1 + 2·6/(2·64) = 1.093
    assert(got("mor_compact_7")._5 == 11L && got("mor_compact_7")._6 == 1093L)
    assert(got("mor_compact_7")._7 == 5500L)
  }

  test("q464: day partitions prune 2000x sharper than months on a 1-day scan") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    def t(s0: String) = java.sql.Timestamp.valueOf(s0 + " 00:00:00")
    val rows = (1 to 5).map(i => (i.toLong, 1L, t("1995-01-15"))) ++
      (1 to 3).map(i => (10L + i, 1L, t("1995-02-20"))) ++
      (1 to 2).map(i => (20L + i, 1L, t("1995-02-25"))) ++
      (1 to 10).map(i => (30L + i, 1L, t("1995-03-01")))
    rows.toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = operators.Prep.q464PartitionPruning(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // span 1: both layouts read only the newest day's 10 rows
    assert(got(("by_day", 1L)) == (("by_day", 1L, 1L, 10L, 5000L, 1L)))
    assert(got(("by_month", 1L))._4 == 10L && got(("by_month", 1L))._3 == 1L)
    // span 7: day layout adds just 02-25; month layout drags all of Feb
    assert(got(("by_day", 7L))._4 == 12L && got(("by_day", 7L))._3 == 2L)
    assert(got(("by_month", 7L))._4 == 15L && got(("by_month", 7L))._3 == 2L)
    // span 90: everything, 4 day-partitions vs 3 months
    assert(got(("by_day", 90L))._3 == 4L && got(("by_month", 90L))._3 == 3L)
    assert(got(("by_month", 90L))._5 == 10000L)
  }

  test("q442: the advisor's arithmetic replays from the raw counts") {
    val d = "/root/testdata/sf0.001"
    val nl = graft.io.Tables.lineitem(spark, d).count()
    val no = graft.io.Tables.orders(spark, d).count()
    val nc = graft.io.Tables.customer(spark, d).count()
    val np = graft.io.Tables.part(spark, d).count()
    val exp = Seq(
      ("custkey", no * 100 + nc * 150, 8L),
      ("orderkey", nl * 120 + no * 100, 12L),
      ("partkey", nl * 120 + np * 130, 4L)).map { case (k, pb, f) =>
      val maint = pb * 3 * 7 / 100
      (k, pb, f, pb * f, pb * 3, maint, pb * f - maint)
    }
    val bestNet = exp.map(_._7).max
    val got = operators.Prep.q442BucketingAdvisor(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().sortBy(_._1).toList
    exp.zip(got).foreach { case ((k, pb, f, saved, rw, maint, net), g) =>
      assert(g._1 == k && g._2 == pb && g._3 == f && g._4 == saved
        && g._5 == rw && g._6 == maint && g._7 == net)
      assert(g._9 == (net == bestNet))
      if (net > 0) assert(g._8 == (rw + net - 1) / net)
    }
    // at TPC-H shape the orderkey pair (biggest tables × highest
    // frequency) must win
    assert(got.find(_._9).map(_._1).contains("orderkey"))
  }
}
