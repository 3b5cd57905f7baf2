package graft

/** Contract guards: every query name is declared once, and every query
  * runs at sf0.001 and returns rows (a 0-row result would "pass" the
  * oracle hash compare vacuously — caught once in review, guarded
  * forever). The every-query test reads [[QuerySweep]], the suite's one
  * sweep over `SparkEntry.queries`; the shape locks read the same sweep. */
class SmokeSpec extends SparkSpec {

  test("the module registry names every query and oracle exactly once") {
    // a record carries its query's oracle and sanity contract, so each
    // query has exactly one of each by construction; what the types
    // cannot rule out is a name declared twice (the derived maps'
    // toMap would silently keep one), a no-bound contract without a
    // reason, or a hooks contract without a hook
    val records = SparkEntry.modules.flatMap(_._2.queries)
    val dups = records.groupBy(_.name).filter(_._2.size > 1).keySet
    assert(dups.isEmpty, s"query names declared more than once: $dups")
    assert(SparkEntry.queries.size == records.size)
    val blank = records.collect {
      case Query(n, _, _, Sanity.NoBound(why)) if why.trim.isEmpty => n }
    assert(blank.isEmpty, s"no-bound contracts without a reason: $blank")
    val hookless = records.collect { case Query(n, _, _, Sanity.Hooks()) => n }
    assert(hookless.isEmpty, s"hooks contracts without a hook: $hookless")
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query returns >0 rows at sf0.001") {
    val r = QuerySweep(spark)
    QuerySweep.assertAllRan(r)
    assert(r.empty.isEmpty, s"queries with empty results: ${r.empty}")
    // every whitelist entry names a rule that one of the locks checks
    val rules = graft.plans.ScaleGuard.rules.map(_._1).toSet
    assert(QuerySweep.whitelist.keySet.forall(k => rules(k._1)),
      s"whitelist names an unknown rule: ${QuerySweep.whitelist.keySet}")
  }

  test("q158: hinted star plan equals the unhinted formulation; semi-join present") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val dec = "decimal(18,2)"
    val hinted = operators.Relational.q158StarRevenue(spark, d)
    val plain = graft.io.Tables.lineitem(spark, d)
      .join(graft.io.Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .join(graft.io.Tables.supplier(spark, d), $"l_suppkey" === $"s_suppkey")
      .join(graft.io.Tables.nation(spark, d), $"s_nationkey" === $"n_nationkey")
      .join(graft.io.Tables.region(spark, d), $"n_regionkey" === $"r_regionkey")
      .join(graft.io.Tables.part(spark, d), $"l_partkey" === $"p_partkey")
      .filter($"r_name" === "ASIA" && $"p_size" < 25)
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("o_year"))
      .agg(sum($"l_extendedprice".cast(dec) *
          (lit(1).cast(dec) - $"l_discount".cast(dec)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
    assert(hinted.collect().toSeq.map(_.toSeq).toSet ==
      plain.collect().toSeq.map(_.toSeq).toSet)
    val phys = hinted.queryExecution.executedPlan.toString
    assert(phys.contains("LeftSemi"), s"part prune not a semi join:\n$phys")
  }

  test("q191: NOT IN with nulls pins to zero; filtered variant is real and anti-joined") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Relational.q191NullAwareAnti(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // three-valued logic: a NULL in the NOT IN set makes the predicate
    // never-true — any nonzero here is the classic rewrite bug
    assert(got("not_in_with_nulls") == 0L)
    assert(got("not_in_null_filtered") > 0L)
    val nCust = graft.io.Tables.customer(spark, d).count()
    assert(got("not_in_null_filtered") < nCust, "filter did not exclude anyone")
    val plan = operators.Relational.q191NullAwareAnti(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Anti"), s"no anti join in plan:\n$plan")
  }

  test("q178: LATERAL top-3 decorrelates to one windowed customer scan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Relational.q178Lateral(spark, d)
    // semantics: equals the explicit window rewrite
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_name")
    val want = graft.io.Tables.customer(spark, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .join(graft.io.Tables.nation(spark, d), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_name",
        $"c_acctbal".cast("decimal(18,2)").cast("double").as("acctbal"))
    assert(got.collect().toSeq.map(_.toSeq).toSet ==
      want.collect().toSeq.map(_.toSeq).toSet)
    // plan: the per-outer-row LIMIT became a Window; customer scanned once
    // AQE prints Final + Initial sections; count scans in the final only
    val phys = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(phys.contains("Window"), s"no window decorrelation:\n$phys")
    assert(!phys.contains("CartesianProduct"), s"nested-loop residue:\n$phys")
    val scans = "Scan parquet".r.findAllIn(phys).length
    assert(scans == 2, s"expected 2 scans (nation, customer), got $scans:\n$phys")
  }

  test("q199: bitmap plan has no Expand and no customer-level distinct join") {
    val d = "/root/testdata/sf0.001"
    val phys = graft.operators.Stats.q199BitmapOverlap(spark, d)
      .queryExecution.executedPlan.toString
    // the whole point: month-pair overlap WITHOUT count(distinct ...)
    // (which would plan an Expand) and without joining customer rows.
    // NB the bitmap build sits behind a localCheckpoint, so this plan
    // shows only the pair-join half; the bit_or half is asserted via
    // the un-checkpointed builder below.
    assert(!phys.contains("Expand"), s"Expand leaked into bitmap plan:\n$phys")
    assert(phys.contains("bit_count"), s"popcount missing:\n$phys")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bmPlan = graft.io.Tables.orders(spark, d)
      .filter(year($"o_orderdate") === 1995)
      .select(month($"o_orderdate").cast("long").as("m"),
        ($"o_custkey" % 60).cast("int").as("bit"),
        expr("o_custkey div 60").cast("long").as("bucket"))
      .groupBy($"m", $"bucket")
      .agg(expr("bit_or(shiftleft(1L, bit))").as("bits"))
      .queryExecution.executedPlan.toString
    assert(bmPlan.contains("bit_or"), s"bit_or aggregation missing:\n$bmPlan")
    assert(!bmPlan.contains("Expand"), s"Expand in bitmap build:\n$bmPlan")
  }

  test("q203: price index broadcasts the part dim and shuffles the fact once") {
    val d = "/root/testdata/sf0.001"
    val phys = graft.operators.Relational.q203PriceIndex(spark, d)
      .queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$phys")
    // the base/cur self-join runs on the small (brand, part, yr) agg,
    // not the fact table: lineitem appears exactly twice (base+cur
    // branches of one logical scan) or once if the exchange is reused
    val liScans = "lineitem".r.findAllIn(phys).length
    assert(liScans <= 4, s"fact scan duplicated beyond the two branches:\n$phys")
  }

  test("q257: maintained view equals the full recompute; legs partition it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Relational.q257JoinIvm(spark, d).collect()
    assert(got.nonEmpty)
    val full = graft.io.Tables.orders(spark, d)
      .join(graft.io.Tables.lineitem(spark, d), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(sum(($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long")).as("v"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("v")).toMap
    got.foreach { r =>
      val pr = r.getAs[String]("o_orderpriority")
      assert(r.getAs[Long]("v_maintained") == full(pr), s"$pr: view drifted")
      assert(r.getAs[Long]("v_old") + r.getAs[Long]("d_new_orders")
        + r.getAs[Long]("d_new_items") + r.getAs[Long]("d_both")
        == r.getAs[Long]("v_maintained"))
      // deltas are genuinely exercised by the 7/5 residue split
      assert(r.getAs[Long]("d_new_orders") > 0 && r.getAs[Long]("d_new_items") > 0)
    }
  }

  test("q232/q241/q257: no nested-loop joins; delta legs broadcast") {
    val d = "/root/testdata/sf0.001"
    def phys(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // the grid eps-join and the FIFO interval join must plan as equi
    // joins — a BroadcastNestedLoopJoin/CartesianProduct here means the
    // blocking key was lost and the plan is O(N^2)
    Seq(operators.Similarity.q232GridDbscan(spark, d),
        operators.RangeJoin.q241FifoAllocation(spark, d)).foreach { q =>
      val p = phys(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"quadratic join shape leaked:\n${p.take(2000)}")
    }
    // the IVM delta legs carry explicit broadcast hints on the new-order
    // side — both must survive planning
    val ivm = phys(operators.Relational.q257JoinIvm(spark, d))
    assert("BroadcastHashJoin".r.findAllIn(ivm).size >= 2,
      s"delta joins lost their broadcast shape:\n${ivm.take(2000)}")
  }

  test("q266: ABC classes partition parts; shares bracket the 80/15/5 rule") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Relational.q266AbcClassification(spark, d).collect()
      .map(r => r.getAs[String]("cls") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("class_rev_cents"),
          r.getAs[Long]("rev_share_bp"))).toMap
    assert(got.keySet == Set("A", "B", "C"))
    val nParts = graft.io.Tables.lineitem(spark, d)
      .select($"l_partkey").distinct().count()
    assert(got.values.map(_._1).sum == nParts)
    // A's share is >= 80% minus one part's worth (the boundary part
    // belongs to A by the strictly-less rule); C's is <= 5% plus dust
    assert(got("A")._3 >= 7900 && got("A")._3 <= 9000, s"A share ${got("A")._3}")
    // TPC-H part revenue is near-uniform, so A legitimately holds most
    // parts here — the classifier's value shows on skewed catalogs; the
    // partition and share brackets are the engine-level contract
    assert(got("C")._3 <= 600, s"C share ${got("C")._3}")
    assert(got.values.map(_._3).sum >= 10000 - 3 && got.values.map(_._3).sum <= 10000)
  }

  test("q405: delta promotes an outsider; untouched sub-threshold customer never enters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("topkivm").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // base: cust i spent (13-i)*100 dollars -> old top-10 = ids 1..10,
    // theta = 300 (id 10); ids 11 (200) and 12 (100) are outside.
    // delta: id 12 gains $10000 -> must enter at rank 1 via the
    // candidate path; id 11 is untouched and must stay out even though
    // id 10 drops off the board.
    val base = (1 to 12).map(i => (i.toLong, ((13 - i) * 100).toDouble, ts("1998-01-01")))
    val delta = Seq((12L, 10000.00, ts("1998-06-01")))
    (base ++ delta).toDF("o_custkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.operators.Relational.q405TopkIvm(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == (12L +: (1L to 9L)))         // id 10 out, id 11 never in
    assert(got.head == ((1L, 12L, 1010000L)))            // 100 + 10000 dollars in cents
    assert(got.map(_._1) == (1L to 10L))
  }

  test("q298: retraction maintenance == full recompute; untouched buckets keep snapshot extremes") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val got = graft.operators.Relational.q298RetractionIvm(spark, d).collect()
    val full = graft.io.Tables.orders(spark, d)
      .filter(col("o_orderkey") % 97 =!= 0)
      .groupBy((col("o_custkey") % 100).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date"))
      .filter(col("n") > 0).orderBy(col("bucket")).collect()
    assert(got.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
    // at least one bucket was actually touched by a delete AND at least
    // one extreme changed somewhere vs the snapshot — i.e. the
    // non-additive path did real work on this data
    val snap = graft.io.Tables.orders(spark, d)
      .groupBy((col("o_custkey") % 100).as("bucket"))
      .agg(min(col("o_orderdate")).as("f"), max(col("o_orderdate")).as("l"))
      .collect().map(r => r.get(0) -> (r.get(1), r.get(2))).toMap
    val changed = got.count { r =>
      snap(r.get(0)) != ((r.get(3), r.get(4))) }
    assert(changed >= 1, "delete set never held a group extreme — test data too tame")
  }

  test("q304/q305: deletion debt reconciles; merkle diff localizes erasures") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val debt = graft.operators.Relational.q304DeletionDebt(spark, d).collect()
    val tot = debt.filter(_.getString(0) == "_TOTAL").head
    val parts = debt.filter(_.getString(0) != "_TOTAL")
    // totals row sums the partitions
    assert(tot.getLong(1) == parts.map(_.getLong(1)).sum)
    assert(tot.getLong(2) == parts.map(_.getLong(2)).sum)
    assert(tot.getLong(3) == parts.map(_.getLong(3)).sum)
    // a partition rewrites fully iff it holds an erasure
    parts.foreach { r =>
      assert(r.getLong(3) == (if (r.getLong(2) > 0) r.getLong(1) else 0L)) }

    val mk = graft.operators.Relational.q305MerkleDiff(spark, d)
      .as[(String, String, Long, Long, Long)].collect()
    val byLevel = mk.groupBy(_._1)
    // the root differs exactly when ANY leaf differs
    val rootDiff = byLevel("0_root").head._5
    val leafDiffs = byLevel("3_month").count(_._5 == 1)
    assert(rootDiff == (if (leafDiffs > 0) 1L else 0L))
    assert(leafDiffs >= 1) // erasure list touches some month at this sf
    // hierarchy consistency: a quarter differs iff one of its months does
    val monthByQ = byLevel("3_month").groupBy(m => {
      val ym = m._2.split("-"); s"${ym(0)}-Q${(ym(1).toInt - 1) / 3 + 1}" })
    byLevel("2_quarter").foreach { q =>
      val kids = monthByQ.getOrElse(q._2, Array.empty)
      // xor aggregation can cancel, but only kid-differs can make a
      // parent differ
      if (q._5 == 1L) assert(kids.exists(_._5 == 1L), s"orphan diff ${q._2}")
    }
    // untouched partitions digest identically in both states
    assert(byLevel("3_month").filter(_._5 == 0).forall(m => m._3 == m._4))
  }
}
