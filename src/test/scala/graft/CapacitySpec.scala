package graft

/** Planted-corpus invariants for the capacity-planner family
  * (q439–q441, q444–q446, q451) — each test hand-derives the planner's
  * numbers from a trace small enough to replay on paper. */
class CapacitySpec extends SparkSpec {
  import spark.implicits._

  private def writeEvents(rows: Seq[(Long, Long, Long, String, Double, String)])
      : String = {
    val dir = java.nio.file.Files.createTempDirectory("capacity").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
  private def ns(h: Int, m: Int = 0): Long =
    (1704067200L + h * 3600L + m * 60L) * 1000000000L

  test("q439: stack distances of the trace 1,2,1,3,2,1 by hand") {
    // one user, items 1,2,1,3,2,1 → re-access distances:
    //   1@p3 (between: {2})   → sd 2
    //   2@p5 (between: {1,3}) → sd 3
    //   1@p6 (between: {3,2}) → sd 3
    val dir = writeEvents((1 to 6).zip(Seq(1, 2, 1, 3, 2, 1)).map {
      case (i, k) => (i.toLong, ns(0, i), 7L, "view", 1.0, s"""{"k": $k}""")
    })
    val got = operators.Capacity.q439LruCurve(spark, dir)
      .select($"capacity", $"hits", $"hit_bp", $"cold_bp")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got.map(_._1) == List(1L, 2L, 4L, 8L, 16L, 32L))
    assert(got.map(_._2) == List(0L, 1L, 3L, 3L, 3L, 3L),
      s"hits by capacity: $got")
    assert(got.head._4 == 5000L) // 3 first-touches of 6 accesses
    assert(got(2)._3 == 5000L) // c=4: 3 hits / 6 accesses
  }

  test("q444: LFU curve of the same trace; capacity clamps to the catalog") {
    // freqs: item1→3, item2→2, item3→1 (total 6)
    val dir = writeEvents((1 to 6).zip(Seq(1, 2, 1, 3, 2, 1)).map {
      case (i, k) => (i.toLong, ns(0, i), 7L, "view", 1.0, s"""{"k": $k}""")
    })
    val got = operators.Capacity.q444LfuCurve(spark, dir)
      .select($"capacity", $"cached_requests", $"lfu_hit_bp")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got.map(_._1) == List(1L, 2L, 4L, 8L, 16L, 32L))
    assert(got.map(_._2) == List(3L, 5L, 6L, 6L, 6L, 6L))
    assert(got.map(_._3) == List(5000L, 8333L, 10000L, 10000L, 10000L, 10000L))
  }

  test("q445: hedging two iid draws from {1.00, 3.00} lands E[min]=1.5") {
    val dir = writeEvents(Seq(
      (1L, ns(0, 1), 1L, "rpc", 1.0, "{}"),
      (2L, ns(0, 2), 1L, "rpc", 3.0, "{}")))
    val got = operators.Capacity.q445HedgedPayoff(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == 1)
    val (_, n, mean, hedged, saving) = got.head
    assert(n == 2L)
    assert(mean == 200000000L) // 2.00 units in micro-centi
    assert(hedged == 150000000L) // (1+1+1+3)/4 = 1.50
    assert(saving == 2500L)
  }

  test("q441: A=1 erlang at c=2 waits with probability exactly 1/3") {
    // 40 arrivals at hod 0 across 2 distinct days → A = 40/(20·2) = 1
    val dir = writeEvents((1 to 40).map { i =>
      val day = if (i <= 20) 0 else 1
      (i.toLong, ns(day * 24, i % 50), 1L, "view", 1.0, "{}")
    })
    val got = operators.Capacity.q441ErlangStaffing(spark, dir)
      .as[(Long, Long, Long, Long, Boolean, Long)].collect()
      .map(r => r._4 -> r).toMap
    assert(got(2L)._3 == 1000L) // 1.000 erlangs
    // ErlangB: B1 = 1/2, B2 = (1·1/2)/(2+1/2) = 1/5;
    // C = B/(1 − ρ(1−B)) = 0.2/(1 − 0.5·0.8) = 1/3
    assert(got(2L)._6 == 333333L)
    assert(got(2L)._5) // stable: A < c
    assert(!got.contains(0L))
  }

  test("q446: p=1/4 retry algebra by hand (m=3)") {
    // one hod: 4 events, 1 error → p_bp = 2500
    val dir = writeEvents((1 to 4).map { i =>
      val t = if (i == 1) "error" else "view"
      (i.toLong, ns(0, i), 1L, t, 1.0, "{}")
    })
    val got = operators.Capacity.q446RetryBudget(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._5 -> r).toMap
    assert(got(1L)._4 == 2500L)
    // m=1: succ = 1−p = 750000 micro; 1 attempt; no backoff
    assert(got(1L)._6 == 750000L && got(1L)._7 == 1000L && got(1L)._8 == 0L)
    // m=3: succ = 1−p³ = 0.984375; attempts = 1+p+p² = 1.3125;
    //      backoff = 100p + 200p² = 37.5 → 37
    assert(got(3L)._6 == 984375L)
    assert(got(3L)._7 == 1312L)
    assert(got(3L)._8 == 37L)
  }

  test("q440: one 10s straggler among 99 1s tasks — speculation caps it at p99+p50") {
    val dir = writeEvents((1 to 100).map { i =>
      val v = if (i == 100) 10.0 else 1.0
      (i.toLong, ns(0, i % 50), 1L, "task", v, "{}")
    })
    val got = operators.Capacity.q440StragglerPlanner(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(got.length == 1)
    val (_, n, work, p50, p99, _, nStrag, before, after, saving) = got.head
    assert(n == 100L && work == 10900L)
    assert(p50 == 100L && p99 == 100L) // 99 of 100 at 1.00s covers rank 99
    assert(nStrag == 1L)
    assert(before == 1000L) // the straggler IS the makespan
    // relaunch finishes at p99+p50 = 2.00s; work grows by one p50;
    // 32-way bound = ceil(11000/32) = 344 dominates
    assert(after == 344L && saving == 656L)
  }

  test("q462: trailing-window survivors and steady state by hand") {
    // days 0..8 one event each, day 9 has 11 → n=20, avg 2/day
    val dir = writeEvents(
      (0 to 8).map(d0 => (d0.toLong + 1, ns(d0 * 24), 1L, "view", 1.0, "{}")) ++
        (1 to 11).map(i => (100L + i, ns(9 * 24, i), 1L, "view", 1.0, "{}")))
    val got = operators.Capacity.q462RetentionForecast(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // ttl 7: days 3..9 alive = 6 + 11 = 17; steady = (20 div 10)·7 = 14
    assert(got(7L) == ((7L, 20L, 10L, 17L, 8500L, 14L, 1500L)))
    // ttl 30/90: everything alive, steady caps at the total
    assert(got(30L)._4 == 20L && got(30L)._6 == 20L && got(30L)._7 == 0L)
  }

  test("q451: a 65-minute-late arrival is dropped up to delta=3600") {
    val dir = writeEvents(Seq(
      (1L, ns(10, 0), 1L, "view", 1.0, "{}"),
      (2L, ns(10, 5), 1L, "view", 1.0, "{}"),
      (3L, ns(9, 0), 1L, "view", 1.0, "{}"), // arrives 3rd, 65 min late
      (4L, ns(10, 6), 1L, "view", 1.0, "{}"),
      (5L, ns(10, 4), 1L, "view", 1.0, "{}"))) // 2 min late
    val got = operators.Capacity.q451WatermarkPlanner(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L)._3 == 2L) // both late arrivals drop at zero delay
    assert(got(60L)._3 == 2L) // 120 s > 60
    assert(got(300L)._3 == 1L) // only the 3900 s one
    assert(got(3600L)._3 == 1L)
    assert(got(0L)._5 == 3900L) // max lateness
  }
}
