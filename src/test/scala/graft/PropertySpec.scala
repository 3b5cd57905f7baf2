package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.TokenParse

/** Property-based tests (SURVEY §5.2.2) with deterministic ScalaCheck
  * generation (fixed seeds — CI-stable, no flaky draws): the T5 parser
  * against computable expected records on generated streams, T7
  * overtime arithmetic ≡ integer sum, and the JSON round-trip. Data is
  * drawn once per property and checked in a single Spark pass (one job
  * per property, not one per sample). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def draw[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // tokens that the reference's int() test must classify as NON-numeric
  private val wordTok: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
  // a 6-field record: date, league, clubs are words; goals may be numeric
  private val record: Gen[Seq[String]] = for {
    date <- wordTok; league <- wordTok; h <- wordTok; a <- wordTok
    hg <- Gen.choose(0, 12); ag <- Gen.choose(0, 12)
  } yield Seq(date, league, h, a, hg.toString, ag.toString)

  test("exactNtileAgg ≡ ntile window on generated tie-heavy data (incl. N < T)") {
    // scores drawn from a TINY domain force heavy ties and many
    // boundary-straddling groups — the hard regime for the closed-form
    // rank arithmetic; sizes below/at/above the tile count hit the
    // q = 0 and r = 0 edges
    val gen = for {
      n <- Gen.oneOf(1, 3, 7, 10, 11, 50, 137, 400)
      scores <- Gen.listOfN(n, Gen.choose(0L, 4L))
      ys <- Gen.listOfN(n, Gen.choose(0L, 1L))
    } yield (scores, ys)
    (1L to 8L).foreach { seed =>
      val (scores, ys) = draw(gen, seed)
      val rows = scores.zip(ys).zipWithIndex
        .map { case ((sc, y), i) => (sc, i.toLong, y) }
        .toDF("score", "tie", "y")
      Seq(true, false).foreach { desc =>
        Seq(4, 10).foreach { t =>
          val got = operators.Windows.exactNtileAgg(
              rows, "score", "tie", "y", t, desc)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .toSet
          val ord = if (desc) Seq($"score".desc, $"tie") else Seq($"score".asc, $"tie")
          val want = rows
            .withColumn("tile", ntile(t).over(
              org.apache.spark.sql.expressions.Window.orderBy(ord: _*)).cast("long"))
            .groupBy($"tile")
            .agg(count(lit(1)).as("n_t"), sum($"y").as("y_t"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .toSet
          assert(got == want, s"seed=$seed desc=$desc t=$t")
        }
      }
    }
  }

  test("T5 team parse: word separator resyncs between generated records") {
    // stream = r1 ++ [sep] ++ r2 ++ [sep] ++ … — each non-numeric 7th
    // token is dropped and resets the cycle, so the parse must be the
    // column-parallel zip of the generated records
    val streams = draw(Gen.listOfN(60,
      for { rs <- Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, record))
            sep <- wordTok }
        yield (rs, rs.map(_.toList).reduce(_ ++ List(sep) ++ _))), seed = 7L)
    streams.foreach { case (rs, stream) =>
      val got = TokenParse.parseTeamSegment(stream)
      assert(got.date == rs.map(_(0)) && got.league == rs.map(_(1)) &&
        got.home_club == rs.map(_(2)) && got.away_club == rs.map(_(3)) &&
        got.home_club_goal == rs.map(_(4)) && got.away_club_goal == rs.map(_(5)),
        s"stream=$stream")
    }
  }

  test("T5 team parse: numeric 7th tokens are skipped without resync") {
    // r1 ++ [numeric junk…] ++ [sep] ++ r2: numbers after a complete
    // record are swallowed; only the word token resyncs
    val cases = draw(Gen.listOfN(60, for {
      r1 <- record; r2 <- record; sep <- wordTok
      junk <- Gen.choose(1, 4).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 99).map(_.toString)))
    } yield (r1, r2, r1 ++ junk ++ Seq(sep) ++ r2)), seed = 11L)
    cases.foreach { case (r1, r2, stream) =>
      val got = TokenParse.parseTeamSegment(stream)
      assert(got.date == Seq(r1(0), r2(0)) && got.away_club_goal == Seq(r1(5), r2(5)),
        s"stream=$stream")
    }
  }

  test("T5 h2h parse: a long 7th token IS the next record's date") {
    val cases = draw(Gen.listOfN(60, for {
      r1 <- record
      d2 <- Gen.choose(4, 10).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
      rest <- record.map(_.tail) // league..goals of record 2
    } yield (r1, d2, rest, r1 ++ Seq(d2) ++ rest)), seed = 13L)
    cases.foreach { case (r1, d2, rest, stream) =>
      val got = TokenParse.parseH2hSegment(stream)
      assert(got.date == Seq(r1(0), d2) && got.league == Seq(r1(1), rest(0)),
        s"stream=$stream")
    }
  }

  test("T7 overtime minute ≡ integer sum on generated a+b[+c] strings") {
    val samples = draw(Gen.listOfN(200, for {
      parts <- Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.choose(0, 130)))
    } yield (parts.mkString("+"), parts.sum)), seed = 17L)
    val got = samples.map(_._1).toDF("minute")
      .select(graft.ops.RefOps.overtimeMinute($"minute").as("m"))
      .as[String].collect()
    got.zip(samples).foreach { case (m, (in, expected)) =>
      assert(m == expected.toString, s"in=$in")
    }
  }

  test("integer least squares recovers exact collinear slopes (q134/q135 algebra)") {
    // lines y = c − m·x over distinct integer xs: the regression residual
    // is zero, so numerator = m · denominator exactly and the integer
    // division must return m·10⁴ with NO truncation loss — for any m, c,
    // and x placement. Shift invariance rides along: (c, xs) vary freely.
    val lineGen = for {
      m <- Gen.choose(1L, 9L); c <- Gen.choose(100000L, 900000L)
      xs <- Gen.listOfN(40, Gen.choose(0L, 20000L)).map(_.distinct)
      if xs.size >= 2
    } yield (m, c, xs)
    val lines = draw(Gen.listOfN(40, lineGen), seed = 31L)
    // all 40 lines in ONE grouped aggregation (one job per property)
    val pts = lines.zipWithIndex.flatMap { case ((m, c, xs), i) =>
      xs.map(x => (i.toLong, x, c - m * x))
    }.toDF("g", "x", "y")
    val sums = graft.operators.Corpus.lsqSums($"x", $"y")
    val got = pts.groupBy($"g").agg(sums.head, sums.tail: _*)
      .select($"g", expr(graft.operators.Corpus.negSlopeBpSql).as("nb"),
        expr(graft.operators.Corpus.slopeBpSql).as("b"))
      .collect().map(r => r.getAs[Long]("g") ->
        (r.getAs[Long]("nb"), r.getAs[Long]("b"))).toMap
    lines.zipWithIndex.foreach { case ((m, c, xs), i) =>
      assert(got(i.toLong) == (m * 10000L, -m * 10000L),
        s"m=$m c=$c xs=${xs.take(5)}")
    }
  }

  test("JSON round-trip: dict-of-string-lists survives to_json∘from_json") {
    val entry: Gen[(String, Seq[String])] = for {
      k <- Gen.identifier.map(_.take(8)); n <- Gen.choose(0, 5)
      vs <- Gen.listOfN(n, wordTok)
    } yield (k, vs)
    val maps = draw(Gen.listOfN(80,
      Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, entry).map(_.toMap))), seed = 23L)
    val schema = MapType(StringType, ArrayType(StringType))
    val got = maps.toDF("m")
      .select(from_json(to_json($"m"), schema).as("r"))
      .as[Map[String, Seq[String]]].collect()
    got.zip(maps).foreach { case (r, m) => assert(r == m) }
  }

  test("mergeSyms ≡ reference greedy BPE merge on generated symbol runs") {
    // reference implementation: scan left to right, merge the pair
    // greedily and non-overlappingly — the textbook BPE merge step
    def ref(syms: List[String], a: String, b: String): List[String] = syms match {
      case x :: y :: rest if x == a && y == b => (a + b) :: ref(rest, a, b)
      case x :: rest => x :: ref(rest, a, b)
      case Nil => Nil
    }
    // small alphabet with multi-char symbols forces overlap runs AND
    // cross-symbol near-matches ("ax" next to "y" vs pair (x, y))
    val sym: Gen[String] = Gen.oneOf("a", "b", "ab", "ax", "x", "y", "ya")
    val gen = for {
      n <- Gen.choose(1, 12)
      syms <- Gen.listOfN(n, sym)
      a <- sym; b <- sym
    } yield (syms, a, b)
    val cases = (1L to 200L).map(seed => draw(gen, seed))
    val rows = cases.zipWithIndex
      .map { case ((syms, a, b), i) => (i.toLong, syms, s"$a $b") }
      .toDF("id", "syms", "pair")
    val got = rows
      .select($"id", operators.Lexicon.mergeSyms($"syms", $"pair").as("m"))
      .as[(Long, Seq[String])].collect().toMap
    cases.zipWithIndex.foreach { case ((syms, a, b), i) =>
      assert(got(i.toLong) == ref(syms, a, b),
        s"case $i: $syms merge ($a,$b) -> ${got(i.toLong)} vs ${ref(syms, a, b)}")
    }
  }
}
