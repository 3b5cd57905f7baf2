package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Targeted tests for the curation operators on crafted corpora —
  * chunk boundaries, packing bin arithmetic, and split exhaustiveness,
  * which the synthetic tables exercise only in aggregate. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // Write a tiny documents.parquet-shaped table to a temp dir so the
  // (SparkSession, dir)-signature operators can read it like testdata.
  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q406: static pays the max per batch, continuous pays ceil(tokens/B)") {
    // 4 requests of lengths 1,9,1,9 -> one batch under every B:
    // static = 9 steps, padding = 4·9 − 20 = 16; continuous =
    // ceil(20/8)=3, ceil(20/16)=2, ceil(20/32)=1 steps
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, words(1), "en", "s", 1L), (2L, words(9), "en", "s", 1L),
      (3L, words(1), "en", "s", 1L), (4L, words(9), "en", "s", 1L)))
    val got = Curation.q406BatchingPlanner(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(8L, 16L, 32L))
    assert(got(0) == ((8L, 4L, 1L, 9L, 3L, 16L, 30000L)))
    assert(got(1) == ((16L, 4L, 1L, 9L, 2L, 16L, 45000L)))
    assert(got(2) == ((32L, 4L, 1L, 9L, 1L, 16L, 90000L)))
  }

  test("q402: closed-form coverage credit equals definitional Shapley on 3 sources") {
    // trigram sets: A = {t1, s}, B = {s, t3}, C = {s}  (s shared by all)
    val d = docsDir(Seq(
      (1L, "t1a t1b t1c", "en", "A", 1L),
      (2L, "s s1 s2", "en", "A", 1L),
      (3L, "s s1 s2", "en", "B", 1L),
      (4L, "t3a t3b t3c", "en", "B", 1L),
      (5L, "s s1 s2", "en", "C", 1L)))
    // definitional Shapley over all 3! orders with v(S) = |∪ grams|:
    // v(A)=v(B)=2, v(C)=1, v(AB)=3, v(AC)=2, v(BC)=2, v(ABC)=3
    // 6·φ_A = 2·v(A) + (v(AB)−v(B)) + (v(AC)−v(C)) + 2·(v(ABC)−v(BC)) = 8
    // 6·φ_C = 2·v(C) + (v(AC)−v(A)) + (v(BC)−v(B)) + 2·(v(ABC)−v(AB)) = 2
    // → φ_A = φ_B = 4/3, φ_C = 1/3; closed form: 1 + 1/3, 1 + 1/3, 1/3
    val got = Curation.q402ShapleyCoverage(spark, d)
      .select("source", "types_present", "types_unique", "phi_micro")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("A") == ((2L, 1L, 1333333L)))  // 1e6 + 1e6 div 3
    assert(got("B") == ((2L, 1L, 1333333L)))
    assert(got("C") == ((1L, 0L, 333333L)))
    // efficiency axiom: credits sum to v(grand coalition) up to floor loss
    assert(got.values.map(_._3).sum == 2999999L)
  }

  test("q372: ring resharding moves ~1/3 of keys, modulo ~2/3, ring < mod") {
    // theory at 8 -> 12: ring moves the new shards' capacity share
    // (4/12 = 3333 bp in expectation), modulo keeps a key only when
    // h mod 24 < 8 (i.e. moves 2/3 = 6667 bp). Wide bands absorb the
    // binomial noise of a few hundred keys.
    val got = Curation.q372ReshardingAudit(spark, "/root/testdata/sf0.01")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val (ring, md) = (got("ring"), got("mod"))
    assert(ring._2 == md._2 && ring._2 > 0)
    assert(ring._4 > 1800 && ring._4 < 5000, s"ring moved ${ring._4} bp")
    assert(md._4 > 5000 && md._4 < 8200, s"mod moved ${md._4} bp")
    assert(ring._4 < md._4) // the entire point of the ring
    assert(ring._3 <= ring._2 && md._3 <= md._2)
  }

  test("q370: bucket DP finds the exact padding optimum on clustered lengths") {
    // four tight length clusters (4 docs at L, 1 at L+1) — the optimal
    // buckets close at each cluster's top; every doc at L pads by 1
    val lens = Seq(10, 10, 10, 10, 11, 50, 50, 50, 50, 51,
      100, 100, 100, 100, 101, 200, 200, 200, 200, 201)
    val d = docsDir(lens.zipWithIndex.map { case (l, i) =>
      (i.toLong, (1 to l).map(j => s"w$j").mkString(" "), "en", "s", 1L)
    })
    val got = Curation.q370LengthBuckets(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq == Seq(
      (1L, 0L, 11L, 5L, 4L), (2L, 11L, 51L, 5L, 4L),
      (3L, 51L, 101L, 5L, 4L), (4L, 101L, 201L, 5L, 4L)))
    // brute-force optimality over all C(7,3) boundary triples
    val ls = lens.map(_.toLong)
    val distinct = ls.distinct.sorted
    def pad(bounds: Seq[Long]): Long = {
      val full = bounds :+ distinct.last
      ls.map(l => full.find(_ >= l).get - l).sum
    }
    val best = distinct.init.combinations(3).map(c => pad(c.sorted)).min
    assert(got.map(_._5).sum == best && best == 16L)
    // real corpus: buckets partition the population, pads nonnegative,
    // boundaries strictly increasing
    val real = Curation.q370LengthBuckets(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(real.length == 4)
    assert(real.zip(real.tail).forall { case (a, b) => a._3 == b._2 })
    assert(real.forall(r => r._5 >= 0 && r._4 > 0))
  }

  test("q369: tiny source pins at the epoch cap; residual waterfills the rest") {
    // tokens: tiny = 8, mid = 1000, big = 1200; budget = 2·2208 = 4416.
    // Sqrt weights would hand tiny ~187 tokens = 23 epochs — the cap
    // pins it at 3 epochs (24 tokens) and the residual 4392 re-spreads
    // over mid/big by weight. Closed-form check (w_mid = 31622,
    // w_big = 34641): mid ⌊4392·31622/66263⌋ = 2095, big 2296.
    val words = (n: Int, p: String) => (1 to n).map(i => s"$p$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, words(8, "t"), "en", "tiny", 1L),
      (2L, words(500, "m"), "en", "mid", 1L),
      (3L, words(500, "n"), "en", "mid", 1L),
      (4L, words(600, "b"), "en", "big", 1L),
      (5L, words(600, "c"), "en", "big", 1L)))
    val got = Curation.q369EpochWaterfill(spark, d)
      .as[(String, Long, Long, Boolean, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("tiny") == ("tiny", 8L, 2828L, true, 24L, 3000L))
    assert(got("mid") == ("mid", 1000L, 31622L, false, 2095L, 2095L))
    assert(got("big") == ("big", 1200L, 34641L, false, 2296L, 1913L))
    // budget conservation up to floor dust; nobody exceeds the cap
    val allocs = got.values.map(_._5).sum
    assert(allocs <= 4416L && allocs >= 4416L - 3)
    got.values.foreach(r => assert(r._6 <= 3000L))
    // no-cap regime: everything fits, allocation is pure waterfill
    val d2 = docsDir(Seq(
      (1L, words(400, "x"), "en", "a", 1L),
      (2L, words(500, "y"), "en", "b", 1L)))
    val flat = Curation.q369EpochWaterfill(spark, d2)
      .as[(String, Long, Long, Boolean, Long, Long)].collect()
    assert(flat.forall(!_._4))
    assert(math.abs(flat.map(_._5).sum - 1800L) <= 2)
  }

  test("q34: shared full 8-token chunk detected; ragged 7-token tail ignored") {
    val shared = "a b c d e f g h" // exactly one full chunk
    val d = docsDir(Seq(
      (1L, shared + " x y z q w e r", "en", "s", 1L), // tail of 7 dropped
      (2L, shared, "en", "s", 1L),
      (3L, "totally different words one two three four five", "en", "s", 1L)))
    val got = Curation.q34PassageDedup(spark, d)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((shared, 2L, 2L, 1L, 2L)))
  }

  test("q34: chunking is positional — same tokens at shifted offsets differ") {
    // doc 2's first chunk starts one token later, so no chunk text matches
    val d = docsDir(Seq(
      (1L, "a b c d e f g h", "en", "s", 1L),
      (2L, "z a b c d e f g h", "en", "s", 1L)))
    assert(Curation.q34PassageDedup(spark, d).isEmpty)
  }

  test("q35: fully repetitive doc flagged, diverse doc not") {
    val d = docsDir(Seq(
      (1L, "spam spam spam spam spam spam", "en", "s", 1L),
      (2L, "one two three four five six seven eight nine ten", "en", "s", 1L)))
    val got = Curation.q35RepetitionProfile(spark, d)
      .select($"doc_id", $"n_tokens", $"n_distinct", $"top_tok_permille",
        $"dup_bigram_permille", $"repetitive")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 6L, 1L, 1000L, 1000L, true),   // 5 identical bigrams, all dup
      (2L, 10L, 10L, 100L, 0L, false)))   // 1000/10 = 100 permille < 160
  }

  test("q36: doc crossing the 512 boundary stays in its starting bin; per-lang reset") {
    // en: 300 + 300 tokens -> doc 2 starts at cum=300 (bin 0), crosses 512
    // de: starts its own bin 0 regardless of en totals
    val t300 = Seq.fill(300)("w").mkString(" ")
    val d = docsDir(Seq(
      (1L, t300, "en", "s", 1L), (2L, t300, "en", "s", 1L),
      (3L, t300, "de", "s", 1L)))
    val got = Curation.q36SequencePacking(spark, d)
      .select($"lang", $"bin_id", $"n_docs", $"n_tokens", $"fill_permille")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("de", 0L, 1L, 300L, 585L),
      ("en", 0L, 2L, 600L, 1171L))) // both docs land in bin 0; 600*1000/512
  }

  test("q38: every doc lands in exactly one split and never migrates") {
    val rows = (0L until 1000L).map(i => (i, "t", "en", "s", 1L))
    val d = docsDir(rows)
    val got = Curation.q38TrainSplit(spark, d)
      .agg(sum($"n_docs")).as[Long].head()
    assert(got == 1000L)
    // determinism: identical accounting on a re-read
    val a = Curation.q38TrainSplit(spark, d).collect().toSeq
    val b = Curation.q38TrainSplit(spark, d).collect().toSeq
    assert(a == b)
  }

  test("q81: quota caps every source, kept set is hash-deterministic") {
    val d = "/root/testdata/sf0.001"
    val got = Curation.q81SourceQuota(spark, d)
    val perSource = got.groupBy($"source").count().as[(String, Long)].collect()
    assert(perSource.nonEmpty && perSource.forall(_._2 <= 10),
      s"quota exceeded: ${perSource.mkString(",")}")
    // deterministic: identical kept set on a re-run (no RNG anywhere)
    assert(got.collect().toSeq == Curation.q81SourceQuota(spark, d).collect().toSeq)
    // kept docs are a hash-ordered subset, not the doc_id head: at
    // least one source must keep a doc whose doc_id exceeds one it cut
    val kept = got.select($"source", $"doc_id").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val all = graft.io.Tables.documents(spark, d)
      .select($"source", $"doc_id").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val headlike = kept.forall { case (src, ks) =>
      val cut = all(src) -- ks
      cut.isEmpty || ks.max < cut.min
    }
    assert(!headlike, "quota kept exactly the doc_id head — hash order not applied")
  }

  test("q90: composed pipeline output respects every stage's bound") {
    val d = "/root/testdata/sf0.001"
    val rows = Curation.q90CurationPipeline(spark, d).collect()
    assert(rows.nonEmpty)
    // per (split, source) can never exceed the quota cap
    rows.foreach(r => assert(r.getAs[Long]("n_docs") <= 15L, s"quota broken: $r"))
    // per source across splits: ≤ 15 (the quota is per source, pre-split)
    val bySource = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum)
    bySource.foreach { case (src, n) => assert(n <= 15L, s"$src kept $n > 15") }
    // deterministic end to end
    assert(Curation.q90CurationPipeline(spark, d).collect().toSeq == rows.toSeq)
  }

  test("q37: masked char accounting equals digits removed") {
    // crafted via events-shaped temp table
    val dir = java.nio.file.Files.createTempDirectory("curation-ev").toString
    // ts as raw nanosecond longs — Tables.events reads the testdata's
    // TIMESTAMP(NANOS) column as long (nanosAsLong) and floors to µs
    Seq(
      (1L, 0L, 10L, "click", 1.0, """{"k": 123, "id": 45}"""),
      (2L, 0L, 11L, "click", 1.0, """{"k": 7}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Curation.q37ScrubProps(spark, dir)
      .select($"event_type", $"n_events", $"masked_chars", $"n_shapes")
      .as[(String, Long, Long, Long)].collect().toSeq
    // 5 digits in row 1, 1 digit in row 2; shapes differ ({"k": #, "id": #} vs {"k": #})
    assert(got == Seq(("click", 2L, 6L, 2L)))
  }

  test("q123: output is exactly the non-dominated set (brute-force dominance check)") {
    val d = "/root/testdata/sf0.001"
    val sky = Curation.q123Skyline(spark, d)
      .select($"doc_id", $"n_chars", $"quality_score")
      .as[(Long, Long, Long)].collect()
    assert(sky.nonEmpty)
    // recompute every doc's (n_chars, quality) via the oracle-checked q31
    val all = operators.TextAnalysis.q31QualityScore(spark, d)
      .select($"doc_id", $"quality_score")
      .join(graft.io.Tables.documents(spark, d).select($"doc_id", $"n_chars"), "doc_id")
      .select($"doc_id", $"n_chars", $"quality_score")
      .as[(Long, Long, Long)].collect()
    def dominated(x: (Long, Long, Long)) = all.exists(o =>
      o._2 <= x._2 && o._3 >= x._3 && (o._2 < x._2 || o._3 > x._3))
    val want = all.filterNot(dominated).map(_._1).toSet
    assert(sky.map(_._1).toSet == want,
      s"skyline ${sky.length} docs vs brute ${want.size}")
  }

  test("q193: nucleus cut keeps the best-quality prefix to ~80% mass per source") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Curation.q193NucleusBudget(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("n_kept") >= 1L)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("mass_kept") <= r.getAs[Long]("mass_total"))
      assert(r.getAs[Long]("kept_bp") ==
        r.getAs[Long]("mass_kept") * 10000 / r.getAs[Long]("mass_total"))
    }
    // brute-force one source: rank by (quality desc, doc_id), cut at 80%
    val src = got.head.getAs[String]("source")
    val docs = graft.operators.TextAnalysis.q31QualityScore(spark, d)
      .filter($"quality_score".isNotNull) // q193 excludes token-less docs
      .select($"doc_id", $"quality_score")
      .join(graft.io.Tables.documents(spark, d)
        .filter($"source" === src)
        .select($"doc_id", $"n_chars".cast("long").as("mass")), "doc_id")
      .as[(Long, Long, Long)].collect()
      .sortBy { case (id, q, _) => (-q, id) }
    val total = docs.map(_._3).sum
    var cum = 0L
    val kept = docs.zipWithIndex.takeWhile { case ((_, _, m), i) =>
      cum += m; cum * 5 <= total * 4 || i == 0
    }
    assert(got.head.getAs[Long]("n_kept") == kept.length.toLong,
      s"$src: kept ${got.head.getAs[Long]("n_kept")} != brute ${kept.length}")
    assert(got.head.getAs[Long]("mass_kept") == kept.map(_._1._3).sum)
  }

  test("q204: bucketed waste never exceeds fixed waste; efficiency consistent") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Curation.q204LengthBuckets(spark, d).collect()
    assert(got.length > 1, "bucket width should split this corpus")
    got.foreach { r =>
      val (n, sum, mx) = (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tok"),
        r.getAs[Long]("bucket_max"))
      // bucket max lies inside the bucket's token range
      val b = r.getAs[Long]("bucket")
      assert(mx > (b - 1) * 16 && mx <= b * 16)
      assert(r.getAs[Long]("waste_bucketed") == n * mx - sum)
      assert(r.getAs[Long]("waste_bucketed") <= r.getAs[Long]("waste_fixed"))
      assert(r.getAs[Long]("eff_bp") == sum * 10000 / (n * mx))
      assert(r.getAs[Long]("eff_bp") <= 10000L)
    }
  }

  test("q205: allocations sum exactly to the budget and differ from base by <=1") {
    val d = "/root/testdata/sf0.001"
    val got = operators.Curation.q205Apportionment(spark, d).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getAs[Long]("alloc")).sum == 10000L,
      "largest-remainder must hit the budget exactly")
    val w = got.map(_.getAs[Long]("w")).sum
    got.foreach { r =>
      assert(r.getAs[Long]("extra") == 0L || r.getAs[Long]("extra") == 1L)
      assert(r.getAs[Long]("alloc") == r.getAs[Long]("base") + r.getAs[Long]("extra"))
      // quota property: base = floor(K*w/W), so alloc is within 1 of quota
      val base = r.getAs[Long]("w") * 10000L / w
      assert(r.getAs[Long]("base") == base)
    }
  }

  test("q261: net-new partitions the distinct shingle universe") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = operators.Curation.q261NetNewContent(spark, d).collect()
    assert(got.nonEmpty)
    // every source's net-new is bounded by its gross
    got.foreach { r =>
      assert(r.getAs[Long]("net_new_shingles") <= r.getAs[Long]("gross_shingles"))
      assert(r.getAs[Long]("net_new_bp") >= 0 && r.getAs[Long]("net_new_bp") <= 10000)
    }
    // sum of net-new == |distinct shingles| (each credited exactly once)
    val universe = graft.io.Tables.documents(spark, d)
      .select(explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 15)))
      .distinct().count()
    assert(got.map(_.getAs[Long]("net_new_shingles")).sum == universe)
    // the first source (priority order) keeps ALL its shingles
    val first = got.minBy(_.getAs[String]("source"))
    assert(first.getAs[Long]("net_new_shingles") == first.getAs[Long]("gross_shingles"))
  }

  test("q267: DSIR ranks the target-like raw doc first; target slice never selected") {
    // en target talks about "alpha beta"; raw doc 10 parrots it, raw doc 11
    // is disjoint vocabulary -> 10 must outrank 11
    val tgt = "alpha beta alpha beta alpha beta alpha beta"
    val d = docsDir(Seq(
      (1L, tgt, "en", "s", 1L), (2L, tgt, "en", "s", 1L),
      (10L, "alpha beta alpha beta", "de", "s", 1L),
      (11L, "uno dos tres cuatro", "de", "s", 1L)))
    val got = Curation.q267DsirSelect(spark, d)
      .select($"doc_id", $"lang", $"score_micro")
      .as[(Long, String, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(10L, 11L)) // ordered by score desc
    assert(got.forall(_._2 != "en"))
    assert(got(0)._3 > got(1)._3)
  }

  test("q276: snapshot+delta merge equals the from-scratch model inside the engine") {
    // docs 1,2 are the "stored snapshot"; doc 10 (doc_id%10==0) is the
    // new batch, sharing one bigram with the snapshot and adding one
    val d = docsDir(Seq(
      (1L, "alpha beta gamma", "en", "s", 1L),
      (2L, "alpha beta", "de", "s", 1L),
      (10L, "beta gamma delta", "de", "s", 1L)))
    val ivm = Curation.q276DsirModelIvm(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val full = Curation.dsirModel(spark, d)
      .select($"b", $"c_t", $"c_r", $"w_micro").orderBy($"b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(ivm == full)
    // totals: 2 en bigrams (doc 1), 3 raw-only (docs 2, 10)
    assert(ivm.map(_._2).sum == 2L && ivm.map(_._3).sum == 5L)
  }

  test("q275: truncation table exact on known lengths; loss conserved") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, words(3), "en", "s", 1L),
      (2L, words(40), "en", "s", 1L),
      (3L, words(100), "en", "s", 1L)))
    val got = Curation.q275TruncationAudit(spark, d)
      .select($"cap", $"n_docs_over", $"tokens_lost", $"total_tokens", $"loss_bp")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (32L, 2L, 76L, 143L, 76L * 10000 / 143),
      (64L, 1L, 36L, 143L, 36L * 10000 / 143),
      (96L, 1L, 4L, 143L, 4L * 10000 / 143)))
    // larger caps never lose more
    val lost = got.map(_._3)
    assert(lost == lost.sorted.reverse)
  }

  test("q268: chunk in 3 docs scrubbed everywhere incl. twice-in-one-doc; df=2 chunk kept") {
    val bp = "a b c d e f g h"          // df 3 -> boilerplate
    val keep = "p q r s t u v w"        // df 2 -> kept
    val d = docsDir(Seq(
      (1L, s"$bp $bp tail1 tail2", "en", "s", 1L), // both occurrences removed
      (2L, bp, "en", "s", 1L),
      (3L, s"$bp $keep", "en", "s", 1L),
      (4L, keep, "en", "s", 1L),
      (5L, "short doc", "en", "s", 1L)))           // < 8 tokens: no chunks
    val got = Curation.q268BoilerplateScrub(spark, d)
      .select($"doc_id", $"n_tok", $"n_chunks", $"n_bp", $"kept_tokens",
        $"removed_permille")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 18L, 2L, 2L, 2L, 888L),  // 16 of 18 tokens cut
      (2L, 8L, 1L, 1L, 0L, 1000L),
      (3L, 16L, 2L, 1L, 8L, 500L),
      (4L, 8L, 1L, 0L, 8L, 0L),
      (5L, 2L, 0L, 0L, 2L, 0L)))
    // conservation: kept + 8·removed == total tokens, every row
    got.foreach { case (_, n, _, nbp, kept, _) => assert(kept + 8 * nbp == n) }
  }

  test("q316: DPO pairs pick exact best/worst on a crafted pool") {
    // prompt p1: scores 3/6 the-density (500000), 0, 2/4 (500000 tie
    //   broken by doc_id), margin 500000 → pair (1, 2)
    // prompt p2: two docs, margin below 20000 → no pair
    // prompt p3: singleton → no pair
    val d = docsDir(Seq(
      (1L, "p1 the a of the x the", "en", "s", 1L),     // 6 tok, 4 stop? p1,the,a,of,the,x,the = 7 tok, 5 stop
      (2L, "p1 x y z", "en", "s", 1L),                  // 0 stop
      (3L, "p1 the of x y", "en", "s", 1L),
      (4L, "p2 the x", "en", "s", 1L),
      (5L, "p2 the y", "en", "s", 1L),
      (6L, "p3 the", "en", "s", 1L)))
    val got = Curation.q316DpoPairs(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("p1"))
    val p1 = got.head
    assert(p1._2 == 3 && p1._3 == 1L && p1._5 == 2L)
    assert(p1._4 == math.floor(1000000.0 * 5 / 7).toLong && p1._6 == 0L)
    assert(p1._7 == p1._4 - p1._6 && p1._7 >= 20000L)
    // full-table invariants at sf0.001
    val full = Curation.q316DpoPairs(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    full.foreach { r =>
      assert(r._2 >= 2 && r._4 > r._6 && r._7 == r._4 - r._6 && r._7 >= 20000L)
      assert(r._3 != r._5)
    }
  }

  test("q356: length-bias audit reconciles with q316's pair set") {
    val d = "/root/testdata/sf0.001"
    val pairs = Curation.q316DpoPairs(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    val r = Curation.q356LengthBias(spark, d)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head
    assert(r._1 == pairs.length)
    assert(r._2 + r._3 <= r._1) // ties possible
    val corr = math.max(math.abs(r._2 - r._3) - 1, 0L)
    val exp = if (r._2 + r._3 == 0) 0L else 1000L * corr * corr / (r._2 + r._3)
    assert(r._5 == exp && r._6 == (exp > 3841L))
  }

  test("q53: chinchilla plan is the closed form against the corpus count") {
    import spark.implicits._
    val dir = docsDir(Seq((1L, "a b c d", "en", "s", 7L),
      (2L, "e f g h i j", "en", "s", 11L))) // 10 corpus tokens
    val r = Curation.q53ChinchillaPlan(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.size == 7 && r.map(_._1) == Seq(18L,19L,20L,21L,22L,23L,24L))
    r.foreach { case (e, n, dt, ct, ep) =>
      assert(n == math.floor(math.sqrt(math.pow(10.0, e.toDouble) / 120.0)).toLong)
      assert(dt == 20L * n && ct == 10L && ep == dt * 1000 / 10)
    }
    // budgets are increasing -> so are the optimal sizes
    assert(r.map(_._2) == r.map(_._2).sorted)
  }

  test("q327: file counts follow the ceiling arithmetic exactly") {
    import spark.implicits._
    // one source of 100k bytes, one of 100 bytes (small-file debt)
    val dir = docsDir(Seq(
      (1L, "x", "big", "big", 100000L),
      (2L, "y", "small", "small", 100L)))
    val r = Curation.q327CompactionPlan(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.size == 6)
    r.foreach { case (src, tgt, _, bytes, nf, avg, debt) =>
      assert(nf == (bytes + tgt - 1) / tgt)
      assert(avg == bytes / nf)
      assert(debt == (if (bytes < tgt / 2) 1L else 0L))
    }
    // 100k at 16k -> 7 files; the small source is debt at every target
    assert(r.find(r0 => r0._1 == "big" && r0._2 == 16384L).get._5 == 7L)
    assert(r.filter(_._1 == "small").forall(_._7 == 1L))
  }

  test("q330: fit counts track the length histogram; memory arithmetic exact") {
    import spark.implicits._
    // 3 docs: 100, 600, 3000 tokens
    def doc(id: Long, n: Int) = (id, Seq.fill(n)("w").mkString(" "), "en", "s", 1L)
    val dir = docsDir(Seq(doc(1, 100), doc(2, 600), doc(3, 3000)))
    val r = Curation.q330KvCachePlan(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.map(x => (x._1, x._2)) == Seq((128L, 1L), (512L, 1L), (2048L, 2L)))
    r.foreach { case (ctx, fit, bp, kv, mb) =>
      assert(bp == fit * 10000 / 3)
      assert(kv == ctx * 524288L && mb == 68719476736L / kv)
    }
  }

  test("q337: sqrt pacing unlocks more than linear early, equal at the end") {
    import spark.implicits._
    val r = Curation.q337CurriculumPacing(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val lin = r.filter(_._1 == "linear").sortBy(_._2)
    val sq = r.filter(_._1 == "sqrt").sortBy(_._2)
    assert(lin.size == 10 && sq.size == 10)
    // availability is monotone in step for both policies
    Seq(lin, sq).foreach { p =>
      assert(p.map(_._5) == p.map(_._5).sorted)
      assert(p.map(_._6) == p.map(_._6).sorted)
    }
    // sqrt competence dominates linear at every interior step
    lin.zip(sq).take(9).foreach { case (l, q) => assert(q._5 >= l._5) }
    // both end with the whole corpus
    assert(lin.last._5 == sq.last._5 && lin.last._6 == sq.last._6)
  }

  test("q357: the anneal budget conserves and only top-half sources get phase 2") {
    import spark.implicits._
    val r = Curation.q357AnnealSchedule(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val k = r.size
    assert(r.count(_._4 == 1L) == k / 2)
    // annealed sources are exactly the top half by avg quality
    val sorted = r.sortBy(x => (-x._3, x._1))
    assert(sorted.take(k / 2).forall(_._4 == 1L))
    r.foreach { case (_, tok, _, ann, p1, p2, up) =>
      assert(p1 >= 0 && (ann == 1L || p2 == 0L))
      assert(up == (p1 + p2) * 1000 / tok)
      if (ann == 1L) assert(up > 1000L) else assert(up < 1000L)
    }
  }


  test("q407: planted shared prefixes produce the hand-computed radix savings") {
    // p1/p2 share an 8-token prefix, p3 shares only the first 4, p4 is
    // disjoint and shorter than every depth
    val d = docsDir(Seq(
      (1L, "a b c d e f g h i j", "en", "s", 1L),
      (2L, "a b c d e f g h X Y", "en", "s", 1L),
      (3L, "a b c d Z", "en", "s", 1L),
      (4L, "q r", "en", "s", 1L)))
    val got = Curation.q407PrefixCachePlan(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    //         d  n  total stored saved  bp  shared singleton
    assert(got(0) == ((4L, 4L, 14L, 6L, 8L, 5714L, 1L, 1L)))
    assert(got(1) == ((8L, 4L, 23L, 15L, 8L, 3478L, 1L, 2L)))
    assert(got(2) == ((16L, 4L, 27L, 27L, 0L, 0L, 0L, 4L)))
  }

  test("q411: uniform corpus -> equal weights; ppm sums to exactly 1e6") {
    val doc = "the t1 t2 t3 t4 t5 t6 t7 t8 t9"
    val d = docsDir(Seq(
      (1L, doc, "en", "a", 1L), (2L, doc, "en", "b", 1L),
      (3L, doc, "en", "c", 1L)))
    val got = Curation.q411MixtureRebalance(spark, d)
      .select($"source", $"excess_micro", $"w_ppm")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(got.forall(_._2 == 0L), s"uniform corpus must have zero excess: ${got.toSeq}")
    // deficit ppm goes to the lexicographically smallest source
    assert(got.map(_._3).toSeq == Seq(333334L, 333333L, 333333L))
    assert(got.map(_._3).sum == 1000000L)
  }

  test("q414: movement fractions are sane and HRW moves less than mod-N") {
    val dir = java.nio.file.Files.createTempDirectory("hrw").toString
    (1 to 400).map(i => i.toLong).toDF("o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Curation.q414RebalanceDelta(spark, dir)
      .select($"scheme", $"moved_bp").as[(String, Long)].collect().toMap
    // mod-N resize moves exactly the keys with k%4 != k%5 = 4/5 of them
    assert(got("mod_n") == 8000L, s"mod_n moved_bp: ${got("mod_n")}")
    // HRW contract: ~1/5 move; allow generous hash noise on 400 keys
    assert(got("rendezvous") > 1000L && got("rendezvous") < 3200L,
      s"rendezvous moved_bp out of band: ${got("rendezvous")}")
  }


  test("q422: paged waste is the last-block remainder; contiguous pays the headroom") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, words(17), "en", "s", 1L), (2L, words(33), "en", "s", 1L)))
    val got = Curation.q422KvFragmentation(spark, d)
      .select($"b", $"blocks_total", $"waste_paged", $"waste_contig",
        $"frag_paged_bp", $"frag_contig_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // lens 17+33=50, max 33 -> contig reserve 66, waste 16, bp 2424
    assert(got(0) == ((16L, 5L, 30L, 16L, 3750L, 2424L)))
    assert(got(1) == ((32L, 3L, 46L, 16L, 4791L, 2424L)))
    assert(got(2) == ((64L, 2L, 78L, 16L, 6093L, 2424L)))
  }


  test("q427: LFU hit mass = top-C frequency mass; baseline is C/K") {
    val dir = java.nio.file.Files.createTempDirectory("lfu").toString
    (Seq.fill(300)(0L) ++ (1L to 200L)).toDF("o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Curation.q427CacheSizing(spark, dir)
      .select($"cache_keys", $"hits", $"hit_bp", $"base_bp", $"lift_milli")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // 201 keys, 500 accesses; top-100 = hot key (300) + 99 singletons
    assert(got(0) == ((100L, 399L, 7980L, 4975L, 1604L)))
    assert(got(1) == ((1000L, 500L, 10000L, 10000L, 1000L)))
    assert(got(2) == ((10000L, 500L, 10000L, 10000L, 1000L)))
  }


  test("q428: attention areas from two hand-squared lengths") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = docsDir(Seq(
      (1L, words(17), "en", "s", 1L), (2L, words(33), "en", "s", 1L)))
    val got = Curation.q428AttentionWaste(spark, d)
      .select($"strategy", $"useful", $"computed", $"util_bp")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // useful = 17^2 + 33^2 = 1378
    assert(got("pad_to_512") == (("pad_to_512", 1378L, 524288L, 26L)))
    assert(got("length_bucketed") == (("length_bucketed", 1378L, 5120L, 2691L)))
    assert(got("packed_block_diag") == (("packed_block_diag", 1378L, 262144L, 52L)))
  }
}
