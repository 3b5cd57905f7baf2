package graft

/** Crafted-input tests for the annotation/label-quality family
  * (q478–q483): the oracle hash-compare proves engine equality on real
  * data; these prove the COEFFICIENTS are the ones claimed, on
  * hand-computed matrices. */
class AnnotationSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._
  import graft.plans.PlanAudit

  /** Jobs of q494's first call on a fresh dataset dir: the new file's
    * schema inference (1), the shared judgments checkpoint (2: its
    * shuffle map stage and the checkpoint), the vote pass (3: two
    * shuffle map stages and the collect) and the E-step pass (4: the
    * same, plus broadcasting θ¹). The checkpointed fit it replaced ran
    * 31. */
  private val FitJobs = 10
  private val d = "/root/testdata/sf0.001"

  test("Fleiss' kappa: hand-computed 4-item panel, off-panel items excluded") {
    // i1: A,A,B  i2: A,B,B  i3: A,A,A  i4: B,B,B → S=28, A=16, B=72,
    // N=4: kappa = (3·4·16 − 2·72)/(18·16 − 2·72) = 48/144 = 1/3.
    // i5 has only 2 raters and must not enter the panel.
    val jud = Seq(
      (1L, 0L, "A"), (1L, 1L, "A"), (1L, 2L, "B"),
      (2L, 0L, "A"), (2L, 1L, "B"), (2L, 2L, "B"),
      (3L, 0L, "A"), (3L, 1L, "A"), (3L, 2L, "A"),
      (4L, 0L, "B"), (4L, 1L, "B"), (4L, 2L, "B"),
      (5L, 0L, "A"), (5L, 1L, "A")
    ).toDF("item", "rater", "label")
    val r = operators.Annotation.fleissKappa(jud, 3).collect()(0)
    assert(r.getAs[Long]("n_items") == 4L)
    assert(r.getAs[Long]("pbar_milli") == 666L) // 16/24 floored
    assert(r.getAs[Long]("pe_milli") == 500L)   // 72/144
    assert(r.getAs[Long]("kappa_bp") == 3333L)  // floor(1/3 · 1e4)
  }

  test("Fleiss' kappa: perfect within-item agreement gives kappa = 1") {
    val jud = Seq(
      (1L, 0L, "A"), (1L, 1L, "A"), (1L, 2L, "A"),
      (2L, 0L, "B"), (2L, 1L, "B"), (2L, 2L, "B")
    ).toDF("item", "rater", "label")
    val r = operators.Annotation.fleissKappa(jud, 3).collect()(0)
    assert(r.getAs[Long]("kappa_bp") == 10000L)
  }

  test("degenerate one-label corpus: kappa and alpha emit the NULL sentinel") {
    // every judgment is "A": chance agreement P̄e = 1 (resp. E = 0), so
    // both coefficients are 0/0 — the contract (ADVICE r11) is a NULL
    // sentinel, never an engine-divergent floor(NaN) cast
    val jud = Seq(
      (1L, 0L, "A"), (1L, 1L, "A"), (1L, 2L, "A"),
      (2L, 0L, "A"), (2L, 1L, "A"), (2L, 2L, "A")
    ).toDF("item", "rater", "label")
    val k = operators.Annotation.fleissKappa(jud, 3).collect()(0)
    assert(k.getAs[Long]("pe_milli") == 1000L)
    assert(k.isNullAt(k.fieldIndex("kappa_bp")))
    val a = operators.Annotation.krippendorffAlpha(jud).collect()(0)
    assert(a.getAs[Long]("do_ppm") == 0L)
    assert(a.isNullAt(a.fieldIndex("alpha_bp")))
  }

  test("Krippendorff's alpha: hand-computed ragged panels") {
    // i1: A,B (dis 2, lcm factor 60) + i2: A,A (dis 0) → Do60n = 120;
    // n = 4, labels A:3 B:1 → E = 16 − 10 = 6;
    // alpha = (60·6 − 120·3)/(60·6) = 0 exactly. A lone-rater item is
    // excluded from every total.
    val jud = Seq(
      (1L, 0L, "A"), (1L, 1L, "B"),
      (2L, 0L, "A"), (2L, 1L, "A"),
      (9L, 0L, "Z")
    ).toDF("item", "rater", "label")
    val r = operators.Annotation.krippendorffAlpha(jud).collect()(0)
    assert(r.getAs[Long]("n_items") == 2L)
    assert(r.getAs[Long]("n_judgments") == 4L)
    assert(r.getAs[Long]("alpha_bp") == 0L)
    // perfect agreement on ragged panels → alpha = 1
    val perf = Seq(
      (1L, 0L, "A"), (1L, 1L, "A"),
      (2L, 0L, "B"), (2L, 1L, "B"), (2L, 2L, "B")
    ).toDF("item", "rater", "label")
    val p = operators.Annotation.krippendorffAlpha(perf).collect()(0)
    assert(p.getAs[Long]("do_ppm") == 0L)
    assert(p.getAs[Long]("alpha_bp") == 10000L)
  }

  test("Dawid–Skene soft-EM: asymmetric confusion overturns scalar accuracy") {
    // The case q486's scaladoc names as hard-EM's gap (VERDICT r11 ask
    // #4): rater 2 is a high-scalar-accuracy A-spammer (says A whatever
    // the truth), rater 0 is mediocre overall but INFORMATIVE (errs
    // symmetrically, so a B vote means something). On item 100 (r0
    // says B, r2 says A) the scalar-weighted hard re-vote must pick A
    // (r2's weight 789 > r0's 733), while the confusion-aware soft
    // posterior must pick B: r2's column θ[A][A] ≈ θ[B][A] carries a
    // likelihood ratio near 1, r0's B column does not.
    val rows = Seq.newBuilder[(Long, Long, String)]
    for (i <- 1 to 10) {
      rows += ((i.toLong, 1L, "A")); rows += ((i.toLong, 2L, "A"))
      rows += ((i.toLong, 0L, if (i <= 7) "A" else "B"))
    }
    for (i <- 20 to 23) { rows += ((i.toLong, 1L, "A")); rows += ((i.toLong, 2L, "A")) }
    for (i <- 11 to 14) {
      rows += ((i.toLong, 0L, "B")); rows += ((i.toLong, 1L, "B")); rows += ((i.toLong, 2L, "A"))
    }
    for (i <- 30 to 37) rows += ((i.toLong, 1L, "B"))
    rows += ((100L, 0L, "B")); rows += ((100L, 2L, "A"))
    val jud = rows.result().toDF("item", "rater", "label")

    // hard-EM premise: r2's scalar accuracy strictly beats r0's, so a
    // scalar-weighted vote on item 100 (r0 vs r2 head-to-head) picks A
    val hard = operators.Annotation.dawidSkene(jud)
      .collect().map(r => r.getAs[Long]("rater") -> r.getAs[Long]("acc_mv_milli")).toMap
    assert(hard(2L) > hard(0L))

    // soft-EM: the confusion matrices expose r2's asymmetry …
    val th = operators.Annotation.dawidSkeneSoftConfusion(jud)
      .collect().map(r => (r.getAs[Long]("rater"), r.getAs[String]("true_label"),
        r.getAs[String]("said_label")) -> r.getAs[Long]("theta2_milli")).toMap
    assert(th((2L, "B", "A")) > 800L) // spammer: says A even when truth is B
    assert(th((0L, "B", "B")) > 800L) // informative: truth-B → says B
    // … and the posterior flips item 100 to B against the crowd
    val lab = operators.Annotation.dawidSkeneSoftLabels(jud)
      .filter($"item" === 100L).collect()(0)
    assert(lab.getAs[String]("mv_label") == "A")   // plain vote (tie-break)
    assert(lab.getAs[String]("ds_label") == "B")   // confusion-aware flip
    assert(lab.getAs[Long]("post_micro") > 600000L)

    // q496's report exposes the spammer where raw agreement can't:
    // r2's θ² diagonal collapses on the B row (he never says B), so
    // his mean diagonal sits well below informative r0's
    val rep = operators.Annotation.dawidSkeneRaterReport(jud)
      .collect().map(r => r.getAs[Long]("rater") ->
        (r.getAs[Long]("agree_micro"), r.getAs[Long]("diag_milli"))).toMap
    assert(rep(0L)._2 > rep(2L)._2 + 150L,
      s"informative rater must out-diag the spammer: $rep")
    rep.values.foreach { case (am, dm) =>
      assert(am >= 0L && am <= 1000000L && dm >= 0L && dm <= 1000L)
    }
  }

  /** Every message along `t`'s cause chain, joined. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("Dawid–Skene soft-EM: a 9-judgment item fails and names the panel bound") {
    // prior + 9 centi θ factors can pass 2⁶³: the int64 E-step takes at
    // most 8 judgments per item and must say so, not overflow
    val jud = ((0L until 9L).map(r => (1L, r, "A")) ++
      Seq((2L, 0L, "B"), (2L, 1L, "A"))).toDF("item", "rater", "label")
    for (run <- Seq[() => Unit](
        () => operators.Annotation.dawidSkeneSoftConfusion(jud).collect(),
        () => operators.Annotation.dawidSkeneSoftLabels(jud).collect())) {
      val msg = messages(intercept[Exception](run()))
      assert(msg.contains("panels of <= 8 judgments/item, got 9"), msg)
    }
  }

  test("Dawid–Skene soft-EM: an all-zero E2 panel gives post_micro NULL") {
    // Raters 0 and 1 agree on 200 A-items and 200 B-items, so each
    // holds ~200 judgments per class and its off-diagonal centi θ
    // floors to 0: ((0 + 10⁶)·100) div (~200·10⁶ + 2·10⁶) = 0. Item 900
    // splits them (r0 A, r1 B): every class score carries one zero
    // factor, so Σ score = 0 and the posterior is the NULL sentinel,
    // never a 0/0. The argmax over all-zero scores is the first label.
    val rows = (1L to 200L).flatMap(i => Seq((i, 0L, "A"), (i, 1L, "A"))) ++
      (201L to 400L).flatMap(i => Seq((i, 0L, "B"), (i, 1L, "B"))) ++
      Seq((900L, 0L, "A"), (900L, 1L, "B"))
    val lab = operators.Annotation.dawidSkeneSoftLabels(rows.toDF("item", "rater", "label"))
      .collect().map(r => r.getAs[Long]("item") -> r).toMap
    assert(lab.size == 401)
    val x = lab(900L)
    assert(x.isNullAt(x.fieldIndex("post_micro")), s"item 900: $x")
    assert(x.getAs[String]("mv_label") == "A" && x.getAs[String]("ds_label") == "A")
    // a unanimous item keeps a real posterior
    assert(lab(1L).getAs[Long]("post_micro") > 900000L)
    assert(lab(201L).getAs[String]("ds_label") == "B")
  }

  test("Dawid–Skene soft-EM: an empty judgment relation fits to empty reports") {
    val jud = Seq.empty[(Long, Long, String)].toDF("item", "rater", "label")
    assert(operators.Annotation.dawidSkeneSoftConfusion(jud).collect().isEmpty)
    assert(operators.Annotation.dawidSkeneSoftLabels(jud).collect().isEmpty)
    assert(operators.Annotation.dawidSkeneRaterReport(jud).collect().isEmpty)
  }

  test("Dawid–Skene hard-EM: accuracy weighting flips a tied item") {
    // Raters 0,1 track truth X on items 1–3; rater 2 contradicts.
    // Item 4 (raters 0,2) ties → majority vote takes min label P.
    // Item 5 (raters 1,2) ties → vote takes A (rater 2's label), so
    // acc_mv: r0 = 4/4, r1 = 3/4 = 750, r2 = 1/5 = 200. The weighted
    // re-vote gives item 5 to rater 1 (weight 750 > 200): r1 rises to
    // 1000, r2 falls to 0 — the Dawid–Skene signal.
    val jud = Seq(
      (1L, 0L, "X"), (1L, 1L, "X"), (1L, 2L, "Y"),
      (2L, 0L, "X"), (2L, 1L, "X"), (2L, 2L, "Y"),
      (3L, 0L, "X"), (3L, 1L, "X"), (3L, 2L, "Y"),
      (4L, 0L, "P"), (4L, 2L, "Q"),
      (5L, 1L, "B"), (5L, 2L, "A")
    ).toDF("item", "rater", "label")
    val r = operators.Annotation.dawidSkene(jud)
      .collect().map(x => x.getAs[Long]("rater") ->
        (x.getAs[Long]("acc_mv_milli"), x.getAs[Long]("acc_em_milli"))).toMap
    assert(r(0L) == (1000L, 1000L))
    assert(r(1L) == (750L, 1000L), "re-vote must flip item 5 to rater 1")
    assert(r(2L) == (200L, 0L))
  }

  test("Kendall tau-b: revenue and order count rank suppliers concordantly") {
    val r = operators.Annotation.q481KendallTau(spark, d).collect()(0)
    val n = r.getAs[Long]("n_suppliers")
    val (c, disc) = (r.getAs[Long]("conc"), r.getAs[Long]("disc"))
    assert(c + disc <= n * (n - 1) / 2, "pair classes cannot exceed all pairs")
    val tau = r.getAs[Long]("tau_b_bp")
    assert(tau >= -10000L && tau <= 10000L)
    assert(tau > 0, s"revenue and volume must rank concordantly, got $tau")
  }

  test("item analysis: difficulty bounded, discrimination in range or sentinel") {
    val rows = operators.Annotation.q482ItemAnalysis(spark, d).collect()
    assert(rows.length <= 25 && rows.nonEmpty)
    rows.foreach { r =>
      val diff = r.getAs[Long]("difficulty_milli")
      assert(diff >= 0L && diff <= 1000L)
      if (!r.isNullAt(r.fieldIndex("disc_bp"))) {
        val disc = r.getAs[Long]("disc_bp")
        assert(disc >= -10000L && disc <= 10000L)
      }
    }
  }

  test("panel majority expression: hand-computed 3-judge panel") {
    import org.apache.spark.sql.functions.expr
    // ps = [900, 800, 700] milli: P(majority of 3 correct) =
    // .9·.8·.7 + .9·.8·.3 + .9·.2·.7 + .1·.8·.7 = .902 → 902000 micro
    val df = Seq(Tuple1(Seq(900L, 800L, 700L))).toDF("ps")
    val r = df.select(
      expr(operators.Annotation.majorityExpr(1)).as("k1"),
      expr(operators.Annotation.majorityExpr(3)).as("k3")).collect()(0)
    assert(r.getAs[Long]("k1") == 900000L, "panel of 1 = the top judge")
    assert(r.getAs[Long]("k3") == 902000L)
    // a panel of identical coin-flip judges never beats the coin
    val coin = Seq(Tuple1(Seq(500L, 500L, 500L))).toDF("ps")
    val c = coin.select(expr(operators.Annotation.majorityExpr(3)).as("k3"))
      .collect()(0)
    assert(c.getAs[Long]("k3") == 500000L)
  }

  test("judge-pair kappa: hand-computed contingency and constant-judge sentinel") {
    // rater 0: A,A,B,B; rater 1: A,B,B,B → n=4, agree=3,
    // pe_num = 2·1 + 2·3 = 8, kappa = (12−8)/(16−8) = 0.5 → 5000 bp.
    // rater 2 says A always and rater 3 mirrors it on both shared
    // items → pe = n² → NULL sentinel, not a fake 10000.
    val jud = Seq(
      (1L, 0L, "A"), (1L, 1L, "A"),
      (2L, 0L, "A"), (2L, 1L, "B"),
      (3L, 0L, "B"), (3L, 1L, "B"),
      (4L, 0L, "B"), (4L, 1L, "B"),
      (5L, 2L, "A"), (5L, 3L, "A"),
      (6L, 2L, "A"), (6L, 3L, "A")
    ).toDF("item", "rater", "label")
    val rows = operators.Annotation.judgePairKappa(jud).collect()
      .map(r => (r.getAs[Long]("ra"), r.getAs[Long]("rb")) -> r).toMap
    val r01 = rows((0L, 1L))
    assert(r01.getAs[Long]("n") == 4L)
    assert(r01.getAs[Long]("agree_milli") == 750L)
    assert(r01.getAs[Long]("kappa_bp") == 5000L)
    val r23 = rows((2L, 3L))
    assert(r23.isNullAt(r23.fieldIndex("kappa_bp")),
      "two constant judges have undefined kappa")
  }

  test("KR-20, test-retest, and pair-matrix invariants on real data") {
    val kr = operators.Annotation.q484Kr20(spark, d).collect()(0)
    assert(kr.getAs[Long]("n_persons") > 0L)
    assert(kr.getAs[Long]("sum_item_var_n2") >= 0L)
    if (!kr.isNullAt(kr.fieldIndex("kr20_bp")))
      assert(kr.getAs[Long]("kr20_bp") <= 10000L)
    val tr = operators.Annotation.q486TestRetest(spark, d).collect()
    assert(tr.length == 7)
    tr.foreach { r =>
      assert(r.getAs[Long]("n_retest") <= r.getAs[Long]("n_cells"))
      val c = r.getAs[Long]("self_consistent_milli")
      assert(c >= 0L && c <= 1000L)
    }
    val pk = operators.Annotation.q487JudgePairKappa(spark, d).collect()
    assert(pk.length == 21, "7 choose 2 rater pairs")
    pk.foreach { r =>
      val a = r.getAs[Long]("agree_milli")
      assert(a >= 0L && a <= 1000L)
      if (!r.isNullAt(r.fieldIndex("kappa_bp")))
        assert(r.getAs[Long]("kappa_bp") <= 10000L)
    }
    val pp = operators.Annotation.q485PanelPlanner(spark, d).collect()
    assert(pp.map(_.getAs[Long]("panel_k")).toSeq == Seq(1L, 3L, 5L, 7L))
    pp.foreach(r => assert(r.getAs[Long]("p_majority_micro") >= 0L &&
      r.getAs[Long]("p_majority_micro") <= 1000000L))
  }

  test("binomial tail: exact coin-flip and degenerate values") {
    import org.apache.spark.sql.functions.expr
    val one = Seq(Tuple1(1L)).toDF("x")
    def tail(n: Int, t: Int, p: Int): Long =
      one.select(expr(operators.Annotation
        .binomTailExpr(n, t.toString, p.toString)).as("v"))
        .collect()(0).getAs[Long]("v")
    assert(tail(5, 5, 500) == 31250L, "P(X=5|5,1/2) = 1/32")
    assert(tail(5, 0, 500) == 1000000L, "t=0 always passes")
    assert(tail(5, 4, 500) == 187500L, "P(X>=4|5,1/2) = 6/32")
    assert(tail(10, 9, 500) == 10742L, "11/1024 floored to micro")
    assert(tail(3, 3, 1000) == 1000000L, "perfect rater always passes")
    assert(tail(3, 1, 0) == 0L, "hopeless rater never passes t>=1")
  }

  test("subset majority: singleton and 2-of-2 panels, hand-computed") {
    import org.apache.spark.sql.functions.expr
    val df = Seq((1L, Seq(900L, 800L, 700L, 0L, 0L, 0L, 0L)))
      .toDF("s_mask", "ps")
    val m1 = df.select(expr(operators.Annotation.subsetMajorityExpr).as("v"))
      .collect()(0).getAs[Long]("v")
    assert(m1 == 900000L, "singleton panel = that rater")
    val m3 = Seq((3L, Seq(900L, 800L, 700L, 0L, 0L, 0L, 0L)))
      .toDF("s_mask", "ps")
      .select(expr(operators.Annotation.subsetMajorityExpr).as("v"))
      .collect()(0).getAs[Long]("v")
    assert(m3 == 720000L, "2-judge panel needs BOTH (strict majority): .9·.8")
  }

  test("qualification designer and panel router invariants") {
    val q = operators.Annotation.q488QualificationDesigner(spark, d).collect()
    assert(q.map(_.getAs[Long]("quiz_n")).toSeq == Seq(5L, 10L))
    q.foreach { r =>
      assert(r.getAs[Long]("spammer_pass_micro") <= 50000L,
        "t_star must bound the spammer at 5%")
      val t = r.getAs[Long]("t_star")
      assert(t >= 0L && t <= r.getAs[Long]("quiz_n"))
    }
    val p = operators.Annotation.q489PanelRouter(spark, d).collect()
    p.foreach { r =>
      assert(r.getAs[Long]("acc_micro") >= r.getAs[Long]("target_micro"),
        "router must meet its target")
      assert(r.getAs[Long]("acc_micro") <= 1000000L)
      assert(r.getAs[Long]("n_judges") >= 1L && r.getAs[Long]("n_judges") <= 7L)
    }
  }

  test("logistic table is exactly antisymmetric and monotone") {
    import org.apache.spark.sql.functions.expr
    val grid = Seq(-3500000L, -2500000L, -1700000L, -1200000L, -700000L,
      -200000L, 0L, 200000L, 700000L, 1200000L, 1700000L, 2500000L, 3500000L)
    val df = grid.map(Tuple1(_)).toDF("z")
    val ps = df.select($"z",
        expr(operators.Annotation.logisticMilli("z")).cast("long").as("p"),
        expr(operators.Annotation.logisticMilli("-z")).cast("long").as("pneg"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    ps.foreach { case (z, p, pn) =>
      assert(p + pn == 1000L, s"p($z) + p(-$z) must be 1000, got $p + $pn") }
    val sorted = ps.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
      "table must be monotone in the logit difference")
  }

  test("Rasch PROX: difficulty is anti-monotone in pass count; outfit sane") {
    val rows = operators.Annotation.q490RaschProx(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    val bySi = rows.map(r =>
      (r.getAs[Long]("si"), r.getAs[Long]("difficulty_micro"))).sortBy(_._1)
    bySi.zip(bySi.tail).foreach { case ((s1, d1), (s2, d2)) =>
      if (s1 < s2) assert(d1 >= d2,
        s"more passes must not be HARDER: si $s1->$s2 but d $d1->$d2") }
    // expansion preserves sign and only widens centered logits
    rows.foreach { r =>
      val (c, e) = (r.getAs[Long]("d_centered"), r.getAs[Long]("difficulty_micro"))
      assert(c == 0 && math.abs(e) <= 1 || c.sign == e.sign || e == 0 ||
        math.abs(e - c) <= math.abs(c) / 2 + 1)
      assert(math.abs(e) >= math.abs(c) - 1, "PROX expansion factor >= 1")
    }
    val fit = operators.Annotation.q491RaschOutfit(spark, d).collect()
    assert(fit.nonEmpty && fit.length <= 25)
    fit.foreach { r =>
      val o = r.getAs[Long]("outfit_milli")
      assert(o >= 0L, "mean squares are non-negative")
      val v = r.getAs[String]("verdict")
      assert(v == (if (o > 1500) "noisy" else if (o < 500) "overfit" else "fit"))
    }
  }

  test("relabel router: margins bounded by panel, shares partition the corpus") {
    val rows = operators.Annotation.q492RelabelRouter(spark, d).collect()
    assert(rows.nonEmpty)
    var items = 0L
    rows.foreach { r =>
      val (n, m) = (r.getAs[Long]("n_raters"), r.getAs[Long]("margin"))
      assert(n >= 1L && n <= 7L, "panel bounded by the rater pool")
      assert(m >= 0L && m <= n, s"margin $m cannot exceed panel $n")
      val v = r.getAs[String]("verdict")
      assert(v == (if (m <= 1) "relabel"
        else if (2 * m <= n) "audit" else "accept"))
      items += r.getAs[Long]("n_items")
    }
    // every voted item lands in exactly one cell
    val voted = operators.Annotation.q480DawidSkene(spark, d)
      .agg(org.apache.spark.sql.functions.sum("n_judgments")).head().getLong(0)
    assert(items > 0L && items <= voted, "cells partition the item set")
  }

  test("agreement drift: MoM deltas reconcile with the kappa series") {
    val rows = operators.Annotation.q493AgreementDrift(spark, d).collect()
    assert(rows.nonEmpty)
    val ms = rows.map(_.getAs[Number]("m").longValue)
    assert(ms.sameElements(ms.sorted), "months must be ordered")
    var prev: Option[Long] = None
    rows.foreach { r =>
      val k = if (r.isNullAt(r.fieldIndex("kappa_bp"))) None
        else Some(r.getAs[Long]("kappa_bp"))
      k.foreach(v => assert(v <= 10000L && v >= -10000L))
      val delta = if (r.isNullAt(r.fieldIndex("mom_delta_bp"))) None
        else Some(r.getAs[Long]("mom_delta_bp"))
      (k, prev, delta) match {
        case (Some(kv), Some(pv), Some(dv)) =>
          assert(dv == kv - pv, s"delta $dv != $kv - $pv")
        case (_, _, Some(_)) =>
          fail("delta must be NULL when either endpoint is NULL")
        case _ => ()
      }
      prev = k
    }
  }

  test("split-conformal coverage lands near the 90% guarantee") {
    val rows = operators.Annotation.q483ConformalCoverage(spark, d).collect()
    assert(rows.length == 5, "one row per market segment")
    rows.foreach { r =>
      val cov = r.getAs[Long]("coverage_milli")
      // conformal guarantees E[coverage] ≥ 0.9; finite per-segment
      // samples at sf0.001 put a loose band around it
      assert(cov >= 800L && cov <= 1000L, s"coverage $cov outside [800, 1000]")
      assert(r.getAs[Long]("qhat_bucket") >= 0L)
      assert(r.getAs[Long]("n_cal") > 0L && r.getAs[Long]("n_test") > 0L)
    }
  }

  /** A fresh dataset dir holding sf0.001's lineitem, so the session's
    * judgment and soft-EM caches (keyed on the dir) start empty here. */
  private def lineitemCopy(): String = {
    val dir = java.nio.file.Files.createTempDirectory("jud-once")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$d/lineitem.parquet"),
      dir.resolve("lineitem.parquet"))
    dir.toString
  }

  /** Row counts of the RDDs this context holds persisted whose ids are
    * above `after` (RDD ids only grow). */
  private def persistedRowsAfter(after: Int): Seq[Long] =
    spark.sparkContext.getPersistentRDDs.toSeq.collect {
      case (id, rdd) if id > after => rdd.count()
    }

  private def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id

  test("q494 holds one persisted copy of the shared judgments") {
    val dir = lineitemCopy()
    val nJud = operators.Annotation.judgments(spark, dir).count()
    val mark = nextRddId()
    assert(operators.Annotation.q494DawidSkeneSoftConfusion(spark, dir).collect().nonEmpty)
    // the shared judgments and nothing else: the memo is the model only
    val rows = persistedRowsAfter(mark)
    assert(rows == Seq(nJud), s"persisted RDDs after q494 (row counts): $rows; judgments: $nJud")
  }

  /** The plans `body` executes and the jobs it starts, both drained
    * through the listener bus (`PlanAudit.flush`). */
  private def executedDuring(body: => Unit)
      : (Seq[org.apache.spark.sql.execution.SparkPlan], Int) = {
    PlanAudit.flush(spark)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = plans.add(qe.executedPlan)
    }
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    try { body; PlanAudit.flush(spark) }
    finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
    (plans.asScala.toSeq, jobs.get)
  }

  test("q494's first call: hash aggregates only, no lambda per row, a pinned job budget") {
    val dir = lineitemCopy()
    val (plans, jobs) = executedDuring(
      assert(operators.Annotation.q494DawidSkeneSoftConfusion(spark, dir).collect().nonEmpty))
    val nodes = plans.flatMap(allPlanNodes)
    assert(nodes.nonEmpty, "no executed plan was seen")
    val sortAggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a.simpleString(200)
    }
    assert(sortAggs.isEmpty, s"SortAggregate in the fit: $sortAggs")
    // the judgments and both fit passes are data-sized; a higher-order
    // function there runs an interpreted lambda per element
    val hofs = nodes.flatMap(_.expressions.flatMap(_.collect {
      case h: org.apache.spark.sql.catalyst.expressions.HigherOrderFunction => h.prettyName
    }))
    assert(hofs.isEmpty, s"higher-order functions in the fit: $hofs")
    assert(jobs == FitJobs, s"q494's first call ran $jobs jobs")
  }

  test("q480 on the shared judgments persists no second copy of them") {
    val dir = lineitemCopy()
    val nJud = operators.Annotation.judgments(spark, dir).count()
    // the first run builds the session's shared judgment checkpoint
    assert(operators.Annotation.q480DawidSkene(spark, dir).collect().length == 7)
    val mark = nextRddId()
    val again = operators.Annotation.q480DawidSkene(spark, dir)
    assert(again.collect().length == 7)
    val rows = persistedRowsAfter(mark)
    assert(!rows.contains(nJud), s"q480 persisted a judgments-sized RDD: $rows")
    // `again` (and any checkpoint its plan holds) stays reachable to here
    assert(again.columns.nonEmpty)
  }
}
