package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Value-sanity hooks for the Verify surface (VERDICT r11 ask #7).
  *
  * The oracle hash-compare proves ENGINE EQUALITY only: when both the
  * Spark query and its DuckDB twin embed the same wrong algebra, they
  * match on garbage (q489's first cut inflated acc_micro 1000× in BOTH
  * engines and passed; q490 nearly shipped the same way). The recipe
  * "print the parquet once and sanity-check magnitudes" lived only in
  * skill text — these hooks make it mechanical: per-query assertions on
  * declared columns (ranges, group sums, non-emptiness) that `Verify`
  * runs on the WRITTEN parquet at every scale it dumps. A violation
  * fails the run like a scale violation does.
  *
  * Hooks must be cheap (one aggregate over an already-small result) and
  * scale-free (assert invariants — a kappa is in [−1, 1] at any SF —
  * never row counts tied to one scale factor). */
object Sanity {

  /** A named check over a query's result. `check` returns Some(msg) on
    * violation. */
  final case class Hook(name: String, check: DataFrame => Option[String])

  /** A query's value-sanity contract (VERDICT r12 ask #2): either hooks
    * or no bound with the reason why. Every query's registry record
    * carries exactly one, so the registry is total by construction.
    *
    * Why: the oracle hash-compare proves ENGINE EQUALITY only — when the
    * Spark query and its DuckDB twin transcribe the same wrong algebra
    * they match on garbage (q489's 1000× acc_micro slip passed the hash
    * in both engines). Hooks assert the SEMANTIC contract of each
    * reported statistic on the parquet Verify writes, at every SF it
    * dumps, and exit the run on violation.
    *
    * What is asserted: only bounds that follow from the statistic's
    * definition — shares/rates/probabilities/coverages in [0, scale],
    * correlation-class coefficients (κ, ρ, τ-b, ACF, assortativity,
    * gini-from-AUC, burstiness, ICC, cosines, modularity) in
    * [−scale, scale], probability differences (uplift, vote lift) in
    * [−scale, scale]. Unbounded statistics that SHARE a row with these
    * (KL, PMI, PSI, odds ratios, lifts, fitted slopes, design effects,
    * relative errors, speedups) are deliberately NOT asserted — ADVICE
    * r12's lesson is that a data-dependent bound makes Verify fail on
    * correct output. Every bound was additionally validated against the
    * observed min/max at sf0.01 and sf0.001.
    *
    * The suffix IS the scale contract: `_bp` 10⁴, `_milli` 10³ (and
    * `_permille` for shares), `_micro`/`_ppm` 10⁶. `SanitySeedSpec`
    * proves the q489 bug class is caught outside the annotation family:
    * a mirrored 1000× scale slip in a Stats-family statistic trips its
    * hook at sf0.001. */
  sealed trait Contract

  /** The query's result must pass every hook. */
  final case class Hooks(hooks: Hook*) extends Contract

  /** No scale-free bound exists (VERDICT r13 ask #5) — "why is there no
    * bound here?" answered once, permanently, per query. Two classes:
    * unbounded statistics (entropy/KL/PMI/surprisal/chi²/z/t, fitted
    * slopes, ratios unbounded above, money-scale quantities) where any
    * cap would be the data-dependent-bound trap ADVICE r12 named, and
    * structural outputs (counts, keys, ids, money totals) where the
    * oracle hash + row compare is the entire contract ([[Structural]]). */
  final case class NoBound(reason: String) extends Contract

  /** The reason shared by every structural output. */
  val Structural =
    "structural: counts/keys/ids/money totals - oracle hash + row compare is the check"

  /** Every non-null value of `col` — a column name OR an expression
    * string like "games - wins" — must lie in [lo, hi]. A column that
    * fails to resolve surfaces as a violation via [[run]]'s wrapper. */
  def range(col: String, lo: Long, hi: Long): Hook =
    Hook(s"range($col in [$lo,$hi])", df => {
      val r = df.agg(min(expr(col)).cast("double").as("mn"),
        max(expr(col)).cast("double").as("mx")).collect()(0)
      if (r.isNullAt(0)) None // all-null or empty: nonEmpty guards that
      else {
        val (mn, mx) = (r.getDouble(0), r.getDouble(1))
        if (mn < lo || mx > hi)
          Some(s"$col out of [$lo,$hi]: observed [$mn,$mx]")
        else None
      }
    })

  /** The result must have at least one row (a 0-row result still
    * hash-"passes" the oracle compare — verify-skill gotcha). */
  val nonEmpty: Hook =
    Hook("nonEmpty", df => if (df.isEmpty) Some("result is empty") else None)

  /** One-sided floor: every non-null value of `col` must be ≥ `lo`.
    * For definitional floors whose statistic is UNBOUNDED ABOVE
    * (q-errors ≥ 1, skew ratios ≥ 1, regrets ≥ 0, growth ≥ −100%) —
    * a two-sided [[range]] there would need a made-up cap, which is
    * exactly the data-dependent-bound trap ADVICE r12 warned about. */
  def atLeast(col: String, lo: Long): Hook =
    Hook(s"atLeast($col >= $lo)", df => {
      val r = df.agg(min(expr(col)).cast("double").as("mn")).collect()(0)
      if (r.isNullAt(0)) None
      else if (r.getDouble(0) < lo)
        Some(s"$col below $lo: observed min ${r.getDouble(0)}")
      else None
    })

  /** sum(`valueCol`) grouped by `keys` must lie in [lo, hi] for every
    * group — e.g. a partition of probability mass: milli θ rows per
    * (rater, true_label) must sum to ~1000. */
  def groupSum(keys: Seq[String], valueCol: String, lo: Long, hi: Long): Hook =
    Hook(s"groupSum($valueCol by ${keys.mkString(",")} in [$lo,$hi])", df => {
      val missing = (keys :+ valueCol).filterNot(df.columns.contains)
      if (missing.nonEmpty) Some(s"columns missing: ${missing.mkString(",")}")
      else {
        val bad = df.groupBy(keys.map(col): _*)
          .agg(sum(expr(valueCol)).cast("double").as("s"))
          .filter(col("s") < lo || col("s") > hi)
          .limit(1).collect()
        bad.headOption.map(r => s"group ${r.toSeq.init.mkString("/")} sums to ${r.getAs[Double]("s")}, outside [$lo,$hi]")
      }
    })

  /** Run a query's hooks; returns violation messages ("" when clean). */
  def run(query: String, df: DataFrame, hooks: Seq[Hook]): Seq[String] =
    hooks.flatMap { h =>
      try h.check(df).map(m => s"$query ${h.name}: $m")
      catch { case scala.util.control.NonFatal(e) =>
        Some(s"$query ${h.name}: hook itself failed: ${e.getMessage}")
      }
    }
}
