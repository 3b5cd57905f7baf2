package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical checkpoint-estate lock (VERDICT r12 ask #3).
  *
  * The measured rule (PLANS.md r11/r12): inside a single action, a
  * PURE-AGGREGATE subtree consumed more than once is deduped by
  * ReuseExchange, so a `localCheckpoint` there only ADDS a serial job
  * (q478 −30% by removing one; the r12 sweep dropped five more). A
  * checkpoint is justified only when a fan-out sits behind a WINDOW or
  * LIMIT (not exchange-reusable: q480 +50% without), spans ACTIONS
  * (loop state, per-round materialization), pins nondeterministic
  * partition-id assignment, or carries a measured keep (q142 +79%
  * without).
  *
  * Nothing structural stops a new same-action pure-Aggregate
  * checkpoint from landing, so this spec freezes the per-file site
  * counts: ANY new (or removed) `.localCheckpoint()` fails the build
  * until the author has applied the rule — A/B the site with
  * the perfbench harness (`--queries <name> --mode noop --trace 1`) or
  * classify it against the PLANS.md taxonomy — and
  * updated the table below in the same commit. The lock is on counts,
  * not line numbers, so refactors inside a file stay free; moving a
  * site across files shows up as two deliberate edits. */
class CheckpointLintSpec extends AnyFunSuite {

  /** Frozen estate, r13. Every entry was either A/B-measured or
    * classified under the PLANS.md r12 taxonomy (fan-out behind
    * window/limit, cross-action loop state, partition-id pin,
    * measured keep). */
  private val frozen: Map[String, Int] = Map(
    // r13: three per-query judgment checkpoints collapsed into the one
    // session-scoped judgmentsShared cache site (cross-action reuse —
    // the strongest keep class). dawidSkene's and dsSoftTheta2's
    // re-checkpoints of their input became the one checkpointOnce site that
    // skips an input already checkpointed (the shared judgments), so
    // the session holds one copy of them: 14 -> 12. The soft-EM fit
    // (q494–q496) keeps a driver-side model instead of its checkpointed
    // vote, posterior and soft-cell intermediates: 12 -> 9
    "operators/Annotation.scala" -> 9,
    "operators/Behavior.scala" -> 5,
    "operators/Capacity.scala" -> 2,
    "operators/Corpus.scala" -> 13,
    "operators/Curation.scala" -> 10,
    "operators/Dedup.scala" -> 21,
    "operators/Eval.scala" -> 3,
    "operators/Graph.scala" -> 17,
    "operators/Lexicon.scala" -> 8,
    "operators/Prep.scala" -> 4,
    "operators/Privacy.scala" -> 2,
    // q139/q176/q223/q252's four tf checkpoints are one site in the
    // shared Quality.scoreAndLabel front end
    "operators/Quality.scala" -> 10,
    "operators/RangeJoin.scala" -> 1,
    "operators/Relational.scala" -> 2,
    "operators/Retrieval.scala" -> 6,
    "operators/Similarity.scala" -> 16,
    // r15: q403's segment-table checkpoint removed with the declarative
    // DP itself — the ≤256-cell histogram now collects to the driver
    // (grid-sized pattern) and the 8 DP levels are driver arithmetic
    "operators/Stats.scala" -> 18,
    "operators/TextAnalysis.scala" -> 1,
    "operators/Windows.scala" -> 3,
    "streaming/DocStreams.scala" -> 1,
  )

  /** Dev-only scratch files: never part of the engine or the driver
    * surfaces, deleted at round close. */
  private val exempt = Set("Scratch.scala")

  test("localCheckpoint estate matches the reviewed whitelist (ReuseExchange rule)") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val found = scala.collection.mutable.Map.empty[String, Int]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      val name = p.getFileName.toString
      if (name.endsWith(".scala") && !exempt.contains(name)) {
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        // call sites only — scaladoc/comment mentions of the rule are
        // encouraged, not counted
        val n = """\.localCheckpoint\(""".r.findAllIn(src).size
        if (n > 0) found(root.relativize(p).toString) = n
      }
    }
    val msg = new StringBuilder
    (frozen.keySet ++ found.keySet).toSeq.sorted.foreach { f =>
      val (want, got) = (frozen.getOrElse(f, 0), found.getOrElse(f, 0))
      if (want != got) msg.append(
        s"\n  $f: $got localCheckpoint site(s), whitelist says $want")
    }
    assert(msg.isEmpty,
      "checkpoint estate drifted from the reviewed whitelist:" + msg +
        "\nApply the ReuseExchange rule before updating the table " +
        "(PLANS.md r11/r12): a pure-Aggregate subtree consumed twice " +
        "WITHIN one action is deduped by ReuseExchange — a checkpoint " +
        "there adds a serial job. Keep a checkpoint only for fan-out " +
        "behind a window/limit, cross-action (loop) state, a " +
        "partition-id pin, or a measured keep; A/B new sites with " +
        "the perfbench harness (--queries <name> --mode noop " +
        "--trace 1) and record the verdict in PLANS.md.")
  }
}
