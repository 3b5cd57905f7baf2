package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import org.scalatest.funsuite.AnyFunSuite

/** Per-span job, stage and task counts come from job-tag attribution,
  * with no sleeps, so they repeat exactly: two traced runs of a 3-query
  * mini workload at sf0.001 give identical counts and fingerprints, and
  * every job lands in a span. */
class ExactCountsSpec extends AnyFunSuite {
  private val queries = Seq("q33_fingerprint", "q68_topk_agg", "q393_dedup_threshold_curve")

  private val json = JsonMapper.builder().build()

  /** A record line as field -> value text. */
  private def parse(line: String): Map[String, String] =
    json.readTree(line).properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** One traced run; records by type. */
  private def run(tag: String): Seq[Map[String, String]] = {
    val base = Paths.get("target").toAbsolutePath
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, s"exact-$tag").toString
    val out = s"$work/records.jsonl"
    Harness.run(Harness.Config(dataDir = "data/sf0.001", workDir = work, out = out,
      queries = queries, sink = false, seed = 7, passes = 1, trace = true, cores = 4))
    Files.readAllLines(Paths.get(out)).asScala.toSeq.map(parse)
  }

  /** (query, phase) -> (jobs, stages, tasks, executions) of the traced pass. */
  private def counts(recs: Seq[Map[String, String]]): Map[(String, String), Seq[String]] =
    recs.filter(_("t") == "span").map { s =>
      (s("query"), s("phase")) -> Seq(s("jobs"), s("stages"), s("tasks"), s("executions"))
    }.toMap

  private def fingerprints(recs: Seq[Map[String, String]]): Set[(String, String, String)] =
    recs.filter(_.contains("hash")).map(r => (r("query"), r("rows"), r("hash"))).toSet

  test("counts and fingerprints repeat exactly across runs") {
    val a = run("a")
    val b = run("b")
    assert(counts(a).size == queries.size * 3) // query, build, action spans
    assert(counts(a) == counts(b))
    assert(counts(a).exists { case ((_, phase), c) => phase == "build" && c.head.toInt > 0 })
    assert(fingerprints(a) == fingerprints(b))
    assert(fingerprints(a).size == queries.size)
    for (recs <- Seq(a, b)) {
      val un = recs.find(_("t") == "unattributed").get
      assert(un("jobs") == "0" && un("stages") == "0" && un("tasks") == "0")
      assert(recs.filter(r => r("t") == "warm" || r("t") == "timed")
        .forall(r => !r.contains("error") && r("violations") == "0"))
    }
  }

  test("the trace alone splits a query into build and action jobs") {
    val spans = run("c").filter(_("t") == "span")
    spans.filter(_("phase") == "query").foreach { q =>
      val kids = spans.filter(_("parent") == q("span"))
      assert(kids.map(_("phase")).toSet == Set("build", "action"))
      assert(kids.forall(k => k("query") == q("query")))
    }
    // q393 runs eager jobs while it builds its DataFrame, then its action
    val q393 = spans.filter(_("query") == "q393_dedup_threshold_curve")
      .map(s => s("phase") -> s("jobs").toInt).toMap
    assert(q393("build") > 0 && q393("action") > 0)
  }
}
