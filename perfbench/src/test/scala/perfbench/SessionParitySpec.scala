package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark must time the engine as `graft.Bench` runs it: its
  * session carries every `.config(key, value)` that Bench sets, with the
  * same value, and adds only the declared local keys. */
class SessionParitySpec extends AnyFunSuite {
  private val benchSource =
    new String(Files.readAllBytes(Paths.get("../src/main/scala/graft/Bench.scala")), "UTF-8")

  /** `.config(k, v)` pairs of Bench's session, with the two symbolic
    * arguments it uses resolved: the ScaleGuard key and the shuffle
    * partitions read from the environment with a default. */
  private def benchConfFromSource: Map[String, String] = {
    val lit = "\"([^\"]*)\""
    val partitions = ("getOrElse\\(\"SPARK_GRAFT_SHUFFLE_PARTITIONS\", " + lit + "\\)").r
      .findFirstMatchIn(benchSource).map(_.group(1)).getOrElse(fail("no partitions default"))
    val call = """\.config\(\s*([^,]+?)\s*,\s*([^)]+?)\s*\)""".r
    call.findAllMatchIn(benchSource).map { m =>
      def resolve(arg: String): String = arg match {
        case s if s.startsWith("\"") => s.stripPrefix("\"").stripSuffix("\"")
        case "graft.plans.ScaleGuard.EnabledKey" => graft.plans.ScaleGuard.EnabledKey
        case "shufflePartitions" => partitions
        case other => fail(s"unresolved Bench config argument: $other")
      }
      resolve(m.group(1)) -> resolve(m.group(2))
    }.toMap
  }

  test("the conf table equals graft.Bench's") {
    val fromSource = benchConfFromSource
    assert(fromSource.size == BenchSession.benchConf.size, fromSource)
    assert(BenchSession.benchConf.toMap == fromSource)
  }

  test("the benchmark adds only its declared local keys") {
    val local = BenchSession.localConf("w").map(_._1).toSet
    assert(local == Set("spark.local.dir", "spark.sql.warehouse.dir"))
    assert(local.intersect(BenchSession.benchConf.map(_._1).toSet).isEmpty)
  }

  test("a built session carries the table") {
    val work = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "parity").toString
    val spark = BenchSession.build(2, work)
    try BenchSession.benchConf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    } finally spark.stop()
  }
}
