package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Dev utility: dump formatted physical plans of queries to files,
  * planned in Bench's session (`Bench.session`), so the dump is the
  * plan Bench times.
  * Usage: runMain graft.ExplainDump <outDir> <suffix> <name> [<name>...]
  * (set SPARK_GRAFT_SF_DIR to override the sf0.001 default data dir).
  * Writes <outDir>/<name>_<suffix>.txt for each query; exits nonzero
  * if any query failed to explain (ADVICE r14: no silent ERROR dumps).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    var failed = List.empty[String]
    args.drop(2).foreach { name =>
      val plan =
        try SparkEntry.queries(name)(spark, dataDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable =>
          failed ::= name
          s"ERROR dumping $name: ${e.getMessage}"
        }
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      println(s"[explaindump] wrote ${name}_$suffix.txt")
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[explaindump] ${failed.size} query(ies) FAILED to explain: " +
          failed.reverse.mkString(", "))
      sys.exit(1)
    }
  }
}
