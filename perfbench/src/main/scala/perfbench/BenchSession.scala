package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's SparkSession: the conf table of `graft.Bench`, so the
  * benchmark times the engine exactly as it is verified and benched.
  * `SessionParitySpec` pins [[benchConf]] against the `.config(...)`
  * calls in `graft/Bench.scala`; [[localConf]] holds the only keys the
  * benchmark adds, which keep every file it writes inside its work
  * directory. */
object BenchSession {
  /** Every `.config(key, value)` that `graft.Bench` sets. */
  val benchConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    graft.plans.ScaleGuard.EnabledKey -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false",
  )

  /** Keys the benchmark adds on top of [[benchConf]]. */
  def localConf(workDir: String): Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse",
  )

  def build(cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    (benchConf ++ localConf(workDir)).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // the same log settings as graft.Bench
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
