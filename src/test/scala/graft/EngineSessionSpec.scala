package graft

/** The test session is the engine session: `SparkSpec` builds through
  * `Bench.session`, so the context's SparkConf holds the engine's conf
  * table, and the live session departs from it only in the declared
  * `SparkSpec.deltas`. */
class EngineSessionSpec extends SparkSpec {

  test("the test session carries the engine conf except the declared deltas") {
    val engine = spark.sparkContext.getConf.getAll.toMap
    // built by the factory, not by a hand-written test builder
    assert(engine.get("spark.sql.codegen.cache.maxEntries").contains("4096"))
    assert(engine.get(graft.plans.ScaleGuard.EnabledKey).contains("true"))
    assert(engine.get("spark.sql.extensions")
      .contains("graft.functions.GraftExtensions"))
    val deltas = SparkSpec.deltas.toMap
    deltas.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    val shared = engine.filter { case (k, _) =>
      (k.startsWith("spark.sql.") || k.startsWith("spark.graft.") ||
        k == "spark.ui.enabled") && !deltas.contains(k)
    }
    assert(shared.size >= 5, shared)
    shared.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
