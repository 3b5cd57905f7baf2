package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL exposure of the engine's custom Catalyst expressions, both as a
  * [[SparkSessionExtensions]] injector
  * (`.withExtensions(new GraftExtensions)` /
  * `spark.sql.extensions=graft.functions.GraftExtensions`) and as a
  * direct registry call for an already-built session. `spark.sql`
  * users get `dot_q(a, b)` and `shingle_hashes(text, width, nibbles)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // scale discipline at plan time (gated on spark.graft.scaleGuard
    // .enabled): refuse cartesian-class joins with two data-sized
    // sides. Two hooks cover both planner modes — the query-stage-prep
    // rule fires only inside AdaptiveSparkPlanExec (AQE on, the
    // default); the pre-columnar-transition rule fires in the classic
    // preparations chain when AQE is disabled (VERDICT r9 ADVICE #2)
    e.injectQueryStagePrepRule(s => graft.plans.ScaleGuardRule(s))
    e.injectColumnar(s => graft.plans.ScaleGuardColumnarRule(s))
    // small result sorts run in one partition instead of sampling range
    // bounds with a job of their own; same two hooks, same two modes
    e.injectQueryStagePrepRule(s => graft.plans.ResultSortRule(s))
    e.injectColumnar(s => graft.plans.ResultSortColumnarRule(s))
  }
}

object GraftExtensions {
  private def info(clazz: Class[_], name: String) =
    new ExpressionInfo(clazz.getName, name)

  private def intLit(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  val definitions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_q"), info(classOf[DotQ], "dot_q"),
      (es: Seq[Expression]) => DotQ(es(0), es(1))),
    (FunctionIdentifier("shingle_hashes"),
      info(classOf[ShingleHashes], "shingle_hashes"),
      (es: Seq[Expression]) =>
        ShingleHashes(es(0), intLit(es(1)), intLit(es(2)))),
    (FunctionIdentifier("md5_prefix"),
      info(classOf[HashPrefix], "md5_prefix"),
      (es: Seq[Expression]) => HashPrefix(es(0), intLit(es(1)))),
  )

  /** Register on an existing session (temp functions). */
  def register(spark: SparkSession): Unit =
    definitions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}
