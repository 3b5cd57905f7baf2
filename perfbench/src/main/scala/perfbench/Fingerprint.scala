package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output fingerprint of a query result: its row count plus an
  * order-independent hash, the sum of one xxhash64 per row over the
  * columns sorted by name. Map columns are hashed through `to_json`,
  * since Spark refuses to hash maps directly. */
object Fingerprint {
  final case class Value(rows: Long, hash: String)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def aggregates(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    Seq(count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("hash"))
  }

  private def value(rows: Any, hash: Any): Value =
    Value(rows.asInstanceOf[Long], Option(hash).map(_.toString).getOrElse("0"))

  /** Attach the fingerprint to `df` as observed metrics, so the action
    * that runs `df` computes it in the same pass. The returned function
    * blocks until the action has reported them. */
  def observe(df: DataFrame, name: String): (DataFrame, () => Value) = {
    val obs = Observation(name)
    val aggs = aggregates(df)
    (df.observe(obs, aggs.head, aggs.tail: _*),
      () => { val m = obs.get; value(m("rows"), m("hash")) })
  }

  /** Fingerprint `df` with an aggregate of its own. */
  def of(df: DataFrame): Value = {
    val r: Row = df.select(aggregates(df): _*).head()
    value(r.get(0), r.get(1))
  }
}
