package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated testdata tables (TESTDATA.md /
  * FIXTURES.md §A). One parquet file per table under `$dir/`.
  *
  * All engine queries read through here so that scan-level concerns
  * (column pruning, predicate pushdown) stay visible in one place: we
  * hand Spark the bare parquet scan and let Catalyst prune/push —
  * never pre-`.cache()` or pre-`.collect()` at the source.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** The events table's `ts` encoding has varied across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses
    * without the legacy nanos-as-long conf) and plain TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ under default inference). Normalize both to
    * a session-zone TimestampType column — every downstream query (and
    * the UTC-pinned Verify/Bench sessions) sees identical micros either
    * way. Oracle parity: DuckDB reads the same file natively; outputs
    * derived from `ts` compare at microsecond-or-coarser granularity. */
  def events(s: SparkSession, d: String): DataFrame =
    eventsTs(nanosChecked(s"$d/events.parquet")(read(s, d, "events")))

  /** Runs `read` of the events parquet at `path`. No hidden session
    * mutation here: the nanos-generation legacy conf is the session
    * factory's job (`Bench.session`, which Verify, ExplainDump and the
    * test sessions build through). If a session built elsewhere meets a
    * nanos-generation file, surface the one-line fix instead of Spark's
    * opaque "Illegal Parquet type". */
  private[graft] def nanosChecked[T](path: String)(read: => T): T =
    try read
    catch {
      case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
        throw new IllegalStateException(
          s"$path carries TIMESTAMP(NANOS); set " +
            "spark.sql.legacy.parquet.nanosAsLong=true in the " +
            "SparkSession builder (as graft.Bench.session does)", e)
    }

  /** Normalizes a raw events relation's `ts` (batch or streaming) to a
    * session-zone TimestampType column, by the type it was read as. */
  private[graft] def eventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      // nanos generation: integer division (ns values exceed 2^53,
      // double `/` mis-truncates), then micros → timestamp
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // micros generation: NTZ (or already-LTZ) → session-zone timestamp;
      // under the UTC sessions this is a pure re-tag of the same micros
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
