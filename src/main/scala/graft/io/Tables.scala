package graft.io

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated testdata tables (TESTDATA.md /
  * FIXTURES.md §A). One parquet file per table under `$dir/`.
  *
  * All engine queries read through here so that scan-level concerns
  * (column pruning, predicate pushdown) stay visible in one place: we
  * hand Spark the bare parquet scan and let Catalyst prune/push —
  * never pre-`.cache()` or pre-`.collect()` at the source.
  *
  * The SCHEMA is cached, the data never is. A parquet read without a
  * schema runs a one-task job to read the footer; the engine's ~560
  * `Tables.*` call sites read ten files, so that job was a fixed charge
  * on almost every query. The first read of a file in a session infers
  * its schema and keeps it; every later read of the same unchanged file
  * under the same parquet confs declares it. Every read still lists the
  * file, plans it and scans it.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    readPath(spark, s"$dir/$name.parquet")

  /** A parquet read of `path` (a file, a directory of part files or a
    * glob), with the session's cached schema declared when it has one. */
  private[graft] def readPath(spark: SparkSession, path: String): DataFrame = {
    schemas.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
    val key = (spark, schemaKey(spark, path))
    schemas.get(key) match {
      case Some(st) => spark.read.schema(st).parquet(path)
      case None =>
        // only a successful inference is kept: a failing one (a
        // TIMESTAMP(NANOS) file without the legacy conf) throws here
        val df = spark.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  /** What decides an inferred schema: the leaf files (path, length,
    * modification time) and the session's parquet inference confs. A
    * rewritten file or a changed conf is a new key, so it is inferred
    * again. */
  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  /** Session-scoped, like Annotation's caches: entries live exactly as
    * long as the session, and a stopped session's are dropped on the
    * next read. */
  private val schemas = TrieMap.empty[(SparkSession, SchemaKey), StructType]

  private def schemaKey(spark: SparkSession, path: String): SchemaKey = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[(String, Long, Long)]
    // `path` may be a glob (the streaming readers' `dir/*`); a path that
    // matches nothing keys on no files and Spark's read reports it
    Option(fs.globStatus(p)).toSeq.flatten.foreach { st =>
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    SchemaKey(path, files.result().sorted, confs)
  }

  /** Number of cached schemas held for `spark` (specs). */
  private[graft] def cachedSchemas(spark: SparkSession): Int =
    schemas.keys.count(_._1 eq spark)

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
