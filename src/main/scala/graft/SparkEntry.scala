package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One operator module's share of the driver contract: its queries,
  * their DuckDB oracle twins, and optional value-sanity hooks. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
  def sanities: Map[String, Seq[Sanity.Hook]] = Map.empty
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are assembled from the per-domain operator
  * modules; every SQL-expressible operator has an oracle twin with
  * IDENTICAL output column names (the driver sorts columns by name and
  * hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * snowflake join (broadcast dims) + segment revenue rollup. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q03SegmentRevenue(spark, "/root/testdata/sf0.001")

  /** The one registry list: every operator module, by name. */
  lazy val modules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> operators.Relational,
    "Scalars" -> operators.Scalars,
    "Windows" -> operators.Windows,
    "TextAnalysis" -> operators.TextAnalysis,
    "Dedup" -> operators.Dedup,
    "Similarity" -> operators.Similarity,
    "Parity" -> operators.Parity,
    "Multimodal" -> operators.Multimodal,
    "Stats" -> operators.Stats,
    "RangeJoin" -> operators.RangeJoin,
    "Reshape" -> operators.Reshape,
    "Corpus" -> operators.Corpus,
    "Curation" -> operators.Curation,
    "Graph" -> operators.Graph,
    "Prep" -> operators.Prep,
    "Retrieval" -> operators.Retrieval,
    "Quality" -> operators.Quality,
    "Behavior" -> operators.Behavior,
    "Lexicon" -> operators.Lexicon,
    "Capacity" -> operators.Capacity,
    "Privacy" -> operators.Privacy,
    "Eval" -> operators.Eval,
    "Annotation" -> operators.Annotation,
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_._2.queries).toMap

  /** Operator module → its query names, for the bench's per-module
    * JVM warm-up (one untimed query per module primes that module's
    * codegen/classloading so it isn't charged to whichever of its
    * queries the shuffled timing order reaches first). */
  lazy val queryModules: Map[String, Seq[String]] =
    modules.map { case (name, m) => name -> m.queries.keys.toSeq }.toMap

  /** Optional per-query value-sanity hooks (VERDICT r11 ask #7): range
    * and magnitude invariants `Verify` asserts on the written parquet —
    * the check the hash compare cannot do (shared-algebra bugs match on
    * garbage). */
  lazy val sanities: Map[String, Seq[Sanity.Hook]] =
    SanityHooks.hooks ++ modules.flatMap(_._2.sanities)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    modules.flatMap(_._2.oracles).toMap
}
