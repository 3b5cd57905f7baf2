package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.functions.Fns._

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH banding, n-gram Jaccard verification,
  * and SimHash with banded blocking. (Embedding-cosine near-dup lives
  * in [[Similarity]].)
  *
  * Scale design (the 100 TB story, per operator):
  *  - Exact dedup: one shuffle on a 60-bit content hash; survivors via
  *    min(doc_id) — the standard first-writer-wins policy.
  *  - MinHash: signatures are computed per-row in a single projection
  *    (transform over a seed array — NO per-seed explode/shuffle), then
  *    the only shuffle is the LSH band-key join, whose fan-in is bounded
  *    by band width. This is the textbook shingle→minhash→band→bucket
  *    join pipeline, with candidate verification kept to bucket-mates.
  *  - n-gram Jaccard: inverted-index self-join on shingle (shuffle on
  *    shingle, the skew-prone key — at scale you'd drop top-frequency
  *    shingles first; here df filtering keeps the pair list exact).
  *  - SimHash: per-bit majority vote via an explode+groupBy (bounded:
  *    60 rows per token), then 4×15-bit banded self-join: pigeonhole
  *    guarantees hamming≤3 pairs share ≥1 band, so blocking is lossless.
  */
object Dedup extends graft.QueryModule {

  /** Exact/near-exact dedup by normalized 5-token-prefix key: groups
    * sharing a key keep min(doc_id) as canonical; emit dup groups. */
  def q40DedupExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val norm = lower(regexp_replace(trim($"text"), "\\s+", " "))
    val prefixKey = concat_ws(" ", slice(tokens(norm), 1, 5))
    Tables.documents(s, d)
      .select($"doc_id", md5(prefixKey).as("dup_key"))
      .groupBy($"dup_key")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_doc"),
        array_join(sort_array(collect_list($"doc_id")), ",").as("members"))
      .filter($"n_docs" > 1)
      .orderBy($"dup_key")
  }

  val q40Oracle: String =
    """WITH k AS (
         SELECT doc_id,
           md5(array_to_string(
             (list_filter(string_split_regex(lower(trim(regexp_replace(text,'\s+',' ','g'))), '\s+'), t -> t <> ''))[1:5],
             ' ')) AS dup_key
         FROM documents)
       SELECT dup_key, count(*) AS n_docs, min(doc_id) AS canonical_doc,
         array_to_string(list_sort(list(doc_id)), ',') AS members
       FROM k GROUP BY dup_key HAVING count(*) > 1 ORDER BY dup_key"""

  /** (doc_id, sig[24]) — the signature half of [[minhashBands]], also
    * the shared input of q248's band-configuration sweep and of the
    * q289/q39 estimator audits. */
  private[graft] def minhashSigs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    minhashSigsOf(Tables.documents(s, d)
      .select($"doc_id",
        explode(graft.functions.TextExprs.shingle_hashes($"text", 3, 7))
          .as("h")))
  }

  /** (doc_id, sig[24]) over a (doc_id, h) relation of 28-bit shingle
    * hashes (one md5 prefix per shingle: the native ShingleHashes pass
    * in [[minhashSigs]], or q95's derived top bits).
    *
    * The 24 "hash functions" are affine permutations (2i+1)·h + i mod p
    * — integer-only, so the signature costs 1 md5 + 24 multiplies per
    * shingle instead of 24 md5s (a 25× hot-path reduction measured at
    * sf0.1: 382 s → seconds) — and all 24 minima are parallel
    * aggregate columns in a single codegen'd groupBy: no 24× row
    * fan-out, no interpreted higher-order lambdas. (Measured at sf0.1:
    * nested-HOF formulation ~400 s, 24×-explode ~22 s, this shape
    * ~3 s.) */
  private def minhashSigsOf(hashes: DataFrame): DataFrame = {
    val nSig = 24
    val p = 2147483647L
    val minCols = (0 until nSig).map(i =>
      min((lit(2L * i + 1) * col("h") + lit(i.toLong)) % p).as(s"m$i"))
    hashes
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until nSig).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (doc_id, sig, b, band_key) for every doc × band — the shared
    * MinHash-LSH front half of q41 (batch self-dedup) and q52
    * (incremental batch-vs-corpus dedup). */
  private[graft] def minhashBands(s: SparkSession, d: String): DataFrame =
    minhashBandsOf(minhashSigs(s, d))

  /** (doc_id, sig, b, band_key) for every doc × band of a signature
    * relation: 8 bands × 3 rows. */
  private def minhashBandsOf(sigs: DataFrame): DataFrame = {
    val bandRows = 3
    val nBands = 24 / bandRows
    sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("b"))
      .select(col("doc_id"), col("sig"), col("b"),
        bandKey(col("sig"), col("b"), lit(bandRows)).as("band_key"))
  }

  /** LSH band key: md5 of band `b`'s `rows` signature values joined by
    * commas. DuckDB twin: `md5(array_to_string(list_transform(
    * sig[b*r+1 : b*r+r], v -> v::VARCHAR), ','))`. */
  private def bandKey(sig: Column, b: Column, rows: Column): Column =
    md5(concat_ws(",", transform(slice(sig, b * rows + 1, rows), _.cast("string"))))

  /** Number of positions at which two signature arrays agree. */
  private def sigAgreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), e => e))

  /** Bucket → member pairs: group `rows` by `bucket`, collect each
    * bucket's `member` structs (doc_id first) sorted, and explode every
    * member pair (m1, m2) with m1.doc_id < m2.doc_id; `keep` columns of
    * the bucket ride along.
    *
    * Bucket-local pair generation instead of a band self-join: the
    * self-join re-computed the whole signature pipeline on both sides
    * (no ReusedExchange across a BroadcastExchange boundary); grouping
    * to buckets and exploding member pairs is one pass, and at scale
    * it's the standard LSH shape anyway (bounded bucket fan-out,
    * bucket-size caps slot in naturally). */
  private def bucketPairs(rows: DataFrame, bucket: Seq[Column], member: Column,
      keep: Seq[Column] = Nil): DataFrame =
    rows
      .groupBy(bucket: _*)
      .agg(array_sort(collect_list(member)).as("members"))
      .filter(size(col("members")) > 1)
      .select(keep ++ Seq(explode(col("members")).as("m1"), col("members")): _*)
      .select(keep ++ Seq(col("m1"), explode(col("members")).as("m2")): _*)
      .filter(col("m1.doc_id") < col("m2.doc_id"))

  /** Distinct LSH candidate pairs (doc1 < doc2) of a banded signature
    * relation, with their signature agreement count — q41's output and
    * q95's minhash branch. */
  private def minhashPairs(bands: DataFrame): DataFrame =
    bucketPairs(bands, Seq(col("b"), col("band_key")), struct(col("doc_id"), col("sig")))
      .select(col("m1.doc_id").as("doc1"), col("m2.doc_id").as("doc2"),
        sigAgreement(col("m1.sig"), col("m2.sig")).as("n_sig_equal"))
      .distinct()

  /** MinHash signature + LSH banding: 24 hashes, 8 bands × 3 rows
    * (catches Jaccard ≳ 0.3 with high probability). Output: candidate
    * pairs with their signature agreement count. */
  def q41MinhashLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    minhashPairs(minhashBands(s, d)).orderBy($"doc1", $"doc2")
  }

  val q41Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       bands AS (
         SELECT doc_id, sig, b,
           md5(array_to_string(list_transform(sig[b*3+1 : b*3+3], v -> v::VARCHAR), ',')) AS band_key
         FROM sig, (SELECT unnest(generate_series(0, 7)) AS b)),
       pairs AS (
         SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
           len(list_filter(list_zip(l.sig, r.sig), p -> p[1] = p[2])) AS n_sig_equal
         FROM bands l JOIN bands r
           ON l.b = r.b AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
       SELECT doc1, doc2, n_sig_equal FROM pairs ORDER BY doc1, doc2"""

  /** Incremental (batch-vs-corpus) MinHash-LSH dedup — the production
    * shape of q41: a small new batch (doc_id % 10 == 0 stands in for
    * "today's crawl") is probed against the existing corpus index, and
    * each new doc reports how many distinct corpus docs share an LSH
    * band with it. At 100 TB the corpus band index is a maintained
    * table bucketed on (b, band_key) and never reshuffles — only the
    * day's batch (orders of magnitude smaller, but still data-sized)
    * moves through the equi-join, which therefore carries NO broadcast
    * hint: AQE broadcasts the batch while it fits the threshold and
    * shuffles batch-sized rows beyond it. Here both sides derive from
    * one `minhashBands` pass so the corpus half of the plan is
    * computed once and reused. */
  def q52IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = minhashBands(s, d)
      .select($"doc_id", $"b", $"band_key")
      .localCheckpoint() // one sig computation feeds both sides
    val newB = bands.filter($"doc_id" % 10 === 0)
    val corpusB = bands.filter($"doc_id" % 10 =!= 0)
    val matches = corpusB.as("o")
      .join(newB.as("n"), $"o.b" === $"n.b" && $"o.band_key" === $"n.band_key")
      .groupBy($"n.doc_id".as("doc_id"))
      .agg(countDistinct($"o.doc_id").as("n_matches"))
    newB.select($"doc_id").distinct()
      .join(matches, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_matches"))
      .select($"doc_id", $"n_matches", ($"n_matches" > 0).as("is_dup"))
      .orderBy($"doc_id")
  }

  val q52Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       bands AS (
         SELECT doc_id, b,
           md5(array_to_string(list_transform(sig[b*3+1 : b*3+3], v -> v::VARCHAR), ',')) AS band_key
         FROM sig, (SELECT unnest(generate_series(0, 7)) AS b)),
       m AS (
         SELECT n.doc_id, CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_matches
         FROM (SELECT * FROM bands WHERE doc_id % 10 = 0) n
         JOIN (SELECT * FROM bands WHERE doc_id % 10 <> 0) o
           ON n.b = o.b AND n.band_key = o.band_key
         GROUP BY 1)
       SELECT d.doc_id AS doc_id, CAST(coalesce(n_matches, 0) AS BIGINT) AS n_matches,
              coalesce(n_matches, 0) > 0 AS is_dup
       FROM (SELECT DISTINCT doc_id FROM bands WHERE doc_id % 10 = 0) d
       LEFT JOIN m ON d.doc_id = m.doc_id
       ORDER BY doc_id"""

  /** n-gram Jaccard near-dup via inverted-index self-join: exact
    * pairwise Jaccard (basis points, integer floor) over distinct
    * 3-gram shingles, thresholded at 0.05. */
  def q42NgramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    jaccardPairs(s, d).orderBy($"doc1", $"doc2")
  }

  /** The q42 pair relation (jaccard_bp >= 500), unordered — shared by
    * q42 and q258's threshold-persistence sweep. */
  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    shingleInter(s, d)
      .withColumn("jaccard_bp",
        floor($"inter" * lit(10000) / ($"n1" + $"n2" - $"inter")).cast("long"))
      .filter($"jaccard_bp" >= 500)
      .select($"doc1", $"doc2", $"inter", $"n1", $"n2", $"jaccard_bp")
  }

  /** (doc1, doc2, inter, n1, n2) for every doc pair sharing a distinct
    * 3-gram shingle: the shared-shingle count and both shingle-set
    * sizes — q42's pair relation before its ≥500 bp cut, and q227's
    * full-range input. */
  private def shingleInter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Invert on the 60-bit shingle hash, not the shingle string (the
    // self-join shuffles fixed-width longs instead of ~30-byte strings)
    // and materialize the hashed base behind a repartition barrier:
    // both join sides and the size dim then hang off one exchange
    // (ReusedExchange) instead of re-scanning + re-shingling 4×.
    val hashed = Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.TextExprs.shingle_hashes($"text", 3, 15).as("shs"))
      .filter(size($"shs") > 0)
      .repartition($"doc_id")
    val sizes = hashed.select($"doc_id", size($"shs").as("n_sh"))
    val inv = hashed.select($"doc_id", explode($"shs").as("sh"))
    shingleOverlap(inv, count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc1"), $"n_sh".as("n1")), "doc1")
      .join(sizes.select($"doc_id".as("doc2"), $"n_sh".as("n2")), "doc2")
  }

  /** The inverted-index self-join over (doc_id, sh) postings `inv`:
    * rows `a`, `b` sharing a shingle with a.doc_id < b.doc_id, and
    * `also` as further join conditions.
    *
    * Self-join kept deliberately: the q41/q44 bucket pattern (groupBy
    * sh + collect_list + pair explode) was measured 20% SLOWER here —
    * this corpus shares shingles densely, so buckets are large and the
    * collect_list arrays serialize through one task each, while the
    * hash join streams its probe side through codegen. On a sparse
    * real-world corpus (mostly singleton shingles) the bucket shape
    * wins by killing singletons pre-join; both quadratic blowups need
    * a bucket-size cap at 100 TB either way. */
  private def sharedShingles(inv: DataFrame, also: Column*): DataFrame =
    inv.as("a").join(inv.as("b"),
      (Seq(col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id")) ++ also)
        .reduce(_ && _))

  /** Shingle pair overlap: [[sharedShingles]] grouped per (doc1, doc2)
    * pair with the aggregate `overlap` over its shared postings. */
  private def shingleOverlap(inv: DataFrame, overlap: Column): DataFrame =
    sharedShingles(inv)
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(overlap)

  val q42Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc1, doc2, inter, sa.n_sh AS n1, sb.n_sh AS n2,
         CAST(floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_bp
       FROM inter
       JOIN nz sa ON doc1 = sa.doc_id
       JOIN nz sb ON doc2 = sb.doc_id
       WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500
       ORDER BY doc1, doc2"""

  /** SimHash (60-bit): per-bit majority vote over token hashes.
    * Bit j of the fingerprint is 1 iff Σ_tokens (bit_j(h)? +1 : −1) > 0.
    * Powers of two come from a 60-row literal dim (exact long
    * arithmetic — no float pow, no shift-by-column limitation). */
  def q43Simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Single-pass custom expression (TextExprs.SimHash60): tokenize →
    // md5 → 60 majority votes → bit-pack per row, so the whole query is
    // scan → project → sort with NO shuffle. The earlier declarative
    // form (explode token hashes + 60 vote aggregates in a groupBy)
    // shuffled |tokens| rows per doc and was ~4× slower at sf0.1.
    // Token-less docs yield null (they drop out of the explode
    // formulation too) and are left out to keep parity with the
    // oracle — by a token-presence test on the text, which is null
    // exactly when the kernel is. A filter on the kernel's result is
    // pushed below the projection as isnotnull(simhash60(text)), so
    // every stage reading it ran the kernel twice per document.
    Tables.documents(s, d)
      .filter($"text".rlike("\\S"))
      .select($"doc_id",
        graft.functions.TextExprs.simhash60($"text").as("simhash"))
      .orderBy($"doc_id")
  }

  val q43Oracle: String =
    """WITH toks AS (
         SELECT doc_id,
           ('0x' || substr(md5(unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> ''))), 1, 15))::BIGINT AS h
         FROM documents),
       votes AS (
         SELECT doc_id, j, (1::BIGINT << j) AS p,
           sum(CASE WHEN (h // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         FROM toks, (SELECT unnest(generate_series(0, 59)) AS j)
         GROUP BY doc_id, j)
       SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
       FROM votes GROUP BY doc_id ORDER BY doc_id"""

  /** Un-ordered simhash near-dup pairs (doc1 < doc2, hamming ≤ 3) —
    * shared by q44 (which just orders them) and q71 (which treats them
    * as the edge set for cluster extraction). */
  private[operators] def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsFrom(s, q43Simhash(s, d))

  /** Same banded-blocking pair generation over an already-computed
    * (doc_id, simhash) frame — lets q95 derive the simhash branch from
    * its single materialized corpus scan instead of re-reading parquet. */
  private[operators] def simhashPairsFrom(s: SparkSession, sims: DataFrame): DataFrame = {
    import s.implicits._
    val chunks = s.createDataFrame(
      (0 until 4).map(c => (c, 1L << (15 * c)))).toDF("c", "pc")
    val banded = sims.crossJoin(broadcast(chunks))
      .select($"doc_id", $"simhash", $"c",
        expr("(simhash div pc) % 32768").as("chunk_val"))
    bucketPairs(banded, Seq($"c", $"chunk_val"), struct($"doc_id", $"simhash"))
      .select($"m1.doc_id".as("doc1"), $"m2.doc_id".as("doc2"),
        bit_count($"m1.simhash".bitwiseXOR($"m2.simhash")).as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
  }

  /** SimHash near-dup pairs via 4×15-bit banded blocking + hamming
    * verification (≤ 3 bits). Pigeonhole: hamming ≤ 3 over 4 bands ⇒
    * at least one band identical, so the block join is lossless. */
  def q44SimhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    simhashPairs(s, d).orderBy($"doc1", $"doc2")
  }

  /** Shared WITH-clause chain for the simhash pair pipeline (the SQL
    * twin of [[simhashPairs]]): toks → votes → sims → banded → prs.
    * `prs` carries (doc1, doc2, s1, s2) for doc1 < doc2 band-mates. */
  private val simhashPairsWith: String =
    """toks AS (
         SELECT doc_id,
           ('0x' || substr(md5(unnest(list_filter(string_split_regex(text,'\s+'), t -> t <> ''))), 1, 15))::BIGINT AS h
         FROM documents),
       votes AS (
         SELECT doc_id, j, (1::BIGINT << j) AS p,
           sum(CASE WHEN (h // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         FROM toks, (SELECT unnest(generate_series(0, 59)) AS j)
         GROUP BY doc_id, j),
       sims AS (
         SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id),
       banded AS (
         SELECT doc_id, simhash, c,
           (simhash // (1::BIGINT << (15*c))) % 32768 AS chunk_val
         FROM sims, (SELECT unnest(generate_series(0, 3)) AS c)),
       prs AS (
         SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
           l.simhash AS s1, r.simhash AS s2
         FROM banded l JOIN banded r
           ON l.c = r.c AND l.chunk_val = r.chunk_val AND l.doc_id < r.doc_id)"""

  val q44Oracle: String =
    s"""WITH $simhashPairsWith
       SELECT doc1, doc2, bit_count(xor(s1, s2)) AS hamming
       FROM prs WHERE bit_count(xor(s1, s2)) <= 3
       ORDER BY doc1, doc2"""

  /** Near-dup CLUSTER extraction — the step a training pipeline
    * actually needs after pair generation: connected components over
    * the near-dup graph, labeling every involved doc with its
    * component's minimum doc_id (the canonical survivor; "drop every
    * doc where doc_id != cluster_id" is then the dedup policy).
    *
    * Spark-side: iterative min-label propagation WITH pointer jumping
    * (path halving): each round does labels(v) := min over neighbors,
    * then lbl := min(lbl, lbl(lbl)) — the second step halves label-path
    * lengths, so convergence is O(log diameter) rounds instead of
    * O(diameter) (the sf0.1 graph has a diameter-13 chain component:
    * 14 rounds plain vs 5 with jumping; at 100 TB, where a crawl-dup
    * chain can be arbitrarily long, the log bound is the difference
    * between a bounded loop and an unbounded one). `localCheckpoint`
    * after every round truncates lineage (without it the plan doubles
    * per iteration and the job DAG, not the data, becomes the
    * bottleneck). The convergence check is a scalar count per round —
    * the standard driver-side loop of distributed graph processing,
    * not a data collect.
    *
    * Oracle: recursive CTE flooding every label through the edge set,
    * then min per vertex — exponential-state transitive closure that
    * only works at oracle scale, which is exactly why the engine side
    * iterates instead. */
  /** Min-label propagation to a fixpoint over an undirected pair list
    * (doc1, doc2): every vertex ends up labeled with its connected
    * component's minimum id. The iterative core of [[q71DedupClusters]],
    * exposed for direct testing on crafted graphs (chains exercise the
    * multi-round path). */
  def minLabelComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // Size the LOOP's parallelism to the graph, not the corpus: the
    // near-dup edge list is orders of magnitude smaller than the
    // document set that produced it (pair generation is the distributed
    // heavy lift; the component loop runs on its tiny residue). Keeping
    // the corpus-side 32 shuffle partitions here made every round
    // schedule ~3×32 tasks over a few hundred rows — the loop was pure
    // task-launch overhead. One partition per ~64k edges, floor 1; at
    // 100 TB the same formula keeps the loop wide when the graph
    // actually is wide.
    // materialize the pair list ONCE: the sizing count below and the
    // contraction pass both consume it, and without the checkpoint the
    // whole upstream pair-generation pipeline runs twice
    val pairsCk = pairs.localCheckpoint()
    val nEdges = pairsCk.count()
    val nParts = math.max(1, (nEdges / 65536L).toInt)
    // broadcast gate for the loop joins below: every vertex appears in
    // some edge, so the label/candidate/jump relations are ≤ 2·|edges|
    // rows — the measured edge count is a sound bound for all three
    def gate(df: DataFrame): DataFrame =
      graft.plans.ScaleGuard.broadcastIfSmall(df, 2L * nEdges)
    // Tier 1 — LOCAL CONTRACTION: within each partition, run union-find
    // over that partition's edges and replace them with star edges
    // (node → partition-local component minimum). Connectivity is
    // preserved exactly (a star is connectivity-equivalent to the
    // partition's edge set, and a node seen by two partitions bridges
    // their stars), but every intra-partition path collapses to length
    // 1 — the global loop below only has to reconcile CROSS-partition
    // bridges, which takes 1–2 rounds instead of O(log diameter). The
    // union-find's memory is O(nodes per partition), bounded by the
    // 64k-edge partition sizing above — the same per-task-memory
    // contract any 100 TB mapPartitions must honor.
    val sym = pairsCk
      .union(pairsCk.select($"doc2".as("doc1"), $"doc1".as("doc2")))
      .toDF("src", "dst")
      .repartition(nParts, $"src")
    val star = sym.select($"src", $"dst").as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = parent.getOrElse(x, x)
          while (parent.getOrElse(r, r) != r) r = parent(r)
          // path compression
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // union by min: the root IS the local minimum
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
          parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
        }
        // materialize keys before emitting: find() path-compresses (map
        // writes), which must not race the key iteration
        parent.keys.toArray.map(n => (n, find(n))).iterator
      }.toDF("src", "dst")
    // the loop's edge set: symmetrized star edges (self-loops where a
    // node is its own local root are harmless and keep isolated roots
    // present in the vertex set)
    val edges = star
      .union(star.select($"dst".as("src"), $"src".as("dst")))
      .repartition(nParts, $"src")
      .localCheckpoint()
    // jump-started labels: a node's minimum local root across all the
    // partitions that saw it (≤ doc_id and always inside the component,
    // so it is a valid — and much closer — starting label)
    var labels = star.groupBy($"src".as("doc_id"))
      .agg(min($"dst").as("lbl")) // root = local min ⇒ lbl ≤ doc_id
      .repartition(nParts, $"doc_id")
      .localCheckpoint()
    var converged = false
    // COUNT-GATED broadcast hints on the label side of every loop join
    // (`gate` above): labels/cand/jmp are the tiny, shrinking side, and
    // hinting them removes the per-round shuffle exchanges (each AQE
    // shuffle stage is its own scheduled job — the dominant per-round
    // cost on a tiny graph). Only the groupBy's aggregation exchange
    // remains. The gate is what keeps this honest at scale: an explicit
    // hint does NOT fall back on size — Spark honors it to the 8 GB /
    // 512M-row broadcast hard cap and then FAILS the build (VERDICT r9
    // #1 corrected the earlier claim here) — so the hint is applied
    // only when the measured edge count proves the label table small,
    // with the proof stamped into the plan as a no-op limit; past the
    // gate the loop runs plain equi-joins and AQE decides from runtime
    // stats, making the per-round cost data-bound, which is then
    // correct.
    while (!converged) {
      val cand = edges.join(gate(labels), edges("src") === labels("doc_id"))
        .groupBy($"dst").agg(min($"lbl").as("cand"))
      // carry the previous label through the checkpoint so convergence
      // is a local filter-count over materialized rows, not a second
      // join per round (halves the per-round cost)
      val prop = labels.join(gate(cand), labels("doc_id") === cand("dst"), "left")
        .select(labels("doc_id"), $"lbl".as("old"),
          least($"lbl", coalesce($"cand", $"lbl")).as("lbl"))
      // pointer jump: lbl := min(lbl, lbl(lbl)). lbl(v) is always a
      // vertex of v's component (labels only ever flow along edges), so
      // adopting ITS label stays within the component while halving the
      // distance to the minimum. prop is deliberately NOT checkpointed:
      // recomputing it inside the self-join costs one extra tiny join,
      // cheaper than a second materialization job per round.
      val jmp = prop.select($"doc_id".as("j_id"), $"lbl".as("j_lbl"))
      val next = prop.join(gate(jmp), prop("lbl") === jmp("j_id"), "left")
        .select(prop("doc_id"), $"old",
          least(prop("lbl"), coalesce($"j_lbl", prop("lbl"))).as("lbl"))
        .localCheckpoint()
      converged = next.filter($"lbl" =!= $"old").isEmpty
      labels = next.select($"doc_id", $"lbl")
    }
    labels.select($"doc_id", $"lbl".as("cluster_id"))
  }

  def q71DedupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    minLabelComponents(simhashPairs(s, d).select($"doc1", $"doc2"))
      .orderBy($"doc_id")
  }

  /** Incremental connected-components maintenance core: given the OLD
    * graph's labels and the DELTA edge list (every new edge touches at
    * least one previously-unlabeled vertex or bridges old components),
    * produce the full graph's min-labels WITHOUT re-running components
    * over the old edges. Each delta endpoint contracts to its old
    * component label (or itself if it had none); components of the
    * CONTRACTED graph — which is delta-sized, not graph-sized — give
    * the merge map; old labels route through it, delta-only vertices
    * take theirs directly. Correctness is algebraic: contracted node
    * ids are exactly the candidate minimum ids (old labels ARE their
    * components' minima), so the merged minimum equals the full
    * recompute's — cascades of any depth (old comp → new doc → old
    * comp → …) close inside the inner fixpoint. */
  def incrementalCc(oldLabels: DataFrame, deltaPairs: DataFrame): DataFrame = {
    val s = oldLabels.sparkSession
    import s.implicits._
    val l1 = oldLabels.select($"doc_id".as("doc1"), $"cluster_id".as("lb1"))
    val l2 = oldLabels.select($"doc_id".as("doc2"), $"cluster_id".as("lb2"))
    val contracted = deltaPairs
      .join(l1, Seq("doc1"), "left").join(l2, Seq("doc2"), "left")
      .select(coalesce($"lb1", $"doc1").as("doc1"),
        coalesce($"lb2", $"doc2").as("doc2"))
      .filter($"doc1" =!= $"doc2")
    val mergeMap = minLabelComponents(contracted)
      .select($"doc_id".as("node"), $"cluster_id".as("merged"))
    val outOld = oldLabels
      .join(mergeMap, $"cluster_id" === $"node", "left")
      .select($"doc_id", coalesce($"merged", $"cluster_id").as("cluster_id"))
    val deltaDocs = deltaPairs.select($"doc1".as("doc_id"))
      .unionAll(deltaPairs.select($"doc2".as("doc_id"))).distinct()
      .join(oldLabels.select($"doc_id"), Seq("doc_id"), "left_anti")
    val outNew = deltaDocs.join(mergeMap, $"doc_id" === $"node", "left")
      .select($"doc_id", coalesce($"merged", $"doc_id").as("cluster_id"))
    outOld.unionByName(outNew)
  }

  /** Incremental dedup-graph maintenance (q380): q71's clustering kept
    * CURRENT as a new crawl batch lands (doc_id % 10 = 0, the q52
    * convention), via [[incrementalCc]] — old-graph labels plus a
    * delta-sized contraction instead of components over the full edge
    * list. The oracle is the FULL-GRAPH recomputation (q71's recursive
    * CTE), so the hash match IS the maintenance proof — the
    * q276/q298 IVM discipline applied to graph state, which is the
    * piece that makes dedup viable under continuous ingest at 100 TB
    * (the corpus components are maintained state; only the delta's
    * residue is ever re-solved). Pair GENERATION here still scans the
    * full corpus for the oracle's sake; in production the new batch
    * probes the maintained band/simhash index (q52's shape) to emit
    * exactly these delta edges. */
  def q380IncrementalCc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = simhashPairs(s, d).select($"doc1", $"doc2").localCheckpoint()
    val oldPairs = pairs.filter($"doc1" % 10 =!= 0 && $"doc2" % 10 =!= 0)
    val deltaPairs = pairs.filter($"doc1" % 10 === 0 || $"doc2" % 10 === 0)
    incrementalCc(minLabelComponents(oldPairs).localCheckpoint(), deltaPairs)
      .orderBy($"doc_id")
  }

  /** q380's oracle: the full-graph component recomputation — identical
    * to q71's, which is the point (maintenance must be invisible).
    * (`def`: q71Oracle is declared later in the file.) */
  def q380Oracle: String = q71Oracle

  val q71Oracle: String =
    s"""WITH RECURSIVE $simhashPairsWith,
       good AS (
         SELECT doc1, doc2 FROM prs WHERE bit_count(xor(s1, s2)) <= 3),
       edges AS (
         SELECT doc1 AS a, doc2 AS b FROM good
         UNION ALL SELECT doc2, doc1 FROM good),
       reach(doc_id, r) AS (
         SELECT DISTINCT a, a FROM edges
         UNION
         SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc_id)
       SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       FROM reach GROUP BY doc_id ORDER BY doc_id"""

  /** Edit-distance (Levenshtein) fuzzy near-dup: block on (lang,
    * 64-char length bucket), compare 40-char prefixes within a block,
    * keep pairs with distance ≤ 8. Blocking is the scale story: the
    * self-join is equi on the block key (hash shuffle, bounded bucket
    * fan-in) and the O(len²) distance only runs on block-mates — the
    * same trade as LSH but for edit distance (lossy across blocks by
    * design). Integer distances → exact cross-engine compare. */
  def q70EditDistance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // No manual repartition: the blocked self-join is equi on
    // (lang, bkt), so EnsureRequirements inserts the clustering
    // exchanges when the planner picks SMJ — and when it picks
    // broadcast (documents is small per-executor), a forced left-side
    // shuffle would be pure overhead.
    val b = Tables.documents(s, d)
      .select($"doc_id", $"lang",
        expr("n_chars div 64").as("bkt"),
        substring($"text", 1, 40).as("p"))
    val l = b.select($"doc_id".as("doc1"), $"lang", $"bkt", $"p".as("p1"))
    val r = b.select($"doc_id".as("doc2"), $"lang".as("lang2"),
      $"bkt".as("bkt2"), $"p".as("p2"))
    // thresholded levenshtein: banded O(k·n) with early exit instead of
    // the full O(n²) DP per pair — at sf0.1 the unbounded form burned
    // ~20 s re-running the full DP for every far-apart block pair
    // (returns -1 when distance > k; survivors carry exact distances,
    // so parity with the oracle's unbounded levenshtein holds).
    // The -1 sentinel means `>= 0` alone expresses `0 <= dist <= 8`:
    // one levenshtein call in the join condition (a second `<= 8`
    // conjunct would double-evaluate the DP for every candidate pair —
    // CollapseProject re-inlines, the round-1 HOF pitfall). The
    // projection's recompute runs only on the few surviving pairs.
    l.join(r, $"lang" === $"lang2" && $"bkt" === $"bkt2" && $"doc1" < $"doc2"
        && levenshtein($"p1", $"p2", 8) >= 0)
      .select($"doc1", $"doc2", $"lang", levenshtein($"p1", $"p2", 8).as("dist"))
      .orderBy($"doc1", $"doc2")
  }

  val q70Oracle: String =
    """WITH b AS (
         SELECT doc_id, lang, n_chars // 64 AS bkt, substr(text, 1, 40) AS p
         FROM documents)
       SELECT a.doc_id AS doc1, c.doc_id AS doc2, a.lang,
         levenshtein(a.p, c.p) AS dist
       FROM b a JOIN b c
         ON a.lang = c.lang AND a.bkt = c.bkt AND a.doc_id < c.doc_id
       WHERE levenshtein(a.p, c.p) <= 8
       ORDER BY doc1, doc2"""

  /** Near-dup ENSEMBLE: 2-of-3 vote across the three text-side methods
    * — MinHash-LSH (signature agreement ≥ 8/24 ≈ ĵ ≥ 1/3), SimHash
    * (hamming ≤ 3), and exact n-gram Jaccard (≥ 0.05). Single methods
    * each have characteristic false positives (LSH band collisions,
    * simhash's length blindness, Jaccard's short-doc inflation); the
    * vote keeps only pairs two independent signals agree on — the
    * policy production dedup pipelines actually ship.
    *
    * Shape: the three pair generators run as independent branches
    * (each already bounded, see their scaladocs), then a single
    * groupBy over the union of candidate pairs — the ensemble adds one
    * shuffle of |candidate pairs| (tiny vs the corpus) on top of its
    * inputs, and the branches parallelize across the cluster. */
  def q95NeardupEnsemble(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE shingle-hash pass feeds both the minhash and jaccard branches:
    // the 28-bit minhash base is the top bits of the 60-bit jaccard hash
    // (same md5, nibble-aligned: h28 = h60 div 2^32), and ShingleHashes
    // dedupes at the shingle-string level, so the derived multiset is
    // identical to hashing at 7 nibbles directly. The repartition
    // barrier materializes the hashed corpus once (ReusedExchange under
    // every branch) instead of re-scanning + re-shingling 3×.
    // localCheckpoint (not just a repartition barrier): the hashed
    // corpus is consumed by FOUR subplans (minhash explode, jaccard
    // self-join ×2, size dim) whose pruned projections canonicalize
    // differently, so plain ReuseExchange doesn't fire and each branch
    // would re-scan + re-shingle. Materializing once is also the
    // realistic 100 TB shape: a production dedup pipeline persists the
    // shingle-hashed corpus once and runs every method against it.
    // the simhash fingerprint rides the SAME scan (both are per-row
    // expressions over text), so the ensemble reads the corpus exactly
    // once — at 100 TB a second full-scan branch is the difference
    // between a 1-pass and a 2-pass pipeline
    val hashed = Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.TextExprs.shingle_hashes($"text", 3, 15).as("shs"),
        graft.functions.TextExprs.simhash60($"text").as("simhash"))
      .filter(size($"shs") > 0)
      .repartition($"doc_id")
      .localCheckpoint()

    // minhash branch — q41's pipeline on the derived 28-bit hashes
    val exploded = hashed
      .select($"doc_id", explode($"shs").as("h60"))
      .select($"doc_id", expr("h60 div 4294967296").as("h"))
    val mh = minhashPairs(minhashBandsOf(minhashSigsOf(exploded)))
      .filter($"n_sig_equal" >= 8)
      .select($"doc1", $"doc2", lit(1L).as("bit"))
      .localCheckpoint() // feeds the vote union AND the jc candidate
      // set. Eager checkpoint beats .persist() here: with a lazy cache
      // the two consumers race under the final action and both compute
      // the band shuffle before either fills the cache (measured 1.8×
      // slower at sf0.1)

    // derived from the checkpointed corpus, not a second parquet scan.
    // Restricting simhash to ≥3-token docs is lossless under the vote:
    // a pair with a shorter endpoint can never collect a second vote
    // (both mh and jc require shingles), so it can't reach the output.
    val sh = simhashPairsFrom(s,
        hashed.select($"doc_id", $"simhash").filter($"simhash".isNotNull))
      .select($"doc1", $"doc2", lit(2L).as("bit"))
      .localCheckpoint() // same two-consumer shape as mh

    // jaccard branch — exact jaccard evaluated ONLY on mh ∪ sh
    // candidates, which is LOSSLESS under the 2-of-3 vote: a pair that
    // jaccard alone finds has exactly 1 vote and can never reach the
    // output, so the full inverted-index self-join (the ensemble's
    // dominant cost — it generates every shingle-sharing pair) buys
    // nothing the candidate-restricted verification doesn't. Replacing
    // it with two hash joins back to the shingle arrays + one
    // array_intersect per candidate pair took q95 from ~2.5 s to
    // ~2.2 s at sf0.1 (this corpus's inverted index is small; the
    // local win is modest), and at scale turns the branch from a second
    // quadratic pair generator into a linear-in-candidates verifier —
    // exactly how production ensembles order their stages (cheap
    // recall first, exact verification on the shortlist).
    val cand = mh.select($"doc1", $"doc2")
      .union(sh.select($"doc1", $"doc2"))
      .distinct()
    val jc = cand
      .join(hashed.select($"doc_id".as("doc1"), $"shs".as("shs1")), "doc1")
      .join(hashed.select($"doc_id".as("doc2"), $"shs".as("shs2")), "doc2")
      .select($"doc1", $"doc2",
        size(array_intersect($"shs1", $"shs2")).as("inter"),
        size($"shs1").as("n1"), size($"shs2").as("n2"))
      .filter(floor($"inter" * lit(10000) / ($"n1" + $"n2" - $"inter")) >= 500)
      .select($"doc1", $"doc2", lit(4L).as("bit"))

    mh.union(sh).union(jc)
      .groupBy($"doc1", $"doc2")
      .agg(count(lit(1)).as("votes"), sum($"bit").as("mask"))
      .filter($"votes" >= 2)
      .orderBy($"doc1", $"doc2")
  }

  /** Oracle: the q41 + q44 + q42 WITH-chains stitched once (tk/sh are
    * shared by minhash and jaccard), unioned with a method bit and
    * voted. */
  val q95Oracle: String =
    raw"""WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       bands AS (
         SELECT doc_id, sig, b,
           md5(array_to_string(list_transform(sig[b*3+1 : b*3+3], v -> v::VARCHAR), ',')) AS band_key
         FROM sig, (SELECT unnest(generate_series(0, 7)) AS b)),
       mh AS (
         SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
           len(list_filter(list_zip(l.sig, r.sig), p -> p[1] = p[2])) AS n_sig_equal
         FROM bands l JOIN bands r
           ON l.b = r.b AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS shh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.shh = b.shh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       jc AS (
         SELECT doc1, doc2 FROM inter
         JOIN nz sa ON doc1 = sa.doc_id
         JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       $simhashPairsWith,
       shp AS (
         SELECT doc1, doc2 FROM prs WHERE bit_count(xor(s1, s2)) <= 3),
       u AS (
         SELECT doc1, doc2, 1 AS bit FROM mh WHERE n_sig_equal >= 8
         UNION ALL SELECT doc1, doc2, 2 FROM shp
         UNION ALL SELECT doc1, doc2, 4 FROM jc)
       SELECT doc1, doc2, CAST(count(*) AS BIGINT) AS votes,
         CAST(sum(bit) AS BIGINT) AS mask
       FROM u GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc1, doc2"""

  /** Leakage-safe train/val/test split: the deterministic hash split
    * (q38's 1%/1%/98% multiplicative-hash convention) keyed on the
    * near-dup CLUSTER canonical id instead of the doc id. A doc-keyed
    * split can put two near-duplicates of the same page on opposite
    * sides of the train/test boundary — the classic eval-contamination
    * bug; keying every cluster member by min(cluster doc_id) makes
    * "same cluster ⇒ same split" structural. Singletons fall back to
    * their own id (coalesce), so the fix costs nothing outside the
    * clustered minority.
    *
    * Shape at scale: cluster extraction is q71's bounded loop; the
    * doc→cluster map is a LEFT equi-join on doc_id (clustered docs
    * are a small fraction, so the map is far smaller than the corpus —
    * but it still scales with the data, so no broadcast hint: AQE
    * broadcasts it while it fits); the split itself is one hash per
    * row, no RNG, stable under corpus growth. */
  def q96LeakageSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val testBound = 42949672L // floor(2^32 · 0.01), shared with q38/oracle
    val valBound = 85899345L  // floor(2^32 · 0.02)
    val clusters = minLabelComponents(simhashPairs(s, d).select($"doc1", $"doc2"))
    val keyed = Tables.documents(s, d).select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("skey", coalesce($"cluster_id", $"doc_id"))
    val h = knuthHash($"skey") % lit(4294967296L)
    keyed
      .withColumn("split",
        when(h < testBound, "test").when(h < valBound, "val").otherwise("train"))
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"cluster_id".isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        countDistinct($"cluster_id").as("n_clusters"))
      .orderBy($"split")
  }

  val q96Oracle: String =
    s"""WITH RECURSIVE $simhashPairsWith,
       good AS (
         SELECT doc1, doc2 FROM prs WHERE bit_count(xor(s1, s2)) <= 3),
       edges AS (
         SELECT doc1 AS a, doc2 AS b FROM good
         UNION ALL SELECT doc2, doc1 FROM good),
       reach(doc_id, r) AS (
         SELECT DISTINCT a, a FROM edges
         UNION
         SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc_id),
       cl AS (SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              FROM reach GROUP BY doc_id),
       k AS (SELECT d.doc_id, cl.cluster_id,
               COALESCE(cl.cluster_id, d.doc_id) AS skey
             FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
       a AS (SELECT *,
               CASE WHEN ((skey % 2147483648) * 2654435761) % 4294967296 < 42949672
                    THEN 'test'
                    WHEN ((skey % 2147483648) * 2654435761) % 4294967296 < 85899345
                    THEN 'val' ELSE 'train' END AS split
             FROM k)
       SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
         CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
       FROM a GROUP BY split ORDER BY split"""

  /** Quality-aware canonical selection: within every near-dup cluster
    * (q71's connected components over the simhash pair graph), keep the
    * HIGHEST-QUALITY member — q31's integer permille score, ties to the
    * smaller doc_id — instead of the arbitrary min-doc_id survivor.
    * This is the policy production dedup ships (dropping the better
    * copy of a page because its doc_id is larger throws away quality
    * for free); structurally it is the per-group argmax idiom.
    *
    * Scale shape: the cluster map is tiny relative to the corpus (only
    * clustered docs appear, but the count still scales with the data,
    * so the join carries no broadcast hint), the quality score is
    * scan-local integer arithmetic, and the argmax window partitions by
    * cluster_id whose groups are near-dup cluster sized (single
    * digits), so the window never sees a heavy partition. */
  def q102QualityCanonical(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = tokens($"text")
    val quality = Tables.documents(s, d)
      .select($"doc_id",
        qualityScore(size(tk), stopCount(tk), size(array_distinct(tk)))
          .as("quality_score"))
    val clusters = minLabelComponents(simhashPairs(s, d).select($"doc1", $"doc2"))
    clusters.join(quality, "doc_id")
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
          .orderBy($"quality_score".desc, $"doc_id")))
      .select($"doc_id", $"cluster_id", $"quality_score",
        ($"rnk" === 1).as("is_canonical"))
      .orderBy($"cluster_id", $"doc_id")
  }

  val q102Oracle: String =
    s"""WITH RECURSIVE $simhashPairsWith,
       good AS (
         SELECT doc1, doc2 FROM prs WHERE bit_count(xor(s1, s2)) <= 3),
       edges AS (
         SELECT doc1 AS a, doc2 AS b FROM good
         UNION ALL SELECT doc2, doc1 FROM good),
       reach(doc_id, r) AS (
         SELECT DISTINCT a, a FROM edges
         UNION
         SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc_id),
       cl AS (SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              FROM reach GROUP BY doc_id),
       t AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
         FROM documents),
       q AS (
         SELECT doc_id,
           least(len(tk), 100) * 10
           + (1000 - CAST(floor(len(list_filter(tk, t -> list_contains(['the','a','of','and','in','to'], t))) * 1000.0 / len(tk)) AS BIGINT))
           + CAST(floor(len(list_distinct(tk)) * 1000.0 / len(tk)) AS BIGINT)
             AS quality_score
         FROM t),
       r AS (
         SELECT cl.doc_id AS doc_id, cluster_id, quality_score,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY quality_score DESC, cl.doc_id) AS rnk
         FROM cl JOIN q ON cl.doc_id = q.doc_id)
       SELECT doc_id, cluster_id, quality_score, rnk = 1 AS is_canonical
       FROM r ORDER BY cluster_id, doc_id"""

  /** Prefix-filtered set-similarity self-join (the SSJoin/PPJoin prefix
    * filter; Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): exact
    * Jaccard ≥ 0.8 pairs over distinct 3-gram shingle hashes, but the
    * candidate join indexes only each document's PREFIX — its
    * `n − ⌈0.8·n⌉ + 1` globally rarest shingles — instead of all of
    * them (q42's inverted index).
    *
    * Losslessness: order all shingles by (corpus df, hash) — a total
    * order. For any pair with J ≥ 0.8, |A∩B| ≥ 0.8·|A| (since
    * J ≤ |A∩B|/|A|) and symmetrically for B; if the smallest common
    * shingle w sat outside A's prefix, every common shingle would sit
    * in A's suffix of ⌈0.8·n⌉ − 1 slots < 0.8·n ≤ |A∩B| — contradiction.
    * So w lands in BOTH prefixes and the equi-join on prefix shingles
    * finds every qualifying pair; the oracle (the plain exact-Jaccard
    * join at the same threshold) pins that no pair is lost.
    *
    * Scale shape vs q42: the index the self-join shuffles is ~20% of
    * the corpus shingle occurrences (measured: 0.2·n + 1 per doc), and
    * rare-first ordering makes the join buckets the SMALLEST ones —
    * the df-hot shingles that dominate q42's join never enter the
    * index. The length filter (5·min ≥ 4·max, exact integers) prunes
    * cross-size candidates before verification, and verification is a
    * per-candidate `array_intersect` against the checkpointed shingle
    * arrays — candidates, not corpus, sized. At 100 TB this is the
    * difference between shuffling every posting and shuffling the rare
    * fifth. */
  def q126PrefixSimjoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one checkpointed shingle pass feeds df-count, prefix build, and
    // final verification (three consumers, one scan+shingle cost)
    val hashed = Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.TextExprs.shingle_hashes($"text", 3, 15).as("shs"))
      .filter(size($"shs") > 0)
      .localCheckpoint() // r12 A/B: 1.59 s vs 1.90 s without — keep
    val inv = hashed.select($"doc_id", explode($"shs").as("sh"))
    val dfreq = inv.groupBy($"sh").agg(count(lit(1)).as("df"))
    // rare-first total order (df asc, hash asc — unique per doc), then
    // keep the first n − ⌈0.8n⌉ + 1 = n − (4n+4) div 5 + 1 shingles
    val pref = inv.join(dfreq, "sh")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"sh"))).as("ord"))
      .select($"doc_id", size($"ord").as("n"),
        expr("transform(slice(ord, 1, size(ord) - ((4*size(ord)+4) div 5) + 1), x -> x.sh)")
          .as("prefix"))
    val pinv = pref.select($"doc_id", $"n", explode($"prefix").as("sh"))
    // J ≥ 0.8 ⟹ sizes within 4:5 of each other (exact integers)
    val cand = sharedShingles(pinv,
        col("a.n") * 5 >= col("b.n") * 4, col("b.n") * 5 >= col("a.n") * 4)
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    cand
      .join(hashed.select($"doc_id".as("doc1"), $"shs".as("s1")), "doc1")
      .join(hashed.select($"doc_id".as("doc2"), $"shs".as("s2")), "doc2")
      .select($"doc1", $"doc2",
        size(array_intersect($"s1", $"s2")).cast("long").as("inter"),
        size($"s1").cast("long").as("n1"), size($"s2").cast("long").as("n2"))
      .withColumn("jaccard_bp",
        floor($"inter" * lit(10000) / ($"n1" + $"n2" - $"inter")).cast("long"))
      .filter($"jaccard_bp" >= 8000)
      .orderBy($"doc1", $"doc2")
  }

  /** Oracle = the UNFILTERED exact-Jaccard join at the same threshold:
    * hash-identical output means the prefix filter lost nothing. */
  val q126Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
         CAST(sa.n_sh AS BIGINT) AS n1, CAST(sb.n_sh AS BIGINT) AS n2,
         CAST(floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_bp
       FROM inter
       JOIN nz sa ON doc1 = sa.doc_id
       JOIN nz sb ON doc2 = sb.doc_id
       WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 8000
       ORDER BY doc1, doc2"""

  /** Sorted-neighborhood-method (SNM) dedup — the third classic
    * blocking family next to hash blocking (q70) and LSH (q41): sort
    * the corpus once on a cheap key chosen so near-dups land ADJACENT
    * (here (n_chars, doc_id) within lang), then compare each record
    * only to its w=2 successors in that order. Cost is
    * sort + O(n·w) comparisons — no candidate-pair explosion at all —
    * at the price of missing dups the sort key separates (lossy by
    * design, like every blocking scheme; sliding the window is the
    * recall lever).
    *
    * Spark shape: one shuffle on lang (window partition), per-partition
    * sort, `lead()` to reach the w successors — comparisons never cross
    * the exchange. At 100 TB the lang partition skews (one dominant
    * language), so the production key would prepend a coarse length
    * bucket to the PARTITION key as well; kept single-key here to match
    * the textbook formulation. Integer distances → exact parity. */
  def q136SortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n_chars", $"doc_id")
    val b = Tables.documents(s, d)
      .select($"doc_id", $"lang", $"n_chars", substring($"text", 1, 40).as("p"))
      .select($"doc_id", $"lang", $"n_chars", $"p",
        lead($"doc_id", 1).over(w).as("d1"), lead($"p", 1).over(w).as("p1"),
        lead($"doc_id", 2).over(w).as("d2"), lead($"p", 2).over(w).as("p2"))
    val n1 = b.filter($"d1".isNotNull && levenshtein($"p", $"p1", 8) >= 0)
      .select($"doc_id".as("doc1"), $"d1".as("doc2"), $"lang",
        lit(1L).as("gap"), levenshtein($"p", $"p1", 8).cast("long").as("dist"))
    val n2 = b.filter($"d2".isNotNull && levenshtein($"p", $"p2", 8) >= 0)
      .select($"doc_id".as("doc1"), $"d2".as("doc2"), $"lang",
        lit(2L).as("gap"), levenshtein($"p", $"p2", 8).cast("long").as("dist"))
    n1.unionByName(n2).orderBy($"doc1", $"gap")
  }

  val q136Oracle: String =
    """WITH b AS (
         SELECT doc_id, lang, n_chars, substr(text, 1, 40) AS p,
           lead(doc_id, 1) OVER w AS d1, lead(p, 1) OVER w AS p1,
           lead(doc_id, 2) OVER w AS d2, lead(p, 2) OVER w AS p2
         FROM documents
         WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id))
       SELECT doc_id AS doc1, d1 AS doc2, lang, CAST(1 AS BIGINT) AS gap,
         CAST(levenshtein(p, p1) AS BIGINT) AS dist
       FROM b WHERE d1 IS NOT NULL AND levenshtein(p, p1) <= 8
       UNION ALL
       SELECT doc_id, d2, lang, 2, CAST(levenshtein(p, p2) AS BIGINT)
       FROM b WHERE d2 IS NOT NULL AND levenshtein(p, p2) <= 8
       ORDER BY doc1, gap"""

  /** Golden-record survivorship (q164): per exact-dup cluster (q40's
    * prefix key), the merged "source of truth" record assembled by
    * FIELD-WISE rules — the entity-resolution step after dedup finds
    * the clusters: id by min, text by longest-member (ties by id),
    * lang and source by cluster majority (ties lexicographic). Each
    * rule is a deterministic argmax, so the golden record is
    * reproducible cross-engine — the property survivorship needs to
    * be auditable at all.
    *
    * Scale shape: every rule keys on the SAME cluster hash, so the
    * window ranks and count-majority aggregations all ride one hash
    * partitioning (AQE reuses the exchange); the majority rules
    * pre-aggregate to (cluster, value) counts before ranking —
    * nothing ever holds a whole cluster in memory. */
  def q164GoldenRecord(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val norm = lower(regexp_replace(trim($"text"), "\\s+", " "))
    val prefixKey = concat_ws(" ", slice(tokens(norm), 1, 5))
    val m = Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", $"n_chars",
        md5(prefixKey).as("k"))
      .localCheckpoint() // one scan feeds all four rules
    val sized = m.groupBy($"k")
      .agg(count(lit(1)).as("n_members"), min($"doc_id").as("keep_id"))
      .filter($"n_members" >= 2)
    def majority(col: String, as: String) = m
      .groupBy($"k", m(col)).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(Window.partitionBy($"k")
        .orderBy($"c".desc, m(col))))
      .filter($"rn" === 1).select($"k", m(col).as(as))
    val longest = m
      .withColumn("rn", row_number().over(Window.partitionBy($"k")
        .orderBy($"n_chars".desc, $"doc_id")))
      .filter($"rn" === 1).select($"k", $"doc_id".as("text_from"))
    sized.join(longest, "k")
      .join(majority("lang", "lang_keep"), "k")
      .join(majority("source", "src_keep"), "k")
      .select($"k".as("dup_key"), $"n_members", $"keep_id",
        $"text_from", $"lang_keep", $"src_keep")
      .orderBy($"dup_key")
  }

  val q164Oracle: String =
    """WITH m AS (
         SELECT doc_id, lang, source, n_chars,
           md5(array_to_string(
             (list_filter(string_split_regex(lower(trim(regexp_replace(text,'\s+',' ','g'))), '\s+'), t -> t <> ''))[1:5],
             ' ')) AS k
         FROM documents),
       sized AS (
         SELECT k, CAST(count(*) AS BIGINT) AS n_members,
           min(doc_id) AS keep_id
         FROM m GROUP BY 1 HAVING count(*) >= 2),
       longest AS (
         SELECT k, doc_id AS text_from FROM (
           SELECT k, doc_id, row_number() OVER (PARTITION BY k
             ORDER BY n_chars DESC, doc_id) AS rn FROM m)
         WHERE rn = 1),
       langk AS (
         SELECT k, lang AS lang_keep FROM (
           SELECT k, lang, row_number() OVER (PARTITION BY k
             ORDER BY count(*) DESC, lang) AS rn
           FROM m GROUP BY k, lang)
         WHERE rn = 1),
       srck AS (
         SELECT k, source AS src_keep FROM (
           SELECT k, source, row_number() OVER (PARTITION BY k
             ORDER BY count(*) DESC, source) AS rn
           FROM m GROUP BY k, source)
         WHERE rn = 1)
       SELECT sized.k AS dup_key, n_members, keep_id, text_from,
         lang_keep, src_keep
       FROM sized
       JOIN longest ON sized.k = longest.k
       JOIN langk ON sized.k = langk.k
       JOIN srck ON sized.k = srck.k
       ORDER BY dup_key"""

  /** IDF-WEIGHTED Jaccard near-dup (q188): q42's set overlap, but each
    * shingle counts its corpus rarity — w(sh) = ⌊ln(N/df)·10⁶⌋ micro-
    * nats — so two docs sharing boilerplate ("click here to subscribe",
    * df≈N, w≈0) don't pair, while sharing one rare passage does. This
    * is the fix for the classic unweighted-Jaccard failure mode on
    * template-heavy web corpora, and the exact-arithmetic cousin of
    * weighted-MinHash sketching: J_w = Σ_{A∩B} w / Σ_{A∪B} w with the
    * union weight as W_a + W_b − inter (inclusion-exclusion — never
    * materialize unions).
    *
    * Shape: ONE shingle relation (checkpointed) feeds df, per-doc
    * weights, and both sides of the inverted-index self-join; df and
    * the idf map are shingle-domain-sized; everything integer until
    * the final shared IEEE floor. The pair join is bounded IN CODE by
    * [[MaxPairDf]]: a posting hotter than that is template boilerplate
    * (w = ln(N/df) ≈ 0 — it cannot push a pair over the 500 bp gate on
    * its own) and would contribute O(df²) pairs, so it is dropped from
    * the pair join on BOTH engines — the hot-key cap production dedup
    * ships, and exactly the skew-prone keys a weighted measure can
    * legally prune (unweighted Jaccard cannot). */
  /** Posting-list cap for q188's pair join (non-binding at test SF;
    * the oracle mirrors the same cutoff). */
  val MaxPairDf = 1024L

  def q188WeightedJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashed = Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.TextExprs.shingle_hashes($"text", 3, 15).as("shs"))
      .filter(size($"shs") > 0)
      .repartition($"doc_id")
    val inv = hashed.select($"doc_id", explode($"shs").as("sh"))
      // feeds df, doc weights, and both join sides — r12 A/B: the old
      // checkpoint here was exactly neutral (1.81 vs 1.77 s); the
      // `weighted` checkpoint below is the one that carries the reuse
    val nDocs = hashed.agg(count(lit(1)).as("n_docs"))
    val w = inv.groupBy($"sh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select($"sh", $"df",
        floor(log($"n_docs" * lit(1.0) / $"df") * lit(1000000.0))
          .cast("long").as("w"))
    // materialize inv ⋈ w ONCE — it feeds the per-doc totals and both
    // self-join sides (un-checkpointed, Spark re-ran the join 3×)
    val weighted = inv.join(w, "sh").localCheckpoint()
    val docW = weighted.groupBy($"doc_id").agg(sum($"w").as("tw"))
    // only shingles appearing in ≥2 docs can produce a pair: the df≥2
    // residue is the pair-join input (q99's trick), which also drops
    // every df=1 posting — the bulk of the index on real corpora; the
    // MaxPairDf cap bounds every posting list the pair join explodes
    val wd = weighted.filter($"df" >= 2 && $"df" <= MaxPairDf)
      .select($"doc_id", $"sh", $"w")
    shingleOverlap(wd, sum(col("a.w")).as("inter_w"))
      .join(docW.select($"doc_id".as("doc1"), $"tw".as("w1")), "doc1")
      .join(docW.select($"doc_id".as("doc2"), $"tw".as("w2")), "doc2")
      .withColumn("wj_bp",
        floor($"inter_w" * lit(10000.0) / ($"w1" + $"w2" - $"inter_w"))
          .cast("long"))
      .filter($"wj_bp" >= 500)
      .select($"doc1", $"doc2", $"inter_w", $"w1", $"w2", $"wj_bp")
      .orderBy($"doc1", $"doc2")
  }

  val q188Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM nz),
       wt AS (
         SELECT sh, CAST(count(*) AS BIGINT) AS df,
           CAST(floor(ln(n_docs * 1.0 / count(*)) * 1000000.0) AS BIGINT) AS w
         FROM inv CROSS JOIN nd GROUP BY sh, n_docs),
       wv AS (SELECT doc_id, inv.sh, w, df FROM inv JOIN wt ON inv.sh = wt.sh),
       dw AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw FROM wv GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(sum(a.w) AS BIGINT) AS inter_w
         FROM (SELECT * FROM wv WHERE df <= 1024) a
         JOIN (SELECT * FROM wv WHERE df <= 1024) b
           ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc1, doc2, inter_w, da.tw AS w1, db.tw AS w2,
         CAST(floor(inter_w * 10000.0 / (da.tw + db.tw - inter_w)) AS BIGINT) AS wj_bp
       FROM inter
       JOIN dw da ON inter.doc1 = da.doc_id
       JOIN dw db ON inter.doc2 = db.doc_id
       WHERE CAST(floor(inter_w * 10000.0 / (da.tw + db.tw - inter_w)) AS BIGINT) >= 500
       ORDER BY doc1, doc2"""

  /** Shingle CONTAINMENT near-dup (q215): Broder's asymmetric measure
    * C(A→B) = |A∩B| / |A| alongside q42/q188's symmetric Jaccard — the
    * detector for the quote/excerpt case Jaccard structurally misses:
    * a 10-shingle doc fully embedded in a 200-shingle doc has J ≈ 5%
    * (invisible at any sane threshold) but C = 100%. Pairs surface
    * when EITHER direction's containment clears 80%; both directions
    * are reported so the caller knows which doc is the fragment.
    *
    * Shape: q188's skeleton — one checkpointed shingle relation feeds
    * per-doc sizes and both sides of the inverted-index self-join; the
    * df ≥ 2 residue prunes the pair join; sizes broadcast back onto
    * the surviving pairs. Containment needs no union size, so there is
    * no inclusion-exclusion step at all — strictly cheaper than
    * Jaccard at the same candidate set. */
  def q215Containment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashed = Tables.documents(s, d)
      .select($"doc_id",
        array_distinct(
          graft.functions.TextExprs.shingle_hashes($"text", 3, 15)).as("shs"))
      .filter(size($"shs") > 0)
      .repartition($"doc_id")
    val inv = hashed.select($"doc_id", explode($"shs").as("sh"))
      // sizes, df, and both join sides — r12 A/B: the old checkpoint
      // here measured 2.06 s vs 1.68 s WITHOUT; every consumer is an
      // aggregate/join that shuffles anyway, so re-running the explode
      // beats serializing ~|shingles| rows through the block manager
    val sizes = inv.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val dup = inv.groupBy($"sh").agg(count(lit(1)).as("df")).filter($"df" >= 2)
    val wd = inv.join(dup.select($"sh"), "sh")
    shingleOverlap(wd, count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("doc1"), $"sz".as("sz1")), "doc1")
      .join(sizes.select($"doc_id".as("doc2"), $"sz".as("sz2")), "doc2")
      .withColumn("cont1_bp", expr("inter * 10000 div sz1"))
      .withColumn("cont2_bp", expr("inter * 10000 div sz2"))
      .filter($"cont1_bp" >= 8000 || $"cont2_bp" >= 8000)
      .select($"doc1", $"doc2", $"inter", $"sz1", $"sz2",
        $"cont1_bp", $"cont2_bp")
      .orderBy($"doc1", $"doc2")
  }

  val q215Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM inv GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(count(*) AS BIGINT) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc1, doc2, inter, s1.sz AS sz1, s2.sz AS sz2,
         inter * 10000 // s1.sz AS cont1_bp,
         inter * 10000 // s2.sz AS cont2_bp
       FROM inter
       JOIN sizes s1 ON inter.doc1 = s1.doc_id
       JOIN sizes s2 ON inter.doc2 = s2.doc_id
       WHERE inter * 10000 // s1.sz >= 8000 OR inter * 10000 // s2.sz >= 8000
       ORDER BY doc1, doc2"""

  /** Duplicate-provenance matrix (q222): WHICH sources share exact-
    * duplicate text with which — per source pair, the count of
    * distinct full-text hashes present in both, plus the diagonal
    * (hashes duplicated WITHIN one source). q40 counts duplicates;
    * this attributes them: mirror pairs light up one cell, a scraper
    * that re-crawls itself lights the diagonal, and the matrix is the
    * evidence for per-source dedup ordering (dedup the copier against
    * the original, not vice versa — q193/q81 then act on it).
    *
    * Shape: one hash projection, dedup to the (hash, source) relation
    * (partial agg); the pair join runs on the DUPLICATED-hash residue
    * only (q99's argument — the join input is the duplication volume,
    * not the corpus); diagonal cells come from a per-(hash, source)
    * count, no join at all. */
  def q222DupProvenance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hs = Tables.documents(s, d)
      // q90's near-dup key (first-5-token prefix), not the full-text
      // hash: this corpus has no byte-identical cross-source copies,
      // and a 0-row matrix audits nothing — the prefix key is the
      // fingerprint the curation pipeline actually clusters on
      .select(hash60(array_join(slice(tokens($"text"), 1, 5), " ")).as("h"),
        $"source")
      .localCheckpoint() // feeds the within- and cross-source branches
    val perSrc = hs.groupBy($"h", $"source").agg(count(lit(1)).as("c"))
    val diag = perSrc.filter($"c" >= 2)
      .groupBy($"source").agg(count(lit(1)).as("n_hashes"))
      .select($"source".as("src1"), $"source".as("src2"), $"n_hashes")
    val m = perSrc.select($"h", $"source")
    val dupH = m.groupBy($"h").agg(count(lit(1)).as("ns")).filter($"ns" >= 2)
    val md = m.join(dupH.select($"h"), "h")
    val cross = md.as("a").join(md.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
      .agg(count(lit(1)).as("n_hashes"))
    cross.unionByName(diag).orderBy($"src1", $"src2")
  }

  val q222Oracle: String =
    """WITH hs AS (
         SELECT ('0x' || substr(md5(array_to_string(
             (list_filter(string_split_regex(text, '\s+'), t -> t <> ''))[1:5],
             ' ')), 1, 15))::BIGINT AS h, source
         FROM documents),
       per AS (SELECT h, source, CAST(count(*) AS BIGINT) AS c
               FROM hs GROUP BY 1, 2),
       diag AS (
         SELECT source AS src1, source AS src2, CAST(count(*) AS BIGINT) AS n_hashes
         FROM per WHERE c >= 2 GROUP BY source),
       m AS (SELECT h, source FROM per),
       cross_ AS (
         SELECT a.source AS src1, b.source AS src2, CAST(count(*) AS BIGINT) AS n_hashes
         FROM m a JOIN m b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2)
       SELECT * FROM cross_ UNION ALL SELECT * FROM diag
       ORDER BY src1, src2"""

  /** Similarity-band histogram (q227): the distribution of pairwise
    * n-gram Jaccard similarities in 5%-wide bands, with cumulative
    * pair counts from the top — the threshold-sensitivity audit run
    * BEFORE committing to a dedup cutoff. A healthy corpus is bimodal
    * (near-dups at the top, noise floor at the bottom) and the band
    * histogram shows exactly how many pairs a cutoff of 0.80 vs 0.85
    * would add or drop; a fat middle band means no threshold is safe
    * and the ensemble vote (q95) is required. Bands cover the FULL
    * range (no ≥500bp floor — the noise floor is the point); the
    * cumulative column turns the histogram into the pairs-removed
    * curve.
    *
    * Shape: q42's inverted-index pair relation (one checkpoint, one
    * self-join) collapsed to ≤ 20 band rows by a partial agg; the
    * cumulative window runs over those 20 rows. */
  def q227SimHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = shingleInter(s, d)
      .select(least(
        expr("cast(floor(inter * 10000 / (n1 + n2 - inter)) as bigint) div 500"),
        lit(19L)).cast("long").as("band"))
      .groupBy($"band").agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy($"band".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands
      .withColumn("cum_from_top", sum($"n_pairs").over(w))
      .select($"band", ($"band" * 500).as("lo_bp"), $"n_pairs", $"cum_from_top")
      .orderBy($"band")
  }

  val q227Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       sizes AS (SELECT doc_id, CAST(len(shd) AS BIGINT) AS n_sh FROM nz),
       pr AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(count(*) AS BIGINT) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       bp AS (
         SELECT least(CAST(floor(inter * 10000 / (s1.n_sh + s2.n_sh - inter)) AS BIGINT)
                  // 500, 19) AS band
         FROM pr JOIN sizes s1 ON pr.doc1 = s1.doc_id
         JOIN sizes s2 ON pr.doc2 = s2.doc_id),
       h AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs FROM bp GROUP BY band)
       SELECT band, band * 500 AS lo_bp, n_pairs,
         CAST(sum(n_pairs) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_from_top
       FROM h ORDER BY band"""

  /** Fellegi–Sunter record-linkage scoring (q236): probabilistic
    * entity resolution between two TABLES (customer ↔ supplier) — the
    * cross-source cousin of the within-corpus dedup family. The
    * classic pipeline: (1) BLOCK candidate pairs on a cheap key
    * (nationkey — never the N² cross join), (2) score each pair by
    * summing per-field agreement/disagreement weights (log-likelihood
    * ratios ln(m/u), here fixed milli-nat constants: balance within
    * $500 → +2197/−1504, name-suffix digit equality → +1609/−588,
    * key-residue congruence → +1000/−300), (3) cut the score into
    * match / review / non-match bands (≥2500 / ≥0 / below). Output:
    * per-block pair counts per band plus the argmax pair (score desc,
    * then ids — deterministic).
    *
    * Exactness: balances in integer cents, weights integer milli —
    * the whole score is int64 arithmetic. Shape: the block join is
    * equi on nationkey (SMJ/BHJ, never nested-loop); scoring is a
    * projection; the per-block rollup and argmax are one partial-agg
    * pass + one per-block rank over the scored relation. Block-size
    * skew is the known FS failure mode — q117's skew diagnostics are
    * the pre-flight check at scale. */
  def q236RecordLinkage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_nationkey",
      ($"c_acctbal".cast("decimal(18,2)") * 100).cast("long").as("c_cents"),
      expr("right(c_name, 1)").as("c_last"))
    val supp = Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey",
      ($"s_acctbal".cast("decimal(18,2)") * 100).cast("long").as("s_cents"),
      expr("right(s_name, 1)").as("s_last"))
    val scored = cust.join(supp, $"c_nationkey" === $"s_nationkey")
      .withColumn("score_milli",
        when(abs($"c_cents" - $"s_cents") <= 50000L, 2197L).otherwise(-1504L) +
          when($"c_last" === $"s_last", 1609L).otherwise(-588L) +
          when($"c_custkey" % 10 === $"s_suppkey" % 10, 1000L).otherwise(-300L))
    val bands = scored.groupBy($"c_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"score_milli" >= 2500L, 1L).otherwise(0L)).as("n_match"),
        sum(when($"score_milli" >= 0L && $"score_milli" < 2500L, 1L)
          .otherwise(0L)).as("n_review"))
    val best = scored
      .withColumn("rk", row_number().over(Window.partitionBy($"c_nationkey")
        .orderBy($"score_milli".desc, $"c_custkey", $"s_suppkey")))
      .filter($"rk" === 1)
      .select($"c_nationkey".as("nationkey"),
        $"score_milli".as("best_score_milli"),
        $"c_custkey".as("best_cust"), $"s_suppkey".as("best_supp"))
    bands.join(best, "nationkey").orderBy($"nationkey")
  }

  val q236Oracle: String =
    """WITH c AS (
         SELECT c_custkey, c_nationkey,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c_cents,
           right(c_name, 1) AS c_last
         FROM customer),
       sup AS (
         SELECT s_suppkey, s_nationkey,
           CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS s_cents,
           right(s_name, 1) AS s_last
         FROM supplier),
       scored AS (
         SELECT c_nationkey, c_custkey, s_suppkey,
           (CASE WHEN abs(c_cents - s_cents) <= 50000 THEN 2197 ELSE -1504 END
            + CASE WHEN c_last = s_last THEN 1609 ELSE -588 END
            + CASE WHEN c_custkey % 10 = s_suppkey % 10 THEN 1000 ELSE -300 END)
             AS score_milli
         FROM c JOIN sup ON c_nationkey = s_nationkey),
       bands AS (
         SELECT c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN score_milli >= 2500 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           CAST(sum(CASE WHEN score_milli >= 0 AND score_milli < 2500
             THEN 1 ELSE 0 END) AS BIGINT) AS n_review
         FROM scored GROUP BY 1),
       best AS (
         SELECT c_nationkey AS nationkey,
           CAST(score_milli AS BIGINT) AS best_score_milli,
           c_custkey AS best_cust, s_suppkey AS best_supp
         FROM (
           SELECT *, row_number() OVER (PARTITION BY c_nationkey
             ORDER BY score_milli DESC, c_custkey, s_suppkey) AS rk
           FROM scored)
         WHERE rk = 1)
       SELECT bands.nationkey, n_pairs, n_match, n_review,
         best_score_milli, best_cust, best_supp
       FROM bands JOIN best ON bands.nationkey = best.nationkey
       ORDER BY bands.nationkey"""

  /** LSH band-configuration sensitivity sweep (q248): the SAME 24
    * minhashes banded three ways — (12 bands × 2 rows), (8 × 3),
    * (6 × 4) — evaluated side by side in ONE pass over the signature
    * relation. The bands/rows split is THE recall/precision dial of
    * minhash-LSH (collision probability 1−(1−J^r)^b): more, shorter
    * bands catch lower-similarity pairs at the cost of junk
    * candidates. Per config: candidate-pair count, pairs whose full
    * 24-signature agreement estimates J ≥ 0.5, and the implied
    * precision — the table you consult BEFORE re-running a 100 TB
    * dedup with different knobs (the sweep costs one signature
    * pipeline, not three).
    *
    * Shape: signatures computed once (q41's codegen'd min-aggregate
    * shape); the config dimension is a bounded 3× explode and banding
    * a ≤12× explode — both scan-local; buckets group on (config,
    * band, key); pair agreement reads the sig arrays already in the
    * bucket rows (no join back); per-config distinct then a 3-row
    * rollup. */
  def q248LshSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cfgs = Seq((12, 2), (8, 3), (6, 4))
    val banded = minhashSigs(s, d)
      .select($"doc_id", $"sig", explode(typedLit(cfgs)).as("cfg"))
      .select($"doc_id", $"sig",
        $"cfg._1".as("bands"), $"cfg._2".as("rows"))
      .withColumn("b", explode(sequence(lit(0), $"bands" - 1)))
      .withColumn("band_key", bandKey($"sig", $"b", $"rows"))
    val pairs = bucketPairs(banded, Seq($"bands", $"rows", $"b", $"band_key"),
        struct($"doc_id", $"sig"), keep = Seq($"bands", $"rows"))
      .select($"bands", $"rows", $"m1.doc_id".as("d1"), $"m2.doc_id".as("d2"),
        sigAgreement($"m1.sig", $"m2.sig").as("n_eq"))
      .distinct()
    pairs.groupBy($"bands", $"rows")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"n_eq" >= 12L, 1L).otherwise(0L)).as("n_est_dups"))
      .withColumn("precision_bp", expr("10000 * n_est_dups div n_pairs"))
      .orderBy($"bands".desc)
  }

  val q248Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       cfg AS (SELECT * FROM (VALUES (12, 2), (8, 3), (6, 4)) AS t(bands, rws)),
       banded AS (
         SELECT doc_id, sig, bands, rws, b,
           md5(array_to_string(list_transform(
             sig[b*rws+1 : b*rws+rws], x -> CAST(x AS VARCHAR)), ',')) AS band_key
         FROM sig CROSS JOIN cfg
         CROSS JOIN unnest(generate_series(0, bands-1)) AS g(b)),
       pairs AS (
         SELECT DISTINCT a.bands, a.rws, a.doc_id AS d1, b.doc_id AS d2,
           list_sum(list_transform(generate_series(1, 24),
             i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS n_eq
         FROM banded a JOIN banded b
           ON a.bands = b.bands AND a.rws = b.rws AND a.b = b.b
          AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       SELECT bands, rws AS rows,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN n_eq >= 12 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_est_dups,
         10000 * CAST(sum(CASE WHEN n_eq >= 12 THEN 1 ELSE 0 END) AS BIGINT)
           // CAST(count(*) AS BIGINT) AS precision_bp
       FROM pairs GROUP BY bands, rws ORDER BY bands DESC"""

  /** LSH index cost planner (q256): the bucket-size distribution of
    * the q41 band index and the pair work it implies — Σ s(s−1)/2
    * over buckets is EXACTLY the candidate-pair volume the dedup join
    * will generate, and its concentration (largest bucket's share,
    * p99 bucket size) is the skew forecast that decides whether the
    * pair join needs bucket-size caps or salting BEFORE burning a
    * 100 TB pass (q117's key-skew advisor specialized to the LSH
    * workload). Output: one row per bucket-size class with bucket
    * count and pairs contributed, plus a TOTAL row with the grand
    * pair budget.
    *
    * Shape: the band relation collapses to bucket sizes (one partial
    * agg on (band, key)), sizes to the size histogram (second partial
    * agg, ≤|distinct sizes| rows); all arithmetic exact int64. */
  def q256LshCostPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sizes = minhashBands(s, d)
      .groupBy($"b", $"band_key").agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy($"sz")
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("pairs", expr("n_buckets * sz * (sz - 1) div 2"))
      .select($"sz", $"n_buckets", $"pairs")
    val total = hist.agg(sum($"n_buckets").as("n_buckets"),
        sum($"pairs").as("pairs"))
      .select(lit(0L).as("sz"), $"n_buckets", $"pairs")
    hist.filter($"sz" > 1L).unionByName(total).orderBy($"sz")
  }

  val q256Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       bands AS (
         SELECT doc_id, b,
           md5(array_to_string(list_transform(sig[b*3+1 : b*3+3], v -> v::VARCHAR), ',')) AS band_key
         FROM sig, (SELECT unnest(generate_series(0, 7)) AS b)),
       sizes AS (
         SELECT b, band_key, CAST(count(*) AS BIGINT) AS sz
         FROM bands GROUP BY 1, 2),
       hist AS (
         SELECT sz, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(*) * sz * (sz - 1) // 2 AS BIGINT) AS pairs
         FROM sizes GROUP BY sz),
       tot AS (
         SELECT CAST(0 AS BIGINT) AS sz,
           CAST(sum(n_buckets) AS BIGINT) AS n_buckets,
           CAST(sum(pairs) AS BIGINT) AS pairs
         FROM hist)
       SELECT * FROM (
         SELECT sz, n_buckets, pairs FROM hist WHERE sz > 1
         UNION ALL SELECT * FROM tot)
       ORDER BY sz"""

  /** Threshold-persistence clustering audit (q258): the q42 Jaccard
    * pair graph clustered at THREE similarity thresholds (≥ 0.50,
    * ≥ 0.70, ≥ 0.90), reporting components, covered docs, and the
    * largest cluster at each level — the single-linkage dendrogram
    * read at three heights. This is how you CHOOSE a dedup threshold
    * before committing a 100 TB pass: if the cluster count and giant-
    * component size change violently across the band, the corpus has
    * a chaining problem (transitive near-dups) and canonical-doc
    * selection (q102) needs the tighter cut; flat curves mean the
    * threshold is safe to relax for recall.
    *
    * Shape: the pair relation (the expensive distributed part) is
    * computed ONCE and checkpointed; the three thresholds then run as
    * ONE q71 two-tier component loop over the DISJOINT-UNION graph
    * with nodes (doc, tier) — encoded doc·4 + tier, decoded by pmod —
    * because components of a disjoint union are exactly the per-tier
    * components. The r14 shape ran the loop three times sequentially
    * (64 jobs at sf0.1, each paying contraction + convergence rounds
    * on a nested edge subset); the fused loop pays the round count of
    * the WIDEST tier once. Edges are nested by construction
    * (E₉₀ ⊆ E₇₀ ⊆ E₅₀), so cluster counts and coverage move
    * monotonically — the spec pins that. */
  def q258ThresholdPersistence(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = jaccardPairs(s, d)
      .select($"doc1", $"doc2", $"jaccard_bp")
      .filter($"jaccard_bp" >= 5000L)
      .localCheckpoint()
    val thresholds = Seq(5000L, 7000L, 9000L)
    val tiered = thresholds.zipWithIndex.map { case (thr, t) =>
      pairs.filter($"jaccard_bp" >= thr)
        .select(($"doc1" * 4 + t).as("doc1"), ($"doc2" * 4 + t).as("doc2"))
    }.reduce(_ unionByName _)
    val stats = minLabelComponents(tiered)
      .select(pmod($"doc_id", lit(4L)).as("t"), $"cluster_id")
      .groupBy($"t", $"cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy($"t").agg(count(lit(1)).as("cl"),
        sum($"sz").as("nd"), max($"sz").as("lg"))
    // a tier with no surviving edges has no nodes in the union graph:
    // the threshold axis re-materializes its all-zero row (the r14
    // empty-aggregate coalesce, kept exactly)
    thresholds.zipWithIndex.map { case (thr, t) => (thr, t.toLong) }
      .toDF("threshold_bp", "t")
      // stats is a ≤4-row bounded-domain aggregate (t = pmod 4): hint it
      // so the 3-row axis left-join never draws a sort-merge
      .join(broadcast(stats), Seq("t"), "left")
      .select($"threshold_bp",
        coalesce($"cl", lit(0L)).as("n_clusters"),
        coalesce($"nd", lit(0L)).as("n_docs"),
        coalesce($"lg", lit(0L)).as("largest"))
      .orderBy($"threshold_bp")
  }

  val q258Oracle: String =
    """WITH RECURSIVE tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       prs AS (
         SELECT doc1, doc2,
           CAST(floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jbp
         FROM inter
         JOIN nz sa ON doc1 = sa.doc_id
         JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 5000),
       e5 AS (SELECT doc1 AS a, doc2 AS b FROM prs WHERE jbp >= 5000
              UNION ALL SELECT doc2, doc1 FROM prs WHERE jbp >= 5000),
       e7 AS (SELECT doc1 AS a, doc2 AS b FROM prs WHERE jbp >= 7000
              UNION ALL SELECT doc2, doc1 FROM prs WHERE jbp >= 7000),
       e9 AS (SELECT doc1 AS a, doc2 AS b FROM prs WHERE jbp >= 9000
              UNION ALL SELECT doc2, doc1 FROM prs WHERE jbp >= 9000),
       r5(doc_id, r) AS (
         SELECT DISTINCT a, a FROM e5
         UNION SELECT e.b, r5.r FROM r5 JOIN e5 e ON e.a = r5.doc_id),
       r7(doc_id, r) AS (
         SELECT DISTINCT a, a FROM e7
         UNION SELECT e.b, r7.r FROM r7 JOIN e7 e ON e.a = r7.doc_id),
       r9(doc_id, r) AS (
         SELECT DISTINCT a, a FROM e9
         UNION SELECT e.b, r9.r FROM r9 JOIN e9 e ON e.a = r9.doc_id),
       c5 AS (SELECT doc_id, min(r) AS c FROM r5 GROUP BY doc_id),
       c7 AS (SELECT doc_id, min(r) AS c FROM r7 GROUP BY doc_id),
       c9 AS (SELECT doc_id, min(r) AS c FROM r9 GROUP BY doc_id),
       s5 AS (SELECT c, CAST(count(*) AS BIGINT) AS sz FROM c5 GROUP BY c),
       s7 AS (SELECT c, CAST(count(*) AS BIGINT) AS sz FROM c7 GROUP BY c),
       s9 AS (SELECT c, CAST(count(*) AS BIGINT) AS sz FROM c9 GROUP BY c)
       SELECT * FROM (
         SELECT CAST(5000 AS BIGINT) AS threshold_bp,
           CAST(coalesce(count(*), 0) AS BIGINT) AS n_clusters,
           CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_docs,
           CAST(coalesce(max(sz), 0) AS BIGINT) AS largest FROM s5
         UNION ALL
         SELECT CAST(7000 AS BIGINT),
           CAST(coalesce(count(*), 0) AS BIGINT),
           CAST(coalesce(sum(sz), 0) AS BIGINT),
           CAST(coalesce(max(sz), 0) AS BIGINT) FROM s7
         UNION ALL
         SELECT CAST(9000 AS BIGINT),
           CAST(coalesce(count(*), 0) AS BIGINT),
           CAST(coalesce(sum(sz), 0) AS BIGINT),
           CAST(coalesce(max(sz), 0) AS BIGINT) FROM s9)
       ORDER BY threshold_bp"""

  /** Dedup-aggressiveness sensitivity curve: how much duplicate mass
    * each canonicalization tier surfaces, on the same corpus, under
    * three progressively looser keys — exact text, the sorted token
    * multiset (word-order-insensitive "bag" dedup), and the first-16-
    * token prefix (template/header dedup). The three dup rates are the
    * decision table behind "which dedup level do we run": both loose
    * tiers SUBSUME the exact tier (an exact dup collides under any
    * derived key), but they answer different questions off that base —
    * the bag key is order-insensitive, the prefix key is order-
    * sensitive, so neither contains the other (`DedupTierSpec` plants
    * a reordered pair that only the bag tier catches).
    *
    * Shape: ONE scan explodes each doc into its 3 (tier, key60) rows
    * (keys are 60-bit hashes computed scan-side — strings never
    * shuffle), one (tier, key) partial-agg groupBy, one per-tier
    * roll-up. Scale: the shuffle is 3N hash rows; cluster fan-in is
    * bounded by duplicate multiplicity like q40. */
  def q274DedupTiers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyed = Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("tk"), $"text")
      .select(explode(array(
        struct(lit("1_exact").as("tier"), hash60($"text").as("k")),
        struct(lit("2_bag").as("tier"),
          hash60(array_join(array_sort($"tk"), " ")).as("k")),
        struct(lit("3_prefix16").as("tier"),
          hash60(array_join(slice($"tk", 1, 16), " ")).as("k")))).as("tk2"))
      .select($"tk2.tier", $"tk2.k")
    val tot = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    keyed.groupBy($"tier", $"k").agg(count(lit(1)).as("cnt"))
      .groupBy($"tier")
      .agg(sum(when($"cnt" >= 2, 1L).otherwise(0L)).as("n_clusters"),
        sum(when($"cnt" >= 2, $"cnt").otherwise(0L)).as("n_dup_docs"),
        sum(when($"cnt" >= 2, $"cnt" - 1).otherwise(0L)).as("n_removable"))
      .crossJoin(broadcast(tot))
      .withColumn("dup_permille", expr("n_removable * 1000 div n_docs"))
      .select($"tier", $"n_clusters", $"n_dup_docs", $"n_removable",
        $"dup_permille")
      .orderBy($"tier")
  }

  val q274Oracle: String =
    """WITH tk AS (
         SELECT doc_id, text,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
         FROM documents),
       keyed AS (
         SELECT '1_exact' AS tier,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS k FROM tk
         UNION ALL
         SELECT '2_bag',
           ('0x' || substr(md5(list_aggregate(list_sort(tk), 'string_agg', ' ')), 1, 15))::BIGINT
         FROM tk
         UNION ALL
         SELECT '3_prefix16',
           ('0x' || substr(md5(list_aggregate(tk[1:16], 'string_agg', ' ')), 1, 15))::BIGINT
         FROM tk),
       cl AS (SELECT tier, k, CAST(count(*) AS BIGINT) AS cnt FROM keyed GROUP BY 1, 2),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       SELECT tier,
         CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
         CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_docs,
         CAST(sum(CASE WHEN cnt >= 2 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS n_removable,
         CAST(sum(CASE WHEN cnt >= 2 THEN cnt - 1 ELSE 0 END) * 1000 // n_docs AS BIGINT) AS dup_permille
       FROM cl CROSS JOIN tot GROUP BY tier, n_docs ORDER BY tier"""

  /** MinHash Jaccard-estimator error audit: for the top-50 exact
    * near-dup pairs (the shared q42 relation), compare the 24-hash
    * MinHash estimate  n_eq/24  against the exact shingle Jaccard —
    * the sketch-error counterpart of q288's recall audit (every
    * approximation in the engine ships with its own error
    * measurement). Theory says stderr ≈ √(j(1−j)/24) ≈ 10 bp·100 at
    * j≈0.5; the reported mean-absolute-error pins what THIS corpus
    * actually sees, md5 domains and 28-bit collisions included.
    *
    * Scale: both inputs are shared relations (exact pairs: banded
    * inverted index; signatures: one compiled pass + 24-column
    * min-agg); the audit itself joins 50 rows against the
    * vocab-bounded signature table. */
  def q289MinhashErrorAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = jaccardPairs(s, d)
      .orderBy($"jaccard_bp".desc, $"doc1", $"doc2").limit(50)
      .select($"doc1", $"doc2", $"jaccard_bp")
    val sigs = minhashSigs(s, d)
    val base = exact
      .join(sigs.select($"doc_id".as("doc1"), $"sig".as("sig1")), "doc1")
      .join(sigs.select($"doc_id".as("doc2"), $"sig".as("sig2")), "doc2")
      .withColumn("n_eq", sigAgreement($"sig1", $"sig2").cast("long"))
      .select($"doc1", $"doc2", $"jaccard_bp", $"n_eq")
      .withColumn("est_bp", expr("(n_eq * 10000) div 24"))
      .withColumn("err_bp", $"est_bp" - $"jaccard_bp")
    val m = base.agg(expr("sum(abs(err_bp)) div count(1)").as("mae_bp"))
    base.crossJoin(broadcast(m))
      .select($"doc1", $"doc2", $"jaccard_bp", $"n_eq", $"est_bp",
        $"err_bp", $"mae_bp")
      .orderBy($"doc1", $"doc2")
  }

  val q289Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       cand AS (
         SELECT doc1, doc2,
           CAST(floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_bp
         FROM inter
         JOIN nz sa ON doc1 = sa.doc_id
         JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       top AS (SELECT doc1, doc2, jaccard_bp FROM cand
               ORDER BY jaccard_bp DESC, doc1, doc2 LIMIT 50),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       base AS (
         SELECT t.doc1, t.doc2, t.jaccard_bp,
           CAST(len(list_filter(list_zip(s1.sig, s2.sig), p -> p[1] = p[2])) AS BIGINT) AS n_eq
         FROM top t
         JOIN sig s1 ON t.doc1 = s1.doc_id
         JOIN sig s2 ON t.doc2 = s2.doc_id),
       ext AS (SELECT *, (n_eq * 10000) // 24 AS est_bp,
                 (n_eq * 10000) // 24 - jaccard_bp AS err_bp FROM base),
       m AS (SELECT CAST(sum(abs(err_bp)) AS BIGINT) // count(*) AS mae_bp FROM ext)
       SELECT doc1, doc2, jaccard_bp, n_eq, est_bp, err_bp, mae_bp
       FROM ext, m ORDER BY doc1, doc2"""


  /** LSH candidate-generation quality eval (q295): pairwise precision /
    * recall / F1 of the MinHash-LSH candidate pairs (q41: any shared
    * (band, key) bucket) against the exact-Jaccard truth pairs (q42:
    * distinct-shingle Jaccard ≥ 0.05) — the acceptance gate before
    * trusting banded LSH as the dedup scale path, and the measured
    * counterpart of q256's analytic cost/recall planner (q256 predicts
    * the candidate budget; this measures what the bands actually
    * caught). One row: pair counts, TP/FP/FN, and bp metrics — exact
    * integer arithmetic throughout.
    *
    * Scale: both pair relations are the shared banded/inverted-index
    * shapes (never all-pairs); the eval is a full-outer join of two
    * pair sets already thresholded to near-dup density. */
  def q295LshPairEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cand = q41MinhashLsh(s, d).select($"doc1", $"doc2", lit(1L).as("c"))
    val truth = jaccardPairs(s, d).select($"doc1", $"doc2", lit(1L).as("t"))
    val j = cand.join(truth, Seq("doc1", "doc2"), "full_outer")
      .select(coalesce($"c", lit(0L)).as("c"), coalesce($"t", lit(0L)).as("t"))
    j.agg(
        sum($"c").as("n_cand"), sum($"t").as("n_truth"),
        sum($"c" * $"t").as("tp"),
        sum($"c" * (lit(1L) - $"t")).as("fp"),
        sum((lit(1L) - $"c") * $"t").as("fn"))
      .select($"n_cand", $"n_truth", $"tp", $"fp", $"fn",
        expr("(10000 * tp) div n_cand").as("precision_bp"),
        expr("(10000 * tp) div n_truth").as("recall_bp"),
        expr("(20000 * tp) div (n_cand + n_truth)").as("f1_bp"))
  }

  val q295Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       truth AS (
         SELECT doc1, doc2, CAST(1 AS BIGINT) AS t
         FROM inter
         JOIN nz sa ON doc1 = sa.doc_id
         JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       bands AS (
         SELECT doc_id, b,
           md5(array_to_string(list_transform(sig[b*3+1 : b*3+3], v -> v::VARCHAR), ',')) AS band_key
         FROM sig, (SELECT unnest(generate_series(0, 7)) AS b)),
       cand AS (
         SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2, CAST(1 AS BIGINT) AS c
         FROM bands l JOIN bands r
           ON l.b = r.b AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
       j AS (
         SELECT COALESCE(c, 0) AS c, COALESCE(t, 0) AS t
         FROM cand FULL OUTER JOIN truth USING (doc1, doc2))
       SELECT CAST(sum(c) AS BIGINT) AS n_cand, CAST(sum(t) AS BIGINT) AS n_truth,
         CAST(sum(c * t) AS BIGINT) AS tp,
         CAST(sum(c * (1 - t)) AS BIGINT) AS fp,
         CAST(sum((1 - c) * t) AS BIGINT) AS fn,
         (10000 * CAST(sum(c * t) AS BIGINT)) // CAST(sum(c) AS BIGINT) AS precision_bp,
         (10000 * CAST(sum(c * t) AS BIGINT)) // CAST(sum(t) AS BIGINT) AS recall_bp,
         (20000 * CAST(sum(c * t) AS BIGINT))
           // (CAST(sum(c) AS BIGINT) + CAST(sum(t) AS BIGINT)) AS f1_bp
       FROM j"""


  /** Capture–recapture estimate of the near-dup population (q297,
    * Chapman's Lincoln–Petersen): treat the SimHash detector (hamming
    * ≤ 3) and the MinHash detector (≥ 12/24 signature agreement) as
    * two independent samples of the unknown true near-dup pair
    * population; the overlap m then estimates the total as
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the standard ecology estimator,
    * applied to "how many near-dup pairs exist that NEITHER detector
    * caught?" (the question per-detector recall can't answer without
    * ground truth). Per-detector coverage is reported against N̂.
    *
    * Exact: counts and N̂ are integer; only the Chapman standard error
    * takes one identical IEEE sqrt (the 4-term product is formed in
    * double — at extreme scale it would exceed int64). Both pair
    * relations are the shared banded shapes. */
  def q297CaptureRecapture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val s1 = simhashPairs(s, d).select($"doc1", $"doc2").localCheckpoint()
    val s2 = q41MinhashLsh(s, d).filter($"n_sig_equal" >= 12)
      .select($"doc1", $"doc2").localCheckpoint()
    val n1 = s1.agg(count(lit(1)).as("n1"))
    val n2 = s2.agg(count(lit(1)).as("n2"))
    val m = s1.join(s2, Seq("doc1", "doc2"), "left_semi")
      .agg(count(lit(1)).as("m"))
    n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
      .withColumn("nhat", expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1"))
      .withColumn("se_milli", expr("""CAST(floor(sqrt(
          (n1 + 1.0) * (n2 + 1) * (n1 - m) * (n2 - m)
          / (((m + 1.0) * (m + 1)) * (m + 2))) * 1000.0) AS BIGINT)"""))
      .select($"n1", $"n2", $"m", $"nhat", $"se_milli",
        expr("(10000 * n1) div nhat").as("cov1_bp"),
        expr("(10000 * n2) div nhat").as("cov2_bp"))
  }

  val q297Oracle: String = {
    val minhashCte = """
       mtk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       msh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM mtk),
       mhs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM msh WHERE len(shd) > 0),
       msig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs,
               h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM mhs),
       mbands AS (
         SELECT doc_id, sig, b,
           md5(array_to_string(list_transform(sig[b*3+1 : b*3+3], v -> v::VARCHAR), ',')) AS band_key
         FROM msig, (SELECT unnest(generate_series(0, 7)) AS b)),
       s2 AS (
         SELECT doc1, doc2 FROM (
           SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2,
             len(list_filter(list_zip(l.sig, r.sig), p -> p[1] = p[2])) AS n_sig_equal
           FROM mbands l JOIN mbands r
             ON l.b = r.b AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
         WHERE n_sig_equal >= 12)"""
    s"""WITH $simhashPairsWith,
       s1 AS (SELECT doc1, doc2 FROM prs WHERE bit_count(xor(s1, s2)) <= 3),
       $minhashCte,
       c1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM s1),
       c2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM s2),
       cm AS (SELECT CAST(count(*) AS BIGINT) AS m
              FROM s1 SEMI JOIN s2 USING (doc1, doc2))
       SELECT n1, n2, m,
         ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS nhat,
         CAST(floor(sqrt(
           (n1 + 1.0) * (n2 + 1) * (n1 - m) * (n2 - m)
           / (((m + 1.0) * (m + 1)) * (m + 2))) * 1000.0) AS BIGINT) AS se_milli,
         (10000 * n1) // (((n1 + 1) * (n2 + 1)) // (m + 1) - 1) AS cov1_bp,
         (10000 * n2) // (((n1 + 1) * (n2 + 1)) // (m + 1) - 1) AS cov2_bp
       FROM c1, c2, cm"""
  }


  /** Bloom-filter sizing planner (q351): the capacity table behind
    * q49's decontamination bloom — for the measured distinct-key
    * cardinality and a sweep of target FPRs, the textbook optimum
    * m = −n·ln(ε)/ln²2 bits and k = log₂(1/ε) hashes, plus the
    * bytes and bits-per-key the operator actually costs. Planning is
    * deterministic (q307/q342 pattern: the engine ships the table,
    * the build consumes it); one distinct-count scan × a 4-row
    * literal ε dim; ln on exact rationals, ceil once. */
  def q351BloomPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = Tables.lineitem(s, d)
      .agg(countDistinct($"l_partkey").as("n_keys"))
    val eps = Seq(10L, 100L, 1000L, 10000L).toDF("fpr_recip")
    keys.crossJoin(broadcast(eps))
      .selectExpr("n_keys", "fpr_recip",
        "CAST(ceil(- CAST(n_keys AS DOUBLE) * ln(1.0 / fpr_recip) / (ln(2.0) * ln(2.0))) AS BIGINT) AS m_bits",
        "CAST(ceil(ln(CAST(fpr_recip AS DOUBLE)) / ln(2.0)) AS BIGINT) AS k_hashes")
      .selectExpr("n_keys", "fpr_recip", "m_bits", "k_hashes",
        "(m_bits + 7) div 8 AS bytes",
        "CAST(floor(CAST(m_bits AS DOUBLE) / n_keys * 100.0) AS BIGINT) AS bits_per_key_centi")
      .orderBy($"fpr_recip")
  }

  val q351Oracle: String =
    """WITH keys AS (
         SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys FROM lineitem),
       eps AS (SELECT CAST(unnest([10, 100, 1000, 10000]) AS BIGINT) AS fpr_recip),
       plan AS (
         SELECT k.n_keys, e.fpr_recip,
           CAST(ceil(- CAST(k.n_keys AS DOUBLE) * ln(1.0 / e.fpr_recip) / (ln(2.0) * ln(2.0))) AS BIGINT) AS m_bits,
           CAST(ceil(ln(CAST(e.fpr_recip AS DOUBLE)) / ln(2.0)) AS BIGINT) AS k_hashes
         FROM keys k CROSS JOIN eps e)
       SELECT n_keys, fpr_recip, m_bits, k_hashes,
         (m_bits + 7) // 8 AS bytes,
         CAST(floor(CAST(m_bits AS DOUBLE) / n_keys * 100.0) AS BIGINT) AS bits_per_key_centi
       FROM plan ORDER BY fpr_recip"""

  /** MinHash signature-size ablation (q39, Broder 1997 estimator
    * variance made empirical): the 24-hash signature's Jaccard
    * estimate n_eq/k is rerun at k ∈ {8, 16, 24} — each k uses the
    * PREFIX of the one shared signature, so the sweep costs zero extra
    * signature computation — and scored against the exact shingle
    * Jaccard on the q289 top-50 pair relation. Theory: stderr ∝ 1/√k,
    * so MAE should fall ≈ √3 from k=8 to k=24; the table pins what
    * this corpus actually pays for shorter sketches — the sizing
    * evidence behind q256's cost planner.
    *
    * Shape: the q289 skeleton (top-50 cut + equi-joins against the
    * vocab-bounded signature table) with a 3-row k-grid explode;
    * everything after the cut is 150 rows. */
  def q39MinhashKAblation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val top = jaccardPairs(s, d)
      .orderBy($"jaccard_bp".desc, $"doc1", $"doc2").limit(50)
      .select($"doc1", $"doc2", $"jaccard_bp")
    val sigs = minhashSigs(s, d)
    top
      .join(sigs.select($"doc_id".as("doc1"), $"sig".as("sig1")), "doc1")
      .join(sigs.select($"doc_id".as("doc2"), $"sig".as("sig2")), "doc2")
      .select($"jaccard_bp", $"sig1", $"sig2",
        explode(typedLit(Seq(8L, 16L, 24L))).as("k"))
      .withColumn("n_eq", sigAgreement(
          slice($"sig1", lit(1), $"k".cast("int")),
          slice($"sig2", lit(1), $"k".cast("int"))).cast("long"))
      .withColumn("err_bp", expr("(n_eq * 10000) div k - jaccard_bp"))
      .groupBy($"k")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs(err_bp)) div count(1)").as("mae_bp"),
        max(abs($"err_bp")).as("max_err_bp"))
      .orderBy($"k")
  }

  val q39Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       cand AS (
         SELECT doc1, doc2,
           CAST(floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_bp
         FROM inter
         JOIN nz sa ON doc1 = sa.doc_id
         JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       top AS (SELECT doc1, doc2, jaccard_bp FROM cand
               ORDER BY jaccard_bp DESC, doc1, doc2 LIMIT 50),
       hs AS (
         SELECT doc_id,
           list_transform(shd, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         FROM sh WHERE len(shd) > 0),
       sig AS (
         SELECT doc_id,
           list_transform(generate_series(0, 23),
             i -> list_min(list_transform(hs, h -> ((2*i+1)*h + i) % 2147483647))) AS sig
         FROM hs),
       ks AS (SELECT CAST(unnest([8, 16, 24]) AS BIGINT) AS k),
       base AS (
         SELECT k.k, t.jaccard_bp,
           CAST(len(list_filter(list_zip(s1.sig[1:CAST(k.k AS INTEGER)], s2.sig[1:CAST(k.k AS INTEGER)]),
             p -> p[1] = p[2])) AS BIGINT) AS n_eq
         FROM top t
         JOIN sig s1 ON t.doc1 = s1.doc_id
         JOIN sig s2 ON t.doc2 = s2.doc_id
         CROSS JOIN ks k),
       ext AS (SELECT k, (n_eq * 10000) // k - jaccard_bp AS err_bp FROM base)
       SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(abs(err_bp)) AS BIGINT) // count(*) AS mae_bp,
         CAST(max(abs(err_bp)) AS BIGINT) AS max_err_bp
       FROM ext GROUP BY k ORDER BY k"""

  /** Near-dup TRANSITIVITY audit (q251): Jaccard similarity is not
    * transitive — A~B and B~C do not imply A~C — yet connected-
    * component dedup (q71) treats the pair graph as if it were,
    * merging whole components through chains. This op measures how
    * wrong that is on THIS corpus: of all wedges u–v–w in the q42
    * pair graph, what fraction closes into a triangle (global
    * clustering coefficient, in bp). High closure = components are
    * near-cliques and component-dedup is safe; low closure = chaining
    * is collapsing distinct documents through weak middlemen and the
    * threshold (or a stricter verifier pass) needs revisiting.
    *
    * Shape: the pair relation is the shared banded inverted-index
    * output (never all pairs), checkpointed once and reused by all
    * three counts; wedges join pair-adjacency against itself on the
    * shared endpoint — bounded by per-node degree in the SPARSE dup
    * graph, not by corpus size. */
  def q251DedupTransitivity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val prs = jaccardPairs(s, d).select($"doc1", $"doc2").localCheckpoint()
    val e = prs.select($"doc1".as("a"), $"doc2".as("b"))
      .unionByName(prs.select($"doc2".as("a"), $"doc1".as("b")))
    val wedge = e.as("e1").join(e.as("e2"),
        col("e1.b") === col("e2.a") && col("e1.a") < col("e2.b"))
      .select(col("e1.a").as("u"), col("e2.b").as("w"))
    val np = prs.agg(count(lit(1)).as("n_pairs"))
    val nw = wedge.agg(count(lit(1)).as("n_wedges"))
    val nc = wedge.join(prs, $"u" === $"doc1" && $"w" === $"doc2", "left_semi")
      .agg(count(lit(1)).as("n_closed"))
    np.crossJoin(broadcast(nw)).crossJoin(broadcast(nc))
      .select($"n_pairs", $"n_wedges", $"n_closed",
        when($"n_wedges" > 0, expr("n_closed * 10000 div n_wedges"))
          .otherwise(lit(-1L)).as("closure_bp"))
  }

  val q251Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id, unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       prs AS (
         SELECT doc1, doc2 FROM inter
         JOIN nz sa ON doc1 = sa.doc_id JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       e AS (SELECT doc1 AS a, doc2 AS b FROM prs UNION ALL SELECT doc2, doc1 FROM prs),
       wedge AS (
         SELECT e1.a AS u, e2.b AS w
         FROM e e1 JOIN e e2 ON e1.b = e2.a AND e1.a < e2.b),
       closed AS (
         SELECT count(*) AS n_closed FROM wedge
         JOIN prs p ON wedge.u = p.doc1 AND wedge.w = p.doc2),
       tot AS (SELECT count(*) AS n_wedges FROM wedge)
       SELECT CAST((SELECT count(*) FROM prs) AS BIGINT) AS n_pairs,
         CAST(n_wedges AS BIGINT) AS n_wedges,
         CAST(n_closed AS BIGINT) AS n_closed,
         CAST(CASE WHEN n_wedges > 0 THEN n_closed * 10000 // n_wedges ELSE -1 END AS BIGINT) AS closure_bp
       FROM tot CROSS JOIN closed"""

  /** Sampled-dedup bias audit (q390): dedup piloted on a corpus SAMPLE
    * systematically under-detects — a pair survives a rate-q sample
    * only when BOTH endpoints survive (≈ q²), so the sampled dup RATE
    * reads low by ≈ q even though doc counts scale by q. Measured
    * exactly here under the engine's deterministic hash sample (the
    * q38/q96 splitter at q = 1/2): pair survival vs the q²
    * expectation, and the sampled-vs-full dup-rate ratio — the
    * correction factor to apply before extrapolating a pilot-sample
    * dedup study to the full corpus. Sample membership is a pure
    * function of doc_id, so it is a FILTER on the shared pair
    * relation, never a join. */
  def q390SampledDedupBias(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def samp(c: String) = knuthHash(col(c)) % lit(4294967296L) < lit(2147483648L)
    val prs = jaccardPairs(s, d).select($"doc1", $"doc2").localCheckpoint()
    val sp = prs.filter(samp("doc1") && samp("doc2"))
      .localCheckpoint()
    val nd = Tables.documents(s, d).agg(
      count(lit(1)).as("n_docs"),
      count(when(samp("doc_id"), lit(1))).as("n_samp"))
    val fullP = prs.agg(count(lit(1)).as("pairs_full"))
    val sampP = sp.agg(count(lit(1)).as("pairs_samp"))
    val dupF = prs.select(explode(array($"doc1", $"doc2")).as("d"))
      .agg(countDistinct($"d").as("dup_docs_full"))
    val dupS = sp.select(explode(array($"doc1", $"doc2")).as("d"))
      .agg(countDistinct($"d").as("dup_docs_samp"))
    nd.crossJoin(broadcast(fullP)).crossJoin(broadcast(sampP))
      .crossJoin(broadcast(dupF)).crossJoin(broadcast(dupS))
      .select($"n_docs", $"n_samp", $"pairs_full", $"pairs_samp",
        when($"pairs_full" > 0, expr("pairs_samp * 10000 div pairs_full"))
          .otherwise(lit(-1L)).as("pair_survival_bp"),
        expr("(n_samp * 10000 div n_docs) * (n_samp * 10000 div n_docs) div 10000")
          .as("expected_survival_bp"),
        $"dup_docs_full", $"dup_docs_samp",
        when($"dup_docs_full" > 0,
          expr("(dup_docs_samp * 10000 div n_samp) * 10000 div (dup_docs_full * 10000 div n_docs)"))
          .otherwise(lit(-1L)).as("dup_rate_ratio_bp"))
  }

  val q390Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id, unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       prs AS (
         SELECT doc1, doc2 FROM inter
         JOIN nz sa ON doc1 = sa.doc_id JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       sp AS (
         SELECT doc1, doc2 FROM prs
         WHERE ((doc1 % 2147483648) * 2654435761) % 4294967296 < 2147483648
           AND ((doc2 % 2147483648) * 2654435761) % 4294967296 < 2147483648),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 2147483648 THEN 1 END) AS BIGINT) AS n_samp
              FROM documents),
       fp AS (SELECT CAST(count(*) AS BIGINT) AS pairs_full FROM prs),
       spc AS (SELECT CAST(count(*) AS BIGINT) AS pairs_samp FROM sp),
       df AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS dup_docs_full FROM (SELECT doc1 AS d FROM prs UNION ALL SELECT doc2 FROM prs) u),
       ds AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS dup_docs_samp FROM (SELECT doc1 AS d FROM sp UNION ALL SELECT doc2 FROM sp) u)
       SELECT n_docs, n_samp, pairs_full, pairs_samp,
         CAST(CASE WHEN pairs_full > 0 THEN pairs_samp * 10000 // pairs_full ELSE -1 END AS BIGINT) AS pair_survival_bp,
         (n_samp * 10000 // n_docs) * (n_samp * 10000 // n_docs) // 10000 AS expected_survival_bp,
         dup_docs_full, dup_docs_samp,
         CAST(CASE WHEN dup_docs_full > 0
           THEN (dup_docs_samp * 10000 // n_samp) * 10000 // (dup_docs_full * 10000 // n_docs) ELSE -1 END AS BIGINT) AS dup_rate_ratio_bp
       FROM nd CROSS JOIN fp CROSS JOIN spc CROSS JOIN df CROSS JOIN ds"""

  /** Dedup threshold savings curve (q393): for each Jaccard threshold,
    * the surviving pair count, docs touched, and the removable-doc
    * rate (min-id survivor policy: every doc2 of a surviving pair is
    * removable) — the operating-point curve a dedup rollout reads
    * BEFORE committing to a threshold, from ONE pass over the shared
    * banded pair relation (the threshold sweep is a 4-row grid join,
    * not 4 pair computations). */
  def q393DedupThresholdCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val prs = jaccardPairs(s, d)
      .select($"doc1", $"doc2", $"jaccard_bp").localCheckpoint()
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val th = Seq(500L, 2000L, 5000L, 8000L).toDF("thr")
    val joined = th.join(prs, $"jaccard_bp" >= $"thr", "left")
    val pairsPer = joined.groupBy($"thr")
      .agg(count($"doc1").as("n_pairs"))
    val affPer = joined
      .select($"thr", explode(array($"doc1", $"doc2")).as("dd"))
      .groupBy($"thr")
      .agg(countDistinct($"dd").as("docs_affected"))
    val remPer = joined.groupBy($"thr")
      .agg(countDistinct($"doc2").as("docs_removable"))
    pairsPer.join(affPer, "thr").join(remPer, "thr")
      .crossJoin(broadcast(nd))
      .select($"thr", $"n_pairs", $"docs_affected", $"docs_removable",
        expr("docs_removable * 10000 div n_docs").as("removable_bp"))
      .orderBy($"thr")
  }

  val q393Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id, unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       prs AS (
         SELECT doc1, doc2,
           CAST(floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_bp
         FROM inter
         JOIN nz sa ON doc1 = sa.doc_id JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 500),
       th AS (SELECT CAST(unnest([500, 2000, 5000, 8000]) AS BIGINT) AS thr),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       SELECT thr,
         CAST((SELECT count(*) FROM prs WHERE jaccard_bp >= thr) AS BIGINT) AS n_pairs,
         CAST((SELECT count(DISTINCT dd) FROM (SELECT doc1 AS dd FROM prs WHERE jaccard_bp >= thr
           UNION ALL SELECT doc2 FROM prs WHERE jaccard_bp >= thr) u) AS BIGINT) AS docs_affected,
         CAST((SELECT count(DISTINCT doc2) FROM prs WHERE jaccard_bp >= thr) AS BIGINT) AS docs_removable,
         CAST((SELECT count(DISTINCT doc2) FROM prs WHERE jaccard_bp >= thr) * 10000 // n_docs AS BIGINT) AS removable_bp
       FROM th CROSS JOIN nd ORDER BY thr"""

  /** Dup family size distribution (q399): the component-size histogram
    * of the simhash near-dup graph — how much of the dup mass sits in
    * big template families vs isolated pairs. The removable count per
    * family is size−1 (min-id survivor), so the histogram directly
    * prices the dedup: Σ (size−1)·n_families. Heavy tails here mean a
    * handful of template families dominate and targeted boilerplate
    * rules (q268) beat pairwise dedup on cost.
    *
    * Shape: q71's bounded component loop on the edge residue; the
    * histogram is a two-level aggregate over the label relation. */
  def q399DupFamilySizes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cl = minLabelComponents(simhashPairs(s, d).select($"doc1", $"doc2"))
    cl.groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz")
      .agg(count(lit(1)).as("n_families"),
        min($"cluster_id").as("example_family"))
      .select($"sz".as("family_size"), $"n_families",
        ($"sz" * $"n_families").as("n_docs"),
        (($"sz" - 1) * $"n_families").as("n_removable"),
        $"example_family")
      .orderBy($"family_size")
  }

  val q399Oracle: String =
    s"""WITH RECURSIVE $simhashPairsWith,
       good AS (
         SELECT doc1, doc2 FROM prs WHERE bit_count(xor(s1, s2)) <= 3),
       edges AS (
         SELECT doc1 AS a, doc2 AS b FROM good
         UNION ALL SELECT doc2, doc1 FROM good),
       reach(doc_id, r) AS (
         SELECT DISTINCT a, a FROM edges
         UNION
         SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc_id),
       cl AS (SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              FROM reach GROUP BY doc_id),
       fam AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM cl GROUP BY cluster_id)
       SELECT sz AS family_size, CAST(count(*) AS BIGINT) AS n_families,
         sz * CAST(count(*) AS BIGINT) AS n_docs,
         (sz - 1) * CAST(count(*) AS BIGINT) AS n_removable,
         CAST(min(cluster_id) AS BIGINT) AS example_family
       FROM fam GROUP BY sz ORDER BY family_size"""


  /** Shard-local dedup loss (q436): if near-dup detection runs
    * independently inside each shard, every dup pair whose two docs
    * land on DIFFERENT shards is invisible — this measures that loss
    * on the real near-dup pair set (q42's 3-gram Jaccard pairs at
    * ≥0.5), under two placement schemes and two shard counts: id-hash
    * placement (splits an expected (S−1)/S of pairs — dedup loses
    * almost everything as S grows) vs content placement by the doc's
    * MIN SHINGLE HASH (the MinHash co-location trick: near-dups share
    * their minimum shingle with probability ≈ their Jaccard, so most
    * dup pairs land together at ANY shard count). The measured gap is
    * the design argument for content-keyed routing in a sharded
    * dedup pipeline.
    *
    * Scale: the pair relation comes from the shared banded/inverted
    * pair engine (one pass); shard keys join on doc keys
    * (pair-relation-sized); the (scheme × S) grid is a literal
    * explode over a broadcast 2-row grid — no pass is added per
    * configuration. */
  def q436ShardLocalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = jaccardPairs(s, d).filter($"jaccard_bp" >= 5000)
      .select($"doc1", $"doc2")
    val keys = Tables.documents(s, d).select($"doc_id",
        hash60($"doc_id".cast("string")).as("idh"),
        array_min(graft.functions.TextExprs.shingle_hashes($"text", 3, 15))
          .as("mh"))
    val enriched = pairs
      .join(keys.select($"doc_id".as("doc1"), $"idh".as("id1"), $"mh".as("mh1")), "doc1")
      .join(keys.select($"doc_id".as("doc2"), $"idh".as("id2"), $"mh".as("mh2")), "doc2")
    enriched.crossJoin(broadcast(Seq(4L, 16L).toDF("s_shards")))
      .select($"s_shards", explode(array(
        struct(lit("id_hash").as("scheme"),
          (($"id1" % $"s_shards") === ($"id2" % $"s_shards")).cast("long").as("co")),
        struct(lit("content_minhash").as("scheme"),
          (($"mh1" % $"s_shards") === ($"mh2" % $"s_shards")).cast("long").as("co")))).as("x"))
      .groupBy($"x.scheme".as("scheme"), $"s_shards")
      .agg(count(lit(1)).as("n_pairs"), sum($"x.co").as("colocated"))
      .select($"scheme", $"s_shards", $"n_pairs", $"colocated",
        expr("(n_pairs - colocated) * 10000 div n_pairs").as("split_bp"),
        when($"scheme" === "id_hash",
          expr("(s_shards - 1) * 10000 div s_shards")).otherwise(-1L)
          .as("expected_split_bp"))
      .orderBy($"scheme", $"s_shards")
  }

  val q436Oracle: String =
    """WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(text,'\s+'), t -> t <> '') AS tk
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [] END) AS shd
         FROM tk),
       nz AS (SELECT doc_id, shd, len(shd) AS n_sh FROM sh WHERE len(shd) > 0),
       inv AS (SELECT doc_id,
                 unnest(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
               FROM nz),
       inter AS (
         SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       pairs AS (
         SELECT doc1, doc2 FROM inter
         JOIN nz sa ON doc1 = sa.doc_id
         JOIN nz sb ON doc2 = sb.doc_id
         WHERE floor(inter * 10000.0 / (sa.n_sh + sb.n_sh - inter)) >= 5000),
       keys_ AS (
         SELECT doc_id,
                ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS idh,
                list_min(list_transform(shd, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS mh
         FROM nz),
       enriched AS (
         SELECT p.doc1, p.doc2, a.idh AS id1, a.mh AS mh1, b.idh AS id2, b.mh AS mh2
         FROM pairs p JOIN keys_ a ON p.doc1 = a.doc_id JOIN keys_ b ON p.doc2 = b.doc_id),
       grid AS (SELECT CAST(unnest([4, 16]) AS BIGINT) AS s_shards),
       fan AS (
         SELECT 'id_hash' AS scheme, s_shards,
                CASE WHEN id1 % s_shards = id2 % s_shards THEN 1 ELSE 0 END AS co
         FROM enriched, grid
         UNION ALL
         SELECT 'content_minhash', s_shards,
                CASE WHEN mh1 % s_shards = mh2 % s_shards THEN 1 ELSE 0 END
         FROM enriched, grid),
       agg AS (
         SELECT scheme, s_shards, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(co) AS BIGINT) AS colocated
         FROM fan GROUP BY 1, 2)
       SELECT scheme, s_shards, n_pairs, colocated,
              (n_pairs - colocated) * 10000 // n_pairs AS split_bp,
              CASE WHEN scheme = 'id_hash' THEN (s_shards - 1) * 10000 // s_shards
                   ELSE -1 END AS expected_split_bp
       FROM agg ORDER BY scheme, s_shards"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q436_shard_local_dedup", q436ShardLocalDedup, q436Oracle,
        Hooks(nonEmpty, range("split_bp", 0, 10000))),
      Query("q39_minhash_k_ablation", q39MinhashKAblation, q39Oracle,
        Hooks(nonEmpty, range("mae_bp", 0, 10000), range("max_err_bp", 0, 10000))),
      Query("q399_dup_family_sizes", q399DupFamilySizes, q399Oracle, NoBound(Structural)),
      Query("q390_sampled_dedup_bias", q390SampledDedupBias, q390Oracle,
        Hooks(nonEmpty, range("pair_survival_bp", 0, 10000), range("expected_survival_bp", 0, 10000))),
      Query("q393_dedup_threshold_curve", q393DedupThresholdCurve, q393Oracle,
        Hooks(nonEmpty, range("removable_bp", 0, 10000))),
      Query("q251_dedup_transitivity", q251DedupTransitivity, q251Oracle,
        Hooks(nonEmpty, range("closure_bp", 0, 10000))),
      Query("q351_bloom_planner", q351BloomPlanner, q351Oracle, NoBound(Structural)),
      Query("q274_dedup_tiers", q274DedupTiers, q274Oracle,
        Hooks(nonEmpty, range("dup_permille", 0, 1000))),
      Query("q258_threshold_persistence", q258ThresholdPersistence, q258Oracle,
        NoBound("threshold grid is literal - structural")),
      Query("q256_lsh_cost_planner", q256LshCostPlanner, q256Oracle, NoBound(Structural)),
      Query("q248_lsh_sweep", q248LshSweep, q248Oracle,
        Hooks(nonEmpty, range("precision_bp", 0, 10000))),
      Query("q236_record_linkage", q236RecordLinkage, q236Oracle,
        NoBound("rule-weight score - bounded by literal weights, not scale-free")),
      Query("q227_sim_histogram", q227SimHistogram, q227Oracle,
        Hooks(nonEmpty, range("lo_bp", -10000, 10000))),
      Query("q222_dup_provenance", q222DupProvenance, q222Oracle, NoBound(Structural)),
      Query("q215_containment", q215Containment, q215Oracle,
        Hooks(nonEmpty, range("cont1_bp", 0, 10000), range("cont2_bp", 0, 10000))),
      Query("q188_weighted_jaccard", q188WeightedJaccard, q188Oracle,
        Hooks(nonEmpty, range("wj_bp", 0, 10000))),
      Query("q164_golden_record", q164GoldenRecord, q164Oracle, NoBound(Structural)),
      Query("q136_sorted_neighborhood", q136SortedNeighborhood, q136Oracle, NoBound(Structural)),
      Query("q40_dedup_exact", q40DedupExact, q40Oracle, NoBound(Structural)),
      Query("q70_edit_distance", q70EditDistance, q70Oracle, NoBound(Structural)),
      Query("q41_minhash_lsh", q41MinhashLsh, q41Oracle, NoBound(Structural)),
      Query("q289_minhash_error_audit", q289MinhashErrorAudit, q289Oracle,
        Hooks(nonEmpty, range("jaccard_bp", 0, 10000), range("est_bp", 0, 10000), range("err_bp", -10000, 10000), range("mae_bp", 0, 10000))),
      Query("q295_lsh_pair_eval", q295LshPairEval, q295Oracle,
        Hooks(nonEmpty, range("precision_bp", 0, 10000), range("recall_bp", 0, 10000), range("f1_bp", 0, 10000))),
      Query("q297_capture_recapture", q297CaptureRecapture, q297Oracle,
        Hooks(nonEmpty, range("cov1_bp", 0, 10000), range("cov2_bp", 0, 10000))),
      Query("q52_incremental_dedup", q52IncrementalDedup, q52Oracle, NoBound(Structural)),
      Query("q42_ngram_jaccard", q42NgramJaccard, q42Oracle,
        Hooks(nonEmpty, range("jaccard_bp", 0, 10000))),
      Query("q43_simhash", q43Simhash, q43Oracle, NoBound(Structural)),
      Query("q44_simhash_pairs", q44SimhashPairs, q44Oracle, NoBound(Structural)),
      Query("q71_dedup_clusters", q71DedupClusters, q71Oracle, NoBound(Structural)),
      Query("q380_incremental_cc", q380IncrementalCc, q380Oracle, NoBound(Structural)),
      Query("q95_neardup_ensemble", q95NeardupEnsemble, q95Oracle, NoBound(Structural)),
      Query("q96_leakage_split", q96LeakageSplit, q96Oracle, NoBound(Structural)),
      Query("q102_quality_canonical", q102QualityCanonical, q102Oracle, NoBound(Structural)),
      Query("q126_prefix_simjoin", q126PrefixSimjoin, q126Oracle,
        Hooks(nonEmpty, range("jaccard_bp", 0, 10000))),
    )
  }
}
