package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** Multimodal-column plumbing (builder brief): media as opaque
  * `binary` columns with typed metadata, and decode / feature-extract /
  * resize / frame-sample stages.
  *
  * The actual codecs are NOT in this container, so the decode is a
  * clearly-marked DETERMINISTIC STUB (`FakeDecoder`): it derives
  * plausible metadata from a content hash. Everything around the stub —
  * the binary column, the schema, the per-partition batched execution,
  * the partitioning story — is real and tested; swapping `FakeDecoder`
  * for a JNI/FFmpeg call changes no plan shape.
  *
  * Two execution paths, asserted equal in MultimodalSpec:
  *  - expression path (q50): pure Column arithmetic, oracle-checked
  *    against DuckDB — this is what scales (codegen, no serialization);
  *  - typed path: `Dataset[MediaIn] → mapPartitions → Dataset[MediaMeta]`,
  *    the shape a real decoder needs (per-partition init of the codec,
  *    batch iteration, kryo-free case-class rows).
  *
  * Scale notes: decode is embarrassingly parallel per row; the only
  * knob that matters at 100 TB is partition sizing (binary payloads →
  * fewer rows per task: spark.sql.files.maxPartitionBytes) and avoiding
  * a shuffle of the payload bytes — all derived columns are computed
  * BEFORE any join/agg so only metadata moves.
  */
object Multimodal extends graft.QueryModule {

  case class MediaIn(doc_id: Long, media: Array[Byte])
  case class MediaMeta(doc_id: Long, byte_len: Long, width: Long,
      height: Long, n_frames: Long, out_w: Long, out_h: Long,
      sampled_frames: String)

  /** STUB decoder: metadata from the md5 of the payload — stands in for
    * image/video header parsing. Deterministic, matches the q50
    * expression path bit for bit. */
  object FakeDecoder {
    def decode(bytes: Array[Byte]): (Long, Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bytes).map("%02x".format(_)).mkString
      val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val width = h1 % 640 + 16
      val height = h1 % 480 + 16
      val frames = h1 % 240 + 1
      (width, height, frames)
    }
  }

  private val TargetEdge = 224L
  private val MaxFrames = 8L

  /** Typed per-partition path: where a real codec would be initialized
    * once per partition and fed row batches. */
  def decodePartitions(in: Dataset[MediaIn]): Dataset[MediaMeta] = {
    val s = in.sparkSession
    import s.implicits._
    in.mapPartitions { rows =>
      // per-partition decoder init would go here (real codec handle)
      rows.map { r =>
        val (w, h, f) = FakeDecoder.decode(r.media)
        val longEdge = math.max(w, h)
        val outW = w * TargetEdge / longEdge
        val outH = h * TargetEdge / longEdge
        val step = (f + MaxFrames - 1) / MaxFrames // ceil
        val frames = (0L until f by step).mkString(",")
        MediaMeta(r.doc_id, r.media.length.toLong, w, h, f, outW, outH, frames)
      }
    }
  }

  /** Expression path (oracle-checked): identical semantics, all native
    * Column arithmetic over the binary column. */
  def q50MultimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h1 = graft.functions.TextExprs.md5_prefix($"media", 15)
    Tables.documents(s, d)
      .select($"doc_id", $"text".cast("binary").as("media"))
      .withColumn("byte_len", length($"media").cast("long"))
      .withColumn("width", h1 % 640 + 16)
      .withColumn("height", h1 % 480 + 16)
      .withColumn("n_frames", h1 % 240 + 1)
      .withColumn("out_w", expr("width * 224 div greatest(width, height)"))
      .withColumn("out_h", expr("height * 224 div greatest(width, height)"))
      .withColumn("sampled_frames",
        concat_ws(",", sequence(lit(0L), $"n_frames" - 1,
          expr("(n_frames + 7) div 8"))))
      .drop("media")
      .orderBy($"doc_id")
  }

  val q50Oracle: String =
    """WITH m AS (
         SELECT doc_id, text,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS h1,
           octet_length(text::BLOB) AS byte_len
         FROM documents),
       meta AS (
         SELECT doc_id, byte_len,
           h1 % 640 + 16 AS width, h1 % 480 + 16 AS height,
           h1 % 240 + 1 AS n_frames
         FROM m)
       SELECT doc_id, CAST(byte_len AS BIGINT) AS byte_len,
         width, height, n_frames,
         width * 224 // greatest(width, height) AS out_w,
         height * 224 // greatest(width, height) AS out_h,
         array_to_string([i FOR i IN generate_series(0, n_frames - 1, (n_frames + 7) // 8)], ',') AS sampled_frames
       FROM meta ORDER BY doc_id"""

  case class FrameOut(doc_id: Long, frame_no: Long, frame_bytes: Array[Byte])

  /** Typed frame-extraction path: one output row per sampled frame,
    * with STUB frame payloads (deterministic bytes derived from
    * (doc_id, frame_no) — a real FFmpeg seek+decode drops in here).
    * The flatMap shape is the load-bearing part: frame explosion
    * happens BEFORE any shuffle, so downstream stages move small
    * frame payloads, never the source container bytes. */
  def sampleFramesTyped(in: Dataset[MediaIn]): Dataset[FrameOut] = {
    val s = in.sparkSession
    import s.implicits._
    in.flatMap { r =>
      val (_, _, f) = FakeDecoder.decode(r.media)
      val step = (f + MaxFrames - 1) / MaxFrames
      (0L until f by step).map { no =>
        // STUB: deterministic fake frame bytes (md5 of "doc:frame")
        val md = java.security.MessageDigest.getInstance("MD5")
        FrameOut(r.doc_id, no, md.digest(s"${r.doc_id}:$no".getBytes("UTF-8")))
      }
    }
  }

  /** Frame-sampling explode path (oracle-checked): one row per sampled
    * frame with its 24fps timestamp, the ViT-style 16px patch grid of
    * the resized frame, and a stub per-frame feature score (hash of
    * (doc_id, frame_no) — stands in for an encoder output).
    *
    * Plan shape this demonstrates: metadata explode BEFORE payload
    * movement — the generator multiplies only (doc_id, frame_no) rows,
    * all sized columns are integer arithmetic on already-extracted
    * metadata, and the binary column is dropped before the explode so
    * no payload byte survives into the widened relation. */
  def q51FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h1 = graft.functions.TextExprs.md5_prefix($"media", 15)
    val meta = Tables.documents(s, d)
      .select($"doc_id", $"text".cast("binary").as("media"))
      .withColumn("width", h1 % 640 + 16)
      .withColumn("height", h1 % 480 + 16)
      .withColumn("n_frames", h1 % 240 + 1)
      .withColumn("out_w", expr("width * 224 div greatest(width, height)"))
      .withColumn("out_h", expr("height * 224 div greatest(width, height)"))
      .drop("media") // payload gone before the explode widens the relation
    meta
      .select($"doc_id", $"out_w", $"out_h",
        explode(sequence(lit(0L), $"n_frames" - 1,
          expr("(n_frames + 7) div 8"))).as("frame_no"))
      .withColumn("frame_ts_ms", expr("frame_no * 1000 div 24"))
      .withColumn("patch_rows", expr("(out_h + 15) div 16"))
      .withColumn("patch_cols", expr("(out_w + 15) div 16"))
      .withColumn("n_patches", $"patch_rows" * $"patch_cols")
      .withColumn("feat",
        graft.functions.TextExprs.md5_prefix(
          concat($"doc_id", lit(":"), $"frame_no"), 15) % 1000)
      .select($"doc_id", $"frame_no", $"frame_ts_ms",
        $"patch_rows", $"patch_cols", $"n_patches", $"feat")
      .orderBy($"doc_id", $"frame_no")
  }

  val q51Oracle: String =
    """WITH m AS (
         SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h1
         FROM documents),
       meta AS (
         SELECT doc_id,
           h1 % 640 + 16 AS width, h1 % 480 + 16 AS height,
           h1 % 240 + 1 AS n_frames
         FROM m),
       sz AS (
         SELECT doc_id, n_frames,
           width * 224 // greatest(width, height) AS out_w,
           height * 224 // greatest(width, height) AS out_h
         FROM meta),
       fr AS (
         SELECT doc_id, out_w, out_h,
           unnest(generate_series(0, n_frames - 1, (n_frames + 7) // 8)) AS frame_no
         FROM sz)
       SELECT doc_id, frame_no,
         frame_no * 1000 // 24 AS frame_ts_ms,
         (out_h + 15) // 16 AS patch_rows,
         (out_w + 15) // 16 AS patch_cols,
         ((out_h + 15) // 16) * ((out_w + 15) // 16) AS n_patches,
         ('0x' || substr(md5(doc_id || ':' || frame_no), 1, 15))::BIGINT % 1000 AS feat
       FROM fr ORDER BY doc_id, frame_no"""

  /** Multimodal sequence budget — the packing-planner arithmetic for a
    * text+vision training mix: per doc, text tokens + (sampled frames ×
    * ViT 16px patches per resized frame) + 2 specials, and whether the
    * doc fits an 8k context. All CLOSED-FORM per-row integer
    * arithmetic: the sampled-frame count is ceil(n_frames/step) =
    * (n_frames-1) div step + 1 rather than an explode-and-count, so the
    * whole budget is scan-local — at 100 TB this is one pass producing
    * one row per doc, no generator blow-up, no shuffle until the final
    * sort (and none at all in the real pipeline, where this column
    * feeds q36-style packing directly). */
  def q97MmBudget(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h1 = graft.functions.TextExprs.md5_prefix($"media", 15)
    Tables.documents(s, d)
      .select($"doc_id", $"text", $"text".cast("binary").as("media"))
      .withColumn("text_tokens",
        size(graft.functions.Fns.tokens($"text")).cast("long"))
      .withColumn("width", h1 % 640 + 16)
      .withColumn("height", h1 % 480 + 16)
      .withColumn("n_frames", h1 % 240 + 1)
      .withColumn("out_w", expr("width * 224 div greatest(width, height)"))
      .withColumn("out_h", expr("height * 224 div greatest(width, height)"))
      .withColumn("step", expr("(n_frames + 7) div 8"))
      .withColumn("n_sampled", expr("(n_frames - 1) div step + 1"))
      .withColumn("n_patches",
        expr("((out_h + 15) div 16) * ((out_w + 15) div 16)"))
      .withColumn("total_seq",
        expr("text_tokens + n_sampled * n_patches + 2"))
      .withColumn("fits_8k", $"total_seq" <= 8192)
      .select($"doc_id", $"text_tokens", $"n_sampled", $"n_patches",
        $"total_seq", $"fits_8k")
      .orderBy($"doc_id")
  }

  val q97Oracle: String =
    """WITH m AS (
         SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS text_tokens,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS h1
         FROM documents),
       meta AS (
         SELECT doc_id, text_tokens,
           h1 % 640 + 16 AS width, h1 % 480 + 16 AS height,
           h1 % 240 + 1 AS n_frames
         FROM m),
       sz AS (
         SELECT doc_id, text_tokens, n_frames,
           width * 224 // greatest(width, height) AS out_w,
           height * 224 // greatest(width, height) AS out_h,
           (n_frames + 7) // 8 AS step
         FROM meta),
       b AS (
         SELECT doc_id, text_tokens,
           (n_frames - 1) // step + 1 AS n_sampled,
           ((out_h + 15) // 16) * ((out_w + 15) // 16) AS n_patches
         FROM sz)
       SELECT doc_id, text_tokens, n_sampled, n_patches,
         text_tokens + n_sampled * n_patches + 2 AS total_seq,
         text_tokens + n_sampled * n_patches + 2 <= 8192 AS fits_8k
       FROM b ORDER BY doc_id"""

  /** Modality-aware sequence packing — q97's closed-form per-doc
    * budget fed through q36's running-sum bin assignment, per source,
    * into 8192-token context bins, with per-bin MODALITY accounting
    * (text vs vision token share). This is the packing planner a
    * vision-language training pipeline actually runs: decide bin
    * membership from arithmetic on metadata (never decoding media),
    * then fetch/decode only when writing shards. Same scale shape as
    * q36: one window shuffle per source partition, everything else
    * scan-local integer arithmetic. */
  def q104MmPacking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h1 = graft.functions.TextExprs.md5_prefix($"media", 15)
    val budgeted = Tables.documents(s, d)
      .select($"doc_id", $"source", $"text", $"text".cast("binary").as("media"))
      .withColumn("text_tokens",
        size(graft.functions.Fns.tokens($"text")).cast("long"))
      .withColumn("width", h1 % 640 + 16)
      .withColumn("height", h1 % 480 + 16)
      .withColumn("n_frames", h1 % 240 + 1)
      .withColumn("out_w", expr("width * 224 div greatest(width, height)"))
      .withColumn("out_h", expr("height * 224 div greatest(width, height)"))
      .withColumn("step", expr("(n_frames + 7) div 8"))
      .withColumn("vis_tokens", expr(
        """((n_frames - 1) div step + 1)
           * (((out_h + 15) div 16) * ((out_w + 15) div 16)) + 2"""))
      .withColumn("total_seq", expr("text_tokens + vis_tokens"))
      .filter($"total_seq" <= 8192)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    budgeted.withColumn("cum", sum($"total_seq").over(w))
      .withColumn("bin_id", expr("(cum - total_seq) div 8192"))
      .groupBy($"source", $"bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"total_seq").as("n_tokens"),
        sum($"text_tokens").as("text_tokens"),
        sum($"vis_tokens").as("vis_tokens"),
        min($"doc_id").as("first_doc"))
      .withColumn("fill_permille", expr("n_tokens * 1000 div 8192"))
      .withColumn("text_permille", expr("text_tokens * 1000 div n_tokens"))
      .orderBy($"source", $"bin_id")
  }

  val q104Oracle: String =
    """WITH m AS (
         SELECT doc_id, source,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS text_tokens,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS h1
         FROM documents),
       meta AS (
         SELECT doc_id, source, text_tokens,
           h1 % 640 + 16 AS width, h1 % 480 + 16 AS height,
           h1 % 240 + 1 AS n_frames
         FROM m),
       sz AS (
         SELECT doc_id, source, text_tokens, n_frames,
           width * 224 // greatest(width, height) AS out_w,
           height * 224 // greatest(width, height) AS out_h,
           (n_frames + 7) // 8 AS step
         FROM meta),
       b AS (
         SELECT doc_id, source, text_tokens,
           ((n_frames - 1) // step + 1)
             * (((out_h + 15) // 16) * ((out_w + 15) // 16)) + 2 AS vis_tokens
         FROM sz),
       f AS (
         SELECT *, text_tokens + vis_tokens AS total_seq FROM b
         WHERE text_tokens + vis_tokens <= 8192),
       cum AS (
         SELECT *, CAST(sum(total_seq) OVER (PARTITION BY source ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         FROM f)
       SELECT source, CAST((cum - total_seq) // 8192 AS BIGINT) AS bin_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(total_seq) AS BIGINT) AS n_tokens,
         CAST(sum(text_tokens) AS BIGINT) AS text_tokens,
         CAST(sum(vis_tokens) AS BIGINT) AS vis_tokens,
         CAST(min(doc_id) AS BIGINT) AS first_doc,
         CAST(sum(total_seq) * 1000 // 8192 AS BIGINT) AS fill_permille,
         CAST(sum(text_tokens) * 1000 // sum(total_seq) AS BIGINT) AS text_permille
       FROM cum GROUP BY source, (cum - total_seq) // 8192
       ORDER BY source, bin_id"""

  val queries: Seq[graft.Query] = {
    import graft.Query, graft.Sanity._
    Seq(
      Query("q50_multimodal_meta", q50MultimodalMeta, q50Oracle, NoBound(Structural)),
      Query("q51_frame_sample", q51FrameSample, q51Oracle, NoBound(Structural)),
      Query("q97_mm_budget", q97MmBudget, q97Oracle, NoBound(Structural)),
      Query("q104_mm_packing", q104MmPacking, q104Oracle, NoBound(Structural)),
    )
  }
}
