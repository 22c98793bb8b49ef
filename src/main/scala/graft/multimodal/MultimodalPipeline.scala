package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Documents

/** Multimodal column plumbing for training-data pipelines: image/audio/
  * video carried as opaque `binary` payloads with typed metadata, plus
  * decode / feature-extraction / frame-sampling operators.
  *
  * The Spark-side machinery here is real and tested — schema, typed
  * Datasets, partition-batched processing (`mapPartitions`, the JVM
  * equivalent of a Pandas-UDF `mapInPandas` batch loop), deterministic
  * output. The actual media DECODING is a clearly marked STUB
  * ([[FakeDecoder]]): this container has no image/audio libraries, so the
  * stub derives features from an md5 of the payload — deterministic, so
  * the pipeline is oracle- and test-checkable end to end. Swapping in a
  * real decoder changes only the body of [[FakeDecoder.decode]].
  */
object MultimodalPipeline {

  /** Typed metadata carried beside the opaque payload. */
  case class MediaMeta(mime: String, width: Int, height: Int, durationMs: Long)

  case class MediaItem(id: Long, modality: String, payload: Array[Byte], meta: MediaMeta)

  case class MediaFeatures(id: Long, modality: String, features: Array[Float])

  case class Frame(id: Long, frameIdx: Int, tsMs: Long, payload: Array[Byte])

  /** ==================== STUB ====================
    * Deterministic fake decoder standing in for a real image/audio decode
    * (libjpeg / ffmpeg / a Python `mapInPandas` worker). Features are four
    * floats derived from the md5 of the payload bytes — stable across
    * runs, partitionings, and engines (the DuckDB oracle recomputes the
    * same closed form). A real implementation replaces ONLY this object.
    */
  object FakeDecoder {
    def decode(payload: Array[Byte]): Array[Float] = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(payload).map("%02x".format(_)).mkString
      (0 until 4).map { k =>
        // 8 hex chars → uint32 → [0, 1): division by 2^32 is exact
        (java.lang.Long.parseLong(hex.substring(k * 8, k * 8 + 8), 16).toDouble
          / 4294967296.0).toFloat
      }.toArray
    }
  }
  // ================== END STUB ==================

  /** Build a multimodal table from the `documents` fixture: payload =
    * UTF-8 bytes of the text (simulating an opaque blob), modality cycled
    * deterministically, metadata derived from payload size.
    */
  def ingestFromDocuments(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    Documents.read(spark, dir)
      .select(
        col("doc_id").as("id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        encode(col("text"), "UTF-8").as("payload"),
        col("n_chars"))
      .withColumn(
        "meta",
        struct(
          concat(lit("application/x-fake-"),
            element_at(array(lit("image"), lit("audio"), lit("video")),
              (pmod(col("id"), lit(3)) + 1).cast("int"))).as("mime"),
          (pmod(col("n_chars"), lit(640)) + 1).cast("int").as("width"),
          (pmod(col("n_chars"), lit(480)) + 1).cast("int").as("height"),
          (col("n_chars") * 10).as("durationMs")))
      .drop("n_chars")
      .as[MediaItem]
  }

  /** Partition-batched feature extraction — the mapInPandas shape: one
    * iterator pass per partition, decoder invoked per element, no
    * per-row task overhead. Narrow (no shuffle); scales with input splits.
    */
  def extractFeatures(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // per-partition setup would initialize the real decoder here once
      it.map(m => MediaFeatures(m.id, m.modality, FakeDecoder.decode(m.payload)))
    }
  }

  /** Frame sampling for video items: one row per sampled frame at
    * `everyMs` intervals across the metadata duration. The payload slice
    * is a STUB (full payload re-used); a real implementation would seek.
    * Generates rows with `explode(sequence(...))` — distributed, no
    * driver loop.
    */
  def sampleFrames(items: Dataset[MediaItem], everyMs: Long): Dataset[Frame] = {
    import items.sparkSession.implicits._
    items.filter(_.modality == "video").toDF()
      .select(
        col("id"), col("payload"),
        explode(sequence(lit(0L), col("meta.durationMs"), lit(everyMs))).as("tsMs"))
      .withColumn("frameIdx", (col("tsMs") / everyMs).cast("int"))
      .select("id", "frameIdx", "tsMs", "payload")
      .as[Frame]
  }

  case class ClipFrameU(id: Long, u0: Long, u1: Long, u2: Long, u3: Long)

  /** Clip-level TEMPORAL POOLING: per video, the mean of its per-frame
    * feature vectors — the frame-sample → per-frame decode → pooled clip
    * embedding composition a video pipeline feeds to retrieval. The
    * per-frame decode is the stub prefixed with the frame index (a real
    * decoder would decode the frame's own bytes; the stub keeps every
    * frame's features distinct AND closed-form for the oracle), and the
    * pooling is ORDER-FREE EXACT: each feature slot is carried as its
    * raw uint32 (not the rounded float), summed as exact longs, divided
    * once by n·2³² — so the mean is bit-deterministic under any
    * partitioning, where a float sum would drift with association
    * order. One narrow mapPartitions + one clip-keyed hash agg.
    */
  def clipEmbeddings(frames: Dataset[Frame]): DataFrame = {
    import frames.sparkSession.implicits._
    val perFrame = frames.mapPartitions { it =>
      it.map { f =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${f.frameIdx}|".getBytes("UTF-8") ++ f.payload)
          .map("%02x".format(_)).mkString
        def u(k: Int) = java.lang.Long.parseLong(hex.substring(k * 8, k * 8 + 8), 16)
        ClipFrameU(f.id, u(0), u(1), u(2), u(3))
      }
    }.toDF()
    val sums = (0 to 3).map(k => sum(col(s"u$k")).as(s"s$k"))
    perFrame.groupBy("id")
      .agg(count(lit(1)).as("n_frames"), sums: _*)
      .select(col("id") +: col("n_frames") +: (0 to 3).map(k =>
        round(col(s"s$k") / (col("n_frames") * 4294967296.0), 6).as(s"p$k")): _*)
  }

  /** Metadata-only resize: no payload touch, pure projection. */
  def resizeMeta(items: Dataset[MediaItem], w: Int, h: Int): Dataset[MediaItem] = {
    import items.sparkSession.implicits._
    items.map(m => m.copy(meta = m.meta.copy(width = w, height = h)))
  }

  /** Oracle-checkable feature rollup: per (modality, bucket) counts where
    * bucket = floor(f0 × 16). All-integer output: f0 is a float (exact in
    * double), ×16 is exact (power of two), so the histogram is
    * bit-deterministic in any engine — no float aggregation anywhere.
    */
  def featureSummary(features: Dataset[MediaFeatures]): DataFrame =
    features.toDF()
      .select(
        col("modality"),
        floor(element_at(col("features"), 1).cast("double") * 16).cast("int").as("f0_bucket"))
      .groupBy("modality", "f0_bucket")
      .agg(count(lit(1)).as("n_items"))
}
