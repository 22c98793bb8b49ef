package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.MultimodalPipeline
import graft.sources.Documents

/** Multimodal query pack (q60-q61): the binary-payload pipeline run over
  * the `documents` fixture. The decode step is a deterministic stub
  * (md5-derived features — see MultimodalPipeline.FakeDecoder), which is
  * exactly what makes these oracle-checkable: DuckDB recomputes the same
  * closed form from the text bytes.
  */
object MultimodalQueries {

  /** q60: per-(modality, f0-bucket) histogram of extracted features. */
  def q60FeatureSummary(spark: SparkSession, dir: String): DataFrame =
    MultimodalPipeline.featureSummary(
      MultimodalPipeline.extractFeatures(
        MultimodalPipeline.ingestFromDocuments(spark, dir)))

  /** q61: frames per video item at 1-second sampling. */
  def q61FrameCounts(spark: SparkSession, dir: String): DataFrame =
    MultimodalPipeline.sampleFrames(
      MultimodalPipeline.ingestFromDocuments(spark, dir), everyMs = 1000L)
      .groupBy("id")
      .agg(count(lit(1)).as("n_frames"))

  /** q280: multimodal similarity retrieval — exact top-3 neighbors (by
    * 6dp cosine over the DECODED feature vectors) for the first ten
    * media items: the binary→decode→feature→retrieval composition,
    * end to end through the stock relational ops (the decode is the
    * deterministic stub; swapping in a real decoder changes no plan).
    * The feature extraction is the narrow per-partition batch pass
    * ([[MultimodalPipeline.extractFeatures]] — the mapInPandas shape);
    * the retrieval is q40's broadcast-query-side brute-force path over
    * the 4-dim feature space (IVF/LSH take over when the item count
    * demands it — same `prepared` schema).
    */
  def q280MultimodalKnn(spark: SparkSession, dir: String): DataFrame = {
    val feats = MultimodalPipeline.extractFeatures(
      MultimodalPipeline.ingestFromDocuments(spark, dir)).toDF()
    val v = graft.operators.Similarity.prepared(feats, "id", "features")
    graft.operators.Similarity.bruteForceTopK(
      v.filter(col("id") < 10), v, "id", k = 3)
  }

  /** q295: temporal-pooled clip embeddings — frame sampling (q61's
    * rate) → per-frame stub decode → exact order-free mean pooling into
    * one 4-dim clip vector per video (see
    * [[MultimodalPipeline.clipEmbeddings]]).
    */
  def q295ClipEmbeddings(spark: SparkSession, dir: String): DataFrame =
    MultimodalPipeline.clipEmbeddings(
      MultimodalPipeline.sampleFrames(
        MultimodalPipeline.ingestFromDocuments(spark, dir), everyMs = 1000L))

  /** q318: perceptual-hash near-dup candidates over the multimodal
    * payloads — the image-dedup serving pattern (pHash → banded
    * candidate join → Hamming verify) on the stub pipeline: each
    * payload decodes to a 60-bit perceptual code (four 15-bit bands
    * from the canonicalized payload's md5 — the stub's analog of "a
    * perceptually identical image decodes to the same plane":
    * byte-level whitespace/case perturbations of the same content
    * collide, distinct content lands ~30 bits apart), candidates are
    * pairs sharing ANY band (a keyed equi-join on the (band#, value)
    * pair — never all-pairs; expected collisions n²/2¹⁵ per band, and
    * wider bands are the knob at larger n), and every candidate is
    * verified with the full 60-bit Hamming distance. Output: every
    * banded candidate pair with its distance and the `is_dup` verdict
    * (≤ 8 bits), so the gate exercises generation AND verification even
    * when the fixture holds no true dup (sf0.01: 22 candidates, 0
    * dups; sf0.1: 8 dup pairs). Swapping in a real pHash changes only
    * the code derivation, not the join or verify.
    */
  def q318PhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Documents.read(spark, dir)
      .select(col("doc_id").as("id"),
        graft.functions.TextFunctions.normText(col("text")).as("norm"))
    val coded = docs.select(
      col("id") +: (0 until 4).map(k => expr(
        s"CAST(conv(substring(md5(norm), ${k * 8 + 1}, 8), 16, 10) AS BIGINT) div 131072")
        .as(s"b$k")): _*)
      .withColumn("code",
        expr("b0 * 35184372088832 + b1 * 1073741824 + b2 * 32768 + b3"))
    val bands = coded.select(col("id"), col("code"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("k"), col(s"b$k").as("v"))): _*)).as("band"))
      .select(col("id"), col("code"), col("band.k").as("k"), col("band.v").as("v"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.v") === col("b.v") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.code").as("ca"), col("b.code").as("cb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(ca ^ cb) AS INT)").as("hamming"))
      .withColumn("is_dup", col("hamming") <= 8)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q318_phash_near_dup" -> (q318PhashNearDup _),
    "q295_clip_embeddings" -> (q295ClipEmbeddings _),
    "q60_feature_summary" -> (q60FeatureSummary _),
    "q61_frame_counts" -> (q61FrameCounts _),
    "q280_multimodal_knn" -> (q280MultimodalKnn _))

  val oracleSql: Map[String, String] = Map(
    // same md5-slot 15-bit bands, same 60-bit code shifts as exact
    // multiplies, same band-equality candidates + Hamming verify
    "q318_phash_near_dup" -> {
      val norm = raw"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
      def slot(k: Int): String =
        s"CAST(('0x' || substr(md5($norm), ${k * 8 + 1}, 8)) AS BIGINT)"
      s"""WITH c AS (
         |  SELECT doc_id AS id,
         |         ${(0 until 4).map(k => s"${slot(k)} // 131072 AS b$k").mkString(", ")}
         |  FROM documents),
         |co AS (
         |  SELECT id, b0 * 35184372088832 + b1 * 1073741824 + b2 * 32768 + b3 AS code,
         |         b0, b1, b2, b3 FROM c),
         |bands AS (
         |  SELECT id, code, 0 AS k, b0 AS v FROM co
         |  UNION ALL SELECT id, code, 1, b1 FROM co
         |  UNION ALL SELECT id, code, 2, b2 FROM co
         |  UNION ALL SELECT id, code, 3, b3 FROM co),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.code AS ca, b.code AS cb
         |  FROM bands a JOIN bands b ON a.k = b.k AND a.v = b.v AND a.id < b.id)
         |SELECT id_a, id_b, CAST(bit_count(xor(ca, cb)) AS INT) AS hamming,
         |       bit_count(xor(ca, cb)) <= 8 AS is_dup
         |FROM cand""".stripMargin
    },
    // same frame grid (inclusive 1 s steps over durationMs = n_chars*10),
    // same frame-index-prefixed md5 slots, same exact integer pooling
    "q295_clip_embeddings" -> {
      def uslot(k: Int): String =
        s"CAST(('0x' || substr(md5(CAST(fi AS VARCHAR) || '|' || text), ${k * 8 + 1}, 8)) AS BIGINT)"
      s"""WITH v AS (
         |  SELECT doc_id AS id, text, n_chars * 10 AS dur
         |  FROM documents WHERE doc_id % 3 = 2),
         |fr AS (
         |  SELECT id, text, CAST(ts // 1000 AS INT) AS fi
         |  FROM v, LATERAL unnest(generate_series(0, dur, 1000)) AS t(ts)),
         |u AS (
         |  SELECT id, ${(0 to 3).map(k => uslot(k) + s" AS u$k").mkString(", ")}
         |  FROM fr)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_frames,
         |  ${(0 to 3).map(k =>
              s"round(sum(u$k) / (count(*) * 4294967296.0), 6) AS p$k")
              .mkString(", ")}
         |FROM u GROUP BY id""".stripMargin
    },
    // payload = UTF-8 bytes of text → md5(payload) == md5(text);
    // f0 = float32(uint32(md5[0:8]) / 2^32); bucket = floor(f0 * 16)
    "q60_feature_summary" ->
      """SELECT
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(floor(CAST(CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS DOUBLE)
        |             / 4294967296.0 AS FLOAT) * 16) AS INT) AS f0_bucket,
        |  count(*) AS n_items
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q61_frame_counts" ->
      """SELECT doc_id AS id, (n_chars * 10) // 1000 + 1 AS n_frames
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    // the same md5-slot float features recomputed closed-form, then
    // q40's exact top-k shape (6dp cosine, (cos desc, id asc) ties)
    "q280_multimodal_knn" -> {
      def slot(k: Int): String =
        s"""CAST(CAST(CAST(('0x' || substr(md5(text), ${k * 8 + 1}, 8))
           |     AS BIGINT) AS DOUBLE) / 4294967296.0 AS FLOAT)""".stripMargin
      s"""WITH f AS (
         |  SELECT doc_id AS id,
         |         [${(0 until 4).map(slot).mkString(",\n")}]::DOUBLE[] AS v
         |  FROM documents)
         |SELECT query_id, rank, cand_id, cos FROM (
         |  SELECT q.id AS query_id, c.id AS cand_id,
         |         round(list_cosine_similarity(q.v, c.v), 6) AS cos,
         |         row_number() OVER (
         |           PARTITION BY q.id
         |           ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
         |                    c.id ASC) AS rank
         |  FROM f q JOIN f c ON q.id <> c.id
         |  WHERE q.id < 10)
         |WHERE rank <= 3""".stripMargin
    })
}
