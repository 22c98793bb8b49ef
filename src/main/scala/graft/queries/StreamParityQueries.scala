package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Feed, StreamingOps}
import graft.streaming.StreamingOps.epochMicros
import graft.sources.{Documents, Relational}

/** Streaming operators run against the REAL corpus and checked by the
  * driver's DuckDB oracle — extending the hard correctness gate from
  * the index parity query (q75) to the ingest-hygiene surface. Each gate
  * states its micro-batch sequence and its plan; [[graft.streaming.Feed]]
  * runs them (the MemoryStream is the test-harness SOURCE only;
  * production reads Kafka/files via readStream, and the operator under
  * test is the unbounded plan itself); the view/click gates deal each
  * batch to their two streams through [[graft.streaming.Feed.drive]].
  * Three gates drive their own queries, each for a step no other gate
  * needs: the processing-time TTL gates q347/q352 (a sink-count
  * barrier, since `processAllAvailable` never returns on a
  * processing-time plan) and q357 (a state-store format flip and a
  * checkpoint inspection at each of its restarts).
  */
object StreamParityQueries {

  /** The corpus as `(doc_id, text)` in doc_id order, four micro-batches
    * of at most `maxChunk` docs each (q75's split, shared by the corpus
    * gates): larger corpora run more micro-batches, which cross-batch
    * state is indifferent to, and the driver holds one chunk at a time.
    */
  private[queries] def corpusChunks(
      spark: SparkSession, dir: String, maxChunk: Int): Iterator[Seq[(Long, String)]] = {
    import spark.implicits._
    val docs = Documents.read(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .sort("doc_id")
    val n = docs.count()
    Feed.rows(docs).grouped(math.min(math.max(1L, (n + 3) / 4), maxChunk.toLong).toInt)
  }

  /** The recovery gates' feed: `ds` (persisted: the count and the drain
    * each read it) in at least six chunks of at most `maxChunk` rows,
    * with the restart before the first chunk at or past half the rows.
    */
  private def sixths[T](ds: Dataset[T], maxChunk: Long): (Iterator[Seq[T]], Set[Int]) = {
    val ev = ds.persist()
    val n = ev.count()
    val chunk = math.max(1L, math.min(maxChunk, (n + 5) / 6)).toInt
    (Feed.rows(ev).grouped(chunk), midFeed(n, chunk))
  }

  /** The batch index of a mid-feed restart: the first unit of `per`
    * `chunk`-row batches that starts at or past half of the `n` rows,
    * or none when the feed ends first.
    */
  private def midFeed(n: Long, chunk: Int, per: Int = 1): Set[Int] = {
    val unit = chunk.toLong * per
    val i = ((n + 1) / 2 + unit - 1) / unit * per
    if (i * chunk < n) Set(i.toInt) else Set.empty
  }

  /** q259: exact dedup ON INGEST, driver-verified — the corpus arrives
    * over micro-batches through [[StreamingOps.dedupOnIngest]] (streaming
    * `dropDuplicates` keeps the seen-fingerprint set as cross-batch
    * operator state), and the emitted survivors are folded to
    * (fingerprint, n_emitted). The oracle pins every distinct normalized
    * content to EXACTLY ONE emission: if the cross-batch state ever
    * leaked (a fingerprint re-admitted in a later micro-batch),
    * n_emitted would read 2 and the hash would fail — so the driver's
    * gate, not just a spec, proves the streaming dedup equals batch
    * q30's semantics. The fingerprint grain (rather than the survivor
    * doc ids) is deliberate: within one micro-batch `dropDuplicates`
    * keeps an arbitrary member of a tie, so the SET of fingerprints is
    * the deterministic contract, matching what batch dedup guarantees
    * under partition-order freedom.
    */
  def q259StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // maxChunk 4096 (vs q75's 1024): still bounded driver memory (~4 MB
    // of text per chunk), 4× fewer micro-batch barriers on big fixtures;
    // at gate scale (sf0.01) the ceil(n/4) split is identical either way
    Feed(spark, "append", corpusChunks(spark, dir, 4096))(ds =>
      StreamingOps.dedupOnIngest(ds.toDF("doc_id", "text"), "text"))
      .select(md5(graft.functions.TextFunctions.normText(col("text"))).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n_emitted"))
  }

  /** q367: BPE APPLY on ingest, driver-verified — q360's stateless
    * encode projection (the SAME `TextQueries.bpeApplyProjection`
    * helper, byte-identical merge table learned in BATCH — the
    * tokenizer ships as a plan literal; learning is not a streaming
    * concern) over the corpus arriving in doc_id-sorted micro-batch
    * chunks. Round14Spec pinned stream==batch at the spec level; per
    * the q267/q284 promotion discipline the contract belongs in the
    * driver gate: the streamed rows must reproduce q360's oracle
    * (DuckDB's independent merge replay) rows+schema+hash — proving
    * delivery-invariance of the projection AND the encoding itself
    * through an engine that never saw the stream. Stateless append
    * (no watermark, no state store); the scale contract is q360's —
    * zero shuffles, per-task memo, vocabulary-sized plan literal.
    */
  def q367StreamBpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = TextQueries.bpeRounds(spark, dir, 5, needTotals = false)._1
      .map(m => (m._2, m._3))
    Feed(spark, "append", corpusChunks(spark, dir, 1024))(ds =>
      TextQueries.bpeApplyProjection(ds.toDF("doc_id", "text"), merges))
  }

  /** q382: unigram-LM APPLY on ingest, driver-verified — q367's
    * discipline for the SECOND tokenizer family: q378's stateless
    * Viterbi projection (the SAME `TextQueries.unigramApplyProjection`
    * helper, piece table learned in BATCH — like q367's merge table,
    * the tokenizer ships as a plan literal; learning is not a
    * streaming concern) over the corpus arriving in doc_id-sorted
    * micro-batch chunks. Oracle = q378's recursive-CTE Viterbi replay
    * VERBATIM, proving delivery-invariance of the projection AND the
    * segmentation itself through an engine that never saw the stream.
    * Stateless append (no watermark, no state store); the scale
    * contract is q378's — zero shuffles, per-task memo,
    * ≤(alphabet+200)-piece plan literal.
    */
  def q382StreamUnigramApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lp = TextQueries.unigramVocab(spark, dir).map { case (p, _, l) => (p, l) }
    Feed(spark, "append", corpusChunks(spark, dir, 1024))(ds =>
      TextQueries.unigramApplyProjection(ds.toDF("doc_id", "text"), lp))
  }

  /** q385: the DoReMi mixture optimizer ON INGEST, driver-verified —
    * the per-source NLL sufficient statistic (token count + quantized
    * log-prob sum, q381's exact-integer pair) maintained as ≤|sources|
    * rows of complete-mode streaming aggregation state while the
    * corpus arrives in (source, doc_id, text) micro-batch chunks; the
    * EG rounds then run from the FINAL state through the IDENTICAL
    * driver arithmetic ([[HygieneQueries.doremiRoundsFromNll]] — one
    * definition). The reference unigram LM (vocabulary freq + exact
    * total) is learned in BATCH and ships as a stream-static join
    * side (q367's "learning is not a streaming concern" convention;
    * the join is stateless per micro-batch). Oracle = q381's
    * full-trajectory replay VERBATIM: because every per-token quantity
    * is integer BEFORE the aggregation, the state is order- and
    * batching-invariant — the property that lets 1000 executors
    * accumulate (n, Σlp) shards and the driver reweight from the fold.
    */
  def q385StreamDoremiMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Documents.read(spark, dir)
    val freq = d.select(graft.functions.AlnumTokens(col("text")))
      .groupBy("word").agg(count(lit(1)).as("cnt")).persist()
    val total = freq.agg(sum(col("cnt"))).collect()(0).getLong(0)
    val feed = d.select(col("source"), col("doc_id"), col("text"))
      .sort("doc_id").as[(String, Long, String)]
    val nll = Feed(spark, "complete", Feed.rows(feed).grouped(1024))(ds =>
      ds.toDF("source", "doc_id", "text")
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
        .join(freq, Seq("word"))
        .select(col("source"),
          round(log(col("cnt").cast("double") / lit(total).cast("double"))
            * 1e6).cast("long").as("lp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("lp")).as("slp")))
      .select(col("source"),
        round((-col("slp")).cast("double") / col("n")).cast("long")
          .as("nll_q"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    spark.createDataset(HygieneQueries.doremiRoundsFromNll(nll.toSeq))
      .toDF("round", "source", "excess_q", "weight_q")
  }

  /** q370: vocabulary HLL on ingest, driver-verified — q7's md5 sketch
    * maintained as STREAMING STATE: the register table (groupBy j, max
    * rank — at most 4096 rows of state, the HLL bound) runs as a
    * complete-mode streaming aggregation over the arriving corpus, and
    * the estimate fold reads the final register table. Oracle = q7's
    * verbatim (the q267/q284 same-oracle convention): the stream's
    * final estimate must BE the batch estimate, bit for bit, because
    * max-of-ranks is order- and batching-invariant — which is exactly
    * the property that makes HLL mergeable across shards/streams, here
    * driver-proven rather than asserted. The decontamination sketch
    * (q93/streaming ingest) covers membership; this closes cardinality,
    * the other sketch a streaming ingest pipeline keeps.
    */
  def q370StreamHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ReferenceQueries.hllFold(
      Feed(spark, "complete", corpusChunks(spark, dir, 1024))(ds =>
        ReferenceQueries.hllRanks(
          graft.operators.Tokenizer.tokens(ds.toDF("doc_id", "text"), "text", Seq("doc_id"))
            .select("word"))
          .groupBy("j").agg(max(col("rank")).as("m_j"))))
  }

  /** q375: quantile sketch on ingest, driver-verified — q373's md5
    * bottom-k sample maintained as STREAMING STATE: the k = 256
    * smallest md5(doc_id) rows (with their token counts) held by the
    * bounded [[graft.functions.TopKAgg]] as a complete-mode streaming
    * aggregation (≤ k rows of state — the KMV property: the bottom-k
    * of a union is the k smallest of the incremental bottom-k's), the
    * type-1 quantile read off the final sample. Oracle = q373's
    * verbatim: the stream's estimates must BE the batch estimates.
    * TopKAgg's buffer dedups by a unique Long id, so the doc_id rides
    * in the id slot and the (u, v) columns are deterministically
    * recomputed over the ≤k winner ids after the stream ends — batch
    * post-processing, the q259 fold convention. The (u, doc_id)
    * selection key and the (v, u, doc_id) rank key are q373's exactly
    * (see its scaladoc for why the key is the 52-bit md5 prefix).
    */
  def q375StreamQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val topk = udaf(graft.functions.TopKAgg(k))
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long")
    val winners = Feed(spark, "complete", corpusChunks(spark, dir, 1024))(ds =>
      ds.toDF("doc_id", "text").select(col("doc_id"), u.as("u"))
        .agg(topk((-col("u")).cast("double"), col("doc_id")).as("tops")))
      .select(explode(col("tops")).as("t"))
      .select(col("t._2").as("doc_id"))
    val s = Documents.read(spark, dir)
      .join(broadcast(winners), Seq("doc_id"))
      .select(u.as("u"), col("doc_id"),
        coalesce(graft.functions.AlnumWordCount(col("text")).cast("long"),
          lit(0L)).as("v"))
    val w = Window.orderBy(col("v").asc, col("u").asc, col("doc_id").asc)
    val r = s.withColumn("rn", row_number().over(w).cast("long"))
    val px = r.agg(count(lit(1)).as("k_actual"))
      .select(col("k_actual"),
        explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
      .withColumn("idx",
        floor(col("p") * (col("k_actual") - 1L).cast("double")).cast("long") + 1L)
    r.join(broadcast(px), col("rn") === col("idx"))
      .select(col("p"), col("v").as("est"), col("k_actual"))
  }

  /** The (user_id, ts, event_id, value) feed every ValEvent gate reads,
    * in global (ts, event_id) order — through the nanos-variant-adapting
    * `RelationalQueries.events` reader, so a TIMESTAMP(NANOS) events
    * file feeds the gates exactly as it feeds their batch-fold oracles.
    */
  private def valEvents(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[StreamingOps.ValEvent] = {
    import spark.implicits._
    // events() already normalizes ts to TimestampType in both of its
    // branches (nanos file and native), so no further cast is needed
    RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[StreamingOps.ValEvent]
      .sort("ts", "event_id")
  }

  /** q267: per-key streaming EWMA, driver-verified — the events table
    * arrives time-ordered over micro-batches through
    * [[StreamingOps.ewmaPerKey]] (mapGroupsWithState, O(1) state per
    * user), and each user's FINAL state (the max-n update) is compared
    * against the DuckDB batch fold over the full history. The operator
    * applies the identical IEEE steps (e' = e/2 + x/2) the batch fold
    * does, so the stream's final answer is BIT-equal to the oracle —
    * the driver's hash, not just `StreamingSpec`, now pins the
    * stateful-streaming surface's exactness. Feed order is the global
    * (ts, event_id) sort, so per-key delivery is in-order (the
    * operator's declared contract; out-of-order handling is the
    * watermarked variant's job).
    */
  def q267StreamEwma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // 16384-event chunks: still bounded driver memory; the per-batch
    // cost is the state-store pass over every ACTIVE key, so batch
    // count — not batch size — dominates the harness cost at scale
    ewmaFinalState(Feed(spark, "update", Feed.rows(valEvents(spark, dir)).grouped(16384))(
      StreamingOps.ewmaPerKey))
  }

  /** q284: per-key streaming Holt (level, trend) state, driver-verified
    * — q267's gate for the COUPLED two-variable fold: the same
    * time-ordered feed through [[StreamingOps.holtPerKey]]
    * (mapGroupsWithState, O(1) (l, b, n) per user), final state
    * compared bit-for-bit against the batch recurrence. The oracle
    * walks the identical IEEE steps per key with a RECURSIVE CTE —
    * DuckDB's `list_reduce` rebinds struct accumulator fields
    * mid-row, so the coupled fold cannot be a list lambda there
    * (the q251 engine-difference finding, now pinned by the driver's
    * hash on every key's final state).
    */
  def q284StreamHolt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    holtFinalState(Feed(spark, "update", Feed.rows(valEvents(spark, dir)).grouped(16384))(
      StreamingOps.holtPerKey))
  }

  // batch gaps-and-islands at the per-session grain: island id = running
  // sum of >30min-gap flags per user, session_start = min epoch micros;
  // shared verbatim by q296 (flatMapGroupsWithState) and q337
  // (TransformWithState) — one oracle, two state APIs
  private val SessionsOracle =
    """WITH l AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |              THEN 1 ELSE 0 END AS ns
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS sid
      |  FROM l)
      |SELECT user_id, min(epoch_us(ts)) AS session_start,
      |       count(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Batch q31's band construction verbatim — the (doc_id, band,
    * digest) table every near-dup oracle reads (q342/q343's
    * min-band-mate, q345's eligibility arithmetic, q346's order-free
    * bucket census).
    */
  private val BandsCte =
    s"""${DedupQueries.ShingleCte},
       |mh AS (
       |  SELECT doc_id, j,
       |         min(substr(CASE WHEN j < 4 THEN md5(sh) ELSE md5('1|' || sh) END,
       |                    CAST((j % 4) * 8 + 1 AS INT), 8)) AS mh
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
       |  GROUP BY doc_id, j),
       |bands AS (
       |  SELECT e.doc_id, e.j // 2 AS band, md5(e.mh || '|' || o.mh) AS digest
       |  FROM mh e JOIN mh o ON o.doc_id = e.doc_id AND o.j = e.j + 1
       |  WHERE e.j % 2 = 0)""".stripMargin

  /** [[BandsCte]] + one min-earlier-band-mate aggregation — shared by
    * the q342 in-order and q343 recovery gates.
    */
  private val NearDupOracle =
    s"""$BandsCte
       |SELECT b.doc_id, CAST(min(a.doc_id) AS BIGINT) AS dup_of
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
       |GROUP BY b.doc_id""".stripMargin

  /** q345's closed-form expected verdicts: the same eligibility rule
    * the harness applies (≥ 3 words, no cross-doc band-mate, first 60
    * by id) ranked the same way, each rank emitting exactly its copy-1
    * row — copy 1 flagged against copy 0 (in-retention, same slice),
    * copy 2 absent (bucket evicted before slice s+4).
    */
  private val NearDupEvictOracle =
    s"""$BandsCte,
       |mates AS (
       |  SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.digest = b.digest AND a.doc_id <> b.doc_id),
       |elig AS (
       |  SELECT doc_id FROM wd
       |  WHERE len(w) >= 3 AND doc_id NOT IN (SELECT doc_id FROM mates)
       |  ORDER BY doc_id LIMIT 60),
       |r AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS r FROM elig)
       |SELECT CAST((r % 6) * 1000000 + r * 10 + 1 AS BIGINT) AS doc_id,
       |       CAST((r % 6) * 1000000 + r * 10 + 0 AS BIGINT) AS dup_of
       |FROM r""".stripMargin

  /** q346's order-free bucket census: every LSH band bucket with ≥ 2
    * members, with exact member count / sum / min / max — the grain at
    * which ANY arrival order of the stream must agree with batch.
    */
  private val NearDupOooOracle =
    s"""$BandsCte
       |SELECT CAST(band AS INT) AS band, digest,
       |       CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       |       CAST(min(doc_id) AS BIGINT) AS min_id,
       |       CAST(max(doc_id) AS BIGINT) AS max_id
       |FROM bands GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** q347's per-(user, slice) admission gate: the q335 row_number
    * oracle re-run inside each of the three per-user slices the TTL
    * harness feeds — the slice arithmetic (rn div ceil(n/3)) mirrors
    * the harness's re-slicing exactly.
    */
  private val QuotaTtlOracle =
    """WITH o AS (
      |  SELECT user_id, ts, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) - 1 AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |s AS (SELECT user_id, ts, event_id, rn // ((n + 2) // 3) AS slice FROM o),
      |r AS (
      |  SELECT user_id, slice, event_id,
      |         row_number() OVER (PARTITION BY user_id, slice
      |                            ORDER BY ts, event_id) AS rns
      |  FROM s)
      |SELECT user_id, CAST(slice AS BIGINT) AS slice,
      |       CAST(count(*) FILTER (rns <= 5) AS BIGINT) AS n_admitted,
      |       CAST(count(*) FILTER (rns > 5) AS BIGINT) AS n_rejected,
      |       CAST(coalesce(sum(event_id) FILTER (rns <= 5), 0) AS BIGINT)
      |         AS admitted_checksum
      |FROM r GROUP BY 1, 2""".stripMargin

  /** q352's expected verdicts: the q347 slice arithmetic collapsed to
    * two PHASES — slices 0-1 share one cumulative quota (the restart
    * between them is within the TTL, so the counter must carry), slice
    * 2 starts fresh (the inter-slice sleep exceeds the TTL).
    */
  private val QuotaTtlRecoveryOracle =
    """WITH o AS (
      |  SELECT user_id, ts, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) - 1 AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts, event_id, rn,
      |         CASE WHEN rn // ((n + 2) // 3) <= 1 THEN 0 ELSE 1 END AS phase
      |  FROM o),
      |r AS (
      |  SELECT user_id, phase, event_id,
      |         row_number() OVER (PARTITION BY user_id, phase
      |                            ORDER BY ts, event_id) AS rns
      |  FROM s)
      |SELECT user_id, CAST(phase AS BIGINT) AS phase,
      |       CAST(count(*) FILTER (rns <= 5) AS BIGINT) AS n_admitted,
      |       CAST(count(*) FILTER (rns > 5) AS BIGINT) AS n_rejected,
      |       CAST(coalesce(sum(event_id) FILTER (rns <= 5), 0) AS BIGINT)
      |         AS admitted_checksum
      |FROM r GROUP BY 1, 2""".stripMargin

  /** The q267 batch fold re-run inside each (user, slice) — what the
    * evicting EWMA must equal when every inter-slice gap exceeds the
    * retention (q353 in-order, q355 across restarts — the recovery
    * convention).
    */
  private val EwmaEvictOracle =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) - 1 AS rn,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |s AS (SELECT user_id, ts, event_id, value,
      |             rn // ((n + 2) // 3) AS slice FROM o)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       list_reduce(list(value ORDER BY ts, event_id),
      |                   (acc, x) -> acc / 2 + x / 2) AS ewma
      |FROM s GROUP BY user_id, slice""".stripMargin

  /** The exact batch bottom-20 per source under the md5 priority coin —
    * what the streamed reservoir must equal under ANY arrival order
    * (shared by the in-order q348 and the recovery twin q350).
    */
  private val ReservoirOracle =
    """WITH p AS (
      |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS pr
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, pr,
      |         row_number() OVER (PARTITION BY source ORDER BY pr, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM p)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_seen,
      |       array_to_string(list(doc_id ORDER BY pr, doc_id), '>') AS sample
      |FROM r WHERE rn <= 20 GROUP BY source""".stripMargin

  /** The weighted twin (q349/q351): q138's coin verbatim — u/2^52 then
    * /w, two left-associated IEEE divisions.
    */
  private val WReservoirOracle =
    """WITH p AS (
      |  SELECT source, doc_id,
      |         (CAST(('0x' || substr(md5('graft-ws-' || CAST(doc_id AS VARCHAR)), 1, 13))
      |               AS BIGINT) / 4503599627370496.0)
      |         / CAST(n_chars AS DOUBLE) AS pri
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, pri,
      |         row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM p)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_seen,
      |       array_to_string(list(doc_id ORDER BY pri, doc_id), '>') AS sample
      |FROM r WHERE rn <= 20 GROUP BY source""".stripMargin

  private val QuotaOracle =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events)
      |SELECT user_id,
      |       CAST(count(*) FILTER (rn <= 5) AS BIGINT) AS n_admitted,
      |       CAST(count(*) FILTER (rn > 5) AS BIGINT) AS n_rejected,
      |       CAST(coalesce(sum(event_id) FILTER (rn <= 5), 0) AS BIGINT)
      |         AS admitted_checksum
      |FROM r GROUP BY user_id""".stripMargin

  /** Scope `body` under the RocksDB state-store provider (conf read at
    * query start; restored after). Required by the TransformWithState
    * operators — Spark's state-v2 API runs ONLY on the RocksDB provider
    * — and available to any gate that wants the production store (the
    * q310 toggle). `changelog` toggles changelog checkpointing (true =
    * the production default here: per-batch deltas instead of full
    * snapshot rewrites; false = snapshot checkpointing — a DIFFERENT
    * on-disk checkpoint format whose answer must be identical, the
    * parity Round12Spec pins on a q335-family gate).
    */
  private[graft] def withRocksDbStateStore[T](
      spark: SparkSession, changelog: Boolean = true)(body: => T): T = {
    val pk = "spark.sql.streaming.stateStore.providerClass"
    val ck = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevP = spark.conf.getOption(pk)
    val prevC = spark.conf.getOption(ck)
    spark.conf.set(pk,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(ck, changelog.toString)
    try body finally {
      prevP.fold(spark.conf.unset(pk))(spark.conf.set(pk, _))
      prevC.fold(spark.conf.unset(ck))(spark.conf.set(ck, _))
    }
  }

  /** q335: streaming per-key admission quota, driver-verified — the
    * first gate on the TransformWithState API ([[StreamingOps
    * .quotaPerKey]]: named ValueState, per-variable TTL surface,
    * RocksDB-only — the API successor to every mapGroupsWithState
    * operator in this family). Each user's first 5 events (event-time
    * order) are admitted, the rest rejected — the streaming twin of
    * q72's batch curation cap, enforced at the ingest door. The feed
    * is the q267 harness (time-ordered chunks, one micro-batch per
    * chunk); the oracle is the batch row_number gate rolled up per
    * user, so a quota counter that resets across batches (over-admit),
    * double-counts (under-admit), or mis-orders inside a batch fails
    * the per-user admitted checksum.
    */
  def q335StreamQuota(spark: SparkSession, dir: String): DataFrame =
    q335StreamQuota(spark, dir, changelog = true)

  /** [[q335StreamQuota]] with the RocksDB changelog-checkpointing knob
    * explicit — Round12Spec pins bit parity across the two checkpoint
    * formats (the checkpoint layout is an implementation detail of
    * STATE durability, never of the answer).
    */
  private[graft] def q335StreamQuota(
      spark: SparkSession, dir: String, changelog: Boolean): DataFrame = {
    import spark.implicits._
    // the TransformWithState gates (q335/q338/q339) feed q267's
    // 16384-row chunks under the RocksDB provider state v2 requires
    quotaRollup(withRocksDbStateStore(spark, changelog) {
      Feed(spark, "append", Feed.rows(valEvents(spark, dir)).grouped(16384))(
        StreamingOps.quotaPerKey(_, cap = 5L))
    })
  }

  /** Exact batch barrier for plans `processAllAvailable` cannot wait on
    * (TimeMode.ProcessingTime constructs a batch on EVERY trigger, so
    * the engine never signals no-new-data): poll the memory sink until
    * it holds exactly `expected` rows. Callers guarantee the operator
    * emits a KNOWN row count per fed event (the quota: exactly one),
    * which makes the count an exact boundary, not a heuristic. Fails
    * loudly after `timeoutMs` or if the query died.
    */
  private[graft] def awaitSinkCount(
      spark: SparkSession, sink: String, expected: Long,
      q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long = 120000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var n = spark.table(sink).count()
    while (n < expected) {
      if (q.exception.isDefined) throw q.exception.get
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"$sink: expected $expected rows, still $n after ${timeoutMs} ms")
      Thread.sleep(50L)
      n = spark.table(sink).count()
    }
    if (n > expected)
      throw new IllegalStateException(
        s"$sink: expected exactly $expected rows, sink holds $n (operator over-emitted)")
  }

  /** The shared per-user rollup of quota verdict rows (q335/q336):
    * admitted/rejected counts + the admitted-id checksum the oracle
    * pins. Exact integer aggregates.
    */
  private def quotaRollup(verdicts: DataFrame): DataFrame =
    verdicts
      .groupBy("user_id")
      .agg(
        count(when(col("admitted"), 1)).as("n_admitted"),
        count(when(!col("admitted"), 1)).as("n_rejected"),
        coalesce(sum(when(col("admitted"), col("event_id"))), lit(0L))
          .as("admitted_checksum"))

  /** q336: the quota's state ACROSS A QUERY RESTART — the recovery gate
    * for the TransformWithState store (the family contract: every
    * stateful operator ships with in-order + recovery gates). Mid-feed
    * the query stops and resumes from the same checkpoint: the named
    * ValueState counter must reload at its committed value — a reset
    * re-admits up to 5 MORE events per key (over-admission the oracle's
    * checksum catches), a replayed-without-state batch under-admits.
    * Verdict rows dedupe before the rollup (the q313 idempotent-sink
    * discipline: a benignly replayed boundary batch re-emits IDENTICAL
    * verdicts — state versions are per-batch, so recomputing batch N
    * against state N−1 reproduces the same rows — while a state bug
    * emits different ones and fails the hash).
    */
  def q336StreamQuotaRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    quotaRollup(withRocksDbStateStore(spark) {
      val (batches, restarts) = sixths(valEvents(spark, dir), 16384L)
      Feed(spark, "append", batches, restarts)(StreamingOps.quotaPerKey(_, cap = 5L))
    }.distinct())
  }

  /** q357: the RocksDB checkpoint-format MIGRATION gate — q336 proves
    * state survives a restart under ONE format; Round12Spec proves the
    * two formats give identical answers on FRESH checkpoints; this
    * gate proves the production upgrade path BETWEEN them on one
    * LIVE checkpoint: the quota runs its history in three phases with
    * the changelog knob flipped at each restart — snapshot → changelog
    * (the upgrade: the resumed query loads the snapshot and starts
    * writing per-batch deltas) → snapshot again (the rollback: delta
    * replay reconstructs the store, full snapshots resume). Every
    * phase's counters must continue the previous phase's committed
    * values across BOTH flips — a migration that loses or re-bases
    * state over-admits (cap resets) and fails q335's per-user
    * admitted checksum; one that replays from the wrong version
    * under-admits. Verdict rows dedupe before the rollup (the q336
    * idempotent-sink discipline for benign boundary replays). Same
    * oracle as q335/q336 — the format, like the restart, must be
    * answer-invisible.
    */
  def q357StreamQuotaFormatMigration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feed = valEvents(spark, dir).collect() // events-table scale feed
    val chunk = math.max(1, (feed.length + 5) / 6)
    val chunks = feed.grouped(chunk).toIndexedSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q357").toString
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val ms = MemoryStream[StreamingOps.ValEvent](spark)
    def plan = StreamingOps.quotaPerKey(ms.toDS(), cap = 5L).toDF()
    val outSchema = plan.schema
    def start() = plan.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(buf.add); ()
      }
      .start()
    // the migration premise, executable (the q345 discipline): the
    // on-disk checkpoint must actually change format phase-to-phase,
    // or a silently ignored knob would pass the oracle with nothing
    // migrated — count RocksDB .changelog files under state/
    def changelogFiles(): Long = {
      val st = java.nio.file.Paths.get(ckpt, "state")
      if (!java.nio.file.Files.isDirectory(st)) 0L
      else {
        val walk = java.nio.file.Files.walk(st)
        try walk.filter(p => p.toString.endsWith(".changelog")).count()
        finally walk.close()
      }
    }
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      var i = 0
      // snapshot → changelog → snapshot: each phase reads the conf at
      // query start, so the flip binds exactly at its restart
      Seq(false, true, false).zipWithIndex.foreach { case (fmt, phase) =>
        withRocksDbStateStore(spark, changelog = fmt) {
          q = start()
          (0 until 2).foreach { _ =>
            if (i < chunks.length) {
              ms.addData(chunks(i))
              q.processAllAvailable()
              i += 1
            }
          }
          q.stop()
          val cl = changelogFiles()
          if (phase == 0)
            require(cl == 0L,
              s"q357 premise: snapshot phase wrote $cl changelog file(s)")
          if (phase == 1)
            require(cl > 0L,
              "q357 premise: changelog phase wrote no changelog files — " +
                "the knob did not bind; nothing was migrated")
        }
      }
      quotaRollup(spark.createDataFrame(
        new java.util.ArrayList(
          new java.util.LinkedHashSet(buf)), outSchema))
    } finally {
      if (q != null) q.stop()
      FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  /** q338: per-user event-type counts on MAP state, driver-verified —
    * [[StreamingOps.typeCountsPerKey]] (the engagement matrix
    * maintained at ingest; MapState bounded by |event types| per user).
    * Counts are pure increments, so the operator is delivery-order-
    * invariant by construction; the rollup keeps each (user, type)'s
    * max emitted total (counts only grow), and the oracle is the plain
    * batch GROUP BY — a lost map entry, a reset count, or a
    * double-applied batch all fail the hash.
    */
  def q338StreamTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"))
      .as[StreamingOps.TypedEvent]
      .sort("ts", "event_id")
    withRocksDbStateStore(spark) {
      Feed(spark, "append", Feed.rows(ev).grouped(16384))(StreamingOps.typeCountsPerKey)
    }
      .groupBy("user_id", "event_type")
      .agg(max(col("cnt")).as("cnt"))
  }

  /** q339: per-user recent-items ring on LIST state, driver-verified —
    * [[StreamingOps.recentItemsPerKey]] (last 3 event ids per user,
    * oldest first — the "recently viewed" serving state a recommender
    * joins at request time). The ring is ORDER-sensitive: the final
    * per-user row must hold exactly the last 3 events of the in-order
    * history, so an unsorted batch fold, a ring that appends without
    * evicting, or a list that loses its order across the state store
    * all fail the hash against the batch window oracle.
    */
  def q339StreamRecentItems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withRocksDbStateStore(spark) {
      Feed(spark, "append", Feed.rows(valEvents(spark, dir)).grouped(16384))(
        StreamingOps.recentItemsPerKey(_, keep = 3))
    }
      .groupBy("user_id")
      .agg(max(struct(col("n_seen"), col("recent"))).as("m"))
      .select(col("user_id"), col("m.n_seen").as("n_seen"),
        col("m.recent").as("recent"))
  }

  /** q340: BOUNDED-state streaming dedup, driver-verified —
    * [[StreamingOps.dedupBoundedOnIngest]] (`withWatermark` +
    * `dropDuplicatesWithinWatermark`), the production retention bound
    * q259's unbounded `dropDuplicates` cannot provide. The feed is a
    * deterministic re-timing of the events table built to sit far from
    * every undefined boundary of the operator's contract: per user,
    * events are grouped 4-at-a-time into CLUSTERS (10 s apart inside a
    * cluster — well inside the 60 s delay, so rows 2-4 must dedup
    * against row 1) and a user's consecutive clusters land two 2-hour
    * SLICES apart, interleaved by user parity (even users occupy even
    * slices, odd users odd), with one micro-batch per slice. When an
    * even user's cluster c arrives at slice 2c, the watermark derived
    * from slice 2c-1 (the odd users' data) already exceeds the user's
    * cluster-(c-1) expiry by ~7,000 s — under EITHER defensible expiry
    * anchor (first-seen or last-seen + delay) and either eviction
    * timing (end-of-previous-batch or start-of-current), the state is
    * gone and the cluster head MUST be re-admitted. So the oracle is
    * exact: one emission per (user, cluster) — a leak (plain-
    * `dropDuplicates` semantics, no eviction) collapses each user to
    * one row and fails on row count; a failure to dedup in-cluster
    * doubles n_emitted and fails the hash. Rollup is at (user, slice)
    * grain, not survivor event ids: within a micro-batch which of the
    * 4 cluster rows survives is engine-arbitrary (the q259 fingerprint-
    * grain discipline), but its slice tag is shared by construction.
    */
  def q340StreamDedupBounded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id") // user-grain, never global
    // persisted: the maxSlice 1-row collect and the feed drain otherwise
    // each re-run the scan + per-user window (runner owns the lifecycle)
    val users = RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w).cast("long") - 1L)
      .withColumn("slice",
        lit(2L) * floor(col("rn") / 4).cast("long") + pmod(col("user_id"), lit(2L)))
      .select(col("user_id"),
        timestamp_seconds(lit(Epoch0) + col("slice") * 7200L +
          pmod(col("rn"), lit(4L)) * 10L).as("ts"),
        col("event_id"), col("slice"))
      .persist()
    // harness ticker: one row of a reserved key in EVERY slice, so the
    // watermark advances slice-by-slice even where a parity class has
    // run out of clusters (the heaviest users' tail slices have no
    // opposite-parity data — without a tick the watermark stalls one
    // batch back and their last cluster heads would NOT re-admit).
    // Watermark advance is driven by INPUT event times, so the tick
    // works whether or not its own row survives the dedup; the ticker
    // key is filtered from the rollup because its own emission pattern
    // is exactly the anchor-dependent middle band the contract excludes.
    val maxSlice = users.agg(max(col("slice"))).head().getLong(0) // 1-row collect
    val ticks = spark.range(0L, maxSlice + 1L)
      .select(lit(-1L).as("user_id"),
        timestamp_seconds(lit(Epoch0) + col("id") * 7200L + lit(30L)).as("ts"),
        (-col("id") - 1L).as("event_id"), col("id").as("slice"))
    val feed = users.unionByName(ticks)
      .as[StreamingOps.SlicedEvent]
      .sort("slice", "user_id", "event_id")
    // one micro-batch per slice: the slice boundary IS the watermark
    // step the contract above reasons about, so it must be a real
    // batch boundary, not a row-count accident
    Feed(spark, "append", Feed.runs(Feed.rows(feed))(_.slice))(ds =>
      StreamingOps.dedupBoundedOnIngest(ds.toDF(), Seq("user_id"), "ts", "60 seconds"))
      .filter(col("user_id") >= 0L) // drop the harness ticker key
      .groupBy("user_id", "slice")
      .agg(count(lit(1)).as("n_emitted"))
  }

  /** 2024-01-01T00:00:00Z — the q340 fixture's epoch, shared by every
    * synthetic-event-time harness in this file (timestamp_seconds is
    * epoch-based, so the constructions are timezone-independent).
    */
  private val Epoch0 = 1704067200L

  /** One year in ms — the "retention spanning the whole feed" setting
    * under which the evicting near-dup operators provably reproduce
    * unbounded semantics on the gate fixtures (the watermark, lagging
    * the feed by a year, never passes any bucket's timeout).
    */
  private val YearMs = 365L * 86400L * 1000L

  /** Attach the synthetic ingest event time the near-dup gates feed the
    * operator's retention clock with: one second per doc id past
    * [[Epoch0]] — monotone with the id-ordered feed, so the watermark
    * advances batch-by-batch while the year-long retention keeps every
    * bucket live for the whole fixture. The premise only holds while
    * the corpus id RANGE stays well inside the retention (event time
    * advances one second per id; a range past ~2× the retention's
    * seconds would start evicting the earliest buckets MID-FEED and
    * the gate would diverge from the unbounded batch oracle with the
    * operator behaving correctly) — [[assertDocTsRange]] makes that
    * bound executable instead of silent.
    */
  private def withDocTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_seconds(lit(Epoch0) + col("doc_id")))

  /** Fail loudly if the fixture's doc-id range could let [[withDocTs]]'s
    * second-per-id clock evict buckets mid-feed (the no-evict premise of
    * the q342/q343 oracles): require the range ≤ the retention's seconds
    * — 2× inside the true eviction boundary (watermark = max − retention
    * must pass min + retention, i.e. range > 2 × retention).
    */
  private def assertDocTsRange(spark: SparkSession, dir: String): Unit = {
    val r = Documents.read(spark, dir)
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    val range = r.getLong(1) - r.getLong(0)
    require(range <= YearMs / 1000L,
      s"q342/q343 fixture premise broken: doc-id range $range seconds of " +
        s"synthetic event time approaches the ${YearMs / 1000L}s retention — " +
        "widen the retention or re-base the synthetic clock")
  }

  /** q342: NEAR-dup detection on ingest, driver-verified —
    * [[StreamingOps.nearDupOnIngest]] (row-local q31 signatures, one
    * carried (min, max) id pair per live LSH band bucket, event-time
    * eviction past retention), the MinHash rung of the streaming dedup
    * ladder between exact q259 and bounded q340. The corpus arrives in
    * doc-id-ordered chunks with a synthetic monotone ingest time and a
    * retention spanning the feed (so no bucket evicts — the eviction
    * path is q345's gate); every document sharing a band with an
    * earlier one must be flagged with the EARLIEST such band-mate
    * across all its bands (min over per-band verdicts). The oracle is
    * batch q31's band construction verbatim plus one
    * min-earlier-band-mate aggregation — so the driver hash proves the
    * stream's carried bucket minima reproduce the batch LSH candidate
    * structure exactly: a bucket min lost across batches under-flags, a
    * per-batch rebuild mis-reports dup_of, and any drift in the
    * row-local signature path (vs q31's groupBy formulation) changes
    * the digests and misses buckets outright.
    */
  def q342StreamNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assertDocTsRange(spark, dir)
    Feed(spark, "append", corpusChunks(spark, dir, 4096))(ds =>
      StreamingOps.nearDupOnIngest(
        withDocTs(ds.toDF("doc_id", "text")), "text", "doc_id", "ts", retentionMs = YearMs))
      .groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"))
  }

  /** q343: q342's near-dup detection ACROSS A QUERY RESTART — the
    * recovery gate completing the family contract for the LSH-bucket
    * state (every stateful operator ships with in-order + recovery
    * gates). Mid-feed the query stops and resumes from the same
    * checkpoint: the per-bucket doc-id minima must reload at their
    * committed values — a bucket min lost to the restart un-flags
    * every later near-duplicate whose earliest band-mate arrived
    * before the boundary (rows vanish), and a replayed-without-state
    * boundary batch mis-reports dup_of (hash fails). Verdicts dedupe
    * before the rollup (the q313 idempotent-sink discipline: a benign
    * replay recomputes the same batch against the same committed state
    * version and re-emits IDENTICAL verdict rows — the per-bucket fold
    * is deterministic — while a state bug emits different ones). Same
    * oracle as q342, the recovery-family convention.
    */
  def q343StreamNearDupRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    assertDocTsRange(spark, dir)
    val docs = Documents.read(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .sort("doc_id")
    // verdicts only, so the feed's driver buffer is bounded by
    // (near-dup docs × matching bands), not the corpus
    val (batches, restarts) = sixths(docs, 4096L)
    Feed(spark, "append", batches, restarts)(ds =>
      StreamingOps.nearDupOnIngest(
        withDocTs(ds.toDF("doc_id", "text")), "text", "doc_id", "ts", retentionMs = YearMs))
      .distinct()
      .groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"))
  }

  /** q345: near-dup bucket EVICTION, driver-verified — the q340-style
    * micro fixture proving [[StreamingOps.nearDupOnIngest]]'s retention
    * actually evicts: a band-mate recurring AFTER retention must be
    * re-admitted (treated as novel — no verdict), while one recurring
    * within it must be flagged. The feed is synthesized from the corpus:
    * the first 60 documents (by id) that have ≥ 3 words and share NO LSH
    * band with any other document — so each group's copies can only
    * collide with each other and the expected verdict set is
    * closed-form — each emitted THREE times: two copies 10 s apart in a
    * base 2-hour slice (the in-retention control: copy 1 must be flagged
    * against copy 0, same micro-batch), and a third copy FOUR slices
    * later (ids encode (slice, group, copy) and stay arrival-monotone).
    * With retention 60 s, a bucket touched in slice s times out during
    * batch s+2 — its timer (last-seen + 60 s) is below the watermark
    * slice s+1's data sets, and slices s+1..s+3 contain no data for it
    * (base groups round-robin over 6 slices; recurrences land at s+4) —
    * so the third copy finds NO state and must re-anchor silently. The
    * oracle emits exactly the copy-1 rows from the same eligibility
    * rank arithmetic: a missing eviction (the third copy flagged) fails
    * on row count; a premature one (copy 1 unflagged) fails the hash.
    */
  def q345StreamNearDupEvict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs0 = Documents.read(spark, dir)
      .select(col("doc_id"), col("text"))
    // batch-side eligibility on the SAME row-local banding the stream
    // runs (lshBands is batch-reusable by construction)
    val bands = StreamingOps.lshBands(docs0, "text", "doc_id", 8).persist()
    val mates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.digest") === col("y.digest") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id")).distinct()
    // ≤ 60 rows by the LIMIT — harness feed construction, the bounded
    // driver collect every MemoryStream gate performs
    val elig = docs0
      .filter(size(graft.functions.TextFunctions.wordsArr(col("text"))) >= 3)
      .join(mates, Seq("doc_id"), "left_anti")
      .orderBy("doc_id").limit(60)
      .select(col("text")).as[String].collect()
    // PREMISE, made executable (the assertDocTsRange discipline): the
    // no-late-flag expectation needs, per group, a non-empty micro-batch
    // strictly between its base slice and its recurrence — timeouts fire
    // only in a batch the bucket has NO data in, and only batches with
    // rows exist at all. With ≥ 6 groups the round-robin occupies every
    // base slice 0..5 AND every recurrence slice 4..9, so each group has
    // three intermediate batches (the first to move the watermark past
    // its timeout, the rest to fire it); below that, intermediate slices
    // can be empty, the bucket never times out, copy 2 gets flagged, and
    // the gate fails WITH THE OPERATOR BEHAVING CORRECTLY. 12 keeps a
    // 2× margin over the bound.
    require(elig.length >= 12,
      s"q345 premise: need >= 12 band-isolated docs with >= 3 words, got " +
        s"${elig.length} — corpus too small for the eviction fixture's " +
        "slice arithmetic (empty intermediate batches never fire timers)")
    case class F(slice: Long, doc_id: Long, text: String, ts: java.sql.Timestamp)
    def mk(s: Long, r: Int, c: Long, off: Long, text: String) =
      F(s, s * 1000000L + r * 10L + c, text,
        usTimestamp((Epoch0 + s * 7200L + off) * 1000000L))
    val rows = elig.zipWithIndex.flatMap { case (text, r) =>
      val s0 = (r % 6).toLong
      Seq(mk(s0, r, 0L, 0L, text), mk(s0, r, 1L, 10L, text),
        mk(s0 + 4L, r, 2L, 20L, text))
    }.sortBy(f => (f.slice, f.doc_id))
    // one micro-batch per slice — the slice boundary IS the watermark
    // step the eviction argument above reasons about (q340's rule)
    Feed(spark, "append",
      Feed.runs(rows.iterator)(_.slice).map(_.map(f => (f.doc_id, f.text, f.ts))))(ds =>
      StreamingOps.nearDupOnIngest(
        ds.toDF("doc_id", "text", "ts"), "text", "doc_id", "ts", retentionMs = 60000L))
      .groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"))
  }

  /** q346: near-dup detection under ARBITRARY arrival order, driver-
    * verified — [[StreamingOps.nearDupOnIngestUnordered]], which
    * removes q342's id-monotone contract by anchoring each bucket at
    * its first ARRIVAL instead of its minimum id. The corpus arrives in
    * deterministically id-SHUFFLED chunks (md5-of-id order — the
    * repo's reproducible-shuffle idiom), so smaller ids routinely land
    * after larger band-mates: exactly the feed the ordered operator
    * fails fast on (Round12Spec pins that). The gate rolls the verdicts
    * up at the BUCKET grain — the union of a bucket's verdict ids and
    * its anchor is the bucket's member set, invariant under ANY
    * delivery order — and the oracle is the order-FREE batch LSH bucket
    * census (every (band, digest) with ≥ 2 members, with exact count /
    * sum / min / max over the members), so the hash proves no member is
    * lost or invented no matter how the feed was shuffled.
    */
  def q346StreamNearDupOoo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Documents.read(spark, dir)
      .select(col("doc_id"), col("text"))
      .orderBy(md5(col("doc_id").cast("string"))) // deterministic id-shuffle
      .as[(Long, String)]
    // arrival time = chunk index (the unordered operator's retention
    // clock is ARRIVAL-based — ingest time, not any doc property)
    val batches = Feed.rows(docs).grouped(4096).zipWithIndex.map { case (batch, i) =>
      val ts = usTimestamp((Epoch0 + i) * 1000000L)
      batch.map { case (id, t) => (id, t, ts) }
    }
    val v = Feed(spark, "append", batches)(ds =>
      StreamingOps.nearDupOnIngestUnordered(
        ds.toDF("doc_id", "text", "ts"), "text", "doc_id", "ts", retentionMs = YearMs))
    v.select(col("band"), col("digest"), col("doc_id"))
      .unionByName(v.select(col("band"), col("digest"), col("dup_of").as("doc_id")))
      .distinct()
      .groupBy("band", "digest")
      .agg(count(lit(1)).as("n_members"), sum(col("doc_id")).as("sum_ids"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** q348: deterministic streaming reservoir sample, driver-verified —
    * [[StreamingOps.reservoirPerKey]] (per-source bottom-20 by the
    * md5-of-id priority coin; state = exactly ≤ 20 ids + a count per
    * source, bounded for the stream's life with NO eviction needed —
    * the sampling rung of the bounded-state ingest family, and the
    * door-side twin of batch q138's priority sampling). The corpus
    * arrives in deterministically id-SHUFFLED chunks (the q346 feed
    * discipline): the operator claims delivery-order invariance by
    * construction (the reservoir is the exact bottom-k of a pure
    * priority function), so the gate feeds the adversarial order and
    * the hash must still equal the batch bottom-k — a reservoir that
    * forgets a winner across batches, re-admits a loser, or breaks the
    * (priority, id) order inside the sample string all fail against
    * the batch row_number oracle.
    */
  def q348StreamReservoir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    reservoirFinalState(Feed(spark, "update", Feed.rows(arrivals(spark, dir)).grouped(4096))(
      StreamingOps.reservoirPerKey(_, k = 20)))
  }

  /** The reservoir gates' feed (q348/q350): every document's
    * (source, doc_id) in a deterministic id-shuffled order (md5 of the
    * id), the adversarial arrival order a delivery-order-invariant
    * operator must withstand.
    */
  private def arrivals(spark: SparkSession, dir: String): Dataset[StreamingOps.DocArrival] = {
    import spark.implicits._
    Documents.read(spark, dir)
      .select(col("source"), col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")))
      .as[StreamingOps.DocArrival]
  }

  /** [[arrivals]] with each document's weight, its n_chars (q349/q351). */
  private def weightedArrivals(
      spark: SparkSession, dir: String): Dataset[StreamingOps.WeightedArrival] = {
    import spark.implicits._
    Documents.read(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars").cast("double").as("weight"))
      .orderBy(md5(col("doc_id").cast("string")))
      .as[StreamingOps.WeightedArrival]
  }

  /** Per-source FINAL reservoir (the max-n update row), shared by the
    * four reservoir gates.
    */
  private def reservoirFinalState(updates: DataFrame): DataFrame =
    updates
      .groupBy("source")
      .agg(max(struct(col("n_seen"), col("sample"))).as("m"))
      .select(col("source"), col("m.n_seen").as("n_seen"),
        col("m.sample").as("sample"))

  /** q349: WEIGHTED streaming reservoir, driver-verified —
    * [[StreamingOps.weightedReservoirPerKey]] (Efraimidis–Spirakis
    * A-ES under the deterministic q138 coin: per-source bottom-20 by
    * u/w with u the md5-fraction of the id and w = n_chars — the
    * size-proportional sample a corpus-mixing pipeline draws at the
    * door, and the EXACT stream twin of batch q138). Same adversarial
    * feed as q348 (id-shuffled chunks) and the same invariance claim,
    * now with the carried state holding (priority, id) PAIRS (the
    * weight is not recoverable from the id): a priority lost or
    * re-derived wrongly across batches reorders the reservoir and the
    * sample string diverges from the batch bottom-k oracle.
    */
  def q349StreamWeightedReservoir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    reservoirFinalState(Feed(spark, "update", Feed.rows(weightedArrivals(spark, dir)).grouped(4096))(
      StreamingOps.weightedReservoirPerKey(_, k = 20)))
  }

  /** q350: q348's reservoir ACROSS A QUERY RESTART — the recovery gate
    * completing the family contract for the sampling rung (every
    * stateful operator ships with in-order + recovery gates; q348/q349
    * were the round-12 holdouts). Mid-feed the query stops and resumes
    * from the same checkpoint: the per-source (ids, n) state must
    * reload at its committed value — a RESET reservoir re-admits
    * late-arriving ids whose priority would have lost to the already-
    * locked-out bottom-k (the id-shuffled feed guarantees high-priority
    * winners arrive on BOTH sides of the boundary, so a reset changes
    * membership and the sample string diverges), and a replayed
    * boundary batch double-counts n_seen. Same oracle as q348, the
    * recovery-family convention; the max-n rollup is idempotent under
    * benign replay because n_seen strictly increases and the reservoir
    * fold is deterministic.
    */
  def q350StreamReservoirRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (batches, restarts) = sixths(arrivals(spark, dir), 4096L)
    reservoirFinalState(Feed(spark, "update", batches, restarts)(
      StreamingOps.reservoirPerKey(_, k = 20)))
  }

  /** q351: q349's WEIGHTED reservoir across a query restart — the
    * recovery twin where the carried state is (priority, id) PAIRS, so
    * the checkpoint must round-trip the DOUBLE priorities bit-exactly
    * (the weight is not recoverable from the id): a priority perturbed
    * by the restart reorders the reservoir and the sample string fails
    * the q349 batch bottom-k oracle even when membership survives.
    */
  def q351StreamWeightedReservoirRecovery(
      spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (batches, restarts) = sixths(weightedArrivals(spark, dir), 4096L)
    reservoirFinalState(Feed(spark, "update", batches, restarts)(
      StreamingOps.weightedReservoirPerKey(_, k = 20)))
  }

  /** q347: the RETENTION-bounded quota, driver-verified —
    * [[StreamingOps.quotaPerKeyTtl]], the per-variable state TTL the
    * TransformWithState family otherwise demonstrates only in prose
    * (q335 ships TTLConfig.NONE). The feed re-slices each user's
    * history into three consecutive slices fed 2.5 s apart into ONE
    * continuous query. HARNESS NOTE: a TimeMode.ProcessingTime plan
    * re-triggers micro-batches forever by design (a TTL could expire
    * at any instant, so `shouldRunAnotherBatch` is unconditionally
    * true — and because every trigger constructs a batch, the engine
    * NEVER signals no-new-data, so `processAllAvailable` and even
    * `Trigger.AvailableNow` termination block indefinitely; both
    * measured). The barrier here is therefore the SINK COUNT: the
    * quota emits exactly one verdict per input event, so "sink holds
    * as many rows as were fed" is an exact batch boundary, and a
    * 200 ms trigger interval keeps the obligatory idle re-triggers
    * cheap. The 2.5 s inter-slice sleep dominates the 1 s TTL
    * deterministically, so every key's admitted-count state has
    * PROVABLY expired by its next slice's batch: the quota must
    * restart per slice — first 5 events of EVERY (user, slice)
    * admitted, the rest rejected. The oracle is the batch row_number
    * gate at (user, slice) grain — a counter that survives expiry
    * under-admits slice 2+ (checksum fails), one that expires within a
    * batch over-admits, and a TTL that never fires collapses to
    * q335's lifetime semantics and fails on every multi-slice user.
    */
  def q347StreamQuotaTtl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "graft_q347_quota_ttl"
    spark.catalog.dropTempView(sink)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id") // user-grain, never global
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    // persisted: the slice map join and the feed drain otherwise each
    // re-run the scan + per-user windows (runner owns the lifecycle)
    val sliced = RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("slice", expr("rn div ((n + 2) div 3)"))
      .persist()
    val feed = sliced
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("slice"))
      .orderBy("slice", "ts", "event_id")
      .as[(Long, java.sql.Timestamp, Long, Double, Long)]
      .collect() // events-table scale, the bounded harness feed
    withRocksDbStateStore(spark) {
      val ms = MemoryStream[StreamingOps.ValEvent](spark)
      val q = StreamingOps.quotaPerKeyTtl(ms.toDS(), cap = 5L, ttlMs = 1000L)
        .toDF()
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
        .start()
      try {
        var fed = 0L
        feed.groupBy(_._5).toSeq.sortBy(_._1).zipWithIndex.foreach {
          case ((_, rows), i) =>
            // the 1 s TTL must provably lapse between consecutive slice
            // batches (2.5 s >> 1 s: deterministic under any scheduling)
            if (i > 0) Thread.sleep(2500L)
            ms.addData(rows.map { case (u, ts, eid, v, _) =>
              StreamingOps.ValEvent(u, ts, eid, v) }.toIndexedSeq)
            fed += rows.size
            awaitSinkCount(spark, sink, fed, q)
        }
      } finally q.stop()
    }
    spark.table(sink)
      .join(sliced.select(col("event_id"), col("slice")), Seq("event_id"))
      .groupBy("user_id", "slice")
      .agg(
        count(when(col("admitted"), 1)).as("n_admitted"),
        count(when(!col("admitted"), 1)).as("n_rejected"),
        coalesce(sum(when(col("admitted"), col("event_id"))), lit(0L))
          .as("admitted_checksum"))
  }

  /** q352: the TTL quota's state ACROSS A QUERY RESTART — the recovery
    * gate for the TransformWithState TTL surface (q347's in-order twin;
    * q336 covers the TTLConfig.NONE store). The RocksDB TTL encoding
    * prefixes each value with its expiration timestamp, and changelog
    * checkpointing serializes exactly those bytes — so a restart must
    * reload TTL'd counters WITH their expiry metadata: the gate stops
    * the query between slice 0 and slice 1 and resumes from the same
    * checkpoint WITHIN the TTL (counters must SURVIVE: slice 1
    * continues each user's slice-0 count — a reset store re-admits a
    * fresh cap and the checksum fails), then sleeps PAST the TTL before
    * slice 2 (counters must REFRESH: a store that reloads values but
    * drops expiry metadata keeps rejecting and fails the phase-1
    * checksum). Processing-time TTL makes wall-clock part of the
    * fixture, so both premises are MEASURED: the gate aborts with a
    * premise error (not a false verdict) if the restart overran the
    * TTL. The oracle is the batch row_number gate at (user, phase)
    * grain: phase 0 = slices 0-1 under ONE cumulative quota, phase 1 =
    * slice 2 fresh.
    */
  def q352StreamQuotaTtlRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ttlMs = 10000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id") // user-grain, never global
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val sliced = RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("slice", expr("rn div ((n + 2) div 3)"))
      .persist()
    val feed = sliced
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), col("slice"))
      .orderBy("slice", "ts", "event_id")
      .as[(Long, java.sql.Timestamp, Long, Double, Long)]
      .collect() // events-table scale, the bounded harness feed
    val bySlice = feed.groupBy(_._5).toSeq.sortBy(_._1)
      .map { case (s, rows) => s -> rows.map { case (u, ts, eid, v, _) =>
        StreamingOps.ValEvent(u, ts, eid, v) }.toIndexedSeq }
    require(bySlice.map(_._1) == Seq(0L, 1L, 2L),
      s"q352 premise: need exactly slices 0..2, got ${bySlice.map(_._1)}")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q352").toString
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    // exact-count barrier on DISTINCT rows (the q336 idempotent-sink
    // discipline: a benignly replayed boundary batch re-emits IDENTICAL
    // verdicts — the fold is deterministic against the committed state
    // version — so distinct-count is the exact boundary where raw count
    // would drift under replay)
    def awaitDistinct(expected: Int,
        q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val deadline = System.nanoTime() + 120000L * 1000000L
      def distinct(): Int = {
        val s = new java.util.HashSet[org.apache.spark.sql.Row]()
        buf.forEach(r => { s.add(r); () })
        s.size
      }
      var n = distinct()
      while (n < expected) {
        if (q.exception.isDefined) throw q.exception.get
        if (System.nanoTime() > deadline) throw new IllegalStateException(
          s"q352: expected $expected distinct verdicts, still $n")
        Thread.sleep(50L); n = distinct()
      }
      if (n > expected) throw new IllegalStateException(
        s"q352: expected exactly $expected distinct verdicts, got $n (over-emission)")
    }
    val verdicts = withRocksDbStateStore(spark) {
      val ms = MemoryStream[StreamingOps.ValEvent](spark)
      def plan = StreamingOps.quotaPerKeyTtl(ms.toDS(), cap = 5L, ttlMs = ttlMs).toDF()
      val outSchema = plan.schema
      def start() = plan.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(buf.add); ()
        }
        .start()
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        q = start()
        ms.addData(bySlice(0)._2)
        awaitDistinct(bySlice(0)._2.size, q)
        val t0 = System.nanoTime()
        q.stop()
        q = start() // same checkpoint: TTL'd counters must carry over
        ms.addData(bySlice(1)._2)
        awaitDistinct(bySlice(0)._2.size + bySlice(1)._2.size, q)
        val withinMs = (System.nanoTime() - t0) / 1000000L
        // premise, measured: the survive branch only means something if
        // slice 1 landed before the slice-0 writes could expire
        require(withinMs < ttlMs,
          s"q352 premise: restart+slice-1 took $withinMs ms >= $ttlMs ms TTL " +
            "— machine too slow for the survive branch; not a verdict")
        Thread.sleep(ttlMs + 2500L) // every counter's last write expires
        ms.addData(bySlice(2)._2)
        awaitDistinct(feed.length, q)
        q.stop()
        spark.createDataFrame(
          new java.util.ArrayList(
            new java.util.LinkedHashSet(buf)), outSchema)
      } finally {
        if (q != null) q.stop()
        FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    }
    verdicts
      .join(sliced.select(col("event_id"), col("slice")), Seq("event_id"))
      .withColumn("phase", when(col("slice") <= 1L, 0L).otherwise(1L))
      .groupBy("user_id", "phase")
      .agg(
        count(when(col("admitted"), 1)).as("n_admitted"),
        count(when(!col("admitted"), 1)).as("n_rejected"),
        coalesce(sum(when(col("admitted"), col("event_id"))), lit(0L))
          .as("admitted_checksum"))
  }

  /** q353: the forecast family's RETENTION knob, driver-verified —
    * [[StreamingOps.ewmaPerKeyEvicting]], the q342-closure pattern
    * applied to the fold family's last `NoTimeout` holdouts (q267's
    * EWMA; Round13Spec carries the Holt/Holt-Winters micro twins over
    * the shared eviction wrapper). The feed re-slices each user's
    * history into three consecutive slices (q347's arithmetic) on a
    * SYNTHETIC event-time axis: slice s's events keep their original
    * intra-slice (ts, event_id) order but live at
    * base(s) = Epoch0 + s·(span + 4 h), so consecutive slices are
    * separated by ≥ 4 h of event time against a 1 h retention. Each
    * slice arrives as ONE micro-batch; between slices two clock-key
    * barrier batches advance the watermark past every user's
    * last-seen + retention (the first lifts the watermark, the second
    * runs the batch the timers fire in — an event-time timer only
    * fires in a batch its key is silent in, under the watermark the
    * previous batch committed), so every user's fold state PROVABLY
    * evicts between slices and each slice re-seeds from its first
    * event. The oracle is the q267 batch fold re-run inside each
    * (user, slice): a fold that survives the gap carries (n, ewma)
    * across slices and fails both count and hash; one that evicts
    * mid-slice under-counts; and retention-spanning semantics would
    * collapse to q267's lifetime fold and fail every multi-slice user.
    * Event-time eviction keeps the whole gate deterministic — no
    * wall-clock premise, unlike the processing-time TTL gates.
    */
  /** q353/q355's shared harness constants and synthetic-axis feed —
    * ONE definition of the slice arithmetic, the synthetic event-time
    * layout, and the barrier clock both gates (and their shared
    * [[EwmaEvictOracle]]) depend on, so a one-sided edit can never
    * desynchronize the recovery twin from its in-order gate.
    */
  private val EvictRetentionMs = 3600L * 1000L
  private val HourUs = 3600L * 1000000L

  private case class EvictFeed(
      bySlice: Seq[(Long, IndexedSeq[StreamingOps.ValEvent])],
      spanUs: Long, gapUs: Long, e0Us: Long) {
    /** Barrier 1 sits 1 s past the eviction boundary (slice max event
      * + 2 h, watermark delay = 1 h), so after its batch the watermark
      * strictly exceeds every timeout; barrier 2 (60 s later) runs the
      * batch those timers fire in.
      */
    def barriers(slice: Long): Seq[Long] = {
      val b1 = e0Us + slice * gapUs + spanUs + 2L * HourUs + 1000000L
      Seq(b1, b1 + 60L * 1000000L)
    }
    def clock(us: Long): StreamingOps.ValEvent = StreamingOps.ValEvent(
      -1L, new java.sql.Timestamp(us / 1000L), -1L, 0.0)
    /** Each slice as one batch, then one clock batch per barrier. */
    def batches: Iterator[Seq[StreamingOps.ValEvent]] =
      bySlice.iterator.flatMap { case (s, rows) => rows +: barriers(s).map(t => Seq(clock(t))) }
    /** q355's restarts: between each slice's two barrier batches. */
    def betweenBarriers: Set[Int] = bySlice.indices.map(3 * _ + 2).toSet
  }

  private def ewmaEvictFeed(spark: SparkSession, dir: String): EvictFeed = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id") // user-grain, never global
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val ev = RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
    val bounds = ev.agg(min(col("us")), max(col("us"))).head()
    val (minUs, spanUs) = (bounds.getLong(0), bounds.getLong(1) - bounds.getLong(0))
    val gapUs = spanUs + 4L * HourUs
    val e0Us = Epoch0 * 1000000L
    val feed = ev
      .withColumn("rn", row_number().over(w).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("slice", expr("rn div ((n + 2) div 3)"))
      .withColumn("synth_us",
        lit(e0Us) + col("slice") * lit(gapUs) + col("us") - lit(minUs))
      .select(col("user_id"), timestamp_micros(col("synth_us")).as("ts"),
        col("event_id"), col("value"), col("slice"))
      .orderBy("slice", "ts", "event_id")
      .as[(Long, java.sql.Timestamp, Long, Double, Long)]
      .collect() // events-table scale, the bounded harness feed
    EvictFeed(
      feed.groupBy(_._5).toSeq.sortBy(_._1).map { case (s, rows) =>
        s -> rows.map { case (u, ts, eid, v, _) =>
          StreamingOps.ValEvent(u, ts, eid, v) }.toIndexedSeq },
      spanUs, gapUs, e0Us)
  }

  def q353StreamEwmaEvict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Feed(spark, "update", ewmaEvictFeed(spark, dir).batches)(
      StreamingOps.ewmaPerKeyEvicting(_, EvictRetentionMs))
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("n_events"), col("ewma"))
  }

  /** q355: the evicting fold ACROSS A QUERY RESTART — q353's recovery
    * twin (the family convention), aimed at the one surface the
    * NoTimeout recovery gates (q285/q286/q307) cannot reach: the
    * REGISTERED EVENT-TIME TIMERS and the committed WATERMARK must
    * round-trip the checkpoint. The feed is q353's verbatim, but in
    * every inter-slice gap the query stops and resumes from the same
    * checkpoint BETWEEN the two barrier batches — at that boundary
    * every user key holds fold state plus a registered timeout, and
    * the watermark the first barrier committed is what makes those
    * timers fire in the second barrier's batch. A recovery that drops
    * the timers (or resets the watermark) never evicts: the next slice
    * CONTINUES the fold and every multi-slice user fails the per-slice
    * oracle; one that replays the boundary re-emits only clock-key
    * rows (the restart point is chosen so the last committed batch
    * carries no user data — the rollup filter makes replay invisible
    * without a distinct pass). Same oracle as q353.
    */
  /** q359: the evicting COUPLED fold, driver-verified — q353's gate
    * over [[StreamingOps.holtPerKeyEvicting]], promoting the Holt
    * (level, trend) eviction twin from Round13Spec's micro fixture to
    * a hard driver gate (the fold family's two-variable rung; the
    * seasonal three-variable rung keeps its spec twin — each new state
    * SHAPE earns a gate, and the HW array shape is already
    * driver-gated unbounded via q304 and recovery via q307). Same
    * synthetic-axis feed and barrier clock as q353 (shared
    * [[ewmaEvictFeed]] — one definition), oracle = q284's recursive
    * batch fold re-run inside each (user, slice): a fold surviving the
    * gap carries (l, b, n) across slices and fails count and hash; the
    * COUPLED recurrence makes a partially-lost state (level kept,
    * trend dropped) diverge on every subsequent step.
    */
  def q359StreamHoltEvict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Feed(spark, "update", ewmaEvictFeed(spark, dir).batches)(
      StreamingOps.holtPerKeyEvicting(_, EvictRetentionMs))
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("n_events"), col("level"), col("trend"))
  }

  /** q361: the evicting SEASONAL fold, driver-verified — q359's gate
    * verbatim over [[StreamingOps.holtWintersPerKeyEvicting]],
    * promoting the LAST spec-level-only eviction twin (the
    * (level, trend, seasonal-array) state shape; Round13Spec carries
    * the micro fixture, q304/q307 the unbounded + recovery gates) to a
    * hard driver gate. Same synthetic-axis feed and barrier clock as
    * q353/q359 (shared [[ewmaEvictFeed]] — one definition), oracle =
    * q303/q304's recursive seasonal batch fold re-run inside each
    * (user, slice): a fold surviving the gap carries all seven state
    * variables across slices and fails count and hash; a PARTIAL loss
    * (say the seasonal array dropped but (l, b) kept) diverges on the
    * first post-gap step because every seasonal slot feeds back into
    * the level recurrence.
    */
  def q361StreamHwEvict(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Feed(spark, "update", ewmaEvictFeed(spark, dir).batches)(
      StreamingOps.holtWintersPerKeyEvicting(_, EvictRetentionMs))
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("n_events"), col("level"), col("trend"),
        col("s0"), col("s1"), col("s2"), col("s3"))
  }

  def q355StreamEwmaEvictRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = ewmaEvictFeed(spark, dir)
    // the recovery point: fold state + registered timers + the
    // watermark barrier 1 committed must all reload — barrier 2's
    // batch is where the recovered timers have to fire
    Feed(spark, "update", f.batches, f.betweenBarriers)(
      StreamingOps.ewmaPerKeyEvicting(_, EvictRetentionMs))
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("n_events"), col("ewma"))
  }

  /** q305: watermarked SLIDING-window parity, driver-verified — q297's
    * tumbling gate extended to overlapping windows
    * ([[StreamingOps.eventSlidingCounts]]: 1-hour windows sliding every
    * 30 minutes, each event in exactly two). APPEND mode emits each
    * (window, type) count exactly once at finalization; the sentinel
    * batches finalize the tail. The oracle doubles every event into its
    * two epoch-aligned window starts with integer 30-minute flooring —
    * a missing overlap window, a double emission, or a slide
    * misalignment all fail the hash.
    */
  def q305StreamSlidingCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Feed(spark, "append", typeFeed(spark, dir))(ds =>
      StreamingOps.eventSlidingCounts(ds.toDF("ts", "event_type")))
      .filter(col("event_type") =!= "__sentinel")
  }

  /** The window gates' feed (q297/q305): every event's
    * (ts, event_type) in time order, then two `__sentinel` rows 2 h and
    * 4 h past the last event that finalize the tail windows.
    */
  private def typeFeed(spark: SparkSession, dir: String)
      : Iterator[Seq[(java.sql.Timestamp, String)]] = {
    import spark.implicits._
    sentinelled(RelationalQueries.events(spark, dir)
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"))
      .as[(java.sql.Timestamp, String)]
      .sort("ts", "event_type"), 7200L)(ts => (ts, "__sentinel"))
  }

  /** The watermark gates' feed: `ev` (persisted: the count, the max-ts
    * pass and the drain each read it) in at least six chunks of at most
    * 16384 rows, then one sentinel row `stepSec` and one `2·stepSec`
    * past the last event, each its own batch: the first moves the
    * watermark past every open window or session, the second runs the
    * batch that finalizes them.
    */
  private def sentinelled[T](ev: Dataset[T], stepSec: Long)(
      sentinel: java.sql.Timestamp => T): Iterator[Seq[T]] = {
    val p = ev.persist()
    val n = p.count()
    val chunk = math.max(1L, math.min(16384L, (n + 5) / 6)).toInt
    val maxUs = p.agg(max(unix_micros(col("ts")))).head().getLong(0)
    Feed.rows(p).grouped(chunk) ++
      (1 to 2).iterator.map(k => Seq(sentinel(usTimestamp(maxUs + k * stepSec * 1000000L))))
  }

  /** q304: per-key streaming Holt-Winters (level, trend, 4-slot
    * seasonal) state, driver-verified — the three-variable completion
    * of the fold-gate family (EWMA q267, coupled Holt q284), and the
    * first gate whose cross-batch state carries an ARRAY: the same
    * time-ordered feed through [[StreamingOps.holtWintersPerKey]],
    * final state compared bit-for-bit against q303's batch recursive
    * fold (the oracle string IS q303's, verbatim). A lost or reordered
    * seasonal slot, a wrong slot index after a batch boundary, or any
    * deviation in the single-division IEEE steps fails the hash.
    */
  def q304StreamHoltWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hwFinalState(Feed(spark, "update", Feed.rows(valEvents(spark, dir)).grouped(16384))(
      StreamingOps.holtWintersPerKey))
  }

  /** q285: q267's streaming-EWMA parity RE-ASSERTED ACROSS A QUERY
    * RESTART — same oracle (the per-user batch fold), but the harness
    * stops the query mid-feed and resumes from the checkpoint, so the
    * hash now also proves the mapGroupsWithState store round-trips the
    * (ewma, n) state bit-exactly and the source resumes at the exact
    * committed offset (a reset key re-seeds and fails; a replayed
    * offset double-counts n_events and fails).
    */
  def q285StreamEwmaRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (batches, restarts) = sixths(valEvents(spark, dir), 16384L)
    ewmaFinalState(Feed(spark, "update", batches, restarts)(StreamingOps.ewmaPerKey))
  }

  /** q286: q284's coupled Holt (level, trend) state across a restart —
    * the two-variable recovery gate: both state fields must reload
    * bit-exactly or the post-restart recurrence diverges for every
    * affected key.
    */
  def q286StreamHoltRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (batches, restarts) = sixths(valEvents(spark, dir), 16384L)
    holtFinalState(Feed(spark, "update", batches, restarts)(StreamingOps.holtPerKey))
  }

  /** q307: Holt-Winters state ACROSS A RESTART — the recovery family
    * (q285 scalar EWMA, q286 coupled scalar pair, q287 unbounded set)
    * extended to ARRAY state: the mid-feed stop/resume must round-trip
    * the 4-slot seasonal vector through the checkpoint bit-exactly AND
    * resume the slot INDEX (n mod 4) at the committed count — a
    * serialization shortcut that drops or reorders seasonal slots, or
    * a recovery that replays the index from zero, diverges from q303's
    * batch fold (the oracle, verbatim — same convention as the other
    * recovery gates).
    */
  def q307StreamHwRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (batches, restarts) = sixths(valEvents(spark, dir), 16384L)
    hwFinalState(Feed(spark, "update", batches, restarts)(StreamingOps.holtWintersPerKey))
  }

  /** q287: dedup-on-ingest ACROSS A RESTART — the corpus arrives over
    * micro-batches with one stop/resume in the middle; the streaming
    * `dropDuplicates` seen-fingerprint state must survive the restart,
    * or a duplicate whose copies span the restart boundary is
    * re-admitted and its fingerprint shows 2 distinct emitted doc ids.
    * The output grain is (fp, distinct emitted doc ids): distinct-id
    * counting (not raw emission counting) keeps the gate insensitive to
    * a benignly replayed boundary micro-batch — a replay re-emits the
    * SAME doc id, a state leak admits a DIFFERENT one — while the
    * oracle still pins every fingerprint to exactly one survivor.
    */
  def q287StreamDedupRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Documents.read(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .sort("doc_id")
    val (batches, restarts) = sixths(docs, 4096L)
    // survivors only, as (fp, doc_id), so the driver buffer is bounded
    // by the DISTINCT-content count
    Feed(spark, "append", batches, restarts)(ds =>
      StreamingOps.dedupOnIngest(ds.toDF("doc_id", "text"), "text")
        .select(md5(graft.functions.TextFunctions.normText(col("text"))).as("fp"),
          col("doc_id")))
      .groupBy("fp").agg(countDistinct(col("doc_id")).as("n_emitted_ids"))
  }

  private def usTimestamp(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      us / 1000000L, us % 1000000L * 1000L))

  /** The pair-swapped disorder feed (q293/q294/q308 and, with their
    * restart, q299/q309): the time-ordered events in 12 chunks, each
    * adjacent pair fed REVERSED (chunk k+1's micro-batch lands before
    * chunk k's), then two watermark-advancing sentinel batches (user −1,
    * filtered out) that flush the buffered tails through the event-time
    * timeouts. `delay` is the watermark delay that covers the widest
    * swapped pair, measured from the data, so no event is ever late;
    * `restarts` stops and resumes the query before the first pair at or
    * past half the feed, straight after a swapped chunk landed, so
    * pending buffers are guaranteed non-empty at the stop.
    */
  private case class DisorderFeed(
      batches: Iterator[Seq[StreamingOps.ValEvent]], delay: String, restarts: Set[Int])

  private def disorderFeed(spark: SparkSession, dir: String): DisorderFeed = {
    import spark.implicits._
    val ev = valEvents(spark, dir)
      // persisted: the count, the span pass and the feed pass otherwise
      // each re-run the corpus sort (runner owns the cache lifecycle)
      .persist()
    val n = ev.count()
    // 12 chunks = 6 reversed pairs: each chunk still costs one
    // processAllAvailable barrier (the pair MUST span two micro-batches
    // or the cross-batch pending-buffer path goes untested), and the
    // barrier count — not rows/barrier — dominates gate wall time
    // (round-9 ran 24 chunks; halving them halved the gate cost with
    // hashes unchanged, the answers being delivery-order-invariant)
    val chunk = math.max(1L, math.min(32768L, (n + 11) / 12)).toInt
    var maxSpanUs = 0L
    var globalMaxUs = Long.MinValue
    Feed.rows(ev).grouped(chunk).grouped(2).foreach { pair =>
      val ts = pair.flatten.map(e => epochMicros(e.ts))
      maxSpanUs = math.max(maxSpanUs, ts.max - ts.min)
      globalMaxUs = math.max(globalMaxUs, ts.max)
    }
    val delaySec = maxSpanUs / 1000000L + 61L
    DisorderFeed(
      Feed.swapPairs(Feed.rows(ev).grouped(chunk)) ++ (1 to 2).iterator.map(k =>
        Seq(StreamingOps.ValEvent(-1L,
          usTimestamp(globalMaxUs + (delaySec + 120 * k) * 1000000L), 0L, 0.0))),
      s"$delaySec seconds", midFeed(n, chunk, per = 2))
  }

  /** q293: streaming EWMA under OUT-OF-ORDER delivery, driver-verified —
    * the events feed arrives with ADJACENT CHUNK PAIRS SWAPPED
    * ([[disorderFeed]]: deterministic cross-batch disorder), processed
    * by [[StreamingOps.ewmaPerKeyOrdered]] with a watermark delay
    * measured from the data to cover the widest swapped pair — so no
    * event is ever late, every event buffers until the watermark passes
    * it, and the folds happen in exact (ts, event_id) order regardless
    * of arrival order. The final per-key state must hash-equal the SAME
    * in-order batch-fold oracle q267 uses: the disorder must be
    * answer-invisible.
    */
  def q293StreamEwmaOutOfOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = disorderFeed(spark, dir)
    ewmaFinalState(Feed(spark, "update", f.batches)(
      StreamingOps.ewmaPerKeyOrdered(_, f.delay)).filter(col("user_id") >= 0))
  }

  /** q294: the COUPLED Holt (level, trend) state under the same
    * out-of-order feed — q284's disorder twin through
    * [[StreamingOps.holtPerKeyOrdered]]; the oracle is q284's in-order
    * recursive-CTE recurrence, so the hash proves the two-variable fold
    * is also delivery-order-invisible under the watermark.
    */
  def q294StreamHoltOutOfOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = disorderFeed(spark, dir)
    holtFinalState(Feed(spark, "update", f.batches)(
      StreamingOps.holtPerKeyOrdered(_, f.delay)).filter(col("user_id") >= 0))
  }

  /** q308: out-of-order Holt-Winters — the q293/q294 disorder gate for
    * the three-variable seasonal fold
    * ([[StreamingOps.holtWintersPerKeyOrdered]]): the pair-swapped feed
    * under the data-derived watermark must fold to q303's in-order
    * batch answer bit-exactly. The seasonal SLOT is the folded count
    * (n mod 4), so this gate additionally proves disorder cannot rotate
    * the seasonal assignment — the failure a naive arrival-order index
    * would hit on the very first swapped pair. Completes the fold
    * family's symmetry: each of EWMA / Holt / Holt-Winters now carries
    * in-order, recovery and out-of-order gates against ONE batch
    * oracle.
    */
  def q308StreamHwOutOfOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = disorderFeed(spark, dir)
    hwFinalState(Feed(spark, "update", f.batches)(
      StreamingOps.holtWintersPerKeyOrdered(_, f.delay)).filter(col("user_id") >= 0))
  }

  /** Per-user FINAL EWMA state (the max-n update row) — the rollup of
    * the EWMA gates (q267/q285/q293/q299).
    */
  private def ewmaFinalState(updates: DataFrame): DataFrame =
    updates
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("ewma"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.ewma").as("ewma"))

  /** Per-user FINAL Holt state (the max-n update row) — the rollup of
    * the Holt gates (q284/q286/q294).
    */
  private def holtFinalState(updates: DataFrame): DataFrame =
    updates
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("level"), col("trend"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.level").as("level"), col("m.trend").as("trend"))

  /** Per-user FINAL Holt-Winters state (the max-n update row) — the
    * rollup all four HW gates share (q304/q307/q308/q309); the one
    * place to touch if the state shape ever grows a slot.
    */
  private def hwFinalState(updates: DataFrame): DataFrame =
    updates
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("level"), col("trend"),
        col("s0"), col("s1"), col("s2"), col("s3"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.level").as("level"), col("m.trend").as("trend"),
        col("m.s0").as("s0"), col("m.s1").as("s1"),
        col("m.s2").as("s2"), col("m.s3").as("s3"))

  /** q296: gap-sessionization parity, driver-verified — the events feed
    * arrives time-ordered over micro-batches through
    * [[StreamingOps.sessionize]] (flatMapGroupsWithState, O(1)
    * (start, lastSeen, n) per user, 30-min gap, event-time timeout);
    * two watermark-advancing sentinel batches force every still-open
    * session through its timeout, so EVERY session appears exactly once
    * as a closed record and the gate compares the full
    * (user, session_start µs, n_events) session table against the
    * batch gaps-and-islands oracle — the per-session grain, stronger
    * than q51's per-user rollup. A premature timeout, a lost state
    * field, a ms-truncated gap compare or a double-emitted session all
    * fail the hash.
    */
  def q296StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    closedSessions(Feed(spark, "append", sessionFeed(spark, dir))(StreamingOps.sessionize(_)))
  }

  /** q337: q296's sessionization gate re-run on the TransformWithState
    * API ([[StreamingOps.sessionizeV2]]: event-time mode, per-key
    * timers via registerTimer/handleExpiredTimer, product-typed named
    * ValueState, RocksDB-backed) — SAME oracle as q296, so the driver
    * hash proves the two state APIs implement identical session
    * semantics: every session closes exactly once at the same
    * micro-second boundaries whether the timeout is a GroupState
    * event-time timeout or a v2 registered timer.
    */
  def q337StreamSessionsV2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withRocksDbStateStore(spark) {
      closedSessions(Feed(spark, "append", sessionFeed(spark, dir))(StreamingOps.sessionizeV2(_)))
    }
  }

  /** The session gates' feed (q296/q337): every event's (user_id, ts)
    * in time order, then two sentinel batches 1 h and 2 h past the last
    * event — gap (30 min) + watermark delay (10 min) + margin: the
    * first advances the watermark, the second fires the timeouts.
    */
  private def sessionFeed(spark: SparkSession, dir: String)
      : Iterator[Seq[StreamingOps.Event]] = {
    import spark.implicits._
    sentinelled(RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .as[StreamingOps.Event]
      .sort("ts", "user_id"), 3600L)(StreamingOps.Event(-1L, _))
  }

  private def closedSessions(updates: DataFrame): DataFrame =
    updates
      .filter(col("user_id") >= 0 && col("closed"))
      .select(col("user_id"), col("session_start"),
        col("n_events").cast("long").as("n_events"))

  /** q297: watermarked tumbling-window parity, driver-verified —
    * [[StreamingOps.eventWindowCounts]] in APPEND mode emits each
    * hourly (window, event_type) count exactly once, when the watermark
    * finalizes the window; the sentinel batches finalize the tail. The
    * oracle is batch q50's hourly rollup — a count emitted before its
    * window closed (wrong finalization), emitted twice, or missing a
    * late-finalized tail window all fail the hash.
    */
  def q297StreamWindowCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Feed(spark, "append", typeFeed(spark, dir))(ds =>
      StreamingOps.eventWindowCounts(ds.toDF("ts", "event_type")))
      .filter(col("event_type") =!= "__sentinel")
  }

  /** q298: streaming count-min sketch grid, driver-verified — the
    * corpus tokens arrive over micro-batches through
    * [[StreamingOps.cmsSketch]] in COMPLETE mode (streaming state is
    * the ≤ depth×width counter grid no matter how long the stream
    * runs — the bounded-state form of word counting), and the final
    * grid must hash-equal the closed-form md5 bucket arithmetic the
    * q113 batch sketch uses. The whole point of a mergeable sketch on
    * a stream: the grid is the ONLY state, and batch/stream/any-order
    * ingestion all land on the identical counters.
    */
  def q298StreamCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Feed(spark, "complete", corpusChunks(spark, dir, 4096))(ds =>
      StreamingOps.cmsSketch(
        ds.toDF("doc_id", "text").select(graft.functions.AlnumTokens(col("text"))).select("word")))
  }

  /** q299: out-of-order delivery AND a checkpoint restart in one gate —
    * the compound stress: the pair-swapped feed runs through
    * [[StreamingOps.ewmaPerKeyOrdered]] with a stop/resume mid-feed, so
    * the per-key PENDING BUFFER (a list of unfolded events, not just an
    * O(1) scalar) must round-trip the state store bit-exactly and the
    * source must resume at the committed offset while disorder is still
    * in flight. Same oracle as q267/q285/q293: the final state must
    * equal the in-order batch fold no matter what the delivery did.
    */
  def q299StreamEwmaOooRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = disorderFeed(spark, dir)
    ewmaFinalState(Feed(spark, "update", f.batches, f.restarts)(
      StreamingOps.ewmaPerKeyOrdered(_, f.delay)).filter(col("user_id") >= 0))
  }

  /** q309: the COMPOUND gate for the seasonal fold — q299's
    * disorder+restart feed over
    * [[StreamingOps.holtWintersPerKeyOrdered]]: the per-key pending
    * LIST and the 4-slot seasonal ARRAY (plus its folded-count slot
    * index) must together survive a mid-feed checkpoint restart while
    * disorder is in flight, against q303's batch oracle verbatim. The
    * strongest state-shape invariant in the gate set: every
    * non-scalar component the store can hold, round-tripped at once.
    */
  def q309StreamHwOooRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = disorderFeed(spark, dir)
    hwFinalState(Feed(spark, "update", f.batches, f.restarts)(
      StreamingOps.holtWintersPerKeyOrdered(_, f.delay)).filter(col("user_id") >= 0))
  }

  /** The merged view+click feed every stream-STREAM gate reads: both
    * event types in one global (ts, event_id) order, so the driver can
    * deal each chunk out to the two MemoryStreams and the per-side
    * arrival order matches event time (the in-order contract under
    * which the watermarked join's state eviction provably loses no
    * pair — see [[q310StreamIntervalJoin]]).
    */
  private def viewClickFeed(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, Long, String)] = {
    import spark.implicits._
    RelationalQueries.events(spark, dir)
      .filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .sort("ts", "event_id")
  }

  /** Run `plan` over a view stream and a click stream in append mode
    * ([[Feed.drive]]): each merged-feed batch is dealt out to the two
    * MemoryStreams (a batch missing one side simply skips that source)
    * and is one micro-batch, with a stop/resume from the same checkpoint
    * before each batch index in `restarts`.
    */
  private def viewsClicks(
      spark: SparkSession, batches: Iterator[Seq[(Long, java.sql.Timestamp, Long, String)]],
      restarts: Set[Int] = Set.empty)(plan: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import spark.implicits._
    val msV = MemoryStream[StreamingOps.ViewEvt](spark)
    val msC = MemoryStream[StreamingOps.ClickEvt](spark)
    Feed.drive(spark, "append", batches, restarts) { batch =>
      val views = batch.collect {
        case (u, ts, id, "view") => StreamingOps.ViewEvt(u, id, ts) }
      val clicks = batch.collect {
        case (u, ts, id, "click") => StreamingOps.ClickEvt(u, id, ts) }
      if (views.nonEmpty) msV.addData(views)
      if (clicks.nonEmpty) msC.addData(clicks)
    }(plan(msV.toDF(), msC.toDF()))
  }

  /** q310: the stream-STREAM interval join, driver-verified — the first
    * gate with TWO unbounded sides. Views and clicks arrive through
    * separate MemoryStreams in global event-time order (each chunk dealt
    * to both sources, one micro-batch per chunk), joined by
    * [[StreamingOps.attributeWithin]] — equi-key on user plus an
    * event-time range under watermarks on BOTH sides, the shape whose
    * buffered join state Structured Streaming bounds and evicts as the
    * watermarks advance. The oracle is batch q111's SQL verbatim: every
    * (view, click) pair within the 4-hour window must be emitted exactly
    * once, so a view evicted too early (lost pair), a click replayed
    * across batches (duplicate pair), or any µs drift in `lag_us` fails
    * the driver's hash.
    *
    * WHY the answer is exact despite eviction: the feed is globally
    * (ts, event_id)-ordered, so when the click-side watermark passes
    * `view_ts + gap` (the eviction bound derived from the join's range
    * condition), every click that could still match that view — all have
    * `click_ts <= view_ts + gap < watermark + delay` — has already been
    * delivered in an earlier micro-batch. Inner-join matches emit
    * eagerly in append mode; the watermark only gates STATE, so no
    * emission waits on it. At production scale the same bound is what
    * keeps two 100 TB/day sides joinable: state is the trailing
    * `gap + delay` window of views, not the full history.
    */
  def q310StreamIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    q310StreamIntervalJoin(spark, dir, stateStore = "default")

  /** [[q310StreamIntervalJoin]] with the state-store provider explicit —
    * the production knob for the two-sided buffered join state. The
    * registered gate keeps `"default"` (HDFSBackedStateStore): its cost
    * profile IS what the harness measures, and an in-heap map is the
    * right store for a MemoryStream proof harness. `"rocksdb"` runs the
    * identical gate under `RocksDBStateStoreProvider` + changelog
    * checkpointing — the production answer to q310's per-batch
    * full-store passes at scale (the default store rewrites every
    * entry's snapshot per batch; RocksDB pays only the delta through
    * the changelog, which is what bounds the 202 s sf1 harness cost).
    * Round11Spec pins bit-identical output across the two providers —
    * the store is an implementation detail of STATE, never of the
    * answer. Conf is set for the query's lifetime and restored after
    * (the provider is read at query start).
    */
  def q310StreamIntervalJoin(
      spark: SparkSession, dir: String, stateStore: String): DataFrame = {
    import spark.implicits._
    require(Set("default", "rocksdb")(stateStore),
      s"q310 stateStore must be 'default' or 'rocksdb', got '$stateStore'")
    // 16384-row chunks over the view+click subset (the q267 budget):
    // the per-batch cost is the symmetric-join state-store pass, so
    // barrier count — not batch size — dominates the harness cost
    // (1024-row chunks measured 330 s at sf0.1; 16384 runs in ~3
    // batches there)
    def core(): DataFrame =
      viewsClicks(spark, Feed.rows(viewClickFeed(spark, dir)).grouped(16384))(
        StreamingOps.attributeWithin(_, _, gapMinutes = 240))
    if (stateStore == "rocksdb") withRocksDbStateStore(spark)(core()) else core()
  }

  /** q313: q310's interval join ACROSS A QUERY RESTART — the recovery
    * family's first two-unbounded-sides member. The feed is dealt
    * exactly as in q310, but mid-feed the query is stopped and a new
    * query resumes from the same checkpoint: the symmetric hash join's
    * buffered state (every view still inside its eviction window, both
    * sides' watermarks) must reload bit-exactly, or pairs straddling the
    * restart vanish (lost view state) or double (offset reset). Same
    * oracle as q310 — batch q111 verbatim — so recovery must be
    * answer-invisible. The driver buffer holds the emitted pairs (the
    * full answer, the same bound as q310's memory sink); the final
    * `distinct()` is the standard idempotent-sink discipline for
    * at-least-once `foreachBatch` replay — the answer grain
    * (user_id, view_id, click_id) is already unique, so it collapses
    * only replayed duplicates, never true rows.
    */
  def q313StreamIntervalJoinRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ≥6 chunks (restart after ~3) — bounded driver memory either way;
    // the 16384 cap keeps the barrier count down at bigger fixtures
    // (q310's measured finding)
    val (batches, restarts) = sixths(viewClickFeed(spark, dir), 16384L)
    viewsClicks(spark, batches, restarts)(
      StreamingOps.attributeWithin(_, _, gapMinutes = 240)).distinct()
  }

  /** q314: stream-STATIC dimension enrichment, driver-verified — the
    * production ingest-enrichment shape: the full event stream arrives
    * over micro-batches and every event is joined against a STATIC
    * customer→nation dimension ([[StreamingOps.enrichedCounts]] — a
    * per-batch broadcast hash join, NO join state), rolling up running
    * (nation, event_type) counts in complete mode. The oracle is the
    * plain batch join + GROUP BY: a dropped or doubled enrichment in
    * any micro-batch, or a count-map state leak, shifts a count and
    * fails the hash. Streaming state is the bounded 25×5 count grid no
    * matter how long the feed runs.
    */
  def q314StreamDimEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Relational.read(spark, dir, "customer")
      .join(Relational.read(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("n_name"))
    val ev = RelationalQueries.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .sort("ts", "event_id")
    Feed(spark, "complete", Feed.rows(ev).grouped(16384))(ds =>
      StreamingOps.enrichedCounts(
        ds.toDF("user_id", "ts", "event_id", "event_type"), dim, "user_id", "n_name"))
  }

  /** q315: LEFT-OUTER stream-stream interval join, driver-verified —
    * q310's join with the semantics production funnels actually need:
    * every view appears, matched views with their clicks (identical to
    * q310's rows) and UNMATCHED views as (user_id, view_id, NULL, NULL).
    * The null-extended rows are the subtle part: Structured Streaming
    * may only emit one once the watermark PROVES no future click can
    * match (at state eviction), so they trail the matched rows — and a
    * finite feed must push the watermark past `max view_ts + gap` to
    * flush the tail. The harness appends two sentinel rounds on BOTH
    * streams (the global watermark is the min across inputs; a one-sided
    * sentinel would stall it) under user −1, which can match nothing —
    * the sentinel view's own null row is filtered by `user_id >= 0`, the
    * q293-family convention. The oracle is q111's SQL as a LEFT JOIN:
    * a null row emitted early (phantom), late (missing), or a matched
    * pair degraded to null fails the hash.
    */
  def q315StreamIntervalJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = viewClickFeed(spark, dir).persist()
    val maxUs = ev.select(max(unix_micros(col("ts")))).head.getLong(0)
    val gapMin = 240
    // two flush rounds past max view_ts + gap + delay, a sentinel on each
    // side: round 1 moves the watermark, round 2 evicts + emits the
    // trailing null rows
    val flush = (1 to 2).iterator.map { k =>
      val ts = usTimestamp(maxUs + (gapMin + 10 + 2 * k) * 60L * 1000000L)
      Seq((-1L, ts, -1L, "view"), (-1L, ts, -1L, "click"))
    }
    viewsClicks(spark, Feed.rows(ev).grouped(16384) ++ flush)(
      StreamingOps.attributeWithin(_, _, gapMinutes = gapMin, joinType = "leftOuter"))
      .filter(col("user_id") >= 0)
  }

  /** The q293-family disorder feed for the TWO-SIDED gates (q316/q317):
    * the merged view+click feed in 12 chunks with each adjacent pair
    * swapped, the watermark delay covering the widest swapped pair, and
    * q317's restart before the first pair at or past half the feed,
    * straight after a swapped chunk landed, so the join buffers hold
    * unmatched early arrivals at the stop.
    */
  private case class VcDisorderFeed(
      batches: Iterator[Seq[(Long, java.sql.Timestamp, Long, String)]],
      delay: String, restarts: Set[Int])

  private def vcDisorderFeed(spark: SparkSession, dir: String): VcDisorderFeed = {
    val ev = viewClickFeed(spark, dir).persist()
    val n = ev.count()
    val chunk = math.max(1L, math.min(32768L, (n + 11) / 12)).toInt
    var maxSpanUs = 0L
    Feed.rows(ev).grouped(chunk).grouped(2).foreach { pair =>
      val ts = pair.flatten.map(t => epochMicros(t._2))
      maxSpanUs = math.max(maxSpanUs, ts.max - ts.min)
    }
    VcDisorderFeed(Feed.swapPairs(Feed.rows(ev).grouped(chunk)),
      s"${maxSpanUs / 1000000L + 61L} seconds", midFeed(n, chunk, per = 2))
  }

  /** q316: the interval join under OUT-OF-ORDER delivery — adjacent
    * chunk pairs of the merged feed arrive SWAPPED (the q293 harness)
    * under a data-derived watermark delay covering the widest pair, so
    * clicks can precede the views they attribute to and vice versa. The
    * join must buffer the early arrivals and must NOT evict a view (or
    * drop a "late" row) while a match can still arrive — the delay makes
    * both provable, and the oracle (batch q111 verbatim) makes any
    * violation a hash failure. Inner matches need no flush sentinel:
    * they emit in whatever batch completes the pair. Completes the
    * in-order (q310) / recovery (q313) / out-of-order symmetry the fold
    * family established.
    */
  def q316StreamIntervalJoinOutOfOrder(spark: SparkSession, dir: String): DataFrame = {
    val f = vcDisorderFeed(spark, dir)
    viewsClicks(spark, f.batches)(
      StreamingOps.attributeWithin(_, _, gapMinutes = 240, delay = f.delay))
  }

  /** q317: disorder AND a checkpoint restart in one gate — the q299/q309
    * compound applied to the join family: the pair-swapped feed runs
    * with one mid-feed stop/resume against the same checkpoint, so the
    * symmetric join's buffers must round-trip the state store WHILE
    * holding early-arrival rows whose partners have not yet been fed.
    * Same oracle (batch q111 verbatim); the final `distinct()` is q313's
    * idempotent-sink discipline.
    */
  def q317StreamIntervalJoinOooRecovery(spark: SparkSession, dir: String): DataFrame = {
    val f = vcDisorderFeed(spark, dir)
    viewsClicks(spark, f.batches, f.restarts)(
      StreamingOps.attributeWithin(_, _, gapMinutes = 240, delay = f.delay)).distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q310_stream_interval_join" -> (q310StreamIntervalJoin _),
    "q335_stream_quota" -> (q335StreamQuota _),
    "q336_stream_quota_recovery" -> (q336StreamQuotaRecovery _),
    "q337_stream_sessions_v2" -> (q337StreamSessionsV2 _),
    "q338_stream_type_counts" -> (q338StreamTypeCounts _),
    "q339_stream_recent_items" -> (q339StreamRecentItems _),
    "q340_stream_dedup_bounded" -> (q340StreamDedupBounded _),
    "q342_stream_near_dup" -> (q342StreamNearDup _),
    "q343_stream_near_dup_recovery" -> (q343StreamNearDupRecovery _),
    "q345_stream_near_dup_evict" -> (q345StreamNearDupEvict _),
    "q346_stream_near_dup_ooo" -> (q346StreamNearDupOoo _),
    "q347_stream_quota_ttl" -> (q347StreamQuotaTtl _),
    "q348_stream_reservoir" -> (q348StreamReservoir _),
    "q349_stream_weighted_reservoir" -> (q349StreamWeightedReservoir _),
    "q350_stream_reservoir_recovery" -> (q350StreamReservoirRecovery _),
    "q351_stream_wreservoir_recovery" -> (q351StreamWeightedReservoirRecovery _),
    "q352_stream_quota_ttl_recovery" -> (q352StreamQuotaTtlRecovery _),
    "q353_stream_ewma_evict" -> (q353StreamEwmaEvict _),
    "q355_stream_ewma_evict_recovery" -> (q355StreamEwmaEvictRecovery _),
    "q357_stream_quota_format_migration" -> (q357StreamQuotaFormatMigration _),
    "q359_stream_holt_evict" -> (q359StreamHoltEvict _),
    "q361_stream_hw_evict" -> (q361StreamHwEvict _),
    "q367_stream_bpe_apply" -> (q367StreamBpeApply _),
    "q382_stream_unigram_apply" -> (q382StreamUnigramApply _),
    "q385_stream_doremi_mixture" -> (q385StreamDoremiMixture _),
    "q370_stream_hll" -> (q370StreamHll _),
    "q375_stream_quantile_sketch" -> (q375StreamQuantileSketch _),
    "q316_stream_interval_join_ooo" -> (q316StreamIntervalJoinOutOfOrder _),
    "q317_stream_interval_join_ooo_recovery" -> (q317StreamIntervalJoinOooRecovery _),
    "q313_stream_interval_join_recovery" -> (q313StreamIntervalJoinRecovery _),
    "q314_stream_dim_enrich" -> (q314StreamDimEnrich _),
    "q315_stream_interval_join_outer" -> (q315StreamIntervalJoinOuter _),
    "q296_stream_sessions" -> (q296StreamSessions _),
    "q298_stream_cms" -> (q298StreamCms _),
    "q299_stream_ewma_ooo_recovery" -> (q299StreamEwmaOooRecovery _),
    "q309_stream_hw_ooo_recovery" -> (q309StreamHwOooRecovery _),
    "q297_stream_window_counts" -> (q297StreamWindowCounts _),
    "q259_stream_dedup" -> (q259StreamDedup _),
    "q293_stream_ewma_ooo" -> (q293StreamEwmaOutOfOrder _),
    "q294_stream_holt_ooo" -> (q294StreamHoltOutOfOrder _),
    "q267_stream_ewma" -> (q267StreamEwma _),
    "q284_stream_holt" -> (q284StreamHolt _),
    "q304_stream_holt_winters" -> (q304StreamHoltWinters _),
    "q307_stream_hw_recovery" -> (q307StreamHwRecovery _),
    "q308_stream_hw_ooo" -> (q308StreamHwOutOfOrder _),
    "q305_stream_sliding_counts" -> (q305StreamSlidingCounts _),
    "q285_stream_ewma_recovery" -> (q285StreamEwmaRecovery _),
    "q286_stream_holt_recovery" -> (q286StreamHoltRecovery _),
    "q287_stream_dedup_recovery" -> (q287StreamDedupRecovery _))

  val oracleSql: Map[String, String] = Map(
    // q360's independent merge replay VERBATIM: the stream must land
    // exactly the batch encoding (the q267/q284 same-oracle convention)
    "q367_stream_bpe_apply" -> TextQueries.oracleSql("q360_bpe_apply"),
    // q378's recursive-CTE Viterbi replay verbatim (the q367/q370
    // same-oracle convention): stream segmentation == batch == DuckDB
    "q382_stream_unigram_apply" -> TextQueries.oracleSql("q378_unigram_apply"),
    // q381's full-trajectory EG replay verbatim: stream state == batch
    // NLL == DuckDB, then one shared driver arithmetic
    "q385_stream_doremi_mixture" -> HygieneQueries.oracleSql("q381_doremi_mixture"),
    // q7's register/fold replay VERBATIM: the streamed sketch's final
    // estimate must be the batch estimate
    "q370_stream_hll" -> ReferenceQueries.oracleSql("q7_approx_vocab"),
    // q373's sample/rank replay VERBATIM: the streamed bottom-k's
    // quantiles must be the batch quantiles
    "q375_stream_quantile_sketch" ->
      HygieneQueries.oracleSql("q373_quantile_sketch"),
    // batch q111 verbatim: the two-sided watermarked join must emit
    // exactly the batch pair set, once each
    "q310_stream_interval_join" -> RelationalQueries.ClickAttributionOracle,
    // the plain batch enrichment join + rollup the stream must equal
    "q314_stream_dim_enrich" ->
      """SELECT n.n_name, e.event_type, count(*) AS cnt
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |GROUP BY 1, 2""".stripMargin,
    // q111 as a LEFT join: matched pairs identical, every clickless
    // view exactly once with NULL click columns
    "q315_stream_interval_join_outer" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        | AND epoch_us(c.ts) >= epoch_us(v.ts)
        | AND epoch_us(c.ts) - epoch_us(v.ts) <= 14400000000""".stripMargin,
    // and a mid-feed restart must be answer-invisible: the SAME SQL
    "q313_stream_interval_join_recovery" -> RelationalQueries.ClickAttributionOracle,
    // disorder must be answer-invisible: the SAME SQL
    "q316_stream_interval_join_ooo" -> RelationalQueries.ClickAttributionOracle,
    // disorder + restart together must be invisible: the SAME SQL
    "q317_stream_interval_join_ooo_recovery" -> RelationalQueries.ClickAttributionOracle,
    // q303's batch recursive fold, verbatim: the stream's final state
    // must BE the batch answer (the q267/q284 gate convention)
    "q304_stream_holt_winters" -> RelationalQueries.HwFoldOracle,
    // recovery must be answer-invisible: the SAME batch fold
    "q307_stream_hw_recovery" -> RelationalQueries.HwFoldOracle,
    // disorder must be answer-invisible: the SAME in-order batch fold
    "q308_stream_hw_ooo" -> RelationalQueries.HwFoldOracle,
    // disorder + restart together must be invisible: same batch fold
    "q309_stream_hw_ooo_recovery" -> RelationalQueries.HwFoldOracle,
    // every event doubled into its two epoch-aligned 30-min-floored
    // window starts; finalized streamed counts must equal this exactly
    "q305_stream_sliding_counts" ->
      """WITH x AS (
        |  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000)
        |           AS b, event_type
        |  FROM events),
        |w AS (
        |  SELECT b AS win_start, event_type FROM x
        |  UNION ALL
        |  SELECT b - INTERVAL '30 minutes', event_type FROM x)
        |SELECT win_start, event_type, count(*) AS cnt
        |FROM w GROUP BY 1, 2""".stripMargin,
    // in-order fold again: disorder + restart must both be invisible
    "q299_stream_ewma_ooo_recovery" ->
      """SELECT user_id, count(*) AS n_events,
        |       list_reduce(list(value ORDER BY ts, event_id),
        |                   (acc, x) -> acc / 2 + x / 2) AS ewma
        |FROM events GROUP BY user_id""".stripMargin,
    // q113's sketch stage verbatim: same md5 bucket arithmetic, same
    // per-(row, bucket) sums — the streamed grid is the batch grid
    "q298_stream_cms" ->
      s"""${TextQueries.WordsCte},
         |tok AS (SELECT unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |rb AS (
         |  SELECT f.word, f.cnt, r.r,
         |         CAST(('0x' || substr(md5(r.r || '|' || f.word), 1, 8)) AS BIGINT)
         |           % 1024 AS b
         |  FROM freq f CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r)
         |SELECT CAST(r AS INT) AS r, b, CAST(SUM(cnt) AS BIGINT) AS cnt
         |FROM rb GROUP BY 1, 2""".stripMargin,
    // batch gaps-and-islands at the per-session grain: island id = running
    // sum of >30min-gap flags per user, session_start = min epoch micros
    // q337 = q296's semantics on the TransformWithState API — same
    // oracle by design: the hash is the cross-API equivalence proof
    "q337_stream_sessions_v2" -> SessionsOracle,
    "q296_stream_sessions" -> SessionsOracle,
    // q50's hourly rollup without the value sum (the streaming twin
    // counts only)
    "q297_stream_window_counts" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,
    // one emission per distinct normalized content — the batch q30
    // grain; any cross-batch state leak shows up as n_emitted = 2
    "q259_stream_dedup" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |       CAST(1 AS BIGINT) AS n_emitted
        |FROM documents GROUP BY 1""".stripMargin,
    // the batch fold over the full per-user history — list_reduce seeds
    // from the first element exactly as the stream state seeds from the
    // first event, and e/2 + x/2 is the identical IEEE step, so the
    // streamed final state must BIT-equal this
    "q267_stream_ewma" ->
      """SELECT user_id, count(*) AS n_events,
        |       list_reduce(list(value ORDER BY ts, event_id),
        |                   (acc, x) -> acc / 2 + x / 2) AS ewma
        |FROM events GROUP BY user_id""".stripMargin,
    // the batch row_number admission gate the streaming quota must
    // bit-equal: first 5 events per user in (ts, event_id) order
    // admitted, checksum over admitted event ids (q335 in-order,
    // q336 across a restart — same oracle, the recovery-family
    // convention)
    "q335_stream_quota" -> QuotaOracle,
    "q336_stream_quota_recovery" -> QuotaOracle,
    // the checkpoint-format migration must be answer-invisible, so it
    // shares q335's lifetime-quota oracle (the family convention)
    "q357_stream_quota_format_migration" -> QuotaOracle,
    // the plain batch engagement matrix the map-state counts must equal
    "q338_stream_type_counts" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,
    // last 3 events per user under the (ts, event_id) total order — the
    // ring the list state must reproduce, oldest first
    "q339_stream_recent_items" ->
      """WITH o AS (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_seen,
        |       array_to_string(list(event_id ORDER BY rn), '>') AS recent
        |FROM o WHERE rn > n - 3 GROUP BY user_id""".stripMargin,
    // batch q31's band construction verbatim + min earlier band-mate —
    // the stream's carried bucket minima must reproduce it exactly
    // (same oracle for the recovery twin — the family convention)
    "q342_stream_near_dup" -> NearDupOracle,
    "q343_stream_near_dup_recovery" -> NearDupOracle,
    // closed-form copy-1 rows from the shared eligibility arithmetic:
    // an eviction that never fires adds copy-2 rows (row count fails);
    // a premature one loses copy-1 rows (hash fails)
    "q345_stream_near_dup_evict" -> NearDupEvictOracle,
    // the order-free bucket census an id-shuffled feed must still match
    "q346_stream_near_dup_ooo" -> NearDupOooOracle,
    // the q335 admission gate re-run per slice: expired counters must
    // restart the quota, surviving ones must not
    "q347_stream_quota_ttl" -> QuotaTtlOracle,
    // the exact batch bottom-20 per source under the same md5 priority
    // coin — what the streamed reservoir must equal under ANY arrival
    // order (the gate feeds a shuffled one)
    "q348_stream_reservoir" -> ReservoirOracle,
    // q138's weighted coin verbatim (u/2^52 then /w, two left-assoc
    // IEEE divisions) — the streamed weighted reservoir must equal the
    // batch bottom-20 under ANY arrival order
    "q349_stream_weighted_reservoir" -> WReservoirOracle,
    // the recovery-family convention: same oracle as the in-order gate —
    // the checkpoint round-trip must be answer-invisible
    "q350_stream_reservoir_recovery" -> ReservoirOracle,
    "q351_stream_wreservoir_recovery" -> WReservoirOracle,
    // phase grain: slices 0-1 one cumulative quota (restart within TTL),
    // slice 2 fresh (slept past it)
    "q352_stream_quota_ttl_recovery" -> QuotaTtlRecoveryOracle,
    // the q267 batch fold re-run inside each (user, slice) — what the
    // evicting EWMA must equal when every inter-slice gap exceeds the
    // retention (slice column grouped but not selected: the stream
    // side cannot know which slice an update came from, and the
    // multiset of (user, n, ewma) rows is already decisive). Same
    // oracle for the recovery twin — the family convention.
    "q353_stream_ewma_evict" -> EwmaEvictOracle,
    "q355_stream_ewma_evict_recovery" -> EwmaEvictOracle,
    // q284's recursive coupled fold re-run inside each (user, slice) —
    // the evicting Holt twin's per-slice batch answer
    "q359_stream_holt_evict" ->
      """WITH RECURSIVE o AS (
        |  SELECT user_id, ts, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) - 1 AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events),
        |s AS (SELECT user_id, ts, event_id, value,
        |             rn // ((cnt + 2) // 3) AS slice FROM o),
        |ser AS (
        |  SELECT user_id, slice, list(value ORDER BY ts, event_id) AS xs,
        |         count(*) AS n
        |  FROM s GROUP BY user_id, slice),
        |fold AS (
        |  SELECT user_id, slice, 1 AS i, xs[1] AS l, CAST(0 AS DOUBLE) AS b
        |  FROM ser
        |  UNION ALL
        |  SELECT f.user_id, f.slice, f.i + 1,
        |         (sr.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2,
        |         ((sr.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2 - f.l + f.b) / 2
        |  FROM fold f JOIN ser sr
        |    ON sr.user_id = f.user_id AND sr.slice = f.slice
        |  WHERE f.i < sr.n)
        |SELECT f.user_id, CAST(sr.n AS BIGINT) AS n_events,
        |       f.l AS level, f.b AS trend
        |FROM fold f JOIN ser sr
        |  ON sr.user_id = f.user_id AND sr.slice = f.slice
        |WHERE f.i = sr.n""".stripMargin,
    // q303/q304's recursive SEASONAL fold re-run inside each
    // (user, slice) — the evicting Holt-Winters twin's per-slice batch
    // answer (the q359 oracle with the four seasonal slots carried
    // through the recursion; slice grouped but not selected, as above)
    "q361_stream_hw_evict" ->
      """WITH RECURSIVE o AS (
        |  SELECT user_id, ts, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) - 1 AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events),
        |sl AS (SELECT user_id, ts, event_id, value,
        |              rn // ((cnt + 2) // 3) AS slice FROM o),
        |ser AS (
        |  SELECT user_id, slice, list(value ORDER BY ts, event_id) AS xs,
        |         count(*) AS n
        |  FROM sl GROUP BY user_id, slice),
        |fold AS (
        |  SELECT user_id, slice, 1 AS i, xs[1] AS l, CAST(0 AS DOUBLE) AS b,
        |         CAST(0 AS DOUBLE) AS s0, CAST(0 AS DOUBLE) AS s1,
        |         CAST(0 AS DOUBLE) AS s2, CAST(0 AS DOUBLE) AS s3
        |  FROM ser
        |  UNION ALL
        |  SELECT f.user_id, f.slice, f.i + 1,
        |    (s.xs[CAST(f.i + 1 AS INT)]
        |     - CASE f.i % 4 WHEN 0 THEN f.s0 WHEN 1 THEN f.s1
        |                    WHEN 2 THEN f.s2 ELSE f.s3 END
        |     + f.l + f.b) / 2,
        |    ((s.xs[CAST(f.i + 1 AS INT)]
        |      - CASE f.i % 4 WHEN 0 THEN f.s0 WHEN 1 THEN f.s1
        |                     WHEN 2 THEN f.s2 ELSE f.s3 END
        |      + f.l + f.b) / 2 - f.l + f.b) / 2,
        |    CASE WHEN f.i % 4 = 0 THEN
        |      (s.xs[CAST(f.i + 1 AS INT)]
        |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s0 + f.l + f.b) / 2
        |       + f.s0) / 2
        |    ELSE f.s0 END,
        |    CASE WHEN f.i % 4 = 1 THEN
        |      (s.xs[CAST(f.i + 1 AS INT)]
        |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s1 + f.l + f.b) / 2
        |       + f.s1) / 2
        |    ELSE f.s1 END,
        |    CASE WHEN f.i % 4 = 2 THEN
        |      (s.xs[CAST(f.i + 1 AS INT)]
        |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s2 + f.l + f.b) / 2
        |       + f.s2) / 2
        |    ELSE f.s2 END,
        |    CASE WHEN f.i % 4 = 3 THEN
        |      (s.xs[CAST(f.i + 1 AS INT)]
        |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s3 + f.l + f.b) / 2
        |       + f.s3) / 2
        |    ELSE f.s3 END
        |  FROM fold f JOIN ser s
        |    ON s.user_id = f.user_id AND s.slice = f.slice
        |  WHERE f.i < s.n)
        |SELECT f.user_id, CAST(s.n AS BIGINT) AS n_events,
        |       f.l AS level, f.b AS trend, f.s0, f.s1, f.s2, f.s3
        |FROM fold f JOIN ser s
        |  ON s.user_id = f.user_id AND s.slice = f.slice
        |WHERE f.i = s.n""".stripMargin,
    // exactly one emission per (user, cluster): the cluster head is
    // re-admitted after eviction, its 3 in-window followers dedup —
    // the same slice arithmetic the gate's feed construction uses
    "q340_stream_dedup_bounded" ->
      """WITH o AS (
        |  SELECT user_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) - 1 AS rn
        |  FROM events)
        |SELECT user_id,
        |       CAST(2 * (rn // 4) + user_id % 2 AS BIGINT) AS slice,
        |       CAST(1 AS BIGINT) AS n_emitted
        |FROM o WHERE rn % 4 = 0""".stripMargin,
    // the identical coupled IEEE steps walked per key by a recursive
    // CTE (a struct list_reduce would rebind l mid-row — q251 finding)
    "q284_stream_holt" ->
      """WITH RECURSIVE ser AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS xs,
        |         count(*) AS n
        |  FROM events GROUP BY user_id),
        |fold AS (
        |  SELECT user_id, 1 AS i, xs[1] AS l, CAST(0 AS DOUBLE) AS b
        |  FROM ser
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1,
        |         (s.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2,
        |         ((s.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2 - f.l + f.b) / 2
        |  FROM fold f JOIN ser s ON s.user_id = f.user_id
        |  WHERE f.i < s.n)
        |SELECT f.user_id, CAST(s.n AS BIGINT) AS n_events,
        |       f.l AS level, f.b AS trend
        |FROM fold f JOIN ser s USING (user_id) WHERE f.i = s.n""".stripMargin,
    // identical oracles to the uninterrupted gates: recovery must be
    // answer-invisible, so the SAME batch fold pins the restarted run
    // the disorder must be answer-invisible: the SAME in-order fold
    "q293_stream_ewma_ooo" ->
      """SELECT user_id, count(*) AS n_events,
        |       list_reduce(list(value ORDER BY ts, event_id),
        |                   (acc, x) -> acc / 2 + x / 2) AS ewma
        |FROM events GROUP BY user_id""".stripMargin,
    "q294_stream_holt_ooo" ->
      """WITH RECURSIVE ser AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS xs,
        |         count(*) AS n
        |  FROM events GROUP BY user_id),
        |fold AS (
        |  SELECT user_id, 1 AS i, xs[1] AS l, CAST(0 AS DOUBLE) AS b
        |  FROM ser
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1,
        |         (s.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2,
        |         ((s.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2 - f.l + f.b) / 2
        |  FROM fold f JOIN ser s ON s.user_id = f.user_id
        |  WHERE f.i < s.n)
        |SELECT f.user_id, CAST(s.n AS BIGINT) AS n_events,
        |       f.l AS level, f.b AS trend
        |FROM fold f JOIN ser s USING (user_id) WHERE f.i = s.n""".stripMargin,
    "q285_stream_ewma_recovery" ->
      """SELECT user_id, count(*) AS n_events,
        |       list_reduce(list(value ORDER BY ts, event_id),
        |                   (acc, x) -> acc / 2 + x / 2) AS ewma
        |FROM events GROUP BY user_id""".stripMargin,
    "q286_stream_holt_recovery" ->
      """WITH RECURSIVE ser AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS xs,
        |         count(*) AS n
        |  FROM events GROUP BY user_id),
        |fold AS (
        |  SELECT user_id, 1 AS i, xs[1] AS l, CAST(0 AS DOUBLE) AS b
        |  FROM ser
        |  UNION ALL
        |  SELECT f.user_id, f.i + 1,
        |         (s.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2,
        |         ((s.xs[CAST(f.i + 1 AS INT)] + f.l + f.b) / 2 - f.l + f.b) / 2
        |  FROM fold f JOIN ser s ON s.user_id = f.user_id
        |  WHERE f.i < s.n)
        |SELECT f.user_id, CAST(s.n AS BIGINT) AS n_events,
        |       f.l AS level, f.b AS trend
        |FROM fold f JOIN ser s USING (user_id) WHERE f.i = s.n""".stripMargin,
    // every fingerprint has exactly ONE emitted survivor id, no matter
    // where the restart fell
    "q287_stream_dedup_recovery" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |       CAST(1 AS BIGINT) AS n_emitted_ids
        |FROM documents GROUP BY 1""".stripMargin)
}
