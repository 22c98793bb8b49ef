package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Tokenizer

/** Structured Streaming surface: the reference is batch-only
  * (`/root/reference/src/main.cpp:30-59` runs once and exits), so these are
  * the extended-engine streaming twins of the batch operators — built so
  * the SAME logical transformations run incrementally:
  *
  *   - [[incrementalDocWords]]: the reference's tokenize→clean→dedup map
  *     phase over an unbounded `(doc_id, text)` stream — Tokenizer is pure
  *     built-in expressions, so it is streaming-safe as-is;
  *   - [[eventWindowCounts]]: watermarked tumbling-window aggregation, the
  *     streaming twin of batch q50;
  *   - [[sessionize]]: gap-based sessions via flatMapGroupsWithState with
  *     event-time timeout, the streaming twin of batch q51.
  */
object StreamingOps {

  /** Tokenize an unbounded `(doc_id, text)` stream into distinct
    * `(doc_id, word)` pairs. `dropDuplicates` keeps per-key state; with a
    * watermark on an attached event-time column Spark bounds that state —
    * at 100 TB/day the watermark is what makes the state finite.
    */
  def incrementalDocWords(docs: DataFrame): DataFrame =
    Tokenizer.tokens(docs, "text", Seq("doc_id")).dropDuplicates("doc_id", "word")

  /** Tumbling 1-hour event-time counts per event_type with a watermark —
    * append-mode-safe (finalized windows only). Identical plan shape to
    * RelationalQueries.q50HourlyWindows.
    */
  def eventWindowCounts(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("cnt"))

  /** SLIDING-window counts — 1-hour windows every 30 minutes, so each
    * event lands in exactly TWO overlapping windows (the overlap is what
    * tumbling [[eventWindowCounts]] cannot express: a rate readable at
    * twice the window's resolution). Same watermark/finalization
    * contract as the tumbling gate: in APPEND mode each (window, type)
    * count emits exactly once, when the watermark passes the window
    * end. Spark's window slide is epoch-aligned, so the oracle's
    * integer 30-minute flooring reproduces the starts exactly.
    */
  def eventSlidingCounts(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("win_start"), col("event_type"), col("cnt"))

  /** Exact dedup on ingest: drop every document whose normalized-content
    * md5 fingerprint has already been seen — ACROSS micro-batches
    * (streaming `dropDuplicates` keeps the seen-fingerprint set as
    * operator state), so a continuously-arriving corpus is deduplicated
    * the same way batch q30 dedups a static one. State is one 128-bit
    * hash per distinct content; for unbounded retention attach an
    * event-time column and use `withWatermark` +
    * `dropDuplicatesWithinWatermark` to bound it.
    */
  def dedupOnIngest(docs: DataFrame, textCol: String): DataFrame = {
    // collision-safe internal name, dropped before returning — the output
    // schema is exactly the input schema, and a user 'fp' column survives
    val fp = "__graft_ingest_fp"
    docs
      .withColumn(fp, md5(graft.functions.TextFunctions.normText(col(textCol))))
      .dropDuplicates(fp)
      .drop(fp)
  }

  /** BOUNDED-state dedup on ingest — the production retention bound
    * [[dedupOnIngest]]'s doc names: `withWatermark` +
    * `dropDuplicatesWithinWatermark`, so the seen-key state is EVICTED
    * once the event-time watermark passes a key's first-seen time plus
    * the delay, instead of growing with every distinct key forever
    * (plain streaming `dropDuplicates` at 100 TB of ingest = one state
    * row per distinct document for the life of the stream; this keeps
    * state proportional to the delay window's distinct keys). The
    * contract that makes an exact oracle possible: duplicates arriving
    * within the delay of the key's first event are GUARANTEED dropped;
    * a key recurring after the watermark has passed its expiry is
    * GUARANTEED re-admitted (its state is gone); and recurrences in
    * the undefined middle band are a fixture-design problem, not an
    * operator one — q340's feed keeps every gap far on one side or the
    * other, so its hash is exact under either of the two defensible
    * expiry anchors (first-seen vs last-seen: the fixture's in-window
    * span ≪ its across-window gap).
    */
  def dedupBoundedOnIngest(
      events: DataFrame, keys: Seq[String], tsCol: String,
      delay: String): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  case class BandRow(doc_id: Long, band: Int, digest: String, ts: Timestamp)
  case class DupVerdict(doc_id: Long, band: Int, dup_of: Long)
  /** [[nearDupOnIngestUnordered]]'s verdict carries the bucket DIGEST
    * too: its rollup grain is the bucket (order-free member sets), not
    * the doc, and the band index alone does not identify a bucket.
    */
  case class DupVerdictU(doc_id: Long, band: Int, digest: String, dup_of: Long)
  /** Per-bucket state of the ordered near-dup fold: the minimum
    * (earliest-arrived) doc id — the carried answer — plus the maximum
    * id ever seen, which exists ONLY to make the arrival-order contract
    * executable: a batch whose smallest id undercuts `maxId` proves the
    * feed violated id-monotone arrival, and the operator FAILS FAST
    * instead of silently under-flagging the pair.
    */
  case class NearDupBucket(minId: Long, maxId: Long, lastSeenUs: Long)
  case class AnchorBucket(anchor: Long, lastSeenUs: Long)

  /** Row-local LSH banding — batch q31's exact shingle→minhash→band
    * scheme via the shared `TextFunctions` helpers, as pure array
    * expressions inside one projection chain (no aggregation): one
    * (doc_id, band, digest) row per document per band, with `carry`
    * columns riding through untouched. Stateless, so it is
    * streaming-safe as-is, and batch-reusable (the q345 eviction
    * fixture's eligibility filter runs it on a static frame).
    */
  private[graft] def lshBands(
      docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.TextFunctions.{wordsArr, shingles, minhash}
    val cc = carry.map(col)
    val bandCols = (0 until numHashes / 2).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("digest"))
    }
    docs
      .select(col(idCol).cast("long").as("doc_id") +: wordsArr(col(textCol)).as("w") +: cc: _*)
      .select(col("doc_id") +: array_distinct(shingles(col("w"), 3)).as("sh_set") +: cc: _*)
      .select((col("doc_id") +:
        (0 until numHashes).map(j => minhash(col("sh_set"), j).as(s"mh$j"))) ++ cc: _*)
      .select(col("doc_id") +: explode(array(bandCols: _*)).as("bd") +: cc: _*)
      .select(col("doc_id") +: col("bd.band").as("band") +: col("bd.digest").as("digest") +: cc: _*)
  }

  /** Attach the event-time watermark and band the stream — the shared
    * front half of both near-dup operators. `retentionMs` doubles as
    * the watermark delay (the [[dedupBoundedOnIngest]] convention: one
    * knob bounds both allowed disorder and state retention).
    */
  private def watermarkedBands(
      docs: DataFrame, textCol: String, idCol: String,
      tsCol: String, retentionMs: Long, numHashes: Int): Dataset[BandRow] = {
    import docs.sparkSession.implicits._
    lshBands(docs.withWatermark(tsCol, s"$retentionMs milliseconds"),
      textCol, idCol, numHashes, carry = Seq(tsCol))
      .withColumnRenamed(tsCol, "ts")
      .as[BandRow]
  }

  /** NEAR-dup detection on ingest — the MinHash/LSH rung of the
    * streaming dedup ladder (exact [[dedupOnIngest]], bounded
    * [[dedupBoundedOnIngest]]): flag each arriving document that
    * shares an LSH band with ANY earlier LIVE document, reporting the
    * earliest such band-mate. The signature is computed ROW-LOCALLY
    * ([[lshBands]] — no aggregation, so the stream stays stateless
    * until the band-bucket grouping), then the only state is one
    * (min, max) id pair per LIVE band bucket. Per bucket per batch,
    * rows fold in doc-id order on the carried min — each doc with an
    * earlier band-mate emits one verdict per matching band, and the
    * gate's rollup takes the min across bands.
    *
    * STATE IS EVICTED: every bucket carries an event-time timeout at
    * its last-seen time + `retentionMs`; once the watermark (delay =
    * the same `retentionMs`) passes it, the bucket's state is removed —
    * so on unbounded ingest the live state is proportional to the
    * retention window's distinct signature regions, never the stream's
    * history (exactly [[dedupBoundedOnIngest]]'s trade: a band-mate
    * recurring after retention is treated as novel and re-anchors the
    * bucket — the q345 fixture proves the re-admission). A retention
    * spanning the whole feed reproduces unbounded semantics (the
    * q342/q343 gates, whose hashes match the full batch LSH oracle).
    *
    * CONTRACT (enforced): `idCol` must be monotone with ARRIVAL order
    * (an ingest sequence number — what a production door assigns). The
    * carried min stands in for "earliest arrival"; a smaller id
    * arriving AFTER a larger band-mate would leave the pair unflagged,
    * so the fold FAILS FAST — the per-bucket max-seen id makes the
    * violation detectable — rather than silently under-reporting.
    *
    * WHICH FORM TO USE: unless you OWN the ingest sequencing (a single
    * door stamping ids in arrival order), start with
    * [[nearDupOnIngestUnordered]] — it assigns its own anchors, needs
    * no id contract, accepts any delivery order (multi-door ingest,
    * replays, repartitioned feeds), and carries the same bounded
    * evicting state. This ordered form buys one thing for the
    * contract's price: verdicts name the MINIMUM-id band-mate instead
    * of the first-arrived one.
    */
  def nearDupOnIngest(
      docs: DataFrame, textCol: String, idCol: String,
      tsCol: String, retentionMs: Long,
      numHashes: Int = 8): Dataset[DupVerdict] = {
    import docs.sparkSession.implicits._
    watermarkedBands(docs, textCol, idCol, tsCol, retentionMs, numHashes)
      .groupByKey(r => (r.band, r.digest))
      .flatMapGroupsWithState[NearDupBucket, DupVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[NearDupBucket]) =>
          if (state.hasTimedOut) {
            // cold past retention: evict — a later band-mate re-anchors
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_.doc_id)
            val st0 = state.getOption
            st0.foreach { s =>
              if (sorted.head.doc_id < s.maxId)
                throw new IllegalStateException(
                  s"nearDupOnIngest: arrival-order contract violated in bucket $key — " +
                    s"doc ${sorted.head.doc_id} arrived after ${s.maxId}; feed an ingest " +
                    "sequence as idCol, or use nearDupOnIngestUnordered")
            }
            var cur = st0.map(_.minId).getOrElse(Long.MaxValue)
            val out = sorted.flatMap { r =>
              val v = if (cur < r.doc_id) Some(DupVerdict(r.doc_id, key._1, cur)) else None
              cur = math.min(cur, r.doc_id)
              v
            }
            // retention clock: ms CEILING of the LATEST event the bucket
            // has EVER seen (carried in state — an in-watermark but
            // event-time-older straggler must not pull an already-set
            // timeout backward and evict early), clamped above the
            // current watermark (setTimeoutTimestamp's requirement when
            // a straggler batch arrives at an already-passed boundary)
            val lastUs = math.max(
              st0.map(_.lastSeenUs).getOrElse(Long.MinValue),
              sorted.iterator.map(e => epochMicros(e.ts)).max)
            state.update(NearDupBucket(cur,
              math.max(st0.map(_.maxId).getOrElse(Long.MinValue), sorted.last.doc_id),
              lastUs))
            state.setTimeoutTimestamp(math.max(
              (lastUs + 999L) / 1000L + retentionMs,
              state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }

  /** [[nearDupOnIngest]] WITHOUT the id-monotone arrival contract: the
    * operator assigns its own anchors from arrival order, so any feed
    * order is legal. Per bucket the state is the FIRST-ARRIVED doc id
    * (in-batch ties broken by doc-id order — deterministic given the
    * batch's content); every later arrival in the bucket emits a
    * verdict against that anchor regardless of id order. The verdict
    * carries the bucket digest because the order-free contract lives at
    * the BUCKET grain: the union of a bucket's verdict ids and its
    * anchor is exactly the bucket's member set, invariant under ANY
    * delivery order — which is what lets the q346 gate feed id-shuffled
    * chunks and still hash-match the order-free batch LSH oracle (which
    * member was "first" is arrival-dependent; the member set is not).
    * Same event-time eviction as the ordered form: buckets cold past
    * `retentionMs` are removed and a recurring band-mate re-anchors.
    */
  def nearDupOnIngestUnordered(
      docs: DataFrame, textCol: String, idCol: String,
      tsCol: String, retentionMs: Long,
      numHashes: Int = 8): Dataset[DupVerdictU] = {
    import docs.sparkSession.implicits._
    watermarkedBands(docs, textCol, idCol, tsCol, retentionMs, numHashes)
      .groupByKey(r => (r.band, r.digest))
      .flatMapGroupsWithState[AnchorBucket, DupVerdictU](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[AnchorBucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_.doc_id)
            val st0 = state.getOption
            val (anchor, rest) =
              if (st0.isDefined) (st0.get.anchor, sorted)
              else (sorted.head.doc_id, sorted.tail)
            // max event time EVER seen, carried — same no-backward-pull
            // retention clock as the ordered form
            val lastUs = math.max(
              st0.map(_.lastSeenUs).getOrElse(Long.MinValue),
              sorted.iterator.map(e => epochMicros(e.ts)).max)
            state.update(AnchorBucket(anchor, lastUs))
            state.setTimeoutTimestamp(math.max(
              (lastUs + 999L) / 1000L + retentionMs,
              state.getCurrentWatermarkMs() + 1L))
            rest.iterator.filter(_.doc_id != anchor)
              .map(r => DupVerdictU(r.doc_id, key._1, key._2, anchor))
          }
      }
  }

  case class DocArrival(source: String, doc_id: Long)
  case class WeightedArrival(source: String, doc_id: Long, weight: Double)
  case class ReservoirState(ids: Seq[Long], n: Long)
  case class WReservoirState(pris: Seq[Double], ids: Seq[Long], n: Long)
  case class ReservoirUpdate(source: String, n_seen: Long, sample: String)

  /** The shared bottom-k fold both reservoirs run per batch: merge the
    * carried ≤ k (priority, id) entries with the batch's, keep the k
    * smallest under the (priority, id) total order. O(batch × k log k)
    * — k is small by contract (a sample size). ID-DEDUPLICATING: an id
    * already holding a reservoir slot is skipped, so at-least-once
    * upstream delivery (or an in-batch duplicate) can never occupy two
    * slots — both reservoirs' priorities are pure functions of the id
    * (+ weight, itself a function of the id by the weighted contract),
    * so a re-delivery carries the identical priority and skipping it is
    * exactly "the bottom-k of the history's id SET".
    */
  private def bottomK[P](
      cur: Seq[(P, Long)], add: Iterator[(P, Long)], k: Int)(
      implicit ord: Ordering[(P, Long)]): Seq[(P, Long)] =
    add.foldLeft(cur.sorted) { (res, e) =>
      if (res.exists(_._2 == e._2)) res
      else if (res.size < k) (res :+ e).sorted
      else if (ord.lt(e, res.last)) (res.init :+ e).sorted
      else res
    }

  /** Deterministic bounded RESERVOIR SAMPLE per key on an unbounded
    * stream — the ingest-door twin of batch q138's priority sampling,
    * and the sampling rung of the bounded-state ladder (dedup has
    * [[dedupBoundedOnIngest]]; sampling needs no eviction at all): keep,
    * per source, the `k` documents with the smallest md5-of-id priority
    * ever seen. The md5 coin is the repo's reproducibility idiom
    * (q71/q98/q138): a pure function of the id, so the reservoir is the
    * exact bottom-k of the history under the (priority, id) total order
    * — which makes the operator DELIVERY-ORDER-INVARIANT by
    * construction (any arrival order folds to the same set; the q348
    * gate feeds id-shuffled chunks and hash-matches the batch bottom-k)
    * and APPEND-STABLE (a re-run over a grown corpus keeps every
    * previously sampled doc that still wins). State per key is exactly
    * ≤ k ids + a count — bounded for the life of the stream by design,
    * the whole point of a reservoir: sampling 100 TB of ingest costs
    * k × |sources| rows of state, no watermark needed. Emits each key's
    * reservoir + seen-count per batch (update mode); the gate's rollup
    * keeps the max-n row. At-least-once upstream delivery is safe for
    * MEMBERSHIP (the fold skips ids already holding a slot); `n_seen`
    * counts deliveries, not distinct ids — distinct counting would need
    * unbounded state, the thing a reservoir exists to avoid.
    */
  def reservoirPerKey(
      docs: Dataset[DocArrival], k: Int): Dataset[ReservoirUpdate] = {
    import docs.sparkSession.implicits._
    require(k >= 1, "reservoirPerKey needs k >= 1")
    def priority(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString // lowercase hex = DuckDB md5()
    }
    docs
      .groupByKey(_.source)
      .mapGroupsWithState[ReservoirState, ReservoirUpdate](
        GroupStateTimeout.NoTimeout()) {
        (src: String, batch: Iterator[DocArrival], state: GroupState[ReservoirState]) =>
          val st = state.getOption.getOrElse(ReservoirState(Nil, 0L))
          var n = st.n
          // the carried reservoir re-derives its priorities (k strings
          // per key per batch — cheaper than persisting them as state)
          val merged = bottomK(
            st.ids.map(id => (priority(id), id)),
            batch.map { d => n += 1; (priority(d.doc_id), d.doc_id) }, k)
          state.update(ReservoirState(merged.map(_._2), n))
          ReservoirUpdate(src, n, merged.map(_._2).mkString(">"))
      }
  }

  /** WEIGHTED streaming reservoir — Efraimidis–Spirakis A-ES with the
    * repo's deterministic coin, and the exact stream twin of batch
    * q138: keep, per source, the `k` documents with the smallest
    * priority u/w, where u is the md5-fraction of the doc id (the
    * LITERAL q138 coin: first 13 hex chars of md5("graft-ws-" + id)
    * over 2⁵²) and w the document's weight — inclusion probability
    * scales with w, so a big document is proportionally likelier to be
    * sampled, with the whole reservoir still reproducible, delivery-
    * order-invariant and append-stable (pure function of (id, w)).
    * State per key is ≤ k (priority, id) pairs + a count — priorities
    * are CARRIED here (unlike [[reservoirPerKey]], they depend on the
    * weight, which is not recoverable from the id). Same bounded-state
    * story: sampling unbounded ingest costs k × |sources| state rows.
    * INPUT CONTRACT: a document's weight is a pure function of its id
    * (re-deliveries repeat it verbatim) — that is what makes the
    * priority re-delivery-identical and the fold's id-dedup sound.
    */
  def weightedReservoirPerKey(
      docs: Dataset[WeightedArrival], k: Int): Dataset[ReservoirUpdate] = {
    import docs.sparkSession.implicits._
    require(k >= 1, "weightedReservoirPerKey needs k >= 1")
    def priority(id: Long, w: Double): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-ws-$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      // two left-associated IEEE divisions — q138's exact expression
      java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0 / w
    }
    docs
      .groupByKey(_.source)
      .mapGroupsWithState[WReservoirState, ReservoirUpdate](
        GroupStateTimeout.NoTimeout()) {
        (src: String, batch: Iterator[WeightedArrival], state: GroupState[WReservoirState]) =>
          val st = state.getOption.getOrElse(WReservoirState(Nil, Nil, 0L))
          var n = st.n
          val merged = bottomK(
            st.pris.zip(st.ids),
            batch.map { d => n += 1; (priority(d.doc_id, d.weight), d.doc_id) }, k)
          state.update(WReservoirState(merged.map(_._1), merged.map(_._2), n))
          ReservoirUpdate(src, n, merged.map(_._2).mkString(">"))
      }
  }

  /** Stream-static enrichment: left-join the unbounded stream against a
    * broadcast dimension — the standard lookup pattern; the static side
    * is re-broadcast per micro-batch, the stream side never shuffles.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Benchmark n-gram Bloom sketch from a STATIC benchmark corpus —
    * built once batch-side (benchmark-sized work), then handed to
    * [[decontaminateOnIngest]] for the life of the stream. Same
    * sketch parameters as batch q93 (the md5-position
    * [[graft.functions.Md5BloomSketch]], oracle-replayable).
    */
  def benchmarkSketch(benchmarkDocs: DataFrame, textCol: String, n: Int = 3)
      : graft.functions.Md5BloomSketch =
    // the DISTINCT-before-sizing contract (modulus m = 29·n over the
    // distinct shingle set) is enforced INSIDE shingleSketch since
    // round 15 — no call-site discipline required
    graft.operators.Dedup.shingleSketch(
      graft.operators.Dedup
        .shinglePairs(benchmarkDocs.selectExpr(s"$textCol AS __t", "1 AS __id"),
          "__t", "__id", n)
        .select("sh"))

  /** Benchmark decontamination ON INGEST: drop every arriving document
    * that shares a word n-gram with the benchmark sketch — the streaming
    * form of batch q78/q93. The filter is a STATELESS per-row native
    * predicate ([[graft.functions.ContainsBenchmarkNgram]]): no
    * generate→regroup, so no streaming aggregation state, safe in any
    * output mode; sketch false positives only ever drop EXTRA docs (the
    * conservative direction for pre-training hygiene). Output schema is
    * exactly the input schema.
    */
  def decontaminateOnIngest(
      docs: DataFrame, textCol: String,
      sketch: graft.functions.Md5BloomSketch, n: Int = 3): DataFrame =
    // coalesce: a null-text doc has no n-grams, so it cannot be
    // contaminated and must SURVIVE (the predicate null-propagates, and
    // a bare !null filter would silently drop the row)
    docs.filter(
      !coalesce(
        graft.functions.ContainsBenchmarkNgram(col(textCol), sketch, n),
        lit(false)))

  /** Stream-STREAM interval join (view→click attribution): pair every
    * click with the views by the same user in the preceding `gapMinutes`
    * — the canonical two-unbounded-sides join a funnel pipeline runs.
    * Inputs: `views(user_id, view_id, view_ts)` and
    * `clicks(click_user, click_id, click_ts)`.
    *
    * The join condition is an equi-key plus an event-time RANGE on the
    * two watermarked timestamp columns — exactly the shape Structured
    * Streaming derives state watermarks from: a view older than
    * `watermark + gap` can never match a future click, so both sides'
    * buffered state is bounded and evicted as the watermark advances (at
    * 100 TB/day the range bound is what keeps join state finite; an
    * equi-only stream-stream join would buffer forever). On batch frames
    * the identical plan is a shuffled equi-join with a range filter —
    * the same code path the batch twin q111 oracle-checks.
    *
    * `lag_us` is µs-exact: both engines compare and subtract
    * µs-truncated event times (the loader floors ns→µs; the oracle's
    * `epoch_us` is the same truncation).
    *
    * `joinType = "leftOuter"` keeps every view: one with no click inside
    * the gap emits (user_id, view_id, NULL, NULL) — but only once the
    * watermark PROVES no future click can match, i.e. when the view's
    * state is evicted. Outer rows therefore trail the inner ones by the
    * watermark delay, and a finite feed must push the watermark past
    * `max view_ts + gap` (a sentinel on BOTH sides — the global
    * watermark is the min across inputs) to flush the last unmatched
    * views. Same state bound as the inner form.
    */
  def attributeWithin(
      views: DataFrame, clicks: DataFrame,
      gapMinutes: Int = 10, delay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    def wm(df: DataFrame, tsCol: String) =
      if (df.isStreaming) df.withWatermark(tsCol, delay) else df
    wm(views, "view_ts")
      .join(
        wm(clicks, "click_ts"),
        col("click_user") === col("user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"interval $gapMinutes minutes"),
        joinType)
      .select(
        col("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
  }

  /** Stream-STATIC dimension enrichment + rollup: join the unbounded
    * event stream against a STATIC dimension on `key` (the production
    * ingest-enrichment shape — catalog/geo/account attributes attached
    * as events arrive) and maintain running counts per (`attr`,
    * event_type). The dim side is a batch frame: Spark broadcasts it
    * into every micro-batch — the join itself keeps NO streaming state;
    * the only state is the bounded (attr × event_type) count map, so
    * the query runs forever on a dimension of any broadcastable size.
    * On batch frames the identical plan is the plain broadcast join +
    * hash agg the oracle mirrors.
    */
  def enrichedCounts(
      events: DataFrame, dim: DataFrame, key: String, attr: String): DataFrame =
    events.join(broadcast(dim), Seq(key))
      .groupBy(col(attr), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  case class Event(user_id: Long, ts: Timestamp)
  case class SessionUpdate(user_id: Long, session_start: Long, n_events: Int, closed: Boolean)
  /** Typed feed rows for the two sides of [[attributeWithin]] — field
    * names ARE the operator's input column contract, so a stream of
    * them needs no renames in the gates.
    */
  case class ViewEvt(user_id: Long, view_id: Long, view_ts: Timestamp)
  case class ClickEvt(click_user: Long, click_id: Long, click_ts: Timestamp)
  /** Count-min sketch counter grid over a `(word)` token relation —
    * usable unchanged on a BATCH table or an UNBOUNDED stream (complete/
    * update mode): the aggregation key is the (row, bucket) grid, so
    * streaming state is ≤ depth×width counters NO MATTER how long the
    * stream runs — the sketch IS the bounded-state form of word
    * counting (q113's batch sketch stage uses the same md5 bucket
    * arithmetic; stream/batch parity asserted in StreamingSpec).
    */
  def cmsSketch(words: DataFrame, depth: Int = 4, width: Int = 1024): DataFrame = {
    val rb = explode(array((0 until depth).map(r =>
      struct(
        lit(r).as("r"),
        (conv(substring(md5(concat(lit(s"$r|"), col("word"))), 1, 8), 16, 10)
          .cast("long") % width).as("b"))): _*))
    words.select(rb.as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  case class SessionState(start: Long, lastSeen: Long, n: Int)

  case class ValEvent(user_id: Long, ts: Timestamp, event_id: Long, value: Double)

  /** q340's re-timed feed row: `slice` tags which 2-hour micro-batch
    * window the row belongs to — it rides through the dedup untouched
    * so the gate can roll emissions up at (user, slice) grain.
    */
  case class SlicedEvent(user_id: Long, ts: Timestamp, event_id: Long, slice: Long)

  /** Full-microsecond epoch of a timestamp. The fold operators declare a
    * (ts, event_id) arrival order and the batch oracles sort by the
    * full-precision SQL timestamp; `getTime` alone truncates to
    * milliseconds, so two same-key events inside one millisecond whose
    * event_id order disagrees with their microsecond order would fold in
    * the wrong order. `getNanos` carries the complete fractional second,
    * so combine whole seconds (floorDiv for pre-epoch safety) with
    * nanos/1000.
    */
  private[graft] def epochMicros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  case class QuotaVerdict(user_id: Long, event_id: Long, admitted: Boolean)

  /** Per-key admission quota processor — the first operator on the
    * TransformWithState API (Spark 4's arbitrary-state surface, the
    * successor to mapGroupsWithState: NAMED state variables resolved in
    * init, per-variable TTL, timer support — and a hard requirement on
    * the RocksDB state-store provider, which the caller must set; the
    * q310 toggle's provider is this operator's only store). State is
    * ONE named ValueState[Long] per key (events admitted so far). The
    * TTL config is the caller's: [[quotaPerKey]] passes TTLConfig.NONE
    * (a lifetime quota); [[quotaPerKeyTtl]] passes a real per-variable
    * TTL (a retention-bounded quota — the capability
    * mapGroupsWithState cannot express per-variable). Each
    * micro-batch's rows fold in (ts, event_id) order on top of the
    * carried count (the ewmaPerKey in-batch-sort convention), so for
    * in-order delivery the verdicts bit-equal the batch row_number
    * gate. Emits one verdict row per event (append mode; no timers —
    * TTL expiry is the store's job, not a timer's).
    */
  private class QuotaProcessor(
      cap: Long, ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, ValEvent, QuotaVerdict] {
    @transient private var nAdmitted:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      nAdmitted = getHandle.getValueState[Long](
        "n_admitted", org.apache.spark.sql.Encoders.scalaLong, ttl)
    override def handleInputRows(
        key: Long, rows: Iterator[ValEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[QuotaVerdict] = {
      val sorted = inOrder(rows)
      var n = if (nAdmitted.exists()) nAdmitted.get() else 0L
      val out = sorted.map { e =>
        val ok = n < cap
        if (ok) n += 1
        QuotaVerdict(key, e.event_id, ok)
      }
      nAdmitted.update(n)
      out.iterator
    }
  }

  /** Streaming per-key admission cap over an unbounded event feed — the
    * streaming twin of the batch curation cap (q72's per-source
    * row_number gate): admit each user's first `cap` events in event
    * order, reject the rest, emit a per-event verdict. The ingest
    * quota/rate-limit primitive of a training-data pipeline (cap
    * contributions per source/user at the door, before anything
    * downstream pays for them). See [[QuotaProcessor]] for the
    * TransformWithState mechanics; state is O(1) per key at any scale.
    */
  def quotaPerKey(events: Dataset[ValEvent], cap: Long): Dataset[QuotaVerdict] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new QuotaProcessor(cap, org.apache.spark.sql.streaming.TTLConfig.NONE),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** [[quotaPerKey]] with a RETENTION-bounded counter — the per-variable
    * TTL the state-v2 API exists to express: a key's admitted-count
    * state expires `ttlMs` of PROCESSING time after its last write
    * (Spark's TTL clock is the batch processing timestamp — a non-NONE
    * TTLConfig requires TimeMode.ProcessingTime), so a key quiet past
    * the TTL gets a FRESH quota on its next arrival — the
    * rate-limit-per-window shape (admit ≤ cap per burst) where
    * [[quotaPerKey]] is the lifetime cap. At 100 TB of ingest this is
    * also the state bound: expired counters are store-evicted instead
    * of accumulating one row per key forever. EXECUTION CAVEAT: a
    * ProcessingTime-mode plan re-triggers micro-batches unconditionally
    * (a TTL could expire at any instant, so `shouldRunAnotherBatch` is
    * always true) — `processAllAvailable` never quiesces on it; run it
    * with `Trigger.AvailableNow` drains (the q347 harness) or a real
    * trigger interval. The q347 gate proves the expiry (every
    * inter-drain gap exceeds the TTL, so each slice's admissions
    * restart — the per-slice batch oracle) and Round12Spec pins expiry
    * vs the NONE control on a micro fixture.
    */
  def quotaPerKeyTtl(
      events: Dataset[ValEvent], cap: Long, ttlMs: Long): Dataset[QuotaVerdict] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new QuotaProcessor(cap,
          org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(ttlMs))),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  case class EwmaState(ewma: Double, n: Long)
  case class EwmaUpdate(user_id: Long, n_events: Long, ewma: Double)
  case class HoltState(l: Double, b: Double, n: Long)
  case class HoltUpdate(user_id: Long, n_events: Long, level: Double, trend: Double)
  case class HwState(l: Double, b: Double, seas: Seq[Double], n: Long)
  case class HwUpdate(
      user_id: Long, n_events: Long, level: Double, trend: Double,
      s0: Double, s1: Double, s2: Double, s3: Double)

  /** One per-key forecast recurrence, written once and run by all three
    * fold operators (lifetime [[foldPerKey]], watermark-ordered
    * [[foldPerKeyOrdered]], evicting [[foldPerKeyEvicting]]): the first
    * value of a key seeds its state, each later value steps it, and
    * `emit` renders the state as the key's update row. Every operator
    * applies the same IEEE steps in the same order, so their final
    * states are bit-equal to each other and to the batch folds.
    */
  private case class Recurrence[S, O](
      seed: Double => S, step: (S, Double) => S, emit: (Long, S) => O) {
    def next(st: Option[S], x: Double): Option[S] = Some(st.fold(seed(x))(step(_, x)))
  }

  /** EWMA (α = ½): the first event seeds e = x, each later one
    * e' = e/2 + x/2 — q143's batch fold step for step.
    */
  private val Ewma = Recurrence[EwmaState, EwmaUpdate](
    x => EwmaState(x, 1L),
    (st, x) => EwmaState(st.ewma / 2 + x / 2, st.n + 1),
    (uid, st) => EwmaUpdate(uid, st.n, st.ewma))

  /** Holt linear trend (α = β = ½), q251's coupled fold: the first event
    * seeds (l = x, b = 0), each later one l' = (x + l + b)/2,
    * b' = (l' − l + b)/2. The one-step forecast is l + b.
    */
  private val Holt = Recurrence[HoltState, HoltUpdate](
    x => HoltState(x, 0.0, 1L),
    (st, x) => {
      val l2 = (x + st.l + st.b) / 2
      HoltState(l2, (l2 - st.l + st.b) / 2, st.n + 1)
    },
    (uid, st) => HoltUpdate(uid, st.n, st.l, st.b))

  /** Additive Holt-Winters (α = β = γ = ½, period 4 by event index): the
    * first event seeds (l = x, b = 0, seas = 0⃗); each later event at
    * 0-based step n applies, with s = seas(n mod 4),
    *   l' = (x − s + l + b) / 2
    *   b' = (l' − l + b) / 2
    *   seas(n mod 4) ← (x − l' + s) / 2
    * — every step one IEEE division of a left-to-right sum, the exact
    * sequence q303's batch fold and its recursive-CTE oracle replay. The
    * slot is the folded count, never the arrival order.
    */
  private val HoltWinters = Recurrence[HwState, HwUpdate](
    x => HwState(x, 0.0, Seq.fill(4)(0.0), 1L),
    (st, x) => {
      val k = (st.n % 4).toInt
      val s = st.seas(k)
      val l2 = (x - s + st.l + st.b) / 2
      val b2 = (l2 - st.l + st.b) / 2
      st.copy(l = l2, b = b2, seas = st.seas.updated(k, (x - l2 + s) / 2), n = st.n + 1)
    },
    (uid, st) => HwUpdate(uid, st.n, st.l, st.b,
      st.seas(0), st.seas(1), st.seas(2), st.seas(3)))

  /** A key's batch rows in (ts, event_id) order, the order every fold
    * declares and the batch oracles sort by.
    */
  private def inOrder(batch: Iterator[ValEvent]): Seq[ValEvent] =
    batch.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))

  /** A recurrence as LIFETIME per-key streaming state
    * (mapGroupsWithState, `NoTimeout`): each micro-batch's events fold
    * in (ts, event_id) order on top of the carried state, so for
    * in-order delivery the final state bit-equals the batch fold over
    * the full history. The per-batch sort is bounded by one key's batch
    * arrivals. State is O(1) per key but never evicted; on ingest whose
    * key universe grows without bound use [[foldPerKeyEvicting]].
    */
  private def foldPerKey[S: Encoder, O: Encoder](
      events: Dataset[ValEvent], r: Recurrence[S, O]): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[S, O](GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[ValEvent], state: GroupState[S]) =>
          val st = inOrder(batch).foldLeft(state.getOption)((s, e) => r.next(s, e.value)).get
          state.update(st)
          r.emit(uid, st)
      }
  }

  /** A recurrence under OUT-OF-ORDER delivery: arrivals buffer per key
    * as (micros, event_id, value) pending state; once the event-time
    * watermark passes an event, no older event can still arrive (the
    * watermark guarantee), so everything strictly below the watermark
    * folds in exact (ts, event_id) order onto the carried state — the
    * final state equals the batch fold over the in-order history for
    * ANY delivery whose disorder stays within `delay`. Pending state is
    * bounded by the arrival disorder × rate (watermark-evicted); an
    * event arriving LATER than the watermark would fold at arrival (the
    * standard allowed-lateness trade — the driver gates keep disorder
    * inside the delay, so none occurs there). Keys with pending data
    * register an event-time timeout at their oldest unfolded
    * micro-second, so the tail folds when the watermark passes it even
    * if the key never receives another event. A key emits once it has
    * folded at least one event.
    */
  private def foldPerKeyOrdered[S, O](
      events: Dataset[ValEvent], delay: String, r: Recurrence[S, O])(
      implicit stEnc: Encoder[(List[(Long, Long, Double)], Option[S])],
      outEnc: Encoder[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(List[(Long, Long, Double)], Option[S]), O](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[ValEvent],
         state: GroupState[(List[(Long, Long, Double)], Option[S])]) =>
          val (pending0, st0) = state.getOption.getOrElse((Nil, None))
          val pending = pending0 ++
            batch.map(e => (epochMicros(e.ts), e.event_id, e.value))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // strictly-below: an event AT the watermark could still have
          // same-timestamp peers arriving; it folds next round
          val (ready, rest) = pending.partition(_._1 < wmUs)
          val st = ready.sortBy(p => (p._1, p._2)).foldLeft(st0)((s, p) => r.next(s, p._3))
          state.update((rest, st))
          if (rest.nonEmpty) {
            val wake = rest.map(_._1).min / 1000L + 1L
            state.setTimeoutTimestamp(
              math.max(wake, state.getCurrentWatermarkMs() + 1L))
          }
          st.iterator.map(r.emit(uid, _))
      }
  }

  /** Per-key EWMA as lifetime streaming state ([[foldPerKey]]):
    * driver-gated in order (q267) and across a restart (q285).
    */
  def ewmaPerKey(events: Dataset[ValEvent]): Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    foldPerKey(events, Ewma)
  }

  /** [[ewmaPerKey]] under out-of-order delivery within `delay`
    * ([[foldPerKeyOrdered]]): driver-gated by q293 and, with a restart,
    * q299.
    */
  def ewmaPerKeyOrdered(
      events: Dataset[ValEvent], delay: String): Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    foldPerKeyOrdered(events, delay, Ewma)
  }

  /** Per-key Holt (level, trend) as lifetime streaming state
    * ([[foldPerKey]]): the continuously maintained one-step forecast
    * l + b is the state a live anomaly gate reads without recomputing
    * the series. Driver-gated by q284 and q286.
    */
  def holtPerKey(events: Dataset[ValEvent]): Dataset[HoltUpdate] = {
    import events.sparkSession.implicits._
    foldPerKey(events, Holt)
  }

  /** [[holtPerKey]] under out-of-order delivery within `delay`
    * ([[foldPerKeyOrdered]]): driver-gated by q294.
    */
  def holtPerKeyOrdered(
      events: Dataset[ValEvent], delay: String): Dataset[HoltUpdate] = {
    import events.sparkSession.implicits._
    foldPerKeyOrdered(events, delay, Holt)
  }

  /** Per-key Holt-Winters as lifetime streaming state ([[foldPerKey]]),
    * the first stream state to carry an ARRAY (the 4-slot seasonal
    * vector) across batches. State per key is O(period); index-based
    * seasons keep the recurrence free of calendar parsing. Driver-gated
    * by q304 and q307.
    */
  def holtWintersPerKey(events: Dataset[ValEvent]): Dataset[HwUpdate] = {
    import events.sparkSession.implicits._
    foldPerKey(events, HoltWinters)
  }

  /** [[holtWintersPerKey]] under out-of-order delivery within `delay`
    * ([[foldPerKeyOrdered]]): the slot index is the FOLDED count, so
    * disorder inside the delay cannot rotate the seasonal assignment.
    * Driver-gated by q308 and, with a restart, q309.
    */
  def holtWintersPerKeyOrdered(
      events: Dataset[ValEvent], delay: String): Dataset[HwUpdate] = {
    import events.sparkSession.implicits._
    foldPerKeyOrdered(events, delay, HoltWinters)
  }

  /** A recurrence with a RETENTION knob — the q342-closure pattern
    * applied to the forecast family: the same in-batch (ts, event_id)
    * order and the same recurrence as [[foldPerKey]] (bit-equal within
    * a retention window), plus the [[nearDupOnIngest]] eviction
    * machinery — watermark delay = the retention, an event-time timeout
    * at the MAX event time the key has EVER seen (carried in state so an
    * in-watermark straggler cannot pull an already-set timeout
    * backward) + `retentionMs`, and `state.remove()` when it fires. A
    * key quiet past the retention loses its fold state and its next
    * event SEEDS FRESH (Holt-Winters' seasonal array with it) — the
    * forecaster forgets sources that went silent, and on unbounded
    * ingest the live state is proportional to the retention window's
    * active keys, never the key universe's lifetime. Emits one update
    * per key per batch with data; timeouts emit nothing (an evicted
    * forecast has no reader).
    *
    * Eviction is enforced in TWO places: the event-time timer above
    * (reclaims state for keys that never speak again) AND an in-band
    * check in the data path — if the carried state's max event time
    * plus the retention precedes the batch's FIRST event, the gap
    * already exceeded the retention in event time, so the state is
    * dropped and the batch seeds fresh. The timer alone only fires in
    * a trigger where the key is silent and the watermark has passed;
    * on a sparse or single-key stream (watermark advanced only by the
    * key's own events, no intervening quiet batch) that trigger may
    * never occur, and without the in-band check the stale fold would
    * CONTINUE across an arbitrarily long gap. Under the
    * barrier-orchestrated gates (q353/q355/q359/q361) the check is a
    * no-op because the timer already evicted.
    *
    * GRANULARITY CONTRACT: eviction — timer and in-band check alike —
    * applies at TRIGGER boundaries only. Events that arrive inside one
    * micro-batch fold as one unit in event-time order, even across an
    * internal gap longer than the retention (the q353-family gates
    * depend on this: a slice delivered as one batch folds whole, and
    * its per-(user, slice) batch oracle assumes no intra-slice
    * eviction). "Quiet past the retention" therefore means quiet
    * ACROSS A TRIGGER — the only notion of quiet a micro-batch engine
    * can observe; a caller that needs sub-batch gap splitting should
    * sessionize upstream rather than rely on delivery batching.
    */
  private def foldPerKeyEvicting[S, O](
      events: Dataset[ValEvent], retentionMs: Long, r: Recurrence[S, O])(
      implicit stEnc: Encoder[(S, Long)], outEnc: Encoder[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$retentionMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(S, Long), O](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[ValEvent], state: GroupState[(S, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = inOrder(batch)
            val firstUs = epochMicros(sorted.head.ts)
            // In-band eviction at the TRIGGER boundary: the carried
            // fold is stale if the key's last-seen event time plus the
            // retention precedes this batch's first event — drop it
            // and seed fresh. Deliberately NOT applied between events
            // inside one batch: the operator's eviction granularity is
            // the trigger (matching the timer it complements), so a
            // batch folds its events in event-time order as one unit —
            // see the granularity contract above.
            val st0 = state.getOption
              .filter { case (_, lastUs) =>
                lastUs + retentionMs * 1000L >= firstUs
              }
            val st = sorted.foldLeft(st0.map(_._1))((s, e) => r.next(s, e.value)).get
            val lastUs = math.max(
              st0.map(_._2).getOrElse(Long.MinValue),
              sorted.iterator.map(e => epochMicros(e.ts)).max)
            state.update((st, lastUs))
            state.setTimeoutTimestamp(math.max(
              (lastUs + 999L) / 1000L + retentionMs,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.single(r.emit(uid, st))
          }
      }
  }

  /** [[ewmaPerKey]] with the retention knob ([[foldPerKeyEvicting]]).
    * Driver-gated (q353: per-(user, slice) batch-fold oracle across
    * eviction-spanning gaps; q355 across restarts); the eviction micro
    * twin + unbounded control live in Round13Spec.
    */
  def ewmaPerKeyEvicting(
      events: Dataset[ValEvent], retentionMs: Long): Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    foldPerKeyEvicting(events, retentionMs, Ewma)
  }

  /** [[holtPerKey]] with the retention knob ([[foldPerKeyEvicting]]):
    * driver-gated by q359.
    */
  def holtPerKeyEvicting(
      events: Dataset[ValEvent], retentionMs: Long): Dataset[HoltUpdate] = {
    import events.sparkSession.implicits._
    foldPerKeyEvicting(events, retentionMs, Holt)
  }

  /** [[holtWintersPerKey]] with the retention knob
    * ([[foldPerKeyEvicting]]): driver-gated by q361.
    */
  def holtWintersPerKeyEvicting(
      events: Dataset[ValEvent], retentionMs: Long): Dataset[HwUpdate] = {
    import events.sparkSession.implicits._
    foldPerKeyEvicting(events, retentionMs, HoltWinters)
  }

  case class TypedEvent(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)
  case class TypeCount(user_id: Long, event_type: String, cnt: Long)

  /** Per-user per-event-type running counts on MAP state — the v2
    * state type the quota (ValueState) and session (timers) operators
    * do not touch: one MapState[String, Long] per user, bounded by
    * |event types| — the engagement-matrix-on-ingest primitive (which
    * users do what, maintained at the door rather than recomputed by
    * scans). Counts are ORDER-FREE (pure increments), so this operator
    * is delivery-order-invariant by construction — no in-batch sort
    * needed, unlike every fold in this file. Emits each touched
    * (user, type) with its NEW total per batch; the gate's rollup takes
    * the max (counts only grow). TTLConfig.NONE: lifetime counts; a
    * sliding engagement window would set a per-variable TTL here.
    */
  private class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEvent, TypeCount] {
    @transient private var counts:
        org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "type_counts", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        uid: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TypeCount] = {
      val batchAdd = rows.foldLeft(Map.empty[String, Long]) { (m, e) =>
        m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
      }
      batchAdd.toSeq.sortBy(_._1).map { case (t, add) =>
        val nw = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + add
        counts.updateValue(t, nw)
        TypeCount(uid, t, nw)
      }.iterator
    }
  }

  /** See [[TypeCountProcessor]]. RocksDB-provider-only (state v2). */
  def typeCountsPerKey(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  case class RecentUpdate(user_id: Long, n_seen: Long, recent: String)

  /** Per-user last-`keep` event ids on LIST state — the remaining v2
    * state type: one bounded ListState[Long] ring per user, oldest
    * first — the "recently viewed" serving primitive a recommender
    * reads (q290's co-visitation scores join against exactly this kind
    * of recency state at serving time). Each batch folds in
    * (ts, event_id) order on top of the carried ring (the ewmaPerKey
    * sort convention — the ring IS order-sensitive, unlike the map
    * counts), rewrites the whole ≤`keep`-element list (put, not
    * append: the ring evicts from the front), and emits the key's new
    * ring + total-seen count; the gate's rollup keeps the max-n row.
    */
  private class RecentItemsProcessor(keep: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, ValEvent, RecentUpdate] {
    @transient private var items:
        org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var nSeen:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      items = getHandle.getListState[Long](
        "recent", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      nSeen = getHandle.getValueState[Long](
        "n_seen", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(
        uid: Long, rows: Iterator[ValEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[RecentUpdate] = {
      val sorted = inOrder(rows)
      val cur = (items.get().toList ++ sorted.map(_.event_id)).takeRight(keep)
      val n = (if (nSeen.exists()) nSeen.get() else 0L) + sorted.size
      items.put(cur.toArray)
      nSeen.update(n)
      Iterator.single(RecentUpdate(uid, n, cur.mkString(">")))
    }
  }

  /** See [[RecentItemsProcessor]]. RocksDB-provider-only (state v2). */
  def recentItemsPerKey(events: Dataset[ValEvent], keep: Int): Dataset[RecentUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RecentItemsProcessor(keep),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** [[sessionize]] on the TransformWithState API — the state-v2 twin
    * exercising the parts [[quotaPerKey]] does not: EVENT-TIME mode,
    * per-key TIMERS (registerTimer / deleteTimer / listTimers /
    * handleExpiredTimer — the v2 spelling of GroupStateTimeout's
    * setTimeoutTimestamp), and a product-typed named ValueState. Same
    * micro-second gap semantics, same timeout-at-ms-ceiling guard, same
    * emission contract (closed records only, append mode), so the TWO
    * implementations share q296's batch gaps-and-islands oracle — the
    * driver hash IS the cross-API equivalence proof. Timer hygiene:
    * each batch deletes the key's previously registered timer and
    * re-registers at the new tail, so an expiry can only fire when no
    * newer event extended the session (the delete-and-rearm pattern;
    * state-v2 timers are not auto-cancelled by state updates the way a
    * GroupState timeout is superseded by setTimeoutTimestamp).
    */
  private class SessionProcessorV2(gapUs: Long, gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionUpdate] {
    @transient private var session:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      session = getHandle.getValueState[SessionState](
        "session", org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        uid: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionUpdate] = {
      val sorted = rows.map(e => epochMicros(e.ts)).toSeq.sorted
      var closedOut = List.empty[SessionUpdate]
      var cur = if (session.exists()) Some(session.get()) else None
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      sorted.foreach { t =>
        cur match {
          case Some(s) if t - s.lastSeen <= gapUs =>
            cur = Some(s.copy(lastSeen = t, n = s.n + 1))
          case Some(s) =>
            closedOut ::= SessionUpdate(uid, s.start, s.n, closed = true)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        session.update(s)
        getHandle.registerTimer((s.lastSeen + 999L) / 1000L + gapMs)
      }
      closedOut.reverseIterator
    }
    override def handleExpiredTimer(
        uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionUpdate] =
      if (session.exists()) {
        val s = session.get()
        session.clear()
        Iterator.single(SessionUpdate(uid, s.start, s.n, closed = true))
      } else Iterator.empty
  }

  /** See [[SessionProcessorV2]]. Caller must run under the RocksDB
    * state-store provider (the state-v2 requirement).
    */
  def sessionizeV2(
      events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionProcessorV2(gapMs * 1000L, gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Gap-based sessionization (30-min inactivity) with event-time timeout.
    * State per user is O(1) (start, lastSeen, count) — the custom-state
    * pattern (KeyValueGroupedDataset.flatMapGroupsWithState) that covers
    * what windowed aggs can't express. Emits an update per batch and a
    * final closed record on timeout.
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    // FULL-MICROSECOND state and gap compare (session_start is epoch
    // micros): getTime truncates to ms, so a gap of exactly
    // 30min + sub-ms would read <= gap in ms and merge two sessions the
    // batch twin (q51, exact unix_micros arithmetic) splits — the same
    // precision latent the EWMA/Holt sorts had. The timeout registers
    // at the ms CEILING of lastSeen so it can never fire early.
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, s.start, s.n, closed = true))
          } else {
            val sorted = batch.map(e => epochMicros(e.ts)).toSeq.sorted
            var closedOut = List.empty[SessionUpdate]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.lastSeen <= gapUs =>
                  cur = Some(s.copy(lastSeen = t, n = s.n + 1))
                case Some(s) =>
                  closedOut ::= SessionUpdate(userId, s.start, s.n, closed = true)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastSeen + 999L) / 1000L + gapMs)
            }
            closedOut.reverseIterator
          }
      }
  }
}
