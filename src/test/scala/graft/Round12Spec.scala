package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Structural invariants of the round-12 work:
  *   - the streaming near-dup bucket state EVICTS (the round-11
  *     verdict's one `weak`): a band-mate recurring after retention is
  *     re-admitted, one recurring within it is flagged, and the
  *     unbounded-retention control proves the difference is the timeout
  *     firing, not a dropped verdict path;
  *   - the ordered operator's id-monotone arrival contract is
  *     EXECUTABLE: an id-inverted chunk fails the query fast with a
  *     named error instead of silently under-flagging (the round-11
  *     ADVICE item), and the UNORDERED variant accepts the exact same
  *     feed and lands the order-free bucket census;
  *   - the TransformWithState per-variable TTL actually expires: a key
  *     quiet past the TTL gets a fresh quota, while the TTLConfig.NONE
  *     control keeps the lifetime cap on the identical feed;
  *   - RocksDB changelog checkpointing is answer-invisible: the q335
  *     quota gate is bit-identical across the two checkpoint formats;
  *   - the graph materialization's source fingerprint invalidates: a
  *     dataset REGENERATED at the same path rebuilds the edge table
  *     instead of serving stale edges (the round-11 ADVICE medium);
  *   - the exact-substring APPLY cuts exactly the (doc, pos)-later
  *     occurrence of each long-enough pair and rebuilds every document.
  */
class Round12Spec extends AnyFunSuite with SparkTestBase {

  private def ts(sec: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(sec))

  private val E0 = 1704067200L // 2024-01-01T00:00:00Z
  // three ≥3-word texts that share no band with each other: T is the
  // duplicate under test, U/V only exist to advance the watermark
  private val T = "alpha beta gamma delta epsilon"
  private val U = "one two three four five six"
  private val V = "red green blue yellow purple orange"

  /** Drive `op` over explicit (doc_id, text, ts) micro-batches through a
    * memory sink; returns the collected (doc_id-grain verdict rows).
    */
  private def runNearDup(
      batches: Seq[Seq[(Long, String, Timestamp)]],
      retentionMs: Long, ordered: Boolean): Seq[(Long, Long)] = {
    import spark.implicits._
    val sink = s"graft_r12_neardup_${if (ordered) "o" else "u"}"
    spark.catalog.dropTempView(sink)
    val ms = MemoryStream[(Long, String, Timestamp)](spark)
    val in = ms.toDF.toDF("doc_id", "text", "ts")
    val plan =
      if (ordered)
        StreamingOps.nearDupOnIngest(in, "text", "doc_id", "ts", retentionMs).toDF()
      else
        StreamingOps.nearDupOnIngestUnordered(in, "text", "doc_id", "ts", retentionMs)
          .toDF()
    val q = plan.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).groupBy("doc_id").agg(min(col("dup_of")).as("dup_of"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  test("near-dup eviction: a band-mate past retention is re-admitted; within it, flagged") {
    // slices 2h apart, retention 60s: the T-buckets touched in batch 0
    // time out during batch 2 (their last-seen + 60s is below the
    // watermark batch 1's data sets, and batches 1-2 carry no T data),
    // so batch 3's recurrence of T must find NO state and re-anchor
    // silently — while the in-batch copy (doc 2) must still be flagged
    val batches = Seq(
      Seq((1L, T, ts(E0)), (2L, T, ts(E0 + 10))),
      Seq((3L, U, ts(E0 + 7200))),
      Seq((4L, V, ts(E0 + 14400))),
      Seq((5L, T, ts(E0 + 21600))))
    val evicted = runNearDup(batches, retentionMs = 60000L, ordered = true)
    assert(evicted == Seq((2L, 1L)),
      s"retention 60s must flag only the in-window copy: $evicted")
    // control: a retention spanning the feed keeps the bucket live —
    // the recurrence IS flagged, so the difference above is the
    // eviction, not a lost verdict path
    val kept = runNearDup(batches, retentionMs = 365L * 86400L * 1000L, ordered = true)
    assert(kept == Seq((2L, 1L), (5L, 1L)),
      s"unbounded retention must flag the recurrence too: $kept")
  }

  test("near-dup arrival contract: an id-inverted chunk fails fast, never under-flags") {
    // doc 5 arrives AFTER its larger band-mate 10 — the ordered fold's
    // carried min would silently leave the (5, 10) pair unflagged, so
    // the operator must fail the query with the named contract error
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runNearDup(
        Seq(Seq((10L, T, ts(E0))), Seq((5L, T, ts(E0 + 10)))),
        retentionMs = 365L * 86400L * 1000L, ordered = true)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("arrival-order contract violated")),
      s"expected the named contract error, got: ${chain(ex)}")
  }

  test("unordered near-dup: the same inverted feed lands the order-free bucket census") {
    import spark.implicits._
    // the exact feed that kills the ordered operator, plus its reverse:
    // both must yield the SAME bucket member sets (anchor ∪ verdicts)
    def census(batches: Seq[Seq[(Long, String, Timestamp)]]): Set[(Int, String, Set[Long])] = {
      val sink = "graft_r12_census"
      spark.catalog.dropTempView(sink)
      val ms = MemoryStream[(Long, String, Timestamp)](spark)
      val q = StreamingOps.nearDupOnIngestUnordered(
          ms.toDF.toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
          retentionMs = 365L * 86400L * 1000L)
        .toDF()
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      val v = spark.table(sink).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getLong(0), r.getLong(3)))
      v.groupBy(x => (x._1, x._2))
        .map { case ((b, d), rows) =>
          (b, d, rows.flatMap(x => Seq(x._3, x._4)).toSet) }
        .toSet
    }
    val down = census(Seq(Seq((10L, T, ts(E0))), Seq((5L, T, ts(E0 + 10)))))
    val up = census(Seq(Seq((5L, T, ts(E0))), Seq((10L, T, ts(E0 + 10)))))
    assert(down.nonEmpty && down == up,
      s"bucket member sets must be arrival-order-invariant: $down vs $up")
    assert(down.forall(_._3 == Set(5L, 10L)),
      s"every T-bucket must hold exactly {5, 10}: $down")
  }

  test("quota TTL: a key quiet past the TTL gets a fresh quota; the NONE control does not") {
    import spark.implicits._
    // a ProcessingTime-mode plan constructs a batch on EVERY trigger
    // (a TTL could expire at any instant — shouldRunAnotherBatch is
    // unconditionally true), so the engine never signals no-new-data
    // and processAllAvailable blocks forever; the barrier is the SINK
    // COUNT (the quota emits exactly one verdict per event) — the q347
    // gate's harness discipline
    def run(ttl: Option[Long]): Seq[(Long, Boolean)] = {
      val sink = "graft_r12_quota"
      spark.catalog.dropTempView(sink)
      graft.queries.StreamParityQueries.withRocksDbStateStore(spark) {
        val ms = MemoryStream[StreamingOps.ValEvent](spark)
        val plan = (ttl match {
          case Some(ms_) => StreamingOps.quotaPerKeyTtl(ms.toDS(), cap = 2L, ttlMs = ms_)
          case None      => StreamingOps.quotaPerKey(ms.toDS(), cap = 2L)
        }).toDF()
        val q = plan.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
          .start()
        // the q347 harness's barrier, shared (incl. its over-emit check)
        def awaitCount(expected: Long): Unit =
          graft.queries.StreamParityQueries.awaitSinkCount(spark, sink, expected, q)
        try {
          ms.addData(Seq(
            StreamingOps.ValEvent(7L, ts(E0), 1L, 0.0),
            StreamingOps.ValEvent(7L, ts(E0 + 1), 2L, 0.0),
            StreamingOps.ValEvent(7L, ts(E0 + 2), 3L, 0.0)))
          awaitCount(3L)
          // let the 500 ms TTL provably lapse before the next batch's
          // processing timestamp is taken
          Thread.sleep(1500L)
          ms.addData(Seq(
            StreamingOps.ValEvent(7L, ts(E0 + 3), 4L, 0.0),
            StreamingOps.ValEvent(7L, ts(E0 + 4), 5L, 0.0),
            StreamingOps.ValEvent(7L, ts(E0 + 5), 6L, 0.0)))
          awaitCount(6L)
        } finally q.stop()
        spark.table(sink).collect()
          .map(r => (r.getLong(1), r.getBoolean(2))).toSeq.sortBy(_._1)
      }
    }
    val ttl = run(Some(500L))
    assert(ttl == Seq(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> true, 6L -> false),
      s"the expired counter must restart the quota in batch 2: $ttl")
    val none = run(None)
    assert(none == Seq(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 5L -> false, 6L -> false),
      s"the lifetime counter must keep rejecting in batch 2: $none")
  }

  test("quota gate: RocksDB changelog checkpointing is bit-identical to snapshot") {
    val on = Runner.released(spark) {
      graft.queries.StreamParityQueries
        .q335StreamQuota(spark, sfDir, changelog = true)
        .collect().map(_.toSeq).toSet
    }
    val off = Runner.released(spark) {
      graft.queries.StreamParityQueries
        .q335StreamQuota(spark, sfDir, changelog = false)
        .collect().map(_.toSeq).toSet
    }
    assert(on.nonEmpty, "fixture must produce quota rows")
    assert(on == off,
      s"checkpoint formats diverged: ${(on -- off).take(3)} only with changelog, " +
        s"${(off -- on).take(3)} only without")
  }

  test("graph materialization: a dataset regenerated at the same path rebuilds the table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r12-fp").toString
    try {
      // two 2-part baskets → one support-2 edge
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
        .toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val n1 = Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dir).count())
      // REGENERATE the dataset at the SAME path: two more baskets add
      // the (1,3) edge — a stale materialization would still read 1
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
        (3L, 1L), (3L, 3L), (4L, 1L), (4L, 3L))
        .toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val n2 = Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dir).count())
      assert(n1 == 1L && n2 == 2L,
        s"source fingerprint must invalidate the materialization: $n1 -> $n2")
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  test("reservoirPerKey: any arrival order lands the identical bottom-k, state stays ≤ k") {
    import spark.implicits._
    // 9 docs across 2 sources, k = 3 — run the same population through
    // two opposite arrival orders split differently into micro-batches;
    // the final reservoirs must be identical (the priority coin is a
    // pure function of the id) and hold at most k ids
    val docs = (1L to 9L).map(i =>
      StreamingOps.DocArrival(if (i % 2 == 0) "even" else "odd", i))
    def run(batches: Seq[Seq[StreamingOps.DocArrival]]): Map[String, (Long, String)] = {
      val sink = "graft_r12_reservoir"
      spark.catalog.dropTempView(sink)
      val ms = MemoryStream[StreamingOps.DocArrival](spark)
      val q = StreamingOps.reservoirPerKey(ms.toDS(), k = 3)
        .writeStream.format("memory").queryName(sink).outputMode("update").start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      spark.table(sink).groupBy("source")
        .agg(max(struct(col("n_seen"), col("sample"))).as("m"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getStruct(1).getLong(0), r.getStruct(1).getString(1))).toMap
    }
    val asc = run(docs.grouped(4).toSeq)
    val desc = run(docs.reverse.grouped(2).toSeq)
    assert(asc == desc, s"arrival order changed the reservoir: $asc vs $desc")
    // the LITERAL bottom-3 by (md5(id), id) — a top-k or min-only
    // regression would still be order-invariant, so the membership
    // itself is the pin (priorities: md5("9") < md5("7") < md5("1")
    // on the odd side, md5("6") < md5("4") < md5("2") on the even)
    assert(asc == Map("odd" -> ((5L, "9>7>1")), "even" -> ((4L, "6>4>2"))),
      s"reservoir must be the exact bottom-k of the priority coin: $asc")
  }

  test("weightedReservoirPerKey: weight shifts membership exactly as u/w says") {
    import spark.implicits._
    // u-fractions of ids 1..4 under the q138 coin: .5756, .3133,
    // .5939, .0600 — equal weights sample {4, 2}; weighting id 1 by
    // 1000 drops its priority to .000576 and the sample must become
    // {1, 4}: the literal A-ES inclusion shift, cross-batch
    def run(w1: Double): (Long, String) = {
      val sink = "graft_r12_wres"
      spark.catalog.dropTempView(sink)
      val ms = MemoryStream[StreamingOps.WeightedArrival](spark)
      val q = StreamingOps.weightedReservoirPerKey(ms.toDS(), k = 2)
        .writeStream.format("memory").queryName(sink).outputMode("update").start()
      try Seq(Seq(1L -> w1, 2L -> 1.0), Seq(3L -> 1.0, 4L -> 1.0)).foreach { b =>
        ms.addData(b.map { case (id, w) => StreamingOps.WeightedArrival("s", id, w) })
        q.processAllAvailable()
      } finally q.stop()
      val r = spark.table(sink)
        .groupBy("source").agg(max(struct(col("n_seen"), col("sample"))).as("m"))
        .head()
      (r.getStruct(1).getLong(0), r.getStruct(1).getString(1))
    }
    assert(run(1.0) == ((4L, "4>2")), "equal weights must sample the two smallest u")
    assert(run(1000.0) == ((4L, "1>4")),
      "a 1000x weight must pull id 1 into the reservoir (u/w = .000576)")
  }

  test("exactSubstringApply: the (doc, pos)-later occurrence is cut, the earlier survives") {
    import spark.implicits._
    val run = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 x2 $run y1"),
      (2L, s"z1 $run z2 z3"),
      (3L, "solo words only here nothing shared")).toDF("doc_id", "text")
    val out = Runner.released(spark) {
      graft.operators.Dedup
        .exactSubstringApply(docs, "text", "doc_id", k = 5, window = 64,
          anchorCap = 256, minLen = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1)
    }
    assert(out(0) == ((1L, 15L, 0L, s"x1 x2 $run y1")),
      s"the earlier occurrence's doc must survive intact: ${out(0)}")
    assert(out(1) == ((2L, 15L, 12L, "z1 z2 z3")),
      s"doc 2 must lose exactly the 12 duplicated tokens: ${out(1)}")
    assert(out(2) == ((3L, 6L, 0L, "solo words only here nothing shared")),
      s"an unshared doc must pass through untouched: ${out(2)}")
  }
}
