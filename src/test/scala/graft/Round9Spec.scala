package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the round-9 additions. The driver's oracle
  * hash already pins each query against DuckDB; these differentials pin
  * the properties the hash can't attribute — chiefly that CHECKPOINT
  * RECOVERY is answer-invisible: the restarted run of each stateful
  * streaming operator must produce BIT-identical final state to the
  * uninterrupted run (doubles compared by binary equality via except).
  */
class Round9Spec extends AnyFunSuite with SparkTestBase {

  private def run(q: String): DataFrame = SparkEntry.queries(q)(spark, sfDir)

  private def assertBitEqual(a: DataFrame, b: DataFrame, what: String): Unit = {
    val extra = a.except(b).count()
    val missing = Runner.released(spark)(b.except(a).count())
    assert(extra == 0 && missing == 0,
      s"$what: $extra rows only in restarted run, $missing only in uninterrupted run")
  }

  test("q285 == q267: EWMA state survives a checkpoint restart bit-exactly") {
    assertBitEqual(run("q285_stream_ewma_recovery"), run("q267_stream_ewma"),
      "streaming EWMA recovery")
  }

  test("q286 == q284: coupled Holt (level, trend) state survives a restart bit-exactly") {
    assertBitEqual(run("q286_stream_holt_recovery"), run("q284_stream_holt"),
      "streaming Holt recovery")
  }

  test("q293 == q267: out-of-order delivery folds to the exact in-order answer") {
    assertBitEqual(run("q293_stream_ewma_ooo"), run("q267_stream_ewma"),
      "watermarked out-of-order EWMA")
  }

  test("q294 == q284: out-of-order coupled Holt folds to the exact in-order answer") {
    assertBitEqual(run("q294_stream_holt_ooo"), run("q284_stream_holt"),
      "watermarked out-of-order Holt")
  }

  test("q295: clip embeddings cover exactly q61's frame grid with means in [0,1)") {
    val clips = run("q295_clip_embeddings").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), (2 to 5).map(r.getDouble)))).toMap
    val frames = Runner.released(spark) {
      run("q61_frame_counts").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(clips.keySet == frames.keySet, "clip set must equal the video set")
    clips.foreach { case (id, (n, ps)) =>
      assert(n == frames(id), s"clip $id pooled $n frames, q61 sampled ${frames(id)}")
      ps.foreach(pk => assert(pk >= 0.0 && pk < 1.0, s"clip $id mean $pk out of [0,1)"))
    }
  }

  test("q296 rolls up exactly to batch q51's per-user session stats") {
    import org.apache.spark.sql.functions._
    val streamed = run("q296_stream_sessions")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
    val batch = run("q51_sessions")
    assertBitEqual(streamed, batch, "sessionization stream/batch parity")
  }

  test("q297 == batch q50's hourly counts (finalized windows cover everything)") {
    import org.apache.spark.sql.functions._
    val streamed = run("q297_stream_window_counts")
    val batch = run("q50_hourly_windows")
      .select(col("hour_start"), col("event_type"), col("cnt"))
    assertBitEqual(streamed, batch, "tumbling-window stream/batch parity")
  }

  test("q299 == q267: disorder + restart together are answer-invisible") {
    assertBitEqual(run("q299_stream_ewma_ooo_recovery"), run("q267_stream_ewma"),
      "out-of-order EWMA with mid-feed checkpoint restart")
  }

  // Drift pins for the sketch queries (both fully oracle-checked since
  // rounds 14/15 — q93 via md5 Bloom positions, q7 via md5 HLL
  // registers): at fixture scale both coincide EXACTLY with their exact
  // twins — q7's 31-word reference vocabulary sits in the
  // linear-counting branch (round(4096·ln(4096/4065)) = 31), and the
  // Bloom's ~1e-6 false-positive rate yields zero false positives over
  // sf0.01's shingle volume. Pinning that exact coincidence (on top of
  // the driver's hash rows) means ANY change to sketch parameters,
  // hashing or plumbing surfaces here with a readable diff.
  test("q7 drift pin: the HLL estimate coincides with exact q2 at fixture scale") {
    val approx = SparkEntry.queries("q7_approx_vocab")(spark, sfDir)
      .collect().head.getLong(0)
    val exact = SparkEntry.queries("q2_vocabulary")(spark, sfDir)
      .collect().head.getLong(0)
    assert(exact == 31L, s"reference-corpus vocabulary moved: $exact")
    assert(approx == exact,
      s"HLL estimate drifted: approx=$approx exact=$exact (31-word corpus " +
        "is far below any HLL error — only a sketch change can move this)")
  }

  test("q93 drift pin: the Bloom answer coincides with exact q78 at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val bloom = Runner.released(spark) {
      graft.queries.DedupQueries.q93BloomDecontaminate(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    val exact = Runner.released(spark) {
      graft.queries.DedupQueries.q78Decontaminate(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(exact.length == 379,
      s"exact decontamination baseline moved: ${exact.length} docs")
    assert(bloom == exact,
      "Bloom answer drifted from the exact twin at sf0.01 (fpp=1e-6 has " +
        "zero false positives at this scale — only a sketch change can move this)")
  }

  test("batched BPE learner == sequential learner at every batch width") {
    val seq = Runner.released(spark)(graft.queries.TextQueries.bpeRounds(spark, sfDir, 8)._1)
    var anyMultiMergeRound = false
    for (b <- Seq(1, 2, 4, 8)) {
      val (merges, batches) = Runner.released(spark)(
        graft.queries.TextQueries.bpeRoundsBatched(spark, sfDir, 8, b))
      assert(merges == seq,
        s"batch width $b diverged from the sequential merge log")
      assert(batches.sum == 8)
      if (b == 1) assert(batches.forall(_ == 1))
      if (batches.exists(_ > 1)) anyMultiMergeRound = true
    }
    assert(anyMultiMergeRound,
      "the fixture must exercise a super-round that actually batches")
  }

  test("q289: PPR mass is seed-bounded, parts-only, and seed-sensitive") {
    val r = Runner.released(spark)(run("q289_personalized_pagerank").collect())
    assert(r.length == 10)
    r.foreach { row =>
      val fp = row.getLong(1)
      // a part's score is bounded by half the total teleport mass
      // (3 seeds x 1e9, alternating sides halves it at least once)
      assert(fp > 0L && fp <= 3L * 500000000L, s"score out of range: $fp")
    }
    // descending, tie-broken deterministically
    val scores = r.map(row => (-row.getLong(1), row.getLong(0))).toSeq
    assert(scores == scores.sorted)
  }

  test("q290: per-part recs are rank-consecutive and symmetric in shared count") {
    val r = Runner.released(spark) {
      run("q290_covisitation").collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getInt(3)))
    }
    assert(r.nonEmpty)
    r.groupBy(_._1).foreach { case (x, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length),
        s"part $x ranks not consecutive")
      assert(rows.map(_._2).distinct.length == rows.length)
    }
    // shared counts are symmetric wherever both directions surface
    val m = r.map(t => (t._1, t._2) -> t._3).toMap
    r.foreach { case (x, y, n, _) =>
      m.get((y, x)).foreach(nb => assert(nb == n, s"asymmetric ($x,$y)"))
    }
  }

  test("q287 == q259: the seen-fingerprint dedup state survives a restart") {
    val restarted = run("q287_stream_dedup_recovery")
      .select("fp") // both gates pin one survivor per fingerprint
    val uninterrupted = run("q259_stream_dedup").select("fp")
    assertBitEqual(restarted, uninterrupted, "streaming dedup recovery")
  }
}
