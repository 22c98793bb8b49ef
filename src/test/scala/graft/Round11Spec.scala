package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the round-11 work:
  *   - Adamic–Adar's per-center hub cap is ENFORCED (the round-10
  *     verdict's last unbounded C(deg,2) fanout): a center over the cap
  *     emits zero wedge pairs, every other center is untouched, and the
  *     cap drops the WHOLE center rather than truncating its neighbor
  *     set (so surviving weights keep the exact degree);
  *   - q289 PPR through the salted propagation join is bit-identical at
  *     S = 8 (the q254/q199 pattern, now covering the third of the
  *     three propagation loops the round-10 verdict named);
  *   - the shared co-purchase materialization registers ONE bucketed
  *     table per dataset (32 buckets on the propagation join key) and
  *     the three public derivations stay mutually consistent views of
  *     it — and a frontier⋈edges equi-join on `a` leaves the bucketed
  *     edge side UNSHUFFLED (the "build the graph once, iterate on it"
  *     claim, asserted on the executed plan, not argued).
  */
class Round11Spec extends AnyFunSuite with SparkTestBase {

  test("adamicAdar hub cap: over-cap centers emit nothing, others are untouched") {
    import spark.implicits._
    // two components: star with center 10 (degree 5 > cap 4) and path
    // 1-2-3 (center degree 2). Under cap 4 the star contributes ZERO
    // wedges while the path's (1,3) prediction survives unchanged —
    // the cap is per-center, not global.
    val g = Seq((10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L), (10L, 15L),
      (1L, 2L), (2L, 3L)).toDF("a", "b")
    val capped = Runner.released(spark) {
      graft.operators.Edges.adamicAdar(g, hubCap = 4)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    }
    assert(capped.toSeq == Seq((1L, 3L, 1L, math.round(1.0e9 / math.log(2.0)))),
      s"cap 4 must drop the degree-5 star center and keep the path: ${capped.toSeq}")
    // at cap 5 the star center is back: C(5,2) = 10 leaf pairs at
    // 1/ln(5) each, plus the path pair — dropping a center is a cap
    // decision, never a data loss
    val uncapped = graft.operators.Edges.adamicAdar(g, hubCap = 5)
    val n = uncapped.count()
    val starW = Runner.released(spark) {
      uncapped.filter(col("a") === 11L && col("b") === 12L)
        .collect().map(_.getLong(3))
    }
    assert(n == 11L, s"cap 5 must emit all 10 star pairs + 1 path pair, got $n")
    assert(starW.toSeq == Seq(math.round(1.0e9 / math.log(5.0))),
      "the star's wedge weight must use the EXACT degree 5 (drop-don't-truncate)")
    intercept[IllegalArgumentException] {
      graft.operators.Edges.adamicAdar(g, hubCap = 1)
    }
  }

  test("exactSubstrings: lcp length agrees with q103's span finder, reported once, cap enforced") {
    import spark.implicits._
    // two docs sharing one contiguous 9-token region ("p q r s t u v w
    // x"), different neighbors on both flanks — the clean copy case
    val docs = Seq(
      (1L, "p q r s t u v w x y"),
      (2L, "z1 z2 p q r s t u v w x z9")).toDF("doc_id", "text")
    val subs = Runner.released(spark) {
      graft.operators.Dedup
        .exactSubstrings(docs, "text", "doc_id", k = 3, window = 16, anchorCap = 256)
        .collect()
    }
    // LEFT-MAXIMALITY: the region is reported exactly ONCE (at its
    // leftmost anchor), not at all 7 interior anchor offsets
    assert(subs.length == 1, s"want one maximal pair, got ${subs.toSeq}")
    val r = subs.head
    assert(r.getLong(0) == 9L, s"lcp length wrong: $r")
    assert((r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4)) == ((1L, 1, 2L, 3)),
      s"pair endpoints wrong: $r")
    assert(r.getString(5) == "p q r s t u v w x", s"dup_text wrong: $r")
    // q103's span finder must mark the SAME 9-token region in both docs
    // (dupSpans n=3: maximal runs of cross-doc-duplicated 3-grams)
    // (dupSpans positions are 0-based generator offsets; exactSubstrings
    // positions are 1-based array indices — the LENGTHS must agree)
    val spans = Runner.released(spark) {
      graft.operators.Dedup.dupSpans(docs, "text", "doc_id", n = 3)
        .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(3))).toSet
    }
    assert(spans == Set((1L, 0, 9L), (2L, 2, 9L)),
      s"q103 span disagreement: $spans")
    // INTRA-doc repeats pair the two occurrences of the same doc
    val self = Seq((7L, "a b c d e f a b c d e g")).toDF("doc_id", "text")
    val sr = Runner.released(spark) {
      graft.operators.Dedup
        .exactSubstrings(self, "text", "doc_id", k = 3, window = 16, anchorCap = 256)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getLong(3), x.getInt(4)))
    }
    assert(sr.toSeq == Seq((5L, 7L, 1, 7L, 7)),
      s"intra-doc pair wrong: ${sr.toSeq}")
    // BOTH-AT-POSITION-1: two byte-identical documents — the canonical
    // exact-duplicate case — must report their full-length match at
    // position 1 (a pair with no left context is left-maximal; the
    // round-11 review found the null-safe-equality filter silently
    // dropped it)
    val twins = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val tw = Runner.released(spark) {
      graft.operators.Dedup
        .exactSubstrings(twins, "text", "doc_id", k = 3, window = 16, anchorCap = 256)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getLong(3), x.getInt(4)))
    }
    assert(tw.toSeq == Seq((7L, 1L, 1, 2L, 1)),
      s"identical docs must report one full-length pair at pos 1: ${tw.toSeq}")
    // OVER-CAP LEFT ANCHOR: a duplicated region entered through corpus
    // boilerplate — the boundary 3-gram "c r1 r2" occurs 4 times
    // (> cap 3) so the left pair can never form; the region must still
    // be reported at the first IN-band anchor ("r1 r2 r3", 2 occs)
    // instead of vanishing while waiting on an impossible left report
    val boundary = Seq(
      (1L, "a0 c r1 r2 r3 r4 a9"),
      (2L, "b0 c r1 r2 r3 r4 b9"),
      (3L, "x1 c r1 r2 y1"),
      (4L, "x2 c r1 r2 y2")).toDF("doc_id", "text")
    val bd = Runner.released(spark) {
      graft.operators.Dedup
        .exactSubstrings(boundary, "text", "doc_id", k = 3, window = 16, anchorCap = 3)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getLong(3),
          x.getInt(4), x.getString(5)))
    }
    assert(bd.toSeq == Seq((4L, 1L, 3, 2L, 3, "r1 r2 r3 r4")),
      s"over-cap boundary must not lose the region: ${bd.toSeq}")
    // ANCHOR CAP: the same 3-gram in 5 docs exceeds cap 4 — boilerplate
    // is excluded from extension entirely (the q312 hub-cap discipline)
    val boiler = (1L to 5L).map(i => (i, s"x$i common tail here y$i"))
      .toDF("doc_id", "text")
    val capped = graft.operators.Dedup
      .exactSubstrings(boiler, "text", "doc_id", k = 3, window = 16, anchorCap = 4)
    val uncapped = graft.operators.Dedup
      .exactSubstrings(boiler, "text", "doc_id", k = 3, window = 16, anchorCap = 5)
    val nCapped = capped.count()
    val nUncapped = Runner.released(spark)(uncapped.count())
    assert(nCapped == 0L, s"cap 4 must exclude the 5-occurrence anchor, got $nCapped")
    assert(nUncapped == 4L, s"cap 5 must pair the 5 sorted occurrences, got $nUncapped")
  }

  test("salted PPR: bit-identical top-10 at saltBuckets = 8") {
    val plain = Runner.released(spark) {
      graft.queries.RelationalQueries
        .q289PersonalizedPagerank(spark, sfDir)
        .collect().map(_.toSeq).toSeq
    }
    val salted = Runner.released(spark) {
      graft.queries.RelationalQueries
        .q289PersonalizedPagerank(spark, sfDir, saltBuckets = 8)
        .collect().map(_.toSeq).toSeq
    }
    assert(plain.nonEmpty && plain == salted,
      "salting changed the PPR ranking")
  }

  test("interval-join gate: RocksDB state store is bit-identical to the default store") {
    // the production knob for q310's two-sided buffered join state: the
    // store provider is an implementation detail of STATE, never of the
    // answer — every (view, click) pair must survive the swap exactly
    val dflt = Runner.released(spark) {
      SparkEntry.queries("q310_stream_interval_join")(spark, sfDir)
        .collect().map(_.toSeq).toSet
    }
    val rocks = Runner.released(spark) {
      graft.queries.StreamParityQueries
        .q310StreamIntervalJoin(spark, sfDir, stateStore = "rocksdb")
        .collect().map(_.toSeq).toSet
    }
    assert(dflt.nonEmpty, "fixture must produce attributed pairs")
    assert(dflt == rocks,
      s"providers diverged: ${(dflt -- rocks).take(3)} only in default, " +
        s"${(rocks -- dflt).take(3)} only in rocksdb")
    intercept[IllegalArgumentException] {
      graft.queries.StreamParityQueries
        .q310StreamIntervalJoin(spark, sfDir, stateStore = "bogus")
    }
  }

  releasedTest("co-purchase materialization: one bucketed table, consistent views, unshuffled edge scan") {
    val und = graft.operators.Edges.coPurchaseUndirected(spark, sfDir)
    val dir = graft.operators.Edges.coPurchase(spark, sfDir)
    val w = graft.operators.Edges.coPurchaseWeighted(spark, sfDir)
    // the symmetric table holds each edge in both orientations; the
    // directed view is exactly its a < b half; weights agree across
    // orientations (same cab on both rows)
    assert(und.count() == 2 * dir.count(), "undirected must be 2x directed")
    assert(dir.filter(col("a") >= col("b")).isEmpty, "directed view must be a < b")
    val asym = w.as("x").join(w.as("y"),
      col("x.a") === col("y.b") && col("x.b") === col("y.a") &&
        col("x.w") =!= col("y.w"))
    assert(asym.isEmpty, "weights must agree across the two orientations")
    Runner.release(spark)
    // catalog: exactly one materialization per (dataset, support) with
    // the declared bucketing metadata
    val tbls = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_copurchase_"))
    assert(tbls.nonEmpty, "materialization must register a catalog table")
    val desc = spark.sql(s"DESCRIBE EXTENDED ${tbls.head}")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("Num Buckets").contains("32"), s"bucket count wrong: $desc")
    assert(desc.get("Bucket Columns").exists(_.contains("a")),
      s"bucket column wrong: $desc")
    // the bipartite build rides the same helper: bucketed on c
    graft.operators.Edges.customerPart(spark, sfDir).count()
    val cpTbl = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_custpart_"))
    assert(cpTbl.nonEmpty, "customerPart must register its catalog table")
    val cpDesc = spark.sql(s"DESCRIBE EXTENDED ${cpTbl.head}")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(cpDesc.get("Num Buckets").contains("32") &&
      cpDesc.get("Bucket Columns").exists(_.contains("c")),
      s"customerPart bucketing wrong: $cpDesc")
    Runner.release(spark)
    // the scale claim: a frontier⋈edges equi-join on `a` must NOT
    // exchange the edge side — the bucketed scan already reports the
    // hash partitioning, so the only Exchange in the joined plan is the
    // frontier's (broadcast disabled to force the shuffle-join path)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val frontier = und.select(col("a")).distinct().limit(10)
        .collect().map(_.getLong(0))
      val fdf = {
        import spark.implicits._
        frontier.toSeq.toDF("a")
      }
      val j = graft.operators.Edges.coPurchaseUndirected(spark, sfDir)
        .join(fdf, Seq("a"))
      j.collect()
      // count in the FINAL adaptive section only — toString repeats the
      // initial plan below it, which would double-count the exchange
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val nExchanges = "Exchange".r.findAllIn(plan).size
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"join must take the shuffle path for this assertion:\n$plan")
      assert(nExchanges == 1,
        s"bucketed edge side must not shuffle (want 1 frontier exchange, " +
          s"got $nExchanges):\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  // the production helper, not a copy — one definition of the provider
  // save/set/restore protocol for gates and specs alike
  private def withRocksDb[T](body: => T): T =
    graft.queries.StreamParityQueries.withRocksDbStateStore(spark)(body)

  private def hm(hhmm: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  releasedTest("typeCountsPerKey: map-state counts are delivery-order-invariant and never reset") {
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.{TypedEvent, TypeCount}
    import spark.implicits._
    // the same 6-event history for user 1 (4 clicks, 2 views) split two
    // different ways across micro-batches, the second REVERSED inside
    // each batch — counts are pure increments, so both feeds must land
    // on the identical final map AND every emitted total must be
    // monotone per (user, type) (a reset or double-apply breaks one)
    val hist = Seq(
      TypedEvent(1L, hm("10:00"), 1L, "click"), TypedEvent(1L, hm("10:01"), 2L, "view"),
      TypedEvent(1L, hm("10:02"), 3L, "click"), TypedEvent(1L, hm("10:03"), 4L, "click"),
      TypedEvent(1L, hm("10:04"), 5L, "view"), TypedEvent(1L, hm("10:05"), 6L, "click"),
      TypedEvent(2L, hm("10:06"), 7L, "view"))
    def run(batches: Seq[Seq[TypedEvent]], sink: String): Seq[TypeCount] =
      withRocksDb {
        spark.catalog.dropTempView(sink)
        val ms = MemoryStream[TypedEvent](spark)
        val q = StreamingOps.typeCountsPerKey(ms.toDS())
          .writeStream.format("memory").queryName(sink).outputMode("append").start()
        try {
          batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
        } finally q.stop()
        spark.table(sink).as[TypeCount].collect().toSeq
      }
    val a = run(Seq(hist.take(3), hist.drop(3)), "r11_tc_a")
    val b = run(Seq(hist.take(5).reverse, hist.drop(5).reverse), "r11_tc_b")
    def finalMap(xs: Seq[TypeCount]) =
      xs.groupBy(x => (x.user_id, x.event_type)).view.mapValues(_.map(_.cnt).max).toMap
    val expect = Map((1L, "click") -> 4L, (1L, "view") -> 2L, (2L, "view") -> 1L)
    assert(finalMap(a) == expect, s"split A final counts wrong: ${finalMap(a)}")
    assert(finalMap(b) == expect, s"reversed split B final counts wrong: ${finalMap(b)}")
    // monotone WITHIN each run: per (user, type) the emitted totals
    // strictly increase in emission order — the carried MapState never
    // loses an increment (the two runs are independent histories)
    Seq(a, b).foreach(_.groupBy(x => (x.user_id, x.event_type)).foreach { case (k, xs) =>
      assert(xs.map(_.cnt) == xs.map(_.cnt).sorted && xs.map(_.cnt).distinct == xs.map(_.cnt),
        s"totals for $k must strictly increase within a run: ${xs.map(_.cnt)}")
    })
  }

  releasedTest("recentItemsPerKey: list-state ring evicts from the front and survives batch splits") {
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps.{ValEvent, RecentUpdate}
    import spark.implicits._
    // 5 events for user 1 (ring must hold the LAST 3 in ts order), 2
    // for user 2 (under-full ring holds all, oldest first) — fed as
    // 2+3 with the second batch out of order (the in-batch sort is the
    // operator's job, the q338 map has no such duty)
    val b1 = Seq(ValEvent(1L, hm("09:00"), 11L, 0), ValEvent(1L, hm("09:01"), 12L, 0))
    val b2 = Seq(ValEvent(1L, hm("09:04"), 15L, 0), ValEvent(1L, hm("09:02"), 13L, 0),
      ValEvent(1L, hm("09:03"), 14L, 0), ValEvent(2L, hm("09:05"), 21L, 0))
    val got = withRocksDb {
      spark.catalog.dropTempView("r11_ring")
      val ms = MemoryStream[ValEvent](spark)
      val q = StreamingOps.recentItemsPerKey(ms.toDS(), keep = 3)
        .writeStream.format("memory").queryName("r11_ring").outputMode("append").start()
      try {
        ms.addData(b1: _*); q.processAllAvailable()
        ms.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      spark.table("r11_ring").as[RecentUpdate].collect().toSeq
    }
    val fin = got.groupBy(_.user_id).view.mapValues(_.maxBy(_.n_seen)).toMap
    assert(fin(1L).n_seen == 5L && fin(1L).recent == "13>14>15",
      s"user 1 ring must be the last 3 in time order: ${fin(1L)}")
    assert(fin(2L).n_seen == 1L && fin(2L).recent == "21",
      s"user 2 under-full ring must hold its single event: ${fin(2L)}")
    // batch-1 emission proves the carried ring, not a per-batch rebuild:
    // after (11, 12) the ring is "11>12" — eviction happened ACROSS the
    // batch boundary, on state read back from the store
    val mid = got.filter(x => x.user_id == 1L && x.n_seen == 2L)
    assert(mid.map(_.recent) == Seq("11>12"),
      s"batch-1 ring must be 11>12 before the cross-batch eviction: $got")
  }

  releasedTest("dedupBoundedOnIngest: in-window duplicates drop, post-eviction keys re-admit") {
    import graft.streaming.StreamingOps
    import spark.implicits._
    // key 1: duplicate 10 s after the original (inside the 60 s delay,
    // same batch) -> dropped. key 2: duplicate in the NEXT batch but
    // still in-window (watermark at batch 2 = 10:00:20 - 60 s, behind
    // key 2's expiry) -> dropped. Batch 3's fresh key 8 at 11:00
    // pushes the watermark (input-driven, one-batch lag); by batch 4
    // the watermark (10:59) is past key 1's expiry under EITHER anchor
    // (first-seen 10:01, last-seen 10:01:10) -> state evicted, key 1's
    // 12:00 row MUST re-admit. The micro twin of q340's corpus-scale
    // contract, with every gap far from the undefined band.
    val b1 = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 101L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:10"), 102L),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:20"), 103L))
    val b2 = Seq(
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:30"), 104L),
      (9L, java.sql.Timestamp.valueOf("2024-01-01 10:00:30"), 105L))
    val b3 = Seq(
      (8L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 106L))
    val b4 = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 107L))
    spark.catalog.dropTempView("r11_wmdedup")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val q = StreamingOps.dedupBoundedOnIngest(
      ms.toDF.toDF("user_id", "ts", "event_id"), Seq("user_id"), "ts", "60 seconds")
      .writeStream.format("memory").queryName("r11_wmdedup").outputMode("append").start()
    try {
      Seq(b1, b2, b3, b4).foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("r11_wmdedup")
      .select("event_id").as[Long].collect().toSet
    assert(got == Set(101L, 103L, 105L, 106L, 107L),
      s"want in-window drops (102, 104) and post-eviction re-admission (107): $got")
  }
}
