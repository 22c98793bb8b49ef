package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.KeepTokens
import graft.streaming.StreamingOps

/** Structural invariants of the round-13 work:
  *   - the q344 rebuild's native merge-walk ([[graft.functions
  *     .KeepTokens]]) is BIT-IDENTICAL to the HOF chain it replaced
  *     (transform→filter(array_contains)→transform→array_join), across
  *     random cut sets, the no-cut/all-cut edges, and out-of-range cut
  *     positions — and it survives the adversarial fixture the old
  *     formulation was quadratic on (a ≥50k-token, ≥50%-duplicated
  *     document inside one task);
  *   - `exactSubstringApply` is a FIXED POINT: re-applying it to its own
  *     `text_kept` output cuts nothing (the Lee et al. pipeline's
  *     apply-then-apply idempotence assumption, property-tested at the
  *     q344 parameter point);
  *   - the forecast family's retention knob EVICTS (the q342-closure
  *     pattern on the last `NoTimeout` holdouts): a key quiet past the
  *     retention re-seeds its EWMA / Holt / Holt-Winters fold from its
  *     next event, a retention spanning the feed reproduces the
  *     lifetime fold bit-exactly (so the difference is the timeout
  *     firing, not a lost update path), and the within-window steps
  *     bit-equal the unbounded forms';
  *   - the Gopher repetition masses (q354) match hand computations on
  *     the degenerate shapes (empty/NULL text, all-repeated doc, a
  *     doc shorter than the gram, one duplicated 5-gram).
  */
class Round13Spec extends AnyFunSuite with SparkTestBase {

  /** The round-12 HOF formulation, verbatim — the executable reference
    * the native [[KeepTokens]] merge-walk is differenced against.
    */
  private def hofRebuild(w: Column, cs: Column): Column =
    array_join(
      transform(
        filter(
          transform(w, (x, i) => struct(x.as("tk"), (i + 1).as("p"))),
          s => !array_contains(cs, s.getField("p"))),
        s => s.getField("tk")),
      " ")

  test("KeepTokens ≡ HOF rebuild on random and edge-case cut sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val fixtures: Seq[(Seq[String], Seq[Int])] =
      Seq(
        (Seq.empty[String], Seq.empty[Int]),            // empty doc
        (Seq("solo"), Seq.empty[Int]),                  // no cuts
        (Seq("a", "b", "c"), Seq(1, 2, 3)),             // all cut
        (Seq("a", "b", "c"), Seq(2)),                   // middle cut
        (Seq("a", "b", "c"), Seq(0, 4, 99, -1)),        // all out of range
        (Seq("a", "b"), Seq(2, 2, 1))                   // dup + unsorted
      ) ++ (1 to 40).map { _ =>
        val n = 1 + rnd.nextInt(400)
        val toks = Seq.fill(n)(s"t${rnd.nextInt(50)}")
        val cuts = Seq.fill(rnd.nextInt(n + 1))(1 + rnd.nextInt(n + 4))
          .distinct // collect_set semantics upstream
        (toks, cuts)
      }
    val df = fixtures.zipWithIndex
      .map { case ((w, c), i) => (i.toLong, w, c) }
      .toDF("id", "w", "cs")
    val both = df.select(
      col("id"),
      KeepTokens(col("w"), col("cs")).as("native"),
      hofRebuild(col("w"), col("cs")).as("hof"))
    val mismatches = both.filter(
      !(col("native") <=> col("hof"))).collect()
    assert(mismatches.isEmpty,
      s"native/HOF divergence: ${mismatches.mkString("; ")}")
    // NULL propagation matches: null words → null out (cuts side is
    // always coalesced by the caller, but pin the expression anyway)
    val nulls = spark.sql(
      "SELECT CAST(NULL AS ARRAY<STRING>) AS w, array(1) AS cs")
      .select(KeepTokens(col("w"), col("cs")).as("native"),
        hofRebuild(col("w"), col("cs")).as("hof"))
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("adversarial long doc: 50k tokens, >50% duplicated — linear rebuild lands, bit-equal to HOF") {
    import spark.implicits._
    // One 50k-token document built from a 40-token base block repeated
    // 1250 times with a unique salt token every 2 blocks — enough unique
    // material that exactSubstrings' anchorCap(256) band keeps anchors,
    // plus a clean 25k-position cut set for the rebuild differential.
    val rnd = new scala.util.Random(44)
    val block = (0 until 40).map(i => s"w$i")
    val toks = (0 until 1250).flatMap { b =>
      if (b % 2 == 0) block else block.take(39) :+ s"salt$b"
    }.toArray
    assert(toks.length >= 24000 * 2, s"fixture too small: ${toks.length}")
    val cuts = rnd.shuffle((1 to toks.length).toList).take(toks.length / 2)
    val df = Seq((1L, toks.toSeq, cuts)).toDF("id", "w", "cs")
    val row = df.select(
      length(KeepTokens(col("w"), col("cs"))).as("native_len"),
      length(hofRebuild(col("w"), col("cs"))).as("hof_len"),
      (KeepTokens(col("w"), col("cs")) <=> hofRebuild(col("w"), col("cs")))
        .as("same")).collect().head
    assert(row.getBoolean(2), "native and HOF rebuilds diverge on the long doc")
    assert(row.getInt(0) > 0)
    // End-to-end: the full apply on a 50k-token, 50%-duplicated victim
    // document. Semantics note pinning the fixture shape: exactSubstrings
    // reports LEFT-MAXIMAL pairs capped at `window` tokens (interior
    // anchors of a longer region re-surface the left anchor and are
    // filtered), so ONE contiguous 25k-token duplicated region yields a
    // single 64-token cut — the way to a 25k-position cut set on one
    // document is 625 SEPARATE 40-token blocks, each duplicated exactly
    // once (inside the 2..anchorCap band) with unique context on both
    // sides. That is exactly the single-task shape the HOF rebuild was
    // quadratic on (50k tokens × 25k cuts ≈ 1.25e9 scans in ONE row).
    val blocks = (0 until 625).map(j => (0 until 40).map(i => s"d${j}x$i"))
    val doc1 = blocks.zipWithIndex
      .flatMap { case (b, j) => s"a$j" +: b }          // unique left context
    val fillers = (0 until 625).map(j => (0 until 40).map(i => s"f${j}x$i"))
    val doc2 = fillers.zip(blocks).flatMap { case (f, b) => f ++ b }
    assert(doc2.length == 50000)
    val corpus = Seq(
      (1L, doc1.mkString(" ")),
      (2L, doc2.mkString(" ")),
      (3L, "completely unique text with no duplicated window at all")
    ).toDF("id", "text")
    val out = operators.Dedup.exactSubstringApply(corpus, "text", "id")
      .collect()
    assert(out.length == 3)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // doc 1 (earlier occurrence of every block) survives untouched
    assert(byId(1L).getLong(2) == 0L, s"doc 1 should be uncut: ${byId(1L)}")
    // doc 2 loses every block — all 25k duplicated positions — and
    // keeps exactly its unique fillers, in order
    assert(byId(2L).getLong(1) == 50000L)
    assert(byId(2L).getLong(2) == 25000L,
      s"doc 2 should lose exactly the 625 blocks: " +
        s"(${byId(2L).getLong(1)}, ${byId(2L).getLong(2)})")
    assert(byId(2L).getString(3) == fillers.flatten.mkString(" "))
    // doc 3 shares nothing: zero cuts, text intact
    assert(byId(3L).getLong(2) == 0L)
    assert(byId(3L).getString(3).nonEmpty)
  }

  test("exactSubstringApply is idempotent when every duplicated region fits the window") {
    import spark.implicits._
    // Regions ≤ window(64) tokens with unique context on both sides —
    // each is reported left-maximally AT FULL LENGTH in pass 1, so the
    // victim loses the whole region and pass 2 has nothing left to cut.
    val r1 = (0 until 40).map(i => s"p$i")
    val r2 = (0 until 60).map(i => s"q$i")
    val corpus = Seq(
      (1L, ("lead1" +: r1 :+ "tail1").mkString(" ")),
      (2L, ("lead2" +: (r1 ++ Seq("mid2") ++ r2) :+ "tail2").mkString(" ")),
      (3L, ("lead3" +: r2 :+ "tail3").mkString(" ")),
      (4L, "entirely fresh words nobody else uses in any window here " +
        "plus more singular filler to pass the k five threshold")
    ).toDF("id", "text")
    val once = operators.Dedup.exactSubstringApply(corpus, "text", "id")
    // pass 1 cut something (the premise is executable)
    assert(once.agg(sum("n_cut")).head.getLong(0) > 0L)
    val onceText = once.select(col("id"), col("text_kept").as("text"))
    val twice = operators.Dedup.exactSubstringApply(onceText, "text", "id")
    val reCut = twice.filter(col("n_cut") > 0).collect()
    assert(reCut.isEmpty,
      s"apply-then-apply found new cuts: ${reCut.mkString("; ")}")
    val drift = onceText.alias("a")
      .join(twice.alias("b"), Seq("id"))
      .filter(!(col("a.text") <=> col("b.text_kept")))
      .collect()
    assert(drift.isEmpty, s"second apply changed text: ${drift.mkString("; ")}")
  }

  releasedTest("over-window regions are NOT one-pass idempotent; the fixed-point helper converges") {
    import spark.implicits._
    // A 120-token exact duplicate: pass 1 reports only the left-maximal
    // head capped at window(64) — interior anchors re-surface the left
    // anchor and are suppressed — so the victim keeps a 56-token tail
    // that becomes left-maximal on pass 2. This pins WHY the one-pass
    // idempotence property is scoped to ≤window regions (the divergence
    // the round-12 verdict asked to document or refute).
    val base = (0 until 120).map(i => s"b$i")
    val corpus = Seq(
      (1L, base.mkString(" ")),
      (2L, base.mkString(" ")),
      (3L, "entirely fresh words nobody else uses in any window here " +
        "plus more singular filler to pass the k five threshold")
    ).toDF("id", "text")
    val once = operators.Dedup.exactSubstringApply(corpus, "text", "id")
    val v1 = once.filter(col("id") === 2L).collect().head
    assert(v1.getLong(2) == 64L, s"pass 1 should cut the window head: $v1")
    // pass 2 on pass 1's output finds NEW cuts — the documented
    // non-idempotence
    val pass2 = operators.Dedup.exactSubstringApply(
      once.select(col("id"), col("text_kept").as("text")), "text", "id")
    assert(pass2.agg(sum("n_cut")).head.getLong(0) > 0L,
      "expected the surviving tail to be re-reported")
    // pass 1 still cuts, so one pass is not a fixed point: the bound throws
    intercept[IllegalStateException](operators.Dedup.exactSubstringApplyToFixedPoint(
      corpus, "text", "id", maxPasses = 1))
    // the fixed-point helper excises the full region (2 passes here):
    // original token count, total cuts = the whole doc, empty survivor;
    // it frees its superseded passes, so only the result's blocks stay
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val fp = operators.Dedup.exactSubstringApplyToFixedPoint(
      corpus, "text", "id")
    val resultIds = fp.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }.toSet
    assert(persisted -- before == resultIds,
      s"left persisted: ${persisted -- before}, result reads $resultIds")
    val rows = fp.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(2) == 0L, s"doc 1 must survive whole: ${rows(1L)}")
    assert(rows(2L).getLong(1) == 120L && rows(2L).getLong(2) == 120L,
      s"doc 2 must be fully excised: ${rows(2L)}")
    assert(rows(2L).getString(3).isEmpty)
    assert(rows(3L).getLong(2) == 0L)
    // and the fixed point IS a fixed point: one more apply cuts nothing
    val again = operators.Dedup.exactSubstringApply(
      fp.select(col("id"), col("text_kept").as("text")), "text", "id")
    assert(again.agg(coalesce(sum("n_cut"), lit(0L))).head.getLong(0) == 0L)
  }

  // ---- streaming retention clock: no backward pull (round-12 ADVICE) ----

  private def ts(sec: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))

  private val T = "alpha beta gamma delta epsilon"
  private val U = "one two three four five six"
  private val V = "red green blue yellow purple orange"

  private def runNearDup(
      batches: Seq[Seq[(Long, String, java.sql.Timestamp)]],
      retentionMs: Long, ordered: Boolean): Map[Long, Long] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sink = s"graft_r13_neardup_${if (ordered) "o" else "u"}"
    spark.catalog.dropTempView(sink)
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val in = ms.toDF.toDF("doc_id", "text", "ts")
    val plan =
      if (ordered)
        streaming.StreamingOps.nearDupOnIngest(in, "text", "doc_id", "ts", retentionMs).toDF()
      else
        streaming.StreamingOps.nearDupOnIngestUnordered(in, "text", "doc_id", "ts", retentionMs).toDF()
    val q = plan.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).groupBy("doc_id").agg(min(col("dup_of")).as("dup_of"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  for (ordered <- Seq(true, false))
    test(s"near-dup retention clock (ordered=$ordered): " +
      "an event-time-older straggler cannot pull eviction earlier") {
      // retention 120s. The T bucket's TRUE last-seen is 100s (correct
      // timeout 220s); the in-watermark straggler @40s used to RESET the
      // clock to 160s. Batches 2-3 drive the watermark to 180s — past
      // the buggy timeout, short of the correct one — with the bucket
      // silent, which is exactly when timers fire. The recurrence @310s
      // must still be FLAGGED against the original anchor: an early
      // eviction would re-anchor it silently and emit nothing.
      val E0 = 1704067200L
      val got = runNearDup(Seq(
        Seq((1L, T, ts(E0 + 100))),
        Seq((2L, T, ts(E0 + 40))), // straggler: older event, same bucket
        Seq((3L, U, ts(E0 + 300))), // sets wm(next) = 180
        Seq((4L, V, ts(E0 + 301))), // T silent here: the would-be firing
        Seq((5L, T, ts(E0 + 310)))),
        retentionMs = 120000L, ordered = ordered)
      assert(got.get(2L).contains(1L), s"straggler itself must be flagged: $got")
      assert(got.get(5L).contains(1L),
        s"bucket evicted early — the straggler pulled the clock backward: $got")
    }

  test("reservoir re-delivery: an at-least-once duplicate cannot occupy two slots") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import streaming.StreamingOps
    // ids {1,3,5,7,9} under the md5 coin sample to 9>7>1 at k=3
    // (Round12Spec's pin); id 9 is delivered FOUR times, in-batch and
    // across batches — the pre-fix fold produced "9>9>7"
    val sink = "graft_r13_res_dup"
    spark.catalog.dropTempView(sink)
    val ms = MemoryStream[StreamingOps.DocArrival](spark)
    val q = StreamingOps.reservoirPerKey(ms.toDS(), k = 3)
      .writeStream.format("memory").queryName(sink).outputMode("update").start()
    try Seq(Seq(1L, 3L, 9L, 9L), Seq(5L, 7L, 9L), Seq(9L)).foreach { b =>
      ms.addData(b.map(StreamingOps.DocArrival("s", _))); q.processAllAvailable()
    } finally q.stop()
    val r = spark.table(sink)
      .groupBy("source").agg(max(struct(col("n_seen"), col("sample"))).as("m"))
      .head().getStruct(1)
    assert(r.getString(1) == "9>7>1",
      s"re-delivered id must hold ONE slot: sample=${r.getString(1)}")
    assert(r.getLong(0) == 8L, s"n_seen counts deliveries: ${r.getLong(0)}")
  }

  test("weighted reservoir re-delivery: duplicate (id, weight) holds one slot") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import streaming.StreamingOps
    val sink = "graft_r13_wres_dup"
    spark.catalog.dropTempView(sink)
    val ms = MemoryStream[StreamingOps.WeightedArrival](spark)
    val q = StreamingOps.weightedReservoirPerKey(ms.toDS(), k = 2)
      .writeStream.format("memory").queryName(sink).outputMode("update").start()
    // id 1 @ w=1000 (u/w = .000576, always wins) re-delivered across
    // batches; pre-fix it would fill BOTH slots and evict id 4
    try Seq(Seq(1L -> 1000.0, 2L -> 1.0), Seq(1L -> 1000.0, 4L -> 1.0))
      .foreach { b =>
        ms.addData(b.map { case (id, w) => StreamingOps.WeightedArrival("s", id, w) })
        q.processAllAvailable()
      } finally q.stop()
    val r = spark.table(sink)
      .groupBy("source").agg(max(struct(col("n_seen"), col("sample"))).as("m"))
      .head().getStruct(1)
    assert(r.getString(1) == "1>4",
      s"re-delivered id must hold ONE slot: sample=${r.getString(1)}")
    assert(r.getLong(0) == 4L)
  }

  // ---- graph materialization: nested fingerprints + superseded GC ----

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  // the dir half of the graph-table tag — Edges' own digest, so the
  // spec can never drift from the operator's naming
  private def hex16(s: String): String = graft.operators.Edges.hex16(s)

  test("graph materialization: a regenerated PARTITIONED dataset invalidates (recursive fingerprint)") {
    import spark.implicits._
    // the round-12 fingerprint listed only top-level files — a
    // partitioned layout (leaf files under pt=*/ subdirs) contributed
    // nothing and silently fell back to path-only tagging
    val dir = java.nio.file.Files.createTempDirectory("graft-r13-fp").toString
    try {
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
        .toDF("l_orderkey", "l_partkey").withColumn("pt", col("l_orderkey") % 2)
        .write.mode("overwrite").partitionBy("pt")
        .parquet(s"$dir/lineitem.parquet")
      val n1 = Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dir).count())
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
        (3L, 1L), (3L, 3L), (4L, 1L), (4L, 3L))
        .toDF("l_orderkey", "l_partkey").withColumn("pt", col("l_orderkey") % 2)
        .write.mode("overwrite").partitionBy("pt")
        .parquet(s"$dir/lineitem.parquet")
      val n2 = Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dir).count())
      assert(n1 == 1L && n2 == 2L,
        s"recursive fingerprint must see leaf files: $n1 -> $n2")
    } finally rmTree(dir)
  }

  test("graph materialization GC never crosses dataset dirs") {
    // the review-pass regression pin: the GC deletes by the tag's dir
    // prefix, so building dir B must leave dir A's live table (and its
    // files) untouched — under the old 32-bit dirHex a prefix collision
    // would have DROPPED and deleted A's table here (probabilistically;
    // this pin catches any future regression to prefix semantics, e.g.
    // a GC keyed on the table family instead of the dir half)
    import spark.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("graft-r13-gcA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-r13-gcB").toString
    def live(d: String): Seq[String] = {
      val p = s"graft_copurchase_${hex16(d)}_"
      spark.catalog.listTables().collect()
        .filter(t => !t.isTemporary && t.name.startsWith(p)).map(_.name).toSeq
    }
    try {
      Seq(dirA, dirB).foreach { d =>
        Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
          .toDF("l_orderkey", "l_partkey")
          .coalesce(1).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      }
      Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dirA).count())
      val a1 = live(dirA)
      assert(a1.size == 1, s"dir A must have one live table: $a1")
      val locA = new org.apache.hadoop.fs.Path(
        org.apache.spark.sql.graft.Bridge.tableLocation(spark, a1.head))
      val fs = locA.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dirB).count())
      assert(live(dirA) == a1,
        s"building dir B must not GC dir A's table: ${live(dirA)} vs $a1")
      assert(fs.exists(locA), s"dir A's warehouse files must survive: $locA")
      assert(live(dirB).size == 1, s"dir B must have its own table: ${live(dirB)}")
    } finally { rmTree(dirA); rmTree(dirB) }
  }

  test("graph materialization GC: a regeneration drops the superseded table AND its files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r13-gc").toString
    val prefix = s"graft_copurchase_${hex16(dir)}_"
    def liveTables(): Seq[String] = spark.catalog.listTables().collect()
      .filter(t => !t.isTemporary && t.name.startsWith(prefix)).map(_.name).toSeq
    try {
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
        .toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dir).count())
      val t1 = liveTables()
      assert(t1.size == 1, s"expected one fresh table: $t1")
      val loc1 = new org.apache.hadoop.fs.Path(
        org.apache.spark.sql.graft.Bridge.tableLocation(spark, t1.head))
      val fs = loc1.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(loc1))
      // regenerate → new fingerprint; the superseded table must vanish
      // from the catalog AND the warehouse (external table: DROP alone
      // strands the files)
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L),
        (4L, 1L), (4L, 3L))
        .toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dir).count())
      val t2 = liveTables()
      assert(t2.size == 1 && t2 != t1,
        s"superseded table must be GC'd, new one live: $t1 -> $t2")
      assert(!fs.exists(loc1), s"superseded table's files must be deleted: $loc1")
    } finally rmTree(dir)
  }

  // ---- Gopher repetition gate (q354) ----

  test("GopherRepetition: hand-computed masses on edge and repetition fixtures") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a"),                       // heavy top-gram repetition
      (2L, ""),                              // empty
      (3L, "one two three four five"),       // all-distinct words
      (4L, "v w x y z v w x y z a b"),       // one duplicated 5-gram
      (5L, null.asInstanceOf[String])        // NULL text: row-preserving
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.gopherRepetition(df, "text", "doc_id")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
      .toSeq
    val expected = Seq(
      // "a a a a": denom 7; "a a"×3·3=9, "a a a"×2·5=10, "a a a a"×1·7=7;
      // no 5-grams; top2·5=45 > 7 → fail
      (1L, 7L, 9L, 10L, 7L, 0L, 0L, false),
      // empty: all masses 0, 0 ≤ 0 everywhere → pass
      (2L, 0L, 0L, 0L, 0L, 0L, 0L, true),
      // distinct words: top2 = the longest 2-gram "three four" (10 chars)
      // at count 1; the single 5-gram occurs once → dup5 0; denom 23;
      // top2·5=50 > 23 → fail (short docs fail Gopher's top-gram gates
      // by construction — the rule is calibrated for web documents)
      (3L, 23L, 10L, 15L, 19L, 0L, 0L, false),
      // duplicated "v w x y z" (9 chars) ×2 → dup5 18; denom 23;
      // dup5·20=360 > 3·23 → fail on the dup5 gate
      (4L, 23L, 6L, 10L, 14L, 18L, 0L, false),
      (5L, 0L, 0L, 0L, 0L, 0L, 0L, true))
    assert(got == expected, s"masses must match the hand computation: $got")
  }

  // ---- leakage-safe split (q358) ----

  test("leakage-safe split: no verified near-dup pair straddles splits") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val split = graft.queries.DedupQueries.queries("q358_leakage_safe_split")(spark, dir)
      .select(col("doc_id"), col("split")).persist()
    val pairs = graft.operators.NearDup.exactPairIds(spark, dir)
    val straddling = pairs
      .join(split.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), Seq("id_a"))
      .join(split.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), Seq("id_b"))
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddling == 0L,
      s"$straddling near-dup pair(s) straddle splits — eval leakage")
    // the premise has teeth: the corpus actually HAS cross-doc pairs,
    // and the per-DOC q71 coin would have straddled some of them
    assert(pairs.count() > 0L, "fixture premise: no verified pairs at all")
    val docCoinStraddles = pairs
      .withColumn("sa", substring(md5(col("id_a").cast("string")), 1, 2) < "1a")
      .withColumn("sb", substring(md5(col("id_b").cast("string")), 1, 2) < "1a")
      .filter(col("sa") =!= col("sb")).count()
    assert(docCoinStraddles > 0L,
      "fixture premise: the per-doc coin straddles nothing — the zero above is vacuous")
    split.unpersist()
  }

  // ---- Neyman stratified sample (q356) ----

  test("Neyman allocation: budget lands exactly, zero-variance strata get zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r13-neyman").toString
    try {
      // three strata: high-variance (spread lengths), low-variance,
      // and CONSTANT length — Neyman must allocate the constant one 0
      // (sampling a zero-variance stratum teaches the estimator nothing)
      val rows =
        (1L to 50L).map(i => (i, "x", s"src_hi", 100L + (i % 25) * 40L)) ++
          (51L to 100L).map(i => (i, "x", s"src_lo", 200L + (i % 3))) ++
          (101L to 150L).map(i => (i, "x", s"src_const", 300L))
      rows.toDF("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.queries.HygieneQueries.queries("q356_neyman_sample")(spark, dir)
      val bySrc = got.groupBy("source")
        .agg(count(lit(1)).as("k"), max(col("alloc")).as("alloc"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap // name -> (sampled, alloc)
      assert(!bySrc.contains("src_const"),
        s"zero-variance stratum must receive zero allocation: $bySrc")
      // the apportionment lands the BUDGET exactly (Σ alloc = K); the
      // drawn count then caps at the stratum's size — in this fixture
      // Neyman demands more of src_hi than its 50 docs, which is the
      // documented over-allocation trade (a real corpus's strata dwarf K)
      val totalAlloc = bySrc.values.map(_._2).sum
      assert(totalAlloc == 200L,
        s"largest-remainder must land the budget exactly: $bySrc")
      bySrc.foreach { case (s, (k, a)) =>
        assert(k == math.min(a, 50L), s"$s sampled $k of alloc $a") }
      // the high-variance stratum must out-draw the low-variance one
      assert(bySrc("src_hi")._2 > bySrc("src_lo")._2,
        s"Neyman weights are N*sigma — src_hi must dominate: $bySrc")
    } finally rmTree(dir)
  }

  // ---- forecast-family retention knob (the last NoTimeout holdouts) ----

  private val E0 = 1704067200L // 2024-01-01T00:00:00Z

  /** Drive a per-key fold over explicit ValEvent micro-batches through a
    * memory sink; returns every update row for `uid` in emission order.
    * The feed shape is Round12Spec's eviction harness: key 1 is the
    * subject, key 2 the watermark clock — two clock-only batches sit
    * between the subject's slices so the subject's event-time timer has
    * a batch it is silent in, under a watermark past its timeout.
    */
  private def runFold(
      batches: Seq[Seq[StreamingOps.ValEvent]],
      op: org.apache.spark.sql.Dataset[StreamingOps.ValEvent] => DataFrame,
      uid: Long): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val sink = "graft_r13_fold"
    spark.catalog.dropTempView(sink)
    val ms = MemoryStream[StreamingOps.ValEvent](spark)
    val q = op(ms.toDS()).writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).filter(col("user_id") === uid).drop("user_id")
      .collect().toSeq
  }

  private def ve(sec: Long, eid: Long, v: Double, uid: Long = 1L) =
    StreamingOps.ValEvent(uid, ts(sec), eid, v)

  /** Subject: (10, 20) in slice 0, then 30 six hours later; clock
    * batches 2 h and 2 h + 1 min in. Retention 60 s: the subject's state
    * must evict between slices. */
  private val foldBatches = Seq(
    Seq(ve(E0, 1L, 10.0), ve(E0 + 10, 2L, 20.0)),
    Seq(ve(E0 + 7200, 91L, 0.0, uid = 2L)),
    Seq(ve(E0 + 7260, 92L, 0.0, uid = 2L)),
    Seq(ve(E0 + 21600, 3L, 30.0)))
  private val Retain60s = 60000L
  private val RetainYear = 365L * 86400L * 1000L

  test("evicting EWMA: quiet past retention re-seeds; unbounded control carries the fold") {
    val evicted = runFold(foldBatches,
      ds => StreamingOps.ewmaPerKeyEvicting(ds, Retain60s).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1)))
    // slice 0 folds to (2, 15.0) — BIT-equal to the NoTimeout form's
    // first batch — and the recurrence seeds fresh: (1, 30.0)
    assert(evicted == Seq((2L, 15.0), (1L, 30.0)),
      s"retention 60s must re-seed the second slice: $evicted")
    val kept = runFold(foldBatches,
      ds => StreamingOps.ewmaPerKeyEvicting(ds, RetainYear).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1)))
    // control: a retention spanning the feed reproduces the lifetime
    // fold (15/2 + 30/2 = 22.5) — the difference above IS the timeout
    assert(kept == Seq((2L, 15.0), (3L, 22.5)),
      s"unbounded retention must carry the fold: $kept")
    val lifetime = runFold(foldBatches,
      ds => StreamingOps.ewmaPerKey(ds).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(lifetime == kept,
      s"year-retention evicting form must bit-equal the NoTimeout form: $lifetime vs $kept")
  }

  test("evicting Holt: the coupled (level, trend) state re-seeds past retention") {
    val evicted = runFold(foldBatches,
      ds => StreamingOps.holtPerKeyEvicting(ds, Retain60s).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // slice 0: seed (10, 0) then l=(20+10+0)/2=15, b=(15-10+0)/2=2.5
    assert(evicted == Seq((2L, 15.0, 2.5), (1L, 30.0, 0.0)),
      s"retention 60s must re-seed (l, b): $evicted")
    val kept = runFold(foldBatches,
      ds => StreamingOps.holtPerKeyEvicting(ds, RetainYear).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // carried: l=(30+15+2.5)/2=23.75, b=(23.75-15+2.5)/2=5.625
    assert(kept == Seq((2L, 15.0, 2.5), (3L, 23.75, 5.625)),
      s"unbounded retention must carry (l, b): $kept")
  }

  test("evicting Holt-Winters: the seasonal array re-seeds with the rest of the state") {
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
    val evicted = runFold(foldBatches,
      ds => StreamingOps.holtWintersPerKeyEvicting(ds, Retain60s).toDF(), 1L)
      .map(row)
    // slice 0: seed (10, 0, 0⃗) then k=1: l=15, b=2.5, s1=(20-15+0)/2=2.5
    assert(evicted == Seq(
      (2L, 15.0, 2.5, 0.0, 2.5, 0.0, 0.0),
      (1L, 30.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      s"retention 60s must re-seed (l, b, seas): $evicted")
    val kept = runFold(foldBatches,
      ds => StreamingOps.holtWintersPerKeyEvicting(ds, RetainYear).toDF(), 1L)
      .map(row)
    // carried: k=2, s=0 → l=(30-0+15+2.5)/2=23.75, b=5.625, s2=3.125
    assert(kept == Seq(
      (2L, 15.0, 2.5, 0.0, 2.5, 0.0, 0.0),
      (3L, 23.75, 5.625, 0.0, 2.5, 3.125, 0.0)),
      s"unbounded retention must carry the seasonal fold: $kept")
  }
}
