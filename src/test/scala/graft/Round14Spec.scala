package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.TextQueries
import graft.streaming.StreamingOps

/** Structural invariants of the round-14 work:
  *   - BPE APPLY ([[graft.functions.BpeEncode]]) is BIT-IDENTICAL to
  *     the HOF formulation (one chained `aggregate` fold per merge —
  *     the learner's own per-round recurrence) on every corpus word
  *     AND on unseen/adversarial words, and applying the learned
  *     merges to the merge table's own training words reproduces
  *     q264's round-5 corpus token total exactly;
  *   - the evicting fold family's retention contract is EVENT-TIME
  *     DETERMINISTIC: on a sparse single-key stream (no clock key, so
  *     the event-time timer never gets a silent trigger to fire in)
  *     the IN-BAND check still re-seeds a key quiet past the
  *     retention — the ADVICE r13 gap;
  *   - the graph-table GC's one-time legacy sweep drops pre-round-13
  *     8-hex-tagged tables of the SAME dir and never another dir's;
  *   - the parameterized Gopher gate at its defaults is the published
  *     constant gate, bit-for-bit.
  */
class Round14Spec extends AnyFunSuite with SparkTestBase {

  // ---- BPE APPLY (q360) ----

  /** The HOF reference: one `aggregate` fold per merge, each fold the
    * learner's per-round recurrence verbatim (TextQueries
    * .bpeRoundsFromWords) — BpeEncode must be bit-equal to this chain.
    */
  private def hofEncode(merges: Seq[(String, String)]): String =
    merges.foldLeft(
      // the learner's char split, with an empty-word guard the learner
      // itself never needs (bpeSeed filters empty words; Spark's
      // sequence(1, 0) steps BACKWARD, so the unguarded idiom would
      // fabricate two empty symbols for a zero-length word)
      """CASE WHEN length(word) = 0 THEN CAST(array() AS array<string>)
        |ELSE transform(sequence(1, length(word)), i -> substring(word, i, 1))
        |END""".stripMargin) {
      case (acc, (a, b)) =>
        s"""aggregate($acc, CAST(array() AS array<string>), (acc, x) ->
           |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$a'
           |            AND x = '$b'
           |       THEN concat(slice(acc, 1, size(acc) - 1),
           |                   array('$a' || '$b'))
           |       ELSE concat(acc, array(x)) END)""".stripMargin
    }

  private def nativeEncode(merges: Seq[(String, String)]) =
    element_at(graft.functions.BpeEncode(array(col("word")), merges), 1)

  test("BpeEncode ≡ chained HOF folds on every corpus word") {
    val merges = TextQueries.bpeRounds(spark, sfDir, 5)._1.map(m => (m._2, m._3))
    val words = TextQueries.bpeSeed(spark, sfDir).select("word")
    val diff = words
      .select(col("word"), expr(hofEncode(merges)).as("hof"),
        nativeEncode(merges).as("native"))
      .filter(not(col("hof") === col("native")))
    assert(diff.isEmpty, s"native replay must bit-equal the HOF chain: " +
      diff.limit(5).collect().mkString(", "))
  }

  test("BpeEncode on unseen and adversarial words: overlap chains, self-merges, empties") {
    import spark.implicits._
    // self-merge ladder: ('x','x') then ('xx','x') — the overlap shapes
    // where a wrong fold (re-scanning instead of the greedy left pass)
    // diverges; plus merges whose concatenation collides with a symbol
    val merges = Seq(("x", "x"), ("xx", "x"), ("a", "b"), ("ab", "ab"))
    val fixtures = Seq(
      "x", "xx", "xxx", "xxxx", "xxxxx", "xxxxxx",
      "abab", "ababab", "aabb", "abba", "abxxab",
      "", "q", "qqq", "xax", "axxxb")
    val diff = fixtures.toDF("word")
      .select(col("word"), expr(hofEncode(merges)).as("hof"),
        nativeEncode(merges).as("native"))
      .filter(not(col("hof") === col("native")))
    assert(diff.isEmpty, s"adversarial words must match: " +
      diff.collect().mkString(", "))
    // null contract: NULL array → NULL, NULL element → NULL inner
    val r = Seq(Tuple1(Seq("ab", "xxx"))).toDF("w")
      .select(graft.functions.BpeEncode(
        array(element_at(col("w"), 1), lit(null).cast("string")), merges).as("s"),
        graft.functions.BpeEncode(lit(null).cast("array<string>"), merges).as("n"))
      .collect()(0)
    assert(r.isNullAt(1), "NULL words array must encode to NULL")
    val segs = r.getSeq[scala.collection.Seq[String]](0)
    assert(segs(0) == Seq("ab"), s"'ab' must merge to one token: ${segs(0)}")
    assert(segs(1) == null, "NULL element must encode to NULL inner array")
  }

  test("applying the learned merges to the training words reproduces q264's round-5 total") {
    val (mergeLog, totals) = TextQueries.bpeRounds(spark, sfDir, 5)
    val merges = mergeLog.map(m => (m._2, m._3))
    val encodedTotal = TextQueries.bpeSeed(spark, sfDir)
      .select((col("freq") * size(nativeEncode(merges))).as("t"))
      .agg(sum("t")).collect()(0).getLong(0)
    assert(encodedTotal == totals.last._2,
      s"BPE APPLY over training words must hit q264's round-5 total: " +
        s"$encodedTotal vs ${totals.last._2}")
    // and the curve is monotone: each merge only ever shrinks the corpus
    assert(totals.map(_._2) == totals.map(_._2).sorted.reverse,
      s"token totals must be non-increasing: $totals")
  }

  test("q362 capstone stages are byte-identical to their standalone queries") {
    // stage A: the capstone's n_tok column IS q360's n_bpe_tokens —
    // same helper, so any drift here means the capstone stopped
    // composing the verified stage
    val q360 = TextQueries.bpeApplyTable(spark, sfDir)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tok"))
    val q362 = graft.SparkEntry.queries("q362_tokenizer_roundtrip")(spark, sfDir)
      .select(col("doc_id"), col("n_tok"))
    assert(q362.except(q360).isEmpty && q360.except(q362).isEmpty,
      "capstone token counts must equal the standalone q360 encoding")
    // stage B: the packing columns equal the packing CORE applied to
    // the q360 counts (the q84 code path, one definition)
    val core = graft.operators.Curation.packByCount(q360, "doc_id", 512, 8)
      .select("doc_id", "bucket", "seq_id", "tok_offset", "n_tok")
    val packed = graft.SparkEntry.queries("q362_tokenizer_roundtrip")(spark, sfDir)
      .select("doc_id", "bucket", "seq_id", "tok_offset", "n_tok")
    assert(packed.except(core).isEmpty && core.except(packed).isEmpty,
      "capstone packing must equal packByCount over the q360 counts")
  }

  test("streaming BPE apply: the stateless encode pass is stream==batch bit-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val merges = TextQueries.bpeRounds(spark, sfDir, 5)._1.map(m => (m._2, m._3))
    val batch = TextQueries
      .bpeApplyProjection(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"),
        merges)
      .collect().map(_.toString).sorted
    val sink = "graft_r14_bpe_stream"
    spark.catalog.dropTempView(sink)
    val ms = MemoryStream[(Long, String)](spark)
    val q = TextQueries
      .bpeApplyProjection(ms.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append") // stateless: no agg, no watermark needed
      .start()
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    try rows.grouped(64).foreach { g => ms.addData(g.toSeq); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.table(sink).collect().map(_.toString).sorted
    assert(streamed.toSeq == batch.toSeq,
      "the encode projection must be delivery-invariant: stream == batch")
  }

  // ---- in-band eviction (ADVICE r13: sparse single-key stream) ----

  private val E0 = 1704067200L // 2024-01-01T00:00:00Z
  private def ts(sec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(sec * 1000L)
  private def ve(sec: Long, eid: Long, v: Double, uid: Long = 1L) =
    StreamingOps.ValEvent(uid, ts(sec), eid, v)

  private def runFold(
      batches: Seq[Seq[StreamingOps.ValEvent]],
      op: org.apache.spark.sql.Dataset[StreamingOps.ValEvent] => DataFrame,
      uid: Long): Seq[Row] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val sink = "graft_r14_fold"
    spark.catalog.dropTempView(sink)
    val ms = MemoryStream[StreamingOps.ValEvent](spark)
    val q = op(ms.toDS()).writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).filter(col("user_id") === uid).drop("user_id")
      .collect().toSeq
  }

  /** NO clock key: the watermark only ever advances with key 1's own
    * events, so there is never a trigger where the key is silent under
    * a watermark past its timeout — the event-time TIMER cannot fire.
    * Round13's gates all interposed clock batches; this feed is the
    * sparse-stream case the timer alone cannot cover.
    */
  private val sparseBatches = Seq(
    Seq(ve(E0, 1L, 10.0), ve(E0 + 10, 2L, 20.0)),
    Seq(ve(E0 + 21600, 3L, 30.0))) // six hours later, same key
  private val Retain60s = 60000L
  private val RetainYear = 365L * 86400L * 1000L

  test("in-band eviction: sparse single-key stream re-seeds past retention without a timer trigger") {
    val evicted = runFold(sparseBatches,
      ds => StreamingOps.ewmaPerKeyEvicting(ds, Retain60s).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(evicted == Seq((2L, 15.0), (1L, 30.0)),
      s"the in-band check must re-seed when the timer never fired: $evicted")
    val kept = runFold(sparseBatches,
      ds => StreamingOps.ewmaPerKeyEvicting(ds, RetainYear).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(kept == Seq((2L, 15.0), (3L, 22.5)),
      s"a retention spanning the gap must carry the fold: $kept")
  }

  test("in-band eviction: the coupled Holt fold re-seeds on the same sparse feed") {
    val evicted = runFold(sparseBatches,
      ds => StreamingOps.holtPerKeyEvicting(ds, Retain60s).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(evicted == Seq((2L, 15.0, 2.5), (1L, 30.0, 0.0)),
      s"(l, b) must re-seed in-band: $evicted")
  }

  test("in-band eviction granularity: a gap INSIDE one batch folds through (trigger-boundary contract)") {
    // the same three events as sparseBatches delivered in a SINGLE
    // batch: eviction applies at trigger boundaries only (the class
    // doc's granularity contract — the q353-family gates fold whole
    // slices delivered as one batch), so the 6 h internal gap does
    // NOT re-seed here, while the two-batch delivery above does
    val oneBatch = Seq(sparseBatches.flatten)
    val folded = runFold(oneBatch,
      ds => StreamingOps.ewmaPerKeyEvicting(ds, Retain60s).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(folded == Seq((3L, 22.5)),
      s"one batch folds as one unit across its internal gap: $folded")
  }

  test("q362: padding waste is a fraction in [0, 1) and padded volume covers the tokens") {
    // regression pin for the sequence count: max(seq_id)+1 undercounted
    // whenever a bucket's LAST doc crossed a 512-token boundary,
    // producing negative waste; ceil(tokens/512) cannot
    val q362 = graft.SparkEntry.queries("q362_tokenizer_roundtrip")(spark, sfDir)
    val bad = q362.filter(col("bucket_waste_frac") < 0.0 ||
      col("bucket_waste_frac") >= 1.0).count()
    assert(bad == 0L, s"waste must be a fraction: $bad rows out of range")
    val uncovered = q362.groupBy("bucket")
      .agg(max(col("bucket_padded_tokens")).as("p"),
        org.apache.spark.sql.functions.sum(col("n_tok")).as("t"))
      .filter(col("p") < col("t")).count()
    assert(uncovered == 0L,
      "each bucket's padded volume must cover its token mass")
  }

  test("in-band eviction: an in-watermark straggler does NOT evict (lastUs is the max, not the last)") {
    // second batch: a straggler 5 s after E0 (within the year watermark)
    // arrives long after the stored max event time — retention must be
    // judged against the MAX the key has seen, so a huge retention
    // carries and a tiny one evicts by the GAP, not by disorder
    val straggler = Seq(
      Seq(ve(E0, 1L, 10.0), ve(E0 + 10, 2L, 20.0)),
      Seq(ve(E0 + 5, 3L, 30.0)))
    val kept = runFold(straggler,
      ds => StreamingOps.ewmaPerKeyEvicting(ds, RetainYear).toDF(), 1L)
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(kept == Seq((2L, 15.0), (3L, 22.5)),
      s"an in-watermark straggler must continue the fold: $kept")
  }

  // ---- legacy GC sweep ----

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

  test("legacy GC: pre-round-13 8-hex tables of the same dir are swept; another dir's survive") {
    import spark.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("graft-r14-gcA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-r14-gcB").toString
    val hex16 = graft.operators.Edges.hex16 _
    val legacyA = s"graft_copurchase_${hex16(dirA).take(8)}_deadbeef_s2"
    val legacyB = s"graft_copurchase_${hex16(dirB).take(8)}_deadbeef_s2"
    try {
      Seq(dirA, dirB).foreach { d =>
        Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
          .toDF("l_orderkey", "l_partkey")
          .coalesce(1).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      }
      Seq(legacyA, legacyB).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.sql(s"CREATE TABLE `$t` AS SELECT 1 AS a")
      }
      Runner.released(spark)(graft.operators.Edges.coPurchase(spark, dirA).count())
      assert(!spark.catalog.tableExists(legacyA),
        s"dir A's legacy-format table must be swept: $legacyA")
      assert(spark.catalog.tableExists(legacyB),
        s"dir B's legacy table must be untouched by dir A's build: $legacyB")
      // the new-format table itself is never a legacy match (hex digit,
      // not '_', at offset 8 of its tag)
      val live = spark.catalog.listTables().collect()
        .filter(t => !t.isTemporary &&
          t.name.startsWith(s"graft_copurchase_${hex16(dirA)}_"))
      assert(live.size == 1, s"dir A's live table must survive its own sweep: ${live.toSeq}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$legacyB`")
      rmTree(dirA); rmTree(dirB)
    }
  }

  // ---- parameterized Gopher gate ----

  test("Gopher gate: per-mille defaults are the published constant gate, bit-for-bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val gated = graft.operators.TextAnalysis
      .gopherRepetition(docs, "text", "doc_id")
    // the pre-parameterization constants, verbatim
    val old = gated.withColumn("pass_old",
      col("top2") * 5 <= col("denom") &&
        col("top3") * 50 <= col("denom") * 9 &&
        col("top4") * 25 <= col("denom") * 4 &&
        col("dup5") * 20 <= col("denom") * 3 &&
        col("dup10") * 10 <= col("denom"))
    assert(old.filter(col("pass") =!= col("pass_old")).isEmpty,
      "defaults must reproduce the constant gate")
    // and the knob bites: all-zero thresholds pass only repetition-free
    // (or empty) documents
    val strict = graft.operators.TextAnalysis
      .gopherRepetition(docs, "text", "doc_id", 0L, 0L, 0L, 0L, 0L)
    val bad = strict.filter(col("pass") &&
      (col("top2") > 0 || col("dup5") > 0)).count()
    assert(bad == 0L, s"zero thresholds must fail any repeated mass: $bad")
    assert(strict.filter(col("pass")).count() <
      old.filter(col("pass")).count(),
      "tightening the thresholds must fail more documents")
  }
}
