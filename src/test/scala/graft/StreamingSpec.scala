package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Event, SessionUpdate}

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("incremental doc-words dedups within a streamed micro-batch") {
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.incrementalDocWords(ms.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("docwords").outputMode("append").start()
    try {
      ms.addData((1L, "The the THE cat"), (2L, "dog dog"))
      q.processAllAvailable()
      val got = spark.table("docwords").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "the"), (1L, "cat"), (2L, "dog")))
    } finally q.stop()
  }

  test("ingest dedup drops content duplicates across micro-batches") {
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.dedupOnIngest(ms.toDF.toDF("doc_id", "text"), "text")
      .select("doc_id")
      .writeStream.format("memory").queryName("ingestdedup").outputMode("append").start()
    try {
      ms.addData((1L, "the cat sat"), (2L, "a dog"))
      q.processAllAvailable()
      // duplicate content arrives in a LATER batch (whitespace-normalized
      // match) plus one genuinely new doc
      ms.addData((3L, "the  cat   sat"), (4L, "something new"))
      q.processAllAvailable()
      val got = spark.table("ingestdedup").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 4L), s"doc 3 is a cross-batch duplicate, got $got")
    } finally q.stop()
  }

  test("complete-mode pricing summary over micro-batches equals the incremental fold (q126)") {
    // incremental view maintenance IS a streaming aggregation: the same
    // pricingSummaryAgg operator body runs q10 (batch), q126's partial
    // fold, and this unbounded stream; complete mode after the last
    // micro-batch must equal the batch answer bit-for-bit (exact decimal
    // merge). State is group-key-bounded at any stream length.
    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate")
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(cols.head, cols.tail: _*)
      .as[(String, String, Double, Double, Double, Timestamp)].collect()
    val ms = MemoryStream[(String, String, Double, Double, Double, Timestamp)](spark)
    val q = graft.queries.RelationalQueries.pricingSummaryAgg(
        ms.toDF.toDF(cols: _*))
      .writeStream.format("memory").queryName("pricing_stream")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.length / 4)).foreach { b =>
        ms.addData(b.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("pricing_stream")
        .collect().map(_.toString).toSet
      val batch = SparkEntry.queries("q126_incremental_agg")(spark, sfDir)
        .collect().map(_.toString).toSet
      assert(streamed == batch, "stream/batch pricing-summary parity violated")
    } finally q.stop()
  }

  test("streaming CMS sketch over micro-batches equals the batch sketch (bounded state)") {
    // the sketch aggregation keys on the (row, bucket) grid, so the
    // streaming state is <= depth*width counters at ANY stream length;
    // complete mode emits the full grid, which must equal the batch
    // fold of the same tokens
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val words = (d: org.apache.spark.sql.DataFrame) =>
      d.select(graft.functions.AlnumTokens(org.apache.spark.sql.functions.col("text")))
        .select("word")
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.cmsSketch(words(ms.toDF.toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      docs.grouped(math.max(1, docs.length / 3)).foreach { batch =>
        ms.addData(batch.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("cms_stream")
        .as[(Int, Long, Long)].collect().toSet
      val batchSketch = StreamingOps
        .cmsSketch(words(spark.read.parquet(s"$sfDir/documents.parquet")))
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed.size <= 4 * 1024,
        s"state must stay within the d*w grid, got ${streamed.size}")
      assert(streamed == batchSketch, "stream/batch sketch parity violated")
    } finally q.stop()
  }

  test("decontamination on ingest drops benchmark-overlapping docs across batches") {
    // sketch from the fixture benchmark slice (doc_id < 20), batch-side
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val sketch = StreamingOps.benchmarkSketch(
      corpus.filter($"doc_id" < 20).select("text"), "text")
    // expected survivors per the BATCH exact path: non-benchmark docs
    // minus q78's flagged set (bloom FPs could only shrink this further;
    // DedupSpec pins the FP excess at ~zero on this fixture)
    val flagged = Runner.released(spark) {
      graft.queries.DedupQueries.q78Decontaminate(spark, sfDir)
        .select("doc_id").as[Long].collect().toSet
    }
    val rest = corpus.filter($"doc_id" >= 20)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expected = rest.map(_._1).toSet -- flagged
    // stream the corpus in two micro-batches
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.decontaminateOnIngest(
        ms.toDF.toDF("doc_id", "text"), "text", sketch)
      .select("doc_id")
      .writeStream.format("memory").queryName("decontam").outputMode("append").start()
    try {
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.table("decontam").as[Long].collect().toSet
      // bloom FPs can only DROP extra survivors — mirror DedupSpec's
      // bounded-excess contract rather than demanding exact equality
      assert((got -- expected).isEmpty,
        s"contaminated docs survived: ${got -- expected}")
      assert((expected -- got).size <= 2,
        s"too many false-positive drops: ${expected -- got}")
    } finally q.stop()
  }

  test("stateless hygiene ops (PII scrub, per-group sampling) run on streams with batch parity") {
    // piiScrub and sampleByRates are pure projections/filters, so the
    // SAME operator code applies to an unbounded ingest stream with no
    // state and no mode restrictions; survivors/redactions must equal
    // the batch answer row-for-row
    // ids 6/11 pass the 0.5 md5 coin (prefix < 0x800000), id 1 fails it
    val rows = Seq(
      (6L, "en", "mail me at a@b.io"),
      (11L, "en", "server 10.0.0.1 fine"),
      (3L, "de", "nothing here"),
      (1L, "en", "clean but coin-dropped"))
    val ms = MemoryStream[(Long, String, String)](spark)
    val scrubbed = graft.operators.TextAnalysis.piiScrub(
      graft.operators.Curation.sampleByRates(
        ms.toDF.toDF("doc_id", "lang", "text"),
        "lang", "doc_id", Map("en" -> 0.5)),
      "text", "doc_id")
    val q = scrubbed.writeStream.format("memory")
      .queryName("hygiene").outputMode("append").start()
    try {
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("hygiene")
        .as[(Long, Long, String)].collect().toSet
      val want = graft.operators.TextAnalysis.piiScrub(
        graft.operators.Curation.sampleByRates(
          rows.toDF("doc_id", "lang", "text"), "lang", "doc_id", Map("en" -> 0.5)),
        "text", "doc_id")
        .as[(Long, Long, String)].collect().toSet
      assert(got == want, s"stream/batch divergence: $got vs $want")
      assert(got.exists(_._2 > 0), "at least one surviving doc carries a redaction")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch twin across micro-batches") {
    val viewRows = Seq(
      (1L, 100L, ts("10:00")), (2L, 101L, ts("10:00")), (1L, 102L, ts("10:20")),
      (3L, 103L, ts("10:00")))
    val clickRows = Seq(
      (1L, 200L, ts("10:05")),  // 5 min after view 100 → match
      (1L, 201L, ts("10:25")),  // 25 min after 100 (no), 5 after 102 → match
      (2L, 202L, ts("10:31")),  // 31 min after 101 → no match
      (3L, 203L, ts("10:10"))) // exactly the 10-min bound → match (inclusive)
    val vs = MemoryStream[(Long, Long, Timestamp)](spark)
    val cs = MemoryStream[(Long, Long, Timestamp)](spark)
    val joined = StreamingOps.attributeWithin(
      vs.toDF.toDF("user_id", "view_id", "view_ts"),
      cs.toDF.toDF("click_user", "click_id", "click_ts"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // views and their clicks arrive in DIFFERENT micro-batches — the
      // join must buffer view state until the matching click shows up
      vs.addData(viewRows.take(2): _*); q.processAllAvailable()
      cs.addData(clickRows.take(1): _*); q.processAllAvailable()
      vs.addData(viewRows.drop(2): _*)
      cs.addData(clickRows.drop(1): _*); q.processAllAvailable()
      val streamed = spark.table("attrib")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == Set(
        (1L, 100L, 200L, 300000000L),
        (1L, 102L, 201L, 300000000L),
        (3L, 103L, 203L, 600000000L)))
      // batch parity: the SAME operator over batch frames (q111's path)
      val batch = StreamingOps.attributeWithin(
        viewRows.toDF("user_id", "view_id", "view_ts"),
        clickRows.toDF("click_user", "click_id", "click_ts"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(batch == streamed, "stream and batch answers diverged")
    } finally q.stop()
  }

  test("windowed counts finalize once the watermark passes") {
    val ms = MemoryStream[(Timestamp, String)](spark)
    val q = StreamingOps.eventWindowCounts(ms.toDF.toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("wincounts").outputMode("append").start()
    try {
      ms.addData((ts("10:05"), "a"), (ts("10:20"), "a"), (ts("10:40"), "b"))
      q.processAllAvailable()
      // append mode: the 10:00 window is still open
      assert(spark.table("wincounts").count() == 0)
      ms.addData((ts("12:00"), "z")) // watermark → 11:50, closes 10:00 and 11:00 windows
      q.processAllAvailable()
      val got = spark.table("wincounts")
        .as[(Timestamp, String, Long)].collect()
        .map { case (w, t, c) => (w.toString.substring(11, 16), t, c) }.toSet
      assert(got == Set(("10:00", "a", 2L), ("10:00", "b", 1L)))
    } finally q.stop()
  }

  test("streaming EWMA state equals the batch fold across micro-batches (q143 twin)") {
    import graft.streaming.StreamingOps.{ValEvent, EwmaUpdate}
    val ms = MemoryStream[ValEvent](spark)
    val q = StreamingOps.ewmaPerKey(ms.toDS())
      .writeStream.format("memory").queryName("ewma").outputMode("update").start()
    val batch1 = Seq(
      ValEvent(1L, ts("10:00"), 1L, 10.0), ValEvent(1L, ts("10:05"), 2L, 30.0),
      ValEvent(2L, ts("10:01"), 3L, 7.5))
    val batch2 = Seq(
      ValEvent(1L, ts("10:20"), 4L, 50.0),
      ValEvent(2L, ts("10:21"), 5L, 2.5), ValEvent(2L, ts("10:22"), 6L, 4.0))
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      // last update per user = the carried cross-batch state
      val got = spark.table("ewma").as[EwmaUpdate].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
      // independent batch fold over the full in-order history
      def fold(xs: Seq[Double]): Double = xs.tail.foldLeft(xs.head)((a, x) => a / 2 + x / 2)
      val all = (batch1 ++ batch2).groupBy(_.user_id).view
        .mapValues(es => es.sortBy(e => (e.ts.getTime, e.event_id)).map(_.value)).toMap
      all.foreach { case (u, vs) =>
        assert(got(u).n_events == vs.length)
        assert(got(u).ewma == fold(vs), s"user $u stream/batch EWMA differ")
      }
    } finally q.stop()
  }

  test("streaming Holt state equals the batch fold across micro-batches (q251 twin)") {
    import graft.streaming.StreamingOps.{ValEvent, HoltUpdate}
    val ms = MemoryStream[ValEvent](spark)
    val q = StreamingOps.holtPerKey(ms.toDS())
      .writeStream.format("memory").queryName("holt").outputMode("update").start()
    val batch1 = Seq(
      ValEvent(1L, ts("10:00"), 1L, 10.0), ValEvent(1L, ts("10:05"), 2L, 30.0),
      ValEvent(2L, ts("10:01"), 3L, 7.5))
    val batch2 = Seq(
      ValEvent(1L, ts("10:20"), 4L, 50.0),
      ValEvent(2L, ts("10:21"), 5L, 2.5), ValEvent(2L, ts("10:22"), 6L, 4.0))
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("holt").as[HoltUpdate].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
      // independent batch fold over the full in-order history (q251's lambda)
      def fold(xs: Seq[Double]): (Double, Double) =
        xs.tail.foldLeft((xs.head, 0.0)) { case ((l, b), x) =>
          val l2 = (x + l + b) / 2
          (l2, (l2 - l + b) / 2)
        }
      val all = (batch1 ++ batch2).groupBy(_.user_id).view
        .mapValues(es => es.sortBy(e => (e.ts.getTime, e.event_id)).map(_.value)).toMap
      all.foreach { case (u, vs) =>
        val (l, b) = fold(vs)
        assert(got(u).n_events == vs.length)
        assert(got(u).level == l && got(u).trend == b,
          s"user $u stream/batch Holt state differ")
      }
    } finally q.stop()
  }

  test("sessionize closes sessions on inactivity gap") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingOps.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      ms.addData(Event(1L, ts("10:00")), Event(1L, ts("10:10")))
      q.processAllAvailable()
      ms.addData(Event(1L, ts("11:30"))) // > 30 min gap → closes first session
      q.processAllAvailable()
      val closed = spark.table("sessions").as[SessionUpdate].collect().filter(_.closed)
      assert(closed.exists(s =>
        s.user_id == 1L && s.n_events == 2 &&
          s.session_start == ts("10:00").getTime * 1000L))
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dimension per micro-batch") {
    val ms = MemoryStream[(Long, String)](spark)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = StreamingOps.enrich(ms.toDF.toDF("user_id", "event"), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      ms.addData((1L, "click"), (3L, "view"))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .as[(Long, String, Option[String])].collect().toSet
      assert(got == Set((1L, "click", Some("gold")), (3L, "view", None)))
    } finally q.stop()
  }

  test("incremental index maintains postings across micro-batches") {
    import org.apache.spark.sql.functions._
    val ms = MemoryStream[(Long, String)](spark)
    // complete-mode word aggregation over the streamed doc-words — the
    // incremental maintenance of the reference's batch index
    val index = StreamingOps.incrementalDocWords(ms.toDF.toDF("doc_id", "text"))
      .groupBy("word")
      .agg(sort_array(collect_set(col("doc_id"))).as("postings"))
    val q = index.writeStream.format("memory").queryName("incindex")
      .outputMode("complete").start()
    try {
      ms.addData((1L, "cat dog"), (2L, "dog fish"))
      q.processAllAvailable()
      def postings(): Map[String, Seq[Long]] =
        spark.table("incindex").as[(String, Seq[Long])].collect().toMap
      assert(postings() == Map(
        "cat" -> Seq(1L), "dog" -> Seq(1L, 2L), "fish" -> Seq(2L)))
      ms.addData((3L, "dog CAT!"))
      q.processAllAvailable()
      assert(postings() == Map(
        "cat" -> Seq(1L, 3L), "dog" -> Seq(1L, 2L, 3L), "fish" -> Seq(2L)))
    } finally q.stop()
  }
}
