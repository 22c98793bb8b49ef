package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexWriter, InvertedIndex, Tokenizer}
import graft.sources.Corpus

/** Edge-case corpora through the full index CLI: empty documents,
  * punctuation-only documents, repeated words, and numeric junk must
  * produce exactly the reference's semantics (all 26 letter files, empty
  * where no words, df-ordered rows). Also pins how documents are found
  * and read: relative base directories, names that URL-encode, missing
  * files, line ends, invalid UTF-8, the scans' input metrics and the
  * per-document distinct words the index build reads; and how
  * the letter sink replaces stale output, cleans its staging dir and
  * reports its output metrics.
  */
class CorpusEdgeSpec extends AnyFunSuite with SparkTestBase {

  /** A temp dir holding `docs` and a manifest `manifest.txt` listing them in order. */
  private def corpus(docs: Seq[(String, Array[Byte])]): Path = {
    val base = Files.createTempDirectory("graft-edge")
    docs.foreach { case (name, bytes) => Files.write(base.resolve(name), bytes) }
    Files.writeString(base.resolve("manifest.txt"), s"${docs.size}\n" + docs.map(_._1).mkString("\n"))
    base
  }

  private def text(docs: (String, String)*): Path =
    corpus(docs.map { case (n, t) => n -> t.getBytes(UTF_8) })

  /** Index the corpus at `base` into `out` and return its 26 letter files, trimmed. */
  private def index(manifest: String, base: String,
                    out: Path = Files.createTempDirectory("graft-edge-out")): Map[Char, String] = {
    IndexJob.run(spark, manifest, base, out.toString)
    ('a' to 'z').map(l => l -> Files.readString(out.resolve(s"$l.txt")).trim).toMap
  }

  private def index(base: Path): Map[Char, String] =
    index(base.resolve("manifest.txt").toString, base.toString)

  private def stagingOf(out: Path): Path = out.resolve(IndexWriter.StagingDir)

  /** Each of `metrics`, summed over every task that ends while `body` runs. */
  private def taskTotals(metrics: (TaskMetrics => Long)*)(body: => Unit): Seq[Long] = {
    val totals = metrics.map(_ => new AtomicLong)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        metrics.zip(totals).foreach { case (f, t) => t.addAndGet(f(m)) }
      }
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Bridge.waitListenerBusEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    totals.map(_.get)
  }

  test("degenerate documents index correctly") {
    val got = index(text(
      "d1.txt" -> "apple apple APPLE banana",
      "d2.txt" -> "!!! ??? ... 123 456",   // no letters at all
      "d3.txt" -> "",                       // empty file
      "d4.txt" -> "a1pple z9z"))            // digits stripped inside tokens
    // apple appears in docs 1 and 4 (a1pple -> apple); zz only in doc 4
    assert(got('a') == "apple:[1 4]")
    assert(got('b') == "banana:[1]")
    assert(got('z') == "zz:[4]")
    // every other letter file exists and is empty
    ('a' to 'z').filterNot("abz".contains(_)).foreach { l =>
      assert(got(l).isEmpty, s"$l.txt should be empty")
    }
  }

  test("a relative base directory and manifest path index every document") {
    val base = text("d1.txt" -> "kiwi lime", "d2.txt" -> "kiwi")
    val rel = Paths.get("").toAbsolutePath.relativize(base)
    assert(!rel.isAbsolute)
    val got = index(rel.resolve("manifest.txt").toString, rel.toString)
    assert(got('k') == "kiwi:[1 2]")
    assert(got('l') == "lime:[1]")
  }

  test("file names with % and # index under their manifest IDs") {
    val got = index(text(
      "50%off.txt" -> "mango",
      "c#notes.txt" -> "mango nectar",
      "a%20b.txt" -> "olive"))
    assert(got('m') == "mango:[1 2]")
    assert(got('n') == "nectar:[2]")
    assert(got('o') == "olive:[3]")
  }

  test("a manifest entry naming a missing file fails the build with its path") {
    val base = text("d1.txt" -> "pear", "gone.txt" -> "plum")
    Files.delete(base.resolve("gone.txt"))
    val manifest = base.resolve("manifest.txt").toString
    // the driver reads only the manifest: building and planning the
    // index runs no job and opens no document (a read folded into the
    // local manifest relation would throw here, on the driver)
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      IndexJob.index(spark, manifest, base.toString).queryExecution.executedPlan
      Bridge.waitListenerBusEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, "building and planning the index must run no job")
    val out = Files.createTempDirectory("graft-edge-out")
    val e = intercept[Exception](index(manifest, base.toString, out))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains(base.resolve("gone.txt").toString)), e)
    assert(!Files.exists(stagingOf(out)), "a failed build must not leave its staging dir")
  }

  test("stale letter files and a leftover staging dir do not leak into the output") {
    val small = Paths.get(getClass.getResource("/index_small").toURI)
    val out = Files.createTempDirectory("graft-edge-out")
    Files.writeString(out.resolve("z.txt"), "zebra:[9]\n") // the corpus has no z-words
    Files.createDirectories(stagingOf(out))
    Files.writeString(stagingOf(out).resolve("s.txt.7"), "partial") // a crashed attempt's file
    IndexJob.run(spark, small.resolve("test_small.txt").toString, small.toString, out.toString)
    ('a' to 'z').foreach { l =>
      val golden = Files.readAllBytes(small.resolve(s"test_out_small/$l.txt"))
      assert(Files.readAllBytes(out.resolve(s"$l.txt")).sameElements(golden), s"$l.txt differs")
    }
    assert(!Files.exists(stagingOf(out)))
  }

  test("CRLF and bare-CR line ends index like LF") {
    val lf = index(text("d1.txt" -> "quince\nraisin sage\ntart\n", "d2.txt" -> "sage\n\nugli"))
    val crlf = index(text("d1.txt" -> "quince\r\nraisin sage\rtart\r\n", "d2.txt" -> "sage\r\r\nugli"))
    assert(crlf == lf)
    assert(lf('s') == "sage:[1 2]")
  }

  test("invalid UTF-8 bytes inside tokens are stripped like any non-letter") {
    def bytes(parts: Any*): Array[Byte] = parts.flatMap {
      case s: String => s.getBytes(UTF_8).toSeq
      case b: Int => Seq(b.toByte)
    }.toArray
    val got = index(corpus(Seq(
      "d1.txt" -> bytes("ho", 0xC3, "ney bee", 0xFF, 0xFE, "s"),
      "d2.txt" -> bytes(0xE2, 0x80, "vine ", 0xC3, "\n", 0x80, "wax"))))
    assert(got('h') == "honey:[1]")
    assert(got('b') == "bees:[1]")
    assert(got('v') == "vine:[2]")
    assert(got('w') == "wax:[2]")
  }

  /** Four small documents, LF, CRLF and bare-CR lines and one empty file. */
  private def metered(): (Path, Long) = {
    val base = text("d1.txt" -> "alpha beta\ngamma\n", "d2.txt" -> "delta", "d3.txt" -> "", "d4.txt" -> "x\r\ny\rz")
    base -> (1 to 4).map(i => Files.size(base.resolve(s"d$i.txt"))).sum
  }

  test("the document scan reports every corpus byte and line to listeners") {
    val (base, size) = metered()
    val docs = Corpus.read(spark, base.resolve("manifest.txt").toString, base.toString)
    val Seq(bytes, records) = taskTotals(_.inputMetrics.bytesRead, _.inputMetrics.recordsRead) {
      val out = Files.createTempDirectory("graft-edge-out").toString
      IndexWriter.write(InvertedIndex.buildFromTokens(Tokenizer.tokens(docs, "line", Seq("doc_id"))), out)
    }
    assert(bytes == size)
    assert(records == 6) // 2 + 1 + 0 + 3 lines
  }

  test("the index build reports every corpus byte and document to listeners") {
    val (base, size) = metered()
    val Seq(bytes, records) = taskTotals(_.inputMetrics.bytesRead, _.inputMetrics.recordsRead) {
      index(base)
    }
    assert(bytes == size)
    assert(records == 4) // one per document
  }

  /** `Corpus.documentWords` of the corpus at `base`, and the deduplicated
    * `Tokenizer.tokens` over `Corpus.read` it must equal, sorted.
    */
  private def bothWords(base: Path, manifest: String = "manifest.txt"): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    val m = base.resolve(manifest).toString
    val words = Corpus.documentWords(spark, m, base.toString).as[(Long, String)].collect().toSeq.sorted
    val tokens = Tokenizer.tokens(Corpus.read(spark, m, base.toString), "line", Seq("doc_id"))
      .dropDuplicates().as[(Long, String)].collect().toSeq.sorted
    (words, tokens)
  }

  /** `index_small` and the edge corpora above, each with its manifest's name. */
  private def edgeCorpora(): Seq[(Path, String)] = {
    def bytes(parts: Any*): Array[Byte] = parts.flatMap {
      case s: String => s.getBytes(UTF_8).toSeq
      case b: Int => Seq(b.toByte)
    }.toArray
    Seq(
      Paths.get(getClass.getResource("/index_small").toURI) -> "test_small.txt",
      text("d1.txt" -> "apple apple APPLE banana", "d2.txt" -> "!!! ??? ... 123 456",
        "d3.txt" -> "", "d4.txt" -> "a1pple z9z") -> "manifest.txt",
      text("d1.txt" -> "kiwi lime", "d2.txt" -> "kiwi") -> "manifest.txt",
      text("50%off.txt" -> "mango", "c#notes.txt" -> "mango nectar", "a%20b.txt" -> "olive") -> "manifest.txt",
      text("d1.txt" -> "quince\r\nraisin sage\rtart\r\n", "d2.txt" -> "sage\r\r\nugli") -> "manifest.txt",
      corpus(Seq("d1.txt" -> bytes("ho", 0xC3, "ney bee", 0xFF, 0xFE, "s"),
        "d2.txt" -> bytes(0xE2, 0x80, "vine ", 0xC3, "\n", 0x80, "wax"))) -> "manifest.txt",
      text("d1.txt" -> "alpha beta\ngamma alpha", "d2.txt" -> "beta delta", "d3.txt" -> "zeta") -> "manifest.txt")
  }

  test("document words equal the deduplicated line tokens on every edge corpus") {
    for ((base, manifest) <- edgeCorpora()) {
      val (words, tokens) = bothWords(base, manifest)
      assert(words.nonEmpty && words == tokens, base)
    }
  }

  test("the letter aggregate's sort-based fallback writes the same bytes") {
    // At a fallback threshold of 1, ObjectHashAggregate goes over to sorting
    // after a task's first group, as it would for words starting with more
    // than 128 distinct characters: CollectIndex buffers are then
    // serialized, sorted, deserialized and merged on that path.
    def letterFiles(base: Path, manifest: String): Seq[Seq[Byte]] = {
      val out = Files.createTempDirectory("graft-edge-out")
      IndexJob.run(spark, base.resolve(manifest).toString, base.toString, out.toString)
      ('a' to 'z').map(l => Files.readAllBytes(out.resolve(s"$l.txt")).toSeq)
    }
    val corpora = edgeCorpora()
    val hashed = corpora.map { case (b, m) => letterFiles(b, m) }
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    val fellBack = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.filter(_.name.contains("number of sort fallback tasks"))
          .foreach(a => fellBack.addAndGet(a.update.fold(0L)(_.toString.toLong)))
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    val sorted = try {
      spark.conf.set(key, "1")
      val files = corpora.map { case (b, m) => letterFiles(b, m) }
      Bridge.waitListenerBusEmpty(spark)
      files
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    assert(fellBack.get > 0, "no task took the sort-based path")
    corpora.indices.foreach(i => assert(sorted(i) == hashed(i), corpora(i)._1))
    val small = corpora.head._1
    ('a' to 'z').zip(sorted.head).foreach { case (l, got) =>
      assert(got == Files.readAllBytes(small.resolve(s"test_out_small/$l.txt")).toSeq, s"$l.txt differs")
    }
  }

  test("a word straddling two read chunks is one word") {
    val chunk = graft.functions.DocumentWords.ChunkBytes
    // "Stra-ddle" starts 4 bytes before the first chunk ends
    val head = ("ab " * (chunk / 3)).take(chunk - 4).padTo(chunk - 4, ' ')
    val tail = " tail\n" + "cd " * chunk
    val base = text("big.txt" -> (head + "Stra-ddle" + tail), "small.txt" -> "straddle ab")
    assert(Files.size(base.resolve("big.txt")) > 2 * chunk)
    val (words, tokens) = bothWords(base)
    assert(words == tokens)
    assert(words == Seq(1L -> "ab", 1L -> "cd", 1L -> "straddle", 1L -> "tail", 2L -> "ab", 2L -> "straddle"))
  }

  test("the letter sink reports every output byte and row to listeners") {
    val base = text("d1.txt" -> "alpha beta\ngamma alpha", "d2.txt" -> "beta delta", "d3.txt" -> "zeta")
    val out = Files.createTempDirectory("graft-edge-out")
    val Seq(bytes, records) = taskTotals(_.outputMetrics.bytesWritten, _.outputMetrics.recordsWritten) {
      index(base.resolve("manifest.txt").toString, base.toString, out)
    }
    val files = ('a' to 'z').map(l => out.resolve(s"$l.txt"))
    assert(bytes == files.map(Files.size).sum)
    assert(records == 5) // alpha, beta, delta, gamma, zeta
    assert(records == files.map(f => Files.readAllLines(f).size).sum)
  }
}
