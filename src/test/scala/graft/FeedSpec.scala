package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Feed

/** The contract of the micro-batch feed every stream-parity gate runs
  * on: one micro-batch per fed batch, restarts that neither lose nor
  * repeat a row, and no query or checkpoint left behind by a failure.
  */
class FeedSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Input rows of every micro-batch that ran input while `body` ran,
    * read from the queries' progress events (what `recentProgress`
    * holds).
    */
  private def inputBatches(body: => Unit): Seq[Long] = {
    val seen = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = seen.add(e.progress.numInputRows)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      body
      Bridge.waitListenerBusEmpty(spark)
    } finally spark.streams.removeListener(listener)
    seen.asScala.toSeq.filter(_ > 0)
  }

  private def feedDirs(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith("graft-feed")).toSet

  test("each fed batch is one micro-batch with input") {
    var out = Seq.empty[Long]
    val batches = inputBatches {
      out = Feed(spark, "append", Iterator(Seq(1L, 2L, 3L), Seq(4L, 5L), Seq(6L)))(ds => ds)
        .as[Long].collect().toSeq
    }
    assert(batches == Seq(3L, 2L, 1L))
    assert(out.sorted == (1L to 6L))
  }

  test("a restarted feed counts every input row exactly once") {
    def feed = (1L to 12L).grouped(2).map(_.toSeq)
    var rows = Seq.empty[Long]
    var counts = Map.empty[Long, Long]
    val batches = inputBatches {
      rows = Feed(spark, "append", feed, Set(3))(ds => ds)
        .as[Long].collect().toSeq
      // complete mode: the state reloads from the checkpoint, and the
      // result is the last batch's full table
      counts = Feed(spark, "complete", feed, Set(2, 4))(ds =>
        ds.groupBy(($"value" % 2).as("k")).count())
        .as[(Long, Long)].collect().toMap
    }
    assert(rows.sorted == (1L to 12L))
    assert(counts == Map(0L -> 6L, 1L -> 6L))
    assert(batches == Seq.fill(12)(2L), "six batches per feed, each counted once")
  }

  test("a plan that throws in batch 2 propagates, leaving no query and no checkpoint") {
    val before = feedDirs()
    val e = intercept[Exception] {
      Feed(spark, "append", Iterator(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))(ds =>
        ds.map { x =>
          if (x == 3L) throw new IllegalStateException("boom in batch 2")
          x
        })
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("boom in batch 2")), s"unexpected failure: $e")
    assert(spark.streams.active.isEmpty, "the failed feed left a query running")
    assert(feedDirs() -- before == Set.empty, "the failed feed left its checkpoint behind")
  }
}
