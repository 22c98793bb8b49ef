package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The one micro-batch feed of the stream-parity gates. A gate states
  * its batch sequence and its plan; [[Feed.apply]] owns the rest:
  *
  *   - '''The source.''' A `MemoryStream` of the batch rows. It is the
  *     harness's source only (production reads Kafka or files through
  *     `readStream`); the operator under test is the unbounded plan.
  *   - '''One micro-batch per batch.''' Each batch is one `addData` and
  *     one `processAllAvailable` barrier, so batch boundaries are the
  *     gate's, never an accident of arrival timing.
  *   - '''Restarts.''' Before each batch index in `restarts` the query
  *     is stopped and resumed from the same checkpoint, so operator
  *     state, timers and the watermark must reload from it.
  *   - '''The rows.''' Every emitted row is buffered on the driver
  *     through `foreachBatch` (the memory sink refuses recovery); in
  *     complete mode the buffer holds the last batch's full result. The
  *     buffer is bounded by the gate's answer grain, as a memory sink's
  *     would be.
  *   - '''Cleanup.''' The checkpoint is a fresh temp directory per run
  *     (a reused one would resume past the re-fed offsets), and the
  *     query is stopped on every path before it is deleted, so a failing
  *     plan leaves neither an active query nor a directory behind.
  */
private[graft] object Feed {

  /** Run `plan` over `batches` in `mode` (`append`, `update` or
    * `complete`), restarting the query before each batch index in
    * `restarts`; returns the rows it emitted.
    */
  def apply[T: Encoder](
      spark: SparkSession, mode: String, batches: Iterator[Seq[T]],
      restarts: Set[Int] = Set.empty)(plan: Dataset[T] => Dataset[_]): DataFrame = {
    val ms = MemoryStream[T](spark)
    drive(spark, mode, batches, restarts)(ms.addData(_))(plan(ms.toDS()).toDF())
  }

  /** [[apply]] over sources the caller owns: `add` hands one batch to
    * them (the view/click gates deal each batch to two streams), and
    * `plan` is read again at each (re)start.
    */
  def drive[B](
      spark: SparkSession, mode: String, batches: Iterator[B], restarts: Set[Int])(
      add: B => Unit)(plan: => DataFrame): DataFrame = {
    val schema = plan.schema
    val buf = new ConcurrentLinkedQueue[Row]()
    val ckpt = Files.createTempDirectory("graft-feed")
    def start(): StreamingQuery = plan.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect()
        if (mode == "complete") buf.clear()
        rows.foreach(buf.add)
      }
      .start()
    var q: StreamingQuery = null
    try {
      q = start()
      batches.zipWithIndex.foreach { case (batch, i) =>
        if (restarts(i)) { q.stop(); q = start() }
        add(batch)
        q.processAllAvailable()
      }
      q.stop()
      spark.createDataFrame(new java.util.ArrayList(buf), schema)
    } finally {
      if (q != null) q.stop() // a no-op when already stopped
      FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  /** The rows of `ds` in its order, one partition on the driver at a
    * time, so a feed never holds the whole input.
    */
  def rows[T](ds: Dataset[T]): Iterator[T] = ds.toLocalIterator().asScala

  /** `batches` with each adjacent pair swapped (2 before 1, 4 before
    * 3, ...): deterministic disorder across micro-batches.
    */
  def swapPairs[T](batches: Iterator[Seq[T]]): Iterator[Seq[T]] =
    batches.grouped(2).flatMap(_.reverse)

  /** `rows` cut into maximal runs of one `key`: one batch per slice of
    * a slice-ordered feed.
    */
  def runs[T, K](rows: Iterator[T])(key: T => K): Iterator[Seq[T]] = {
    val it = rows.buffered
    Iterator.continually(it).takeWhile(_.hasNext).map { it =>
      val k = key(it.head)
      val run = Vector.newBuilder[T]
      while (it.hasNext && key(it.head) == k) run += it.next()
      run.result()
    }
  }
}
