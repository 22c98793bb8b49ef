package graft.operators

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import scala.jdk.CollectionConverters._

/** Formatted text sink: 26 files `a.txt` … `z.txt`, rows
  * `word:[id1 id2 … idn]` ordered by (document-frequency desc, word asc) —
  * byte-equal to the reference's output (`src/functions.cpp:7-12,140-164`).
  *
  *   - `repartition(letter)` hashes each letter into one shuffle partition
  *     at any partition count (AQE may coalesce partitions, never split
  *     one). An index that is already hash-partitioned on `letter`, as
  *     [[InvertedIndex.buildFromTokens]] returns it, needs no second
  *     exchange: the planner drops this one, and the sink runs in the
  *     stage that finishes the letter aggregate. Any other index (say,
  *     one partitioned on `word`) is shuffled here.
  *   - `sortWithinPartitions(letter, df desc, word asc)` turns each letter
  *     into one contiguous run in final order (reference `compare_func`).
  *   - One `foreachPartition` job: each task writes each of its runs to a
  *     private `<l>.txt.<taskAttemptId>` in a staging dir with plain
  *     `java.nio` streams, then renames it atomically to `<l>.txt` — the
  *     MapReduce paper's retry-safe reduce output (a retried attempt writes
  *     the same bytes and replaces the whole file). Output bytes and rows
  *     count toward the task's output metrics.
  *   - The driver then renames the 26 staged files into `outDir` and writes
  *     an empty file for each letter with no words (the reference always
  *     opens all 26 ofstreams, `src/functions.cpp:146-148`). No output byte
  *     passes through the driver.
  *
  * `outDir` must be a local path that every task can see (one host, or a
  * shared mount): the tasks write into it directly, not through Hadoop's
  * `FileSystem`.
  */
object IndexWriter {

  private val Letters: Seq[String] = ('a' to 'z').map(_.toString)

  /** Tasks stage the letter files here, under `outDir`; removed after every write. */
  private[graft] val StagingDir = "_staging"

  /** Write `index` (needs columns word/postings/df/letter) as the
    * reference's 26 letter files under `outDir`.
    */
  def write(index: DataFrame, outDir: String): Unit = {
    val out = Paths.get(outDir).toAbsolutePath
    val staging = out.resolve(StagingDir)
    deleteRecursively(staging) // a crashed earlier write may have left one
    Files.createDirectories(staging)
    val stagingPath = staging.toString // Path is not serializable
    try {
      InvertedIndex.formatted(index)
        .repartition(col("letter"))
        .sortWithinPartitions(col("letter"), col("df").desc, col("word").asc)
        .select(col("letter"), col("row").cast("binary"))
        .foreachPartition((rows: Iterator[Row]) => writeRuns(rows.buffered, Paths.get(stagingPath)))
      Letters.foreach { l =>
        val staged = staging.resolve(s"$l.txt")
        val target = out.resolve(s"$l.txt")
        if (Files.exists(staged)) Files.move(staged, target, ATOMIC_MOVE, REPLACE_EXISTING)
        else Files.write(target, Array.emptyByteArray)
      }
    } finally deleteRecursively(staging)
  }

  /** One staged `<l>.txt` per run of equal letters in a sorted partition. */
  private def writeRuns(rows: BufferedIterator[Row], staging: Path): Unit = {
    val attempt = TaskContext.get().taskAttemptId()
    while (rows.hasNext) {
      val letter = rows.head.getString(0)
      val part = staging.resolve(s"$letter.txt.$attempt")
      val os = new BufferedOutputStream(Files.newOutputStream(part), 1 << 16)
      var bytes, n = 0L
      try while (rows.hasNext && rows.head.getString(0) == letter) {
        val row = rows.next().getAs[Array[Byte]](1)
        os.write(row)
        os.write('\n')
        bytes += row.length + 1
        n += 1
      } finally os.close()
      Bridge.addOutputWritten(bytes, n)
      Files.move(part, staging.resolve(s"$letter.txt"), ATOMIC_MOVE, REPLACE_EXISTING)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toList).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
