package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import graft.functions.DocumentWords

/** Plain-text corpus source (reference `src/functions.cpp:14-37,51-77`).
  *
  * The manifest is a count-prefixed, whitespace-separated path list; a
  * document's ID is its 1-based position in it. The driver reads the
  * manifest through Hadoop's `FileSystem` and qualifies each path against
  * `baseDir` (a relative base resolves against the driver's working
  * directory). The `(doc_id, path)` list becomes a local relation, and each
  * task opens its documents in turn, like the reference's mappers pulling
  * files off a shared queue. Building either frame runs no Spark job and
  * reads no document on the driver. A file is read whole by one task,
  * never split, so a corpus of a few huge files should be sharded.
  *
  *   - [[documentWords]] is what the index build reads: each document's
  *     distinct words, streamed from the file in fixed-size chunks.
  *   - [[read]] gives the raw lines, for callers that tokenize themselves.
  */
object Corpus {

  /** `(doc_id: Long, line: String)` for every document the manifest names.
    * Lines end at `\n`, `\r\n` or a bare `\r`, as in Spark's text source,
    * and keep their bytes unvalidated; they count toward the task's input
    * metrics. A missing document fails the job with its path.
    */
  def read(spark: SparkSession, manifestPath: String, baseDir: String): DataFrame = {
    import spark.implicits._
    val conf = new SerializableConfiguration(Bridge.hadoopConf(spark))
    manifest(conf.value, manifestPath, baseDir).toDS()
      .mapPartitions { docs =>
        var open: LineReader = null // at most one file open per task
        TaskContext.get().addTaskCompletionListener[Unit](_ => if (open != null) open.close())
        docs.flatMap { case (id, uri) =>
          val path = new Path(new URI(uri))
          val in = new LineReader(path.getFileSystem(conf.value).open(path))
          open = in
          val line = new Text()
          Iterator.continually(in.readLine(line)).takeWhile { n =>
            if (n > 0) Bridge.addInputRead(n) else { in.close(); open = null }
            n > 0
          }.map(_ => id -> line.copyBytes())
        }
      }
      // binary → string keeps the bytes as read, unvalidated, like Spark's text source
      .select(col("_1").as("doc_id"), col("_2").cast("string").as("line"))
  }

  /** `(doc_id: Long, word: String)`: the distinct words of every document
    * the manifest names, one row per document and word (the reference
    * mapper's per-file `partial_map`), read by the tasks through
    * [[graft.functions.DocumentWords]]. Words follow [[graft.operators.Tokenizer]]'s
    * rules, so this equals `Tokenizer.tokens` over [[read]] with the
    * duplicate pairs dropped. Every file byte counts toward the task's
    * input metrics; a missing document fails the job with its path.
    */
  def documentWords(spark: SparkSession, manifestPath: String, baseDir: String): DataFrame = {
    val conf = new SerializableConfiguration(Bridge.hadoopConf(spark))
    val rows = manifest(conf.value, manifestPath, baseDir).map { case (id, uri) => Row(id, uri) }
    spark.createDataFrame(rows.asJava, ManifestSchema)
      .select(col("doc_id"), DocumentWords(col("uri"), conf).as("word"))
  }

  private val ManifestSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("uri", StringType, nullable = false)))

  /** Manifest → `(doc_id, qualified path URI)` in manifest order. */
  private def manifest(conf: Configuration, manifestPath: String, baseDir: String): Seq[(Long, String)] = {
    val mp = new Path(manifestPath)
    val in = mp.getFileSystem(conf).open(mp)
    val tokens = try new String(in.readAllBytes(), UTF_8).split("\\s+").filter(_.nonEmpty)
      finally in.close()
    require(tokens.nonEmpty, s"empty manifest: $manifestPath")
    val n = tokens.head.toInt
    val paths = tokens.tail.take(n)
    require(paths.length == n, s"manifest declares $n files, found ${paths.length}")
    val base = new Path(baseDir)
    val qualified = base.getFileSystem(conf).makeQualified(base)
    paths.toSeq.zipWithIndex.map { case (p, i) => (i + 1L, new Path(qualified, p).toUri.toString) }
  }
}
