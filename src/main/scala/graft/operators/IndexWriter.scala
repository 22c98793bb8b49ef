package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Formatted text sink: 26 files `a.txt` … `z.txt`, rows
  * `word:[id1 id2 … idn]` ordered by (document-frequency desc, word asc) —
  * byte-equal to the reference's output (`src/functions.cpp:7-12,140-164`).
  *
  * Distributed-writer mechanics:
  *   - `repartition(26, $"letter")` routes each letter's rows into exactly
  *     one task (hash partitioning on the letter key — the Spark analog of
  *     the reference's 26 reducer buckets, but only AT THE SINK; the
  *     expensive aggregation upstream stays word-partitioned, see
  *     [[InvertedIndex]]);
  *   - `sortWithinPartitions(letter, df desc, word asc)` gives every letter
  *     a totally-ordered contiguous run inside its task, so the
  *     `partitionBy("letter")` dynamic-partition write emits ONE part file
  *     per letter with rows already in final order (reference
  *     `compare_func`, `src/functions.cpp:7-12`);
  *   - a driver-side finalize renames `letter=x/part-*.txt` → `x.txt` and
  *     creates empty files for absent letters (the reference always opens
  *     all 26 ofstreams, `src/functions.cpp:146-148`).
  *
  * At cluster scale the same plan works unchanged: the finalize step is a
  * constant-26-file metadata pass regardless of data volume.
  */
object IndexWriter {

  private val Letters: Seq[String] = ('a' to 'z').map(_.toString)

  /** Write `index` (needs columns word/postings/df/letter) as the
    * reference's 26 letter files under `outDir`.
    */
  def write(index: DataFrame, outDir: String): Unit = {
    val tmp = outDir + "/.spark-index"
    InvertedIndex.formatted(index)
      .select(col("letter"), col("df"), col("word"), col("row"))
      .repartition(26, col("letter"))
      .sortWithinPartitions(col("letter"), col("df").desc, col("word").asc)
      .select(col("letter"), col("row"))
      .write
      .mode("overwrite")
      .partitionBy("letter")
      .text(tmp)
    finalizeLetterFiles(tmp, outDir)
  }

  /** Move `letter=x/part-*` → `outDir/x.txt`; touch empty files for the
    * letters with no words. Constant file COUNT (26) at any scale, but
    * the bytes stream through the driver's filesystem: the right call
    * for the reference checker's byte-exact `<letter>.txt` contract at
    * fixture scale. At 100× the artifact contract should change instead:
    * keep the directory-per-letter layout as the published output (zero
    * extra IO), or use filesystem-level concat (HDFS `concat`, S3
    * multipart compose) so no payload ever moves through one machine.
    * See SCALE.md "Inverted index".
    */
  private def finalizeLetterFiles(tmpDir: String, outDir: String): Unit = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val tmp = Paths.get(tmpDir)
    Letters.foreach { l =>
      val dir = tmp.resolve(s"letter=$l")
      val target = out.resolve(s"$l.txt")
      if (Files.isDirectory(dir)) {
        val parts = Files.list(dir).iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .toSeq.sortBy(_.getFileName.toString)
        concatTo(parts, target)
      } else {
        Files.write(target, Array.emptyByteArray)
      }
    }
    deleteRecursively(tmp)
  }

  private def concatTo(parts: Seq[Path], target: Path): Unit = {
    val outStream = Files.newOutputStream(target)
    try parts.foreach(p => Files.copy(p, outStream))
    finally outStream.close()
    if (parts.isEmpty) Files.write(target, Array.emptyByteArray)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
