package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{IndexWriter, InvertedIndex}
import graft.sources.Corpus

/** End-to-end inverted-index build — the reference's entire program
  * (`src/main.cpp:30-59`) as one declarative Spark plan:
  *
  *   manifest (driver) → per-task document reads, each document's distinct
  *   words streamed from its file → one partial word → postings map per
  *   first letter → letter shuffle → merged maps, one row per word →
  *   format → sorted letter runs, each written by its task straight to a
  *   staged `<letter>.txt`.
  *
  * The reference's M mapper / R reducer threads, mutex work queue and
  * barriers all map onto Spark's task scheduler and the one shuffle
  * boundary Catalyst inserts: the letter aggregation's exchange is also
  * the sink's, as the reference's reducers both merge and write their
  * letters. A pass runs one shuffle-map stage and one sink job; the
  * driver only reads the manifest and renames the 26 finished files (see
  * [[graft.operators.IndexWriter]], which also says where `outDir` may live).
  */
object IndexJob {

  /** Build the index DataFrame `(word, postings, df, letter)` for a corpus:
    * each document indexed once, as its distinct words
    * ([[graft.sources.Corpus.documentWords]]), into the letter aggregation
    * ([[graft.operators.InvertedIndex.buildFromTokens]]) — ONE exchange,
    * hash-partitioned on `letter`, which [[run]]'s sink reuses.
    * Building it runs no Spark job and reads no document.
    */
  def index(spark: SparkSession, manifestPath: String, baseDir: String): DataFrame =
    InvertedIndex.buildFromTokens(Corpus.documentWords(spark, manifestPath, baseDir))

  /** Build and write `a.txt`…`z.txt` under `outDir` (golden-compatible);
    * `outDir` must be local and visible to every task.
    */
  def run(spark: SparkSession, manifestPath: String, baseDir: String, outDir: String): Unit =
    IndexWriter.write(index(spark, manifestPath, baseDir), outDir)

  /** CLI mirroring the reference's `tema1 <M> <R> <manifest>` — M and R are
    * accepted for compatibility but map to Spark parallelism settings, which
    * the session already owns (`src/main.cpp:5-8`).
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: IndexJob <M> <R> <manifest> <outDir> [baseDir]")
    val manifest = args(2)
    val outDir = args(3)
    val baseDir = if (args.length > 4) args(4)
      else Option(new java.io.File(manifest).getParent).getOrElse(".")
    val spark = Runner.session(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, manifest, baseDir, outDir)
    finally spark.stop()
  }
}
