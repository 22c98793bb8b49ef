package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{IndexWriter, InvertedIndex, Tokenizer}
import graft.sources.Corpus

/** End-to-end inverted-index build — the reference's entire program
  * (`src/main.cpp:30-59`) as one declarative Spark plan:
  *
  *   manifest (driver) → per-task document reads → explode(split) → clean/lower → filter
  *   → per-doc distinct (partial agg) → groupBy(word) collect_set (final agg)
  *   → letter column → format → letter repartition → sorted letter runs,
  *   each written by its task straight to a staged `<letter>.txt`.
  *
  * The reference's M mapper / R reducer threads, mutex work queue and
  * barriers all map onto Spark's task scheduler and the two shuffle
  * boundaries Catalyst inserts (word aggregation, letter repartition).
  * A pass runs the two shuffle-map stages and one sink job; the driver
  * only reads the manifest and renames the 26 finished files (see
  * [[graft.operators.IndexWriter]], which also says where `outDir` may live).
  */
object IndexJob {

  /** Build the index DataFrame `(word, postings, df, letter)` for a corpus.
    * Raw tokens feed the aggregation directly — collect_set dedups, so the
    * plan has ONE exchange (word agg), not two (see
    * InvertedIndex.buildFromTokens).
    */
  def index(spark: SparkSession, manifestPath: String, baseDir: String): DataFrame = {
    val docs = Corpus.read(spark, manifestPath, baseDir)
    InvertedIndex.buildFromTokens(Tokenizer.tokens(docs, "line", Seq("doc_id")))
  }

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
