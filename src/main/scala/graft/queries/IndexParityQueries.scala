package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{Feed, StreamingOps}
import graft.sources.Documents

/** Alternate-path builds of the q1 inverted index, each oracle-checked
  * against q1's DuckDB SQL (q249's over the surviving documents) — so
  * the driver's hard correctness gate covers the streaming surface and
  * the segment-maintenance paths, not just their unit specs:
  *
  *   - q75: the index computed INCREMENTALLY — documents arrive over
  *     several micro-batches through [[StreamingOps.incrementalDocWords]]
  *     (stateful streaming dedup), and the accumulated pair stream is
  *     folded into the index. Batch/streaming parity is the core
  *     guarantee of the streaming surface; this query makes the driver
  *     verify it.
  *   - q117/q249: base+delta compaction and tombstone deletes over the
  *     plain `(doc_id, word)` postings.
  */
object IndexParityQueries {

  /** Render DISTINCT (doc_id, word) pairs into q1's exact output schema:
    * word, space-joined ascending postings string, df. `collect_list`,
    * not `collect_set`: every caller's pairs are already distinct, so a
    * duplicated pair would show up as a wrong df in the oracle compare.
    */
  private def indexFromPairs(pairs: DataFrame): DataFrame =
    render(pairs.groupBy("word").agg(sort_array(collect_list(col("doc_id"))).as("p")))

  /** `(word, p)` rows, `p` each word's ascending doc ids, as q1's output:
    * the space-joined postings and their count.
    */
  private def render(postings: DataFrame): DataFrame =
    postings.select(
      col("word"),
      array_join(col("p"), " ").as("postings"),
      size(col("p")).cast("long").as("df"))

  /** q75: the corpus arrives in doc_id-ordered micro-batches (four, of
    * at most 1024 docs: [[StreamParityQueries.corpusChunks]]), the
    * streaming tokenize→clean→dedup runs with its cross-batch state, and
    * the accumulated pairs are indexed. The MemoryStream feed is the
    * test-harness SOURCE only (production reads Kafka/files via
    * readStream); the operator under test is the unbounded
    * [[StreamingOps.incrementalDocWords]] plan itself. The driver holds
    * one chunk at a time, so the parity gate survives fixtures 100x this
    * size; larger corpora just run more micro-batches, which the
    * cross-batch dedup state is indifferent to.
    */
  def q75IncrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    indexFromPairs(Feed(spark, "append", StreamParityQueries.corpusChunks(spark, dir, 1024))(ds =>
      StreamingOps.incrementalDocWords(ds.toDF("doc_id", "text"))))
  }

  /** q117: LSM-style index compaction — the index maintained as a BASE
    * segment plus a DELTA segment (the plain `(doc_id, word)` postings of
    * two disjoint document sets, the shape an incremental indexer leaves
    * on disk), then compacted by concatenating each word's base and delta
    * postings. Must hash-equal the from-scratch q1 rebuild.
    *
    * Scale shape: one scan and one tokenization of the corpus, each
    * document's words deduplicated in its row (no exchange), then one
    * word-keyed aggregate, the plan's only exchange, that builds
    * both segments' postings as two `collect_list`s split by a computed
    * segment column, merged with `sort_array(concat(...))`. The doc_id%3
    * split is a fixture stand-in for the real base/delta boundary (ingest
    * time); any disjoint split must compact to the same index, which is
    * exactly what the oracle checks. The scan is not spread: tokenize and
    * one aggregate are lighter than the ScanSpread exchange.
    */
  def q117IndexCompaction(spark: SparkSession, dir: String): DataFrame = {
    val docWords = graft.operators.Tokenizer.docWords(Documents.read(spark, dir), "text", "doc_id")
    val delta = col("doc_id") % 3 === 0
    render(docWords.groupBy("word").agg(sort_array(concat(
      collect_list(when(!delta, col("doc_id"))),
      collect_list(when(delta, col("doc_id"))))).as("p")))
  }

  /** q249: tombstone deletes compacted OUT of the index — the LSM delete
    * path q117's merge doesn't cover: the standing postings (over ALL
    * docs) plus a tombstone predicate (docs with `doc_id % 7 == 0`
    * deleted — the fixture stand-in for a GDPR purge / retraction list)
    * compact into an index that must hash-equal q1 REBUILT over only the
    * surviving documents. Deletion is a filter on the (doc_id, word)
    * rows before rendering; words whose postings empty out produce no
    * group and drop from the index entirely. DETERMINISM: integer
    * filters.
    */
  def q249TombstoneCompaction(spark: SparkSession, dir: String): DataFrame =
    indexFromPairs(
      ReferenceQueries.docWords(spark, dir).filter(col("doc_id") % 7 =!= 0))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q75_incremental_index" -> (q75IncrementalIndex _),
    "q117_index_compaction" -> (q117IndexCompaction _),
    "q249_tombstone_compaction" -> (q249TombstoneCompaction _))

  /** q75/q117 must equal q1 exactly — they share its oracle SQL;
    * q249's oracle is q1 REBUILT over only the surviving documents
    * (the tombstone predicate applied before aggregation), so the
    * driver proves compact-with-deletes ≡ rebuild-without-deleted.
    */
  val oracleSql: Map[String, String] = {
    val q1 = ReferenceQueries.oracleSql("q1_inverted_index")
    val q1Surviving = q1.replace(
      "FROM dw GROUP BY word",
      "FROM dw WHERE doc_id % 7 <> 0 GROUP BY word")
    require(q1Surviving != q1, "q1 oracle shape changed; fix q249's rewrite")
    Map(
      "q75_incremental_index" -> q1,
      "q117_index_compaction" -> q1,
      "q249_tombstone_compaction" -> q1Surviving)
  }
}
