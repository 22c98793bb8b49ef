package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.CollectIndex

/** Inverted-index construction (reference `src/functions.cpp:104-127`):
  * word → sorted set of distinct doc IDs ("postings"), plus the derived
  * document frequency and first-letter bucket.
  *
  * Design notes:
  *   - like the reference's reducers, the build merges postings per first
  *     letter: one [[graft.functions.CollectIndex]] buffer (a word → run
  *     map) per letter and task, shipped as one byte array and merged per
  *     letter. At most a few dozen groups a task, so the aggregate stays
  *     hash-based; keyed on `word` it would go over to sorting every row
  *     after 128 words a task;
  *   - its output is hash-partitioned on `letter`, the partitioning the
  *     letter sink ([[IndexWriter]]) asks for, so the planner drops the
  *     sink's own exchange: aggregate and sink share ONE exchange, and the
  *     final merge runs in the sink tasks. The reference's letter buckets
  *     are skewed (its goldens: `s.txt` huge, `z.txt` 33 lines), and the
  *     sink already put each letter in one task;
  *   - the trade is memory: a letter's postings sit in one aggregate
  *     buffer that Spark neither tracks nor spills, 8 bytes a
  *     `(word, doc)` pair of that letter (a stop word's postings grow with
  *     its document frequency). df-only consumers should aggregate a
  *     partial-aggregatable `count(distinct doc_id)` instead, which never
  *     materializes postings.
  */
object InvertedIndex {

  /** `(doc_id, word)` rows → `(word, postings, df, letter)`, hash-partitioned
    * on `letter`. Postings are ascending distinct doc IDs; `letter` = first
    * letter. One shuffle, on `letter`: the aggregate has set semantics, so
    * raw tokens and per-document distinct pairs ([[graft.sources.Corpus.documentWords]],
    * the reference's per-file `partial_map`, `src/functions.cpp:75-87`)
    * give the same index; distinct pairs just feed it fewer rows. No
    * `dropDuplicates` exchange is needed ahead of it.
    */
  def buildFromTokens(tokens: DataFrame): DataFrame =
    tokens
      .groupBy(substring(col("word"), 1, 1).as("letter"))
      .agg(CollectIndex(col("word"), col("doc_id")).as("words"))
      .select(inline(col("words")), col("letter"))

  /** Render the reference's row format `word:[id1 id2 … idn]`
    * (`src/functions.cpp:150-161`).
    */
  def formatted(index: DataFrame): DataFrame =
    index.withColumn(
      "row",
      concat(col("word"), lit(":["), array_join(col("postings"), " "), lit("]")))
}
