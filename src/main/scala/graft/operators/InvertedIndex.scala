package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.CollectPostings

/** Inverted-index construction (reference `src/functions.cpp:104-127`):
  * word → sorted set of distinct doc IDs ("postings"), plus the derived
  * document frequency and first-letter bucket.
  *
  * Spark-first design notes (vs the reference's 26 fixed reducer buckets):
  *   - the aggregation is hash-partitioned on `word` across ALL shuffle
  *     partitions, not on the 26-way first-letter key — the reference's
  *     letter buckets are badly skewed (its own goldens: `s.txt` huge,
  *     `z.txt` 33 lines) and cap parallelism at 26. `letter` is carried
  *     only as a derived output/partition column, which preserves output
  *     semantics exactly while scaling to any partition count (SURVEY §4.3);
  *   - postings are collected by [[graft.functions.CollectPostings]] as
  *     primitive sorted runs of `long`s, ascending and unique like the
  *     reference's `std::set<int>` union, with no boxed set per word and
  *     no `sort_array` after it. A stop word's state still grows with its
  *     document frequency (8 bytes a document); df-only consumers should
  *     aggregate a partial-aggregatable `count(distinct doc_id)` instead,
  *     which never materializes postings.
  */
object InvertedIndex {

  /** `(doc_id, word)` rows → `(word, postings, df, letter)`.
    * Postings are ascending distinct doc IDs; `letter` = first letter.
    * One shuffle, on `word`: the aggregate has set semantics, so raw
    * tokens and per-document distinct pairs ([[graft.sources.Corpus.documentWords]],
    * the reference's per-file `partial_map`, `src/functions.cpp:75-87`)
    * give the same index; distinct pairs just feed it fewer rows. No
    * `dropDuplicates` exchange is needed ahead of it.
    */
  def buildFromTokens(tokens: DataFrame): DataFrame =
    tokens
      .groupBy("word")
      .agg(CollectPostings(col("doc_id")).as("postings"))
      .withColumn("df", size(col("postings")).cast("long"))
      .withColumn("letter", substring(col("word"), 1, 1))

  /** Render the reference's row format `word:[id1 id2 … idn]`
    * (`src/functions.cpp:150-161`).
    */
  def formatted(index: DataFrame): DataFrame =
    index.withColumn(
      "row",
      concat(col("word"), lit(":["), array_join(col("postings"), " "), lit("]")))
}
