package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  *   - `collect_set` + `sort_array` reproduces `std::set<int>` union
  *     (ascending, unique) deterministically;
  *   - at 100 TB, per-word postings for stop-words grow unboundedly; the
  *     aggregation spills (Spark `ObjectHashAggregate` → sort-based
  *     fallback), and df-only consumers should aggregate a
  *     partial-aggregatable `count(distinct doc_id)` instead, which never
  *     materializes postings.
  */
object InvertedIndex {

  /** Raw `(doc_id, word)` tokens → `(word, postings, df, letter)`.
    * Postings are ascending distinct doc IDs; `letter` = first letter.
    * One shuffle: `collect_set` is itself distinct, so no `dropDuplicates`
    * exchange is needed ahead of the word aggregation — the map-side
    * partial `collect_set` performs the per-doc dedup the reference does
    * in its `partial_map` (`src/functions.cpp:75-87`), and only set
    * partials cross the wire.
    */
  def buildFromTokens(tokens: DataFrame): DataFrame =
    tokens
      .groupBy("word")
      .agg(sort_array(collect_set(col("doc_id"))).as("postings"))
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
