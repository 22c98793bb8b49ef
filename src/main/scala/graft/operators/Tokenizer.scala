package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenization with the reference's exact semantics
  * (reference `src/functions.cpp:39-46,77-84`):
  *
  *   1. split on whitespace (`fin >> word`);
  *   2. inside each token delete every non-`[A-Za-z]` byte and lowercase the
  *      survivors — survivors are JOINED, not re-split (`don't` → `dont`,
  *      `Mr.` → `mr`, `x1y` → `xy`). ASCII-only, matching C-locale
  *      `isalpha`: multi-byte UTF-8 (curly quotes etc.) is stripped;
  *   3. drop tokens that are empty after cleaning.
  *
  * Everything is built-in Catalyst expressions (`split`/`explode`/
  * `regexp_replace`/`lower`/`length`), so the whole chain runs inside one
  * whole-stage-codegen span fused with the scan — the Spark analog of the
  * reference's single streaming pass per file.
  */
object Tokenizer {

  /** Clean one raw token: strip non-ASCII-letters, lowercase the rest.
    * Backed by the native codegen'd [[graft.functions.AsciiCleanLower]]
    * expression (single byte-loop pass; no regex in the hot path —
    * semantics golden-tested against the reference corpus).
    */
  def cleanToken(tok: Column): Column =
    graft.functions.AsciiCleanLower(tok)

  /** `(…, textCol)` → `(…, word)`: one output row per surviving token.
    * Carries `keepCols` through (typically the doc id).
    *
    * Backed by the native [[graft.functions.Tokenize]] Generator — the
    * whole split→clean→filter chain in one byte pass (no regex, no
    * intermediate token array). The composed-built-ins formulation is
    * kept as [[tokensComposed]] for reference/differential testing.
    */
  def tokens(df: DataFrame, textCol: String, keepCols: Seq[String]): DataFrame = {
    val keep = keepCols.map(col)
    df.select(keep :+ graft.functions.Tokenize(col(textCol)).as("word"): _*)
  }

  /** Built-ins-only formulation of [[tokens]] (explode+regex split+clean):
    * semantically identical; used to differential-test the native path.
    */
  def tokensComposed(df: DataFrame, textCol: String, keepCols: Seq[String]): DataFrame = {
    val keep = keepCols.map(col)
    df.select(keep :+ explode(split(col(textCol), "\\s+")).as("tok"): _*)
      .select(keep :+ cleanToken(col("tok")).as("word"): _*)
      .filter(length(col("word")) > 0)
  }

  /** Distinct (doc, word) pairs — the reference's per-doc partial map
    * (`src/functions.cpp:75-87`). Each row emits each distinct word of its
    * text once, through the native [[graft.functions.DistinctWords]]
    * Generator, so the plan is scan → generate with no exchange. The rows
    * are distinct pairs because each document is one row: `docIdCol` must
    * be the table's non-null, unique key, as `documents.doc_id` is
    * ([[graft.sources.Documents]]).
    */
  def docWords(df: DataFrame, textCol: String, docIdCol: String): DataFrame =
    df.select(col(docIdCol), graft.functions.DistinctWords(col(textCol)).as("word"))
}
