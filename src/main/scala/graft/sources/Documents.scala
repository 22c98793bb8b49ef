package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The `documents` table (`<dir>/documents.parquet`), read with its
  * declared schema. Spark would otherwise infer the schema from the file
  * footer with a one-task job each time a query builds its plan; with the
  * schema given, building a query over the corpus runs no Spark job.
  * DocumentsSchemaSpec checks the declaration against the footers of the
  * fixture tables, so a regenerated table with another shape fails there
  * instead of being read with the wrong types.
  *
  * `doc_id` is the table's key: non-null and unique, one row per
  * document (DocumentsSchemaSpec checks it on the fixtures). The
  * per-document operators rely on it to do their work inside the row with
  * no `doc_id`-keyed exchange: [[graft.operators.Tokenizer.docWords]]
  * emits distinct `(doc_id, word)` pairs per row, and the boolean search
  * (`SearchQueries.booleanAnd`) is a filter on the row.
  */
object Documents {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The plain scan, for pipelines whose per-document work is light
    * (tokenize and one aggregate): spreading such a scan costs more than
    * it saves (r17: q341 1.07 → 0.73 s unspread, OPTIMIZATION_r17.md).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/documents.parquet")

  /** The scan behind [[ScanSpread]], for per-document-heavy pipelines. */
  def spread(spark: SparkSession, dir: String): DataFrame =
    ScanSpread.spread(read(spark, dir))
}
