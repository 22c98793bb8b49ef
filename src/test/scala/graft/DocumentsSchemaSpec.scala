package graft

import org.apache.spark.sql.functions.{col, count, count_distinct, lit}
import graft.sources.{Documents, Embeddings}

/** The declared `documents` and `embeddings` schemas are the ones the
  * fixture files carry: a regenerated table with other columns or types
  * fails here, not as a query quietly reading nulls or the wrong type.
  */
class DocumentsSchemaSpec extends SparkTestBase {

  private val scaleFactors = Seq("sf0.001", "sf0.01", "sf0.1")
  private def testdata = new java.io.File(sfDir).getParent

  test("the declared documents schema equals the footer schema at sf0.001, sf0.01 and sf0.1") {
    for (sf <- scaleFactors) {
      val inferred = spark.read.parquet(s"$testdata/$sf/documents.parquet").schema
      assert(Documents.schema == inferred, s"$sf: declared ${Documents.schema.treeString}" +
        s" but the file has ${inferred.treeString}")
    }
  }

  test("the declared embeddings schema equals the footer schema at sf0.001, sf0.01 and sf0.1") {
    for (sf <- scaleFactors) {
      val inferred = spark.read.parquet(s"$testdata/$sf/embeddings.parquet").schema
      assert(Embeddings.schema == inferred, s"$sf: declared ${Embeddings.schema.treeString}" +
        s" but the file has ${inferred.treeString}")
    }
  }

  test("documents.doc_id is a non-null, unique key at sf0.001, sf0.01 and sf0.1") {
    // the per-row operators (Tokenizer.docWords, SearchQueries.booleanAnd)
    // read one row as one whole document
    for (sf <- scaleFactors) {
      val r = Documents.read(spark, s"$testdata/$sf")
        .agg(count(lit(1)), count(col("doc_id")), count_distinct(col("doc_id"))).head()
      val (rows, nonNull, distinct) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(rows > 0 && nonNull == rows, s"$sf: $rows rows, $nonNull non-null doc_ids")
      assert(distinct == rows, s"$sf: $rows rows, $distinct distinct doc_ids")
    }
  }
}
