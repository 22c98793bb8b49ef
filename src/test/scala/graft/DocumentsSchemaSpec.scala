package graft

import graft.sources.Documents

/** The declared `documents` schema is the one the fixture files carry: a
  * regenerated table with other columns or types fails here, not as a
  * query quietly reading nulls or the wrong type.
  */
class DocumentsSchemaSpec extends SparkTestBase {

  test("the declared documents schema equals the footer schema at sf0.001, sf0.01 and sf0.1") {
    val testdata = new java.io.File(sfDir).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val inferred = spark.read.parquet(s"$testdata/$sf/documents.parquet").schema
      assert(Documents.schema == inferred, s"$sf: declared ${Documents.schema.treeString}" +
        s" but the file has ${inferred.treeString}")
    }
  }
}
