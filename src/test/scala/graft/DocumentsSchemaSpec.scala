package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit}
import org.apache.spark.sql.graft.Bridge
import graft.sources.{Documents, Embeddings, Relational}

/** The declared `documents`, `embeddings` and relational schemas are the
  * ones the fixture files carry: a regenerated table with other columns or types
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

  test("the declared relational schemas equal the footer schemas at sf0.001, sf0.01 and sf0.1") {
    // timestamps included: lineitem and orders carry tz-less timestamp[us]
    assert(Relational.schemas.keySet ==
      Set("lineitem", "orders", "customer", "part", "supplier", "nation", "region"))
    for (sf <- scaleFactors; (table, declared) <- Relational.schemas) {
      val inferred = spark.read.parquet(s"$testdata/$sf/$table.parquet").schema
      assert(declared == inferred, s"$sf/$table: declared ${declared.treeString}" +
        s" but the file has ${inferred.treeString}")
    }
  }

  test("building queries over the relational tables runs no schema-inference job") {
    // q10 reads lineitem; q11 joins lineitem, orders, customer, nation and region
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (q <- Seq("q10_pricing_summary", "q11_revenue_by_nation")) {
        SparkEntry.queries(q)(spark, sfDir)
        Bridge.waitListenerBusEmpty(spark)
        assert(jobs.get == 0, s"building $q ran ${jobs.get} Spark job(s)")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
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
