package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** The `embeddings` table (`<dir>/embeddings.parquet`), read with its
  * declared schema, as [[Documents]] reads `documents`: building a query
  * over it runs no schema-inference job. DocumentsSchemaSpec checks the
  * declaration against the footers of the fixture tables.
  */
object Embeddings {

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/embeddings.parquet")
}
