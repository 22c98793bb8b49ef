package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The TPC-H-shaped fixture tables (`<dir>/<table>.parquet`: lineitem,
  * orders, customer, part, supplier, nation, region), read with their
  * declared schemas, as [[Documents]] reads `documents`: building a query
  * over them runs no schema-inference job, and every query reads the same
  * types. The timestamps are `TIMESTAMP_NTZ`, as Spark infers them from
  * the files' tz-less `timestamp[us]`. DocumentsSchemaSpec checks each
  * declaration against the footers of the fixture tables. (`events`,
  * whose timestamp type differs between generator versions, keeps its
  * adaptive reader in `RelationalQueries`.)
  */
object Relational {

  private def fields(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  val schemas: Map[String, StructType] = Map(
    "lineitem" -> fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "orders" -> fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "customer" -> fields("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "part" -> fields("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "supplier" -> fields("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "nation" -> fields("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "region" -> fields("r_regionkey" -> IntegerType, "r_name" -> StringType))

  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    val schema = schemas.getOrElse(table, throw new IllegalArgumentException(
      s"no declared schema for table '$table'; known: ${schemas.keys.toSeq.sorted.mkString(", ")}"))
    spark.read.schema(schema).parquet(s"$dir/$table.parquet")
  }
}
