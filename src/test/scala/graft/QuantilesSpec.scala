package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential pin: Quantiles.ntileExact must reproduce SQL ntile
  * bit-for-bit — including the remainder buckets (first n mod k buckets
  * get the extra row) and the n < k degenerate case — since q173/q179
  * rely on it hash-matching a DuckDB ntile oracle.
  */
class QuantilesSpec extends AnyFunSuite with SparkTestBase {

  private def compare(n: Int, k: Int): Unit = Runner.released(spark) {
    import spark.implicits._
    // non-monotonic values with a unique tiebreak id, like the callers
    val df = (1 to n).map(i => ((i * 37) % 19, i.toLong)).toDF("v", "id")
    val expected = df.withColumn("b",
      ntile(k).over(Window.orderBy(col("v").desc, col("id").asc)))
    val got = graft.operators.Quantiles
      .ntileExact(df, k, Seq(col("v").desc, col("id").asc), "b")
    val mismatches = expected.as("e")
      .join(got.as("g"), Seq("v", "id"))
      .filter(col("e.b") =!= col("g.b"))
      .count()
    assert(mismatches == 0, s"n=$n k=$k: $mismatches bucket mismatches")
  }

  test("ntileExact == ntile when k divides n")(compare(100, 5))
  test("ntileExact == ntile with remainder buckets")(compare(103, 10))
  test("ntileExact == ntile with n < k (one row per bucket)")(compare(7, 10))
  test("ntileExact == ntile with k = 1")(compare(42, 1))

  releasedTest("withGlobalRank == row_number over a global ORDER BY") {
    import spark.implicits._
    val df = (1 to 97).map(i => ((i * 53) % 17, i.toLong)).toDF("v", "id")
    val expected = df.withColumn("r",
      row_number().over(Window.orderBy(col("v").desc, col("id").asc)).cast("long"))
    val got = graft.operators.Quantiles
      .withGlobalRank(df, Seq(col("v").desc, col("id").asc), "r")
    assert(expected.as("e").join(got.as("g"), Seq("v", "id"))
      .filter(col("e.r") =!= col("g.r")).count() == 0)
  }

  releasedTest("prefixSums == windowed running totals over a global ORDER BY") {
    import spark.implicits._
    val df = (1 to 113).map(i => (i.toLong, (i * 7 % 23).toLong, (i % 5).toLong))
      .toDF("id", "a", "b")
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
    val got = graft.operators.Quantiles
      .prefixSums(df, Seq(col("id").asc), Seq("a" -> "ca", "b" -> "cb"))
    assert(expected.as("e").join(got.as("g"), Seq("id"))
      .filter(col("e.ca") =!= col("g.ca") || col("e.cb") =!= col("g.cb"))
      .count() == 0)
  }

  // withNextRows must reproduce lead(struct(*), j) over a global ORDER
  // BY for j = 1..w with nulls dropped — including the cross-partition
  // boundary patch (the differential deliberately runs at row counts
  // both below and above the 32 shuffle partitions so some partitions
  // hold < w rows and neighbors span 2+ boundaries)
  private def compareNext(n: Int, w: Int): Unit = {
    import spark.implicits._
    val df = (1 to n).map(i => ((i * 37) % 19, i.toLong)).toDF("v", "id")
    val order = Seq(col("v").desc, col("id").asc)
    val gw = Window.orderBy(order: _*)
    val leadCols = (1 to w).map(j => lead(struct(col("v"), col("id")), j).over(gw))
    val expected = df
      .withColumn("nbrs", filter(array(leadCols: _*), _.isNotNull))
      .select(col("v"), col("id"), to_json(col("nbrs")).as("nj"))
    val got = graft.operators.Quantiles
      .withNextRows(df, order, w, "nbrs")
      .select(col("v"), col("id"), to_json(col("nbrs")).as("nj"))
    assert(got.count() == n.toLong)
    val mismatches = expected.as("e").join(got.as("g"), Seq("v", "id"))
      .filter(col("e.nj") =!= col("g.nj")).count()
    assert(mismatches == 0, s"n=$n w=$w: $mismatches neighborhood mismatches")
  }

  test("withNextRows == global lead(struct, j) with w=2")(compareNext(211, 2))
  test("withNextRows crosses multiple partition boundaries (n < partitions)")(
    compareNext(11, 3))
  test("withNextRows with w larger than most partitions")(compareNext(40, 5))
  test("withNextRows single row (no neighbors)")(compareNext(1, 2))
}
