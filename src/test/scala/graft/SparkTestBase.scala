package graft

import org.apache.spark.sql.SparkSession
import org.scalactic.source.Position
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = Runner.session("local[4]", 4)
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sfDir: String = "/root/testdata/sf0.001"

  /** A test whose body runs under [[Runner.released]]: what it persists
    * or checkpoints is freed even when an assertion fails, so nothing
    * leaks into later tests of the shared session.
    */
  def releasedTest(name: String)(body: => Any)(implicit pos: Position): Unit =
    test(name)(Runner.released(spark)(body))
}
