package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `events.ts` ships as a timestamp or as INT64 nanoseconds, depending
  * on the generator. Every `events` reader adapts to either, so a query
  * over it gives one answer for both.
  */
class EventsTsSpec extends AnyFunSuite with SparkTestBase {

  releasedTest("q265 and q283 answer alike over timestamp and INT64-nanos events.ts") {
    val base = Files.createTempDirectory("graft-events-ts")
    try {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val asTs = s"$base/ts"
      val asNanos = s"$base/nanos"
      ev.write.parquet(s"$asTs/events.parquet")
      ev.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
        .write.parquet(s"$asNanos/events.parquet")
      assert(spark.read.parquet(s"$asNanos/events.parquet").schema("ts").dataType.typeName == "long")
      for (q <- Seq("q265_cumulative_uniques", "q283_jackknife_ratio")) {
        def answer(dir: String) =
          SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSet
        val ts = answer(asTs)
        assert(ts.nonEmpty, s"$q: empty answer over the fixture")
        assert(answer(asNanos) == ts, s"$q: the nanos events file changed the answer")
      }
    } finally FileUtils.deleteQuietly(base.toFile)
  }
}
