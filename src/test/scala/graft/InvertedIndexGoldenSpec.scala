package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level golden parity against the reference's checker fixtures
  * (reference `checker/checker.sh:27` diffs with `-w`, order-sensitive;
  * we hold ourselves to exact bytes modulo trailing whitespace).
  *
  * The 3-document corpus (FIXTURES.md §A.2) and its 26 goldens, derived
  * by hand from the three sentences, are committed under
  * `src/test/resources/index_small`. The 355-document corpus is not
  * committed: its test reads the reference checkout and fails when that
  * is absent.
  */
class InvertedIndexGoldenSpec extends AnyFunSuite with SparkTestBase {

  private val RefChecker = "/root/reference/checker"
  private val Small = Paths.get(getClass.getResource("/index_small").toURI).toString

  private def normalize(s: String): String =
    s.linesIterator.map(_.replaceAll("\\s+$", "")).filter(_.nonEmpty).mkString("\n")

  private def compareAll(outDir: String, goldenDir: String, exact: Boolean = false): Unit = {
    ('a' to 'z').foreach { l =>
      val got = Files.readString(Paths.get(outDir, s"$l.txt"))
      val want = Files.readString(Paths.get(goldenDir, s"$l.txt"))
      if (exact) assert(got == want, s"letter file $l.txt differs")
      else assert(normalize(got) == normalize(want), s"letter file $l.txt differs")
    }
  }

  test("small corpus (3 docs) matches reference goldens byte-for-byte") {
    val out = Files.createTempDirectory("graft-index-small").toString
    IndexJob.run(spark, s"$Small/test_small.txt", Small, out)
    compareAll(out, s"$Small/test_out_small", exact = true)
  }

  test("full corpus (355 Gutenberg docs) matches reference goldens") {
    val out = Files.createTempDirectory("graft-index-full").toString
    IndexJob.run(spark, s"$RefChecker/test.txt", RefChecker, out)
    compareAll(out, s"$RefChecker/test_out")
  }

  test("deterministic across shuffle-partition counts (M×R grid analog)") {
    val out1 = Files.createTempDirectory("graft-det-1").toString
    val out2 = Files.createTempDirectory("graft-det-2").toString
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      IndexJob.run(spark, s"$Small/test_small.txt", Small, out1)
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      IndexJob.run(spark, s"$Small/test_small.txt", Small, out2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    ('a' to 'z').foreach { l =>
      assert(
        Files.readString(Paths.get(out1, s"$l.txt")) ==
          Files.readString(Paths.get(out2, s"$l.txt")),
        s"letter $l differs across partition counts")
    }
  }
}
