package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's movers field compares a sweep only with an earlier sweep of
  * the same dataset at the same core count, and only entries that ran on
  * both sides.
  */
class BenchSpec extends AnyFunSuite {

  private val sf = "/data/sf0.1"
  private def line(sfDir: String, queries: String, cores: String = "4") =
    Some(s"""{"metric":"total","value":1.0,"unit":"sec","queries":{$queries},"reps":4,"max":{},"absent":[],"sf":"$sfDir","cores":"$cores"}""")

  private val prev = line(sf,
    """"a":1.000,"b":1.000,"c":1.000,"d":1.000,"e":1.000,"f":1.000,"g":1.000""")
  private val cur = Seq("a" -> 1.1, "b" -> 3.0, "c" -> 0.5, "d" -> 1.0,
    "e" -> 2.0, "f" -> 1.2, "g" -> 0.7)

  test("a record of another sf gives no movers") {
    assert(Bench.movers(line("/data/sf0.001", """"a":1.000,"b":1.000"""), sf, "4", cur).isEmpty)
  }

  test("a record of another core count, or of none, gives no movers") {
    assert(Bench.movers(line(sf, """"a":1.000,"b":1.000""", "32"), sf, "4", cur).isEmpty)
    val noCores = s"""{"metric":"total","value":1.0,"unit":"sec","queries":{"a":1.000},"sf":"$sf"}"""
    assert(Bench.movers(Some(noCores), sf, "4", cur).isEmpty)
  }

  test("a same-sf record gives the top 5 by relative change") {
    assert(Bench.movers(prev, sf, "4", cur) == Seq(
      "b" -> (1.0, 3.0), "e" -> (1.0, 2.0), "c" -> (1.0, 0.5),
      "g" -> (1.0, 0.7), "f" -> (1.0, 1.2)))
  }

  test("failed and absent entries are excluded, a missing or broken record gives none") {
    val p = line(sf, """"a":-1.000,"b":1.000,"c":2.000""")
    val got = Bench.movers(p, sf, "4", Seq("a" -> 5.0, "b" -> -1.0, "c" -> 4.0, "z" -> 9.0))
    assert(got == Seq("c" -> (2.0, 4.0)))
    assert(Bench.movers(None, sf, "4", cur).isEmpty)
    assert(Bench.movers(Some("{not json"), sf, "4", cur).isEmpty)
  }
}
