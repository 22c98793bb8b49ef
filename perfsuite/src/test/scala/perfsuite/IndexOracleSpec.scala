package perfsuite

import java.nio.charset.StandardCharsets.US_ASCII
import org.scalatest.funsuite.AnyFunSuite

/** Pins the plain-Scala oracle on the reference's three-document corpus
  * (FIXTURES.md section A.2) and its `b.txt` golden (section A.3). */
class IndexOracleSpec extends AnyFunSuite {

  private val small = Seq(
    1 -> "The bright sun shines in the blue sky as birds are singing today.",
    2 -> "This calm morning, the sky is blue, and gentle clouds float by.",
    3 -> "In the peaceful evening, the stars shine brightly in the quiet sky.")

  private lazy val index = IndexOracle.build(small.map { case (id, t) => id -> t.getBytes(US_ASCII) })
  private def file(l: Char) = new String(index(l), US_ASCII)

  test("b.txt matches the reference golden") {
    assert(file('b') == "blue:[1 2]\nbirds:[1]\nbright:[1]\nbrightly:[3]\nby:[2]\n")
  }

  test("all 26 letter files exist, unused letters empty") {
    assert(index.keySet == ('a' to 'z').toSet)
    assert(file('z').isEmpty && file('x').isEmpty)
  }

  test("df desc then word asc; ids ascending") {
    assert(file('t') == "the:[1 2 3]\nthis:[2]\ntoday:[1]\n")
    assert(file('s').linesIterator.toSeq ==
      Seq("sky:[1 2 3]", "shine:[3]", "shines:[1]", "singing:[1]", "stars:[3]", "sun:[1]"))
  }

  test("tokens are cleaned inside, not re-split") {
    val words = IndexOracle.words("Don't  x1y\tMr. 1999 -- A-b\r\nok".getBytes(US_ASCII))
    assert(words.toSeq == Seq("dont", "xy", "mr", "ab", "ok"))
  }
}
