package perfsuite

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class CorpusGenSpec extends AnyFunSuite {

  private val params = CorpusGen.Params(files = 12, bytesPerFile = 4000, vocab = 500, zipfS = 1.05)

  private def gen(seed: Long): (Path, CorpusGen.Corpus) = {
    val dir = Files.createTempDirectory("corpusgen")
    dir -> CorpusGen.generate(seed, params, dir)
  }

  /** Relative path -> bytes of every file under `dir`. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  test("the same seed gives byte-identical files") {
    val (a, ca) = gen(7)
    val (b, cb) = gen(7)
    assert(ca.bytes == cb.bytes)
    assert(snapshot(a) == snapshot(b))
    assert(snapshot(a).size == params.files + 1)
  }

  test("another seed gives another corpus") {
    val (a, _) = gen(7)
    val (b, _) = gen(8)
    assert(snapshot(a) != snapshot(b))
  }

  test("the manifest is count-prefixed and the oracle reads it") {
    val (_, c) = gen(3)
    val lines = Files.readAllLines(c.manifest).asScala
    assert(lines.head == params.files.toString && lines.size == params.files + 1)
    val index = IndexOracle.build(c.manifest, c.baseDir)
    assert(index.values.map(_.length).sum > 0)
  }
}
