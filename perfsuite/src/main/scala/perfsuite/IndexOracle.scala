package perfsuite

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Independent plain-Scala statement of the reference index semantics,
  * used to check the engine's output. It never touches Spark or the engine:
  *
  *   - read the count-prefixed manifest; doc id = 1-based position;
  *   - split each document on whitespace bytes;
  *   - inside each token delete every byte outside `[A-Za-z]`, lowercase the
  *     rest, drop tokens left empty;
  *   - dedup words per document;
  *   - per first letter, rows `word:[id1 id2 ...]` with ascending ids,
  *     ordered by document frequency desc then word asc, one row per line;
  *     all 26 files exist, empty when no word starts with that letter.
  */
object IndexOracle {

  val Letters: Seq[Char] = 'a' to 'z'

  /** Letter -> file bytes, for every letter a..z. */
  def build(manifest: Path, baseDir: Path): Map[Char, Array[Byte]] = {
    val tokens = new String(Files.readAllBytes(manifest), US_ASCII).split("\\s+").filter(_.nonEmpty)
    val n = tokens.head.toInt
    val docs = tokens.slice(1, 1 + n).toIndexedSeq
    require(docs.length == n, s"manifest declares $n files, found ${docs.length}")
    build(docs.zipWithIndex.map { case (p, i) => (i + 1, Files.readAllBytes(baseDir.resolve(p))) })
  }

  def build(docs: Seq[(Int, Array[Byte])]): Map[Char, Array[Byte]] = {
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    docs.sortBy(_._1).foreach { case (id, bytes) =>
      words(bytes).foreach(w => postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += id)
    }
    val rows = postings.toSeq.sortBy { case (w, ids) => (-ids.length, w) }
    val byLetter = rows.groupBy(_._1.head)
    Letters.map { l =>
      val sb = new StringBuilder
      byLetter.getOrElse(l, Nil).sortBy { case (w, ids) => (-ids.length, w) }.foreach { case (w, ids) =>
        sb.append(w).append(":[").append(ids.mkString(" ")).append("]\n")
      }
      l -> sb.toString.getBytes(US_ASCII)
    }.toMap
  }

  /** Distinct cleaned words of one document. */
  def words(bytes: Array[Byte]): mutable.LinkedHashSet[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    val cur = new StringBuilder
    def flush(): Unit = if (cur.nonEmpty) { out += cur.toString; cur.clear() }
    bytes.foreach { b =>
      if (isSpace(b)) flush()
      else if (b >= 'A' && b <= 'Z') cur.append((b + 32).toChar)
      else if (b >= 'a' && b <= 'z') cur.append(b.toChar)
    }
    flush()
    out
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == 0x0b || b == 0x0c

  /** Letters whose file under `outDir` differs from the expected bytes. */
  def mismatches(expected: Map[Char, Array[Byte]], outDir: Path): Seq[Char] =
    Letters.filterNot { l =>
      val f = outDir.resolve(s"$l.txt")
      Files.isRegularFile(f) && java.util.Arrays.equals(Files.readAllBytes(f), expected(l))
    }
}
