package perfsuite

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

/** Seeded synthetic corpus shaped like the reference's: many plain-text
  * files, Zipf-distributed word frequencies, mixed case, punctuation glued
  * to words, digits and stray symbols that clean away, and a count-prefixed
  * manifest (`N` then N relative paths, doc id = 1-based position).
  *
  * The caller picks file count, size, vocabulary and exponent (the
  * benchmark matches the reference's file count and distinct-word count).
  * The case, punctuation and digit rates below are rough English-prose
  * rates, not measured from the reference; they only set how much each
  * token is cleaned, never which words the index holds.
  *
  * Deterministic per seed: the only randomness is one `SplittableRandom`
  * seeded from `seed`, consumed in a fixed order, so the same parameters
  * give byte-identical files.
  */
object CorpusGen {

  final case class Params(files: Int, bytesPerFile: Int, vocab: Int, zipfS: Double)

  final case class Corpus(manifest: Path, baseDir: Path, bytes: Long)

  private val Punct = Array(".", ",", ";", ":", "!", "?", ")", "\"")

  def generate(seed: Long, p: Params, dir: Path): Corpus = {
    val rnd = new java.util.SplittableRandom(seed)
    val words = vocabulary(rnd, p.vocab)
    val cdf = zipfCdf(p.vocab, p.zipfS)
    val base = Files.createDirectories(dir.resolve("docs"))
    // file sizes spread evenly over 0.5x..1.5x the mean, in a seeded order,
    // so every seed gets the same total size
    val sizes = shuffle(rnd, Array.tabulate(p.files)(i =>
      (p.bytesPerFile * (0.5 + i.toDouble / math.max(1, p.files - 1))).toInt))
    var total = 0L
    val names = (1 to p.files).map { i =>
      val name = f"doc$i%05d.txt"
      total += writeDoc(rnd, words, cdf, sizes(i - 1), base.resolve(name))
      name
    }
    val manifest = dir.resolve("manifest.txt")
    Files.write(manifest, (p.files.toString +: names).mkString("", "\n", "\n").getBytes(US_ASCII))
    Corpus(manifest, base, total)
  }

  /** Distinct lowercase words of 1..12 letters; short words get the
    * frequent ranks, as in natural text. */
  private def vocabulary(rnd: java.util.SplittableRandom, n: Int): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = 1 + math.min(11, (math.log(i + 2.0) * (0.8 + rnd.nextDouble() * 0.8)).toInt)
      val sb = new StringBuilder
      for (_ <- 0 until len) sb.append(('a' + rnd.nextInt(26)).toChar)
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  private def shuffle(rnd: java.util.SplittableRandom, a: Array[Int]): Array[Int] = {
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    for (r <- 0 until n) { acc += 1.0 / math.pow(r + 1.0, s); cdf(r) = acc }
    for (r <- 0 until n) cdf(r) /= acc
    cdf
  }

  private def sample(rnd: java.util.SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** One token as it appears in the text: the word with its case and
    * punctuation mangled, or now and then a token that cleans to nothing. */
  private def token(rnd: java.util.SplittableRandom, w: String): String = {
    val r = rnd.nextInt(1000)
    if (r < 8) return rnd.nextInt(10000).toString // digits only: dropped
    if (r < 12) return "--"                        // symbols only: dropped
    val cased = rnd.nextInt(100) match {
      case x if x < 12 => w.capitalize
      case x if x < 14 => w.toUpperCase
      case _ => w
    }
    val inner =
      if (cased.length > 3 && rnd.nextInt(100) < 3) { // don't -> dont, x1y -> xy
        val at = 1 + rnd.nextInt(cased.length - 1)
        cased.substring(0, at) + (if (rnd.nextBoolean()) "'" else "1") + cased.substring(at)
      } else cased
    rnd.nextInt(100) match {
      case x if x < 9 => inner + Punct(rnd.nextInt(Punct.length))
      case x if x < 10 => "(" + inner
      case _ => inner
    }
  }

  private def writeDoc(rnd: java.util.SplittableRandom, words: Array[String],
                       cdf: Array[Double], size: Int, path: Path): Long = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    var written = 0L
    try {
      while (written < size) {
        val n = 6 + rnd.nextInt(12)
        val line = (0 until n).map(_ => token(rnd, words(sample(rnd, cdf)))).mkString(" ") + "\n"
        val b = line.getBytes(US_ASCII)
        out.write(b)
        written += b.length
      }
    } finally out.close()
    written
  }
}
