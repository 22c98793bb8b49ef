package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  test("language ID picks the max-stopword language, alpha-first on ties, und on none") {
    val d = docs(
      1L -> "the cat and the dog of a house",   // en
      2L -> "der Hund und die Katze ist",       // de
      3L -> "le chat et les chiens une maison", // fr
      4L -> "la casa",                          // la is in both es and fr → tie → es
      5L -> "zzz qqq xxx")                      // no stopword hits → und
    val got = TextAnalysis.langId(d, "text", "doc_id")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }

  test("quality metrics match hand computation") {
    val d = docs(1L -> "The cat, the dog!") // 4 ws tokens; words: the,cat,the,dog
    val r = TextAnalysis.quality(d, "text", "doc_id").collect().head
    assert(r.getAs[Int]("n_ws_tokens") == 4)
    assert(r.getAs[Int]("n_words") == 4)
    // 2 punct chars out of 17
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 17) < 1e-6)
    // 'the' twice out of 4 words
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 0.5) < 1e-6)
    assert(math.abs(r.getAs[Double]("mean_word_len") - 3.0) < 1e-6)
    assert(r.getAs[Int]("quality_score") == 1)
  }

  test("token counts split alpha runs, digit runs, and punctuation") {
    val d = docs(1L -> "ab 12 cd! x1y")
    val r = TextAnalysis.tokenCounts(d, "text", "doc_id").collect().head
    assert(r.getAs[Int]("n_ws_tokens") == 4)
    assert(r.getAs[Int]("n_alpha_runs") == 4)  // ab, cd, x, y
    assert(r.getAs[Int]("n_digit_runs") == 2)  // 12, 1
    assert(r.getAs[Int]("n_bpeish") == 7)      // ab,12,cd,!,x,1,y
  }

  test("native token counts equal the regex formulation, per code point, NULL to NULL") {
    import org.apache.spark.sql.functions._
    // the regex formulation the native counter replaced, kept as the reference
    def byRegex(d: DataFrame): DataFrame = d.select(
      col("doc_id"),
      size(filter(split(trim(col("text")), "\\s+"), t => length(t) > 0)).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+")).as("n_alpha_runs"),
      regexp_count(col("text"), lit("[0-9]+")).as("n_digit_runs"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpeish"))
    val texts = Seq("", null, "\tlead tab", "one\r\ntwo\r\n", "x1y", "?!.,;", "...  --",
      "café naïve", "a😀b 7😀", "é", "  spaced  out  ",
      "\u000b\u000cff\u00a0nbsp", "ab12cd!x1y 42")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val real = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    for (in <- Seq(d, real)) {
      val got = TextAnalysis.tokenCounts(in, "text", "doc_id").collect().toSeq
      val want = byRegex(in).collect().toSeq
      assert(got.sortBy(_.getLong(0)) == want.sortBy(_.getLong(0)))
    }
    val nul = TextAnalysis.tokenCounts(d.filter(col("text").isNull), "text", "doc_id").collect()
    assert(nul.length == 1 && (1 to 4).forall(nul.head.isNullAt))
    val emoji = TextAnalysis.tokenCounts(d.filter(col("doc_id") === 8L), "text", "doc_id")
      .collect().head
    // a, b, 7 and two emoji: each emoji is one code point, so one bpe piece
    assert(emoji.getInt(4) == 5)
  }

  test("fingerprints equal iff normalized content equal") {
    val d = docs(
      1L -> "Alpha beta   gamma delta",
      2L -> "alpha BETA gamma\tdelta",
      3L -> "different content here now")
    val fps = TextAnalysis.fingerprints(d, "text", "doc_id")
      .select("doc_id", "fp_md5").as[(Long, String)].collect().toMap
    // 1 and 2 normalize (lower + collapse whitespace) to the same string
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("pii scrub redacts emails, IPs and card-like digit runs; clean text unchanged") {
    val d = docs(
      1L -> "contact Jane.Doe+spam@example.co.uk or admin@host.io today",
      2L -> "server 10.0.255.7 answered; card 4111111111111111 on file",
      3L -> "clean text with short numbers 42 and 1234567890 stays put",
      4L -> "release 4.2.1.7 is a version, but matches the ip shape")
    val got = TextAnalysis.piiScrub(d, "text", "doc_id")
      .select("doc_id", "n_redacted", "text_clean")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((2L,
      "contact <EMAIL> or <EMAIL> today")))
    assert(got(2L) == ((2L,
      "server <IP> answered; card <NUM> on file")))
    // 13-19 digit runs only: 2- and 10-digit numbers are not PII-shaped
    assert(got(3L) == ((0L,
      "clean text with short numbers 42 and 1234567890 stays put")))
    // documented false-positive class: freestanding dotted-quad version
    // strings match the IPv4 shape (the standard over-redaction trade)
    assert(got(4L)._1 == 1L && got(4L)._2.contains("release <IP> is"))
  }
}
