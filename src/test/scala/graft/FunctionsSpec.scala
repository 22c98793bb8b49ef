package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.AsciiCleanLower

class FunctionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("ascii_clean_lower matches the regex formulation on random strings") {
    val rnd = new Random(42)
    val samples = (1 to 200).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => rnd.nextInt(0x3000).toChar).mkString
    } :+ "" :+ "don't Mr. x1y“curly”"
    val df = samples.toDF("t")
    val rows = df.select(
      AsciiCleanLower(col("t")).as("native"),
      lower(regexp_replace(col("t"), "[^A-Za-z]", "")).as("regex"))
      .as[(String, String)].collect()
    rows.zip(samples).foreach { case ((native, regex), in) =>
      assert(native == regex, s"input: ${in.map(_.toInt).mkString(",")}")
    }
  }

  test("ascii_clean_lower reference semantics: join survivors, strip non-ASCII") {
    val got = Seq("don't", "Mr.", "x1y", "“curly”", "abc", "123", "")
      .toDF("t").select(AsciiCleanLower(col("t"))).as[String].collect().toSeq
    assert(got == Seq("dont", "mr", "xy", "curly", "abc", "", ""))
  }

  test("ascii_clean_lower is SQL-registered via GraftFunctions") {
    GraftFunctions.register(spark)
    val got = spark.sql("SELECT ascii_clean_lower('Hello, Wörld!') AS w")
      .as[String].collect().head
    assert(got == "hellowrld")
  }

  test("alnum_word_count matches the generator and the HOF tokenizer on ASCII") {
    import graft.functions.{AlnumWordCount, TextFunctions}
    val rnd = new Random(21)
    // ASCII-only samples: the byte-wise and regex tokenizers agree by
    // contract on all ASCII input (divergence is limited to the two
    // exotic Unicode lowercase mappings documented on shinglePairs)
    val samples = ((1 to 200).map { _ =>
      (1 to rnd.nextInt(60)).map(_ => rnd.nextInt(0x80).toChar).mkString
    } :+ "" :+ " don't  Mr.\tx1y 123 ABC  " :+ "!!! ??? ...").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val rows = samples.toDF("id", "text")
      .select(
        AlnumWordCount(col("text")).as("native"),
        size(TextFunctions.wordsArr(col("text"))).as("hof"))
      .as[(Int, Int)].collect()
    rows.zip(samples).foreach { case ((native, hof), (_, in)) =>
      assert(native == hof, s"input: ${in.map(_.toInt).mkString(",")}")
    }
  }

  test("token_chunks matches the composed slice+md5 formulation and covers every word") {
    import graft.functions.{TokenChunks, TextFunctions}
    val (cs, stride) = (7, 4)
    val rnd = new Random(33)
    val samples = ((1 to 150).map { _ =>
      (1 to rnd.nextInt(40)).map(_ =>
        if (rnd.nextBoolean()) ('a' + rnd.nextInt(26)).toChar else ' ').mkString
    } :+ "" :+ "   " :+ "one" :+ "a b c d e f g h i j k l m")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val d = samples.toDF("doc_id", "text")
    val native = d
      .select(col("doc_id"), TokenChunks(col("text"), cs, stride))
      .as[(Long, Int, Int, Int, String)].collect().sorted.toSeq
    // composed twin: explode chunk ids, slice the words array, md5 the join
    val w = TextFunctions.wordsArr(col("text"))
    val composed = d
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          floor((size(col("w")) - 1) / stride).cast("int"))).as("c"))
      .select(col("doc_id"), col("c"), (col("c") * stride).as("start"),
        least(lit(cs), size(col("w")) - col("c") * stride).as("n"),
        md5(concat_ws(" ", slice(col("w"), col("c") * stride + 1, lit(cs)))).as("fp"))
      .as[(Long, Int, Int, Int, String)].collect().sorted.toSeq
    assert(native == composed)
    // coverage: with stride <= size every word index falls in >= 1 chunk
    native.groupBy(_._1).foreach { case (id, chunks) =>
      val covered = chunks.flatMap(c => c._3 until (c._3 + c._4)).toSet
      val total = samples(id.toInt)._2.split("\\s+").count(_.exists(_.isLetterOrDigit))
      assert(covered == (0 until total).toSet, s"doc $id: $covered vs $total words")
    }
  }

  test("quantize_int8 matches the HOF formulation; error bounded by scale/2") {
    import graft.functions.QuantizeInt8
    val rnd = new Random(44)
    val vecs = ((1 to 200).map { _ =>
      Array.fill(16)((rnd.nextDouble() - 0.5) * 4.0)
    } :+ Array.fill(16)(0.0) :+ Array(1.0, -1.0, 0.5, -0.25))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    val d = vecs.toDF("id", "v")
    val native = d.select(col("id"), QuantizeInt8(col("v")).as("q"))
      .select(col("id"), col("q.scale"), col("q.q_sum"), col("q.n_sat"), col("q.max_abs_err"))
      .as[(Long, Double, Long, Int, Double)].collect().sortBy(_._1).toSeq
    val amax = array_max(transform(col("v"), abs(_)))
    val sc = amax / 127.0
    val qArr = transform(col("v"), x => floor(x / sc + lit(0.5)).cast("long"))
    val hof = d.select(
      col("id"),
      when(amax === 0.0, 0.0).otherwise(sc).as("scale"),
      when(amax === 0.0, 0L)
        .otherwise(aggregate(qArr, lit(0L), _ + _)).as("q_sum"),
      when(amax === 0.0, 0)
        .otherwise(size(filter(qArr, q => abs(q) === 127L))).as("n_sat"),
      when(amax === 0.0, 0.0)
        .otherwise(array_max(zip_with(qArr, col("v"),
          (q, x) => abs(q.cast("double") * sc - x)))).as("err"))
      .as[(Long, Double, Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(native == hof)
    native.foreach { case (id, scale, _, _, err) =>
      assert(err <= scale / 2 + 1e-12, s"vec $id err $err > scale/2 ${scale / 2}")
    }
    val zero = native.find(_._1 == 200L).get
    assert(zero == ((200L, 0.0, 0L, 0, 0.0)), "all-zero vector quantizes to zeros")
  }

  test("WordNgrams occurrence mode emits every n-gram in order, no short-doc fallback") {
    val df = Seq((1L, "a B a b"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val occ = df.select(col("doc_id"),
        graft.functions.WordNgrams(col("text"), 2, distinct = false).as("bg"))
      .as[(Long, String)].collect().toSeq
    assert(occ == Seq((1L, "a b"), (1L, "b a"), (1L, "a b")))
    // default distinct mode is unchanged: dedup + whole-doc fallback
    val dis = df.select(col("doc_id"),
        graft.functions.WordNgrams(col("text"), 2).as("sh"))
      .as[(Long, String)].collect().toSeq
    assert(dis == Seq((1L, "a b"), (1L, "b a"), (2L, "solo"), (3L, "")))
  }

  test("zorder key interleaves bits exactly and orders monotonically per dimension") {
    import graft.functions.ZOrderKey.interleave
    // bit-by-bit reference implementation
    def ref(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new Random(21)
    (1 to 2000).foreach { _ =>
      val a = rnd.nextLong() & 0x7fffffffL
      val b = rnd.nextLong() & 0x7fffffffL
      assert(interleave(a, b) == ref(a, b), s"($a, $b)")
      // fixing one dimension, the key is strictly monotone in the other
      if (a > 0) assert(interleave(a - 1, b) < interleave(a, b))
      if (b > 0) assert(interleave(a, b - 1) < interleave(a, b))
    }
    // documented masking: only the low 32 bits of each input participate
    assert(interleave(1L << 40 | 5L, 0L) == interleave(5L, 0L))
  }

  test("native Tokenize generator matches the composed built-ins") {
    val rnd = new Random(13)
    val samples = ((1 to 100).map { _ =>
      (1 to rnd.nextInt(60)).map(_ => rnd.nextInt(0x300).toChar).mkString
    } :+ "" :+ " don't  Mr.\tx1y “curly” 123 ABC  ").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = samples.toDF("doc_id", "text")
    val native = graft.operators.Tokenizer.tokens(df, "text", Seq("doc_id"))
      .as[(Long, String)].collect().toSeq.sorted
    val composed = graft.operators.Tokenizer.tokensComposed(df, "text", Seq("doc_id"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(native == composed)
  }

  test("docWords (one row per document) equals tokens + dropDuplicates on edge texts") {
    import graft.operators.Tokenizer
    val texts = Seq[(Long, String)](
      1L -> "", 2L -> null, 3L -> "Alpha\r\nbeta\r\nalpha\r\n", 4L -> "one\rtwo\rONE\r",
      6L -> "Word word WORD wOrD words", 7L -> "don't dont do-n't x1y xy Mr. mr “mr”",
      8L -> "  \t \u000b\f ")
    // invalid UTF-8: a stray 0xff inside a word, a truncated 2-byte and a
    // truncated 3-byte sequence as whole tokens, and the word repeated
    val invalid = "61ff6220c32820e2822820626164204162"
    val df = texts.toDF("doc_id", "text").union(Seq(5L -> invalid).toDF("doc_id", "hex")
      .select(col("doc_id"), unhex(col("hex")).cast("string").as("text")))
    assert(df.filter(col("doc_id") === 5).select(octet_length(col("text"))).as[Int].head() ==
      invalid.length / 2, "the invalid bytes must reach the tokenizer as they are")
    val native = Tokenizer.docWords(df, "text", "doc_id").as[(Long, String)].collect().toSeq.sorted
    val composed = Tokenizer.tokens(df, "text", Seq("doc_id")).dropDuplicates("doc_id", "word")
      .as[(Long, String)].collect().toSeq.sorted
    assert(native == composed)
    assert(native.filter(_._1 == 5L) == Seq(5L -> "ab", 5L -> "bad"))
  }

  test("booleanAnd (a per-row filter) equals the count-equality-plus-join formulation") {
    import graft.functions.AlnumTokens
    import graft.queries.SearchQueries
    val terms = SearchQueries.Bm25Terms
    assert(terms == Seq("hash", "join", "scan"), "the fixture texts are written for these terms")
    val d = Seq[(Long, String, String)](
      (1L, "HASH join, Scan.", "a"), // split by case and punctuation
      (2L, "ha-sh jo'in sc.an", "b"), // punctuation inside the tokens
      (3L, "hash join", "c"), // one term missing
      (4L, "hashing join scanner", "d"), // two terms only as substrings
      (5L, "hashjoin scan", "e"),
      (6L, "hash hash join\tjoin\r\nscan", null), // repeats, other whitespace
      (7L, null, "g"),
      (8L, "", "h"),
      (9L, "hash1 join scan", "i"), // digits stay in the word
      (10L, "scan join hash", "j"))
      .toDF("doc_id", "text", "source")
    val got = SearchQueries.booleanAnd(d).as[(Long, String)].collect().toSeq.sorted
    val counted = d.select(col("doc_id"), AlnumTokens(col("text")))
      .filter(col("word").isin(terms: _*))
      .select(col("doc_id"), col("word")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === terms.length)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(got == counted)
    assert(got.map(_._1) == Seq(1L, 2L, 6L, 10L))
  }

  test("collect_index: per-word distinct ids from unsorted, merged, null, empty input") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.CollectIndex
    val f = CollectIndex(BoundReference(0, StringType, nullable = true),
      BoundReference(1, LongType, nullable = true))
    def words(pairs: (String, Any)*) = pairs.foldLeft(f.createAggregationBuffer()) {
      case (b, (w, d)) => f.update(b, InternalRow(if (w == null) null else UTF8String.fromString(w), d))
    }
    def index(b: CollectIndex.Words): Map[String, (Seq[Long], Long)] = {
      val a = f.eval(b).asInstanceOf[ArrayData]
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 3)
        r.getUTF8String(0).toString -> (r.getArray(1).toLongArray().toSeq, r.getLong(2))
      }.toMap
    }
    // unsorted ids, repeats, null ids and null words, words of several letters
    assert(index(words("b" -> 9L, "a" -> 3L, "b" -> 3L, "b" -> 3L, "b" -> 7L, "c" -> null,
      (null, 4L), "b" -> 1L, "b" -> 9L, "apple" -> 2L)) ==
      Map("b" -> (Seq(1L, 3L, 7L, 9L), 4L), "a" -> (Seq(3L), 1L), "c" -> (Nil, 0L),
        "apple" -> (Seq(2L), 1L)))
    // duplicates across buffers, each shipped as its serialized map
    def shipped(pairs: (String, Any)*) = f.deserialize(f.serialize(words(pairs: _*)))
    assert(index(f.merge(shipped("x" -> 5L, "x" -> 2L, "y" -> 8L, "z" -> null),
      shipped("x" -> 8L, "y" -> 1L, "x" -> 5L, "x" -> 5L, "z" -> 3L))) ==
      Map("x" -> (Seq(2L, 5L, 8L), 3L), "y" -> (Seq(1L, 8L), 2L), "z" -> (Seq(3L), 1L)))
    assert(index(f.merge(shipped("x" -> 1L, "x" -> 2L), shipped("x" -> 3L, "x" -> 4L))) ==
      Map("x" -> (Seq(1L, 2L, 3L, 4L), 4L)))
    assert(index(shipped()).isEmpty && index(f.createAggregationBuffer()).isEmpty)
    // through the planned partial and final aggregation, grouped by first
    // letter as the index build groups it, and a global aggregate over no rows
    val df = Seq((4L, "xa"), (1L, "xa"), (3L, "y"), (1L, "xa"), (2L, "xb"), (4L, "xa"), (2L, "y"))
      .toDF("doc_id", "word").repartition(3)
    val agg = df.groupBy(substring(col("word"), 1, 1).as("letter"))
      .agg(CollectIndex(col("word"), col("doc_id")).as("words"))
    val planned = agg.queryExecution.executedPlan.toString
    assert("collect_index".r.findAllIn(planned).size >= 2 && planned.contains("partial_collect_index"),
      s"expected a partial and a final collect_index:\n$planned")
    val got = agg.select(col("letter"), inline(col("words")))
      .as[(String, String, Seq[Long], Long)].collect().map(r => r._2 -> (r._1, r._3, r._4)).toMap
    assert(got == Map("xa" -> ("x", Seq(1L, 4L), 2L), "xb" -> ("x", Seq(2L), 1L),
      "y" -> ("y", Seq(2L, 3L), 2L)))
    assert(df.filter(lit(false)).agg(CollectIndex(col("word"), col("doc_id")))
      .head().getSeq[Any](0).isEmpty)
  }

  test("SimplifyAsciiCleanLower removes redundant applications") {
    import graft.plans.SimplifyAsciiCleanLower
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ SimplifyAsciiCleanLower
    try {
      val df = spark.read.parquet(s"$sfDir/documents.parquet").limit(5)
        .select(AsciiCleanLower(lower(AsciiCleanLower(col("text")))).as("w"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert("ascii_clean_lower".r.findAllIn(optimized).size == 1, optimized)
      assert("(?<!_)lower\\(".r.findFirstIn(optimized).isEmpty, optimized)
      val direct = spark.read.parquet(s"$sfDir/documents.parquet").limit(5)
        .select(AsciiCleanLower(col("text")).as("w"))
      assert(df.as[String].collect().toSeq == direct.as[String].collect().toSeq)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("winnowing fingerprints: shared substrings share fingerprints") {
    import graft.functions.Winnow
    val k = 5; val w = 4
    def fp(s: String): Set[Long] =
      Winnow.fingerprints(s.getBytes("UTF-8"), k, w).toSet
    val core = "the quick brown fox jumps over the lazy dog repeatedly"
    val a = fp("PREFIX AAA " + core + " SUFFIX one")
    val b = fp("other start " + core + " different end")
    // winnowing guarantee: a shared substring of length >= w + k - 1
    // yields at least one shared fingerprint
    assert(a.intersect(b).nonEmpty)
    assert(fp(core) == fp("  " + core.toUpperCase + "!!"), "normalization-invariant")
    assert(fp("abc") == fp("abc"), "tiny docs still fingerprint")
    assert(fp("") .isEmpty)
    // disjoint content should (overwhelmingly) not collide
    assert(fp("completely unrelated words here")
      .intersect(fp("zzz qqq xxx vvv uuu")).isEmpty)
  }

  test("winnow generator emits distinct fingerprints per document") {
    import graft.functions.Winnow
    val df = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
      .select(col("doc_id"), Winnow(col("text"), 5, 4).as("fp"))
    val rows = df.as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_._1)
    byDoc.values.foreach(v => assert(v.distinct.length == v.length))
  }
}
