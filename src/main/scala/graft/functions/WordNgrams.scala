package graft.functions

import java.nio.charset.StandardCharsets
import java.util.Arrays
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingle Generator: one pass over the line bytes
  * producing the space-joined n-grams of the cleaned word stream
  * (lowercase alnum words — the `[a-z0-9]` tokenization of
  * TextFunctions.wordsArr).
  *
  * Two modes:
  *   - `distinct = true` (default, shingle semantics): per-document
  *     DISTINCT n-grams; documents with fewer than n words emit the
  *     single whole-document shingle, matching TextFunctions.shingles.
  *   - `distinct = false` (occurrence semantics, for LM counts —
  *     q92): EVERY n-gram occurrence in order, and a document with
  *     fewer than n words emits nothing (it has no n-gram).
  *
  * This replaces a four-deep higher-order-function chain
  * (split→transform→filter→shingle-transform→array_distinct→explode),
  * which is interpreted (CodegenFallback) and was the dominant cost of
  * the dedup pipelines. Per-document dedup happens in the generator's
  * hash set — no extra exchange.
  */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1)

  override def elementSchema: StructType =
    StructType(StructField("sh", StringType, nullable = false) :: Nil)

  override def prettyName: String = "word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    if (line == null) Nil
    else {
      val words = WordNgrams.cleanWords(line.getBytes)
      val out = mutable.ArrayBuffer.empty[String]
      val seen = if (distinct) mutable.HashSet.empty[String] else null
      // the short-doc whole-document fallback is shingle (distinct-mode)
      // semantics only; occurrence mode emits nothing for a short doc
      WordNgrams.ngramIterator(words, n, shortDocFallback = distinct)
        .foreach { s => if (!distinct || seen.add(s)) out += s }
      out.iterator.map(s => InternalRow(UTF8String.fromString(s))).toSeq
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** Positional variant of [[WordNgrams]] for span-level operators
  * (duplicated-span extraction, q103): one row per n-gram occurrence
  * `(pos, nw, sh)` — 0-based start position, the document's cleaned
  * word count, and the space-joined gram. Documents with 0 < words < n
  * emit the single whole-document gram at position 0 (the shingle
  * fallback); empty documents emit nothing. Same byte-wise tokenizer
  * and gram assembly as [[WordNgrams]] (single source of truth), one
  * pass, no intermediate array column.
  */
case class PositionalWordNgrams(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1)

  override def elementSchema: StructType = StructType(
    StructField("pos", IntegerType, nullable = false) ::
      StructField("nw", IntegerType, nullable = false) ::
      StructField("sh", StringType, nullable = false) :: Nil)

  override def prettyName: String = "positional_word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    if (line == null) Nil
    else {
      val words = WordNgrams.cleanWords(line.getBytes)
      if (words.length == 0) Nil
      else
        WordNgrams.ngramIterator(words, n, shortDocFallback = true)
          .zipWithIndex
          .map { case (s, i) =>
            InternalRow(i, words.length, UTF8String.fromString(s))
          }.toSeq
    }
  }

  override protected def withNewChildInternal(newChild: Expression): PositionalWordNgrams =
    copy(child = newChild)
}

object PositionalWordNgrams {
  def apply(c: Column, n: Int): Column =
    Bridge.column(PositionalWordNgrams(Bridge.expression(c), n))
}

object WordNgrams {

  /** Whitespace-split words cleaned to lowercase `[a-z0-9]` (digits kept —
    * the dedup/fingerprint tokenization, unlike the index tokenizer's
    * letters-only rule). Shared with [[ContainsBenchmarkNgram]].
    */
  private[graft] def cleanWords(in: Array[Byte]): Array[String] = {
    val words = mutable.ArrayBuffer.empty[String]
    new AlnumScanner {
      def word(bytes: Array[Byte], len: Int): Unit =
        words += new String(bytes, 0, len, StandardCharsets.ISO_8859_1)
    }.scan(in)
    words.toArray
  }

  /** THE n-gram enumeration — single source of truth shared by the
    * generator and [[ContainsBenchmarkNgram]], so the batch/streaming
    * decontamination parity can never drift on tokenjoin semantics:
    * every occurrence in order; a document with fewer than n words
    * yields the single whole-document shingle iff `shortDocFallback`.
    */
  private[graft] def ngramIterator(
      words: Array[String], n: Int, shortDocFallback: Boolean): Iterator[String] =
    if (words.length >= n)
      Iterator.range(0, words.length - n + 1).map { i =>
        val sb = new java.lang.StringBuilder(words(i))
        var k = 1
        while (k < n) { sb.append(' ').append(words(i + k)); k += 1 }
        sb.toString
      }
    else if (shortDocFallback) Iterator.single(words.mkString(" "))
    else Iterator.empty

  def apply(c: Column, n: Int): Column =
    Bridge.column(WordNgrams(Bridge.expression(c), n))

  def apply(c: Column, n: Int, distinct: Boolean): Column =
    Bridge.column(WordNgrams(Bridge.expression(c), n, distinct))
}

/** The text pipelines' word rules over raw bytes, behind
  * [[WordNgrams.cleanWords]] and [[HasAllWords]]. A token is a maximal run
  * of non-whitespace bytes (Java's `\s`: space and `\t \n \x0B \f \r`);
  * its word is its ASCII letters and digits, letters lowercased, joined
  * (`A-1` → `a1`, `don't` → `dont`); every other byte is dropped, and a
  * token with neither is no word. The index tokenizer's [[WordScanner]]
  * keeps letters only.
  */
private[graft] abstract class AlnumScanner {
  private var pending = new Array[Byte](32)
  private var len = 0

  /** Called once per word: its bytes are `bytes(0 until len)`, valid only
    * until the next word.
    */
  protected def word(bytes: Array[Byte], len: Int): Unit

  /** Scan one whole text. */
  final def scan(in: Array[Byte]): Unit = {
    var i = 0
    while (i < in.length) {
      val b = in(i)
      if (b == ' ' || (b >= 9 && b <= 13)) end()
      else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')) {
        if (len == pending.length) pending = Arrays.copyOf(pending, 2 * len)
        pending(len) = (b | 0x20).toByte // lowercases a letter; digits have the bit set
        len += 1
      }
      i += 1
    }
    end()
  }

  private def end(): Unit = if (len > 0) { word(pending, len); len = 0 }
}
