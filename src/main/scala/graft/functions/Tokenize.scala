package graft.functions

import java.util.Arrays
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizer Generator (the engine's UDTF surface): one pass over
  * the line bytes that fuses the reference's whole inner loop —
  * whitespace split (`fin >> word`, reference `src/functions.cpp:77`),
  * non-letter deletion + lowercase (`:39-46,81`), and empty-token drop
  * (`:83-84`) — emitting one row per surviving word. The byte rules are
  * [[WordScanner]]'s, shared with [[DocumentWords]].
  *
  * Vs the composed built-ins (`explode(split(line, "\\s+"))` →
  * `ascii_clean_lower` → `filter`): no regex engine, no intermediate
  * token array, no post-filter — a single byte loop with one small
  * allocation per emitted word.
  */
case class Tokenize(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("word", StringType, nullable = false) :: Nil)

  override def prettyName: String = "tokenize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    if (line == null) Nil
    else {
      val out = new ArrayBuffer[InternalRow]()
      val words = new WordScanner {
        def word(bytes: Array[Byte], len: Int): Unit =
          out += InternalRow(UTF8String.fromBytes(Arrays.copyOf(bytes, len)))
      }
      val bytes = line.getBytes
      words.feed(bytes, bytes.length)
      words.end()
      out
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Tokenize =
    copy(child = newChild)
}

object Tokenize {
  /** Column-level wrapper (use in `select` — plans a Generate). */
  def apply(c: Column): Column =
    Bridge.column(Tokenize(Bridge.expression(c)))
}

/** The reference's word rules over raw bytes, the one copy every reader
  * of raw text uses. A token is a maximal run of non-whitespace bytes,
  * whitespace being the C `isspace` set {space, \t, \n, \v, \f, \r}
  * (`fin >> word`, and Java's `\s`). Its word is its ASCII letters,
  * lowercased and joined (`x1y` → `xy`, `don't` → `dont`); every other
  * byte, multi-byte UTF-8 included, is dropped as C-locale `isalpha`
  * drops it, and a token with no letter is no word.
  *
  * The scanner keeps the pending word between [[feed]] calls, so a file
  * can be fed in chunks and a word may straddle two of them.
  */
private[graft] abstract class WordScanner {
  private var pending = new Array[Byte](32)
  private var len = 0

  /** Called once per word: its bytes are `bytes(0 until len)`, valid only
    * until the scanner is fed again.
    */
  protected def word(bytes: Array[Byte], len: Int): Unit

  /** Scan `bytes(0 until n)`. */
  final def feed(bytes: Array[Byte], n: Int): Unit = {
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == ' ' || (b >= 9 && b <= 13)) end()
      else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
        if (len == pending.length) pending = Arrays.copyOf(pending, 2 * len)
        pending(len) = (b | 0x20).toByte // ASCII letters: set the lowercase bit
        len += 1
      }
      i += 1
    }
  }

  /** End the pending token, as whitespace or the end of the text does. */
  final def end(): Unit = if (len > 0) { word(pending, len); len = 0 }
}
