package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-class counts of one UTF-8 text, from one byte pass with no
  * allocation beyond the result. A character is a code point (a byte that
  * is not a UTF-8 continuation byte) and falls in one class: whitespace
  * (Java regex `\s`: space and `\t \n \x0B \f \r`), an ASCII letter, an
  * ASCII digit, or other (everything else, every non-ASCII character
  * included).
  *
  *   - `nonWsRuns`: maximal runs of non-whitespace characters;
  *   - `alphaRuns`: maximal runs of ASCII letters (`[A-Za-z]+` matches);
  *   - `digitRuns`: maximal runs of ASCII digits (`[0-9]+` matches);
  *   - `other`: characters outside `[A-Za-z0-9\s]`;
  *   - `chars`: all characters (= `length(text)`).
  *
  * The one definition of these classes behind [[DocStats]] and
  * [[TokenCounts]].
  */
private[functions] final case class CharClassCounts(
    nonWsRuns: Int, alphaRuns: Int, digitRuns: Int, other: Int, chars: Int)

private[functions] object CharClassCounts {
  private final val Ws = 0
  private final val Alpha = 1
  private final val Digit = 2
  private final val Other = 3

  def of(in: Array[Byte]): CharClassCounts = {
    var nonWs, alpha, digit, other, chars = 0
    var prev = Ws // the text starts as if after whitespace
    var i = 0
    while (i < in.length) {
      val b = in(i)
      if ((b & 0xc0) != 0x80) { // not a UTF-8 continuation byte
        chars += 1
        val cls =
          if (b == ' ' || (b >= 9 && b <= 13)) Ws
          else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) Alpha
          else if (b >= '0' && b <= '9') Digit
          else Other
        if (cls != Ws && prev == Ws) nonWs += 1
        if (cls == Alpha && prev != Alpha) alpha += 1
        if (cls == Digit && prev != Digit) digit += 1
        if (cls == Other) other += 1
        prev = cls
      }
      i += 1
    }
    CharClassCounts(nonWs, alpha, digit, other, chars)
  }
}

/** Per-document token counts in one native pass, emitted as one row per
  * document:
  *
  *   - `n_ws_tokens`: whitespace tokens (`split(trim(text), '\s+')`
  *     without empty pieces);
  *   - `n_alpha_runs`: `regexp_count(text, '[A-Za-z]+')`;
  *   - `n_digit_runs`: `regexp_count(text, '[0-9]+')`;
  *   - `n_bpeish`: `regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')`,
  *     which is letter runs + digit runs + other characters.
  *
  * The regex formulation it replaces ran three regex scans per document
  * (each `regexp_count` plans as `size(regexp_extract_all(...))`, which
  * also allocates every match); TextAnalysisSpec keeps it as the
  * reference of a differential test. A Generator, as [[DocStats]], so the
  * four counts come from one evaluation rather than one per projected
  * field.
  *
  * NULL text gives NULL counts, as the regex functions do. Characters are
  * counted per code point, as Java regex counts them (an accented letter
  * or a 4-byte emoji is one other character). Caveat: on invalid UTF-8
  * the byte pass counts each non-continuation byte as a character, where
  * the regex sees the decoder's replacement characters, so the two may
  * differ there; the fixtures are valid UTF-8.
  */
case class TokenCounts(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(
    Seq("n_ws_tokens", "n_alpha_runs", "n_digit_runs", "n_bpeish")
      .map(StructField(_, IntegerType, nullable = true)))

  override def prettyName: String = "token_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    if (line == null) InternalRow(null, null, null, null) :: Nil
    else {
      val c = CharClassCounts.of(line.getBytes)
      InternalRow(c.nonWsRuns, c.alphaRuns, c.digitRuns,
        c.alphaRuns + c.digitRuns + c.other) :: Nil
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

object TokenCounts {
  def apply(c: Column): Column = Bridge.column(TokenCounts(Bridge.expression(c)))
}
