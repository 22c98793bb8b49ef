package graft.functions

import java.nio.charset.StandardCharsets
import java.util.Arrays
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native boolean-AND predicate: true iff every one of `terms` is among
  * the words of the text, words as [[AlnumTokens]] emits them (the
  * [[AlnumScanner]] rules of [[WordNgrams.cleanWords]]). One byte pass per
  * row and no allocation per word, so a boolean search is a filter on the
  * document row: no per-word rows, no aggregate, no join. Terms must be
  * distinct and non-empty; a term that is no cleaned word (upper case,
  * punctuation) matches no text. Null propagates.
  */
case class HasAllWords(child: Expression, terms: Seq[String]) extends UnaryExpression {

  require(terms.nonEmpty && terms.distinct.size == terms.size,
    s"terms must be distinct and non-empty: $terms")

  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.map(_.getBytes(StandardCharsets.UTF_8)).toArray

  override def dataType: DataType = BooleanType
  override def prettyName: String = "has_all_words"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  /** Row kernel, also the codegen entry point. */
  def compute(text: UTF8String): Boolean = {
    val found = new Array[Boolean](termBytes.length)
    var missing = termBytes.length
    new AlnumScanner {
      def word(bytes: Array[Byte], len: Int): Unit = {
        var t = 0
        while (t < termBytes.length) {
          val term = termBytes(t)
          if (!found(t) && Arrays.equals(term, 0, term.length, bytes, 0, len)) {
            found(t) = true
            missing -= 1
          }
          t += 1
        }
      }
    }.scan(text.getBytes)
    missing == 0
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("haw", this, classOf[HasAllWords].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): HasAllWords =
    copy(child = newChild)
}

object HasAllWords {
  def apply(c: Column, terms: Seq[String]): Column =
    Bridge.column(HasAllWords(Bridge.expression(c), terms))
}
