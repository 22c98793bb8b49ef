package graft.functions

import java.util.Arrays
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Generator: the distinct words of one text, one row each — the
  * reference mapper's per-file `partial_map` (`src/functions.cpp:75-87`)
  * for a document held in a row. Words follow [[WordScanner]]'s rules, as
  * [[Tokenize]]'s do, and the dedup is [[WordSet]]'s, shared with
  * [[DocumentWords]] (the same per-document dedup for a document held in
  * a file). NULL text has no words.
  */
case class DistinctWords(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("word", StringType, nullable = false) :: Nil)

  override def prettyName: String = "distinct_words"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input).asInstanceOf[UTF8String]
    if (text == null) Nil
    else {
      val words = new WordSet
      val bytes = text.getBytes
      words.feed(bytes, bytes.length)
      words.rows()
    }
  }

  override protected def withNewChildInternal(newChild: Expression): DistinctWords =
    copy(child = newChild)
}

object DistinctWords {
  /** Column-level wrapper (use in `select` — plans a Generate). */
  def apply(c: Column): Column = Bridge.column(DistinctWords(Bridge.expression(c)))
}

/** The distinct words of one document, fed whole or in chunks: the one
  * copy of the per-document dedup behind [[DistinctWords]] and
  * [[DocumentWords]]. A word is copied only the first time it is seen.
  */
private[graft] final class WordSet extends WordScanner {
  private val distinct = new java.util.HashSet[UTF8String]()

  protected def word(bytes: Array[Byte], len: Int): Unit =
    if (!distinct.contains(UTF8String.fromBytes(bytes, 0, len)))
      distinct.add(UTF8String.fromBytes(Arrays.copyOf(bytes, len)))

  /** End the document; its words, one single-field row each. */
  def rows(): Iterator[InternalRow] = {
    end()
    distinct.iterator.asScala.map(w => InternalRow(w))
  }
}
