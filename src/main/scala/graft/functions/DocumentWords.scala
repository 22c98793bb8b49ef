package graft.functions

import java.net.URI
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Native Generator: the distinct words of the document at a path URI,
  * one row each — the reference mapper's per-file `partial_map`
  * (`src/functions.cpp:75-87`) at the source.
  *
  * The task opens the file through Hadoop's `FileSystem` with `conf` and
  * streams it in [[DocumentWords.ChunkBytes]] chunks through a
  * [[WordSet]] (the tokenizer's [[WordScanner]] rules and the dedup
  * [[DistinctWords]] uses for a text in a row), so a document costs its
  * vocabulary, not its size, and line ends are whitespace like any
  * other. Every byte read counts toward the task's input metrics, one
  * record per document; a missing file fails the task with its path.
  *
  * It is a Generator, not a plain expression, so the optimizer never
  * folds it into the driver's local manifest relation: the files are read
  * by the tasks.
  */
case class DocumentWords(child: Expression, conf: SerializableConfiguration)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("word", StringType, nullable = false) :: Nil)

  override def prettyName: String = "document_words"

  override def flatArguments: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING path URI, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val path = new Path(new URI(child.eval(input).toString))
    val words = new WordSet
    val in = path.getFileSystem(conf.value).open(path)
    var read = 0L
    try {
      val chunk = new Array[Byte](DocumentWords.ChunkBytes)
      var n = in.read(chunk)
      while (n >= 0) {
        words.feed(chunk, n)
        read += n
        n = in.read(chunk)
      }
    } finally in.close()
    Bridge.addInputRead(read)
    words.rows()
  }

  override protected def withNewChildInternal(newChild: Expression): DocumentWords =
    copy(child = newChild)
}

object DocumentWords {
  /** Bytes read from a file at a time. */
  private[graft] val ChunkBytes = 64 * 1024

  /** Column-level wrapper (use in `select` — plans a Generate). */
  def apply(uri: Column, conf: SerializableConfiguration): Column =
    Bridge.column(DocumentWords(Bridge.expression(uri), conf))
}
