package graft.functions

import java.util.Arrays
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform

/** Postings aggregate: the doc IDs of a group as an ascending, distinct
  * `array<bigint>` — `sort_array(collect_set(doc_id))` on primitive longs
  * (nulls are skipped; an empty group gives `[]`).
  *
  * The buffer is a growable `long[]` run that appends a value only when it
  * differs from the last one, so a document's repeated words and a task's
  * in-order doc IDs cost nothing extra. The run is sorted and deduplicated
  * only if its input arrived out of order, before it is shipped or
  * returned, and ships as a plain array of longs: no boxed set, no
  * per-element object.
  */
case class CollectPostings(child: Expression, mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CollectPostings.Run] with UnaryLike[Expression] {
  import CollectPostings.Run

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_postings"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT argument, got ${child.dataType.sql}")

  override def createAggregationBuffer(): Run = new Run(new Array[Long](4), 0, true)

  override def update(run: Run, input: InternalRow): Run = {
    val v = child.eval(input)
    if (v != null) run.add(v.asInstanceOf[Long])
    run
  }

  override def merge(run: Run, other: Run): Run = {
    var i = 0
    while (i < other.n) { run.add(other.ids(i)); i += 1 }
    run
  }

  override def eval(run: Run): Any = {
    run.normalize()
    UnsafeArrayData.fromPrimitiveArray(run.ids, Platform.LONG_ARRAY_OFFSET, run.n, 8)
  }

  override def serialize(run: Run): Array[Byte] = {
    run.normalize()
    val bytes = new Array[Byte](run.n * 8)
    Platform.copyMemory(run.ids, Platform.LONG_ARRAY_OFFSET, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Run = {
    val ids = new Array[Long](bytes.length / 8)
    Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, ids, Platform.LONG_ARRAY_OFFSET, bytes.length)
    new Run(ids, bytes.length / 8, true)
  }

  override def withNewMutableAggBufferOffset(offset: Int): CollectPostings =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): CollectPostings =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): CollectPostings =
    copy(child = newChild)
}

object CollectPostings {

  /** `ids(0 until n)`; `sorted` while every append was ascending. */
  final class Run(var ids: Array[Long], var n: Int, var sorted: Boolean) {

    def add(v: Long): Unit = if (n == 0 || ids(n - 1) != v) {
      if (n > 0 && v < ids(n - 1)) sorted = false
      if (n == ids.length) ids = Arrays.copyOf(ids, math.max(4, 2 * n))
      ids(n) = v
      n += 1
    }

    /** Sort and drop duplicates, if the appends were out of order. */
    def normalize(): Unit = if (!sorted) {
      Arrays.sort(ids, 0, n)
      var k = 1
      var i = 1
      while (i < n) {
        if (ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 }
        i += 1
      }
      n = k
      sorted = true
    }
  }

  /** Column-level wrapper: an aggregate column for `agg`. */
  def apply(c: Column): Column =
    Bridge.column(CollectPostings(Bridge.expression(c)).toAggregateExpression())
}
