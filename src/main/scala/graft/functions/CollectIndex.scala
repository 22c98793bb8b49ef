package graft.functions

import java.util.{Arrays, HashMap => JHashMap}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Index aggregate: the words of a group, each with its postings, as
  * `array<struct<word, postings, df>>` — postings are the word's doc IDs,
  * ascending and distinct (`sort_array(collect_set(doc_id))` on primitive
  * longs), `df` their count. A reference reducer's merge of the mappers'
  * partial maps for its letters (`src/functions.cpp:104-127`), grouped by
  * letter in [[graft.operators.InvertedIndex.buildFromTokens]].
  *
  * The buffer is a hash map from word to [[CollectIndex.Run]], a growable
  * `long[]` that appends a doc ID only when it differs from the last one,
  * so a document's repeated words and a task's in-order doc IDs cost
  * nothing extra; a run is sorted and deduplicated only if its input
  * arrived out of order, before it is shipped or returned. The whole map
  * ships as one byte array (`[n][len word n ids…]…`): no boxed set, no
  * per-element object. Grouped by first letter there are a few dozen
  * groups a task at most, so `ObjectHashAggregate` stays hash-based (it
  * sorts after 128 keys a task); a group's buffer is neither tracked nor
  * spilled by Spark's memory manager, 8 bytes a `(word, doc)` pair.
  *
  * A null word is skipped; a null doc ID adds nothing to its word's
  * postings (a word seen only with null IDs has `[]`, df 0).
  */
case class CollectIndex(word: Expression, docId: Expression, mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CollectIndex.Words] with BinaryLike[Expression] {
  import CollectIndex.{Run, Words}

  override def left: Expression = word
  override def right: Expression = docId
  override def dataType: DataType = CollectIndex.dataType
  override def nullable: Boolean = false
  override def prettyName: String = "collect_index"

  override def checkInputDataTypes(): TypeCheckResult =
    if (word.dataType == StringType && docId.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, BIGINT) arguments, got (${word.dataType.sql}, ${docId.dataType.sql})")

  override def createAggregationBuffer(): Words = new Words

  override def update(words: Words, input: InternalRow): Words = {
    val w = word.eval(input).asInstanceOf[UTF8String]
    if (w != null) {
      var run = words.get(w)
      if (run == null) {
        run = new Run(new Array[Long](4), 0, true)
        words.put(w.clone(), run) // the input row's bytes are reused
      }
      val d = docId.eval(input)
      if (d != null) run.add(d.asInstanceOf[Long])
    }
    words
  }

  override def merge(words: Words, other: Words): Words = {
    val it = other.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val run = words.get(e.getKey)
      if (run == null) words.put(e.getKey, e.getValue) // `other` is not read again
      else run.addAll(e.getValue)
    }
    words
  }

  override def eval(words: Words): Any = {
    val rows = new Array[Any](words.size)
    var i = 0
    val it = words.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val run = e.getValue
      run.normalize()
      rows(i) = InternalRow(e.getKey,
        UnsafeArrayData.fromPrimitiveArray(run.ids, Platform.LONG_ARRAY_OFFSET, run.n, 8), run.n.toLong)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(words: Words): Array[Byte] = {
    var size = 4L
    val sizing = words.entrySet.iterator
    while (sizing.hasNext) {
      val e = sizing.next()
      e.getValue.normalize()
      size += 8L + e.getKey.numBytes + 8L * e.getValue.n
    }
    val bytes = new Array[Byte](Math.toIntExact(size))
    var off = Platform.BYTE_ARRAY_OFFSET.toLong
    Platform.putInt(bytes, off, words.size)
    off += 4
    val it = words.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val (w, run) = (e.getKey, e.getValue)
      Platform.putInt(bytes, off, w.numBytes)
      w.writeToMemory(bytes, off + 4)
      off += 4 + w.numBytes
      Platform.putInt(bytes, off, run.n)
      Platform.copyMemory(run.ids, Platform.LONG_ARRAY_OFFSET, bytes, off + 4, 8L * run.n)
      off += 4 + 8L * run.n
    }
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Words = {
    var off = Platform.BYTE_ARRAY_OFFSET.toLong
    val count = Platform.getInt(bytes, off)
    off += 4
    val words = new Words(math.max(16, (count / 0.75).toInt + 1))
    var k = 0
    while (k < count) {
      val len = Platform.getInt(bytes, off)
      val w = new Array[Byte](len)
      Platform.copyMemory(bytes, off + 4, w, Platform.BYTE_ARRAY_OFFSET, len)
      off += 4 + len
      val n = Platform.getInt(bytes, off)
      val ids = new Array[Long](n)
      Platform.copyMemory(bytes, off + 4, ids, Platform.LONG_ARRAY_OFFSET, 8L * n)
      off += 4 + 8L * n
      words.put(UTF8String.fromBytes(w), new Run(ids, n, true))
      k += 1
    }
    words
  }

  override def withNewMutableAggBufferOffset(offset: Int): CollectIndex =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): CollectIndex =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CollectIndex =
    copy(word = newLeft, docId = newRight)
}

object CollectIndex {

  /** The buffer: word → its postings run. */
  type Words = JHashMap[UTF8String, Run]

  /** `ids(0 until n)`; `sorted` while every append was ascending. */
  final class Run(var ids: Array[Long], var n: Int, var sorted: Boolean) {

    def add(v: Long): Unit = if (n == 0 || ids(n - 1) != v) {
      if (n > 0 && v < ids(n - 1)) sorted = false
      if (n == ids.length) ids = Arrays.copyOf(ids, math.max(4, 2 * n))
      ids(n) = v
      n += 1
    }

    def addAll(other: Run): Unit = {
      var i = 0
      while (i < other.n) { add(other.ids(i)); i += 1 }
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

  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("postings", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("df", LongType, nullable = false))), containsNull = false)

  /** Column-level wrapper: an aggregate column for `agg`. */
  def apply(word: Column, docId: Column): Column =
    Bridge.column(CollectIndex(Bridge.expression(word), Bridge.expression(docId)).toAggregateExpression())
}
