package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document statistics — ALL the scan-side metrics the quality
  * gate and language-ID heuristics need, in one native pass, emitted as
  * exactly ONE row per document:
  *
  *   - `n_ws_tokens`: maximal non-whitespace runs (the `split(\s+)` +
  *     non-empty filter count);
  *   - `n_words`: cleaned `[a-z0-9]` words ([[WordNgrams.cleanWords]]
  *     semantics — the byte-wise twin of `TextFunctions.wordsArr`);
  *   - `n_punct`: characters outside `[A-Za-z0-9\s]` (every non-ASCII
  *     character counts, exactly like the regex strip it replaces);
  *   - `n_chars`: character count (= `length(text)`);
  *   - `word_len_sum`: Σ cleaned-word lengths (mean_word_len numerator);
  *   - `s_<lang>`: stopword hits per language, counted WITH repetition,
  *     one column per `stopLists` entry in given order.
  *
  * Why a Generator and not a struct-returning scalar: projections that
  * read k fields of a scalar struct re-evaluate the expression k times
  * (CollapseProject re-inlines; no CSE for non-trivial expressions),
  * and the HOF formulation this replaces re-ran the interpreted
  * tokenize chain ~8× per row in `documentProfile` — the measured hot
  * spot of the curation queries. A Generate materializes the row once.
  *
  * NULL text emits one all-zero row (an empty document), keeping the
  * operator row-preserving. ASCII-contract caveat of the byte-wise
  * tokenizer applies (documented on [[WordNgrams]]); all oracle
  * fixtures are ASCII, where the two tokenizers agree exactly.
  */
case class DocStats(child: Expression, stopLists: Seq[(String, Seq[String])])
    extends UnaryExpression with Generator with CodegenFallback {

  require(stopLists.nonEmpty, "doc_stats needs at least one stopword list")

  override def elementSchema: StructType = StructType(
    Seq(
      StructField("n_ws_tokens", IntegerType, nullable = false),
      StructField("n_words", IntegerType, nullable = false),
      StructField("n_punct", IntegerType, nullable = false),
      StructField("n_chars", IntegerType, nullable = false),
      StructField("word_len_sum", LongType, nullable = false)) ++
      stopLists.map { case (lang, _) =>
        StructField(s"s_$lang", IntegerType, nullable = false)
      })

  override def prettyName: String = "doc_stats"

  private lazy val stopSets: Array[java.util.HashSet[String]] =
    stopLists.map { case (_, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    val k = stopSets.length
    if (line == null) {
      val zeros = new Array[Any](5 + k)
      var i = 0
      while (i < 5 + k) { zeros(i) = if (i == 4) 0L else 0; i += 1 }
      return InternalRow.fromSeq(zeros.toIndexedSeq) :: Nil
    }
    val in = line.getBytes
    // pass 1: character classes, the pass TokenCounts shares
    val chars = CharClassCounts.of(in)
    // pass 2: cleaned words (shared tokenizer — dedup/ranking parity)
    val words = WordNgrams.cleanWords(in)
    var lenSum = 0L
    val hits = new Array[Int](k)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      lenSum += w.length
      var li = 0
      while (li < k) {
        if (stopSets(li).contains(w)) hits(li) += 1
        li += 1
      }
      wi += 1
    }
    val out = new Array[Any](5 + k)
    out(0) = chars.nonWsRuns
    out(1) = words.length
    out(2) = chars.other
    out(3) = chars.chars
    out(4) = lenSum
    var oi = 0
    while (oi < k) { out(5 + oi) = hits(oi); oi += 1 }
    InternalRow.fromSeq(out.toIndexedSeq) :: Nil
  }

  override protected def withNewChildInternal(newChild: Expression): DocStats =
    copy(child = newChild)
}

object DocStats {
  def apply(c: Column, stopLists: Seq[(String, Seq[String])]): Column =
    Bridge.column(DocStats(Bridge.expression(c), stopLists))
}
