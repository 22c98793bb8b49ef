package graft.functions

import java.util.{Arrays => JArrays}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rebuild a document's text from the tokens whose 1-based positions are
  * NOT in a cut set: `keep_tokens(words, cuts)` = the space-joined
  * survivors of `words` after deleting every position listed in `cuts`.
  *
  * Why a custom expression: the equivalent HOF formulation
  * `array_join(transform(filter(transform(w, (x,i) => struct(x, i+1)),
  * s => !array_contains(cuts, s.p)), s => s.tk), " ")` tests EVERY token
  * against the cut array with a linear `array_contains` scan —
  * O(n_tokens × n_cuts) per document. For exact-substring dedup (whose
  * entire premise is heavily duplicated corpora) a long, mostly
  * duplicated document (100k tokens, 50k cuts) costs ~5×10⁹ comparisons
  * inside ONE task: a single-row straggler at 100 TB scale. This
  * expression sorts the cut set once (O(c log c)) and then merge-walks
  * tokens and cuts in a single ascending pass (O(n + c)), building the
  * output bytes directly — no intermediate struct array, no per-token
  * rescans. It is also one codegen'd call instead of four interpreted
  * CodegenFallback HOF layers.
  *
  * Semantics are BIT-IDENTICAL to the HOF chain (the q344 oracle hash is
  * unchanged): positions are 1-based, duplicate cut entries are harmless
  * (the input is a collect_set anyway), cut positions outside
  * [1, n_tokens] are ignored, null tokens are skipped exactly as
  * `array_join` skips them, an all-cut document yields the empty string,
  * and a NULL on either side yields NULL (the caller coalesces cuts to
  * an empty array for the no-duplicates case).
  */
case class KeepTokens(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "keep_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<STRING>, ARRAY<INT>), got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    KeepTokens.rebuild(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.KeepTokens.rebuild($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KeepTokens =
    copy(left = newLeft, right = newRight)
}

object KeepTokens {
  /** One-pass rebuild; called from interpreted eval and generated code.
    * Sorts a primitive copy of the cut positions, then walks tokens and
    * cuts together: the cut pointer only ever advances, so the whole
    * call is O(c log c + n). Output joining matches `array_join(_, " ")`
    * exactly: separator between consecutive NON-null kept tokens, null
    * kept tokens contribute nothing (not even a separator).
    */
  def rebuild(words: ArrayData, cuts: ArrayData): UTF8String = {
    val n = words.numElements()
    val c = cuts.numElements()
    // collect_set never holds nulls, but a defensive null in the cut
    // array must not throw where array_contains would have returned
    // false — map nulls to 0, an impossible 1-based position.
    val cs = new Array[Int](c)
    var j = 0
    while (j < c) {
      cs(j) = if (cuts.isNullAt(j)) 0 else cuts.getInt(j)
      j += 1
    }
    JArrays.sort(cs)
    val kept = new java.util.ArrayList[UTF8String](n)
    var i = 0 // token index; position is i + 1
    j = 0
    while (i < n) {
      val p = i + 1
      while (j < c && cs(j) < p) j += 1
      if (!(j < c && cs(j) == p) && !words.isNullAt(i)) {
        kept.add(words.getUTF8String(i))
      }
      i += 1
    }
    UTF8String.concatWs(
      UTF8String.fromString(" "), kept.toArray(new Array[UTF8String](kept.size())): _*)
  }

  def apply(words: Column, cuts: Column): Column =
    Bridge.column(KeepTokens(Bridge.expression(words), Bridge.expression(cuts)))
}
