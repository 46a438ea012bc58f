// Lives under org.apache.spark.sql for the same reason as QuantizedDot:
// the Column↔Expression bridge (classic.ExpressionUtils) is private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All space-joined `k`-token shingles of a token array in ONE native
  * expression: element `i` of the result is
  * `concat_ws(" ", toks[i], …, toks[i+k-1])`; an array with fewer than
  * `k` tokens yields an empty result.
  *
  * The one place a word-gram string is built: shingle postings,
  * decontamination's positional grams, the quality signals, the n-gram
  * and PMI top-k, the Gopher top-2-gram and the near-dup ingest all
  * call it. It is per-row and whole-stage-codegen'd: a `lead(tok, o)`
  * window over posexploded tokens would force a hashpartitioning(doc_id)
  * exchange plus a per-doc sort of the whole token stream, and array
  * higher-order functions run interpreted (measured ~20× slower).
  *
  * Element `i` is the window that starts at token `i`, so `posexplode`
  * yields each gram with its 0-based start; incomplete trailing
  * windows are dropped (StringShinglesSpec pins (doc_id, pos, shingle)
  * against the window formulation). Null elements are skipped, as in
  * `concat_ws`; the tokenizer never produces one.
  * A null array yields null.
  */
case class StringShingles(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"shingle width must be >= 1: $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    StringShingles.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = org.apache.spark.sql.graft.StringShingles.compute($arr, $k);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StringShingles {
  private val Space = UTF8String.fromString(" ")

  /** Shared by the interpreted and generated paths. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val m = math.max(0, n - k + 1)
    val out = new Array[UTF8String](m)
    val window = new Array[UTF8String](k)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < k) {
        window(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[AnyRef]])
  }

  /** Column-level entry point. */
  def apply(toks: Column, k: Int): Column =
    ExpressionUtils.column(StringShingles(ExpressionUtils.expression(toks), k))
}
