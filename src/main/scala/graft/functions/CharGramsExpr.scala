package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All overlapping character n-grams of a string, in ONE O(L) pass.
  *
  * Replaces the `transform(sequence(1, L-n+1), i -> substr(t, i, n))`
  * HOF composition in [[graft.operators.LangIdNgram.charGrams]], which
  * executed interpreted (HOFs have no codegen) with TWO superlinear
  * costs: every non-lambda subexpression in the lambda body re-evaluates
  * per element, and `substr(t, i, n)` walks the UTF-8 bytes from the
  * start for every position — O(L²) per row. This expression walks the
  * code-point offsets once and slices each gram by byte range.
  *
  * Bit-identical semantics to the HOF form (specced in
  * LangIdNgramSpec): grams are code-point substrings `substr(t, i, n)`
  * for i in 1..max(numChars-(n-1), 1) — a string shorter than n yields
  * itself as its only gram, the empty string yields [""], NULL yields
  * NULL.
  */
case class CharNGramsExpr(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"char n-grams need n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input")
  override def prettyName: String = s"char_ngrams_$n"

  override def nullSafeEval(input: Any): Any =
    CharNGramsExpr.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CharNGramsExpr.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression)
      : CharNGramsExpr = copy(child = newChild)
}

object CharNGramsExpr {

  /** The shared interpreted/codegen kernel: code-point offsets walked
    * once, grams sliced by byte range (each gram clamps at the end of
    * the string, exactly like `substringSQL(t, i, n)`). */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val numChars = s.numChars()
    val off = new Array[Int](numChars + 1)
    var i = 0
    var c = 0
    while (i < b.length) {
      off(c) = i
      c += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    off(numChars) = b.length
    val cnt = math.max(numChars - (n - 1), 1)
    val out = new Array[AnyRef](cnt)
    var g = 0
    while (g < cnt) {
      val end = math.min(g + n, numChars)
      out(g) = UTF8String.fromBytes(b, off(g), off(end) - off(g))
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Column form. */
  def grams(text: Column, n: Int): Column =
    Columns.of(CharNGramsExpr(Columns.expr(text), n))
}
