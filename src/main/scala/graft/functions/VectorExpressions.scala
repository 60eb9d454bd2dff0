package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Custom Catalyst expressions for dense-vector math.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express a dot
  * product correctly but execute it interpreted: one lambda dispatch and
  * boxed accumulator per element, plus an intermediate zipped array per
  * row. On an all-pairs similarity join that is O(pairs × dim) lambda
  * calls — the measured bottleneck at bench scale. This expression
  * generates a primitive double loop via `doGenCode` (SURVEY.md §4
  * preference order: custom Expression beats UDF), with an interpreted
  * `nullSafeEval` fallback of identical semantics (left-to-right
  * accumulation, so results are bit-identical to the HOF form).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(c => c.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> inputs")
  }
  override def prettyName: String = "vec_dot"

  // Same NULL semantics as the HOF form (zip_with pads mismatched
  // lengths with null; null * x = null; acc + null = null): mismatched
  // lengths or any null element produce NULL, never a silently
  // truncated/fabricated score.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Codegen'd dot product of two array<double> columns. */
  def vec_dot(a: Column, b: Column): Column =
    Columns.of(DotProduct(Columns.expr(a), Columns.expr(b)))
}
