package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All L hyperplane-LSH table signatures of a vector in ONE codegen'd
  * pass: sig[t] bit b = (vec · plane[t*bits+b] >= 0).
  *
  * Why one expression instead of composing vec_dot per plane: a
  * per-plane composition is a plan with L×b dot subexpressions; every
  * consumer re-inlines them (CollapseProject) and the array literals
  * bloat the plan. Here the plane matrix rides along as a codegen
  * reference object (row-major flat double[]) and the whole signature is
  * a tight triple loop.
  */
case class HyperplaneSigs(child: Expression, planes: Array[Double],
    dim: Int, tables: Int, bitsPerTable: Int)
    extends UnaryExpression {

  require(planes.length == dim * tables * bitsPerTable,
    s"planes length ${planes.length} != $dim*$tables*$bitsPerTable")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sigs"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dim)
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bitsPerTable) {
        val base = ((t * bitsPerTable) + b) * dim
        var acc = 0.0
        var i = 0
        while (i < n) { acc += x.getDouble(i) * planes(base + i); i += 1 }
        if (acc >= 0) sig |= (1L << b)
        b += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val sigs = ctx.freshName("sigs")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $dim);
         |long[] $sigs = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $sig = 0L;
         |  for (int $b = 0; $b < $bitsPerTable; $b++) {
         |    int $base = (($t * $bitsPerTable) + $b) * $dim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $x.getDouble($i) * $planesRef[$base + $i];
         |    }
         |    if ($acc >= 0) $sig |= (1L << $b);
         |  }
         |  $sigs[$t] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneSigs = copy(child = newChild)
}

object HyperplaneSigs {
  /** hyperplane_sigs over an array<double> column. */
  def sigs(vec: Column, planes: Seq[Seq[Double]], bitsPerTable: Int): Column =
    Columns.of(HyperplaneSigs(Columns.expr(vec), planes.flatten.toArray,
      planes.head.size, planes.size / bitsPerTable, bitsPerTable))
}
