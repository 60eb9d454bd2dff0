package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Percentile-band assignment of a double against a LITERAL sorted
  * cut-point array — the row-local half of the GK-digest rank-cut path
  * (q_quality_ensemble_gk): digests produce the B−1 interior quantile
  * cuts once, the cuts travel as ONE codegen reference object (the
  * kmeans-centroid discipline), and every row binary-searches them in
  * a tight loop. No window, no sort, no join: the whole rank-fusion
  * read stays scan-stage at any corpus size.
  *
  * Two directions, so a band over either sort order approximates the
  * matching normalized rank:
  *  - `desc = false`: count of cuts STRICTLY BELOW the value — the
  *    ascending-rank band (low values rank first: repetition, NLL).
  *  - `desc = true`: count of cuts STRICTLY ABOVE the value — the
  *    descending-rank band (high values rank first: quality, Flesch).
  *
  * Comparisons use Double.compare (IEEE total order: NaN sorts above
  * +∞, −0 below 0) so a NaN signal lands deterministically in the last
  * band of either direction instead of poisoning the search — the same
  * place an exact NULLS LAST rank sort puts it. A null child is null.
  */
case class BandOfExpr(child: Expression, cuts: Array[Double], desc: Boolean)
    extends UnaryExpression {

  require(cuts.nonEmpty, "band cut-point array must be non-empty")
  require(cuts.sliding(2).forall(p =>
      p.length < 2 || java.lang.Double.compare(p(0), p(1)) <= 0),
    "band cut points must be sorted ascending (Double total order)")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "band_of"
  override def nullable: Boolean = true

  // Any Column can reach this expression, so reject non-double children
  // at analysis instead of class-casting in an executor.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a double value, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    BandOfExpr.band(v.asInstanceOf[Double], cuts, desc)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cuts", cuts, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      // lower bound (asc) / upper bound (desc) under Double.compare —
      // kept in lockstep with BandOfExpr.band by BandExprsSpec's
      // interpreted==codegen sweep
      val cmp = if (desc) "<= 0" else "< 0"
      val out = if (desc) s"$cRef.length - $lo" else lo
      s"""
         |int $lo = 0; int $hi = $cRef.length;
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if (java.lang.Double.compare($cRef[$mid], $x) $cmp) $lo = $mid + 1;
         |  else $hi = $mid;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : BandOfExpr = copy(child = newChild)
}

object BandOfExpr {
  /** Interpreted twin of the generated binary search. */
  def band(v: Double, cuts: Array[Double], desc: Boolean): Int = {
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Double.compare(cuts(mid), v)
      if (if (desc) c <= 0 else c < 0) lo = mid + 1 else hi = mid
    }
    if (desc) cuts.length - lo else lo
  }
}

object BandExprs {

  /** Band index (0..cuts.length) of a double column against literal
    * sorted cuts. */
  def bandOf(value: Column, cuts: Array[Double], desc: Boolean): Column =
    Columns.of(BandOfExpr(Columns.expr(value), cuts, desc))

  /** Band FRACTION in [0, 1]: bandOf / bands — the normalized-rank
    * approximation the ensemble averages. */
  def bandFrac(value: Column, cuts: Array[Double], desc: Boolean,
      bands: Int): Column =
    bandOf(value, cuts, desc).cast("double") /
      org.apache.spark.sql.functions.lit(bands.toDouble)
}
