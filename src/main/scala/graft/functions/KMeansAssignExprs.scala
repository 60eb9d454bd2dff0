package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Nearest-centroid assignment of a micro-grid vector in ONE codegen'd
  * loop — the hot inner step of every `KMeansQuant` consumer (semantic
  * dedup, IVF routing, cluster capping, inertia).
  *
  * Why an expression instead of the HOF composition it replaces: the
  * composed form is `array(k × aggregate(zip_with(vq, array(dim literal
  * nodes))))` + `array_min` + `array_position` — a plan subtree of
  * k·dim literal nodes that every consumer re-inlines (CollapseProject),
  * paying plan/codegen latency per query, and an interpreted lambda
  * dispatch per element at runtime. Here the centroid matrix rides
  * along as ONE codegen reference object and the argmin is a tight
  * integer double-loop. Semantics are bit-identical to the HOF form
  * (exact integer distances; ties break to the LOWEST cell id; any null
  * element or a dimension mismatch yields NULL — the same outcome the
  * zip_with null-padding produced).
  */
private[graft] object KMeansAssignKernel {
  /** A ragged matrix is a caller bug (a malformed Model), not a data
    * condition — fail at expression construction, not with an
    * ArrayIndexOutOfBounds in an executor loop. The NULL-on-mismatch
    * semantics below are reserved for DATA issues (a vector whose
    * dimension differs from the model's, or null elements). */
  def requireRectangular(m: Array[Array[Long]]): Unit = {
    require(m.nonEmpty, "centroid matrix must be non-empty")
    require(m.forall(_.length == m(0).length),
      s"ragged centroid matrix: dims ${m.map(_.length).distinct.mkString(",")}")
  }

  /** Shared eval-path distance kernel (null = data mismatch). */
  def distances(x: ArrayData, m: Array[Array[Long]]): Array[Long] = {
    val n = x.numElements()
    if (m(0).length != n) return null
    var i = 0
    while (i < n) { if (x.isNullAt(i)) return null; i += 1 }
    val v = x.toLongArray()
    val out = new Array[Long](m.length)
    var c = 0
    while (c < m.length) {
      val cen = m(c)
      var acc = 0L
      i = 0
      while (i < n) { val d = v(i) - cen(i); acc += d * d; i += 1 }
      out(c) = acc
      c += 1
    }
    out
  }

  /** The guard + per-centroid distance loop as a codegen fragment —
    * ONE source of truth for both expressions' doGenCode (and kept in
    * lockstep with [[distances]] above by KMeansAssignSpec's
    * interpreted==codegen test). Emits `distsVar` (long[k]) under
    * `!isNullVar`. */
  def genDistances(ctx: CodegenContext, x: String, mRef: String,
      isNullVar: String, distsVar: String): String = {
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val c = ctx.freshName("c")
    val v = ctx.freshName("v")
    val cen = ctx.freshName("cen")
    val acc = ctx.freshName("acc")
    val df = ctx.freshName("df")
    s"""
       |int $n = $x.numElements();
       |long[] $distsVar = null;
       |if ($mRef[0].length != $n) {
       |  $isNullVar = true;
       |} else {
       |  for (int $i = 0; $i < $n; $i++) {
       |    if ($x.isNullAt($i)) { $isNullVar = true; break; }
       |  }
       |}
       |if (!$isNullVar) {
       |  long[] $v = $x.toLongArray();
       |  $distsVar = new long[$mRef.length];
       |  for (int $c = 0; $c < $mRef.length; $c++) {
       |    long[] $cen = $mRef[$c];
       |    long $acc = 0L;
       |    for (int $i = 0; $i < $n; $i++) {
       |      long $df = $v[$i] - $cen[$i]; $acc += $df * $df;
       |    }
       |    $distsVar[$c] = $acc;
       |  }
       |}
     """.stripMargin
  }
}

/** `struct(c, d)` of the nearest centroid: hard assignment + its exact
  * squared distance. */
case class NearestCellExpr(child: Expression, centroids: Array[Array[Long]])
    extends UnaryExpression {

  KMeansAssignKernel.requireRectangular(centroids)

  override def dataType: DataType = StructType(Seq(
    StructField("c", LongType, nullable = false),
    StructField("d", LongType, nullable = false)))
  override def prettyName: String = "kmq_nearest"
  override def nullable: Boolean = true

  // Any Column can reach this expression; without this check an
  // array<double>/array<int> child reaches ArrayData.toLongArray, which
  // on UnsafeArrayData reinterprets raw element bytes — silent garbage
  // cell ids instead of an analysis error.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<bigint> quantized vector, got " +
            other.simpleString)
    }

  override def nullSafeEval(v: Any): Any = {
    val dists = KMeansAssignKernel.distances(
      v.asInstanceOf[ArrayData], centroids)
    if (dists == null) return null
    var bestC = 0
    var bestD = dists(0)
    var c = 1
    while (c < dists.length) {
      if (dists(c) < bestD) { bestD = dists(c); bestC = c }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestC.toLong, bestD))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("centroids", centroids, "long[][]")
    nullSafeCodeGen(ctx, ev, x => {
      val dists = ctx.freshName("dists")
      val c = ctx.freshName("c")
      val bestC = ctx.freshName("bestC")
      val bestD = ctx.freshName("bestD")
      KMeansAssignKernel.genDistances(ctx, x, mRef, ev.isNull, dists) +
      s"""
         |if (!${ev.isNull}) {
         |  long $bestC = 0L; long $bestD = $dists[0];
         |  for (int $c = 1; $c < $dists.length; $c++) {
         |    if ($dists[$c] < $bestD) { $bestD = $dists[$c]; $bestC = $c; }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{ java.lang.Long.valueOf($bestC), java.lang.Long.valueOf($bestD) });
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellExpr = copy(child = newChild)
}

/** The `nprobe` nearest cell ids, ordered by (distance, cell id) — the
  * multi-probe / soft assignment. `out(0)` equals the hard assignment. */
case class NearestCellsExpr(child: Expression, centroids: Array[Array[Long]],
    nprobe: Int) extends UnaryExpression {

  KMeansAssignKernel.requireRectangular(centroids)
  require(nprobe >= 1 && nprobe <= centroids.length,
    s"nprobe must be in [1, ${centroids.length}], got $nprobe")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmq_cells"
  override def nullable: Boolean = true

  // Same hazard as NearestCellExpr: reject any non-array<bigint> child
  // at analysis, before toLongArray can reinterpret bytes.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<bigint> quantized vector, got " +
            other.simpleString)
    }

  override def nullSafeEval(v: Any): Any = {
    val dists = KMeansAssignKernel.distances(
      v.asInstanceOf[ArrayData], centroids)
    if (dists == null) return null
    val order = Array.tabulate(dists.length)(_.toLong)
      .sortBy(c => (dists(c.toInt), c))
    new GenericArrayData(order.take(nprobe))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("centroids", centroids, "long[][]")
    nullSafeCodeGen(ctx, ev, x => {
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val dists = ctx.freshName("dists")
      val order = ctx.freshName("order")
      val sel = ctx.freshName("sel")
      val tmp = ctx.freshName("tmp")
      val k = centroids.length
      KMeansAssignKernel.genDistances(ctx, x, mRef, ev.isNull, dists) +
      s"""
         |if (!${ev.isNull}) {
         |  long[] $order = new long[$nprobe];
         |  boolean[] $sel = new boolean[$k];
         |  for (int $j = 0; $j < $nprobe; $j++) {
         |    int $tmp = -1;
         |    for (int $c = 0; $c < $k; $c++) {
         |      if (!$sel[$c] && ($tmp < 0 || $dists[$c] < $dists[$tmp])) $tmp = $c;
         |    }
         |    $sel[$tmp] = true; $order[$j] = (long) $tmp;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($order);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCellsExpr = copy(child = newChild)
}

object KMeansAssignExprs {

  /** `struct(c, d)` hard assignment of a quantized array<long> column.
    * The centroid matrix lives only in the plans that use the Column. */
  def nearestCell(vq: Column, centroids: Array[Array[Long]]): Column =
    Columns.of(NearestCellExpr(Columns.expr(vq), centroids))

  /** The `nprobe` nearest cell ids of a quantized array<long> column. */
  def nearestCells(vq: Column, centroids: Array[Array[Long]],
      nprobe: Int): Column =
    Columns.of(NearestCellsExpr(Columns.expr(vq), centroids, nprobe))
}
