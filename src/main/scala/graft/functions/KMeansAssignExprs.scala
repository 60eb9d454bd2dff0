package graft.functions

import org.apache.spark.sql.Column
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

  // The kmq_* names live in the session FunctionRegistry, so SQL can
  // reach this expression with any column type; without this check an
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

  // Same registry-reachability hazard as NearestCellExpr: reject any
  // non-array<bigint> child at analysis, before toLongArray can
  // reinterpret bytes.
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

  private def registry(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Content-hashed name so equal centroid sets reuse one registration
    * (same discipline as [[HyperplaneSigs.sigs]]). The digest is a full
    * SHA-256 over (k, dim, every element) — a 32-bit hash here would
    * let two distinct models collide and silently rebind one name via
    * createOrReplaceTempFunction, so a Column built for one model but
    * analyzed after the other registers would compute with the WRONG
    * centroids (advisor finding r12). 2^-128 collision odds make that
    * impossible in practice; 16 hex chars keep the name readable. */
  private def nameFor(kind: String, m: Array[Array[Long]], extra: String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def putLong(v: Long): Unit = {
      bb.clear(); bb.putLong(v); md.update(bb.array())
    }
    putLong(m.length.toLong)
    putLong(if (m.isEmpty) 0L else m(0).length.toLong)
    m.foreach(_.foreach(putLong))
    val hex = md.digest().take(8).map(b => f"$b%02x").mkString
    s"kmq_${kind}_$hex$extra"
  }

  /** Each registered builder closure pins its k×dim matrix in the
    * session's FunctionRegistry for the session's lifetime — a
    * many-iteration `fit` (one matrix per Lloyd round) or many refits
    * would accumulate unboundedly (review finding r16). Registrations
    * are therefore a bounded FIFO per session: beyond `MaxLive`, the
    * oldest is dropped. Dropping only affects FUTURE analysis — plans
    * already analyzed carry the expression (and its matrix) embedded,
    * so in-flight queries are untouched; re-registering the same
    * content-hashed name later is cheap and idempotent. The one hazard
    * is a Column BUILT but not yet analyzed when its name is evicted
    * (resolution would fail) — eviction is LRU (re-registering a live
    * name refreshes its queue position), so with MaxLive=16 that takes
    * 16 DISTINCT models built-but-unexecuted concurrently, far outside
    * the build-then-run usage of every caller in this library. (FIFO
    * here would evict the most-reused model FIRST once 16 names
    * accumulate — advisor finding r12.) */
  private val MaxLive = 16
  private val live = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    scala.collection.mutable.Queue[String]]()

  private def registerBounded(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    live.synchronized {
      val q = {
        val cur = live.get(spark)
        if (cur != null) cur
        else {
          val fresh = scala.collection.mutable.Queue[String]()
          live.put(spark, fresh)
          fresh
        }
      }
      // register-once: the SHA-256 content-hashed name pins the matrix,
      // so a registered name is by construction the same builder — skip
      // the replace (registry work + "replaced function" log churn per
      // Column construction, r18 verdict #9) and only refresh its LRU
      // position. The registry, not the queue, decides: an evicted or
      // externally dropped (DROP TEMPORARY FUNCTION) name re-registers.
      if (!registry(spark).functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry(spark).createOrReplaceTempFunction(name, builder, "scala_udf")
      // LRU, not FIFO: a re-registered live name moves to the tail so a
      // constantly-reused model is the LAST evicted, not the first.
      q.dequeueFirst(_ == name)
      q.enqueue(name)
      while (q.size > MaxLive) {
        val evict = q.dequeue()
        registry(spark).dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(evict))
      }
    }

  /** `struct(c, d)` hard assignment of a quantized array<long> column.
    * Registers on `SparkSession.active` — Column construction always
    * happens on the driver with a session in scope. */
  def nearestCell(vq: Column, centroids: Array[Array[Long]]): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    val name = nameFor("nearest", centroids, "")
    registerBounded(spark, name,
      Builders.unary(name)(NearestCellExpr(_, centroids)))
    org.apache.spark.sql.functions.call_function(name, vq)
  }

  /** The `nprobe` nearest cell ids of a quantized array<long> column. */
  def nearestCells(vq: Column, centroids: Array[Array[Long]],
      nprobe: Int): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    val name = nameFor("cells", centroids, s"_$nprobe")
    registerBounded(spark, name,
      Builders.unary(name)(NearestCellsExpr(_, centroids, nprobe)))
    org.apache.spark.sql.functions.call_function(name, vq)
  }
}
