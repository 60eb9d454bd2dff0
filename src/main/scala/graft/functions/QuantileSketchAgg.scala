package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, QuantileSummaries}
import org.apache.spark.sql.types._

/** Greenwald-Khanna quantile digests as a mergeable aggregate family —
  * the quantile member of the sketch triad (distinct → HLL `q_hll_rollup`,
  * frequency → Misra-Gries [[HeavyHitters]], quantiles → this):
  *
  *  - `gk_sketch_agg(value, eps)` — digest raw doubles into a serialized
  *    ε-approximate summary (Spark's own `QuantileSummaries`, the
  *    engine-native structure behind `percentile_approx`);
  *  - `gk_union_agg(sketch)` — merge PRECOMPUTED digests (per
  *    source/day) without re-scanning raw data;
  *  - `gk_quantiles(sketch, array(p...))` — extract quantiles from a
  *    digest column.
  *
  * The GK rank guarantee |rank(q̂_p) − p·N| ≤ ε·N survives merging
  * (Spark's merge adapts the Greenwald-Khanna combine; specced against
  * exact ranks under multiple partitionings and through the rollup).
  * Digest size is O((1/ε)·log(εN)) — group-size-independent, so a
  * per-partition digest table over a 100 TB corpus is a few KB per
  * group, and percentile dashboards roll up from digests in
  * milliseconds, never re-reading history. Exact-rank oracle twin at
  * small sf: `q_percentile`.
  */
object QuantileSketch {

  /** Mutable wrapper: QuantileSummaries is persistent (insert returns a
    * new object), so the agg buffer holds the current version. */
  final class Buffer(var qs: QuantileSummaries) {
    def insert(v: Double): Unit = { qs = qs.insert(v) }
    def compress(): Unit = { qs = qs.compress() }
  }

  def emptySummaries(eps: Double): QuantileSummaries =
    new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, eps,
      Array.empty[QuantileSummaries.Stats], 0L, false)

  def serialize(buf: Buffer): Array[Byte] = {
    buf.compress()
    val qs = buf.qs
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeDouble(qs.relativeError)
    out.writeInt(qs.compressThreshold)
    out.writeLong(qs.count)
    val sampled = qs.sampled
    out.writeInt(sampled.length)
    sampled.foreach { s =>
      out.writeDouble(s.value); out.writeLong(s.g); out.writeLong(s.delta)
    }
    out.flush(); bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val eps = in.readDouble()
    val threshold = in.readInt()
    val count = in.readLong()
    val n = in.readInt()
    val sampled = Array.fill(n)(QuantileSummaries.Stats(
      in.readDouble(), in.readLong(), in.readLong()))
    new Buffer(new QuantileSummaries(threshold, eps, sampled, count,
      compressed = true))
  }

  /** Merge helper shared by both aggregates: compressed-side merge; an
    * empty side passes the other through (QuantileSummaries.merge
    * requires non-empty heads otherwise). */
  def mergeBuffers(a: Buffer, b: Buffer): Buffer = {
    a.compress(); b.compress()
    if (b.qs.count == 0L) a
    else if (a.qs.count == 0L) b
    else { a.qs = a.qs.merge(b.qs); a }
  }

  def gk_sketch_agg(value: Column, eps: Double): Column =
    Columns.of(GkSketchAgg(Columns.expr(value), Literal(eps))
      .toAggregateExpression())

  def gk_union_agg(sketch: Column): Column =
    Columns.of(GkUnionAgg(Columns.expr(sketch)).toAggregateExpression())

  def gk_quantiles(sketch: Column, probs: Column): Column =
    Columns.of(GkQuantiles(Columns.expr(sketch), Columns.expr(probs)))
}

/** `gk_sketch_agg(value, eps)` → serialized digest (binary). */
case class GkSketchAgg(valueExpr: Expression, epsExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.Buffer] {

  @transient private lazy val eps: Double = numericDouble(epsExpr.eval(null))

  override def children: Seq[Expression] = Seq(valueExpr, epsExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gk_sketch_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!valueExpr.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a numeric value, got ${valueExpr.dataType}")
    // any foldable numeric literal: SQL parses `0.01` as DECIMAL(2,2),
    // and rejecting it would force users to know the `0.01D` spelling
    else if (!epsExpr.foldable || !epsExpr.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a numeric literal eps")
    else if (epsExpr.eval(null) == null || {
        val e = numericDouble(epsExpr.eval(null))
        e <= 0.0 || e >= 1.0
      })
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires 0 < eps < 1")
    else TypeCheckResult.TypeCheckSuccess

  /** Literal eval yields java.lang.Number for int/double literals but
    * Decimal for SQL decimal literals — normalize both. */
  private def numericDouble(v: Any): Double = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue
  }

  override def createAggregationBuffer(): QuantileSketch.Buffer =
    new QuantileSketch.Buffer(QuantileSketch.emptySummaries(eps))

  override def update(buf: QuantileSketch.Buffer,
      input: InternalRow): QuantileSketch.Buffer = {
    val v = valueExpr.eval(input)
    if (v != null) buf.insert(numericDouble(v)) // same Decimal/Number normalize
    buf
  }

  override def merge(buf: QuantileSketch.Buffer,
      other: QuantileSketch.Buffer): QuantileSketch.Buffer =
    QuantileSketch.mergeBuffers(buf, other)

  override def eval(buf: QuantileSketch.Buffer): Any =
    QuantileSketch.serialize(buf)
  override def serialize(buf: QuantileSketch.Buffer): Array[Byte] =
    QuantileSketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): QuantileSketch.Buffer =
    QuantileSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): GkSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GkSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): GkSketchAgg =
    copy(valueExpr = c(0), epsExpr = c(1))
}

/** `gk_union_agg(sketch)` → merged digest (binary). */
case class GkUnionAgg(sketchExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.Buffer] {

  override def children: Seq[Expression] = Seq(sketchExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gk_union_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a gk_sketch_agg BINARY digest, " +
          s"got ${sketchExpr.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  // eps placeholder: a zero-count buffer passes through mergeBuffers, so
  // the first real digest's eps wins
  override def createAggregationBuffer(): QuantileSketch.Buffer =
    new QuantileSketch.Buffer(
      QuantileSketch.emptySummaries(QuantileSummaries.defaultRelativeError))

  override def update(buf: QuantileSketch.Buffer,
      input: InternalRow): QuantileSketch.Buffer = {
    val bin = sketchExpr.eval(input)
    if (bin == null) buf
    else QuantileSketch.mergeBuffers(buf,
      QuantileSketch.deserialize(bin.asInstanceOf[Array[Byte]]))
  }

  override def merge(buf: QuantileSketch.Buffer,
      other: QuantileSketch.Buffer): QuantileSketch.Buffer =
    QuantileSketch.mergeBuffers(buf, other)

  override def eval(buf: QuantileSketch.Buffer): Any =
    QuantileSketch.serialize(buf)
  override def serialize(buf: QuantileSketch.Buffer): Array[Byte] =
    QuantileSketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): QuantileSketch.Buffer =
    QuantileSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): GkUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GkUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): GkUnionAgg =
    copy(sketchExpr = c(0))
}

/** `gk_quantiles(sketch, probs)` — scalar extraction: one deserialize
  * per row, all requested quantiles answered from it. Null/empty digest
  * → null (no rows were digested). Interpreted eval (CodegenFallback):
  * digest columns are aggregate OUTPUTS — group-count-sized, never a
  * corpus hot path. */
case class GkQuantiles(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gk_quantiles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BINARY digest, got ${left.dataType}")
    else right.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE> probabilities, got $other")
    }

  override def nullSafeEval(bin: Any, probs: Any): Any = {
    val buf = QuantileSketch.deserialize(bin.asInstanceOf[Array[Byte]])
    if (buf.qs.count == 0L) null
    else {
      val ps = probs.asInstanceOf[ArrayData].toDoubleArray()
      ps.foreach(p => require(p >= 0.0 && p <= 1.0,
        s"$prettyName probability $p outside [0, 1]"))
      buf.qs.query(ps.toIndexedSeq) match {
        case Some(vs) => new GenericArrayData(
          vs.map(_.asInstanceOf[Double]).toArray)
        case None => null
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GkQuantiles = copy(left = l, right = r)
}
