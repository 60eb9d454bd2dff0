package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{element_at, least, lit, pmod}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan, J.Alg 2005) as a native
  * mergeable aggregate — the POINT-QUERY frequency sketch next to
  * [[HeavyHitters]]' top-set summary and the HLL distinct rollup:
  * `count_min(item, width, depth)` builds a depth×width cell table;
  * `estimate = min_j cells[j][h_j(item)]` answers "about how often did
  * THIS item occur" in O(depth) from O(depth·width) state, however many
  * distinct items flowed through.
  *
  * Two properties the siblings don't have:
  *
  *  - **Deterministic and order-independent.** Cells are plain sums over
  *    a deterministic hash family built on [[PolyHashKernel]]
  *    (`h_j(x) = ((2j+1)·poly_hash(x) + j) mod P mod width`), so the
  *    sketch is identical under any partitioning or arrival order —
  *    unlike Misra-Gries' partition-dependent retained set — and the
  *    DuckDB oracle recomputes every cell AND every estimate exactly
  *    (the sketch queries are hash-checked, not rows-only).
  *  - **One-sided error, always.** est ≥ true unconditionally (counts
  *    only collide upward); est ≤ true + (N − true)/width in
  *    EXPECTATION per row, the min over depth rows making large
  *    overshoots exponentially unlikely. The deterministic family trades
  *    the textbook's random pairwise-independence for mirrorability (the
  *    [[PolyHash]] trade, stated loudly); the ≥-true guarantee is
  *    unconditional and specced, the overshoot bound empirical-specced.
  *
  * Scale story: the exact alternative shuffles every (group, item) pair
  * and its state is the vocabulary; this buffer is depth·width longs per
  * group REGARDLESS of vocabulary, combines map-side
  * (ObjectHashAggregate partial), and `count_min_merge` rolls up
  * per-partition/per-day sketches by pointwise sum without re-scanning
  * raw data — CMS is exactly additive, so the merge is lossless, the
  * same precompute-then-merge discipline as `q_hll_rollup`.
  */
object CountMin {

  /** Buffer = flattened row-major cells: cell (j, c) at j*width + c. */
  final class Buffer(val width: Int, val depth: Int) {
    val cells: Array[Long] = new Array[Long](width * depth)

    def offer(item: UTF8String): Unit = {
      val h = PolyHashKernel.hash(item)
      var j = 0
      while (j < depth) {
        val hj = (((2L * j + 1L) * h + j) % PolyHashKernel.Mod % width).toInt
        cells(j * width + hj) += 1L
        j += 1
      }
    }

    def absorb(other: Buffer): Unit = {
      var i = 0
      while (i < cells.length) { cells(i) += other.cells(i); i += 1 }
    }

    def result: ArrayData = new GenericArrayData(cells.map(Long.box))

    def serialized: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(width); out.writeInt(depth)
      var i = 0
      while (i < cells.length) { out.writeLong(cells(i)); i += 1 }
      out.flush(); bos.toByteArray
    }
  }

  def deserializeBuffer(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Buffer(in.readInt(), in.readInt())
    var i = 0
    while (i < buf.cells.length) { buf.cells(i) = in.readLong(); i += 1 }
    buf
  }

  val resultType: DataType = ArrayType(LongType, containsNull = false)

  def count_min(item: Column, width: Int, depth: Int): Column =
    Columns.of(CountMinAgg(Columns.expr(item), Literal(width), Literal(depth))
      .toAggregateExpression())

  def count_min_merge(sketch: Column, width: Int, depth: Int): Column =
    Columns.of(CountMinMergeAgg(Columns.expr(sketch), Literal(width),
      Literal(depth)).toAggregateExpression())

  /** Point estimate `min_j cells[j*width + h_j(item)]` as a plain Column
    * over the sketch array — composed from builtins (element_at/least)
    * and [[PolyHashF.poly_hash]], no new expression.
    * Mirrors in DuckDB with [[PolyHashF.polyHashSql]] and list indexing. */
  def estimate(sketch: Column, item: Column, width: Int, depth: Int): Column = {
    require(depth >= 1, s"depth $depth")
    val h = PolyHashF.poly_hash(item)
    val reads = (0 until depth).map { j =>
      val hj = pmod(pmod(h * lit(2L * j + 1L) + lit(j.toLong),
        lit(PolyHashKernel.Mod)), lit(width.toLong))
      // element_at is 1-based; cell (j, hj) sits at j*width + hj
      element_at(sketch, (lit(j * width) + hj + lit(1)).cast("int"))
    }
    if (reads.size == 1) reads.head else least(reads: _*)
  }

  /** The DuckDB mirror of one row-hash: `h_j(e) mod width` as a SQL
    * fragment — kept next to the kernel like [[PolyHashF.polyHashSql]]. */
  def hashSql(e: String, j: Int, width: Int): String =
    s"(((${2L * j + 1L} * ${PolyHashF.polyHashSql(e)} + $j) " +
      s"% ${PolyHashKernel.Mod}) % $width)"
}

/** `count_min(item, width, depth)` over raw string items. */
case class CountMinAgg(itemExpr: Expression, widthExpr: Expression,
    depthExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMin.Buffer] {

  @transient private lazy val width: Int =
    widthExpr.eval(null).asInstanceOf[Number].intValue
  @transient private lazy val depth: Int =
    depthExpr.eval(null).asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(itemExpr, widthExpr, depthExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = CountMin.resultType
  override def prettyName: String = "count_min"

  override def checkInputDataTypes(): TypeCheckResult =
    if (itemExpr.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING item, got ${itemExpr.dataType}")
    else CountMinAgg.checkDims(prettyName, widthExpr, depthExpr)

  override def createAggregationBuffer(): CountMin.Buffer =
    new CountMin.Buffer(width, depth)

  override def update(buf: CountMin.Buffer,
      input: InternalRow): CountMin.Buffer = {
    val item = itemExpr.eval(input)
    if (item != null) buf.offer(item.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: CountMin.Buffer,
      other: CountMin.Buffer): CountMin.Buffer = { buf.absorb(other); buf }

  override def eval(buf: CountMin.Buffer): Any = buf.result
  override def serialize(buf: CountMin.Buffer): Array[Byte] = buf.serialized
  override def deserialize(bytes: Array[Byte]): CountMin.Buffer =
    CountMin.deserializeBuffer(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CountMinAgg =
    copy(itemExpr = c(0), widthExpr = c(1), depthExpr = c(2))
}

object CountMinAgg {
  /** Shared width/depth literal checks (both aggregates). */
  private[functions] def checkDims(name: String, widthExpr: Expression,
      depthExpr: Expression): TypeCheckResult =
    if (!widthExpr.foldable || widthExpr.dataType != IntegerType ||
      !depthExpr.foldable || depthExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$name requires literal INT width and depth")
    else if (widthExpr.eval(null) == null ||
      widthExpr.eval(null).asInstanceOf[Number].intValue <= 0 ||
      depthExpr.eval(null) == null ||
      depthExpr.eval(null).asInstanceOf[Number].intValue <= 0)
      TypeCheckResult.TypeCheckFailure(s"$name requires width, depth > 0")
    else TypeCheckResult.TypeCheckSuccess
}

/** `count_min_merge(sketch, width, depth)` over PRECOMPUTED sketches —
  * pointwise sum, LOSSLESS (CMS is exactly additive): merging per-source
  * sketches equals sketching the union. width·depth must match the build
  * dims — checked against the incoming array length at runtime since the
  * dims cannot be reconstructed from a flat cell array. */
case class CountMinMergeAgg(sketchExpr: Expression, widthExpr: Expression,
    depthExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMin.Buffer] {

  @transient private lazy val width: Int =
    widthExpr.eval(null).asInstanceOf[Number].intValue
  @transient private lazy val depth: Int =
    depthExpr.eval(null).asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(sketchExpr, widthExpr, depthExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = CountMin.resultType
  override def prettyName: String = "count_min_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    sketchExpr.dataType match {
      case ArrayType(LongType, _) =>
        CountMinAgg.checkDims(prettyName, widthExpr, depthExpr)
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a count_min sketch (array<bigint>), got $other")
    }

  override def createAggregationBuffer(): CountMin.Buffer =
    new CountMin.Buffer(width, depth)

  override def update(buf: CountMin.Buffer,
      input: InternalRow): CountMin.Buffer = {
    val arr = sketchExpr.eval(input)
    if (arr != null) {
      val rows = arr.asInstanceOf[ArrayData]
      require(rows.numElements() == width * depth,
        s"$prettyName: sketch has ${rows.numElements()} cells, " +
          s"expected width*depth = ${width * depth} — merge dims must " +
          "equal the build dims")
      var i = 0
      while (i < buf.cells.length) {
        buf.cells(i) += rows.getLong(i); i += 1
      }
    }
    buf
  }

  override def merge(buf: CountMin.Buffer,
      other: CountMin.Buffer): CountMin.Buffer = { buf.absorb(other); buf }

  override def eval(buf: CountMin.Buffer): Any = buf.result
  override def serialize(buf: CountMin.Buffer): Array[Byte] = buf.serialized
  override def deserialize(bytes: Array[Byte]): CountMin.Buffer =
    CountMin.deserializeBuffer(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CountMinMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CountMinMergeAgg =
    copy(sketchExpr = c(0), widthExpr = c(1), depthExpr = c(2))
}
