package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary as a native mergeable aggregate
  * pair — the frequency-sketch sibling of the HLL rollup
  * (`q_hll_rollup`'s precompute-then-merge discipline, applied to "which
  * items are frequent" instead of "how many distinct"):
  *
  *  - `heavy_hitters(item, capacity)` — build a capacity-bounded counter
  *    summary from raw items;
  *  - `heavy_hitters_merge(summary)` — merge PRECOMPUTED summaries
  *    (e.g. one per source/day partition) without re-scanning raw data.
  *
  * Output: `array<struct<item string, est bigint, maxerr bigint>>`,
  * descending by est (ties → item). The Misra-Gries guarantee survives
  * merging (Agarwal et al., Mergeable Summaries, PODS'12):
  *
  *   est ≤ true_count ≤ est + maxerr
  *
  * where maxerr is the summary-wide decrement total, and every item with
  * true_count > maxerr is guaranteed PRESENT — maxerr ≤ N/(capacity+1),
  * so nothing occurring more than N/(capacity+1) times is ever missed.
  * The retained-set and est values depend on input partitioning (the
  * guarantee does not), so queries over it are rows-only by the §2
  * contract, property-specced against exact counts instead.
  *
  * Scale story: the window/groupBy-exact alternative shuffles every
  * (group, item) pair; this buffer is O(capacity) per group regardless
  * of group size, combines map-side (ObjectHashAggregate partial), and
  * the merge aggregate lets a 100 TB corpus keep per-partition summaries
  * as tiny precomputed tables that roll up in milliseconds — the same
  * reason `hll_union_agg` exists next to `approx_count_distinct`.
  */
object HeavyHitters {

  /** Shared capacity-bounded Misra-Gries buffer. */
  final class Buffer(val capacity: Int) {
    val counts: mutable.HashMap[UTF8String, Long] = mutable.HashMap.empty
    var dec: Long = 0L // total decrement offset: true <= est + dec

    def offer(item: UTF8String): Unit = {
      val existing = counts.get(item)
      if (existing.isDefined) counts.update(item, existing.get + 1L)
      else if (counts.size < capacity) counts.update(item.clone(), 1L)
      else {
        // decrement-all: O(capacity), amortized O(1) per row since each
        // unit of decrement pairs with a prior unit of increment
        dec += 1L
        val dead = mutable.ArrayBuffer.empty[UTF8String]
        counts.mapValuesInPlace((_, v) => v - 1L)
        counts.foreach { case (k, v) => if (v <= 0L) dead += k }
        dead.foreach(counts.remove)
      }
    }

    /** MG merge: pointwise sum, then if over capacity shrink by the
      * (capacity+1)-th largest count — the subtraction preserves the
      * est ≤ true ≤ est + dec invariant with dec growing by the shrink. */
    def absorb(other: Buffer): Unit = {
      other.counts.foreach { case (k, v) =>
        counts.get(k) match {
          case Some(c) => counts.update(k, c + v)
          case None => counts.update(k.clone(), v)
        }
      }
      dec += other.dec
      if (counts.size > capacity) {
        val sorted = counts.values.toArray
        java.util.Arrays.sort(sorted)
        // keep the `capacity` largest => subtract the (capacity+1)-th
        val cut = sorted(sorted.length - capacity - 1)
        dec += cut
        val dead = mutable.ArrayBuffer.empty[UTF8String]
        counts.mapValuesInPlace((_, v) => v - cut)
        counts.foreach { case (k, v) => if (v <= 0L) dead += k }
        dead.foreach(counts.remove)
      }
    }

    def result: ArrayData = {
      val rows = counts.toSeq
        .sortBy { case (k, v) => (-v, k) }
        .map { case (k, v) =>
          org.apache.spark.sql.catalyst.InternalRow(k, v, dec)
        }
      new GenericArrayData(rows.toArray[Any])
    }

    def serialized: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(capacity)
      out.writeLong(dec)
      out.writeInt(counts.size)
      counts.foreach { case (k, v) =>
        val b = k.getBytes
        out.writeInt(b.length); out.write(b); out.writeLong(v)
      }
      out.flush(); bos.toByteArray
    }
  }

  def deserializeBuffer(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Buffer(in.readInt())
    buf.dec = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.counts.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("maxerr", LongType, nullable = false))),
    containsNull = false)

  def heavy_hitters(item: Column, capacity: Int): Column =
    Columns.of(HeavyHittersAgg(Columns.expr(item), Literal(capacity))
      .toAggregateExpression())

  def heavy_hitters_merge(summary: Column, capacity: Int): Column =
    Columns.of(HeavyHittersMergeAgg(Columns.expr(summary), Literal(capacity))
      .toAggregateExpression())
}

/** `heavy_hitters(item, capacity)` over raw string items. */
case class HeavyHittersAgg(itemExpr: Expression, capExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HeavyHitters.Buffer] {

  @transient private lazy val capacity: Int =
    capExpr.eval(null).asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(itemExpr, capExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = HeavyHitters.resultType
  override def prettyName: String = "heavy_hitters"

  override def checkInputDataTypes(): TypeCheckResult =
    if (itemExpr.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING item, got ${itemExpr.dataType}")
    else if (!capExpr.foldable || capExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal INT capacity")
    else if (capExpr.eval(null) == null ||
        capExpr.eval(null).asInstanceOf[Number].intValue <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires capacity > 0")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): HeavyHitters.Buffer =
    new HeavyHitters.Buffer(capacity)

  override def update(buf: HeavyHitters.Buffer,
      input: InternalRow): HeavyHitters.Buffer = {
    val item = itemExpr.eval(input)
    if (item != null) buf.offer(item.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: HeavyHitters.Buffer,
      other: HeavyHitters.Buffer): HeavyHitters.Buffer = {
    buf.absorb(other); buf
  }

  override def eval(buf: HeavyHitters.Buffer): Any = buf.result
  override def serialize(buf: HeavyHitters.Buffer): Array[Byte] =
    buf.serialized
  override def deserialize(bytes: Array[Byte]): HeavyHitters.Buffer =
    HeavyHitters.deserializeBuffer(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HeavyHittersAgg =
    copy(itemExpr = c(0), capExpr = c(1))
}

/** `heavy_hitters_merge(summary, capacity)` over PRECOMPUTED summaries —
  * rolls up per-partition heavy-hitter tables without touching raw data.
  * `capacity` must be the BUILD capacity (or larger — larger only costs
  * memory): a summary's retained row count is ≤ capacity, often below it
  * (few distinct items, or decrement evictions), so the capacity cannot
  * be reconstructed from the rows, and merging at a smaller capacity
  * would shrink the counter budget and break the
  * maxerr ≤ N/(capacity+1) presence guarantee. */
case class HeavyHittersMergeAgg(summaryExpr: Expression, capExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HeavyHitters.Buffer] {

  @transient private lazy val capacity: Int =
    capExpr.eval(null).asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(summaryExpr, capExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = HeavyHitters.resultType
  override def prettyName: String = "heavy_hitters_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    summaryExpr.dataType match {
      // structural match, nullability-insensitive (parquet round-trips
      // re-mark the fields nullable)
      case ArrayType(StructType(Array(
          StructField(_, StringType, _, _),
          StructField(_, LongType, _, _),
          StructField(_, LongType, _, _))), _) =>
        if (!capExpr.foldable || capExpr.dataType != IntegerType)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a literal INT capacity")
        else if (capExpr.eval(null) == null ||
            capExpr.eval(null).asInstanceOf[Number].intValue <= 0)
          TypeCheckResult.TypeCheckFailure(s"$prettyName requires capacity > 0")
        else TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a heavy_hitters summary " +
          s"(array<struct<item,est,maxerr>>), got $other")
    }

  override def createAggregationBuffer(): HeavyHitters.Buffer =
    new HeavyHitters.Buffer(capacity)

  private def bufferOf(rows: ArrayData): HeavyHitters.Buffer = {
    val n = rows.numElements()
    val buf = new HeavyHitters.Buffer(capacity)
    var i = 0
    var maxerr = 0L
    while (i < n) {
      val row = rows.getStruct(i, 3)
      buf.counts.update(row.getUTF8String(0).clone(), row.getLong(1))
      maxerr = math.max(maxerr, row.getLong(2))
      i += 1
    }
    buf.dec = maxerr
    buf
  }

  override def update(buf: HeavyHitters.Buffer,
      input: InternalRow): HeavyHitters.Buffer = {
    val rows = summaryExpr.eval(input)
    if (rows == null) buf
    else { buf.absorb(bufferOf(rows.asInstanceOf[ArrayData])); buf }
  }

  override def merge(buf: HeavyHitters.Buffer,
      other: HeavyHitters.Buffer): HeavyHitters.Buffer = {
    buf.absorb(other); buf
  }

  override def eval(buf: HeavyHitters.Buffer): Any = buf.result
  override def serialize(buf: HeavyHitters.Buffer): Array[Byte] =
    buf.serialized
  override def deserialize(bytes: Array[Byte]): HeavyHitters.Buffer =
    HeavyHitters.deserializeBuffer(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HeavyHittersMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHittersMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HeavyHittersMergeAgg =
    copy(summaryExpr = c(0), capExpr = c(1))
}
