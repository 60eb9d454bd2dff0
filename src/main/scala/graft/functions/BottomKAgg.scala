package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bottom_k(key, id, k)` — native bounded top-k-per-group aggregate:
  * the ids of the k smallest (key, id) pairs per group, ascending.
  *
  * The scale story is WHY this is an aggregate and not a window. The
  * window form (`row_number() over (partition by g order by key) <= k`)
  * must shuffle and sort EVERY row of every group — a skewed group
  * (one language dominating a corpus) lands on one task. This aggregate
  * keeps a k-bounded heap per group and combines map-side
  * (`TypedImperativeAggregate`, planned as ObjectHashAggregate with a
  * partial_bottom_k stage): each task ships at most k entries per
  * group it saw, so the shuffle carries partials·k rows instead of the
  * corpus, and no per-group sort ever happens — the classic
  * deterministic per-group content-sample shape
  * (key = md5 of seed:text, [[graft.operators.Sampling]]) at
  * hot-key-safe cost.
  *
  * Determinism contract: keys compare as UTF8String (UTF-8 byte order —
  * what SQL ORDER BY does on both Spark and the DuckDB oracle mirror),
  * ties break on id, so the result is a pure function of the group's
  * contents — partitioning-invariant (specced). NULL key or id rows are
  * skipped, matching aggregate null semantics.
  */
case class BottomK(keyExpr: Expression, idExpr: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomK.Buffer] {

  // k is a query constant (foldable): evaluated once at plan time, and
  // a non-positive or non-foldable k fails analysis, not execution.
  @transient private lazy val k: Int =
    kExpr.eval(null).asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(keyExpr, idExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bottom_k"

  override def checkInputDataTypes(): TypeCheckResult =
    if (keyExpr.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING sort key, got ${keyExpr.dataType}")
    else if (idExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT id, got ${idExpr.dataType}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal INT k")
    else if (kExpr.eval(null) == null ||
        kExpr.eval(null).asInstanceOf[Number].intValue <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): BottomK.Buffer =
    new BottomK.Buffer(k)

  override def update(buf: BottomK.Buffer, input: InternalRow): BottomK.Buffer = {
    val key = keyExpr.eval(input)
    val id = idExpr.eval(input)
    if (key != null && id != null)
      buf.offer(key.asInstanceOf[UTF8String], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BottomK.Buffer, other: BottomK.Buffer): BottomK.Buffer = {
    other.entries.foreach { case (key, id) => buf.offer(key, id) }
    buf
  }

  override def eval(buf: BottomK.Buffer): Any =
    new GenericArrayData(buf.sortedIds)

  override def serialize(buf: BottomK.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val entries = buf.entries
    out.writeInt(k)
    out.writeInt(entries.size)
    entries.foreach { case (key, id) =>
      val bytes = key.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(id)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BottomK.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val kk = in.readInt()
    val buf = new BottomK.Buffer(kk)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.offer(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomK =
    copy(keyExpr = newChildren(0), idExpr = newChildren(1),
      kExpr = newChildren(2))
}

object BottomK {

  private val ord: Ordering[(UTF8String, Long)] = Ordering.by(identity)

  /** k-bounded max-heap of (key, id): the head is the LARGEST retained
    * pair, evicted whenever a smaller candidate arrives — so the heap
    * always holds the k smallest pairs seen. O(log k) per row, O(k)
    * memory per group regardless of group size.
    *
    * `offer` may be handed a BORROWED key (update() passes the evaluated
    * UTF8String, which can point into a reused row buffer): comparison
    * against the resident head is safe on the borrowed bytes, and the
    * key is cloned ONLY when it is actually retained — once a group's
    * heap is full, the overwhelmingly common rejected row allocates
    * nothing. */
  final class Buffer(val k: Int) {
    private val heap = mutable.PriorityQueue.empty[(UTF8String, Long)](ord)

    def offer(key: UTF8String, id: Long): Unit = {
      if (heap.size < k) heap.enqueue((key.clone(), id))
      else if (ord.lt((key, id), heap.head)) {
        heap.dequeue(); heap.enqueue((key.clone(), id))
      }
    }

    def entries: Seq[(UTF8String, Long)] = heap.toSeq
    def sortedIds: Array[Long] = heap.toSeq.sorted(ord).map(_._2).toArray
  }

  /** Column form: ids of the k smallest (key, id) pairs per group,
    * ascending. */
  def bottom_k(key: Column, id: Column, k: Int): Column =
    Columns.of(BottomK(Columns.expr(key), Columns.expr(id), Literal(k))
      .toAggregateExpression())
}
