package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership probe.
  *
  * `bloom_might_contain(fp, bloomBytes)` → true iff `fp` (a 64-bit
  * fingerprint, e.g. xxhash64 output) MIGHT be in the serialized
  * [[org.apache.spark.util.sketch.BloomFilter]] — false is definite
  * absence (no false negatives, ~fpp false positives).
  *
  * The filter arrives as a foldable BINARY literal, so the same
  * expression serves the Column API and SQL. It is deserialized ONCE per
  * executor-side expression instance (lazy), never per row; codegen
  * probes the deserialized filter through a reference object, so the hot
  * loop is two xxhash-like probes against a bit array — no boxing, no
  * stream decoding.
  */
case class BloomMightContain(child: Expression, bloomBytes: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = bloomBytes

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT fingerprint, got ${child.dataType}")
    else if (bloomBytes.dataType != BinaryType || !bloomBytes.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable BINARY serialized bloom filter")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val bloom: BloomFilter = {
    val bytes = bloomBytes.eval(null).asInstanceOf[Array[Byte]]
    require(bytes != null, s"$prettyName: bloom filter bytes must not be null")
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(fp: Any, unused: Any): Any =
    bloom.mightContainLong(fp.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The deserialized filter rides the codegen reference array (one
    // object per stage, shared by every task in the JVM); the literal
    // child's own code is a no-op reference to the bytes.
    val ref = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev,
      (fp, _) => s"${ev.value} = $ref.mightContainLong($fp);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(child = newLeft, bloomBytes = newRight)
}

object BloomFunctions {

  /** Membership probe of a BIGINT fingerprint column against a
    * serialized bloom filter (pass as `lit(bytes)`). */
  def bloom_might_contain(fp: Column, bloomBytes: Column): Column =
    Columns.of(BloomMightContain(Columns.expr(fp), Columns.expr(bloomBytes)))

  /** Serialize a built filter for embedding as a literal. */
  def serialize(bloom: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }
}
