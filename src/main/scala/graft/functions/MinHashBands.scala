package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression,
  UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The MinHash LSH band keys of a shingle array, in one pass over it:
  * `sig_i = min_s xxhash64(i, s)` for i < numHashes, then
  * `band_j = xxhash64(j, sig[j·r .. j·r + r − 1])` with r =
  * numHashes / bands — bit-equal to Spark's `xxhash64` over the same
  * values (seed 42, an int then a string, an int then a long array), so
  * it equals [[graft.operators.MinHashDedup.bandKeys]] over
  * [[graft.operators.MinHashDedup.signature]].
  *
  * Each shingle is read once and hashed numHashes times into a running
  * minimum. The higher-order-function form evaluates numHashes separate
  * `transform`s plus an `array_min` each, interpreted, and re-evaluates
  * its input per reference; the aggregate form it replaced exploded the
  * shingles and shuffled them to 32 min-aggregates.
  *
  * An EMPTY array is null (no shingles, no signature): such a document
  * has no band keys and so never becomes a candidate pair. A null child
  * is null. A null element hashes as Spark's `xxhash64(i, null)` does,
  * to the seed alone.
  */
case class MinHashBandsExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(bands > 0 && numHashes % bands == 0,
    s"bands ($bands) must divide numHashes ($numHashes)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array of strings, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    MinHashBandsExpr.bandKeys(v.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = ${classOf[MinHashBandsExpr].getName}.bandKeys(
         |  $a, $numHashes, $bands);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashBandsExpr = copy(child = newChild)
}

object MinHashBandsExpr {
  /** Spark's hash-expression seed. */
  private val Seed = 42L

  /** The band keys of `shingles`, or null when it is empty. Both the
    * interpreted and the generated path call this. */
  def bandKeys(shingles: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val seeds = Array.tabulate(numHashes)(i => XXH64.hashInt(i, Seed))
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var k = 0
    while (k < n) {
      val s = if (shingles.isNullAt(k)) null else shingles.getUTF8String(k)
      var i = 0
      while (i < numHashes) {
        val h = if (s == null) seeds(i) else XXH64.hashUTF8String(s, seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      k += 1
    }
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = XXH64.hashInt(j, Seed)
      var t = 0
      while (t < r) { h = XXH64.hashLong(sig(j * r + t), h); t += 1 }
      out(j) = h
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
