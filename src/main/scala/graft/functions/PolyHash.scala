package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Cross-engine deterministic string hash: the classic base-31 polynomial
  * over Unicode CODEPOINTS, reduced mod the prime 1e9+7 at every step.
  *
  * Exists because the feature-hashing operators ([[graft.operators.Dsir]])
  * need a hash the DuckDB oracle can recompute EXACTLY in SQL —
  * `xxhash64` (Spark) and `hash()` (DuckDB) are different functions, so
  * every xxhash-based operator in this repo is rows-only by contract.
  * PolyHash trades avalanche quality for mirrorability:
  *
  *   h_0 = 0;  h_i = (31·h_{i−1} + codepoint_i) mod 1_000_000_007
  *
  * which DuckDB expresses as
  * `list_reduce(list_prepend(0, [unicode(c) FOR c IN
  * regexp_split_to_array(s, '')]), (acc, c) -> (acc*31 + c) % 1000000007)`.
  * No overflow on either side: acc < 1e9+7, so 31·acc + cp < 2^35.
  * Distribution is fine for bucket counts (the DSIR use is c_b statistics
  * over thousands of buckets, not adversarial keys).
  *
  * Same construction discipline as [[JaroWinklerKernel]]: one static
  * kernel backs both the interpreted eval and the generated code, so
  * codegen == interpreted by construction.
  */
object PolyHashKernel {
  val Mod: Long = 1000000007L

  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** `poly_hash(string) -> bigint` in [0, 1e9+7) — see [[PolyHashKernel]]. */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input")
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(s: Any): Any =
    PolyHashKernel.hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.PolyHashKernel.hash($x)")

  override protected def withNewChildInternal(
      newChild: Expression): PolyHash = copy(child = newChild)
}

object PolyHashF {

  /** Codegen'd polynomial hash of a string column. */
  def poly_hash(s: Column): Column = Columns.of(PolyHash(Columns.expr(s)))

  /** The DuckDB mirror of [[PolyHash]] as a SQL fragment over
    * expression `e` — kept next to the kernel so the two definitions
    * can only drift in one reviewed place. */
  def polyHashSql(e: String): String =
    // list_filter drops the [''] artifact DuckDB's split-by-empty-regex
    // returns for the empty string (unicode('') is −1, not a codepoint),
    // so '' hashes to 0 on both engines
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[CAST(unicode(c) AS BIGINT) FOR c IN " +
      s"list_filter(regexp_split_to_array($e, ''), c -> c <> '')]), " +
      "(acc, c) -> (acc * 31 + c) % 1000000007)"
}
