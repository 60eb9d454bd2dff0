package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity (Winkler 1990, building on Jaro 1989 —
  * the standard record-linkage scorer) as a native codegen'd expression:
  * Spark ships `levenshtein` but no Jaro-Winkler, and the HOF/UDF
  * alternatives pay interpreted dispatch per pair on exactly the
  * entity-matching joins where this runs hottest.
  *
  * Standard parameters (matching DuckDB's `jaro_winkler_similarity`, the
  * oracle): prefix scale p=0.1, max prefix 4, boost threshold 0.7 (the
  * Winkler prefix bonus applies only when the Jaro score exceeds it).
  * Operates on UTF-8 BYTES (exact for ASCII/Latin-1 keys — the
  * entity-key domain; multi-byte codepoints compare per byte, which is
  * what the oracle does too).
  *
  * The kernel is one static method: both the interpreted `nullSafeEval`
  * and the generated code call it, so codegen==interpreted is equal by
  * construction (and still spec-pinned), and whole-stage codegen inlines
  * a monomorphic static call instead of a lambda chain.
  */
object JaroWinklerKernel {

  /** Jaro-Winkler similarity in [0, 1]. Any empty side → 0.0 (DuckDB's
    * convention — some libraries say both-empty is 1.0; the oracle
    * decides, and an empty entity key matching nothing is the safer
    * default anyway). */
  def similarity(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.getBytes
    val s2 = b.getBytes
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val range = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - range)
      val hi = math.min(l2 - 1, i + range)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: matched chars out of relative order, halved
    var halfT = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) halfT += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val t = halfT / 2
    val jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (prefix < maxP && s1(prefix) == s2(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }
}

/** `jaro_winkler(string, string) -> double` — see [[JaroWinklerKernel]]. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType == StringType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) inputs")
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerKernel.similarity(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.JaroWinklerKernel.similarity($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object StringSim {

  /** Codegen'd Jaro-Winkler similarity of two string columns. */
  def jaro_winkler(a: Column, b: Column): Column =
    Columns.of(JaroWinkler(Columns.expr(a), Columns.expr(b)))
}
