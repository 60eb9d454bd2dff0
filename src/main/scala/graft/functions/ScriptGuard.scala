package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The tokenizer's script-containment gate as a tight byte scan instead
  * of a regex.
  *
  * [[graft.operators.TokenOps.tokenize]] guards its CJK bigram fallback
  * with "does this string contain any [[graft.operators.TokenOps
  * .WsFreeScriptClass]] character". As `rlike`, that is a
  * java.util.regex character-class MATCH over the whole string per row
  * — measured as the only >1.5× bench regressions of r17
  * (q_bigram_nll 0.84→1.26 s, q_unigram_nll 0.31→0.48 s: every
  * token query pays it at scan speed). The class is nine fixed BMP
  * code-point ranges, all ≥ U+0E00 — i.e. every member is a THREE-byte
  * UTF-8 sequence — so the test needs no regex engine and no
  * decoding of ASCII/two-byte text at all: walk the UTF-8 bytes,
  * skip <0x80 (ASCII) and <0xE0 (two-byte) leads outright, decode only
  * three-byte sequences, and range-check the code point. Pure-ASCII
  * rows cost one branch per byte; the regex cost is gone.
  *
  * Semantics are EXACTLY `rlike(WsFreeScriptClass)` (ScriptGuardSpec
  * sweeps every boundary code point and random mixed strings against
  * the regex, interpreted AND codegen). Four-byte sequences
  * (supplementary plane) are skipped — the class is deliberately BMP
  * (see WsFreeScriptClass doc).
  */
object ScriptGuard {

  /** The nine WsFreeScriptClass ranges as a code-point test — kept in
    * lockstep with the regex class by ScriptGuardSpec. */
  def inRanges(cp: Int): Boolean =
    (cp >= 0x4E00 && cp <= 0x9FFF) || // Han unified (the common case)
    (cp >= 0x3040 && cp <= 0x30FF) || // kana
    (cp >= 0xAC00 && cp <= 0xD7AF) || // hangul
    (cp >= 0x0E00 && cp <= 0x0EFF) || // Thai + Lao
    (cp >= 0x1000 && cp <= 0x109F) || // Myanmar
    (cp >= 0x1780 && cp <= 0x17FF) || // Khmer
    (cp >= 0x31F0 && cp <= 0x31FF) || // kana phonetic extensions
    (cp >= 0x3400 && cp <= 0x4DBF) || // Han ext A
    (cp >= 0xF900 && cp <= 0xFAFF)    // Han compatibility

  /** True iff the string contains any WsFreeScriptClass character.
    * Malformed UTF-8 (possible in a dirty web corpus — Spark does not
    * validate parquet string bytes) must not DESYNC the scan: a lead
    * byte only consumes its sequence when the continuation bytes are
    * actually continuations, otherwise the scan advances ONE byte —
    * the replacement-decoder resync rule, so a stray byte can never
    * swallow the lead of a following CJK character (the rlike path
    * decodes it to U+FFFD and still sees the CJK char; so must we).
    * Malformed sequences can't FALSE-POSITIVE either: overlong and
    * CESU surrogate encodings compute code points outside the ranges
    * (D800–DFFF is deliberately not in the class). */
  def containsWsFree(s: UTF8String): Boolean = {
    val n = s.numBytes
    def cont(j: Int): Boolean = j < n && (s.getByte(j) & 0xC0) == 0x80
    var i = 0
    while (i < n) {
      val b = s.getByte(i) & 0xFF
      if (b < 0xC0) i += 1 // ASCII, or a stray continuation byte: resync
      else if (b < 0xE0) { // two-byte lead: U+0080–U+07FF, below all ranges
        if (cont(i + 1)) i += 2 else i += 1
      } else if (b < 0xF0) { // three-byte lead: U+0800–U+FFFF
        if (cont(i + 1) && cont(i + 2)) {
          val cp = ((b & 0x0F) << 12) |
            ((s.getByte(i + 1) & 0x3F) << 6) | (s.getByte(i + 2) & 0x3F)
          if (inRanges(cp)) return true
          i += 3
        } else i += 1
      } else { // four-byte lead: supplementary plane, not in class
        if (cont(i + 1) && cont(i + 2) && cont(i + 3)) i += 4 else i += 1
      }
    }
    false
  }

  /** Boolean gate column. */
  def containsWsFreeScript(text: Column): Column =
    Columns.of(ContainsWsFreeScript(Columns.expr(text)))
}

/** `contains_wsfree_script(text)` — see [[ScriptGuard]]. */
case class ContainsWsFreeScript(child: Expression)
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = child.nullable
  override def prettyName: String = "contains_wsfree_script"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    ScriptGuard.containsWsFree(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ScriptGuard.containsWsFree($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : ContainsWsFreeScript = copy(child = newChild)
}
