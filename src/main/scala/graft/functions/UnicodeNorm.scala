package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonical normalization (NFC / NFKC) as a native codegen'd
  * Catalyst expression — the text-clean stage every multilingual corpus
  * needs BEFORE tokenization and fingerprinting. Without it,
  * visually-identical strings with different codepoint sequences
  * (composed U+00E9 vs decomposed 'e'+U+0301) tokenize, fingerprint,
  * and therefore DEDUP as distinct documents: the exact-dedup cascade
  * ([[graft.operators.Dedup]] over
  * [[graft.operators.TokenOps.bagOfWordsFingerprint]]) silently keeps
  * both copies. The reference's clean chain
  * (`/root/reference/preprocessing.py:100-106`) strips to ASCII so it
  * never meets the problem; an LLM-scale pipeline meets it immediately.
  *
  * NFC is the storage/dedup canonical form (W3C's choice for the web);
  * NFKC additionally folds compatibility variants (ﬁ → fi, ² → 2,
  * full-width → ASCII) — the aggressive form used before tokenization
  * in many LM pipelines. NFC is DuckDB-mirrorable (`nfc_normalize`);
  * NFKC has no DuckDB twin, so NFKC-based queries are spec-checked
  * rather than oracle-checked.
  *
  * Scale shape: a pure row-local projection, whole-stage-codegen'd via
  * the static kernel (same kernel backs interpreted eval and generated
  * code, so the two cannot drift — the [[PolyHashKernel]] discipline).
  * The already-normalized fast path returns the input UTF8String
  * WITHOUT copying: real corpora are overwhelmingly NFC already
  * (ASCII trivially so), making the common case an O(n) scan with zero
  * allocation.
  */
object UnicodeNormKernel {
  private def norm(s: UTF8String, form: java.text.Normalizer.Form)
      : UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, form))
  }

  def nfc(s: UTF8String): UTF8String =
    norm(s, java.text.Normalizer.Form.NFC)

  def nfkc(s: UTF8String): UTF8String =
    norm(s, java.text.Normalizer.Form.NFKC)
}

/** `nfc_normalize(string) -> string` / `nfkc_normalize(string) -> string`
  * — see [[UnicodeNormKernel]]. `form` must be "NFC" or "NFKC". */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")
    else if (form != "NFC" && form != "NFKC")
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName form must be NFC or NFKC, got $form")
    else TypeCheckResult.TypeCheckSuccess
  override def prettyName: String = s"${form.toLowerCase}_normalize"

  override def nullSafeEval(s: Any): Any =
    if (form == "NFC") UnicodeNormKernel.nfc(s.asInstanceOf[UTF8String])
    else UnicodeNormKernel.nfkc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val fn = if (form == "NFC") "nfc" else "nfkc"
    defineCodeGen(ctx, ev, x => s"graft.functions.UnicodeNormKernel.$fn($x)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeNormalize = copy(child = newChild)
}

object UnicodeNormF {

  /** Codegen'd NFC normalization. The name `nfc_normalize` deliberately
    * matches DuckDB's built-in so shared SQL fragments read identically
    * on both engines. */
  def nfc_normalize(s: Column): Column =
    Columns.of(UnicodeNormalize(Columns.expr(s), "NFC"))

  /** Codegen'd NFKC normalization. */
  def nfkc_normalize(s: Column): Column =
    Columns.of(UnicodeNormalize(Columns.expr(s), "NFKC"))
}
