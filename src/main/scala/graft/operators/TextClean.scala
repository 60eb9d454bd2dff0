package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tweet/document text-cleaning operator — the reference's preprocessing
  * clean chain re-expressed as pure Catalyst column expressions (codegen'd,
  * shuffle-free, fully pushdown-friendly).
  *
  * Semantics mirror `/root/reference/preprocessing.py:93-108`:
  *   - label normalization 0/4 → 0/1 (`preprocessing.py:93-96`)
  *   - lowercase (`:100`)
  *   - strip @mentions, URLs, '#', non-alpha → space, collapse whitespace
  *     (`:101-105`), trim (`:106`)
  *   - drop rows whose cleaned text is empty (`:108`)
  *
  * At 100 TB this is a single narrow `Project`+`Filter` stage: Catalyst's
  * `CollapseProject` folds the whole chain into one whole-stage-codegen'd
  * projection over the scan, no shuffle, no UDF.
  */
object TextClean {
  // Java-regex patterns kept inside the Java∩RE2 shared subset so the same
  // pattern strings are valid for the DuckDB oracle (SURVEY.md §7 risk
  // note). Whitespace classes come from TokenOps.WsChars — `\s`/`\S` are
  // NOT in the shared subset (Java's \s includes VT, RE2's does not).
  val MentionPattern  = "@[A-Za-z0-9_]+"
  val UrlPattern      = s"https?://${TokenOps.NonWsRun}"
  val HashPattern     = "#"
  val NonAlphaPattern = s"[^a-zA-Z${TokenOps.WsChars}]"
  val MultiWsPattern  = TokenOps.WsRun

  /** The full clean chain as a single Column expression. */
  def cleanText(text: Column): Column = {
    val c0 = lower(text)
    val c1 = regexp_replace(c0, MentionPattern, "")
    val c2 = regexp_replace(c1, UrlPattern, "")
    val c3 = regexp_replace(c2, HashPattern, "")
    val c4 = regexp_replace(c3, NonAlphaPattern, " ")
    val c5 = regexp_replace(c4, MultiWsPattern, " ")
    trim(c5)
  }

  /** Equivalent DuckDB SQL expression for the oracle (RE2 needs the
    * explicit 'g' flag; Java regexp_replace is global by default). The
    * pattern strings are the SAME constants the Column form compiles —
    * shared-subset discipline makes that sound. */
  def cleanTextSql(textExpr: String): String = {
    val c0 = s"lower($textExpr)"
    val c1 = s"regexp_replace($c0, '$MentionPattern', '', 'g')"
    val c2 = s"regexp_replace($c1, '$UrlPattern', '', 'g')"
    val c3 = s"regexp_replace($c2, '$HashPattern', '', 'g')"
    val c4 = s"regexp_replace($c3, '$NonAlphaPattern', ' ', 'g')"
    val c5 = s"regexp_replace($c4, '$MultiWsPattern', ' ', 'g')"
    s"trim($c5)"
  }

  // PII patterns, same Java∩RE2 shared-subset discipline. Order matters
  // and is part of the API contract: URL first (a URL can embed an
  // email-shaped userinfo), then email, then IP (before phone — dotted
  // quads are digit runs a phone pattern would half-eat), then phone.
  val PiiUrlPattern   = UrlPattern
  val PiiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpPattern    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  // Whitespace is spelled explicitly (no \s): Java's \s includes VT
  // (\x0B) while RE2's does not — the same divergence the
  // BpePretokenizePattern comment documents — so a VT inside a
  // phone-shaped run would redact differently in Spark vs the oracle.
  // \x0B is an explicit escape both engines share, preserving the
  // original Java-\s semantics exactly.
  val PiiPhonePattern = "\\+?[0-9][0-9()\\t\\n\\x0B\\f\\r .-]{7,14}[0-9]"

  /** PII redaction — the pretraining-pipeline scrub pass: emails, URLs,
    * IPv4s, and phone-shaped digit runs become typed placeholder tokens
    * (the standard alternative to dropping the document). A single
    * codegen'd projection, shuffle-free, same scale shape as
    * [[cleanText]]. Deliberately conservative: a phone-shaped run that
    * isn't a phone number still redacts (over-redaction is the safe
    * failure mode for a training corpus). */
  def redact(text: Column): Column = {
    val r0 = regexp_replace(text, PiiUrlPattern, "<URL>")
    val r1 = regexp_replace(r0, PiiEmailPattern, "<EMAIL>")
    val r2 = regexp_replace(r1, PiiIpPattern, "<IP>")
    regexp_replace(r2, PiiPhonePattern, "<PHONE>")
  }

  /** DuckDB mirror of [[redact]] (explicit 'g'; same order contract;
    * same pattern CONSTANTS as the Column form — one definition each). */
  def redactSql(textExpr: String): String = {
    val r0 = s"regexp_replace($textExpr, '$PiiUrlPattern', '<URL>', 'g')"
    val r1 = s"regexp_replace($r0, '$PiiEmailPattern', '<EMAIL>', 'g')"
    val r2 = s"regexp_replace($r1, '$PiiIpPattern', '<IP>', 'g')"
    s"regexp_replace($r2, '$PiiPhonePattern', '<PHONE>', 'g')"
  }

  // ---- Luhn-validated payment-card scan -------------------------------
  // [[redact]]'s phone/IP patterns are shape-only (over-redaction is
  // safe there); a payment-card leak detector must do better, because
  // "replace every 16-digit run" destroys order ids, ISBNs, and hashes.
  // The Luhn mod-10 checksum (ISO/IEC 7812-1) is the validation every
  // real PAN carries — checking it drops the false-positive rate on
  // random digit runs by ~10× while never missing a real card.

  /** Candidate runs: 13–19 digits with optional single space/dash
    * separators, word-bounded (shared Java∩RE2 subset — `\b` is in). */
  val CardCandidatePattern = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"

  /** Luhn mod-10 over a separator-free digit string: from the RIGHT,
    * double every second digit, subtract 9 when that exceeds 9, sum ≡ 0
    * (mod 10). Pure row-local HOFs — stays in whole-stage codegen. */
  def luhnValid(pan: Column): Column = {
    val rev = regexp_extract_all(reverse(pan), lit("[0-9]"), lit(0))
    val summed = aggregate(
      transform(rev, (d, i) => {
        val v = d.cast("int")
        when(i % 2 === 1,
          when(v * 2 > 9, v * 2 - 9).otherwise(v * 2)).otherwise(v)
      }),
      lit(0), (acc, x) => acc + x)
    summed % 10 === 0
  }

  /** (candidates, valids, redacted) columns for a text column: every
    * card-shaped run, the Luhn-valid subset (separator-stripped check,
    * sorted for a canonical fold order), and the text with each VALID
    * run replaced by `<CARD>` — invalid runs are left alone by design
    * (that's the point of validating). One codegen'd projection. */
  def cardScan(text: Column): (Column, Column, Column) = {
    val cands = regexp_extract_all(text, lit(CardCandidatePattern), lit(0))
    val valids = array_sort(filter(cands,
      c => luhnValid(regexp_replace(c, "[ -]", ""))))
    val redacted = aggregate(valids, text,
      (acc, c) => replace(acc, c, lit("<CARD>")))
    (cands, valids, redacted)
  }

  // ---- HTML stripping (tags, script/style/comment blocks, entities) —
  // the stage a raw web crawl needs BEFORE the line-level
  // [[Boilerplate.removeBoilerplate]] scrub sees it. Same Java∩RE2
  // shared-subset discipline as the chains above: `(?i)(?s)` inline
  // flags, non-greedy `.*?`, `\b`, `\A`/`\z` and explicit whitespace
  // classes are all in the shared subset (`^`/`$` are NOT — Java's `$`
  // matches before a final newline, RE2's does not — hence \A/\z).
  val HtmlScriptPattern  = "(?is)<script[^>]*>.*?</script>"
  val HtmlStylePattern   = "(?is)<style[^>]*>.*?</style>"
  val HtmlCommentPattern = "(?s)<!--.*?-->"
  // block-level tags become newlines so the line structure the
  // boilerplate scrub keys on survives; everything else becomes a space
  val HtmlBlockTagPattern =
    "(?i)</?(br|p|div|li|ul|ol|h[1-6]|tr|table|blockquote)\\b[^>]*>"
  val HtmlTagPattern     = "(?s)</?[A-Za-z!][^>]*>"
  // Entity policy (ORDER IS THE CONTRACT): named decodes first with
  // &amp; LAST among them (emulating single-pass left-to-right decode:
  // '&amp;lt;' must NOT double-decode to '<'), then a catch-all that
  // removes every residual entity — INCLUDING the one &amp; just
  // re-formed from a double-encoded layer. That makes the whole chain
  // a fixpoint (specced): double-encoded entities are dropped to a
  // space rather than faithfully decoded one layer, a deliberate trade
  // — idempotence beats double-decode fidelity in a cleaning stage.
  // &lt;/&gt; decode to SPACE, never to '<'/'>': decoded angle brackets
  // could re-form strippable tag syntax, breaking both idempotence and
  // the safety story ('&lt;script&gt;' must not become a live tag).
  val HtmlNbspPattern   = "&nbsp;"
  val HtmlQuotPattern   = "&quot;"
  val HtmlAposPattern   = "&apos;|&#39;"
  val HtmlAnglePattern  = "&lt;|&gt;"
  val HtmlAmpPattern    = "&amp;"
  val HtmlEntityPattern =
    "&[A-Za-z][A-Za-z0-9]*;|&#[0-9]+;|&#[xX][0-9a-fA-F]+;"
  // horizontal runs → one space; newline runs (with flanking spaces) →
  // one newline; strip leading/trailing whitespace via \A/\z
  val HtmlHWsPattern   = "[\\t\\x0B\\f\\r ]+"
  val HtmlNlPattern    = "[ ]*\\n[ \\n]*"
  val HtmlEdgePattern  = "\\A[\\n ]+|[\\n ]+\\z"

  /** HTML tag/entity stripping as one codegen'd projection chain —
    * idempotent (stripHtml∘stripHtml == stripHtml, property-specced):
    * script/style/comment blocks vanish wholesale, block-level tags
    * become newlines (preserving the line structure
    * [[Boilerplate.removeBoilerplate]] keys on), other tags become
    * spaces, common named entities decode (&lt;/&gt; to space by
    * policy — see the pattern-block comment), residual entities drop,
    * whitespace canonicalizes. Known limits, standard for regex-level
    * stripping: an attribute value containing '>' ends its tag early;
    * an UNCLOSED script/style block keeps its content (only the open
    * tag is removed). At 100 TB this is a narrow shuffle-free
    * Project stage, same shape as [[cleanText]]. */
  def stripHtml(text: Column): Column = {
    val t0 = regexp_replace(text, HtmlScriptPattern, " ")
    val t1 = regexp_replace(t0, HtmlStylePattern, " ")
    val t2 = regexp_replace(t1, HtmlCommentPattern, " ")
    val t3 = regexp_replace(t2, HtmlBlockTagPattern, "\n")
    val t4 = regexp_replace(t3, HtmlTagPattern, " ")
    val e0 = regexp_replace(t4, HtmlNbspPattern, " ")
    val e1 = regexp_replace(e0, HtmlQuotPattern, "\"")
    val e2 = regexp_replace(e1, HtmlAposPattern, "'")
    val e3 = regexp_replace(e2, HtmlAnglePattern, " ")
    val e4 = regexp_replace(e3, HtmlAmpPattern, "&")
    val e5 = regexp_replace(e4, HtmlEntityPattern, " ")
    val w0 = regexp_replace(e5, HtmlHWsPattern, " ")
    val w1 = regexp_replace(w0, HtmlNlPattern, "\n")
    regexp_replace(w1, HtmlEdgePattern, "")
  }

  /** DuckDB mirror of [[stripHtml]] — the same pattern CONSTANTS, 'g'
    * flag, chr(10) for the newline replacement (DuckDB literals don't
    * process backslash escapes — the patterns' \n/\t/\x0B escapes are
    * interpreted by RE2 itself, which is exactly what Java does with
    * the identical strings). */
  def stripHtmlSql(textExpr: String): String = {
    val t0 = s"regexp_replace($textExpr, '$HtmlScriptPattern', ' ', 'g')"
    val t1 = s"regexp_replace($t0, '$HtmlStylePattern', ' ', 'g')"
    val t2 = s"regexp_replace($t1, '$HtmlCommentPattern', ' ', 'g')"
    val t3 = s"regexp_replace($t2, '$HtmlBlockTagPattern', chr(10), 'g')"
    val t4 = s"regexp_replace($t3, '$HtmlTagPattern', ' ', 'g')"
    val e0 = s"regexp_replace($t4, '$HtmlNbspPattern', ' ', 'g')"
    val e1 = s"""regexp_replace($e0, '$HtmlQuotPattern', '"', 'g')"""
    val e2 = s"regexp_replace($e1, '$HtmlAposPattern', '''', 'g')"
    val e3 = s"regexp_replace($e2, '$HtmlAnglePattern', ' ', 'g')"
    val e4 = s"regexp_replace($e3, '$HtmlAmpPattern', '&', 'g')"
    val e5 = s"regexp_replace($e4, '$HtmlEntityPattern', ' ', 'g')"
    val w0 = s"regexp_replace($e5, '$HtmlHWsPattern', ' ', 'g')"
    val w1 = s"regexp_replace($w0, '$HtmlNlPattern', chr(10), 'g')"
    s"regexp_replace($w1, '$HtmlEdgePattern', '', 'g')"
  }

  /** Unicode NFC canonicalization — apply BEFORE [[cleanText]],
    * tokenization, or any fingerprint so composed/decomposed spellings
    * of the same text dedup together (see
    * [[graft.functions.UnicodeNormKernel]]). */
  def normalizeNfc(text: Column): Column =
    graft.functions.UnicodeNormF.nfc_normalize(text)

  /** Compatibility (NFKC) form — folds ligatures/width/digit variants
    * too; the aggressive pre-tokenization normalization. No DuckDB twin
    * exists, so NFKC paths are spec-checked, not oracle-checked. */
  def normalizeNfkc(text: Column): Column =
    graft.functions.UnicodeNormF.nfkc_normalize(text)

  /** Sentiment140 label normalization: 0/4 → 0/1 (`preprocessing.py:93-96`). */
  def normalizeLabel(sentiment: Column): Column =
    when(sentiment === 4, 1).otherwise(0)

  /** Apply the full preprocessing to a df with a text column: clean text,
    * add text_length, drop empty-cleaned rows. Output columns:
    * original non-text columns ++ (text = cleaned, text_length).
    */
  def clean(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn(textCol, cleanText(col(textCol)))
      .withColumn("text_length", length(col(textCol)).cast("long"))
      .filter(length(col(textCol)) > 0)
}
