package graft.operators

import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization + token-level text analysis as pure Catalyst expressions.
  *
  * Mirrors the reference's MLlib stages relationally so their aggregation
  * cores are oracle-checkable (SURVEY.md §2.5 M1/M2/M4/M6):
  *   - `tokenize` = Tokenizer semantics (lowercase, split on whitespace),
  *     `/root/reference/model_logistic_regression.py:88-91`
  *   - `removeStopwords` = StopWordsRemover semantics (default English
  *     list, order/duplicates preserved),
  *     `/root/reference/model_logistic_regression.py:93-96`
  *
  * All functions are higher-order-function / built-in based — whole-stage
  * codegen keeps them fused with the scan at 100 TB; no UDFs.
  */
object TokenOps {

  /** Spark MLlib's default English stoplist (the exact 181-word list the
    * reference persists in its StopWordsRemover stage metadata). */
  lazy val englishStopwords: Seq[String] =
    StopWordsRemover.loadDefaultStopWords("english").toSeq

  /** Java∩RE2 shared whitespace CHARACTERS (see [[BpePretokenizePattern]]
    * doc): `\s` itself is NOT in the shared subset — Java's includes
    * vertical tab (\x0B) while RE2's does not, so a VT-bearing document
    * would tokenize/clean differently across engines. \x0B is an escape
    * both engines share, preserving Java-\s semantics exactly. ONE
    * definition feeds every tokenizer/cleaner pattern and SQL mirror. */
  val WsChars: String = "\\t\\n\\x0B\\f\\r "

  /** `\s+` spelled in the shared subset. */
  val WsRun: String = s"[$WsChars]+"

  /** `\S+` spelled in the shared subset. */
  val NonWsRun: String = s"[^$WsChars]+"

  /** Character ranges of scripts written WITHOUT word-separating
    * whitespace — CJK ideographs (unified + ext A + compatibility),
    * kana (+ phonetic extensions), hangul syllables, Thai, Lao,
    * Myanmar, Khmer — spelled as explicit `\x{...}` ranges because
    * Unicode script properties are NOT in the Java∩RE2 shared subset
    * (Java wants `\p{IsHan}`, RE2 wants `\p{Han}`); hex code-point
    * escapes are shared. BMP only, deliberately: a supplementary-plane
    * ideograph (Ext B+) missing from the class degrades to a whitespace
    * token — the pre-fallback behavior — never to wrong output. */
  val WsFreeScriptClass: String =
    "[\\x{0E00}-\\x{0EFF}\\x{1000}-\\x{109F}\\x{1780}-\\x{17FF}" +
    "\\x{3040}-\\x{30FF}\\x{31F0}-\\x{31FF}\\x{3400}-\\x{4DBF}" +
    "\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}\\x{F900}-\\x{FAFF}]"

  /** Overlapping character bigrams of one token (the standard CJK
    * indexing unit); a 1-char token yields itself. Callers guard on
    * [[WsFreeScriptClass]] — empty tokens never reach this. */
  private def charBigrams(t: Column): Column =
    transform(sequence(lit(1), greatest(length(t) - 1, lit(1))),
      i => t.substr(i, lit(2)))

  /** Tokenizer semantics: lowercase, split on runs of whitespace —
    * with a SCRIPT-AWARE FALLBACK for whitespace-free scripts. A CJK/
    * Thai/... document is not "one token per line": any whitespace
    * token containing a [[WsFreeScriptClass]] character is expanded to
    * its overlapping character bigrams (mixed Latin/CJK tokens bigram
    * wholesale — the standard unsegmented-text indexing recipe), so
    * dedup fingerprints, BM25 df, DSIR buckets, and LM counts stay
    * meaningful on an unsegmented corpus instead of silently
    * collapsing. Whitespace-delimited text is UNCHANGED: a cheap
    * row-level guard ([[graft.functions.ScriptGuard]] — a codegen'd
    * UTF-8 byte scan, regex-free since the r17 bench flagged the rlike
    * form as the round's only regressions) short-circuits to the plain
    * split, so every existing whitespace-token oracle and the
    * reference's Tokenizer semantics
    * (`model_logistic_regression.py:88-91` — the English-only special
    * case) are preserved bit-exactly on such input, and ASCII rows pay
    * one branch per byte, not a regex match.
    *
    * Deliberately NOT let-bound through [[graft.functions.ColumnOps
    * .bind]]: bind rides a higher-order function, which is
    * CodegenFallback — wrapping the split would drop the hot ASCII path
    * out of whole-stage codegen for every token query (measured: the
    * explode-family queries 1.2-1.7× slower in the first r17 bench cut).
    * The textual duplication of `split` below is NOT double work: a
    * conditional evaluates only the taken branch, so each row runs
    * exactly one of the two copies, and the fallback branch's copy is
    * the `transform` argument — evaluated once, not per element. */
  def tokenize(text: Column): Column = {
    import graft.functions.ScriptGuard.containsWsFreeScript
    when(containsWsFreeScript(text),
      flatten(transform(split(lower(text), WsRun), t =>
        when(containsWsFreeScript(t), charBigrams(t))
          .otherwise(array(t)))))
    .otherwise(split(lower(text), WsRun))
  }

  /** The pre-fallback whitespace-only split — the exact MLlib
    * `Tokenizer` semantics, kept for callers that must match the
    * reference stage bit-for-bit regardless of script. */
  def tokenizeWs(text: Column): Column = split(lower(text), WsRun)

  /** Keep tokens not in the stoplist; preserves order and duplicates
    * (unlike array_except, which would dedup). */
  def removeStopwords(tokens: Column,
      stop: Seq[String] = englishStopwords): Column =
    filter(tokens, t => !t.isin(stop: _*))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(tokenize(text)).cast("long")

  /** BPE-ish regex token count: alnum/apostrophe runs. */
  def regexTokenCount(text: Column): Column =
    size(split(text, "[^a-zA-Z0-9']+")).cast("long")

  /** GPT-2-style pretokenizer pattern, restricted to the Java∩RE2
    * shared subset (no lookahead — the original's `\s+(?!\S)` clause is
    * dropped, folding trailing-space handling into the plain whitespace
    * branch). Whitespace is spelled as an explicit class because `\s`
    * itself is NOT in the shared subset: Java's includes vertical tab
    * (\x0B), RE2's does not, so a VT-bearing document would tokenize
    * differently across engines. Alternation order is chosen so Java's
    * leftmost-FIRST and RE2's leftmost-LONGEST agree on every position:
    * the contraction branch can only win where the punctuation branch
    * would match a strict prefix of it. */
  val BpePretokenizePattern: String =
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^$WsChars\\p{L}\\p{N}]+|[$WsChars]+"

  /** Pretokenizer-based token count — the budget a BPE tokenizer would
    * see, before merges (merges only split within pretokens, so this
    * UPPER-bounds subword count / matches it for in-vocab words). The
    * realistic sequence-packing budget; [[tokenCount]] (whitespace) is
    * the cheap floor. Row-local, oracle-exact (regexp_extract_all both
    * engines). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePretokenizePattern), lit(0)))
      .cast("long")

  /** Gopher-style document quality rules (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", 2021,
    * §A1.1 — the published rule family a pretraining filter actually
    * applies): token-count bounds, mean word length in [3,10], a minimum
    * share of words containing an alphabetic character, and a maximum
    * symbol-to-word ratio ('#' and '...'). Returns a struct
    * (n_tokens, mean_word_len, alpha_ratio, symbol_ratio, pass).
    *
    * Pure row-local Column math — at 100 TB this is a scan-stage
    * projection like [[qualityScore]]. The token array is LET-BOUND once
    * per row ([[graft.functions.ColumnOps.bind]]): interpreted HOFs
    * re-evaluate non-lambda subexpressions per element, which would
    * re-tokenize per token otherwise. Ratios are rounded (6dp) BEFORE
    * the rule comparisons so the pass verdict is cross-engine stable. */
  def gopherRules(text: Column, minTokens: Long = 10L,
      maxTokens: Long = 100000L, minAlphaRatio: Double = 0.7,
      maxSymbolRatio: Double = 0.1): Column =
    graft.functions.ColumnOps.bind(tokenize(text), toks =>
      graft.functions.ColumnOps.bind(size(toks).cast("long"), n => {
        val meanLen = round(
          aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / n, 6)
        val alphaRatio = round(
          size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double") / n, 6)
        val hashCount =
          (length(text) - length(replace(text, lit("#"), lit("")))).cast("double")
        val ellipsisCount =
          (length(text) - length(replace(text, lit("..."), lit("")))) / 3
        val symbolRatio = round((hashCount + ellipsisCount) / n, 6)
        struct(
          n.as("n_tokens"),
          meanLen.as("mean_word_len"),
          alphaRatio.as("alpha_ratio"),
          symbolRatio.as("symbol_ratio"),
          (n >= minTokens && n <= maxTokens &&
            meanLen >= 3.0 && meanLen <= 10.0 &&
            alphaRatio >= minAlphaRatio &&
            symbolRatio <= maxSymbolRatio).as("pass"))
      }))

  /** Order-invariant bag-of-words fingerprint: md5 over the sorted set of
    * [[tokenize]] tokens (ONE tokenizer across the whole surface — this
    * used to split on a literal space, subtly diverging from tokenize's
    * whitespace-run split). Word-order-permuted duplicates collide — the
    * cheap first-pass signal in a dedup cascade before MinHash. */
  def bagOfWordsFingerprint(text: Column): Column =
    fingerprintOf(tokenize(text))

  /** [[bagOfWordsFingerprint]] of already-[[tokenize]]d text, for callers
    * that hold the tokens (the [[scores]] struct carries them). */
  def fingerprintOf(tokens: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens))))

  /** Deterministic document quality score in [0,1] from length, stopword
    * ratio, and mean token length (heuristics only — no RNG, no model),
    * so it stays DuckDB-oracle-checkable. */
  def qualityScore(text: Column, stop: Seq[String] = englishStopwords)
      : (Column, Column, Column) = {
    def bound(body: (Column, Column) => Column): Column =
      graft.functions.ColumnOps.bind(tokenize(text), toks =>
        body(size(toks).cast("double"), stopCount(toks, stop)))
    val nTokens = bound((nTok, _) => nTok).cast("long")
    val stopRatio = bound((nTok, nStop) => round(nStop / nTok, 6))
    val q = bound(quality(text, _, _))
    (nTokens, stopRatio, q)
  }

  /** The gate's scores of one document as one struct
    * `(text, tokens, n_tokens, quality)`, with the values of
    * [[qualityScore]] under its default stoplist.
    * `text` and its tokens are each LET-BOUND once per row, so an
    * expensive `text` (a redaction chain) and the split run once however
    * many fields are read; [[qualityScore]]'s three columns tokenize once
    * each. `text` in the struct is the input as given, and `tokens` is
    * its [[tokenize]] array, for signals derived from the same split
    * ([[fingerprintOf]], MinHash band keys). */
  def scores(text: Column): Column =
    graft.functions.ColumnOps.bind(text, t =>
      graft.functions.ColumnOps.bind(tokenize(t), toks => {
        val nTok = size(toks).cast("double")
        struct(t.as("text"), toks.as("tokens"),
          nTok.cast("long").as("n_tokens"),
          quality(t, nTok, stopCount(toks, englishStopwords)).as("quality"))
      }))

  private def stopCount(toks: Column, stop: Seq[String]): Column =
    size(filter(toks, t => t.isin(stop: _*))).cast("double")

  /** The quality formula, over a text and its token and stopword counts. */
  private def quality(text: Column, nTok: Column, nStop: Column): Column = {
    val avgTokLen =
      length(regexp_replace(text, " ", "")).cast("double") / nTok
    round(
      lit(0.5) * least(nTok / 100.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - nStop / nTok) +
      lit(0.2) * least(avgTokLen / 10.0, lit(1.0)), 6)
  }

  /** C4-style document quality flags (Raffel et al. 2020 §2.2) as one
    * struct column: sentence count, line count, the share of lines
    * ending in terminal punctuation, the code/boilerplate tells (a
    * curly brace anywhere; "lorem ipsum" case-insensitive), and the
    * document-level `pass` = no brace ∧ no lorem ∧ ≥ `minSentences`
    * sentences — the C4 screen beside [[gopherRules]]' token-shape one.
    * `\z` (not `$`) anchors the line-punct regex: Java's `$` matches
    * before a final newline, RE2's does not — the shared-subset rule
    * the stripHtml chain documents. Row-local, codegen-friendly. */
  def c4Rules(text: Column, minSentences: Int = 3): Column =
    graft.functions.ColumnOps.bind(split(text, "\n"), lines => {
      val nLines = size(lines).cast("long")
      val nPunct = size(filter(lines,
        l => l.rlike("[.!?\"'][ \\t]*\\z"))).cast("long")
      val nSent = size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))
        .cast("long")
      val hasBrace = text.contains("{") || text.contains("}")
      val hasLorem = lower(text).contains("lorem ipsum")
      struct(
        nSent.as("n_sentences"),
        nLines.as("n_lines"),
        round(nPunct.cast("double") / nLines.cast("double"), 6)
          .as("punct_line_ratio"),
        hasBrace.as("has_brace"),
        hasLorem.as("has_lorem"),
        (!hasBrace && !hasLorem && nSent >= minSentences).as("pass"))
    })

  /** Flesch reading-ease columns (n_sentences, n_words, n_syllables,
    * flesch): 206.835 − 1.015·(W/S) − 84.6·(Syl/W), with sentences =
    * terminal-punctuation runs (floored at 1 — a fragment is one
    * sentence) and syllables approximated as vowel GROUPS per token
    * ([aeiouy]+ — the standard regex proxy; off by the silent-e class,
    * consistently on both engines, which is what a filter threshold
    * needs). The readability screen beside [[qualityScore]]: a corpus
    * scored far off the 60–70 plain-English band is either legalese or
    * word salad. Row-local, codegen-friendly. */
  def readability(text: Column): (Column, Column, Column, Column) = {
    val nSent = greatest(lit(1L),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"))
    val toks = tokenize(text)
    val nWords = size(toks).cast("long")
    val nSyl = aggregate(
      transform(toks,
        t => size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))),
      lit(0L), (acc, x) => acc + x.cast("long"))
    val flesch = round(lit(206.835) -
      lit(1.015) * (nWords.cast("double") / nSent.cast("double")) -
      lit(84.6) * (nSyl.cast("double") / nWords.cast("double")), 6)
    (nSent, nWords, nSyl, flesch)
  }

  /** Within-document repetition ratio (Gopher-style quality signal):
    * 1 − distinct n-gram shingles / total shingles. High values flag
    * boilerplate/spam. Row-local. */
  def repetitionRatio(text: Column, n: Int): Column =
    graft.functions.ColumnOps.bind(
      MinHashDedup.rawShingles(tokenize(text), n), grams =>
        when(size(grams) === 0, lit(0.0)).otherwise(
          round(lit(1.0) -
            size(array_distinct(grams)).cast("double") /
            size(grams).cast("double"), 6)))

  /** SQL-escape a stoplist for a DuckDB IN (...) list. */
  def sqlList(words: Seq[String]): String =
    words.map(w => "'" + w.replace("'", "''") + "'").mkString(", ")
}
