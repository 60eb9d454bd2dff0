package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextClean, TokenOps}

/** Unicode NFC/NFKC normalization: kernel semantics, codegen parity,
  * and the motivating property — fingerprint dedup merges an NFC/NFD
  * pair only AFTER normalization. */
class UnicodeNormSpec extends SparkSpec {
  import spark.implicits._

  // composed vs fully-decomposed spellings of the same visible text
  private val composed = "caf\u00e9 ni\u00f1o"   // é ñ composed
  private val decomposed = "cafe\u0301 nin\u0303o" // e+U+0301, n+U+0303

  test("NFC composes, is idempotent, and preserves null/empty") {
    val df = Seq((1L, composed), (2L, decomposed), (3L, ""), (4L, null))
      .toDF("id", "t")
      .select($"id", TextClean.normalizeNfc($"t").as("n"))
    val got = df.as[(Long, String)].collect().toMap
    assert(got(1L) === composed)      // already NFC: unchanged
    assert(got(2L) === composed)      // decomposed → composed
    assert(got(3L) === "")
    assert(got(4L) === null)
    // idempotent: normalizing the normalized output is the identity
    val twice = df.select($"id", TextClean.normalizeNfc($"n").as("n2"))
      .as[(Long, String)].collect().toMap
    assert(twice(1L) === got(1L) && twice(2L) === got(2L))
  }

  test("NFKC additionally folds compatibility variants (ﬁ ² ﾊ)") {
    val got = Seq(("\ufb01n \u00b2 \uff8a", decomposed)).toDF("k", "d")
      .select(TextClean.normalizeNfkc($"k"), TextClean.normalizeNfkc($"d"))
      .as[(String, String)].head()
    assert(got._1 === "fin 2 \u30cf") // ligature, superscript, half-width
    assert(got._2 === composed)       // NFKC ⊇ NFC on canonical pairs
  }

  test("interpreted eval == codegen (the shared-kernel contract)") {
    // UTF8String round-trip through the kernel directly (the interpreted
    // path) vs the codegen'd column — same strings out
    import org.apache.spark.unsafe.types.UTF8String
    val k = graft.functions.UnicodeNormKernel
      .nfc(UTF8String.fromString(decomposed)).toString
    val c = Seq(decomposed).toDF("t")
      .select(TextClean.normalizeNfc($"t")).as[String].head()
    assert(k === c && c === composed)
  }

  test("fingerprint dedup merges an NFC/NFD pair only after normalizeNfc") {
    val docs = Seq((1L, s"the $composed menu"), (2L, s"the $decomposed menu"))
      .toDF("doc_id", "text")
    // WITHOUT normalization: visually identical docs dedup as DISTINCT
    val raw = Dedup.exactByFingerprint(docs,
      TokenOps.bagOfWordsFingerprint($"text"), $"doc_id")
    assert(raw.count() === 2L)
    // WITH the NFC stage first: one survivor, min doc_id
    val normed = Dedup.exactByFingerprint(docs,
      TokenOps.bagOfWordsFingerprint(TextClean.normalizeNfc($"text")),
      $"doc_id")
    assert(normed.select($"doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("the fast path returns already-normalized ASCII unchanged") {
    val docs = Tables.documents(spark, sf001).limit(50)
    val diff = docs.select($"text",
        TextClean.normalizeNfc($"text").as("n"))
      .filter($"text" =!= $"n").count()
    assert(diff === 0L)
  }
}
