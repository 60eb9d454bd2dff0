package graft

import org.apache.spark.sql.functions._
import graft.operators.{LangId, TokenOps}

class TokenOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenize lowercases and splits on whitespace runs") {
    val out = Seq("Hello  WORLD\tfoo").toDF("text")
      .select(TokenOps.tokenize($"text")).as[Seq[String]].head()
    assert(out === Seq("hello", "world", "foo"))
  }

  test("removeStopwords preserves order and duplicates") {
    val out = Seq("the cat the hat a cat").toDF("text")
      .select(TokenOps.removeStopwords(TokenOps.tokenize($"text")))
      .as[Seq[String]].head()
    assert(out === Seq("cat", "hat", "cat"))
  }

  test("stoplist is the 181-word MLlib default") {
    assert(TokenOps.englishStopwords.size === 181)
    assert(TokenOps.englishStopwords.contains("the"))
    assert(TokenOps.englishStopwords.contains("don't")) // apostrophe → SQL escaping matters
  }

  test("bag-of-words fingerprint is word-order invariant") {
    val fps = Seq("b a c", "c b a", "a b d").toDF("text")
      .select(TokenOps.bagOfWordsFingerprint($"text")).as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("bpe pretokenizer counts contractions, numbers, punct runs") {
    def countOne(s: String): Long =
      Seq(s).toDF("t").select(TokenOps.bpeTokenCount($"t")).head().getLong(0)
    // "Hello" " world" "," " don" "'t" " stop" -> 6
    assert(countOne("Hello world, don't stop") === 6L)
    // " ?\p{N}+ splits digits from letters: "abc" "123" "!!" -> 3
    assert(countOne("abc123!!") === 3L)
    assert(countOne("") === 0L)
    // unicode letters count as letter runs, not punctuation
    assert(countOne("naïve übermut") === 2L)
  }

  test("langid detects obvious languages and falls back to und") {
    val rows = Seq(
      "the quick brown fox jumps over the lazy dog and it is fast",
      "der hund ist nicht mit der katze und ich bin zu haus",
      "le chat est dans la maison et les enfants sont pour vous",
      "el perro no se corre por la calle y en un parque",
      "zzz qqq xxx").toDF("text")
      .select(LangId.detectText($"text")).as[String].collect().toSeq
    assert(rows === Seq("en", "de", "fr", "es", "und"))
  }

  test("langid script tier: majority CJK decides, minority falls through") {
    val rows = Seq(
      "\u65E5\u672C\u8A9E\u306E\u30C6\u30AD\u30B9\u30C8\u3067\u3059", // ja: kanji+kana
      "\uD55C\uAD6D\uC5B4\uD14D\uC2A4\uD2B8",                         // ko: hangul
      "\u0E20\u0E32\u0E29\u0E32\u0E44\u0E17\u0E22",                   // th: thai
      "\u4E2D\u6587\u6587\u672C\u5904\u7406",                         // zh: Han only
      // kana outranks Han even when kanji dominates the char count
      "\u6F22\u5B57\u51E6\u7406\u3067\u3059",
      // a single loanword character inside Latin text never flips the
      // doc to the script tier (majority gate): markers still decide
      "the cat and of to in is \u6F22 you that it for",
      "x \u6F22")                                   // no majority, no markers
      .toDF("text").select(LangId.detectText($"text"))
      .as[String].collect().toSeq
    assert(rows === Seq("ja", "ko", "th", "zh", "ja", "en", "und"))
  }

  test("quality score is in [0,1] and penalizes stopword soup") {
    val df = Seq(
      ("all content words here machine learning distributed systems", 1),
      ("the and of to in is you that it for", 2)).toDF("text", "id")
    val (n, sr, q) = TokenOps.qualityScore($"text")
    val out = df.select($"id", q.as("q")).as[(Int, Double)].collect().toMap
    assert(out.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(out(1) > out(2), s"content-heavy doc should outscore stopword soup: $out")
  }

  test("scores struct carries qualityScore's n_tokens and quality") {
    val (n, _, q) = TokenOps.qualityScore($"text")
    val s = TokenOps.scores($"text")
    val docs = Tables.documents(spark, sf001)
    val diff = docs.select($"text", n.as("n"), q.as("q"), s.as("s"))
      .filter(!($"s.text" <=> $"text") ||
        !($"s.n_tokens" <=> $"n") || !($"s.quality" <=> $"q"))
    assert(docs.count() > 0 && diff.count() === 0)
  }

  test("gopher rules: clean prose passes, degenerate docs fail the right rule") {
    val df = Seq(
      // 1: clean 12-token prose -> pass
      ("the quick brown fox jumps over the lazy dog near the river", 1),
      // 2: too short
      ("tiny doc", 2),
      // 3: symbol soup (# ratio blows the 0.1 budget)
      ("# # # # # tag tag tag tag tag tag tag", 3),
      // 4: numeric soup fails the alpha-word share
      ("11 22 33 44 55 66 77 88 99 00 11 22", 4)).toDF("text", "id")
    val out = df.select($"id", TokenOps.gopherRules($"text").as("g"))
      .select($"id", $"g.pass", $"g.n_tokens", $"g.alpha_ratio",
        $"g.symbol_ratio")
      .as[(Int, Boolean, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1)._2 === true, out(1))
    assert(out(2)._2 === false && out(2)._3 < 10, out(2))
    assert(out(3)._2 === false && out(3)._5 > 0.1, out(3))
    assert(out(4)._2 === false && out(4)._4 < 0.7, out(4))
  }

  private def tokOne(s: String): Seq[String] =
    Seq(s).toDF("text").select(TokenOps.tokenize($"text"))
      .as[Seq[String]].head()

  test("script-aware fallback: CJK tokens bigram, Latin stays whole") {
    // 漢字処理 (4 Han chars) → overlapping bigrams; 'abc' untouched
    assert(tokOne("\u6F22\u5B57\u51E6\u7406 abc") ===
      Seq("\u6F22\u5B57", "\u5B57\u51E6", "\u51E6\u7406", "abc"))
    // single CJK char yields itself
    assert(tokOne("\u304B") === Seq("\u304B"))
    // mixed Latin+CJK token bigrams wholesale
    assert(tokOne("abc\u6F22") === Seq("ab", "bc", "c\u6F22"))
    // hangul and thai trigger the fallback too
    assert(tokOne("\uAC00\uAC01\uAC02").size === 2)
    assert(tokOne("\u0E01\u0E02\u0E03").size === 2)
    // pure ASCII is bit-identical to the whitespace split (and to
    // tokenizeWs), including lowercase
    assert(tokOne("Hello  WORLD\tfoo") === Seq("hello", "world", "foo"))
    val both = Seq("Mixed Case text").toDF("text")
      .select(TokenOps.tokenize($"text").as("a"),
        TokenOps.tokenizeWs($"text").as("b"))
      .as[(Seq[String], Seq[String])].head()
    assert(both._1 === both._2)
  }

  test("whitespace-free text: dedup shingles no longer collapse") {
    // Before the fallback each CJK doc was ONE token, so 3-gram shingles
    // were EMPTY for every doc — all CJK docs became indistinguishable
    // to MinHash/Jaccard. With bigram tokens, overlapping docs share
    // most shingles and disjoint docs share none.
    import graft.operators.MinHashDedup
    val docs = Seq(
      (1L, "\u6F22\u5B57\u51E6\u7406\u7CFB\u7D71"),       // 漢字処理系統
      (2L, "\u6F22\u5B57\u51E6\u7406\u7CFB\u7D71"),       // exact dup
      (3L, "\u6F22\u5B57\u51E6\u7406\u5B66\u7FD2"),       // shares prefix
      (4L, "\u3042\u3044\u3046\u3048\u304A\u304B"))       // disjoint kana
      .toDF("doc_id", "text")
    val sh = docs.select($"doc_id",
        MinHashDedup.shingles(TokenOps.tokenize($"text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().map(t => t._1 -> t._2.toSet).toMap
    assert(sh(1L).nonEmpty, "CJK doc must produce shingles")
    assert(sh(1L) === sh(2L), "exact dup shares all shingles")
    val overlap = sh(1L).intersect(sh(3L)).size.toDouble /
      sh(1L).union(sh(3L)).size
    assert(overlap >= 0.2 && overlap < 1.0, s"prefix-sharing jaccard $overlap")
    assert(sh(1L).intersect(sh(4L)).isEmpty, "disjoint scripts share none")
    // exact-dedup fingerprints distinguish the near-pair from the dup
    val fps = docs.select($"doc_id",
        TokenOps.bagOfWordsFingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("whitespace-free text: BM25 df counts shared words, not lines") {
    // 漢字 appears in docs 1 and 2 but not 3 — with one-token-per-line
    // tokenization its df would be 0 (no posting could ever match a
    // query term); with bigrams df = 2.
    val dir = java.nio.file.Files.createTempDirectory("graft-cjkbm").toString
    val docs = Seq(
      (1L, "\u6F22\u5B57\u51E6\u7406"),
      (2L, "\u5B66\u7FD2\u6F22\u5B57"),
      (3L, "\u3042\u3044\u3046"))
      .toDF("doc_id", "text")
    graft.operators.Bm25.buildPostings(docs, "doc_id", "text",
      s"$dir/idx", nBuckets = 4)
    val df = graft.sources.PartitionedParquet
      .read(spark, s"$dir/idx/terms")
      .filter($"token" === "\u6F22\u5B57")
      .select($"df").as[Long].collect()
    assert(df.toSeq === Seq(2L), s"df(\u6F22\u5B57) = ${df.toSeq}")
  }

  test("quality ensemble: a dominator ranks first, keep cut is exact") {
    // doc 0 dominates every signal: long varied prose with sentences
    // (best quality + readability, no repetition, typical vocabulary);
    // doc 3 is worst everywhere (short, repeated, rare-token salad)
    val docs = Seq(
      (0L, "the quick brown fox jumps over a lazy dog near town. " +
        "a bright sun warms the green field today and more. " +
        "small birds sing near the quiet river bank at dawn. " +
        "people walk along the shore and smile at the waves."),
      (1L, "the small cat sat on the mat. it was a good day."),
      (2L, "some plain words about the weather and the sea."),
      (3L, "zzgx zzgx zzgx zzgx")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-ens")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.queries("q_quality_ensemble")(
        spark, dir.toString)
      .as[(Long, Long, Long, Long, Long, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // keep cut: ceil(0.6 * 4) = 3 docs kept, and the kept set IS the
    // three smallest mean ranks (cut consistency — which doc falls is
    // signal interplay: the vowel-less salad scores 0 syllables, so
    // Flesch loves it even as repetition buries it)
    assert(got.values.count(_._7) == 3)
    val keepSet = got.values.filter(_._7).map(_._1).toSet
    val bestByMean =
      got.values.toSeq.sortBy(r => (r._6, r._1)).take(3).map(_._1).toSet
    assert(keepSet == bestByMean)
    // per-signal sanity: varied prose beats the salad on the signals
    // that measure what they claim (quality, repetition) — the BLEND's
    // verdict on a 4-doc corpus is the signals' interplay, not a fact
    // to pin (tiny-corpus NLL finds zzgx frequent; Flesch finds it
    // vowel-less and easy — exactly why ensembling beats any one)
    assert(got(0L)._2 < got(3L)._2, s"quality: $got")
    assert(got(0L)._4 < got(3L)._4, s"repetition: $got")
    // every rank column is a permutation of 1..n
    Seq[((Long, Long, Long, Long, Long, Double, Boolean)) => Long](
      _._2, _._3, _._4, _._5).foreach { f =>
      assert(got.values.map(f).toSeq.sorted == Seq(1L, 2L, 3L, 4L))
    }
  }

  test("c4 rules: each flag fires on its own tell, pass needs all three") {
    def run(s: String) =
      Seq(s).toDF("text").select(TokenOps.c4Rules($"text").as("c"))
        .select($"c.n_sentences", $"c.n_lines", $"c.punct_line_ratio",
          $"c.has_brace", $"c.has_lorem", $"c.pass")
        .as[(Long, Long, Double, Boolean, Boolean, Boolean)].head()
    val good = run("One sentence. Two here. And three!")
    assert(good._1 == 3 && !good._4 && !good._5 && good._6)
    assert(run("Has code { inside }. Two. Three.")._4)
    assert(!run("Has code { inside }. Two. Three.")._6)
    assert(run("Lorem IPSUM dolor. Two. Three.")._5)
    assert(!run("Only two. Sentences here.")._6) // < 3 sentences
    // line accounting: punct ratio counts terminal-punctuation lines,
    // \z semantics (a line ending in a quote after punctuation counts)
    val lines = run("ends well.\nno punct\nquoted end!\"")
    assert(lines._2 == 3 && lines._3 == BigDecimal(2.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
