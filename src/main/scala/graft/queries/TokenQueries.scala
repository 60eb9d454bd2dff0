package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Chunking, LangId, TokenOps}

/** Tokenization + text-analysis relational queries (SURVEY.md §7 step 2):
  * the relational cores of the MLlib fits (IDF document frequency,
  * CountVectorizer vocabulary top-k, TF-IDF ranking) made oracle-checkable
  * before any MLlib code runs, plus token counting, quality scoring, and
  * fingerprinting from the LLM-pipeline extension surface.
  */
object TokenQueries extends QueryModule {

  private val stop = TokenOps.englishStopwords
  private def toks(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"),
      explode(TokenOps.tokenize(col("text"))).as("token"))

  // Deterministic CJK dirt for q_cjk_tokens, shared by both engines:
  // a fixed Han word (U+6F22 U+5B57 U+51E6 U+7406) and a kana alphabet
  // (U+3042..U+3053, the a/ka gojuon rows) a doc-varying slice is cut
  // from. Scala \u escapes keep the source ASCII; the SQL mirror
  // receives the identical code points through these shared constants.
  private val HanClause = "\u6F22\u5B57\u51E6\u7406"
  private val KanaAlpha = "\u3042\u3044\u3046\u3048\u304A" +
    "\u304B\u304D\u304F\u3051\u3053"

  // q_lang_id_cjk script snippets (shared constants, both engines):
  // ja = kanji+kana mix, ko = hangul, th = thai, zh = Han only
  private val JaSnippet =
    "\u65E5\u672C\u8A9E\u306E\u30C6\u30AD\u30B9\u30C8\u3067\u3059"
  private val KoSnippet = "\uD55C\uAD6D\uC5B4\uD14D\uC2A4\uD2B8"
  private val ThSnippet = "\u0E20\u0E32\u0E29\u0E32\u0E44\u0E17\u0E22"
  private val ZhSnippet = "\u4E2D\u6587\u6587\u672C\u5904\u7406"

  // q_lang_id_ngram seed/eval snippets (shared constants, both engines):
  // one lowercase sentence per Latin-script language, apostrophe-free so
  // each embeds verbatim in a SQL literal. pt and nl are DELIBERATELY
  // outside LangId.markers \u2014 the trained tier must learn languages the
  // marker tier cannot see (that extensibility is the tier's point).
  // Accents spelled as \u escapes to keep the source ASCII.
  private val NgramLangs: Seq[(String, String)] = Seq(
    "de" -> ("der schnelle braune fuchs springt \u00FCber den faulen " +
      "hund und l\u00E4uft schnell davon in den dunklen wald"),
    "en" -> ("the quick brown fox jumps over the lazy dog and runs " +
      "away with the red ball into the dark woods"),
    "es" -> ("el r\u00E1pido zorro marr\u00F3n salta sobre el perro " +
      "perezoso y se escapa corriendo hacia el bosque oscuro"),
    "fr" -> ("le renard brun rapide saute par-dessus le chien " +
      "paresseux et court tres vite vers la foret sombre"),
    "it" -> ("la volpe marrone veloce salta sopra il cane pigro e " +
      "scappa via molto veloce verso il bosco scuro"),
    "nl" -> ("de snelle bruine vos springt over de luie hond en rent " +
      "heel snel weg naar het donkere bos"),
    "pt" -> ("a raposa marrom r\u00E1pida pula sobre o c\u00E3o " +
      "pregui\u00E7oso e foge correndo para a floresta escura"))

  val queries: Map[String, Q] = Map(
    // Script-aware tokenization fallback (TokenOps.tokenize): the
    // fixture is ASCII, so every row gets a CJK clause appended on both
    // engines (the q_redact inject-the-dirt discipline) — a fixed Han
    // word, a doc_id-varying kana 4-gram slice, and the Latin token
    // 'mixed' that must survive whole. n_ws pins the whitespace split,
    // n_tok the bigram expansion, and fp (md5 over the ordered token
    // join) the exact token SEQUENCE — order, overlap, and the
    // whole-token Latin passthrough all hash-checked cross-engine.
    "q_cjk_tokens" -> ((s, d) => {
      val dirty = concat(col("text"), lit(s" $HanClause mixed "),
        lit(KanaAlpha).substr(((col("doc_id") % 6) + 1).cast("int"),
          lit(4)))
      val saToks = TokenOps.tokenize(dirty)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TokenOps.tokenizeWs(dirty)).cast("long").as("n_ws"),
          size(saToks).cast("long").as("n_tok"),
          md5(concat_ws(" ", saToks)).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Explode → global token counts. One shuffle (hash on token) with
    // map-side partial aggregation; at 100 TB this is the canonical
    // wordcount shape and needs nothing exotic.
    "q_token_explode" -> ((s, d) =>
      toks(s, d).groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("token"))),

    // StopWordsRemover's relational core: content-token counts per doc.
    "q_stopword_filter" -> ((s, d) =>
      toks(s, d).filter(!col("token").isin(stop: _*))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_content"))
        .orderBy(col("doc_id"))),

    // IDF.fit's relational core (M4): per-term document frequency with
    // minDocFreq=5 (reference hyperparameter).
    "q_term_df" -> ((s, d) =>
      toks(s, d).groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 5)
        .orderBy(col("token"))),

    // CountVectorizer.fit's relational core (M6): top-k vocabulary by
    // total term frequency among terms with df >= minDF. count+
    // countDistinct in ONE aggregate (single shuffle), top-k via
    // TakeOrderedAndProject — no full sort at scale.
    "q_vocab_topk" -> ((s, d) =>
      toks(s, d).groupBy(col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 3)
        .select(col("token"), col("tf"))
        .orderBy(col("tf").desc, col("token"))
        .limit(100)),

    // TF-IDF top-3 terms per document. df side is vocabulary-sized →
    // broadcast join (no shuffle of the tf side); corpus size N enters
    // via a broadcast 1-row cross join, keeping the whole thing one lazy
    // plan (no driver-side .count()). Rank on the ROUNDED score so the
    // window ordering is engine-portable.
    "q_tfidf_topk" -> ((s, d) => {
      val t = toks(s, d)
      val tf = t.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val df = t.groupBy(col("token")).agg(countDistinct(col("doc_id")).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      val scored = tf.join(broadcast(df), "token").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("nd") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("token"), col("score"))
        .orderBy(col("doc_id"), col("token"))
    }),

    // NGram (M5) through the ACTUAL MLlib transformer — deterministic
    // string ops, so its corpus bigram counts are oracle-checkable
    // (round-1 left M5 spec-only; this closes that gap).
    "q_ngram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TokenOps.tokenize(col("text")).as("words"))
      new org.apache.spark.ml.feature.NGram()
        .setN(2).setInputCol("words").setOutputCol("grams")
        .transform(docs)
        .select(explode(col("grams")).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("gram"))
    }),

    // Overlapping token-window chunking (W=64, O=16 — the RAG-ingestion
    // sibling of q_pack_sequences): row-local closed form, scan-stage,
    // zero shuffles.
    "q_chunk_docs" -> ((s, d) =>
      Chunking.chunk(Tables.documents(s, d), "doc_id", "text",
          window = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Token counting: whitespace + BPE-ish regex.
    "q_token_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TokenOps.tokenCount(col("text")).as("n_ws_tokens"),
        TokenOps.regexTokenCount(col("text")).as("n_re_tokens"))
        .orderBy(col("doc_id"))),

    // GPT-2-style pretokenizer count — the budget a BPE tokenizer sees
    // before merges (the realistic packing budget).
    "q_bpe_token_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TokenOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))),

    // Deterministic quality scoring (length/stopword/token-shape).
    "q_quality_score" -> ((s, d) => {
      val (nTok, stopRatio, q) = TokenOps.qualityScore(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"), nTok.as("n_tokens"),
        stopRatio.as("stop_ratio"), q.as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Curriculum grid: quality decile × length bucket counts — the
    // shape report behind curriculum schedules (train easy/short first)
    // and mix audits (is the high-quality tail all one length band?).
    // The ntile sorts the DOC-DIMENSION frame on the already-rounded
    // quality score with doc_id tie-breaks (the q_rfm discipline; GK
    // quantile cuts are the 1e9-doc path).
    "q_curriculum_grid" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (nTok, _, q) = TokenOps.qualityScore(col("text"))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), nTok.as("n_tokens"), q.as("quality"))
      graft.operators.ExactStats.guardExactRank(base,
        "curriculum decile grid (exact doc-frame ntile)",
        memoKey = Some(s"curriculum-grid|$d"))
      base
        .withColumn("q_decile", ntile(10)
          .over(Window.orderBy(col("quality"), col("doc_id"))).cast("long"))
        .select(col("q_decile"),
          when(col("n_tokens") < 20, "0-short")
            .when(col("n_tokens") < 40, "1-mid")
            .otherwise("2-long").as("len_bucket"))
        .groupBy(col("q_decile"), col("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("q_decile"), col("len_bucket"))
    }),

    // The 1e9-doc path of the curriculum grid (the q_quality_ensemble_gk
    // pattern on a single signal): decile cut points from ONE mergeable
    // GK digest, band assignment row-local against the literal cuts —
    // no doc-frame ntile, no single-partition sort. Band deciles are
    // merge-order dependent within ε ⇒ rows-only; the envelope spec
    // bounds every decile population and the joint grid against the
    // exact form.
    "q_curriculum_grid_gk" -> ((s, d) => {
      // digest pass + band pass share one memoized compute (the
      // curatedCache discipline — bench re-runs reuse one RDD)
      val base = curriculumBase(s, d)
      val probs = array((1 until 10).map(i => lit(i / 10.0)): _*)
      val cuts = base.agg(graft.functions.QuantileSketch.gk_quantiles(
          graft.functions.QuantileSketch.gk_sketch_agg(col("quality"),
            0.002), probs))
        .head().getSeq[Double](0).toArray
      base.select(
          (graft.functions.BandExprs.bandOf(col("quality"), cuts,
            desc = false) + lit(1)).cast("long").as("q_decile"),
          when(col("n_tokens") < 20, "0-short")
            .when(col("n_tokens") < 40, "1-mid")
            .otherwise("2-long").as("len_bucket"))
        .groupBy(col("q_decile"), col("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("q_decile"), col("len_bucket"))
    }),

    // Within-doc repetition ratio (Gopher-style boilerplate signal).
    "q_repetition" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TokenOps.repetitionRatio(col("text"), 2).as("rep2"),
        TokenOps.repetitionRatio(col("text"), 3).as("rep3"))
        .orderBy(col("doc_id"))),

    // Order-invariant bag-of-words fingerprint (dedup cascade stage 1).
    "q_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TokenOps.bagOfWordsFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // Scalar-function coverage: array ops over tokens (slice/sort/
    // reverse/contains) — engine completeness beyond the reference's
    // string-only surface.
    "q_array_ops" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("first3"),
        element_at(array_sort(array_distinct(split(col("text"), " "))), 1)
          .as("min_token"),
        array_contains(split(col("text"), " "), "spark").cast("boolean")
          .as("has_spark"),
        reverse(split(col("text"), " "))(0).as("last_token"))
        .orderBy(col("doc_id"))),

    // Scalar-function coverage: string + math functions.
    "q_scalar_funcs" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        substring(col("text"), 1, 10).as("prefix10"),
        upper(substring(col("source"), -1, 1)).as("src_last"),
        lpad(col("lang"), 4, "_").as("lang_pad"),
        round(sqrt(col("n_chars").cast("double")), 6).as("sqrt_chars"),
        pmod(col("n_chars"), lit(7)).cast("long").as("mod7"),
        round(log(col("n_chars").cast("double") + 1.0), 6).as("ln_chars"))
        .orderBy(col("doc_id"))),

    // Composite curation pipeline — the operators composed the way a
    // training-data pass actually runs them: quality/length gate →
    // exact dedup by bag-of-words fingerprint (deterministic min-doc_id
    // survivor) → curated rows. One projection + one window shuffle.
    // Bench note: ~2.5s of this query's local time is one-time Janino
    // compilation (predicate pushdown substitutes the quality HOF tree
    // into the filter, quadrupling generated-code size); execution after
    // compile measures ~0.5s at sf0.1 and the compile cost is constant
    // in data size — a non-issue at cluster scale.
    "q_curate" -> ((s, d) => {
      val (nTok, _, q) = TokenOps.qualityScore(col("text"))
      val gated = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          nTok.as("n_tokens"), q.as("quality"))
        .filter(col("quality") >= 0.55 && col("n_tokens") >= 5)
      graft.operators.Dedup.exactByFingerprint(gated,
          TokenOps.bagOfWordsFingerprint(col("text")), col("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // Reproducible content-hash sampling: membership is a pure function
    // of the row content (md5 compare), stable across partitioning and
    // engines — unlike RNG sample(), which is partitioning-dependent and
    // can never be oracle-declared.
    "q_content_sample" -> ((s, d) =>
      graft.operators.Sampling.contentHashSample(
          Tables.documents(s, d), col("text"), 0.25)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // Three-way train/dev/test split on one content hash
    // (Sampling.hashSplit3): exactly-partitioning, stable under
    // repartitioning and growth — what randomSplit with three weights
    // gives up. Row-local predicate; per-(split, lang) counts verify
    // both thresholds and the remainder on the oracle.
    "q_split3" -> ((s, d) =>
      graft.operators.Sampling.hashSplit3(
          Tables.documents(s, d), col("text"),
          devFraction = 0.1, testFraction = 0.1)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang"))),

    // Deterministic k-fold CV assignment (Sampling.kFoldAssign): five
    // equal hex bands of the content hash — exactly-partitioning,
    // stable under repartitioning/growth, leakage-safe when keyed on a
    // group id. Per-(fold, lang) counts verify all four thresholds and
    // the remainder band against the mirror's identical CASE chain.
    "q_kfold_assign" -> ((s, d) =>
      graft.operators.Sampling.kFoldAssign(
          Tables.documents(s, d), col("text"), k = 5)
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("fold"), col("lang"))),

    // Per-slice model-quality audit: language-ID accuracy BY SOURCE —
    // the sliced-eval loop every corpus curation runs before trusting a
    // classifier's labels corpus-wide (a 95% global accuracy can hide a
    // 40% slice). Shares LangId.detectText with q_lang_id; one
    // source-keyed aggregate over the scan-stage argmax.
    "q_slice_metrics" -> ((s, d) => {
      val correct = (col("lang") === LangId.detectText(col("text")))
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          count(when(correct, 1)).as("n_correct"),
          round(count(when(correct, 1)).cast("double") /
            count(lit(1)).cast("double"), 6).as("accuracy"))
        .orderBy(col("source"))
    }),

    // Zipf-law slope over the top-100 token frequencies
    // (Profiling.zipfSlope): the corpus-health diagnostic — natural
    // text reads α ≈ −1; template spam too steep, synthetic noise too
    // flat. OLS terms on the 1e-9 integer grid, one double close.
    "q_zipf_slope" -> ((s, d) =>
      graft.operators.Profiling.zipfSlope(Tables.documents(s, d))),

    // Per-document tf·idf keywords (operators/Keywords): top-3 terms per
    // doc by tf·ln((N+1)/(df+1)) on the 1e-9 grid, df >= 2, ties by
    // token — the labeling/routing primitive. One wordcount aggregate +
    // vocab join + per-doc bounded window; the 1-row N frame broadcasts
    // (PlanSpec scalar-join allowlist).
    "q_doc_keywords" -> ((s, d) =>
      graft.operators.Keywords.docKeywords(
          Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // Weighted corpus mix: per-language sampling fractions in ONE
    // row-local predicate (the dataset-mixing recipe: N sources, each
    // downsampled to its weight, without N scans).
    "q_corpus_mix" -> ((s, d) =>
      graft.operators.Sampling.mixByStratum(
          Tables.documents(s, d), col("text"), col("lang"),
          Map("en" -> 0.8, "de" -> 0.5), defaultFraction = 0.1)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))),

    // Sequence packing: documents → fixed token-budget training
    // sequences (greedy fill by exclusive cumulative tokens, sharded so
    // the window is never global). Output = per-sequence packing stats.
    "q_pack_sequences" -> ((s, d) =>
      graft.operators.Packing.packStats(
          graft.operators.Packing.packSequences(
            Tables.documents(s, d), "doc_id", "text",
            tokensPerSeq = 200, shards = 8))
        .orderBy(col("shard"), col("seq_id"))),

    // Benchmark decontamination: drop documents whose bag-of-words
    // fingerprint appears in a (deterministic content-hash-sampled)
    // "benchmark" subset — the train/eval overlap removal pass. The
    // benchmark side is fingerprints-only → broadcast anti join.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = graft.operators.Sampling.contentHashSample(
        docs, col("text"), 0.1, seed = 7L)
      graft.operators.Dedup.decontaminate(docs, "text", bench, "text")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-path decontamination — the zero-shuffle scale form of
    // q_decontaminate (codegen'd bloom_might_contain probe; ~fpp extra
    // drops). Spark's bloom hashing has no DuckDB mirror → rows-only;
    // the no-false-negative containment vs the exact form is asserted
    // in DecontaminateSpec.
    "q_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = graft.operators.Sampling.contentHashSample(
        docs, col("text"), 0.1, seed = 7L)
      graft.operators.Dedup.decontaminateBloom(docs, "text", bench, "text")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Cross-source duplicate overlap matrix: shared distinct
    // fingerprints + Jaccard per source pair — the mix audit that
    // surfaces mirrored crawls before any pairwise dedup runs. Self
    // equi-join on fp, per-key width bounded by the source catalog.
    "q_source_overlap" -> ((s, d) =>
      graft.operators.Dedup.sourceOverlap(
          Tables.documents(s, d), "source", "text")
        .orderBy(col("source_a"), col("source_b"))),

    // Corpus-level duplicated-gram fraction: share of each doc's
    // distinct 5-grams that appear in another document — the signal
    // within-doc repetition can't see. Wordcount-shaped (linear), no
    // all-pairs.
    "q_dup_gram_fraction" -> ((s, d) =>
      graft.operators.Dedup.duplicatedGramFraction(
          Tables.documents(s, d), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))),

    // Span-level dedup REMEDIATION: trim the cross-doc duplicated gram
    // runs out of each document, keep the unique remainder (Lee et al.
    // 2022 substring removal at word-gram granularity). Same linear
    // wordcount shape as q_dup_gram_fraction, plus a position anti-join
    // and per-doc reassembly.
    "q_dedup_trim" -> ((s, d) =>
      graft.operators.Dedup.trimDuplicatedGrams(
          Tables.documents(s, d), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))),

    // Corpus diversity per source: type-token ratio and distinct-3-gram
    // share — the lexical-diversity screen beside q_zipf_slope (template
    // farms and synthetic spam repeat grams; natural prose doesn't).
    // Tokens filter the ''-token (the corpus mirrors' convention); grams
    // ride the raw token array (the q_dup_gram_fraction convention).
    // Two wordcount-shaped aggregates joined on the 20-row source key.
    "q_distinct_ngrams" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t = docs.select(col("source"),
          explode(TokenOps.tokenize(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct_tokens"))
      val g = docs.select(col("source"),
          explode(graft.operators.MinHashDedup.rawShingles(
            TokenOps.tokenize(col("text")), 3)).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("g")).as("n_distinct_grams"))
      t.join(g, Seq("source"))
        .select(col("source"), col("n_tokens"), col("n_distinct_tokens"),
          round(col("n_distinct_tokens").cast("double") /
            col("n_tokens").cast("double"), 6).as("ttr"),
          col("n_grams"), col("n_distinct_grams"),
          round(col("n_distinct_grams").cast("double") /
            col("n_grams").cast("double"), 6).as("gram_diversity"))
        .orderBy(col("source"))
    }),

    // Gopher-style quality rules: the published filter family (token
    // bounds, mean word length, alpha-word share, symbol ratio) as one
    // scan-stage projection; per-doc metrics + the pass verdict.
    "q_gopher_rules" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TokenOps.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_tokens"), col("g.mean_word_len"),
          col("g.alpha_ratio"), col("g.symbol_ratio"), col("g.pass"))
        .orderBy(col("doc_id"))),

    // C4 document-quality flags (the rule set beside the Gopher one):
    // the fixture is single-line and unpunctuated, so per-arm dirt is
    // injected (brace arm, lorem arm, three-sentence arm, clean arm)
    // plus two trailing lines — every flag varies per row on both
    // engines (the q_redact discipline).
    "q_c4_rules" -> ((s, d) => {
      val dirty = concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(" {code}"))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit(" Lorem Ipsum dolor"))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(". Two. Three."))
          .otherwise(lit("")),
        lit("\nends well.\nno punct end"))
      Tables.documents(s, d)
        .select(col("doc_id"), TokenOps.c4Rules(dirty).as("c"))
        .select(col("doc_id"), col("c.n_sentences"), col("c.n_lines"),
          col("c.punct_line_ratio"), col("c.has_brace"),
          col("c.has_lorem"), col("c.pass"))
        .orderBy(col("doc_id"))
    }),

    // C4-style per-source cap (<= 20 docs per source, smallest content
    // hash survives) via the native bottom_k aggregate — no corpus-wide
    // window sort; the hot-source case ships <= k entries per task.
    "q_source_cap" -> ((s, d) =>
      graft.operators.Sampling.capPerStratum(
          Tables.documents(s, d), "doc_id", col("text"), "source", k = 20)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // Temperature-weighted (α=0.5) corpus mix: per-language keep rates
    // derived FROM the data (α-damped shares — flattens the head,
    // boosts the tail), then one content-hash filter scan. The rate
    // arithmetic is integer-quantized so the driver-computed thresholds
    // and the oracle's SQL-computed ones agree bit-for-bit.
    "q_temperature_mix" -> ((s, d) =>
      graft.operators.Sampling.temperatureMix(
          Tables.documents(s, d), col("text"), "lang",
          budgetFraction = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))),

    // Per-group deterministic content sample via the native bottom_k
    // aggregate: 5 docs per language, smallest md5('42:'||text) first
    // (same key family as q_content_sample). The window form would
    // shuffle+sort the whole corpus per language; bottom_k keeps a
    // k-bounded heap with map-side combine — hot-language-safe.
    "q_group_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .groupBy(col("lang"))
        .agg(graft.functions.BottomK.bottom_k(
          md5(concat(lit("42:"), col("text"))), col("doc_id"), 5).as("ids"))
        .select(col("lang"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("pos"),
          col("doc_id"))
        .orderBy(col("lang"), col("pos"))
    }),

    // N-GRAM overlap decontamination (the GPT-3/Llama published form):
    // a document sharing ANY 5-gram with the benchmark subset is dropped
    // — catches partial eval-item embeddings the whole-document
    // fingerprint form (q_decontaminate) misses. Benchmark n-gram hashes
    // broadcast; the corpus explode joins map-side, no corpus shuffle.
    "q_decontaminate_ngram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = graft.operators.Sampling.contentHashSample(
        docs, col("text"), 0.1, seed = 7L)
      graft.operators.Dedup.decontaminateNgram(
          docs, "doc_id", "text", bench, "text", n = 5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Zero-shuffle bloom form of the n-gram pass: benchmark n-gram
    // hashes in a bloom filter, corpus checked by a row-local exists()
    // over its own n-grams — never exploded, never shuffled. Spark's
    // bloom hashing has no DuckDB mirror → rows-only; containment vs the
    // exact n-gram form is asserted in DecontaminateSpec.
    "q_decontaminate_ngram_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = graft.operators.Sampling.contentHashSample(
        docs, col("text"), 0.1, seed = 7L)
      graft.operators.Dedup.decontaminateNgramBloom(
          docs, "text", bench, "text", n = 5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Marker-word language ID — deterministic scan-stage argmax; the
    // oracle below rebuilds the same marker lists from LangId.markers so
    // Spark and DuckDB can never drift.
    "q_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        LangId.detectText(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    // word co-occurrence graph — adjacent-token edges (row-local zip,
    // stopwords and self-loops dropped), 3 quantized power-iteration
    // rounds on the SHARED PageRank kernel, top-20 by centrality. The
    // graph-centrality keyword extractor beside the tf-idf one
    // (q_doc_keywords): corpus-level, degree-aware, unsupervised.
    "q_textrank" -> ((s, d) => {
      val stop = TokenOps.englishStopwords
      val toks = Tables.documents(s, d)
        .select(TokenOps.tokenize(col("text")).as("t"))
      val bg = toks.select(explode(zip_with(
          col("t"),
          concat(array(lit(null).cast("string")),
            slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0)))),
          (tok, prev) => struct(prev.as("a"), tok.as("b")))).as("bg"))
        .select(col("bg.a"), col("bg.b"))
        .filter(col("a").isNotNull && col("a") =!= col("b"))
        .filter(!col("a").isInCollection(stop) &&
          !col("b").isInCollection(stop))
      // the edge set materializes once: ranks' n-count plus 3
      // iteration joins would otherwise re-derive the corpus bigram
      // explode seven times
      val und = bg.select(least(col("a"), col("b")).as("id_a"),
          greatest(col("a"), col("b")).as("id_b"))
        .distinct().localCheckpoint()
      val vocab = und.select(col("id_a").as("token"))
        .union(und.select(col("id_b"))).distinct()
      graft.operators.PageRank.ranks(vocab, "token", und, iters = 3)
        .select(col("id").as("token"), col("pr_nano"))
        .orderBy(col("pr_nano").desc, col("token"))
        .limit(20)
    }),

    // Cohen's kappa between the corpus lang label and the marker-argmax
    // prediction — the chance-corrected honesty companion to raw
    // langid agreement (en is the majority class; accuracy alone
    // flatters a majority guesser). One corpus aggregate to cells;
    // everything else contingency-sized.
    "q_cohens_kappa" -> ((s, d) =>
      graft.operators.Profiling.cohensKappa(
        Tables.documents(s, d).select(col("lang"),
          LangId.detectText(col("text")).as("lang_pred")),
        "lang", "lang_pred")),

    // Script-tier language ID (the CJK follow-through of the tokenizer
    // fallback): four of five doc_id arms get a repeated
    // Japanese/Korean/Thai/Chinese snippet prepended — script-majority
    // by construction — and must detect ja/ko/th/zh (kana outranks Han:
    // the kanji+kana mix is the Japanese signature); the fifth arm
    // stays Latin and must fall through to the marker argmax. Both
    // tiers mirrored exactly: length-diff char counts with explicit 'g'
    // and the identical WHEN order.
    "q_lang_id_cjk" -> ((s, d) => {
      val snippet = when(col("doc_id") % 5 === 0, lit(JaSnippet))
        .when(col("doc_id") % 5 === 1, lit(KoSnippet))
        .when(col("doc_id") % 5 === 2, lit(ThSnippet))
        .when(col("doc_id") % 5 === 3, lit(ZhSnippet))
        .otherwise(lit(""))
      val dirty = concat(repeat(snippet, 8), lit(" "),
        substring(col("text"), 1, 12))
      Tables.documents(s, d)
        .select(col("doc_id"), LangId.detectText(dirty).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // TRAINED language ID (LangIdNgram): char-trigram profiles fit
    // in-engine on a labeled seed HALF (doc_id parity split), argmax
    // log-odds scoring on the held-out half. The corpus labels carry no
    // textual signal (the fixture text is label-independent word soup —
    // that is exactly why the marker tier's q_cohens_kappa reads ≈0),
    // so the demonstration rides injected REAL language text, the
    // q_lang_id_cjk discipline: doc_id%7 arms get one of seven
    // language snippets (incl. pt/nl, which the marker tier cannot
    // see). Fully mirrored: fit AND score replayed in SQL.
    "q_lang_id_ngram" -> ((s, d) => {
      val (ev, model) = ngramEvalAndModel(s, d)
      graft.operators.LangIdNgram.predict(ev, "doc_id", "dirty", model)
        .join(ev.select(col("doc_id"), col("lang_true")), "doc_id")
        .select(col("doc_id"), col("lang_true"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // The honesty readout for the trained tier, beside the marker
    // tier's — SAME eval half, SAME truth, both predictors: Cohen's
    // kappa per tier in one result. The trained tier must sit near 1
    // on text that HAS language signal while the marker tier (blind to
    // pt/nl, confused by shared function words) sits far below — the
    // measured argument for shipping the third tier.
    "q_lang_id_ngram_kappa" -> ((s, d) => {
      val (ev, model) = ngramEvalAndModel(s, d)
      val ngram = graft.operators.LangIdNgram
        .predict(ev, "doc_id", "dirty", model)
        .join(ev.select(col("doc_id"), col("lang_true")), "doc_id")
      val marker = ev.select(col("lang_true"),
        LangId.detectText(col("dirty")).as("lang_pred"))
      graft.operators.Profiling.cohensKappa(marker, "lang_true", "lang_pred")
        .withColumn("tier", lit("marker"))
        .unionByName(graft.operators.Profiling
          .cohensKappa(ngram.select(col("lang_true"), col("lang_pred")),
            "lang_true", "lang_pred")
          .withColumn("tier", lit("ngram")))
        .select(col("tier"), col("n"), col("po"), col("pe"), col("kappa"))
        .orderBy(col("tier"))
    }),

    // Substring-level dedup (Lee et al. ACL'22 ExactSubstr, k-gram
    // form): per-doc duplicated-span profile + retention cut. k=5
    // separates incidental shared spans (1-4% of a doc here) from
    // near-full duplicates (94-100%); tau=0.5 keeps the former. One
    // wordcount-shaped shuffle on the gram + reduced-row ownership
    // window — no self-join (SpanDedup scaladoc has the 100 TB shape).
    "q_span_dedup" -> ((s, d) =>
      graft.operators.SpanDedup.stats(Tables.documents(s, d),
          "doc_id", "text", k = SpanK, tau = SpanTau)
        .orderBy(col("doc_id"))),

    // The trim itself: duplicated spans removed token-wise (coverage of
    // any dup window), canonical copies untouched — output text is
    // hash-compared against the mirror's list-lambda reconstruction.
    "q_span_trim" -> ((s, d) =>
      graft.operators.SpanDedup.trimDupSpans(Tables.documents(s, d),
          "doc_id", "text", k = SpanK)
        .orderBy(col("doc_id")))
  )

  private val SpanK = 5
  private val SpanTau = 0.5

  private val stopSql = TokenOps.sqlList(stop)
  // The SAME whitespace-run pattern TokenOps.tokenize compiles (explicit
  // shared-subset class, not \s — Java/RE2 diverge on VT), so Spark and
  // the oracle split identically on ANY input, not just the fixture.
  private val wsSql = TokenOps.WsRun
  // Mirrors TokenOps.tokenize on WHITESPACE-DELIMITED text (lowercase +
  // split on whitespace runs): tokenize's CJK bigram fallback never
  // fires on input without WsFreeScriptClass characters, so these plain
  // split mirrors stay exact on the ASCII fixture and on any script
  // that uses whitespace; q_cjk_tokens pins the fallback branch with
  // its own full mirror on injected CJK rows.
  private val toksSql =
    s"SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$wsSql')) AS token FROM documents"

  /** Mirrors LangId.detect as a shared WITH block ending in
    * `lpred(doc_id, lang, lang_pred)`: per-language marker-hit counts
    * over the shared tokenizer, argmax via struct ordering (DuckDB's
    * list_max compares structs field-wise exactly like Spark's
    * array_max, so score ties break to the lexicographically greatest
    * lang in both engines), "und" when nothing hits. Marker IN-lists
    * are generated from LangId.markers — one definition, two engines.
    * LEFT JOIN + coalesced scores keep the cross-engine contract for
    * nullable corpora: a NULL-text doc tokenizes to zero rows but Spark
    * still emits it as "und", so it must survive the join as all-zero.
    * Consumed by q_lang_id and q_cohens_kappa. */
  private val langIdPredCtes: String = {
    val langs = LangId.markers.keys.toSeq.sorted
    val scores = langs.map { l =>
      s"count(*) FILTER (WHERE token IN (${TokenOps.sqlList(LangId.markers(l))})) AS s_$l"
    }.mkString(",\n    ")
    val structs =
      langs.map(l => s"{'s': coalesce(s_$l, 0), 'lang': '$l'}").mkString(", ")
    s"""WITH sc AS (SELECT doc_id,
       |    $scores
       |  FROM ($toksSql) GROUP BY doc_id),
       |lbest AS (SELECT d.doc_id, d.lang, list_max([$structs]) AS b
       |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
       |lpred AS (SELECT doc_id, lang,
       |    CASE WHEN b.s > 0 THEN b.lang ELSE 'und' END AS lang_pred
       |  FROM lbest)""".stripMargin
  }

  /** q_lang_id_ngram labeled fixture: every doc gets its doc_id%7 arm
    * snippet repeated 3× plus an 8-char corpus slice (per-doc noise);
    * lang_true is the arm. Parity split — seed even, eval odd (7 and 2
    * are coprime, so both halves see all seven arms). Checkpointed: the
    * fit and two predictor legs all reread it. */
  private def ngramLabeled(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val arm = col("doc_id") % 7
    def pick(f: ((String, String)) => String) =
      NgramLangs.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (p, i)) => when(arm === i, lit(f(p))).otherwise(acc)
      }
    Tables.documents(s, d).select(col("doc_id"),
      pick(_._1).as("lang_true"),
      concat(repeat(pick(_._2), 3), lit(" "),
        substring(col("text"), 1, 8)).as("dirty"))
      .localCheckpoint()
  }

  private val curriculumBaseCache =
    new graft.util.SessionCache[org.apache.spark.sql.DataFrame]

  /** The curriculum GK base frame (doc_id, n_tokens, quality), one
    * localCheckpoint per (session, dataset) — named in Bench's warm
    * ledger so the memoized first build is attributed, not silently
    * excluded from the headline (r18 verdict #8). */
  private def curriculumBase(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    curriculumBaseCache.getOrElseUpdate(s, d) {
      val (nTok, _, q) = TokenOps.qualityScore(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), nTok.as("n_tokens"), q.as("quality"))
        .localCheckpoint()
    }

  /** One labeled fixture + one trigram fit per (session, dataset) —
    * q_lang_id_ngram and the kappa readout share both (the kappa query
    * would otherwise re-run the whole fit; the kmeans_model memoization
    * discipline, warmed untimed by Bench). */
  private val ngramFixtureCache = new graft.util.SessionCache[
    (org.apache.spark.sql.DataFrame, graft.operators.LangIdNgram.Model)]
  private def ngramEvalAndModel(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
      graft.operators.LangIdNgram.Model) =
    ngramFixtureCache.getOrElseUpdate(s, d) {
      val lab = ngramLabeled(s, d)
      val model = graft.operators.LangIdNgram.fit(
        lab.filter(col("doc_id") % 2 === 0), "lang_true", "dirty")
      (lab.filter(col("doc_id") % 2 === 1), model)
    }

  override val warmups: Map[String,
      (org.apache.spark.sql.SparkSession, String) => Unit] = Map(
    "langid_ngram_model" -> ((s, d) => { ngramEvalAndModel(s, d); () }),
    // curriculum GK base frame — memoized shared intermediate, attributed
    // by name like the model fits (r18 verdict #8)
    "curriculum_base" -> ((s, d) => { curriculumBase(s, d); () }))

  /** Shared SQL for the trained-tier mirrors: the labeled fixture, the
    * char-trigram FIT on the even half (counts → nano-grid log-prob
    * profile + per-language add-1 defaults), and argmax scoring of the
    * odd half, ending in `predng(doc_id, lang_true, lang_pred)` —
    * textually one definition, consumed by q_lang_id_ngram and the
    * kappa readout. Gram construction floors the position range at 1
    * exactly like LangIdNgram.charGrams. */
  private val ngramPredCtes: String = {
    def armSql(f: ((String, String)) => String) =
      "CASE doc_id % 7 " + NgramLangs.zipWithIndex.map {
        case (p, i) => s"WHEN $i THEN '${f(p)}'"
      }.mkString(" ") + " END"
    val grams = "[substring(t, i, 3) FOR i IN " +
      "generate_series(1, greatest(length(t) - 2, 1))]"
    s"""lab AS (SELECT doc_id, ${armSql(_._1)} AS lang_true,
       |    lower(repeat(${armSql(_._2)}, 3) || ' ' ||
       |      substring(text, 1, 8)) AS t
       |  FROM documents),
       |sg AS (SELECT lang_true AS lang, unnest($grams) AS g
       |  FROM lab WHERE doc_id % 2 = 0 AND t IS NOT NULL),
       |cnts AS (SELECT lang, g, count(*) AS c FROM sg GROUP BY 1, 2),
       |ltot AS (SELECT lang, sum(c) AS nl FROM cnts GROUP BY 1),
       |voc AS (SELECT count(DISTINCT g) AS v FROM cnts),
       |prof AS (SELECT lang, g,
       |    CAST(round(ln((CAST(c AS DOUBLE) + 1.0)
       |      / (CAST(nl AS DOUBLE) + CAST(v AS DOUBLE))) * 1e9)
       |      AS BIGINT) AS lp
       |  FROM cnts JOIN ltot USING (lang) CROSS JOIN voc),
       |dflt AS (SELECT lang,
       |    CAST(round(ln(1.0 / (CAST(nl AS DOUBLE) + CAST(v AS DOUBLE)))
       |      * 1e9) AS BIGINT) AS lp0
       |  FROM ltot CROSS JOIN voc),
       |eg AS (SELECT doc_id, g, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest($grams) AS g
       |    FROM lab WHERE doc_id % 2 = 1 AND t IS NOT NULL) egs
       |  GROUP BY 1, 2),
       |tt AS (SELECT doc_id, sum(cnt) AS tg FROM eg GROUP BY 1),
       |mt AS (SELECT eg.doc_id, prof.lang,
       |    sum(eg.cnt * prof.lp) AS s_hit, sum(eg.cnt) AS m_hit
       |  FROM eg JOIN prof USING (g) GROUP BY 1, 2),
       |grid AS (SELECT tt.doc_id, dflt.lang,
       |    coalesce(mt.s_hit, 0)
       |      + (tt.tg - coalesce(mt.m_hit, 0)) * dflt.lp0 AS score
       |  FROM tt CROSS JOIN dflt
       |  LEFT JOIN mt ON mt.doc_id = tt.doc_id AND mt.lang = dflt.lang),
       |bestng AS (SELECT doc_id, max({'s': score, 'lang': lang}) AS b
       |  FROM grid GROUP BY 1),
       |predng AS (SELECT l.doc_id, l.lang_true,
       |    coalesce(b.lang, 'und') AS lang_pred
       |  FROM (SELECT doc_id, lang_true FROM lab WHERE doc_id % 2 = 1) l
       |  LEFT JOIN bestng USING (doc_id))""".stripMargin
  }

  /** Cohen's kappa over a `(t, p)` relation as a parenthesized
    * WITH-subquery — the q_cohens_kappa formula (including its pe = 1
    * NULL guard) applied to an arbitrary prediction table so the
    * two-tier readout can run it twice in one statement. `rel` must be
    * an aliased FROM-able relation. */
  private def kappaSql(rel: String): String =
    s"""(WITH cells AS (SELECT t, p, count(*) AS o FROM $rel GROUP BY 1, 2),
       |rm2 AS (SELECT t, sum(o) AS r FROM cells GROUP BY 1),
       |cm2 AS (SELECT p, sum(o) AS c FROM cells GROUP BY 1),
       |tot2 AS (SELECT sum(o) AS n,
       |    sum(CASE WHEN t = p THEN o ELSE 0 END) AS agree FROM cells),
       |rcx2 AS (SELECT coalesce(sum(r * c), 0) AS rc
       |  FROM rm2 JOIN cm2 ON rm2.t = cm2.p)
       |SELECT CAST(n AS BIGINT) AS n,
       |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
       |  round(CAST(rc AS DOUBLE)
       |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
       |  CASE WHEN CAST(rc AS DOUBLE)
       |            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
       |    round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
       |           - CAST(rc AS DOUBLE)
       |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |          / (1.0 - CAST(rc AS DOUBLE)
       |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
       |  END AS kappa
       |FROM tot2 CROSS JOIN rcx2)""".stripMargin

  /** Shared CTE prefix for the span-dedup mirrors: tokenized docs (t)
    * and the 1-based k-token sliding grams (g2), textually mirroring
    * SpanDedup.spanGrams (range's exclusive end is empty when the doc
    * is shorter than k — the same guard as the engine's when(size>=k)). */
  private val spanGramsSql =
    s"""t AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '$wsSql') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id,
       |    unnest(range(1, greatest(len(toks) - $SpanK + 2, 1))) AS pos,
       |    toks
       |  FROM t),
       |g2 AS (SELECT doc_id, pos,
       |    array_to_string(toks[pos : pos + $SpanK - 1], ' ') AS gram
       |  FROM g)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Script-aware tokenize mirror: the identical injected CJK clause,
    // whitespace split first, then the per-token list-lambda bigram
    // expansion — the same WsFreeScriptClass constant (explicit \x{...}
    // ranges, valid RE2 and Java alike) gates the fallback on both
    // engines. generate_series is inclusive like Spark's sequence;
    // greatest(len-1, 1) makes a 1-char token yield itself.
    "q_cjk_tokens" -> {
      val dirty = s"(text || ' $HanClause mixed ' || " +
        s"substring('$KanaAlpha', CAST(doc_id % 6 AS INTEGER) + 1, 4))"
      s"""WITH w AS (SELECT doc_id,
         |    regexp_split_to_array(lower($dirty), '$wsSql') AS ws
         |  FROM documents),
         |sa AS (SELECT doc_id, ws,
         |    flatten(list_transform(ws, tok ->
         |      CASE WHEN regexp_matches(tok, '${TokenOps.WsFreeScriptClass}')
         |        THEN list_transform(
         |               generate_series(1, greatest(length(tok) - 1, 1)),
         |               i -> substring(tok, i, 2))
         |        ELSE [tok] END)) AS toks
         |  FROM w)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_ws,
         |  CAST(len(toks) AS BIGINT) AS n_tok,
         |  md5(array_to_string(toks, ' ')) AS fp
         |FROM sa ORDER BY doc_id""".stripMargin
    },

    "q_token_explode" ->
      s"""SELECT token, CAST(count(*) AS BIGINT) AS n FROM ($toksSql)
         |GROUP BY token ORDER BY token""".stripMargin,

    "q_stopword_filter" ->
      s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS n_content FROM ($toksSql)
         |WHERE token NOT IN ($stopSql)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_term_df" ->
      s"""SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM ($toksSql) GROUP BY token
         |HAVING count(DISTINCT doc_id) >= 5 ORDER BY token""".stripMargin,

    "q_vocab_topk" ->
      s"""SELECT token, tf FROM (
         |  SELECT token, CAST(count(*) AS BIGINT) AS tf,
         |         count(DISTINCT doc_id) AS df
         |  FROM ($toksSql) GROUP BY token)
         |WHERE df >= 3 ORDER BY tf DESC, token LIMIT 100""".stripMargin,

    "q_tfidf_topk" ->
      s"""WITH toks AS ($toksSql),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |df AS (SELECT token, count(DISTINCT doc_id) AS df
         |       FROM toks GROUP BY token),
         |n AS (SELECT count(*) AS nd FROM documents)
         |SELECT doc_id, token, score FROM (
         |  SELECT tf.doc_id, tf.token,
         |    round(tf.tf * ln((n.nd + 1.0) / (df.df + 1.0)), 6) AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY round(tf.tf * ln((n.nd + 1.0) / (df.df + 1.0)), 6) DESC,
         |               tf.token) AS rn
         |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
         |WHERE rn <= 3 ORDER BY doc_id, token""".stripMargin,

    // MLlib NGram semantics: sliding windows only (no partial tail),
    // joined with a single space — t[i:i+1] is DuckDB's inclusive
    // 2-element slice.
    "q_ngram" ->
      s"""WITH toks AS (SELECT doc_id,
        |  regexp_split_to_array(lower(text), '$wsSql') AS t FROM documents),
        |g AS (SELECT unnest([array_to_string(t[i:i+1], ' ')
        |  FOR i IN generate_series(1, len(t) - 1)]) AS gram FROM toks)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY gram ORDER BY gram""".stripMargin,

    // W=64, O=16, stride 48; last chunk index = floor((n-64+47)/48) for
    // n > 64 (integer-exact in double) — same closed form as
    // Chunking.chunk, so boundaries agree token-for-token.
    "q_chunk_docs" ->
      s"""WITH toks AS (SELECT doc_id,
        |  regexp_split_to_array(lower(text), '$wsSql') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
        |g AS (SELECT doc_id, unnest([{
        |    'chunk_id': i,
        |    'start_token': i*48,
        |    'n_tokens': least(64, n - i*48),
        |    'chunk_text': array_to_string(t[i*48+1 : i*48+least(64, n - i*48)], ' ')
        |  } FOR i IN generate_series(0, CASE WHEN n <= 64 THEN 0
        |      ELSE CAST(floor((n - 64 + 47) / 48.0) AS BIGINT) END)]) AS c
        |  FROM sized)
        |SELECT doc_id, c.chunk_id AS chunk_id, c.start_token AS start_token,
        |  c.n_tokens AS n_tokens, c.chunk_text AS chunk_text
        |FROM g ORDER BY doc_id, chunk_id""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '$wsSql')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_split_to_array(text, '[^a-zA-Z0-9'']+')) AS BIGINT)
        |    AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_bpe_token_count" ->
      ("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '""" + graft.operators.TokenOps.BpePretokenizePattern
          .replace("'", "''") + """')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""").stripMargin,

    "q_quality_score" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(lower(text), '$wsSql')) AS DOUBLE) AS n_tok,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '$wsSql'),
         |      t -> t IN ($stopSql))) AS DOUBLE) AS n_stop,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_char
         |  FROM documents)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         |  round(n_stop / n_tok, 6) AS stop_ratio,
         |  round(0.5 * least(n_tok / 100.0, 1.0)
         |      + 0.3 * (1.0 - n_stop / n_tok)
         |      + 0.2 * least((n_char / n_tok) / 10.0, 1.0), 6) AS quality
         |FROM q ORDER BY doc_id""".stripMargin,

    // curriculum grid mirror: same quality chain, same ntile ordering
    // (rounded score, doc_id ties), same length-band case
    "q_curriculum_grid" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(lower(text), '$wsSql')) AS DOUBLE) AS n_tok,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '$wsSql'),
         |      t -> t IN ($stopSql))) AS DOUBLE) AS n_stop,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_char
         |  FROM documents),
         |s AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         |    round(0.5 * least(n_tok / 100.0, 1.0)
         |      + 0.3 * (1.0 - n_stop / n_tok)
         |      + 0.2 * least((n_char / n_tok) / 10.0, 1.0), 6) AS quality
         |  FROM q),
         |b AS (SELECT
         |    CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS BIGINT)
         |      AS q_decile,
         |    CASE WHEN n_tokens < 20 THEN '0-short'
         |         WHEN n_tokens < 40 THEN '1-mid'
         |         ELSE '2-long' END AS len_bucket
         |  FROM s)
         |SELECT q_decile, len_bucket, CAST(count(*) AS BIGINT) AS n
         |FROM b GROUP BY q_decile, len_bucket
         |ORDER BY q_decile, len_bucket""".stripMargin,

    // the same per-arm dirt; regexp_matches is a partial match like
    // rlike; \z anchors (not $ — the Java/RE2 final-newline split)
    "q_c4_rules" ->
      s"""WITH dirty AS (
         |  SELECT doc_id, text ||
         |    CASE doc_id % 4 WHEN 0 THEN ' {code}'
         |      WHEN 1 THEN ' Lorem Ipsum dolor'
         |      WHEN 2 THEN '. Two. Three.' ELSE '' END
         |    || chr(10) || 'ends well.' || chr(10) || 'no punct end' AS t
         |  FROM documents),
         |l AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines
         |      FROM dirty),
         |f AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT)
         |      AS n_sentences,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines,
         |      x -> regexp_matches(x, '[.!?"''][ \\t]*\\z'))) AS BIGINT)
         |      AS np,
         |    (contains(t, '{') OR contains(t, '}')) AS has_brace,
         |    contains(lower(t), 'lorem ipsum') AS has_lorem
         |  FROM l)
         |SELECT doc_id, n_sentences, n_lines,
         |  round(CAST(np AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         |    AS punct_line_ratio,
         |  has_brace, has_lorem,
         |  (NOT has_brace AND NOT has_lorem AND n_sentences >= 3) AS pass
         |FROM f ORDER BY doc_id""".stripMargin,

    // word-graph TextRank: the bigram edge derivation + the SHARED
    // PageRank.iterSql kernel (one definition with the doc-graph mirror)
    "q_textrank" -> {
      val stopSql = TokenOps.sqlList(TokenOps.englishStopwords)
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '$wsSql') AS t
         |  FROM documents),
         |seq AS (SELECT doc_id, generate_subscripts(t, 1) AS i,
         |               unnest(t) AS token FROM toks),
         |bg AS (SELECT p.token AS a, s.token AS b
         |       FROM seq s JOIN seq p
         |         ON p.doc_id = s.doc_id AND p.i = s.i - 1),
         |jp AS (SELECT DISTINCT least(a, b) AS id_a, greatest(a, b) AS id_b
         |       FROM bg WHERE a <> b
         |         AND a NOT IN ($stopSql) AND b NOT IN ($stopSql)),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM jp UNION SELECT id_b FROM jp)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION ALL SELECT id_b, id_a FROM jp),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |stats AS (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT id, CAST(round(1000000000.0 / n) AS BIGINT) AS pr
         |        FROM nodes CROSS JOIN stats),
         |${graft.operators.PageRank.iterSql(3)}
         |SELECT id AS token, pr AS pr_nano FROM pr3
         |ORDER BY pr_nano DESC, token LIMIT 20""".stripMargin
    },

    // the shared langIdPredCtes mirror (see its scaladoc), projected
    "q_lang_id" ->
      s"""$langIdPredCtes
         |SELECT doc_id, lang, lang_pred FROM lpred
         |ORDER BY doc_id""".stripMargin,

    // Cohen's kappa over the SAME marker-argmax prediction CTEs as
    // q_lang_id (one mirror, two consumers): margins/products/diagonal
    // derive from the contingency cells; rc accumulates exact integer
    // margin products (DuckDB sums BIGINT into HUGEINT — cast after,
    // mirroring the engine's DECIMAL accumulator).
    // the kappa formula (incl. its pe = 1 NULL guard) lives ONCE in
    // kappaSql — this mirror and the two-tier readout share it
    "q_cohens_kappa" ->
      s"""$langIdPredCtes
         |SELECT k.* FROM ${kappaSql(
             "(SELECT lang AS t, lang_pred AS p FROM lpred) pr")} k""".stripMargin,

    // tiered language-ID mirror: the same injected dirty text, the same
    // length-diff script counts (explicit 'g' — Java replace is global),
    // the same majority gate and WHEN order, marker argmax fallback
    "q_lang_id_cjk" -> {
      val langs = LangId.markers.keys.toSeq.sorted
      def cnt(cls: String) =
        s"(length(t) - length(regexp_replace(t, '$cls', '', 'g')))"
      val scores = langs.map { l =>
        s"count(*) FILTER (WHERE token IN (${TokenOps.sqlList(LangId.markers(l))})) AS s_$l"
      }.mkString(",\n    ")
      val structs =
        langs.map(l => s"{'s': coalesce(s_$l, 0), 'lang': '$l'}").mkString(", ")
      s"""WITH d AS (SELECT doc_id,
         |    (repeat(CASE doc_id % 5
         |       WHEN 0 THEN '$JaSnippet' WHEN 1 THEN '$KoSnippet'
         |       WHEN 2 THEN '$ThSnippet' WHEN 3 THEN '$ZhSnippet'
         |       ELSE '' END, 8) || ' ' || substring(text, 1, 12)) AS t
         |  FROM documents),
         |tok AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(lower(t), '$wsSql')) AS token
         |  FROM d),
         |sc AS (SELECT doc_id, $scores FROM tok GROUP BY doc_id),
         |p AS (SELECT d.doc_id,
         |    ${cnt(LangId.KanaClass)} AS kana,
         |    ${cnt(LangId.HangulClass)} AS hangul,
         |    ${cnt(LangId.ThaiClass)} AS thai,
         |    ${cnt(LangId.LaoClass)} AS lao,
         |    ${cnt(LangId.MyanmarClass)} AS my,
         |    ${cnt(LangId.KhmerClass)} AS km,
         |    ${cnt(LangId.HanClass)} AS han,
         |    ${cnt(s"[^${TokenOps.WsChars}]")} AS nws,
         |    list_max([$structs]) AS b
         |  FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id)
         |SELECT doc_id,
         |  CASE WHEN (kana + hangul + thai + lao + my + km + han) * 2 > nws
         |    THEN CASE WHEN kana > 0 THEN 'ja' WHEN hangul > 0 THEN 'ko'
         |              WHEN thai > 0 THEN 'th' WHEN lao > 0 THEN 'lo'
         |              WHEN my > 0 THEN 'my' WHEN km > 0 THEN 'km'
         |              ELSE 'zh' END
         |    ELSE CASE WHEN b.s > 0 THEN b.lang ELSE 'und' END
         |  END AS lang_pred
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "q_lang_id_ngram" ->
      s"""WITH $ngramPredCtes
         |SELECT doc_id, lang_true, lang_pred
         |FROM predng ORDER BY doc_id""".stripMargin,

    // two-tier kappa: the trained tier's preds come from the shared
    // fit/score CTEs; the marker tier re-runs the q_lang_id argmax over
    // the SAME lowered dirty text (the fixture is Latin-script by
    // construction, so the engine's script tier never fires — the
    // q_lang_id mirror precedent)
    "q_lang_id_ngram_kappa" -> {
      val langs = LangId.markers.keys.toSeq.sorted
      val scores = langs.map { l =>
        s"count(*) FILTER (WHERE token IN (${TokenOps.sqlList(LangId.markers(l))})) AS s_$l"
      }.mkString(",\n    ")
      val structs = langs
        .map(l => s"{'s': coalesce(s_$l, 0), 'lang': '$l'}").mkString(", ")
      s"""WITH $ngramPredCtes,
         |tokm AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(t, '$wsSql')) AS token
         |  FROM lab WHERE doc_id % 2 = 1),
         |scm AS (SELECT doc_id, $scores FROM tokm GROUP BY doc_id),
         |predmk AS (SELECT l.doc_id, l.lang_true,
         |    CASE WHEN b.s > 0 THEN b.lang ELSE 'und' END AS lang_pred
         |  FROM (SELECT doc_id, lang_true, list_max([$structs]) AS b
         |        FROM (SELECT doc_id, lang_true FROM lab
         |              WHERE doc_id % 2 = 1) ll
         |        LEFT JOIN scm USING (doc_id)) l)
         |SELECT 'marker' AS tier, k.*
         |FROM ${kappaSql(
              "(SELECT lang_true AS t, lang_pred AS p FROM predmk) pr")} k
         |UNION ALL
         |SELECT 'ngram' AS tier, k.*
         |FROM ${kappaSql(
              "(SELECT lang_true AS t, lang_pred AS p FROM predng) pr")} k
         |ORDER BY tier""".stripMargin
    },

    "q_span_dedup" -> {
      s"""WITH $spanGramsSql,
         |pg AS (SELECT gram, doc_id, count(*) AS n FROM g2 GROUP BY 1, 2),
         |own AS (SELECT doc_id, n,
         |    min(doc_id) OVER (PARTITION BY gram) AS owner
         |  FROM pg),
         |per AS (SELECT doc_id, sum(n) AS ns,
         |    sum(CASE WHEN owner < doc_id THEN n ELSE 0 END) AS nd
         |  FROM own GROUP BY 1),
         |base AS (SELECT d.doc_id,
         |    CAST(COALESCE(per.ns, 0) AS BIGINT) AS n_spans,
         |    CAST(COALESCE(per.nd, 0) AS BIGINT) AS n_dup_spans
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN per USING (doc_id)),
         |r AS (SELECT doc_id, n_spans, n_dup_spans,
         |    CASE WHEN n_spans = 0 THEN 0.0
         |      ELSE round(CAST(n_dup_spans AS DOUBLE) / n_spans, 6)
         |    END AS dup_ratio
         |  FROM base)
         |SELECT doc_id, n_spans, n_dup_spans, dup_ratio,
         |  CAST(CASE WHEN dup_ratio <= $SpanTau THEN 1 ELSE 0 END
         |    AS BIGINT) AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "q_span_trim" -> {
      val k = SpanK
      s"""WITH $spanGramsSql,
         |o AS (SELECT gram, min(doc_id) AS owner FROM g2 GROUP BY 1),
         |dp AS (SELECT g2.doc_id, g2.pos FROM g2
         |  JOIN o USING (gram) WHERE o.owner < g2.doc_id),
         |dl AS (SELECT doc_id, list_sort(list(pos)) AS dups
         |  FROM dp GROUP BY 1),
         |tr AS (SELECT t.doc_id, t.toks,
         |    COALESCE(dl.dups, []) AS dups
         |  FROM t LEFT JOIN dl USING (doc_id)),
         |kk AS (SELECT doc_id,
         |    list_transform(
         |      list_filter(range(1, len(toks) + 1), tt ->
         |        len(list_filter(dups, p ->
         |          p >= tt - ${k - 1} AND p <= tt)) = 0),
         |      tt -> toks[tt]) AS kept,
         |    len(toks) AS total
         |  FROM tr)
         |SELECT doc_id,
         |  COALESCE(array_to_string(kept, ' '), '') AS text,
         |  CAST(len(kept) AS BIGINT) AS n_tokens_kept,
         |  CAST(total - len(kept) AS BIGINT) AS n_tokens_dropped
         |FROM kk ORDER BY doc_id""".stripMargin
    },

    "q_repetition" -> {
      def rep(n: Int) = {
        val grams = s"[array_to_string(t[i:i+${n - 1}], ' ') " +
          s"FOR i IN generate_series(1, greatest(len(t) - ${n - 1}, 0))]"
        s"""CASE WHEN len($grams) = 0 THEN 0.0 ELSE
           | round(1.0 - CAST(len(list_distinct($grams)) AS DOUBLE)
           |   / len($grams), 6) END""".stripMargin
      }
      s"""WITH toks AS (SELECT doc_id,
         |  regexp_split_to_array(lower(text), '$wsSql') AS t FROM documents)
         |SELECT doc_id, ${rep(2)} AS rep2, ${rep(3)} AS rep3
         |FROM toks ORDER BY doc_id""".stripMargin
    },

    "q_array_ops" ->
      """SELECT doc_id,
        |  array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
        |  list_sort(list_distinct(string_split(text, ' ')))[1] AS min_token,
        |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
        |  list_reverse(string_split(text, ' '))[1] AS last_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT doc_id,
        |  substring(text, 1, 10) AS prefix10,
        |  upper(substring(source, -1, 1)) AS src_last,
        |  lpad(lang, 4, '_') AS lang_pad,
        |  round(sqrt(CAST(n_chars AS DOUBLE)), 6) AS sqrt_chars,
        |  CAST(n_chars % 7 AS BIGINT) AS mod7,
        |  round(ln(CAST(n_chars AS DOUBLE) + 1.0), 6) AS ln_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(regexp_split_to_array(text, '$wsSql')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(floor((cum - n_tokens) / 200.0) AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin,

    "q_decontaminate" -> {
      val t = graft.operators.Sampling.hexThreshold(0.1)
      def fp(c: String) = "md5(array_to_string(list_sort(list_distinct(" +
        s"regexp_split_to_array(lower($c), '$wsSql'))), ' '))"
      // NOT EXISTS, not NOT IN: left_anti keeps a corpus row whose
      // fingerprint is NULL (null text), while NOT IN's three-valued
      // NULL comparison would drop it — the anti-join form keeps the
      // cross-engine contract for nullable corpora.
      s"""WITH bench AS (
         |  SELECT ${fp("text")} AS bfp FROM documents
         |  WHERE substr(md5('7:' || text), 1, 12) < '$t')
         |SELECT d.doc_id FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM bench b WHERE b.bfp = ${fp("d.text")})
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_source_overlap" -> {
      val fp = "md5(array_to_string(list_sort(list_distinct(" +
        s"regexp_split_to_array(lower(text), '$wsSql'))), ' '))"
      s"""WITH fps AS (SELECT DISTINCT $fp AS fp, source AS src
         |             FROM documents),
         |m AS (SELECT src, count(*) AS n_src FROM fps GROUP BY src),
         |sh AS (SELECT a.src AS source_a, b.src AS source_b,
         |              count(*) AS n_shared
         |       FROM fps a JOIN fps b ON a.fp = b.fp AND a.src < b.src
         |       GROUP BY 1, 2)
         |SELECT source_a, source_b,
         |  CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(ma.n_src AS BIGINT) AS n_a, CAST(mb.n_src AS BIGINT) AS n_b,
         |  round(CAST(n_shared AS DOUBLE)
         |        / CAST(ma.n_src + mb.n_src - n_shared AS DOUBLE), 6)
         |    AS jaccard
         |FROM sh JOIN m ma ON sh.source_a = ma.src
         |        JOIN m mb ON sh.source_b = mb.src
         |ORDER BY source_a, source_b""".stripMargin
    },

    "q_dup_gram_fraction" ->
      s"""WITH toks AS (SELECT doc_id,
         |  regexp_split_to_array(lower(text), '$wsSql') AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
         |       FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         |c AS (SELECT g, count(*) AS cnt FROM sh GROUP BY g),
         |p AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |        round(CAST(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)
         |          AS DOUBLE) / count(*), 6) AS dup_fraction
         |      FROM sh JOIN c USING (g) GROUP BY sh.doc_id)
         |SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
         |  p.dup_fraction
         |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_dedup_trim" ->
      // Mirror of Dedup.trimDuplicatedGrams: 1-based array positions vs
      // Spark's 0-based are internal only (never projected); dup grams
      // are count(DISTINCT doc_id) >= 2, covered positions are the n
      // offsets of each duplicated occurrence, kept tokens reassemble
      // in position order.
      s"""WITH toks AS (SELECT doc_id, text,
         |  regexp_split_to_array(lower(text), '$wsSql') AS t FROM documents),
         |pg AS (SELECT doc_id, i AS s, array_to_string(t[i:i+4], ' ') AS g
         |       FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         |dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
         |                       FROM pg GROUP BY g) WHERE nd >= 2),
         |cov AS (SELECT DISTINCT pg.doc_id, s + j AS p
         |        FROM pg JOIN dup USING (g),
         |             unnest(generate_series(0, 4)) AS v(j)),
         |tok AS (SELECT doc_id, i AS p, t[i] AS w
         |        FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
         |kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok
         |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |         WHERE cov.doc_id IS NULL),
         |tr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(w, ' ' ORDER BY p) AS trimmed
         |       FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(tr.n_kept, 0) AS BIGINT) AS n_kept,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE coalesce(tr.trimmed, '') END AS trimmed
         |FROM documents d LEFT JOIN tr ON d.doc_id = tr.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_gopher_rules" ->
      s"""WITH m AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '$wsSql') AS t
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
         |      / len(t), 6) AS mean_word_len,
         |    round(CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
         |      AS DOUBLE) / len(t), 6) AS alpha_ratio,
         |    round((CAST(length(text) - length(replace(text, '#', ''))
         |        AS DOUBLE)
         |      + (length(text) - length(replace(text, '...', ''))) / 3)
         |      / len(t), 6) AS symbol_ratio
         |  FROM m)
         |SELECT doc_id, n_tokens, mean_word_len, alpha_ratio, symbol_ratio,
         |  (n_tokens >= 10 AND n_tokens <= 100000
         |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND alpha_ratio >= 0.7 AND symbol_ratio <= 0.1) AS pass
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5('42:' || text), doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL)
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    // Mirrors Sampling.temperatureRates + hexThreshold exactly: sqrt is
    // correctly rounded in both engines (pow is not), the weight sum is
    // an exact integer, and the threshold encoding reproduces
    // hexThreshold's round/cap/format.
    "q_temperature_mix" ->
      """WITH h AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM h),
        |w AS (SELECT lang, n,
        |        CAST(round(sqrt(CAST(n AS DOUBLE) / t.total) * 1000000000.0)
        |          AS BIGINT) AS wq
        |      FROM h CROSS JOIN t),
        |ws AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM w),
        |r AS (SELECT w.lang,
        |        least(1.0, 0.5 * t.total *
        |          (CAST(w.wq AS DOUBLE) / CAST(ws.wsum AS DOUBLE)) / w.n)
        |          AS rate
        |      FROM w CROSS JOIN ws CROSS JOIN t),
        |v AS (SELECT lang, CAST(round(rate * 281474976710656.0) AS BIGINT)
        |        AS vi FROM r),
        |thr AS (SELECT lang, CASE WHEN vi >= 281474976710656 THEN 'g'
        |          ELSE lpad(lower(to_hex(vi)), 12, '0') END AS th FROM v)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE substr(md5('42:' || d.text), 1, 12) < thr.th
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q_group_sample" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5('42:' || text), doc_id) AS pos
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT lang, CAST(pos AS BIGINT) AS pos, doc_id FROM ranked
        |WHERE pos <= 5 ORDER BY lang, pos""".stripMargin,

    "q_decontaminate_ngram" -> {
      val t = graft.operators.Sampling.hexThreshold(0.1)
      // Same tokenize/shingle SQL as q_jaccard_pairs (5-gram window:
      // slice t[i:i+4], series to len(t)-4); flagged = any shared gram.
      s"""WITH toks AS (SELECT doc_id,
         |  regexp_split_to_array(lower(text), '$wsSql') AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
         |       FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
         |bench AS (SELECT doc_id FROM documents
         |          WHERE substr(md5('7:' || text), 1, 12) < '$t'),
         |bg AS (SELECT DISTINCT g FROM sh JOIN bench USING (doc_id)),
         |flagged AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bg USING (g))
         |SELECT d.doc_id FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_content_sample" -> {
      val t = graft.operators.Sampling.hexThreshold(0.25)
      s"""SELECT doc_id FROM documents
         |WHERE substr(md5('42:' || text), 1, 12) < '$t'
         |ORDER BY doc_id""".stripMargin
    },

    // hashSplit3 mirror: identical hex thresholds off the shared
    // hexThreshold constants — test < t1, dev < t2, remainder train
    "q_split3" -> {
      val t1 = graft.operators.Sampling.hexThreshold(0.1)
      val t2 = graft.operators.Sampling.hexThreshold(0.2)
      s"""SELECT CASE WHEN substr(md5('42:' || text), 1, 12) < '$t1'
         |         THEN 'test'
         |       WHEN substr(md5('42:' || text), 1, 12) < '$t2'
         |         THEN 'dev'
         |       ELSE 'train' END AS split,
         |  lang, CAST(count(*) AS BIGINT) AS n
         |FROM documents
         |GROUP BY split, lang ORDER BY split, lang""".stripMargin
    },

    // corpus diversity mirror: same ''-filtered token counts and same
    // raw (duplicates-preserved) space-joined 3-grams as rawShingles
    "q_distinct_ngrams" ->
      s"""WITH toks AS (SELECT source,
         |    regexp_split_to_array(lower(text), '$wsSql') AS t
         |  FROM documents),
         |tok AS (SELECT source, unnest(t) AS tok FROM toks),
         |ts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
         |       FROM tok WHERE tok <> '' GROUP BY source),
         |gr AS (SELECT source, array_to_string(t[i:i+2], ' ') AS g
         |       FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
         |gs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_grams
         |       FROM gr GROUP BY source)
         |SELECT source, n_tokens, n_distinct_tokens,
         |  round(CAST(n_distinct_tokens AS DOUBLE)
         |    / CAST(n_tokens AS DOUBLE), 6) AS ttr,
         |  n_grams, n_distinct_grams,
         |  round(CAST(n_distinct_grams AS DOUBLE)
         |    / CAST(n_grams AS DOUBLE), 6) AS gram_diversity
         |FROM ts JOIN gs USING (source) ORDER BY source""".stripMargin,

    // kFoldAssign mirror: the identical hex-band CASE chain off the
    // shared hexThreshold constants (Sampling.kFoldSql — one threshold
    // list, two engines)
    "q_kfold_assign" ->
      s"""SELECT ${graft.operators.Sampling.kFoldSql("text", 5)} AS fold,
         |  lang, CAST(count(*) AS BIGINT) AS n
         |FROM documents
         |GROUP BY fold, lang ORDER BY fold, lang""".stripMargin,

    // sliced language-ID accuracy: the q_lang_id marker-argmax mirror,
    // re-aggregated per source with the declared-lang agreement rate
    "q_slice_metrics" -> {
      val langs = LangId.markers.keys.toSeq.sorted
      val scores = langs.map { l =>
        s"count(*) FILTER (WHERE token IN (${TokenOps.sqlList(LangId.markers(l))})) AS s_$l"
      }.mkString(",\n    ")
      val structs =
        langs.map(l => s"{'s': coalesce(s_$l, 0), 'lang': '$l'}").mkString(", ")
      s"""WITH sc AS (SELECT doc_id,
         |    $scores
         |  FROM ($toksSql) GROUP BY doc_id),
         |pred AS (SELECT d.source, d.lang,
         |    CASE WHEN list_max([$structs]).s > 0
         |      THEN list_max([$structs]).lang ELSE 'und' END AS lang_pred
         |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(CASE WHEN lang = lang_pred THEN 1 END) AS BIGINT)
         |    AS n_correct,
         |  round(CAST(count(CASE WHEN lang = lang_pred THEN 1 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS accuracy
         |FROM pred GROUP BY source ORDER BY source""".stripMargin
    },

    // zipfSlope mirror: same top-100 cut, same 1e-9-grid OLS terms,
    // same closing double chain (explicit parens pin associativity —
    // the long sums exceed 2^53 once multiplied, so both engines must
    // run the IDENTICAL IEEE expression tree)
    "q_zipf_slope" ->
      s"""WITH toks AS (SELECT
         |    unnest(regexp_split_to_array(lower(text), '$wsSql')) AS token
         |  FROM documents),
         |counts AS (SELECT token, count(*) AS freq FROM toks
         |           WHERE token <> '' GROUP BY token
         |           ORDER BY freq DESC, token LIMIT 100),
         |ranked AS (SELECT freq,
         |    row_number() OVER (ORDER BY freq DESC, token) AS rank
         |  FROM counts),
         |terms AS (SELECT
         |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1e9) AS BIGINT) AS gx,
         |    CAST(round(ln(CAST(freq AS DOUBLE)) * 1e9) AS BIGINT) AS gy,
         |    CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))
         |         * 1e9) AS BIGINT) AS gxy,
         |    CAST(round(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
         |         * 1e9) AS BIGINT) AS gxx
         |  FROM ranked),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(gx) AS sx,
         |             sum(gy) AS sy, sum(gxy) AS sxy, sum(gxx) AS sxx
         |      FROM terms)
         |SELECT n AS n_tokens,
         |  round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
         |      - ((CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / 1e9))
         |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))
         |      - ((CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 1e9)), 6)
         |    AS slope,
         |  round(((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |    - ((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
         |        - ((CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / 1e9))
         |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))
         |        - ((CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 1e9)))
         |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) / 1e9, 6)
         |    AS intercept
         |FROM s""".stripMargin,

    // docKeywords mirror: the same tf / df / add-one idf double chain,
    // quantized to the integer grid before the per-doc rank
    "q_doc_keywords" ->
      s"""WITH toks AS (SELECT doc_id,
         |  unnest(regexp_split_to_array(lower(text), '$wsSql')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
         |       WHERE token <> '' GROUP BY doc_id, token),
         |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token
         |          HAVING count(*) >= 2),
         |n AS (SELECT count(*) AS nn FROM documents),
         |scored AS (SELECT doc_id, token,
         |    CAST(round(CAST(tf AS DOUBLE)
         |      * ln((CAST(nn AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
         |      * 1e9) AS BIGINT) AS score_nano
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         |r AS (SELECT doc_id, token, score_nano,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_nano DESC, token) AS rank
         |  FROM scored)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, score_nano
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_corpus_mix" -> {
      val (t8, t5, t1) = (graft.operators.Sampling.hexThreshold(0.8),
        graft.operators.Sampling.hexThreshold(0.5),
        graft.operators.Sampling.hexThreshold(0.1))
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
         |WHERE substr(md5('42:' || text), 1, 12) <
         |  CASE lang WHEN 'en' THEN '$t8' WHEN 'de' THEN '$t5' ELSE '$t1' END
         |GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q_curate" ->
      s"""WITH q AS (
         |  SELECT doc_id, text,
         |    CAST(len(regexp_split_to_array(lower(text), '$wsSql')) AS DOUBLE) AS n_tok,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '$wsSql'),
         |      t -> t IN ($stopSql))) AS DOUBLE) AS n_stop,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_char
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text, CAST(n_tok AS BIGINT) AS n_tokens,
         |    round(0.5 * least(n_tok / 100.0, 1.0)
         |        + 0.3 * (1.0 - n_stop / n_tok)
         |        + 0.2 * least((n_char / n_tok) / 10.0, 1.0), 6) AS quality
         |  FROM q),
         |gated AS (SELECT * FROM scored
         |          WHERE quality >= 0.55 AND n_tokens >= 5),
         |fp AS (SELECT doc_id, n_tokens, quality,
         |    md5(array_to_string(list_sort(list_distinct(
         |      regexp_split_to_array(lower(text), '$wsSql'))), ' ')) AS f
         |  FROM gated)
         |SELECT doc_id, n_tokens, quality FROM (
         |  SELECT doc_id, n_tokens, quality,
         |    row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
         |  FROM fp)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(lower(text), '$wsSql'))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
