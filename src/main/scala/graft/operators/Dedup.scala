package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication operators (LLM-pipeline extension surface).
  *
  * `dropDuplicates` picks an ARBITRARY survivor per key (whichever row a
  * task sees first) — fine interactively, wrong for a reproducible 100 TB
  * pipeline. Both operators here are deterministic:
  *
  *  - `exact`: keep the min-`tiebreak` row per key via windowed
  *    row_number. One shuffle on the key columns; the window sort is
  *    per-key in-memory (keys are small groups after hashing).
  *  - `exactByFingerprint`: dedup by a content hash (e.g.
  *    [[TokenOps.bagOfWordsFingerprint]]) — the cheap cascade stage
  *    before MinHash/SimHash near-dup (see MinHashDedup).
  *
  * Skew note: a pathological key (e.g. empty text) concentrates one
  * partition; AQE skew-join splitting does not apply to windows, so for
  * known-skewed corpora fingerprint first (hash keys distribute evenly).
  */
object Dedup {

  /** Deterministic exact dedup: keep the row with the smallest `tiebreak`
    * per distinct combination of `keys`. With `groupSizeCol`, each
    * survivor also carries its key group's row count (a second window
    * over the same partitioning: no extra shuffle), so the survivors'
    * sum of it is the input's row count. */
  def exact(df: DataFrame, keys: Seq[String], tiebreak: Column,
      groupSizeCol: Option[String] = None): DataFrame = {
    val part = Window.partitionBy(keys.map(col): _*)
    val ranked = df.withColumn("__rn", row_number().over(part.orderBy(tiebreak.asc)))
    groupSizeCol.fold(ranked)(c => ranked.withColumn(c, count(lit(1)).over(part)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Dedup by a computed fingerprint column, keeping min-tiebreak row.
    * Returns the input columns plus the fingerprint. */
  def exactByFingerprint(df: DataFrame, fingerprint: Column,
      tiebreak: Column, fpCol: String = "fp"): DataFrame =
    exact(df.withColumn(fpCol, fingerprint), Seq(fpCol), tiebreak)

  /** Per-key duplicate statistics: survivor id + group size. A pure
    * aggregation form (map-side combine, no window) — cheaper than `exact`
    * when only the survivor key and counts are needed. */
  def dupStats(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Cross-source duplicate OVERLAP matrix: for every unordered source
    * pair with at least one shared content fingerprint, the shared
    * distinct-fingerprint count, both sides' distinct totals, and the
    * Jaccard overlap — the mix audit that surfaces two mirrors of the
    * same crawl BEFORE any pairwise dedup runs (a high-Jaccard pair
    * means one side is mostly redundant signal and should lose its
    * sampling budget).
    *
    * Scale shape: one distinct (fp, source) reduce (wordcount-shaped),
    * then a self equi-join on fp whose per-key width is bounded by the
    * SOURCE CATALOG (a fingerprint appears in at most |sources| rows —
    * never corpus-shaped), a pair-keyed rollup, and two broadcast joins
    * against the source-sized margin table. */
  def sourceOverlap(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    // three consumers (margins + both self-join sides) — checkpoint the
    // distinct reduce so the corpus fingerprints once, not three times
    val fps = df.select(
        TokenOps.bagOfWordsFingerprint(col(textCol)).as("fp"),
        col(sourceCol).as("src"))
      .distinct().localCheckpoint()
    val margins = fps.groupBy(col("src")).agg(count(lit(1)).as("n_src"))
    val shared = fps.select(col("fp"), col("src").as("source_a"))
      .join(fps.select(col("fp"), col("src").as("source_b")), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(margins.select(col("src").as("source_a"),
        col("n_src").as("n_a"))), Seq("source_a"))
      .join(broadcast(margins.select(col("src").as("source_b"),
        col("n_src").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Benchmark decontamination: drop corpus rows whose content
    * fingerprint appears in `benchmark` (the train/eval-overlap removal
    * every training-data pipeline runs before release). Fingerprints are
    * order-invariant bags of words ([[TokenOps.bagOfWordsFingerprint]]),
    * so trivially reordered copies of an eval item are caught too. The
    * benchmark side is fingerprints-only and deduped. The broadcast hint
    * is explicit (eval benchmarks are thousands-of-rows, orders below
    * any corpus) so the corpus is NEVER shuffled on the fingerprint; for
    * a benchmark side too large to broadcast, drop the hint and accept
    * the shuffle. */
  def decontaminate(corpus: DataFrame, textCol: String,
      benchmark: DataFrame, benchTextCol: String): DataFrame = {
    val benchFp = broadcast(benchmark
      .select(TokenOps.bagOfWordsFingerprint(col(benchTextCol)).as("__bfp"))
      .distinct())
    corpus.join(benchFp,
      TokenOps.bagOfWordsFingerprint(col(textCol)) === col("__bfp"),
      "left_anti")
  }

  /** xxhash64 of each word n-gram of a text column — THE contract both
    * n-gram decontamination forms share: the bloom form's zero-false-
    * negative containment vs the exact form only holds while they hash
    * identical grams, so there is exactly one definition. */
  private def gramHashes(c: Column, n: Int): Column =
    transform(MinHashDedup.shingles(TokenOps.tokenize(c), n), g => xxhash64(g))

  /** N-GRAM overlap decontamination — the standard published form of
    * train/eval overlap removal (GPT-3 appendix C / Llama 2 style): a
    * corpus document is contaminated if it shares ANY word n-gram with
    * the benchmark, catching partial embeddings of an eval item that
    * whole-document fingerprints ([[decontaminate]]) miss entirely.
    *
    * Shape at 100 TB: the benchmark's distinct n-gram hashes are
    * BROADCAST (eval sets are thousands of items — even exploded to
    * n-grams, orders below any corpus), so the corpus-side explode joins
    * map-side with NO shuffle of corpus data; only the matched
    * (contaminated) ids reach the distinct + anti-join, both bounded by
    * the contamination count, not the corpus. n-grams are compared as
    * xxhash64 of the joined token window (8-byte keys, same reasoning as
    * MinHash band keys); documents shorter than n tokens produce no
    * n-grams and are never flagged — standard semantics. */
  def decontaminateNgram(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 13): DataFrame = {
    val benchGrams = broadcast(benchmark
      .filter(col(benchTextCol).isNotNull)
      .select(explode(gramHashes(col(benchTextCol), n)).as("__gh"))
      .distinct())
    val flagged = corpus
      .select(col(idCol), explode(gramHashes(col(textCol), n)).as("__gh"))
      .join(benchGrams, Seq("__gh"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Bloom-filter n-gram decontamination: ZERO-shuffle scale form of
    * [[decontaminateNgram]] — the benchmark's n-gram hashes fold into a
    * bloom filter, and the corpus check is a row-local `exists` over the
    * document's own n-grams probing the codegen'd
    * [[graft.functions.BloomMightContain]] (deserialized once per
    * expression instance, not per row or per element). The corpus is
    * never exploded, never joined, never shuffled — a pure scan-stage
    * filter. Zero false negatives (specced); null-text rows are kept,
    * matching the exact form.
    *
    * `fpp` is PER-PROBE, and a document probes once per n-gram — its
    * doc-level false-positive rate is ~1-(1-fpp)^grams ≈ grams×fpp. The
    * default 1e-4 keeps a 100-gram document under 1% accidental-drop
    * probability; the whole-document form ([[decontaminateBloom]])
    * probes once per row and can afford its looser 1%. Cost of the
    * tighter rate is only filter size (~2.4 vs ~1.2 bytes/item). */
  def decontaminateNgramBloom(corpus: DataFrame, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 13,
      fpp: Double = 1e-4, expectedItems: Option[Long] = None): DataFrame = {
    import graft.functions.BloomFunctions
    val benchGrams = benchmark
      .filter(col(benchTextCol).isNotNull)
      .select(explode(gramHashes(col(benchTextCol), n)).as("__gh"))
      .distinct()
    val cnt = math.max(1L, expectedItems.getOrElse(benchGrams.count()))
    val bloom = benchGrams.stat.bloomFilter("__gh", cnt, fpp)
    val bloomLit = lit(BloomFunctions.serialize(bloom))
    corpus.filter(col(textCol).isNull ||
      !exists(gramHashes(col(textCol), n),
        gh => BloomFunctions.bloom_might_contain(gh, bloomLit)))
  }

  /** Per-document DUPLICATED-GRAM FRACTION — what share of a document's
    * distinct word n-grams appear in at least one OTHER document: the
    * doc-level approximation of substring dedup (cf. Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2022)
    * and the standard corpus-level boilerplate signal that within-doc
    * repetition ([[TokenOps.repetitionRatio]]) cannot see.
    *
    * Shape at 100 TB: one explode + hash aggregation on 8-byte gram
    * hashes (map-side combined — heavy but linear, the wordcount shape),
    * one join back, one per-doc aggregation. No all-pairs anything.
    * Documents shorter than n tokens have zero grams: n_grams = 0 and a
    * NULL fraction (undefined, not a fake 0). */
  def duplicatedGramFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val grams = df.select(col(idCol),
        explode(MinHashDedup.shingles(TokenOps.tokenize(col(textCol)), n)).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("__gh"))
    val counts = grams.groupBy(col("__gh")).agg(count(lit(1)).as("__cnt"))
    val perDoc = grams.join(counts, Seq("__gh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__cnt") >= 2, 1L).otherwise(0L)).as("__dup"))
      .select(col(idCol), col("n_grams"),
        round(col("__dup").cast("double") / col("n_grams"), 6)
          .as("dup_fraction"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("dup_fraction"))
  }

  /** SPAN-LEVEL duplicate TRIMMING — the remediation step
    * [[duplicatedGramFraction]] only flags: remove from each document the
    * token spans covered by a CROSS-DOC duplicated word n-gram (one that
    * appears in at least one OTHER document), keep the unique remainder
    * in original order (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", 2022 — substring removal, here at word-gram
    * granularity so the semantics stay engine-mirrorable).
    *
    * A token is dropped iff SOME duplicated gram occurrence covers its
    * position; grams straddling a shared span's boundary contain
    * doc-unique tokens, are not duplicated, and so never widen the cut —
    * the trim is exactly the maximal shared runs of >= n tokens. Within-
    * doc repeats alone don't trim (cross-doc is the boilerplate signal;
    * within-doc repetition is [[TokenOps.repetitionRatio]]'s job).
    *
    * Shape at 100 TB: the same linear wordcount shape as
    * [[duplicatedGramFraction]] — posexplode of gram occurrences, one
    * hash aggregation on 8-byte gram hashes (map-side combined), a
    * semi-join of occurrences against the duplicated-hash set, a
    * position anti-join, and a per-doc reassembly aggregation whose
    * state is bounded by the document's own token count. No all-pairs
    * anything, no window over the corpus.
    *
    * Output: (idCol, n_kept, trimmed) — trimmed is the kept tokens
    * joined by single spaces (token-normalized: lowercased, whitespace
    * runs collapsed, like every gram operator here). A fully-duplicated
    * document trims to '' (kept, length 0 — dropping is the caller's
    * policy); a NULL text stays NULL with n_kept = 0. Trimming is
    * idempotent up to re-tokenization on corpora where the post-trim
    * seams don't coincidentally form new cross-doc grams (specced). */
  def trimDuplicatedGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val toks = df.select(col(idCol), TokenOps.tokenize(col(textCol)).as("__t"))
    // gram OCCURRENCES with their 0-based start offset (rawShingles, not
    // the distinct set: coverage needs every position).
    //
    // Gram identity is the 64-bit xxhash64 of the gram string, NOT the
    // string itself — a deliberate scale trade: the duplicated-gram join
    // ships 8-byte keys instead of full n-gram strings. Consequence: a
    // hash collision makes two DIFFERENT grams compare equal, so a
    // unique gram colliding with a cross-doc duplicate gets trimmed as
    // if duplicated — lossy in the safe direction (over-trim, never
    // under-trim), with expected collisions ~ m²/2⁶⁵ for m distinct
    // grams (≈ 0.003 for m = 10⁹; negligible below ~10¹² grams). For a
    // collision-free variant, join on the gram string at full shuffle
    // cost.
    val posGrams = toks
      .select(col(idCol),
        posexplode(MinHashDedup.rawShingles(col("__t"), n)).as(Seq("__s", "__g")))
      .select(col(idCol), col("__s"), xxhash64(col("__g")).as("__gh"))
    // cross-doc duplicated grams: per-doc-distinct first, so the count
    // IS the number of documents containing the gram
    val dup = posGrams.select(col(idCol), col("__gh")).distinct()
      .groupBy(col("__gh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__gh"))
    val covered = posGrams.join(dup, Seq("__gh"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("__s"), col("__s") + lit(n - 1))).as("__p"))
      .distinct()
    val tokens = toks
      .select(col(idCol), posexplode(col("__t")).as(Seq("__p", "__w")))
    val kept = tokens.join(covered, Seq(idCol, "__p"), "left_anti")
    val reassembled = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__p"), col("__w")))),
            x => x.getField("__w")), " ").as("__trimmed"))
    df.select(col(idCol), col(textCol)).join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__trimmed"), lit(""))).as("trimmed"))
  }

  /** Bloom-filter decontamination: the scale path between "benchmark fits
    * in an exact broadcast set" ([[decontaminate]]) and "shuffle the
    * whole corpus for an anti-join". The benchmark's 64-bit content
    * fingerprints are folded into a [[org.apache.spark.util.sketch
    * .BloomFilter]] (distributed treeAggregate build), and the corpus is
    * filtered with the codegen'd probe
    * ([[graft.functions.BloomMightContain]]) — a pure scan with zero
    * shuffle of the corpus, at ~1.2 bytes/item/1% fpp filter size (a
    * 100M-item benchmark ≈ 120 MB: still task-shippable where an exact
    * string set would be GBs).
    *
    * Trade-off vs [[decontaminate]]: drops ~fpp extra innocent rows
    * (false positives); never misses a true contamination (no false
    * negatives — asserted in DecontaminateSpec). Null-text corpus rows
    * are kept, matching the exact form's null-join semantics. */
  def decontaminateBloom(corpus: DataFrame, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      fpp: Double = 0.01, expectedItems: Option[Long] = None): DataFrame = {
    import graft.functions.BloomFunctions
    def fp(c: Column) = xxhash64(TokenOps.bagOfWordsFingerprint(c))
    val benchFp = benchmark
      .filter(col(benchTextCol).isNotNull)
      .select(fp(col(benchTextCol)).as("__bfp"))
    // expectedItems sizes the filter; the count pass is skipped when the
    // caller knows the benchmark cardinality (at scale they do).
    val n = math.max(1L, expectedItems.getOrElse(benchFp.count()))
    val bloom = benchFp.stat.bloomFilter("__bfp", n, fpp)
    corpus.filter(col(textCol).isNull ||
      !BloomFunctions.bloom_might_contain(
        fp(col(textCol)), lit(BloomFunctions.serialize(bloom))))
  }
}
