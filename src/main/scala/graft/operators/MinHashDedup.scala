package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over text (the standard
  * shingle → minhash → band → bucket-join cascade).
  *
  * Everything up to the bucket join is ROW-LOCAL — shingles, the H-wide
  * minhash signature, and the band keys are computed as HOF expressions
  * inside one projection (no fitting job, no shuffle, no UDF). The only
  * shuffles are the band-bucket self-join (keys are 64-bit hashes →
  * uniformly distributed, no skew) and the final candidate verification
  * join. That is the correct shape at 100 TB: cost scales with
  * n·bands + Σ bucket² instead of n².
  *
  * Hash function: xxhash64 (Spark built-in, deterministic across runs and
  * executors). Seeded per-hash by prepending the hash index to the input.
  */
object MinHashDedup {

  /** Word n-gram shingles of a token array, duplicates preserved.
    * Documents shorter than n shingle to the empty array. The token
    * array is let-bound (ColumnOps.bind) so the upstream tokenization
    * runs once per row, not once per element reference. */
  def rawShingles(tokens: Column, n: Int): Column =
    graft.functions.ColumnOps.bind(tokens, toks => {
      val idx = sequence(lit(0), size(toks) - n) // 0-based start offsets
      val grams = transform(idx, i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
      when(size(toks) < n, array()).otherwise(grams)
    })

  /** Distinct word n-gram shingles (the set form used for Jaccard). */
  def shingles(tokens: Column, n: Int): Column =
    array_distinct(rawShingles(tokens, n))

  /** H-wide minhash signature: sig_i = min over shingles of
    * xxhash64(i, shingle). Row-local. */
  def signature(shingleCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleCol, s => xxhash64(lit(i), s)))
    }: _*)

  /** LSH band keys: hash of each r-row slice of the signature. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { j =>
      xxhash64(lit(j), slice(sig, j * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Candidate pairs: documents sharing at least one band bucket.
    * Returns (id_a, id_b) with id_a < id_b, distinct. */
  def candidatePairs(df: DataFrame, idCol: String, bandsCol: String)
      : DataFrame = {
    // Materialized once: the self-join references this frame twice, and
    // the upstream signature aggregation (shingle explode + 32 min-aggs)
    // would otherwise execute once per side (the SimHash/FuzzyJoin
    // lesson). One row per document; each side explodes its bands,
    // which would hold `bands`× the rows if checkpointed exploded.
    val banded = df.select(col(idCol), col(bandsCol)).localCheckpoint()
    def side(id: String): DataFrame = banded.select(col(idCol).as(id),
      posexplode(col(bandsCol)).as(Seq("band_id", "band_key")))
    side("id_a").join(side("id_b"), Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Signature via explode + 32 codegen'd min-aggregates (ONE shuffle on
    * the doc id). The row-local HOF form ([[signature]]) is semantically
    * identical but must not feed further derived columns: CollapseProject
    * inlines the whole shingle expression tree into every one of the 32
    * hash uses and again into every band key (measured: `lower()` alone
    * evaluated ~300x per row, interpreted). The aggregate form computes
    * shingles exactly once and keeps everything in whole-stage codegen. */
  def signatureAgg(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    val ex = df.select(col(idCol),
      explode(shingles(TokenOps.tokenize(col(textCol)), shingleN)).as("s"))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("s"))).as(s"__h$i"))
    ex.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** EXACT Jaccard similarity join with lossless prefix filtering.
    *
    * The naive inverted-index join blows up on frequent shingles
    * (Σ df² pairs — the single most expensive bench query before this).
    * Prefix filtering: order shingles globally by (document frequency,
    * shingle); two sets with J >= t MUST share one of each other's first
    * ⌊(1−t)·|S|⌋+1 shingles in that order, so only those "prefix"
    * shingles are used as index keys — provably no lost pairs, and the
    * quadratic term now runs over the RAREST shingles only. Candidates
    * are then verified with exact intersect/union sizes.
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = df.select(col(idCol),
      shingles(TokenOps.tokenize(col(textCol)), shingleN).as("sh"))
    val sh = sets.select(col(idCol), explode(col("sh")).as("s"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("s"))
    // Prefix length = s - ceil(t*s) + 1. The 1e-9 epsilon guards IEEE
    // noise ((1-t)*s with t=0.9, s=10 is 0.999... in doubles) without
    // changing the exact value for any realistic threshold; using the
    // threshold directly (not rounded cents) keeps the prefix provably
    // lossless for thresholds like 0.336 that don't round to 2dp.
    val keep = col("sz") - ceil(col("sz") * threshold - lit(1e-9)) + 1
    val prefix = sh.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(col("rn") <= keep)
      .select(col(idCol), col("s"))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cands
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full near-dup pipeline: tokenize → shingle → minhash → band →
    * candidates → EXACT Jaccard verification on candidates only.
    * Output: (id_a, id_b, jaccard) for pairs with jaccard >= threshold.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val withSig = signatureAgg(df, idCol, textCol, shingleN, numHashes)
      .withColumn("bands", bandKeys(col("sig"), bands, r))
    val cands = candidatePairs(withSig, idCol, "bands")
    val sets = df.select(col(idCol),
      shingles(TokenOps.tokenize(col(textCol)), shingleN).as("sh"))
    cands
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
