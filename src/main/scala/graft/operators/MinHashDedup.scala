package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Columns
import graft.functions.MinHashBandsExpr

/** MinHash + LSH near-duplicate detection over text (the standard
  * shingle → minhash → band → bucket-join cascade).
  *
  * Everything up to the bucket join is ROW-LOCAL: the shingles are
  * higher-order-function expressions over the token array, and the
  * H-wide minhash signature and its band keys are ONE expression
  * ([[bandsOf]], [[graft.functions.MinHashBandsExpr]]) that reads each
  * shingle once — no fitting job, no shuffle, no UDF. The only shuffles
  * are the band-bucket self-join (keys are 64-bit hashes → uniformly
  * distributed, no skew) and the candidate verification joins, which
  * shingle only the documents in a candidate pair. That is the correct
  * shape at 100 TB: cost scales with n·bands + Σ bucket² instead of n².
  * A caller that already holds the tokens (graft.app.Curate, from its
  * quality gate) derives the band column from them and runs
  * [[candidatePairs]] and [[verifyPairs]] itself.
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
    * xxhash64(i, shingle). Row-local, one `transform` per hash: the
    * reference [[bandsOf]]'s kernel is tested against. */
  def signature(shingleCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleCol, s => xxhash64(lit(i), s)))
    }: _*)

  /** LSH band keys: hash of each r-row slice of the signature (with
    * [[signature]], the reference form of [[bandsOf]]). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { j =>
      xxhash64(lit(j), slice(sig, j * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** The LSH band keys of a token array: MinHash over its distinct word
    * `shingleN`-gram shingles, computed by one expression
    * ([[graft.functions.MinHashBandsExpr]], equal to
    * `bandKeys(signature(shingles(tokens)))`). Null for a document
    * shorter than `shingleN` tokens: it has no shingles and never becomes
    * a candidate. */
  def bandsOf(tokens: Column, shingleN: Int = 3, numHashes: Int = 32,
      bands: Int = 8): Column =
    Columns.of(MinHashBandsExpr(
      Columns.expr(shingles(tokens, shingleN)), numHashes, bands))

  /** Candidate pairs: documents sharing at least one band bucket.
    * Returns (id_a, id_b) with id_a < id_b, distinct. `df` is read once
    * per join side, so pass a materialized frame (or one cheap to
    * re-run); a null band array yields no rows. */
  def candidatePairs(df: DataFrame, idCol: String, bandsCol: String)
      : DataFrame = {
    def side(id: String): DataFrame = df.select(col(idCol).as(id),
      posexplode(col(bandsCol)).as(Seq("band_id", "band_key")))
    side("id_a").join(side("id_b"), Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** EXACT Jaccard verification of candidate pairs: (id_a, id_b, jaccard)
    * for the pairs of `cands` whose distinct `shingleN`-gram shingle sets
    * have jaccard >= threshold. Each side's text is joined to the pairs
    * first and shingled after, so only documents in a candidate pair are
    * shingled, not every row of `df`. */
  def verifyPairs(cands: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, threshold: Double): DataFrame = {
    def side(s: String): DataFrame =
      df.select(col(idCol).as(s"id_$s"), col(textCol).as(s"text_$s"))
    def sh(s: String): Column =
      shingles(TokenOps.tokenize(col(s"text_$s")), shingleN)
    cands.join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"), sh("a").as("sh_a"), sh("b").as("sh_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
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
    * The (id, bands) frame is materialized once, one row per document,
    * because the band self-join reads it on both sides.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = df.select(col(idCol), bandsOf(TokenOps.tokenize(
        col(textCol)), shingleN, numHashes, bands).as("bands"))
      .localCheckpoint()
    verifyPairs(candidatePairs(banded, idCol, "bands"), df, idCol, textCol,
      shingleN, threshold)
  }
}
