package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance self-join (fuzzy entity matching / typo-level dedup):
  * all pairs with `levenshtein(a, b) <= maxDist`, found WITHOUT the n²
  * cross join.
  *
  * The blocking is the classic exact q-gram + prefix-filter stack — no
  * false negatives, so the output equals the brute-force join and is
  * DuckDB-oracle-checkable:
  *
  *  1. '''Count bound''' (Gravano et al., VLDB'01): with padded q-grams a
  *     string of length L has L+q-1 grams and one edit destroys at most q
  *     of them, so a pair within distance d shares at least
  *     T = Lmax+q-1-q·d grams (as a MULTISET).
  *  2. '''Prefix filter''' (Chaudhuri et al. ICDE'06 / Bayardo WWW'07):
  *     order gram instances globally by ascending document frequency;
  *     a pair sharing >= T tokens must collide inside each side's
  *     (|G|-T+1)-token prefix. Each string therefore indexes only its
  *     2d+1 RAREST gram instances (for L >= q·d the per-string bound
  *     T_a = L_a+q-1-q·d <= T_pair keeps the filter lossless) — hot
  *     grams like a shared brand prefix never fan out, because they sort
  *     to the END of the df order and fall outside every prefix.
  *  3. '''Multiset correctness''': the k-th occurrence of gram g is the
  *     token (g, k) (ppjoin's bag-to-set reduction), so duplicated grams
  *     inside one string can't satisfy the count bound spuriously — and
  *     the set-prefix lemma applies verbatim.
  *  4. '''Verify''': candidates (deduped pairs) re-join their strings and
  *     run the codegen'd `levenshtein(l, r, threshold)` builtin — the
  *     thresholded form abandons a row's DP early once the bound is
  *     exceeded.
  *
  * Degenerate-length escape hatch: a pair can sit within distance d while
  * sharing ZERO grams only if both lengths are <= q·d-1 (destroying all
  * L+q-1 grams needs ceil((L+q-1)/q) <= d edits). Those short strings get
  * an exact length-banded pairing in their own tiny bucket, guarded by a
  * loud `require` (the [[Similarity.nearDupPairs]] honest-threshold
  * pattern) so a corpus of one-word strings fails fast instead of going
  * quadratic.
  *
  * Scale notes (100 TB): the gram-df side is broadcast — its size is the
  * q-gram vocabulary (charset^q, ~16k rows for ASCII bigrams), not the
  * data; the per-string prefix is O(d) tokens, so the candidate join
  * carries (2d+1)·n rows with rare join keys by construction; the only
  * wide shuffles key on (gram, occ) and on the id pair — both
  * high-cardinality. OPERATING DISCIPLINE: exact-dedup first and match
  * the DISTINCT-key dictionary (one `groupBy(key).agg(min(id))` —
  * q_fuzzy_pairs' shape), because duplicated keys square their
  * multiplicity into every matching pair: the output itself goes
  * quadratic, no blocking can fix the result being large (measured 50 s
  * on 20k rows / 64 distinct names before the dictionary form; trivial
  * after). Reference behavior: /root/reference/preprocessing.py:38,99-108
  * (dropna + exact text cleaning) generalized to typo tolerance.
  */
object FuzzyJoin {

  // Sentinel pad chars. Distinct L/R pads keep the first and last char's
  // grams anchored to their end of the string. A string ACTUALLY containing
  // one would mis-anchor its grams and could silently drop true pairs, so
  // editDistancePairs probes for them and fails loudly (guardSentinels)
  // instead of trusting a comment.
  private val PadL = "\u0001"
  private val PadR = "\u0002"

  /** Loud guard: fail fast if any input string contains a pad sentinel
    * (which would corrupt the gram anchoring and silently violate the
    * equal-to-brute-force contract). One limit(1) probe over the base
    * frame — stops at the first offender. */
  private def guardSentinels(base: DataFrame): Unit = {
    val offender = base
      .filter(col("__s").contains(PadL) || col("__s").contains(PadR))
      .select(col("__id")).limit(1).collect()
    require(offender.isEmpty,
      s"editDistancePairs: input string (id=${offender.headOption.map(_.get(0)).orNull}) " +
        "contains a reserved pad sentinel (U+0001/U+0002) - q-gram anchoring " +
        "would be corrupted and true pairs silently dropped. Strip control " +
        "chars from the key column first.")
  }

  /** Padded q-gram instances of `strCol`: one row per (id, gram, pos). */
  private def gramRows(base: DataFrame, q: Int): DataFrame = {
    val padded = concat(lit(PadL * (q - 1)), col("__s"), lit(PadR * (q - 1)))
    base.select(col("__id"), col("__len"),
        posexplode(transform(
          sequence(lit(1), col("__len") + q - 1),
          i => padded.substr(i, lit(q)))).as(Seq("__pos", "__gram")))
  }

  /** All pairs (id_a < id_b) with edit distance <= maxDist. Output columns:
    * `id_a, id_b, dist`. Exact — equal to the brute-force O(n²) join.
    *
    * @param maxShortRows loud guard on the degenerate short-string bucket
    *   (strings shorter than q·maxDist), which has no sub-quadratic exact
    *   filter; raise explicitly to opt in.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2, maxShortRows: Long = 10000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 2, s"q must be >= 2, got $q")
    val base = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("__id"), col(strCol).as("__s"),
        length(col(strCol)).as("__len"))
    guardSentinels(base)

    // ---- degenerate bucket: both lengths < q·d can share zero grams ----
    val shortLen = q * maxDist - 1
    val shorts = base.filter(col("__len") <= shortLen)
    val nShort = shorts.limit((maxShortRows min Int.MaxValue.toLong).toInt + 1)
      .count()
    require(nShort <= maxShortRows,
      s"editDistancePairs: over $maxShortRows strings shorter than " +
        s"${shortLen + 1} chars — the degenerate bucket has no exact " +
        "sub-quadratic filter and would pair quadratically. Pre-filter " +
        "trivial strings or pass maxShortRows explicitly to opt in.")
    val shortPairs = shorts.select(col("__id").as("id_a"), col("__s").as("__sa"),
        col("__len").as("la"))
      .join(shorts.select(col("__id").as("id_b"), col("__s").as("__sb"),
          col("__len").as("lb")),
        col("id_a") < col("id_b") &&
          abs(col("la") - col("lb")) <= maxDist)
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"))

    // ---- prefix-filter candidates for everything else ----
    // Token = (gram, occurrence#): ppjoin's bag-to-set reduction, so the
    // set-prefix lemma covers multiset gram overlap. The Window keys on
    // (__id, __gram) — id is in the key, so it scales with the data.
    val occW = Window.partitionBy(col("__id"), col("__gram"))
      .orderBy(col("__pos"))
    val tokens = gramRows(base, q)
      .withColumn("__occ", row_number().over(occW))
    // Global rarity order: df over tokens. Vocabulary-sized → broadcast.
    val tokenDf = tokens.groupBy(col("__gram"), col("__occ"))
      .agg(count(lit(1)).as("__df"))
    // Per-string prefix: sort this string's tokens by (df, gram, occ) and
    // keep the first |G| - T_a + 1 = min(|G|, q·d + 1) — constant in L
    // once the count bound binds, all-of-them below (T_a clamps to 1).
    val prefixLen = least(col("__len") + q - 1, lit(q * maxDist + 1))
    // The strings ride THROUGH the prefix join: re-fetching them after a
    // candidate dedupe would cost two more candidate-sized join shuffles
    // (measured 8.4 s → 3 s on the hot-prefix customer bench at sf0.1);
    // verifying before the dedupe trades a few duplicate levenshtein
    // evals (a pair can collide on at most the prefix size) for shuffling
    // only the TRUE-pair set.
    val prefixes = tokens
      .join(broadcast(tokenDf), Seq("__gram", "__occ"))
      .groupBy(col("__id"), col("__len"))
      .agg(array_sort(collect_list(
        struct(col("__df"), col("__gram"), col("__occ")))).as("__toks"))
      .join(base.select(col("__id"), col("__s")), "__id")
      .select(col("__id"), col("__len"), col("__s"),
        explode(slice(col("__toks"), lit(1), prefixLen)).as("__t"))
      .select(col("__id"), col("__len"), col("__s"),
        col("__t.__gram").as("__gram"), col("__t.__occ").as("__occ"))
    // Materialize the prefix frame ONCE: the self-join references it
    // twice, and without a checkpoint the whole token pipeline (occ
    // window + df join + per-string sort) executes once PER SIDE —
    // measured as the dominant cost on the 15k-name hot-prefix bench.
    // The frame is (2d+1)·n rows — prefix-sized, not candidate-sized.
    // REPARTITIONED BY THE JOIN KEY first: localCheckpoint freezes the
    // upstream partitioning (often ONE scan partition on a compact
    // input, serializing the whole candidate join into a single task),
    // and hash-partitioning on (__gram, __occ) is exactly the join's
    // requirement, so both self-join legs reuse this one exchange
    // instead of shuffling twice (guide §2.4).
    val prefixesMat = prefixes
      .repartition(col("__gram"), col("__occ")).localCheckpoint()
    val cand = prefixesMat.select(col("__id").as("id_a"), col("__len").as("la"),
        col("__s").as("__sa"), col("__gram"), col("__occ"))
      .join(prefixesMat.select(col("__id").as("id_b"), col("__len").as("lb"),
          col("__s").as("__sb"), col("__gram"), col("__occ")),
        Seq("__gram", "__occ"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("la") - col("lb")) <= maxDist)
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"))

    // ---- verify (pre-dedupe), then dedupe the true-pair set ----
    cand.union(shortPairs)
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .dropDuplicates("id_a", "id_b")
  }

  /** FastSS / SymSpell deletion-neighborhood join for `maxDist` in {1, 2}
    * (Bocek et al. "Fast Similarity Search in Large Dictionaries" 2007;
    * the SymSpell spell-checker's index): every string emits its
    * <=maxDist-deletion neighborhood as keys — itself, each
    * single-character deletion, and (for d=2) each unordered pair of
    * deletions — and any pair within edit distance d must collide on one
    * of them (FastSS: ed(a,b) <= d implies the <=d-deletion
    * neighborhoods intersect). Collisions are then verified with the
    * thresholded levenshtein, so the output is EXACT. At d=1 candidate
    * volume ≈ result volume — unlike gram blocking, whose Σdf² saturates
    * quadratically when keys share a fixed format over a small
    * discriminating alphabet (the customer-name regime: measured 3.3M
    * gram candidates vs ~0.4M deletion candidates for 262k true pairs at
    * sf0.1).
    *
    * Cost model: d=1 emits L+1 keys per string; d=2 emits
    * 1 + L + L(L-1)/2 — QUADRATIC in string length. The d=2 blow-up is
    * guarded loudly: the exact total key count is probed first and must
    * stay under `maxKeyRows` (one sum-aggregate over lengths — no key
    * generation happens before the guard passes). d >= 3 is refused by
    * contract (L³ keys per string); route those through
    * [[editDistancePairs]], whose prefix filter is constant per string.
    *
    * @param maxDist  1 or 2 (deletion-neighborhood depth)
    * @param maxKeyRows loud guard on the generated key volume for d=2;
    *   raise explicitly to opt in to a bigger index. */
  def deletionNeighborhoodPairs(df: DataFrame, idCol: String,
      strCol: String, maxDist: Int = 1,
      maxKeyRows: Long = 20000000L): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"deletionNeighborhoodPairs supports maxDist in {1, 2}, got $maxDist " +
        "- the d-deletion neighborhood is C(L,d) keys per string " +
        "(L^3 at d=3); use editDistancePairs for larger distances.")
    val base = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("__id"), col(strCol).as("__s"),
        length(col(strCol)).as("__len"))
    if (maxDist == 2) {
      // Exact key volume BEFORE generating anything: sum of per-row
      // 1 + L + L(L-1)/2. One cheap aggregate over the length column.
      val keyCount = base.agg(sum(
        lit(1L) + col("__len").cast("long") +
          col("__len").cast("long") * (col("__len").cast("long") - 1) / 2)
        .as("n")).collect()(0).getAs[Any]("n") match {
        case null      => 0L
        case n: Long   => n
        case n: Number => n.longValue()
      }
      require(keyCount <= maxKeyRows,
        s"deletionNeighborhoodPairs(d=2) would generate $keyCount deletion " +
          s"keys (> $maxKeyRows): the 2-deletion neighborhood is " +
          "1 + L + L(L-1)/2 keys per string. Dedup to a key dictionary " +
          "first, use editDistancePairs (constant keys per string), or " +
          "pass maxKeyRows explicitly to opt in.")
    }
    // i = 0 is the identity key; i in 1..L deletes character i.
    val del1 = transform(sequence(lit(0), col("__len")), i =>
      when(i === 0, col("__s")).otherwise(concat(
        col("__s").substr(lit(1), i - 1),
        col("__s").substr(i + 1, col("__len") - i))))
    // Delete positions i < j (both 1-based). Guarded with when(len >= 2):
    // Spark's sequence(1, 0) DESCENDS instead of being empty.
    val del2 = when(col("__len") >= 2, flatten(
      transform(sequence(lit(1), col("__len") - 1), i =>
        transform(sequence(i + 1, col("__len")), j =>
          concat(
            col("__s").substr(lit(1), i - 1),
            col("__s").substr(i + 1, j - i - 1),
            col("__s").substr(j + 1, col("__len") - j))))))
      .otherwise(array().cast("array<string>"))
    val keys = if (maxDist == 1) del1 else concat(del1, del2)
    // Materialized once — the self-join references it twice (the
    // SimHash/gram-join lesson); key-sized, guarded above for d=2.
    // Repartitioned by the join key BEFORE the checkpoint: the frozen
    // upstream layout is often one scan partition (the whole collision
    // join then runs as a single task — measured 3.8 s single-threaded
    // on the sf0.1 customer bench), and partitioning on __k is the
    // join's own requirement, so both legs reuse this exchange instead
    // of shuffling twice (guide §2.4).
    val keyed = base.select(col("__id"), col("__s"),
        explode(keys).as("__k"))
      .repartition(col("__k"))
      .localCheckpoint()
    keyed.select(col("__id").as("id_a"), col("__s").as("__sa"), col("__k"))
      .join(keyed.select(col("__id").as("id_b"), col("__s").as("__sb"),
        col("__k")), Seq("__k"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
      .dropDuplicates("id_a", "id_b")
  }

  /** All pairs with Jaro-Winkler similarity >= `minSim` (scored by the
    * codegen'd [[graft.functions.JaroWinkler]] expression). Unlike edit
    * distance, JW admits no exact sub-quadratic filter (a high-JW pair
    * can share no q-gram at all — the transposition term sees through
    * scrambles), so this is an O(n²) DICTIONARY operator by contract:
    * run it on a distinct-key dictionary (vocabulary-sized, like
    * q_fuzzy_pairs' shape) or on an already-blocked candidate set, and
    * the loud guard enforces that contract. The threshold compares the
    * 6-dp ROUNDED score so the cut is reproducible across engines. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
      minSim: Double, maxExactRows: Long = 100000L): DataFrame = {
    val over = df.limit((maxExactRows min Int.MaxValue.toLong).toInt + 1)
      .count() > maxExactRows
    require(!over,
      s"jaroWinklerPairs is O(n²) by contract (JW has no exact blocking): " +
        s"over $maxExactRows rows. Dedup to a key dictionary first, or " +
        "pass maxExactRows explicitly to opt in.")
    val base = df.filter(col(strCol).isNotNull)
    val a = base.select(col(idCol).as("id_a"), col(strCol).as("__sa"))
    val b = base.select(col(idCol).as("id_b"), col(strCol).as("__sb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jw", round(
        graft.functions.StringSim.jaro_winkler(col("__sa"), col("__sb")), 6))
      .filter(col("jw") >= minSim)
      .select(col("id_a"), col("id_b"), col("jw"))
  }

  /** The unfiltered brute-force form — the correctness baseline the spec
    * compares against, guarded exactly like [[Similarity.nearDupPairs]]. */
  def bruteForcePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, maxExactRows: Long = 100000L): DataFrame = {
    val over = df.limit((maxExactRows min Int.MaxValue.toLong).toInt + 1)
      .count() > maxExactRows
    require(!over,
      s"bruteForcePairs is the O(n²) verification baseline: over " +
        s"$maxExactRows rows. Use editDistancePairs at scale.")
    val base = df.filter(col(strCol).isNotNull)
    val a = base.select(col(idCol).as("id_a"), col(strCol).as("__sa"))
    val b = base.select(col(idCol).as("id_b"), col(strCol).as("__sb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
