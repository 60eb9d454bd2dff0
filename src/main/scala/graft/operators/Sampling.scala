package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible sampling + corpus mixing for training-data pipelines.
  *
  * Spark's `sample()` is seed-deterministic but PARTITIONING-dependent:
  * the same rows in different file splits sample differently, so a
  * repartitioned copy of the corpus yields a different subset. The
  * content-hash sampler here keys the decision on the ROW CONTENT
  * (md5 over a key column + seed), making membership a pure function of
  * the data — stable across partitioning, engines, and re-runs, which is
  * what dataset-mixing recipes need for reproducibility. It is also
  * exactly mirrorable in the DuckDB oracle (md5 hex-string compare),
  * unlike RNG sampling.
  *
  * All row-local (a pushable filter over the scan — no shuffle, no RNG
  * state), so it runs at scan speed at any scale.
  */
object Sampling {

  private val HexDigits = 12 // 48 bits of the md5 — plenty below 1e14 rows

  /** Lowercase hex threshold such that
    * P[substring(md5(x), 1, 12) < threshold] = fraction for uniform md5. */
  def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"fraction must be in [0,1], got $fraction")
    val v = math.round(fraction * (1L << (4 * HexDigits))).min(1L << (4 * HexDigits))
    if (v >= (1L << (4 * HexDigits))) "g" // > every hex digit: keep all
    else ("%0" + HexDigits + "x").format(v)
  }

  /** The sampling predicate: content-hash of (seed, key) under fraction. */
  def contentHashPredicate(key: Column, fraction: Double,
      seed: Long = 42L): Column =
    substring(md5(concat(lit(seed.toString), lit(":"), key)), 1, HexDigits) <
      hexThreshold(fraction)

  /** Keep ~`fraction` of rows, membership decided by content of `key`
    * (deterministic across partitioning/engines/runs). */
  def contentHashSample(df: DataFrame, key: Column, fraction: Double,
      seed: Long = 42L): DataFrame =
    df.filter(contentHashPredicate(key, fraction, seed))

  /** Deterministic complementary split, e.g. train/test: (~1-fraction,
    * ~fraction) of rows, membership a pure function of `key` content.
    *
    * The scale-correct alternative to `randomSplit`: randomSplit is
    * seed-AND-partitioning dependent (a repartitioned corpus splits
    * differently, and under nondeterministic input ordering rows can
    * even land in both/neither side); here the two sides are exactly
    * complementary by construction (same predicate, negated), stable
    * across partitioning, retries, and engine versions — what a
    * persisted 100 TB train/eval contract needs. A grown corpus keeps
    * prior membership: adding rows never reshuffles existing ones
    * (hash membership is per-row), unlike fraction-of-ordering schemes.
    *
    * NULL keys hash to nothing, so the raw predicate is NULL for them
    * and a naive (p, !p) pair would drop such rows from BOTH sides;
    * here they deterministically land in the train (larger) side, so
    * the partition really is exact for nullable keys.
    *
    * The reference pipelines keep `randomSplit(seed=42)` for fidelity
    * ([[graft.ml.SentimentPipeline.split]]); this is the recommended
    * form for new pipelines. */
  def hashSplit(df: DataFrame, key: Column, testFraction: Double,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val p = coalesce(contentHashPredicate(key, testFraction, seed),
      lit(false))
    (df.filter(!p), df.filter(p))
  }

  /** Deterministic THREE-WAY split (train/dev/test) on one content
    * hash: the hex key partitions as [0, t_test) → test,
    * [t_test, t_test+dev) → dev, rest → train. Same contract family as
    * [[hashSplit]] — exactly-partitioning (every row lands in exactly
    * one side, NULL keys in train), stable under repartitioning and
    * corpus growth, pure function of content — which `randomSplit`
    * with three weights gives up on all counts. One row-local
    * predicate; the engine never shuffles for the split. Returns the
    * input plus `splitCol` ∈ {train, dev, test}. */
  def hashSplit3(df: DataFrame, key: Column, devFraction: Double,
      testFraction: Double, seed: Long = 42L,
      splitCol: String = "split"): DataFrame = {
    require(devFraction > 0.0 && testFraction > 0.0 &&
      devFraction + testFraction < 1.0,
      s"need 0 < dev, 0 < test, dev+test < 1; got dev=$devFraction " +
        s"test=$testFraction")
    require(!df.columns.contains(splitCol),
      s"hashSplit3: input already has a '$splitCol' column")
    val h = substring(md5(concat(lit(seed.toString), lit(":"), key)),
      1, HexDigits)
    val tTest = hexThreshold(testFraction)
    val tDev = hexThreshold(testFraction + devFraction)
    df.withColumn(splitCol,
      when(h < lit(tTest), "test")
        .when(h < lit(tDev), "dev")
        .otherwise("train")) // includes NULL keys: h NULL fails both <
  }

  /** Deterministic K-FOLD assignment for cross-validation: fold i gets
    * the hex-key band [i/k, (i+1)/k) — the [[hashSplit3]] contract
    * generalized to k equal bands. Exactly-partitioning (every row in
    * exactly one fold, NULL keys in the last band via the otherwise),
    * stable under repartitioning and corpus growth, pure function of
    * `key` content — so fold membership survives re-runs, engine
    * versions, and appended data, which `randomSplit`-per-fold cannot
    * promise. Key on a GROUP id (canonical doc id, user id) for
    * leakage-safe CV: all of a group's rows share its hash, hence its
    * fold. One row-local when-chain; the engine never shuffles. */
  def kFoldAssign(df: DataFrame, key: Column, k: Int, seed: Long = 42L,
      foldCol: String = "fold"): DataFrame = {
    require(k >= 2 && k <= 64, s"kFoldAssign needs 2 <= k <= 64, got $k")
    require(!df.columns.contains(foldCol),
      s"kFoldAssign: input already has a '$foldCol' column")
    val h = substring(md5(concat(lit(seed.toString), lit(":"), key)),
      1, HexDigits)
    val assigned = (1 until k).foldLeft(Option.empty[Column]) { (acc, i) =>
      val t = hexThreshold(i.toDouble / k)
      val branch = lit((i - 1).toLong)
      Some(acc match {
        case None => when(h < lit(t), branch)
        case Some(c) => c.when(h < lit(t), branch)
      })
    }
    df.withColumn(foldCol, assigned.get.otherwise(lit((k - 1).toLong)))
  }

  /** The [[kFoldAssign]] fold expression as DuckDB SQL over `keyExpr`,
    * for oracle mirrors — one threshold list, two engines. */
  def kFoldSql(keyExpr: String, k: Int, seed: Long = 42L): String = {
    val h = s"substr(md5('$seed:' || $keyExpr), 1, $HexDigits)"
    val whens = (1 until k).map { i =>
      s"WHEN $h < '${hexThreshold(i.toDouble / k)}' THEN ${i - 1}"
    }.mkString(" ")
    s"CAST(CASE $whens ELSE ${k - 1} END AS BIGINT)"
  }

  /** LEAKAGE-SAFE split: train/test membership decided per duplicate
    * GROUP, not per row — every near-dup cluster lands whole on one
    * side. [[hashSplit]] on raw ids is wrong for training corpora: a
    * document and its near-copy can straddle the boundary, and the test
    * side then "evaluates" on memorized training text (the
    * train-test-contamination failure mode decontamination guards
    * against AFTER the fact; this prevents it at split time).
    *
    * pairs → connected components ([[DedupGroups]]: driver union-find
    * below the edge threshold, min-label propagation above) → the
    * component id's content hash decides the side for all members.
    * Output: (id, component, split). Scale shape: the component labels
    * are pair-vertex-sized and broadcast back; the split predicate is
    * row-local — the corpus itself never shuffles.
    *
    * Stability contract (weaker than [[hashSplit]]'s, stated honestly):
    * membership is a pure function of the component id, so it is stable
    * across partitioning and re-runs; but a grown corpus can MERGE two
    * components (a new doc links them), moving the smaller group's side
    * with its new component id. That is inherent to leakage-safety —
    * group membership itself changed — not an artifact of the hash. */
  def groupHashSplit(ids: DataFrame, idCol: String, pairs: DataFrame,
      testFraction: Double, seed: Long = 42L): DataFrame = {
    val comps = DedupGroups.connectedComponents(ids, idCol, pairs)
    comps.select(col("id").as(idCol), col("comp").as("component"),
      when(coalesce(contentHashPredicate(col("comp").cast("string"),
          testFraction, seed), lit(false)), "test")
        .otherwise("train").as("split"))
  }

  /** Weighted corpus mix: per-stratum sampling fractions (e.g.
    * lang -> weight, source -> weight), unknown strata fall back to
    * `defaultFraction`. One row-local predicate — the standard
    * dataset-mixing recipe (N sources, each downsampled to its weight)
    * without N separate scans. */
  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    * algorithm A-ES): each row draws u ∈ (0,1) and the k largest
    * u^(1/w) win — exactly k distinct rows, inclusion probability
    * proportional to weight at each of the k sequential draws. Ordered
    * by the equivalent log-key ln(u)/w (monotone in u^(1/w), no
    * pow-underflow for tiny weights).
    *
    * The randomness is the [[Dsir.gumbelTopK]] trick hardened by an md5
    * stage: u derives from `poly_hash(md5("w<seed>:" || id))` —
    * deterministic per (seed, id), so the DuckDB mirror RECOMPUTES the
    * draw (no rows-only sampler hand-waving), and membership is a pure
    * function of the data like every sampler in this file. The md5 is
    * LOAD-BEARING: poly_hash alone is order-preserving across
    * same-length ids under a shared seed prefix (h = Σcᵢ·31ᵏ mod p wraps
    * rarely), which would make every equal-weight draw "largest id
    * wins" for every seed; the digest supplies the avalanche, poly_hash
    * folds it to the (0,1) grid both engines share. The log-key
    * quantizes onto the 1e-9 integer grid before ordering, keeping the
    * sort key integer-exact across engines; ties break by id.
    *
    * Scale shape: row-local key computation over the scan, then top-k =
    * TakeOrderedAndProject — no shuffle, no global sort, no RNG state.
    * Weights below `minWeight` are excluded along with zero/negative
    * ones (u^(1/w) is undefined for w ≤ 0): |ln u| ≤ ln(p+1) ≈ 20.8, so
    * key_nano ≤ 20.8/w·1e9 and a weight below ~2.3e-9 overflows the
    * BIGINT cast — which Spark's non-ANSI cast would SATURATE silently
    * while DuckDB's errors, splitting engine from oracle. The floor
    * keeps the key integer-exact on both engines by construction; a
    * sub-floor weight has inclusion probability ≤ 1e-8/Σw anyway. */
  /** The shared A-ES key: ln(u)/w on the 1e-9 grid, u from
    * poly_hash(md5(seed-tag ‖ id)). ONE definition for the global and
    * stratified samplers (and the formula the two SQL mirrors
    * transcribe) — a one-sided tweak here would break the specced
    * "stratified == global restricted per stratum" identity, so there
    * is exactly one place to tweak. */
  private def aesKeyNano(idCol: String, weightCol: Column,
      seed: Int): Column = {
    val p = graft.functions.PolyHashKernel.Mod
    val u = (graft.functions.PolyHashF.poly_hash(
        md5(concat(lit(s"w$seed:"), col(idCol).cast("string"))
          .cast("binary"))) + lit(1L))
      .cast("double") / lit((p + 1L).toDouble)
    round(log(u) / weightCol.cast("double") * lit(1e9)).cast("long")
  }

  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
      k: Int, seed: Int, minWeight: Double = 1e-8): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    require(minWeight >= 2.3e-9,
      s"minWeight must be >= 2.3e-9 (BIGINT key bound), got $minWeight")
    df.filter(weightCol >= lit(minWeight))
      .withColumn("key_nano", aesKeyNano(idCol, weightCol, seed))
      .orderBy(col("key_nano").desc, col(idCol))
      .limit(k)
  }

  /** STRATIFIED weighted sampling without replacement: [[weightedSample]]
    * run independently inside every stratum — k rows per group, inclusion
    * probability ∝ weight WITHIN the group (the corpus-mixing form:
    * "100 docs per source, weighted by quality"). Same deterministic
    * A-ES key as the global sampler (one definition, and the same
    * minWeight/BIGINT-grid contract), so group membership is a pure
    * function of (seed, id, weight) and the mirror recomputes the draw.
    *
    * Scale shape: one shuffle on the group key, then a top-k heap per
    * group (row_number over the key ordering — rank state is O(1) per
    * partition, never a global sort). The global [[weightedSample]]
    * stays TakeOrderedAndProject (no shuffle at all); use this form only
    * when the quota really is per-group. */
  def weightedSamplePerGroup(df: DataFrame, idCol: String, weightCol: Column,
      groupCol: String, kPerGroup: Int, seed: Int,
      minWeight: Double = 1e-8): DataFrame = {
    require(kPerGroup > 0, s"per-group sample size must be positive, got $kPerGroup")
    require(minWeight >= 2.3e-9,
      s"minWeight must be >= 2.3e-9 (BIGINT key bound), got $minWeight")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("key_nano").desc, col(idCol))
    df.filter(weightCol >= lit(minWeight))
      .withColumn("key_nano", aesKeyNano(idCol, weightCol, seed))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= kPerGroup)
  }

  def mixByStratum(df: DataFrame, key: Column, stratum: Column,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      seed: Long = 42L): DataFrame = {
    val pred = fractions.foldLeft(
      contentHashPredicate(key, defaultFraction, seed)) {
      case (acc, (s, f)) =>
        when(stratum === s, contentHashPredicate(key, f, seed)).otherwise(acc)
    }
    df.filter(pred)
  }

  /** TEMPERATURE-weighted corpus mix (α = 0.5) — the multilingual
    * rebalancing recipe (Lample & Conneau, "Cross-lingual Language Model
    * Pretraining", 2019 — p_l ∝ share^α): target stratum probabilities
    * are the α-damped shares, flattening the head and boosting the tail
    * without RNG. Per-stratum keep rates are
    * `min(1, budgetFraction·N·p_l / n_l)` (no upsampling: a rate is a
    * filter, capped at 1), applied through the same content-hash
    * predicate as every other sampler here — so membership stays a pure
    * function of row content.
    *
    * Two passes by construction: a stratum histogram (output rows =
    * stratum cardinality — languages/sources, NOT corpus-sized; safe to
    * collect) computes the rates, then ONE row-local filter scan. The
    * rate arithmetic is pinned cross-engine: α = 0.5 is computed with
    * `sqrt` (correctly rounded in IEEE — `pow` is not pinned across
    * libm builds), and the weight normalization runs over
    * INTEGER-quantized weights (`round(sqrt(share)·1e9)`) so the
    * normalizing sum is an exact integer — accumulation order cannot
    * perturb the thresholds (the [[graft.functions.Money]] discipline).
    * Strata must be string-typed (they key the rate map). */
  def temperatureMix(df: DataFrame, key: Column, stratumCol: String,
      budgetFraction: Double = 0.5, seed: Long = 42L): DataFrame =
    mixByStratum(df, key, col(stratumCol),
      temperatureRates(df, stratumCol, budgetFraction), 0.0, seed)

  /** Keep AT MOST `k` rows per stratum (the C4-style per-domain cap: no
    * single domain/source may dominate the corpus), survivors chosen by
    * smallest content hash — deterministic, partitioning-stable, and
    * growth-stable in the keys that matter (a survivor only changes if a
    * smaller-hash row ARRIVES in its stratum, never from reordering).
    *
    * Composes the native [[graft.functions.BottomK]] aggregate: the
    * window row_number form would shuffle-sort the whole corpus per
    * stratum (one hot domain = one task); bottom_k ships ≤k entries per
    * stratum per task, then one semi-join stamps the survivors. Rows
    * with a NULL key cannot be ranked and never survive (the aggregate
    * skips them) — the conservative choice for a cap. `idCol` must be
    * integral (it rides the aggregate as a long). */
  def capPerStratum(df: DataFrame, idCol: String, key: Column,
      stratumCol: String, k: Int, seed: Long = 42L): DataFrame = {
    val kept = df
      .groupBy(col(stratumCol))
      .agg(graft.functions.BottomK.bottom_k(
        md5(concat(lit(seed.toString), lit(":"), key)),
        col(idCol).cast("long"), k).as("__ids"))
      .select(explode(col("__ids")).as(idCol))
    df.join(kept, Seq(idCol), "left_semi")
  }

  /** The per-stratum keep rates [[temperatureMix]] applies (exposed for
    * tests and for reporting the realized mixture). */
  def temperatureRates(df: DataFrame, stratumCol: String,
      budgetFraction: Double): Map[String, Double] = {
    require(budgetFraction > 0.0 && budgetFraction <= 1.0,
      s"budgetFraction must be in (0,1], got $budgetFraction")
    val hist = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    val quantized = hist.map { case (s, n) =>
      (s, math.round(math.sqrt(n.toDouble / total) * 1e9), n)
    }
    val wSum = quantized.map(_._2).sum
    quantized.map { case (s, w, n) =>
      (s, math.min(1.0, budgetFraction * total * (w.toDouble / wSum) / n))
    }.toMap
  }
}
