package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Dense-vector similarity search over an `array<float>` embedding column.
  *
  * Layered like a production ANN stack:
  *  1. `cosine` — exact scalar, pure HOF fold (codegen'd, no UDF).
  *  2. `bruteForceTopK` — exact top-k vs one query: broadcast the query,
  *     scan once, TakeOrderedAndProject. The correctness baseline.
  *  3. `nearDupPairs` — exact all-pairs above a threshold. O(n²) cross
  *     join: correct at verification scale, guarded by design at 100 TB —
  *     use `annCandidates` (below) to prefilter buckets first.
  *  4. Random-hyperplane LSH (`hyperplaneSig`, `annTopK`) — the scale
  *     path: 16 deterministic hyperplanes → 16-bit bucket signature per
  *     vector, computed row-local (no shuffle); candidate set = buckets
  *     within Hamming distance 1 (multiprobe); exact cosine re-rank on
  *     candidates only.
  */
object Similarity {

  /** Elementwise dot product of two array<double> columns (left-to-right
    * fold — deterministic summation order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Same math and summation order as [[cosine]], but through the
    * codegen'd [[graft.functions.DotProduct]] expression — the HOF form
    * pays one interpreted lambda dispatch per element, which dominates
    * all-pairs joins (measured ~50x on the bench near-dup query). */
  def cosineFast(a: Column, b: Column): Column =
    VectorFunctions.vec_dot(a, b) /
      (sqrt(VectorFunctions.vec_dot(a, a)) * sqrt(VectorFunctions.vec_dot(b, b)))

  /** The L2 norm a pair site hoists per INPUT row ([[cosinePre]]): the
    * exact `sqrt(vec_dot(v, v))` subterm of [[cosineFast]], projected
    * once per side instead of recomputed per candidate pair. */
  def normFast(v: Column): Column = sqrt(VectorFunctions.vec_dot(v, v))

  /** [[cosineFast]] with the per-side norms PRE-HOISTED: bit-identical
    * arithmetic (`dot / (na * nb)` with `na = sqrt(vec_dot(a, a))` is
    * the same IEEE expression tree, just factored), but a candidate
    * pair pays ONE dot product instead of three — the all-pairs joins'
    * dominant per-row cost (measured ~2.5x on the near-dup family at
    * sf0.1). Callers project [[normFast]] on each side before the
    * join. */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    VectorFunctions.vec_dot(a, b) / (na * nb)

  private def toDouble(c: Column): Column = c.cast("array<double>")

  /** Alignment / uniformity of an embedding space (Wang & Isola, ICML
    * 2020) — the two numbers that say whether a representation is
    * HEALTHY before anyone trains on it: alignment = mean squared
    * distance over POSITIVE pairs (should be small — duplicates sit
    * together), uniformity = log mean exp(−2·d²) over a background
    * pair sample (should be very negative — the space isn't collapsed
    * onto a point). Distances are on the unit sphere via the rounded
    * cosine (d² = 2 − 2·cos₆ — the SemDedup rounding, so both engines
    * agree bit-for-bit), each term quantized to the 1e-9 grid before
    * its order-free sum.
    *
    * The background sample is DETERMINISTIC id-offset probing: each id
    * pairs with id + o for the given offsets (missing partners drop) —
    * arbitrary-but-fixed, which is all an estimate needs and what an
    * oracle can recompute; never an all-pairs scan. One corpus-sized
    * equi-join per offset, positives-sized work for alignment. */
  def alignmentUniformity(emb: DataFrame, idCol: String, vecCol: String,
      positives: DataFrame, offsets: Seq[Long]): DataFrame = {
    require(offsets.nonEmpty, "need at least one probe offset")
    // id-offset probing computes __id + o: with a string id the addition
    // is NULL, the probe join silently empties, and uniformity comes
    // back NULL — fail loudly at the door instead (the library's guard
    // convention)
    require(emb.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"alignmentUniformity needs a numeric id column for offset " +
        s"probing; '$idCol' is ${emb.schema(idCol).dataType.simpleString}")
    // per-side norms hoisted into the shared projection (cosinePre —
    // bit-identical): each joined pair pays one dot, not three
    val e = emb.select(col(idCol).as("__id"), toDouble(col(vecCol)).as("__v"))
      .withColumn("__n", normFast(col("__v")))
    def cos6(a: Column, b: Column, na: Column, nb: Column) =
      round(cosinePre(a, b, na, nb), 6)
    def grid(c: Column) = round(c * lit(1e9)).cast("long")
    val pos = positives
      .join(e.select(col("__id").as("id_a"), col("__v").as("__va"),
        col("__n").as("__na")), "id_a")
      .join(e.select(col("__id").as("id_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), "id_b")
      .select(grid(lit(2.0) - lit(2.0) * cos6(col("__va"), col("__vb"),
        col("__na"), col("__nb")))
        .as("dq"))
      .agg(count(lit(1)).as("n_pos"),
        (sum(col("dq")).cast("double") / lit(1e9) /
          count(lit(1)).cast("double")).as("alignment"))
    val probes = offsets.map { o =>
      e.select((col("__id") + lit(o)).as("__pid"), col("__v").as("__va"),
          col("__n").as("__na"))
        .join(e.select(col("__id").as("__pid"), col("__v").as("__vb"),
          col("__n").as("__nb")),
          "__pid")
    }.reduce(_.unionAll(_))
      .select(grid(exp(lit(-2.0) *
        (lit(2.0) - lit(2.0) * cos6(col("__va"), col("__vb"),
          col("__na"), col("__nb"))))).as("uq"))
      .agg(count(lit(1)).as("n_probe"),
        log(sum(col("uq")).cast("double") / lit(1e9) /
          count(lit(1)).cast("double")).as("uniformity"))
    pos.crossJoin(broadcast(probes))
      .select(col("n_pos"), round(col("alignment"), 6).as("alignment"),
        col("n_probe"), round(col("uniformity"), 6).as("uniformity"))
  }

  /** Exact top-k most-cosine-similar vectors to the vector with id
    * `queryId`. The 1-row query side is broadcast; ranking is a
    * TakeOrderedAndProject (never a full sort). */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val e = embeddings.withColumn("__v", toDouble(col(vecCol)))
    // the query norm rides the 1-row broadcast: each corpus row pays one
    // dot + its own norm instead of three dots (cosinePre, bit-identical)
    val q = e.filter(col(idCol) === queryId)
      .select(col("__v").as("__qv"), normFast(col("__v")).as("__qn"))
    e.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(cosinePre(col("__v"), col("__qv"),
        normFast(col("__v")), col("__qn")), 6))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor, the top-k corpus vectors whose cosine lands in
    * [lo, hi) — similar enough to be informative negatives, below the
    * near-duplicate band where a "negative" is really a positive
    * (the standard curation recipe for training retrieval/embedding
    * models: random negatives are too easy, near-dups are label noise).
    *
    * Scale shape: the anchor set is REQUIRED small (≤ maxAnchors,
    * guarded loudly) and broadcasts, so the corpus scans once with no
    * shuffle for scoring; the band filter drops the bulk of rows before
    * the per-anchor window, whose sort is bounded by the band's
    * membership per anchor. The window shuffle keys on anchor_id — k
    * and |anchors| bound the output. Self-matches are excluded; cosine
    * rounds to 6dp before the band test and the ranking (the
    * cross-engine ordering grid), ties break by candidate id.
    * Output: (anchor_id, idCol, cos, rank 1..k). */
  def hardNegatives(embeddings: DataFrame, idCol: String, vecCol: String,
      anchorIds: Seq[Long], k: Int, lo: Double, hi: Double,
      maxAnchors: Int = 1000): DataFrame = {
    require(anchorIds.nonEmpty, "hardNegatives needs at least one anchor")
    require(anchorIds.size <= maxAnchors,
      s"hardNegatives: ${anchorIds.size} anchors > bound $maxAnchors — " +
        "the anchor set broadcasts and multiplies the corpus scan; mine " +
        "in batches (or raise maxAnchors knowingly)")
    require(anchorIds.distinct.size == anchorIds.size,
      "hardNegatives: duplicate anchor ids")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    require(k > 0, s"hardNegatives needs k > 0, got $k")
    // ONE bounded collect serves both needs: the presence check (a
    // typo'd anchor id would otherwise just produce ZERO rows for that
    // anchor — indistinguishable from "no candidates in the band"; fail
    // loudly naming the missing ids, the module's discipline) AND the
    // broadcast side, rebuilt driver-local so the plan's build side is
    // a LocalRelation instead of a second corpus scan per invocation.
    val spark = embeddings.sparkSession
    val anchorRows = embeddings.filter(col(idCol).isin(anchorIds: _*))
      .select(col(idCol).as("anchor_id"), toDouble(col(vecCol)).as("__qa"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val missing = anchorIds.filterNot(anchorRows.map(_._1).toSet)
    require(missing.isEmpty,
      s"hardNegatives: anchor ids not in the corpus: ${missing.mkString(", ")}")
    import spark.implicits._
    // anchor norms ride the broadcast rows; the corpus norm is hoisted
    // BEFORE the cross join so each of the |anchors| copies of a row
    // reuses it (cosinePre — bit-identical)
    val anchors = anchorRows.toDF("anchor_id", "__qa")
      .withColumn("__qan", normFast(col("__qa")))
    val scored = embeddings
      .select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .withColumn("__vn", normFast(col("__v")))
      .crossJoin(broadcast(anchors))
      .filter(col(idCol) =!= col("anchor_id"))
      .withColumn("cos", round(cosinePre(col("__v"), col("__qa"),
        col("__vn"), col("__qan")), 6))
      .filter(col("cos") >= lo && col("cos") < hi)
    bandTopK(scored, idCol, k)
  }

  /** The shared banded-top-k tail: per-anchor rank over the 6dp cosine
    * grid (ties by candidate id), cut to k — ONE definition consumed by
    * [[hardNegatives]] and [[graft.operators.KMeansQuant
    * .hardNegativesFromIndex]], whose outputs are specced to agree; a
    * tweak to the grid, tie-break, or band inclusivity lands on both
    * serving paths (and stays aligned with the shared mirrors). */
  private[operators] def bandTopK(scored: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col(idCol), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Exact all-pairs near-duplicates: pairs with cosine >= threshold.
    * O(n²) — verification scale only; [[annNearDupPairs]] is the
    * production path. GUARDED: fails loudly (one cheap count job, then
    * `require`) instead of slowly materializing n²/2 pairs when someone
    * points it at a production frame — same honest-threshold pattern as
    * [[graft.operators.DedupGroups.CollectThreshold]]. Raise
    * `maxExactRows` explicitly to opt in beyond the default. */
  def nearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxExactRows: Long = 100000L): DataFrame = {
    // Bounded probe, not a full count: limit(cap+1) lets the guard stop
    // after maxExactRows+1 rows, so an uncached expensive upstream is not
    // computed once for the guard and a second time when the join
    // materializes (callers should still persist hot inputs).
    // limit() takes an Int: for caps beyond its range a clamped probe
    // could never count past the cap and would silently DISABLE the
    // guard, so fall back to the full count there (a caller opting into
    // >2B exact rows has bigger costs than one count job).
    val over =
      if (maxExactRows < Int.MaxValue) {
        embeddings.limit(maxExactRows.toInt + 1).count() > maxExactRows
      } else embeddings.count() > maxExactRows
    require(!over,
      s"nearDupPairs is the exact O(n²) verification baseline: over " +
        s"$maxExactRows input rows means ~${maxExactRows.toDouble * maxExactRows / 2} " +
        "candidate pairs. Use annNearDupPairs for production scale, or pass " +
        "maxExactRows explicitly to override.")
    // per-side norms hoisted: the cross join pays one dot per pair, not
    // three ([[cosinePre]] — bit-identical arithmetic)
    // STREAM-SIDE PARALLELISM: a verification-scale corpus is typically
    // one small parquet file → one scan partition, so the nested-loop
    // join's n²/2 dot products all ran in ONE task (measured 1.4 s
    // single-threaded at sf0.1 while 31 cores idled — the FuzzyJoin
    // single-partition story, guide §2.6); [[spread]] fixes that and
    // leaves an already-parallel input alone. The build side stays
    // unpartitioned (it broadcasts).
    val a = spread(embeddings.select(col(idCol).as("id_a"),
        toDouble(col(vecCol)).as("va"))
      .withColumn("na", normFast(col("va"))))
    val b = embeddings.select(col(idCol).as("id_b"), toDouble(col(vecCol)).as("vb"))
      .withColumn("nb", normFast(col("vb")))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(
        cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Scale-adaptive stream-side parallelism for a broadcast pair join:
    * when the input has fewer partitions than the cluster has slots,
    * round-robin repartition it (a shuffle of the INPUT rows — linear,
    * cheap against the quadratic join it spreads); at production scale
    * the scan already carries ≥ cores partitions and the plan is
    * untouched. Only what runs after the shuffle is spread: a Filter
    * placed above the spread is pushed below the repartition and runs,
    * with every expression it references, before the shuffle in the
    * input's few tasks. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** L2-normalize an embedding column (unit vectors make cosine a plain
    * dot product downstream). Null/zero vectors pass through unscaled to
    * avoid division noise. */
  def l2Normalize(vec: Column): Column =
    graft.functions.ColumnOps.bind(toDouble(vec), v =>
      graft.functions.ColumnOps.bind(sqrt(dot(v, v)), n =>
        when(n > 0, transform(v, x => x / n)).otherwise(v)))

  /** Per-group centroid of an embedding column: the mean vector, built
    * with posexplode → (group, pos) partial-aggregated means → array
    * rebuild. Two shuffles total (pos-level agg, group-level rebuild),
    * both on small keys — the standard distributed centroid shape (this
    * is one Lloyd half-step of k-means). */
  def centroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(toDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("x")).as("c"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** Deterministic random hyperplanes (fixed seed → identical plan across
    * runs/sessions; regeneration is cheap and exact). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Vector dimension of `df`'s `vecColName` (array column), read from
    * one non-null row and MEMOIZED per logical plan — repeated probes /
    * plan constructions over the same frame pay the one-row job once.
    * Weak keys are sound: the Integer value holds no reference back to
    * the plan. None = empty (or all-null) column. */
  private val dimCache =
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Option[Integer]]()

  def vecDim(df: DataFrame, vecColName: String): Option[Int] = {
    // Keyed on the ANALYZED plan: unanalyzed plans compare structurally,
    // so two view-backed frames (`spark.table("embeddings")`) registered
    // over DIFFERENT datasets would alias one cache entry and hand back
    // a stale dimension; analysis stamps unique relation/ExprIds per
    // resolution, which keeps re-registrations distinct.
    val plan = df.queryExecution.analyzed
    dimCache.synchronized { Option(dimCache.get(plan)) } match {
      case Some(v) => v.map(_.intValue)
      case None =>
        val d = df.filter(col(vecColName).isNotNull)
          .select(size(col(vecColName)).as("d")).head(1)
          .headOption.map(r => Integer.valueOf(r.getInt(0)))
        dimCache.synchronized { dimCache.put(plan, d) }
        d.map(_.intValue)
    }
  }

  /** LSH bucket signature: bit j set iff dot(vec, plane_j) >= 0. Row-local
    * (no shuffle, no fitting job — unlike MLlib's BucketedRandomProjectionLSH
    * this needs no Estimator pass over the data). */
  def hyperplaneSig(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val plane = array(p.map(lit): _*)
      when(VectorFunctions.vec_dot(vec, plane) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Driver-side signature of a literal query vector (must mirror
    * hyperplaneSig exactly: same fold order). */
  def sigOf(vec: Seq[Double], planes: Seq[Seq[Double]]): Long =
    planes.zipWithIndex.map { case (p, j) =>
      val d = p.zip(vec).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      if (d >= 0) 1L << j else 0L
    }.reduce(_ | _)

  /** All-PAIRS near-duplicates via multi-table hyperplane LSH — the
    * scale-safe sibling of [[nearDupPairs]]'s O(n²) cross join:
    * candidates share a (table, bucket) 8-bit signature in at least one
    * of the L tables, then get an exact-cosine re-rank. Cost is
    * Σ_buckets bucket² per table instead of n².
    *
    * Recall follows OR-amplification: 1 − (1 − p^bits)^tables with
    * p = 1 − θ/π — ≈1.0 for true near-dups (cos ≥ 0.9), ~0.5 at the
    * cos = 0.5 boundary. Use for DEDUP (high-threshold) workloads;
    * for exhaustive mid-similarity mining, raise `tables` or drop
    * `bitsPerTable` (recall/candidate-volume trade).
    */
  def annNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 16, bitsPerTable: Int = 8): DataFrame = {
    val withV = embeddings.select(col(idCol), toDouble(col(vecCol)).as("__v"))
    val dim = vecDim(withV, "__v").getOrElse(
      return withV.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0).as("cos")).limit(0))
    val planes = hyperplanes(tables * bitsPerTable, dim)
    val ex = withV
      .withColumn("sig",
        graft.functions.HyperplaneSigs.sigs(col("__v"), planes, bitsPerTable))
      .select(col(idCol), posexplode(col("sig")).as(Seq("t", "b")))
    val a = ex.select(col(idCol).as("id_a"), col("t"), col("b"))
    val b = ex.select(col(idCol).as("id_b"), col("t"), col("b"))
    val cands = a.join(b, Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cands
      .join(withV.select(col(idCol).as("id_a"), col("__v").as("va"),
        normFast(col("__v")).as("na")), "id_a")
      .join(withV.select(col(idCol).as("id_b"), col("__v").as("vb"),
        normFast(col("__v")).as("nb")), "id_b")
      .withColumn("cos", round(
        cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** ANN top-k via OR-amplified multi-table hyperplane LSH: `tables`
    * independent signatures of `bitsPerTable` bits each; a vector is a
    * candidate iff it matches the query's bucket in ANY table (standard
    * OR-amplification — a single wide signature has near-zero recall for
    * weakly-similar neighbors). Candidates get an exact-cosine re-rank.
    *
    * Scale shape: signatures are row-local projections. In a served
    * 100 TB corpus you'd materialize (table_id, bucket, id) once,
    * bucket-partition it, and turn this filter into a bucket lookup join;
    * the scan form here keeps the same semantics for batch use. Recall/
    * candidate-rate tradeoff is (1 − (1 − p^b)^L) with p = 1 − θ/π. */
  def annTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, tables: Int = 16,
      bitsPerTable: Int = 8): DataFrame = {
    val dim = query.size
    val allPlanes = hyperplanes(tables * bitsPerTable, dim)
    val tablePlanes = allPlanes.grouped(bitsPerTable).toSeq
    val qVec = array(query.map(lit): _*)
    val withV = embeddings.withColumn("__v", toDouble(col(vecCol)))
    // All table signatures in one codegen'd pass; a vector is a candidate
    // iff any table bucket matches the query's (OR-amplification). The
    // single-consumer exists() keeps the signature computation evaluated
    // exactly once per row.
    val qSigs = array(tablePlanes.map(p => lit(sigOf(query, p))): _*)
    val sigsCol = graft.functions.HyperplaneSigs.sigs(
      col("__v"), allPlanes, bitsPerTable)
    withV
      .filter(exists(zip_with(sigsCol, qSigs, (a, b) => a === b), x => x))
      .withColumn("cos", round(cosineFast(col("__v"), qVec), 6))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
