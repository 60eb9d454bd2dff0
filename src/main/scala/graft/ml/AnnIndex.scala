package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HyperplaneSigs, VectorFunctions}
import graft.operators.Similarity
import graft.sources.PartitionedParquet

/** Materialized ANN indexes: build ONCE, probe MANY — the missing half of
  * the round-1 ANN story, where both the hyperplane-LSH and IVF paths
  * recomputed their bucketing inside every query.
  *
  * Both layouts persist as hive-partitioned parquet
  * ([[graft.sources.PartitionedParquet]]):
  *
  *  - hyperplane LSH: rows (id, v) partitioned by (table_id, bucket) —
  *    one entry per vector per table (L-way storage amplification, the
  *    standard multi-table LSH trade). A probe touches exactly L
  *    (table_id, bucket) directories via PartitionFilters — at 100 TB the
  *    scan reads L/(L·2^bits) of the index, not the corpus.
  *  - IVF: rows (id, v) partitioned by cell, plus a sibling `.centroids`
  *    parquet (the k-means coarse quantizer, [[IvfIndex.fit]]). A probe
  *    reads `nprobe` cell directories. Fit cost is paid at build time,
  *    never per query.
  *
  * Probe results match the scan-form operators ([[Similarity.annTopK]],
  * [[IvfIndex.topK]]) — same candidate semantics, same exact-cosine
  * re-rank — asserted in AnnIndexSpec.
  */
object AnnIndex {

  // ---------------- hyperplane LSH ----------------

  /** Build the multi-table LSH index at `path`. Deterministic planes
    * (seed-fixed) are regenerated at probe time — only vectors persist.
    *
    * Layout: hive-partitioned by `bucket` (≤ 2^bits dirs), with
    * `table_id` a plain column sorted within files so the probe's
    * table_id predicate prunes row groups via parquet min/max stats.
    * Partitioning by (table_id, bucket) would be tables× more dirs for
    * zero extra pruning — a probe touches every table anyway, so bucket
    * is the only selective key (measured here: the two-level layout made
    * both build and probe listing-bound). */
  def buildHyperplane(emb: DataFrame, idCol: String, vecCol: String,
      path: String, tables: Int = 16, bitsPerTable: Int = 8,
      storeVectors: Boolean = true): Unit = {
    val withV = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // null-safe, memoized dim read (a leading null vector must not NPE)
    val dim = Similarity.vecDim(withV, "v").getOrElse(throw
      new IllegalArgumentException(
        s"cannot build a hyperplane index over an empty input ($vecCol)"))
    val planes = Similarity.hyperplanes(tables * bitsPerTable, dim)
    val sigged = withV
      .withColumn("sig", HyperplaneSigs.sigs(col("v"), planes, bitsPerTable))
    // storeVectors=false drops the vector from the index rows: the
    // L-way storage amplification then applies to an 8-byte id, not the
    // embedding (dim×8 bytes) — the compact layout for wide embeddings,
    // probed via [[probeHyperplaneIds]] (vectors fetched from the base
    // table). Vector-inline (default) keeps probes self-contained.
    val rows = (if (storeVectors) sigged.select(col("id"), col("v"), col("sig"))
      else sigged.select(col("id"), col("sig")))
      .select(col("*"), posexplode(col("sig")).as(Seq("table_id", "bucket")))
      .drop("sig")
    // Cluster writes by partition key so each bucket dir gets few files;
    // bucket keys are near-uniform, no skew.
    PartitionedParquet.write(
      rows.repartition(col("bucket")).sortWithinPartitions(col("table_id")),
      path, Seq("bucket"))
  }

  private def vecDim(df: DataFrame, vecColName: String): Option[Int] =
    Similarity.vecDim(df, vecColName)

  private def requireDim(df: DataFrame, vecColName: String,
      querySize: Int, what: String): Unit =
    vecDim(df, vecColName).foreach { d =>
      require(d == querySize,
        s"query dimension $querySize != $what dimension $d")
    }

  /** The query's L (table_id, bucket) keys under the deterministic
    * seed-fixed hyperplanes. */
  private def queryBuckets(query: Seq[Double], tables: Int,
      bitsPerTable: Int): Seq[(Int, Long)] =
    Similarity.hyperplanes(tables * bitsPerTable, query.size)
      .grouped(bitsPerTable).toSeq.zipWithIndex
      .map { case (p, t) => (t, Similarity.sigOf(query, p)) }

  /** Probe predicate over those keys. The leading bucket-only IN
    * conjunct is load-bearing: partition pruning can only evaluate
    * predicates over partition columns, and the OR-of-pairs references
    * table_id too — without the IN the probe would list/read every
    * bucket directory. */
  private def bucketPredicate(
      tableBuckets: Seq[(Int, Long)]): org.apache.spark.sql.Column = {
    val pairPred = tableBuckets.map { case (t, b) =>
      col("table_id") === t && col("bucket") === b
    }.reduce(_ || _)
    col("bucket").isin(tableBuckets.map(_._2).distinct: _*) && pairPred
  }

  /** Shared probe tail — optional self-exclusion, exact rounded-cosine
    * re-rank of the `v` column, deterministic (cos desc, id) top-k. One
    * definition so the probe layouts (inline / quantized / id-only)
    * cannot silently diverge on tie-break or rounding semantics. */
  private def rerankTopK(cands: DataFrame, query: Seq[Double], k: Int,
      excludeId: Option[Long]): DataFrame = {
    val qVec = array(query.map(lit): _*)
    excludeId.fold(cands)(q => cands.filter(col("id") =!= q))
      .withColumn("cos", round(Similarity.cosineFast(col("v"), qVec), 6))
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Top-k probe against a built hyperplane index: read ONLY the query's
    * L buckets (PartitionFilters — no corpus scan), dedup candidates,
    * exact-cosine re-rank. Same semantics as [[Similarity.annTopK]]. */
  def probeHyperplane(spark: SparkSession, path: String, query: Seq[Double],
      k: Int, tables: Int = 16, bitsPerTable: Int = 8,
      excludeId: Option[Long] = None): DataFrame =
    probeHyperplane(PartitionedParquet.read(spark, path), query, k, tables,
      bitsPerTable, excludeId)

  /** Probe form over an already-opened index frame: a served index keeps
    * the file listing in memory across queries instead of re-listing the
    * partition tree per probe. */
  def probeHyperplane(index: DataFrame, query: Seq[Double],
      k: Int, tables: Int, bitsPerTable: Int,
      excludeId: Option[Long]): DataFrame = {
    // Dimension guard: hyperplanes are derived from query.size, so a
    // wrong-dimension query would silently hash into wrong buckets and
    // return plausible-but-wrong neighbors. One indexed row's vector
    // size is the index's dimension (all rows share it by construction);
    // memoized per opened frame so served probes don't pay a job each.
    requireDim(index, "v", query.size, "index")
    val cands = index
      .filter(bucketPredicate(queryBuckets(query, tables, bitsPerTable)))
      .dropDuplicates("id")
    rerankTopK(cands, query, k, excludeId)
  }

  /** Build a QUANTIZED hyperplane index: same multi-table bucket layout,
    * but rows store int8 codes + a per-vector scale
    * ([[graft.operators.Quantize]]) instead of the double vector — an
    * ~8× smaller index (the L-way amplification applies to 1 byte per
    * component, not 8). Bucketing signatures are computed on the EXACT
    * vectors (quantization never moves a vector across a hyperplane
    * decision it wasn't already near); only the re-rank pays the
    * quantization error, which [[probeHyperplaneQuantized]]'s recall
    * spec bounds. */
  def buildHyperplaneQuantized(emb: DataFrame, idCol: String,
      vecCol: String, path: String, tables: Int = 16,
      bitsPerTable: Int = 8): Unit = {
    import graft.operators.Quantize
    val withV = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = Similarity.vecDim(withV, "v").getOrElse(throw
      new IllegalArgumentException(
        s"cannot build a hyperplane index over an empty input ($vecCol)"))
    val planes = Similarity.hyperplanes(tables * bitsPerTable, dim)
    val rows = withV
      .withColumn("sig",
        HyperplaneSigs.sigs(col("v"), planes, bitsPerTable))
      .select(col("id"),
        Quantize.codes(col("v")).as("qc"),
        Quantize.scaleOf(col("v")).as("qs"),
        posexplode(col("sig")).as(Seq("table_id", "bucket")))
    PartitionedParquet.write(
      rows.repartition(col("bucket")).sortWithinPartitions(col("table_id")),
      path, Seq("bucket"))
  }

  /** Top-k probe over a quantized index: same pruned bucket lookup,
    * re-rank on DEQUANTIZED vectors. Scores differ from the exact index
    * by the quantization error (≤ scale/2 per component), so ties can
    * reorder near-equal neighbors; recall vs the exact probe is
    * property-bounded in AnnIndexSpec. */
  def probeHyperplaneQuantized(index: DataFrame, query: Seq[Double],
      k: Int, tables: Int = 16, bitsPerTable: Int = 8,
      excludeId: Option[Long] = None): DataFrame = {
    import graft.operators.Quantize
    // Same dimension guard as [[probeHyperplane]], read from the CODES
    // column (this layout stores qc/qs, not v; one code per component, so
    // size(qc) IS the indexed dimension). Without it a wrong-dimension
    // query silently hashes into wrong buckets and the dequantized
    // re-rank returns NULL cosines — plausible-but-wrong neighbors.
    requireDim(index, "qc", query.size, "index")
    val cands = index
      .filter(bucketPredicate(queryBuckets(query, tables, bitsPerTable)))
      .dropDuplicates("id")
      .withColumn("v", Quantize.dequantize(col("qc"), col("qs")))
    rerankTopK(cands, query, k, excludeId)
  }

  /** Top-k probe against an ID-ONLY index (built with
    * `storeVectors = false`): candidate ids come from the query's L
    * pruned buckets, then their vectors are fetched from `base` with an
    * IN filter — with the base table SORTED by id, parquet min/max
    * row-group stats skip everything but the candidates' row groups, so
    * the fetch reads ~candidate-count rows, not the corpus. The
    * candidate id list is collected to the driver (bucket-sized —
    * hundreds of ids, the price of turning the fetch into a pushable
    * scan predicate instead of a corpus-wide join). That collect is
    * THRESHOLDED (`maxInListCandidates`): uniform hyperplane buckets
    * keep it small, but a hot bucket (near-duplicate-heavy corpora
    * produce exactly that) would otherwise grow the IN list and the
    * driver array without bound — beyond the cap the fetch degrades to
    * a left-semi join on id (no scan pushdown, but shuffle-bounded, and
    * AQE broadcasts the candidate side when it is small enough). Same
    * honest-threshold pattern as
    * [[graft.operators.DedupGroups.CollectThreshold]].
    *
    * Same results as [[probeHyperplane]] over a vector-inline index
    * (asserted in AnnIndexSpec); choose by embedding width — inline for
    * narrow vectors, id-only when dim×8 bytes of L-way amplification
    * dominates index cost. */
  def probeHyperplaneIds(index: DataFrame, base: DataFrame, idCol: String,
      vecCol: String, query: Seq[Double], k: Int, tables: Int = 16,
      bitsPerTable: Int = 8, excludeId: Option[Long] = None,
      maxInListCandidates: Int = 100000): DataFrame = {
    val withV = base.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    requireDim(withV, "v", query.size, "base")
    val candFrame = index
      .filter(bucketPredicate(queryBuckets(query, tables, bitsPerTable)))
      .select(col("id")).distinct()
    // Collect AT MOST threshold+1 ids — the limit bounds the driver
    // transfer even when a hot bucket holds millions; seeing threshold+1
    // is the overflow signal, never the full list.
    val candIds = candFrame.limit(maxInListCandidates + 1)
      .collect().map(_.get(0)).toSeq
    val cands =
      if (candIds.size <= maxInListCandidates)
        withV.filter(col("id").isin(candIds: _*))
      else withV.join(candFrame, Seq("id"), "left_semi")
    rerankTopK(cands, query, k, excludeId)
  }

  /** BATCHED top-k probe: answer every row of `queries` in one job — the
    * bulk-serving shape (re-embedding a corpus, nightly recommendation
    * refresh), where per-query probes would mean one driver round-trip
    * each. Each query expands to its L (table_id, bucket) keys via the
    * codegen'd signature expression; candidates come from an EQUI-join
    * with the index on (table_id, bucket) — uniform 8-bit keys, no
    * cartesian anywhere. The expansion ships only ids and bucket keys
    * (vectors rejoin after matching), and broadcast-vs-shuffle is left
    * to AQE so small batches broadcast and corpus-sized batches degrade
    * gracefully; with a hive-partitioned index, bucket is the partition
    * column, so dynamic partition pruning can skip untouched bucket
    * dirs when the batch is selective. Per-query dedup + exact-cosine
    * re-rank + windowed top-k (rank on the ROUNDED score with id
    * tiebreak — deterministic), partitioned by query — never a global
    * sort.
    *
    * Same candidate semantics as [[probeHyperplane]] per query, asserted
    * in AnnIndexSpec. */
  def probeHyperplaneBatch(index: DataFrame, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, tables: Int = 16,
      bitsPerTable: Int = 8, excludeSelf: Boolean = false): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val indexDim = vecDim(index, "v")
    val queryDim = vecDim(q, "qv")
    for (i <- indexDim; qd <- queryDim) require(i == qd,
      s"query dimension $qd != index dimension $i")
    val dim = indexDim.orElse(queryDim).getOrElse(0)
    val planes = Similarity.hyperplanes(tables * bitsPerTable, dim)
    // The bucket expansion joined against the index carries ONLY
    // (query_id, table_id, bucket) — never the query vector, which
    // would multiply the shipped bytes by L×dim and cap the batch size
    // at the broadcast limit. Vectors rejoin AFTER candidate matching,
    // on the un-expanded query frame. No forced broadcast hints: AQE
    // broadcasts whichever side is actually small at runtime, and a
    // corpus-sized batch degrades to a shuffle join instead of failing.
    val expanded = q
      .withColumn("sig",
        HyperplaneSigs.sigs(col("qv"), planes, bitsPerTable))
      .select(col("query_id"),
        posexplode(col("sig")).as(Seq("table_id", "bucket")))
    val cands = expanded
      .join(index, Seq("table_id", "bucket"))
      .dropDuplicates("query_id", "id")
      .join(q, Seq("query_id"))
    val filtered =
      if (excludeSelf) cands.filter(col("query_id") =!= col("id")) else cands
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id"))
    filtered
      .withColumn("cos", round(Similarity.cosineFast(col("v"), col("qv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id"), col("cos"), col("rank"))
  }

  // ---------------- IVF ----------------

  /** Build the IVF index: k-means fit + cell-partitioned vectors + the
    * centroids as a sibling parquet. Returns the centroids. */
  def buildIvf(emb: DataFrame, idCol: String, vecCol: String, path: String,
      nlist: Int, seed: Long = 42L): Array[Array[Double]] = {
    val model = IvfIndex.fit(emb, idCol, vecCol, nlist, seed)
    PartitionedParquet.write(
      model.assigned.select(col(idCol).as("id"), col("__v").as("v"), col("cell"))
        .repartition(col("cell")),
      path, Seq("cell"))
    val spark = emb.sparkSession
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(path))
    model.centroids
  }

  def centroidsPath(path: String): String = s"$path.centroids"

  /** Load the coarse quantizer back (tiny: nlist rows). */
  def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(centroidsPath(path))
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Top-k probe against a built IVF index: nearest `nprobe` cells by
    * euclidean centroid distance, pruned cell read, exact re-rank. Same
    * semantics as [[IvfIndex.topK]]. */
  def probeIvf(spark: SparkSession, path: String,
      centroids: Array[Array[Double]], query: Seq[Double], k: Int,
      nprobe: Int, excludeId: Option[Long] = None): DataFrame =
    probeIvf(PartitionedParquet.read(spark, path), centroids, query, k,
      nprobe, excludeId)

  /** Probe form over an already-opened index frame (see the hyperplane
    * overload: no per-probe re-listing). */
  def probeIvf(index: DataFrame, centroids: Array[Array[Double]],
      query: Seq[Double], k: Int, nprobe: Int,
      excludeId: Option[Long]): DataFrame = {
    // Centroid length IS the indexed dimension — a driver-side check, no
    // job. Without it, c.zip(query) silently truncates a wrong-dimension
    // query and ranks cells over a prefix.
    centroids.headOption.foreach(c => require(c.length == query.size,
      s"query dimension ${query.size} != index dimension ${c.length}"))
    val probeCells = centroids.zipWithIndex.map { case (c, i) =>
      (i, c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy(_._2).take(nprobe).map(_._1).toSeq
    rerankTopK(index.filter(col("cell").isin(probeCells: _*)),
      query, k, excludeId)
  }
}
