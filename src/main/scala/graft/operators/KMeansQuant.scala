package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means over embedding columns, computed on an
  * exact integer micro-grid so the whole fit — init, every assignment,
  * every centroid update — is bit-reproducible across engines, partition
  * counts, and physical plans, and therefore DuckDB-oracle-checkable
  * (unlike [[graft.ml.IvfIndex]]'s MLlib coarse quantizer, whose random
  * init makes it rows-only by the §2 contract). Corpus clustering is the
  * backbone of semantic dedup, topic balancing, and IVF cell routing in a
  * training-data pipeline; an oracle-checkable variant means the engine
  * can PROVE the clustering, not just produce one.
  *
  * Determinism rules (the money-sum discipline, applied to geometry):
  *
  *  - Coordinates quantize once to a 1e-6 integer grid
  *    (`round(x*1e6)::long`) — every distance is then an EXACT integer
  *    sum of squared diffs: no float summation order to drift.
  *  - Init is the k vectors with the smallest ids (no RNG).
  *  - Ties in assignment break to the lowest cluster id.
  *  - Centroid update divides exact integer sums (`sum(q)/n` as the one
  *    double op) and re-quantizes HALF_UP back onto the grid — the same
  *    arithmetic in Spark, on the driver, and in the DuckDB mirror.
  *  - Empty clusters keep their previous centroid.
  *
  * Scale shape: assignment is ROW-LOCAL against driver-broadcast literal
  * centroids (scan-stage, no shuffle — k·dim longs travel in the plan);
  * each update is one partial-aggregated `groupBy(cluster, dim)` whose
  * result is k·dim rows — the canonical distributed-k-means layout where
  * only centroid-sized state ever reaches the driver. `iters` passes over
  * the data re-scan the source; callers clustering a hot corpus can
  * persist the quantized projection, but at 100 TB the re-scan is the
  * safe default (a blanket cache is the failure mode, not the fix).
  *
  * Driver-side exactness bound: integer sums stay exact in the double
  * division while `Σ|q| < 2^53` per (cluster, dim) — at micro-grid
  * coordinates ≤ ~1e7 that allows ~1e8 members per cluster; beyond that
  * shard the update (sum-of-sums stays exact in Long far past there).
  */
object KMeansQuant {

  /** Fitted model: `centroids(cluster)(dim)` on the micro-grid. */
  final case class Model(centroids: Array[Array[Long]]) {
    def k: Int = centroids.length
    def dim: Int = if (centroids.isEmpty) 0 else centroids(0).length
  }

  /** `array<float/double>` → exact micro-grid `array<long>`. */
  def quantize(vec: Column): Column =
    transform(vec.cast("array<double>"),
      x => round(x * lit(1e6)).cast("long"))

  /** (cluster, dist2) of the nearest centroid — row-local; ties break to
    * the lowest cluster id. One codegen'd argmin loop with the centroid
    * matrix as a plan reference object
    * ([[graft.functions.NearestCellExpr]]) — bit-identical semantics to
    * the k × `aggregate(zip_with(...))` HOF composition it replaced,
    * without the k·dim literal nodes in the plan or the interpreted
    * lambda dispatch per element (the measured constant overhead of the
    * semdedup query family). */
  private def nearest(vq: Column, m: Model): (Column, Column) = {
    val st = graft.functions.KMeansAssignExprs.nearestCell(vq, m.centroids)
    (st.getField("c"), st.getField("d"))
  }

  /** HALF_UP (away-from-zero) long rounding — the same convention as
    * Spark's `round` and DuckDB's `round`, unlike `math.round` (which
    * rounds half toward +∞ and would disagree on negatives). */
  private def roundHalfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Lloyd's: deterministic min-id init, then `iters` × (assign →
    * update). Each update is one k·dim-group aggregation; only
    * centroid-sized state reaches the driver. */
  def fit(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Model = {
    require(k > 0 && iters >= 0, s"need k>0, iters>=0; got k=$k iters=$iters")
    val tFit0 = System.nanoTime()
    val vq = quantize(col(vecCol))
    val init = emb.select(col(idCol), vq.as("vq"))
      .orderBy(col(idCol)).limit(k)
      .collect()
      .map(_.getSeq[Long](1).toArray)
    require(init.length == k, s"corpus has ${init.length} rows < k=$k")
    var model = Model(init)
    for (_ <- 1 to iters) {
      val (cluster, _) = nearest(vq, model)
      val sums = emb
        .select(cluster.as("cluster"), posexplode(vq).as(Seq("i", "dq")))
        .groupBy(col("cluster"), col("i"))
        .agg(sum(col("dq")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = model.centroids.map(_.clone()) // empty cluster → keep old
      sums.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) =
          roundHalfUp(r.getLong(2).toDouble / r.getLong(3).toDouble)
      }
      model = Model(next)
    }
    // Fit cost is logged unconditionally: a fit that runs INSIDE a timed
    // region must be attributable from the round log (the r13 bench
    // record's 19x q_cluster_cap artifact was exactly an unlogged fit
    // landing in a shuffled-order victim's timed run).
    System.err.println(
      f"[kmeans] fit k=$k iters=$iters took ${(System.nanoTime() - tFit0) / 1e9}%.2f s")
    model
  }

  /** Final assignment: (id, cluster, dist2) — scan-stage row-local math
    * against the model's literal centroids; no shuffle, no join. */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
      m: Model): DataFrame = {
    val (cluster, d2) = nearest(quantize(col(vecCol)), m)
    emb.select(col(idCol), cluster.as("cluster"), d2.as("dist2"))
  }

  /** Nearest-cell id of a raw embedding column as a plain Column — the
    * row-local assignment exposed for composition (semantic dedup, topic
    * tagging) without forcing [[assign]]'s projection. */
  def cellOf(vec: Column, m: Model): Column =
    nearest(quantize(vec), m)._1

  /** The `nprobe` nearest cell ids as an array Column (soft / multi-probe
    * assignment — exact integer distances, ties to the lower cell id:
    * the same ordering as [[cellOf]], which equals `cellsOf(...)(0)`).
    * Row-local like [[cellOf]]; the boundary-recall knob for semantic
    * dedup ([[SemDedup.pairsMultiProbe]]) and the row-side twin of the
    * query-side [[ivfTopK]] cell ranking. */
  def cellsOf(vec: Column, m: Model, nprobe: Int): Column = {
    require(nprobe >= 1 && nprobe <= m.k,
      s"nprobe must be in [1, k=${m.k}], got $nprobe")
    // one codegen'd distance pass + (d, c)-ordered selection — same
    // (distance, lowest-cell) tie-break as the hard assign, which it
    // equals at position 0
    graft.functions.KMeansAssignExprs.nearestCells(
      quantize(vec), m.centroids, nprobe)
  }

  /** IVF ANN serving through the deterministic model: rank cells by
    * exact integer distance of the query's quantized vector to each
    * centroid (driver-side — k cells), then exact-cosine top-k among the
    * vectors of the `nprobe` nearest cells only. The cell filter is
    * row-local (no join — the same literal-centroid assignment as
    * [[assign]]), so the probe reads the corpus once and ranks
    * ~nprobe/k of it; a served layout would partition storage BY cell
    * and skip the rest entirely (`graft.ml.IvfIndex`'s layout, with a
    * provable quantizer). Fully deterministic ⇒ oracle-checkable,
    * unlike the MLlib-fit IVF family. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, m: Model,
      queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val qQuant = emb.filter(col(idCol) === queryId)
      .select(quantize(col(vecCol))).head().getSeq[Long](0).toArray
    val cells = rankCells(m, qQuant, nprobe)
    val (cluster, _) = nearest(quantize(col(vecCol)), m)
    // the query norm rides the 1-row broadcast; each probed row pays
    // one dot + its own norm (Similarity.cosinePre — bit-identical)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("__qv"),
        Similarity.normFast(col(vecCol).cast("array<double>")).as("__qn"))
    emb.filter(col(idCol) =!= queryId)
      .filter(cluster.isin(cells: _*))
      .crossJoin(broadcast(q))
      .select(col(idCol), round(Similarity.cosinePre(
        col(vecCol).cast("array<double>"), col("__qv"),
        Similarity.normFast(col(vecCol).cast("array<double>")),
        col("__qn")), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Driver-side twin of [[quantize]] (same IEEE ×1e6 multiply, same
    * HALF_UP) — for quantizing a probe vector without a Spark job. */
  def quantizeVec(v: Seq[Double]): Array[Long] =
    v.map(x => roundHalfUp(x * 1e6)).toArray

  /** The `nprobe` cells nearest a quantized query (exact integer
    * distance, ties → lower cell id) — the ONE ranking shared by the
    * in-plan probe and the served-layout probe, which must agree
    * bit-exactly. */
  private def rankCells(m: Model, qQuant: Array[Long],
      nprobe: Int): Seq[Long] =
    m.centroids.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.zip(qQuant).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (i, d2) => (d2, i) }.take(nprobe).map(_._1).toSeq

  /** One-time SERVED layout: the corpus partitioned BY cell
    * (`cell=<id>/` directories), so a probe reads only its `nprobe`
    * cell partitions — PartitionFilters prune the rest before any file
    * opens. The IVF build/probe split of [[graft.ml.IvfIndex]], with the
    * provable quantizer; same one-file-per-partition co-location as the
    * BM25 postings index. */
  def buildIndex(emb: DataFrame, idCol: String, vecCol: String, m: Model,
      path: String): Unit = {
    val (cluster, _) = nearest(quantize(col(vecCol)), m)
    graft.sources.PartitionedParquet.write(
      emb.select(col(idCol), col(vecCol), cluster.as("cell"))
        .repartition(m.k, col("cell")),
      path, Seq("cell"))
  }

  /** Incremental maintenance of the served layout: assign NEW vectors
    * under the FROZEN quantizer and append them into their cell
    * partitions — the standard IVF ingestion contract (the coarse
    * quantizer is fit once; re-fitting would move cell boundaries and
    * orphan every already-written row). Touched cells gain a file;
    * periodic [[graft.sources.Compaction]] folds them back, same
    * LSM-ish split as [[Bm25.appendPostings]]. Caller contract: ids are
    * new (dedup is upstream's job). A probe over the appended layout is
    * bit-identical to a from-scratch [[buildIndex]] over the union
    * (specced) — assignment depends only on (vector, centroids). */
  def appendIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      m: Model, path: String): Unit = {
    val (cluster, _) = nearest(quantize(col(vecCol)), m)
    newVecs.select(col(idCol), col(vecCol), cluster.as("cell"))
      .repartition(m.k, col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(path)
  }

  /** Incremental DELETION from the served layout: remove a set of ids
    * without rebuilding — the missing lifecycle half [[appendIndex]]
    * left open (takedown requests, retention windows, dedup survivors
    * superseding their group). Brings the cell layout to lifecycle
    * parity with the BM25 postings index ([[Bm25.deletePostings]]):
    *
    *  - only the TOUCHED cell partitions (cells actually holding a
    *    deleted id — found by one semi-join over the index, never the
    *    corpus) rewrite via anti-join and REPLACE; untouched cells keep
    *    their files byte-identical. The rewrite doubles as compaction
    *    of cells fragmented by repeated [[appendIndex]] deltas.
    *  - a cell whose every vector is deleted ends up absent (the
    *    replaceDir missing-staged contract).
    *
    * Same `.staged-<uuid>` stage + metadata-only commit discipline as
    * the postings verbs ([[graft.util.StagedCommit]]); unknown ids are
    * no-ops; the result is bit-indistinguishable from a from-scratch
    * [[buildIndex]] over the surviving corpus (specced, and the
    * declared queries share the rebuilt-from-scratch mirrors). */
  def deleteFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    val stage = s"$path/.staged-" + java.util.UUID.randomUUID()
    val keys = ids.select(col(idCol)).distinct()
      .localCheckpoint() // touched-cell probe + anti-join rewrite
    val live = graft.sources.PartitionedParquet.read(spark, path)
    // partition-dir inference types `cell` as int on read — normalize
    val touched = live.join(keys, Seq(idCol), "left_semi")
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)) // ≤ m.k rows by construction
    if (touched.isEmpty) return
    val dataCols = live.columns.filter(_ != "cell").map(col)
    live.filter(col("cell").isin(touched.toSeq: _*))
      .join(keys, Seq(idCol), "left_anti")
      .select(dataCols :+ col("cell").cast("long").as("cell"): _*)
      .repartition(touched.length, col("cell"))
      .write.partitionBy("cell").parquet(stage)
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
    touched.foreach { c =>
      graft.util.StagedCommit.replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$stage/cell=$c"),
        new org.apache.hadoop.fs.Path(s"$path/cell=$c"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** Incremental REPLACEMENT (upsert) into the served layout: fold a
    * batch of re-embedded vectors into an existing index in ONE staged-
    * then-committed operation — the model-refresh/re-crawl verb. Ids
    * already indexed lose their old row (wherever its cell is) and gain
    * the new vector's assignment under the FROZEN quantizer; ids not
    * yet indexed simply insert. One operation, not delete+append: both
    * halves stage off the same live read and commit once, so no window
    * exists where a replaced id is absent from serving.
    *
    * Touched cells = old rows' cells ∪ new assignments' cells; only
    * those partitions rewrite ((live ∖ batch-ids) ∪ new rows) and
    * REPLACE — untouched cells stay byte-identical. Batch ids must be
    * unique (one vector per id), guarded loudly on the delta-sized
    * frame. Result is bit-indistinguishable from [[buildIndex]] over
    * the mutated corpus (specced; the declared probe query shares the
    * never-mutated mirror). NOTE the frozen-centroid caveat: a batch
    * re-embedded under a DIFFERENT embedding model shifts the vector
    * distribution — watch the staleness monitor and refit when it
    * trips. */
  def replaceIndex(batch: DataFrame, idCol: String, vecCol: String,
      m: Model, path: String): Unit = {
    val spark = batch.sparkSession
    val stage = s"$path/.staged-" + java.util.UUID.randomUUID()
    val keys = batch.select(col(idCol)).distinct()
      .localCheckpoint() // touched probe + anti-join leg
    val nBatch = batch.count()
    val nKeys = keys.count()
    require(nKeys == nBatch,
      s"replaceIndex: batch ids must be unique — $nBatch rows but " +
        s"$nKeys distinct $idCol (which vector would win is undefined)")
    val (cluster, _) = nearest(quantize(col(vecCol)), m)
    val newRows = batch
      .select(col(idCol), col(vecCol), cluster.cast("long").as("cell"))
      .localCheckpoint() // touched-cell union + rewrite union
    val live = graft.sources.PartitionedParquet.read(spark, path)
    val touched = live.join(keys, Seq(idCol), "left_semi")
      .select(col("cell").cast("long"))
      .union(newRows.select(col("cell")))
      .distinct().collect().map(_.getLong(0)) // ≤ m.k rows
    live.filter(col("cell").isin(touched.toSeq: _*))
      .join(keys, Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol), col("cell").cast("long").as("cell"))
      .unionAll(newRows)
      .repartition(touched.length, col("cell"))
      .write.partitionBy("cell").parquet(stage)
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
    touched.foreach { c =>
      graft.util.StagedCommit.replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$stage/cell=$c"),
        new org.apache.hadoop.fs.Path(s"$path/cell=$c"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** STALENESS MONITOR for the frozen-quantizer append stream:
    * [[appendIndex]]/[[replaceIndex]] admit vectors under centroids fit
    * once at build time, and a drifting source (new domain, re-embedded
    * model version) silently erodes probe recall — appended vectors
    * land ever farther from every centroid, so a fixed nprobe covers an
    * ever-smaller share of their true neighborhoods. This readout makes
    * the refit decision MEASURED: per build cell, the mean squared
    * integer distance (the exact [[assign]] grid — no float drift) of
    * the batch's members vs the reference (build-time) members, as
    * `drift_ratio` (6dp-rounded BEFORE the trip comparison, the
    * gopherRules discipline) and a `stale` 0/1 flag at `tripRatio`.
    * An in-distribution batch sits near 1.0; a shifted batch blows the
    * ratio up (specced) — trip ⇒ refit + [[buildIndex]].
    *
    * Both sides are one assignment projection + a k-row aggregate: at
    * 100 TB the reference stats are computed once per build (k rows,
    * cacheable) and each batch pays one scan of ITSELF, never of the
    * corpus. Cells the batch never touches report n_new = 0, ratio 0. */
  def stalenessByCell(reference: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, m: Model,
      tripRatio: Double = 1.5): DataFrame = {
    require(tripRatio > 0, s"need tripRatio > 0, got $tripRatio")
    def cellStats(df: DataFrame, n: String, d2: String) =
      assign(df, idCol, vecCol, m)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as(n), sum(col("dist2")).as(d2))
    val ref = cellStats(reference, "n_ref", "d2_ref")
    val nw = cellStats(batch, "n_new", "d2_new")
    val ratio = when(col("n_new").isNotNull && col("d2_ref") > 0,
      round((col("d2_new").cast("double") / col("n_new").cast("double")) /
        (col("d2_ref").cast("double") / col("n_ref").cast("double")), 6))
      .otherwise(lit(0.0))
    ref.join(nw, Seq("cluster"), "left")
      .select(col("cluster").cast("long").as("cluster"),
        col("n_ref"), coalesce(col("n_new"), lit(0L)).as("n_new"),
        ratio.as("drift_ratio"))
      .withColumn("stale",
        when(col("drift_ratio") > tripRatio, 1L).otherwise(0L))
  }

  /** CLOSE the staleness loop — [[stalenessByCell]]'s "trip ⇒ refit"
    * arrow as a verb. Refit the quantizer from the drifted region and
    * bring the served layout to BIT-EQUIVALENCE with a from-scratch
    * [[buildIndex]] under the new model, rewriting only the partitions
    * whose membership actually changes:
    *
    *  1. REFIT: each tripped cell's centroid is replaced by the exact
    *    grid mean of that cell's CURRENT members (build-time rows plus
    *    every frozen-quantizer append — read from the cell partitions
    *    only, PartitionFilters pruned). A k=1 Lloyd round per tripped
    *    cell, k unchanged, untouched centroids byte-identical — the
    *    centroid follows the drift it admitted. Same empty-cell rule as
    *    [[fit]]: a memberless tripped cell keeps its centroid.
    *  2. RELAYOUT: one column-pruned scan assigns every live row under
    *    the new model; cells that gain or lose any row are rewritten
    *    (staged + [[graft.util.StagedCommit.replaceDir]], the
    *    delete/replace discipline), every other partition keeps its
    *    files byte-identical. The result is bit-indistinguishable from
    *    buildIndex(live rows, newModel) — the census query shares the
    *    from-scratch mirror, so the equivalence is oracle-checked.
    *
    * Cost: tripped-cells-sized aggregate + one assignment scan + the
    * changed partitions' rewrite — far below a full rebuild's global
    * shuffle-and-write, and rare by construction (the monitor gates
    * it). Returns the refit model; callers must probe with it from
    * then on (centroids and layout move together). */
  def refitIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Model, staleCells: Seq[Long], idCol: String,
      vecCol: String): Model = {
    require(staleCells.nonEmpty, "refitIndex needs at least one stale cell")
    require(staleCells.forall(c => c >= 0 && c < m.k),
      s"stale cells ${staleCells.mkString(",")} outside [0, ${m.k})")
    val stale = staleCells.distinct.sorted
    val live = graft.sources.PartitionedParquet.read(spark, path)
    val means = live.filter(col("cell").isin(stale: _*))
      .select(col("cell").cast("long").as("cell"),
        posexplode(quantize(col(vecCol))).as(Seq("i", "q")))
      .groupBy(col("cell"), col("i"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .collect() // ≤ |stale|·dim rows by construction
    val next = m.centroids.map(_.clone())
    means.foreach { r =>
      next(r.getLong(0).toInt)(r.getInt(1)) =
        roundHalfUp(r.getLong(2).toDouble / r.getLong(3).toDouble)
    }
    val m2 = Model(next)
    val (cluster2, _) = nearest(quantize(col(vecCol)), m2)
    // changed-membership probe: one scan, cell-pair-sized result
    val moved = live
      .select(col("cell").cast("long").as("cell"),
        cluster2.cast("long").as("new_cell"))
      .filter(col("new_cell") =!= col("cell"))
    val touched = moved.select(col("cell"))
      .union(moved.select(col("new_cell")))
      .distinct().collect().map(_.getLong(0)).sorted // ≤ 2k rows
    if (touched.isEmpty) return m2
    // every row whose NEW cell is touched has a touched OLD cell too
    // (moved rows touch both ends), so reading the touched partitions
    // covers the full rewrite set
    val stage = s"$path/.staged-" + java.util.UUID.randomUUID()
    live.filter(col("cell").isin(touched.toSeq: _*))
      .select(col(idCol), col(vecCol), cluster2.cast("long").as("cell"))
      .repartition(touched.length, col("cell"))
      .write.partitionBy("cell").parquet(stage)
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
    touched.foreach { c =>
      graft.util.StagedCommit.replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$stage/cell=$c"),
        new org.apache.hadoop.fs.Path(s"$path/cell=$c"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    m2
  }

  /** Top-k by cosine from the served layout: rank cells by exact integer
    * distance (driver-side, k cells), read ONLY those cell partitions,
    * exact-rank by cosine vs the literal query vector. Bit-identical to
    * [[ivfTopK]] over the same model (specced). `excludeId` drops the
    * query's own row when probing with an indexed vector. */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Model, queryVec: Seq[Double], k: Int, nprobe: Int,
      idCol: String, vecCol: String,
      excludeId: Option[Long] = None): DataFrame = {
    val qQuant = quantizeVec(queryVec)
    require(m.dim == qQuant.length,
      s"query dimension ${qQuant.length} != model dimension ${m.dim}")
    val cells = rankCells(m, qQuant, nprobe)
    val qLit = array(queryVec.map(lit): _*)
    // query norm computed DRIVER-SIDE with vec_dot's exact fold
    // (left-to-right acc += x*x, then sqrt — bit-identical), so each
    // probed row pays one dot + its own norm (Similarity.cosinePre)
    val qn = math.sqrt(queryVec.foldLeft(0.0)((acc, x) => acc + x * x))
    val base = graft.sources.PartitionedParquet.read(spark, path)
      .filter(col("cell").isin(cells: _*))
    excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
      .select(col(idCol), round(Similarity.cosinePre(
        col(vecCol).cast("array<double>"), qLit,
        Similarity.normFast(col(vecCol).cast("array<double>")),
        lit(qn)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Hard-negative mining over the SERVED cell layout — the 100 TB path
    * of [[Similarity.hardNegatives]]: instead of scanning the full
    * corpus per anchor batch, each anchor probes its `nprobe` nearest
    * cells (exact integer centroid distance, driver-side) and only
    * those cell PARTITIONS are read (PartitionFilters prune the rest),
    * then the band filter + per-anchor bounded top-k run over the
    * pruned candidates. Same trade as every IVF probe here: candidates
    * outside the probed cells are unseen (recall < 1 near cell
    * boundaries — raise nprobe), in exchange for I/O proportional to
    * the probe, not the corpus. Deterministic end to end, so the
    * DuckDB mirror reproduces the probed-cell computation exactly.
    * Anchor vectors come from the caller (the application knows its
    * anchors; fishing them out of the layout would scan every cell).
    * Output: (anchor_id, idCol, cos, rank 1..k). */
  def hardNegativesFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, m: Model, anchors: Seq[(Long, Seq[Double])],
      k: Int, lo: Double, hi: Double, nprobe: Int,
      idCol: String, vecCol: String, maxAnchors: Int = 1000): DataFrame = {
    require(anchors.nonEmpty, "hardNegativesFromIndex needs anchors")
    require(anchors.size <= maxAnchors,
      s"hardNegativesFromIndex: ${anchors.size} anchors > bound " +
        s"$maxAnchors — probe in batches (or raise maxAnchors knowingly)")
    require(anchors.map(_._1).distinct.size == anchors.size,
      "hardNegativesFromIndex: duplicate anchor ids")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    require(k > 0 && nprobe > 0, s"need k > 0 and nprobe > 0")
    import spark.implicits._
    val probePairs = anchors.flatMap { case (aid, v) =>
      require(v.length == m.dim,
        s"anchor $aid dimension ${v.length} != model dimension ${m.dim}")
      rankCells(m, quantizeVec(v), nprobe).map(c => (aid, c))
    }
    val touched = probePairs.map(_._2).distinct
    val cand = graft.sources.PartitionedParquet.read(spark, path)
      .filter(col("cell").isin(touched: _*))
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"),
        col("cell").cast("long").as("__cell"))
    val probe = broadcast(probePairs.toDF("anchor_id", "__cell"))
    // anchor norms ride the broadcast; the candidate norm is hoisted
    // before the per-anchor fan-out (Similarity.cosinePre, bit-identical)
    val anchorVecs = broadcast(anchors.toDF("anchor_id", "__qa")
      .withColumn("__qan", Similarity.normFast(col("__qa"))))
    val scored = cand
      .withColumn("__vn", Similarity.normFast(col("__v")))
      .join(probe, Seq("__cell"))
      .filter(col(idCol) =!= col("anchor_id"))
      .join(anchorVecs, Seq("anchor_id"))
      .withColumn("cos",
        round(Similarity.cosinePre(col("__v"), col("__qa"),
          col("__vn"), col("__qan")), 6))
      .filter(col("cos") >= lo && col("cos") < hi)
    // the shared banded-top-k tail (Similarity.bandTopK): grid,
    // tie-break, and cut are ONE definition across both serving paths
    Similarity.bandTopK(scored, idCol, k)
  }

  /** The model as a (cluster, dim, q) frame — dim is 1-BASED to match
    * SQL's generate_subscripts convention in the oracle mirror. */
  def centroidsDF(spark: org.apache.spark.sql.SparkSession,
      m: Model): DataFrame = {
    import spark.implicits._
    m.centroids.zipWithIndex.flatMap { case (c, ci) =>
      c.zipWithIndex.map { case (q, di) =>
        (ci.toLong, (di + 1).toLong, q)
      }
    }.toSeq.toDF("cluster", "dim", "q")
  }
}
