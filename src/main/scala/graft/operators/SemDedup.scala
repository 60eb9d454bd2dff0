package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Semantic deduplication: cluster the embedding space with the
  * deterministic coarse quantizer ([[KMeansQuant]]), then prune
  * near-duplicates WITHIN each cell only — the SemDeDup recipe (Abbas et
  * al., 2023, arXiv:2303.09540): semantically redundant documents land in
  * the same cluster, so the O(n²) all-pairs cosine collapses to Σ|cell|².
  * The trade is RECALL, accepted explicitly as in the paper: a near-dup
  * pair straddling a cell boundary is never compared and both sides
  * survive — within-cell search is exact (specced against brute force
  * restricted to co-clustered ids), not a complete pair enumeration. Do
  * not use [[pairs]] as all-pairs ground truth; that is
  * [[Similarity.nearDupPairs]]'s job at verification scale.
  *
  * Scale shape: assignment is row-local against broadcast literal
  * centroids (no shuffle — [[KMeansQuant.cellOf]]); the pair search is an
  * EQUI-join on the cell id, so Spark shuffles each side once by cell and
  * never plans a cartesian product (plan-pinned). At 100 TB the operating
  * discipline is k ∝ n/targetCellSize: cells stay bounded (SemDeDup used
  * 11k cells for 3.7B embeddings), AQE's skew-join split handles hot
  * cells, and the per-cell quadratic term is the budget you chose, not an
  * accident — [[pairs]] guards loudly when a cell exceeds `maxCellRows`,
  * the same honest-threshold pattern as [[Similarity.nearDupPairs]].
  *
  * Dedup rule ([[keep]]): a vector is dropped iff some LOWER-ID vector in
  * the same cell is within the threshold — the deterministic "anchor
  * wins" single pass (order-free, engine-stable: survival depends only on
  * the pair set, never on visit order). Transitive duplicate-GROUP
  * resolution, when wanted, is [[DedupGroups.resolve]] fed with [[pairs]]
  * as the edge list.
  *
  * Everything here is closed-form — the quantizer is bit-reproducible and
  * the cosines are single-rounded doubles — so both the pair set and the
  * survivor set are DuckDB-oracle-checked (`q_semdedup_pairs`,
  * `q_semdedup_keep`), not just property-tested.
  */
object SemDedup {

  private def toDouble(c: Column): Column = c.cast("array<double>")

  /** Guard-probe memo (the ExactStats.guardExactPercentile discipline):
    * the count-by-cell probe over a deterministic per-session input can
    * only return the same counts within a session, so callers that name
    * their (dataset, model, probe) identity via `guardMemoKey` pay the
    * probe job once instead of per query invocation. A TRIPPED guard
    * throws and is never memoized. */
  private val guardCache = new graft.util.SessionCache[java.lang.Boolean]

  private def guardCells(e: DataFrame, maxCellRows: Long,
      memoKey: Option[String])(msg: org.apache.spark.sql.Row => String)
      : Unit = {
    def probe(): java.lang.Boolean = {
      val hot = e.groupBy(col("cluster")).count()
        .filter(col("count") > maxCellRows).limit(1).collect()
      require(hot.isEmpty, msg(hot.head))
      java.lang.Boolean.TRUE
    }
    memoKey match {
      case Some(k) => guardCache.getOrElseUpdate(e.sparkSession,
        s"$k|max=$maxCellRows")(probe())
      case None => probe()
    }
    ()
  }

  /** Within-cell near-duplicate pairs: (cluster, id_a, id_b, cos) with
    * `id_a < id_b` and `cos >= threshold` (cosine rounded to 6 before the
    * compare — identical in the mirror).
    *
    * `maxCellRows` is the loud guard on the per-cell quadratic term: one
    * cheap count-by-cell probe, then `require`. Raise it explicitly to
    * opt into bigger cells; at production scale prefer a bigger k. */
  def pairs(emb: DataFrame, idCol: String, vecCol: String,
      m: KMeansQuant.Model, threshold: Double,
      maxCellRows: Long = 100000L,
      guardMemoKey: Option[String] = None): DataFrame = {
    val cell = KMeansQuant.cellOf(col(vecCol), m)
    // per-side norms hoisted ([[Similarity.cosinePre]], bit-identical):
    // a within-cell candidate pair pays ONE dot product, not three
    val e = emb.select(cell.as("cluster"), col(idCol),
      toDouble(col(vecCol)).as("__v"))
      .withColumn("__n", Similarity.normFast(col("__v")))
    guardCells(e, maxCellRows, guardMemoKey) { r =>
      s"semantic-dedup cell ${r.getLong(0)} holds ${r.getLong(1)} rows > " +
        s"maxCellRows=$maxCellRows (~${r.getLong(1) * r.getLong(1) / 2} " +
        "candidate pairs). Refit with a larger k so cells stay bounded, " +
        "or pass maxCellRows explicitly to override."
    }
    val a = Similarity.spread(e).select(col("cluster"),
      col(idCol).as("id_a"), col("__v").as("__va"), col("__n").as("__na"))
    val b = e.select(col("cluster"), col(idCol).as("id_b"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(Similarity.cosinePre(col("__va"), col("__vb"),
          col("__na"), col("__nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"), col("cos"))
  }

  /** The boundary-recall knob: near-dup pairs over MULTI-PROBE
    * assignment — every vector joins its `nprobe` nearest cells
    * ([[KMeansQuant.cellsOf]]), so a pair straddling one cell boundary
    * still meets in the runner-up cell. On the fixture this lifts pair
    * recall vs brute force from ~46% (nprobe=1) to ~94% (nprobe=2) for
    * ~3.3× the candidate volume — the soft-assignment trade, chosen
    * per-corpus. Output is the DISTINCT (id_a, id_b, cos) set (a pair
    * sharing two probed cells would otherwise appear twice); the
    * distinct shuffles only the duplicate-bounded pair set, never the
    * corpus. Same equi-join shape and `maxCellRows` guard as [[pairs]]
    * (cell membership is nprobe× larger — budget accordingly). */
  def pairsMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
      m: KMeansQuant.Model, threshold: Double, nprobe: Int = 2,
      maxCellRows: Long = 100000L,
      guardMemoKey: Option[String] = None): DataFrame = {
    // norms hoisted BEFORE the probe explode: each vector's norm is
    // computed once, not nprobe× — and each candidate pair pays one dot
    // (cellsOf over the cast __v quantizes identically: the cast is
    // idempotent inside quantize)
    val e = emb.select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .withColumn("__n", Similarity.normFast(col("__v")))
      .select(explode(KMeansQuant.cellsOf(col("__v"), m, nprobe))
        .as("cluster"), col(idCol), col("__v"), col("__n"))
    guardCells(e, maxCellRows,
      guardMemoKey.map(k => s"$k|np=$nprobe")) { r =>
      s"multi-probe semantic dedup: cell ${r.getLong(0)} holds " +
        s"${r.getLong(1)} member rows (nprobe=$nprobe) > " +
        s"maxCellRows=$maxCellRows. Refit with a larger k, lower " +
        "nprobe, or pass maxCellRows to override."
    }
    val a = Similarity.spread(e).select(col("cluster"),
      col(idCol).as("id_a"), col("__v").as("__va"), col("__n").as("__na"))
    val b = e.select(col("cluster"), col(idCol).as("id_b"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(Similarity.cosinePre(col("__va"), col("__vb"),
          col("__na"), col("__nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .distinct()
  }

  /** Survivors of anchor-wins pruning: every vector with NO lower-id
    * within-cell neighbor at `cos >= threshold`, as (id, cluster). The
    * dropped-id set is duplicate-bounded (≪ corpus), so the anti-join
    * broadcasts it and the corpus itself never shuffles for the prune —
    * only the pair search shuffles, by cell.
    *
    * Survivors are pairwise non-duplicate within every cell: if x < y
    * both survive, (x, y) cannot be a pair or y's anchor check would
    * have dropped it (specced). */
  def keep(emb: DataFrame, idCol: String, vecCol: String,
      m: KMeansQuant.Model, threshold: Double,
      maxCellRows: Long = 100000L,
      guardMemoKey: Option[String] = None): DataFrame = {
    val dropped = pairs(emb, idCol, vecCol, m, threshold, maxCellRows,
        guardMemoKey)
      .select(col("id_b")).distinct()
    val cell = KMeansQuant.cellOf(col(vecCol), m)
    emb.select(col(idCol), cell.as("cluster"))
      .join(broadcast(dropped), col(idCol) === col("id_b"), "left_anti")
  }

  /** Anchor-wins survivors under MULTI-PROBE pairs — the practical
    * high-recall dedup: same rule as [[keep]], driven by
    * [[pairsMultiProbe]]'s pair set (so boundary-straddling duplicates
    * actually drop). Output (id, cluster) carries the HARD cell, the
    * vector's storage/routing home. */
  def keepMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
      m: KMeansQuant.Model, threshold: Double, nprobe: Int = 2,
      maxCellRows: Long = 100000L,
      guardMemoKey: Option[String] = None): DataFrame = {
    val dropped = pairsMultiProbe(emb, idCol, vecCol, m, threshold,
        nprobe, maxCellRows, guardMemoKey)
      .select(col("id_b")).distinct()
    emb.select(col(idCol), KMeansQuant.cellOf(col(vecCol), m).as("cluster"))
      .join(broadcast(dropped), col(idCol) === col("id_b"), "left_anti")
  }

  /** Semantic decontamination: drop from `corpus` every vector whose
    * cosine against ANY `evalSet` vector reaches `threshold` — the
    * embedding-space sibling of [[Dedup.decontaminate]]'s exact
    * fingerprint match (which misses paraphrased benchmark leakage; this
    * is the pass that catches it). Returns corpus survivors as (id).
    *
    * Matching is cell-bucketed like [[pairsMultiProbe]]: both sides take
    * their `nprobe` nearest cells under the frozen quantizer and a
    * candidate pair is any corpus/eval pair sharing a probed cell — the
    * same soft-assignment recall trade as multi-probe dedup, chosen
    * per-corpus, never an all-pairs scan.
    *
    * Scale shape: a benchmark suite is tiny relative to a training
    * corpus, so the exploded eval side BROADCASTS and the corpus scans
    * once with a map-side join — no corpus shuffle at all; the
    * contaminated-id set (bounded by the corpus rows near any benchmark
    * item) broadcasts into the left-anti prune, the [[keep]] discipline.
    * `maxEvalRows` is the loud guard on the broadcast side. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      vecCol: String, m: KMeansQuant.Model, threshold: Double,
      nprobe: Int = 2, maxEvalRows: Long = 1000000L): DataFrame = {
    // limit probe, not a full count: the guard's job is only to refuse
    // an over-budget broadcast side, and a count would scan whatever
    // frame the eval derives from once per invocation (the eager-probe
    // class the hardNegatives review closed)
    val probeCap = math.min(maxEvalRows, Int.MaxValue - 1L).toInt
    val overBudget = evalSet.limit(probeCap + 1).count() > probeCap
    require(!overBudget,
      s"semantic decontamination broadcasts the eval side: more than " +
        s"maxEvalRows=$maxEvalRows rows. A benchmark set this large " +
        "should be the corpus side; swap the arguments or raise " +
        "maxEvalRows.")
    val cells = KMeansQuant.cellsOf(col(vecCol), m, nprobe)
    // both sides carry their hoisted norm through the probe explode
    // ([[Similarity.cosinePre]], bit-identical): a candidate pair pays
    // one dot product, not three
    val c = corpus.select(explode(cells).as("cluster"), col(idCol),
      toDouble(col(vecCol)).as("__vc"),
      Similarity.normFast(toDouble(col(vecCol))).as("__nc"))
    val e = evalSet.select(explode(cells).as("cluster"),
      toDouble(col(vecCol)).as("__ve"),
      Similarity.normFast(toDouble(col(vecCol))).as("__ne"))
    val contaminated = c.join(broadcast(e), Seq("cluster"))
      .filter(round(Similarity.cosinePre(col("__vc"), col("__ve"),
        col("__nc"), col("__ne")), 6)
        >= threshold)
      .select(col(idCol)).distinct()
    corpus.select(col(idCol))
      .join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Served-layout decontamination SCAN: the contaminated-id (takedown)
    * list of a cell-partitioned corpus index against a benchmark batch —
    * the form a running service uses when a new eval suite lands: feed
    * the result straight to [[KMeansQuant.deleteFromIndex]].
    *
    * CONTRACT DIFFERENCE from [[decontaminate]] (deliberate, each
    * oracle-checked): here the corpus side matches on its HARD cell and
    * only the eval side probes `nprobe` cells — that is exactly what
    * lets the partitioned read prune to the eval batch's probed cells
    * (PartitionFilters; the in-plan form's corpus-side soft assignment
    * cannot prune a hard-cell layout, because a row's runner-up cell is
    * not its partition). The recall trade is one-sided boundary
    * straddle, the [[KMeansQuant.topKFromIndex]] regime.
    *
    * Scale shape: I/O is the eval batch's touched-cell footprint, never
    * the corpus; the eval side broadcasts ([[decontaminate]]'s guard). */
  def decontaminateFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, m: KMeansQuant.Model, evalSet: DataFrame,
      idCol: String, vecCol: String, threshold: Double, nprobe: Int = 2,
      maxEvalRows: Long = 1000000L): DataFrame = {
    // limit probe BEFORE the checkpoint so an over-budget eval refuses
    // without materializing; then one checkpoint feeds the touched-cell
    // probe and the join leg (and keeps the runtime InSubquery
    // decorator off a live scan — the appendKeepFromIndex lesson)
    val probeCap = math.min(maxEvalRows, Int.MaxValue - 1L).toInt
    val overBudget = evalSet.limit(probeCap + 1).count() > probeCap
    require(!overBudget,
      s"served decontamination broadcasts the eval side: more than " +
        s"maxEvalRows=$maxEvalRows rows; swap roles or raise the bound.")
    val eval = evalSet.select(col(vecCol)).localCheckpoint()
    val probed = eval.select(
      explode(KMeansQuant.cellsOf(col(vecCol), m, nprobe)).as("cluster"),
      toDouble(col(vecCol)).as("__ve"),
      Similarity.normFast(toDouble(col(vecCol))).as("__ne"))
    val touched = probed.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)) // ≤ m.k values by construction
    val corpus = graft.sources.PartitionedParquet.read(spark, path)
      .filter(col("cell").isin(touched.toSeq: _*))
      .select(col("cell").cast("long").as("cluster"), col(idCol),
        toDouble(col(vecCol)).as("__vc"),
        Similarity.normFast(toDouble(col(vecCol))).as("__nc"))
    corpus.join(broadcast(probed), Seq("cluster"))
      .filter(round(Similarity.cosinePre(col("__vc"), col("__ve"),
        col("__nc"), col("__ne")), 6)
        >= threshold)
      .select(col(idCol)).distinct()
  }

  /** Incremental dedup of a NEW batch against an already-ingested
    * corpus — the continuously-ingesting case, same frozen-model
    * contract as [[KMeansQuant.appendIndex]]: the quantizer does not
    * refit, and the caller guarantees every new id exceeds every old id
    * (the ingestion manifest's job, as for `Bm25.appendPostings`).
    * Under that contract the result is EXACTLY the full-rebuild
    * [[keep]] over old ∪ new restricted to the new ids (specced): old
    * survivors never change (their anchors are lower-id, and all new
    * ids are higher), and a new vector checks against the full old
    * corpus — including old vectors that were themselves dropped,
    * because anchor-wins anchors on the pair set, not the survivor set.
    *
    * Scale shape: the batch side is broadcast (a batch is ≪ corpus), so
    * the corpus anchors scan once and NEVER shuffle — with a
    * cell-partitioned corpus layout the scan additionally prunes to the
    * batch's touched cells, the [[KMeansQuant.topKFromIndex]]
    * discipline. The per-cell work is |cell∩(old∪new)| × |cell∩batch|,
    * guarded like [[pairs]]: a frozen quantizer gone stale concentrates
    * drifted ingest into one cell, and `maxCellRows` trips loudly on
    * the batch's touched cells before that turns quadratic. Returns
    * new-batch survivors as (id, cluster). */
  def appendKeep(oldEmb: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String, m: KMeansQuant.Model, threshold: Double,
      maxCellRows: Long = 100000L): DataFrame = {
    val cell = KMeansQuant.cellOf(col(vecCol), m)
    val oldAnchors = oldEmb.select(cell.as("cluster"),
      col(idCol).as("id_a"), toDouble(col(vecCol)).as("__va"))
    appendKeepFrom(oldAnchors, newVecs, idCol, vecCol, m, threshold,
      maxCellRows)
  }

  /** [[appendKeep]] over the SERVED cell-partitioned layout
    * ([[KMeansQuant.buildIndex]]'s `cell=<id>/` tree) instead of an
    * in-plan corpus frame: the batch's touched cells are computed
    * driver-side (≤ k values, row-local assignment under the frozen
    * quantizer) and the anchor read filters `cell IN (touched)`, so
    * PartitionFilters prune every untouched cell partition BEFORE any
    * file opens — the corpus pays I/O proportional to the batch's
    * footprint, not its own size. At 100 TB this is the difference
    * between an ingest tick scanning the full corpus (appendKeep's
    * contract when handed a raw frame) and scanning only the handful of
    * cells the batch lands in. Bit-equal to [[appendKeep]] over the
    * same rows (specced, plan-pinned). Same frozen-model/increasing-id
    * contract; the layout must be current (pair it with
    * [[KMeansQuant.appendIndex]] in the ingestion loop). */
  def appendKeepFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newVecs: DataFrame, idCol: String, vecCol: String,
      m: KMeansQuant.Model, threshold: Double,
      maxCellRows: Long = 100000L): DataFrame = {
    // The batch is materialized once (delta-sized by the ingestion
    // contract) for two reasons: it feeds four legs of the core, and a
    // live batch SCAN beside the partitioned index scan invites Spark's
    // runtime InSubquery filter (cellOf(vec) IN <index cells>) onto the
    // batch side, which aborts with "dynamicpruning has not finished"
    // in this union+broadcast shape (hit in SemDedupSpec) — an
    // RDD-backed frame carries no scan for the planner to decorate.
    val batch = newVecs.select(col(idCol), col(vecCol)).localCheckpoint()
    val cell = KMeansQuant.cellOf(col(vecCol), m)
    val touched = batch.select(cell.as("cluster")).distinct()
      .collect().map(_.getLong(0)) // ≤ m.k values by construction
    // partition-dir inference types `cell` as int on read — normalize
    val oldAnchors = graft.sources.PartitionedParquet.read(spark, path)
      .filter(col("cell").isin(touched.toSeq: _*))
      .select(col("cell").cast("long").as("cluster"),
        col(idCol).as("id_a"), toDouble(col(vecCol)).as("__va"))
    appendKeepFrom(oldAnchors, batch, idCol, vecCol, m, threshold,
      maxCellRows)
  }

  /** Shared incremental-dedup core: `oldAnchors` is the already-
    * ingested corpus as (cluster, id_a, __va) — either the in-plan
    * frame (appendKeep) or the pruned served-layout read
    * (appendKeepFromIndex); rows outside the batch's touched cells are
    * join-eliminated either way, so pre-pruning changes I/O, never the
    * result. */
  private def appendKeepFrom(oldAnchors: DataFrame, newVecs: DataFrame,
      idCol: String, vecCol: String, m: KMeansQuant.Model,
      threshold: Double, maxCellRows: Long): DataFrame = {
    val cell = KMeansQuant.cellOf(col(vecCol), m)
    def shaped(id: String, vec: String, n: String) =
      newVecs.select(cell.as("cluster"), col(idCol).as(id),
        toDouble(col(vecCol)).as(vec),
        Similarity.normFast(toDouble(col(vecCol))).as(n))
    val newE = shaped("id_b", "__vb", "__nb")
    // anchors = old corpus ∪ lower-id new rows (the within-batch
    // anchor-wins pass rides the same join); the anchor leg's norm is
    // hoisted per row too (cosinePre, bit-identical)
    val anchors = oldAnchors
      .withColumn("__na", Similarity.normFast(col("__va")))
      .unionByName(shaped("id_a", "__va", "__na"))
    val hot = anchors
      .join(broadcast(newE.select(col("cluster")).distinct()), Seq("cluster"))
      .groupBy(col("cluster")).count()
      .filter(col("count") > maxCellRows).limit(1).collect()
    require(hot.isEmpty, {
      val r = hot.head
      s"incremental semantic dedup: touched cell ${r.getLong(0)} holds " +
        s"${r.getLong(1)} anchor rows > maxCellRows=$maxCellRows. The " +
        "frozen quantizer no longer spreads this ingest — refit with a " +
        "larger k (rebuilding the layout), or pass maxCellRows to override."
    })
    val dropped = anchors.join(broadcast(newE), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.cosinePre(col("__va"), col("__vb"),
        col("__na"), col("__nb")), 6)
        >= threshold)
      .select(col("id_b")).distinct()
    newVecs.select(col(idCol), cell.as("cluster"))
      .join(broadcast(dropped), col(idCol) === col("id_b"), "left_anti")
  }
}
