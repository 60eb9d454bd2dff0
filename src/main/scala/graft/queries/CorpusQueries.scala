package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Bpe, Collocations, Dsir, KMeansQuant, Pq, SemDedup, TokenOps, UnigramLM}

/** Corpus-modeling operators (SURVEY.md §2.7): deterministic k-means
  * clustering over `embeddings`, unigram-LM NLL quality scoring over
  * `documents`, and BPE tokenizer training/encoding — all closed-form
  * (integer grids, fixed inits, lexicographic tie-breaks), so the
  * queries here are DuckDB-oracle-checked, INCLUDING the iterative ones:
  * k-means unrolls its Lloyd rounds and BPE its merge rounds as
  * generated CTE chains, each round textually mirroring the Column
  * expressions it checks. Rows-only: `q_heavy_hitters`, and the served
  * IVF layout's `q_ivf_build`/`q_ivf_topk`, which specs pin to the
  * oracle-checked assignment and in-plan probe instead.
  */
object CorpusQueries extends QueryModule {

  private val K = 4       // k-means clusters
  private val ITERS = 2   // Lloyd rounds (assign→update); final assign after
  private val MERGES = 8  // BPE merge rounds
  private val SEMTAU = 0.35 // semantic-dedup cosine threshold

  /** One k-means fit per (session, dataset) — the fit collects only
    * centroid-sized state, but runs ITERS+1 jobs; both kmeans queries
    * share it. */
  private val modelCache = new graft.util.SessionCache[KMeansQuant.Model]
  private def model(s: org.apache.spark.sql.SparkSession,
      d: String): KMeansQuant.Model =
    modelCache.getOrElseUpdate(s, d) {
      KMeansQuant.fit(Tables.embeddings(s, d), "vec_id", "embedding",
        k = K, iters = ITERS)
    }

  private val PQ_M = 4    // product-quantization subspaces (64-dim → 16 each)
  private val PQ_K = 8    // codewords per subspace

  /** One PQ training per (session, dataset) — PQ_M independent subspace
    * fits of the same grid-exact Lloyd's; both pq queries share it. */
  private val pqCache = new graft.util.SessionCache[Pq.PqModel]
  private def pqModel(s: org.apache.spark.sql.SparkSession,
      d: String): Pq.PqModel =
    pqCache.getOrElseUpdate(s, d) {
      Pq.fit(Tables.embeddings(s, d), "vec_id", "embedding",
        m = PQ_M, k = PQ_K, iters = ITERS)
    }

  /** One served IVF layout per (session, dataset): the corpus
    * cell-partitioned under the session model
    * ([[KMeansQuant.buildIndex]]). `q_ivf_build` carries its build cost;
    * every served probe below reads it. */
  private val ivfIndexCache = new graft.util.SessionCache[String]
  private def servedIvfLayout(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    ivfIndexCache.getOrElseUpdate(s, d) {
      val p = graft.util.IndexPaths.fresh(d, "kmeans-ivf")
      KMeansQuant.buildIndex(Tables.embeddings(s, d), "vec_id",
        "embedding", model(s, d), p)
      p
    }

  /** vec_id 0's embedding: the probe vector of the served top-k queries. */
  private def queryVec(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Double] =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)

  private val semIncrIndexCache = new graft.util.SessionCache[String]

  /** The incremental-dedup id split point (max(vec_id)/2) — a scalar off
    * an immutable fixture, memoized so the two incr queries stop paying
    * a max-aggregate driver job per invocation (the guard-memo
    * discipline). */
  private val incrCutCache = new graft.util.SessionCache[java.lang.Long]
  private def incrCut(s: org.apache.spark.sql.SparkSession,
      d: String): Long =
    incrCutCache.getOrElseUpdate(s, d) {
      java.lang.Long.valueOf(
        Tables.embeddings(s, d).agg(max(col("vec_id"))).head().getLong(0) / 2)
    }.longValue
  private val ivfDelCache = new graft.util.SessionCache[String]
  private val ivfReplCache = new graft.util.SessionCache[String]

  /** Served layout after an incremental DELETE: full build, then
    * vec_id % 7 == 3 removed via [[KMeansQuant.deleteFromIndex]] —
    * the q_postings_replaced discipline ported to the vector index
    * (the mirrors recompute from the SURVIVING corpus from scratch). */
  private def deletedIvfLayout(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    ivfDelCache.getOrElseUpdate(s, d) {
      val p = graft.util.IndexPaths.fresh(d, "kmeans-ivf-del")
      KMeansQuant.buildIndex(Tables.embeddings(s, d), "vec_id",
        "embedding", model(s, d), p)
      KMeansQuant.deleteFromIndex(
        Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
          .select(col("vec_id")),
        "vec_id", p)
      p
    }

  /** Served layout after an incremental REPLACE, exercising BOTH verb
    * arms: the initial build is DELIBERATELY WRONG — vec_id % 5 == 0
    * rows missing entirely (the insert arm), vec_id % 3 == 0 rows
    * carrying a REVERSED embedding, i.e. a wrong vector sitting in a
    * likely-wrong cell (the update arm) — then ONE
    * [[KMeansQuant.replaceIndex]] staged commit folds the true rows
    * in. The declared queries share the never-corrupted mirrors, so
    * bit-indistinguishability from a clean build is what the oracle
    * checks. The quantizer is the SAME session-cached model both times
    * (frozen centroids — the IVF lifecycle contract). */
  private def replacedIvfLayout(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    ivfReplCache.getOrElseUpdate(s, d) {
      val p = graft.util.IndexPaths.fresh(d, "kmeans-ivf-repl")
      val emb = Tables.embeddings(s, d)
      val corrupted = emb.filter(col("vec_id") % 5 =!= 0)
        .withColumn("embedding", when(col("vec_id") % 3 === 0,
          reverse(col("embedding"))).otherwise(col("embedding")))
      KMeansQuant.buildIndex(corrupted, "vec_id", "embedding",
        model(s, d), p)
      KMeansQuant.replaceIndex(
        emb.filter(col("vec_id") % 3 === 0 || col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", model(s, d), p)
      p
    }

  private val ivfRefitCache =
    new graft.util.SessionCache[(String, KMeansQuant.Model)]

  /** The staleness→refit LOOP as one fixture: build under the session
    * model, append a DRIFTED batch (the q_ann_staleness +0.25 shift,
    * re-keyed past max(vec_id) — frozen-quantizer ingestion of a moved
    * distribution), let the monitor trip, then
    * [[KMeansQuant.refitIndex]] every tripped cell. The declared
    * queries census the refit layout against a FROM-SCRATCH assignment
    * of the union under the refit model replayed in SQL, and re-read
    * probe recall for a drifted query — the monitor's trip provably
    * CONSUMED, not just reported. */
  private def refitIvfLayout(s: org.apache.spark.sql.SparkSession,
      d: String): (String, KMeansQuant.Model) =
    ivfRefitCache.getOrElseUpdate(s, d) {
      val p = graft.util.IndexPaths.fresh(d, "kmeans-ivf-refit")
      // the layout holds DOUBLE vectors end to end: the drifted batch is
      // double by construction, and parquet will not mix float and
      // double files inside one cell partition (float→double widening
      // is exact, so the quantized grid is unchanged)
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val m = model(s, d)
      KMeansQuant.buildIndex(emb, "vec_id", "embedding", m, p)
      val batch = driftBatch(s, d)
      KMeansQuant.appendIndex(batch, "vec_id", "embedding", m, p)
      val stale = KMeansQuant.stalenessByCell(emb, batch, "vec_id",
          "embedding", m)
        .filter(col("stale") === 1L).select(col("cluster"))
        .collect().map(_.getLong(0)).toSeq.sorted
      require(stale.nonEmpty,
        "refit fixture: the drift batch failed to trip the staleness monitor")
      val m2 = KMeansQuant.refitIndex(s, p, m, stale, "vec_id", "embedding")
      (p, m2)
    }

  /** The drifted append batch (shared by fixture and recall probe):
    * every vec_id % 4 == 0 embedding shifted +0.25 per dimension in
    * DOUBLE space (the q_ann_staleness drift), re-keyed past the
    * corpus maximum so the append is genuinely new rows at ANY corpus
    * size (a fixed offset collides once the corpus outgrows it — the
    * ScaleBench regime; the mirrors derive the same offset with a
    * max-subquery). The drifted copy of vec 0 — the recall probe's
    * query — therefore has id exactly `driftOffset`. */
  private def driftOffset(s: org.apache.spark.sql.SparkSession,
      d: String): Long =
    Tables.embeddings(s, d).agg(max(col("vec_id"))).head().getLong(0) + 1L

  private def driftBatch(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + lit(driftOffset(s, d))).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x + lit(0.25)).as("embedding"))

  /** One curated-stage materialization per (session, dataset): the
    * localCheckpoint'd frame q_curate_semantic caps over. Cached so
    * repeated invocations (bench re-runs, the PlanSpec sweep, verify)
    * reuse ONE checkpointed RDD instead of accumulating storage blocks
    * per call — the query-map twin of app/Curate's per-run stage
    * frames. */
  private val curatedCache =
    new graft.util.SessionCache[org.apache.spark.sql.DataFrame]
  private val curatedFullCache =
    new graft.util.SessionCache[org.apache.spark.sql.DataFrame]

  /** One BPE training per (session, dataset) — MERGES bounded
    * aggregations over the vocabulary-sized symbol table; the merge
    * table itself is MERGES rows. */
  private val mergeCache = new graft.util.SessionCache[Seq[Bpe.Merge]]
  private def merges(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Bpe.Merge] =
    mergeCache.getOrElseUpdate(s, d) {
      Bpe.train(Tables.documents(s, d), "text", MERGES)._1
    }

  /** The module's one-time fits, exposed for Bench's untimed warm phase
    * (each forces the corresponding SessionCache entry; see
    * [[QueryModule.warmups]]). The IVF served layout and the curated
    * checkpoint are NOT here — their builds are carried by explicit
    * query ids / are part of the measured query by contract. */
  override val warmups: Map[String, (org.apache.spark.sql.SparkSession, String) => Unit] = Map(
    "kmeans_model" -> ((s, d) => { model(s, d); () }),
    "pq_model" -> ((s, d) => { pqModel(s, d); () }),
    "bpe_merges" -> ((s, d) => { merges(s, d); () }),
    "dsir_weights" -> ((s, d) => { dsirWeightsMemo(s, d); () }),
    // the IVF lifecycle fixtures (build + staged delete/replace) are
    // setup, not the measured verb — the bm25_del/bm25_repl precedent;
    // the timed queries measure the SERVING path over the mutated
    // layout (pruned census / probed top-k)
    "ivf_del" -> ((s, d) => { deletedIvfLayout(s, d); () }),
    "ivf_repl" -> ((s, d) => { replacedIvfLayout(s, d); () }),
    "ivf_refit" -> ((s, d) => { refitIvfLayout(s, d); () })
  )

  val queries: Map[String, Q] = Map(
    // Deterministic Lloyd's on the 1e-6 integer grid: min-id init, 2
    // assign→update rounds, final row-local assignment vs broadcast
    // literal centroids. Exact integer distances ⇒ hash-stable.
    "q_kmeans_assign" -> ((s, d) =>
      KMeansQuant.assign(Tables.embeddings(s, d), "vec_id", "embedding",
          model(s, d))
        .orderBy(col("vec_id"))),

    // The fitted centroids themselves, long-format (cluster, dim, q) on
    // the micro-grid — k·dim rows, the model as checkable data.
    "q_kmeans_centroids" -> ((s, d) =>
      KMeansQuant.centroidsDF(s, model(s, d))
        .orderBy(col("cluster"), col("dim"))),

    // IVF ANN through the deterministic quantizer: 2 of 4 cells probed
    // (ranked by exact integer centroid distance), exact cosine among
    // the probed cells' vectors.
    "q_ivf_kmeans_topk" -> ((s, d) =>
      KMeansQuant.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        model(s, d), queryId = 0L, k = 10, nprobe = 2)),

    // The IVF probe over the SERVED cell-partitioned layout: build once
    // per (session, dataset), then read only the 2 probed cells'
    // partitions (PartitionFilters — plan-pinned). Bit-identical to
    // q_ivf_kmeans_topk's in-plan filter form, same oracle.
    "q_ivf_kmeans_served" -> ((s, d) =>
      KMeansQuant.topKFromIndex(s, servedIvfLayout(s, d), model(s, d),
        queryVec(s, d), k = 10, nprobe = 2, idCol = "vec_id",
        vecCol = "embedding", excludeId = Some(0L))),

    // The served layout's build, as its own query id (one-time cost,
    // explicit): the cell histogram (cell, n). Rows-only; CorpusModelSpec
    // pins the counts to q_kmeans_assign's per-cluster counts.
    "q_ivf_build" -> ((s, d) =>
      graft.sources.PartitionedParquet.read(s, servedIvfLayout(s, d))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .orderBy(col("cell"))),

    // The served probe at 3 of 4 cells: reads only the 3 probed cell
    // partitions. Rows-only; CorpusModelSpec pins it row for row to
    // KMeansQuant.ivfTopK's in-plan form at the same nprobe.
    "q_ivf_topk" -> ((s, d) =>
      KMeansQuant.topKFromIndex(s, servedIvfLayout(s, d), model(s, d),
        queryVec(s, d), k = 10, nprobe = 3, idCol = "vec_id",
        vecCol = "embedding", excludeId = Some(0L))),

    // ANN staleness monitor (KMeansQuant.stalenessByCell): per build
    // cell, the appended batch's mean squared integer distance vs the
    // build-time members' — the measured refit signal for the
    // frozen-centroid append contract. The "drifted batch" is every
    // vec_id % 4 == 0 embedding shifted by +0.25 per dimension IN
    // DOUBLE SPACE on both engines (cast first, then shift — the same
    // IEEE ops), so the trip is a real cross-engine drift detection,
    // not an identity pass.
    "q_ann_staleness" -> ((s, d) => {
      val ref = Tables.embeddings(s, d)
      val batch = ref.filter(col("vec_id") % 4 === 0)
        .withColumn("embedding",
          transform(col("embedding").cast("array<double>"),
            x => x + lit(0.25)))
      KMeansQuant.stalenessByCell(ref, batch, "vec_id", "embedding",
          model(s, d))
        .orderBy(col("cluster"))
    }),

    // Full census of the served layout AFTER an incremental delete
    // (vec_id % 7 == 3 removed, only touched cells rewritten): every
    // surviving (vec_id, cell) row, hash-checked against a from-scratch
    // assignment of the SURVIVING corpus — bit-indistinguishability of
    // deleteFromIndex from a never-added build, the q_postings_replaced
    // discipline on the vector side.
    "q_ivf_deleted" -> ((s, d) =>
      graft.sources.PartitionedParquet.read(s, deletedIvfLayout(s, d))
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy(col("vec_id"))),

    // Probed top-k from the deleted layout: deleted ids must be gone
    // from the candidate set, survivors ranked exactly as a fresh build
    // would (the mirror probes the surviving corpus from scratch).
    "q_ivf_del_topk" -> ((s, d) =>
      KMeansQuant.topKFromIndex(s, deletedIvfLayout(s, d), model(s, d),
        queryVec(s, d), k = 10, nprobe = 2, idCol = "vec_id",
        vecCol = "embedding", excludeId = Some(0L))),

    // Census after an incremental REPLACE of a deliberately-wrong build
    // (missing rows inserted, reversed-vector rows re-assigned out of
    // their wrong cells in ONE staged commit): shares q_kmeans_assign's
    // from-scratch assignment mirror — the layout must be
    // bit-indistinguishable from never having been corrupted.
    "q_ivf_replaced" -> ((s, d) =>
      graft.sources.PartitionedParquet.read(s, replacedIvfLayout(s, d))
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy(col("vec_id"))),

    // Probed top-k from the replaced layout — literally the
    // q_ivf_kmeans_served mirror (the never-mutated probe), re-verified
    // through the replace.
    "q_ivf_repl_topk" -> ((s, d) =>
      KMeansQuant.topKFromIndex(s, replacedIvfLayout(s, d), model(s, d),
        queryVec(s, d), k = 10, nprobe = 2, idCol = "vec_id",
        vecCol = "embedding", excludeId = Some(0L))),

    // Census of the layout after the full staleness→refit loop (build →
    // drifted append → monitor trip → refitIndex on every tripped
    // cell): every (vec_id, cell) row must hash-match a FROM-SCRATCH
    // assignment of the union corpus under the refit model, replayed in
    // SQL — refitIndex's bit-equivalence-to-buildIndex contract,
    // oracle-checked.
    "q_ivf_refit" -> ((s, d) =>
      graft.sources.PartitionedParquet.read(s, refitIvfLayout(s, d)._1)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy(col("vec_id"))),

    // Probe recall for a DRIFTED query (the appended copy of vec 0)
    // from the refit layout under the refit model, vs brute force over
    // the union corpus — the judge of whether the refit actually
    // restored the probe for the drifted region. Same recall@10 shape
    // as q_ivf_recall; fully mirrored (fit, drift, refit means, and
    // probe all replayed in SQL).
    "q_ann_refit_recall" -> ((s, d) => {
      val (path, m2) = refitIvfLayout(s, d)
      val union = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("embedding"))
        .unionAll(driftBatch(s, d))
      val off = driftOffset(s, d)
      val qv = union.filter(col("vec_id") === off)
        .select(col("embedding")).head().getSeq[Double](0)
      val ivf = KMeansQuant.topKFromIndex(s, path, m2, qv, k = 10,
          nprobe = 2, idCol = "vec_id", vecCol = "embedding",
          excludeId = Some(off))
        .select(col("vec_id"))
      val brute = graft.operators.Similarity.bruteForceTopK(
          union, "vec_id", "embedding", queryId = off, k = 10)
        .select(col("vec_id"))
      ivf.join(brute, Seq("vec_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(10L).as("k"), col("hits"),
          round(col("hits").cast("double") / 10.0, 6).as("recall"))
    }),

    // Hard-negative mining over the SERVED cell layout — the scale path
    // of q_hard_negatives: each anchor probes its 2 nearest cells
    // (exact integer centroid distance) and only those partitions are
    // read; band + per-anchor top-k over the pruned candidates. The
    // mirror reproduces the probed-cell computation exactly, so the
    // recall-vs-nprobe trade is oracle-checked, not hand-waved.
    "q_hard_negatives_ivf" -> ((s, d) => {
      val m = model(s, d)
      val anchors = Tables.embeddings(s, d)
        .filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .toSeq.sortBy(_._1)
      KMeansQuant.hardNegativesFromIndex(s, servedIvfLayout(s, d), m, anchors,
          k = 5, lo = 0.15, hi = 0.5, nprobe = 2,
          idCol = "vec_id", vecCol = "embedding")
        .orderBy(col("anchor_id"), col("rank"))
    }),

    // SemDeDup (Abbas et al. 2023): near-dup pairs WITHIN each k-means
    // cell only — assignment row-local vs broadcast centroids, pair
    // search an equi-join on the cell id (Σ|cell|², never n²; no
    // cartesian — plan-pinned). Deterministic quantizer + single-rounded
    // cosines ⇒ the pair set itself is oracle-checked.
    "q_semdedup_pairs" -> ((s, d) =>
      SemDedup.pairs(Tables.embeddings(s, d), "vec_id", "embedding",
          model(s, d), SEMTAU, guardMemoKey = Some(s"semdedup|$d"))
        .orderBy(col("id_a"), col("id_b"))),

    // The anchor-wins survivor set: drop a vector iff a LOWER-ID
    // within-cell neighbor sits at cos >= τ; the duplicate-bounded
    // dropped-id set broadcasts into a left-anti join, so the corpus
    // never shuffles for the prune.
    "q_semdedup_keep" -> ((s, d) =>
      SemDedup.keep(Tables.embeddings(s, d), "vec_id", "embedding",
          model(s, d), SEMTAU, guardMemoKey = Some(s"semdedup|$d"))
        .orderBy(col("vec_id"))),

    // Multi-probe semantic dedup pairs: every vector joins its 2
    // nearest cells, so boundary-straddling near-dups still meet (on
    // this fixture: ~46% pair recall at nprobe=1 → ~94% at nprobe=2
    // for ~3.3× candidates). DISTINCT pair set — a pair sharing both
    // probed cells appears once.
    "q_semdedup_multiprobe" -> ((s, d) =>
      SemDedup.pairsMultiProbe(Tables.embeddings(s, d), "vec_id",
          "embedding", model(s, d), SEMTAU, nprobe = 2,
          guardMemoKey = Some(s"semdedup|$d"))
        .orderBy(col("id_a"), col("id_b"))),

    // The practical high-recall dedup: anchor-wins survivors under the
    // multi-probe pair set (boundary duplicates actually drop); output
    // carries the hard cell — the vector's storage/routing home.
    "q_semdedup_keep_mp" -> ((s, d) =>
      SemDedup.keepMultiProbe(Tables.embeddings(s, d), "vec_id",
          "embedding", model(s, d), SEMTAU, nprobe = 2,
          guardMemoKey = Some(s"semdedup|$d"))
        .orderBy(col("vec_id"))),

    // Semantic DECONTAMINATION: drop corpus vectors (vec_id % 20 != 0)
    // whose cosine vs any benchmark vector (vec_id % 20 == 0) reaches
    // SEMTAU, matched through shared nprobe=2 probe cells — the
    // embedding-space sibling of q_decontaminate's exact-fingerprint
    // pass (this is the one that catches paraphrased benchmark
    // leakage). Eval side broadcasts; the corpus never shuffles.
    "q_decontaminate_sem" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SemDedup.decontaminate(
          emb.filter(pmod(col("vec_id"), lit(20)) =!= 0),
          emb.filter(pmod(col("vec_id"), lit(20)) === 0),
          "vec_id", "embedding", model(s, d), SEMTAU, nprobe = 2)
        .orderBy(col("vec_id"))
    }),

    // Alignment/uniformity (Wang & Isola 2020): is the embedding space
    // HEALTHY — positives (the semantic-dedup pair set) close, the
    // background (deterministic id-offset probes) spread out. The
    // representation-quality readout run before anyone trains on the
    // vectors.
    "q_embed_quality" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pos = SemDedup.pairs(emb, "vec_id", "embedding",
          model(s, d), SEMTAU, guardMemoKey = Some(s"semdedup|$d"))
        .select(col("id_a"), col("id_b"))
      graft.operators.Similarity.alignmentUniformity(emb, "vec_id",
        "embedding", pos, Seq(137L, 211L, 389L))
    }),

    // The SERVED decontamination scan: the takedown list off the
    // cell-partitioned layout, I/O pruned to the eval batch's probed
    // cells (PartitionFilters — plan-pinned in SemDedupSpec). Corpus
    // matches on its HARD cell, eval probes 2 — the documented
    // layout-prunable contract (see decontaminateFromIndex's scaladoc);
    // eval rows themselves are excluded from the takedown output.
    "q_decontaminate_sem_srv" -> ((s, d) => {
      val m = model(s, d)
      SemDedup.decontaminateFromIndex(s, servedIvfLayout(s, d), m,
          Tables.embeddings(s, d)
            .filter(pmod(col("vec_id"), lit(20)) === 0),
          "vec_id", "embedding", SEMTAU, nprobe = 2)
        .filter(pmod(col("vec_id"), lit(20)) =!= 0)
        .orderBy(col("vec_id"))
    }),

    // Semantic CLUSTER labels: connected components over the semantic
    // pair graph — the embedding-space sibling of q_dedup_groups'
    // lexical components, and the transitive view anchor-wins pruning
    // doesn't give (A~B and B~C label A,B,C together even when A~C
    // falls below τ). Composition of two existing operators; the same
    // union-find/pointer-jumping scale split as the lexical form.
    "q_semdedup_groups" -> ((s, d) => {
      val p = SemDedup.pairs(Tables.embeddings(s, d), "vec_id",
          "embedding", model(s, d), SEMTAU,
          guardMemoKey = Some(s"semdedup|$d"))
        .select(col("id_a"), col("id_b"))
      graft.operators.DedupGroups.connectedComponents(
          Tables.embeddings(s, d).select(col("vec_id")), "vec_id", p)
        .select(col("id").as("vec_id"), col("comp").as("component"))
        .orderBy(col("vec_id"))
    }),

    // Incremental semantic dedup: the id space split at max_id/2 plays
    // an already-ingested corpus (low ids) + a new batch (high ids);
    // the batch broadcasts against the corpus anchors (corpus never
    // shuffles) under the frozen quantizer. Checked against the SAME
    // full-rebuild mirror as q_semdedup_keep, restricted to the new
    // ids — incremental == rebuild, by oracle.
    "q_semdedup_incr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cut = incrCut(s, d)
      SemDedup.appendKeep(emb.filter(col("vec_id") <= cut),
          emb.filter(col("vec_id") > cut), "vec_id", "embedding",
          model(s, d), SEMTAU)
        .orderBy(col("vec_id"))
    }),

    // The SAME incremental dedup served from the cell-partitioned
    // layout (KMeansQuant.buildIndex over the already-ingested half):
    // the batch's touched cells prune the anchor read at the partition
    // level (PartitionFilters — plan-pinned in SemDedupSpec), so an
    // ingest tick pays I/O for the cells it lands in, never the corpus.
    // Shares q_semdedup_incr's full-rebuild mirror — in-plan, served,
    // and rebuild must all agree bit-exactly.
    "q_semdedup_incr_srv" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cut = incrCut(s, d)
      val m = model(s, d)
      val path = semIncrIndexCache.getOrElseUpdate(s, d) {
        val p = graft.util.IndexPaths.fresh(d, "semdedup-incr")
        KMeansQuant.buildIndex(emb.filter(col("vec_id") <= cut),
          "vec_id", "embedding", m, p)
        p
      }
      SemDedup.appendKeepFromIndex(s, path,
          emb.filter(col("vec_id") > cut), "vec_id", "embedding",
          m, SEMTAU)
        .orderBy(col("vec_id"))
    }),

    // Cluster-balanced diversity cap: at most 40 vectors per k-means
    // cell, survivors by smallest content hash — the topic-balancing
    // stage after clustering (no cell may dominate the corpus), riding
    // the same bounded bottom_k aggregate as q_source_cap so no
    // window/row_number sort ever touches the full corpus.
    "q_cluster_cap" -> ((s, d) => {
      val withCell = Tables.embeddings(s, d)
        .withColumn("cluster",
          KMeansQuant.cellOf(col("embedding"), model(s, d)))
      graft.operators.Sampling.capPerStratum(withCell, "vec_id",
          col("vec_id").cast("string"), "cluster", k = 40)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    }),

    // End-to-end SEMANTIC curation — the four stages a training-data
    // pass actually chains, across two tables: quality/length gate →
    // exact bag-of-words-fingerprint dedup → semantic near-dup removal
    // (anti-join the DUPLICATE-BOUNDED dropped-id set from the
    // embedding cells — broadcastable, where the corpus-sized survivor
    // set is not) → per-source diversity cap (bounded bottom_k, no
    // corpus-wide window). doc_id ≡ vec_id by fixture construction.
    // The cap reads its input twice (aggregate + semi-join back), so
    // the curated frame is localCheckpoint'd first — the same stage
    // boundary app/Curate.scala draws; without it the whole gate→dedup→
    // anti-join chain executes twice (plan-pinned: the final plan caps
    // over one materialized stage, zero repeated windows).
    "q_curate_semantic" -> ((s, d) => {
      val curated = curatedCache.getOrElseUpdate(s, d) {
        val (nTok, _, q) = TokenOps.qualityScore(col("text"))
        val gated = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source"),
            nTok.as("n_tokens"), q.as("quality"))
          .filter(col("quality") >= 0.55 && col("n_tokens") >= 5)
        val deduped = graft.operators.Dedup.exactByFingerprint(gated,
          TokenOps.bagOfWordsFingerprint(col("text")), col("doc_id"))
        val semDropped = SemDedup.pairs(Tables.embeddings(s, d), "vec_id",
            "embedding", model(s, d), SEMTAU,
            guardMemoKey = Some(s"semdedup|$d"))
          .select(col("id_b").as("doc_id")).distinct()
        deduped
          .join(broadcast(semDropped), Seq("doc_id"), "left_anti")
          .localCheckpoint(false)
      }
      graft.operators.Sampling.capPerStratum(curated, "doc_id",
          col("text"), "source", k = 15)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("quality"))
        .orderBy(col("doc_id"))
    }),

    // THE FULL CURATION PIPELINE in one declared query — the
    // q_curate_semantic discipline extended to the whole brief: Unicode
    // NFC (over the q_nfc_clean decomposed inject, so normalization
    // does real work) → quality/length gate → exact dedup on the
    // NORMALIZED bag-of-words fingerprint → semantic dedup (cell-
    // bounded cosine pairs) → leakage-relevant k-fold assignment on the
    // normalized content → contrastive triplet assembly over the
    // SURVIVING embeddings, each member tagged with its fold. Stages
    // compose as ONE lazy plan over the scan — no per-stage
    // materialization; the one localCheckpoint is the documented
    // curatedCache discipline (the survivor set is consumed by four
    // bounded downstream actions: anchors, two banded scans, the fold
    // join). Anchors are the 3 smallest surviving ids — derived, not
    // hardcoded, so the oracle recomputes them itself.
    "q_curate_full" -> ((s, d) => {
      val survivors = curatedFullCache.getOrElseUpdate(s, d) {
        val dirty = concat(col("text"),
          lit(" cafe\u0301 n\u0303o")) // decomposed: NFC must compose
        val normed = Tables.documents(s, d)
          .select(col("doc_id"),
            graft.operators.TextClean.normalizeNfc(dirty).as("text"),
            col("source"))
        val (nTok, _, qual) = TokenOps.qualityScore(col("text"))
        val gated = normed
          .select(col("doc_id"), col("text"), col("source"),
            nTok.as("n_tokens"), qual.as("quality"))
          .filter(col("quality") >= 0.55 && col("n_tokens") >= 5)
        val deduped = graft.operators.Dedup.exactByFingerprint(gated,
          TokenOps.bagOfWordsFingerprint(col("text")), col("doc_id"))
        val semDropped = SemDedup.pairs(Tables.embeddings(s, d), "vec_id",
            "embedding", model(s, d), SEMTAU,
            guardMemoKey = Some(s"semdedup|$d"))
          .select(col("id_b").as("doc_id")).distinct()
        deduped
          .join(broadcast(semDropped), Seq("doc_id"), "left_anti")
          .localCheckpoint(false)
      }
      val folded = graft.operators.Sampling.kFoldAssign(
        survivors.select(col("doc_id"), col("text")), col("text"), k = 5)
      val ids = survivors.select(col("doc_id"))
      val anchors = ids.orderBy(col("doc_id")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      val survEmb = Tables.embeddings(s, d)
        .join(ids.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
      def band(role: String, k: Int, lo: Double, hi: Double) =
        graft.operators.Similarity.hardNegatives(survEmb, "vec_id",
            "embedding", anchors, k = k, lo = lo, hi = hi)
          .select(col("anchor_id"), lit(role).as("role"), col("rank"),
            col("vec_id"), col("cos"))
      band("positive", 1, 0.5, 1.1)
        .unionAll(band("negative", 3, 0.15, 0.5))
        .join(folded.select(col("doc_id").as("vec_id"), col("fold")),
          Seq("vec_id"))
        .select(col("anchor_id"), col("role"), col("rank"), col("vec_id"),
          col("fold"), col("cos"))
        .orderBy(col("anchor_id"), col("role"), col("rank"))
    }),

    // Per-cell clustering-quality audit: member count, exact integer
    // inertia (Σ d2), and mean distance — the model-evaluation readout
    // a clustering pipeline tracks across refits. One partial-aggregated
    // job over the row-local assignment.
    "q_kmeans_inertia" -> ((s, d) =>
      KMeansQuant.assign(Tables.embeddings(s, d), "vec_id", "embedding",
          model(s, d))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("dist2")).as("inertia"))
        .withColumn("mean_d2",
          round(col("inertia").cast("double") / col("n"), 6))
        .orderBy(col("cluster"))),

    // Product quantization (Jégou et al., TPAMI'11) on the grid-exact
    // Lloyd's: every vector as PQ_M codeword ids — the RAM-resident
    // billion-vector ANN layout. Codes are row-local against broadcast
    // literal codebooks; the whole train+encode stack is integer-exact,
    // so the codes themselves are oracle-checked (per-subspace unrolled
    // Lloyd mirrors).
    "q_pq_codes" -> ((s, d) =>
      Pq.codes(Tables.embeddings(s, d), "vec_id", "embedding",
          pqModel(s, d))
        .orderBy(col("vec_id"), col("sub"))),

    // ADC serving: the query stays unquantized; a driver-built m·k
    // distance table turns each row's distance into m lookups + adds —
    // scan-stage, TakeOrderedAndProject top-k, zero shuffles. Exact
    // integer distances ⇒ the ADC ranking is oracle-checked too.
    "q_pq_topk" -> ((s, d) =>
      Pq.adcTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        pqModel(s, d), queryId = 0L, k = 10)),

    // IVF-PQ: the coarse k-means routes the query to nprobe=2 of K cells
    // (ranked driver-side by exact integer centroid distance), and only
    // those cells' members pay ADC — the FAISS IVFADC serving shape,
    // with BOTH stages deterministic and therefore oracle-checked
    // end-to-end (coarse mirror ∩ PQ mirror in one CTE chain).
    "q_ivfpq_topk" -> ((s, d) =>
      Pq.adcTopKRouted(Tables.embeddings(s, d), "vec_id", "embedding",
        pqModel(s, d), model(s, d), queryId = 0L, k = 10, nprobe = 2)),

    // Two-stage refinement: ADC shortlist (top-50) → exact grid-distance
    // re-rank to 10 — the production answer to PQ's lossy distances;
    // the bounded shortlist broadcasts into a semi-join so the exact
    // stage touches 50 rows, never the corpus.
    "q_pq_refine" -> ((s, d) =>
      Pq.refineTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        pqModel(s, d), queryId = 0L, k = 10, shortlist = 50)),

    // In-engine ANN evaluation: recall@10 of the nprobe=2/4 IVF probe
    // against exact brute force, for the standard query vector. Both
    // sides deterministic ⇒ the recall NUMBER is oracle-checked, not
    // just asserted in a spec — the eval harness a served ANN index
    // needs when tuning nprobe.
    "q_ivf_recall" -> ((s, d) => {
      val ivf = KMeansQuant.ivfTopK(Tables.embeddings(s, d), "vec_id",
          "embedding", model(s, d), queryId = 0L, k = 10, nprobe = 2)
        .select(col("vec_id"))
      val brute = graft.operators.Similarity.bruteForceTopK(
          Tables.embeddings(s, d), "vec_id", "embedding",
          queryId = 0L, k = 10)
        .select(col("vec_id"))
      ivf.join(brute, Seq("vec_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(10L).as("k"), col("hits"),
          round(col("hits").cast("double") / 10.0, 6).as("recall"))
    }),

    // Unigram-LM mean negative log-likelihood per document (add-one
    // smoothing, corpus-fit), per-token −ln p quantized to a 1e-9
    // integer grid before the per-doc sum (summation-order-free).
    "q_unigram_nll" -> ((s, d) =>
      UnigramLM.nll(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Interpolated bigram NLL (Jelinek-Mercer λ=0.5 over MLE bigrams +
    // add-one unigrams): (prev, token) pairs built row-local by zipping
    // the token array with its own shift — no positional self-join; two
    // extra vocabulary-sized equi-joins over the unigram plan. Same
    // nano-grid determinism ⇒ oracle-checked.
    "q_bigram_nll" -> ((s, d) =>
      UnigramLM.bigramNll(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Per-source KL divergence from the corpus unigram distribution
    // (plus entropy and cross-entropy): the corpus-mix drift diagnostic
    // — a source whose KL jumps is no longer writing like the corpus.
    // Exact on observed support (MLE p zeroes absent terms; smoothed
    // global q keeps each finite), wordcount-shaped.
    "q_source_kl" -> ((s, d) =>
      UnigramLM.groupDivergence(Tables.documents(s, d), "source", "text")
        .orderBy(col("source"))),

    // Interpolated KNESER-NEY bigram NLL (D=0.75): continuation-type
    // probabilities instead of raw-frequency backoff, so
    // collocation-locked tokens stop inheriting mass in novel contexts
    // — the LM-quality screen's stronger smoothing. One extra
    // vocabulary-sized aggregate over q_bigram_nll's plan.
    "q_kneser_ney" -> ((s, d) =>
      UnigramLM.kneserNeyNll(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Mergeable Misra-Gries heavy hitters: per-source summaries
    // (precompute; O(capacity) state per group, map-side combined),
    // rolled up by heavy_hitters_merge WITHOUT re-scanning raw tokens —
    // the frequency sibling of q_hll_rollup. Retained-set/est depend on
    // partitioning (the est<=true<=est+maxerr guarantee does not) ⇒
    // rows-only; HeavyHittersSpec proves the guarantees vs exact counts.
    "q_heavy_hitters" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"), explode(TokenOps.tokenize(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(graft.functions.HeavyHitters
          .heavy_hitters(col("token"), 32).as("hh"))
        .agg(graft.functions.HeavyHitters
          .heavy_hitters_merge(col("hh"), 32).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"),
          col("e.maxerr").as("maxerr"))
        .orderBy(col("est").desc, col("item"))
    }),

    // Count-Min sketch cells, built per source and rolled up by the
    // LOSSLESS pointwise-sum merge (CMS is exactly additive, so the
    // per-source precompute path provably equals the direct build —
    // and the oracle checks it: cells are deterministic sums over the
    // poly_hash row family, unlike Misra-Gries' partition-dependent
    // retained set, so this sketch is hash-checked, not rows-only.
    "q_cms_cells" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"),
          explode(TokenOps.tokenize(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(graft.functions.CountMin
          .count_min(col("token"), CMS_W, CMS_D).as("sk"))
        .agg(graft.functions.CountMin
          .count_min_merge(col("sk"), CMS_W, CMS_D).as("sk"))
        .select(posexplode(col("sk")))
        .select(col("pos").cast("long").as("cell_idx"),
          col("col").as("cnt"))
        .orderBy(col("cell_idx"))
    }),

    // Point estimates against exact truth for the whole vocabulary:
    // est = min over depth rows, one element_at per row off the 1-row
    // broadcast sketch (the corpus-stats scalar-join shape). est ≥ true
    // unconditionally — visible in the data AND enforced by
    // CountMinSpec; the oracle recomputes every estimate from its own
    // cell table, so the hash family, the layout and the min-read all
    // sit under the hash check.
    "q_cms_estimates" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(TokenOps.tokenize(col("text"))).as("token"))
      val sketch = toks.agg(graft.functions.CountMin
        .count_min(col("token"), CMS_W, CMS_D).as("sk"))
      toks.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("true_cnt"),
          graft.functions.CountMin
            .estimate(col("sk"), col("token"), CMS_W, CMS_D).as("est"))
        .orderBy(col("token"))
    }),

    // Collocation mining: top-20 token pairs by document-presence PMI
    // (Church & Hanks 1990) on the nano grid — pair counting self-joins
    // the df-filtered per-doc token sets with the candidate volume
    // loud-guarded through JoinDiagnostics.requireBounded first.
    "q_collocations" -> ((s, d) =>
      Collocations.pmiPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("pmi_nano").desc, col("tok_a"), col("tok_b"))
        .limit(20)),

    // BPE round 0: adjacent character-pair counts weighted by word
    // frequency — the statistic every merge decision reads.
    "q_bpe_pairs" -> ((s, d) =>
      Bpe.pairCounts(
          Bpe.wordFreqs(Tables.documents(s, d), "text")
            .select(col("word"), col("freq"),
              Bpe.charSymbols(col("word")).as("syms")))
        .select(col("left").as("lhs"), col("right").as("rhs"), col("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))),

    // The trained merge table (8 rounds; max count, ties lexicographic).
    // Oracle = 8 unrolled rounds of pair-count→argmax→list_reduce fold.
    "q_bpe_merges" -> ((s, d) => {
      import s.implicits._
      merges(s, d)
        .map(m => (m.rank.toLong, m.left, m.right, m.count))
        .toDF("rank", "lhs", "rhs", "cnt")
        .orderBy(col("rank"))
    }),

    // Every document encoded through the trained merges — row-local
    // per-word fold chain, scan-stage, no vocab join.
    "q_bpe_encode" -> ((s, d) =>
      Bpe.encode(Tables.documents(s, d), "doc_id", "text", merges(s, d))
        .select(col("doc_id"), col("n_bpe_tokens"),
          concat_ws(" ", slice(col("tokens"), 1, 5)).as("head_tokens"))
        .orderBy(col("doc_id"))),

    // Tokenizer FERTILITY per language: chars per trained-BPE token —
    // the tokenizer-efficiency readout every multilingual budget audit
    // runs (a language the merges underserve pays more tokens per char
    // of training signal). One scan, row-local encode, 5-group reduce.
    "q_token_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), length(col("text")).cast("long").as("nch"),
          size(Bpe.encodeTokens(col("text"), merges(s, d))).cast("long")
            .as("ntok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nch")).as("n_chars"),
          sum(col("ntok")).as("n_bpe_tokens"),
          round(sum(col("nch")).cast("double")
            / sum(col("ntok")).cast("double"), 6).as("chars_per_token"))
        .orderBy(col("lang"))),

    // DSIR importance weights (Xie et al. '23): every document scored
    // against the English subcorpus as target domain in a 4096-bucket
    // hashed unigram+bigram space. poly_hash makes the feature hashing
    // itself oracle-mirrorable — the ONLY corpus-wide fit state is the
    // B-row bucket table, broadcast back (no vocabulary ever exists).
    "q_dsir_weights" -> ((s, d) =>
      dsirWeights(s, d).orderBy(col("doc_id"))),

    // Deterministic selection: the 100 most target-like documents
    // (TakeOrderedAndProject — nothing global sorts). Selection reads
    // the memoized weights table: q_dsir_weights is this family's
    // explicit build id (the q_ann_index_build discipline), so the two
    // selection queries measure SELECTION, not a re-fit.
    "q_dsir_select" -> ((s, d) =>
      Dsir.selectTopK(dsirWeightsMemo(s, d), "doc_id", 100)),

    // Gumbel top-k importance RESAMPLING — sampling-without-replacement
    // with prob ∝ exp(logw), noise derived from poly_hash of the doc id
    // under a seed tag, so even the RANDOMNESS is oracle-recomputable
    // (unlike every xxhash-based sampler here, which is rows-only).
    "q_dsir_sample" -> ((s, d) =>
      Dsir.gumbelTopK(dsirWeightsMemo(s, d), "doc_id", 100, seed = 7))
  )

  private val DSIR_B = 4096
  private val CMS_W = 256
  private val CMS_D = 4

  /** The B-row DSIR fit table, one per (session, dataset): the eager
    * bucket-count checkpoint inside [[Dsir.bucketDeltas]] used to re-run
    * at every q_dsir_weights BUILD (1.3 s timed vs the 1.8 s warm that
    * had already fit the same model — r18 verdict #6). Memoizing the fit
    * leaves the timed query exactly its documented scoring lineage: one
    * corpus scan + the B-row broadcast join. The existing `dsir_weights`
    * warm forces this on its way to the weights memo, so the fit cost
    * stays attributed by name in the warm ledger. */
  private val dsirDeltaCache =
    new graft.util.SessionCache[org.apache.spark.sql.DataFrame]

  private def dsirWeights(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val grams = Dsir.hashedGrams(Tables.documents(s, d), "doc_id", "text",
      col("lang") === "en", DSIR_B)
    val deltas = dsirDeltaCache.getOrElseUpdate(s, d) {
      Dsir.bucketDeltas(grams, DSIR_B)
    }
    Dsir.score(grams, "doc_id", deltas)
  }

  /** One checkpointed weights table per (session, dataset) — corpus-row
    * sized but THIN (id, n_grams, logw); the selection queries read it
    * instead of re-running the fit+score pipeline per invocation. */
  private val dsirCache =
    new graft.util.SessionCache[org.apache.spark.sql.DataFrame]

  private def dsirWeightsMemo(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    dsirCache.getOrElseUpdate(s, d) { dsirWeights(s, d).localCheckpoint() }

  // ---- DuckDB mirrors ------------------------------------------------

  private val wsSql = TokenOps.WsRun

  // -- k-means: unrolled Lloyd rounds on the integer micro-grid --------

  /** Assignment CTE `name` of every vector to its `maxRn` nearest
    * centroids in `cent` — exact integer d2; ties → lowest cluster.
    * maxRn=1 is the hard assignment; maxRn=2 the multi-probe soft
    * assignment (cellsOf's mirror). */
  private def assignCte(name: String, cent: String, maxRn: Int = 1,
      dims: String = "dims"): String =
    s"""${name}_d AS (
       |  SELECT d.vec_id, c.cluster, sum((d.q - c.q)*(d.q - c.q)) AS d2
       |  FROM $dims d JOIN $cent c USING (i) GROUP BY d.vec_id, c.cluster),
       |$name AS (
       |  SELECT vec_id, cluster, d2 FROM (
       |    SELECT vec_id, cluster, d2,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY d2, cluster) AS rn
       |    FROM ${name}_d) WHERE rn <= $maxRn)""".stripMargin

  /** Update CTE `name`: mean of members per (cluster, dim), HALF_UP back
    * onto the grid; empty clusters keep `prev`'s coordinate. */
  private def updateCte(name: String, assign: String, prev: String,
      dims: String = "dims"): String =
    s"""${name}_u AS (
       |  SELECT a.cluster, d.i,
       |         CAST(round(CAST(sum(d.q) AS DOUBLE)
       |                    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS q
       |  FROM $dims d JOIN $assign a USING (vec_id) GROUP BY a.cluster, d.i),
       |$name AS (
       |  SELECT p.cluster, p.i, COALESCE(u.q, p.q) AS q
       |  FROM $prev p LEFT JOIN ${name}_u u
       |    ON p.cluster = u.cluster AND p.i = u.i)""".stripMargin

  /** The shared micro-grid base (vq + dims) every unrolled mirror builds
    * on — split out so the coarse-kmeans and PQ CTE bodies can share one
    * WITH block (the IVF-PQ mirror needs both). */
  private val gridBase: String =
    s"""vq AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[],
       |                        x -> CAST(round(x * 1000000.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |dims AS (
       |  SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS q
       |  FROM vq)""".stripMargin

  /** Coarse k-means body: init, ITERS rounds, final hard (`afin`) and
    * nprobe=2 soft (`afin2`) assignments. Needs [[gridBase]]. */
  private val kmeansBody: String = {
    val rounds = (1 to ITERS).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" +
        updateCte(s"c$i", s"a$i", s"c${i - 1}")
    }.mkString(",\n")
    s"""c0_ids AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
       |  FROM (SELECT vec_id FROM vq ORDER BY vec_id LIMIT $K)),
       |c0 AS (SELECT c.cluster, d.i, d.q
       |       FROM dims d JOIN c0_ids c USING (vec_id)),
       |$rounds,
       |${assignCte("afin", s"c$ITERS")},
       |${assignCte("afin2", s"c$ITERS", maxRn = 2)}""".stripMargin
  }

  private val kmeansCtes: String = s"WITH $gridBase,\n$kmeansBody"

  /** Refit-loop CTE body (appended after [[kmeansCtes]]): the union
    * grid (drifted batch re-keyed past max(vec_id) via the voff CTE, the q_ann_staleness shift),
    * its frozen-model assignment `ua` (what build+append produced), the
    * per-cell staleness trip, the tripped cells' refit MEANS over their
    * current members, the refit centroid table `cref`, and the
    * from-scratch union assignment `refin` under c2 — the relayout
    * refitIndex must be bit-indistinguishable from. */
  private val refitCtes: String =
    s"""voff AS (SELECT max(vec_id) + 1 AS off FROM embeddings),
       |uq AS (
       |  SELECT vec_id, v FROM vq
       |  UNION ALL
       |  SELECT vec_id + (SELECT off FROM voff),
       |         list_transform(list_transform(embedding::DOUBLE[],
       |                                       x -> x + 0.25),
       |                        x -> CAST(round(x * 1000000.0) AS BIGINT))
       |  FROM embeddings WHERE vec_id % 4 = 0),
       |udims AS (
       |  SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS q
       |  FROM uq),
       |${assignCte("ua", s"c$ITERS", dims = "udims")},
       |rstat AS (SELECT cluster, count(*) AS n_ref, sum(d2) AS d2_ref
       |          FROM afin GROUP BY 1),
       |bstat AS (SELECT cluster, count(*) AS n_new, sum(d2) AS d2_new
       |          FROM ua WHERE vec_id >= (SELECT off FROM voff)
       |          GROUP BY 1),
       |stalec AS (SELECT r.cluster
       |  FROM rstat r JOIN bstat b USING (cluster)
       |  WHERE d2_ref > 0
       |    AND round((CAST(d2_new AS DOUBLE) / n_new)
       |              / (CAST(d2_ref AS DOUBLE) / n_ref), 6) > 1.5),
       |mstale AS (SELECT a.cluster, d.i,
       |    CAST(round(CAST(sum(d.q) AS DOUBLE)
       |               / CAST(count(*) AS DOUBLE)) AS BIGINT) AS q
       |  FROM udims d JOIN ua a USING (vec_id)
       |  JOIN stalec s ON a.cluster = s.cluster
       |  GROUP BY a.cluster, d.i),
       |cref AS (SELECT p.cluster, p.i, COALESCE(m.q, p.q) AS q
       |  FROM c$ITERS p LEFT JOIN mstale m
       |    ON p.cluster = m.cluster AND p.i = m.i),
       |${assignCte("refin", "cref", dims = "udims")}""".stripMargin

  // -- product quantization: per-subspace unrolled Lloyd mirrors -------

  /** The embeddings fixture is 64-dim; the Spark side derives dsub from
    * the data, so a fixture-dim drift fails the oracle loudly instead of
    * silently re-slicing. */
  private val PQ_DSUB = 16

  /** PQ body: [[gridBase]]'s dims sliced into PQ_M re-indexed subspaces,
    * each trained with its own PQ_K min-id init and ITERS assign→update
    * rounds; `pqa{s}` is subspace s's final code assignment. */
  private val pqBody: String = {
    val subs = (0 until PQ_M).map { s =>
      val lo = s * PQ_DSUB
      val hi = (s + 1) * PQ_DSUB
      val base =
        s"""sdims$s AS (
           |  SELECT vec_id, i - $lo AS i, q FROM dims
           |  WHERE i > $lo AND i <= $hi),
           |pc${s}_0 AS (SELECT c.cluster, d.i, d.q
           |             FROM sdims$s d JOIN pq0_ids c USING (vec_id))""".stripMargin
      val rounds = (1 to ITERS).map { r =>
        assignCte(s"pa${s}_$r", s"pc${s}_${r - 1}", dims = s"sdims$s") +
          ",\n" +
          updateCte(s"pc${s}_$r", s"pa${s}_$r", s"pc${s}_${r - 1}",
            dims = s"sdims$s")
      }.mkString(",\n")
      base + ",\n" + rounds + ",\n" +
        assignCte(s"pqa$s", s"pc${s}_$ITERS", dims = s"sdims$s")
    }.mkString(",\n")
    s"""pq0_ids AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
       |  FROM (SELECT vec_id FROM vq ORDER BY vec_id LIMIT $PQ_K)),
       |$subs""".stripMargin
  }

  private val pqCtes: String = s"WITH $gridBase,\n$pqBody"

  /** The ADC distance-table CTEs shared by q_pq_topk (over the whole
    * corpus), q_ivfpq_topk (over the routed candidate set), and
    * q_pq_refine (as the shortlist stage). */
  private def adcCte(from: String): String = {
    val dtabs = (0 until PQ_M).map { s =>
      s"""qsub$s AS (SELECT i, q FROM sdims$s WHERE vec_id = 0),
         |dtab$s AS (
         |  SELECT c.cluster, sum((qs.q - c.q)*(qs.q - c.q)) AS d2
         |  FROM qsub$s qs JOIN pc${s}_$ITERS c USING (i)
         |  GROUP BY c.cluster)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until PQ_M).map { s =>
      s"""  JOIN pqa$s a$s ON a$s.vec_id = a0.vec_id
         |  JOIN dtab$s t$s ON a$s.cluster = t$s.cluster""".stripMargin
    }.mkString("\n")
    val dsum = (0 until PQ_M).map(s => s"t$s.d2").mkString(" + ")
    s"""$dtabs,
       |adc AS (
       |  SELECT a0.vec_id, $dsum AS d2
       |  FROM $from a0
       |  JOIN dtab0 t0 ON a0.cluster = t0.cluster
       |$joins)""".stripMargin
  }

  private def adcTail(from: String): String =
    s"""${adcCte(from)}
       |SELECT vec_id, CAST(d2 AS BIGINT) AS d2 FROM adc
       |WHERE vec_id <> 0 ORDER BY d2, vec_id LIMIT 10""".stripMargin

  // -- BPE: unrolled merge rounds --------------------------------------

  /** Character symbols of a word-list column element (the
    * `Bpe.charSymbols` mirror), list-wrapped for the fold accumulator. */
  private def pairCte(name: String, syms: String): String =
    s"""$name AS (
       |  SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq, unnest(s[1:len(s)-1]) AS lhs, unnest(s[2:len(s)]) AS rhs
       |    FROM $syms WHERE len(s) >= 2)
       |  GROUP BY lhs, rhs)""".stripMargin

  /** `Bpe.applyMerge` mirror: left-to-right non-overlapping fold with the
    * round's (l, r) scalars in scope. Empty symbol lists short-circuit
    * (list_reduce rejects empty input; Spark's aggregate returns the
    * init). */
  private def foldSql(symsExpr: String, l: String, r: String): String =
    s"""CASE WHEN len($symsExpr) = 0 THEN []
       | ELSE list_reduce(list_transform($symsExpr, x -> [x]),
       |   (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $l AND x[1] = $r
       |               THEN acc[:len(acc)-1] || [$l || $r]
       |               ELSE acc || x END) END""".stripMargin.replace("\n", " ")

  /** r0..rN symbol tables + b1..bN best-pair rows, unrolled. */
  private val bpeCtes: String = {
    // LEFT JOIN ON TRUE, not CROSS JOIN, against the 1-row best-pair
    // CTE: a corpus exhausted before round MERGES leaves b_i EMPTY, and
    // a cross join would wipe the symbol table (and every later round)
    // — the engine's train() keeps its final symbols on early stop, so
    // the mirror must carry r_{i-1} through unchanged.
    val rounds = (1 to MERGES).map { i =>
      pairCte(s"p$i", s"r${i - 1}") + ",\n" +
        s"""b$i AS (SELECT lhs, rhs, cnt FROM p$i
           |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
           |r$i AS (SELECT word, freq,
           |  CASE WHEN b$i.lhs IS NULL THEN s
           |       ELSE ${foldSql("s", s"b$i.lhs", s"b$i.rhs")} END AS s
           |  FROM r${i - 1} LEFT JOIN b$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '$wsSql')) AS word
       |    FROM documents) GROUP BY word),
       |r0 AS (SELECT word, freq, regexp_extract_all(word, '.') AS s
       |       FROM words),
       |$rounds""".stripMargin
  }

  /** IVF probe CTEs (cell ranking, nprobe=2 candidate set) + the ranked
    * top-10 — shared by the in-plan probe, the served-layout probe, and
    * the recall evaluation. */
  /** `candFilter` narrows the candidate corpus (an extra AND clause on
    * the cands CTE) — the deleted-layout probe mirror excludes the
    * deleted ids this way while everything else stays ONE text. */
  private def ivfProbeCtes(candFilter: String = ""): String =
    s"""qv AS (SELECT v FROM vq WHERE vec_id = 0),
       |qd AS (SELECT generate_subscripts(v, 1) AS i, unnest(v) AS q
       |       FROM qv),
       |cellrank AS (
       |  SELECT c.cluster, sum((c.q - d.q)*(c.q - d.q)) AS d2
       |  FROM c$ITERS c JOIN qd d USING (i) GROUP BY c.cluster),
       |probecells AS (SELECT cluster FROM cellrank
       |               ORDER BY d2, cluster LIMIT 2),
       |qe AS (SELECT embedding::DOUBLE[] AS qdv FROM embeddings
       |       WHERE vec_id = 0),
       |cands AS (
       |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v
       |  FROM embeddings e
       |  JOIN afin a ON e.vec_id = a.vec_id
       |  JOIN probecells p ON a.cluster = p.cluster
       |  WHERE e.vec_id <> 0$candFilter),
       |ivftop AS (
       |  SELECT vec_id, round(list_dot_product(v, qdv)
       |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qdv, qdv))),
       |      6) AS cos
       |  FROM cands CROSS JOIN qe
       |  ORDER BY cos DESC, vec_id LIMIT 10)""".stripMargin

  /** IVF probe mirror: integer cell ranking off the final centroids,
    * nprobe=2 cells, exact cosine among their members — shared by the
    * in-plan filter query, the served-layout query, AND the
    * replaced-layout probe (bit-indistinguishability by shared text). */
  private val ivfKmeansSql: String =
    s"""$kmeansCtes,
       |${ivfProbeCtes()}
       |SELECT vec_id, cos FROM ivftop
       |ORDER BY cos DESC, vec_id""".stripMargin

  /** Within-cell cosine pairs off the final assignment `afin` — shared
    * by both semdedup mirrors. */
  private val semdedupPairsCte: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cpairs AS (
       |  SELECT CAST(a.cluster AS BIGINT) AS cluster,
       |         a.vec_id AS id_a, b.vec_id AS id_b,
       |         round(list_dot_product(ea.v, eb.v)
       |           / (sqrt(list_dot_product(ea.v, ea.v))
       |              * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos
       |  FROM afin a JOIN afin b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id)""".stripMargin

  /** Multi-probe (rank-2 assignment) distinct pair set off `afin2` —
    * shared by the multiprobe pairs and keep mirrors. */
  private val semdedupMultiPairsCte: String =
    s"""e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |mpairs AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |         round(list_dot_product(ea.v, eb.v)
       |           / (sqrt(list_dot_product(ea.v, ea.v))
       |              * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos
       |  FROM afin2 a JOIN afin2 b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  JOIN e2 ea ON ea.vec_id = a.vec_id
       |  JOIN e2 eb ON eb.vec_id = b.vec_id)""".stripMargin

  private val stopSql = TokenOps.sqlList(TokenOps.englishStopwords)

  /** Shared DSIR mirror: hashed-ngram bucket fit + per-doc weight sum,
    * textually mirroring [[graft.operators.Dsir.weights]] — the hash is
    * [[graft.functions.PolyHashF.polyHashSql]], the SAME definition the
    * engine's kernel documents, so drift is single-point. */
  private val dsirCtes = {
    val ph = graft.functions.PolyHashF.polyHashSql("gram")
    s"""toks AS (
       |  SELECT doc_id, lang = 'en' AS is_target,
       |         regexp_split_to_array(lower(text), '$wsSql') AS t
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, is_target, unnest(t) AS gram FROM toks
       |  UNION ALL
       |  SELECT doc_id, is_target, t[i] || ' ' || t[i + 1] AS gram
       |  FROM (SELECT doc_id, is_target, t, unnest(range(1, len(t))) AS i
       |        FROM toks)),
       |bkt AS (SELECT doc_id, is_target,
       |               $ph % $DSIR_B AS bucket FROM grams),
       |counts AS (SELECT bucket, count(*) AS r,
       |                  count(*) FILTER (WHERE is_target) AS t
       |           FROM bkt GROUP BY bucket),
       |tot AS (SELECT sum(r) AS rn, sum(t) AS tn FROM counts),
       |deltas AS (SELECT bucket,
       |    CAST(round((ln(CAST(t + 1 AS DOUBLE) / CAST(tn + $DSIR_B AS DOUBLE))
       |              - ln(CAST(r + 1 AS DOUBLE) / CAST(rn + $DSIR_B AS DOUBLE)))
       |               * 1000000000.0) AS BIGINT) AS dq
       |  FROM counts CROSS JOIN tot),
       |dc AS (SELECT doc_id, bucket, count(*) AS c FROM bkt GROUP BY 1, 2),
       |dsir_w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
       |       round(CAST(sum(c * dq) AS DOUBLE) / 1000000000.0, 6) AS logw
       |  FROM dc JOIN deltas USING (bucket) GROUP BY doc_id)""".stripMargin
  }

  /** Shared CMS mirror CTEs (end in `cm_cells(j, c, cnt)`): per-row-hash
    * cell sums over the corpus tokens, textually mirroring
    * [[graft.functions.CountMin]]'s `h_j(x) = ((2j+1)·poly_hash(x) + j)
    * mod P mod W` family — the row index j is a plain column, so one
    * grouped aggregate builds all depth rows. */
  private val cmsCtes = {
    val ph = graft.functions.PolyHashF.polyHashSql("token")
    s"""cm_toks AS (
       |  SELECT unnest(regexp_split_to_array(lower(text), '$wsSql'))
       |    AS token
       |  FROM documents),
       |cm_cells AS (
       |  SELECT j.j AS j,
       |    ((2 * j.j + 1) * $ph + j.j) % 1000000007 % $CMS_W AS c,
       |    count(*) AS cnt
       |  FROM cm_toks CROSS JOIN range($CMS_D) j(j)
       |  GROUP BY 1, 2)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_collocations" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(regexp_split_to_array(lower(text), '$wsSql')) AS tok
         |  FROM documents),
         |dfs AS (SELECT tok, count(*) AS df FROM toks
         |        GROUP BY tok HAVING count(*) >= 5),
         |nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |vt AS (SELECT t.doc_id, t.tok FROM toks t
         |       JOIN dfs ON dfs.tok = t.tok),
         |pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
         |            count(*) AS n_ab
         |          FROM vt a JOIN vt b
         |            ON a.doc_id = b.doc_id AND a.tok < b.tok
         |          GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT tok_a, tok_b, n_ab, da.df AS df_a, db.df AS df_b,
         |  CAST(round(ln(CAST(n_ab AS DOUBLE) * nn.n_docs
         |    / (da.df * db.df)) * 1e9) AS BIGINT) AS pmi_nano
         |FROM pairs
         |JOIN dfs da ON da.tok = tok_a
         |JOIN dfs db ON db.tok = tok_b
         |CROSS JOIN nn
         |ORDER BY pmi_nano DESC, tok_a, tok_b LIMIT 20""".stripMargin,

    "q_cms_cells" ->
      s"""WITH $cmsCtes,
         |grid AS (SELECT j.j AS j, c.i AS c
         |         FROM range($CMS_D) j(j) CROSS JOIN range($CMS_W) c(i))
         |SELECT CAST(grid.j * $CMS_W + grid.c AS BIGINT) AS cell_idx,
         |       CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
         |FROM grid LEFT JOIN cm_cells USING (j, c)
         |ORDER BY cell_idx""".stripMargin,

    "q_cms_estimates" -> {
      val ph = graft.functions.PolyHashF.polyHashSql("t.token")
      s"""WITH $cmsCtes,
         |truth AS (SELECT token, CAST(count(*) AS BIGINT) AS true_cnt
         |          FROM cm_toks GROUP BY token)
         |SELECT t.token, t.true_cnt, CAST(min(cl.cnt) AS BIGINT) AS est
         |FROM truth t CROSS JOIN range($CMS_D) j(j)
         |JOIN cm_cells cl ON cl.j = j.j
         |  AND cl.c = ((2 * j.j + 1) * $ph + j.j) % 1000000007 % $CMS_W
         |GROUP BY t.token, t.true_cnt
         |ORDER BY t.token""".stripMargin
    },

    "q_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_grams, logw FROM dsir_w
         |ORDER BY doc_id""".stripMargin,

    "q_dsir_select" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_grams, logw FROM dsir_w
         |ORDER BY logw DESC, doc_id LIMIT 100""".stripMargin,

    "q_dsir_sample" -> {
      val phid = graft.functions.PolyHashF.polyHashSql(
        "'g7:' || CAST(doc_id AS VARCHAR)")
      s"""WITH $dsirCtes,
         |keyed AS (SELECT doc_id, logw,
         |    CAST(round(logw * 1000000000.0) AS BIGINT)
         |    + CAST(round(-ln(-ln(CAST($phid + 1 AS DOUBLE) / 1000000008.0))
         |                 * 1000000000.0) AS BIGINT) AS key_nano
         |  FROM dsir_w)
         |SELECT doc_id, logw,
         |       round(CAST(key_nano AS DOUBLE) / 1000000000.0, 6) AS gumbel_key
         |FROM keyed ORDER BY key_nano DESC, doc_id LIMIT 100""".stripMargin
    },

    "q_curate_semantic" ->
      s"""$kmeansCtes,
         |$semdedupPairsCte,
         |qx AS (
         |  SELECT doc_id, text, source,
         |    CAST(len(regexp_split_to_array(lower(text), '$wsSql')) AS DOUBLE) AS n_tok,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '$wsSql'),
         |      t -> t IN ($stopSql))) AS DOUBLE) AS n_stop,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_char
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text, source, CAST(n_tok AS BIGINT) AS n_tokens,
         |    round(0.5 * least(n_tok / 100.0, 1.0)
         |        + 0.3 * (1.0 - n_stop / n_tok)
         |        + 0.2 * least((n_char / n_tok) / 10.0, 1.0), 6) AS quality
         |  FROM qx),
         |gated AS (SELECT * FROM scored
         |          WHERE quality >= 0.55 AND n_tokens >= 5),
         |fpx AS (SELECT doc_id, text, source, n_tokens, quality,
         |    md5(array_to_string(list_sort(list_distinct(
         |      regexp_split_to_array(lower(text), '$wsSql'))), ' ')) AS f
         |  FROM gated),
         |exact_d AS (
         |  SELECT doc_id, text, source, n_tokens, quality FROM (
         |    SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
         |    FROM fpx) WHERE rn = 1),
         |nodup AS (
         |  SELECT * FROM exact_d
         |  WHERE doc_id NOT IN (SELECT id_b FROM cpairs WHERE cos >= $SEMTAU))
         |SELECT doc_id, source, n_tokens, quality FROM (
         |  SELECT doc_id, source, n_tokens, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5('42:' || text), doc_id) AS rn
         |  FROM nodup) WHERE rn <= 15
         |ORDER BY doc_id""".stripMargin,

    // full-pipeline mirror: the q_curate_semantic chain re-rooted on
    // NFC-normalized text (DuckDB's built-in nfc_normalize over the
    // identical decomposed inject), then folds (the shared kFoldSql
    // threshold chain over the SAME normalized text), anchors derived
    // as the 3 smallest survivors, and the two banded rank windows of
    // the q_training_triplets mirror restricted to surviving embeddings
    "q_curate_full" -> {
      val nfcT = "nfc_normalize(text || ' cafe' || chr(769) || ' n' " +
        "|| chr(771) || 'o')"
      s"""$kmeansCtes,
         |$semdedupPairsCte,
         |normd AS (SELECT doc_id, $nfcT AS text, source FROM documents),
         |qx AS (
         |  SELECT doc_id, text, source,
         |    CAST(len(regexp_split_to_array(lower(text), '$wsSql')) AS DOUBLE) AS n_tok,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '$wsSql'),
         |      t -> t IN ($stopSql))) AS DOUBLE) AS n_stop,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_char
         |  FROM normd),
         |scoredq AS (
         |  SELECT doc_id, text, source, CAST(n_tok AS BIGINT) AS n_tokens,
         |    round(0.5 * least(n_tok / 100.0, 1.0)
         |        + 0.3 * (1.0 - n_stop / n_tok)
         |        + 0.2 * least((n_char / n_tok) / 10.0, 1.0), 6) AS quality
         |  FROM qx),
         |gated AS (SELECT * FROM scoredq
         |          WHERE quality >= 0.55 AND n_tokens >= 5),
         |fpx AS (SELECT doc_id, text,
         |    md5(array_to_string(list_sort(list_distinct(
         |      regexp_split_to_array(lower(text), '$wsSql'))), ' ')) AS f
         |  FROM gated),
         |exact_d AS (
         |  SELECT doc_id, text FROM (
         |    SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
         |    FROM fpx) WHERE rn = 1),
         |nodup AS (
         |  SELECT * FROM exact_d
         |  WHERE doc_id NOT IN (SELECT id_b FROM cpairs WHERE cos >= $SEMTAU)),
         |folds AS (SELECT doc_id,
         |    ${graft.operators.Sampling.kFoldSql("text", 5)} AS fold
         |  FROM nodup),
         |anch AS (SELECT doc_id AS anchor_id FROM nodup
         |         ORDER BY doc_id LIMIT 3),
         |se AS (SELECT e2x.vec_id, e2x.embedding::DOUBLE[] AS v
         |       FROM embeddings e2x JOIN nodup s ON e2x.vec_id = s.doc_id),
         |qa AS (SELECT anchor_id, v AS qv FROM anch
         |       JOIN se ON se.vec_id = anch.anchor_id),
         |scoredc AS (SELECT anchor_id, vec_id,
         |    round(list_dot_product(v, qv)
         |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
         |  FROM se CROSS JOIN qa WHERE vec_id <> anchor_id),
         |posx AS (SELECT anchor_id, 'positive' AS role, rank, vec_id, cos
         |  FROM (SELECT anchor_id, vec_id, cos,
         |      row_number() OVER (PARTITION BY anchor_id
         |        ORDER BY cos DESC, vec_id) AS rank
         |    FROM scoredc WHERE cos >= 0.5 AND cos < 1.1)
         |  WHERE rank <= 1),
         |negx AS (SELECT anchor_id, 'negative' AS role, rank, vec_id, cos
         |  FROM (SELECT anchor_id, vec_id, cos,
         |      row_number() OVER (PARTITION BY anchor_id
         |        ORDER BY cos DESC, vec_id) AS rank
         |    FROM scoredc WHERE cos >= 0.15 AND cos < 0.5)
         |  WHERE rank <= 3)
         |SELECT anchor_id, role, CAST(rank AS BIGINT) AS rank, t.vec_id,
         |  f.fold, cos
         |FROM (SELECT * FROM posx UNION ALL SELECT * FROM negx) t
         |JOIN folds f ON t.vec_id = f.doc_id
         |ORDER BY anchor_id, role, rank""".stripMargin
    },

    "q_semdedup_pairs" ->
      s"""$kmeansCtes,
         |$semdedupPairsCte
         |SELECT cluster, id_a, id_b, cos FROM cpairs
         |WHERE cos >= $SEMTAU ORDER BY id_a, id_b""".stripMargin,

    "q_semdedup_keep" ->
      s"""$kmeansCtes,
         |$semdedupPairsCte
         |SELECT f.vec_id, CAST(f.cluster AS BIGINT) AS cluster
         |FROM afin f
         |WHERE f.vec_id NOT IN
         |  (SELECT id_b FROM cpairs WHERE cos >= $SEMTAU)
         |ORDER BY f.vec_id""".stripMargin,

    // transitive closure over the semantic pair set — the leading WITH
    // gains RECURSIVE (harmless for the non-recursive CTEs ahead of
    // `reach`), then min-reachable-id labels each component
    "q_semdedup_groups" ->
      s"""${kmeansCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$semdedupPairsCte,
         |p2 AS (SELECT id_a, id_b FROM cpairs WHERE cos >= $SEMTAU),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p2
         |          UNION SELECT id_b, id_a FROM p2),
         |reach AS (SELECT vec_id AS id, vec_id AS r FROM embeddings
         |          UNION SELECT reach.id, edges.dst
         |                FROM reach JOIN edges ON reach.r = edges.src)
         |SELECT id AS vec_id, min(r) AS component
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    "q_semdedup_multiprobe" ->
      s"""$kmeansCtes,
         |$semdedupMultiPairsCte
         |SELECT id_a, id_b, cos FROM mpairs
         |WHERE cos >= $SEMTAU ORDER BY id_a, id_b""".stripMargin,

    "q_semdedup_keep_mp" ->
      s"""$kmeansCtes,
         |$semdedupMultiPairsCte
         |SELECT f.vec_id, CAST(f.cluster AS BIGINT) AS cluster
         |FROM afin f
         |WHERE f.vec_id NOT IN
         |  (SELECT id_b FROM mpairs WHERE cos >= $SEMTAU)
         |ORDER BY f.vec_id""".stripMargin,

    // corpus = vec_id % 20 != 0, benchmark = % 20 == 0; a corpus vector
    // is contaminated iff it shares a rank<=2 probe cell (afin2) with a
    // benchmark vector at cos >= SEMTAU. NOT EXISTS (the anti-join
    // form), keeping the cross-engine null contract of q_decontaminate.
    "q_decontaminate_sem" ->
      s"""$kmeansCtes,
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cont AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM afin2 a JOIN afin2 b ON a.cluster = b.cluster
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
         |    AND round(list_dot_product(ea.v, eb.v)
         |      / (sqrt(list_dot_product(ea.v, ea.v))
         |         * sqrt(list_dot_product(eb.v, eb.v))), 6) >= $SEMTAU)
         |SELECT d.vec_id FROM embeddings d
         |WHERE d.vec_id % 20 <> 0
         |  AND NOT EXISTS (SELECT 1 FROM cont c WHERE c.vec_id = d.vec_id)
         |ORDER BY d.vec_id""".stripMargin,

    // positives off the shared cpairs CTE; probes are the same three
    // id offsets; both metrics on the 1e-9 grid from the rounded cosine
    "q_embed_quality" ->
      s"""$kmeansCtes,
         |$semdedupPairsCte,
         |pq AS (SELECT CAST(round((2.0 - 2.0 * cos) * 1e9) AS BIGINT)
         |         AS dq
         |       FROM cpairs WHERE cos >= $SEMTAU),
         |al AS (SELECT count(*) AS n_pos,
         |    CAST(sum(dq) AS DOUBLE) / 1e9 / count(*) AS alignment
         |  FROM pq),
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pr AS (
         |  SELECT CAST(round(exp(-2.0 * (2.0 - 2.0 *
         |      round(list_dot_product(a.v, b.v)
         |        / (sqrt(list_dot_product(a.v, a.v))
         |           * sqrt(list_dot_product(b.v, b.v))), 6))) * 1e9)
         |      AS BIGINT) AS uq
         |  FROM (SELECT unnest([137, 211, 389]) AS o) offs
         |  JOIN ev a ON TRUE
         |  JOIN ev b ON b.vec_id = a.vec_id + offs.o),
         |un AS (SELECT count(*) AS n_probe,
         |    ln(CAST(sum(uq) AS DOUBLE) / 1e9 / count(*)) AS uniformity
         |  FROM pr)
         |SELECT CAST(al.n_pos AS BIGINT) AS n_pos,
         |  round(al.alignment, 6) AS alignment,
         |  CAST(un.n_probe AS BIGINT) AS n_probe,
         |  round(un.uniformity, 6) AS uniformity
         |FROM al CROSS JOIN un""".stripMargin,

    // the served takedown list: corpus hard assignment (afin) × eval
    // rank<=2 probes (afin2) — the layout-prunable contract
    "q_decontaminate_sem_srv" ->
      s"""$kmeansCtes,
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT DISTINCT a.vec_id
         |FROM afin a JOIN afin2 b ON a.cluster = b.cluster
         |JOIN e ea ON ea.vec_id = a.vec_id
         |JOIN e eb ON eb.vec_id = b.vec_id
         |WHERE a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
         |  AND round(list_dot_product(ea.v, eb.v)
         |    / (sqrt(list_dot_product(ea.v, ea.v))
         |       * sqrt(list_dot_product(eb.v, eb.v))), 6) >= $SEMTAU
         |ORDER BY a.vec_id""".stripMargin,

    "q_semdedup_incr" ->
      s"""$kmeansCtes,
         |$semdedupPairsCte
         |SELECT f.vec_id, CAST(f.cluster AS BIGINT) AS cluster
         |FROM afin f
         |WHERE f.vec_id > (SELECT max(vec_id) // 2 FROM embeddings)
         |  AND f.vec_id NOT IN
         |    (SELECT id_b FROM cpairs WHERE cos >= $SEMTAU)
         |ORDER BY f.vec_id""".stripMargin,

    // served-layout twin: the SAME full-rebuild mirror — in-plan,
    // partition-pruned-index, and rebuild forms must agree bit-exactly
    "q_semdedup_incr_srv" ->
      s"""$kmeansCtes,
         |$semdedupPairsCte
         |SELECT f.vec_id, CAST(f.cluster AS BIGINT) AS cluster
         |FROM afin f
         |WHERE f.vec_id > (SELECT max(vec_id) // 2 FROM embeddings)
         |  AND f.vec_id NOT IN
         |    (SELECT id_b FROM cpairs WHERE cos >= $SEMTAU)
         |ORDER BY f.vec_id""".stripMargin,

    "q_cluster_cap" ->
      s"""$kmeansCtes
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM (
         |  SELECT a.vec_id, a.cluster,
         |         row_number() OVER (PARTITION BY a.cluster
         |           ORDER BY md5('42:' || CAST(a.vec_id AS VARCHAR)),
         |                    a.vec_id) AS rn
         |  FROM afin a)
         |WHERE rn <= 40 ORDER BY vec_id""".stripMargin,

    "q_kmeans_inertia" ->
      s"""$kmeansCtes
         |SELECT CAST(cluster AS BIGINT) AS cluster,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(d2) AS BIGINT) AS inertia,
         |       round(CAST(sum(d2) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |         AS mean_d2
         |FROM afin GROUP BY cluster ORDER BY cluster""".stripMargin,

    "q_ivf_recall" ->
      s"""$kmeansCtes,
         |${ivfProbeCtes()},
         |brutetop AS (
         |  SELECT e.vec_id, round(list_dot_product(e.v, qe.qdv)
         |      / (sqrt(list_dot_product(e.v, e.v))
         |         * sqrt(list_dot_product(qe.qdv, qe.qdv))), 6) AS cos
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |        WHERE vec_id <> 0) e
         |  CROSS JOIN qe
         |  ORDER BY cos DESC, vec_id LIMIT 10)
         |SELECT CAST(10 AS BIGINT) AS k,
         |       CAST(count(*) AS BIGINT) AS hits,
         |       round(CAST(count(*) AS DOUBLE) / 10.0, 6) AS recall
         |FROM ivftop JOIN brutetop USING (vec_id)""".stripMargin,

    "q_kmeans_assign" ->
      s"""$kmeansCtes
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
         |       CAST(d2 AS BIGINT) AS dist2
         |FROM afin ORDER BY vec_id""".stripMargin,

    // the refit census: from-scratch assignment of the union under the
    // refit centroids — refitIndex's bit-equivalence contract
    "q_ivf_refit" ->
      s"""$kmeansCtes,
         |$refitCtes
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cell
         |FROM refin ORDER BY vec_id""".stripMargin,

    // recall@10 for the drifted query (id = the voff offset) probed under the
    // refit model vs brute force over the union — the q_ivf_recall
    // pattern with c2/refin standing in for the build-time model/layout
    "q_ann_refit_recall" ->
      s"""$kmeansCtes,
         |$refitCtes,
         |qd2 AS (SELECT i, q FROM udims
         |        WHERE vec_id = (SELECT off FROM voff)),
         |qc2 AS (SELECT c.cluster, sum((d.q - c.q)*(d.q - c.q)) AS d2
         |        FROM qd2 d JOIN cref c USING (i) GROUP BY c.cluster),
         |probed2 AS (SELECT cluster FROM qc2 ORDER BY d2, cluster LIMIT 2),
         |ud AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + (SELECT off FROM voff),
         |         list_transform(embedding::DOUBLE[], x -> x + 0.25)
         |  FROM embeddings WHERE vec_id % 4 = 0),
         |qdv2 AS (SELECT v AS qdv FROM ud
         |         WHERE vec_id = (SELECT off FROM voff)),
         |ivftop2 AS (
         |  SELECT u.vec_id, round(list_dot_product(u.v, q.qdv)
         |      / (sqrt(list_dot_product(u.v, u.v))
         |         * sqrt(list_dot_product(q.qdv, q.qdv))), 6) AS cos
         |  FROM ud u JOIN refin r USING (vec_id) CROSS JOIN qdv2 q
         |  WHERE r.cluster IN (SELECT cluster FROM probed2)
         |    AND u.vec_id <> (SELECT off FROM voff)
         |  ORDER BY cos DESC, u.vec_id LIMIT 10),
         |brute2 AS (
         |  SELECT u.vec_id, round(list_dot_product(u.v, q.qdv)
         |      / (sqrt(list_dot_product(u.v, u.v))
         |         * sqrt(list_dot_product(q.qdv, q.qdv))), 6) AS cos
         |  FROM ud u CROSS JOIN qdv2 q
         |  WHERE u.vec_id <> (SELECT off FROM voff)
         |  ORDER BY cos DESC, u.vec_id LIMIT 10)
         |SELECT CAST(10 AS BIGINT) AS k,
         |       CAST(count(*) AS BIGINT) AS hits,
         |       round(CAST(count(*) AS DOUBLE) / 10.0, 6) AS recall
         |FROM ivftop2 JOIN brute2 USING (vec_id)""".stripMargin,

    "q_kmeans_centroids" ->
      s"""$kmeansCtes
         |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(i AS BIGINT) AS dim,
         |       CAST(q AS BIGINT) AS q
         |FROM c$ITERS ORDER BY cluster, dim""".stripMargin,

    "q_pq_codes" ->
      s"""$pqCtes
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub,
         |       CAST(code AS BIGINT) AS code
         |FROM (${(0 until PQ_M).map(s =>
               s"SELECT vec_id, $s AS sub, cluster AS code FROM pqa$s")
               .mkString(" UNION ALL ")})
         |ORDER BY vec_id, sub""".stripMargin,

    "q_pq_topk" ->
      s"""$pqCtes,
         |${adcTail("pqa0")}""".stripMargin,

    // IVF-PQ (FAISS's IVFADC shape, non-residual variant: codes are over
    // the raw vectors, documented in operators/Pq): coarse-route the
    // query to its NPROBE nearest cells, ADC-score only those cells'
    // members.
    "q_ivfpq_topk" ->
      s"""WITH $gridBase,
         |$kmeansBody,
         |$pqBody,
         |qcell AS (
         |  SELECT c.cluster, sum((d.q - c.q)*(d.q - c.q)) AS d2
         |  FROM (SELECT i, q FROM dims WHERE vec_id = 0) d
         |  JOIN c$ITERS c USING (i) GROUP BY c.cluster),
         |probed AS (SELECT cluster FROM qcell ORDER BY d2, cluster LIMIT 2),
         |cand AS (SELECT vec_id FROM afin
         |         WHERE cluster IN (SELECT cluster FROM probed)),
         |${adcTail("(SELECT p.* FROM pqa0 p JOIN cand USING (vec_id))")}""".stripMargin,

    "q_pq_refine" ->
      s"""$pqCtes,
         |${adcCte("pqa0")},
         |shortl AS (SELECT vec_id FROM adc WHERE vec_id <> 0
         |           ORDER BY d2, vec_id LIMIT 50),
         |exact AS (SELECT d.vec_id, sum((d.q - q.q)*(d.q - q.q)) AS d2
         |          FROM dims d
         |          JOIN (SELECT i, q FROM dims WHERE vec_id = 0) q USING (i)
         |          JOIN shortl USING (vec_id)
         |          GROUP BY d.vec_id)
         |SELECT vec_id, CAST(d2 AS BIGINT) AS d2 FROM exact
         |ORDER BY d2, vec_id LIMIT 10""".stripMargin,

    "q_ivf_kmeans_topk" -> ivfKmeansSql,

    // served layout must equal the in-plan filter form — same mirror
    "q_ivf_kmeans_served" -> ivfKmeansSql,

    // staleness mirror: the shifted batch re-quantized and assigned
    // under the SAME final centroids (one extra assignCte over shifted
    // dims), then the per-cell mean-d2 ratio off exact integer sums;
    // ratio rounds to 6dp BEFORE the 1.5 trip comparison on both
    // engines
    "q_ann_staleness" ->
      s"""$kmeansCtes,
         |stvq AS (
         |  SELECT vec_id,
         |         list_transform(embedding::DOUBLE[],
         |             x -> CAST(round((x + 0.25) * 1000000.0) AS BIGINT)) AS v
         |  FROM embeddings WHERE vec_id % 4 = 0),
         |stdims AS (
         |  SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS q
         |  FROM stvq),
         |${assignCte("anew", s"c$ITERS", dims = "stdims")},
         |refc AS (SELECT cluster, count(*) AS n_ref, sum(d2) AS d2_ref
         |         FROM afin GROUP BY cluster),
         |newc AS (SELECT cluster, count(*) AS n_new, sum(d2) AS d2_new
         |         FROM anew GROUP BY cluster),
         |sel AS (
         |  SELECT r.cluster AS cluster, r.n_ref AS n_ref,
         |         COALESCE(n.n_new, 0) AS n_new,
         |         CASE WHEN n.n_new IS NOT NULL AND r.d2_ref > 0
         |           THEN round((CAST(n.d2_new AS DOUBLE) / CAST(n.n_new AS DOUBLE))
         |                    / (CAST(r.d2_ref AS DOUBLE) / CAST(r.n_ref AS DOUBLE)), 6)
         |           ELSE 0.0 END AS drift_ratio
         |  FROM refc r LEFT JOIN newc n ON r.cluster = n.cluster)
         |SELECT CAST(cluster AS BIGINT) AS cluster,
         |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_new AS BIGINT) AS n_new,
         |  drift_ratio,
         |  CAST(CASE WHEN drift_ratio > 1.5 THEN 1 ELSE 0 END AS BIGINT)
         |    AS stale
         |FROM sel ORDER BY cluster""".stripMargin,

    // delete-lifecycle census: from-scratch assignment of the SURVIVING
    // corpus (the quantizer stays the full-corpus fit — frozen
    // centroids are the lifecycle contract, so afin is unchanged and
    // only the row set shrinks)
    "q_ivf_deleted" ->
      s"""$kmeansCtes
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cell
         |FROM afin WHERE vec_id % 7 <> 3 ORDER BY vec_id""".stripMargin,

    // deleted-layout probe: the shared probe text with the deleted ids
    // excluded from the candidate corpus only
    "q_ivf_del_topk" ->
      s"""$kmeansCtes,
         |${ivfProbeCtes(" AND e.vec_id % 7 <> 3")}
         |SELECT vec_id, cos FROM ivftop
         |ORDER BY cos DESC, vec_id""".stripMargin,

    // replace-lifecycle census: the NEVER-CORRUPTED from-scratch
    // assignment (same afin rows q_kmeans_assign checks) — the replaced
    // layout must be bit-indistinguishable from a clean build
    "q_ivf_replaced" ->
      s"""$kmeansCtes
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cell
         |FROM afin ORDER BY vec_id""".stripMargin,

    // replaced-layout probe: LITERALLY the served mirror text
    "q_ivf_repl_topk" -> ivfKmeansSql,

    // served-layout hard negatives: per-anchor probed cells off the
    // SAME unrolled-Lloyd centroids (integer cell ranking, rank ≤ 2),
    // exact cosine band + per-anchor top-5 among probed members only —
    // the probe trade itself is what the oracle checks
    "q_hard_negatives_ivf" ->
      s"""$kmeansCtes,
         |aqd AS (SELECT vec_id AS anchor_id, i, q FROM dims
         |        WHERE vec_id IN (0, 1, 2)),
         |cellrank2 AS (
         |  SELECT d.anchor_id, c.cluster,
         |         sum((c.q - d.q) * (c.q - d.q)) AS d2
         |  FROM c$ITERS c JOIN aqd d USING (i)
         |  GROUP BY d.anchor_id, c.cluster),
         |aprobe AS (SELECT anchor_id, cluster FROM (
         |    SELECT anchor_id, cluster,
         |           row_number() OVER (PARTITION BY anchor_id
         |             ORDER BY d2, cluster) AS rn
         |    FROM cellrank2) WHERE rn <= 2),
         |ae AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av
         |       FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |acands AS (
         |  SELECT p.anchor_id, e.vec_id, e.embedding::DOUBLE[] AS v
         |  FROM embeddings e
         |  JOIN afin a ON e.vec_id = a.vec_id
         |  JOIN aprobe p ON a.cluster = p.cluster
         |  WHERE e.vec_id <> p.anchor_id),
         |ascore AS (
         |  SELECT c.anchor_id, c.vec_id,
         |    round(list_dot_product(v, av)
         |      / (sqrt(list_dot_product(v, v))
         |         * sqrt(list_dot_product(av, av))), 6) AS cos
         |  FROM acands c JOIN ae USING (anchor_id)),
         |ar AS (SELECT anchor_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cos DESC, vec_id) AS rank
         |  FROM ascore WHERE cos >= 0.15 AND cos < 0.5)
         |SELECT anchor_id, vec_id, cos, CAST(rank AS BIGINT) AS rank
         |FROM ar WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,

    "q_bigram_nll" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '$wsSql') AS t
         |  FROM documents),
         |seq AS (SELECT doc_id, generate_subscripts(t, 1) AS i,
         |               unnest(t) AS token FROM toks),
         |wp AS (SELECT s.doc_id, s.token, p.token AS prev
         |       FROM seq s LEFT JOIN seq p
         |         ON p.doc_id = s.doc_id AND p.i = s.i - 1),
         |counts AS (SELECT token, count(*) AS c FROM seq GROUP BY token),
         |stats AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
         |bc AS (SELECT prev, token, count(*) AS cb FROM wp
         |       WHERE prev IS NOT NULL GROUP BY 1, 2),
         |hc AS (SELECT prev, sum(cb) AS ch FROM bc GROUP BY prev),
         |scored AS (
         |  SELECT w.doc_id,
         |    CAST(round(-ln(
         |      CASE WHEN w.prev IS NULL
         |        THEN CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)
         |        ELSE 0.5 * COALESCE(CAST(cb AS DOUBLE)
         |                            / CAST(ch AS DOUBLE), 0.0)
         |             + 0.5 * (CAST(c + 1 AS DOUBLE)
         |                      / CAST(n + v AS DOUBLE)) END)
         |      * 1000000000.0) AS BIGINT) AS nq
         |  FROM wp w JOIN counts USING (token)
         |  LEFT JOIN bc ON bc.prev = w.prev AND bc.token = w.token
         |  LEFT JOIN hc ON hc.prev = w.prev
         |  CROSS JOIN stats)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(nq) AS DOUBLE) / 1000000000.0
         |             / CAST(count(*) AS DOUBLE), 6) AS nll
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // MLE p over the group's support, add-one-smoothed global q; each
    // p·ln(·) term quantizes to the 1e-9 grid before its per-group sum
    "q_source_kl" ->
      s"""WITH toks AS (
         |  SELECT source AS g,
         |    unnest(regexp_split_to_array(lower(text), '$wsSql')) AS token
         |  FROM documents),
         |gc AS (SELECT g, token, count(*) AS cs FROM toks GROUP BY 1, 2),
         |gl AS (SELECT token, sum(cs) AS cg FROM gc GROUP BY token),
         |st AS (SELECT sum(cg) AS nn, count(*) AS v FROM gl),
         |gn AS (SELECT g, sum(cs) AS ns FROM gc GROUP BY g),
         |t AS (SELECT gc.g, gn.ns,
         |    CAST(gc.cs AS DOUBLE) / CAST(gn.ns AS DOUBLE) AS p,
         |    CAST(gl.cg + 1 AS DOUBLE) / CAST(st.nn + st.v AS DOUBLE) AS q
         |  FROM gc JOIN gl USING (token) JOIN gn USING (g) CROSS JOIN st),
         |terms AS (SELECT g, ns,
         |    CAST(round(-(p * ln(p)) * 1000000000.0) AS BIGINT) AS th,
         |    CAST(round(-(p * ln(q)) * 1000000000.0) AS BIGINT) AS tce,
         |    CAST(round(p * ln(p / q) * 1000000000.0) AS BIGINT) AS tkl
         |  FROM t)
         |SELECT g AS source, CAST(max(ns) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(th) AS DOUBLE) / 1000000000.0, 6) AS entropy,
         |  round(CAST(sum(tce) AS DOUBLE) / 1000000000.0, 6)
         |    AS cross_entropy,
         |  round(CAST(sum(tkl) AS DOUBLE) / 1000000000.0, 6) AS kl_nats
         |FROM terms GROUP BY g ORDER BY source""".stripMargin,

    // q_bigram_nll's counting CTEs + the two KN type tables: n1h rides
    // hc's groupBy, cc/n1 are continuation-type counts off the bigram
    // TYPE table. Every scored bigram is a fitted event, so ch and n1c
    // are non-null on the prev-non-null branch (the COALESCEs cover
    // doc-initial rows only).
    "q_kneser_ney" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '$wsSql') AS t
         |  FROM documents),
         |seq AS (SELECT doc_id, generate_subscripts(t, 1) AS i,
         |               unnest(t) AS token FROM toks),
         |wp AS (SELECT s.doc_id, s.token, p.token AS prev
         |       FROM seq s LEFT JOIN seq p
         |         ON p.doc_id = s.doc_id AND p.i = s.i - 1),
         |counts AS (SELECT token, count(*) AS c FROM seq GROUP BY token),
         |stats AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
         |bc AS (SELECT prev, token, count(*) AS cb FROM wp
         |       WHERE prev IS NOT NULL GROUP BY 1, 2),
         |hc AS (SELECT prev, sum(cb) AS ch, count(*) AS n1h
         |       FROM bc GROUP BY prev),
         |cc AS (SELECT token, count(*) AS n1c FROM bc GROUP BY token),
         |n1 AS (SELECT count(*) AS n1tot FROM bc),
         |scored AS (
         |  SELECT w.doc_id,
         |    CAST(round(-ln(
         |      CASE WHEN w.prev IS NULL
         |        THEN CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)
         |        ELSE greatest(CAST(cb AS DOUBLE) - 0.75, 0.0)
         |               / CAST(ch AS DOUBLE)
         |             + (0.75 * CAST(n1h AS DOUBLE) / CAST(ch AS DOUBLE))
         |               * (CAST(COALESCE(n1c, 0) AS DOUBLE)
         |                  / CAST(n1tot AS DOUBLE)) END)
         |      * 1000000000.0) AS BIGINT) AS nq
         |  FROM wp w JOIN counts USING (token)
         |  LEFT JOIN bc ON bc.prev = w.prev AND bc.token = w.token
         |  LEFT JOIN hc ON hc.prev = w.prev
         |  LEFT JOIN cc ON cc.token = w.token
         |  CROSS JOIN stats CROSS JOIN n1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(nq) AS DOUBLE) / 1000000000.0
         |             / CAST(count(*) AS DOUBLE), 6) AS nll
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_unigram_nll" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(regexp_split_to_array(lower(text), '$wsSql')) AS token
         |  FROM documents),
         |counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
         |stats AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
         |scored AS (
         |  SELECT t.doc_id,
         |         CAST(round(-ln(CAST(c + 1 AS DOUBLE)
         |                        / CAST(n + v AS DOUBLE))
         |                    * 1000000000.0) AS BIGINT) AS nq
         |  FROM toks t JOIN counts USING (token) CROSS JOIN stats)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(nq) AS DOUBLE) / 1000000000.0
         |             / CAST(count(*) AS DOUBLE), 6) AS nll
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH words AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(lower(text), '$wsSql')) AS word
         |    FROM documents) GROUP BY word),
         |syms AS (SELECT word, freq, regexp_extract_all(word, '.') AS s
         |         FROM words),
         |${pairCte("pairs", "syms")}
         |SELECT lhs, rhs, cnt FROM pairs
         |ORDER BY cnt DESC, lhs, rhs""".stripMargin,

    "q_bpe_merges" ->
      s"""$bpeCtes
         |${(1 to MERGES).map(i =>
              s"SELECT CAST($i AS BIGINT) AS rank, lhs, rhs, cnt FROM b$i")
             .mkString("\nUNION ALL\n")}
         |ORDER BY rank""".stripMargin,

    // Encoding a corpus document ≡ concatenating its words' final symbol
    // sequences (every corpus word is in the trained vocabulary), so the
    // mirror joins doc words against the round-$MERGES symbol table
    // instead of re-nesting the fold 8 levels deep per word.
    "q_bpe_encode" ->
      s"""$bpeCtes,
         |docw AS (
         |  SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS word
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(lower(text), '$wsSql') AS ws
         |        FROM documents)),
         |enc AS (
         |  SELECT doc_id, flatten(list(s ORDER BY wi)) AS tokens
         |  FROM docw JOIN r$MERGES USING (word) GROUP BY doc_id)
         |SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_bpe_tokens,
         |       array_to_string(tokens[1:5], ' ') AS head_tokens
         |FROM enc ORDER BY doc_id""".stripMargin,

    // q_bpe_encode's enc CTE joined back to lang/length — the same
    // trained symbol table, aggregated to the per-language budget
    "q_token_fertility" ->
      s"""$bpeCtes,
         |docw AS (
         |  SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS word
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(lower(text), '$wsSql') AS ws
         |        FROM documents)),
         |enc AS (
         |  SELECT doc_id, sum(len(s)) AS ntok
         |  FROM docw JOIN r$MERGES USING (word) GROUP BY doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(sum(length(text)) AS DOUBLE)
         |        / CAST(sum(ntok) AS DOUBLE), 6) AS chars_per_token
         |FROM enc JOIN documents USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin
  )
}
