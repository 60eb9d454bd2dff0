package graft

/** Physical-plan assertions: the properties that keep these operators
  * viable at 100 TB (pushdown, pruning, broadcast, no stray shuffles).
  * `.explain("formatted")`-style checks pinned as tests so a regression
  * in plan shape fails CI, not the cluster. */
class PlanSpec extends SparkSpec {

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q_scan_project pushes the shipdate filter into the parquet scan") {
    val plan = formatted("q_scan_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n$plan")
  }

  test("q_scan_project prunes to the 4 referenced columns") {
    val plan = formatted("q_scan_project")
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads unpruned columns: $readSchema")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"))
  }

  test("q_dropna pushes IsNotNull predicates to the scan") {
    val plan = formatted("q_dropna")
    assert(plan.contains("PushedFilters: [IsNotNull"),
      s"no IsNotNull pushdown:\n$plan")
  }

  test("q_groupby_count uses partial+final hash aggregation") {
    val plan = formatted("q_groupby_count")
    assert(plan.contains("HashAggregate"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final agg:\n$plan")
  }

  test("q_tfidf_topk broadcasts the document-frequency side") {
    val plan = formatted("q_tfidf_topk")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), s"df side not broadcast:\n$plan")
  }

  test("q_interval_join is an equi-join on the key, never a nested loop") {
    val plan = formatted("q_interval_join")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"range predicate degraded the join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a keyed join:\n$plan")
  }

  test("q_redact stays a single narrow projection over the scan") {
    val plan = formatted("q_redact")
    // only the trailing orderBy's range exchange is allowed — the scrub
    // itself must never hash-shuffle
    assert(!plan.contains("hashpartitioning"), s"unexpected shuffle:\n$plan")
    assert(plan.contains("Scan parquet") && plan.contains("Project"), plan)
  }

  test("no query plans a cartesian/nested-loop join, except the documented few") {
    // The scale gate, applied to EVERY declared query: a range predicate
    // that degrades to BroadcastNestedLoopJoin or a missing equi-key
    // producing CartesianProduct is exactly the class of 100TB-killer
    // this net exists to catch when the NEXT query is added.
    val allowed = Set(
      // exact all-pairs near-dup: deliberate verification-scale O(n²)
      // cross join; the scale-safe sibling is q_ann_neardup_pairs
      "q_embed_neardup",
      // 1-row broadcast scalar joins: nested-loop over a single
      // broadcast row is the intended plan (no join key exists) —
      // a query vector / the corpus count for IDF / BM25 corpus stats
      // (q_hybrid_rrf contains both the BM25 and cosine scalar joins)
      "q_cosine_topk", "q_tfidf_topk", "q_bm25_topk", "q_hybrid_rrf",
      "q_bm25_postings_topk", "q_bm25_incr_topk", "q_bm25_del_topk",
      "q_bm25_repl_topk", "q_prf_topk", "q_prf_topk_srv",
      "q_prf_repl_topk",
      // the eval inherits the hybrid/rerank scalar joins above plus its
      // own 1-row n_relevant frame — all broadcast single rows; the MMR
      // candidate list comes from the same fused pipeline; the nDCG
      // variant shares evalLists and adds only the 1-row idcg frame
      "q_retrieval_eval", "q_retrieval_ndcg", "q_mmr_select",
      // same 1-row scalar-join shape: the (N, V) corpus-stats row for
      // the smoothed unigram probabilities / the BM25-stats + query-
      // vector rows inside the rerank's feature computation / the
      // query vector against the kmeans-IVF probed cells
      "q_unigram_nll", "q_rerank_linear", "q_ivf_kmeans_topk",
      // same 1-row scalar joins: the bigram model's (N, V) stats row;
      // the upsert's max-key base row for keyed-past-max inserts (the
      // CDC form carries the same 1-row insert-key base frame)
      "q_bigram_nll", "q_merge_upsert", "q_cdc_apply",
      // Kneser-Ney adds the 1-row N1+(··) frame beside the (N, V) stats
      // row; kappa crosses its two 1-row summaries (totals × margin
      // products); the divergence readout carries the same (N, V) row;
      // embed-quality crosses its two 1-row metric summaries
      // (alignment × uniformity)
      "q_kneser_ney", "q_cohens_kappa", "q_source_kl", "q_embed_quality",
      // recall eval joins the IVF and brute-force top-10s — both carry
      // the 1-row query-vector scalar join by construction; the
      // matryoshka curve is four such brute-force scans (full + 3
      // truncation budgets), each with its own 1-row query join
      "q_ivf_recall", "q_matryoshka_recall", "q_int8_recall",
      // the refit-loop recall eval carries the same brute-force /
      // probe 1-row query-vector scalar joins as q_ivf_recall
      "q_ann_refit_recall",
      // the 1-row (N, k) class-totals frame broadcast over the
      // label-cardinality counts — the scalar-join shape
      "q_class_weights",
      // the global median / MAD stats rows broadcast back as 1-row
      // scalar joins (no join key exists)
      "q_robust_outliers",
      // Q22's (Σbal, n) average-threshold row — the same 1-row scalar
      // broadcast; the anti join itself stays an equi-join
      "q_sales_opportunity",
      // Q15's 1-row global-max revenue row broadcast over the
      // supplier-sized aggregate — the same no-join-key scalar shape
      "q_top_supplier",
      // Q11's 1-row (total, n) summary broadcast over the part-sized
      // value aggregate — the HAVING-over-scalar decorrelation
      "q_important_parts",
      // the 1-row user-count frame broadcast over the ≤10-row pair
      // table for support/lift — the scalar-join shape again
      "q_assoc_rules",
      // the degenerate short-string bucket (strings < q·d chars, where
      // no exact gram filter exists) plans its length-banded non-equi
      // pairing as a nested loop — EMPTY on this corpus (min name length
      // 7) and loudly count-guarded in FuzzyJoin before it can run.
      // q_fuzzy_customer is deliberately NOT here: its deletion-
      // neighborhood join is a pure equi-join and must stay one.
      "q_fuzzy_pairs", "q_fuzzy_groups",
      // Jaro-Winkler is O(dict²) BY DOCUMENTED CONTRACT (no exact
      // blocking exists — transpositions see through gram scrambles);
      // the cross join runs over the vocabulary-sized dictionary under
      // jaroWinklerPairs' loud guard
      "q_fuzzy_jw",
      // DSIR's bucket-delta fit joins the 1-row (rn, tn) totals frame
      // back over the B-row counts — the same no-join-key scalar
      // broadcast shape as the BM25/unigram stats rows
      "q_dsir_weights", "q_dsir_select", "q_dsir_sample",
      // the 1-row Count-Min sketch frame broadcasts back over the exact
      // truth table for the estimate-vs-true compare — the same
      // no-join-key scalar-broadcast shape as the stats rows above
      "q_cms_estimates",
      // docKeywords' 1-row corpus-count frame (idf's N) broadcast over
      // the (doc, token) tf table — the scalar-join shape again
      "q_doc_keywords",
      // boilerplate's 1-row corpus-count frame (the ceil(frac·N)
      // threshold) broadcast over the line-vocabulary df table
      "q_boilerplate",
      // hardNegatives broadcasts the BOUNDED anchor set (≤ maxAnchors,
      // loudly guarded) over one corpus scan — a deliberate k-row
      // nested loop, the same shape as the query-vector scalar joins;
      // the triplet assembly runs that verb twice (positive band +
      // negative band)
      "q_hard_negatives", "q_training_triplets",
      // the full curation pipeline ends in the same twice-run banded
      // verb, anchored at the 3 smallest SURVIVING ids
      "q_curate_full",
      // PMI's 1-row corpus-size frame (n_docs) broadcast over the
      // vocabulary-sized pair table — the same scalar-join shape
      "q_collocations",
      // the trained language-ID grid: the L-row (7-language) defaults
      // frame broadcast over per-doc totals so unseen grams score the
      // add-1 floor — a bounded grid BY CONSTRUCTION (languages, never
      // the corpus); the kappa readout runs the same predictor twice
      // plus cohensKappa's 1-row totals×margins close
      "q_lang_id_ngram", "q_lang_id_ngram_kappa",
      // the KS/PSI monitors' union-support dense grids are DELIBERATE
      // partitions x |support| cross joins — bounded by the value
      // domain (never the corpus) and loudly size-guarded in
      // Drift.ksByPartition / Drift.psiByPartition before they can run
      "q_ks_daily", "q_psi_daily")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sf001).queryExecution.executedPlan.toString
          catch { case e: Throwable => s"PLAN-FAILED: ${e.getMessage}" }
        val bad = (plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")) && !allowed(name)
        if (bad || plan.startsWith("PLAN-FAILED")) Some(name -> plan.take(200))
        else None
    }
    assert(failures.isEmpty,
      failures.map { case (n, p) => s"$n:\n$p" }.mkString("\n\n"))
  }

  test("q_pivot plans one partial+final aggregation — no distinct-values job") {
    // pivot with an explicit value list compiles to conditional
    // aggregates in a single groupBy; pivot WITHOUT the list first runs
    // a collect to discover columns (an extra corpus pass, and
    // nondeterministic column order) — the explicit form is pinned
    val plan = formatted("q_pivot")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final pivot aggregation:\n$plan")
    assert(!plan.contains("Expand"),
      s"explicit-values pivot should not expand rows:\n$plan")
  }

  test("q_kmeans_assign is row-local against literal centroids — no join, no wide shuffle") {
    val plan = formatted("q_kmeans_assign")
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"assignment must not key-shuffle (only the output sort may range-partition):\n$plan")
  }

  test("q_semdedup_pairs pair search is an equi-join on the cell id") {
    // the 100TB shape: Σ|cell|² via a keyed join, never an n² cartesian;
    // the assignment itself must stay row-local (no join to a centroid
    // table — centroids travel as plan literals)
    val plan = formatted("q_semdedup_pairs")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair search degraded to all-pairs:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a keyed join on the cell id:\n$plan")
  }

  test("q_semdedup_keep broadcasts the dropped-id set — corpus never shuffles for the prune") {
    val plan = formatted("q_semdedup_keep")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"dropped-id set not broadcast-anti-joined:\n$plan")
  }

  test("q_cluster_cap caps with bounded bottom_k, no Window sort, broadcast semi-join") {
    val plan = formatted("q_cluster_cap")
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_bottom_k"),
      s"expected partial+final bottom_k aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"cluster capping must not fall back to a window/row_number sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"kept-id set should broadcast-semi-join the corpus:\n$plan")
  }

  test("q_curate_semantic caps over a materialized stage — curation runs once") {
    // capPerStratum reads its input twice (aggregate + semi-join back);
    // without the localCheckpoint stage boundary the final plan would
    // contain the gate→fp-window→anti-join chain TWICE (caught here in
    // round 15). Pinned shape: the cap stage rides the bounded bottom_k
    // over the checkpointed RDD, with zero re-executed windows/joins.
    val tree = SparkEntry.queries("q_curate_semantic")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(tree.contains("partial_bottom_k"),
      s"source cap must use the bounded bottom_k aggregate:\n$tree")
    assert(tree.contains("LeftSemi"),
      s"kept-id set should semi-join the curated stage:\n$tree")
    assert(tree.contains("ExistingRDD"),
      s"curated stage not materialized — curation chain would run twice:\n$tree")
    assert(!"Window \\[".r.findAllIn(tree).hasNext,
      s"no window may re-execute in the cap stage:\n$tree")
  }

  test("q_curate_full composes off one materialized survivor stage") {
    // NFC → gate → exact dedup → semantic dedup materialize ONCE (the
    // curatedCache checkpoint); folds and both triplet bands read the
    // checkpointed RDD instead of re-running the curation chain per
    // band — the stage chain may appear at most... zero times in the
    // final plan (every consumer reads ExistingRDD).
    val tree = SparkEntry.queries("q_curate_full")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(tree.contains("ExistingRDD"),
      s"survivor stage not materialized:\n$tree")
    // the curation chain itself (fingerprint window / quality filter)
    // must NOT re-execute inside the triplet plan
    assert(!tree.contains("nfc_normalize"),
      s"NFC stage re-executed downstream of the checkpoint:\n$tree")
    // the two banded verbs ride broadcast anchor sets, and the fold tag
    // joins back without a cartesian
    assert(tree.contains("BroadcastNestedLoopJoin") ||
      tree.contains("BroadcastHashJoin"), s"no broadcast join:\n$tree")
  }

  test("semantic curation stage: dropped set broadcast-anti-joins, one fingerprint window") {
    // the pre-cap stage (what the checkpoint materializes), built from
    // the same operators: quality gate → fingerprint dedup (the one
    // window) → broadcast anti-join of the duplicate-bounded semantic
    // dropped-id set — the corpus never shuffles for the prune
    import graft.operators.{Dedup, SemDedup, TokenOps}
    import org.apache.spark.sql.functions._
    val (nTok, _, q) = TokenOps.qualityScore(col("text"))
    val gated = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("source"),
        nTok.as("n_tokens"), q.as("quality"))
      .filter(col("quality") >= 0.55 && col("n_tokens") >= 5)
    val deduped = Dedup.exactByFingerprint(gated,
      TokenOps.bagOfWordsFingerprint(col("text")), col("doc_id"))
    val emb = Tables.embeddings(spark, sf001)
    val m = graft.operators.KMeansQuant.fit(emb, "vec_id", "embedding", 4, 2)
    val semDropped = SemDedup.pairs(emb, "vec_id", "embedding", m, 0.35)
      .select(col("id_b").as("doc_id")).distinct()
    val curated = deduped
      .join(org.apache.spark.sql.functions.broadcast(semDropped),
        Seq("doc_id"), "left_anti")
    val tree = curated.queryExecution.executedPlan.toString
    assert(tree.contains("BroadcastHashJoin") && tree.contains("LeftAnti"),
      s"semantic dropped set not broadcast-anti-joined:\n$tree")
    assert("Window \\[".r.findAllIn(tree).size == 1,
      s"expected exactly the fingerprint window:\n$tree")
  }

  test("q_bpe_encode folds merges in the scan stage — no join, no key shuffle") {
    val plan = formatted("q_bpe_encode")
    assert(!plan.contains("Join"), s"encode must not join a vocab table:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"encode must stay row-local:\n$plan")
  }

  test("q_unigram_nll partial-aggregates token counts (map-side combine)") {
    val plan = formatted("q_unigram_nll")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final count aggregation:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token->counts join should stay hash-based at this scale:\n$plan")
  }

  test("q_rerank_linear broadcasts the bounded candidate list — never sort-merges a corpus side") {
    val plan = formatted("q_rerank_linear")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only sort-merge allowed is the upstream RRF fusion's full-outer
    // over two ≤50-row candidate lists (full-outer cannot broadcast);
    // every feature join must broadcast the candidate-bounded side
    val smj = "SortMergeJoin (\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(smj.forall(_ == "FullOuter"),
      s"non-fusion sort-merge join crept in ($smj):\n$plan")
  }

  test("q_ivf_kmeans_served prunes to the probed cell partitions") {
    val plan = formatted("q_ivf_kmeans_served")
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell partitions not pruned:\n$plan")
    assert(!plan.contains("Join"), s"served probe is join-free:\n$plan")
  }

  test("q_ivf_topk reads exactly its 3 probed cell partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("q_ivf_topk")(spark, sf001)
    df.collect()
    val scans = new AdaptiveSparkPlanHelper {}.collect(
      df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one layout scan:\n${df.queryExecution.executedPlan}")
    assert(scans.head.metrics("numPartitions").value == 3,
      s"probe read ${scans.head.metrics("numPartitions").value} cell partitions")
    val cells = SparkEntry.queries("q_ivf_build")(spark, sf001).count()
    assert(cells == 4, s"the layout holds $cells cells, so 3 would not be a pruning")
  }

  test("q_embed_norm prunes the scan to the two referenced columns") {
    val plan = formatted("q_embed_norm")
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("label"),
      s"scan reads unpruned columns: $readSchema")
    assert(readSchema.contains("vec_id") && readSchema.contains("embedding"))
  }

  test("q_embed_centroid uses partial+final hash aggregation (map-side combine)") {
    val plan = formatted("q_embed_centroid")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final agg:\n$plan")
  }

  test("q_curate dedups with a single key shuffle") {
    val plan = formatted("q_curate")
    // one Exchange for the fingerprint window; the sort for the final
    // ORDER BY is a range exchange, not an extra hash shuffle
    val exchanges = "hashpartitioning".r.findAllIn(plan).size
    assert(exchanges >= 1, s"window shuffle missing:\n$plan")
    val hashExchangeArgs = plan.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning"))
    assert(hashExchangeArgs <= 1,
      s"expected at most 1 hash exchange, got $hashExchangeArgs:\n$plan")
  }

  test("q_anti_join broadcasts the filtered lineitem side (no shuffle of part)") {
    // Adjudicated in round 6: the r5 bench regression (0.33→2.68 s) was
    // box load, not a plan change — warm runs are 0.4-0.5 s and the plan
    // below is the one we want at scale. Pinned so a REAL plan
    // regression (filtered build side falling back to sort-merge and
    // shuffling the full part table) fails here, not on the cluster.
    val plan = formatted("q_anti_join")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"anti-join build side not broadcast:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed to the scan:\n$plan")
  }

  test("q_group_sample aggregates with bounded bottom_k, no Window/row_number sort") {
    val plan = formatted("q_group_sample")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected object hash aggregate for bottom_k:\n$plan")
    assert(plan.contains("partial_bottom_k"),
      s"expected map-side partial bottom_k (each task ships ≤k rows/group):\n$plan")
    assert(!plan.contains("Window"),
      s"group sampling must not fall back to a window/row_number sort:\n$plan")
  }

  test("q_source_cap aggregates with bounded bottom_k, no Window/row_number sort") {
    val plan = formatted("q_source_cap")
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_bottom_k"),
      s"expected partial+final bottom_k aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"source capping must not fall back to a window/row_number sort:\n$plan")
    // the kept-id set joins back as a broadcast semi-join — the corpus
    // itself must not shuffle
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"kept-id set should broadcast-semi-join the corpus:\n$plan")
  }

  test("whole-stage codegen covers the clean chain") {
    val df = graft.operators.TextClean.clean(Tables.documents(spark, sf001))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no WholeStageCodegen span:\n$plan")
  }

  test("q_decontaminate_ngram_bloom never hash-shuffles the corpus") {
    // The zero-shuffle decontamination form: the bloom is built ONCE at
    // plan-construction time (a separate aggregation over the benchmark
    // side), and the corpus probe is a row-local exists() — the only
    // exchange allowed in the probe plan is the final ORDER BY's range
    // partitioning. A hashpartitioning here means the probe regressed to
    // a join, the exact shape this operator exists to avoid at 100 TB.
    val plan = formatted("q_decontaminate_ngram_bloom")
    assert(!plan.contains("hashpartitioning"),
      s"bloom probe must not shuffle the corpus:\n$plan")
    assert(plan.contains("bloom_might_contain"),
      s"expected the codegen'd bloom probe expression:\n$plan")
  }

  test("q_decontaminate_ngram broadcasts the benchmark grams — corpus side never sort-merges") {
    // Published overlap-removal shape: benchmark n-gram hashes broadcast
    // to the exploded corpus grams; only the small contaminated-id set
    // continues. A SortMergeJoin anywhere means the full corpus gram
    // stream (|docs| × |grams/doc| rows) got sorted and shuffled.
    val plan = formatted("q_decontaminate_ngram")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus gram stream must never sort-merge:\n$plan")
  }

  test("q_media_features extracts in the scan stage — no shuffle before features") {
    // Media blobs must never cross an exchange: decode happens in
    // mapPartitions directly over the scan, and only the small
    // (id, meta, features) projection continues. The trailing ORDER BY's
    // range exchange ships post-extraction rows, not blobs.
    val plan = formatted("q_media_features")
    assert(plan.contains("MapPartitions"),
      s"expected per-partition extraction:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"media blobs must not hash-shuffle:\n$plan")
  }

  test("q_media_meta parses containers in the scan stage — blobs never shuffle") {
    // synthesis and parse are both per-partition maps; only the small
    // parsed-meta projection may cross the trailing ORDER BY exchange
    val plan = formatted("q_media_meta")
    assert(plan.contains("MapPartitions"),
      s"expected per-partition container parse:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"container bytes must not hash-shuffle:\n$plan")
  }

  test("q_media_resample filters kind below the decode, over the stored fixture") {
    // the media queries read the session-checkpointed blob table (blobs
    // come from storage, as at scale — synthesis is not in the query
    // plan), so kind pruning is a plain Filter that must sit BELOW the
    // resample's MapPartitions: only surviving rows decode. In the
    // top-down formatted tree the Filter prints AFTER the
    // MapPartitions, i.e. it runs first.
    val plan = formatted("q_media_resample")
    val tree = plan.split("\n\n").head
    assert(!tree.contains("hashpartitioning"),
      s"media blobs must not hash-shuffle:\n$tree")
    assert(!tree.contains("MapElements"),
      s"fixture synthesis must not run inside the query plan:\n$tree")
    val resample = tree.indexOf("MapPartitions")
    val f = tree.indexOf("Filter")
    assert(resample >= 0 && f >= 0,
      s"expected MapPartitions and Filter nodes:\n$tree")
    assert(f > resample,
      s"kind filter must sit below the decode boundary:\n$tree")
  }

  test("q_mp4_samples and q_media_features_video filter below the walk, never shuffle blobs") {
    // both new round-12 queries read the stored blob table and select a
    // subset (video kind + id parity) before a per-partition walk/decode
    // — same contract as q_media_resample: Filter below MapPartitions,
    // blobs never cross a hash exchange, no synthesis in the plan
    for (q <- Seq("q_mp4_samples", "q_media_features_video")) {
      val tree = formatted(q).split("\n\n").head
      assert(!tree.contains("hashpartitioning"),
        s"$q: media blobs must not hash-shuffle:\n$tree")
      assert(!tree.contains("MapElements"),
        s"$q: fixture synthesis must not run inside the query plan:\n$tree")
      val walk = tree.indexOf("MapPartitions")
      val f = tree.indexOf("Filter")
      assert(walk >= 0 && f >= 0,
        s"$q: expected MapPartitions and Filter nodes:\n$tree")
      assert(f > walk,
        s"$q: kind/parity filter must sit below the walk boundary:\n$tree")
    }
  }

  test("containerMediaFromDocuments prunes kind below the synthesis boundary") {
    // the one-shot generator API (what the cached fixture is built
    // from, and what a direct caller gets): Catalyst can't prune
    // through the opaque object boundary, so an image-only request must
    // not pay AVI/JPEG encoding just to drop the rows — the generator
    // filters on the relational pmod-derived kind BELOW its typed map.
    // Top-down, the Filter prints AFTER the synthesis's MapElements.
    val df = graft.operators.Multimodal.containerMediaFromDocuments(
      Tables.documents(spark, sf001), kinds = Set("image"))
    val tree = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .split("\n\n").head
    val synthesis = tree.indexOf("MapElements")
    val f = tree.indexOf("Filter")
    assert(synthesis >= 0 && f >= 0,
      s"expected MapElements and Filter nodes:\n$tree")
    assert(f > synthesis,
      s"kind filter must sit below the synthesis boundary:\n$tree")
  }

  test("saltedJoin spreads the hot key across reducers; plain join does not") {
    // One key carries 90% of the big side. Plain shuffle join lands the
    // whole hot key in ONE reducer partition (the single-task straggler);
    // the salted form must both (a) shuffle on (key, __salt) — pinned in
    // the plan — and (b) measurably flatten the output partition sizes.
    import spark.implicits._
    import graft.operators.Salting
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false") // stable partition count
      // enough reducers that 16 salt values can actually spread — with
      // the suite's 4 partitions the salt→partition hash collisions mask
      // the effect being pinned
      conf.set("spark.sql.shuffle.partitions", "16")
      val big = (0 until 40000).map { i =>
        (if (i % 10 != 0) "hot" else s"k${i % 97}", i.toLong)
      }.toDF("k", "v")
      val small = (Seq("hot") ++ (0 until 97).map(i => s"k$i"))
        .map(k => (k, k.length.toLong)).toDF("k", "w")

      def partSizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq

      val plain = big.join(small, Seq("k"))
      val salted = Salting.saltedJoin(big, small, Seq("k"), salts = 16)
      assert(salted.columns.sorted.toSeq == plain.columns.sorted.toSeq)
      assert(salted.count() == plain.count(), "salting must not change rows")

      val saltPlan = salted.queryExecution.executedPlan.toString
      assert(saltPlan.contains("__salt"),
        s"salted join must shuffle on (key, salt):\n$saltPlan")

      val total = 40000L
      val plainMax = partSizes(plain).max
      val saltedMax = partSizes(salted).max
      assert(plainMax >= (total * 0.9).toLong,
        s"fixture not skewed enough: plain max=$plainMax")
      assert(saltedMax <= (total * 0.5).toLong,
        s"hot partition not flattened: salted max=$saltedMax (plain $plainMax)")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  private def nodeCount(plan: String, node: String): Int =
    plan.linesIterator.count(_.trim.matches(s"""\\(\\d+\\) $node( .*)?"""))

  private def hashExchanges(plan: String): Int =
    plan.linesIterator.count(_.contains("Arguments: hashpartitioning"))

  test("q_funnel: the three stage Windows share ONE user shuffle; no self-joins") {
    val plan = formatted("q_funnel")
    assert(!plan.contains("Join"),
      s"the funnel must not self-join per stage:\n$plan")
    assert(nodeCount(plan, "Window") == 3,
      s"expected 3 chained Window ops:\n$plan")
    // one hash exchange feeds all three Windows (same partitioning, so
    // Catalyst reuses it); the count-distinct Expand adds exactly one
    // more — a third would mean a funnel stage re-shuffled the corpus
    assert(hashExchanges(plan) <= 2,
      s"expected <=2 hash exchanges, got ${hashExchanges(plan)}:\n$plan")
  }

  test("q_window_lag: all four navigation functions ride one shuffle+sort") {
    val plan = formatted("q_window_lag")
    assert(nodeCount(plan, "Window") == 1,
      s"lag/lead/ntile/percent_rank must share one Window op:\n$plan")
    assert(hashExchanges(plan) == 1,
      s"expected exactly 1 hash exchange:\n$plan")
  }

  test("q_gapfill: keyed outer join + one fill Window — never a loop over the grid") {
    val plan = formatted("q_gapfill")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"grid join degraded:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a keyed (user, hour) join:\n$plan")
    assert(nodeCount(plan, "Window") == 1,
      s"LOCF must be one running-last Window:\n$plan")
    assert(nodeCount(plan, "Generate") == 1,
      s"the grid must explode from ONE min/max aggregate:\n$plan")
  }

  test("q_corr_stats: five exact moments in one partial+final aggregation") {
    val plan = formatted("q_corr_stats")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final moment aggregation:\n$plan")
    assert(hashExchanges(plan) == 1,
      s"the five power sums must travel in one shuffle:\n$plan")
    assert(nodeCount(plan, "Scan parquet") == 1,
      s"moments must come from a single scan:\n$plan")
  }

  test("q_transition_matrix: one lag Window, pair count reuses nothing heavier") {
    val plan = formatted("q_transition_matrix")
    assert(nodeCount(plan, "Window") == 1,
      s"one lag() pass expected:\n$plan")
    assert(!plan.contains("Join"), s"transition counts need no join:\n$plan")
    // the user-partition window shuffle + the (prev,next) pair-count
    // shuffle — the latter moves only type-pair cardinality
    assert(hashExchanges(plan) <= 2,
      s"expected the window + pair-count exchanges only:\n$plan")
  }

  test("q_asof_tolerance: the staleness bound stays row-local — never a range join") {
    val plan = formatted("q_asof_tolerance")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the bound must not degrade to a range join:\n$plan")
    assert(nodeCount(plan, "Window") == 1,
      s"the union trick carries one Window:\n$plan")
  }

  test("q_outlier_docs: moment table broadcasts — corpus never hash-shuffles") {
    val plan = formatted("q_outlier_docs")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-lang moments should broadcast back:\n$plan")
    // the only hash exchange is inside the tiny moment aggregation;
    // the corpus side flows scan -> broadcast join -> output sort
    assert(hashExchanges(plan) <= 1,
      s"corpus side must not hash-shuffle:\n$plan")
  }

  test("q_ship_priority: filters pushed to all three scans, heap top-k — no global sort") {
    val plan = formatted("q_ship_priority")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be a per-partition heap, not a full sort:\n$plan")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed:\n$plan")
    assert(plan.contains("LessThan(o_orderdate") &&
      plan.contains("GreaterThan(l_shipdate"),
      s"date filters not pushed:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"join degraded:\n$plan")
  }

  test("q_twap: the grouped average reuses the window's user partitioning") {
    val plan = formatted("q_twap")
    assert(nodeCount(plan, "Window") == 1,
      s"one lead() pass expected:\n$plan")
    // the groupBy(user) rides the Window's hashpartitioning(user) — a
    // second hash exchange would mean the aggregation re-shuffled
    assert(hashExchanges(plan) == 1,
      s"expected the window shuffle only:\n$plan")
  }

  test("q_unpivot expands AFTER the aggregation — never the fact table") {
    val plan = formatted("q_unpivot")
    // one Expand, and it must sit above the final HashAggregate (Expand
    // below the agg would multiply every lineitem row 3x before the
    // shuffle; above, it multiplies the 3-row group table)
    assert(nodeCount(plan, "Expand") == 1, s"one Expand expected:\n$plan")
    val tree = plan.linesIterator.takeWhile(_.nonEmpty).toSeq
    val expandLine = tree.indexWhere(_.contains("Expand"))
    val aggLines = tree.zipWithIndex.filter(_._1.contains("HashAggregate")).map(_._2)
    assert(expandLine >= 0 && aggLines.nonEmpty &&
      expandLine < aggLines.min,
      s"Expand must consume the aggregate, not the scan:\n$plan")
  }

  test("q_tablesample samples AT the scan — no post-shuffle filter stage") {
    val plan = formatted("q_tablesample")
    assert(plan.contains("Sample"), s"no Sample node:\n$plan")
    // the sample feeds the sort directly off the scan: no exchange
    // below the Sample (sampling after a shuffle would move 100% of the
    // data to drop 90% of it)
    val tree = plan.linesIterator.takeWhile(_.nonEmpty).toSeq
    val sampleLine = tree.indexWhere(_.contains("Sample"))
    val exchangeLines = tree.zipWithIndex.filter(_._1.contains("Exchange")).map(_._2)
    assert(exchangeLines.forall(_ < sampleLine),
      s"Exchange below Sample — sampled after shuffling:\n$plan")
  }

  test("q_exists: the EXISTS subquery rewrites to one semi join, never per-row execution") {
    val plan = formatted("q_exists")
    assert(plan.contains("LeftSemi"), s"EXISTS not rewritten to semi join:\n$plan")
    assert(!plan.contains("Subquery"), s"residual subquery execution:\n$plan")
  }

  test("q_topk_per_group: one window over the group shuffle, filter before any sort") {
    val plan = formatted("q_topk_per_group")
    assert(nodeCount(plan, "Window") == 1, s"one Window expected:\n$plan")
    // the rank filter must prune inside/above the window stage, so the
    // final presentation sort sees ~k rows per group, not the table
    assert(plan.contains("rk"), plan)
  }

  test("q_pq_codes: all m subspace assignments ride ONE corpus scan") {
    val plan = formatted("q_pq_codes")
    assert(nodeCount(plan, "Scan parquet") == 1,
      s"per-subspace unions would re-scan the corpus m times:\n$plan")
  }

  test("q_pq_topk: ADC scoring is scan-stage — no Exchange anywhere") {
    val plan = formatted("q_pq_topk")
    assert(!plan.contains("Exchange"),
      s"ADC must be row-local lookups + TakeOrdered, never a shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_ivfpq_topk: cell routing + ADC stay scan-stage — no Exchange") {
    val plan = formatted("q_ivfpq_topk")
    assert(!plan.contains("Exchange"),
      s"routing must be a row-local filter, never a shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_window_dist: ntile/percent_rank/cume_dist share ONE window pass") {
    val plan = formatted("q_window_dist")
    assert(nodeCount(plan, "Window") == 1,
      s"all three ranking functions must ride one shuffle+sort:\n$plan")
  }

  test("q_fuzzy_pairs: candidate join is keyed on gram tokens, df side broadcast") {
    val plan = formatted("q_fuzzy_pairs")
    // the prefix-filter candidate join must stay an equi-join on
    // (gram, occ) — a cartesian anywhere means the blocking collapsed
    // (the only non-equi path, the degenerate short bucket, is empty for
    // this corpus and guarded in any case)
    assert(!plan.contains("CartesianProduct"),
      s"fuzzy join degraded to a cartesian:\n$plan")
    // the token-df rarity table is vocabulary-sized and must broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"token-df side not broadcast:\n$plan")
    assert(plan.contains("levenshtein"), s"verify stage missing:\n$plan")
  }

  test("q_chi2_assoc and q_source_entropy scan the corpus exactly once") {
    // margins are window sums over the contingency-sized cell table —
    // deriving them as separate groupBys re-scanned documents 4x
    // (caught at plan review in round 16)
    for (q <- Seq("q_chi2_assoc", "q_source_entropy")) {
      val plan = formatted(q)
      assert(nodeCount(plan, "Scan parquet") == 1,
        s"$q must not re-scan the corpus for margins:\n$plan")
      assert(!plan.contains("Join"), s"$q needs no join at all:\n$plan")
    }
  }

  test("q_scd2_history: change-detect, versioning and interval close share one shuffle") {
    val plan = formatted("q_scd2_history")
    // lag rides one Window; row_number+lead share a second — both on the
    // SAME (user | ts, event_id) layout, so exactly one hash exchange
    // feeds them (the trailing rangepartitioning is the ORDER BY)
    assert(nodeCount(plan, "Window") == 2,
      s"expected 2 chained Window ops:\n$plan")
    assert(hashExchanges(plan) == 1,
      s"history build must shuffle the feed exactly once:\n$plan")
    assert(!plan.contains("Join"),
      s"SCD2 must not self-join the feed:\n$plan")
  }

  test("q_dsir_weights: the B-row delta table joins broadcast") {
    val plan = formatted("q_dsir_weights")
    // corpus side: partial-agg (doc,bucket) then BroadcastHashJoin the
    // bucket deltas — a shuffle join here would mean the fit state got
    // treated as corpus-shaped
    assert(plan.contains("BroadcastHashJoin"),
      s"delta table not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"DSIR scoring must not shuffle-join:\n$plan")
    // exactly one parquet scan: the fit pass is the checkpointed B-row
    // table, scoring is the single live corpus pass
    assert(nodeCount(plan, "Scan parquet") == 1,
      s"scoring must read the corpus once:\n$plan")
  }
}
