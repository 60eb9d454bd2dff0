package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColumnOps

/** Okapi BM25 lexical relevance scoring + reciprocal-rank fusion — the
  * lexical half of hybrid (dense + sparse) retrieval over a document
  * corpus, the standard query shape for training-data curation and RAG
  * candidate generation. The reference has no retrieval surface; this is
  * §2.7 extension work, built next to the TF-IDF relational core
  * (`queries/TokenQueries.q_tfidf_topk`).
  *
  * Scoring formula (Robertson/Spärck Jones, the Lucene variant):
  *
  * {{{
  * score(D, Q) = Σ_{t ∈ Q} idf(t) · tf(t,D)·(k1+1) / (tf(t,D) + k1·(1 − b + b·|D|/avgdl))
  * idf(t)      = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
  * }}}
  *
  * Plan shape — built for the 100 TB case, where the classic
  * explode→(doc,term) tf/df join pipeline would shuffle the whole corpus:
  *
  *  1. ONE global aggregate over the corpus computes every corpus-level
  *     number the formula needs — N, Σ|D| (→ avgdl), and df(t) for each
  *     query term via `array_contains` — as a single 1-row frame. Partial
  *     aggregation makes this a map-side pass + a singleton reduce; no
  *     keyed shuffle.
  *  2. That row is broadcast back (1-row nested-loop join, the same
  *     documented scalar-join shape as q_tfidf_topk's corpus count), and
  *     every document is scored ROW-LOCALLY: tf(t,D) is an array-filter
  *     count over the tokenized text, |D| its size — scan-stage work,
  *     zero shuffles.
  *  3. Top-k goes through orderBy+limit = TakeOrderedAndProject (per-
  *     partition heaps + driver merge of k·parts rows), never a global
  *     sort.
  *
  * So the whole query is: scan→agg (singleton), scan→project, take-k.
  * A served system would precompute postings; for one-shot scoring over
  * a data lake this is the optimal Spark shape.
  */
object Bm25 {

  /** 1-row corpus statistics: `n_docs`, `total_len`, and `df_i` for each
    * query term (document frequency via row-local `array_contains`).
    * Null `textCol` rows count toward N but contribute no length and no
    * df — the same treatment the scorer gives them (score 0). */
  def corpusStats(docs: DataFrame, textCol: String,
      terms: Seq[String]): DataFrame = {
    val toks = TokenOps.tokenize(col(textCol))
    val aggs =
      count(lit(1)).as("n_docs") +:
      sum(size(toks)).as("total_len") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(toks, t), 1L).otherwise(0L)).as(s"df_$i")
      }
    docs.agg(aggs.head, aggs.tail: _*)
  }

  /** BM25 score of every document containing at least one query term
    * (score is strictly positive there; term-free and null-text docs are
    * score 0 and dropped). Output: (`idCol`, `bm25` rounded to 6dp —
    * the cross-engine-portable ranking key). */
  def score(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val stats = corpusStats(docs, textCol, terms)
    val nDocs = col("n_docs").cast("double")
    val avgdl = col("total_len").cast("double") / nDocs
    // tokenize once per row (bind), not once per term: interpreted HOFs
    // re-evaluate non-lambda subexpressions per element otherwise.
    val bm25 = ColumnOps.bind(TokenOps.tokenize(col(textCol)), toks => {
      val dl = size(toks).cast("double")
      val partials = terms.zipWithIndex.map { case (t, i) =>
        val df = col(s"df_$i").cast("double")
        val tf = size(filter(toks, x => x === lit(t))).cast("double")
        val idf = log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))
        // null text ⇒ tf null ⇒ the when-condition is null ⇒ 0.0
        when(tf > lit(0.0),
          idf * (tf * lit(k1 + 1.0)) /
            (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl)))
          .otherwise(lit(0.0))
      }
      round(partials.reduce(_ + _), 6)
    })
    docs.crossJoin(broadcast(stats))
      .select(col(idCol), bm25.as("bm25"))
      .filter(col("bm25") > 0)
  }

  /** Top-k documents by BM25 (ties broken by id — deterministic and
    * engine-portable). orderBy+limit ⇒ TakeOrderedAndProject. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    score(docs, idCol, textCol, terms, k1, b)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)

  /** Attach 1-based ranks to a bounded candidate list (call AFTER a
    * top-k cut: the unpartitioned window is a single-partition sort, fine
    * over ≤ a few hundred candidates, wrong over a corpus). Rank order
    * must match the cut's order — pass the same keys. */
  def ranked(candidates: DataFrame, orderKeys: Seq[Column],
      rankCol: String): DataFrame =
    candidates.withColumn(rankCol,
      row_number().over(Window.orderBy(orderKeys: _*)).cast("long"))

  /** Reciprocal-rank fusion (Cormack et al.) of two ranked candidate
    * lists: rrf(d) = Σ_lists 1/(k + rank_list(d)), absent ⇒ 0 — the
    * standard score-free way to merge lexical and dense retrieval.
    * Inputs are (id, rank) frames; output (id, both ranks, `rrf`).
    * Candidate lists are top-k-bounded, so the full-outer join is
    * broadcast-small by construction. */
  def rrfFuse(lexical: DataFrame, dense: DataFrame, idCol: String,
      lexRank: String = "lex_rank", denseRank: String = "dense_rank",
      kRrf: Int = 60): DataFrame =
    lexical.select(col(idCol), col(lexRank))
      .join(dense.select(col(idCol), col(denseRank)), Seq(idCol), "full_outer")
      .select(col(idCol), col(lexRank), col(denseRank),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col(lexRank)), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col(denseRank)), lit(0.0)),
          6).as("rrf"))

  // ---- materialized postings index (the SERVING path) ----------------
  // [[score]] is the one-shot shape: two corpus passes per query. A
  // served system amortizes the corpus work into a one-time inverted
  // index; per-query cost then scales with the QUERY's posting lists,
  // not the corpus — the same build/probe split as graft.ml.AnnIndex.

  /** One-time inverted-index build under `path`:
    *
    *  - `postings/` — (doc_id, token, tf), hash-bucketed on the token
    *    (`pmod(xxhash64(token), nBuckets)`) and partitioned by bucket, so
    *    a query's terms prune to ≤ |Q| directories before any file
    *    opens; co-located one-file-per-bucket via repartition (the one
    *    build-time shuffle, amortized over every probe).
    *  - `terms/` — (token, df, cf) term statistics, same bucketing.
    *  - `doclens/` — (doc_id, dl) document lengths.
    *  - `stats/` — the 1-row (n_docs, total_len) corpus frame.
    */
  /** (doc_id, token, tf) term frequencies — the ONE tokenize/count
    * pipeline shared by the full build and the incremental append (the
    * incremental-equals-rebuild guarantee depends on both writing
    * through identical expressions). */
  private def tokenTf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TokenOps.tokenize(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** The shared bucket expression (probes recompute it through the same
    * engine hash — see [[termBuckets]]). */
  private def bucketOf(nBuckets: Int) =
    pmod(xxhash64(col("token")), lit(nBuckets.toLong))

  /** Bucket-tag + co-locate one write task per bucket. */
  private def bucketed(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("bucket", bucketOf(nBuckets))
      .repartition(nBuckets, col("bucket"))

  def buildPostings(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    val tf = tokenTf(docs, idCol, textCol)
    graft.sources.PartitionedParquet.write(
      bucketed(tf, nBuckets), s"$path/postings", Seq("bucket"))
    graft.sources.PartitionedParquet.write(
      bucketed(tf.groupBy(col("token"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")), nBuckets),
      s"$path/terms", Seq("bucket"))
    docs.select(col(idCol).as("doc_id"),
        size(TokenOps.tokenize(col(textCol))).as("dl"))
      .write.mode("overwrite").parquet(s"$path/doclens")
    corpusStats(docs, textCol, Nil)
      .write.mode("overwrite").parquet(s"$path/stats")
    invalidateTwinMeta(path); invalidateStatsMeta(path)
  }

  /** Incremental index maintenance: fold a batch of NEW documents into
    * an existing [[buildPostings]] layout without rebuilding from raw
    * data — the serving path's answer to a continuously-ingesting
    * corpus. Every index component is mergeable by construction:
    *
    *  - `postings/` — the new docs' (doc_id, token, tf) rows APPEND into
    *    their bucket partitions (each touched bucket gains a file;
    *    periodic [[graft.sources.Compaction]] restores
    *    one-file-per-bucket — the standard LSM-ish append/compact
    *    split);
    *  - `terms/` — df/cf are ADDITIVE, so old ∪ delta re-aggregates the
    *    vocabulary-sized stats table (never the corpus);
    *  - `doclens/` — append;
    *  - `stats/` — additive 1-row rewrite.
    *
    * Failure discipline: ALL Spark jobs write into a `.staged-<uuid>`
    * tree first (the live index is only read), then a metadata-only
    * commit moves/swaps the staged results in. A failure during staging
    * leaves the live index untouched — retrying the batch is safe. The
    * commit window itself is a handful of renames, not atomic as a
    * group (that needs a table-format manifest), with the staged tree
    * preserved for recovery if it is interrupted.
    *
    * Caller contract: `newDocs` ids are NOT already indexed (dedup is
    * the ingestion pipeline's job — [[graft.streaming.Incremental]]'s
    * exactly-once manifest or [[Dedup]] upstream); re-adding an id
    * double-counts it everywhere, same as feeding it to
    * [[buildPostings]] twice. Probes over the appended index are
    * bit-identical to a from-scratch build (specced): integer tf/df/cf
    * merge exactly, and scoring quantizes per-term partials before
    * summing. */
  def appendPostings(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    val spark = newDocs.sparkSession
    val stage = s"$path/.staged-" + java.util.UUID.randomUUID()
    val tf = tokenTf(newDocs, idCol, textCol)

    // ---- STAGE: every Spark job writes into the staging tree; the
    // live index is only READ here. A failure anywhere in this phase
    // leaves the live index untouched, so re-running the batch is safe
    // (delete the orphaned .staged-* dir at leisure).
    bucketed(tf, nBuckets)
      .write.partitionBy("bucket").parquet(s"$stage/postings")
    val mergedTerms = graft.sources.PartitionedParquet
      .read(spark, s"$path/terms")
      .select(col("token"), col("df"), col("cf"))
      .unionAll(tf.groupBy(col("token"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")))
      .groupBy(col("token"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
    graft.sources.PartitionedParquet.write(
      bucketed(mergedTerms, nBuckets), s"$stage/terms", Seq("bucket"))
    newDocs.select(col(idCol).as("doc_id"),
        size(TokenOps.tokenize(col(textCol))).as("dl"))
      .write.parquet(s"$stage/doclens")
    spark.read.parquet(s"$path/stats")
      .unionAll(corpusStats(newDocs, textCol, Nil))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"))
      .write.parquet(s"$stage/stats")
    // doc-keyed twin: appends are content-monotone, so maintain it in
    // the same staged commit when it exists (the delta tf rows are
    // already in hand) — replace maintains it too (touched doc buckets
    // only, under the epoch handshake); delete DROPS it (see
    // dropDocPostings)
    val docBuckets = docPostsBuckets(spark, path)
    docBuckets.foreach { nb =>
      tf.withColumn("dbucket", pmod(col("doc_id"), lit(nb.toLong)))
        .write.partitionBy("dbucket").parquet(s"$stage/docposts")
    }

    // ---- COMMIT: metadata-only renames (no Spark jobs, no data
    // rewrites). Not atomic as a group — a crash INSIDE this window can
    // leave appended postings/doclens beside stale terms/stats — but the
    // window is a handful of filesystem ops instead of the whole
    // multi-job append, the staged tree survives for recovery (re-apply
    // the remaining moves; file names are unique so re-moving is
    // idempotent), and a retry of the BATCH is safe whenever the stage
    // phase was what failed. Full atomicity needs a table-format
    // manifest (Delta/Iceberg territory), out of scope for a layout op.
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
    // docposts FIRST: a crash after this move leaves the twin a
    // SUPERSET of postings (harmless — expansion probes filter by
    // fbIds drawn from postings, so extra twin rows are unreachable),
    // whereas the old postings-first order could leave a twin MISSING
    // appended docs, silently diverging prfTopKServed from prfTopK.
    if (docBuckets.isDefined)
      moveDataFiles(fs, s"$stage/docposts", s"$path/docposts",
        partitioned = true)
    moveDataFiles(fs, s"$stage/postings", s"$path/postings",
      partitioned = true)
    moveDataFiles(fs, s"$stage/doclens", s"$path/doclens",
      partitioned = false)
    swapDir(fs, s"$stage/stats", s"$path/stats")
    swapDir(fs, s"$stage/terms", s"$path/terms")
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    invalidateTwinMeta(path); invalidateStatsMeta(path)
  }

  /** Incremental index DELETION: remove a set of documents from an
    * existing [[buildPostings]]/[[appendPostings]] layout without
    * rebuilding — the missing half of the LSM-ish index story (real
    * corpora delete: takedowns, retention windows, dedup survivors
    * superseding their group). The result is bit-indistinguishable from
    * an index the documents were never added to (specced, and the
    * served-topk oracle is SHARED with the never-added build):
    *
    *  - `postings/` — the TOUCHED bucket partitions (only buckets that
    *    actually hold a deleted doc's postings — found by one semi-join
    *    over the index, never the corpus) are rewritten via anti-join
    *    and REPLACED; untouched buckets keep their files byte-identical.
    *    The rewrite doubles as compaction: a bucket fragmented by
    *    repeated [[appendPostings]] deltas comes out one-file again.
    *  - `terms/` — df/cf are additive, so the deleted rows' per-term
    *    (count, Σtf) subtract exactly; terms reaching df = 0 drop out,
    *    leaving the vocabulary identical to a never-added build.
    *  - `doclens/` — anti-join rewrite (doc-count-sized; bucket it by
    *    doc_id before this matters at 100 TB).
    *  - `stats/` — additive 1-row rewrite (counts/lengths from the
    *    doclens semi-join, NOT recomputed from text — deletion needs no
    *    access to the original documents at all).
    *
    * Same staging discipline as [[appendPostings]]: all Spark jobs write
    * `.staged-<uuid>`, then a metadata-only commit swaps results in.
    * Unknown ids are no-ops. Deleting the same id twice is safe only if
    * the second call happens after the first committed (the contract a
    * retry satisfies); concurrent mutators need a table-format manifest,
    * as documented on append. */
  def deletePostings(docIds: DataFrame, idCol: String, path: String,
      nBuckets: Int = 64): Unit = {
    val spark = docIds.sparkSession
    val stage = s"$path/.staged-" + java.util.UUID.randomUUID()
    val ids = docIds.select(col(idCol).as("doc_id")).distinct()
      .localCheckpoint() // consumed by four legs below
    val postings = graft.sources.PartitionedParquet
      .read(spark, s"$path/postings")

    // ---- STAGE (live index only read; failure here is retry-safe)
    // the deleted docs' posting rows: bounded by THEIR postings, and the
    // source of both the touched-bucket set and the term decrements
    val removed = postings.join(ids, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // partition-dir inference types `bucket` as int on read — normalize
    val touched = removed.select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)) // ≤ nBuckets rows by construction
    if (touched.nonEmpty) {
      postings.filter(col("bucket").isin(touched.toSeq: _*))
        .join(ids, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("token"), col("tf"), col("bucket"))
        .repartition(touched.length, col("bucket"))
        .write.partitionBy("bucket").parquet(s"$stage/postings")
    }
    val dec = removed.groupBy(col("token"))
      .agg(count(lit(1)).as("df_rm"), sum(col("tf")).as("cf_rm"))
    val newTerms = graft.sources.PartitionedParquet
      .read(spark, s"$path/terms")
      .select(col("token"), col("df"), col("cf"))
      .join(dec, Seq("token"), "left")
      .select(col("token"),
        (col("df") - coalesce(col("df_rm"), lit(0L))).as("df"),
        (col("cf") - coalesce(col("cf_rm"), lit(0L))).as("cf"))
      .filter(col("df") > 0)
    graft.sources.PartitionedParquet.write(
      bucketed(newTerms, nBuckets), s"$stage/terms", Seq("bucket"))
    val doclens = spark.read.parquet(s"$path/doclens")
    doclens.join(ids, Seq("doc_id"), "left_anti")
      .write.parquet(s"$stage/doclens")
    // deleted doc count/length off the index itself — no document access
    val delStats = doclens.join(ids, Seq("doc_id"), "left_semi")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_del"),
        coalesce(sum(col("dl")), lit(0L)).as("len_del"))
    spark.read.parquet(s"$path/stats")
      .crossJoin(delStats)
      .select((col("n_docs") - col("n_del")).as("n_docs"),
        (col("total_len") - col("len_del")).as("total_len"))
      .write.parquet(s"$stage/stats")

    // epoch bump: staged here, committed FIRST below — see indexEpoch
    spark.range(1)
      .select(lit(indexEpoch(spark, path) + 1L).as("epoch"))
      .write.parquet(s"$stage/epoch")

    // ---- COMMIT (metadata-only renames; window caveats as on append)
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
    // FIRST: bump the content epoch, so a crash anywhere in the rest of
    // this window leaves any existing twin detectably stale (its meta
    // epoch lags) instead of silently diverging the served PRF
    swapDir(fs, s"$stage/epoch", s"$path/epoch")
    touched.foreach { b =>
      // REPLACE each touched bucket partition: a bucket whose every row
      // was deleted has no staged dir and must end up absent (replaceDir
      // encodes exactly that, with the destructive step last)
      replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$stage/postings/bucket=$b"),
        new org.apache.hadoop.fs.Path(s"$path/postings/bucket=$b"))
    }
    swapDir(fs, s"$stage/doclens", s"$path/doclens")
    swapDir(fs, s"$stage/stats", s"$path/stats")
    swapDir(fs, s"$stage/terms", s"$path/terms")
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    // content mutated → the doc-keyed twin may be stale; drop it so the
    // served PRF fails loudly instead of diverging (rebuild explicitly;
    // even if this final step is lost to a crash, the epoch mismatch
    // keeps the leftover twin unservable)
    dropDocPostings(spark, path)
    invalidateTwinMeta(path); invalidateStatsMeta(path)
  }

  /** Incremental document REPLACEMENT (upsert): fold a batch of NEW
    * VERSIONS of documents into an existing layout in ONE staged-then-
    * committed operation — the re-crawl verb. Ids already indexed lose
    * their old postings and gain the new text's; ids not yet indexed
    * simply insert (replace-or-insert, so one verb serves both arms of
    * a crawl delta). The result is bit-indistinguishable from a
    * from-scratch [[buildPostings]] over the mutated corpus (specced,
    * and the declared queries share the full-corpus mirrors).
    *
    * Exists as ONE operation because composing [[deletePostings]] +
    * [[appendPostings]] by hand leaves a torn window BETWEEN the two
    * commits where the documents are absent from the served index (and
    * a crash there strands them absent until an operator intervenes).
    * Here both halves stage off the same live read and commit once:
    *
    *  - `postings/` — touched buckets (old rows' buckets ∪ new rows'
    *    buckets) rewrite as (live ∖ batch-ids) ∪ new rows and REPLACE;
    *    untouched buckets keep their files byte-identical. The rewrite
    *    doubles as compaction, like delete's.
    *  - `terms/` — one vocabulary-sized re-aggregate of
    *    old ∪ (−removed) ∪ (+new); df = 0 terms drop out.
    *  - `doclens/` — anti-join ∪ new lengths rewrite.
    *  - `stats/` — additive 1-row rewrite (− removed, + new).
    *  - `docposts/` (when the twin exists) — MAINTAINED, not dropped:
    *    only the batch ids' doc buckets rewrite ((live ∖ ids) ∪ new tf
    *    rows — old and new rows of an id share a bucket), inside the
    *    same staged commit, under the [[indexEpoch]] handshake (epoch
    *    bump commits first, twin meta restamps last, so a torn commit
    *    reads as stale-twin and fails loudly in expansionCandidates).
    *
    * Same staging/commit discipline and concurrency caveats as append
    * and delete. Batch ids must be unique (one text per id) — guarded
    * loudly; the probe is delta-sized, not corpus-sized. */
  def replacePostings(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    val stage = s"$path/.staged-" + java.util.UUID.randomUUID()
    val ids = docs.select(col(idCol).as("doc_id")).distinct()
      .localCheckpoint() // consumed by five legs below
    val nBatch = docs.count()
    val nIds = ids.count()
    require(nIds == nBatch,
      s"replacePostings: batch ids must be unique — $nBatch rows but " +
        s"$nIds distinct $idCol (which text would win is undefined)")
    val tf = tokenTf(docs, idCol, textCol)
      .localCheckpoint() // postings leg + terms increment leg
    val postings = graft.sources.PartitionedParquet
      .read(spark, s"$path/postings")

    // ---- STAGE (live index only read; failure here is retry-safe)
    val removed = postings.join(ids, Seq("doc_id"), "left_semi")
      .localCheckpoint() // touched-bucket set + term decrements
    // partition-dir inference types `bucket` as int on read — normalize;
    // union the NEW rows' buckets: an inserted id can touch buckets the
    // deletes never reach
    val touched = removed.select(col("bucket").cast("long"))
      .union(tf.select(bucketOf(nBuckets)))
      .distinct().collect().map(_.getLong(0)) // ≤ nBuckets rows
    if (touched.nonEmpty) {
      postings.filter(col("bucket").isin(touched.toSeq: _*))
        .join(ids, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("token"), col("tf"),
          col("bucket").cast("long").as("bucket"))
        .unionAll(tf.withColumn("bucket", bucketOf(nBuckets)))
        .repartition(touched.length, col("bucket"))
        .write.partitionBy("bucket").parquet(s"$stage/postings")
    }
    val dec = removed.groupBy(col("token"))
      .agg((-count(lit(1))).as("df"), (-sum(col("tf"))).as("cf"))
    val inc = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val newTerms = graft.sources.PartitionedParquet
      .read(spark, s"$path/terms")
      .select(col("token"), col("df"), col("cf"))
      .unionAll(dec).unionAll(inc)
      .groupBy(col("token"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
      .filter(col("df") > 0)
    graft.sources.PartitionedParquet.write(
      bucketed(newTerms, nBuckets), s"$stage/terms", Seq("bucket"))
    val doclens = spark.read.parquet(s"$path/doclens")
    doclens.join(ids, Seq("doc_id"), "left_anti")
      .unionAll(docs.select(col(idCol).as("doc_id"),
        size(TokenOps.tokenize(col(textCol))).cast("int").as("dl")))
      .write.parquet(s"$stage/doclens")
    // replaced doc count/length off the index itself; added off the batch
    val delStats = doclens.join(ids, Seq("doc_id"), "left_semi")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_del"),
        coalesce(sum(col("dl")), lit(0L)).as("len_del"))
    val addStats = corpusStats(docs, textCol, Nil)
      .select(col("n_docs").as("n_add"), col("total_len").as("len_add"))
    spark.read.parquet(s"$path/stats")
      .crossJoin(delStats).crossJoin(addStats)
      .select((col("n_docs") - col("n_del") + col("n_add")).as("n_docs"),
        (col("total_len") - col("len_del") + col("len_add"))
          .as("total_len"))
      .write.parquet(s"$stage/stats")
    // doc-keyed twin MAINTENANCE: a replaced id's old and new rows live
    // in the SAME doc bucket (the twin is keyed by doc_id), so only the
    // batch's buckets rewrite — (live ∖ batch-ids) ∪ new tf rows —
    // delta-sized work inside the same staged commit. A re-crawl no
    // longer costs a full twin rebuild; the epoch handshake below keeps
    // any crash window loud instead of divergent.
    val newEpoch = indexEpoch(spark, path) + 1L
    spark.range(1).select(lit(newEpoch).as("epoch"))
      .write.parquet(s"$stage/epoch")
    val docBuckets = docPostsBuckets(spark, path)
    val touchedD: Seq[Long] = docBuckets.fold(Seq.empty[Long]) { nb =>
      val td = ids
        .select(pmod(col("doc_id"), lit(nb.toLong)).as("dbucket"))
        .distinct().collect().map(_.getLong(0)).toSeq // ≤ nb rows
      graft.sources.PartitionedParquet.read(spark, s"$path/docposts")
        .filter(col("dbucket").isin(td: _*))
        .join(ids, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("token"), col("tf"),
          col("dbucket").cast("long").as("dbucket"))
        .unionAll(tf.withColumn("dbucket",
          pmod(col("doc_id"), lit(nb.toLong))))
        .repartition(td.length, col("dbucket"))
        .write.partitionBy("dbucket").parquet(s"$stage/docposts")
      spark.range(1)
        .select(lit(nb).as("n_buckets"), lit(newEpoch).as("epoch"))
        .write.parquet(s"$stage/docposts_meta")
      td
    }

    // ---- COMMIT (metadata-only renames; window caveats as on append)
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
    // FIRST: bump the content epoch — from here until the twin meta
    // restamps (LAST), the twin reads as stale and expansionCandidates
    // refuses loudly; a torn commit can therefore never serve a twin
    // that disagrees with the postings
    swapDir(fs, s"$stage/epoch", s"$path/epoch")
    touched.foreach { b =>
      replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$stage/postings/bucket=$b"),
        new org.apache.hadoop.fs.Path(s"$path/postings/bucket=$b"))
    }
    swapDir(fs, s"$stage/doclens", s"$path/doclens")
    swapDir(fs, s"$stage/stats", s"$path/stats")
    swapDir(fs, s"$stage/terms", s"$path/terms")
    touchedD.foreach { b =>
      replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$stage/docposts/dbucket=$b"),
        new org.apache.hadoop.fs.Path(s"$path/docposts/dbucket=$b"))
    }
    // LAST: restamp the twin meta to the new epoch — the handshake
    // closes only once every rename above has landed
    if (docBuckets.isDefined)
      swapDir(fs, s"$stage/docposts_meta", s"$path/docposts_meta")
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    invalidateTwinMeta(path); invalidateStatsMeta(path)
  }

  /** Standalone compaction for append-fragmented postings buckets: each
    * [[appendPostings]] batch adds a delta file per touched bucket, and
    * after many batches a probe pays one footer-parse per file. This
    * pass rewrites ONLY the fragmented buckets (>1 data file — found by
    * a driver-side listing of ≤ nBuckets dirs, never a data read) back
    * to one sorted file set each, content-identical: rows sort by
    * (token, doc_id) within the rewrite so parquet row-group min/max
    * stats prune inside a bucket too (the probe filters on token after
    * partition-pruning on bucket). [[deletePostings]] already compacts
    * the buckets it rewrites; this is the delete-free maintenance form
    * (the [[graft.sources.Compaction]] verb specialized to the index
    * layout). Same staged-then-replace commit as delete. */
  def compactPostings(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = root.getFileSystem(hc)
    val fragmented = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .filter(d => fs.listStatus(d.getPath)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) > 1)
      .map(_.getPath.getName.stripPrefix("bucket=").toLong)
      .sorted
    if (fragmented.isEmpty) return
    val stage = s"$path/.staged-" + java.util.UUID.randomUUID()
    graft.sources.PartitionedParquet.read(spark, s"$path/postings")
      .filter(col("bucket").isin(fragmented.toSeq: _*))
      .select(col("doc_id"), col("token"), col("tf"), col("bucket"))
      .repartition(fragmented.length, col("bucket"))
      .sortWithinPartitions(col("token"), col("doc_id"))
      .write.partitionBy("bucket").parquet(s"$stage/postings")
    fragmented.foreach { b =>
      replaceDir(fs,
        new org.apache.hadoop.fs.Path(s"$stage/postings/bucket=$b"),
        new org.apache.hadoop.fs.Path(s"$path/postings/bucket=$b"))
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** See [[graft.util.StagedCommit.moveDataFiles]] — the shared
    * stage-then-commit discipline, one definition across index
    * families. */
  private def moveDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      from: String, to: String, partitioned: Boolean): Unit =
    graft.util.StagedCommit.moveDataFiles(fs, from, to, partitioned)

  /** Replace `dir` with the fully-staged `staged` via delete + rename —
    * never write into a dir a lazy read may still be scanning. */
  private def swapDir(fs: org.apache.hadoop.fs.FileSystem,
      staged: String, dir: String): Unit =
    replaceDir(fs, new org.apache.hadoop.fs.Path(staged),
      new org.apache.hadoop.fs.Path(dir))

  /** See [[graft.util.StagedCommit.replaceDir]] (destructive step
    * last, trash-sibling restore) — shared discipline. */
  private def replaceDir(fs: org.apache.hadoop.fs.FileSystem,
      staged: org.apache.hadoop.fs.Path,
      live: org.apache.hadoop.fs.Path): Unit =
    graft.util.StagedCommit.replaceDir(fs, staged, live)

  /** The buckets a query's terms live in, computed through the SAME
    * engine expression classes that wrote them (`pmod(xxhash64(token),
    * n)`), evaluated DRIVER-SIDE: `XxHash64`/`Pmod` are the exact
    * Catalyst expressions the write path ran, so there is no
    * reimplemented hash to drift — but `Expression.eval` on literals
    * needs no Spark job, where the previous 1-row-per-term local
    * DataFrame paid a full job per scoring pass, two per PRF query per
    * bench run (driver work the serving path repeats per query —
    * guide §1.2 step 2; pinned byte-for-byte against the engine's
    * column form in Bm25Spec). */
  private[graft] def termBuckets(
      spark: org.apache.spark.sql.SparkSession,
      terms: Seq[String], nBuckets: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    import org.apache.spark.sql.types.{LongType, StringType}
    terms.map { t =>
      Pmod(
        XxHash64(Seq(Literal.create(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          StringType)), 42L), // 42 = functions.xxhash64's fixed seed
        Literal.create(nBuckets.toLong, LongType))
        .eval(null).asInstanceOf[Long]
    }.distinct
  }

  /** The 1-row corpus stats of an index layout, memoized per path and
    * keyed on the `stats/` directory's modification time (the
    * twinMetaCache freshness discipline): every probe used to scan the
    * 1-row parquet and crossJoin-broadcast it into the plan — one more
    * scan + broadcast per scoring pass, pure overhead on an unchanged
    * layout. Folding the two scalars back as LITERALS is arithmetic-
    * identical (same doubles reach the same expression tree). Mutating
    * verbs rewrite `stats/` (its mtime moves) and also invalidate
    * explicitly; an out-of-band rewrite is detected only under
    * twinMetaCache's local-filesystem assumption. */
  private val statsCache =
    new scala.collection.concurrent.TrieMap[String, (Long, Long, Long)]

  private[operators] def invalidateStatsMeta(path: String): Unit =
    statsCache.remove(path)

  private def corpusStatsOf(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long) = {
    val hp = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = if (fs.exists(hp)) fs.getFileStatus(hp).getModificationTime
      else -1L
    statsCache.get(path).filter(_._1 == m) match {
      case Some((_, n, t)) => (n, t)
      case None =>
        val r = spark.read.parquet(s"$path/stats").head()
        val v = (r.getAs[Long]("n_docs"), r.getAs[Long]("total_len"))
        statsCache.put(path, (m, v._1, v._2))
        v
    }
  }

  /** BM25 from the materialized index: reads ONLY the query terms'
    * bucket partitions (PartitionFilters prune the rest), broadcasts the
    * query's postings against the doclens scan, and aggregates per-term
    * partials quantized to an exact 1e-9 integer grid — double summation
    * order varies with the physical plan, integer sums don't, so the
    * score is bit-stable across engines and partitionings (the
    * money-sum discipline). Semantics match [[score]] to ≤1.5e-9 per
    * term (pre-round). `partialSums` is the pre-round integer core
    * (doc_id, pql); [[closeScores]] rounds it. (A PRF second pass that
    * unions these partials instead of rescoring was measured SLOWER —
    * see the note in [[prfTopK]].) */
  private def partialSums(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String],
      k1: Double, b: Double, nBuckets: Int): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val buckets = termBuckets(spark, terms, nBuckets)
    def pruned(sub: String): DataFrame =
      graft.sources.PartitionedParquet.read(spark, s"$path/$sub")
        .filter(col("bucket").isin(buckets: _*) &&
          col("token").isin(terms: _*))
    val qp = pruned("postings")
      .join(broadcast(pruned("terms").select(col("token"), col("df"))),
        "token")
    // corpus stats as literals: exactly the doubles the old 1-row
    // crossJoin produced (long → double cast == toDouble), one less
    // scan + broadcast per probe
    val (nDocsL, totalLenL) = corpusStatsOf(spark, path)
    val nDocs = lit(nDocsL.toDouble)
    val avgdl = lit(totalLenL.toDouble) / nDocs
    val (dfD, tfD, dlD) =
      (col("df").cast("double"), col("tf").cast("double"),
        col("dl").cast("double"))
    val idf = log(lit(1.0) + (nDocs - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val partial = idf * (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / avgdl))
    spark.read.parquet(s"$path/doclens")
      .join(broadcast(qp), "doc_id")
      .select(col("doc_id"),
        round(partial * lit(1e9)).cast("long").as("pq"))
      .groupBy(col("doc_id"))
      .agg(sum(col("pq")).as("pql"))
  }

  /** The shared closing projection: nano-grid partial sums → rounded
    * positive BM25 scores. */
  private def closeScores(sums: DataFrame): DataFrame =
    sums.select(col("doc_id"),
        round(col("pql").cast("double") / lit(1e9), 6).as("bm25"))
      .filter(col("bm25") > 0)

  def scoreFromPostings(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, nBuckets: Int = 64): DataFrame =
    closeScores(partialSums(spark, path, terms, k1, b, nBuckets))

  /** Top-k through the postings index (TakeOrderedAndProject, as
    * [[topK]]). */
  def topKFromPostings(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, nBuckets: Int = 64): DataFrame =
    scoreFromPostings(spark, path, terms, k1, b, nBuckets)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)

  /** Pseudo-relevance feedback (RM3-lite) through the postings index:
    * run the query, treat the top `nFeedback` docs as relevant, expand
    * the query with their top `nExpand` index terms by summed tf (query
    * terms and stopwords excluded, ties by token), and score the
    * expanded term set — the classic recall lift when the user's terms
    * under-describe the topic, DETERMINISTIC end-to-end (no model, no
    * RNG), so the mirror recomputes both passes.
    *
    * The expansion term list is a bounded driver collect (≤ nExpand
    * rows — the MMR greedy discipline) because the second pass's plan
    * needs the terms at compile time for bucket pruning.
    *
    * Scale shape: both scoring passes are pruned index probes
    * ([[scoreFromPostings]]); the expansion aggregation joins the
    * postings table against the nFeedback-row broadcast feedback set —
    * that leg scans the postings ONCE (the bucket layout prunes
    * term-probes, not doc-probes; a corpus that serves PRF hot should
    * carry a doc-keyed postings twin, the documented trade). */
  def prfTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String], stopwords: Seq[String], k: Int = 10,
      nFeedback: Int = 10, nExpand: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(nExpand > 0 && nExpand <= 16,
      s"nExpand must be in [1, 16] (bounded driver collect), got $nExpand")
    require(nFeedback > 0, s"nFeedback must be positive, got $nFeedback")
    // MEASURED AND KEPT AS A RESCORE (r19): reusing pass 1's scored
    // frame for the final pass (localCheckpoint the per-doc partial
    // sums, union only the expansion terms' partials) is bit-identical
    // but SLOWER — the checkpoint materialization job costs more than
    // the pruned re-probe it saves, because the second pass reads
    // buckets(terms ∪ expansion) in ONE doclens-joined probe anyway
    // (matched-box bench: 1.156 s rescore vs 1.340 s reuse). The same
    // holds at scale: the pass-1 frame is matching-docs-sized, while
    // the rescore stays a bucket-pruned index probe.
    val fb = topKFromPostings(spark, path, terms, k = nFeedback,
      k1 = k1, b = b).select(col("doc_id"))
    val expansion = graft.sources.PartitionedParquet
      .read(spark, s"$path/postings")
      .join(broadcast(fb), "doc_id")
      .filter(!col("token").isin(terms: _*) &&
        !col("token").isin(stopwords: _*))
      .groupBy(col("token")).agg(sum(col("tf")).as("w"))
      .orderBy(col("w").desc, col("token"))
      .limit(nExpand)
      .collect().map(_.getString(0)).toSeq
    topKFromPostings(spark, path, terms ++ expansion, k, k1, b)
  }

  /** Doc-keyed postings twin — the layout [[prfTopK]]'s scaladoc trades
    * against: the SAME (doc_id, token, tf) rows partitioned by
    * `dbucket = doc_id % nDocBuckets`, so a feedback-doc probe reads
    * only the touched bucket partitions (PartitionFilters prune before
    * any file opens — the KMeansQuant.buildIndex serving discipline),
    * never the corpus-sized postings. The modulus is plain integer
    * arithmetic: deterministic, mirror-free (it never reaches an
    * output), and prunable by Catalyst's partition pruning. */
  def buildDocPostings(docs: DataFrame, idCol: String, textCol: String,
      path: String, nDocBuckets: Int = 64): Unit = {
    require(nDocBuckets > 0, s"need nDocBuckets > 0, got $nDocBuckets")
    graft.sources.PartitionedParquet.write(
      tokenTf(docs, idCol, textCol)
        .withColumn("dbucket", pmod(col("doc_id"), lit(nDocBuckets.toLong))),
      s"$path/docposts", Seq("dbucket"))
    // the modulus is NOT recoverable from partition dirs (empty buckets
    // leave no dir) — persist it so append/probe can never mis-bucket.
    // The meta also carries the index CONTENT EPOCH it was built
    // against: destructive verbs bump the index epoch FIRST in their
    // commit and restamp the twin meta LAST, so a torn commit (or a
    // stale twin beside a mutated index) is a mismatch the served read
    // refuses loudly instead of silently diverging.
    docs.sparkSession.range(1)
      .select(lit(nDocBuckets).as("n_buckets"),
        lit(indexEpoch(docs.sparkSession, path)).as("epoch"))
      .write.mode("overwrite").parquet(s"$path/docposts_meta")
    invalidateTwinMeta(path); invalidateStatsMeta(path)
  }

  /** The index CONTENT EPOCH: bumped by each destructive commit
    * ([[deletePostings]], [[replacePostings]]) as its FIRST committed
    * rename, so derived serving data stamped with an older epoch is
    * detectably stale through any crash window. Absent file = epoch 0
    * (a fresh [[buildPostings]] layout). Appends don't bump — an
    * append-torn twin is a harmless SUPERSET (probes filter by ids
    * drawn from postings), per the commit-order note in
    * [[appendPostings]]. */
  private def indexEpoch(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val hc = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$path/epoch")
    if (p.getFileSystem(hc).exists(p))
      spark.read.parquet(p.toString).head().getLong(0)
    else 0L
  }

  /** The persisted doc-bucket modulus, or None when no doc-keyed twin
    * exists at `path`. */
  private def docPostsBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Int] = {
    val hc = spark.sparkContext.hadoopConfiguration
    val meta = new org.apache.hadoop.fs.Path(s"$path/docposts_meta")
    if (meta.getFileSystem(hc).exists(meta))
      Some(spark.read.parquet(meta.toString).head().getInt(0))
    else None
  }

  /** Drop the doc-keyed twin (docposts + meta) — called by
    * [[deletePostings]] AFTER its commit so a stale twin is impossible:
    * the twin is derived serving data, and serving it past a content
    * mutation would silently diverge the two PRF paths. Rebuild with
    * [[buildDocPostings]] when the serve-hot path is needed again.
    * [[appendPostings]] and [[replacePostings]] MAINTAIN the twin
    * instead — their delta tf rows are already in hand and (for
    * replace) old and new rows of an id share a doc bucket, so the
    * rewrite is batch-sized; the epoch handshake keeps every crash
    * window loud. [[compactPostings]] never touches it — compaction
    * moves files, not content. */
  private def dropDocPostings(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    Seq(s"$path/docposts", s"$path/docposts_meta").foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hc)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
  }

  /** The served expansion read: the feedback docs' token tf rows off
    * the doc-keyed layout, bucket-pruned. Exposed so the plan pin
    * (PartitionFilters) is testable on the exact frame the serving
    * path consumes. Fails loudly when no (current) twin exists — a
    * destructive index mutation drops the twin precisely so this can
    * never serve stale rows. */
  /** Serving-path memo of the twin handshake metadata (modulus, twin
    * epoch, live index epoch) per index path: three tiny parquet reads
    * that were re-run as DRIVER JOBS on every served PRF query
    * invocation — pure overhead on an unchanged layout. Freshness is
    * keyed on the MODIFICATION TIMES of `epoch/` and `docposts_meta/`
    * (two driver-local getFileStatus calls, no Spark job). This assumes
    * a local filesystem whose directory mtime moves on every commit:
    * there any commit — this module's verbs, a torn crash window, or an
    * out-of-band rewrite — replaces those directories and moves their
    * mtime, and the lifecycle spec's torn-commit simulation still trips.
    * On object stores (directory markers carry no meaningful mtime) and
    * coarse-mtime filesystems an out-of-band rewrite by another process
    * is NOT detected, and a stale epoch can be served. Mutating verbs
    * ALSO invalidate explicitly, so within-process invalidation never
    * depends on fs timestamp granularity. */
  private val twinMetaCache = new scala.collection.concurrent.TrieMap[
    String, (Long, Long, Int, Long, Long)] // (metaM, epochM, nb, twinE, liveE)

  private[operators] def invalidateTwinMeta(path: String): Unit =
    twinMetaCache.remove(path)

  def expansionCandidates(spark: org.apache.spark.sql.SparkSession,
      path: String, fbIds: Seq[Long]): DataFrame = {
    require(fbIds.nonEmpty, "expansion needs at least one feedback doc")
    // EPOCH HANDSHAKE: the twin meta is stamped with the index epoch it
    // was built/maintained against; destructive commits bump the index
    // epoch first and restamp the meta last, so a torn commit or a
    // stale twin is a mismatch here — fail loudly, never diverge.
    val hc = spark.sparkContext.hadoopConfiguration
    def mtime(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hc)
      if (fs.exists(hp)) fs.getFileStatus(hp).getModificationTime else -1L
    }
    val (metaM, epochM) = (mtime(s"$path/docposts_meta"), mtime(s"$path/epoch"))
    val cached = twinMetaCache.get(path)
      .filter { case (m, e, _, _, _) => m == metaM && e == epochM }
    val (nb, twinEpoch, liveEpoch) = cached match {
      case Some((_, _, n, te, le)) => (n, te, le)
      case None =>
        val nbv = docPostsBuckets(spark, path).getOrElse(throw
          new IllegalArgumentException(
            s"no doc-keyed postings twin at $path — build it with " +
              "buildDocPostings (a delete mutation drops the twin so it " +
              "can never serve stale expansion rows; replace maintains it)"))
        val te = spark.read.parquet(s"$path/docposts_meta")
          .head().getAs[Long]("epoch")
        val le = indexEpoch(spark, path)
        twinMetaCache.put(path, (metaM, epochM, nbv, te, le))
        (nbv, te, le)
    }
    require(twinEpoch == liveEpoch,
      s"doc-keyed twin at $path is stale (twin epoch $twinEpoch, index " +
        s"epoch $liveEpoch) — a destructive commit was torn or the twin " +
        "predates a mutation; rebuild with buildDocPostings")
    // floorMod, NOT %: the layout is written with pmod, so a negative
    // doc_id lives in a non-negative bucket — `%` would prune to a
    // nonexistent partition and silently drop that doc's rows
    val buckets = fbIds.map(id => java.lang.Math.floorMod(id, nb.toLong))
      .distinct
    graft.sources.PartitionedParquet.read(spark, s"$path/docposts")
      .filter(col("dbucket").isin(buckets: _*) &&
        col("doc_id").isin(fbIds: _*))
  }

  /** [[prfTopK]] over the SERVED doc-keyed layout: identical semantics
    * and output (shares the oracle), but the expansion leg reads only
    * the ≤ nFeedback touched doc buckets instead of scanning the
    * postings — the serve-hot path. The feedback ids are a bounded
    * (≤ nFeedback) driver collect: the ids must exist driver-side
    * anyway to compute the pruning buckets, the same contract as the
    * touched-cell reads in KMeansQuant. */
  def prfTopKServed(spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String], stopwords: Seq[String], k: Int = 10,
      nFeedback: Int = 10, nExpand: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(nExpand > 0 && nExpand <= 16,
      s"nExpand must be in [1, 16] (bounded driver collect), got $nExpand")
    require(nFeedback > 0 && nFeedback <= 1000,
      s"nFeedback must be in [1, 1000] (bounded driver collect), got $nFeedback")
    // rescore, not reuse — see the measurement note in [[prfTopK]]
    val fbIds = topKFromPostings(spark, path, terms, k = nFeedback,
      k1 = k1, b = b).select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val expansion = expansionCandidates(spark, path, fbIds)
      .filter(!col("token").isin(terms: _*) &&
        !col("token").isin(stopwords: _*))
      .groupBy(col("token")).agg(sum(col("tf")).as("w"))
      .orderBy(col("w").desc, col("token"))
      .limit(nExpand)
      .collect().map(_.getString(0)).toSeq
    topKFromPostings(spark, path, terms ++ expansion, k, k1, b)
  }
}
