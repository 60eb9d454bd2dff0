package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ColumnOps, VectorFunctions}

/** Deterministic feature-based reranking — the third stage of the
  * retrieval pipeline (candidate generation → fusion → rerank). Where a
  * production system would put a cross-encoder model here, this stage is
  * a fixed linear scorer over exactly-computable features, which keeps
  * the full retrieve→fuse→rerank pipeline closed-form and
  * DuckDB-oracle-checkable end-to-end (the model-swap seam is the
  * `Weights`/feature vector, not the plumbing).
  *
  * Features per candidate (all row-local once the bounded candidate list
  * is joined back to its document and embedding rows):
  *
  *  - `bm25 / max(bm25 over candidates)` — lexical score, renormalized
  *    within the list (a window over ≤tens of rows, not a corpus sort);
  *  - dense cosine vs the query vector (candidates without an embedding
  *    row score 0 — the full-outer fusion can surface doc-only ids);
  *  - query-term overlap ratio (`|{t ∈ Q : t ∈ D}| / |Q|`);
  *  - a length prior `1 / (1 + ln(1 + |D|))` damping very long documents.
  *
  * Scale shape: the candidate list is top-k-bounded by construction, so
  * every join here broadcasts the CANDIDATES against the corpus scans —
  * per-query cost is corpus-scan-bounded, never shuffle-bounded; a
  * served deployment would push the candidate id set into the scans as
  * an IN-filter the same way the postings probe prunes buckets.
  */
object Rerank {

  /** Linear feature weights (must sum to whatever scale you like — the
    * ranking only needs a fixed order). */
  final case class Weights(bm25: Double = 0.45, cos: Double = 0.35,
      overlap: Double = 0.15, len: Double = 0.05)

  /** Rerank a bounded candidate list. `candidates` must carry `idCol`;
    * a candidate with no matching document row cannot be scored and is
    * dropped (inner join — mirrored by the oracle). Output:
    * (`idCol`, rerank) rounded to 6dp, descending, ties → id. */
  def linear(candidates: DataFrame, docs: DataFrame, embeddings: DataFrame,
      idCol: String, textCol: String, vecIdCol: String, vecCol: String,
      queryId: Long, terms: Seq[String], k: Int,
      w: Weights = Weights(),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "rerank needs query terms")

    val cand = candidates.select(col(idCol)).distinct()

    // lexical score: the same one-shot BM25 as q_bm25_topk (rounded 6dp
    // there, so both engines join identical doubles); absent ⇒ 0.
    // Restricted to the candidate list FIRST (broadcast inner join) so
    // the later left-outer join has a bounded, broadcastable right side
    // — left-outer can only build right, and building a corpus-sized
    // right side would sort-merge the corpus at scale.
    // k1/b are parameters, not defaults pulled silently from Bm25.score:
    // the lexical feature must be computed under the SAME constants as
    // the candidate-generation stage and any oracle mirror
    val lex = Bm25.score(docs, idCol, textCol, terms, k1, b)
      .join(broadcast(cand), Seq(idCol))

    // dense cosine vs the query row, rounded like the dense retriever;
    // absent (doc-only candidate, or the query row itself) ⇒ 0. Same
    // candidate-first restriction: cosine is only computed for the ≤k
    // candidate vectors, not the corpus.
    val e = embeddings.withColumn("__v", col(vecCol).cast("array<double>"))
    val q = e.filter(col(vecIdCol) === queryId).select(col("__v").as("__qv"))
    val cos = e.filter(col(vecIdCol) =!= queryId)
      .join(broadcast(cand.withColumnRenamed(idCol, vecIdCol)), Seq(vecIdCol))
      .crossJoin(broadcast(q))
      .select(col(vecIdCol).as(idCol),
        round(Similarity.cosineFast(col("__v"), col("__qv")), 6).as("cos"))

    // row-local document features off one tokenization
    val (overlapC, lenPriorC) = {
      val toks = TokenOps.tokenize(col(textCol))
      val overlap = ColumnOps.bind(toks, t =>
        terms.map(x => when(array_contains(t, x), 1).otherwise(0))
          .reduce(_ + _).cast("double") / lit(terms.size.toDouble))
      val lenPrior = lit(1.0) /
        (lit(1.0) + log(lit(1.0) + size(toks).cast("double")))
      (overlap, lenPrior)
    }
    val feat = broadcast(cand)
      .join(docs.select(col(idCol), overlapC.as("overlap"),
        lenPriorC.as("len_prior")), idCol)
      .join(broadcast(lex.withColumnRenamed("bm25", "__bm25")),
        Seq(idCol), "left")
      .join(broadcast(cos), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__bm25"), lit(0.0)).as("bm25"),
        coalesce(col("cos"), lit(0.0)).as("cos"),
        col("overlap"), col("len_prior"))

    // renormalize bm25 within the bounded list (unpartitioned window over
    // ≤k·lists rows — same bounded-window contract as Bm25.ranked)
    val mx = max(col("bm25")).over(Window.partitionBy())
    feat
      .withColumn("rerank", round(
        lit(w.bm25) * when(mx > 0, col("bm25") / mx).otherwise(lit(0.0)) +
          lit(w.cos) * col("cos") +
          lit(w.overlap) * col("overlap") +
          lit(w.len) * col("len_prior"), 6))
      .select(col(idCol), col("rerank"))
      .orderBy(col("rerank").desc, col(idCol))
      .limit(k)
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversity
    * selection over a BOUNDED candidate list: greedily pick `k` docs,
    * each round maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, S) — the
    * standard de-redundancy pass between retrieval and a context window
    * (two near-identical top hits waste the second slot; MMR keeps one
    * and spends the slot on coverage).
    *
    * Greedy selection is inherently sequential, so this runs the
    * k-round loop DRIVER-SIDE over the collected candidate list — the
    * audited-bounded-collect pattern ([[graft.operators.DedupGroups]]'s
    * union-find): `maxCandidates` guards the contract loudly, and the
    * only cluster work is one candidate²-bounded pairwise-cosine join.
    * The DuckDB mirror UNROLLS the same greedy rounds as a generated
    * CTE chain (the k-means/BPE unroll discipline), so the whole
    * selection — including every tie-break — is oracle-checked.
    *
    * Determinism contract (shared with the mirror): rel comes in
    * already 6dp-rounded, pairwise cosines round to 6dp, scores are the
    * identical λ·rel − (1−λ)·maxsim double chain, ties break by id
    * ascending, and candidates with no embedding row have sim ≡ 0.
    * Ids must be LONG (the corpus id space).
    * Returns (idCol, pick_rank 1..k, mmr_score rounded 6). */
  def mmr(candidates: DataFrame, embeddings: DataFrame, idCol: String,
      vecIdCol: String, vecCol: String, relCol: String, k: Int,
      lambda: Double, maxCandidates: Int = 10000): DataFrame = {
    require(k > 0, s"mmr needs k > 0, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmr lambda must be in [0,1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates.select(col(idCol), col(relCol).cast("double"))
      .localCheckpoint() // consumed by the pair join AND the collect
    val n = cand.count()
    require(n <= maxCandidates,
      s"mmr: $n candidates > bound $maxCandidates — MMR is a bounded " +
        "post-retrieval pass; cut the candidate list first (topK/fuse)")
    // duplicate ids would silently collapse in the driver-side maps
    // (last rel wins) and desync the selection from the mirror's
    // candidate list — fail loudly instead (the Upsert duplicate-key
    // probe discipline)
    val nDistinct = cand.select(col(idCol)).distinct().count()
    require(nDistinct == n,
      s"mmr: candidate ids must be unique — $n rows but $nDistinct " +
        s"distinct $idCol (duplicates would collapse nondeterministically)")
    val withV = cand
      .join(embeddings.select(col(vecIdCol).as(idCol),
        col(vecCol).cast("array<double>").as("__v")), Seq(idCol), "inner")
      .select(col(idCol), col("__v"))
      .localCheckpoint() // both sides of the pair join below
    val a = withV.select(col(idCol).as("__a"), col("__v").as("__va"))
    val b = withV.select(col(idCol).as("__b"), col("__v").as("__vb"))
    val pairRows = a.join(b, col("__a") < col("__b"))
      .select(col("__a"), col("__b"),
        round(Similarity.cosineFast(col("__va"), col("__vb")), 6).as("__c"))
      .as[(Long, Long, Double)].collect() // ≤ n(n−1)/2, bounded above
    val sims = new scala.collection.mutable.HashMap[(Long, Long), Double]
    pairRows.foreach { case (x, y, c) => sims((x, y)) = c; sims((y, x)) = c }
    val rels = cand.as[(Long, Double)].collect().sortBy(_._1)
    val oneMinus = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Int, Double)]()
    val remaining = scala.collection.mutable.LinkedHashMap(rels: _*)
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      var bestId = Long.MinValue
      var bestScore = Double.NegativeInfinity
      remaining.foreach { case (id, rel) =>
        // max over PRESENT pairs only (can be negative — anti-similar
        // neighbors must not be clamped to 0, matching the mirror's
        // max(cos)); no present pair at all ⇒ 0 (the coalesce arm)
        var maxSim = Double.NegativeInfinity
        var any = false
        selected.foreach { case (sid, _, _) =>
          sims.get((id, sid)).foreach { s =>
            any = true; if (s > maxSim) maxSim = s
          }
        }
        if (!any) maxSim = 0.0
        val score = lambda * rel - oneMinus * maxSim
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestScore = score; bestId = id
        }
      }
      selected += ((bestId, rank,
        BigDecimal(bestScore).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      remaining.remove(bestId)
      rank += 1
    }
    selected.toSeq.toDF(idCol, "pick_rank", "mmr_score")
      .select(col(idCol), col("pick_rank").cast("long").as("pick_rank"),
        col("mmr_score"))
  }
}
