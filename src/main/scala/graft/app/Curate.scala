package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.PartitionedParquet

/** Capstone entry point: the full training-data curation pipeline as one
  * runnable main — the extension surface composed the way a 100 TB
  * corpus pass actually runs:
  *
  *   1. PII redaction              (TextClean.redact — scrub FIRST, so
  *                                  every content-derived signal below —
  *                                  quality, fingerprints, mix
  *                                  membership — sees the exact text
  *                                  that ships)
  *   2. quality/length gate        (TokenOps.scores — row-local; 1-2
  *                                  run as one generator, see passGate)
  *   3. exact dedup                (bag-of-words fingerprint, windowed
  *                                  deterministic survivor)
  *   4. near-dup group resolution  (MinHash LSH pairs → connected
  *                                  components → survivor drop)
  *   5. benchmark decontamination  (optional: fingerprint broadcast anti
  *                                  join, or the bloom probe for
  *                                  benchmark sets too big to broadcast)
  *   5b. per-source cap            (optional, C4-style: bottom_k + semi
  *                                  join, never a corpus window sort)
  *   6. weighted corpus mixing     (content-hash sampling per language —
  *                                  reproducible across partitioning)
  *   7. sequence packing           (fixed token-budget training samples)
  *   8. partitioned parquet sink   (by lang — partition-pruned reads)
  *
  * Every stage is an operator with its own oracle query and/or spec; this
  * main adds only composition and a funnel report. The gate, exact-dedup
  * and near-dedup frames (and the optional stages') are localCheckpointed,
  * so the lineage stays flat and no stage recomputes its predecessors; a
  * funnel count over such a frame is two jobs under AQE. The mix is not
  * checkpointed: it is a content-hash filter over the near-dedup
  * checkpoint, cheap for its count, the packer and the sink to re-run.
  * Redaction adds no funnel stage: it is a projection, never a drop.
  *
  * Usage: graft.app.Curate <documentsDir> <outDir>
  *        [--min-quality Q] [--min-tokens N] [--tokens-per-seq T]
  *        [--benchmark <documentsDir>] [--bloom] [--no-redact]
  *        [--max-per-source K]
  */
object Curate {

  final case class Config(
      minQuality: Double = 0.55,
      minTokens: Int = 5,
      langFractions: Map[String, Double] = Map("en" -> 1.0, "de" -> 0.5),
      defaultFraction: Double = 0.25,
      jaccardThreshold: Double = 0.5,
      tokensPerSeq: Int = 200,
      shards: Int = 32,
      seed: Long = 42L,
      redactPii: Boolean = true,
      benchmarkDir: Option[String] = None,
      bloomDecontaminate: Boolean = false,
      maxPerSource: Option[Int] = None)

  final case class Result(curated: DataFrame, packed: DataFrame,
      funnel: Seq[(String, Long)])

  /** The ROW-LOCAL prefix of the pipeline — PII redaction → quality/
    * length gate → deterministic mix membership — as one pure
    * generator+filter transform, through the same [[passGate]] as
    * [[run]]. No aggregation, no state, no shuffle:
    * it applies UNCHANGED to a streaming frame, which is the ingest-time
    * curation shape (gate documents as they arrive; the corpus-wide
    * stages — dedup, group resolution, decontamination, caps — run as
    * periodic batch passes over what landed). Streaming==batch equality
    * is asserted in CurateSpec. */
  def gate(docs: DataFrame, config: Config = Config()): DataFrame =
    Sampling.mixByStratum(passGate(docs, config), col("text"), col("lang"),
      config.langFractions, config.defaultFraction, config.seed)

  /** PII redaction and the quality/length gate, scored once per row:
    * `text` is replaced by its redacted form, `n_tokens` and `quality`
    * are appended, and rows below the gate are dropped. The scores come
    * from one [[TokenOps.scores]] struct, and the gate keeps it through
    * a generator, `explode(filter(array(scores), pass))`, rather than a
    * Filter over projected columns: Catalyst pushes such a Filter below
    * the Project (and below a repartition), substituting the whole
    * redact+tokenize tree into it, so every row ran the redaction and
    * the split several times, in the scan's single task. No Filter sits
    * above the generator, so none can be pushed. */
  private[graft] def passGate(docs: DataFrame, config: Config): DataFrame = {
    val text =
      if (config.redactPii) TextClean.redact(col("text")) else col("text")
    val passed = filter(array(TokenOps.scores(text)), s =>
      s("quality") >= config.minQuality && s("n_tokens") >= config.minTokens)
    val kept = docs.columns.map(c =>
      if (c == "text") col("s.text").as("text") else col(c))
    docs.select(col("*"), explode(passed).as("s"))
      .select(kept.toSeq :+ col("s.n_tokens") :+ col("s.quality"): _*)
  }

  def run(spark: SparkSession, docsDir: String, outDir: String,
      config: Config = Config()): Result = {
    val raw = graft.Tables.documents(spark, docsDir)
    val funnel = Seq.newBuilder[(String, Long)]
    funnel += "input" -> raw.count()

    // 1-2. PII scrub and quality gate, one pass over the spread scan
    // (the documents input may be one file: one scan task otherwise)
    val gated = passGate(Similarity.spread(raw), config).localCheckpoint()
    funnel += "quality_gate" -> gated.count()

    // 3. exact dedup (order-invariant content fingerprint)
    val exact = Dedup.exactByFingerprint(gated,
        TokenOps.bagOfWordsFingerprint(col("text")), col("doc_id"))
      .localCheckpoint()
    funnel += "exact_dedup" -> exact.count()

    // 4. near-dup groups -> survivors (spread: the exact-dedup window
    // leaves few partitions, and the shingle explode would run in them)
    val pairs = MinHashDedup.nearDuplicates(Similarity.spread(exact),
      "doc_id", "text", threshold = config.jaccardThreshold)
    val resolved = DedupGroups.resolve(exact, "doc_id", pairs)
      .localCheckpoint()
    funnel += "near_dedup" -> resolved.count()

    // 5. benchmark decontamination (optional). The benchmark is scrubbed
    // with the SAME redaction setting so fingerprints compare like with
    // like; bloom vs exact picks broadcast-set size vs fp-rate trade.
    val decontaminated = config.benchmarkDir.fold(resolved) { bd =>
      val benchRaw = graft.Tables.documents(spark, bd)
      val bench =
        if (config.redactPii)
          benchRaw.withColumn("text", TextClean.redact(col("text")))
        else benchRaw
      val out = (if (config.bloomDecontaminate)
        Dedup.decontaminateBloom(resolved, "text", bench, "text")
      else
        Dedup.decontaminate(resolved, "text", bench, "text"))
        .localCheckpoint()
      funnel += "decontaminated" -> out.count()
      out
    }

    // 5b. per-source cap (optional, C4-style): no single domain may
    // dominate the mix; bottom_k keeps it window-free (hot-source-safe)
    val capped = config.maxPerSource.fold(decontaminated) { k =>
      val out = Sampling.capPerStratum(decontaminated, "doc_id",
          col("text"), "source", k, config.seed)
        .localCheckpoint()
      funnel += "source_cap" -> out.count()
      out
    }

    // 6. weighted mix by language (reproducible content-hash sampling)
    val mixed = Sampling.mixByStratum(capped, col("text"),
        col("lang"), config.langFractions, config.defaultFraction,
        config.seed)
    funnel += "mixed" -> mixed.count()

    // 7. pack into training sequences
    val packed = Packing.packSequences(mixed, "doc_id", "text",
      config.tokensPerSeq, config.shards)

    // 8. sinks: curated corpus partitioned by lang + packing assignment
    PartitionedParquet.write(
      mixed.select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_tokens"), col("quality")),
      s"$outDir/curated", Seq("lang"))
    packed.write.mode("overwrite").parquet(s"$outDir/packed")

    Result(mixed, packed, funnel.result())
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.app.Curate <documentsDir> <outDir> " +
      "[--min-quality Q] [--min-tokens N] [--tokens-per-seq T]")
    val Array(docsDir, outDir) = args.take(2)
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val config = Config(
      minQuality = opt("--min-quality").map(_.toDouble).getOrElse(0.55),
      minTokens = opt("--min-tokens").map(_.toInt).getOrElse(5),
      tokensPerSeq = opt("--tokens-per-seq").map(_.toInt).getOrElse(200),
      redactPii = !args.contains("--no-redact"),
      benchmarkDir = opt("--benchmark"),
      bloomDecontaminate = args.contains("--bloom"),
      maxPerSource = opt("--max-per-source").map(_.toInt))
    val spark = Sessions.local("graft-curate")
    val r = run(spark, docsDir, outDir, config)
    r.funnel.foreach { case (stage, n) =>
      println(f"$stage%-14s $n%10d")
    }
    spark.stop()
  }
}
