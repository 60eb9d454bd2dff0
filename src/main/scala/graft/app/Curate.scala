package graft.app

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
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
  *   3. exact dedup                (bag-of-words fingerprint of the
  *                                  gate's tokens, windowed
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
  * main adds only composition and a funnel report.
  *
  * One corpus-sized frame is materialized per pass: the exact-dedup
  * survivors, with their MinHash band keys ([[dedupedGate]]). Steps 1-3
  * run in that one checkpoint job, and each document is tokenized once,
  * in the gate: the fingerprint and the band keys are derived from the
  * gate's tokens. Near-dup candidates are read from the band column, and
  * group resolution is a broadcast anti-join of the checkpoint against
  * the driver-side loser set, one narrow stage that the mix, the curated
  * sink and the packer re-run rather than a second corpus copy held in
  * executor storage. (When the optional stages run, the near-dedup frame
  * and each optional stage's output are materialized too.)
  *
  * The funnel is counted while the frames are materialized, with no
  * count job of its own: each stage's count is a `Dataset.observe`
  * metric at the top of the action that materializes its frame, or with
  * only narrow operators above it — the checkpoint job for the gate
  * (the sum of the survivors' fingerprint-group sizes) and exact dedup,
  * the curated sink's write for near dedup and the mix. Never below an
  * exchange: a shuffle map stage's metrics are merged once per
  * successful task attempt, so a retried or speculative map task would
  * count twice. The metrics are read after the sinks are written; only
  * `input` is a count job, a parquet metadata count. Redaction adds no
  * funnel stage: it is a projection, never a drop.
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
    Sampling.mixByStratum(passGate(docs, config).drop("tokens"), col("text"),
      col("lang"), config.langFractions, config.defaultFraction, config.seed)

  /** PII redaction and the quality/length gate, scored once per row:
    * `text` is replaced by its redacted form, `tokens` (its
    * [[TokenOps.tokenize]] array), `n_tokens` and `quality` are
    * appended, and rows below the gate are dropped. The scores come
    * from one [[TokenOps.scores]] struct, and the gate keeps it through
    * a generator, `explode(filter(array(scores), pass))`, rather than a
    * Filter over projected columns: Catalyst pushes such a Filter below
    * the Project (and below a repartition), substituting the whole
    * redact+tokenize tree into it, so every row ran the redaction and
    * the split several times, in the scan's single task. No Filter sits
    * above the generator, so none can be pushed. Signals derived from
    * `tokens` (the exact-dedup fingerprint, the MinHash band keys) reuse
    * the same split. */
  private[graft] def passGate(docs: DataFrame, config: Config): DataFrame = {
    val text =
      if (config.redactPii) TextClean.redact(col("text")) else col("text")
    val passed = filter(array(TokenOps.scores(text)), s =>
      s("quality") >= config.minQuality && s("n_tokens") >= config.minTokens)
    val kept = docs.columns.map(c =>
      if (c == "text") col("s.text").as("text") else col(c))
    docs.select(col("*"), explode(passed).as("s"))
      .select(kept.toSeq ++
        Seq("tokens", "n_tokens", "quality").map(f => col(s"s.$f")): _*)
  }

  /** Steps 1-3 as one frame, the one [[run]] materializes: [[passGate]]
    * over `docs`; the fingerprint and the MinHash band keys (`bands`)
    * from the gate's tokens; then exact dedup by fingerprint, where each
    * survivor also carries its fingerprint group's size (`fp_rows`). */
  private[graft] def dedupedGate(docs: DataFrame, config: Config): DataFrame = {
    val gated = passGate(docs, config)
      .withColumn("fp", TokenOps.fingerprintOf(col("tokens")))
      .withColumn("bands", MinHashDedup.bandsOf(col("tokens")))
      .drop("tokens")
    Dedup.exact(gated, Seq("fp"), col("doc_id"), Some("fp_rows"))
  }

  def run(caller: SparkSession, docsDir: String, outDir: String,
      config: Config = Config()): Result = {
    // The funnel's observations register with a session's
    // ObservationManager, which Spark 4.1 serializes with the session and
    // cannot serialize: once it exists, a closure that captures the
    // session (a LogisticRegressionModel holding its training summary)
    // fails with NotSerializableException. The run builds its frames in
    // a child session (same SparkContext, builder options and cached
    // data), so the caller's session never holds one.
    val spark = caller.newSession()
    val raw = graft.Tables.documents(spark, docsDir)
    val input = raw.count()
    val stages = Seq.newBuilder[(String, Observation)]
    // `df` with `metric` observed as funnel stage `name`, read after the
    // sinks; never below an exchange (see the object doc)
    def observed(df: DataFrame, name: String,
        metric: Column = count(lit(1))): DataFrame = {
      val o = Observation(name)
      stages += name -> o
      df.observe(o, metric.as(name))
    }
    def materialized(df: DataFrame, name: String): DataFrame =
      observed(df, name).localCheckpoint()

    // 1-3. PII scrub, quality gate and exact dedup, in one job over the
    // spread scan (the documents input may be one file: one scan task
    // otherwise). The gate's tokens also give the fingerprint and the
    // MinHash band keys. Only the dedup survivors are materialized, and
    // the gate's count is the sum of their fingerprint-group sizes.
    val deduped = dedupedGate(Similarity.spread(raw), config)
    val exact = observed(observed(deduped, "quality_gate",
        coalesce(sum(col("fp_rows")), lit(0L))), "exact_dedup")
      .drop("fp", "fp_rows")
      .localCheckpoint()

    // 4. near-dup groups -> survivors: candidate pairs from the band
    // keys, verified on their shingle sets, resolved to one survivor per
    // group (a broadcast anti-join over `exact` on the usual driver path)
    val pairs = MinHashDedup.verifyPairs(
      MinHashDedup.candidatePairs(exact, "doc_id", "bands"), exact,
      "doc_id", "text", shingleN = 3, threshold = config.jaccardThreshold)
    val resolved = DedupGroups.resolve(exact.drop("bands"), "doc_id", pairs)

    // 5-5b (optional). Each optional stage is materialized with its count
    // observed at the top of its checkpoint job, and so is `resolved`
    // before them: the cap reads its input twice, across an exchange.
    val optional = config.benchmarkDir.nonEmpty || config.maxPerSource.nonEmpty
    val nearDedup =
      if (optional) materialized(resolved, "near_dedup") else resolved

    // 5. benchmark decontamination. The benchmark is scrubbed with the
    // SAME redaction setting so fingerprints compare like with like;
    // bloom vs exact picks broadcast-set size vs fp-rate trade.
    val decontaminated = config.benchmarkDir.fold(nearDedup) { bd =>
      val benchRaw = graft.Tables.documents(spark, bd)
      val bench =
        if (config.redactPii)
          benchRaw.withColumn("text", TextClean.redact(col("text")))
        else benchRaw
      materialized(if (config.bloomDecontaminate)
        Dedup.decontaminateBloom(nearDedup, "text", bench, "text")
      else
        Dedup.decontaminate(nearDedup, "text", bench, "text"),
        "decontaminated")
    }

    // 5b. per-source cap (C4-style): no single domain may dominate the
    // mix; bottom_k keeps it window-free (hot-source-safe)
    val capped = config.maxPerSource.fold(decontaminated) { k =>
      materialized(Sampling.capPerStratum(decontaminated, "doc_id",
        col("text"), "source", k, config.seed), "source_cap")
    }

    // 6. weighted mix by language (reproducible content-hash sampling)
    def mix(df: DataFrame): DataFrame = Sampling.mixByStratum(df,
      col("text"), col("lang"), config.langFractions,
      config.defaultFraction, config.seed)
    val mixed = mix(capped)

    // 7-8. sinks: the curated corpus partitioned by lang, whose write
    // counts the last stages (no exchange sits below its observers), and
    // the packing assignment
    val counted = if (optional) capped else observed(capped, "near_dedup")
    PartitionedParquet.write(
      observed(mix(counted), "mixed").select(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_tokens"), col("quality")),
      s"$outDir/curated", Seq("lang"))
    val packed = Packing.packSequences(mixed, "doc_id", col("n_tokens"),
      config.tokensPerSeq, config.shards)
    packed.write.mode("overwrite").parquet(s"$outDir/packed")

    val funnel = ("input" -> input) +: stages.result().map { case (n, o) =>
      n -> o.get(n).asInstanceOf[Long]
    }
    Result(mixed, packed, funnel)
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
