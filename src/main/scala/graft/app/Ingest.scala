package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.streaming.Incremental

/** Streaming ingest-time curation — [[Curate.gate]] (the row-local
  * prefix of the curation pipeline: PII redaction → quality/length gate
  * → deterministic mix membership) run over the incremental file stream
  * ([[Incremental.runParquet]]): each invocation drains exactly the
  * document files that landed since the previous run with the same
  * checkpoint, gates them, and appends the survivors to the curated
  * landing zone.
  *
  * This is the 100 TB ingest shape: documents are gated AS THEY ARRIVE
  * (a generator and a filter — no state, no shuffle, no watermark), and
  * the corpus-wide stages (dedup, group resolution, decontamination,
  * caps — everything in [[Curate.run]] below the gate) run as periodic
  * batch passes over what landed. The checkpoint's file log is the
  * processed-set bookkeeping; re-running with no new files is a no-op,
  * so the job can sit in cron without double-emitting (exactly-once
  * parquet sink semantics from the commit log).
  *
  * Reference anchor: the reference has no streaming surface; this is the
  * extension-side composition of its preprocessing gate (
  * `/root/reference/preprocessing.py:31-169`'s clean-then-filter shape)
  * with Structured Streaming.
  *
  * Usage: graft.app.Ingest --stream <landingDir> <checkpointDir> <outDir>
  *        [--min-quality Q] [--min-tokens N] [--no-redact]
  */
object Ingest {

  /** Stable gated projection: the documents columns the batch pipeline's
    * curated sink carries, plus the gate's computed signals. One place,
    * so the streaming sink and the batch-parity spec cannot drift. */
  private[app] val gatedColumns =
    Seq("doc_id", "text", "lang", "source", "n_tokens", "quality")

  /** Drain the unprocessed backlog of parquet document files in
    * `landingDir` through the curation gate into `outDir`, exactly once
    * per file (checkpointed). Stateless append mode — the gate is
    * row-local (a generator and a filter), which is what makes it
    * streamable unchanged. */
  def runOnce(spark: SparkSession, landingDir: String, schema: StructType,
      checkpointDir: String, outDir: String,
      config: Curate.Config = Curate.Config()): Unit =
    Incremental.runParquet(spark, landingDir, schema, checkpointDir, outDir) {
      df => Curate.gate(df, config).select(gatedColumns.map(col): _*)
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4 && args(0) == "--stream",
      "usage: graft.app.Ingest --stream <landingDir> <checkpointDir> <outDir> " +
        "[--min-quality Q] [--min-tokens N] [--no-redact]")
    val Array(_, landingDir, checkpointDir, outDir) = args.take(4)
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val config = Curate.Config(
      minQuality = opt("--min-quality").map(_.toDouble).getOrElse(0.55),
      minTokens = opt("--min-tokens").map(_.toInt).getOrElse(5),
      redactPii = !args.contains("--no-redact"))
    val spark = Sessions.local("graft-ingest")
    // Streaming sources need an explicit schema; take it from the landed
    // files themselves (footer read — cheap, and the landing zone must
    // be non-empty for a drain to mean anything).
    val schema = spark.read.parquet(landingDir).schema
    runOnce(spark, landingDir, schema, checkpointDir, outDir, config)
    spark.stop()
  }
}
