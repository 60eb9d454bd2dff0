package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining: assign documents to fixed
  * token-budget training sequences (the "pack short docs together"
  * pass that turns a curated corpus into model-ready samples).
  *
  * Packing needs SOME grouping + order, not a global one — so documents
  * are sharded by id (deterministic modulo, no hash dependency to keep
  * the oracle exact), ordered by id within shard, and assigned to the
  * sequence their exclusive cumulative token count starts in:
  * seq = floor(cum_excl / budget). A document straddling a boundary
  * overflows its starting sequence (greedy fill) — the standard
  * pretraining approximation; budget is a target, not a hard cap.
  *
  * Scale shape: one shuffle on shard, per-shard window cumsum (shards
  * bound partition size — never a global Window.orderBy), all arithmetic
  * codegen'd. At 100 TB pick shards ≈ corpus_tokens / (executors ×
  * a few hundred M tokens).
  */
object Packing {

  /** (id, shard, seq_id, n_tokens) per document, where `nTokens` is the
    * document's token count (e.g. [[TokenOps.tokenCount]] of its text,
    * or a count the caller already holds). */
  def packSequences(df: DataFrame, idCol: String, nTokens: Column,
      tokensPerSeq: Int, shards: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    df.select(col(idCol),
        pmod(col(idCol), lit(shards)).as("shard"),
        nTokens.cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(tokensPerSeq.toDouble))
          .cast("long"))
      .select(col(idCol), col("shard"), col("seq_id"), col("n_tokens"))
  }

  /** Per-sequence packing stats: document count + token fill. */
  def packStats(packed: DataFrame): DataFrame =
    packed.groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
}
