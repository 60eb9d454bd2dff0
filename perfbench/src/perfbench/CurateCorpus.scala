package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.app.Curate
import perfbench.Main.{Iteration, require}

/** `Curate.run` over the generated, duplicate-planted documents table.
  * One iteration is one curation pass. The checks recompute each
  * invariant from the written sinks, not from the program's own
  * helpers. */
final class CurateCorpus(ctx: Main.Ctx) extends Workload {
  private val spark = ctx.spark
  private val docs = ctx.inputs.resolve("docs").toString
  private val meta = Io.readJson(ctx.inputs.resolve("curate.json"))
  private val rows = meta.get("rows").asLong
  private val config = Curate.Config()

  private def dir(i: Int): Path = ctx.work.resolve(s"curate-$i")

  def warm(it: Iteration): Unit = iteration(-1, it)

  override def cleanup(i: Int): Unit = Io.deleteTree(dir(i))

  def iteration(i: Int, it: Iteration): Unit = {
    val d = dir(i)
    Io.deleteTree(d)
    Files.createDirectories(d)
    ctx.op(it, "curate", "app.curate")(
      Curate.run(spark, docs, d.toString, config)) { r =>
      if (ctx.damaged("curate")) ctx.damage(d.resolve("curated"))
      val funnel = r.funnel.map(_._2)
      require(funnel.head == rows, s"funnel input ${funnel.head}, generated $rows")
      require(funnel.zip(funnel.tail).forall { case (a, b) => b <= a },
        s"funnel increases: ${r.funnel}")
      val curated = spark.read.parquet(d.resolve("curated").toString)
      val bag = concat_ws(" ", array_sort(array_distinct(
        split(trim(col("text")), "[ \\t\\n\\r]+"))))
      val stats = curated.agg(count(lit(1)), countDistinct(bag)).head()
      require(stats.getLong(0) == funnel.last,
        s"curated rows ${stats.getLong(0)}, funnel ends at ${funnel.last}")
      require(stats.getLong(1) == stats.getLong(0),
        s"${stats.getLong(0) - stats.getLong(1)} curated rows share a bag-of-words fingerprint")
      // greedy packing: a sequence's documents before its last one stay
      // within the token budget (the last may straddle the boundary)
      val packed = spark.read.parquet(d.resolve("packed").toString)
      val over = packed.groupBy(col("shard"), col("seq_id"))
        .agg(sum(col("n_tokens")).as("total"),
          max_by(col("n_tokens"), col("doc_id")).as("last"))
        .filter(col("total") - col("last") >= config.tokensPerSeq)
        .count()
      require(over == 0, s"$over packed sequences exceed ${config.tokensPerSeq} tokens")
      require(packed.count() == funnel.last, "packing lost or added documents")
    }
  }
}
