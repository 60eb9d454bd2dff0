package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextClean
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by per-slice modules under `graft.queries`; each
  * module pairs the Spark implementation with its DuckDB oracle SQL where
  * the operator is deterministic (SURVEY.md §2's query-id column).
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    TextQueries,
    TokenQueries,
    RelationalQueries,
    EventQueries,
    SimilarityQueries,
    RetrievalQueries,
    CorpusQueries,
    MLQueries,
    MultimodalQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole preprocessing lifecycle in one plan: scan →
    * dropna → clean chain → label → per-language stats.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = operators.Filters.dropAnyNull(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    val (nTok, stopRatio, quality) = operators.TokenOps.qualityScore(col("text"))
    TextClean.clean(docs)
      .withColumn("label", when(col("lang") === "en", 1).otherwise(0))
      .withColumn("lang_pred", operators.LangId.detectText(col("text")))
      .withColumn("quality", quality)
      .withColumn("rep2", operators.TokenOps.repetitionRatio(col("text"), 2))
      .withColumn("fp", operators.TokenOps.bagOfWordsFingerprint(col("text")))
      .groupBy(col("lang"), col("label"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique_docs"),
        round(avg(col("text_length")), 6).as("avg_len"),
        round(avg(col("quality")), 6).as("avg_quality"),
        round(avg(col("rep2")), 6).as("avg_repetition"),
        // aggregated so the LangId expression is actually IN the plan —
        // an unreferenced projected column would be pruned by Catalyst
        // and the flagship would silently stop exercising the operator
        round(avg(when(col("lang_pred") === col("lang"), 1.0)
          .otherwise(0.0)), 6).as("langid_agreement"))
      .orderBy(col("lang"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver's rows-only check
    * (reserved for RNG/hash/ML-dependent operators). */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracle).toMap

  /** One-time memoized model fits ([[graft.queries.QueryModule.warmups]]) —
    * Bench forces these untimed before its first timed run so the fit
    * cost is attributed explicitly instead of to a shuffled-order victim
    * query. */
  def warmups: Map[String, (SparkSession, String) => Unit] =
    modules.flatMap(_.warmups).toMap

  /** Runs every [[warmups]] entry in name order and returns each one's
    * seconds, NEGATIVE when the warm failed (its queries then pay the fit
    * themselves). Bench records these as its "warm" block; PlanDump runs
    * them so its plans show the post-warm state the bench times. */
  def runWarmups(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    warmups.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (r, t) = Telemetry.timed(spark)(fn(spark, sfDir))
      r.failed.foreach(e =>
        System.err.println(s"[warm] $name FAILED: ${e.getMessage}"))
      System.err.println(f"[warm] $name%-22s ${t.elapsedSec}%8.2f s")
      name -> t.elapsedSec
    }
}
