package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Telemetry

/** Reference-scale end-to-end smoke: the whole app chain
  * (Preprocess → Train → CompareModels) over a synthetic corpus with
  * Sentiment140's exact raw shape and row count (~1.6M rows,
  * `preprocessing.py:21-28` schema) — the per-96-query bench proves
  * operators; this proves the APPS at the data scale the reference
  * actually ran.
  *
  * The corpus is generated in-engine as one codegen'd projection over
  * `spark.range` (no driver loop, no UDF — the generator itself must not
  * be the bottleneck at any scale): label-correlated vocabulary plus
  * shared noise words, with @mentions/URLs/#hashtags/punctuation mixed
  * in so the preprocessing regex chain does real work, written as
  * headerless CSV exactly like the Sentiment140 distribution.
  *
  * Models: LR (the reference's headline) + NaiveBayes (single-pass,
  * cheap) so the comparison artifact ranks something real. LinearSVC is
  * left out: 20 L-BFGS-style iterations over 1.6M cached rows triple the
  * runtime without exercising any app code the LR path doesn't, and
  * perfbench's `sentiment_chain` times all three models per layer.
  */
object Sentiment140Smoke {

  /** Deterministic synthetic Sentiment140 raw CSV at `dir`. */
  def generateRaw(spark: SparkSession, n: Long, dir: String): Unit = {
    val pos = Seq("good", "great", "excellent", "love", "wonderful", "best",
      "happy", "amazing", "awesome", "nice")
    val neg = Seq("bad", "awful", "terrible", "hate", "worst", "poor",
      "sad", "boring", "annoying", "broken")
    val noise = Seq("the", "movie", "film", "plot", "actor", "scene", "was",
      "very", "today", "really", "just", "going", "work", "day", "time")
    def arr(ws: Seq[String]) = array(ws.map(lit): _*)
    def pick(ws: Seq[String], salt: Int) =
      element_at(arr(ws), (pmod(hash(col("id"), lit(salt)), lit(ws.size)) + 1)
        .cast("int"))
    val df = spark.range(n)
      .withColumn("sentiment", when(pmod(col("id"), lit(2)) === 0, 0).otherwise(4))
      .withColumn("classWord",
        when(col("sentiment") === 4, arr(pos)).otherwise(arr(neg)))
    val words = (0 until 12).map { i =>
      // ~45% class-bearing vocabulary, rest shared noise — separable but
      // not trivially so, like the real corpus
      when(pmod(hash(col("id"), lit(100 + i)), lit(100)) < 45,
        element_at(col("classWord"),
          (pmod(hash(col("id"), lit(200 + i)), lit(10)) + 1).cast("int")))
        .otherwise(pick(noise, 300 + i))
    }
    // the cleaning chain's targets: mention, URL, hashtag, stray digits
    val text = concat(
      lit("@user"), pmod(col("id"), lit(9999)).cast("string"), lit(" "),
      concat_ws(" ", words: _*),
      lit(" #tag"), pmod(col("id"), lit(97)).cast("string"),
      lit(" http://t.co/x"), pmod(col("id"), lit(997)).cast("string"), lit("!!"))
    df.select(
        col("sentiment"),
        col("id").cast("string").as("id"),
        lit("Mon Apr 06 22:19:45 PDT 2009").as("date"),
        lit("NO_QUERY").as("query"),
        concat(lit("user_"), pmod(col("id"), lit(50000)).cast("string")).as("user"),
        text.as("text"))
      .write.mode("overwrite").option("header", "false").csv(dir)
  }

  /** Per-stage telemetry, same `[elapsed, gc_delta_ms, load1,
    * storage_free_mb]` shape as the per-query bench runs — so an
    * app-level swing (e.g. r8's unadjudicable 60 s-vs-38 s preprocess)
    * self-adjudicates as contention/GC/real exactly like query deltas. */
  final case class Timings(stages: Seq[(String, Telemetry.StageRun)]) {
    def total: Double = stages.map(_._2.elapsedSec).sum
    private def totalRun: Telemetry.StageRun = Telemetry.StageRun(total,
      stages.map(_._2.gcDeltaMs).sum,
      stages.map(_._2.load1).maxOption.getOrElse(-1.0),
      stages.lastOption.map(_._2.storageFreeMb).getOrElse(-1L))
    def toRuns: Seq[(String, Telemetry.StageRun)] =
      stages :+ ("sentiment140_total" -> totalRun)
    def toPairs: Seq[(String, Double)] =
      toRuns.map { case (k, r) => k -> r.elapsedSec }
  }

  /** Full chain under `workDir`; every artifact the reference workflow
    * produces (clean CSV, per-model metrics JSON + charts, saved models,
    * comparison JSON/SVG/grid) is written and sanity-checked. */
  def run(spark: SparkSession, workDir: String, n: Long): Timings = {
    val dir = java.nio.file.Paths.get(workDir)
    java.nio.file.Files.createDirectories(dir)
    def p(s: String) = dir.resolve(s).toString
    // a failed stage fails the smoke loudly
    def stage[A](body: => A): (A, Telemetry.StageRun) = {
      val (a, t) = Telemetry.timed(spark)(body)
      (a.get, t)
    }

    val (_, tGen) = stage(generateRaw(spark, n, p("raw")))
    val (_, tPre) = stage {
      Preprocess.run(spark, p("raw"), p("clean"))
      val written = graft.sources.SentimentCsv.readClean(spark, p("clean")).persist()
      try Preprocess.writeCharts(spark, p("raw"), written, p("charts"))
      finally written.unpersist()
    }
    def train(kind: String): Telemetry.StageRun = {
      val (r, t) = stage(
        Train.run(spark, kind, p("clean"), p(s"model_$kind"), p(s"${kind}_metrics.json")))
      try {
        Train.writeCharts(r, kind, p("charts"))
        require(r.metrics.accuracy > 0.6,
          s"$kind failed to learn the separable smoke corpus: ${r.metrics.accuracy}")
      } finally r.close()
      t
    }
    val models = Seq("lr", "nb")
    val trained = models.map(k => s"sentiment140_train_$k" -> train(k))
    val (best, tCmp) = stage(
      CompareModels.run(spark, p("comparison.json"),
        models.map(k => k -> p(s"${k}_metrics.json"))))
    require(models.contains(best), s"unexpected best model: $best")
    require(java.nio.file.Files.exists(dir.resolve("comparison_confusion.svg")),
      "comparison confusion grid not written")
    Timings(Seq("sentiment140_generate" -> tGen,
      "sentiment140_preprocess" -> tPre) ++ trained :+
      ("sentiment140_compare" -> tCmp))
  }

  /** Best-effort recursive delete (the smoke tree is hundreds of MB). */
  def deleteRecursively(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      scala.util.Try {
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => scala.util.Try(java.nio.file.Files.delete(p)))
      }
      ()
    }

  def main(args: Array[String]): Unit = {
    // an explicit workDir is kept for inspection; an auto temp dir is
    // removed after the timings print (the timings ARE the output)
    val explicit = args.nonEmpty
    val workDir = if (explicit) args(0)
      else java.nio.file.Files.createTempDirectory("graft-smoke").toString
    val n = if (args.length > 1) args(1).toLong else 1600000L
    val spark = Sessions.local("graft-sentiment140-smoke")
    try {
      val t = run(spark, workDir, n)
      t.toPairs.foreach { case (k, v) => println(f"$k%-28s ${v}%8.2f s") }
    } finally {
      if (!explicit) deleteRecursively(java.nio.file.Paths.get(workDir))
      spark.stop()
    }
  }
}
