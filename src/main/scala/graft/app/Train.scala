package graft.app

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml.SentimentPipeline
import graft.operators.Filters
import graft.sources.SentimentCsv

/** End-to-end training entry point — the reference's three model mains
  * (`/root/reference/model_logistic_regression.py:71-301`,
  * `model_naive_bayes.py:44-214`, `model_svm.py:73-309`) unified behind a
  * model-kind argument (they share everything but the classifier stage):
  *
  *   cleaned CSV → dropna → 80/20 split (seed 42) → SentimentPipeline.fit
  *   (tokenize → stopwords → TF-IDF [or NGram branch] → classifier; LR
  *   and SVM fit on the IDF-weighted columns the IDF keeps, then widen
  *   to 2^18) → transform(test) → in-engine evaluate (confusion counts →
  *   accuracy/F1, AUC) → metrics JSON sink + model save.
  *
  * Differences from the reference, by design: evaluation never collects
  * predictions (the reference's `toPandas` + sklearn confusion matrix at
  * `model_logistic_regression.py:217-218` becomes a groupBy aggregate),
  * and the metrics JSON shape matches `metrics/lr_metrics.json`.
  *
  * Usage: graft.app.Train <lr|nb|svm> <cleanDir> <modelOutDir> <metricsJsonPath>
  *        [--ngram N] (LR/SVM only, mirroring `model_logistic_regression.py:43-48`)
  *        [--charts DIR] (per-model confusion heatmap + ROC curve SVGs,
  *        the reference's `model_*.py` chart artifacts)
  */
object Train {

  /** Training output. `predictions` is persisted by [[trainEval]]; the
    * Result OWNS that lifetime — `close()` releases the cached blocks,
    * and AutoCloseable means `Using.resource(Train.trainEval(...))` scopes
    * it without caller discipline. Idempotent (unpersist on an
    * already-unpersisted frame is a no-op). */
  final case class Result(model: PipelineModel,
      metrics: SentimentPipeline.Metrics, predictions: DataFrame)
      extends AutoCloseable {
    override def close(): Unit = { predictions.unpersist(); () }
  }

  def classifier(kind: String): org.apache.spark.ml.PipelineStage =
    kind match {
      case "lr" => SentimentPipeline.logisticRegression()
      case "nb" => SentimentPipeline.naiveBayes()
      case "svm" => SentimentPipeline.linearSvc()
      case other => throw new IllegalArgumentException(
        s"unknown model kind '$other' (expected lr|nb|svm)")
    }

  /** Fit + evaluate on an already-loaded labeled frame (label, text).
    * The returned Result.predictions is PERSISTED — `close()` the Result
    * when done in a long-lived session (the main below relies on
    * spark.stop instead). */
  def trainEval(labeled: DataFrame, kind: String,
      useNgram: Boolean = false, ngramN: Int = 2): Result = {
    val df = labeled.withColumn("label", col("label").cast("double"))
    val (train, test) = SentimentPipeline.split(df)
    val model = SentimentPipeline.fit(classifier(kind), train, useNgram, ngramN)
    // Persisted: evaluate aggregates the scored frame twice (AUC over
    // several jobs, then confusion counts) and --charts adds a ROC pass;
    // without the persist each one re-runs model.transform over the
    // test set.
    val predictions = model.transform(test).persist()
    // LinearSVC emits no probability column; AUC always uses rawPrediction.
    Result(model, SentimentPipeline.evaluate(predictions), predictions)
  }

  /** A [0,1] score column for ROC charting: P(class 1) when the model
    * emits probabilities; otherwise (LinearSVC) the sigmoid of the
    * class-1 margin — a MONOTONE transform, so the ROC curve is
    * unchanged, and the bounded range is what [[graft.ml.BinaryMetrics
    * .binnedRoc]]'s bin layout needs. */
  def rocScore(predictions: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.ml.functions.vector_to_array
    if (predictions.columns.contains("probability"))
      element_at(vector_to_array(col("probability")), 2)
    else {
      val margin = element_at(vector_to_array(col("rawPrediction")), 2)
      lit(1.0) / (lit(1.0) + exp(-margin))
    }
  }

  /** Per-model chart artifacts — the reference saves a confusion heatmap
    * and ROC curve PNG per model (`model_logistic_regression.py:261-296`,
    * `model_naive_bayes.py:181-198`, `model_svm.py:263-287`); here both
    * are SVGs over bounded in-engine aggregates (confusion = classes²
    * rows, ROC binned ≤1000 rows — scale-safe at any corpus size). */
  def writeCharts(r: Result, kind: String, dir: String): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    // evaluate() already collected the (label, prediction, n) counts —
    // chart from those instead of re-running the aggregation job.
    graft.ml.ModelCharts.writeConfusionHeatmap(
      r.metrics.confusion.toSeq.map { case ((l, p), n) => (l, p, n) },
      d.resolve(s"${kind}_confusion_matrix.svg").toString,
      title = s"Confusion Matrix — $kind")
    val scored = r.predictions.select(rocScore(r.predictions).as("score"),
      col("label"))
    graft.ml.ModelCharts.writeRocSvg(
      graft.ml.BinaryMetrics.binnedRoc(scored, "score", "label"),
      r.metrics.rocAuc,
      d.resolve(s"${kind}_roc_curve.svg").toString,
      title = s"ROC Curve — $kind")
  }

  /** Full reference workflow: read clean CSV → fit → eval → persist. */
  def run(spark: SparkSession, kind: String, cleanDir: String,
      modelDir: String, metricsPath: String,
      useNgram: Boolean = false, ngramN: Int = 2): Result = {
    val labeled = Filters.dropAnyNull(SentimentCsv.readClean(spark, cleanDir))
    val r = trainEval(labeled, kind, useNgram, ngramN)
    SentimentPipeline.writeMetrics(r.metrics, metricsPath)
    r.model.write.overwrite().save(modelDir)
    r
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: graft.Train <lr|nb|svc> <cleanDir> <modelDir> <metricsPath> " +
        "[--ngram N]")
    val Array(kind, cleanDir, modelDir, metricsPath) = args.take(4)
    val ngramN = args.sliding(2).collectFirst {
      case Array("--ngram", n) => n.toInt
    }
    val chartsDir = args.sliding(2).collectFirst {
      case Array("--charts", dir) => dir
    }
    val spark = Sessions.local(s"graft-train-$kind")
    val r = run(spark, kind, cleanDir, modelDir, metricsPath,
      useNgram = ngramN.isDefined, ngramN = ngramN.getOrElse(2))
    chartsDir.foreach(writeCharts(r, kind, _))
    println(SentimentPipeline.metricsJson(r.metrics))
    spark.stop()
  }
}
