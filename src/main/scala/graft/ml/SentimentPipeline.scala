package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{LinearModels, LinearSVC,
  LinearSVCModel, LogisticRegression, LogisticRegressionModel, NaiveBayes}
import org.apache.spark.ml.feature._
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param.{ParamMap, Params}
import org.apache.spark.mllib.evaluation.MulticlassMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's model-training surface, re-expressed in Scala MLlib
  * with the exact persisted hyperparameters (SURVEY.md §2.5, confirmed by
  * the stage metadata under /root/reference/model/&#123;logistic_regression,
  * naive_bayes, svm_linear&#125;/stages/):
  *
  *  - Tokenizer(text→words), StopWordsRemover(words→filtered_words)
  *  - TF-IDF branch: HashingTF(2^18, filtered_words→raw_features) →
  *    IDF(minDocFreq=5, →features)  [`model_logistic_regression.py:103-116`]
  *  - N-Gram branch (`--use_ngram`): per n in 1..N: NGram(n) →
  *    CountVectorizer(vocabSize=10000, minDF=5) → VectorAssembler
  *    [`model_logistic_regression.py:124-150`]
  *  - LogisticRegression(maxIter=20, regParam=0.01, elasticNetParam=0.0)
  *    [`model_logistic_regression.py:155-161`]
  *  - NaiveBayes(multinomial, smoothing=1.0)  [`model_naive_bayes.py:83-88`]
  *  - LinearSVC(maxIter=20, regParam=0.01)  [`model_svm.py:157-162`]
  *
  * Scale notes: all transformers are row-local; the fits are
  * treeAggregate jobs (IDF/NB one pass, LR/SVC one pass per L-BFGS/OWLQN
  * iteration over cached instances). LR and LinearSVC on the TF-IDF
  * branch fit only the columns the fitted IDF keeps ([[fit]]): IDF
  * zeroes every hash bucket with docFreq < minDocFreq, so each dropped
  * column is 0 in every row and its coefficient is exactly 0 either
  * way, while every loss evaluation would otherwise broadcast, build and
  * reduce 2^18-wide coefficient and gradient vectors. The model is then
  * widened back to 2^18 and saved as the same 5-stage pipeline. The gain
  * is the share of buckets the IDF drops; on a corpus where nearly every
  * bucket is active it is neutral (same jobs, an O(nnz) projection).
  * The fit also applies the IDF itself, inside that projection, to the
  * HashingTF output, so no iterative job's task carries the IDFModel:
  * `IDFModel.transform`'s UDF captures the whole model (2^18 idf
  * doubles + 2^18 docFreq longs), each loss evaluation serializes the
  * full lineage of MLlib's cached instances into both of its stages'
  * task binaries, and with that UDF in the lineage every stage shipped
  * and deserialized ~4 MiB. The projection reads one broadcast (kept
  * positions and weights) per executor per fit instead, independent of
  * the number of rows and iterations.
  * Evaluation is in-engine — the reference's collect-to-sklearn
  * confusion matrix (`model_logistic_regression.py:217-218`) is replaced
  * by a groupBy(label, prediction) aggregate that accuracy and F1 are
  * read from, and ROC/AUC by the exact in-engine evaluator.
  */
object SentimentPipeline {

  val NumFeatures: Int = 1 << 18

  /** Feature stages shared by all three models (TF-IDF branch). */
  def tfidfStages(): Array[PipelineStage] = Array(
    new Tokenizer().setInputCol("text").setOutputCol("words"),
    new StopWordsRemover().setInputCol("words").setOutputCol("filtered_words"),
    new HashingTF().setInputCol("filtered_words").setOutputCol("raw_features")
      .setNumFeatures(NumFeatures),
    new IDF().setInputCol("raw_features").setOutputCol("features")
      .setMinDocFreq(5))

  /** N-Gram branch: unigram..N-gram counts assembled into one vector. */
  def ngramStages(maxN: Int): Array[PipelineStage] = {
    val base: Array[PipelineStage] = Array(
      new Tokenizer().setInputCol("text").setOutputCol("words"),
      new StopWordsRemover().setInputCol("words").setOutputCol("filtered_words"))
    val perN = (1 to maxN).flatMap { n =>
      Seq(
        new NGram().setN(n).setInputCol("filtered_words")
          .setOutputCol(s"${n}_grams"),
        new CountVectorizer().setInputCol(s"${n}_grams")
          .setOutputCol(s"${n}_tf").setVocabSize(10000).setMinDF(5.0))
    }
    val assembler = new VectorAssembler()
      .setInputCols((1 to maxN).map(n => s"${n}_tf").toArray)
      .setOutputCol("features")
    base ++ perN :+ assembler
  }

  def logisticRegression(): LogisticRegression =
    new LogisticRegression().setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(20).setRegParam(0.01).setElasticNetParam(0.0)

  def naiveBayes(): NaiveBayes =
    new NaiveBayes().setLabelCol("label").setFeaturesCol("features")
      .setModelType("multinomial").setSmoothing(1.0)

  def linearSvc(): LinearSVC =
    new LinearSVC().setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(20).setRegParam(0.01)

  def pipeline(classifier: PipelineStage, useNgram: Boolean = false,
      ngramN: Int = 2): Pipeline = {
    val feats = if (useNgram) ngramStages(ngramN) else tfidfStages()
    new Pipeline().setStages(feats :+ classifier)
  }

  /** Fit the pipeline of [[pipeline]] on `train`. LR and LinearSVC on
    * the TF-IDF branch fit through [[fitKept]] on the HashingTF output
    * of the fitted feature stages; NB (whose smoothing depends on the
    * feature width) and the N-gram branch (a compact CountVectorizer
    * space already) fit the plain pipeline. Either way the result is the
    * same PipelineModel: feature stages followed by a full-width
    * classifier model. */
  def fit(classifier: PipelineStage, train: DataFrame,
      useNgram: Boolean = false, ngramN: Int = 2): PipelineModel = {
    def withFeatures(fitClf: (IDFModel, DataFrame) => PipelineStage) = {
      val feats = new Pipeline().setStages(tfidfStages()).fit(train)
      val idf = feats.stages.last.asInstanceOf[IDFModel]
      val clf = fitClf(idf, hashed(feats, train))
      // all stages are fitted: Pipeline.fit only assembles, no job
      new Pipeline().setStages(feats.stages :+ clf).fit(train)
    }
    classifier match {
      case lr: LogisticRegression if !useNgram =>
        withFeatures(fitKept(lr, _, _))
      case svc: LinearSVC if !useNgram =>
        withFeatures(fitKept(svc, _, _))
      case _ => pipeline(classifier, useNgram, ngramN).fit(train)
    }
  }

  /** `df` through every fitted TF-IDF stage but the IDF: the HashingTF
    * `raw_features` that [[fitKept]] fits on. */
  def hashed(feats: PipelineModel, df: DataFrame): DataFrame =
    feats.stages.init.foldLeft(df)((d, t) => t.transform(d))

  /** The feature columns a fitted IDF keeps (idf != 0); every other
    * column is 0 in every row it transforms. */
  def keptColumns(idf: IDFModel): Array[Int] =
    idf.idf.toArray.zipWithIndex.collect { case (w, j) if w != 0.0 => j }

  /** LR fitted on the columns `idf` keeps, IDF-weighted from its input
    * column of `raw`, widened back to the IDF's width. */
  def fitKept(lr: LogisticRegression, idf: IDFModel,
      raw: DataFrame): LogisticRegressionModel = {
    val kept = keptColumns(idf)
    val m = narrowed(raw, idf, kept, lr.getFeaturesCol)(lr.fit)
    LinearModels.logisticRegression(m.uid,
      widen(m.coefficients, kept, idf.idf.size), m.intercept, m.numClasses)
      .copy(setParams(m))
  }

  /** LinearSVC fitted on the columns `idf` keeps, IDF-weighted from its
    * input column of `raw`, widened back to the IDF's width. */
  def fitKept(svc: LinearSVC, idf: IDFModel,
      raw: DataFrame): LinearSVCModel = {
    val kept = keptColumns(idf)
    val m = narrowed(raw, idf, kept, svc.getFeaturesCol)(svc.fit)
    LinearModels.linearSvc(m.uid,
      widen(m.coefficients, kept, idf.idf.size), m.intercept)
      .copy(setParams(m))
  }

  /** Run `fit` on `raw` with vector column `c` set to the `kept` columns
    * of `idf`'s input column, in order, each active entry x of column j
    * weighted x * idf(j) — the product IDFModel.transform forms, so the
    * vectors equal its output restricted to `kept`. One O(nnz) map per
    * row through a broadcast of the position array and the kept weights
    * (VectorSlicer's sorted slice walks the kept list per row instead).
    * An empty kept set maps to one all-zero column, since LR and
    * LinearSVC reject 0-wide vectors. */
  private def narrowed[T](raw: DataFrame, idf: IDFModel, kept: Array[Int],
      c: String)(fit: DataFrame => T): T = {
    val pos = Array.fill(idf.idf.size)(-1)
    kept.indices.foreach(i => pos(kept(i)) = i)
    val narrowWidth = math.max(1, kept.length)
    val b = raw.sparkSession.sparkContext.broadcast((pos, kept.map(idf.idf(_))))
    val project = udf { (v: Vector) =>
      val (p, w) = b.value
      val idx = Array.newBuilder[Int]
      val vals = Array.newBuilder[Double]
      v.foreachActive { (j, x) =>
        val i = p(j)
        if (i >= 0) { idx += i; vals += x * w(i) }
      }
      Vectors.sparse(narrowWidth, idx.result(), vals.result())
    }
    try fit(raw.withColumn(c, project(col(idf.getInputCol))))
    finally b.destroy()
  }

  /** Narrow coefficients back at their `kept` columns of a `width`-wide
    * vector (the empty kept set's single column has nowhere to go). */
  private def widen(coef: Vector, kept: Array[Int], width: Int): Vector =
    Vectors.sparse(width, kept, coef.toArray.take(kept.length))

  /** The params explicitly set on `m`, so the rebuilt model carries (and
    * saves) exactly what a direct fit would. */
  private def setParams(m: Params): ParamMap =
    ParamMap(m.extractParamMap().toSeq.filter(p => m.isSet(p.param)): _*)

  /** 80/20 split with the reference's seed (`model_*.py`: seed=42). */
  def split(df: DataFrame): (DataFrame, DataFrame) = {
    val Array(tr, te) = df.randomSplit(Array(0.8, 0.2), seed = 42)
    (tr, te)
  }

  final case class Metrics(accuracy: Double, f1: Double, rocAuc: Double,
      confusion: Map[(Long, Long), Long])

  /** In-engine evaluation: a groupBy(label, prediction) confusion
    * matrix (never collect the predictions themselves), accuracy and
    * weighted F1 from it, and the exact AUC ([[rocAuc]]). Accuracy and F1
    * come from one MulticlassMetrics over the (prediction, label) cells
    * weighted by their counts: the class sums the evaluators form over
    * the scored rows, reached without two more passes over them. */
  def evaluate(predictions: DataFrame,
      rawCol: String = "rawPrediction"): Metrics = {
    // AUC first: on a persisted, not yet materialized frame its job
    // fills the cache, where an adaptive query reading it first would
    // run one more job to materialize it
    val auc = rocAuc(predictions, rawCol)
    val confusion = confusionMatrix(predictions).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cells = confusion.toSeq.map { case ((l, p), n) =>
      (p.toDouble, l.toDouble, n.toDouble) }
    val mm = new MulticlassMetrics(
      predictions.sparkSession.sparkContext.parallelize(cells, 1))
    Metrics(mm.accuracy, mm.weightedFMeasure(1.0), auc, confusion)
  }

  /** Area under the ROC curve of the class-1 score (`rawCol`'s element 1,
    * or `rawCol` itself when it is a number — the score
    * BinaryClassificationEvaluator reads) as the Mann-Whitney U statistic
    * in exact integer arithmetic. With P positives and N negatives, and
    * pos(s)/neg(s) the rows at distinct score s,
    * AUC = Σ_s pos(s)·(2·negBelow(s) + neg(s)) / (2·P·N): the trapezoid
    * area under the exact ROC curve, a tie counting half. The rows are
    * range-sorted by score, so each partition holds every row of its
    * scores, in order; it sums its scores against its own negBelow, and
    * the driver adds 2·pos·(negatives of the earlier partitions). Integer
    * sums do not depend on where the sort cuts the partitions, so the AUC
    * is the same for every partitioning and every run (a floating-point
    * trapezoid sum varies in its last ulps with the sort's sampled
    * bounds). BigInt, because 2·P·N overflows a Long past about 2^31 rows
    * per class. NaN for single-class input. */
  private def rocAuc(predictions: DataFrame, rawCol: String): Double = {
    val score =
      if (predictions.schema(rawCol).dataType == SQLDataTypes.VectorType)
        org.apache.spark.ml.functions.vector_to_array(col(rawCol)).getItem(1)
      else col(rawCol).cast("double")
    val parts = predictions
      .select(score.as("s"), (col("label") > 0.5).as("positive"))
      .orderBy(col("s"))
      .rdd.mapPartitions { rows =>
        var pos = 0L
        var neg = 0L
        var u = BigInt(0)
        // the tie group of the current score (the sort's equality: NaN
        // equals NaN, -0.0 equals 0.0)
        var s = 0.0
        var sPos = 0L
        var sNeg = 0L
        def closeTies(): Unit = {
          u += BigInt(sPos) * (2 * neg + sNeg)
          pos += sPos
          neg += sNeg
          sPos = 0L
          sNeg = 0L
        }
        rows.foreach { r =>
          val x = r.getDouble(0)
          if (sPos + sNeg > 0 && x != s && !(x.isNaN && s.isNaN)) closeTies()
          s = x
          if (r.getBoolean(1)) sPos += 1 else sNeg += 1
        }
        closeTies()
        Iterator((pos, neg, u))
      }.collect()
    var negBelow = 0L
    var u = BigInt(0)
    parts.foreach { case (p, n, partU) =>
      u += partU + BigInt(2) * p * negBelow
      negBelow += n
    }
    val pos = parts.map(_._1).sum
    if (pos == 0 || negBelow == 0) Double.NaN
    else (BigDecimal(u) / BigDecimal(BigInt(2) * pos * negBelow)).toDouble
  }

  /** The confusion matrix as a (label, prediction, n) aggregate. */
  def confusionMatrix(predictions: DataFrame): DataFrame =
    predictions
      .groupBy(col("label").cast("long").as("label"),
        col("prediction").cast("long").as("prediction"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("prediction"))

  /** Metrics JSON sink matching the reference's shape
    * (`model_logistic_regression.py:221-229` → metrics/lr_metrics.json):
    * accuracy, f1, roc_auc, confusion_matrix [[tn, fp], [fn, tp]]. */
  def metricsJson(m: Metrics): String = {
    def c(l: Long, p: Long) = m.confusion.getOrElse((l, p), 0L)
    s"""{"accuracy": ${m.accuracy}, "f1": ${m.f1}, "roc_auc": ${m.rocAuc},
       | "confusion_matrix": [[${c(0, 0)}, ${c(0, 1)}], [${c(1, 0)}, ${c(1, 1)}]]}"""
      .stripMargin
  }

  def writeMetrics(m: Metrics, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), metricsJson(m))
}
