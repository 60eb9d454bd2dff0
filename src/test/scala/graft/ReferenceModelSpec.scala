package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.{LinearSVCModel, LogisticRegressionModel, NaiveBayesModel}
import org.apache.spark.ml.feature.{HashingTF, IDFModel, StopWordsRemover, Tokenizer}
import org.apache.spark.ml.param.Params
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.SentimentPipeline

/** Exact-artifact fidelity against the reference's own persisted models
  * (/root/reference/model/&#123;logistic_regression,naive_bayes,svm_linear&#125;,
  * Spark 4.1.0 PipelineModel format — loadable by this repo's 4.1.2
  * unchanged). Where MLPipelineSpec proves our *construction* learns,
  * this proves the construction IS the reference's: stage order, every
  * explicitly-set param, the 181-word stopword list, and deterministic
  * scoring through the reference's actual trained LR coefficients via
  * the [[graft.app.Score]] path. The spec runs only where
  * that model directory exists and cancels elsewhere: loading needs each
  * stage's persisted metadata and the IDF and classifier parquet data,
  * which no committed fixture or document can rebuild. */
class ReferenceModelSpec extends SparkSpec {
  import spark.implicits._

  private val RefModelRoot = "/root/reference/model"

  private def loadRef(name: String): PipelineModel = {
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(RefModelRoot)),
      s"$RefModelRoot is absent: these specs need the reference's persisted PipelineModels")
    spark // force session init before ML load
    PipelineModel.load(s"$RefModelRoot/$name")
  }

  /** Params our construction sets explicitly, extracted by name so the
    * comparison survives estimator-vs-model class differences. */
  private def explicitParams(stage: Params): Map[String, Any] =
    stage.extractParamMap().toSeq
      .filter(p => stage.isSet(p.param))
      .map(p => p.param.name -> p.value).toMap

  /** Assert every param WE set explicitly has the same value on the
    * loaded reference stage (loaded models may set more — e.g. fitted
    * metadata — which is fine; ours must be a subset). */
  private def assertParamSubset(ours: Params, ref: Params, where: String): Unit =
    explicitParams(ours).foreach { case (name, value) =>
      val refParam = ref.getParam(name)
      assert(ref.isSet(refParam) || ref.hasDefault(refParam),
        s"$where: reference stage lacks param $name")
      val refValue = ref.getOrDefault(refParam)
      (value, refValue) match {
        case (a: Array[_], b: Array[_]) =>
          assert(a.toSeq == b.toSeq, s"$where.$name: ${a.toSeq} != ${b.toSeq}")
        case (a, b) => assert(a == b, s"$where.$name: $a != $b")
      }
    }

  private def assertFeatureStages(ref: PipelineModel, model: String): Unit = {
    val ours = SentimentPipeline.tfidfStages()
    assert(ref.stages.length == 5, s"$model: ${ref.stages.length} stages")
    assert(ref.stages(0).isInstanceOf[Tokenizer])
    assert(ref.stages(1).isInstanceOf[StopWordsRemover])
    assert(ref.stages(2).isInstanceOf[HashingTF])
    assert(ref.stages(3).isInstanceOf[IDFModel])
    assertParamSubset(ours(0), ref.stages(0), s"$model/tokenizer")
    assertParamSubset(ours(1), ref.stages(1), s"$model/stopwords")
    assertParamSubset(ours(2), ref.stages(2), s"$model/hashingTF")
    assertParamSubset(ours(3), ref.stages(3), s"$model/idf")
    // the fitted detail our estimator can't carry: dims + the wordlist
    assert(ref.stages(2).asInstanceOf[HashingTF].getNumFeatures ==
      SentimentPipeline.NumFeatures)
    val refStops = ref.stages(1).asInstanceOf[StopWordsRemover].getStopWords
    val ourStops = new StopWordsRemover().getStopWords
    assert(refStops.toSeq == ourStops.toSeq,
      s"$model: stopword list differs (${refStops.length} vs ${ourStops.length})")
  }

  test("reference logistic_regression model matches our pipeline construction") {
    val ref = loadRef("logistic_regression")
    assertFeatureStages(ref, "lr")
    val clf = ref.stages(4)
    assert(clf.isInstanceOf[LogisticRegressionModel])
    assertParamSubset(SentimentPipeline.logisticRegression(), clf, "lr/clf")
  }

  test("reference naive_bayes model matches our pipeline construction") {
    val ref = loadRef("naive_bayes")
    assertFeatureStages(ref, "nb")
    val clf = ref.stages(4)
    assert(clf.isInstanceOf[NaiveBayesModel])
    assertParamSubset(SentimentPipeline.naiveBayes(), clf, "nb/clf")
  }

  test("reference svm_linear model matches our pipeline construction") {
    val ref = loadRef("svm_linear")
    assertFeatureStages(ref, "svc")
    val clf = ref.stages(4)
    assert(clf.isInstanceOf[LinearSVCModel])
    assertParamSubset(SentimentPipeline.linearSvc(), clf, "svc/clf")
  }

  private lazy val fixture: DataFrame = Seq(
    "i love this movie it was wonderful and the best",
    "what an awful terrible film i hate it",
    "the plot was fine and the actors were good",
    "worst experience ever do not watch this",
    "great direction great scenes i am happy",
    "boring bad and a complete waste of time"
  ).toDF("text")

  test("reference LR model scores deterministically through the Score path") {
    val ref = loadRef("logistic_regression")
    def run(): Seq[(String, Int, Double)] =
      graft.app.Score.score(ref, fixture)
        .join(ref.transform(fixture).select($"text",
          element_at(org.apache.spark.ml.functions.vector_to_array($"probability"), 2)
            .as("p1")), Seq("text"))
        .select($"text", $"prediction", round($"p1", 10).as("p1"))
        .as[(String, Int, Double)].collect().sortBy(_._1).toSeq
    val a = run()
    val b = run()
    assert(a == b, "re-scoring the same fixture must be bit-identical")
    assert(a.length == fixture.count())
    assert(a.forall { case (_, p, _) => p == 0 || p == 1 })
    // probabilities come from the reference's trained coefficients, so
    // they must be real probabilities, not degenerate 0/1 spikes only
    assert(a.forall { case (_, _, p1) => p1 > 0.0 && p1 < 1.0 })
  }

  test("all three reference models agree with our eval machinery end to end") {
    val labeled = fixture.withColumn("label",
      when(col("text").rlike("love|best|good|great|happy"), 1.0).otherwise(0.0))
    for (name <- Seq("logistic_regression", "naive_bayes", "svm_linear")) {
      val scored = loadRef(name).transform(labeled)
      val m = SentimentPipeline.confusionMatrix(scored).collect()
      assert(m.map(_.getLong(2)).sum == labeled.count(), s"$name confusion total")
    }
  }
}
