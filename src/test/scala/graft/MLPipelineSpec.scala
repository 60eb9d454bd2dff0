package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.{LinearSVCModel, LogisticRegression,
  LogisticRegressionModel}
import org.apache.spark.ml.feature.IDFModel
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator,
  MulticlassClassificationEvaluator}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ml.{BinaryMetrics, SentimentPipeline}

/** LogisticRegression that records what a fit is handed: the features
  * column and the Java-serialized size of the frame's RDD, both taken
  * inside `fit`, while the caller's projection broadcast is live. */
private class CapturingLr(uid: String) extends LogisticRegression(uid) {
  def this() = this(Identifiable.randomUID("logreg"))
  var features: Seq[Vector] = Nil
  var rddBytes: Long = -1L
  override def fit(ds: Dataset[_]): LogisticRegressionModel = {
    features = ds.select(getFeaturesCol).collect().map(_.getAs[Vector](0)).toSeq
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(ds.queryExecution.toRdd)
    out.close()
    rddBytes = bytes.size().toLong
    super.fit(ds)
  }
}

/** Golden-tolerance tests on a committed-by-construction synthetic corpus
  * (FIXTURES.md B4: seeded, balanced), mirroring the reference's
  * artifact-based verification (metrics JSONs + persisted models). */
class MLPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic mini corpus: positive docs draw from a "positive"
    * vocabulary, negative from a "negative" one, with shared noise. */
  private lazy val corpus: DataFrame = {
    val pos = Vector("good", "great", "excellent", "love", "wonderful", "best")
    val neg = Vector("bad", "awful", "terrible", "hate", "worst", "poor")
    val noise = Vector("the", "movie", "film", "plot", "actor", "scene", "was", "very")
    val rnd = new scala.util.Random(42)
    val rows = (0 until 400).map { i =>
      val label = i % 2
      val vocab = if (label == 1) pos else neg
      val words = (0 until 12).map { _ =>
        if (rnd.nextDouble() < 0.5) vocab(rnd.nextInt(vocab.size))
        else noise(rnd.nextInt(noise.size))
      }
      (words.mkString(" "), label.toDouble)
    }
    rows.toDF("text", "label")
  }

  private def trainEval(clf: org.apache.spark.ml.PipelineStage)
      : SentimentPipeline.Metrics = {
    val (tr, te) = SentimentPipeline.split(corpus)
    val model = SentimentPipeline.pipeline(clf).fit(tr)
    SentimentPipeline.evaluate(model.transform(te))
  }

  test("LR pipeline learns the synthetic sentiment corpus") {
    val m = trainEval(SentimentPipeline.logisticRegression())
    assert(m.accuracy > 0.9, s"accuracy ${m.accuracy}")
    assert(m.rocAuc > 0.95, s"auc ${m.rocAuc}")
    assert(m.confusion.values.sum > 0)
  }

  test("NB pipeline learns the synthetic sentiment corpus") {
    val m = trainEval(SentimentPipeline.naiveBayes())
    assert(m.accuracy > 0.85, s"accuracy ${m.accuracy}")
  }

  test("LinearSVC pipeline learns the synthetic sentiment corpus") {
    val m = trainEval(SentimentPipeline.linearSvc())
    assert(m.accuracy > 0.9, s"accuracy ${m.accuracy}")
  }

  test("ngram branch pipeline trains and predicts") {
    val (tr, te) = SentimentPipeline.split(corpus)
    val model = SentimentPipeline
      .pipeline(SentimentPipeline.logisticRegression(), useNgram = true).fit(tr)
    val m = SentimentPipeline.evaluate(model.transform(te))
    assert(m.accuracy > 0.85, s"accuracy ${m.accuracy}")
  }

  test("model save/load round-trip yields identical predictions") {
    val (tr, te) = SentimentPipeline.split(corpus)
    val model = SentimentPipeline
      .pipeline(SentimentPipeline.logisticRegression()).fit(tr)
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    model.write.overwrite().save(dir)
    val reloaded = PipelineModel.load(dir)
    val a = model.transform(te).select($"prediction").as[Double].collect().toSeq
    val b = reloaded.transform(te).select($"prediction").as[Double].collect().toSeq
    assert(a === b)
  }

  test("binned in-engine AUC matches BinaryClassificationEvaluator within 0.02") {
    val (tr, te) = SentimentPipeline.split(corpus)
    val model = SentimentPipeline
      .pipeline(SentimentPipeline.logisticRegression()).fit(tr)
    val scored = model.transform(te)
      .select(element_at(vector_to_array($"probability"), 2).as("score"),
        $"label", $"rawPrediction")
    val exact = new BinaryClassificationEvaluator().setLabelCol("label")
      .setRawPredictionCol("rawPrediction").evaluate(scored)
    val binned = BinaryMetrics.binnedAuc(scored, "score", "label")
    assert(math.abs(exact - binned) < 0.02, s"exact=$exact binned=$binned")
    // the exact in-engine form needs no binning tolerance: with fewer
    // distinct scores than the evaluator's 1000 bins both are exact,
    // so they must agree to float noise, not 0.02
    val engineExact = BinaryMetrics.exactAuc(scored, "score", "label")
    assert(math.abs(exact - engineExact) < 1e-6,
      s"evaluator=$exact engine=$engineExact")
  }

  test("single-class input yields NaN AUC, not a crash") {
    val oneClass = Seq((0.9, 1), (0.3, 1)).toDF("score", "label")
    assert(BinaryMetrics.exactAuc(oneClass, "score", "label").isNaN)
    assert(BinaryMetrics.binnedAuc(oneClass, "score", "label").isNaN)
  }

  test("exact ROC matches the hand-computed curve point for point") {
    // scores 0.9,0.8,0.8,0.4,0.3 / labels 1,1,0,1,0 → P=3, N=2
    // thresholds desc: 0.9 (tp1,fp0), 0.8 (tp2,fp1), 0.4 (tp3,fp1), 0.3 (tp3,fp2)
    val df = Seq((0.9, 1), (0.8, 1), (0.8, 0), (0.4, 1), (0.3, 0))
      .toDF("score", "label")
    val got = BinaryMetrics.exactRoc(df, "score", "label")
      .as[(Double, Double, Double)].collect().toSeq
    val want = Seq(
      (0.9, 0.0, 1.0 / 3), (0.8, 0.5, 2.0 / 3),
      (0.4, 0.5, 1.0), (0.3, 1.0, 1.0))
    assert(got === want)
  }

  /** Coefficients of a pipeline's linear classifier stage. */
  private def coefficients(m: PipelineModel): org.apache.spark.ml.linalg.Vector =
    m.stages.last match {
      case lr: LogisticRegressionModel => lr.coefficients
      case svc: LinearSVCModel => svc.coefficients
    }

  Seq("lr" -> SentimentPipeline.logisticRegression(),
      "svm" -> SentimentPipeline.linearSvc()).foreach { case (kind, clf) =>
    test(s"$kind kept-column fit equals the full-width pipeline fit") {
      val (tr, te) = SentimentPipeline.split(corpus)
      val full = SentimentPipeline.pipeline(clf).fit(tr)
      val kept = SentimentPipeline.fit(clf, tr)
      def preds(m: PipelineModel) = m.transform(te).orderBy($"text")
        .select($"prediction").as[Double].collect().toSeq
      assert(preds(kept) === preds(full))

      val (a, b) = (coefficients(full), coefficients(kept))
      assert(b.size == SentimentPipeline.NumFeatures)
      assert(b.getClass == a.getClass, "the fit's compressed storage")
      val maxDiff = (0 until a.size).map(j => math.abs(a(j) - b(j))).max
      assert(maxDiff <= 1e-12, s"max |coef diff| $maxDiff")
      val keptCols = SentimentPipeline.keptColumns(
        kept.stages(3).asInstanceOf[IDFModel]).toSet
      assert(keptCols.nonEmpty && keptCols.size < 100)
      assert(b.toSparse.indices.toSet.subsetOf(keptCols),
        "a nonzero coefficient outside the kept columns")

      val dir = java.nio.file.Files.createTempDirectory(s"graft-kept-$kind")
        .toString
      kept.write.overwrite().save(dir)
      val reloaded = PipelineModel.load(dir)
      assert(reloaded.stages.map(_.getClass.getSimpleName).toSeq === Seq(
        "Tokenizer", "StopWordsRemover", "HashingTF", "IDFModel",
        clf.getClass.getSimpleName + "Model"))
      assert(coefficients(reloaded) === b)
      val clfModel = reloaded.stages.last
      clf.extractParamMap().toSeq.filter(p => clf.isSet(p.param)).foreach { p =>
        assert(clfModel.getOrDefault(clfModel.getParam(p.param.name)) == p.value,
          s"$kind param ${p.param.name}")
      }
      assert(preds(reloaded) === preds(full))
    }
  }

  test("kept-column fit with no kept column fits and predicts") {
    // 6 docs: no term reaches minDocFreq 5, so the IDF keeps nothing
    val tiny = Seq(("good day", 1.0), ("bad day", 0.0), ("great fun", 1.0),
      ("awful mess", 0.0), ("lovely view", 1.0), ("poor show", 0.0))
      .toDF("text", "label")
    Seq(SentimentPipeline.logisticRegression(),
        SentimentPipeline.linearSvc()).foreach { clf =>
      val m = SentimentPipeline.fit(clf, tiny)
      assert(SentimentPipeline.keptColumns(
        m.stages(3).asInstanceOf[IDFModel]).isEmpty)
      val coef = coefficients(m)
      assert(coef.size == SentimentPipeline.NumFeatures && coef.numNonzeros == 0)
      assert(m.transform(tiny).select($"prediction").as[Double].collect()
        .length == 6)
    }
  }

  /** (index, raw bits of the value) of every active entry. */
  private def active(v: Vector): Seq[(Int, Long)] = {
    val b = Seq.newBuilder[(Int, Long)]
    v.foreachActive((j, x) => b += j -> java.lang.Double.doubleToRawLongBits(x))
    b.result()
  }

  test("the kept-column projection equals idf.transform on the kept columns") {
    // "movie" is in every doc (idf 0), and "zebra" and each day$i are in
    // at most two (< minDocFreq 5), so the last row's terms are all dropped
    val df = ((0 until 12).map { i =>
      val words = if (i % 2 == 0) "good great" else "bad awful"
      (s"movie $words day$i", (1 - i % 2).toDouble)
    } :+ ("movie zebra day0", 1.0)).toDF("text", "label")
    val lr = new CapturingLr().setMaxIter(2)
    val m = SentimentPipeline.fit(lr, df)
    val idf = m.stages(3).asInstanceOf[IDFModel]
    val kept = SentimentPipeline.keptColumns(idf)
    assert(kept.length == 4)
    val want = idf.transform(m.stages.take(3).foldLeft(df)((d, t) => t.transform(d)))
      .select($"features").collect().map(_.getAs[Vector](0)).toSeq
    assert(lr.features.length == want.length)
    lr.features.zip(want).foreach { case (got, w) =>
      assert(got.size == kept.length)
      assert(active(got) === active(w).collect {
        case (j, x) if idf.idf(j) != 0.0 => (kept.indexOf(j), x) })
    }
    assert(active(lr.features.last).isEmpty)

    // no kept column: one all-zero column per row
    val tiny = Seq(("good day", 1.0), ("bad day", 0.0), ("great fun", 1.0),
      ("awful mess", 0.0)).toDF("text", "label")
    val none = new CapturingLr().setMaxIter(2)
    SentimentPipeline.fit(none, tiny)
    assert(none.features.length == 4 &&
      none.features.forall(v => v.size == 1 && active(v).isEmpty))
  }

  test("the frame the kept-column fit hands the classifier stays small") {
    // Every loss evaluation ships this lineage in its task binaries; an
    // IDFModel.transform in it serializes the whole 2^18-wide model
    // (idf + docFreq, over 4 MB). The shuffle keeps the optimizer from
    // folding the feature UDFs into a local relation on the driver.
    val lr = new CapturingLr().setMaxIter(1)
    SentimentPipeline.fit(lr, corpus.repartition(2))
    assert(lr.rddBytes > 0 && lr.rddBytes < (1L << 20),
      s"${lr.rddBytes} serialized bytes")
  }

  test("evaluate's accuracy and F1 equal the multiclass evaluators'") {
    // unequal classes (about 30% positive), errors both ways
    val scored = spark.range(0, 5000, 1, 4)
      .select(when(rand(3) < 0.3, 1.0).otherwise(0.0).as("label"),
        rand(4).as("noise"))
      .select($"label", ($"noise" + $"label" * 0.4).as("rawPrediction"))
      .withColumn("prediction",
        when($"rawPrediction" > 0.6, 1.0).otherwise(0.0))
      .persist()
    try {
      def ev(metric: String) = new MulticlassClassificationEvaluator()
        .setLabelCol("label").setPredictionCol("prediction")
        .setMetricName(metric).evaluate(scored)
      val m = SentimentPipeline.evaluate(scored)
      assert(m.confusion.size == 4 && m.confusion.values.sum == 5000L)
      assert(m.accuracy == ev("accuracy"))
      assert(m.f1 == ev("f1"))
    } finally scored.unpersist()
  }

  test("evaluate's AUC is reproducible on the same frame") {
    // 20k distinct scores in 8 partitions: enough for the evaluator's
    // default 1,000 bins to group the sorted scores, whose range
    // partition bounds are sampled with a seed taken from the RDD id
    val scored = spark.range(0, 20000, 1, 8)
      .select(when(rand(1) < 0.5, 1.0).otherwise(0.0).as("label"),
        rand(2).as("noise"))
      .select($"label", ($"noise" + $"label" * 0.3).as("rawPrediction"))
      .withColumn("prediction",
        when($"rawPrediction" > 0.65, 1.0).otherwise(0.0))
      .persist()
    try {
      val (a, b) = (SentimentPipeline.evaluate(scored).rocAuc,
        SentimentPipeline.evaluate(scored).rocAuc)
      assert(math.abs(a - b) <= 1e-12, s"auc $a vs $b")
    } finally scored.unpersist()
  }

  test("metrics JSON has the reference shape") {
    val m = SentimentPipeline.Metrics(0.9, 0.89, 0.95,
      Map((0L, 0L) -> 40L, (0L, 1L) -> 10L, (1L, 0L) -> 5L, (1L, 1L) -> 45L))
    val js = SentimentPipeline.metricsJson(m)
    assert(js.contains("\"accuracy\"") && js.contains("\"roc_auc\""))
    assert(js.contains("[[40, 10], [5, 45]]"))
  }
}
