package graft.queries

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.{BinaryMetrics, SentimentPipeline, SharedFeatures}

/** ML pipeline queries (SURVEY.md §2.5). Model fits are RNG/float-
  * iteration dependent → rows-only checks + golden-tolerance specs
  * (MLPipelineSpec); the RELATIONAL cores (confusion matrix, binned ROC)
  * are oracle-checked over a deterministic rule-based score, exactly the
  * "materialized prediction column" strategy from SURVEY.md §2.4 A4.
  */
object MLQueries extends QueryModule {

  // Deterministic stand-in classifier for oracle purposes:
  // label = (lang = 'en'), score = min(n_chars/500, 0.999), pred = score > 0.5.
  private def labeled(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(0L).as("label"),
      least(col("n_chars").cast("double") / 500.0, lit(0.999)).as("score"))

  // One model fit per (session, dataset, algorithm) — the CorpusQueries
  // kmeans-cache discipline applied to the classifier fits: the LinearSVC
  // fit alone is 20 hinge-loss iterations (~4.5 s at sf0.1, the suite's
  // #1 recorded cost in r14), and timing it inside the confusion-matrix
  // query misattributes a one-time build to a serving probe. Bench forces
  // these via `warmups` (untimed, recorded under their own names); the
  // queries then time transform + aggregate only.
  private val lrCache =
    new graft.util.SessionCache[org.apache.spark.ml.classification.LogisticRegressionModel]
  private val nbCache =
    new graft.util.SessionCache[org.apache.spark.ml.classification.NaiveBayesModel]
  private val svcCache =
    new graft.util.SessionCache[org.apache.spark.ml.classification.LinearSVCModel]
  // LR and LinearSVC fit through the same kept-column path as
  // graft.app.Train (SentimentPipeline.fitKept).
  private def lrModel(s: org.apache.spark.sql.SparkSession, d: String) =
    lrCache.getOrElseUpdate(s, d) {
      val f = SharedFeatures.trainTest(s, d)
      SentimentPipeline.fitKept(SentimentPipeline.logisticRegression(),
        f.idf, f.rawTrain)
    }
  private def nbModel(s: org.apache.spark.sql.SparkSession, d: String) =
    nbCache.getOrElseUpdate(s, d) {
      SentimentPipeline.naiveBayes().fit(SharedFeatures.trainTest(s, d).train)
    }
  private def svcModel(s: org.apache.spark.sql.SparkSession, d: String) =
    svcCache.getOrElseUpdate(s, d) {
      val f = SharedFeatures.trainTest(s, d)
      SentimentPipeline.fitKept(SentimentPipeline.linearSvc(), f.idf,
        f.rawTrain)
    }

  override val warmups: Map[String, (org.apache.spark.sql.SparkSession,
      String) => Unit] = Map(
    "lr_fit" -> ((s, d) => { lrModel(s, d); () }),
    "nb_fit" -> ((s, d) => { nbModel(s, d); () }),
    "svc_fit" -> ((s, d) => { svcModel(s, d); () }))

  val queries: Map[String, Q] = Map(
    // Confusion-matrix aggregation (in-engine A4 replacement).
    "q_confusion_pairs" -> ((s, d) =>
      labeled(s, d)
        .withColumn("prediction", (col("score") > 0.5).cast("long"))
        .groupBy(col("label"), col("prediction"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("prediction"))),

    // Binned ROC over the deterministic score (M13's window workload).
    "q_roc_binned" -> ((s, d) =>
      BinaryMetrics.binnedRoc(labeled(s, d), "score", "label", bins = 100)
        .select(col("bin").cast("long").as("bin"),
          round(col("fpr"), 6).as("fpr"), round(col("tpr"), 6).as("tpr"))
        .orderBy(col("bin").desc)),

    // EXACT ROC over the deterministic score — one point per distinct
    // score (sklearn roc_curve parity, kept in-engine); the binned form
    // above remains the unbounded-cardinality scale path.
    "q_roc_exact" -> ((s, d) =>
      BinaryMetrics.exactRoc(labeled(s, d), "score", "label")
        .select(round(col("threshold"), 6).as("threshold"),
          round(col("fpr"), 6).as("fpr"), round(col("tpr"), 6).as("tpr"))
        .orderBy(col("threshold").desc)),

    // Calibration curve (reliability diagram) over the deterministic
    // score — the ML-eval verb beside ROC: per decile bin, count, mean
    // predicted confidence, observed positive rate. Confidence rides
    // the 1e-9 quantize-then-integer-sum grid (double avg is
    // summation-order dependent; integer sums are not), one division
    // back per bin.
    "q_calibration" -> ((s, d) =>
      labeled(s, d)
        .select(least(floor(col("score") * 10), lit(9)).cast("long")
            .as("bin"),
          round(col("score") * lit(1e9)).cast("long").as("sn"),
          col("label"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round((sum(col("sn")).cast("double")
            / count(lit(1)).cast("double")) / lit(1e9), 6).as("confidence"),
          round(sum(col("label")).cast("double")
            / count(lit(1)).cast("double"), 6).as("accuracy"))
        .orderBy(col("bin"))),

    // Expected Calibration Error — the one-number summary of the
    // reliability diagram above: ECE = Σ_bins (n_b/N)·|acc_b − conf_b|.
    // Same integer-grid confidence, |…| on doubles identical both
    // engines, weighted sum quantized per bin before the order-free
    // integer total.
    "q_calibration_ece" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bins = labeled(s, d)
        .select(least(floor(col("score") * 10), lit(9)).cast("long")
            .as("bin"),
          round(col("score") * lit(1e9)).cast("long").as("sn"),
          col("label"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("sn")).as("ssn"),
          sum(col("label")).as("sy"))
      val conf = (col("ssn").cast("double") / col("n").cast("double")) / lit(1e9)
      val acc = col("sy").cast("double") / col("n").cast("double")
      bins
        .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
        .withColumn("t",
          round((col("n").cast("double") / col("tot").cast("double"))
            * abs(acc - conf) * lit(1e9)).cast("long"))
        .agg(max(col("tot")).as("n_rows"), count(lit(1)).as("n_bins"),
          round(sum(col("t")).cast("double") / lit(1e9), 6).as("ece"))
    }),

    // LR sentiment pipeline end-to-end (fit + transform on the 80/20
    // reference split) — rows-only: L-BFGS float iterations. The
    // tokenize→stopwords→TF-IDF front half is fit once per dataset and
    // shared with the NB/SVC queries below (SharedFeatures): identical
    // semantics, one featurization instead of three.
    "q_ml_lr_predictions" -> ((s, d) => {
      val test = SharedFeatures.trainTest(s, d).test
      lrModel(s, d).transform(test)
        .select(col("doc_id"), col("label").cast("long").as("label"),
          col("prediction").cast("long").as("prediction"),
          round(element_at(vector_to_array(col("probability")), 2), 4).as("p1"))
        .orderBy(col("doc_id"))
    }),

    // NB pipeline confusion matrix (rows-only; shared featurization,
    // memoized fit — the query times transform + aggregate).
    "q_ml_nb_confusion" -> ((s, d) =>
      SentimentPipeline.confusionMatrix(
        nbModel(s, d).transform(SharedFeatures.trainTest(s, d).test))),

    // LinearSVC pipeline confusion matrix (rows-only; shared
    // featurization, memoized fit — the 20-iteration hinge fit runs once
    // per session under `warmups`, not inside the timed query).
    "q_ml_svc_confusion" -> ((s, d) =>
      SentimentPipeline.confusionMatrix(
        svcModel(s, d).transform(SharedFeatures.trainTest(s, d).test)))
  )

  val oracle: Map[String, String] = Map(
    "q_confusion_pairs" ->
      """SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS label,
        |  CAST(CASE WHEN least(n_chars / 500.0, 0.999) > 0.5 THEN 1 ELSE 0 END
        |    AS BIGINT) AS prediction,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY label, prediction""".stripMargin,

    "q_calibration" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(least(n_chars / 500.0, 0.999) * 10), 9)
        |      AS BIGINT) AS bin,
        |    CAST(round(least(n_chars / 500.0, 0.999) * 1e9) AS BIGINT) AS sn,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  round((CAST(sum(sn) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1e9, 6)
        |    AS confidence,
        |  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS accuracy
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q_calibration_ece" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(least(n_chars / 500.0, 0.999) * 10), 9)
        |      AS BIGINT) AS bin,
        |    CAST(round(least(n_chars / 500.0, 0.999) * 1e9) AS BIGINT) AS sn,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (SELECT bin, count(*) AS n, sum(sn) AS ssn, sum(y) AS sy
        |      FROM b GROUP BY bin),
        |w AS (SELECT n, ssn, sy, sum(n) OVER () AS tot FROM g),
        |q AS (SELECT tot, CAST(round(
        |        (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
        |        * abs(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |          - (CAST(ssn AS DOUBLE) / CAST(n AS DOUBLE)) / 1e9)
        |        * 1e9) AS BIGINT) AS t
        |      FROM w)
        |SELECT CAST(max(tot) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  round(CAST(sum(t) AS DOUBLE) / 1e9, 6) AS ece
        |FROM q""".stripMargin,

    "q_roc_exact" ->
      """WITH s AS (
        |  SELECT least(n_chars / 500.0, 0.999) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (SELECT score, sum(y) AS pos, count(*) - sum(y) AS neg
        |      FROM s GROUP BY score),
        |t AS (SELECT CAST(sum(pos) AS DOUBLE) AS p, CAST(sum(neg) AS DOUBLE) AS n
        |      FROM g)
        |SELECT round(score, 6) AS threshold,
        |  round(CAST(sum(neg) OVER (ORDER BY score DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / t.n, 6)
        |    AS fpr,
        |  round(CAST(sum(pos) OVER (ORDER BY score DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / t.p, 6)
        |    AS tpr
        |FROM g CROSS JOIN t
        |ORDER BY threshold DESC""".stripMargin,

    "q_roc_binned" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(least(n_chars / 500.0, 0.999) * 100), 99)
        |    AS BIGINT) AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (SELECT bin, sum(y) AS pos, count(*) - sum(y) AS neg
        |      FROM b GROUP BY bin),
        |t AS (SELECT CAST(sum(pos) AS DOUBLE) AS p, CAST(sum(neg) AS DOUBLE) AS n
        |      FROM g)
        |SELECT bin,
        |  round(CAST(sum(neg) OVER (ORDER BY bin DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / t.n, 6)
        |    AS fpr,
        |  round(CAST(sum(pos) OVER (ORDER BY bin DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / t.p, 6)
        |    AS tpr
        |FROM g CROSS JOIN t
        |ORDER BY bin DESC""".stripMargin
  )
}
