package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.IDFModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.SessionCache

/** Featurization shared across the three classifier fits.
  *
  * The reference's three model mains each rebuild the identical
  * tokenize → stopwords → HashingTF → IDF front half before their own
  * classifier (`model_logistic_regression.py:88-116` ==
  * `model_naive_bayes.py:61-81` == `model_svm.py:90-118`). Fitting that
  * front half three times is pure waste — the IDF fit is a full corpus
  * aggregation each time. Here it is fit ONCE per dataset and the
  * prepared (doc_id, label, raw_features) frames are cached; each
  * classifier then fits against the cached features (identical inputs →
  * identical models, since the feature pipeline is deterministic given
  * the train split).
  *
  * At 100 TB this is the materialize-features-once pattern: the cached
  * frame is what you'd persist to parquet between pipeline stages.
  */
object SharedFeatures {

  /** Cached (doc_id, label, raw_features) HashingTF frames and the IDF
    * fitted on the train split. [[SentimentPipeline.fitKept]] fits on
    * `rawTrain` and applies the IDF itself; [[train]] and [[test]] apply
    * it on read, so the cache holds the same bytes either way. */
  final case class TrainTest(rawTrain: DataFrame, rawTest: DataFrame,
      idf: IDFModel) {
    def train: DataFrame = idf.transform(rawTrain)
    def test: DataFrame = idf.transform(rawTest)
  }

  private val cache = new SessionCache[TrainTest]

  /** Train and test features for the sf-dir's documents table with
    * the deterministic lang-derived label, split 80/20 seed 42. Cached
    * per (session, directory) — persisted frames die with their
    * SparkContext, so a dataset key alone would hand a later session
    * frames owned by a stopped context; the weak session keying lets
    * the whole entry go when the session does. */
  def trainTest(spark: SparkSession, dir: String): TrainTest =
    cache.getOrElseUpdate(spark, dir) {
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("label"))
      val (train, test) = SentimentPipeline.split(docs)
      val featModel =
        new Pipeline().setStages(SentimentPipeline.tfidfStages()).fit(train)
      // Size the cached instance frames to the data: the classifier fits
      // run ~20 aggregation jobs each over these frames, and a handful of
      // rows per partition just multiplies per-task overhead (and forces
      // a pointless tree-aggregation level). ~25k rows per partition,
      // capped at the session's parallelism.
      val parts = math.max(1L, math.min(
        docs.count() / 25000L,
        spark.sparkContext.defaultParallelism.toLong)).toInt
      def prep(df: DataFrame): DataFrame =
        SentimentPipeline.hashed(featModel, df)
          .select(col("doc_id"), col("label"), col("raw_features"))
          .coalesce(parts)
          .persist()
      TrainTest(prep(train), prep(test),
        featModel.stages.last.asInstanceOf[IDFModel])
    }
}
