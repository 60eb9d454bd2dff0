package org.apache.spark.ml.classification

import org.apache.spark.ml.linalg.{DenseMatrix, Vector, Vectors}

/** Public constructors for the two linear classifier models, whose own
  * constructors are package-private: [[graft.ml.SentimentPipeline]] fits
  * on a narrowed feature space and rebuilds the model at full width from
  * the widened coefficients. Both keep the storage layout their fit
  * builds (compressed coefficients), so a rebuilt model saves, loads and
  * scores as a directly fitted one. */
object LinearModels {

  /** A binomial LR model: a compressed 1-row coefficient matrix, as
    * LogisticRegression.fit builds it. */
  def logisticRegression(uid: String, coefficients: Vector, intercept: Double,
      numClasses: Int): LogisticRegressionModel =
    new LogisticRegressionModel(uid,
      new DenseMatrix(1, coefficients.size, coefficients.toArray,
        isTransposed = true).compressed,
      Vectors.dense(intercept).compressed, numClasses, isMultinomial = false)

  def linearSvc(uid: String, coefficients: Vector,
      intercept: Double): LinearSVCModel =
    new LinearSVCModel(uid, coefficients.compressed, intercept)
}
