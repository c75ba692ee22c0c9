package org.apache.spark.ml.classification

import org.apache.spark.ml.linalg.{DenseMatrix, Vectors}

/** Bridge to spark.ml's private[spark] `LogisticRegressionModel`
  * constructor, so that a binomial model fitted outside spark.ml is the
  * class `LogisticRegression.fit` returns: it scores, saves and loads
  * through spark.ml unchanged.
  */
object GraftModelBridge {

  /** The binomial model `estimator.fit` would build from these
    * coefficients: the estimator's uid and its explicitly set params
    * (the defaults are the model's own). `numClasses` is 1 when every
    * training label is 0, as spark.ml sizes it from the largest label.
    */
  def logisticModel(estimator: LogisticRegression,
                    coefficients: Array[Double], intercept: Double,
                    numClasses: Int): LogisticRegressionModel = {
    val model = new LogisticRegressionModel(estimator.uid,
      new DenseMatrix(1, coefficients.length, coefficients,
        isTransposed = true),
      Vectors.dense(intercept), numClasses, isMultinomial = false)
    estimator.params.filter(estimator.isSet).foreach { p =>
      model.set(model.getParam(p.name), estimator.getOrDefault(p))
    }
    model
  }
}
