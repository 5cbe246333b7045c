package org.apache.spark.ml.graftbridge

import org.apache.spark.ml.classification.LogisticRegressionModel

/** Bridge to the `private[ml]` training-summary setter, the technique
  * `org.apache.spark.sql.graftbridge` uses for Dataset and Column.
  *
  * A fitted model keeps its training summary, which holds the training
  * DataFrame and through it the SparkSession. Once any
  * [[org.apache.spark.sql.Observation]] has run in that session, the
  * session carries a non-serializable observation manager, and the
  * model's `transform` closures fail with "Task not serializable".
  * A scorer that only applies the model needs no summary.
  */
object ModelBridge {
  def withoutSummary(model: LogisticRegressionModel): LogisticRegressionModel =
    model.setSummary(None)
}
