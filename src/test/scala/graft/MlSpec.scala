package graft

import org.apache.spark.sql.functions._

/** FraudScorer invariants — q33 is rows-only at the driver gate, so the
  * model contract is asserted here: full coverage, valid probabilities,
  * and better-than-chance separation on the rule-derived labels it was
  * trained on.
  */
class MlSpec extends SparkSpec {

  private lazy val scored = graft.ml.FraudScorer.score(spark, sf).cache()

  test("every event is scored exactly once") {
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(scored.count() === n)
    assert(scored.select("event_id").distinct().count() === n)
  }

  test("probabilities are valid and labels binary") {
    assert(scored.filter(col("fraud_prob") < 0.0 || col("fraud_prob") > 1.0).isEmpty)
    assert(scored.filter(!col("label").isin(0.0, 1.0)).isEmpty)
    assert(scored.filter(!col("prediction").isin(0.0, 1.0)).isEmpty)
  }

  test("held-out evaluation: AUC clears the floor on an unseen split") {
    val m = graft.ml.FraudScorer.evaluate(spark, sf).collect()(0)
    val nTrain = m.getAs[Long]("n_train")
    val nTest = m.getAs[Long]("n_test")
    val nPos = m.getAs[Long]("n_test_pos")
    assert(nTrain > 0 && nTest > 0, "both splits must be populated")
    assert(nPos > 0, "test split must contain positive labels")
    assert(nPos < nTest, "test split must contain negative labels")
    // split is disjoint and covers every event
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(nTrain + nTest === n)
    val aucRoc = m.getAs[Double]("auc_roc")
    val aucPr = m.getAs[Double]("auc_pr")
    assert(aucRoc > 0.65, s"held-out AUC-ROC $aucRoc below floor")
    // PR floor = beating the random-classifier baseline (positive rate)
    // by a clear margin at this class skew. 1.5x leaves honest headroom
    // for a 5-feature linear model on the sf0.001 split (measured ~1.8x).
    val baseline = nPos.toDouble / nTest
    assert(aucPr > baseline * 1.5,
      s"held-out AUC-PR $aucPr not above 1.5x the $baseline chance baseline")
  }

  test("scores separate the training labels better than chance") {
    val byLabel = scored.groupBy("label")
      .agg(avg(col("fraud_prob")).as("mean_prob"))
      .collect().map(r => r.getAs[Double]("label") -> r.getAs[Double]("mean_prob"))
      .toMap
    assert(byLabel.keySet === Set(0.0, 1.0),
      s"both label classes must be present, got ${byLabel.keySet}")
    assert(byLabel(1.0) > byLabel(0.0),
      s"labeled-fraud mean prob ${byLabel(1.0)} must exceed clean ${byLabel(0.0)}")
  }

  test("scoring and evaluation run after an Observation in the session") {
    // the first Observation gives the session a non-serializable
    // observation manager; a model that kept its training summary (and
    // through it the session) then fails its transform closures
    val obs = org.apache.spark.sql.Observation()
    spark.range(3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") === 3L)
    // a training cap of its own keys a fresh fit after the observation
    val cap = 999983L
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(graft.ml.FraudScorer.score(spark, sf, trainSampleCap = cap).count() === n)
    val m = graft.ml.FraudScorer.evaluate(spark, sf, trainSampleCap = cap).collect()(0)
    assert(m.getAs[Long]("n_train") + m.getAs[Long]("n_test") === n)
  }
}
