package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.functions._

/** AutoML gates (SURVEY.md §2.13): hyperparameter tuning. */
object AutoMLGates {
  val gates: Seq[Gate] = Seq(
    // Separable-rule CV gate (train_classifier pattern): the label is an
    // OR of two binary features (greedy-splittable, unlike XOR), every
    // grid candidate reaches pure leaves, so WHICHEVER candidate wins
    // cross-validation, the best model's predictions equal the rule the
    // oracle recomputes. Exercises grid x fold fitting, the thread pool,
    // winner selection, and best-model scoring end-to-end.
    Gate("tune_hyperparameters", { (s, dir) =>
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.classification.DecisionTreeClassifier
      import org.apache.spark.ml.feature.VectorAssembler
      val ev = tbl(s, dir, "events")
        .select(col("event_id"),
          when(col("value") > 250, 1.0).otherwise(0.0).as("f1"),
          when(pmod(col("user_id"), lit(2)) === 0, 1.0).otherwise(0.0).as("f2"))
        .withColumn("label", greatest(col("f1"), col("f2")))
      val va = new VectorAssembler().setInputCols(Array("f1", "f2"))
        .setOutputCol("features")
      val dt = new DecisionTreeClassifier()
      val grid = new graft.automl.HyperparamBuilder()
        .addHyperparam(dt.maxDepth,
          graft.automl.DiscreteHyperParam(Seq(2, 4))).build(2, seed = 5)
      val tuned = new graft.automl.TuneHyperparameters(
        Seq(("dt", new Pipeline().setStages(Array(va, dt)), grid)),
        graft.automl.Evaluators.accuracy("label", "prediction"),
        numFolds = 2, parallelism = 4).fit(ev)
      tuned.bestModel.transform(ev)
        .select(col("event_id"), col("prediction"))
    }, oracle = Some(
      // CV best model trained on a separable OR-rule predicts the rule
      """SELECT event_id,
        |  CAST(CASE WHEN value > 250 OR user_id % 2 = 0
        |    THEN 1.0 ELSE 0.0 END AS DOUBLE) AS prediction
        |FROM events""".stripMargin))
  )
}
