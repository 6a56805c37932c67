package graft.ml

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M1–M5: purchase-intent RandomForest pipeline
  * (reference: src/spark/train_intent.py:82-137).
  *
  * Defaults follow the code (numTrees=20, maxDepth=5, seed=42,
  * train_intent.py:21-22); the cluster script used 50/10
  * (scripts/submit_intent_training.sh:24-25) — both parameterized.
  */
object IntentModel {

  val FeatureCols: Array[String] =
    Array("view_count", "cart_count", "session_duration", "avg_price", "max_price", "unique_items")

  final case class Metrics(auc: Double, accuracy: Double, f1: Double, weightedRecall: Double)

  /** M1: assemble the 6 features into a dense vector; keep only (label, features). */
  def assemble(features: DataFrame): DataFrame = {
    val casted = FeatureCols.foldLeft(features)((d, c) => d.withColumn(c, col(c).cast("double")))
    new VectorAssembler()
      .setInputCols(FeatureCols)
      .setOutputCol("features")
      .setHandleInvalid("keep")
      .transform(casted)
      .select(col("label").cast("double").as("label"), col("features"))
  }

  def train(
      assembled: DataFrame,
      numTrees: Int = 20,
      maxDepth: Int = 5,
      seed: Long = 42L
  ): RandomForestClassificationModel =
    new RandomForestClassifier()
      .setLabelCol("label")
      .setFeaturesCol("features")
      .setNumTrees(numTrees)
      .setMaxDepth(maxDepth)
      .setSeed(seed)
      .fit(assembled)

  /** M3+M4: AUC / accuracy / f1 / weightedRecall on a test frame. */
  def evaluate(model: RandomForestClassificationModel, test: DataFrame): Metrics = {
    val pred = model.transform(test).cache()
    try {
      val auc = new BinaryClassificationEvaluator()
        .setLabelCol("label")
        .setMetricName("areaUnderROC")
        .evaluate(pred)
      // one confusion-matrix job serves all three multiclass metrics; each
      // is the value the evaluator returns for "accuracy" / "f1" /
      // "weightedRecall" (pinned bit-identical in MlSpec)
      val multi = new MulticlassClassificationEvaluator()
        .setLabelCol("label")
        .setPredictionCol("prediction")
        .getMetrics(pred)
      Metrics(auc, multi.accuracy, multi.weightedFMeasure, multi.weightedRecall)
    } finally pred.unpersist()
  }

  /** Full reference training flow: undersample → assemble → 80/20 split →
    * fit → evaluate. The balanced training set is cached before the
    * multi-pass RF fit — the reference's 485 s local fit partly came from
    * recomputing its whole CSV→window→agg lineage every tree-depth iteration
    * (SURVEY §4).
    */
  def trainEval(
      sessionFeatures: DataFrame,
      numTrees: Int = 20,
      maxDepth: Int = 5,
      seed: Long = 42L
  ): (RandomForestClassificationModel, Metrics) = {
    val balanced = Undersample.balance(sessionFeatures, "label", seed)
    val assembled = assemble(balanced).cache()
    try {
      val Array(trainDf, testDf) = assembled.randomSplit(Array(0.8, 0.2), seed)
      val model = train(trainDf, numTrees, maxDepth, seed)
      (model, evaluate(model, testDf))
    } finally assembled.unpersist()
  }

  /** M5: feature name → importance, descending. */
  def featureImportances(model: RandomForestClassificationModel): Seq[(String, Double)] =
    FeatureCols.zip(model.featureImportances.toArray).sortBy(-_._2).toSeq
}
