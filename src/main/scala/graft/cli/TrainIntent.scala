package graft.cli

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.ml.IntentModel

/** Reference-parity training CLI
  * (reference: src/spark/train_intent.py:140-168 — same flags):
  *
  *   runMain graft.cli.TrainIntent --input features.parquet \
  *     [--model-output path] [--num-trees 20] [--max-depth 5]
  *
  * Parquet features → undersample → assemble → 80/20 split → RF → metrics.
  */
object TrainIntent {

  def run(
      spark: SparkSession,
      input: String,
      modelOutput: Option[String],
      numTrees: Int,
      maxDepth: Int
  ): IntentModel.Metrics = {
    GraftSession.tune(spark)
    val features = spark.read.parquet(input)
    val (model, metrics) = IntentModel.trainEval(features, numTrees, maxDepth)
    modelOutput.foreach(p => model.write.overwrite().save(p))
    metrics
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val input = opts.getOrElse("--input", sys.error("--input required"))
    val spark = GraftSession.local()
    val m = run(
      spark,
      input,
      opts.get("--model-output"),
      opts.getOrElse("--num-trees", "20").toInt,
      opts.getOrElse("--max-depth", "5").toInt
    )
    println(
      f"[train] AUC=${m.auc}%.4f accuracy=${m.accuracy}%.4f f1=${m.f1}%.4f " +
        f"weightedRecall=${m.weightedRecall}%.4f"
    )
    spark.stop()
  }
}
