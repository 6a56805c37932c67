package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ml.IntentModel

/** §7.5(e): the benchmark-harness parity of the reference's
  * `benchmarks/compare_frameworks.py:136-189` — run the same pipeline two
  * ways, check the results agree, print a winner table with the reference's
  * 0.01 tie threshold on AUC/F1. Here the two "frameworks" are the two
  * spellings of the first-purchase computation: W1 (partition window, one
  * shuffle) vs J1 (aggregate + left join, two shuffles); each feeds the
  * identical RF train/eval, so quality metrics must tie and the table
  * isolates the preprocessing-plan cost.
  *
  *   runMain graft.cli.CompareSpellings [sfDir]
  */
object CompareSpellings {

  final case class Result(name: String, seconds: Double, rows: Long)

  final case class Framework(
      name: String,
      prepSeconds: Double,
      trainSeconds: Double,
      rows: Long,
      metrics: IntentModel.Metrics
  ) {
    def totalSeconds: Double = prepSeconds + trainSeconds
  }

  /** One comparison row: metric, per-framework values, winner ("Tie" inside
    * `tieEps` for quality metrics; lower-is-better for times).
    */
  final case class TableRow(metric: String, a: Double, b: Double, winner: String)

  def time(name: String, df: => DataFrame): Result = {
    val t0 = System.nanoTime()
    val frame = df
    frame.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    Result(name, secs, frame.count())
  }

  def run(spark: SparkSession, sfDir: String): Seq[Result] = {
    val window = time("W1 window spelling", SparkEntry.queries("q_session_features")(spark, sfDir))
    val join = time("J1 join spelling", SparkEntry.queries("q_session_features_join")(spark, sfDir))
    require(window.rows == join.rows, s"spellings disagree: ${window.rows} vs ${join.rows}")
    Seq(window, join)
  }

  /** Full cross-framework run: preprocess + RF train/eval per spelling. */
  def runMl(spark: SparkSession, sfDir: String): Seq[Framework] = {
    Seq("W1" -> "q_session_features", "J1" -> "q_session_features_join").map {
      case (name, query) =>
        val prep = time(name, SparkEntry.queries(query)(spark, sfDir))
        // canonicalize layout: sampleBy/randomSplit draw per (partition,
        // position), so identical rows in a different order would sample
        // differently and the quality metrics would jitter — hash-partition
        // + sort gives both spellings the same layout, isolating plan cost.
        val features = SparkEntry.queries(query)(spark, sfDir)
          .repartition(8, org.apache.spark.sql.functions.col("user_session"))
          .sortWithinPartitions("user_session")
        val t0 = System.nanoTime()
        val (_, metrics) = IntentModel.trainEval(features)
        val trainSecs = (System.nanoTime() - t0) / 1e9
        Framework(name, prep.seconds, trainSecs, prep.rows, metrics)
    }
  }

  /** The reference's comparison report rows (compare_frameworks.py:148-178):
    * AUC and F1 tie within `tieEps`; times are lower-is-better.
    */
  def winnerTable(a: Framework, b: Framework, tieEps: Double = 0.01): Seq[TableRow] = {
    def quality(metric: String, x: Double, y: Double) =
      TableRow(metric, x, y,
        if (math.abs(x - y) < tieEps) "Tie" else if (x > y) a.name else b.name)
    def faster(metric: String, x: Double, y: Double) =
      TableRow(metric, x, y, if (x < y) a.name else b.name)
    Seq(
      quality("AUC", a.metrics.auc, b.metrics.auc),
      quality("F1-Score", a.metrics.f1, b.metrics.f1),
      faster("Preprocessing (sec)", a.prepSeconds, b.prepSeconds),
      faster("Training (sec)", a.trainSeconds, b.trainSeconds),
      faster("Total (sec)", a.totalSeconds, b.totalSeconds)
    )
  }

  def render(a: Framework, b: Framework, rows: Seq[TableRow]): String = {
    val sb = new StringBuilder
    sb ++= f"| metric | ${a.name} | ${b.name} | winner |%n"
    sb ++= f"|---|---|---|---|%n"
    rows.foreach(r => sb ++= f"| ${r.metric} | ${r.a}%.4f | ${r.b}%.4f | ${r.winner} |%n")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    val Seq(w1, j1) = runMl(spark, sfDir)
    require(w1.rows == j1.rows, s"spellings disagree: ${w1.rows} vs ${j1.rows}")
    print(render(w1, j1, winnerTable(w1, j1)))
    spark.stop()
  }
}
