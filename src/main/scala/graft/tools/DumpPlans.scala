package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev utility: write `.explain("formatted")` of one or more
  * `SparkEntry.queries` entries to `<outDir>/<query>_<tag>.txt` — the
  * optimization-round evidence files (plans/rNN/).
  *
  * `sbt "runMain graft.tools.DumpPlans /root/testdata/sf0.1 plans/r20 after q_pagerank ..."`
  *
  * Uses the same session as Bench (`GraftSession.local()`: the same cores
  * and shuffle partitions) so the dumped plans are the plans the bench
  * actually runs. Building an iterative query executes its driver-side
  * training; the dumped plan is the returned frame's (post-checkpoint)
  * plan — for those, the loop-body shape is asserted by PlanSpec pins
  * instead.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, tag, names @ _*) = args
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[dumpplans] wrote $outDir/${name}_$tag.txt")
      GraftSession.release(spark)
    }
    spark.stop()
  }
}
