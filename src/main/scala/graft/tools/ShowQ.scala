package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev utility: print a few rows + row count of one or more
  * `SparkEntry.queries` entries at a given SF dir.
  * `sbt "runMain graft.tools.ShowQ /root/testdata/sf0.01 q_naive_bayes"`.
  */
object ShowQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = args.head
    val showPlan = sys.env.contains("SPARK_GRAFT_SHOWQ_PLAN")
    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"== $name ==")
      if (showPlan) println(df.queryExecution.executedPlan.toString)
      else df.show(40, truncate = false)
      println(s"[showq] $name rows=${df.count()}")
      GraftSession.release(spark)
    }
    spark.stop()
  }
}
