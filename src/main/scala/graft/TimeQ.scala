package graft

/** Dev utility: time one or more `SparkEntry.queries` entries at a given
  * SF dir on the same session as Bench (`GraftSession.local()`: the same
  * cores and shuffle partitions), with Bench's noop-sink materialization
  * and per-query cache hygiene, and a one-pass sf0.001 JVM warmup per query.
  * `sbt "runMain graft.TimeQ /root/testdata/sf0.1 q_kcore q_pagerank"`.
  *
  * Optional SPARK_GRAFT_TIMEQ_REPS repeats the timed run N times and
  * prints every sample (first-run vs steady-state is often the question).
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = args.head
    val reps = sys.env.getOrElse("SPARK_GRAFT_TIMEQ_REPS", "1").toInt
    args.tail.foreach { name =>
      val q = SparkEntry.queries(name)
      // warmup exactly like Bench's: materialize through the noop sink
      q(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      GraftSession.release(spark)
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime
        q(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"[timeq] $name rep=$rep time=${(System.nanoTime - t0) / 1e9}%.2f s")
        GraftSession.release(spark)
      }
    }
    spark.stop()
  }
}
