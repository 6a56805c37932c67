package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryHelpers

/** The session lifecycle `GraftSession` owns: the core-count default every
  * main builds with, and the one cleanup sweep; plus the session and pool
  * threads `QueryHelpers.buildConcurrently` must not leak.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cores: a set SPARK_GRAFT_CPUS wins, unset means the processor count") {
    assert(GraftSession.coresFrom(Some("6"), available = 4) == 6)
    assert(GraftSession.coresFrom(Some(" 2 "), available = 4) == 2)
    assert(GraftSession.coresFrom(None, available = 4) == 4)
  }

  test("cores: a non-numeric or non-positive SPARK_GRAFT_CPUS is rejected by name") {
    Seq("x", "", "4.5", "0", "-2").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.coresFrom(Some(v), available = 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }

  test("release drops cached frames and unpersists every RDD") {
    val frame = spark.range(100).toDF("id").cache()
    frame.count()
    spark.sparkContext.parallelize(1 to 100).persist(StorageLevel.MEMORY_ONLY).count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftSession.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("buildConcurrently: sequential results, no pool thread outlives the call") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val sessions = new ConcurrentLinkedQueue[Option[SparkSession]]()
    val builders: Seq[() => DataFrame] = (1 to 3).map { n => () =>
      threads.add(Thread.currentThread())
      sessions.add(SparkSession.getActiveSession)
      spark.range(n * 10L).selectExpr(s"id * $n AS v")
    }
    val concurrent = QueryHelpers.buildConcurrently(spark, builders)
    val pooled = threads.asScala.toList
    assert(sessions.asScala.forall(_.contains(spark)))
    assert(concurrent.map(_.collect().toSeq) == builders.map(_().collect().toSeq))
    pooled.foreach(_.join(5000))
    assert(pooled.forall(!_.isAlive), "a builder thread outlived buildConcurrently")
  }
}
