package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Pins the `Tables.events` schema contract (sources/Tables.scala) against
  * BOTH physical shapes the driver has shipped for `events.parquet`:
  *
  *   1. parquet timestamp[us] (isAdjustedToUTC=false → Spark TIMESTAMP_NTZ) —
  *      the shape after the round-9 testdata regeneration;
  *   2. int64 nanos-since-epoch (what parquet TIMESTAMP(NANOS) becomes under
  *      `spark.sql.legacy.parquet.nanosAsLong=true` — the branch dispatch in
  *      Tables.events sees plain LongType either way, so an int64 fixture
  *      exercises the identical code path).
  *
  * Round 9 lost 58 queries at analysis time because the NTZ branch was never
  * exercised in-suite; this spec makes a silent driver regeneration of either
  * shape a loud test failure. Both branches must yield `ts: TimestampType`
  * plus `ts_ns` consistent with it (micros×1000 / raw nanos respectively).
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(sql: String): String = {
    val dir = Files.createTempDirectory("tables_fixture").toString
    spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("NTZ branch: parquet timestamp[us] -> ts TimestampType, ts_ns = micros*1000") {
    val dir = writeFixture(
      """SELECT * FROM VALUES
        |  (timestamp_ntz'2024-01-02 03:04:05.123456', 1L),
        |  (timestamp_ntz'1970-01-01 00:00:00.000001', 2L)
        |AS t(ts, user_id)""".stripMargin)
    // Written as TIMESTAMP_NTZ → parquet timestamp[us] not adjusted to UTC;
    // the scan must NOT come back as LongType (that would mean the fixture
    // degraded and the test is no longer pinning the NTZ branch).
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType !== LongType, "fixture no longer NTZ-shaped")

    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.orderBy("user_id")
      .select(unix_micros(col("ts")).as("us"), col("ts_ns"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wallMicros = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000)
      .toInstant(java.time.ZoneOffset.UTC)
    val expected1 = wallMicros.getEpochSecond * 1000000L + 123456L
    assert(got === Array((expected1, expected1 * 1000L), (1L, 1000L)))
  }

  test("nanos-long branch: int64 ts -> ts TimestampType truncated to micros, ts_ns raw") {
    val dir = writeFixture(
      """SELECT * FROM VALUES
        |  (1704164645123456789L, 1L),
        |  (999L, 2L)
        |AS t(ts, user_id)""".stripMargin)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType === LongType, "fixture must read back as LongType")

    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.orderBy("user_id")
      .select(unix_micros(col("ts")).as("us"), col("ts_ns"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // micros = nanos DIV 1000 (truncation); ts_ns is the untouched long.
    assert(got === Array((1704164645123456L, 1704164645123456789L), (0L, 999L)))
  }

  test("live driver testdata satisfies the contract (ts TimestampType, ts_ns consistent)") {
    val ev = Tables(spark, TestSpark.Sf0001).events
    assert(ev.schema("ts").dataType === TimestampType)
    // Whichever branch fired, ts_ns must carry at least micro precision of ts:
    // floor(ts_ns / 1000) == unix_micros(ts) on every row.
    val bad = ev.filter(expr("ts_ns DIV 1000") =!= unix_micros(col("ts"))).count()
    assert(bad === 0L, s"$bad rows with ts_ns inconsistent with ts")
    assert(ev.count() > 0L)
  }

  test("scanParts: a same-path rewrite with a different part count returns the new count") {
    val path = Files.createTempDirectory("scan_parts").resolve("t.parquet").toString
    val dir = new java.io.File(path)
    spark.range(0, 1000, 1, 3).write.mode("overwrite").parquet(path)
    val mtime = dir.lastModified
    val before = Tables.scanParts("t", path, spark.read.parquet(path))
    spark.range(0, 1000, 1, 1).write.mode("overwrite").parquet(path)
    // a store whose directory mtime does not move when the parts change
    assert(dir.setLastModified(mtime))
    val fresh = spark.read.parquet(path).rdd.getNumPartitions
    assert(fresh != before, s"fixture must change the count: $before -> $fresh")
    assert(Tables.scanParts("t", path, spark.read.parquet(path)) == fresh)
  }
}
