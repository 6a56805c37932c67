package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off scaling-probe dataset builder (SCALING.md): replicates an
  * existing SF dir `copies`× with disjoint key ranges, so query runtimes
  * can be measured one scale decade past the shipped sf0.1 without
  * touching the read-only /root/testdata.
  *
  * Fidelity choices, and their limits, documented for the probe's
  * interpretation:
  *   - every fact/dim key (custkey, orderkey, doc_id, user_id, …) shifts
  *     by k·10⁷ per copy, so FK joins resolve within a copy and group
  *     cardinalities scale linearly;
  *   - nation/region stay single-copy (true dimensions);
  *   - document TEXT is perturbed per copy (every 3rd token suffixed with
  *     the copy index), so every 3-shingle of copy k differs from copy
  *     k'≠k: WITHOUT this, identical texts across copies would form
  *     cross-copy duplicate cliques and pair counts would grow
  *     QUADRATICALLY in copies — a replication artifact, not scale;
  *   - embeddings replicate unperturbed (vector distributions identical;
  *     top-k neighbor sets change, timings are what the probe measures);
  *   - events keep their time range (denser traffic, the realistic
  *     scale-up) with shifted user/event ids.
  *
  * `sbt "runMain graft.tools.GenScaledData /root/testdata/sf0.1 /tmp/sfx0.5 5"`
  */
object GenScaledData {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, copiesStr) = args
    val copies = copiesStr.toInt
    require(copies >= 2 && copies <= 30, s"copies=$copies out of range")
    val spark = graft.GraftSession.local()
    // raw reads (GraftSession sets nanosAsLong, so events.ts stays a LONG
    // of nanos and round-trips as int64 — Tables' nanos branch then
    // applies to the output dir exactly as it does to the source)
    def raw(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(8).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    val Off = 10000000L
    def shift(df: DataFrame, cols: Seq[String], k: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Off)))
    def rep(name: String, keyCols: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit =
      write((0 until copies).map(k => extra(shift(raw(name), keyCols, k), k))
        .reduce(_ unionByName _), name)

    for (t <- Seq("region", "nation")) write(raw(t), t)
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("events", Seq("event_id", "user_id"))
    rep("embeddings", Seq("vec_id"))
    rep("documents", Seq("doc_id"), (d, k) =>
      if (k == 0) d
      else d.withColumn("text",
        array_join(
          transform(split(col("text"), " "), (t, i) =>
            when(i % 3 === 0, concat(t, lit("x"), lit(k))).otherwise(t)),
          " ")))
    println(s"[genscale] wrote ${copies}x ${srcDir} -> ${outDir}")
    spark.stop()
  }
}
