package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.{GraftSession, SparkEntry}
import graft.cli.{Preprocess, TrainIntent}
import graft.ml.{IntentModel, OnlineLogreg, Undersample}
import graft.sources.Clickstream
import graft.operators.Featurize
import graft.streaming.{MetricsSink, MetricsStore, Replayer, StreamJob}

/** One benchmark run of one workload: set up several times, then run timed
  * passes until the time is up, and write every raw sample to a JSON file.
  * `perfbench/run.py` builds the inputs, starts this program, checks the
  * outputs and turns the samples into metrics.
  *
  * Arguments are `key=value`: workload, seconds, trace (0|1), cores, setups,
  * work (working directory), out (raw JSON path), and per workload: csv,
  * events, sessions (batch_intent, stream_intent), file_events
  * (stream_intent), sf and queries (the contract sets).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val raw = new Run(a).execute()
    Json.write(a("out"), raw)
    // Spark leaves non-daemon threads behind; the result is on disk.
    System.exit(0)
  }
}

/** What one pass reports: latency samples of its operations (ms), operations
  * attempted and failed, counts that should repeat exactly, and per-layer
  * values recorded only when the pass is traced.
  */
final case class PassOut(
    opsMs: Seq[Double],
    failed: Int,
    counts: Map[String, Long] = Map.empty,
    layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Untimed input preparation that needs a session (excluded from set-up). */
  def prepare(spark: SparkSession): Unit = ()
  def warmup(spark: SparkSession): Unit
  def pass(spark: SparkSession, index: Int, tr: Trace, engine: Option[EngineProbe]): PassOut
  /** Traced-run-only decomposition of the pipeline into its layers. */
  def layers(spark: SparkSession, tr: Trace): Map[String, Double] = Map.empty
  /** Output checks after the last pass: (name, ok, detail). */
  def checks: Seq[(String, Boolean, String)]
  /** Raw fields run.py needs for the checks it makes itself. */
  def extra: Map[String, Any] = Map.empty
}

final class Run(a: Map[String, String]) {
  private val cores = a("cores").toInt
  private val work = a("work")
  private val traced = a("trace") == "1"
  private val streams = new StreamProbe

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    spark.streams.addListener(streams)
    spark
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Host CPU ticks (steal, total) from /proc/stat: steal is time the
    * hypervisor gave this machine's CPUs to someone else.
    */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def execute(): Map[String, Any] = {
    val wl: Workload = a("workload") match {
      case "batch_intent" => new BatchIntent(a, work)
      case "stream_intent" => new StreamIntent(a, work, streams)
      case "contract_iterative" | "contract_kernels" => new ContractSet(a, work)
      case other => sys.error(s"unknown workload $other")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (j <- 0 until a("setups").toInt) {
      if (spark != null) spark.stop()
      val startMs = if (j == 0) jvmStartMs else System.currentTimeMillis()
      val cg0 = CodeGenerator.compileTime
      val b0 = System.nanoTime()
      spark = session()
      val buildS = (System.nanoTime() - b0) / 1e9
      val p0 = System.nanoTime()
      if (j == 0) wl.prepare(spark)
      val prepareS = (System.nanoTime() - p0) / 1e9
      val w0 = System.nanoTime()
      wl.warmup(spark)
      val warmS = (System.nanoTime() - w0) / 1e9
      setups += Map(
        "total_s" -> ((System.currentTimeMillis() - startMs) / 1e3 - prepareS),
        "build_s" -> buildS, "warmup_s" -> warmS, "prepare_s" -> prepareS,
        "codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9)
    }

    val trace = new Trace(enabled = true, runId = s"${a("workload")}-${a.getOrElse("seed", "0")}")
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L
    var failed = 0L
    var peakHeap = 0.0
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var i = 0
    while (i < (if (traced) 2 else 1) || System.nanoTime() < deadline) {
      val tracedPass = traced && i % 2 == 0
      val engine = if (tracedPass) Some(new EngineProbe) else None
      val planning = if (tracedPass) Some(new PlanningProbe) else None
      engine.foreach(spark.sparkContext.addSparkListener)
      planning.foreach(spark.listenerManager.register)
      val load = loadavg()
      val (steal0, total0) = cpuTicks()
      val tr = if (tracedPass) trace else Trace.off
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = tr.span("pass") { wl.pass(spark, i, tr, engine) }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val (steal1, total1) = cpuTicks()
      PerfbenchBus.drain(spark.sparkContext)
      engine.foreach(spark.sparkContext.removeSparkListener)
      planning.foreach(spark.listenerManager.unregister)
      attempted += out.opsMs.size.max(1)
      failed += out.failed
      passes += Map(
        "index" -> i, "traced" -> tracedPass, "wall_s" -> wall, "start_ms" -> t0ms,
        "end_ms" -> t1ms, "loadavg" -> load,
        "steal_frac" -> (steal1 - steal0).toDouble / (total1 - total0).max(1L),
        "ops_ms" -> out.opsMs, "counts" -> out.counts,
        "layers" -> out.layers,
        "engine" -> engine.map(_.window(t0ms, t1ms)).getOrElse(Map.empty),
        "planning_s" -> planning.map(_.planningS(t0ms, t1ms)).getOrElse(0.0),
        "root_span" -> (if (tracedPass) trace.named("pass").maxBy(_.startNs).id else 0))
      // live heap the pass leaves behind, before the harness drops what the
      // program kept cached or persisted
      System.gc()
      peakHeap = math.max(peakHeap,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
      // settle outside the timed region, as graft.Bench does: GC debt and
      // concurrent collector work must not land in the next pass
      Hygiene(spark)
      System.gc()
      Thread.sleep(200)
      i += 1
    }
    val layers = if (traced) wl.layers(spark, trace) else Map.empty[String, Double]
    val checks = wl.checks
    spark.stop()
    Map(
      "workload" -> a("workload"), "cores" -> cores, "setups" -> setups.toSeq,
      "passes" -> passes.toSeq, "peak_heap_mb" -> peakHeap,
      "ops_attempted" -> attempted, "ops_failed" -> failed,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "spans" -> (if (traced) trace.records else Nil), "layers" -> layers) ++ wl.extra
  }
}

object Hygiene {
  /** The per-query cleanup graft.Bench applies: drop cached frames and
    * persisted RDD blocks so one query's memory does not leak into the next.
    */
  def apply(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Stat {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

/** Reference batch plane: CSV → cli.Preprocess.run → cli.TrainIntent.run. */
final class BatchIntent(a: Map[String, String], work: String) extends Workload {
  private val csv = a("csv")
  private val sessions = a("sessions").toLong
  private val features = s"$work/features.parquet"
  private val aucs = mutable.ArrayBuffer.empty[Double]
  private val rowCounts = mutable.ArrayBuffer.empty[Long]

  private def once(spark: SparkSession, tr: Trace): Unit = {
    rowCounts += tr.span("cli.preprocess")(Preprocess.run(spark, csv, features))
    aucs += tr.span("cli.train")(TrainIntent.run(spark, features, None, 20, 5)).auc
  }

  def warmup(spark: SparkSession): Unit = once(spark, Trace.off)

  def pass(spark: SparkSession, index: Int, tr: Trace, engine: Option[EngineProbe]): PassOut = {
    val t0 = System.nanoTime()
    val ok = try { once(spark, tr); rowCounts.last == sessions } catch {
      case e: Exception => System.err.println(s"[perfbench] batch pass failed: $e"); false
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      PerfbenchBus.drain(spark.sparkContext)
      Seq("cli.preprocess", "cli.train").flatMap { n =>
        val s = tr.named(n).maxBy(_.startNs)
        val jobs = engine.fold(0)(_.jobs(s.startMs, s.endMs))
        Seq(s"${n}_s" -> (s.endNs - s.startNs) / 1e9, s"$n.jobs" -> jobs.toDouble)
      }.toMap
    }
    PassOut(Seq(wallMs), if (ok) 0 else 1, Map("feature_rows" -> rowCounts.lastOption.getOrElse(-1L)), layers)
  }

  /** The same pipeline called layer by layer, each output forced through the
    * noop sink; features_s is reported net of the scan it includes.
    */
  override def layers(spark: SparkSession, tr: Trace): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime(); tr.span(name)(body); (System.nanoTime() - t0) / 1e9
    }
    tr.span("layers") {
      val scan = timed("sources.scan")(noop(Clickstream.loadCsv(spark, csv)))
      val feat = timed("operators.features")(
        noop(Featurize.leakageFreeSessionFeatures(Clickstream.loadCsv(spark, csv))))
      val fs = spark.read.parquet(features)
      var balanced: DataFrame = null
      val under = timed("ml.undersample") {
        balanced = Undersample.balance(fs, "label", 42L); noop(balanced)
      }
      val assembled = IntentModel.assemble(balanced).cache()
      try {
        val Array(trainDf, testDf) = assembled.randomSplit(Array(0.8, 0.2), 42L)
        var model: org.apache.spark.ml.classification.RandomForestClassificationModel = null
        val fit = timed("ml.rf_fit") { model = IntentModel.train(trainDf, 20, 5, 42L) }
        val eval = timed("ml.evaluate") { IntentModel.evaluate(model, testDf) }
        Map("sources.scan_s" -> scan, "operators.features_s" -> (feat - scan),
          "ml.undersample_s" -> under, "ml.rf_fit_s" -> fit, "ml.evaluate_s" -> eval)
      } finally assembled.unpersist()
    }
  }

  def checks: Seq[(String, Boolean, String)] = Seq(
    ("feature_rows_equal_sessions", rowCounts.nonEmpty && rowCounts.forall(_ == sessions),
      s"rows=${rowCounts.distinct.mkString(",")} sessions=$sessions"),
    ("auc_bit_identical", aucs.nonEmpty &&
      aucs.map(java.lang.Double.doubleToLongBits).distinct.size == 1,
      s"auc=${aucs.distinct.mkString(",")}"))
}

/** MetricsSink decorator that times each store update and records the size
  * of the document it leaves on disk.
  */
final class TimedSink(inner: MetricsStore, path: String, tr: Trace) extends MetricsSink {
  val updateMs = mutable.ArrayBuffer.empty[Double]
  val bytes = mutable.ArrayBuffer.empty[Double]
  def update(current: Map[String, Any]): Unit = {
    val t0 = System.nanoTime()
    tr.span("streaming.store_update")(inner.update(current))
    updateMs += (System.nanoTime() - t0) / 1e6
    bytes += Files.size(Paths.get(path)).toDouble
  }
  def latest: Option[Map[String, Any]] = inner.latest
  def size: Int = inner.size
}

final case class Drain(progress: Seq[StreamingQueryProgress], processMs: Seq[Double],
    sink: TimedSink, error: Option[String])

/** Reference streaming plane, drained closed-loop: the replayed backlog is
  * all due at t0 and read one file per micro-batch with Trigger.AvailableNow.
  */
final class StreamIntent(a: Map[String, String], work: String, probe: StreamProbe) extends Workload {
  private val events = a("events").toLong
  private val inbox = s"$work/inbox"
  private var replayS = 0.0
  private val stores = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val problems = mutable.ArrayBuffer.empty[String]
  private var drains = 0

  override def prepare(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    val n = Replayer.replayToDirectory(Clickstream.loadCsv(spark, a("csv")), inbox,
      eventsPerSec = Int.MaxValue, batchSize = a("file_events").toInt)
    replayS = (System.nanoTime() - t0) / 1e9
    if (n != events) problems += s"replayed $n of $events events"
  }

  private def drain(spark: SparkSession, tr: Trace): Drain = {
    drains += 1
    val dir = s"$work/drain-$drains"
    val storePath = s"$dir/metrics.json"
    val conf = StreamJob.Config(checkpointDir = s"$dir/checkpoint", metricsPath = storePath)
    val model = new OnlineLogreg(IntentModel.FeatureCols.length)
    val sink = new TimedSink(new MetricsStore(storePath), storePath, tr)
    val processMs = mutable.ArrayBuffer.empty[Double]
    val q = tr.span("streaming.drain") {
      val drainSpan = tr.current
      val raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(inbox)
        .withColumnRenamed("value", "json_str")
      val query = StreamJob.sessionAggStream(StreamJob.parse(raw), conf).writeStream
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", conf.checkpointDir)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val p0 = System.nanoTime()
          tr.span("streaming.process_batch", parent = drainSpan) {
            StreamJob.processBatch(batch, id, model, sink, conf.maxScoredRows)
          }
          processMs += (System.nanoTime() - p0) / 1e6
          ()
        }
        .start()
      try query.awaitTermination() catch { case _: Exception => () }
      query
    }
    PerfbenchBus.drain(spark.sparkContext)
    stores += Map("path" -> storePath, "updates" -> sink.updateMs.size)
    Drain(probe.of(q.id), processMs.toSeq, sink, q.exception.map(_.toString))
  }

  def warmup(spark: SparkSession): Unit = drain(spark, Trace.off)

  def pass(spark: SparkSession, index: Int, tr: Trace, engine: Option[EngineProbe]): PassOut = {
    val d = drain(spark, tr)
    val withInput = d.progress.filter(_.numInputRows > 0)
    val rows = d.progress.map(_.numInputRows).sum
    val bad = Seq(
      d.error.map(e => s"query failed: $e"),
      Option.when(rows != events)(s"numInputRows sum $rows != $events events"),
      Option.when(d.sink.updateMs.size != withInput.size)(
        s"${d.sink.updateMs.size} store updates for ${withInput.size} non-empty batches")).flatten
    problems ++= bad.map(b => s"pass $index: $b")
    val opsMs = withInput.map(_.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0))
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      def dur(k: String) =
        Stat.median(withInput.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
      val drainSpan = tr.named("streaming.drain").maxBy(_.startNs)
      val jobs = engine.fold(0)(_.jobs(drainSpan.startMs, drainSpan.endMs))
      val state = withInput.flatMap(_.stateOperators.headOption)
      Map(
        "streaming.process_batch_ms" -> Stat.median(d.processMs),
        "streaming.jobs_per_batch" -> jobs.toDouble / d.processMs.size.max(1),
        "streaming.store_update_ms" -> Stat.median(d.sink.updateMs.toSeq),
        "streaming.store_bytes_per_update" -> Stat.median(d.sink.bytes.toSeq),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.state_rows" -> (if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble),
        "streaming.state_mem_mb" ->
          (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / (1024.0 * 1024.0)),
        "streaming.replay_s" -> replayS)
    }
    PassOut(opsMs, if (d.error.isDefined) withInput.size.max(1) else 0,
      Map("micro_batches" -> d.progress.size.toLong, "input_rows" -> rows,
        "store_updates" -> d.sink.updateMs.size.toLong), layers)
  }

  def checks: Seq[(String, Boolean, String)] =
    Seq(("stream_drains_consistent", problems.isEmpty, problems.take(5).mkString("; ")))

  override def extra: Map[String, Any] = Map("stores" -> stores.toSeq)
}

/** A set of contract queries (SparkEntry.queries), each forced through the
  * noop sink with graft.Bench's per-query hygiene. The set-up warm-up writes
  * every result as Parquet next to its oracle SQL, for run.py's DuckDB
  * compare.
  */
final class ContractSet(a: Map[String, String], work: String) extends Workload {
  private val sf = a("sf")
  private val names = a("queries").split(',').toSeq
  private val dump = s"$work/dump"
  private val failures = mutable.LinkedHashSet.empty[String]

  /** Runs one query into `sink`; returns its time in ms, or None if it threw. */
  private def run(spark: SparkSession, name: String, tr: Trace)(sink: DataFrame => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      tr.span(s"queries.$name")(sink(SparkEntry.queries(name)(spark, sf)))
      Some((System.nanoTime() - t0) / 1e6)
    } catch { case e: Exception =>
      failures += name; System.err.println(s"[perfbench] $name failed: $e"); None
    } finally { Hygiene(spark); System.gc() }
  }

  def warmup(spark: SparkSession): Unit = {
    names.foreach(n => run(spark, n, Trace.off)(_.coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"$dump/oracle_sql.json", oracles)
  }

  def pass(spark: SparkSession, index: Int, tr: Trace, engine: Option[EngineProbe]): PassOut = {
    val times = names.map(n => run(spark, n, tr)(_.write.format("noop").mode("overwrite").save()))
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      PerfbenchBus.drain(spark.sparkContext)
      names.flatMap { n =>
        val s = tr.named(s"queries.$n").maxBy(_.startNs)
        val jobs = engine.fold(0)(_.jobs(s.startMs, s.endMs))
        Seq(s"queries.${n}_s" -> (s.endNs - s.startNs) / 1e9, s"queries.$n.jobs" -> jobs.toDouble)
      }.toMap
    }
    PassOut(times.flatten, times.count(_.isEmpty), Map.empty, layers)
  }

  def checks: Seq[(String, Boolean, String)] =
    Seq(("queries_ran", failures.isEmpty, failures.mkString(",")))

  override def extra: Map[String, Any] = Map("dump" -> dump)
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case o => o.asInstanceOf[AnyRef]
  }
  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    mapper.writeValue(new java.io.File(path), toJava(v))
  }
}
