package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.api.{EventsAggregator, Sources}
import graft.etl.Stages
import graft.io.{CsvMatrixSink, LongParquetSink, MatrixWriter, SinkMode}
import graft.model.{IntervalTime, MeanCombine, PointTime}

/** Engine counters from one `SparkListener` + `QueryExecutionListener`.
  * Attached only in the traced run; values are read as deltas around a
  * pass, after the listener bus has drained.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = Seq("jobs", "tasks", "tasks_failed", "planning_ms", "scheduler_delay_ms",
    "executor_run_ms", "executor_cpu_ns", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes").map(_ -> new LongAdder).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").increment()
    if (!e.taskInfo.successful) c("tasks_failed").increment()
    val m = e.taskMetrics
    if (m != null) {
      c("executor_run_ms").add(m.executorRunTime)
      c("executor_cpu_ns").add(m.executorCpuTime)
      c("scheduler_delay_ms").add(math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      c("shuffle_write_bytes").add(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").add(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    c("planning_ms").add(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    c("planning_ms").add(qe.tracker.phases.values.map(_.durationMs).sum)

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.sum }
}

/** One benchmark run in a fresh JVM: set-up, a cold pass, a fixed warm-up,
  * then timed passes for `--seconds`; with `--trace 1`
  * also listener counters per pass and per-layer prefix timings. Writes a
  * JSON result for `run.py`, which checks the last pass's output.
  */
object Harness {
  val Gates: Seq[String] = Seq("q_ts_bucketize", "q_ts_combine_mean", "q_ts_combine_sum",
    "q_ts_combine_median", "q_ts_densify", "q_ts_ffill", "q_ts_interpolate",
    "q_ts_interval_expand")

  final case class Pipeline(step: Long, fill: Stages.FillMode, sink: SinkMode)
  val Pipelines: Map[String, Pipeline] = Map(
    "hourly_ffill_csv" -> Pipeline(3600L, Stages.ForwardFill, CsvMatrixSink),
    "daily_zero_parquet" -> Pipeline(86400L, Stages.ZeroFill, LongParquetSink))

  /** A plan prefix for the traced run: its noop (or sink) action and the
    * layer whose prefix it extends; self time = own time - parent's time.
    */
  final case class Prefix(layer: String, parent: Option[String], run: () => Unit)

  private val cores = Runtime.getRuntime.availableProcessors
  private val WarmupPasses = 2
  private val MinTimedPasses = 3

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  /** (steal, total) CPU ticks of the machine: time the hypervisor gave
    * this machine's CPUs to others, which stretches every pass alike.
    */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }
  private def stealRatio(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The session `graft.cli.Main` builds, with this host's core count. */
  def session(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Using.resource(Files.walk(p)) { w =>
      w.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Using.resource(Files.walk(p))(_.iterator.asScala.filter(Files.isRegularFile(_)).toList)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val input = opt("input")
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dst = work.resolve("out")
    val localDir = work.resolve("spark").toString

    // set-up: session start in this fresh JVM, then four restarts; median
    val setup = (1 to 5).map { i =>
      val t0 = now()
      val s = session(localDir)
      val dt = secs(now() - t0)
      if (i < 5) s.stop()
      dt
    }
    val spark = SparkSession.active

    val gates = !Pipelines.contains(workload)
    val opsPerPass = if (gates) Gates.size else Sources.all.size
    var attempted = 0L
    var failed = 0L
    final case class Pass(wall: Double, cpu: Double, gc: Double, codegen: Double,
        jit: Double, opWall: Map[String, Double])

    def pass(): Pass = {
      deleteTree(dst)
      val (c0, g0, k0, j0, t0) = (cpuNs(), gcMs(), CodeGenerator.compileTime, jitMs(), now())
      val (bad, opWall) =
        if (gates) {
          val r = Gates.map { g =>
            val s = now()
            val ok =
              try { SparkEntry.queries(g)(spark, input).write.parquet(s"$dst/$g"); true }
              catch { case e: Throwable => System.err.println(s"[perfbench] $g failed: $e"); false }
              finally spark.catalog.clearCache()
            (if (ok) 0 else 1, g -> secs(now() - s))
          }
          (r.map(_._1).sum, r.map(_._2).toMap)
        } else {
          val p = Pipelines(workload)
          val n =
            try {
              new EventsAggregator(spark, input, dst.toString, timestepSeconds = p.step,
                fillMode = Some(p.fill)).run(p.sink)
              0
            } catch { case e: Throwable =>
              System.err.println(s"[perfbench] pipeline failed: $e")
              1 + e.getSuppressed.length
            }
          (n, Map.empty[String, Double])
        }
      val wall = secs(now() - t0)
      attempted += opsPerPass
      failed += bad
      Pass(wall, secs(cpuNs() - c0), (gcMs() - g0) / 1e3,
        secs(CodeGenerator.compileTime - k0), (jitMs() - j0) / 1e3, opWall)
    }

    val counters = new Counters
    def attach(on: Boolean): Unit =
      if (on) { spark.sparkContext.addSparkListener(counters); spark.listenerManager.register(counters) }
      else { spark.sparkContext.removeSparkListener(counters); spark.listenerManager.unregister(counters) }
    def counted(f: => Pass): (Pass, Map[String, Double]) = {
      BusAccess.drain(spark.sparkContext)
      val before = counters.snapshot()
      val p = f
      BusAccess.drain(spark.sparkContext)
      val d = counters.snapshot().map { case (k, v) => k -> (v - before(k)).toDouble }
      val runS = d("executor_run_ms") / 1e3
      (p, Map(
        "spark.jobs" -> d("jobs"), "spark.tasks" -> d("tasks"),
        "spark.tasks_failed" -> d("tasks_failed"),
        "spark.planning_s" -> d("planning_ms") / 1e3, "spark.codegen_s" -> p.codegen,
        "spark.scheduler_delay_s" -> d("scheduler_delay_ms") / 1e3,
        "spark.executor_run_s" -> runS, "spark.executor_cpu_s" -> d("executor_cpu_ns") / 1e9,
        "spark.core_busy_ratio" -> runS / (p.wall * cores),
        "spark.shuffle_write_bytes" -> d("shuffle_write_bytes"),
        "spark.shuffle_read_bytes" -> d("shuffle_read_bytes"),
        "spark.spill_bytes" -> d("spill_bytes"), "spark.gc_s" -> p.gc, "jvm.jit_s" -> p.jit))
    }

    if (trace) attach(true)
    val coldTicks = cpuTicks()
    val (cold, coldCounters) = counted(pass())
    val coldSteal = stealRatio(coldTicks, cpuTicks())
    // warm-up: a fixed number of passes, so every run times the same passes
    // (pass times do not settle: the JIT keeps compiling for tens of passes; see README)
    val warm = (1 to WarmupPasses).map(_ => pass().wall)

    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setup, "cold_s" -> cold.wall, "cold_steal" -> coldSteal,
      "cold_ops_s" -> cold.opWall, "cold_jit_s" -> cold.jit, "warmup_s" -> warm.toSeq)
    if (!trace) {
      val timed = scala.collection.mutable.ArrayBuffer.empty[Pass]
      val (t0, ticks0) = (now(), cpuTicks())
      while (timed.size < MinTimedPasses || secs(now() - t0) < seconds) timed += pass()
      result ++= Seq("pass_s" -> timed.map(_.wall).toSeq, "pass_cpu_s" -> timed.map(_.cpu).toSeq,
        "pass_jit_s" -> timed.map(_.jit).toSeq, "pass_codegen_s" -> timed.map(_.codegen).toSeq,
        "steal_ratio" -> stealRatio(ticks0, cpuTicks()))
    } else {
      // traced and untraced passes alternate, so drift hits both alike
      val ticks0 = cpuTicks()
      val pairs = (1 to 2).map { _ =>
        val t = counted(pass())
        attach(false)
        val u = pass()
        attach(true)
        (t, u)
      }
      attach(false)
      val traced = pairs.map(_._1)
      val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
      traced.head._2.keys.foreach(k => layers(k) = median(traced.map(_._2(k))))
      Seq("planning_s", "codegen_s").foreach(k => layers(s"spark.cold_$k") = coldCounters(s"spark.$k"))
      Gates.foreach(g => layers(s"gate.$g.s") =
        if (gates) median(traced.map(_._1.opWall(g))) else 0.0)
      val tMed = median(traced.map(_._1.wall))
      val uMed = median(pairs.map(_._2.wall))
      layers("trace.traced_pass_s") = tMed
      layers("trace.untraced_pass_s") = uMed
      layers("trace.overhead_s") = tMed - uMed
      layers("trace.overhead_ratio") = (tMed - uMed) / uMed
      layers("host.steal_ratio") = stealRatio(ticks0, cpuTicks())
      // the last pass above was untraced and complete: its files are the sink's
      val out = files(dst)
      layers("sink.files") = out.size.toDouble
      layers("sink.bytes") = out.map(Files.size).sum.toDouble
      layers("sink.dummy_files") = out.count(f => f.toString.endsWith("_features.csv") &&
        Using.resource(Files.newBufferedReader(f, StandardCharsets.UTF_8))(r =>
          { r.readLine(); r.readLine() == null })).toDouble
      layers ++= prefixLayers(spark, workload, input, work.resolve("prefix"))
      result("layers") = layers.toMap
    }
    val out = files(dst)
    result ++= Seq(
      "output_bytes" -> out.map(Files.size).sum,
      "attempted" -> attempted, "failed" -> failed)
    // the JVM's own peak resident set, read from the kernel's view of it
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
    result("peak_rss_mb") = hwm.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    if (gates) Files.write(work.resolve("oracle_sql.json"),
      toJson(Gates.map(g => g -> SparkEntry.oracleSql(g)).toMap).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(opt("result")), toJson(result.toMap).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer self times and counts from plan prefixes forced into a
    * noop sink (the last prefix is the real sink), each timed three times
    * and summed over sources; counts are taken off the clock.
    */
  def prefixLayers(spark: SparkSession, workload: String, input: String,
      dst: Path): Map[String, Double] = {
    val chains: Seq[(String, Seq[Prefix], Map[String, DataFrame], () => Unit)] =
      Pipelines.get(workload) match {
        case Some(p) => pipelineChains(spark, input, p, dst.toString)
        case None => Seq(gateChain(spark, input, dst.toString))
      }
    val reps = (1 to 3).map { _ =>
      chains.flatMap { case (src, prefixes, _, _) =>
        prefixes.map { pr =>
          deleteTree(dst)
          val t0 = now(); pr.run(); (src, pr.layer) -> secs(now() - t0)
        }
      }.toMap
    }
    val t = reps.head.keys.map(k => k -> median(reps.map(_(k)))).toMap
    val self = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    for ((src, prefixes, _, _) <- chains; pr <- prefixes)
      self(pr.layer) += t((src, pr.layer)) - pr.parent.fold(0.0)(par => t((src, par)))
    val n = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    for ((_, _, frames, _) <- chains; (k, df) <- frames) n(k) += df.count().toDouble
    chains.foreach(_._4())
    deleteTree(dst)
    val scanBytes = Pipelines.get(workload) match {
      case Some(_) => Sources.all.map(s => Files.size(Paths.get(s"$input/icu/${s.fileName}"))).sum
      case None => Files.size(Paths.get(s"$input/events.parquet"))
    }
    Map(
      "scan.s" -> self("scan"), "scan.rows" -> n("scan"), "scan.bytes" -> scanBytes.toDouble,
      "stages.interval_expand.s" -> self("interval_expand"),
      "stages.interval_expand.rows" -> n("interval_expand"),
      "stages.bucketize.s" -> self("bucketize"),
      "stages.bucketize.kept_ratio" -> n("bucketize") / n("bucketize_in"),
      "stages.combine.s" -> self("combine"), "stages.combine.cells" -> n("combine"),
      "stages.densify.s" -> self("densify"), "stages.densify.cells" -> n("densify"),
      "stages.densify.observed_ratio" -> n("combine") / n("densify"),
      "sink.s" -> self("sink"))
  }

  /** Per source: the prefixes of `EventsAggregator.aggregate`'s plan (the
    * densify prefix and the sink are the program's own calls; the earlier
    * prefixes restate `aggregate`'s steps through the public `Stages`).
    */
  private def pipelineChains(spark: SparkSession, input: String, p: Pipeline, dst: String) = {
    val agg = new EventsAggregator(spark, input, dst, timestepSeconds = p.step,
      fillMode = Some(p.fill))
    agg.stayIndex.persist().count()
    Sources.all.map { src =>
      val keyed = spark.read.schema(src.schema).option("header", "true")
        .csv(s"$input/icu/${src.fileName}")
        .withColumn("feature_id", src.featureExpr.cast("long"))
        .withColumn("value", src.valueExpr.cast("double"))
      val (scan, pointed) = src.timeSpec match {
        case PointTime(c) =>
          val s = keyed.withColumn("event_epoch_time", Stages.epochSeconds(col(c)))
            .select("stay_id", "event_epoch_time", "feature_id", "value")
          (s, None)
        case IntervalTime(a, b) =>
          val s = keyed.withColumn("start_epoch_time", Stages.epochSeconds(col(a)))
            .withColumn("end_epoch_time", Stages.epochSeconds(col(b)))
            .select("stay_id", "start_epoch_time", "end_epoch_time", "feature_id", "value")
          (s, Some(Stages.intervalExpand(s, p.step)
            .select("stay_id", "event_epoch_time", "feature_id", "value")))
      }
      val bucketIn = pointed.getOrElse(scan)
      val bucketized = Stages.bucketize(bucketIn, agg.stayIndex, p.step)
      val combined = Stages.combine(bucketized, src.combiner)
      val densified = agg.aggregate(src)
      val parent = if (pointed.isDefined) "interval_expand" else "scan"
      val prefixes = Seq(Prefix("scan", None, () => noop(scan))) ++
        pointed.map(df => Prefix("interval_expand", Some("scan"), () => noop(df))) ++ Seq(
          Prefix("bucketize", Some(parent), () => noop(bucketized)),
          Prefix("combine", Some("bucketize"), () => noop(combined)),
          Prefix("densify", Some("combine"), () => noop(densified)),
          Prefix("sink", Some("densify"), () => p.sink match {
            case CsvMatrixSink => MatrixWriter.write(densified, agg.stayIndex, dst, src.name)
            case LongParquetSink => MatrixWriter.writeLongForm(densified, dst, src.name)
          }))
      val frames = Map("scan" -> keyed, "bucketize_in" -> bucketIn, "bucketize" -> bucketized,
        "combine" -> combined, "densify" -> densified) ++ pointed.map("interval_expand" -> _)
      (src.name, prefixes, frames, () => { agg.stayIndex.unpersist(); () })
    }
  }

  /** The `q_ts_*` gates' shared chain over `events` (user = stay, event
    * type = feature, hourly windows, ffill densify, parquet sink), built
    * from the same public `Stages` calls the gates make.
    */
  private def gateChain(spark: SparkSession, input: String, dst: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = spark.read.parquet(s"$input/events.parquet")
    val ev = e.withColumn("event_epoch_time", graft.queries.epochSeconds(e))
    val idx = ev.groupBy(col("user_id").as("stay_id"))
      .agg(min(col("event_epoch_time")).as("intime"), max(col("event_epoch_time")).as("outtime"))
      .withColumn("total_windows",
        floor((col("outtime") - col("intime")) / lit(3600L)).cast("long"))
    val scan = ev.select(col("user_id").as("stay_id"), col("event_epoch_time"),
      col("event_type").as("feature_id"), col("value"))
    val expanded = Stages.intervalExpand(ev.select(col("user_id").as("stay_id"),
      col("event_type").as("feature_id"), col("event_epoch_time").as("start_epoch_time"),
      (col("event_epoch_time") + floor(col("value") * 60)).as("end_epoch_time"),
      col("value")), 3600L)
    val bucketized = Stages.bucketize(scan, idx, 3600L)
    val combined = Stages.combine(bucketized, MeanCombine)
    val densified = Stages.densify(combined, Stages.ForwardFill)
    val prefixes = Seq(
      Prefix("scan", None, () => noop(scan)),
      Prefix("interval_expand", Some("scan"), () => noop(expanded)),
      Prefix("bucketize", Some("scan"), () => noop(bucketized)),
      Prefix("combine", Some("bucketize"), () => noop(combined)),
      Prefix("densify", Some("combine"), () => noop(densified)),
      Prefix("sink", Some("densify"), () => densified.write.parquet(s"$dst/chain")))
    val frames = Map("scan" -> scan, "interval_expand" -> expanded, "bucketize_in" -> scan,
      "bucketize" -> bucketized, "combine" -> combined, "densify" -> densified)
    ("events", prefixes, frames, () => ())
  }

  private def toJson(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => "\"" + k + "\":" + toJson(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case ch => ch.toString
    } + "\""
  }
}
