package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark driver: one process, one workload, one closed-loop
  * client. Prints detail lines, then as its LAST stdout line the result
  * object `{"correct", "attempted", "failed", "metrics"}`.
  *
  * {{{
  * Main --workload <timedb|dedup> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir>
  * Main --self-test --work <dir>
  * }}}
  */
object Main {

  /** End-to-end metrics, reported by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_mean_ms" -> "ms", "op_p50_ms" -> "ms",
    "rows_per_s" -> "1/s", "driver_heap_peak_mb" -> "MB")

  /** Per-layer metrics, reported by every traced run (0 where the
    * workload does not exercise the layer). */
  val perLayer: Seq[(String, String)] = Seq(
    "TimeDb.write.normalize_ms" -> "ms", "TimeDb.write.skip_unchanged_ms" -> "ms",
    "TimeDb.write.values_insert_ms" -> "ms", "TimeDb.write.run_series_insert_ms" -> "ms",
    "TimeDb.write.other_ms" -> "ms",
    "WritePipeline.skipped_ratio" -> "ratio", "WritePipeline.readback_rows_per_row" -> "ratio",
    "SeriesStore.manifest_read_ms" -> "ms", "SeriesStore.versions" -> "count",
    "SeriesStore.live_files" -> "count", "SeriesStore.files_per_partition_max" -> "count",
    "SeriesStore.bytes" -> "bytes", "SeriesStore.bytes_written_per_row" -> "bytes",
    "SeriesStore.compact_ms" -> "ms", "SeriesStore.compact_bytes_rewritten" -> "bytes",
    "SeriesStore.vacuum_ms" -> "ms", "SeriesStore.vacuum_files_deleted" -> "count",
    "ReadShapes.plan_ms" -> "ms", "ReadShapes.exec_ms" -> "ms", "ReadShapes.rows_out" -> "count",
    "scan.files_read" -> "count", "scan.prune_ratio" -> "ratio", "scan.bytes_read" -> "bytes",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.task_wait_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_records" -> "count", "spark.result_bytes" -> "bytes",
    "Dedup.exact_ms" -> "ms", "Dedup.lsh_candidates_ms" -> "ms", "Dedup.clusters_ms" -> "ms",
    "Dedup.index_build_ms" -> "ms", "Dedup.screen_ms" -> "ms", "Dedup.candidate_pairs" -> "count",
    "Dedup.candidate_precision" -> "ratio", "TextAnalysis.profile_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio")

  /** Builds of the starting state per run; `setup_s` counts their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--self-test")) sys.exit(SelfTest.run(opts("work")))
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    if (!Workload.names.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed <integer> is required"))
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).filter(_ > 0)
      .getOrElse(usage("--seconds <positive number> is required"))
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", usage("--work <dir> is required"))
    sys.exit(run(workload, seed, seconds, trace, Paths.get(work)))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def session(work: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(work)
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val envStart = Env.record(workload, seed)
    val rec = new Recorder(spark)
    val wl = Workload(workload, spark, seed, work.resolve("data").toString, rec)
    try {
      // set-up = session + warm-up (the cold path: first class loads, JIT,
      // code generation) + the median build of the starting state
      def timed(f: => Unit): Double = { val t0 = rec.now; f; (rec.now - t0) / 1e9 }
      val warmS = timed(wl.warmUp())
      rec.clear()
      val builds = (1 to SetupReps).map(_ => timed(wl.build()))
      val setupS = sessionS + warmS + Stats.median(builds)
      val heapAfterSetup = Heap.liveMb()

      val windowNs = (seconds * 1e9).toLong
      wl.run(rec.now + windowNs)
      val plain = rec.ops.toVector
      val detail = Detail.of(workload, wl, rec, windowNs, setupS)
      val heapAfterRun = Heap.liveMb()
      val heapPeak = math.max(heapAfterSetup, heapAfterRun)
      println(Json.obj("env" -> Json.raw(envStart), "session_s" -> Json.num(sessionS),
        "warm_up_s" -> Json.num(warmS), "builds_s" -> Json.arr(builds.map(Json.num)),
        "heap_mb" -> Json.arr(Seq(heapAfterSetup, heapAfterRun).map(Json.num))))
      println(Json.obj("detail" -> Json.raw(detail)))

      val (attempted, failed, metrics) =
        if (!trace) {
          val ms = plain.map(_.ms)
          val vals = Map(
            "setup_s" -> setupS,
            "op_mean_ms" -> ms.sum / ms.size,
            "op_p50_ms" -> Stats.quantile(ms, 0.5),
            "rows_per_s" -> plain.map(_.rows).sum / (ms.sum / 1000.0),
            "driver_heap_peak_mb" -> heapPeak)
          (plain.size.toLong, plain.count(!_.ok).toLong, endToEnd.map { case (n, u) => (n, vals(n), u) })
        } else {
          // untraced, traced, untraced again: the overhead compares the
          // traced window with both neighbours, so later JIT warm-up is
          // not counted as a saving from tracing
          rec.clear()
          rec.startTracing()
          wl.run(rec.now + windowNs)
          rec.stopTracing()
          val traced = rec.ops.toVector
          val layers = Layers.of(rec, traced)
          val spans = rec.spans.toVector
          val sparkByKind = rec.sparkByKind.toVector
          rec.clear()
          wl.run(rec.now + windowNs)
          val after = rec.ops.toVector
          val overhead = Stats.median(traced.map(_.ms)) /
            ((Stats.median(plain.map(_.ms)) + Stats.median(after.map(_.ms))) / 2) - 1
          val all = layers + ("trace.overhead_ratio" -> overhead)
          Layers.writeTrace(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.json"),
            envStart, all, traced, spans, sparkByKind)
          val ops = plain ++ traced ++ after
          (ops.size.toLong, ops.count(!_.ok).toLong,
            perLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) })
        }
      println(Json.obj("env_end" -> Json.raw(Env.record(workload, seed))))
      println(Json.obj(
        "correct" -> Json.bool(failed == 0),
        "attempted" -> Json.num(attempted.toDouble),
        "failed" -> Json.num(failed.toDouble),
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
        }: _*)))
      0
    } finally {
      wl.close()
      spark.stop()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Live driver heap: old-generation use right after a full collection.
  * Spark frees unpersisted blocks asynchronously, so give it a moment
  * first: the figure should not depend on that race. */
object Heap {
  def liveMb(): Double = {
    Thread.sleep(200)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured")))
    old.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

/** The run's conditions, recorded at its start and end. */
object Env {
  def record(workload: String, seed: Long): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    val spark = SparkSession.getActiveSession
    def conf(k: String) = spark.map(s => Json.str(s.conf.get(k, ""))).getOrElse(Json.str(""))
    Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "master" -> spark.map(s => Json.str(s.sparkContext.master)).getOrElse(Json.str("")),
      "shuffle_partitions" -> conf("spark.sql.shuffle.partitions"),
      "aqe" -> conf("spark.sql.adaptive.enabled"),
      "jvm_flags" -> Json.arr(rt.getInputArguments.asScala.toSeq.map(Json.str)),
      "java" -> Json.str(System.getProperty("java.version")),
      "load_avg" -> Json.str(loadAvg()))
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch {
      case _: Exception => ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage.toString
    }
}

/** Minimal JSON writer: values are pre-rendered JSON text. */
object Json {
  def str(s: String): String = graft.JsonUtil.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def raw(s: String): String = s
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
