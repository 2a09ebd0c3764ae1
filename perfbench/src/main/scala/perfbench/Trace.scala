package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Spark-side work summed over one operation: the listener's counters. */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, waitMs, gcMs = 0.0
  var shuffleWrite, shuffleRead, spill, inputRecords, resultBytes = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; waitMs += o.waitMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputRecords += o.inputRecords; resultBytes += o.resultBytes
  }
}

/** A listener the benchmark registers itself (traced runs only). One
  * client runs one operation at a time, so everything the bus delivers
  * between [[reset]] and [[take]] (both after a drain) belongs to the
  * operation in between. */
final class OpListener extends SparkListener {
  private var cur = new SparkWork
  private val stageSubmitted = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobs = mutable.ArrayBuffer[(Long, Long)]()

  def reset(): Unit = synchronized { cur = new SparkWork; jobs.clear() }

  /** (summed work, (start ms, end ms) per job). */
  def take(): (SparkWork, Seq[(Long, Long)]) = synchronized {
    val out = (cur, jobs.toList); cur = new SparkWork; jobs.clear(); out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobs += ((t0, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1; stageSubmitted.remove(e.stageInfo.stageId)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    stageSubmitted.get(e.stageId).foreach(t => cur.waitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuMs += m.executorCpuTime / 1e6
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.inputRecords += m.inputMetrics.recordsRead
      cur.resultBytes += m.resultSize
    }
  }
}

/** File-scan facts read from an executed plan's scan nodes (AQE-aware). */
object ScanFacts extends AdaptiveSparkPlanHelper {
  /** (files read, bytes of the files read) summed over every file scan. */
  def of(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum)
  }
}

/** One recorded span: name, start, end (ns since the run's origin),
  * parent span id (0 for an operation) and operation id. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** A timed operation, as the client saw it. */
final case class Op(id: Int, kind: String, ms: Double, rows: Long, ok: Boolean)

/** Times every call into the program as one operation, counts wrong
  * answers, and — when tracing — records spans and per-layer counters
  * around the calls. Tracing lives only here: nothing is added inside
  * the program except switching its own `Profiling` timers on. */
final class Recorder(val spark: SparkSession) {
  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private var traced = false
  private var listener: OpListener = _

  val ops = mutable.ArrayBuffer[Op]()
  val failures = mutable.ArrayBuffer[String]()
  val spans = mutable.ArrayBuffer[Span]()
  /** Per-layer sums and sample counts, by metric name. */
  val layer = mutable.LinkedHashMap[String, (Double, Long)]()
  /** Spark work summed per operation kind (traced only). */
  val sparkByKind = mutable.LinkedHashMap[String, (SparkWork, Long)]()
  private var nextSpan = 0
  private var opId = 0
  private var opSpan = 0
  private var curOk = true

  def isTraced: Boolean = traced

  def startTracing(): Unit = {
    traced = true
    listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    graft.Profiling.reset()
    graft.Profiling.enable()
  }

  def stopTracing(): Unit = if (traced) {
    graft.Profiling.disable()
    spark.sparkContext.removeSparkListener(listener)
    traced = false
  }

  /** Clears every operation and layer sample; the tracing state stays. */
  def clear(): Unit = {
    ops.clear(); spans.clear(); layer.clear(); sparkByKind.clear()
    failures.clear()
  }

  def now: Long = System.nanoTime() - origin

  private def drain(): Unit = org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)

  def sample(name: String, v: Double): Unit = {
    val (s, n) = layer.getOrElse(name, (0.0, 0L))
    layer(name) = (s + v, n + 1)
  }

  def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val t0 = now
      try f finally { nextSpan += 1; spans += Span(nextSpan, opSpan, opId, name, t0, now) }
    }

  /** Run `f` as one timed operation of `kind`; `rows` counts the rows it
    * moved. An exception is a failed operation and is not rethrown. */
  def op[T](kind: String, rows: T => Long)(f: => T): Option[T] = {
    if (traced) { drain(); listener.reset() }
    opId += 1
    nextSpan += 1
    opSpan = nextSpan
    curOk = true
    val t0 = now
    val res = try Some(f) catch {
      case e: Exception =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    val t1 = now
    ops += Op(opId, kind, (t1 - t0) / 1e6, res.map(rows).getOrElse(0L), ok = res.isDefined && curOk)
    if (traced) {
      spans += Span(opSpan, 0, opId, kind, t0, t1)
      drain()
      val (work, jobs) = listener.take()
      // a job's parent is the innermost span of this operation that was
      // open when the job started (the read's plan or collect), else the
      // operation itself
      val inner = spans.filter(s => s.op == opId && s.id != opSpan)
      jobs.foreach { case (s, e) =>
        val (startNs, endNs) = ((s - originMs) * 1000000L, (e - originMs) * 1000000L)
        val parent = inner.filter(c => c.startNs <= startNs && startNs <= c.endNs)
          .sortBy(-_.startNs).headOption.map(_.id).getOrElse(opSpan)
        nextSpan += 1
        spans += Span(nextSpan, parent, opId, "spark.job", startNs, endNs)
      }
      val (acc, n) = sparkByKind.getOrElse(kind, (new SparkWork, 0L))
      acc.add(work)
      sparkByKind(kind) = (acc, n + 1)
    }
    res
  }

  /** A read as one operation; traced runs split it into the plan
    * (analysis, optimization, physical planning) and the collect, and
    * read the executed scan nodes' file metrics. */
  def read(kind: String, df: => DataFrame): Option[Array[Row]] =
    op[Array[Row]](kind, _.length.toLong) {
      if (!traced) df.collect()
      else {
        val t0 = now
        val (d, plan) = span("ReadShapes.plan") { val d = df; (d, d.queryExecution.executedPlan) }
        val t1 = now
        val rows = span("ReadShapes.exec")(d.collect())
        val t2 = now
        sample("ReadShapes.plan_ms", (t1 - t0) / 1e6)
        sample("ReadShapes.exec_ms", (t2 - t1) / 1e6)
        sample("ReadShapes.rows_out", rows.length.toDouble)
        val (files, bytes) = ScanFacts.of(plan)
        sample("scan.files_read", files.toDouble)
        sample("scan.bytes_read", bytes.toDouble)
        lastScanFiles = files
        rows
      }
    }

  /** Files the last traced read scanned (for the prune ratio). */
  var lastScanFiles = 0L

  /** Record a wrong answer against the current operation. */
  def fail(msg: String): Unit = {
    curOk = false
    if (ops.nonEmpty && ops.last.id == opId && ops.last.ok) ops(ops.length - 1) = ops.last.copy(ok = false)
    failures += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  def failed: Long = ops.count(!_.ok).toLong

  /** Check `cond` for the operation just run. */
  def check(what: => String)(cond: Boolean): Unit = if (!cond) fail(what)
}
