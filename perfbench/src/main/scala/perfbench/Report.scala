package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Named figures of one untraced window, by operation kind:
  * printed as a detail line for people, not gated. */
object Detail {
  val dashKinds = Set("dash_latest", "dash_overlapping", "dash_changes", "dash_relative", "dash_meta")
  val readKinds = Set("latest", "changes", "full_latest") ++ dashKinds
  val passKinds = Set("exact", "lsh_candidates", "clusters", "profile")

  def of(workload: String, wl: Workload, rec: Recorder, windowNs: Long, setupS: Double): String = {
    val ops = rec.ops.toVector
    def ms(p: Op => Boolean) = ops.filter(p).map(_.ms)
    def entry(name: String, unit: String, v: Double, n: Int) =
      name -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit), "n" -> Json.num(n))
    def p(name: String, xs: Seq[Double], q: Double) =
      if (xs.isEmpty) None else Some(entry(name, "ms", Stats.quantile(xs, q), xs.size))
    val bulk = ops.filter(_.kind == "bulk_write")
    val reads = ms(o => readKinds(o.kind))
    val pass = ms(o => passKinds(o.kind))
    val maint = ms(o => o.kind == "compact" || o.kind == "vacuum")
    val entries = Seq(
      Some(entry("setup_s", "s", setupS, Main.SetupReps)),
      if (bulk.isEmpty) None
      else Some(entry("write_rows_per_s", "1/s", bulk.map(_.rows).sum / (bulk.map(_.ms).sum / 1000), bulk.size)),
      p("bulk_write_p50_ms", bulk.map(_.ms), 0.5),
      p("write_p50_ms", ms(_.kind == "write"), 0.5),
      p("write_p90_ms", ms(_.kind == "write"), 0.9),
      p("latest_p50_ms", ms(o => o.kind == "latest" || o.kind == "dash_latest"), 0.5),
      p("overlapping_p50_ms", ms(_.kind == "dash_overlapping"), 0.5),
      p("changes_p50_ms", ms(o => o.kind == "changes" || o.kind == "dash_changes"), 0.5),
      p("relative_p50_ms", ms(_.kind == "dash_relative"), 0.5),
      p("lookup_p50_ms", ms(o => dashKinds(o.kind)), 0.5),
      p("full_latest_p50_ms", ms(_.kind == "full_latest"), 0.5),
      p("read_p90_ms", reads, 0.9),
      if (reads.isEmpty) None else Some(entry("reads_per_s", "1/s", reads.size / (windowNs / 1e9), reads.size)),
      if (maint.isEmpty) None else Some(entry("maintenance_s", "s", maint.sum / 1000, maint.size)),
      wl match {
        case t: TimeDbWorkload => Some(entry("stored_bytes_per_row", "bytes", t.storedBytesPerRow(), 1))
        case _ => None
      },
      wl match {
        case d: DedupPass if pass.nonEmpty => Some(entry("docs_per_s", "1/s", d.docs / (pass.sum / 1000), 1))
        case _ => None
      },
      p("screen_p50_ms", ms(_.kind == "screen"), 0.5),
      Some(entry("failed_ratio", "ratio", if (ops.isEmpty) 0.0 else rec.failed.toDouble / ops.size, ops.size)))
    Json.obj(("workload" -> Json.str(workload)) +: entries.flatten: _*)
  }
}

/** Per-layer figures of a traced window, and the trace file. */
object Layers {

  def of(rec: Recorder, traced: Seq[Op]): Map[String, Double] = {
    def sum(n: String) = rec.layer.get(n).map(_._1).getOrElse(0.0)
    def mean(n: String) = rec.layer.get(n).map { case (s, c) => s / c }.getOrElse(0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def kindMs(k: String) = {
      val xs = traced.filter(_.kind == k).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val meanNames = Seq(
      "TimeDb.write.normalize_ms", "TimeDb.write.skip_unchanged_ms", "TimeDb.write.values_insert_ms",
      "TimeDb.write.run_series_insert_ms", "TimeDb.write.other_ms",
      "SeriesStore.manifest_read_ms", "SeriesStore.versions", "SeriesStore.live_files",
      "SeriesStore.files_per_partition_max", "SeriesStore.bytes", "SeriesStore.compact_ms",
      "SeriesStore.compact_bytes_rewritten", "SeriesStore.vacuum_ms", "SeriesStore.vacuum_files_deleted",
      "ReadShapes.plan_ms", "ReadShapes.exec_ms", "ReadShapes.rows_out",
      "scan.files_read", "scan.prune_ratio", "scan.bytes_read",
      "Dedup.candidate_pairs", "Dedup.candidate_precision")
    val work = new SparkWork
    rec.sparkByKind.values.foreach { case (w, _) => work.add(w) }
    val nOps = math.max(1L, rec.sparkByKind.values.map(_._2).sum).toDouble
    meanNames.map(n => n -> mean(n)).toMap ++ Map(
      "WritePipeline.skipped_ratio" -> ratio(sum("WritePipeline.skipped_ratio_num"),
        sum("WritePipeline.skipped_ratio_den")),
      "WritePipeline.readback_rows_per_row" -> ratio(sum("WritePipeline.readback_rows"),
        sum("WritePipeline.incoming_rows")),
      "SeriesStore.bytes_written_per_row" -> ratio(sum("SeriesStore.bytes_written"),
        sum("SeriesStore.rows_written")),
      "spark.jobs_per_op" -> work.jobs / nOps,
      "spark.stages_per_op" -> work.stages / nOps,
      "spark.tasks_per_op" -> work.tasks / nOps,
      "spark.task_run_ms" -> work.runMs / nOps,
      "spark.task_cpu_ms" -> work.cpuMs / nOps,
      "spark.task_wait_ms" -> work.waitMs / nOps,
      "spark.gc_ms" -> work.gcMs / nOps,
      "spark.shuffle_write_bytes" -> work.shuffleWrite / nOps,
      "spark.shuffle_read_bytes" -> work.shuffleRead / nOps,
      "spark.spill_bytes" -> work.spill / nOps,
      "spark.input_records" -> work.inputRecords / nOps,
      "spark.result_bytes" -> work.resultBytes / nOps,
      "Dedup.exact_ms" -> kindMs("exact"),
      "Dedup.lsh_candidates_ms" -> kindMs("lsh_candidates"),
      "Dedup.clusters_ms" -> kindMs("clusters"),
      "Dedup.index_build_ms" -> kindMs("index_build"),
      "Dedup.screen_ms" -> kindMs("screen"),
      "TextAnalysis.profile_ms" -> kindMs("profile"))
  }

  /** Self time per span name: each span's duration minus the part of it
    * its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).filter(_.id != s.id)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (curA, curB) = (Long.MinValue, Long.MinValue)
        iv.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** The trace file: per-layer figures, self time per span name, Spark
    * work per operation kind, every operation and every span. */
  def writeTrace(file: Path, env: String, layers: Map[String, Double], ops: Seq[Op],
      spans: Seq[Span], sparkByKind: Seq[(String, (SparkWork, Long))]): Unit = {
    Files.createDirectories(file.getParent)
    def spanJson(s: Span) = Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
      "op" -> Json.num(s.op), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.startNs / 1e6), "end_ms" -> Json.num(s.endNs / 1e6))
    val spark = sparkByKind.map { case (k, (w, n)) =>
      k -> Json.obj("ops" -> Json.num(n.toDouble), "jobs" -> Json.num(w.jobs.toDouble),
        "stages" -> Json.num(w.stages.toDouble), "tasks" -> Json.num(w.tasks.toDouble),
        "task_run_ms" -> Json.num(w.runMs), "task_cpu_ms" -> Json.num(w.cpuMs),
        "task_wait_ms" -> Json.num(w.waitMs), "gc_ms" -> Json.num(w.gcMs),
        "shuffle_write_bytes" -> Json.num(w.shuffleWrite.toDouble),
        "shuffle_read_bytes" -> Json.num(w.shuffleRead.toDouble),
        "spill_bytes" -> Json.num(w.spill.toDouble), "input_records" -> Json.num(w.inputRecords.toDouble),
        "result_bytes" -> Json.num(w.resultBytes.toDouble))
    }
    val self = selfTimes(spans).toSeq.sortBy(-_._2)
    val text = Json.obj(
      "env" -> Json.raw(env),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "self_ms_by_span" -> Json.obj(self.map { case (k, v) => k -> Json.num(v) }: _*),
      "spark_by_op_kind" -> Json.obj(spark: _*),
      "ops" -> Json.arr(ops.map(o => Json.obj("id" -> Json.num(o.id), "kind" -> Json.str(o.kind),
        "ms" -> Json.num(o.ms), "rows" -> Json.num(o.rows.toDouble), "ok" -> Json.bool(o.ok)))),
      "spans" -> Json.arr(spans.map(spanJson)))
    Files.write(file, text.getBytes(StandardCharsets.UTF_8))
  }
}
