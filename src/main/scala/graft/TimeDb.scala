package graft

import java.sql.Timestamp
import java.time.{Duration, Instant, LocalTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ReadShapes, UnchangedScope, WritePipeline, WriteResult}
import graft.sources.{MetaSource, Schema, SeriesStore}

/** Conjunctive read filter (timedb/read.py:183-224 `_where`):
  * `series_id IN ids`, optional retention equality/IN (doubles as a
  * partition prune), half-open valid_time and knowledge_time ranges.
  */
final case class ReadFilter(
    seriesIds: Seq[Long],
    retention: Seq[String] = Nil,
    startValid: Option[Timestamp] = None,
    endValid: Option[Timestamp] = None,
    startKnown: Option[Timestamp] = None,
    endKnown: Option[Timestamp] = None) {

  def predicate: Column = {
    var p = col("series_id").isin(seriesIds: _*)
    if (retention.nonEmpty) p = p && col("retention").isin(retention: _*)
    startValid.foreach(t => p = p && col("valid_time") >= lit(t))
    endValid.foreach(t => p = p && col("valid_time") < lit(t))
    startKnown.foreach(t => p = p && col("knowledge_time") >= lit(t))
    endKnown.foreach(t => p = p && col("knowledge_time") < lit(t))
    p
  }

  /** Month-range partition prune derived from the valid_time bounds: the
    * reader also filters the `valid_month` partition column so Catalyst
    * prunes whole month directories, mirroring how the retention filter
    * prunes tiers (ch_create_tables.sql:11-13). The upper bound is
    * half-open, so it derives from endValid − 1 µs — an endValid exactly
    * on a month boundary must not scan that whole extra month. */
  def monthPrune: Option[Column] = {
    val lo = startValid.map(t => lit(Schema.monthOf(t)))
    val hi = endValid.map(t =>
      lit(Schema.monthOf(java.sql.Timestamp.from(t.toInstant.minusNanos(1000)))))
    (lo, hi) match {
      case (Some(a), Some(b)) => Some(col("valid_month") >= a && col("valid_month") <= b)
      case (Some(a), None) => Some(col("valid_month") >= a)
      case (None, Some(b)) => Some(col("valid_month") <= b)
      case _ => None
    }
  }
}

/** The public facade (≅ `TimeDBClient`, timedb/client.py:70-214):
  * DataFrame-in / DataFrame-out over a Parquet store at `basePath`.
  * The reference's HTTP/ClickHouse boundary disappears — each read is a
  * declarative Spark plan executed where the data lives.
  */
final class TimeDb(val spark: SparkSession, basePath: String,
    maxInlineSeriesIds: Long = 100000L) {

  val store = new SeriesStore(spark, basePath)

  private val SliceCol = "_slice"
  private val bySlice = Seq(col(SliceCol))

  def create(): Unit = store.create()
  def delete(): Unit = store.delete()

  /** Register the two tables as temp views (`series_values` with the
    * FINAL-style raw rows, `run_series` collapsed) so SQL users can
    * `spark.sql` against the store directly. */
  def createViews(): Unit = {
    store.scanValues().createOrReplaceTempView("series_values")
    store.scanRunSeries().createOrReplaceTempView("run_series")
  }

  /** Write (timedb/write.py:236-368): validate → stamp → optional
    * skip-unchanged → append to both tables. The reference's concurrent
    * insert lanes collapse to two Spark write jobs; both are always
    * attempted, the first error re-raised with the values-lane error
    * winning (timedb/write.py:126-130). */
  def write(
      df: DataFrame,
      retention: Option[String] = None,
      knowledgeTime: Option[Timestamp] = None,
      skipUnchanged: Boolean = false,
      unchangedScope: UnchangedScope = UnchangedScope.ValidTime): WriteResult =
    Profiling.phase(Profiling.PhaseWriteTotal) {

    val now = Timestamp.from(Instant.now())
    // Cache the stamped batch once: everything downstream (vocabulary
    // check, bounds, counts, both insert lanes) reuses it instead of
    // recomputing the caller's upstream plan per consumer.
    val preFilter = Profiling.phase(Profiling.PhaseWriteNormalize) {
      WritePipeline.stamp(df, retention, knowledgeTime, now)
    }.cache()

    try {
      // Batch bounds double as the retention-vocabulary check: one
      // aggregate over the (now cached) batch instead of a separate
      // distinct+collect scan (timedb/write.py:197-202, 292-301). The
      // potentially-large distinct series_id set is NOT collected here —
      // only the skip-unchanged path needs it (timedb/write.py:197).
      val bounds = preFilter.agg(
        count(lit(1)), min("valid_time"), max("valid_time"),
        collect_set("retention"), approx_count_distinct("series_id")).head()
      val before = bounds.getLong(0)
      if (df.columns.contains("retention"))
        WritePipeline.requireValidRetentions(bounds.getSeq[String](3))

      var stamped = preFilter
      if (skipUnchanged && before > 0) Profiling.phase(Profiling.PhaseWriteSkipUnchanged) {
        // Bounded read-back slab (timedb/write.py:197-214): the incoming
        // batch's series/retentions and valid_time bounds — catalog-sized
        // driver values (same assumption as the reference). Retention AND
        // valid_month filters hit partition directories, so the read-back
        // prunes to the batch's tiers × months before any file is opened.
        val (minVt, maxVt) = (bounds.getTimestamp(1), bounds.getTimestamp(2))
        val rets = bounds.getSeq[String](3)
        val slabBase = store.scanValues().filter(
          col("retention").isin(rets: _*) &&
            col("valid_month") >= lit(Schema.monthOf(minVt)) &&
            col("valid_month") <= lit(Schema.monthOf(maxVt)) &&
            col("valid_time") >= lit(minVt) && col("valid_time") <= lit(maxVt))
        // Driver-safety valve: for catalog-sized batches the literal
        // isin pushes all the way into the parquet scan; but a
        // crawl-scale batch touching tens of millions of series would
        // OOM the driver on the collect, so above `maxInlineSeriesIds`
        // the read-back restriction becomes a semi-join on series_id —
        // shuffle-on-key, zero driver state; the retention + month
        // partition prunes above still bound the scanned slab.
        val slab =
          if (bounds.getLong(4) <= maxInlineSeriesIds) {
            val sids = preFilter.agg(collect_set("series_id")).head().getSeq[Long](0)
            slabBase.filter(col("series_id").isin(sids: _*))
          } else
            slabBase.join(preFilter.select("series_id").distinct(), Seq("series_id"), "left_semi")
        val storedLatest = WritePipeline.storedLatestFor(slab, unchangedScope)
        stamped = WritePipeline.filterUnchanged(preFilter, storedLatest, unchangedScope).cache()
      }

      // only the skip-unchanged filter changes the batch; otherwise the
      // bounds aggregate has already counted it
      val written = if (stamped eq preFilter) before else stamped.count()
      val skipped = before - written
      val rs = WritePipeline.runSeriesOf(stamped, now)

      // Concurrent insert lanes (timedb/write.py:115-158): the values and
      // run_series writes overlap as two Spark jobs on the shared scheduler
      // (Spark jobs from one session run concurrently; the lanes write
      // disjoint paths). Both lanes are always awaited even when one fails —
      // leaking an in-flight write would leave its outcome unknown — and
      // the first error is re-raised, values lane first.
      try {
        if (written > 0) {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          val valuesLane = Future(
            Profiling.phase(Profiling.PhaseWriteSeriesValuesInsert)(store.appendValues(stamped)))
          val rsLane = Future(
            Profiling.phase(Profiling.PhaseWriteRunSeriesInsert)(store.appendRunSeries(rs)))
          val valuesErr = Await.ready(valuesLane, Duration.Inf).value.get.failed.toOption
          val rsErr = Await.ready(rsLane, Duration.Inf).value.get.failed.toOption
          valuesErr.orElse(rsErr).foreach(throw _)
        }
      } finally if (stamped ne preFilter) stamped.unpersist()

      WriteResult(written, skipped)
    } finally preFilter.unpersist()
  }

  private def emptyShape(includeUpdates: Boolean, includeKnowledgeTime: Boolean): DataFrame = {
    val cols = (includeUpdates, includeKnowledgeTime) match {
      case (false, false) => Seq("series_id", "valid_time", "value")
      case (false, true) => Seq("series_id", "knowledge_time", "valid_time", "value")
      case (true, false) => Seq("series_id", "valid_time", "change_time", "value", "changed_by", "annotation")
      case (true, true) => Seq("series_id", "valid_time", "knowledge_time", "change_time", "value", "changed_by", "annotation")
    }
    val schema = org.apache.spark.sql.types.StructType(cols.map(Schema.seriesValues(_)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def scanWith(filter: ReadFilter): DataFrame = {
    var scan = store.scanValues()
    filter.monthPrune.foreach(p => scan = scan.filter(p))
    scan.filter(filter.predicate)
  }

  /** The filtered scan of one read, placed by series range in ONE
    * exchange. The filter's distinct ids, sorted on the driver, are cut
    * into `min(#ids, defaultParallelism)` contiguous slices, and each
    * row goes to its slice's partition (`repartitionById`). The slice
    * column leads the shape's grouping or window keys (`by`), so this
    * exchange satisfies the shape's distribution; and as partition k
    * holds only ids below partition k + 1's, sorting within partitions
    * gives the total order — no sampling job and no range exchange for a
    * global sort. The trade: the argmax loses its map-side partial
    * aggregate, so the exchange carries the filtered rows uncombined. */
  private def placed(filter: ReadFilter): DataFrame = {
    val ids = filter.seriesIds.distinct.sorted.toIndexedSeq
    val n = math.min(ids.size, spark.sparkContext.defaultParallelism)
    // slice k starts at ids(k * #ids / n); a balanced tree of bounds
    def slice(lo: Int, hi: Int): Column =
      if (hi - lo == 1) lit(lo)
      else {
        val mid = (lo + hi) / 2
        val bound = ids((mid.toLong * ids.size / n).toInt)
        when(col("series_id") < bound, slice(lo, mid)).otherwise(slice(mid, hi))
      }
    scanWith(filter).withColumn(SliceCol, slice(0, n)).repartitionById(n, col(SliceCol))
  }

  /** Total order of a shape computed over [[placed]] rows: slices are
    * partitions in id order, so a sort within each one suffices. */
  private def ordered(shaped: DataFrame, keys: String*): DataFrame =
    shaped.sortWithinPartitions(SliceCol, keys: _*).drop(SliceCol)

  /** Read (timedb/read.py:404-458): 4-way shape dispatch on
    * (includeUpdates, includeKnowledgeTime), NaN→null mask on the way out,
    * deterministic total order (timedb/read.py:244,280,309,337). */
  def read(
      filter: ReadFilter,
      includeUpdates: Boolean = false,
      includeKnowledgeTime: Boolean = false): DataFrame = Profiling.phase(Profiling.PhaseReadTotal) {
    if (filter.seriesIds.isEmpty)
      return emptyShape(includeUpdates, includeKnowledgeTime) // timedb/read.py:421-422

    val base = placed(filter)
    val shaped = Profiling.phase(Profiling.PhaseReadPlan) {
      (includeUpdates, includeKnowledgeTime) match {
        case (false, false) =>
          ordered(ReadShapes.latest(base, bySlice), "series_id", "valid_time")
        case (false, true) =>
          ordered(ReadShapes.overlapping(base, bySlice), "series_id", "valid_time", "knowledge_time")
        case (true, false) =>
          ordered(ReadShapes.latestWithChanges(base, bySlice), "series_id", "valid_time", "change_time")
        case (true, true) =>
          ordered(ReadShapes.overlappingWithChanges(base, bySlice),
            "series_id", "valid_time", "knowledge_time", "change_time")
      }
    }
    maskNaN(shaped)
  }

  /** Read addressed by an external catalog instead of explicit ids
    * (timedb/read.py: `meta_source` on read/read_relative): resolve the
    * catalog once to literal id/retention lists (the scalar-subquery
    * trick — keeps partition pruning), then run the normal read. */
  def readMeta(
      meta: MetaSource,
      startValid: Option[Timestamp] = None,
      endValid: Option[Timestamp] = None,
      startKnown: Option[Timestamp] = None,
      endKnown: Option[Timestamp] = None,
      includeUpdates: Boolean = false,
      includeKnowledgeTime: Boolean = false): DataFrame = {
    val (ids, rets) = meta.resolve()
    read(ReadFilter(ids, rets, startValid, endValid, startKnown, endKnown),
      includeUpdates, includeKnowledgeTime)
  }

  /** Relative read (timedb/read.py:461-527), explicit mode. */
  def readRelative(
      filter: ReadFilter,
      windowLength: Duration,
      issueOffset: Duration,
      startWindow: Option[Timestamp] = None): DataFrame = {
    if (filter.seriesIds.isEmpty) return emptyShape(false, false)
    val origin = startWindow.orElse(filter.startValid).getOrElse(
      throw new IllegalArgumentException("start_window is required when start_valid is not provided."))
    val shaped = ReadShapes.relative(placed(filter),
      windowLength.getSeconds, issueOffset.getSeconds, origin, bySlice)
    maskNaN(ordered(shaped, "series_id", "valid_time"))
  }

  /** Relative read, daily shorthand (timedb/read.py:480-492): window=1d,
    * offset = time_of_day − days_ahead·1d, origin = midnight(start_valid)−1d. */
  def readRelativeDaily(
      filter: ReadFilter,
      daysAhead: Int,
      timeOfDay: LocalTime): DataFrame = {
    val startValid = filter.startValid.getOrElse(
      throw new IllegalArgumentException("start_valid is required when using days_ahead/time_of_day."))
    val midnight = startValid.toInstant.atZone(ZoneOffset.UTC).toLocalDate
      .atStartOfDay(ZoneOffset.UTC).toInstant
    val origin = Timestamp.from(midnight.minus(Duration.ofDays(1)))
    val offset = Duration.ofNanos(timeOfDay.toNanoOfDay).minus(Duration.ofDays(daysAhead.toLong))
    readRelative(filter, Duration.ofDays(1), offset, Some(origin))
  }

  /** Runs that touched a series, newest first (timedb/client.py:198-214). */
  def readRunSeries(seriesId: Long): Seq[Long] =
    store.scanRunSeries()
      .filter(col("series_id") === seriesId)
      .orderBy(col("first_seen").desc)
      .select("run_id").collect().map(_.getLong(0)).toSeq

  def expireRetention(asOf: Instant = Instant.now()): Seq[String] =
    store.expireRetention(asOf)

  /** Small-file maintenance (streaming ingest appends one+ file per
    * micro-batch); see [[graft.sources.SeriesStore.compactPartitions]]. */
  def compact(maxFiles: Int = 4): Seq[String] =
    store.compactPartitions(maxFiles)

  /** Reclaim storage unreferenced by the retained snapshot tail
    * (superseded compaction inputs, expired months, crashed writes);
    * see [[graft.sources.SeriesStore.vacuum]] for the reader-grace and
    * in-flight-write age guards. */
  def vacuum(keepManifests: Int = 2,
      minAgeMillis: Long = 15L * 60 * 1000): Seq[String] =
    store.vacuum(keepManifests, minAgeMillis)

  /** NaN→null mask at the API boundary (timedb/read.py:57-67): NaN is the
    * storage sentinel, null is the user-facing representation. */
  private def maskNaN(df: DataFrame): DataFrame =
    if (df.columns.contains("value"))
      df.withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
    else df
}
