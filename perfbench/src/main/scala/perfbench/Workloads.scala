package perfbench

import java.sql.Timestamp
import java.time.LocalTime


import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Profiling, ReadFilter, TimeDb}
import graft.operators.{Dedup, TextAnalysis, WriteResult}
import graft.sources.MetaSource

/** One benchmark workload. `warmUp` runs every kind of call on a small
  * state of its own, untimed, so class loading, JIT and code generation
  * are done before timing; `build` makes the starting state (the seed
  * store or corpus) and replaces any earlier one. `run` is the closed
  * loop: one client, the next call only after the previous one
  * returned. */
trait Workload {
  def build(): Unit
  def warmUp(): Unit
  def run(deadlineNs: Long): Unit
  def close(): Unit = ()
}

object Loop {
  /** Run `cycle` until the deadline, starting a cycle only when one as
    * long as the previous fits before it; the first always runs. */
  def until(rec: Recorder, deadlineNs: Long)(cycle: => Unit): Unit = {
    var last = 0L
    while (rec.now + last <= deadlineNs) {
      val t0 = rec.now
      cycle
      last = rec.now - t0
    }
  }
}

object Workload {
  val names: Seq[String] = Seq("timedb", "dedup")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String, rec: Recorder): Workload =
    name match {
      case "timedb" => new TimeDbRound(spark, seed, dir, rec)
      case "dedup" => new DedupPass(spark, seed, rec)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
    }
}

/** Shared TimeDb plumbing: the store under test, answer checks, and —
  * when tracing — the store-layer counters read around each call. */
abstract class TimeDbWorkload(spark: SparkSession, seed: Long, dir: String, rec: Recorder)
    extends Workload {

  private var stores = 0
  protected var db: TimeDb = _

  /** A fresh, empty store in its own directory; the old one is deleted. */
  protected def freshStore(): TimeDb = {
    if (db != null) db.delete()
    stores += 1
    db = new TimeDb(spark, s"$dir/store$stores")
    db.create()
    probeState()
    db
  }

  override def close(): Unit = if (db != null) db.delete()

  protected def filter(sids: Seq[Long], from: Long, to: Long, tiers: Seq[String] = Nil) =
    ReadFilter(sids, tiers, Some(Gen.ts(from)), Some(Gen.ts(to)))

  // --- answer checks -------------------------------------------------

  protected def checkSvv(what: String, got: Option[Array[Row]],
      exp: Seq[(Long, Long, Double)]): Unit = got.foreach { rows =>
    rec.check(s"$what: ${rows.length} rows, expected ${exp.length}")(rows.length == exp.length)
    if (rows.length == exp.length) {
      val bad = rows.iterator.zip(exp.iterator).indexWhere { case (r, (s, vt, v)) =>
        r.getLong(0) != s || Gen.us(r.getTimestamp(1)) != vt || r.isNullAt(2) || r.getDouble(2) != v
      }
      rec.check(s"$what: row $bad differs from the generator's answer")(bad < 0)
    }
  }

  protected def checkOverlapping(what: String, got: Option[Array[Row]],
      exp: Seq[(Long, Long, Long, Double)]): Unit = got.foreach { rows =>
    rec.check(s"$what: ${rows.length} rows, expected ${exp.length}")(rows.length == exp.length)
    if (rows.length == exp.length) {
      // (series_id, knowledge_time, valid_time, value)
      val bad = rows.iterator.zip(exp.iterator).indexWhere { case (r, (s, vt, kt, v)) =>
        r.getLong(0) != s || Gen.us(r.getTimestamp(1)) != kt || Gen.us(r.getTimestamp(2)) != vt ||
          r.getDouble(3) != v
      }
      rec.check(s"$what: row $bad differs from the generator's answer")(bad < 0)
    }
  }

  /** Latest-with-changes rows are (series_id, valid_time, change_time,
    * value, ...): compare everything but the stamped change_time. */
  protected def checkChanges(what: String, got: Option[Array[Row]],
      exp: Seq[(Long, Long, Double)]): Unit =
    checkSvv(what, got.map(_.map(r => Row(r.getLong(0), r.getTimestamp(1), r.getDouble(3)))), exp)

  /** The full-store latest read, reduced in the engine to (rows, hash). */
  protected def latestDigest(sids: Seq[Long]): DataFrame =
    db.read(ReadFilter(sids))
      .agg(count(lit(1)), bit_xor(xxhash64(col("series_id"), col("valid_time"), col("value"))))

  protected def digestOf(rows: Option[Array[Row]]): Option[(Long, Long)] =
    rows.map(r => (r(0).getLong(0), if (r(0).isNullAt(1)) 0L else r(0).getLong(1)))

  // --- timed calls --------------------------------------------------------

  protected def write(kind: String, df: DataFrame, knowledgeTime: Option[Timestamp],
      skipUnchanged: Boolean = false): Option[WriteResult] = {
    val before = if (rec.isTraced) Profiling.snapshot() else Map.empty[String, (Double, Long)]
    val res = rec.op[WriteResult](kind, _.written) {
      db.write(df, knowledgeTime = knowledgeTime, skipUnchanged = skipUnchanged)
    }
    if (rec.isTraced) {
      val after = Profiling.snapshot()
      def ms(p: String) = (after.get(p).map(_._1).getOrElse(0.0) -
        before.get(p).map(_._1).getOrElse(0.0)) * 1000.0
      val norm = ms(Profiling.PhaseWriteNormalize)
      val skip = ms(Profiling.PhaseWriteSkipUnchanged)
      val values = ms(Profiling.PhaseWriteSeriesValuesInsert)
      val rs = ms(Profiling.PhaseWriteRunSeriesInsert)
      rec.sample("TimeDb.write.normalize_ms", norm)
      rec.sample("TimeDb.write.skip_unchanged_ms", skip)
      rec.sample("TimeDb.write.values_insert_ms", values)
      rec.sample("TimeDb.write.run_series_insert_ms", rs)
      // the two insert lanes run concurrently, so the rest of the call is
      // the total minus the phases on the critical path
      rec.sample("TimeDb.write.other_ms",
        math.max(0.0, ms(Profiling.PhaseWriteTotal) - norm - skip - math.max(values, rs)))
      res.foreach { r =>
        rec.sample("WritePipeline.skipped_ratio_num", r.skipped.toDouble)
        rec.sample("WritePipeline.skipped_ratio_den", (r.written + r.skipped).toDouble)
        if (skipUnchanged) rec.sample("WritePipeline.readback_rows", readbackRows(df))
        rec.sample("WritePipeline.incoming_rows", (r.written + r.skipped).toDouble)
      }
      val bytesBefore = liveBytes
      probeState()
      res.foreach { r =>
        rec.sample("SeriesStore.bytes_written", (liveBytes - bytesBefore).toDouble)
        rec.sample("SeriesStore.rows_written", r.written.toDouble)
      }
    }
    res
  }

  /** Rows the skip-unchanged read-back slab holds for batch `df`: the
    * stored rows of its series and tiers inside its valid-time bounds. */
  private def readbackRows(df: DataFrame): Double = {
    val b = df.agg(min("valid_time"), max("valid_time"), collect_set("series_id")).head()
    db.store.scanValues()
      .filter(col("series_id").isin(b.getSeq[Long](2): _*) &&
        col("valid_time") >= b.getTimestamp(0) && col("valid_time") <= b.getTimestamp(1))
      .count().toDouble
  }

  protected def compact(): Unit = {
    val liveBefore = if (rec.isTraced) liveSizes() else Map.empty[String, Long]
    // every partition with more than one live file: after a load, all of them
    rec.op[Seq[String]]("compact", _ => 0L)(db.compact(maxFiles = 1)).foreach { _ =>
      if (rec.isTraced) {
        rec.sample("SeriesStore.compact_ms", rec.ops.last.ms)
        val after = db.store.currentFiles().toSet
        rec.sample("SeriesStore.compact_bytes_rewritten",
          liveBefore.collect { case (f, n) if !after(f) => n }.sum.toDouble)
        probeState()
      }
    }
  }

  protected def vacuum(): Unit =
    rec.op[Seq[String]]("vacuum", _ => 0L)(db.vacuum(minAgeMillis = 0L))
      .foreach { deleted =>
        if (rec.isTraced) {
          rec.sample("SeriesStore.vacuum_ms", rec.ops.last.ms)
          rec.sample("SeriesStore.vacuum_files_deleted", deleted.size.toDouble)
          probeState()
        }
      }

  // --- store-layer state (traced runs) ---------------------------------

  private var liveBytes = 0L

  private def liveSizes(files: Seq[String] = db.store.currentFiles()): Map[String, Long] = {
    val root = new Path(db.store.valuesPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.map(f => f -> fs.getFileStatus(new Path(root, f)).getLen).toMap
  }

  /** Read the store's manifest and file sizes as a client would: the
    * manifest read is timed, the rest is the store's current shape. */
  protected def probeState(): Unit = if (rec.isTraced) {
    val t0 = rec.now
    val files = db.store.currentFiles()
    rec.sample("SeriesStore.manifest_read_ms", (rec.now - t0) / 1e6)
    val sizes = liveSizes(files)
    liveBytes = sizes.values.sum
    rec.layer("SeriesStore.versions") = (db.store.versions().size.toDouble, 1L)
    rec.layer("SeriesStore.live_files") = (sizes.size.toDouble, 1L)
    rec.layer("SeriesStore.files_per_partition_max") = (
      if (sizes.isEmpty) 0.0
      else sizes.keys.groupBy(f => f.substring(0, f.lastIndexOf('/'))).values.map(_.size).max.toDouble,
      1L)
    rec.layer("SeriesStore.bytes") = (liveBytes.toDouble, 1L)
  }

  /** A timed read; traced runs also count its scanned files against the
    * live set. */
  protected def read(kind: String, df: => DataFrame): Option[Array[Row]] = {
    val rows = rec.read(kind, df)
    if (rec.isTraced && rows.isDefined) {
      val live = rec.layer.get("SeriesStore.live_files").map(_._1).getOrElse(0.0)
      if (live > 0) rec.sample("scan.prune_ratio", rec.lastScanFiles / live)
    }
    rows
  }

  /** Stored bytes per stored row at the end of a run (detail metric). */
  def storedBytesPerRow(): Double = {
    val rows = db.store.scanValues().count()
    if (rows == 0) 0.0 else liveSizes().values.sum.toDouble / rows
  }
}

/** `timedb`: load, serve, ingest — the store's user paths in one round
  * that starts from an empty store, so every round does the same work.
  *
  *  - load: three overlapping monthly forecast issues and a correction of
  *    the last one (same knowledge_time, later change_time) as bulk
  *    writes; a full-store latest read, compaction and vacuum, the same
  *    read again. Encode, sort and shuffle in `SeriesStore.appendValues`
  *    and the scan and argmax of the full reads do most of this work.
  *  - serve: dashboard reads of 2 or 40 series over a day, three days or
  *    a week, rotating through the four read shapes and a
  *    catalog-addressed read; planning, manifest reads and month/tier
  *    pruning dominate them.
  *  - ingest: small writes of 20 series × 100 hours, each a newer issue,
  *    the last one a replay of the one before with skip-unchanged, each
  *    followed by latest and change-history reads-after-write; per-call
  *    driver work dominates them.
  */
final class TimeDbRound(spark: SparkSession, seed: Long, dir: String, rec: Recorder)
    extends TimeDbWorkload(spark, seed, dir, rec) {

  val nSeries = 80
  /** Dashboard reads per round: each of the five kinds at 2 and 40 series. */
  val dashboardReads = 10
  /** Small writes per round; the last replays the one before. */
  val smallWrites = 4
  val batchSeries = 20
  private val sids = (0L until nSeries).toSeq
  private var round = 0

  // monthly issues of 36 days: four valid months, two retention tiers
  private def schedule(r: Int) = Gen.Schedule(Gen.mix(seed, 1, r), Gen.midnightUs("2024-01-20"),
    stepH = 24 * 30, horizonH = 24 * 36, leadH = 0, corrected = Set(2))

  // hourly issues from 25 March, all over the same 100 valid hours from
  // 1 March: newer than every loaded issue, so each supersedes the load
  private def ingestSchedule(r: Int) = Gen.Schedule(Gen.mix(seed, 3, r), Gen.midnightUs("2024-03-25"),
    stepH = 1, horizonH = 100, leadH = -24 * 24, shiftH = 0)

  private def oneRound(scale: Int, dashboard: Int, writes: Int): Unit = {
    val s = schedule(round)
    val small = ingestSchedule(round)
    val rnd = new java.util.SplittableRandom(Gen.mix(seed, 2, round))
    round += 1
    val ids = sids.take(nSeries / scale)
    freshStore()

    val written = Seq(0, 1, 2)
    val perIssue = ids.size * s.horizonH
    for (k <- written) write("bulk_write", s.issueFrame(spark, ids, k), Some(Gen.ts(s.ktUs(k))))
      .foreach(w => rec.check(s"bulk write $k wrote ${w.written}, expected $perIssue")(w.written == perIssue))
    write("bulk_write", s.issueFrame(spark, ids, 2, corrected = true), Some(Gen.ts(s.ktUs(2))))
      .foreach(w => rec.check(s"correction wrote ${w.written}, expected $perIssue")(w.written == perIssue))
    val cells = s.latestCells(written, ids.size)
    val before = digestOf(read("full_latest", latestDigest(ids)))
    before.foreach(d => rec.check(s"full latest: ${d._1} rows, expected $cells")(d._1 == cells))
    compact()
    vacuum()
    val after = digestOf(read("full_latest", latestDigest(ids)))
    for (a <- after; b <- before)
      rec.check(s"full latest digest changed across compact/vacuum: $b -> $a")(a == b)

    import spark.implicits._
    val catalog = ids.map(i => (i, Gen.tierOf(i), s"/site${i % 6}/s$i", s"s$i", s"u$i", "power"))
      .toDF("series_id", "retention", "path", "name", "node_uuid", "data_type")
    for (i <- 0 until dashboard) dashboardRead(i, s, written, ids, rnd, catalog)

    var last: Option[(DataFrame, Int, Seq[Long])] = None
    for (i <- 1 to writes) {
      val replay = i == writes
      val (df, k, batch) = last.filter(_ => replay).getOrElse {
        val batch = Gen.choose(rnd, ids, batchSeries)
        (small.issueFrame(spark, batch, i), i, batch)
      }
      val rows = batch.size * small.horizonH
      write("write", df, Some(Gen.ts(small.ktUs(k))), skipUnchanged = replay).foreach { w =>
        if (replay) rec.check(s"replay wrote ${w.written}, skipped ${w.skipped}")(w.written == 0 && w.skipped == rows)
        else rec.check(s"small write wrote ${w.written}, expected $rows")(w.written == rows)
      }
      last = Some((df, k, batch))
      val (from, to) = (small.startUs(k), small.endUs(k))
      checkSvv("read-after-write", read("latest", db.read(filter(batch, from, to))),
        small.latest(Seq(k), batch, from, to))
      checkChanges("changes-after-write", read("changes", db.read(filter(batch, from, to), includeUpdates = true)),
        small.changes(Seq(k), batch, from, to))
    }
  }

  private def dashboardRead(i: Int, s: Gen.Schedule, written: Seq[Int], ids: Seq[Long],
      rnd: java.util.SplittableRandom, catalog: DataFrame): Unit = {
    // sizes are fixed per slot, so every seed does the same amount of
    // work; the seed picks which series, tier and week
    val oneTier = i % 2 == 0
    val tier = rnd.nextInt(2)
    val pool = if (oneTier) ids.filter(_ % 2 == tier) else ids
    val pick = Gen.choose(rnd, pool, Seq(2, 40)(i / 5 % 2))
    val tiers = if (oneTier) Seq(Gen.tierOf(tier.toLong)) else Nil
    val hours = (s.endUs(written.max) - s.startUs(0)) / Gen.HourUs - 24 * 7
    val from = s.startUs(0) + rnd.nextLong(hours) * Gen.HourUs
    val to = from + Seq(24, 72, 168)(i % 3) * Gen.HourUs
    val f = filter(pick, from, to, tiers)
    i % 5 match {
      case 0 => checkSvv("dash_latest", read("dash_latest", db.read(f)), s.latest(written, pick, from, to))
      case 1 => checkOverlapping("dash_overlapping",
        read("dash_overlapping", db.read(f, includeKnowledgeTime = true)),
        s.overlapping(written, pick, from, to))
      case 2 => checkChanges("dash_changes", read("dash_changes", db.read(f, includeUpdates = true)),
        s.changes(written, pick, from, to))
      case 3 =>
        val tod = LocalTime.of(12, 0)
        checkSvv("dash_relative", read("dash_relative", db.readRelativeDaily(f, 1, tod)),
          s.relativeDaily(written, pick, from, to, 1, tod))
      case 4 =>
        val meta = MetaSource(catalog, names = pick.map(i => s"s$i"))
        checkSvv("dash_meta", read("dash_meta", db.readMeta(meta, Some(Gen.ts(from)), Some(Gen.ts(to)))),
          s.latest(written, pick, from, to))
    }
  }

  def build(): Unit = freshStore()

  /** Every call of a round once, on a tenth of the series. */
  def warmUp(): Unit = oneRound(scale = 10, dashboard = 5, writes = 2)

  def run(deadlineNs: Long): Unit =
    Loop.until(rec, deadlineNs)(oneRound(scale = 1, dashboardReads, smallWrites))
}

/** `dedup`: one full near-dup pipeline pass over a generated corpus —
  * exact dedup, MinHash-LSH candidates, duplicate clusters and the text
  * profile — then one near-dup index build and twenty 1% batches
  * screened against it. Touches no TimeDb layer. */
final class DedupPass(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {

  val docs = 20000L
  /** 1% batches screened against each index build. */
  val screens = 20
  private val corpusGen = Gen.Corpus(docs, salt = Math.floorMod(Gen.mix(seed, 6, 0), 50000L))
  private var corpus: DataFrame = _
  private val (n, numHashes, bands) = (2, 16, 8)
  private val indexed = col("doc_id") % 100 >= 20
  private var batch = 0

  def build(): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    corpus = corpusGen.frame(spark).persist(StorageLevel.MEMORY_ONLY)
    corpus.count()
  }

  /** Every call of the pass, on a corpus of 2% the size. */
  def warmUp(): Unit = {
    val small = Gen.Corpus(docs / 50, corpusGen.salt).frame(spark).persist(StorageLevel.MEMORY_ONLY)
    pass(small, checked = false)
    buildIndex(small).foreach { idx =>
      for (_ <- 0 until 5) screen(small, idx, checked = false)
      idx.unpersist(blocking = true)
    }
    small.unpersist(blocking = true)
  }

  def run(deadlineNs: Long): Unit = Loop.until(rec, deadlineNs) {
    pass(corpus, checked = true)
    buildIndex(corpus).foreach { idx =>
      for (_ <- 0 until screens) screen(corpus, idx, checked = true)
      idx.unpersist(blocking = true)
    }
  }

  private def pass(docsDf: DataFrame, checked: Boolean): Unit = {
    val kept = rec.op[Long]("exact", _ => docs)(Dedup.exact(docsDf).count())
    if (checked) kept.foreach(k =>
      rec.check(s"exact dedup kept $k, expected ${corpusGen.exactKept}")(k == corpusGen.exactKept))
    val cands = rec.op[DataFrame]("lsh_candidates", _ => docs) {
      val c = Dedup.minHashLshCandidates(docsDf, n, numHashes, bands).persist(StorageLevel.MEMORY_ONLY)
      c.count(); c
    }
    for (c <- cands) {
      if (checked) {
        val got = c.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val planted = corpusGen.plantedPairs
        val missing = planted.filterNot(got)
        rec.check(s"${missing.size} of ${planted.size} planted near-duplicate pairs missing from LSH " +
          s"candidates, e.g. ${missing.take(3).mkString(", ")}")(missing.isEmpty)
        if (rec.isTraced) {
          rec.sample("Dedup.candidate_pairs", got.size.toDouble)
          rec.sample("Dedup.candidate_precision", if (got.isEmpty) 0.0 else got.count(planted).toDouble / got.size)
        }
      }
      val clusters = rec.op[Array[Row]]("clusters", _ => docs)(Dedup.duplicateClusters(c).collect())
      if (checked) clusters.foreach { rows =>
        val of = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val split = corpusGen.plantedPairs.count { case (a, b) => of.get(a).isEmpty || of.get(a) != of.get(b) }
        rec.check(s"$split planted pairs split across clusters")(split == 0)
      }
      c.unpersist(blocking = true)
    }
    val prof = rec.op[Row]("profile", _ => docs) {
      TextAnalysis.profile(docsDf).agg(count(lit(1)), sum("n_tokens")).head()
    }
    if (checked) prof.foreach(r => rec.check(s"profile: ${r.getLong(0)} docs, ${r.getLong(1)} tokens")(
      r.getLong(0) == docs && r.getLong(1) == docs * 101))
  }

  private def buildIndex(docsDf: DataFrame): Option[DataFrame] =
    rec.op[DataFrame]("index_build", _ => docs) {
      val i = Dedup.nearDupIndex(docsDf.filter(indexed), n, numHashes, bands).persist(StorageLevel.MEMORY_ONLY)
      i.count(); i
    }

  private def screen(docsDf: DataFrame, idx: DataFrame, checked: Boolean): Unit = {
    val b = batch % 20
    batch += 1
    val incoming = docsDf.filter(col("doc_id") % 100 === b)
    val got = rec.op[Array[Row]]("screen", _ => docs / 100) {
      Dedup.incrementalNearDupAgainst(incoming, idx, n, numHashes, bands).collect()
    }
    if (checked) got.foreach { rows =>
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = for {
        g <- corpusGen.groups.values.iterator
        a <- g.iterator if a % 100 == b
        s <- g if s != a && s % 100 >= 20
      } yield (a, s)
      val missing = expected.count(p => !pairs(p))
      rec.check(s"screen batch $b: $missing planted partners missing")(missing == 0)
    }
  }

  override def close(): Unit = if (corpus != null) corpus.unpersist(blocking = true)
}
