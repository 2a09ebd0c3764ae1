package perfbench

import java.sql.Timestamp
import java.time.{Instant, LocalTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generators for every workload's inputs, and the closed-form
  * answers the benchmark checks the program's outputs against. The
  * workload seed reaches the program only through the data built here.
  */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit key from (seed, a, b). */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The value path of one forecast issue of one series: a random walk
    * rounded to 3 decimals, so stored bytes reflect realistic values
    * rather than a repeating pattern. */
  def walk(seed: Long, sid: Long, issue: Int, n: Int): Array[Double] = {
    val r = new SplittableRandom(mix(seed, sid, issue.toLong))
    val out = new Array[Double](n)
    var v = 20.0 + 60.0 * r.nextDouble()
    var i = 0
    while (i < n) {
      v += r.nextDouble() * 2.0 - 1.0
      out(i) = math.rint(v * 1000.0) / 1000.0
      i += 1
    }
    out
  }

  /** Added to every value of a corrected issue: exact in binary, so the
    * corrected values compare bit-for-bit. */
  val CorrectionDelta = 0.25

  def tierOf(sid: Long): String = if (sid % 2 == 0) "medium" else "long"

  val HourUs = 3600L * 1000000L

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def us(t: Timestamp): Long = Math.addExact(t.getTime / 1000L * 1000000L, t.getNanos / 1000L)

  val inputSchema: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("valid_time", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("retention", StringType, nullable = false)))

  /** A forecast schedule: issue k is known at `t0 + k·stepH` hours and
    * covers `horizonH` hourly valid times from `t0 + leadH + k·shiftH`
    * hours (`shiftH` defaults to `stepH`: the window moves with the
    * issue). Overlapping windows make the latest read pick a winner. Issues in `corrected` were
    * rewritten once, same knowledge_time, values + [[CorrectionDelta]].
    * Every expectation below is computed from these parameters alone.
    */
  final case class Schedule(seed: Long, t0Us: Long, stepH: Int, horizonH: Int,
      leadH: Int, corrected: Set[Int] = Set.empty, shiftH: Int = -1) {

    private def shift: Int = if (shiftH < 0) stepH else shiftH

    def ktUs(k: Int): Long = t0Us + k.toLong * stepH * HourUs
    def startUs(k: Int): Long = t0Us + (leadH.toLong + k.toLong * shift) * HourUs
    def endUs(k: Int): Long = startUs(k) + horizonH.toLong * HourUs

    /** One issue for a set of series, as the writer's input frame. */
    def issueFrame(spark: SparkSession, sids: Seq[Long], k: Int, corrected: Boolean = false): DataFrame = {
      val sd = seed; val start = startUs(k); val hz = horizonH
      val rows = spark.sparkContext.parallelize(sids, math.max(1, math.min(sids.size / 50, 8)))
        .flatMap { sid =>
          val w = walk(sd, sid, k, hz)
          val tier = tierOf(sid)
          (0 until hz).iterator.map { h =>
            val v = if (corrected) w(h) + CorrectionDelta else w(h)
            Row(sid, ts(start + h * HourUs), v, tier)
          }
        }
      spark.createDataFrame(rows, inputSchema)
    }

    @transient private lazy val walks = scala.collection.mutable.HashMap[(Long, Int), Array[Double]]()

    private def base(sid: Long, k: Int, vtUs: Long): Double =
      walks.getOrElseUpdate((sid, k), walk(seed, sid, k, horizonH))(((vtUs - startUs(k)) / HourUs).toInt)

    private def value(sid: Long, k: Int, vtUs: Long): Double =
      if (corrected(k)) base(sid, k, vtUs) + CorrectionDelta else base(sid, k, vtUs)

    /** Issues among `written` that cover hourly valid time `vtUs`. */
    private def covering(written: Seq[Int], vtUs: Long): Seq[Int] =
      written.filter(k => startUs(k) <= vtUs && vtUs < endUs(k))

    private def hoursIn(fromUs: Long, toUs: Long): Iterator[Long] = {
      val first = Math.floorDiv(fromUs + HourUs - 1, HourUs) * HourUs
      Iterator.iterate(first)(_ + HourUs).takeWhile(_ < toUs)
    }

    /** Expected latest read: (series_id, valid_time µs, value). */
    def latest(written: Seq[Int], sids: Seq[Long], fromUs: Long, toUs: Long): Seq[(Long, Long, Double)] =
      for {
        s <- sids.sorted; vt <- hoursIn(fromUs, toUs).toSeq
        cov = covering(written, vt) if cov.nonEmpty
      } yield (s, vt, value(s, cov.max, vt))

    /** Expected overlapping read: one row per covering issue. */
    def overlapping(written: Seq[Int], sids: Seq[Long], fromUs: Long, toUs: Long): Seq[(Long, Long, Long, Double)] =
      for {
        s <- sids.sorted; vt <- hoursIn(fromUs, toUs).toSeq
        k <- covering(written, vt).sortBy(ktUs)
      } yield (s, vt, ktUs(k), value(s, k, vt))

    /** Expected latest-with-changes read: the winning issue's chain, one
      * row for the original and one more if it was corrected. */
    def changes(written: Seq[Int], sids: Seq[Long], fromUs: Long, toUs: Long): Seq[(Long, Long, Double)] =
      for {
        s <- sids.sorted; vt <- hoursIn(fromUs, toUs).toSeq
        cov = covering(written, vt) if cov.nonEmpty
        k = cov.max
        b = base(s, k, vt)
        v <- if (corrected(k)) Seq(b, b + CorrectionDelta) else Seq(b)
      } yield (s, vt, v)

    /** Expected `readRelativeDaily(daysAhead, timeOfDay)`: per valid
      * time, the latest issue known by midnight(vt) − daysAhead + tod. */
    def relativeDaily(written: Seq[Int], sids: Seq[Long], fromUs: Long, toUs: Long,
        daysAhead: Int, timeOfDay: LocalTime): Seq[(Long, Long, Double)] = {
      val todUs = timeOfDay.toNanoOfDay / 1000L
      val dayUs = 24L * HourUs
      for {
        s <- sids.sorted; vt <- hoursIn(fromUs, toUs).toSeq
        cutoff = Math.floorDiv(vt, dayUs) * dayUs - daysAhead * dayUs + todUs
        cov = covering(written, vt).filter(ktUs(_) <= cutoff) if cov.nonEmpty
      } yield (s, vt, value(s, cov.max, vt))
    }

    /** Distinct (series, valid_time) cells covered by `written`. */
    def latestCells(written: Seq[Int], nSeries: Long): Long = {
      val hours = written.flatMap(k => (0 until horizonH).map(h => startUs(k) + h * HourUs)).distinct
      hours.size.toLong * nSeries
    }
  }

  /** `n` distinct elements of `xs` (all of them if `n` is larger),
    * chosen by `rnd`, in their original order. */
  def choose[T](rnd: SplittableRandom, xs: Seq[T], n: Int): Seq[T] = {
    val idx = scala.collection.mutable.ArrayBuffer.range(0, xs.size)
    for (i <- 0 until math.min(n, xs.size)) {
      val j = i + rnd.nextInt(xs.size - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(n).sorted.map(xs).toSeq
  }

  def midnightUs(day: String): Long = Instant.parse(day + "T00:00:00Z").getEpochSecond * 1000000L

  /** The synthetic document corpus, after `StressDocs`: every tenth doc
    * replays the seed of doc id/10 (a designed 10% exact-duplicate
    * rate), and the 100-token body depends on `seed mod bodies` only, so
    * docs whose seeds are `bodies` apart are planted near-duplicates
    * (same body, different leading token: 99 of 101 tokens shared). The
    * workload seed shifts the body vocabulary. */
  final case class Corpus(docs: Long, salt: Long) {
    val bodies: Long = math.max(1L, docs / 2)

    def seedOf(id: Long): Long = if (id % 10 == 0) id / 10 else id

    def frame(spark: SparkSession): DataFrame = {
      val seedCol = when(col("id") % 10 === 0, expr("id div 10")).otherwise(col("id"))
      spark.range(docs).withColumn("seed", seedCol)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            concat(lit("d"), col("seed")),
            concat_ws(" ", transform(sequence(lit(0), lit(99)), i =>
              concat(lit("w"), pmod(pmod(col("seed"), lit(bodies)) * 31 + i * 7919 + i * i + lit(salt),
                lit(50000)))))).as("text"))
    }

    /** Doc ids grouped by body: every pair inside a group is a planted
      * near-duplicate (or an exact duplicate when the seeds are equal). */
    lazy val groups: Map[Long, Seq[Long]] =
      (0L until docs).groupBy(id => seedOf(id) % bodies).view.mapValues(_.toSeq).toMap

    lazy val plantedPairs: Set[(Long, Long)] =
      groups.values.iterator.flatMap { g =>
        for (a <- g.iterator; b <- g if a < b) yield (a, b)
      }.toSet

    def exactKept: Long = docs - docs / 10 + docs / 100
  }
}
