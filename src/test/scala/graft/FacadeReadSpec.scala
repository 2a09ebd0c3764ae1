package graft

import java.time.{Duration, LocalTime}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.ReadShapes

/** The facade's series-range read plan against the operator-level
  * formulation it replaces: every facade read must return exactly the
  * rows, in exactly the order, of `ReadShapes.<shape>(scan).orderBy(keys)`
  * over the same filtered snapshot, with NaN masked to null. */
class FacadeReadSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private var built: Option[TimeDb] = None
  override def afterAll(): Unit = built.foreach(_.delete())

  private val t0 = ts("2024-02-28T12:00:00Z")
  private val hours = 72 // crosses into March: two valid months
  private val sids = 0L until 12L

  /** Three issues of 12 series over two tiers (even ids short, odd long),
    * NaN cells in every issue, and a correction of the last issue that
    * changes every third hour and rewrites the rest unchanged. */
  private lazy val db: TimeDb = {
    val base = java.nio.file.Files.createTempDirectory("facade_read").toString
    val d = new TimeDb(spark, base)
    d.create()
    def issue(k: Int, bump: Int => Double): Unit =
      for ((tier, parity) <- Seq("short" -> 0L, "long" -> 1L)) {
        val rows = for (s <- sids if s % 2 == parity; h <- 0 until hours) yield {
          val v = if ((s * 7 + h + k) % 11 == 0) Double.NaN else s * 1000 + h + k * 0.25 + bump(h)
          (s, new java.sql.Timestamp(t0.getTime + h * 3600000L), v)
        }
        d.write(rows.toDF("series_id", "valid_time", "value"), retention = Some(tier),
          knowledgeTime = Some(new java.sql.Timestamp(t0.getTime - 86400000L + k * 43200000L)))
      }
    (0 until 3).foreach(k => issue(k, _ => 0.0))
    issue(2, h => if (h % 3 == 0) 0.5 else 0.0)
    built = Some(d)
    d
  }

  private def at(h: Int) = Some(new java.sql.Timestamp(t0.getTime + h * 3600000L))

  private def masked(df: DataFrame): DataFrame =
    df.withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))

  private def rows(df: DataFrame): (Seq[String], Seq[Row]) = (df.columns.toSeq, df.collect().toSeq)

  /** Every facade read of `f` against its operator-level reference. */
  private def assertSameAsReference(what: String, f: ReadFilter): Unit = {
    val scan = db.store.scanValues().filter(f.predicate)
    def check(shape: String, got: DataFrame, want: DataFrame): Unit = {
      val (g, w) = (rows(got), rows(masked(want)))
      assert(g == w, s"$what / $shape:\n got ${g._2.take(8)}\nwant ${w._2.take(8)}")
    }
    check("latest", db.read(f),
      ReadShapes.latest(scan).orderBy("series_id", "valid_time"))
    check("overlapping", db.read(f, includeKnowledgeTime = true),
      ReadShapes.overlapping(scan).orderBy("series_id", "valid_time", "knowledge_time"))
    check("latestWithChanges", db.read(f, includeUpdates = true),
      ReadShapes.latestWithChanges(scan).orderBy("series_id", "valid_time", "change_time"))
    check("overlappingWithChanges", db.read(f, includeUpdates = true, includeKnowledgeTime = true),
      ReadShapes.overlappingWithChanges(scan)
        .orderBy("series_id", "valid_time", "knowledge_time", "change_time"))
    // readRelativeDaily desugars to window 1 d, offset tod − days·1 d,
    // origin midnight(start_valid) − 1 d
    val daily = f.copy(startValid = f.startValid.orElse(at(0)))
    val origin = java.sql.Timestamp.from(daily.startValid.get.toInstant
      .truncatedTo(java.time.temporal.ChronoUnit.DAYS).minus(Duration.ofDays(1)))
    val offset = Duration.ofHours(6).minus(Duration.ofDays(1))
    check("readRelativeDaily", db.readRelativeDaily(daily, 1, LocalTime.of(6, 0)),
      ReadShapes.relative(db.store.scanValues().filter(daily.predicate),
        86400L, offset.getSeconds, origin).orderBy("series_id", "valid_time"))
  }

  private val cases = Seq(
    "one id" -> ReadFilter(Seq(3L)),
    "more ids than cores" -> ReadFilter(sids),
    "duplicate and absent ids" -> ReadFilter(Seq(9L, 2L, 9L, 404L, 2L, -5L, 4L, 11L)),
    "window in one month" -> ReadFilter(sids, startValid = at(40), endValid = at(60)),
    "known-time window" -> ReadFilter(Seq(1L, 6L, 7L),
      startKnown = Some(t0), endKnown = Some(new java.sql.Timestamp(t0.getTime + 1))),
    "empty window" -> ReadFilter(sids, startValid = at(10), endValid = at(10)),
    "retention filter" -> ReadFilter(sids, retention = Seq("short"), startValid = at(5)))

  for (partitions <- Seq("1", "8"); (what, f) <- cases)
    test(s"facade read equals the operator reference: $what, shuffle partitions $partitions") {
      val prior = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      try assertSameAsReference(what, f)
      finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    }

  test("the cases cover NaN cells, corrections, both tiers and an empty window") {
    val all = db.store.scanValues()
    assert(all.filter(isnan(col("value"))).count() > 0)
    assert(all.select("retention").distinct().count() == 2)
    assert(db.read(ReadFilter(sids)).filter(col("value").isNull).count() > 0)
    assert(db.read(ReadFilter(sids), includeUpdates = true).count() >
      db.read(ReadFilter(sids)).count())
    assert(db.read(cases.toMap.apply("empty window")).isEmpty)
    assert(db.read(cases.toMap.apply("more ids than cores")).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }
}
