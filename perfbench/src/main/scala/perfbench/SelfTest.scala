package perfbench

import java.nio.file.{Files, Paths}

import graft.TimeDb

/** Shows that the benchmark's answer checks catch a wrong answer: the
  * same read is checked once against the generator's expectation and
  * once against a deliberately corrupted copy of it, and the dedup
  * kept-count check is fed a corrupted count. Exit 0 only when the true
  * expectations pass and every corrupted one is counted as failed. */
object SelfTest {
  def run(work: String): Int = {
    Files.createDirectories(Paths.get(work))
    val spark = Main.session(Paths.get(work))
    try {
      val rec = new Recorder(spark)
      final class Probe extends TimeDbWorkload(spark, 7L, s"$work/data", rec) {
        def build(): Unit = ()
        def warmUp(): Unit = ()
        def run(deadlineNs: Long): Unit = ()
        def go(): (Int, Int) = {
          val s = Gen.Schedule(7L, Gen.midnightUs("2024-01-01"), stepH = 12, horizonH = 24, leadH = 0,
            corrected = Set(1))
          freshStore()
          val ids = Seq(1L, 2L)
          for (k <- 0 to 1) write("write", s.issueFrame(spark, ids, k), Some(Gen.ts(s.ktUs(k))))
          write("write", s.issueFrame(spark, ids, 1, corrected = true), Some(Gen.ts(s.ktUs(1))))
          val (from, to) = (s.startUs(0), s.endUs(1))
          val got = rec.read("latest", db.read(filter(ids, from, to)))
          val exp = s.latest(Seq(0, 1), ids, from, to)
          checkSvv("true expectation", got, exp)
          val passed = rec.failures.size
          val bad = exp.updated(exp.size / 2, exp(exp.size / 2).copy(_3 = exp(exp.size / 2)._3 + 0.001))
          checkSvv("corrupted value", got, bad)
          checkSvv("corrupted row count", got, exp.tail)
          checkChanges("corrupted changes", rec.read("changes", db.read(filter(ids, from, to),
            includeUpdates = true)), s.changes(Seq(0, 1), ids, from, to).drop(1))
          (passed, rec.failures.size)
        }
      }
      val wl = new Probe
      val (before, after) = wl.go()
      val dedup = Gen.Corpus(2000L, 11L)
      val kept = graft.operators.Dedup.exact(dedup.frame(spark)).count()
      val dedupTrue = kept == dedup.exactKept
      val dedupCorrupt = kept == dedup.exactKept + 1
      wl.close()
      val ok = before == 0 && after == 3 && dedupTrue && !dedupCorrupt
      println(s"self-test: true expectations failed $before (want 0); corrupted expectations caught " +
        s"${after - before} of 3; exact dedup kept $kept of ${dedup.docs} " +
        s"(closed form ${dedup.exactKept}) -> ${if (ok) "PASS" else "FAIL"}")
      if (ok) 0 else 1
    } finally spark.stop()
  }
}
