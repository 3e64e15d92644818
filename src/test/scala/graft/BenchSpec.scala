package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's measurement contract: a failing query is reported as missing
  * (failures list), never as the wall time of its exception. */
class BenchSpec extends SparkFunSuite {

  test("broken query lands in failures, not in the timing map") {
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(10).toDF("id")
    val broken: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("deliberately broken")
    val (timed, failed) = Bench.measure(spark, sf, reps = 1,
      Seq("q_ok" -> good, "q_broken" -> broken))
    assert(timed.map(_._1) === Seq("q_ok"))
    assert(timed.head._2 >= 0.0)
    assert(failed === Seq("q_broken"))
  }

  test("measureDetailed splits the eager prelude (build) from serving the frame") {
    // a face with a deliberate 300 ms eager prelude: the split must bill
    // it to build, not serve — this is the seam the _indexed/_served
    // faces' production claim is measured through
    val eager: (SparkSession, String) => DataFrame = (s, _) => {
      Thread.sleep(300L)
      s.range(10).toDF("id")
    }
    val (detailed, failed) = Bench.measureDetailed(spark, sf, reps = 2,
      Seq("q_eager" -> eager))
    assert(failed.isEmpty)
    val reps = detailed.head._2
    assert(reps.length === 2)
    assert(reps.forall(_.buildSec >= 0.25),
      "the eager prelude was not billed to build")
    assert(reps.forall(r => r.totalSec >= r.buildSec && r.serveSec >= 0.0))
    val med = Bench.medianRep(reps)
    assert(med.totalSec === med.buildSec + med.serveSec,
      "the published split must sum to the published median")
  }

  test("stealMinSelect: idle box degenerates to the median, never the fastest rep") {
    // all reps steal-free → the tie set is every rep → the value must be
    // the plain median (the earlier minBy((steal, total)) silently
    // cherry-picked the FASTEST rep here, overstating improvement vs
    // median-convention rounds)
    val reps = Seq(
      Bench.RepTiming(0.0, 1.0, load1m = 1.0, stealSec = 0.0),
      Bench.RepTiming(0.0, 3.0, load1m = 1.0, stealSec = 0.0),
      Bench.RepTiming(0.0, 2.0, load1m = 1.0, stealSec = 0.0))
    val (rep, flagged) = Bench.stealMinSelect(reps, loadCeiling = 8.0)
    assert(rep.totalSec === 2.0, "idle-box stealmin must be the median rep")
    assert(!flagged)
  }

  test("stealMinSelect: stolen reps are excluded before the median is taken") {
    val reps = Seq(
      Bench.RepTiming(0.0, 9.0, load1m = 1.0, stealSec = 4.0), // stolen
      Bench.RepTiming(0.0, 1.5, load1m = 1.0, stealSec = 0.0),
      Bench.RepTiming(0.0, 1.0, load1m = 1.0, stealSec = 0.01)) // within eps tie
    val (rep, flagged) = Bench.stealMinSelect(reps, loadCeiling = 8.0)
    assert(rep.totalSec === 1.5,
      "median over the min-steal tie set {1.0, 1.5}, not the stolen 9.0")
    assert(!flagged)
  }

  test("stealMinSelect: zero-steal reps over the load ceiling are avoided, or flagged") {
    // steal can read 0 while co-located load inflates wall (the r19
    // driver box): prefer the calm rep...
    val mixed = Seq(
      Bench.RepTiming(0.0, 5.0, load1m = 20.0, stealSec = 0.0), // loaded
      Bench.RepTiming(0.0, 2.0, load1m = 3.0, stealSec = 0.0)) // calm
    val (rep1, flag1) = Bench.stealMinSelect(mixed, loadCeiling = 8.0)
    assert(rep1.totalSec === 2.0 && !flag1)
    // ...and when EVERY min-steal rep ran loaded, fall back but FLAG it
    val allLoaded = Seq(
      Bench.RepTiming(0.0, 5.0, load1m = 20.0, stealSec = 0.0),
      Bench.RepTiming(0.0, 6.0, load1m = 18.0, stealSec = 0.0))
    val (rep2, flag2) = Bench.stealMinSelect(allLoaded, loadCeiling = 8.0)
    assert(rep2.totalSec === 6.0, "fallback pool is still median-selected")
    assert(flag2, "an all-loaded tie set must be flagged")
    // reps without a steal counter: unflagged median fallback
    val noCounter = Seq(
      Bench.RepTiming(0.0, 1.0, load1m = 1.0, stealSec = -1.0),
      Bench.RepTiming(0.0, 2.0, load1m = 1.0, stealSec = -1.0),
      Bench.RepTiming(0.0, 3.0, load1m = 1.0, stealSec = -1.0))
    val (rep3, flag3) = Bench.stealMinSelect(noCounter, loadCeiling = 8.0)
    assert(rep3.totalSec === 2.0 && !flag3)
  }

  test("a query past the time cap is cancelled, fails by name, and skips its reps") {
    // a query whose tasks sleep far past the 1 s cap: if cancellation
    // didn't work, three reps would hold this test for ~3 minutes — the
    // elapsed assertion is the real proof the job group was killed and
    // the remaining reps were skipped
    val slow: (SparkSession, String) => DataFrame = (s, _) => {
      import org.apache.spark.sql.functions.udf
      val nap = udf { (id: Long) => Thread.sleep(60000L); id }
      s.range(8).select(nap(org.apache.spark.sql.functions.col("id")).as("id"))
    }
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(10).toDF("id")
    spark.conf.set("spark.graft.bench.queryTimeoutSec", "1")
    val t0 = System.nanoTime()
    try {
      val (timed, failed) = Bench.measure(spark, sf, reps = 3,
        Seq("q_slow" -> slow, "q_ok" -> good))
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(failed === Seq("q_slow"))
      assert(timed.map(_._1) === Seq("q_ok"),
        "the query after the timed-out one must still be measured")
      assert(elapsedSec < 40.0,
        f"timeout did not bound the run: $elapsedSec%.1f s — cancel or " +
          "rep-skip is broken (3 uncancelled reps would take ~180 s)")
    } finally spark.conf.unset("spark.graft.bench.queryTimeoutSec")
  }
}
