package graft

import org.apache.spark.sql.functions._

/** [[ShuffleStats]] — the per-query shuffle-byte listener behind
  * NOTES.md's "Per-family shuffle expansion" table. Integration-level on purpose:
  * the contract is "a bench-grouped job's stage metrics land under its
  * query name", and that is only true end-to-end through Spark's real
  * listener bus + job-group plumbing. */
class ShuffleStatsSpec extends SparkFunSuite {

  /** Run `body` under the bench harness's group-name shape, then wait
    * for the bus to settle like the smoke does. */
  private def underGroup(name: String, seq: Long)(body: => Unit): Unit = {
    spark.sparkContext.setJobGroup(s"graft-bench-$name-$seq", name,
      interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("a grouped aggregation's input and shuffle-write bytes land under its query name") {
    val stats = ShuffleStats.install(spark.sparkContext)
    try testExpansion(stats)
    finally spark.sparkContext.removeSparkListener(stats)
  }

  private def testExpansion(stats: ShuffleStats): Unit = {
    underGroup("q_fake_expansion", 1) {
      spark.read.parquet(s"$sf/documents.parquet")
        .groupBy(col("lang")).agg(count(lit(1)))
        .write.mode("overwrite").format("noop").save()
    }
    Thread.sleep(1500) // listener bus is async; the smoke waits 2 s
    val drained = stats.drain()
    val t = drained.getOrElse("q_fake_expansion",
      fail(s"no totals for q_fake_expansion — got ${drained.keySet}"))
    assert(t.inputBytes.get > 0, "parquet scan bytes not attributed")
    assert(t.shuffleWriteBytes.get > 0, "groupBy shuffle write not attributed")
    // drain clears: a second drain must not re-report the same rep
    assert(!stats.drain().contains("q_fake_expansion"))
  }

  test("ungrouped jobs are ignored; per query the LAST rep wins") {
    val stats = ShuffleStats.install(spark.sparkContext)
    try testUngrouped(stats)
    finally spark.sparkContext.removeSparkListener(stats)
  }

  private def testUngrouped(stats: ShuffleStats): Unit = {
    // no job group: must not appear in the drain
    spark.range(1000).groupBy((col("id") % 7).as("k")).count()
      .write.mode("overwrite").format("noop").save()
    // two reps of the same query, different sizes — drain keeps seq-max
    underGroup("q_fake_reps", 1) {
      spark.range(100).groupBy((col("id") % 3).as("k")).count()
        .write.mode("overwrite").format("noop").save()
    }
    underGroup("q_fake_reps", 2) {
      spark.range(100).groupBy((col("id") % 3).as("k")).count()
        .write.mode("overwrite").format("noop").save()
    }
    Thread.sleep(1500)
    val drained = stats.drain()
    assert(drained.keySet === Set("q_fake_reps"),
      s"expected only the grouped query, got ${drained.keySet}")
  }
}
