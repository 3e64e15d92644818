package graft

import org.scalatest.funsuite.AnyFunSuite

/** The corpus-sized shuffle-partition rule
  * ([[GraftConf.sizedShufflePartitions]]): clamps, linearity, and the
  * round-17 calibration points the dial was set by. Pure-function spec
  * — the smoke applies the rule per measured corpus (ScaleSmoke
  * autoSizePartitions), so a wrong number here IS a wrong partition
  * count there. */
class ShuffleSizingSpec extends AnyFunSuite {

  private val target = GraftConf.DefaultShuffleTargetBytes

  test("fixture corpora clamp to the CPU floor — the A/B-measured best count") {
    // round-17 A/B (NOTES, reps=3 on the clean x10 corpus): 121
    // partitions read 1.2-2.2x SLOWER than 32 across the mid-size pair
    // families, so every fixture-scale corpus must land ON the floor
    assert(GraftConf.sizedShufflePartitions(1400L * 1024, 32) === 32) // sf0.1
    assert(GraftConf.sizedShufflePartitions(12L * 1024 * 1024, 32) === 32) // x10
    assert(GraftConf.sizedShufflePartitions(0L, 32) === 32)
    assert(GraftConf.sizedShufflePartitions(-1L, 4) === 4) // hostile input clamps, not throws
  }

  test("the hot-phase factor puts the skewed x10 corpus at the adjudicated count") {
    // the round-16/17 hot bm25_batch adjudication: ~128 partitions read
    // 37.5-53.4 s tight where 32 read 45.8-132 s spill-bound — the
    // phase-level skew factor (x4) over the floor reproduces it
    val hot = ScaleSmoke.sizedWithFactor(12L * 1024 * 1024, 32, target,
      ScaleSmoke.HotShufflePartitionsFactor)
    assert(hot === 128, s"hot-phase count drifted to $hot")
  }

  test("the hot-skew factor cannot punch through the partition cap") {
    // factor x cap on a TB corpus would be pure scheduling tax — the
    // smoke re-clamps AFTER multiplying (round-17 advisor finding)
    assert(ScaleSmoke.sizedWithFactor(1L << 50, 32, target,
      ScaleSmoke.HotShufflePartitionsFactor)
      === GraftConf.DefaultShufflePartitionCap)
    // and the factor is a no-op above cap/factor but below cap: clamped
    val nearCap = ScaleSmoke.sizedWithFactor(
      2000L * target, 32, target, ScaleSmoke.HotShufflePartitionsFactor)
    assert(nearCap === GraftConf.DefaultShufflePartitionCap,
      s"2000-partition corpus x4 must clamp to the cap, got $nearCap")
  }

  test("cluster-scale inputs grow linearly between the clamps") {
    val oneX = GraftConf.sizedShufflePartitions(100L * target, 4)
    val tenX = GraftConf.sizedShufflePartitions(1000L * target, 4)
    assert(oneX === 100 && tenX === 1000)
    // a 10 GiB compressed corpus lands in the thousands, a 100 TB one
    // at the cap — the regime the bytes rule exists for
    assert(GraftConf.sizedShufflePartitions(10L << 30, 32) === 2560)
  }

  test("the cap bounds task-count blowup; degenerate arguments fail fast by name") {
    assert(GraftConf.sizedShufflePartitions(1L << 50, 32) === 4096)
    assert(GraftConf.sizedShufflePartitions(1L << 50, 32, cap = 256) === 256)
    intercept[IllegalArgumentException] {
      GraftConf.sizedShufflePartitions(1L, 0)
    }
    intercept[IllegalArgumentException] {
      GraftConf.sizedShufflePartitions(1L, 32, targetBytes = 0)
    }
    intercept[IllegalArgumentException] {
      GraftConf.sizedShufflePartitions(1L, 32, cap = 8) // cap < cpus
    }
  }
}
