package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions.{avg, col, countDistinct}

/** Conf-gated IVF quantizer upgrades: deterministic farthest-point
  * (k-means++ style) seeding and the objective-delta iteration stop.
  * The catalog default (first-16 seeds, fixed 1 Lloyd iteration) stays
  * oracle-pinned; these paths must only ever do BETTER on the quantizer
  * objective — and be deterministic, or the engine's replayability story
  * breaks. */
class IvfSeedingSpec extends SparkFunSuite {

  private def objective(iters: Int): Double = {
    val o = Similarity.ivfTop2(spark, sf, iters).filter(col("crk") === 1)
      .agg(avg(col("cs"))).head().getDouble(0)
    CacheScope.releaseAll()
    o
  }

  test("kmeanspp seeding + eps stop: objective >= the default 1-iter path, deterministically") {
    val defaultObj = objective(1)
    var ppObj1 = 0.0
    var ppObj2 = 0.0
    withConf(
      "spark.graft.ivf.seeding" -> "kmeanspp",
      "spark.graft.ivf.objectiveEps" -> "0.0005") {
      ppObj1 = objective(8)
      ppObj2 = objective(8)
    }
    info(f"IVF objective: default-seed 1 iter = $defaultObj%.4f, " +
      f"kmeanspp eps-stop = $ppObj1%.4f")
    assert(ppObj1 === ppObj2, "farthest-point seeding path is not deterministic")
    assert(ppObj1 >= defaultObj,
      f"kmeanspp + eps stop worsened the objective: $ppObj1%.4f < $defaultObj%.4f")
  }

  test("farthest-point seeds are 16 distinct vectors and include vec_id 0") {
    withConf("spark.graft.ivf.seeding" -> "kmeanspp") {
      val top2 = Similarity.ivfTop2(spark, sf, 0)
      val cents = top2.select(col("cent_id")).distinct().collect().map(_.getLong(0)).sorted
      assert(cents.length === 16, s"expected 16 cells, got ${cents.length}")
      assert(cents.contains(0L), "traversal must start at the smallest vec_id")
      // first-16 seeding would give exactly 0..15; the traversal must
      // actually have moved beyond the first block
      assert(cents.toSeq !== (0L until 16L).toSeq,
        "kmeanspp seeding degenerated to the first-16 default")
      CacheScope.releaseAll()
    }
  }

  test("knnIvfPq is pinned to the oracle quantizer regardless of session confs") {
    // the composed query passes explicit seeding/eps into ivfTop2, so
    // flipping the session confs must not move a single row — otherwise
    // q_knn_ivfpq silently diverges from its replayed oracle
    val pinned = Similarity.knnIvfPq(spark, sf).collect().map(_.toString).sorted.toSeq
    CacheScope.releaseAll()
    var underConfs: Seq[String] = Nil
    withConf(
      "spark.graft.ivf.seeding" -> "kmeanspp",
      "spark.graft.ivf.objectiveEps" -> "0.0005") {
      underConfs = Similarity.knnIvfPq(spark, sf).collect().map(_.toString).sorted.toSeq
      CacheScope.releaseAll()
    }
    assert(underConfs === pinned,
      "session spark.graft.ivf.* confs leaked into the composed IVF+PQ query")
  }

  test("catalog default is untouched by the new confs' existence") {
    // the oracle-pinned default path: first-16 seeds, one fixed iteration
    val a = Similarity.knnIvf(spark, sf).collect().map(_.toString).toSeq
    CacheScope.releaseAll()
    val b = Similarity.knnIvf(spark, sf).collect().map(_.toString).toSeq
    CacheScope.releaseAll()
    assert(a === b)
    assert(a.nonEmpty)
  }
}
