package graft

import graft.operators.{Dedup, Similarity}

/** The `spark.graft.profile=scale` preset ([[GraftConf]]): one switch
  * that layers the scale-correct conf bundle UNDER any explicitly-set
  * conf. Pinned here: the exact preset key set (a conf silently added
  * to or dropped from the bundle is a product decision, not a drive-by),
  * the explicit-conf-wins layering, fail-fast parsing, and fixture
  * equivalence for every conf whose result-equivalence the preset doc
  * claims (maxBucket on healthy input via the adaptive probe,
  * reliableCheckpoint, shareClusters). `semdedup.lsh` and `lm.cms` are
  * the non-equivalent members — under the profile, semanticDedup must
  * equal the oracle-gated LSH entry (not the exact kernel), and the LM
  * filter's CMS path is bounded one-sided (kept set only grows —
  * pinned in LmDsirSpec). */
class ProfileSpec extends SparkFunSuite {

  private def withProfile(body: => Unit): Unit =
    try {
      spark.conf.set(GraftConf.ProfileKey, "scale")
      body
    } finally {
      spark.conf.unset(GraftConf.ProfileKey)
      Dedup.clearPublishedClusters()
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val r = df.collect().map(_.toString).toSeq
    CacheScope.releaseAll()
    r
  }

  test("the preset flips exactly the documented conf set") {
    assert(GraftConf.scaleDefaults.keySet === Set(
      "spark.graft.lsh.maxBucket",
      "spark.graft.containment.maxDocsPerShingle",
      "spark.graft.semdedup.lsh",
      "spark.graft.dedup.reliableCheckpoint",
      "spark.graft.dedup.shareClusters",
      "spark.graft.dedup.exactCollapse",
      "spark.graft.index.compactEvery",
      "spark.graft.lm.cms",
      "spark.graft.winnow.maxDocsPerFp",
      "spark.graft.winnow.maxSpanMatchesPerPair"),
      "the scale preset's conf bundle changed — update the doc, this " +
        "spec, and NOTES deliberately")
    // band geometry must NOT be in the preset: it is a recall dial, not
    // a safety switch (changing it changes which near-dups are found)
    assert(!GraftConf.scaleDefaults.keys.exists(_.contains("lsh.bands")))
    assert(!GraftConf.scaleDefaults.keys.exists(_.contains("rowsPerBand")))
  }

  test("layering: profile fills unset confs, explicit conf always wins") {
    assert(GraftConf.bool(spark, "spark.graft.dedup.shareClusters", default = false)
      === false, "no profile, no conf: hard default")
    withProfile {
      assert(GraftConf.bool(spark, "spark.graft.dedup.shareClusters", default = false))
      assert(GraftConf.bool(spark, "spark.graft.dedup.reliableCheckpoint", default = false))
      assert(GraftConf.bool(spark, "spark.graft.semdedup.lsh", default = false))
      assert(GraftConf.int(spark, "spark.graft.lsh.maxBucket", 0) === 10000)
      assert(GraftConf.int(spark, "spark.graft.index.compactEvery", 0) === 64)
      // a conf outside the bundle is untouched by the profile
      assert(GraftConf.int(spark, "spark.graft.ivf.nprobe", 2) === 2)
      // explicit conf beats the preset
      try {
        spark.conf.set("spark.graft.lsh.maxBucket", "0")
        assert(GraftConf.int(spark, "spark.graft.lsh.maxBucket", 0) === 0)
      } finally spark.conf.unset("spark.graft.lsh.maxBucket")
    }
  }

  test("fail fast: unknown profile and malformed values name the conf") {
    try {
      spark.conf.set(GraftConf.ProfileKey, "turbo")
      val e = intercept[IllegalArgumentException](
        GraftConf.bool(spark, "spark.graft.semdedup.lsh", default = false))
      assert(e.getMessage.contains(GraftConf.ProfileKey) &&
        e.getMessage.contains("turbo"))
    } finally spark.conf.unset(GraftConf.ProfileKey)
    try {
      spark.conf.set("spark.graft.lsh.maxBucket", "ten")
      val e = intercept[IllegalArgumentException](
        Dedup.dedupMinhash(spark, sf))
      assert(e.getMessage.contains("spark.graft.lsh.maxBucket"),
        s"error must name the conf, got: ${e.getMessage}")
    } finally spark.conf.unset("spark.graft.lsh.maxBucket")
    try {
      spark.conf.set("spark.graft.dedup.shareClusters", "yes")
      val e = intercept[IllegalArgumentException](
        Dedup.dedupClusters(spark, sf))
      assert(e.getMessage.contains("spark.graft.dedup.shareClusters"))
    } finally spark.conf.unset("spark.graft.dedup.shareClusters")
  }

  test("fixture equivalence: profile-on dedup results equal defaults") {
    // healthy fixture (no hot bucket at cap 10000) → the adaptive probe
    // runs the exact unguarded plan; reliableCheckpoint and
    // shareClusters are result-identical by contract. Together these are
    // every equivalence the preset doc claims.
    val minhashOff = rows(Dedup.dedupMinhash(spark, sf))
    val clustersOff = rows(Dedup.dedupClusters(spark, sf))
    val incrementalOff = rows(Dedup.dedupIncremental(spark, sf))
    withProfile {
      assert(rows(Dedup.dedupMinhash(spark, sf)) === minhashOff)
      assert(rows(Dedup.dedupClusters(spark, sf)) === clustersOff)
      assert(rows(Dedup.dedupIncremental(spark, sf)) === incrementalOff)
    }
  }

  test("profile-on semantic dedup takes the gated LSH path") {
    // the one preset member that is NOT result-equivalent: under the
    // profile, semanticDedup must equal the oracle-gated
    // q_semantic_dedup_lsh entry exactly (same pairs, same CC)
    val lshPath = rows(Similarity.semanticDedupLsh(spark, sf))
    withProfile {
      assert(rows(Similarity.semanticDedup(spark, sf)) === lshPath)
    }
  }
}
