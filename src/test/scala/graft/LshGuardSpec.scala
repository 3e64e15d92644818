package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Adversarial hot-bucket fixtures for the conf-gated LSH degenerate-bucket
  * guard (`spark.graft.lsh.maxBucket`) — the input shape that turns an
  * unguarded band join quadratic at 100 TB: one boilerplate bucket of m
  * identical docs emits m²/2 candidate pairs. The guard must (a) bound the
  * join, (b) keep full recall on exact duplicates via the md5-equality star
  * path, (c) leave cold buckets bit-identical, and (d) be a no-op when the
  * cap exceeds every bucket (so the oracle-gated default semantics are
  * provably unchanged).
  */
class LshGuardSpec extends SparkFunSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // 150 identical boilerplate docs (one degenerate bucket in BOTH bands)
  // plus 10 cold identical pairs with distinct vocabularies.
  private lazy val hotCorpus = {
    val boiler = (0L until 150L).map(i =>
      i -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
    val coldPairs = (0 until 10).flatMap { j =>
      val t = s"unique${j}a unique${j}b unique${j}c unique${j}d unique${j}e unique${j}f"
      Seq((1000L + 2 * j) -> t, (1001L + 2 * j) -> t)
    }
    docsDf(boiler ++ coldPairs)
  }

  test("minhash guard: hot bucket collapses to a star, cold pairs survive exactly") {
    val guarded = Dedup.minhashPairsGuarded(hotCorpus, cap = 50).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Int]("matches")))
      .toSet
    // exact-duplicate recall: every boilerplate doc is connected to the
    // group minimum (doc 0) with a full 8/8 match — g−1 star edges, not g²/2
    val starEdges = guarded.filter { case (d1, _, _) => d1 == 0L }
    assert(starEdges === (1L until 150L).map(i => (0L, i, 8)).toSet)
    // no quadratic blowup: nothing else pairs two boilerplate docs
    assert(!guarded.exists { case (d1, d2, _) =>
      d1 > 0L && d1 < 150L && d2 < 150L })
    // cold buckets are untouched: each identical cold pair still emitted 8/8
    for (j <- 0 until 10)
      assert(guarded.contains((1000L + 2 * j, 1001L + 2 * j, 8)),
        s"cold pair $j lost under guard")
    // total bound: g−1 + 10 cold edges vs the unguarded g(g−1)/2 + 10
    assert(guarded.size === 149 + 10)
    val unguarded = Dedup.minhashPairsGuarded(hotCorpus, cap = 0).count()
    assert(unguarded === 150L * 149 / 2 + 10)
  }

  test("minhash guard: cap above every bucket is semantics-identical to unguarded") {
    val docs = Tables.documents(spark, sf)
    def asSet(cap: Int) = Dedup.minhashPairsGuarded(docs, cap).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Int]("matches")))
      .toSet
    val unguarded = asSet(0)
    assert(unguarded.nonEmpty)
    // cap larger than the corpus: no bucket is hot, the guarded plan must
    // produce the exact same pair set (the dropDuplicates formulation vs
    // the minimal-band emission — different plans, same relation)
    assert(asSet(1000000) === unguarded)
  }

  test("incremental guard: delta finds exact dups inside a hot base bucket") {
    // the production ingest shape: the standing index holds a degenerate
    // boilerplate group; an arriving batch must still match its exact
    // duplicates (md5-equality path) without the band join fanning out
    val boilerText = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val base = docsDf((0L until 150L).map(i => i -> boilerText)
      ++ Seq(500L -> "regular500a regular500b regular500c regular500d regular500e"))
    val idx = TempDirs.scratch("graft_guard_idx_").resolve("base").toString
    operators.Dedup.writeSignatureIndex(base, idx)
    val batch = docsDf(Seq(
      9000L -> boilerText,                                              // exact dup of the hot group
      9001L -> "regular500a regular500b regular500c regular500d regular500e", // dup of the cold doc
      9002L -> "fresh9002a fresh9002b fresh9002c fresh9002d fresh9002e"))     // novel
    withConf("spark.graft.lsh.maxBucket" -> "50") {
      val got = operators.Dedup.dedupBatchAgainstIndex(batch, idx).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[java.lang.Long]("matched_base"), r.getAs[Long]("n_base_dups"),
            r.getAs[Boolean]("is_new"))).toMap
      // hot-group dup: canonical match is the group min, ALL 150 counted
      assert(got(9000L) === ((java.lang.Long.valueOf(0L), 150L, false)),
        s"hot exact dup mishandled: ${got(9000L)}")
      // cold near-dup path untouched
      assert(got(9001L) === ((java.lang.Long.valueOf(500L), 1L, false)))
      assert(got(9002L)._3, "novel doc not accepted")
    }
  }

  test("incremental guard: cap above every bucket equals unguarded on the real corpus") {
    val unguarded = Dedup.dedupIncremental(spark, sf).collect().map(_.toString).sorted.toSeq
    CacheScope.releaseAll()
    withConf("spark.graft.lsh.maxBucket" -> "1000000") {
      val big = Dedup.dedupIncremental(spark, sf).collect().map(_.toString).sorted.toSeq
      assert(big === unguarded)
    }
    CacheScope.releaseAll()
  }

  test("sign-LSH guard: identical-vector hot group stars to its min id at sim 1.0") {
    import spark.implicits._
    val dims = 64
    // 120 identical all-positive vectors: one hot bucket in ALL 8 bands.
    val hotVecs = (0L until 120L).map(i => i -> Array.fill(dims)(1.0f))
    // 20 distinct sign patterns (alternating by index) — cold everywhere.
    val coldVecs = (0 until 20).map { j =>
      (1000L + j) -> Array.tabulate(dims)(k =>
        if ((k + j) % (j + 2) == 0) -1.0f else 1.0f)
    }
    val e = (hotVecs ++ coldVecs).toDF("vec_id", "embedding")
    val guarded = Similarity.embedNearDupLshOf(e, cap = 50).collect()
      .map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"), r.getAs[Double]("sim")))
    val stars = guarded.filter(_._1 == 0L).toSet
    assert(stars === (1L until 120L).map(i => (0L, i, 1.0)).toSet)
    // no pair of two non-min hot vectors — the m²/2 blowup is gone
    assert(!guarded.exists(p => p._1 > 0L && p._1 < 120L && p._2 < 120L))
    val unguardedHotPairs = Similarity.embedNearDupLshOf(e, cap = 0)
      .filter(col("v1") < 120 && col("v2") < 120).count()
    assert(unguardedHotPairs === 120L * 119 / 2)
  }

  test("guarded plans stay hash-join only: no nested loop, no cartesian") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    def offenders(p: SparkPlan): Seq[String] = {
      val self = p match {
        case _: BroadcastNestedLoopJoinExec => Seq("BroadcastNestedLoopJoin")
        case _: CartesianProductExec => Seq("CartesianProduct")
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(offenders)
    }
    val g = Dedup.minhashPairsGuarded(hotCorpus, cap = 50)
    g.collect() // finalize AQE so the inspected plan is the executed one
    assert(offenders(g.queryExecution.executedPlan).isEmpty,
      "guard introduced a nested-loop/cartesian join")
  }

  test("vector incremental guard: delta finds exact dups in a hot base bucket") {
    import spark.implicits._
    val dims = 64
    val hotBase = (0L until 150L).map(i => i -> Array.fill(dims)(1.0f))
    val coldBase = (0 until 5).map { j =>
      (500L + j) -> Array.tabulate(dims)(k => if ((k + j) % (j + 2) == 0) -1.0f else 1.0f)
    }
    val base = (hotBase ++ coldBase).toDF("vec_id", "embedding")
    val delta = Seq(
      9000L -> Array.fill(dims)(1.0f),     // exact dup of the hot group
      9001L -> coldBase.head._2,           // dup of a cold base vector
      9002L -> Array.fill(dims)(-1.0f)) // anti-aligned: no bucket, cos < 0
      .toDF("vec_id", "embedding")
    withConf("spark.graft.lsh.maxBucket" -> "50") {
      val got = Similarity.incrementalNearDup(base, delta).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[java.lang.Long]("matched_base"), r.getAs[Long]("n_base_dups"),
            r.getAs[Boolean]("is_new"))).toMap
      assert(got(9000L) === ((java.lang.Long.valueOf(0L), 150L, false)),
        s"hot exact dup mishandled: ${got(9000L)}")
      assert(got(9001L)._1 === 500L && !got(9001L)._3)
      assert(got(9002L)._3, "novel vector not flagged new")
    }
  }

  test("sign-LSH guard: big cap equals unguarded on the real corpus") {
    val e = Tables.embeddings(spark, sf)
    def asSet(cap: Int) = Similarity.embedNearDupLshOf(e, cap).collect()
      .map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"), r.getAs[Double]("sim")))
      .toSet
    val unguarded = asSet(0)
    assert(asSet(1000000) === unguarded)
  }

  test("minhash guard under non-default geometry (4x2): star, cold, cap-noop all hold") {
    // the guard must be geometry-agnostic: re-run the hot-fixture
    // battery with 4 bands x 2 rows (same width 8 — signatures
    // unchanged, banding finer)
    try {
      spark.conf.set("spark.graft.lsh.bands", "4")
      spark.conf.set("spark.graft.lsh.rowsPerBand", "2")
      val guarded = Dedup.minhashPairsGuarded(hotCorpus, cap = 50).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Int]("matches")))
        .toSet
      // identical hot group still stars to its min with a full-width match
      assert(guarded.filter(_._1 == 0L) === (1L until 150L).map(i => (0L, i, 8)).toSet)
      assert(!guarded.exists { case (d1, d2, _) =>
        d1 > 0L && d1 < 150L && d2 < 150L }, "hot group went quadratic")
      for (j <- 0 until 10)
        assert(guarded.contains((1000L + 2 * j, 1001L + 2 * j, 8)),
          s"cold pair $j lost under guard at 4x2")
      // cap above every bucket is still semantics-identical to unguarded
      val unguarded = Dedup.minhashPairsGuarded(hotCorpus, cap = 0).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Int]("matches")))
        .toSet
      val bigCap = Dedup.minhashPairsGuarded(hotCorpus, cap = 1000000).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Int]("matches")))
        .toSet
      assert(bigCap === unguarded)
    } finally {
      spark.conf.unset("spark.graft.lsh.bands")
      spark.conf.unset("spark.graft.lsh.rowsPerBand")
      CacheScope.releaseAll()
    }
  }
}
