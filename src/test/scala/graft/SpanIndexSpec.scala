package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The persisted gram-count index must be a STORAGE change only: span
  * removal served from summed index partials is bit-equal to the scan
  * face's in-query corpus counts, growth is replay-safe (re-delivered
  * batches are no-ops), and conf-gated compaction preserves serving. */
class SpanIndexSpec extends SparkFunSuite {
  private val sf01 = "/root/testdata/sf0.01"

  private def scratch(prefix: String): String =
    TempDirs.scratch(prefix).resolve("grams").toString

  private def docs(d: String): DataFrame =
    spark.read.parquet(s"$d/documents.parquet").select(col("doc_id"), col("text"))

  private def removalRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("index-served removal is bit-equal to the scan face at two SFs") {
    for (d <- Seq(sf, sf01)) {
      val idx = scratch("graft_gramidx_eq_")
      try {
        Dedup.writeGramIndex(spark, d, idx)
        val served = removalRows(Dedup.spanRemovalFromIndex(docs(d), idx, minCut = 50))
        CacheScope.releaseAll()
        val scanned = removalRows(Dedup.spanRemovalOf(spark, docs(d), minCut = 50))
        assert(served === scanned, s"index hop changed the removal result at $d")
      } finally CacheScope.releaseAll()
    }
    // the sf0.01 fixture must actually cut spans, or equality is weak
    val cut = Dedup.spanRemoval(spark, sf01)
      .filter(col("n_spans_cut") > 0).count()
    CacheScope.releaseAll()
    assert(cut > 0, "sf0.01 fixture cut no spans — equality test is vacuous")
  }

  test("index-served span-dedup PROFILE is bit-equal to the scan face at two SFs") {
    for (d <- Seq(sf, sf01)) {
      val idx = scratch("graft_gramidx_prof_")
      try {
        Dedup.writeGramIndex(spark, d, idx)
        val served = removalRows(Dedup.spanDedupFromIndex(docs(d), idx))
        CacheScope.releaseAll()
        val scanned = removalRows(Dedup.spanDedup(spark, d))
        assert(served === scanned, s"index hop changed the dedup profile at $d")
      } finally CacheScope.releaseAll()
    }
    // the sf0.01 fixture must actually contain dup positions, or the
    // profile equality is weak
    val dup = Dedup.spanDedup(spark, sf01)
      .filter(col("n_dup_pos") > 0).count()
    CacheScope.releaseAll()
    assert(dup > 0, "sf0.01 fixture has no dup positions — profile test is vacuous")
  }

  test("unindexed probe docs get their own gram occurrences credited") {
    val idx = scratch("graft_gramidx_probe_")
    try {
      import spark.implicits._
      Dedup.writeGramIndexOf(docs(sf), idx)
      // 60 tokens = the same alien 10-gram six times: every position is
      // a WITHIN-DOC repeat, none of its grams can exist in the index
      val rep = Seq.fill(6)((1 to 10).map(i => s"zqj$i").mkString(" ")).mkString(" ")
      val probe = Seq((999999L, rep)).toDF("doc_id", "text")
      val served = removalRows(Dedup.spanRemovalFromIndex(probe, idx, minCut = 50))
      CacheScope.releaseAll()
      val scanned = removalRows(Dedup.spanRemovalOf(spark, probe, minCut = 50))
      assert(served === scanned,
        "unindexed probe's own repeats were not credited against the index counts")
      val cutRow = Dedup.spanRemovalFromIndex(probe, idx, minCut = 50).collect()(0)
      CacheScope.releaseAll()
      assert(cutRow.getAs[Long]("n_spans_cut") > 0L,
        "probe's internal repeat was not cut — the defensive union is dead")
    } finally CacheScope.releaseAll()
  }

  test("a doc duplicated WITHIN one append batch is counted once") {
    val idxDup = scratch("graft_gramidx_batchdup_")
    val idxClean = scratch("graft_gramidx_batchclean_")
    try {
      val all = docs(sf)
      val base = all.filter(col("doc_id") % 10 < 7)
      val delta = all.filter(col("doc_id") % 10 >= 7)
      Dedup.writeGramIndexOf(base, idxDup)
      Dedup.appendToGramIndex(delta.unionByName(delta), idxDup) // doubled rows
      Dedup.writeGramIndexOf(base, idxClean)
      Dedup.appendToGramIndex(delta, idxClean)
      def digest(p: String): (Long, Long) = {
        val r = spark.read.parquet(p)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum(col("cnt"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      assert(digest(idxDup) === digest(idxClean),
        "a within-batch duplicate doc inflated the index's partial counts")
    } finally CacheScope.releaseAll()
  }

  test("growth: build 70% + append 30% == build 100%; replayed batch is a no-op") {
    val idx = scratch("graft_gramidx_grow_")
    try {
      val all = docs(sf)
      val base = all.filter(col("doc_id") % 10 < 7)
      val delta = all.filter(col("doc_id") % 10 >= 7)
      Dedup.writeGramIndexOf(base, idx)
      Dedup.appendToGramIndex(delta, idx)
      val afterGrow = removalRows(Dedup.spanRemovalFromIndex(all, idx, minCut = 50))
      val rowsAfterGrow = spark.read.parquet(idx).count()
      CacheScope.releaseAll()
      // at-least-once delivery: the SAME batch arrives again
      Dedup.appendToGramIndex(delta, idx)
      val afterReplay = removalRows(Dedup.spanRemovalFromIndex(all, idx, minCut = 50))
      CacheScope.releaseAll()
      assert(afterReplay === afterGrow,
        "replayed append changed the served result — counts double-applied")
      val scanned = removalRows(Dedup.spanRemovalOf(spark, all, minCut = 50))
      assert(afterGrow === scanned, "grown index differs from a fresh full build")
      // the replay really was a no-op at the storage level too
      assert(spark.read.parquet(idx).count() === rowsAfterGrow,
        "replayed append wrote rows into the index")
    } finally CacheScope.releaseAll()
  }

  test("a sidecar-less index fails fast by name; refreshGramTotals recovers it") {
    val idx = scratch("graft_gramidx_totals_")
    try {
      Dedup.writeGramIndexOf(docs(sf), idx)
      val before = removalRows(Dedup.spanRemovalFromIndex(docs(sf), idx, minCut = 50))
      CacheScope.releaseAll()
      // crash-between-append-and-refresh shape: the sidecar is gone
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx + "/_gram_totals"), true)
      val e = intercept[IllegalArgumentException](
        Dedup.spanRemovalFromIndex(docs(sf), idx, minCut = 50))
      assert(e.getMessage.contains("refreshGramTotals"),
        "a sidecar-less index must name the recovery call")
      CacheScope.releaseAll()
      // recovery is ONE idempotent call, and serving is unchanged by it
      Dedup.refreshGramTotals(spark, idx)
      Dedup.refreshGramTotals(spark, idx) // idempotent: twice is a no-op
      val after = removalRows(Dedup.spanRemovalFromIndex(docs(sf), idx, minCut = 50))
      assert(after === before, "refreshGramTotals changed the served result")
    } finally CacheScope.releaseAll()
  }

  test("an unindexed probe doc promotes a stored-once gram to dup (stored=1 + own=1)") {
    // the own-branch guard (stored <= 1) must still PROMOTE: a gram
    // appearing once in the index and once in an unindexed probe doc
    // has corpus total 2 — its position is a dup position for the probe
    import spark.implicits._
    val idx = scratch("graft_gramidx_promote_")
    try {
      val gram = (1 to 10).map(i => s"pm$i").mkString(" ")
      val indexed = Seq((1L, gram), (2L, (1 to 10).map(i => s"zz$i").mkString(" ")))
        .toDF("doc_id", "text")
      Dedup.writeGramIndexOf(indexed, idx)
      val probe = Seq((777L, gram)).toDF("doc_id", "text")
      val row = Dedup.spanDedupFromIndex(probe, idx).collect()(0)
      CacheScope.releaseAll()
      assert(row.getAs[Long]("n_dup_pos") === 1L,
        "stored=1 + own=1 must promote the gram to corpus-repeated")
    } finally CacheScope.releaseAll()
  }

  test("gram_count_explode is bit-equal to the displaced positional groupBy form") {
    // the index build folds per-doc gram counts IN the row (the
    // near-unique-key aggregation it displaced shipped one row per gram
    // position); equivalence is pinned over the fixture corpus PLUS the
    // planted edges: within-doc repeats (cnt > 1), exactly-w tokens,
    // under-w tokens (no rows), empty text, all-identical tokens
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, explode, expr, lit, size, split}
    graft.functions.GramCountExplode.register(spark)
    val planted = Seq(
      (9000001L, Seq.fill(3)((1 to 10).map(i => s"r$i").mkString(" ")).mkString(" ")),
      (9000002L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (9000003L, (1 to 9).map(i => s"u$i").mkString(" ")),
      (9000004L, ""),
      (9000005L, Seq.fill(25)("x").mkString(" ")))
      .toDF("doc_id", "text")
    val corpus = docs(sf).unionByName(planted)
    val toks = corpus.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val viaGen = toks
      .select(col("doc_id"), expr("gram_count_explode(toks, 10)"))
      .collect().map(_.toString).sorted.toSeq
    val displaced = toks
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 10)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, CAST(n AS INT) - 9),
          |  i -> xxhash64(array_join(slice(toks, i, 10), ' ')))""".stripMargin)).as("gh"))
      .groupBy(col("doc_id"), col("gh")).agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("gh"), col("cnt"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaGen === displaced,
      "gram_count_explode diverged from the positional groupBy form")
    // non-vacuous: the all-identical-token doc must fold to cnt = 16
    // (25 - 10 + 1 positions of ONE distinct gram) and the short/empty
    // docs must emit nothing
    assert(viaGen.count(_.contains("9000005")) === 1)
    assert(viaGen.exists(r => r.contains("9000005") && r.endsWith("16]")))
    assert(!viaGen.exists(r => r.contains("9000003") || r.contains("9000004")))
  }

  test("geometry sidecar: serving fails fast when w disagrees") {
    val idx = scratch("graft_gramidx_meta_")
    Dedup.writeGramIndexOf(docs(sf).limit(5), idx)
    // sabotage the stamp to a different width
    operators.PersistedIndex.Gram.writeStamp(spark, idx, "w=7 gh=xxh64")
    val e = intercept[IllegalStateException](
      Dedup.spanRemovalFromIndex(docs(sf).limit(5), idx, minCut = 50))
    assert(e.getMessage.contains("w=7"))
  }

  test("conf-gated compaction bounds per-bucket files, serving unchanged") {
    val idx = scratch("graft_gramidx_compact_")
    try {
      val all = docs(sf)
      Dedup.writeGramIndexOf(all.filter(col("doc_id") % 10 < 5), idx)
      spark.conf.set("spark.graft.index.compactEvery", "2")
      for (m <- 5 to 9)
        Dedup.appendToGramIndex(all.filter(col("doc_id") % 10 === m), idx)
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val maxParts = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("bucket="))
        .map(d => fs.listStatus(d.getPath)
          .count(_.getPath.getName.startsWith("part-"))).max
      assert(maxParts <= 3,
        s"compaction did not bound per-bucket files: $maxParts")
      val served = removalRows(Dedup.spanRemovalFromIndex(all, idx, minCut = 50))
      CacheScope.releaseAll()
      val scanned = removalRows(Dedup.spanRemovalOf(spark, all, minCut = 50))
      assert(served === scanned, "compaction changed the served result")
    } finally {
      spark.conf.unset("spark.graft.index.compactEvery")
      CacheScope.releaseAll()
    }
  }
}
