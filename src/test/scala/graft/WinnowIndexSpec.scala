package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** The persisted winnow-fingerprint index
  * ([[TextAnalysis.writeWinnowIndex]] + serve/grow): probing must be
  * bit-equal to the scan-side [[TextAnalysis.winnowContamination]],
  * must PRUNE bucket partitions to the probe's fingerprint buckets,
  * must refuse a geometry-mismatched session, and growth must be
  * replay-safe. */
class WinnowIndexSpec extends SparkFunSuite {

  private def descend(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children.flatMap(descend) ++ (p match {
      case a: AdaptiveSparkPlanExec => descend(a.executedPlan)
      case q: QueryStageExec        => descend(q.plan)
      case _                        => Nil
    }))

  test("indexed contamination is bit-equal to the scan-side face, both SFs") {
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val direct = TextAnalysis.winnowContamination(spark, d)
        .collect().map(_.toString).toSeq
      val served = TextAnalysis.winnowContaminationIndexed(spark, d)
        .collect().map(_.toString).toSeq
      assert(served === direct, s"at $d")
      assert(direct.nonEmpty, s"fixture degenerate at $d — gate is vacuous")
      CacheScope.releaseAll()
    }
  }

  test("a small probe prunes the index scan to its fingerprint buckets") {
    val path = TempDirs.scratch("graft_winspec1_").resolve("idx").toString
    val docs = Tables.documents(spark, sf)
    TextAnalysis.writeWinnowIndexOf(docs.filter(col("doc_id") % 7 =!= 0), path)
    // one CONTAMINATED eval doc (so the result is non-empty and AQE
    // can't collapse the probe into an EmptyRelation) → few
    // fingerprints → few bucket directories
    val evalId = TextAnalysis.winnowContamination(spark, sf)
      .select(col("eval_id")).limit(1).collect()(0).getLong(0)
    val probe = docs.filter(col("doc_id") === evalId).select(col("doc_id"), col("text"))
    val served = TextAnalysis.contaminationFromIndex(probe, path)
    served.collect()
    val scans = descend(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_winspec1_"))
            && f.schema.fieldNames.contains("fp") => f
    }
    assert(scans.nonEmpty, "no winnow-index scan found:\n" +
      served.queryExecution.executedPlan.toString.take(3000))
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "probe buckets must land on the partition column")
    val prunedDirs = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.values.toString).distinct
    val allBuckets = spark.read.parquet(path).select(col("bucket")).distinct().count()
    assert(prunedDirs.size < allBuckets,
      s"one-doc probe read ${prunedDirs.size} of $allBuckets bucket dirs — no pruning")
    CacheScope.releaseAll()
  }

  test("geometry guard: a (k, w)-mismatched session is refused by name") {
    val path = TempDirs.scratch("graft_winspec2_").resolve("idx").toString
    TextAnalysis.writeWinnowIndex(spark, sf, path)
    spark.conf.set("spark.graft.winnow.window", "4")
    try {
      val e = intercept[IllegalStateException] {
        TextAnalysis.contaminationFromIndex(
          Tables.documents(spark, sf).limit(1).select(col("doc_id"), col("text")), path)
      }
      assert(e.getMessage.contains("spark.graft.winnow.gram"))
      assert(e.getMessage.contains("w=4"))
    } finally spark.conf.unset("spark.graft.winnow.window")
  }

  test("growth: partial index + overlapping append equals a full build; replay no-op") {
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val evalDocs = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))

    val full = TempDirs.scratch("graft_winspec3_").resolve("idx").toString
    TextAnalysis.writeWinnowIndexOf(train, full)
    val fullServe = TextAnalysis.contaminationFromIndex(evalDocs, full)
      .collect().map(_.toString).toSeq
    CacheScope.releaseAll()

    val grown = TempDirs.scratch("graft_winspec4_").resolve("idx").toString
    TextAnalysis.writeWinnowIndexOf(train.filter(col("doc_id") < 300), grown)
    // the append batch overlaps 100 already-indexed docs (200..299),
    // which the replay-safety anti-join must drop
    TextAnalysis.appendToWinnowIndex(
      train.filter(col("doc_id") >= 200).select(col("doc_id"), col("text")), grown)
    assert(TextAnalysis.contaminationFromIndex(evalDocs, grown)
      .collect().map(_.toString).toSeq === fullServe,
      "grown index must serve like a full build")
    CacheScope.releaseAll()
    val n1 = spark.read.parquet(grown).count()
    // replaying the same batch must change nothing
    TextAnalysis.appendToWinnowIndex(
      train.filter(col("doc_id") >= 200).select(col("doc_id"), col("text")), grown)
    assert(spark.read.parquet(grown).count() === n1, "replayed append grew the index")
    CacheScope.releaseAll()
  }

  test("index rows are the collapsed (doc, fp, first_pos) selection") {
    val path = TempDirs.scratch("graft_winspec5_").resolve("idx").toString
    TextAnalysis.writeWinnowIndex(spark, sf, path)
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet === Set("doc_id", "fp", "first_pos", "bucket"))
    assert(idx.groupBy(col("doc_id"), col("fp")).count()
      .filter(col("count") > 1).count() === 0, "index has duplicate (doc, fp) rows")
    val stamp = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, operators.PersistedIndex.StampName)), "UTF-8")
    assert(stamp === "k=5 w=8")
  }
}
