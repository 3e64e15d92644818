package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Dedup, PersistedIndex, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The persisted-index lifecycle, once per family: every stamped family
  * refuses an unstamped or geometry-mismatched index on serve and on
  * grow, every served artifact rebuilds exactly once when its
  * completed-build marker is gone, and growth is replay-safe. */
class PersistedIndexSpec extends SparkFunSuite {

  private def rows(df: DataFrame): Seq[String] = {
    val r = df.collect().map(_.toString).toSeq
    CacheScope.releaseAll()
    r
  }

  private def docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
  private def vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  /** A family: its index, a build into a path, a serve and a grow. */
  private case class Family(index: PersistedIndex, build: String => Unit,
      serve: String => Unit, grow: String => Unit)

  private lazy val families = Seq(
    Family(PersistedIndex.Signature,
      p => Dedup.writeSignatureIndex(docs.filter(col("doc_id") % 10 < 8), p),
      p => Dedup.dedupBatchAgainstIndex(docs.filter(col("doc_id") % 10 >= 8), p).collect(),
      p => Dedup.appendToSignatureIndex(docs.filter(col("doc_id") % 10 >= 8), p)),
    Family(PersistedIndex.VectorBand,
      p => Similarity.writeVectorBandIndex(vecs.filter(col("vec_id") % 10 < 8), p),
      p => Similarity.nearDupFromVectorIndex(vecs.filter(col("vec_id") % 10 >= 8), p).collect(),
      p => Similarity.appendToVectorBandIndex(vecs.filter(col("vec_id") % 10 >= 8), p)),
    Family(PersistedIndex.Ivf,
      p => Similarity.writeIvfIndex(spark, sf, p),
      p => Similarity.knnFromIvfIndex(vecs.filter(col("vec_id") < 30), p).collect(),
      p => Similarity.appendToIvfIndex(
        vecs.filter(col("vec_id") < 5).select((col("vec_id") + 9000).as("vec_id"),
          col("embedding")), p)),
    Family(PersistedIndex.Winnow,
      p => TextAnalysis.writeWinnowIndexOf(docs.filter(col("doc_id") % 7 =!= 0), p),
      p => TextAnalysis.contaminationFromIndex(docs.filter(col("doc_id") % 7 === 0), p).collect(),
      p => TextAnalysis.appendToWinnowIndex(docs.filter(col("doc_id") % 7 === 0), p)),
    Family(PersistedIndex.Gram,
      p => Dedup.writeGramIndexOf(docs.filter(col("doc_id") % 10 < 7), p),
      p => Dedup.spanRemovalFromIndex(docs, p, minCut = 50).collect(),
      p => Dedup.appendToGramIndex(docs.filter(col("doc_id") % 10 >= 7), p)),
    Family(PersistedIndex.Postings,
      p => Retrieval.writePostingsIndexOf(docs.filter(col("doc_id") % 10 < 7), p),
      p => Retrieval.bm25FromIndex(spark, p).collect(),
      p => Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 10 >= 7), p)))

  /** Both the serve and the grow of `f` over `path` throw; returns the
    * messages, after checking the refused grow wrote nothing. */
  private def refusals(f: Family, path: String): Seq[String] = {
    val before = rows(spark.read.parquet(path)).sorted
    val msgs = Seq(f.serve, f.grow).map(op =>
      intercept[IllegalStateException](op(path)).getMessage)
    assert(rows(spark.read.parquet(path)).sorted === before,
      s"${f.index.family}: a refused grow changed the index")
    msgs
  }

  test("every family refuses an unstamped index by name, on serve and on grow") {
    for (f <- families) {
      val path = TempDirs.scratch("graft_pidx_nostamp_").resolve("idx").toString
      f.build(path)
      f.serve(path) // stamped: served
      CacheScope.releaseAll()
      Files.delete(Paths.get(path, PersistedIndex.StampName))
      for (m <- refusals(f, path)) {
        assert(m.contains(s"${f.index.family} index at $path"), m)
        assert(m.contains(s"no ${PersistedIndex.StampName} stamp"), m)
        assert(m.contains(f.index.geometry(spark)), m)
      }
    }
  }

  test("every family refuses a geometry-mismatched index with both geometries") {
    for (f <- families) {
      val path = TempDirs.scratch("graft_pidx_mismatch_").resolve("idx").toString
      f.build(path)
      f.index.writeStamp(spark, path, "other-geometry")
      for (m <- refusals(f, path)) {
        assert(m.contains(s"${f.index.family} index at $path"), m)
        assert(m.contains("[other-geometry]") && m.contains(s"[${f.index.geometry(spark)}]"), m)
      }
    }
  }

  test("a replayed append leaves the flat signature and vector-band indexes unchanged") {
    val cases = Seq[(String => Unit, String => Unit)](
      (p => Dedup.writeSignatureIndex(docs.filter(col("doc_id") % 10 < 8), p),
        p => Dedup.appendToSignatureIndex(docs.filter(col("doc_id") % 10 >= 8), p)),
      (p => Similarity.writeVectorBandIndex(vecs.filter(col("vec_id") % 10 < 8), p),
        p => Similarity.appendToVectorBandIndex(vecs.filter(col("vec_id") % 10 >= 8), p)))
    for ((build, append) <- cases) {
      val path = TempDirs.scratch("graft_pidx_replay_").resolve("idx").toString
      build(path)
      val base = spark.read.parquet(path).count()
      append(path)
      val once = rows(spark.read.parquet(path)).sorted
      assert(once.size > base, s"the append grew nothing at $path — replay check is vacuous")
      append(path)
      assert(rows(spark.read.parquet(path)).sorted === once,
        s"a replayed append changed the index at $path")
    }
  }

  /** A `_served` artifact: its scratch prefix and sub, its build
    * counter, and a face that serves from it. */
  private case class Served(prefix: String, sub: String, builds: () => Long,
      face: () => DataFrame)

  private lazy val servedArtifacts = Seq(
    Served("graft_postings_", "served_train", () => Retrieval.servedBuilds.get(),
      () => Retrieval.bm25BatchServed(spark, sf)),
    Served("graft_postings_", "served_full", () => Retrieval.fullServedBuilds.get(),
      () => Retrieval.bm25Served(spark, sf)),
    Served("graft_winnowidx_", "served_train", () => TextAnalysis.servedBuilds.get(),
      () => TextAnalysis.winnowContaminationServed(spark, sf)),
    Served("graft_gramidx_", "served_grams", () => Dedup.gramServedBuilds.get(),
      () => Dedup.spanRemovalServed(spark, sf)),
    Served("graft_sigindex_", "served_base", () => Dedup.sigServedBuilds.get(),
      () => Dedup.dedupIncrementalServed(spark, sf)),
    Served("graft_ivfindex_", "served_ivf", () => Similarity.servedBuilds.get(),
      () => Similarity.knnIvfServed(spark, sf)),
    Served("graft_ivfindex_", "served_ivf_scaled", () => Similarity.scaledServedBuilds.get(),
      () => Similarity.knnIvfScaledServed(spark, sf)))

  test("every served artifact rebuilds exactly once after its marker is lost, rows unchanged") {
    for (a <- servedArtifacts) {
      val warm = rows(a.face()) // built by now, whatever ran before
      assert(warm.nonEmpty, s"${a.sub}: empty result — the rebuild check is vacuous")
      val root = TempDirs.scratchFor(a.prefix, TempDirs.sessionKey(spark, sf))
      Files.delete(root.resolve(s"${a.sub}.done"))
      val b0 = a.builds()
      assert(rows(a.face()) === warm, s"${a.sub}: the rebuilt artifact served other rows")
      assert(a.builds() === b0 + 1, s"${a.sub}: a lost marker must force one rebuild")
      rows(a.face())
      assert(a.builds() === b0 + 1, s"${a.sub}: the rebuilt artifact was not served")
    }
  }
}
