package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Dedup, IndexMaintenance}

/** One call into the engine. `key` names the expected result: ops with
  * the same key must return the same rows. */
final case class Op(name: String, kind: String, key: String, call: SparkSession => DataFrame)

/** A workload: its standing set-up and the ops of one pass, in the order
  * they run. The order is fixed, so the first op's cold start falls on the
  * same face in every run. */
trait Workload {
  def setup(s: SparkSession): Map[String, Double] = Map.empty
  def pass(i: Int): Seq[Op]
  /** Documents processed per second of the op time that processed them. */
  def docsPerS(results: Seq[Main.Result]): Double
  /** Checks that need the whole run; returns failed keys with a reason. */
  def finalCheck(s: SparkSession, outputs: Map[String, Seq[String]]): Seq[(String, String)] = Nil
}

object Workloads {
  def face(name: String, data: String, kind: String = "query"): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no catalog face $name"))
    Op(name, kind, name, s => fn(s, data))
  }

  def rowCount(file: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }

  def apply(name: String, data: String, work: Path): Workload = name match {
    case "curate" => new Curate(data)
    case "serve" => new Serve(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The batch document job: the Workers' conversions (PDF, image, audio)
    * and the curation pass over the corpus (BM25, the curation pipeline,
    * contamination and span dedup) — the shuffle-, operator-, kernel- and
    * codec-heavy faces. Every pass processes the whole corpus. */
  final class Curate(data: String) extends Workload {
    val faces = Seq("q_pdf_transforms", "q_image_pipeline", "q_audio_pipeline",
      "q_bm25_batch", "q_curation_pipeline",
      "q_winnow_contamination", "q_span_dedup")
    private lazy val ops = faces.map(face(_, data))
    def pass(i: Int): Seq[Op] = ops
    private lazy val docs = rowCount(s"$data/documents.parquet")
    def docsPerS(results: Seq[Main.Result]): Double =
      Main.ratio(docs.toDouble * results.size / faces.size, results.map(_.wallS).sum)
  }

  /** The interactive mix: persisted-index reads with ingest writes beside
    * them (three reads to one write), plus short relational, events and
    * streaming queries — where planning, pruned scans, per-job cost,
    * stream start/stop and the index lifecycle dominate. Ingest batches
    * grow the benchmark's own signature index. */
  final class Serve(data: String, work: Path) extends Workload {
    val served = "q_dedup_incremental_shard_served"
    val queries = Seq("q1_agg", "q3_shipping", "q6_forecast", "q_events_session",
      "q_stream_dedup")
    private val ingest = Files.list(Path.of(data)).toArray.map(_.toString)
      .filter(_.matches(".*/ingest_\\d+\\.parquet")).sorted.toSeq
    private var setups = 0
    /** The benchmark's signature index: the probe reads it, ingest grows it. */
    var sig = ""
    private var pristine = ""
    private var written = 0

    override def setup(s: SparkSession): Map[String, Double] = {
      setups += 1
      sig = work.resolve(s"index/sig$setups").toString
      val t0 = System.nanoTime()
      Dedup.writeSignatureIndex(docs(s), sig)
      val built = "sig_index" -> (System.nanoTime() - t0) / 1e9
      // the served face builds its standing index on first call
      val t = System.nanoTime()
      SparkEntry.queries(served)(s, data).write.mode("overwrite").format("noop").save()
      Map(built, served -> (System.nanoTime() - t) / 1e9)
    }

    private def docs(s: SparkSession): DataFrame =
      s.read.parquet(s"$data/documents.parquet").select("doc_id", "text")

    /** An untouched copy of the signature index, for the one-shot check. */
    def snapshot(s: SparkSession): Unit = {
      pristine = work.resolve("index/pristine").toString
      Dedup.writeSignatureIndex(docs(s), pristine)
    }

    def pass(i: Int): Seq[Op] = {
      val probe = Op("probe_against_index", "read", "probe",
        s => Dedup.dedupBatchAgainstIndex(s.read.parquet(s"$data/probe.parquet"), sig))
      // a service sees the same reads again and again
      val reads = face(served, data, kind = "read") +: Seq(probe)
      def write() = {
        val b = written % ingest.size
        written += 1
        Op("ingest_grow_index", "write", s"ingest_$b",
          s => Dedup.dedupBatchAndGrowIndex(s.read.parquet(ingest(b)), sig))
      }
      val Seq(q1, q3, q6, events, stream) = queries.map(face(_, data))
      reads ++ Seq(q1, write()) ++ reads ++ Seq(q3, q6, write()) ++ reads ++ Seq(events, stream)
    }

    /** Growing the index batch by batch must give the verdicts of matching
      * every ingested batch at once against the base index: each batch's
      * fresh documents lie in their own character range, so no batch can
      * near-duplicate another. */
    override def finalCheck(s: SparkSession,
        outputs: Map[String, Seq[String]]): Seq[(String, String)] = {
      val keys = outputs.keys.filter(_.startsWith("ingest_")).toSeq.sorted
      if (keys.isEmpty) Nil
      else {
        val batch = keys.map(k => s.read.parquet(ingest(k.stripPrefix("ingest_").toInt)))
          .reduce(_ unionByName _)
        val oneShot = Dedup.dedupBatchAgainstIndex(batch, pristine)
          .collect().map(_.toString).sorted.toSeq
        val streamed = keys.flatMap(outputs).sorted
        if (oneShot == streamed) Nil
        else keys.map(k => k -> (s"grown verdicts differ from the one-shot answer " +
          s"(${streamed.size} vs ${oneShot.size} rows)"))
      }
    }

    /** Documents matched against or added to the signature index per
      * second of the probe and ingest ops. */
    def docsPerS(results: Seq[Main.Result]): Double = {
      val rs = results.filter(r => r.op.key == "probe" || r.op.kind == "write")
      val indexed = rs.filter(_.error.isEmpty).map(r =>
        if (r.op.key == "probe") probeDocs else rowCount(ingest(r.op.key.stripPrefix("ingest_").toInt)))
      Main.ratio(indexed.sum.toDouble, rs.map(_.wallS).sum)
    }
    private lazy val probeDocs = rowCount(s"$data/probe.parquet")

    def partFiles(s: SparkSession): Int = IndexMaintenance.partFileCount(s, sig)
    def docsIndexed(s: SparkSession): Long =
      s.read.parquet(sig).select("doc_id").distinct().count()
  }
}
