package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle every persisted index family shares — build once,
  * serve, grow, compact, rebuild on retune — written once. A family is
  * one instance below; it keeps only its payload rows and its serve-side
  * join.
  *
  *  - GEOMETRY STAMP. Stored rows are a function of the family's
  *    geometry (LSH bands×rows, winnow (k, w), the gram width, …): a
  *    reader under another geometry would match nothing, or nonsense.
  *    [[write]] leaves the build's geometry in the `_geometry` sidecar
  *    (underscore-prefixed: a plain parquet read ignores it) and every
  *    serve and grow runs [[check]] first — two Hadoop-FS calls, no
  *    Spark job. A missing stamp is refused like a mismatch: an
  *    unstamped directory is not an index this engine wrote.
  *  - BUILD ONCE. [[served]] is the `_served` catalog faces' standing
  *    artifact behind [[graft.TempDirs.buildOnce]]'s completed-build
  *    marker (`<sub>.done`). Its fingerprint is the input files, then
  *    the geometry, then the caller's build-only knobs (split constants,
  *    the IVF quantizer confs): a retune REBUILDS there, where the
  *    library primitives refuse the stale files on the stamp. Serve-time
  *    dials stay out of it. Build counts are kept per artifact
  *    ([[builds]]).
  *  - GROW. [[grow]] appends a batch replay-safely: ids already present
  *    are anti-joined out (a column-pruned read of the index's id
  *    column), so an at-least-once re-run appends nothing; the layout
  *    picks the write shape and the [[IndexMaintenance]] compaction
  *    recipe (flat: one file per batch, [[IndexMaintenance.maybeCompact]];
  *    partitioned: one file per touched partition per batch,
  *    [[IndexMaintenance.maybeCompactPartitioned]]).
  */
final class PersistedIndex private (
    /** names the family in every refusal */
    val family: String,
    /** scratch-root prefix of the catalog faces' artifacts */
    val prefix: String,
    /** input table the served artifact is built from */
    table: String,
    /** doc/vector id column — the replay anti-join key */
    id: String,
    /** Hive partition column; None = flat (one parquet directory) */
    partitionBy: Option[String],
    /** the confs [[geometry]] reads, quoted in a refusal */
    confKeys: Seq[String],
    geometryOf: SparkSession => String) {

  /** The session's geometry for this family, as stamped. */
  def geometry(s: SparkSession): String = geometryOf(s)

  private def stampPath(path: String) = new Path(path, PersistedIndex.StampName)

  /** Record `g` as the geometry of the index at `path`. */
  private[graft] def writeStamp(s: SparkSession, path: String, g: String): Unit = {
    val p = stampPath(path)
    val out = p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(g.getBytes("UTF-8")) finally out.close()
  }

  /** Refuse the index at `path` unless its stamp equals the session's
    * geometry. */
  def check(s: SparkSession, path: String): Unit = {
    val p = stampPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stored =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    val current = geometry(s)
    if (!stored.contains(current)) throw new IllegalStateException(
      s"$family index at $path was built with geometry " +
        s"[${stored.getOrElse(s"none: no ${PersistedIndex.StampName} stamp")}] " +
        s"but the session gives [$current] — rebuild the index" +
        (if (confKeys.isEmpty) "" else s" or align ${confKeys.mkString(", ")}"))
  }

  /** Overwrite `path` with `rows` in this family's layout, then stamp
    * it. Partitioned callers lay rows out (repartition) themselves. */
  def write(rows: DataFrame, path: String): Unit = {
    val w = rows.write.mode("overwrite")
    partitionBy.fold(w)(c => w.partitionBy(c)).parquet(path)
    writeStamp(rows.sparkSession, path, geometry(rows.sparkSession))
  }

  /** Append `payload` of the batch rows whose ids are not yet in the
    * index, then compact per the layout. `payload` derives the stored
    * rows (with any partition column) from the surviving batch rows;
    * rows sharing an id within ONE batch are the caller's to collapse. */
  def grow(batch: DataFrame, path: String)(payload: DataFrame => DataFrame): Unit = {
    val s = batch.sparkSession
    check(s, path)
    val fresh = batch.join(
      s.read.parquet(path).select(col(id)).distinct(), Seq(id), "left_anti")
    val rows = payload(fresh)
    partitionBy match {
      case None =>
        rows.write.mode("append").parquet(path)
        IndexMaintenance.maybeCompact(s, path)
      case Some(c) =>
        rows.repartition(col(c)) // one new file per touched partition
          .write.mode("append").partitionBy(c).parquet(path)
        IndexMaintenance.maybeCompactPartitioned(s, path)
    }
  }

  private val buildCounts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  /** Builds of the served artifact `sub` in this JVM. */
  def builds(sub: String): AtomicLong =
    buildCounts.computeIfAbsent(sub, _ => new AtomicLong(0))

  /** A session-reused scratch path with `sub` cleared — the
    * per-invocation `_indexed` faces' fresh build target. */
  def fresh(s: SparkSession, d: String, sub: String): String =
    graft.TempDirs.freshUnder(prefix, graft.TempDirs.sessionKey(s, d), sub).toString

  /** Path of the standing artifact `sub` for dataset `d`, running
    * `build` (which must [[write]] its index there) only when the
    * marker is absent or its fingerprint differs. */
  def served(s: SparkSession, d: String, sub: String, extraFp: String = "")
      (build: String => Unit): String = {
    val fp = (Seq(graft.Tables.filesFingerprint(s, d, table), geometry(s)) ++
      Some(extraFp).filter(_.nonEmpty)).mkString("|")
    val (idx, built) = graft.TempDirs.buildOnce(prefix,
      graft.TempDirs.sessionKey(s, d), sub, fp)(p => build(p.toString))
    if (built) builds(sub).incrementAndGet()
    idx.toString
  }
}

object PersistedIndex {
  /** The one geometry sidecar of every family. */
  val StampName = "_geometry"

  /** MinHash band rows `(doc_id, sig, band, bucket)`, flat. */
  val Signature = new PersistedIndex("signature", "graft_sigindex_", "documents",
    "doc_id", None, Seq("spark.graft.lsh.bands", "spark.graft.lsh.rowsPerBand"),
    s => Dedup.lshGeometry(s).toString)

  /** Sign-LSH band rows `(vec_id, band, bucket, embedding)`, flat; the
    * 8 bands of 8 sign bits are engine constants. */
  val VectorBand = new PersistedIndex("vector-band", "graft_vecindex_", "embeddings",
    "vec_id", None, Nil, _ => "bands=8 bits=8")

  /** IVF posting lists `(vec_id, embedding)` by `cell`. The quantizer is
    * stored beside them (`_ivf_centroids`), so any `ivf.*` conf serves
    * them: the geometry is the layout, constant. */
  val Ivf = new PersistedIndex("ivf", "graft_ivfindex_", "embeddings",
    "vec_id", Some("cell"), Nil, _ => "quantizer=_ivf_centroids")

  /** Winnow selections `(doc_id, fp, first_pos)` by `bucket`. */
  val Winnow = new PersistedIndex("winnow", "graft_winnowidx_", "documents",
    "doc_id", Some("bucket"),
    Seq("spark.graft.winnow.gram", "spark.graft.winnow.window"),
    s => s"k=${graft.GraftConf.int(s, "spark.graft.winnow.gram", 5)} " +
      s"w=${graft.GraftConf.int(s, "spark.graft.winnow.window", 8)}")

  /** Per-(gram, doc) counts `(doc_id, gh, cnt)` by `bucket`; the gram
    * width and the 64-bit gram hash are engine constants. */
  val Gram = new PersistedIndex("gram", "graft_gramidx_", "documents",
    "doc_id", Some("bucket"), Nil, _ => s"w=${Dedup.SpanGramWidth} gh=xxh64")

  /** Positional postings `(token, doc_id, dl, tf, positions)` by `bucket`. */
  val Postings = new PersistedIndex("postings", "graft_postings_", "documents",
    "doc_id", Some("bucket"), Nil, _ => s"buckets=${Retrieval.IndexBuckets}")
}
