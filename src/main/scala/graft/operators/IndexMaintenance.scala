package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Compaction for the six persisted index families — signature, vector
  * band, IVF, winnow, gram and postings. [[PersistedIndex.grow]] picks
  * the recipe from the index layout: [[maybeCompact]] for the flat
  * signature/vector-band directories, [[maybeCompactPartitioned]] for
  * the Hive-partitioned IVF (`cell=N`), winnow, gram and postings
  * (`bucket=N`) ones.
  *
  * The grow-index micro-batch bodies append ONE parquet file per batch —
  * the right write shape (no read-modify-write of the standing index),
  * but a week of 1-minute batches is ~10k files, and at that point
  * listing + footer decode dominates the O(delta) band match the design
  * bought. The fix is the same one Delta/Iceberg's OPTIMIZE applies:
  * periodically rewrite the accumulated small files into
  * ceil(bytes / targetBytes) right-sized files — one repartition
  * exchange over the index, content-identical by construction.
  *
  * [[maybeCompact]] is the conf-gated hook run after every flat append: `spark.graft.index.compactEvery = N` (default 0 =
  * off; the scale profile sets 64) compacts whenever the part-file count
  * exceeds N, so steady-state file count is bounded by N while
  * compaction cost stays amortized (every N batches, not every batch).
  *
  * Swap protocol (local FS / HDFS rename semantics), designed so the
  * LIVE directory is never the target of an in-progress write and a
  * complete copy exists at every instant:
  *
  *  1. rewrite live → `<path>__compact_tmp` (live untouched);
  *  2. copy sidecars (the `_geometry` stamp) INTO tmp — the
  *     swapped-in dir must be complete before it goes live;
  *  3. rename live → `<path>__compact_old`, rename tmp → live
  *     (restoring old on a failed second rename);
  *  4. delete old.
  *
  * Crash recovery runs at the START of every compact call: a missing
  * live dir with `__compact_old` present (crash between the two swap
  * renames) renames old back; leftover tmp (crash mid-rewrite) and
  * leftover old (crash before the final delete) are safe to drop —
  * in both cases live is complete. Callers that hold DataFrames over
  * the index across a compaction must have materialized them (the
  * grow-index bodies do: results are eagerly lineage-truncated before
  * the append/compact step).
  */
object IndexMaintenance {

  /** part-file count of a parquet directory — the compaction trigger. */
  def partFileCount(s: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.startsWith("part-"))
  }

  /** Conf-gated compaction: when `spark.graft.index.compactEvery` > 0
    * and the index holds more part files than that, rewrite it into
    * ceil(bytes / `spark.graft.index.compactTargetBytes`) files. */
  def maybeCompact(s: SparkSession, path: String): Unit = {
    val every = graft.GraftConf.int(s, "spark.graft.index.compactEvery", 0)
    if (every > 0 && partFileCount(s, path) > every)
      compact(s, path,
        graft.GraftConf.long(s, "spark.graft.index.compactTargetBytes",
          128L * 1024 * 1024))
  }

  /** Rewrite the parquet index at `path` into ceil(bytes/targetBytes)
    * files (at least one). Content-identical; sidecar files (underscore-
    * prefixed, e.g. the geometry stamp) are preserved. */
  def compact(s: SparkSession, path: String, targetBytes: Long): Unit = {
    require(targetBytes > 0, "spark.graft.index.compactTargetBytes must be positive")
    val live = new Path(path)
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__compact_tmp")
    val old = new Path(path + "__compact_old")
    // ---- crash recovery from a previous interrupted compaction ----
    if (!fs.exists(live) && fs.exists(old)) {
      // died between the two swap renames: old IS the index — restore it
      if (!fs.rename(old, live))
        throw new IllegalStateException(s"compaction recovery could not restore $path")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true) // partial rewrite; live is complete
    if (fs.exists(old)) fs.delete(old, true) // completed swap; live is complete
    if (!fs.exists(live)) return
    val parts = fs.listStatus(live).filter(_.getPath.getName.startsWith("part-"))
    if (parts.isEmpty) return
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // rewrite INTO tmp — the live index is never a write target
    s.read.parquet(live.toString).repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    // sidecars (the _geometry stamp) go into tmp BEFORE the swap, so
    // the directory that goes live is complete — a stamp-less index
    // would be refused by every reader
    fs.listStatus(live)
      .filter(f => f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("_SUCCESS"))
      .foreach { f =>
        val in = fs.open(f.getPath)
        val out = fs.create(new Path(tmp, f.getPath.getName), true)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        finally { in.close(); out.close() }
      }
    if (!fs.rename(live, old))
      throw new IllegalStateException(s"compaction could not stage $path")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // restore — the rewrite is abandoned, not the index
      throw new IllegalStateException(s"compaction could not swap in $path")
    }
    fs.delete(old, true)
  }

  // ------------------------------------------------------------------
  // Partition-aware compaction, for indexes laid out as Hive-style
  // partition directories (the postings index's bucket=N, the IVF
  // index's cell=N). [[compact]]'s flat recipe cannot run on the root
  // (its part files live a level down) and must not run per-subdir
  // as-is: its `<dir>__compact_tmp` staging sibling would sit INSIDE
  // the index root, where partition discovery would parse the name as
  // a partition value and flip the column's inferred type mid-rewrite.
  // Here every transient directory lives in `<root>__pcompact_tmp/` /
  // `<root>__pcompact_old/` siblings OUTSIDE the root, so a concurrent
  // plain read never sees a SCHEMA-non-conforming entry (no staging
  // name is ever parsed as a partition value). That is a schema
  // guarantee, NOT read atomicity: between compactSubdir's two renames
  // the bucket directory is absent from the root, so a concurrent
  // serving read would silently return results MISSING that bucket's
  // rows — incomplete answers, not an error. Callers must not serve
  // queries concurrently with a compaction pass (or must tolerate a
  // transiently missing partition); the engine's own call sites run
  // compaction synchronously inside the ingest path, where nothing
  // serves until the append (and its compaction) returns.
  // Crash windows mirror
  // the flat swap: tmp is disposable while live is complete; a crash
  // between the two renames leaves the bucket only under old, which
  // [[recoverPartitioned]] (run at the start of every maybe-call)
  // restores. As with [[compact]], callers holding live frames must
  // have materialized them before compacting.
  // ------------------------------------------------------------------

  /** Conf-gated per-partition compaction: every partition subdirectory
    * holding more than `spark.graft.index.compactEvery` part files is
    * rewritten toward `compactTargetBytes`-sized files. No-op with the
    * conf unset — the same dial as the flat indexes, one decision for
    * the whole index family. */
  def maybeCompactPartitioned(s: SparkSession, path: String): Unit = {
    val every = graft.GraftConf.int(s, "spark.graft.index.compactEvery", 0)
    if (every <= 0) return
    val target = graft.GraftConf.long(
      s, "spark.graft.index.compactTargetBytes", 128L * 1024 * 1024)
    require(target > 0, "spark.graft.index.compactTargetBytes must be positive")
    val live = new Path(path)
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    recoverPartitioned(fs, path)
    if (!fs.exists(live)) return
    fs.listStatus(live)
      .filter(d => d.isDirectory && d.getPath.getName.contains("="))
      .foreach { d =>
        val parts = fs.listStatus(d.getPath)
          .count(_.getPath.getName.startsWith("part-"))
        if (parts > every) compactSubdir(s, fs, path, d.getPath.getName, target)
      }
    fs.delete(new Path(path + "__pcompact_tmp"), true)
    fs.delete(new Path(path + "__pcompact_old"), true)
  }

  /** Restore any partition subdir stranded by a crash between the two
    * swap renames (live missing, old present), then clear leftovers.
    * Idempotent; called before every partitioned compaction pass. */
  private def recoverPartitioned(fs: FileSystem, root: String): Unit = {
    val oldRoot = new Path(root + "__pcompact_old")
    if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).filter(_.isDirectory).foreach { d =>
        val liveDir = new Path(root, d.getPath.getName)
        if (!fs.exists(liveDir) && !fs.rename(d.getPath, liveDir))
          throw new IllegalStateException(
            s"partitioned-compaction recovery could not restore $liveDir")
      }
      fs.delete(oldRoot, true)
    }
    fs.delete(new Path(root + "__pcompact_tmp"), true)
  }

  private def compactSubdir(s: SparkSession, fs: FileSystem, root: String,
      dirName: String, targetBytes: Long): Unit = {
    val live = new Path(root, dirName)
    val tmp = new Path(root + "__pcompact_tmp", dirName)
    val old = new Path(root + "__pcompact_old", dirName)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val parts = fs.listStatus(live).filter(_.getPath.getName.startsWith("part-"))
    if (parts.isEmpty) return
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // the subdir read re-derives the partition value from nothing — it
    // rides the directory name, so the rewrite carries data columns only
    s.read.parquet(live.toString).repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(old.getParent)
    if (!fs.rename(live, old))
      throw new IllegalStateException(s"partitioned compaction could not stage $live")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live)
      throw new IllegalStateException(s"partitioned compaction could not swap in $live")
    }
    fs.delete(old, true)
  }
}
