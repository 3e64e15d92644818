package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The hot-key guard of every keyed fan-out join: the MinHash and
  * sign-LSH band joins (one-shot and ingest), the containment posting
  * join, the winnow fingerprint joins and the span token join.
  *
  * A key shared by m rows emits m²/2 pairs, so one boilerplate key of
  * 10⁶ docs is 5·10¹¹ pairs — the job that never finishes at 100 TB.
  * Each site takes a cap on rows per key (0 = unguarded, what the DuckDB
  * oracle replays) and keeps only its own trade for hot keys: a [[star]]
  * to the group minimum over an exact-identity key (no recall loss on
  * true copies), or dropping them ([[cold]] alone, MOSS's move).
  *
  * ADAPTIVE: [[hotKeys]] is one counting pass plus one limit-1 `isEmpty`
  * probe. Healthy input (no key over the cap) runs the site's exact
  * unguarded plan — SOUND because nothing was excluded — so the steady
  * cost is one counting pass, not the 2.6× of always running the split
  * plan (MinHash join, sf0.1). The hot-key frame holds at most
  * |probe|/cap rows: persisted once, BROADCAST into every join.
  */
object HotKeyJoin {
  val BandKey: Seq[String] = Seq("band", "bucket")

  /** The `keys` with more than `cap` rows in `probe` (persisted, tracked
    * by [[graft.CacheScope]]); None — run the unguarded plan — when
    * `cap <= 0` (no job runs) or when no key is hot. */
  def hotKeys(probe: DataFrame, keys: Seq[String], cap: Long): Option[DataFrame] =
    if (cap <= 0) None
    else {
      val hot = graft.CacheScope.track(
        probe.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
          .filter(col("n") > cap).select(keys.map(col): _*).persist())
      if (hot.isEmpty) None else Some(hot)
    }

  /** `frame` minus its hot-key rows: per-key fan-out ≤ cap. */
  def cold(frame: DataFrame, hot: DataFrame, keys: Seq[String]): DataFrame =
    frame.join(broadcast(hot), keys, "left_anti")

  /** `frame` persisted when the guard is on, so probe and join share one
    * computation; `frame` itself when `cap <= 0`. */
  def pinned(frame: DataFrame, cap: Long): DataFrame =
    if (cap > 0) graft.CacheScope.track(frame.persist()) else frame

  /** Ids hot in all `bands` bands, which no cold band join reaches (an
    * identical group bigger than the cap shares every bucket). */
  def allBandsHot(bandFrame: DataFrame, hot: DataFrame, id: String, bands: Int): DataFrame =
    bandFrame.join(broadcast(hot), BandKey, "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("nh"))
      .filter(col("nh") === bands)
      .select(col(id))

  /** Each `keyed` row with its `keys` group's minimum `id` as `rep`,
    * minus the rep's own row: g − 1 edges for a group of g, not g²/2. */
  def star(keyed: DataFrame, keys: Seq[String], id: String): DataFrame =
    keyed.join(keyed.groupBy(keys.map(col): _*).agg(min(col(id)).as("rep")), keys)
      .filter(col(id) =!= col("rep"))
}
