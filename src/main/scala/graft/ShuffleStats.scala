package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Per-query shuffle-byte accounting for the scale smoke — the
  * instrumentation behind NOTES.md's "Per-family shuffle expansion"
  * table.
  *
  * Why it exists: the smoke's 4 MiB/partition sizing target
  * ([[GraftConf.DefaultShuffleTargetBytes]]) was calibrated by A/B on
  * ONE box; a deployment on different hardware re-derives its own
  * target from the measured input-bytes → shuffle-bytes EXPANSION
  * FACTOR of each heavy family — this listener makes that factor a
  * per-round artifact instead of a hand-run estimate.
  *
  * Attribution rides the bench harness's own job groups:
  * [[Bench.measureDetailed]] wraps every rep in a unique
  * `graft-bench-<query>-<seq>` group set on the submitting thread, so
  * every job of the rep — eager build prelude included — lands in that
  * group. Jobs map stages to the group at `onJobStart`
  * (`spark.jobGroup.id` is in the job properties), stage-aggregated
  * task metrics accumulate at `onStageCompleted`. Skipped stages
  * (reused shuffle output) post no completion event and correctly add
  * nothing. Cost: two map updates per stage — free at smoke scale.
  *
  * Reads happen once per measured pass via [[drain]], which snapshots
  * and clears BOTH maps; the listener bus is asynchronous, so callers
  * drain AFTER a short settle (the smoke sleeps 2 s — stage events
  * trail the blocking action by milliseconds, the margin is
  * generosity). A straggler completion arriving after the drain is
  * DROPPED on purpose: its stage→group entry was cleared with the
  * snapshot, and crediting it to the next drain would misattribute one
  * pass's bytes to the other corpus — a small undercount beats a
  * cross-pass smear. */
final class ShuffleStats extends SparkListener {
  import ShuffleStats.Totals

  private val stageGroup =
    scala.collection.concurrent.TrieMap.empty[Int, String]
  private val byGroup =
    scala.collection.concurrent.TrieMap.empty[String, Totals]

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("graft-bench-")).foreach { gr =>
      j.stageInfos.foreach(si => stageGroup.put(si.stageId, gr))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (g <- stageGroup.get(si.stageId); m <- Option(si.taskMetrics)) {
      val t = byGroup.getOrElseUpdate(g, new Totals)
      t.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      t.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Snapshot-and-clear: per QUERY, the LAST completed rep's totals
    * (groups are `graft-bench-<query>-<seq>` with a monotonically
    * increasing seq; the last rep is the warm one — a deterministic
    * catalog query shuffles the same bytes every rep, so any rep would
    * do, and picking one keeps the number a per-rep fact rather than a
    * reps-dependent sum). */
  def drain(): Map[String, Totals] = {
    val snap = byGroup.readOnlySnapshot().toMap
    byGroup.clear()
    stageGroup.clear()
    val Group = """graft-bench-(.+)-(\d+)""".r
    snap.toSeq
      .collect { case (Group(name, seq), t) => (name, seq.toLong, t) }
      .groupBy(_._1)
      .map { case (name, reps) => name -> reps.maxBy(_._2)._3 }
  }
}

object ShuffleStats {
  final class Totals {
    val inputBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleReadBytes = new java.util.concurrent.atomic.AtomicLong(0)
  }

  /** Install on the context; returns the instance to [[ShuffleStats.drain]]. */
  def install(sc: SparkContext): ShuffleStats = {
    val s = new ShuffleStats
    sc.addSparkListener(s)
    s
  }
}
