package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is executed to a `noop` sink — unlike `count()`, that forces
  * every projected column to actually be computed (count() lets Catalyst
  * prune the expensive expressions away and would flatter the numbers).
  * A tiny warmup action runs first so session/codegen init isn't billed
  * to the first query.
  *
  * Between queries: drop cached blocks and run a GC — round-1 benching
  * showed cross-query pollution (a 2 s projection billed 86 s right after
  * the streaming queries' state-store churn); each timing should charge
  * the query, not its predecessor's garbage.
  *
  * Each query runs SPARK_GRAFT_REPS times (default 3) and reports the
  * MEDIAN — this box has documented steal time (isolated reruns of the
  * same plan span ±2×), and a single-shot number can't distinguish a
  * real regression from noise. The median also absorbs first-run
  * codegen-compile cost.
  *
  * Output: the full one-line JSON (with the per-query map) first, then a
  * SHORT summary line `{"metric","value","unit","sf"}` LAST — the driver
  * captures a bounded stdout tail and the 119-query map outgrew it
  * (round 3's line arrived head-truncated → unparseable); tail capture
  * keeps line ends, so the short final line always survives intact.
  *
  * Beyond the per-query medians the full line carries the
  * steal-adjudication fields (see [[RepTiming]]): `"build"` — the
  * eager-prelude seconds of the median rep per query, which for the
  * `_indexed` faces IS the index-build cost, making the cheap-serving
  * claim a measured artifact; `"rep_detail"` — every rep's
  * build/serve/load/steal, so a future reader can separate box steal
  * from a real regression without re-running; `"load"` — run-level
  * load-average and total steal-seconds stanza.
  *
  * Optional args: query names to bench (default: the whole catalog).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // shuffle partitions default to the CPU count (right for the
    // fixture SFs); scale experiments over larger derived corpora
    // override it the way a cluster would size partitions to data
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      // fixture-scale state geometry: the operator default is the
      // session's shuffle-partition count (the 100 TB-safe value); the
      // harness pins the measured-best fixture count so tiny streams
      // don't spin up a state store per core (see
      // Streaming.scopedStateParts) and the driver's stream timings
      // stay comparable round-over-round
      .config("spark.graft.stream.statePartitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Pipeline mode: dedupClusters publishes its cluster table and
      // dedupRepresentative reuses it — how a real curation run composes
      // the two. Timings stay honest: the producer ALWAYS recomputes
      // (publishing never feeds a query back its own cached result
      // across reps), so q_dedup_clusters bills the full pipeline every
      // rep and q_dedup_representative bills its true marginal cost.
      .config("spark.graft.dedup.shareClusters", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietGlobalWindowWarnings()
    // SPARK_GRAFT_PROFILE=scale benches the deployment preset's plans
    // (semdedup via LSH, LM filter via CMS, guarded band joins, ...) so
    // default-vs-scale cost is a measured artifact, not a claim. The
    // explicit shareClusters conf above still wins over the preset.
    sys.env.get("SPARK_GRAFT_PROFILE").foreach(p =>
      spark.conf.set(GraftConf.ProfileKey, p))
    GraftConf.requireKnown(spark)
    // warmup: session + codegen + parquet reader init
    spark.range(1000).selectExpr("sum(id)").collect()
    val only: Option[Set[String]] = if (args.nonEmpty) Some(args.toSet) else None
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // frames captured during measurement feed writePlans — re-building
    // the top queries cold would re-pay their eager preludes (the CC
    // fixpoint, scratch index writes) just to print plans
    val captured =
      scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    val loadStart = load1m
    val stealStart = stealTicks
    val (detailed, failures) =
      measureDetailed(spark, sfDir, reps, queries, (n, df) => captured(n) = df)
    val loadEnd = load1m
    val stealEnd = stealTicks
    val results = detailed.map { case (n, rs) => n -> medianRep(rs).totalSec }
    def f(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // per-face build/serve split (median-total rep's split, so build +
    // serve = the reported median): "build" = everything EAGER inside
    // the catalog-face invocation — for the `_indexed` faces that is
    // the scratch index write (plus its scalar meta probes); "serve" =
    // executing the returned frame. The production claim of an
    // _indexed face is cheap SERVING against a persisted index — this
    // makes that number a per-round artifact instead of an inference.
    val builds = detailed.map { case (k, rs) => "\"" + k + "\":" + f(medianRep(rs).buildSec) }
      .mkString("{", ",", "}")
    // per-rep raw times + per-rep 1-min load + /proc/stat steal-seconds
    // delta: two reps=3 runs of the same catalog differed 34% in round
    // 14 and adjudication needed manual re-runs — with rep-level times
    // and a steal column, a future reader separates box steal from a
    // real regression without re-running.
    val repDetail = detailed.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(r =>
        s"""{"build":${f(r.buildSec)},"serve":${f(r.serveSec)},""" +
          s""""load1m":${f(r.load1m)},"steal_sec":${f(r.stealSec)}}""")
        .mkString(",") + "]"
    }.mkString("{", ",", "}")
    val loadStanza =
      s"""{"load1m_start":${f(loadStart)},"load1m_end":${f(loadEnd)},""" +
        s""""steal_sec_total":${f(stealSec(stealStart, stealEnd))},"user_hz":100}"""
    val total = results.map(_._2).sum
    // steal-robust companion total: Σ per-query median-of-least-stolen
    // reps under a load ceiling (see stealMinSelect). value stays the
    // median convention; value_stealmin is the number round-over-round
    // closes compare (stealmin-to-stealmin ONLY) without the manual
    // three-run steal adjudication round 18 needed. The ceiling
    // defaults to cpus/4 (load1m above a quarter of the cores means
    // real co-located contention on this box); stealmin_load_flags
    // counts queries whose every min-steal rep ran over it — a nonzero
    // count says parts of the total still carry neighbor noise.
    val loadCeiling = sys.env.get("SPARK_GRAFT_LOAD_CEILING").map(_.toDouble)
      .getOrElse(cpus.toInt / 4.0)
    val stealSel = detailed.map { case (_, rs) => stealMinSelect(rs, loadCeiling) }
    val totalStealMin = stealSel.map(_._1.totalSec).sum
    val stealMinFlags = stealSel.count(_._2)
    val fullLine =
      s"""{"metric":"total","value":${f(total)},"value_stealmin":${f(totalStealMin)},""" +
        s""""stealmin_load_flags":$stealMinFlags,"load_ceiling":${f(loadCeiling)},""" +
        s""""unit":"sec","queries":$qs,""" +
        s""""build":$builds,"rep_detail":$repDetail,"load":$loadStanza,""" +
        s""""sf":"$sfDir","reps":$reps,"failures":${failures.length}}"""
    println(fullLine)
    // The driver's BENCH capture stores only a bounded stdout TAIL, so the
    // per-query map above can be truncated away in the round artifacts —
    // also persist it as a repo file so every query's timing is auditable
    // across rounds (best-effort: an unwritable cwd must not fail the
    // run). FULL runs only: a targeted `runMain graft.Bench q_x q_y`
    // experiment must not clobber the catalog-wide profile.
    if (only.isEmpty) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_full_latest.json"), fullLine + "\n")
      catch { case scala.util.control.NonFatal(_) => () } // fatal errors propagate
      writePlans(spark, results, captured.toMap)
    }
    // short summary LAST: the bounded tail always keeps this line whole
    println(s"""{"metric":"total","value":${f(total)},"value_stealmin":${f(totalStealMin)},"stealmin_load_flags":$stealMinFlags,"unit":"sec","sf":"$sfDir","reps":$reps,"n_queries":${results.size},"failures":${failures.length}}""")
    spark.stop()
  }

  /** Persist formatted physical plans for the TOP queries by measured
    * cost (PLANS_latest.md, full runs only) — the plan-side twin of the
    * BENCH_full profile: a timing regression is visible in the numbers,
    * but a PLAN regression (a lost broadcast, a new exchange, a join
    * strategy flip) is only diffable if the plans are an artifact too.
    * q_stream_* are excluded: their returned frame is a memory-sink
    * read; the cost lives in the stream execution, not that plan. Plans
    * come from the frames the measurement loop already built and
    * executed (AQE-final shapes) — rebuilding the top queries cold
    * would re-pay their eager preludes just to print plans. */
  private def writePlans(
      spark: SparkSession, results: Seq[(String, Double)],
      frames: Map[String, org.apache.spark.sql.DataFrame]): Unit = {
    val top = results.filterNot(_._1.startsWith("q_stream"))
      .sortBy(-_._2).take(10)
    // the `_served` faces are PINNED regardless of rank: they are cheap
    // by design (0.3–3 s) so they rarely reach the top-10, but their
    // partition-pruned plan shape IS the 100 TB serving claim — it must
    // stay diffable round-over-round like the expensive queries' plans.
    // A face that DOES rank top-10 appears in both sections on purpose:
    // the pinned block must never show a face disappearing exactly in
    // the round a serving regression pushed it up the ranks
    val served = results.filter(_._1.endsWith("_served")).sortBy(_._1)
    def section(sb: StringBuilder, name: String, sec: Double): Unit =
      try {
        val plan = frames(name).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        sb.append(s"\n## $name — ${"%.2f".format(sec)} s\n\n```\n$plan```\n")
      } catch { case scala.util.control.NonFatal(e) =>
        sb.append(s"\n## $name — plan unavailable: ${e.getMessage}\n")
      }
    val sb = new StringBuilder
    sb.append("# Formatted physical plans — top bench queries\n\n")
    sb.append("Regenerated by `graft.Bench` on every full run.\n")
    sb.append(s"Top ${top.size} non-streaming queries by median bench seconds; ")
    sb.append("diff across rounds to catch plan regressions the timings hide.\n")
    for ((name, sec) <- top) section(sb, name, sec)
    sb.append("\n# Served faces (pinned)\n\n")
    sb.append("Every `_served` face's plan, whatever its rank: the index\n")
    sb.append("scans must keep their literal partition filters (bucket/cell\n")
    sb.append("IN (...)) — ServedPruningSpec asserts the shape, this section\n")
    sb.append("keeps it diffable.\n")
    for ((name, sec) <- served) section(sb, name, sec)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS_latest.md"), sb.toString)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Times each query (`reps` noop-sink executions, every rep's
    * [[RepTiming]] returned; callers take the median via
    * [[medianRep]]). A failing query is returned in the FAILURES list,
    * never as a timing — a broken query must never look like a fast
    * one.
    *
    * Per-rep TIME CAP (`spark.graft.bench.queryTimeoutSec`, default 900 —
    * generous: the worst healthy catalog query is ~12 s at sf0.1): the
    * round-10 lesson was one mis-planned query burning ~48 minutes of the
    * driver's bench budget, getting the whole run killed at rc 124 and
    * masking two unrelated failures. The action runs on a watchdog thread
    * under a per-query job group; on timeout the group is CANCELLED
    * (interrupting its tasks), the query is recorded as a failure named
    * with its elapsed seconds, and its REMAINING REPS ARE SKIPPED — a
    * query that ate the cap once must not eat it reps more times. */
  private val groupSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** One completed rep's timings. `buildSec` = everything eager inside
    * the catalog-face invocation (for `_indexed` faces: the scratch
    * index write + its scalar meta probes); `serveSec` = executing the
    * returned frame to the noop sink. `load1m` = the box's 1-minute
    * load average sampled at rep start; `stealSec` = the /proc/stat
    * steal-time delta (all CPUs, seconds) across the rep, -1 when the
    * counter is unavailable — the direct answer to "was this rep's
    * wall-clock the query or the box". */
  final case class RepTiming(
      buildSec: Double, serveSec: Double, load1m: Double, stealSec: Double) {
    def totalSec: Double = buildSec + serveSec
  }

  /** The rep whose TOTAL is the median — reported as the query's
    * timing, so the published build/serve split always sums to the
    * published median (independent medians of build and serve need
    * not). */
  private[graft] def medianRep(rs: Seq[RepTiming]): RepTiming = {
    val sorted = rs.sortBy(_.totalSec)
    sorted(sorted.length / 2)
  }

  /** Reps within this many steal-seconds of a query's minimum count as
    * min-steal TIES — sub-tick /proc/stat jitter, not a real steal
    * difference. */
  private[graft] val StealTieEps = 0.05

  /** The rep behind `value_stealmin`, plus whether its selection had to
    * accept an over-load-ceiling rep (the per-query flag the full line
    * counts). Round-over-round comparison on this box needed three
    * same-tree runs spanning 315.9–352.1 s in round 18 just to
    * establish "no regression", because the median absorbs steal when
    * 2 of 3 reps were stolen. Selection: among reps with a steal
    * counter, take the min-steal TIE SET (± [[StealTieEps]]), prefer
    * the reps whose 1-min load average sat at or under `loadCeiling`
    * (steal can read 0 while co-located load still inflates wall — the
    * round-19 driver box ran steal ≈ 0 with load1m 8–11 and several
    * queries 2–3.5× their quiet close), and report the MEDIAN of the
    * surviving pool — never the fastest rep: on an idle box the tie
    * set is ALL reps and the value degenerates to the plain median
    * convention, so stealmin-vs-median comparisons stay honest.
    * `flagged` = every tied rep ran over the ceiling (the pool fell
    * back to loaded reps), so the number may still carry neighbor
    * noise. Reps without a steal counter fall back to the unflagged
    * median. */
  private[graft] def stealMinSelect(
      rs: Seq[RepTiming], loadCeiling: Double): (RepTiming, Boolean) = {
    val measured = rs.filter(_.stealSec >= 0)
    if (measured.isEmpty) (medianRep(rs), false)
    else {
      val minSteal = measured.map(_.stealSec).min
      val tied = measured.filter(_.stealSec <= minSteal + StealTieEps)
      val calm = tied.filter(r => r.load1m >= 0 && r.load1m <= loadCeiling)
      if (calm.nonEmpty) (medianRep(calm), false)
      else (medianRep(tied), tied.exists(_.load1m > loadCeiling))
    }
  }

  /** Silence the per-task "No Partition Defined for Window operation"
    * warning from `o.a.s.sql.execution.window` in the measurement
    * mains: several catalog queries compute GLOBAL scalars through an
    * unpartitioned window ON PURPOSE (funnel conversion, corpus-wide
    * ranks — one-row outputs where single-partition is the plan you
    * want), and at 32 threads × reps × queries the warning repeats
    * thousands of times, burying the one JSON line the driver's
    * bounded stdout tail exists to capture. Scoped to that one logger
    * package — every other Spark WARN still surfaces. */
  private[graft] def quietGlobalWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

  /** 1-minute system load average (-1 when the platform can't say). */
  private def load1m: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative steal ticks from /proc/stat's aggregate cpu line
    * (field 8; USER_HZ=100 on this platform), -1 when unreadable. */
  private def stealTicks: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val fields = src.getLines().next().trim.split("\\s+")
        if (fields.length > 8) fields(8).toLong else -1L
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  private def stealSec(start: Long, end: Long): Double =
    if (start < 0 || end < 0) -1.0 else (end - start) / 100.0

  /** Back-compat façade over [[measureDetailed]]: median total seconds
    * per query (ScaleSmoke and the specs consume this shape). */
  def measure(
      spark: SparkSession, sfDir: String, reps: Int,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      capture: (String, org.apache.spark.sql.DataFrame) => Unit = (_, _) => ())
      : (Seq[(String, Double)], Seq[String]) = {
    val (detailed, failures) = measureDetailed(spark, sfDir, reps, queries, capture)
    (detailed.map { case (n, rs) => n -> medianRep(rs).totalSec }, failures)
  }

  def measureDetailed(
      spark: SparkSession, sfDir: String, reps: Int,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      capture: (String, org.apache.spark.sql.DataFrame) => Unit = (_, _) => ())
      : (Seq[(String, Seq[RepTiming])], Seq[String]) = {
    val timeoutSec = GraftConf.int(spark, "spark.graft.bench.queryTimeoutSec", 900)
    require(timeoutSec > 0, "spark.graft.bench.queryTimeoutSec must be positive")
    // cached pool, not single-thread: a cancelled action that wedges on
    // the way out must not block the next query's submission
    val watchdog = java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "bench-watchdog"); t.setDaemon(true); t
    }
    val attempted = queries.map { case (name, fn) =>
      var timedOut = false
      val times = (1 to reps).flatMap { _ =>
        if (timedOut) None
        else {
          CacheScope.releaseAll()
          spark.catalog.clearCache()
          System.gc()
          val repLoad = load1m
          val repStealStart = stealTicks
          val t0 = System.nanoTime()
          // written from inside the callable the moment the face
          // invocation returns its frame: everything before that point
          // is the eager build prelude, everything after is serving
          val buildNanos = new java.util.concurrent.atomic.AtomicLong(-1L)
          try {
            // unique per attempt: cancelJobGroupAndFutureJobs poisons a
            // group id for the rest of the session, so a reused name must
            // never land in a previously-cancelled group
            val groupId = s"graft-bench-$name-${groupSeq.incrementAndGet()}"
            val task = watchdog.submit(new java.util.concurrent.Callable[
                org.apache.spark.sql.DataFrame] {
              // the job group is thread-local — set it on the thread that
              // actually submits the jobs, so the cancel below reaches them
              def call(): org.apache.spark.sql.DataFrame = {
                spark.sparkContext.setJobGroup(groupId, name, interruptOnCancel = true)
                try {
                  val df = fn(spark, sfDir)
                  buildNanos.set(System.nanoTime() - t0)
                  df.write.mode("overwrite").format("noop").save()
                  df
                } finally spark.sparkContext.clearJobGroup()
              }
            })
            try {
              val df = task.get(timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
              capture(name, df)
              val totalSec = (System.nanoTime() - t0) / 1e9
              val buildSec = math.max(buildNanos.get(), 0L) / 1e9
              Some(RepTiming(buildSec, math.max(totalSec - buildSec, 0.0),
                repLoad, stealSec(repStealStart, stealTicks)))
            } catch {
              case _: java.util.concurrent.TimeoutException =>
                // AndFutureJobs: if the interrupted watchdog thread is
                // wedged in non-interruptible driver code, jobs it submits
                // AFTER this cancel are killed too — cancelJobGroup alone
                // only reaches currently-active jobs
                spark.sparkContext.cancelJobGroupAndFutureJobs(groupId)
                task.cancel(true)
                timedOut = true
                val elapsed = (System.nanoTime() - t0) / 1e9
                System.err.println(
                  f"[bench] $name failed: timed-out-after-$elapsed%.0fs (cap " +
                    s"spark.graft.bench.queryTimeoutSec=$timeoutSec; remaining reps skipped)")
                None
              case e: java.util.concurrent.ExecutionException => throw e.getCause
            }
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
          }
        }
      }
      // reps kept in completion order (rep_detail stays chronological);
      // None only if every rep failed (catalog queries are
      // deterministic, so a partial failure is an environment blip —
      // the completed reps still time the plan). A rep that hit the
      // time cap poisons the query: it reports as a failure even if an
      // earlier rep finished, because a median over fewer-than-asked
      // reps of a query that can also run past the cap is not a number
      // worth trusting.
      name -> (if (times.nonEmpty && !timedOut) Some(times) else None)
    }
    watchdog.shutdownNow()
    (attempted.collect { case (n, Some(t)) => n -> t },
      attempted.collect { case (n, None) => n })
  }
}
