package graft.streaming

import graft.Exact.dec
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event for the stateful sessionizer (top-level for the product encoder). */
case class UserEvent(user_id: Long, ts_ms: Long, value: Double)

/** Closed session emitted by the stateful sessionizer. */
case class UserSession(user_id: Long, session_start_ms: Long,
  session_end_ms: Long, n_events: Long, total_value: Double)

/** Mutable session accumulator kept in the state store. */
case class SessionAcc(start: Long, last: Long, n: Long, total: Double)

/** Hand-fed event for the watermark late-drop proof (top-level for the
  * product encoder). */
case class LateEv(event_id: Long, ts: java.sql.Timestamp, value: Double)

/** Event carrying its WATERMARKED timestamp column through to the
  * stateful operator (event-time timeout requires it to survive
  * projection). */
case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Structured Streaming surface of the engine.
  *
  * The reference's "streaming" is SQS polling loops with visibility-timeout
  * redelivery — unordered, at-least-once, windowless (SURVEY.md §2.2). The
  * engine replaces that with event-time Structured Streaming: watermarks,
  * tumbling windows, and stateful stream dedup (exactly-once over an
  * at-least-once transport — the repair for SURVEY.md §A Q4).
  *
  * The two `q_stream_*` driver queries below genuinely execute as streams:
  * a file streaming source reads the events parquet, the aggregation runs
  * through the streaming state store into a memory sink, and the
  * materialized sink table is returned for oracle comparison. Batch twins
  * live in [[graft.operators.EventsOps]] — identical logical plans, so a
  * stream/batch divergence would fail the oracle gate.
  *
  * Scale: micro-batch file sources shard by file; state (window counts,
  * dedup keys) is partitioned by grouping key across executors; watermarks
  * bound state size — at 100 TB/day the dedup state holds only the
  * watermark horizon, not history.
  */
object Streaming {

  /** Footer-probed raw schema of an events parquet plus the
    * ts-normalizing projection for that encoding. The testdata has
    * shipped events.ts as both TIMESTAMP(NANOS) (read as raw longs via
    * nanosAsLong) and naive TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ),
    * and a file streaming source needs the schema pinned up front — so
    * probe the footer with a one-file batch read and pick the matching
    * conversion (see graft.Tables.events for the precision rationale). */
  private def eventsRaw(
      s: SparkSession, path: String): (StructType, DataFrame => DataFrame) = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = s.conf.getOption(key)
    // prior "true" may be an earlier NANOS load's intentional sticky
    // flag — leave it untouched (see graft.Tables.events)
    def restore(): Unit = prior match {
      case Some("true") => ()
      case Some(v)      => s.conf.set(key, v)
      case None         => s.conf.unset(key)
    }
    s.conf.set(key, "true")
    val sch = s.read.parquet(path).schema
    val conv: DataFrame => DataFrame = sch("ts").dataType match {
      case LongType =>
        // NANOS: the conf is re-read at each micro-batch's planning, so it
        // must stay set while this stream runs — sticky on this branch only.
        _.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        restore()
        _.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType =>
        restore()
        identity
      case other =>
        restore()
        throw new IllegalStateException(
          s"events.ts: unsupported parquet timestamp encoding $other — " +
            "expected NANOS(long), MICROS-NTZ, or plain TIMESTAMP")
    }
    (sch, conv)
  }

  /** File streaming source over the events table, nanos → timestamp.
    * The file source wants a directory files arrive in (the realistic
    * landing-zone shape); the single events.parquet is staged into one
    * via symlink. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    // keyed by the SANITIZED FULL PATH, not d.hashCode: hashCode can
    // alias two different sf dirs into one stage (the symlink check below
    // would then thrash between targets under concurrent drivers)
    val stage = Paths.get(sys.props("java.io.tmpdir"),
      "graft_stream_events_" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
    Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    val target = Paths.get(d, "events.parquet")
    // existence alone isn't enough: a hash-colliding (or reused) stage dir
    // could hold a link to a DIFFERENT sf dir — verify the target too
    if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != target)
      Files.delete(link)
    if (!Files.exists(link))
      Files.createSymbolicLink(link, target)
    val (sch, conv) = eventsRaw(s, target.toString)
    conv(s.readStream.schema(sch).parquet(stage.toString))
  }

  /** Tumbling 1-hour counts per event type, with a watermark — the
    * streaming twin of EventsOps.tumbling. */
  def tumblingCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"), 12, 2)).cast("double").as("total_value"))

  /** Stateful streaming dedup on the event key under simulated
    * at-least-once redelivery (the input stream is unioned with a
    * duplicated slice; identical payloads, so any survivor is correct).
    *
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`): with the
    * event-time column absent from the dedup key, plain dropDuplicates
    * never purges its key state — the watermark would bound nothing and
    * state would grow with history. The WithinWatermark form evicts keys
    * once they age past the watermark, so state holds only the redelivery
    * horizon (the visibility-timeout analog), which is what makes this
    * exactly-once repair run indefinitely at 100 TB/day. */
  def dedupStream(stream: DataFrame): DataFrame = {
    val dupes = stream.filter(col("event_id") % 10 === 0)
    stream.union(dupes)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Session windows (10-minute gap) per user AS A STREAM — the streaming
    * twin of EventsOps.session; the state store merges windows as events
    * arrive, the watermark lets closed sessions finalize (and, in append
    * mode, bounds session state). */
  def sessionCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"), 12, 2)).cast("double").as("total_value"))

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * engine's escape hatch when session_window's merge semantics aren't
    * enough (per-session custom accumulators, mid-session triggers, …).
    * Gap-based: an event ≥ gapMs after the previous one closes the open
    * session and emits it; the open session rides in the state store
    * (partitioned by user across executors; at scale its size is bounded
    * by the number of concurrently-open sessions, not history). */
  def sessionizeStateful(ds: Dataset[UserEvent], gapMs: Long): Dataset[UserSession] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[UserEvent], state: GroupState[SessionAcc]) =>
          val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
          var acc = state.getOption.orNull
          events.toSeq.sortBy(e => (e.ts_ms, e.value)).foreach { e =>
            if (acc == null) acc = SessionAcc(e.ts_ms, e.ts_ms, 1L, e.value)
            else if (e.ts_ms - acc.last >= gapMs) {
              closed += UserSession(uid, acc.start, acc.last + gapMs, acc.n, acc.total)
              acc = SessionAcc(e.ts_ms, e.ts_ms, 1L, e.value)
            } else acc = SessionAcc(acc.start, e.ts_ms, acc.n + 1L, acc.total + e.value)
          }
          if (acc != null) state.update(acc)
          closed.iterator
      }
  }

  /** Timeout-closing sessionizer: like [[sessionizeStateful]], but an idle
    * session also closes when the event-time WATERMARK passes its gap
    * horizon (`GroupState.setTimeoutTimestamp(last + gap)`) — the missing
    * piece of NoTimeout sessionization, where a user who never returns
    * holds state forever. At 100 TB/day this is what bounds session-store
    * size to the active-user set. Requires a watermark on the input. */
  def sessionizeEventTimeout(ds: Dataset[TimedEvent], gapMs: Long): Dataset[UserSession] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, events: Iterator[TimedEvent], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val acc = state.get
            state.remove()
            Iterator.single(UserSession(uid, acc.start, acc.last + gapMs, acc.n, acc.total))
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
            var acc = state.getOption.orNull
            events.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
              val ms = e.ts.getTime
              if (acc == null) acc = SessionAcc(ms, ms, 1L, e.value)
              else if (ms - acc.last >= gapMs) {
                closed += UserSession(uid, acc.start, acc.last + gapMs, acc.n, acc.total)
                acc = SessionAcc(ms, ms, 1L, e.value)
              } else acc = SessionAcc(acc.start, ms, acc.n + 1L, acc.total + e.value)
            }
            if (acc != null) {
              state.update(acc)
              state.setTimeoutTimestamp(acc.last + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Driver query: the timeout sessionizer over the event stream. Output =
    * every gap-closed session PLUS idle sessions whose gap horizon the
    * final watermark passed; only sessions still inside the horizon stay
    * open. The oracle replays exactly that split. */
  def streamSessionTimeout(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, d)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"),
        round(col("value") * 100).as("value"))
      .as[TimedEvent]
    val sessions = sessionizeEventTimeout(stream, gapMs = 600000L).toDF()
    val res = runToMemory(s, sessions, "graft_stream_session_timeout", "append")
    res.select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), (col("total_value") / 100.0).as("total_value"))
      .orderBy(col("user_id"), col("session_start_ms"))
  }

  /** Scope `spark.sql.shuffle.partitions` to a streaming query START:
    * the state-partition count is pinned into the checkpoint at query
    * start, and at fixture volume the session's 32 means 32 state-store
    * instances (64 for stream-stream joins) doing fixed-cost work per
    * micro-batch. The per-face precedents (late_drop's 2, the four
    * stream-stream joins' old 8) generalize here behind
    * `spark.graft.stream.statePartitions` — results are partition-count
    * independent; a production deployment sizes it to its executor
    * count exactly like every other state geometry dial.
    *
    * The DEFAULT is the session's `spark.sql.shuffle.partitions`, not
    * a constant and not `defaultParallelism`: a 100 TB stream started
    * without the conf would otherwise bottleneck every stateful
    * operator on 8 state stores for the life of its checkpoint, and
    * under dynamic allocation `defaultParallelism` can read 2 when the
    * query first starts. Whatever value resolves is CAPTURED AT FIRST
    * START — it is frozen into the checkpoint, and later conf changes
    * do not re-partition existing state. The fixture entry points
    * (Bench, Verify) pin the conf to 8 explicitly — the measured-best
    * count at fixture volume, and the value that keeps driver bench
    * numbers comparable round-over-round — so small-scale timing floors
    * live in the harness, never in the operator default. (Measured at
    * sf0.1/local[32]: 2 vs 8 state partitions is timing-neutral; the
    * family's fixed cost is query start/stop + per-batch planning, not
    * state-store count.) */
  /** The resolved state-partition count ([[scopedStateParts]]'s value;
    * seam for the spec that pins the scale-safe default). */
  private[graft] def resolvedStatePartitions(s: SparkSession): Int =
    graft.GraftConf.int(s, "spark.graft.stream.statePartitions",
      s.conf.get("spark.sql.shuffle.partitions").toInt)

  private def scopedStateParts[A](s: SparkSession)(body: => A): A = {
    val n = resolvedStatePartitions(s)
    require(n >= 1, "spark.graft.stream.statePartitions must be >= 1")
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the materialized result (synchronous: processAllAvailable). */
  def runToMemory(s: SparkSession, streamed: DataFrame, name: String,
      mode: String): DataFrame = {
    s.catalog.dropTempView(name)
    val q = scopedStateParts(s) {
      streamed.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    }
    try q.processAllAvailable()
    finally q.stop()
    s.table(name)
  }

  /** Sliding (hopping) windows AS A STREAM: 1-hour windows every 30
    * minutes, each event contributing to two windows' state — the
    * overlap is what distinguishes the state layout from tumbling
    * (2× window-state entries, same watermark eviction). Oracle is the
    * batch q_events_sliding SQL verbatim: stream/batch equivalence. */
  def streamSliding(s: SparkSession, d: String): DataFrame = {
    val res = runToMemory(s,
      eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n")),
      "graft_stream_sliding", "complete")
    res.select(
        unix_millis(col("w.start")).as("window_start_ms"),
        unix_millis(col("w.end")).as("window_end_ms"),
        col("event_type"), col("n"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }

  /** Trigger.AvailableNow catch-up: the SAME streaming pipeline run as a
    * self-terminating batch job — it drains everything currently in the
    * source across (rate-limited) micro-batches with full streaming
    * semantics (watermarks, state, checkpointed exactly-once), then
    * stops on its own. This is the backfill/nightly-catch-up pattern:
    * one pipeline definition serves both the live 24/7 query and the
    * scheduled drain, instead of a batch rewrite that would drift from
    * the streaming logic. (Unlike the deprecated Trigger.Once, source
    * rate limits like maxFilesPerTrigger are honored, so a 100 TB
    * backlog drains in bounded micro-batches rather than one giant
    * planner-breaking batch.) Result is identical to the live tumbling
    * query — the oracle is shared. */
  def streamAvailableNow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = "graft_stream_availablenow"
    s.catalog.dropTempView(name)
    val q = scopedStateParts(s) {
      tumblingCounts(eventsStream(s, d)).writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination() // AvailableNow terminates itself when drained
    finally q.stop()
    s.table(name).select(
        unix_millis(col("w.start")).as("window_start_ms"),
        unix_millis(col("w.end")).as("window_end_ms"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }

  /** Checkpoint-restart exactly-once PROOF — the failure-recovery twin of
    * the reference's visibility-timeout redelivery (SURVEY §A Q4), here
    * exercised as an engine guarantee rather than spec'd config:
    *
    *  1. events are staged as 6 files; a checkpointed query (RocksDB
    *     state store, parquet sink, 1 file per micro-batch) starts
    *     draining them and is STOPPED mid-stream after ≥2 commits —
    *     possibly killing an in-flight batch;
    *  2. a duplicate slice (`event_id % 10 == 0` — re-delivery of rows
    *     whose ids are already in the dedup state) lands as NEW files
    *     after the crash;
    *  3. a new query starts from the SAME checkpoint and drains.
    *
    * The final sink (read through `_spark_metadata`, i.e. committed
    * files only) must equal the batch answer exactly: a replayed
    * already-committed batch would double rows, lost RocksDB dedup
    * state would let the redelivered slice through, a dropped batch
    * would leave gaps — each failure mode breaks the oracle hash. The
    * watermark delay exceeds the corpus's 30-day span so no row is
    * "late" whatever file order the source picks; state stays ~|events|
    * keys, which is exactly what the WithinWatermark eviction bounds in
    * the 24/7 variant ([[dedupStream]]). */
  def streamRestart(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Paths
    val prevNanos = s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // fresh dirs per invocation: the restart must recover from the
    // CHECKPOINT, never from leftovers of a previous run; the root is
    // registered for JVM-exit deletion (three bench reps per run used to
    // leave three landing+sink+RocksDB trees behind)
    val root = graft.TempDirs.scratch("graft_stream_restart")
    val landing = root.resolve("in").toString
    val sinkDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val (sch, conv) = eventsRaw(s, Paths.get(d, "events.parquet").toString)
    val raw = s.read.schema(sch)
      .parquet(Paths.get(d, "events.parquet").toString)
    raw.repartitionByRange(6, col("event_id"))
      .write.mode("append").parquet(landing)
    // 2 files/trigger: 6 landing files = batches 0..2, so the ≥2-commit
    // kill window still has a batch left to crash out of, at half the
    // trigger count of the 1-file-per-trigger original (bench time)
    def start() = conv(s.readStream.schema(sch)
      .option("maxFilesPerTrigger", "2").parquet(landing))
      .withWatermark("ts", "768 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .start()
    val prevProvider =
      s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q1 = scopedStateParts(s)(start())
      // let at least batches 0 and 1 commit, then kill the query mid-run
      val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
      while (Option(q1.lastProgress).forall(_.batchId < 1) &&
          System.nanoTime < deadline)
        Thread.sleep(25)
      q1.stop()
      // redelivery arrives AFTER the crash, as new files
      raw.filter(col("event_id") % 10 === 0)
        .repartition(2).write.mode("append").parquet(landing)
      val q2 = scopedStateParts(s)(start())
      try q2.processAllAvailable()
      finally q2.stop()
    } finally {
      prevProvider match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      // the streaming reads (which need nanosAsLong for the raw-nanos
      // landing files) all happened inside this block; the sink read
      // below is plain micros parquet, so the conf can be restored here
      prevNanos match {
        case Some(v) => s.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None => s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
    }
    s.read.parquet(sinkDir)
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Driver query: tumbling window agg executed AS A STREAM (complete
    * mode), surfaced with epoch-ms window bounds for the oracle. */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    val res = runToMemory(s, tumblingCounts(eventsStream(s, d)),
      "graft_stream_tumbling", "complete")
    res.select(
        unix_millis(col("w.start")).as("window_start_ms"),
        unix_millis(col("w.end")).as("window_end_ms"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }

  /** Driver query: stateful stream dedup (append mode), one row per
    * event_id regardless of redelivery. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val res = runToMemory(s, dedupStream(eventsStream(s, d)),
      "graft_stream_dedup", "append")
    res.select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Driver query: session windows executed AS A STREAM (complete mode),
    * oracle = the batch q_events_session SQL — stream/batch session-merge
    * equivalence is the test. */
  def streamSession(s: SparkSession, d: String): DataFrame = {
    val res = runToMemory(s, sessionCounts(eventsStream(s, d)),
      "graft_stream_session", "complete")
    res.select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start_ms"))
  }

  /** Driver query: PROOF that the watermark drops late data. Three
    * hand-fed micro-batches (MemoryStream, so batch boundaries are exact):
    * batch 1 advances the watermark to 10:30, batch 2 carries a 09:00 row
    * that is now LATE (dropped pre-aggregation) plus an on-time 11:30 row,
    * batch 3 is a far-future sentinel whose watermark advance finalizes
    * every real window (its own window stays open and is therefore never
    * emitted in append mode). The oracle pins the exact surviving windows —
    * if the engine failed to drop the late row, an extra 09:00 window
    * would appear and the gate would fail. */
  def streamLateDrop(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val H = 3600000L
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC
    def ev(id: Long, ms: Long, v: Double) =
      LateEv(id, new java.sql.Timestamp(ms), v)
    val ms = MemoryStream[LateEv]
    val agg = ms.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"), 12, 2)).cast("double").as("total_value"))
    val name = "graft_stream_late_drop"
    s.catalog.dropTempView(name)
    // 5 hand-fed rows across 3 micro-batches: the default 32 shuffle
    // partitions would spin up 32 state-store instances per batch for
    // nothing — the state-partition count is fixed at query start, so
    // scope a small value to this query only.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    val q =
      try agg.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    try {
      ms.addData(ev(1, base + 10 * H, 1.5), ev(2, base + 11 * H, 2.5))
      q.processAllAvailable() // watermark -> 10:30
      ms.addData(ev(3, base + 9 * H, 100.0), // LATE: below the watermark
        ev(4, base + 11 * H + 30 * 60000L, 3.25))
      q.processAllAvailable()
      ms.addData(ev(5, base + 23 * H, 0.0)) // sentinel: finalize everything
      q.processAllAvailable()
    } finally q.stop()
    s.table(name)
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("n"), col("total_value"))
      .orderBy(col("window_start_ms"))
  }

  /** Driver query: the CUSTOM stateful sessionizer (flatMapGroupsWithState)
    * run over the event stream. Values are fed as exact cents so the
    * per-session running sum is order-independent integer arithmetic in
    * doubles (no FP-summation-order divergence vs the oracle's decimal
    * sum). Only CLOSED sessions emit — each user's final session is still
    * open in the state store when the stream drains, and the oracle
    * excludes exactly those — which is itself the semantic proof that
    * sessions close on gap, not on end-of-input. */
  def streamSessionStateful(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        round(col("value") * 100).as("value"))
      .as[UserEvent]
    val sessions = sessionizeStateful(stream, gapMs = 600000L).toDF()
    val res = runToMemory(s, sessions, "graft_stream_session_stateful", "append")
    res.select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), (col("total_value") / 100.0).as("total_value"))
      .orderBy(col("user_id"), col("session_start_ms"))
  }

  /** Stream-static join: the streaming events join a static dimension
    * (event-type weights) broadcast to every micro-batch — the standard
    * enrichment topology (stream fact ⋈ slowly-changing dim). */
  def streamStaticJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weights = Seq(
      ("click", 1L), ("view", 1L), ("purchase", 5L), ("signup", 3L), ("error", 0L)
    ).toDF("event_type", "weight")
    val joined = eventsStream(s, d)
      .join(org.apache.spark.sql.functions.broadcast(weights), Seq("event_type"))
      .groupBy(col("event_type"), col("weight"))
      .agg(count(lit(1)).as("n"))
    val res = runToMemory(s, joined, "graft_stream_static", "complete")
    res.select(col("event_type"), col("n"),
        (col("n") * col("weight")).as("weighted"))
      .orderBy(col("event_type"))
  }

  /** STREAM-STREAM inner join with watermarks and an event-time range
    * condition — the attribution topology (purchase within 10 minutes of a
    * click by the same user), and the one join shape the state store has to
    * mediate from BOTH sides. The watermarks + the time-range predicate are
    * what let Spark evict join state: a click older than watermark−10min
    * can never match a future purchase, so its state is dropped — without
    * them, both sides' state grows with history and a 100 TB/day stream
    * eventually OOMs. Two independent file-stream readers feed the join;
    * state is hash-partitioned by user_id across executors. */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user AND
             |purchase_ts >= click_ts AND
             |purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin))
    // State-partition geometry comes from scopedStateParts inside
    // runToMemory (spark.graft.stream.statePartitions) — the per-face
    // shuffle-partition override that used to sit here was masked by it.
    val res = runToMemory(s, joined, "graft_stream_stream_join", "append")
    res.select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        unix_millis(col("purchase_ts")).as("purchase_ms"), col("value"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** Stream-stream LEFT OUTER join: unlike the inner form, an unmatched
    * left row can only emit once the WATERMARK proves no future match can
    * arrive (its join window has expired) — the null-extended output is
    * produced by state eviction, not by matching. Spark runs a no-data
    * micro-batch after the last data batch so the final watermark advance
    * flushes expired state; clicks whose 10-minute window is still inside
    * the final watermark horizon remain open and never emit — the oracle
    * replays exactly that cutoff (global watermark = min of the two
    * sides' max event times, 0s delay). */
  def streamStreamLeftJoin(s: SparkSession, d: String): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "0 seconds")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "0 seconds")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user AND
             |purchase_ts >= click_ts AND
             |purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin),
      "left_outer")
    val res = runToMemory(s, joined, "graft_stream_stream_left", "append")
    res.select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        unix_millis(col("purchase_ts")).as("purchase_ms"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** Stream-stream FULL OUTER join: null-extension on BOTH sides, each
    * produced by its own state-eviction rule. The two sides expire at
    * different horizons because the time-interval condition is asymmetric:
    * a click can match purchases in [click_ts, click_ts+10min], so an
    * unmatched click emits only once the watermark passes click_ts+10min;
    * a purchase can match clicks in [purchase_ts−10min, purchase_ts], and
    * any future click below the watermark is dropped as late, so an
    * unmatched purchase emits once the watermark passes purchase_ts
    * itself. The oracle replays both cutoffs against the final global
    * watermark (min of the two sides' max event times, 0s delay) — rows
    * still inside their horizon stay open in the store and never emit. */
  def streamStreamFullJoin(s: SparkSession, d: String): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "0 seconds")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "0 seconds")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user AND
             |purchase_ts >= click_ts AND
             |purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin),
      "full_outer")
    val res = runToMemory(s, joined, "graft_stream_stream_full", "append")
    // user_id comes from the CLICK side — null for unmatched purchases;
    // p_user carries the purchase's user so no output row loses its key
    res.select(col("click_id"), col("purchase_id"),
        col("user_id"), col("p_user"),
        unix_millis(col("click_ts")).as("click_ms"),
        unix_millis(col("purchase_ts")).as("purchase_ms"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** Time-interval LEFT join with NON-ZERO watermark delays (clicks 30 s,
    * purchases 2 min — per-side delays, the realistic configuration where
    * the two feeds have different lateness SLAs). The global watermark is
    * min(max click_ts − 30 s, max purchase_ts − 2 min): delays shift the
    * eviction horizon, so strictly MORE clicks stay open than in the 0 s
    * variant ([[streamStreamLeftJoin]]) — the oracle replays the shifted
    * cutoff, which is exactly what a wrong delay handling would break.
    * Matches are unaffected (single data micro-batch, then the no-data
    * batch advances the watermark and flushes expired state). */
  def streamStreamLeftDelayed(s: SparkSession, d: String): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "30 seconds")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "2 minutes")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user AND
             |purchase_ts >= click_ts AND
             |purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin),
      "left_outer")
    val res =
      runToMemory(s, joined, "graft_stream_stream_left_delay", "append")
    res.select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        unix_millis(col("purchase_ts")).as("purchase_ms"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** foreachBatch sink: each micro-batch is handed to arbitrary batch
    * writer code (here: parquet appends into a landing dir — the idiom for
    * sinks Structured Streaming doesn't speak natively, the engine analog
    * of the reference's per-job S3 result upload). The landing dir is then
    * read back and aggregated; oracle = the same aggregation on the
    * source table, so lost/duplicated batches would fail the gate. */
  def streamForeachBatch(s: SparkSession, d: String): DataFrame = {
    // Per-invocation scratch dir (TempDirs), not a hashCode-keyed fixed
    // path: two concurrent drivers on the same data dir would append into
    // one landing dir and double-count the aggregate.
    val out = graft.TempDirs.scratch("graft_febatch_").toString
    val q = eventsStream(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"), 12, 2)).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumbling" -> (streamTumbling _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_session" -> (streamSession _),
    "q_stream_session_stateful" -> (streamSessionStateful _),
    "q_stream_session_timeout" -> (streamSessionTimeout _),
    "q_stream_late_drop" -> (streamLateDrop _),
    "q_stream_static_join" -> (streamStaticJoin _),
    "q_stream_stream_join" -> (streamStreamJoin _),
    "q_stream_stream_left" -> (streamStreamLeftJoin _),
    "q_stream_stream_full" -> (streamStreamFullJoin _),
    "q_stream_stream_left_delay" -> (streamStreamLeftDelayed _),
    "q_stream_foreachbatch" -> (streamForeachBatch _),
    "q_stream_availablenow" -> (streamAvailableNow _),
    "q_stream_sliding" -> (streamSliding _),
    "q_stream_restart" -> (streamRestart _)
  )

  val oracle: Map[String, String] = Map(
    // identical to the batch twin — stream/batch equivalence is the test
    "q_stream_tumbling" -> graft.operators.EventsOps.tumblingOracle,

    // AvailableNow drains to the same answer as the live stream/batch
    "q_stream_availablenow" -> graft.operators.EventsOps.tumblingOracle,

    // the batch sliding-window SQL verbatim
    "q_stream_sliding" -> graft.operators.EventsOps.oracle("q_events_sliding"),

    // the batch session SQL verbatim: stream/batch session-merge equivalence
    "q_stream_session" -> graft.operators.EventsOps.oracle("q_events_session"),

    // batch gap-sessions minus each user's LAST session (still open in the
    // state store when the stream drains — closed-only emission)
    "q_stream_session_stateful" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
        |o AS (
        |  SELECT user_id, ms, value,
        |    LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |  FROM e),
        |f AS (
        |  SELECT user_id, ms, value,
        |    CASE WHEN prev IS NULL OR ms - prev >= 600000 THEN 1 ELSE 0 END AS new_s
        |  FROM o),
        |g AS (
        |  SELECT user_id, ms, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id,
        |    MIN(ms) AS session_start_ms,
        |    MAX(ms) + 600000 AS session_end_ms,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY MIN(ms) DESC) AS rk
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, session_start_ms, session_end_ms, n_events, total_value
        |FROM sess WHERE rk > 1
        |ORDER BY user_id, session_start_ms""".stripMargin,

    // gap-closed sessions PLUS idle sessions the final watermark
    // (max event ts, 0s delay) timed out; only the within-horizon tail
    // stays open
    "q_stream_session_timeout" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
        |o AS (
        |  SELECT user_id, ms, value,
        |    LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |  FROM e),
        |f AS (
        |  SELECT user_id, ms, value,
        |    CASE WHEN prev IS NULL OR ms - prev >= 600000 THEN 1 ELSE 0 END AS new_s
        |  FROM o),
        |g AS (
        |  SELECT user_id, ms, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |sess AS (
        |  SELECT user_id,
        |    MIN(ms) AS session_start_ms,
        |    MAX(ms) + 600000 AS session_end_ms,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY MIN(ms) DESC) AS rk
        |  FROM g GROUP BY user_id, sid),
        |wm AS (SELECT MAX(epoch_ms(ts)) AS maxts FROM events)
        |SELECT user_id, session_start_ms, session_end_ms, n_events, total_value
        |FROM sess, wm WHERE rk > 1 OR session_end_ms < maxts
        |ORDER BY user_id, session_start_ms""".stripMargin,

    // the exact windows that survive the watermark (see streamLateDrop):
    // an undropped 09:00 row would add a fourth window and fail the gate
    "q_stream_late_drop" ->
      """SELECT * FROM (VALUES
        |  (CAST(1704103200000 AS BIGINT), CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  (CAST(1704106800000 AS BIGINT), CAST(1 AS BIGINT), CAST(2.5 AS DOUBLE)),
        |  (CAST(1704108600000 AS BIGINT), CAST(1 AS BIGINT), CAST(3.25 AS DOUBLE)))
        |  AS t(window_start_ms, n, total_value)
        |ORDER BY window_start_ms""".stripMargin,

    "q_stream_dedup" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // crash + redelivery + restart must land on exactly the batch table:
    // a replayed batch doubles rows, lost state admits the redelivered
    // slice, a dropped batch leaves gaps — all three break this hash
    "q_stream_restart" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_stream_static_join" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(*) * (CASE event_type
        |    WHEN 'click' THEN 1 WHEN 'view' THEN 1 WHEN 'purchase' THEN 5
        |    WHEN 'signup' THEN 3 ELSE 0 END) AS weighted
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // batch twin of the stream-stream join: same users, same 10-minute
    // attribution window — stream/batch equivalence is the test (inner
    // join, complete input ⇒ watermark eviction must not lose a match)
    "q_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  epoch_ms(c.ts) AS click_ms, epoch_ms(p.ts) AS purchase_ms, p.value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.user_id = c.user_id
        |  AND epoch_ms(p.ts) >= epoch_ms(c.ts)
        |  AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 600000
        |ORDER BY click_id, purchase_id""".stripMargin,

    // inner matches UNION ALL watermark-expired unmatched clicks; a click
    // whose window is still inside the final watermark horizon stays open
    // (NULLS FIRST pins DuckDB's sort to Spark's asc-nulls-first default)
    "q_stream_stream_left" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, epoch_ms(ts) AS purchase_ms
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ms, p.purchase_ms
        |  FROM c JOIN p ON p.p_user = c.user_id
        |    AND p.purchase_ms >= c.click_ms
        |    AND p.purchase_ms <= c.click_ms + 600000),
        |wm AS (SELECT LEAST((SELECT MAX(click_ms) FROM c),
        |                    (SELECT MAX(purchase_ms) FROM p)) AS w),
        |um AS (
        |  SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
        |    c.click_ms, CAST(NULL AS BIGINT) AS purchase_ms
        |  FROM c, wm
        |  WHERE c.click_id NOT IN (SELECT click_id FROM m)
        |    AND c.click_ms + 600000 < wm.w)
        |SELECT * FROM m UNION ALL SELECT * FROM um
        |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,

    // inner matches UNION ALL expired unmatched CLICKS (horizon
    // click_ms+10min < wm) UNION ALL expired unmatched PURCHASES (horizon
    // purchase_ms < wm — the asymmetric bound the time-interval condition
    // implies); wm = min(max click_ms, max purchase_ms), 0s delay
    "q_stream_stream_full" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, epoch_ms(ts) AS purchase_ms
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id, p.p_user,
        |    c.click_ms, p.purchase_ms
        |  FROM c JOIN p ON p.p_user = c.user_id
        |    AND p.purchase_ms >= c.click_ms
        |    AND p.purchase_ms <= c.click_ms + 600000),
        |wm AS (SELECT LEAST((SELECT MAX(click_ms) FROM c),
        |                    (SELECT MAX(purchase_ms) FROM p)) AS w),
        |uc AS (
        |  SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
        |    CAST(NULL AS BIGINT) AS p_user, c.click_ms,
        |    CAST(NULL AS BIGINT) AS purchase_ms
        |  FROM c, wm
        |  WHERE c.click_id NOT IN (SELECT click_id FROM m)
        |    AND c.click_ms + 600000 < wm.w),
        |up AS (
        |  SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id,
        |    CAST(NULL AS BIGINT) AS user_id, p.p_user,
        |    CAST(NULL AS BIGINT) AS click_ms, p.purchase_ms
        |  FROM p, wm
        |  WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
        |    AND p.purchase_ms < wm.w)
        |SELECT * FROM m UNION ALL SELECT * FROM uc UNION ALL SELECT * FROM up
        |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,

    // the 0s-variant oracle with the watermark SHIFTED by the per-side
    // delays: wm = min(max click_ms − 30000, max purchase_ms − 120000)
    "q_stream_stream_left_delay" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, epoch_ms(ts) AS purchase_ms
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ms, p.purchase_ms
        |  FROM c JOIN p ON p.p_user = c.user_id
        |    AND p.purchase_ms >= c.click_ms
        |    AND p.purchase_ms <= c.click_ms + 600000),
        |wm AS (SELECT LEAST((SELECT MAX(click_ms) - 30000 FROM c),
        |                    (SELECT MAX(purchase_ms) - 120000 FROM p)) AS w),
        |um AS (
        |  SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
        |    c.click_ms, CAST(NULL AS BIGINT) AS purchase_ms
        |  FROM c, wm
        |  WHERE c.click_id NOT IN (SELECT click_id FROM m)
        |    AND c.click_ms + 600000 < wm.w)
        |SELECT * FROM m UNION ALL SELECT * FROM um
        |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,

    "q_stream_foreachbatch" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
