package graft

import java.sql.Timestamp

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Top-level so the product encoder resolves cleanly. */
case class TestEv(event_id: Long, ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends SparkFunSuite {

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("MemoryStream tumbling counts match the batch aggregation") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val data = Seq(
      TestEv(1, t(5), "click", 1.0), TestEv(2, t(10), "click", 2.0),
      TestEv(3, t(40), "view", 3.0), TestEv(4, t(59), "click", 4.0))
    val ms = MemoryStream[TestEv]
    ms.addData(data)
    val out = Streaming.runToMemory(s,
      Streaming.tumblingCounts(ms.toDF()), "t_mem_tumbling", "complete")
      .select(unix_millis(col("w.start")).as("ws"), col("event_type"), col("n"),
        col("total_value"))
      .collect()
    // batch twin on the same rows
    val batch = data.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("ws"), col("event_type"), col("n"))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ===
      batch.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
    assert(out.map(_.getAs[Double]("total_value")).sum === 10.0)
  }

  test("streaming dedup suppresses injected redelivery duplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[TestEv]
    // event 10 arrives 3 times (visibility-timeout redelivery analog)
    ms.addData(Seq(
      TestEv(10, t(1), "click", 1.0), TestEv(10, t(1), "click", 1.0),
      TestEv(10, t(1), "click", 1.0), TestEv(11, t(2), "view", 2.0)))
    val out = Streaming.runToMemory(s,
      ms.toDF().withWatermark("ts", "1 hour").dropDuplicates("event_id"),
      "t_mem_dedup", "append")
      .collect()
    assert(out.map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(10L, 11L))
  }

  test("RocksDB state store backend produces identical streaming results") {
    // Heap state stores cap state at executor memory; the RocksDB provider
    // is how streaming state outgrows the heap at 100 TB/day. Same query,
    // same answer, different backend — the swap is pure configuration.
    val s = spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    withConf(key ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val viaRocks = Streaming.streamDedup(s, sf).collect()
      assert(viaRocks.length === graft.Tables.events(s, sf).count())
      assert(viaRocks.map(_.getAs[Long]("event_id")).distinct.length === viaRocks.length)
    }
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[graft.streaming.UserEvent]
    val out = graft.streaming.Streaming.sessionizeStateful(ms.toDS(), gapMs = 600000L)
    s.catalog.dropTempView("t_mem_sessions")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("t_mem_sessions").start()
    try {
      // batch 1: two events 1 min apart -> one open session
      ms.addData(graft.streaming.UserEvent(7L, 0L, 1.0),
        graft.streaming.UserEvent(7L, 60000L, 2.0))
      q.processAllAvailable()
      assert(s.table("t_mem_sessions").count() === 0) // still open
      // batch 2: event 20 min later -> closes the first session
      ms.addData(graft.streaming.UserEvent(7L, 1260000L, 5.0))
      q.processAllAvailable()
      val sessions = s.table("t_mem_sessions").collect()
      assert(sessions.length === 1)
      val ses = sessions.head
      assert(ses.getAs[Long]("session_start_ms") === 0L)
      assert(ses.getAs[Long]("session_end_ms") === 660000L) // last + gap
      assert(ses.getAs[Long]("n_events") === 2L)
      assert(ses.getAs[Double]("total_value") === 3.0)
    } finally q.stop()
  }

  test("file-source streaming tumbling equals the batch events aggregation") {
    val streamed = Streaming.streamTumbling(spark, sf).collect()
    val batch = operators.EventsOps.tumbling(spark, sf).collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("checkpointed restart resumes exactly-once: stop mid-stream, restart, no dup/loss") {
    // Four one-row files delivered one per micro-batch; the query is
    // killed after the first two batches and RESTARTED from its
    // checkpoint — the sum over a foreachBatch-appended sink must equal
    // the batch total exactly (a replayed or skipped file would break it).
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_ckpt_test")
    val (in, ckpt, out) = (root.resolve("in"), root.resolve("ckpt"), root.resolve("out"))
    Files.createDirectories(in)
    def writeFile(i: Int): Unit =
      Seq((i.toLong, i * 10.0)).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(in.toString)
    (1 to 2).foreach(writeFile)

    def start() = s.readStream
      .schema("id LONG, v DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(out.toString)
      }
      .start()

    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // "crash" after files 1-2 are committed to the checkpoint
    (3 to 4).foreach(writeFile)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    val got = s.read.parquet(out.toString)
      .agg(org.apache.spark.sql.functions.count_distinct(col("id")).cast("long"),
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.sum(col("v")))
      .collect().head
    assert(got.getLong(0) === 4L, "distinct ids: loss or never-arrived")
    assert(got.getLong(1) === 4L, "row count: a replayed batch duplicated rows")
    assert(got.getDouble(2) === 100.0)
  }

  test("streaming ingest dedups micro-batches against the persisted signature index") {
    // the production shape end-to-end: base corpus's signature index on
    // disk ONCE; delta docs arrive as a stream in two micro-batches; each
    // foreachBatch dedups against the FILES — union of batch outputs must
    // equal the one-shot incremental answer (state is the index, not the
    // stream, so batch boundaries are invisible)
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val idx = TempDirs.scratch("graft_sigindex_stream_").resolve("base").toString
    operators.Dedup.writeSignatureIndex(
      Tables.documents(spark, sf).filter(col("doc_id") % 10 < 8), idx)
    val delta = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = delta.splitAt(delta.length / 2)
    val ms = MemoryStream[(Long, String)]
    val results = collection.mutable.ArrayBuffer.empty[String]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        results ++= operators.Dedup.dedupBatchAgainstIndex(b.toDF(), idx)
          .collect().map(_.toString)
        ()
      }
      .start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val oneShot = operators.Dedup.dedupIncremental(spark, sf)
      .collect().map(_.toString)
    CacheScope.releaseAll()
    assert(results.sorted.toSeq === oneShot.sorted.toSeq,
      "streamed batch dedup diverged from the one-shot incremental answer")
    assert(results.nonEmpty)
  }

  test("index growth: batch-N accepted docs are detected by batch N+1") {
    // the append path of the streaming ingest: each micro-batch dedups
    // against the index AND appends its accepted (novel) docs' bands, so
    // a later batch's duplicate of an earlier batch's novelty is caught —
    // state lives in the index files across batches
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val idx = TempDirs.scratch("graft_sigindex_grow_").resolve("base").toString
    val base = (0L until 5L).map(i =>
      (i, s"base${i}a base${i}b base${i}c base${i}d base${i}e base${i}f"))
    operators.Dedup.writeSignatureIndex(base.toDF("doc_id", "text"), idx)
    val novel = (100L, "novel100a novel100b novel100c novel100d novel100e novel100f")
    val dupOfBase = (101L, base(0)._2)
    val dupOfNovel = (200L, novel._2) // same text as batch 1's accepted doc
    val fresh = (201L, "fresh201a fresh201b fresh201c fresh201d fresh201e fresh201f")
    // INTRA-batch duplicate of fresh: both are novel vs the index, both
    // enter it — and the replay below must still report both is_new
    // (the batch's own ids are excluded from the base, so 202 must not
    // match 201's by-then-appended bands on the re-run)
    val freshTwin = (202L, fresh._2)
    val ms = MemoryStream[(Long, String)]
    val results = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        results ++= operators.Dedup.dedupBatchAndGrowIndex(b.toDF(), idx).collect()
        ()
      }
      .start()
    try {
      ms.addData(Seq(novel, dupOfBase)); q.processAllAvailable()
      ms.addData(Seq(dupOfNovel, fresh, freshTwin)); q.processAllAvailable()
    } finally q.stop()
    val byId = results.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(100L).getAs[Boolean]("is_new"), "novel batch-1 doc not accepted")
    assert(!byId(101L).getAs[Boolean]("is_new") &&
      byId(101L).getAs[Long]("matched_base") === 0L, "base dup missed")
    // THE growth property: batch 2's duplicate of batch 1's accepted doc
    assert(!byId(200L).getAs[Boolean]("is_new"),
      "batch-2 dup of batch-1 novelty not detected — index did not grow")
    assert(byId(200L).getAs[Long]("matched_base") === 100L)
    assert(byId(201L).getAs[Boolean]("is_new"))
    assert(byId(202L).getAs[Boolean]("is_new"),
      "intra-batch duplicate should be novel vs the index (out of scope by design)")
    // grown index = base ∪ accepted (novel docs only; duplicates never enter)
    val ids = s.read.parquet(idx).select(col("doc_id")).distinct()
      .as[Long].collect().toSet
    assert(ids === (0L until 5L).toSet ++ Set(100L, 201L, 202L))
    // REPLAY SAFETY (at-least-once foreachBatch): re-running the last
    // committed batch — which carried an INTRA-batch near-dup pair
    // (201, 202) whose bands are now both in the index — must report the
    // same verdicts (neither self-matching its own appended bands nor
    // matching its batch-mate's) and append nothing (anti-join against
    // present ids)
    val rowsBefore = s.read.parquet(idx).count()
    val replay = operators.Dedup.dedupBatchAndGrowIndex(
      Seq(dupOfNovel, fresh, freshTwin).toDF("doc_id", "text"), idx)
      .collect().map(_.toString).sorted.toSeq
    val expected = results
      .filter(r => Set(200L, 201L, 202L)(r.getAs[Long]("doc_id")))
      .map(_.toString).sorted.toSeq
    assert(replay === expected, "replayed batch diverged from its first run")
    assert(s.read.parquet(idx).count() === rowsBefore,
      "replayed batch duplicated index rows")
  }

  test("postings index grows under a real stream; serving equals a full build") {
    // the searchable-state twin of the signature/vector growth tests:
    // documents arrive as micro-batches, each appended into the
    // persisted postings index (replay-safe anti-join inside), and the
    // grown index must serve BM25/phrase bit-equal to a one-shot build
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = Tables.documents(s, SparkSpecBase.sf)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val idx = TempDirs.scratch("graft_postings_grow_").resolve("idx").toString
    // seed: first 200 docs via the builder (staged as a documents table)
    val stage = TempDirs.scratch("graft_postings_grow_stage_")
    docs.take(200).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(stage.resolve("documents.parquet").toString)
    operators.Retrieval.writePostingsIndex(s, stage.toString, idx)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        operators.Retrieval.appendToPostingsIndex(b.toDF(), idx)
      }
      .start()
    try {
      // batch 2 redelivers 50 docs of batch 1 (at-least-once) — the
      // anti-join must drop them or df/tf would double-count
      ms.addData(docs.slice(200, 350)); q.processAllAvailable()
      ms.addData(docs.slice(300, 500)); q.processAllAvailable()
    } finally q.stop()
    assert(operators.Retrieval.bm25FromIndex(s, idx).collect().map(_.toString).toSeq
      === operators.Retrieval.bm25TopK(s, SparkSpecBase.sf).collect().map(_.toString).toSeq,
      "stream-grown index must rank like the one-shot scan")
    assert(operators.Retrieval.phraseFromIndex(s, idx).collect().map(_.toString).toSeq
      === operators.Retrieval.phraseSearch(s, SparkSpecBase.sf).collect().map(_.toString).toSeq)
    assert(s.read.parquet(idx).select(col("doc_id")).distinct().count() === docs.size)
  }

  test("contamination monitor flags a leaky batch at ingest; index grows replay-safely") {
    // continuous benchmark-leakage monitoring: train batches stream in,
    // each is winnowed once, probed against the standing eval selection
    // (leaks flagged BEFORE the data enters the corpus), and its
    // fingerprints appended into the train winnow index so offline
    // forensics agree with the online reports
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val leak = (1 to 12).map(i => s"lk$i").mkString(" ") // w + k − 1 tokens
    val evalDocs = Seq(
      901L -> s"e1 e2 e3 $leak e4 e5 e6 e7 e8",
      902L -> "clean2a clean2b clean2c clean2d clean2e clean2f clean2g clean2h")
      .toDF("doc_id", "text")
    val idx = TempDirs.scratch("graft_monitor_idx_").resolve("train").toString
    operators.TextAnalysis.writeWinnowIndexOf(
      Seq(1L -> "seed1a seed1b seed1c seed1d seed1e seed1f seed1g seed1h")
        .toDF("doc_id", "text"), idx)
    withConf("spark.graft.winnow.minShared" -> "1") {
      try {
        val evalSel = CacheScope.track(
          operators.TextAnalysis.winnowSelectionOf(evalDocs).persist())
        val cleanBatch = Seq(
          10L -> "c10a c10b c10c c10d c10e c10f c10g c10h",
          11L -> "c11a c11b c11c c11d c11e c11f c11g c11h")
        val leakyBatch = Seq(
          20L -> s"t1 t2 t3 t4 t5 t6 t7 $leak t8",
          21L -> "c21a c21b c21c c21d c21e c21f c21g c21h")
        val reports = collection.mutable.ArrayBuffer.empty[Seq[String]]
        val ms = MemoryStream[(Long, String)]
        val q = ms.toDF().toDF("doc_id", "text").writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            reports += operators.TextAnalysis
              .contaminationMonitorBatch(b.toDF(), evalSel, idx)
              .collect().map(_.toString).toSeq
            ()
          }
          .start()
        try {
          ms.addData(cleanBatch); q.processAllAvailable()
          ms.addData(leakyBatch); q.processAllAvailable()
        } finally q.stop()
        assert(reports.head.isEmpty, "clean batch reported a leak")
        val flagged = operators.TextAnalysis
          .contaminationMonitorBatch(leakyBatch.toDF("doc_id", "text"), evalSel, idx)
        // replay of the committed leaky batch: identical report…
        assert(reports(1).nonEmpty, "leaky batch not flagged at ingest")
        assert(flagged.collect().map(_.toString).toSeq === reports(1),
          "replayed batch diverged from its first run")
        // …and no index regrowth
        val ids = s.read.parquet(idx).select(col("doc_id")).distinct()
          .as[Long].collect().toSet
        assert(ids === Set(1L, 10L, 11L, 20L, 21L), s"index ids wrong: $ids")
        // the report points at the right pair, with in-span positions
        // (eval leak starts at gram 4, train at gram 8 — 1-based)
        val r = reports(1).mkString(" ")
        assert(r.contains("[901,20,") && !r.contains("902") && !r.contains("[901,21,"),
          s"wrong pair set: ${reports(1)}")
        // offline forensics over the grown index agree with the monitor
        val offline = operators.TextAnalysis.contaminationFromIndex(
          evalDocs.select(col("doc_id"), col("text")), idx).collect()
        assert(offline.map(x => (x.getAs[Long]("eval_id"), x.getAs[Long]("train_id")))
          .toSet === Set((901L, 20L)), "offline forensics diverge from the monitor")
      } finally CacheScope.releaseAll()
    }
  }

  test("vector index growth: batch-N accepted vectors detected by batch N+1") {
    // the ANN twin of the signature-index growth test: embeddings arrive
    // as micro-batches, each matched against the vector band index and
    // the accepted (novel) ones appended
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dims = 64
    val idx = TempDirs.scratch("graft_vecindex_grow_").resolve("base").toString
    // orthogonal-ish base: one-hot-block sign patterns
    val base = (0 until 4).map(j =>
      (j.toLong, Array.tabulate(dims)(k => if (k / 16 == j) 1.0f else -1.0f)))
    operators.Similarity.writeVectorBandIndex(base.toDF("vec_id", "embedding"), idx)
    val novel = (100L, Array.fill(dims)(1.0f))
    val dupOfBase = (101L, base.head._2)
    // INTRA-batch near-dup of novel: both novel vs the index, both
    // appended — the replay must still report both is_new (batch ids are
    // excluded from the base, so neither matches the other's appended
    // bands on the re-run)
    val novelTwin = (102L, Array.fill(dims)(1.0f))
    val dupOfNovel = (200L, Array.fill(dims)(1.0f))
    val ms = MemoryStream[(Long, Array[Float])]
    val results = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        results ++= operators.Similarity.nearDupBatchAndGrowIndex(b.toDF(), idx).collect()
        ()
      }
      .start()
    try {
      ms.addData(Seq(novel, dupOfBase, novelTwin)); q.processAllAvailable()
      ms.addData(Seq(dupOfNovel)); q.processAllAvailable()
    } finally q.stop()
    val byId = results.map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(byId(100L).getAs[Boolean]("is_new"), "novel vector not accepted")
    assert(byId(102L).getAs[Boolean]("is_new"),
      "intra-batch near-dup should be novel vs the index (out of scope by design)")
    assert(!byId(101L).getAs[Boolean]("is_new") &&
      byId(101L).getAs[Long]("matched_base") === 0L, "base dup missed")
    assert(!byId(200L).getAs[Boolean]("is_new"),
      "batch-2 dup of batch-1 novelty not detected — vector index did not grow")
    assert(byId(200L).getAs[Long]("matched_base") === 100L)
    val ids = s.read.parquet(idx).select(col("vec_id")).distinct()
      .as[Long].collect().toSet
    assert(ids === Set(0L, 1L, 2L, 3L, 100L, 102L))
    // REPLAY SAFETY: re-running batch 1 — whose accepted vectors 100 AND
    // its intra-batch twin 102 are both in the index now — must report
    // both is_new again (no self-match, no batch-mate match) and
    // duplicate no band rows
    val rowsBefore = s.read.parquet(idx).count()
    val replay = operators.Similarity.nearDupBatchAndGrowIndex(
      Seq(novel, dupOfBase, novelTwin).toDF("vec_id", "embedding"), idx).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("is_new")).toMap
    assert(replay(100L), "replayed accepted vector self-matched its own bands")
    assert(replay(102L), "replayed vector matched its accepted batch-mate's bands")
    assert(!replay(101L))
    assert(s.read.parquet(idx).count() === rowsBefore,
      "replayed batch duplicated vector index rows")
  }

  test("stream-stream FULL outer null-extends BOTH sides on watermark expiry") {
    val rows = Streaming.streamStreamFullJoin(spark, sf).collect()
    val nullPurchase = rows.count(_.isNullAt(1)) // unmatched click, expired
    val nullClick = rows.count(_.isNullAt(0))    // unmatched purchase, expired
    val matched = rows.count(r => !r.isNullAt(0) && !r.isNullAt(1))
    info(s"full outer: $matched matched, $nullPurchase click-only, $nullClick purchase-only")
    assert(nullPurchase > 0, "no click-side null extension emitted")
    assert(nullClick > 0, "no purchase-side null extension emitted")
    // every row keeps a key: user_id (click side) or p_user (purchase side)
    assert(rows.forall(r => !r.isNullAt(2) || !r.isNullAt(3)))
  }

  test("non-zero watermark delays keep strictly more clicks open than the 0s variant") {
    val zeroOpen = Streaming.streamStreamLeftJoin(spark, sf).collect()
      .count(_.isNullAt(1))
    val delayedOpen = Streaming.streamStreamLeftDelayed(spark, sf).collect()
      .count(_.isNullAt(1))
    info(s"unmatched clicks emitted: 0s-delay=$zeroOpen delayed=$delayedOpen")
    // the delayed watermark sits EARLIER, so fewer unmatched clicks have
    // provably expired — fewer null-extended rows may emit, never more
    assert(delayedOpen <= zeroOpen)
    assert(delayedOpen > 0, "delayed variant emitted no null-extended rows at all")
  }

  test("contamination monitor survives kill/restart: checkpoint resumes, no index regrowth, forensics stable") {
    // The hard failure path of the streaming ingest face: a RocksDB-
    // checkpointed file-source query runs the monitor, is KILLED after
    // two committed batches, and restarts from its checkpoint. Proof
    // obligations: (1) the restart resumes at the offset — committed
    // batches are not reprocessed; (2) an upstream REDELIVERY of an
    // already-ingested doc after the restart re-reports its leak
    // (flag-before-ingest is at-least-once on purpose) but appends
    // nothing — no index regrowth; (3) offline forensics over the grown
    // index equal the online reports.
    val s = spark
    import s.implicits._
    val root = TempDirs.scratch("graft_monitor_restart_")
    val (in, ckpt) = (root.resolve("in"), root.resolve("ckpt"))
    java.nio.file.Files.createDirectories(in)
    val leak = (1 to 12).map(i => s"rk$i").mkString(" ")
    val evalDocs = Seq(
      901L -> s"e1 e2 e3 $leak e4 e5 e6 e7",
      902L -> "cl2a cl2b cl2c cl2d cl2e cl2f cl2g cl2h").toDF("doc_id", "text")
    val idx = root.resolve("train").toString
    operators.TextAnalysis.writeWinnowIndexOf(
      Seq(1L -> "seed1a seed1b seed1c seed1d seed1e seed1f seed1g seed1h")
        .toDF("doc_id", "text"), idx)
    withConf("spark.graft.winnow.minShared" -> "1",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      try {
        val evalSel = CacheScope.track(
          operators.TextAnalysis.winnowSelectionOf(evalDocs).persist())
        val reports = collection.mutable.ArrayBuffer.empty[Seq[String]]
        def writeBatch(rows: Seq[(Long, String)]): Unit =
          rows.toDF("doc_id", "text").coalesce(1)
            .write.mode("append").parquet(in.toString)
        def start() = s.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(in.toString)
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            reports += operators.TextAnalysis
              .contaminationMonitorBatch(b.toDF(), evalSel, idx)
              .collect().map(_.toString).toSeq
            ()
          }
          .start()
        writeBatch(Seq(10L -> "c10a c10b c10c c10d c10e c10f c10g c10h"))
        writeBatch(Seq(
          20L -> s"t1 t2 t3 t4 $leak t5 t6 t7",
          21L -> "c21a c21b c21c c21d c21e c21f c21g c21h"))
        val q1 = start()
        q1.processAllAvailable()
        q1.stop() // the kill: both batches committed, query gone
        val afterKill = reports.toList
        assert(afterKill.size === 2 && afterKill.head.isEmpty)
        assert(afterKill(1).exists(_.contains("[901,20,")),
          s"leak not flagged before the kill: ${afterKill(1)}")
        // upstream at-least-once: doc 20 REDELIVERED after the crash,
        // alongside a genuinely new doc
        writeBatch(Seq(
          20L -> s"t1 t2 t3 t4 $leak t5 t6 t7",
          30L -> "c30a c30b c30c c30d c30e c30f c30g c30h"))
        val q2 = start()
        try q2.processAllAvailable()
        finally q2.stop()
        // (1) exactly ONE new batch ran: the checkpoint held offsets for
        // the two committed files — no reprocessing after the restart
        assert(reports.size === 3,
          s"restart reprocessed committed batches: ${reports.size} reports")
        // (2) the redelivered doc re-reports its leak IDENTICALLY
        assert(reports(2) === afterKill(1),
          "redelivered doc's report diverged from its first run")
        // …and appended nothing: every id exactly once, 30 arrived
        val ids = s.read.parquet(idx).groupBy(col("doc_id")).count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(ids.keySet === Set(1L, 10L, 20L, 21L, 30L), s"index ids: $ids")
        // no doc's selection was double-appended (regrowth would double
        // its per-doc fingerprint rows via duplicate (doc, fp) files)
        val dupFps = s.read.parquet(idx)
          .groupBy(col("doc_id"), col("fp"), col("first_pos")).count()
          .filter(col("count") > 1).count()
        assert(dupFps === 0, "replayed append duplicated fingerprint rows")
        // (3) offline forensics over the grown index == the online report
        val offline = operators.TextAnalysis.contaminationFromIndex(
          evalDocs.select(col("doc_id"), col("text")), idx)
          .collect().map(_.toString).toSeq
        assert(offline === afterKill(1),
          s"offline forensics diverge from the monitor: $offline vs ${afterKill(1)}")
      } finally CacheScope.releaseAll()
    }
  }

  test("state partitions default to spark.sql.shuffle.partitions, conf overrides") {
    // The operator default must be the scale-safe value (a 100 TB stream
    // started without the conf must NOT freeze 8 state stores into its
    // checkpoint, nor the 2 cores dynamic allocation may report at first
    // start); fixture entry points pin 8 explicitly in the harness. The
    // session's shuffle count is moved off defaultParallelism so the
    // assertion tells the two sources apart.
    val key = "spark.graft.stream.statePartitions"
    val shuffleKey = "spark.sql.shuffle.partitions"
    val shuffleParts = spark.sparkContext.defaultParallelism + 3
    withConf(key -> "8", shuffleKey -> shuffleParts.toString) {
      spark.conf.unset(key)
      assert(Streaming.resolvedStatePartitions(spark) === shuffleParts)
      spark.conf.set(key, "8")
      assert(Streaming.resolvedStatePartitions(spark) === 8)
    }
  }
}
