package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Runs one workload against the engine with one closed-loop client and
  * writes a JSON record of every measurement to `--out`.
  *
  * Usage: graftbench.Main --workload W --data DIR --work DIR --seed N
  *          --seconds S --trace 0|1 --out FILE
  *
  * `--data` holds the generated inputs; `--work` takes scratch files,
  * index directories and the results the correctness check compares. */
object Main {
  /** An op running longer than this is cancelled and counted as failed. */
  val OpCapSec = 60
  /** Setups per run; set-up time is reported as their median. */
  val Setups = 3
  /** Seconds a traced run spends on paired ops for the tracing overhead. */
  val OverheadBudgetS = 30.0

  final case class Args(workload: String, data: String, work: Path, seed: Long,
      seconds: Double, trace: Boolean, out: Path, perturb: Boolean)

  /** One op's outcome; `startUs` is its start in epoch µs. */
  final case class Result(op: Op, startUs: Long, callS: Double, execS: Double,
      error: Option[String], frame: Option[DataFrame], rows: Array[Row]) {
    def wallS: Double = callS + execS
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), Paths.get(kv("work")), kv("seed").toLong,
      kv("seconds").toDouble, kv("trace") == "1", Paths.get(kv("out")),
      kv.get("perturb").contains("1"))
    Files.createDirectories(a.work)
    quietLogs()
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workloads(a.workload, a.data, a.work)

    // Set-up: a session, a warm-up query and the workload's standing
    // indexes, done Setups times, each in a fresh session; the last session
    // is kept. The first also loads the JVM's classes; the median leaves it
    // out.
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    var builds = Map.empty[String, Double]
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    var scratchBefore = Set.empty[Path]
    // a traced run reports no set-up time: one set-up leaves it more room
    for (i <- 1 to (if (a.trace) 1 else Setups)) {
      if (spark != null) { graft.CacheScope.releaseAll(); spark.stop() }
      scratchBefore = listDir(tmp)
      val t0 = System.nanoTime()
      spark = session(cores, a.work)
      spark.range(1000).selectExpr("sum(id)").collect()
      builds = wl.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val s = spark
    val firstOpAfterJvmStartS =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime) / 1e3
    wl match { case sv: Workloads.Serve => sv.snapshot(s); case _ => }

    val tracer = if (a.trace) Some(new Tracer(s)) else None
    val pool = Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
    }
    val results = mutable.ArrayBuffer.empty[Result]
    val refs = mutable.Map.empty[String, (Long, Long)]
    val outputs = mutable.Map.empty[String, Seq[String]]
    val checkFailures = mutable.ArrayBuffer.empty[(String, String)]
    val oracleFaces = mutable.LinkedHashSet.empty[String]
    val oracle = graft.SparkEntry.oracleSql
    val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var opSeq = 0L
    var passes = 0
    var tracedWallS = 0.0
    // (traced, untraced) wall of the same op run back to back
    val overheadPairs = mutable.ArrayBuffer.empty[(Double, Double)]
    var tracedTotals = Map.empty[String, Double].withDefaultValue(0.0)
    var tracedLayer = Map.empty[String, Double].withDefaultValue(0.0)
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    var indexFiles = markerTimes(tmp)

    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9

    /** Runs one op, traced or not, and checks its result. */
    def once(op: Op, traced: Boolean): Result = {
      opSeq += 1
      val before = if (traced) {
        tracer.get.attach()
        tracer.get.begin(opSeq)
        tracer.get.totals.clone()
      } else null
      val r = runOp(s, pool, op, opSeq)
      // a traced op waits for its listener events after its clock stops;
      // so does an untraced one in a traced run, or the next op of a
      // pair would pay for them
      if (a.trace && !traced) org.apache.spark.graftbench.ListenerBus.drain(s.sparkContext)
      if (traced) {
        val root = Span(opSeq, s"op$opSeq", "", "op", r.startUs, r.startUs + (r.wallS * 1e6).toLong)
        val call = Span(opSeq, s"call$opSeq", root.id, "call", root.startUs, root.startUs + (r.callS * 1e6).toLong)
        val exec = Span(opSeq, s"exec$opSeq", root.id, "exec", call.endUs, root.endUs)
        val batchUs = tracer.get.end(opSeq, Seq(root, call, exec))
        tracer.get.detach()
        val after = tracer.get.totals
        def delta(k: String) = after(k) - before(k)
        layer("operators.call_s") += r.callS
        layer("operators.exec_s") += r.execS
        layer("operators.result_rows") += r.rows.length
        if (op.name.startsWith("q_stream"))
          layer("streaming.start_stop_s") += r.wallS - batchUs / 1e6
        op.name match {
          case "q_pdf_transforms" => layer("codec.pdf_s") += delta("spark.task_run_s")
          case "q_image_pipeline" => layer("codec.image_s") += delta("spark.task_run_s")
          case "q_audio_pipeline" => layer("codec.audio_s") += delta("spark.task_run_s")
          case _ =>
        }
        if (Set("q_pdf_transforms", "q_image_pipeline", "q_audio_pipeline")(op.name))
          layer("codec.items") += r.rows.length
        if (op.kind == "read" || op.kind == "write") {
          val now = markerTimes(tmp)
          val rebuilt = now.count { case (p, t) => !indexFiles.get(p).contains(t) }
          indexFiles = now
          layer("index.builds") += rebuilt
          layer("index.calls") += 1
          if (rebuilt == 0) layer("index.served_calls") += 1
        }
        wl match {
          case sv: Workloads.Serve if op.kind == "write" =>
            val parts = sv.partFiles(s)
            if (parts < layer("index.last_part_files")) layer("index.compactions") += 1
            layer("index.last_part_files") = parts
          case _ =>
        }
      }
      results += r
      check(s, a.work, perturbed(r, a.perturb && !refs.contains(op.key)), refs, outputs, oracle,
        oracleFaces, checkFailures, layer)
      graft.CacheScope.releaseAll()
      s.catalog.clearCache()
      r
    }

    // A run makes complete passes until --seconds have been measured. A
    // traced run instead traces its first pass throughout, which gives the
    // per-layer metrics, and then pairs ops for the tracing overhead: in
    // pass order, every op that leaves the inputs as they were runs twice
    // back to back, once traced and once not, the order alternating from
    // op to op and from pass to pass, for OverheadBudgetS.
    def pairing = elapsed - tracedWallS < OverheadBudgetS
    while (passes == 0 || (if (a.trace) pairing else elapsed < a.seconds)) {
      val gc0 = gcMs
      val p0 = System.nanoTime()
      for ((op, i) <- wl.pass(passes).zipWithIndex) {
        if (!a.trace || passes == 0) once(op, a.trace)
        else if (op.kind != "write" && pairing) {
          val tracedFirst = (i + passes) % 2 == 0
          val first = once(op, tracedFirst)
          val second = once(op, !tracedFirst)
          overheadPairs += (if (tracedFirst) (first.wallS, second.wallS)
            else (second.wallS, first.wallS))
        }
      }
      if (a.trace && passes == 0) {
        tracedWallS = (System.nanoTime() - p0) / 1e9
        layer("jvm.gc_s") += (gcMs - gc0) / 1e3
        tracedTotals = tracer.get.totals.toMap.withDefaultValue(0.0)
        tracedLayer = layer.toMap.withDefaultValue(0.0)
      }
      passes += 1
    }
    pool.shutdownNow()
    checkFailures ++= wl.finalCheck(s, outputs.toMap)

    // ---- end-to-end record ----
    val failedKeys = checkFailures.map(_._1).toSet
    val failedOps = results.filter(r => r.error.nonEmpty || failedKeys(r.op.key))
    val lat = results.map(r => if (r.error.nonEmpty || failedKeys(r.op.key)) OpCapSec.toDouble else r.wallS)
    val rss = vmHwmMb()
    // a run has one to a few dozen ops of different faces: too few for a
    // steady median or tail, so the typical latency is their geometric mean
    val e2e = Map(
      "setup_s" -> median(setupS.toSeq),
      "op_geomean_s" -> math.exp(lat.map(math.log).sum / lat.size),
      "docs_per_s" -> wl.docsPerS(results.toSeq))

    val byKind = results.groupBy(_.op.kind).map { case (k, rs) =>
      k -> Map("n" -> rs.size.toDouble, "p50_s" -> quantile(rs.map(_.wallS).toSeq, 0.5),
        "p90_s" -> quantile(rs.map(_.wallS).toSeq, 0.9))
    }
    val owned = wl match { case sv: Workloads.Serve => Seq(Paths.get(sv.sig)); case _ => Nil }
    val indexBytes = (owned ++ (listDir(tmp) -- scratchBefore)).map(dirBytes).sum
    val detail = mutable.LinkedHashMap[String, Any](
      "passes" -> passes, "ops" -> results.size,
      "jvm_start_to_first_op_s" -> firstOpAfterJvmStartS,
      "setup_runs_s" -> setupS.toSeq, "index_build_s" -> builds,
      "failed_frac" -> failedOps.size.toDouble / results.size,
      "op_p50_s" -> quantile(lat.toSeq, 0.5), "op_p90_s" -> quantile(lat.toSeq, 0.9),
      "peak_rss_mb" -> rss,
      "by_kind" -> byKind,
      "per_face_p50_s" -> results.groupBy(_.op.name).map { case (n, rs) =>
        n -> quantile(rs.map(_.wallS).toSeq, 0.5) },
      "spark_version" -> s.version, "java_version" -> sys.props("java.version"),
      "cores" -> cores)
    wl match {
      case sv: Workloads.Serve =>
        val indexed = sv.docsIndexed(s)
        detail("index_bytes") = indexBytes
        detail("docs_indexed") = indexed
        detail("index_bytes_per_doc") = ratio(indexBytes, indexed)
      case _ =>
    }

    // ---- per-layer record (traced runs) ----
    val perLayer = tracer.map { t =>
      val tot = tracedTotals
      val layer = tracedLayer
      val m = mutable.LinkedHashMap.empty[String, Double]
      def per(k: String, v: Double): Unit = m(k) = v
      Seq("operators.call_s", "operators.exec_s", "operators.result_rows")
        .foreach(k => per(k, layer(k)))
      m("operators.pair_precision") =
        ratio(tot("operators.pair_verified"), tot("operators.pair_candidates"))
      m("index.build_s") = builds.values.sum
      per("index.builds", layer("index.builds"))
      m("index.reuse_ratio") = ratio(layer("index.served_calls"), layer("index.calls"))
      m("index.bytes") = indexBytes
      m("index.part_files") = wl match { case sv: Workloads.Serve => sv.partFiles(s); case _ => 0 }
      per("index.compactions", layer("index.compactions"))
      Seq("plans.analysis_s", "plans.optimization_s", "plans.planning_s",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
        "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
        "spark.sched_delay_s", "spark.task_deser_s", "spark.driver_only_s")
        .foreach(k => per(k, tot(k)))
      m("spark.cpu_util") = ratio(tot("spark.task_cpu_s"), tracedWallS * cores)
      Seq("shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
        "shuffle.spill_bytes").foreach(k => per(k, tot(k)))
      m("shuffle.per_input_byte") = ratio(tot("shuffle.write_bytes"), tot("sources.input_bytes"))
      Seq("sources.input_bytes", "sources.input_rows", "sources.files_read",
        "sources.output_bytes", "functions.rows_in", "functions.rows_out")
        .foreach(k => per(k, tot(k)))
      Seq("codec.pdf_s", "codec.image_s", "codec.audio_s", "codec.items")
        .foreach(k => per(k, layer(k)))
      m("codec.error_rows") = layer("codec.error_rows")
      Seq("streaming.batches", "streaming.batch_s", "streaming.planning_s",
        "streaming.wal_s", "streaming.state_rows").foreach(k => per(k, tot(k)))
      m("streaming.state_bytes") = tot("streaming.state_bytes")
      per("streaming.start_stop_s", layer("streaming.start_stop_s"))
      m("cache.storage_peak_bytes") = tot("cache.storage_peak_bytes")
      per("cache.evicted_blocks", tot("cache.evicted_blocks"))
      m("cache.disk_bytes") = tot("cache.disk_bytes")
      per("jvm.gc_s", layer("jvm.gc_s"))
      m("jvm.heap_peak_mb") = heapPeakMb()
      m("jvm.rss_peak_mb") = rss
      // per pair, traced over untraced wall; the quartiles show whether
      // the overhead stands out of the op-to-op noise
      val pairRatio = overheadPairs.toSeq.map { case (t, u) => ratio(t, u) }
      m("trace.overhead") = median(pairRatio) - 1.0
      m("trace.overhead_iqr") = quantile(pairRatio, 0.75) - quantile(pairRatio, 0.25)
      detail("overhead_pairs") = pairRatio.size
      detail("overhead_q1_q3") = Seq(quantile(pairRatio, 0.25) - 1.0, quantile(pairRatio, 0.75) - 1.0)
      val (self, unaccounted) = t.selfTimes()
      m("trace.unaccounted_frac") = unaccounted
      detail("self_time_s") = self
      t.writeSpans(a.work.resolve("spans.jsonl"))
      m.toMap
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> results.size, "failed" -> failedOps.size,
      "failures" -> (results.filter(_.error.nonEmpty).map(r => s"${r.op.name}: ${r.error.get}") ++
        checkFailures.map { case (k, why) => s"$k: $why" }).distinct,
      "end_to_end" -> e2e, "per_layer" -> perLayer.getOrElse(Map.empty),
      "oracle_faces" -> oracleFaces.toSeq.map(f => Map("face" -> f, "sql" -> oracle(f),
        "ops" -> results.count(_.op.key == f))),
      "detail" -> detail)
    Files.writeString(a.out, Json.writeValueAsString(record))
    s.stop()
    System.exit(0)
  }

  /** One op: call the engine, then collect the returned frame — the
    * client has its answer when the last row arrives — under a job group
    * that the time cap cancels. */
  def runOp(s: SparkSession, pool: java.util.concurrent.ExecutorService,
      op: Op, id: Long): Result = {
    val group = s"perfbench-op-$id"
    val startUs = System.currentTimeMillis() * 1000
    val t0 = System.nanoTime()
    @volatile var t1 = 0L
    val task = pool.submit(new Callable[(DataFrame, Array[Row])] {
      def call(): (DataFrame, Array[Row]) = {
        s.sparkContext.setJobGroup(group, op.name, interruptOnCancel = true)
        try {
          val df = op.call(s)
          t1 = System.nanoTime()
          (df, df.collect())
        } finally s.sparkContext.clearJobGroup()
      }
    })
    def done(err: Option[String], out: Option[(DataFrame, Array[Row])]) = {
      val t2 = System.nanoTime()
      val callEnd = if (t1 == 0L) t2 else t1
      Result(op, startUs, (callEnd - t0) / 1e9, (t2 - callEnd) / 1e9, err,
        out.map(_._1), out.map(_._2).getOrElse(Array.empty))
    }
    try done(None, Some(task.get(OpCapSec.toLong, TimeUnit.SECONDS)))
    catch {
      case _: TimeoutException =>
        s.sparkContext.cancelJobGroupAndFutureJobs(group)
        task.cancel(true)
        done(Some(s"timed out after ${OpCapSec}s"), None)
      case e: java.util.concurrent.ExecutionException =>
        done(Some(String.valueOf(e.getCause)), None)
    }
  }

  /** The self-test's wrong answers: with `--perturb 1` the first result of
    * every face loses its last row (against DuckDB, and against the later
    * results of the same face) and the first verdicts of every ingest batch
    * flip (against the one-shot answer). The checks must report all three. */
  def perturbed(r: Result, on: Boolean): Result =
    if (!on || r.rows.isEmpty) r
    else if (r.op.kind == "write") r.copy(rows = r.rows.map(row =>
      Row.fromSeq(row.toSeq.map { case b: Boolean => !b; case v => v })))
    else r.copy(rows = r.rows.dropRight(1))

  /** Order-insensitive hash of a result's rows. */
  def fingerprint(rows: Array[Row]): Long =
    rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong).sum

  /** Compares an op's result with the first result of the same key. The
    * first result of an oracle-checked face is written out for the DuckDB
    * comparison, and ingest verdicts are kept for the one-shot check; all
    * of it after the op's clock has stopped. */
  def check(s: SparkSession, work: Path, r: Result,
      refs: mutable.Map[String, (Long, Long)], outputs: mutable.Map[String, Seq[String]],
      oracle: Map[String, String], oracleFaces: mutable.LinkedHashSet[String],
      failures: mutable.ArrayBuffer[(String, String)],
      layer: mutable.Map[String, Double]): Unit = {
    val key = r.op.key
    if (r.error.isEmpty) {
      val fp = fingerprint(r.rows)
      refs.get(key) match {
        case Some((n, ref)) =>
          if (n != r.rows.length || fp != ref)
            failures += key -> s"result changed between calls (rows $n -> ${r.rows.length})"
        case None =>
          refs(key) = (r.rows.length.toLong, fp)
          try {
            val schema = r.frame.get.schema
            if (oracle.contains(key)) {
              s.createDataFrame(r.rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(work.resolve(s"out/$key").toString)
              oracleFaces += key
            } else if (r.rows.isEmpty && r.op.kind != "write")
              failures += key -> "empty result"
            if (r.op.kind == "write") outputs(key) = r.rows.map(_.toString).toSeq
            if (r.op.name.matches("q_(pdf|image|audio).*"))
              layer("codec.error_rows") += r.rows.count(row =>
                row.toSeq.exists { case v: String => v.startsWith("Error"); case _ => false })
          } catch { case NonFatal(e) => failures += key -> s"check failed: $e" }
      }
    }
  }

  def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    // the pins of the engine's own Bench harness, nothing else
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.graft.stream.statePartitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def quietLogs(): Unit = {
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.logging.log4j.Level
    Configurator.setRootLevel(Level.WARN)
    // global-window faces warn once per task by design
    Configurator.setLevel("org.apache.spark.sql.execution.window", Level.ERROR)
  }

  /** The run record and the spans are written with Spark's own Jackson. */
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** a / b, or 0 when there is nothing to divide by. */
  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def heapPeakMb(): Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def listDir(p: Path): Set[Path] =
    if (!Files.isDirectory(p)) Set.empty
    else { val st = Files.list(p); try st.iterator.asScala.toSet finally st.close() }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** Build-completed markers of the engine's served indexes (`*.done`
    * under the scratch root) with their modification times: a changed
    * time is a (re)build. */
  def markerTimes(root: Path): Map[Path, Long] =
    listDir(root).flatMap(listDir).filter(_.toString.endsWith(".done"))
      .map(p => p -> Files.getLastModifiedTime(p).toMillis).toMap
}
