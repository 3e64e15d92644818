package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one op share `op`; `parent` is the id of
  * the enclosing span ("" for the op's root span). Times are epoch µs. */
final case class Span(op: Long, id: String, parent: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = math.max(endUs - startUs, 0L)
}

/** Per-layer counters of the traced run, filled from outside the engine:
  * a SparkListener (jobs, stages, tasks, blocks), a QueryExecutionListener
  * (planning phases and the executed plans' SQL metrics) and a
  * StreamingQueryListener (micro-batches). Everything that arrives while an
  * op is current is charged to that op; the runner drains the listener bus
  * after every op, so nothing leaks into the next one. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val spans = mutable.ArrayBuffer.empty[Span]
  val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  @volatile private var current: Option[Long] = None
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val blocks = mutable.Map.empty[String, (Long, Long)]
  private var memNow = 0L
  private var diskNow = 0L
  private var streamBatchUs = 0L
  private var seq = 0L

  def add(key: String, v: Double): Unit = synchronized { totals(key) += v }
  private def peak(key: String, v: Double): Unit =
    synchronized { totals(key) = math.max(totals(key), v) }
  private def nextId(prefix: String): String = synchronized { seq += 1; s"$prefix$seq" }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = current.foreach { _ =>
      synchronized {
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = current.foreach { op =>
      synchronized {
        jobStart.remove(e.jobId).foreach { t0 =>
          jobSpans += Span(op, s"job${e.jobId}", "", "job", t0 * 1000, e.time * 1000)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      current.foreach { op =>
        val si = e.stageInfo
        add("spark.stages", 1)
        for (s <- si.submissionTime; c <- si.completionTime) synchronized {
          val job = stageJob.get(si.stageId).map(j => s"job$j").getOrElse("")
          spans += Span(op, nextId("stage"), job, "stage", s * 1000, c * 1000)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = current.foreach { _ =>
      val ti = e.taskInfo
      add("spark.tasks", 1)
      if (ti.failed || ti.killed) add("spark.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.task_gc_s", m.jvmGCTime / 1e3)
        add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + ti.gettingResultTime
        add("spark.sched_delay_s", math.max(ti.duration - busy, 0L) / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
        add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) synchronized {
        val key = b.blockId.name
        val (oldMem, oldDisk) = blocks.getOrElse(key, (0L, 0L))
        if (b.storageLevel.isValid) blocks(key) = (b.memSize, b.diskSize)
        else {
          blocks.remove(key)
          if (oldMem > 0 && current.nonEmpty) add("cache.evicted_blocks", 1)
        }
        memNow += (if (b.storageLevel.isValid) b.memSize else 0L) - oldMem
        diskNow += (if (b.storageLevel.isValid) b.diskSize else 0L) - oldDisk
        if (current.nonEmpty) {
          peak("cache.storage_peak_bytes", memNow.toDouble)
          peak("cache.disk_bytes", diskNow.toDouble)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (current.nonEmpty) planMetrics(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      current.foreach { op =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val trigger = d.getOrElse("triggerExecution", 0L)
        add("streaming.batches", 1)
        add("streaming.batch_s", trigger / 1e3)
        add("streaming.planning_s", d.getOrElse("queryPlanning", 0L) / 1e3)
        add("streaming.wal_s", d.getOrElse("walCommit", 0L) / 1e3)
        p.stateOperators.foreach { so =>
          add("streaming.state_rows", so.numRowsTotal.toDouble)
          peak("streaming.state_bytes", so.memoryUsedBytes.toDouble)
        }
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        synchronized {
          streamBatchUs += trigger * 1000
          spans += Span(op, nextId("batch"), s"op$op", "stream_batch", startUs, startUs + trigger * 1000)
        }
      }
  }

  /** Planning phases and the SQL metrics of one executed plan. */
  private def planMetrics(qe: QueryExecution): Unit = {
    phases(qe)
    val plan = qe.executedPlan
    def m(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    def isJoin(p: SparkPlan) = p.isInstanceOf[BaseJoinExec] ||
      p.isInstanceOf[BroadcastNestedLoopJoinExec] || p.isInstanceOf[CartesianProductExec]
    // the join under a filter, looking through projections and codegen seams
    def below(p: SparkPlan): SparkPlan = p match {
      case _: ProjectExec | _: InputAdapter | _: WholeStageCodegenExec => below(p.children.head)
      case other => other
    }
    // cached frames (the faces' eager persists) keep their own plans
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def nodes(root: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(root)) Nil
      else collectWithSubqueries(root) { case p => p }.flatMap {
        case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
        case p => Seq(p)
      }
    nodes(plan).foreach { p =>
      p match {
      case f: FilterExec if isJoin(below(f.child)) =>
        add("operators.pair_candidates", m(below(f.child), "numOutputRows"))
        add("operators.pair_verified", m(f, "numOutputRows"))
      case g: GenerateExec if g.generator.exists(engineFunction) =>
        add("functions.rows_in", rowsOf(g.child))
        add("functions.rows_out", m(g, "numOutputRows"))
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.aggregateFunction.exists(engineFunction)) =>
        add("functions.rows_in", rowsOf(a.child))
        add("functions.rows_out", m(a, "numOutputRows"))
      case p if p.nodeName.contains("Scan") =>
        add("sources.files_read", m(p, "numFiles"))
      case _ =>
      }
    }
  }

  /** The engine's own functions: its generators and aggregators, and the
    * Scala UDFs and UDAFs it registers. */
  private def engineFunction(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    val c = e.getClass
    c.getName.startsWith("graft.") || Set("ScalaUDF", "ScalaAggregator", "ScalaUDAF")(c.getSimpleName)
  }

  /** Rows out of the nearest node below `p` that counts them. Under AQE
    * the walk passes codegen seams, shuffle reads and query stages, which
    * are leaves whose executed plan is `plan`. */
  private def rowsOf(p: SparkPlan): Double = p match {
    case q: QueryStageExec => rowsOf(q.plan)
    case _ => p.metrics.get("numOutputRows") match {
      case Some(x) => x.value.toDouble
      case None => p.children.headOption.map(rowsOf).getOrElse(0.0)
    }
  }

  /** Analysis, optimization and physical-planning time of one query
    * execution, from Spark's own phase tracker. */
  private def phases(qe: QueryExecution): Unit = qe.tracker.phases.foreach { case (phase, s) =>
    add(s"plans.${phase}_s", s.durationMs / 1e3)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def begin(op: Long): Unit = synchronized { current = Some(op); streamBatchUs = 0L }

  /** Closes an op: waits for its listener events, then records the op's
    * spans and its driver-only time (wall minus the union of the op's job
    * intervals). Returns the summed micro-batch time of the op. */
  def end(op: Long, opSpans: Seq[Span]): Long = {
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    synchronized {
      current = None
      val root = opSpans.find(_.parent == "").get
      val phasesOf = opSpans.filter(_.parent == root.id)
      val jobs = jobSpans.filter(_.op == op).toSeq.map { j =>
        // a job belongs to the phase (call or exec) its start falls in
        val ph = phasesOf.find(p => j.startUs >= p.startUs && j.startUs <= p.endUs)
          .getOrElse(phasesOf.last)
        j.copy(parent = ph.id)
      }
      jobSpans.clear()
      spans ++= opSpans ++ jobs
      add("spark.driver_only_s", (root.durUs - covered(root, jobs)) / 1e6)
      streamBatchUs
    }
  }

  /** µs of `parent` covered by the union of `children`' intervals. */
  def covered(parent: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, parent.startUs), math.min(c.endUs, parent.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Self time of every span (its duration minus what its children cover),
    * and the share of child time that lies outside its parent — spans that
    * do not nest are time the tree fails to account for. */
  def selfTimes(): (Map[String, Double], Double) = {
    val byParent = spans.groupBy(s => (s.op, s.parent))
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var outside = 0L
    var wall = 0L
    spans.foreach { s =>
      val kids = byParent.getOrElse((s.op, s.id), Nil).toSeq
      self(s.name) += (s.durUs - covered(s, kids)) / 1e6
      outside += kids.map(k => k.durUs - covered(s, Seq(k))).sum
      if (s.parent == "") wall += s.durUs
    }
    (self.toMap, if (wall == 0) 0.0 else outside.toDouble / wall)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.write(path, spans.map(Main.Json.writeValueAsString).asJava)
  }
}
