package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{LakebenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One wall clock for every span: epoch milliseconds with sub-ms
  * resolution, anchored once to `currentTimeMillis` (Spark stamps job and
  * stage events in that domain) and advanced by `nanoTime`. */
object Clock {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = base + (System.nanoTime() - nano0) / 1e6
}

/** Counters and spans of one benchmark op (a query, a landing, a merge,
  * a read) or of one streaming micro-batch. Mutated on the listener bus
  * thread and read by the client thread only after the bus is drained. */
final class Op(val id: String, val name: String, val kind: String, val traced: Boolean) {
  var startMs = 0.0
  var endMs = 0.0
  var ok = true
  var error: String = null
  var cpuNs = 0L
  var gcMs = 0L
  var tasks = 0L
  var jobs = 0
  var stagesRun = 0
  var stagesSkipped = 0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inBytes = 0L
  var inRows = 0L
  var outBytes = 0L
  var outRows = 0L
  var resultRows = -1L
  var analysisMs = 0.0
  var optimizerMs = 0.0
  var planningMs = 0.0
  var codegenMs = 0.0
  var filesListed = 0L
  val jobSpans = ArrayBuffer.empty[(Int, Double, Double)]
  val stageSpans = ArrayBuffer.empty[(Int, Int, Double, Double)]
  val taskDur = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  /** max / median task duration in the op's longest stage (1 when the
    * op ran no multi-task stage). */
  def taskSkew: Double = {
    val worst = stageSpans.sortBy(s => -(s._4 - s._3)).headOption
    worst.flatMap(s => taskDur.get(s._1)).filter(_.nonEmpty).map { ds =>
      val sorted = ds.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med <= 0) 1.0 else sorted.last / med
    }.getOrElse(1.0)
  }

  def toMap: Map[String, Any] = {
    val base = Map[String, Any](
      "id" -> id, "name" -> name, "kind" -> kind, "traced" -> traced,
      "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok, "error" -> error,
      "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "tasks" -> tasks, "jobs" -> jobs,
      "stages" -> stagesRun, "stages_skipped" -> stagesSkipped,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill,
      "scan_bytes" -> inBytes, "scan_rows" -> inRows,
      "out_bytes" -> outBytes, "out_rows" -> outRows, "result_rows" -> resultRows,
      "extra" -> extra)
    if (!traced) base
    else base ++ Map(
      "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs,
      "planning_ms" -> planningMs, "codegen_ms" -> codegenMs,
      "files_listed" -> filesListed,
      "task_skew" -> taskSkew,
      "jobs_spans" -> jobSpans.map(j => Seq(j._1, j._2, j._3)),
      "stage_spans" -> stageSpans.map(s => Seq(s._1, s._2, s._3, s._4)))
  }
}

/** The benchmark's own telemetry: a SparkListener (jobs, stages, tasks,
  * and the QueryPlanningTracker phases of each SQL execution), a
  * StreamingQueryListener (micro-batch progress), plus the engine-wide
  * CodegenMetrics / HiveCatalogMetrics counters. Jobs and SQL executions
  * are attributed to ops by the job group the client sets per op, and
  * jobs to stream batches by the query id and batch id Spark stamps on
  * every streaming job. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val ops = new ConcurrentHashMap[String, Op]()
  private val jobOp = new ConcurrentHashMap[Int, Op]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val stageOp = new ConcurrentHashMap[Int, (Op, Int)]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  private val laneOf = new ConcurrentHashMap[String, String]()
  /** SQL execution id -> the op whose job group started it. */
  private val execOp = new ConcurrentHashMap[Long, Op]()
  private val watchdog = new java.util.Timer("lakebench-watchdog", true)
  @volatile var traceStreams = false
  private var opSeq = 0

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  sc.addSparkListener(this)
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val recv = Clock.nowMs
      val state = p.stateOperators.map { s =>
        Map[String, Any]("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
          "update_ms" -> s.allUpdatesTimeMs, "commit_ms" -> s.commitTimeMs,
          "memory_bytes" -> s.memoryUsedBytes)
      }.toSeq
      progress.add(Map(
        "lane" -> Option(laneOf.get(p.id.toString)).getOrElse(p.name),
        "batch" -> p.batchId, "recv_ms" -> recv,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "rows" -> p.numInputRows,
        "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
        "state" -> state))
    }
  })

  def registerLane(queryId: String, lane: String): Unit = laneOf.put(queryId, lane)

  def drain(): Unit = LakebenchBridge.drainListenerBus(sc)

  /** Run `body` as one op: own job group, wall span, per-op counters.
    * An exception or a cancelled job group (timeout) marks the op failed
    * and is never rethrown; callers read `ok`. */
  def op(name: String, kind: String, traced: Boolean, timeoutS: Double)(body: Op => Unit): Op = {
    opSeq += 1
    val o = new Op(s"lb-op-$opSeq", name, kind, traced)
    ops.put(o.id, o)
    val timeout = new java.util.TimerTask {
      override def run(): Unit = { o.error = s"timeout after ${timeoutS}s"; sc.cancelJobGroup(o.id) }
    }
    watchdog.schedule(timeout, (timeoutS * 1000).toLong)
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val fl0 = org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    sc.setJobGroup(o.id, name, interruptOnCancel = true)
    o.startMs = Clock.nowMs
    try body(o)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[InterruptedException] =>
        o.ok = false
        if (o.error == null) o.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    } finally {
      o.endMs = Clock.nowMs
      timeout.cancel()
      sc.clearJobGroup()
      if (o.error != null) o.ok = false
      o.codegenMs = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e6
      o.filesListed =
        org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - fl0
      if (traced) drain()
    }
    o
  }

  private def opForJob(props: java.util.Properties): Op =
    if (props == null) null
    else {
      val group = props.getProperty("spark.jobGroup.id")
      if (group != null && group.startsWith("lb-op-")) ops.get(group)
      else {
        val qid = props.getProperty("sql.streaming.queryId")
        val bid = props.getProperty("streaming.sql.batchId")
        if (qid == null || bid == null) null
        else {
          val lane = Option(laneOf.get(qid)).getOrElse(qid)
          ops.computeIfAbsent(s"stream-$lane-$bid",
            k => new Op(k, lane, "stream_batch", traceStreams))
        }
      }
    }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val op = opForJob(js.properties)
    jobStages.put(js.jobId, js.stageIds)
    if (op != null) {
      op.jobs += 1
      jobOp.put(js.jobId, op)
      jobStart.put(js.jobId, js.time)
      js.stageIds.foreach(s => stageOp.putIfAbsent(s, (op, js.jobId)))
    }
  }

  /** SQL executions: the start event names the job group, so the op;
    * the end event, which follows it on this bus, carries the query
    * execution and its planning tracker. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith("lb-op-")).flatMap(g => Option(ops.get(g)))
        .foreach(op => execOp.put(s.executionId, op))
    case end: SparkListenerSQLExecutionEnd =>
      val op = execOp.remove(end.executionId)
      val qe = LakebenchBridge.queryExecution(end)
      if (op != null && op.traced && qe != null) {
        val ph = qe.tracker.phases
        op.analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        op.optimizerMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
        op.planningMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
      }
    case _ =>
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    submitted.add(s.stageInfo.stageId)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val hit = stageOp.get(t.stageId)
    if (hit != null && hit._1.traced && t.taskInfo != null)
      hit._1.taskDur.getOrElseUpdate(t.stageId, ArrayBuffer.empty) += t.taskInfo.duration
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val info = s.stageInfo
    val m = info.taskMetrics
    val hit = stageOp.get(info.stageId)
    if (hit != null && m != null) {
      val op = hit._1
      op.stagesRun += 1
      op.tasks += info.numTasks
      op.cpuNs += m.executorCpuTime
      op.gcMs += m.jvmGCTime
      op.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      op.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      op.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      op.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      op.inBytes += m.inputMetrics.bytesRead
      op.inRows += m.inputMetrics.recordsRead
      op.outBytes += m.outputMetrics.bytesWritten
      op.outRows += m.outputMetrics.recordsWritten
      if (op.traced)
        for (sub <- info.submissionTime; done <- info.completionTime)
          op.stageSpans += ((info.stageId, hit._2, sub.toDouble, done.toDouble))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val op = jobOp.remove(je.jobId)
    val stages = Option(jobStages.remove(je.jobId)).getOrElse(Nil)
    if (op != null) {
      op.stagesSkipped += stages.count(s => !submitted.contains(s))
      val t0 = jobStart.remove(je.jobId)
      if (op.traced && t0 != null) op.jobSpans += ((je.jobId, t0.toDouble, je.time.toDouble))
    }
  }

  def streamOps: Seq[Op] = ops.values.asScala.filter(_.kind == "stream_batch").toSeq
}
