package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One micro-batch as the streaming engine reported it. */
final case class BatchInfo(
  runId: String,
  batchId: Long,
  startMs: Long,
  durations: Map[String, Long],
  rows: Long,
  progress: StreamingQueryProgress) {
  def phase(name: String): Long = durations.getOrElse(name, 0L)
  def triggerMs: Long = phase("triggerExecution")
  def endMs: Long = startMs + triggerMs
}

/** Collects every streaming progress event through the public
  * `StreamingQueryListener` API. Always on: batch durations come from
  * here in the timed runs as well as the traced ones. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[BatchInfo]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(BatchInfo(p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, p))
  }

  def all: Seq[BatchInfo] = events.asScala.toSeq.sortBy(_.startMs)

  /** Batches that read input, started at or after `fromMs`. */
  def dataBatches(fromMs: Long): Seq[BatchInfo] = all.filter(b => b.rows > 0 && b.startMs >= fromMs)

  /** Wait (bounded) until `n` data batches started at/after `fromMs` are in. */
  def awaitBatches(fromMs: Long, n: Int, timeoutMs: Long = 5000): Seq[BatchInfo] = {
    val deadline = Util.nowMs + timeoutMs
    while (dataBatches(fromMs).size < n && Util.nowMs < deadline) Thread.sleep(10)
    dataBatches(fromMs)
  }
}

/** The traced run's listener: SQL executions, jobs, stages and tasks
  * through the public `SparkListener` API, kept in memory. Micro-batch
  * spans come from [[ProgressLog]]; the two are joined by time window
  * and by the job properties the streaming engine sets. */
final class Tracer extends SparkListener {
  import Tracer._

  val execs = new ConcurrentHashMap[Long, Exec]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[String, Stage]()
  /** (stage key) → longest task run time, ms */
  val maxTaskMs = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var lastEventMs = Util.nowMs

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      lastEventMs = Util.nowMs
      execs.put(s.executionId, Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
        s.time, s.description, s.physicalPlanDescription))
    case e: SparkListenerSQLExecutionEnd =>
      lastEventMs = Util.nowMs
      Option(execs.get(e.executionId)).foreach(_.endMs = e.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = Util.nowMs
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong),
      prop("streaming.sql.batchId").map(_.toLong), e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = Util.nowMs
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val k = s"${e.stageId}.${e.stageAttemptId}"
      maxTaskMs.merge(k, e.taskMetrics.executorRunTime,
        (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(math.max(a, b)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = Util.nowMs
    val i = e.stageInfo
    val tm = i.taskMetrics
    val st = Stage(i.stageId, i.attemptNumber(), i.name, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      if (tm == null) 0L else tm.executorCpuTime,
      if (tm == null) 0L else tm.executorRunTime,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
      if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead,
      if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled,
      if (tm == null) 0L else tm.peakExecutionMemory)
    stages.put(st.key, st)
  }

  /** Listener events arrive asynchronously: wait until every started
    * job and execution has ended and the bus has been quiet a moment. */
  def quiesce(timeoutMs: Long = 5000): Unit = {
    val deadline = Util.nowMs + timeoutMs
    def settled = jobs.values.asScala.forall(_.endMs >= 0) &&
      execs.values.asScala.forall(_.endMs >= 0) && Util.nowMs - lastEventMs > 200
    while (!settled && Util.nowMs < deadline) Thread.sleep(20)
  }

  def stagesOf(job: Job): Seq[Stage] =
    job.stageIds.flatMap(id => stages.values.asScala.filter(_.id == id))

  def execsIn(fromMs: Long, toMs: Long): Seq[Exec] =
    execs.values.asScala.filter(x => x.startMs >= fromMs && x.startMs <= toMs).toSeq.sortBy(_.id)
}

object Tracer {
  final case class Exec(id: Long, root: Long, startMs: Long, description: String, plan: String) {
    @volatile var endMs: Long = -1L
  }
  final case class Job(id: Int, execId: Option[Long], batchId: Option[Long], startMs: Long,
                       stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(id: Int, attempt: Int, name: String, numTasks: Int, startMs: Long,
                         endMs: Long, cpuNs: Long, runMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, peakMem: Long) {
    def key: String = s"$id.$attempt"
  }
}

/** Emitter executions named by what their plan does, not by stage name
  * (every stage run inside `foreachBatch` carries the same call site). */
object ExecClass {
  val StageWrite = "stage_write"
  val BadRow = "badrow"
  val Meta = "meta"
  val Other = "other"
  val DeadLetter = ".deadletter"

  /** For executions nested in a micro-batch. Order matters: the staged
    * write's plan also filters on the reading-error row type. `meta` is
    * the batch-meta aggregates: the `min(seq)`/`max(seq)` range and,
    * with StatsD on, the earliest collector tstamp. */
  def of(x: Tracer.Exec): String =
    if (x.plan.contains("/_staging/")) StageWrite
    else if (x.plan.contains(DeadLetter)) BadRow
    else if (x.plan.contains("min(")) Meta
    else if (x.plan.contains("reading-error")) BadRow
    else Other
}

/** Spans for the trace file: run → micro-batch (progress phases) → SQL
  * execution → job → stage. Phase spans have only durations in the
  * progress report, so they are laid end to end in execution order
  * inside their batch (`derived: true`). */
object Spans {
  type Span = Map[String, Any]

  private val PhaseOrder = Seq(
    "latestOffset" -> "source", "walCommit" -> "pipeline", "getBatch" -> "source",
    "queryPlanning" -> "pipeline", "addBatch" -> "emitter", "commitOffsets" -> "pipeline")

  def span(id: String, name: String, layer: String, start: Long, end: Long,
           parent: Option[String], extra: (String, Any)*): Span =
    Map("id" -> id, "name" -> name, "layer" -> layer, "start_ms" -> start, "end_ms" -> end,
      "parent" -> parent) ++ extra

  def build(runStart: Long, runEnd: Long, workload: String, batches: Seq[BatchInfo],
            tracer: Tracer, extra: Seq[Span]): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    out += span("run", workload, "bench", runStart, runEnd, None)
    val execParent = scala.collection.mutable.Map.empty[Long, String]
    for (b <- batches) {
      val bid = s"batch-${b.runId.take(8)}-${b.batchId}"
      out += span(bid, "micro-batch", "pipeline", b.startMs, b.endMs, Some("run"),
        "batch" -> b.batchId, "rows" -> b.rows)
      var t = b.startMs
      for ((phase, layer) <- PhaseOrder; d = b.phase(phase) if d > 0) {
        out += span(s"$bid-$phase", phase, layer, t, t + d, Some(bid),
          "batch" -> b.batchId, "derived" -> true)
        t += d
      }
      tracer.execsIn(b.startMs, b.endMs).foreach(x => execParent.getOrElseUpdate(x.id, bid))
    }
    // A top-level execution inside a batch window is the micro-batch's
    // own; one inside an isolated call belongs to that call's layer.
    def enclosing(x: Tracer.Exec): Option[Span] = extra.find(e =>
      e("start_ms").asInstanceOf[Long] <= x.startMs && x.startMs <= e("end_ms").asInstanceOf[Long])
    for (x <- tracer.execs.values.asScala.toSeq.sortBy(_.id)) {
      val (name, layer, parent) =
        if (x.root != x.id) (ExecClass.of(x), "emitter", s"exec-${x.root}")
        else execParent.get(x.id).map(b => ("micro_batch", "pipeline", b))
          .orElse(enclosing(x).map(e => ("sql", e("layer").toString, e("id").toString)))
          .getOrElse(("sql", "queries", "run"))
      out += span(s"exec-${x.id}", name, layer, x.startMs, x.endMs, Some(parent),
        "description" -> x.description.take(120))
    }
    for (j <- tracer.jobs.values.asScala.toSeq.sortBy(_.id)) {
      out += span(s"job-${j.id}", "job", "spark", j.startMs, j.endMs,
        j.execId.map(e => s"exec-$e").orElse(Some("run")), "batch" -> j.batchId)
      for (s <- tracer.stagesOf(j))
        out += span(s"stage-${s.key}", s.name.take(80), "spark", s.startMs, s.endMs,
          Some(s"job-${j.id}"), "tasks" -> s.numTasks, "cpu_ms" -> s.cpuNs / 1e6)
    }
    out ++= extra
    out.result()
  }
}
