package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Epoch-microsecond clock anchored once, so benchmark spans (nanoTime) and
  * listener timestamps (epoch millis) share one time axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochMicros0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochMicros0 + (System.nanoTime() - nano0) / 1000L
}

/** Spans recorded by the benchmark around each call it makes into a graft
  * module. Kept in memory; written as JSONL at exit. When tracing is off,
  * `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
      start: Long, var end: Long)
  val spans = new ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var currentOp = -1
  @volatile private var sc: org.apache.spark.SparkContext = _

  def bind(context: org.apache.spark.SparkContext): Unit = sc = context

  /** The op root span; every span opened inside belongs to `opId`. */
  def op[A](opId: Int, kind: String)(body: => A): A = {
    currentOp = opId
    try span("bench", kind)(body) finally currentOp = -1
  }

  def span[A](layer: String, name: String)(body: => A): A = {
    if (!enabled) return body
    val s = Span(spans.length, stack.headOption.fold(-1)(_.id), currentOp, layer, name,
      Clock.nowUs, -1L)
    spans += s
    stack = s :: stack
    // jobs the call submits carry the span id, so the listener can parent them
    if (sc != null) sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body finally {
      s.end = Clock.nowUs
      stack = stack.tail
      if (sc != null)
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer { val SpanProp = "perfbench.span" }

/** Bytes and rows written by Spark tasks of jobs submitted inside a timed
  * op (local property [[OutputCounter.TimedProp]]). Registered in every
  * run, because result_bytes_per_row is an end-to-end metric. */
final class OutputCounter extends SparkListener {
  val bytes = new AtomicLong
  val rows = new AtomicLong
  private val timedStages = ConcurrentHashMap.newKeySet[Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty(OutputCounter.TimedProp) == "1"))
      e.stageIds.foreach(s => timedStages.add(s))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (timedStages.contains(e.stageId)) Option(e.taskMetrics).foreach { m =>
      bytes.addAndGet(m.outputMetrics.bytesWritten)
      rows.addAndGet(m.outputMetrics.recordsWritten)
    }
}

object OutputCounter { val TimedProp = "perfbench.timed" }

/** Engine-side records for the traced run: one line per Spark job (with its
  * tasks' metrics summed), per query execution (planning phases) and per
  * streaming micro-batch. */
final class EngineRecorder extends SparkListener {
  final class JobAcc(val id: Int, val start: Long, val span: String) {
    @volatile var end = -1L
    @volatile var succeeded = true
    val stages = new AtomicLong
    val m = new Array[Long](EngineRecorder.TaskFields.length)
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val queryRecords = new ArrayBuffer[String]()
  val batchRecords = new ArrayBuffer[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).getOrElse("")
    jobs.put(e.jobId, new JobAcc(e.jobId, e.time * 1000L, span))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time * 1000L
      j.succeeded = e.jobResult == JobSucceeded
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).orNull
    if (job == null) return
    val failed = e.reason != org.apache.spark.Success
    val tm = e.taskMetrics
    val vals: Array[Long] =
      if (tm == null) Array(1L, if (failed) 1L else 0L, e.taskInfo.duration) ++ Array.fill(12)(0L)
      else Array(
        1L, if (failed) 1L else 0L, e.taskInfo.duration,
        tm.executorRunTime, tm.executorCpuTime, tm.jvmGCTime,
        tm.inputMetrics.bytesRead, tm.inputMetrics.recordsRead,
        tm.outputMetrics.bytesWritten, tm.outputMetrics.recordsWritten,
        tm.shuffleWriteMetrics.bytesWritten,
        tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead,
        tm.shuffleReadMetrics.fetchWaitTime,
        tm.memoryBytesSpilled + tm.diskBytesSpilled,
        tm.shuffleReadMetrics.recordsRead)
    job.m.synchronized { vals.indices.foreach(i => job.m(i) += vals(i)) }
  }

  def jobLines: Seq[String] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      val fields = EngineRecorder.TaskFields.zip(j.m).map { case (k, v) => s""""$k":$v""" }
      s"""{"kind":"job","id":${j.id},"start":${j.start},"end":${j.end},""" +
        s""""span":${if (j.span.isEmpty) -1 else j.span},"ok":${j.succeeded},"stages":${j.stages.get},${fields.mkString(",")}}"""
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // listener callbacks arrive late; the phases carry when planning ran
      val ph = qe.tracker.phases
      def ms(name: String) = ph.get(name).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val startUs = if (ph.isEmpty) Clock.nowUs else ph.values.map(_.startTimeMs).min * 1000L
      val line = s"""{"kind":"query","start":$startUs,"analysis_ms":${ms("analysis")},""" +
        s""""optimization_ms":${ms("optimization")},"planning_ms":${ms("planning")}}"""
      queryRecords.synchronized(queryRecords += line)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(event: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = event.progress
      val start = java.time.Instant.parse(p.timestamp)
      val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000L
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      val line = s"""{"kind":"batch","start":$startUs,"trigger_ms":${d("triggerExecution")},""" +
        s""""add_batch_ms":${d("addBatch")},"plan_ms":${d("queryPlanning")},""" +
        s""""wal_ms":${d("walCommit")},"commit_offsets_ms":${d("commitOffsets")},""" +
        s""""input_rows":${p.numInputRows},""" +
        s""""state_commit_ms":${ops.map(_.commitTimeMs).sum},""" +
        s""""state_rows_updated":${ops.map(_.numRowsUpdated).sum},""" +
        s""""state_rows_total":${ops.map(_.numRowsTotal).sum},""" +
        s""""state_mem_bytes":${ops.map(_.memoryUsedBytes).sum}}"""
      batchRecords.synchronized(batchRecords += line)
    }
  }
}

object EngineRecorder {
  val TaskFields: Seq[String] = Seq(
    "tasks", "failed_tasks", "task_ms", "run_ms", "cpu_ns", "gc_ms",
    "read_bytes", "read_rows", "write_bytes", "write_rows",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
    "shuffle_read_rows")
}
