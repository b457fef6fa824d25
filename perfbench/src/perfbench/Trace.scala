package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans for the traced run.
  *
  * A span is (id, parent, name, start, end, attributes); times are
  * nanoseconds on one clock that starts when the tracer is created. The
  * benchmark opens spans for passes, lanes and direct layer calls; the
  * listeners below add one span per Spark job (parented to the lane that
  * ran it) and one per streaming micro-batch. Nothing is written until
  * [[spans]] is read at the end of the run.
  *
  * When tracing is off, [[span]] only runs its body. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String,
      start: Long, end: Long, attrs: Map[String, Any])

  @volatile var enabled: Boolean = false

  private val nanoBase = System.nanoTime()
  private val epochBaseMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0L)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def now(): Long = System.nanoTime() - nanoBase
  /** An epoch-millisecond event time (Spark listener events) on the span clock. */
  def fromEpochMs(ms: Long): Long = (ms - epochBaseMs) * 1000000L

  def newId(): Long = ids.incrementAndGet()
  def current: Long = stack.get().headOption.getOrElse(0L)

  def record(s: Span): Unit = recorded.synchronized { recorded += s }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** A span opened on this thread; spans opened inside it are its children. */
  final class Open private[Trace] (val id: Long, val parent: Long, val start: Long)

  def open(): Open = {
    val o = new Open(newId(), current, now())
    stack.set(o.id :: stack.get())
    o
  }

  def close(o: Open, name: String, attrs: Map[String, Any]): Unit = {
    stack.set(stack.get().tail)
    record(Span(o.id, o.parent, name, o.start, now(), attrs))
  }

  /** Run `f` inside a span named `name`; `attrs` is evaluated after `f`. */
  def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val o = open()
      try f finally close(o, name, attrs)
    }
}

/** Per-job counters folded from task-end events. */
private final class JobStats(val id: Int, val start: Long, val parent: Long,
    val callSite: String, val longCallSite: String) {
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Spark engine layer: one span per job, parented to the lane span that
  * ran it. The lane comes from the `perfbench.span` local property the
  * benchmark sets on its thread (inherited by threads it starts); a
  * streaming job whose thread did not inherit it is placed by its query id,
  * which [[StreamListener]] maps to the lane that started the query. */
final class JobListener(streams: StreamListener) extends SparkListener {
  private val jobs = mutable.Map.empty[Int, JobStats]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val parent = prop(JobListener.SpanProperty).map(_.toLong)
      .orElse(prop("sql.streaming.queryId").flatMap(streams.laneOf))
      .getOrElse(0L)
    // the result stage (the job's newest) carries the job's call site: short
    // as its name, long as its details; parent stages may be reused ones
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    jobs(e.jobId) = new JobStats(e.jobId, Trace.fromEpochMs(e.time), parent,
      result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""))
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      Trace.record(Trace.Span(Trace.newId(), j.parent, "spark.job", j.start,
        Trace.fromEpochMs(e.time), Map(
          "job" -> j.id, "stages" -> j.stages, "tasks" -> j.tasks,
          "task_failures" -> j.taskFailures, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
          "gc_ms" -> j.gcMs, "shuffle_write" -> j.shuffleWrite,
          "shuffle_read" -> j.shuffleRead, "spill" -> j.spill, "input" -> j.input,
          "output" -> j.output,
          "call_site" -> j.callSite,
          "graftshim" -> JobListener.isGraftBridge(j.callSite + "\n" + j.longCallSite),
          "failed" -> !e.jobResult.isInstanceOf[JobSucceeded.type])))
    }
  }
}

object JobListener {
  val SpanProperty = "perfbench.span"

  /** GraftBridge sits in an `org.apache.spark.sql` package, so the short
    * call site names its method ("localCheckpointCount at Scc.scala:NN") and
    * the long one starts at its frame. */
  def isGraftBridge(callSite: String): Boolean =
    callSite.contains("GraftBridge") ||
      callSite.matches("(?s).*\\blocalCheckpoint(Count|Xor) at .*")
}

/** Plans layer: Catalyst phase times of every query execution, summed into
  * the lane that is current when the (drained) listener bus delivers it. */
final class PlanListener extends QueryExecutionListener {
  @volatile var lane: Long = 0L

  private def add(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    val catalystMs = phases.values.map(_.durationMs).sum
    Trace.record(Trace.Span(Trace.newId(), lane, "plans.query_execution", Trace.now(), Trace.now(),
      Map("catalyst_ms" -> catalystMs, "ok" -> ok)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe, ok = false)
}

/** Streaming layer: query start, one span per micro-batch with its
  * progress durations and state-store figures. */
final class StreamListener extends StreamingQueryListener {
  @volatile var lane: Long = 0L
  private val queryLane = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val started = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def laneOf(queryId: String): Option[Long] = Option(queryLane.get(queryId)).map(_.longValue)

  // delivered synchronously on the thread that starts the query
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    queryLane.put(e.id.toString, lane)
    started.put(e.id.toString, Trace.now())
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val id = p.id.toString
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val end = Trace.now()
    val first = Option(started.remove(id)).map(s => end - s.longValue)
    val states = p.stateOperators.toSeq
    Trace.record(Trace.Span(Trace.newId(), laneOf(id).getOrElse(0L), "streaming.microbatch",
      end - ms("triggerExecution") * 1000000L, end, Map(
        "query" -> id, "batch" -> p.batchId, "input_rows" -> p.numInputRows,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "wal_commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
        "planning_ms" -> ms("queryPlanning"),
        "source_ms" -> (ms("latestOffset") + ms("getBatch")),
        "state_rows" -> states.map(_.numRowsTotal).sum,
        "state_commit_ms" -> states.map(_.commitTimeMs).sum,
        "state_memory_bytes" -> states.map(_.memoryUsedBytes).sum) ++
        first.map(ns => "start_ms" -> ns / 1e6)))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Attaches and detaches the three listeners, so untraced and traced
  * passes can alternate in one process. */
final class Tracer(spark: SparkSession) {
  private val streams = new StreamListener
  private val jobs = new JobListener(streams)
  private val plans = new PlanListener
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    Trace.enabled = true
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
    Trace.enabled = false
    attached = false
  }

  /** Deliver every event posted so far, so the listeners have seen all of
    * a lane's jobs before the next lane starts. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

  def setLane(spanId: Long): Unit = {
    plans.lane = spanId
    streams.lane = spanId
    spark.sparkContext.setLocalProperty(JobListener.SpanProperty,
      if (spanId == 0L) null else spanId.toString)
  }
}
