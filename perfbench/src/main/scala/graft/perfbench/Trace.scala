package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are opened by the benchmark around its own calls into the
  * program's public API; `op` ties every span of one tick, request or
  * query together. Spark's public listeners add events (jobs,
  * tasks, query-planning phases, scan metrics, stream progress) with
  * their own wall-clock times; `spans.py` attaches each event to the
  * innermost span that contains it. Nothing is written until the run
  * ends.
  */
object Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startMs: Double, var endMs: Double)
  final case class Event(kind: String, name: String, startMs: Double,
                         endMs: Double, values: Map[String, Double])

  private val t0Nano = System.nanoTime()
  private val t0Wall = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds at nanoTime resolution. */
  def nowMs: Double = t0Wall + (System.nanoTime() - t0Nano) / 1e6

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  val events = new ConcurrentLinkedQueue[Event]()
  private var stack: List[Int] = Nil
  private var curOp = -1

  /** Run `f` as operation `id` (the root span of one tick or request). */
  def op[A](id: Int, name: String)(f: => A): A = {
    curOp = id
    try span(name)(f) finally curOp = -1
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), curOp, name,
        nowMs, Double.NaN)
      spans += s
      stack = s.id :: stack
      try f finally { s.endMs = nowMs; stack = stack.tail }
    }

  def event(e: Event): Unit = if (enabled) events.add(e)

  def eventList: Seq[Event] = events.asScala.toSeq
}

/** Query-planning phases, action time and file-scan metrics of every
  * finished query. */
class QeListener extends QueryExecutionListener {
  private def scans(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => return scans(a.executedPlan)
      case q: QueryStageExec => return scans(q.plan)
      case o if o.metrics.contains("numFiles") => Seq(o)
      case _ => Nil
    }
    here ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }

  private def record(kind: String, qe: QueryExecution, ns: Long): Unit = {
    val end = Trace.nowMs
    Trace.event(Trace.Event(kind, "action", end - ns / 1e6, end, Map.empty))
    for ((phase, s) <- qe.tracker.phases)
      Trace.event(Trace.Event("phase", phase, s.startTimeMs.toDouble,
        s.endTimeMs.toDouble, Map.empty))
    val sc = scala.util.Try(scans(qe.executedPlan)).getOrElse(Nil)
    def sum(m: String) = sc.flatMap(_.metrics.get(m)).map(_.value).sum.toDouble
    if (sc.nonEmpty)
      Trace.event(Trace.Event("scan", "scan", end, end, Map(
        "files" -> sum("numFiles"), "bytes" -> sum("filesSize"),
        "metadata_ms" -> sum("metadataTime"))))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    record("action", qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    record("action_failed", qe, 0L)
}

/** Job spans and per-task executor metrics. */
class JobListener extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    starts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { s =>
      Trace.event(Trace.Event("job", "job", s.toDouble, e.time.toDouble,
        Map.empty))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      Trace.event(Trace.Event("task", "task", e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble, Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble)))
  }
}

/** Micro-batch progress: `durationMs` per trigger phase. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    Trace.event(Trace.Event("stream", "trigger", start,
      start + d.getOrElse("triggerExecution", 0.0),
      d + ("input_rows" -> p.numInputRows.toDouble)))
  }
}
