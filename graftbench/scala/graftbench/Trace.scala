package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into a graft module (or a benchmark step that
  * groups such calls). `name` is `<layer>.<what>`. */
final class Span(val id: Int, val name: String, val parent: Int,
    val t0Ns: Long, val t0Ms: Long) {
  var t1Ns = 0L
  var t1Ms = 0L
  /** `<queryId>:<batchId>` when the span is one streaming epoch. */
  var stream: String = null
  /** From the SQL actions that ended inside this span (own, not children). */
  var analysisMs = 0.0
  var optPlanMs = 0.0
  var actions = 0
  var joinRows = 0L
  var outRows = 0L
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (t1Ns - t0Ns) / 1e6
}

/** Engine counters of one attribution key. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The trace collector. Spans are opened and closed on the client thread
  * and kept in memory; Spark listeners registered here attribute engine
  * counters to them:
  *  - a job belongs to the span named by the local property [[PropKey]]
  *    that the client thread set when it submitted the job, or, when it
  *    carries a streaming batch id, to that (query, batch) epoch;
  *  - a SQL action's planning phases and plan metrics belong to the span
  *    that was innermost when the action finished (the listener bus is
  *    drained at every span end, so the events have arrived by then).
  */
object Trace {
  val PropKey = "graftbench.span"
  private val BatchIdKey = "streaming.sql.batchId"
  private val QueryIdKey = "sql.streaming.queryId"

  private var spark: SparkSession = _
  @volatile private var on = false
  private var nextId = 0
  private var stack = List.empty[Span]
  val spans = mutable.ArrayBuffer[Span]()

  // written by the listener bus thread, read after a drain
  private val stageKey = new ConcurrentHashMap[Integer, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val qeEvents = new ConcurrentLinkedQueue[QeEvent]()
  private val progress = new ConcurrentHashMap[String, StreamingQueryProgress]()

  private final case class QeEvent(analysisMs: Double, optPlanMs: Double,
      joinRows: Long, outRows: Long)

  private def counter(key: String): Counters =
    counters.computeIfAbsent(key, _ => new Counters)

  private object Engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val key = p.flatMap(p => Option(p.getProperty(BatchIdKey))
          .map(b => s"q:${p.getProperty(QueryIdKey)}:$b"))
        .orElse(p.flatMap(p => Option(p.getProperty(PropKey))).map("s:" + _))
        .getOrElse("none")
      e.stageIds.foreach(s => stageKey.put(s, key))
      val c = counter(key)
      c.synchronized(c.jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val c = counter(stageKey.getOrDefault(e.stageInfo.stageId, "none"))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counter(stageKey.getOrDefault(e.stageId, "none"))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
      taskIntervals.add(e.taskInfo.launchTime -> e.taskInfo.finishTime)
    }
  }

  private object Sql extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phaseMs(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val plan = qe.executedPlan
      def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val joinRows = collect(plan) { case j: BaseJoinExec => rows(j) }
      val firstRows = collectFirst(plan) { case p if p.metrics.contains("numOutputRows") => rows(p) }
      qeEvents.add(QeEvent(phaseMs("analysis"),
        phaseMs("optimization") + phaseMs("planning"),
        if (joinRows.isEmpty) 0L else joinRows.max, firstRows.getOrElse(0L)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.put(s"${e.progress.id}:${e.progress.batchId}", e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def enabled: Boolean = on

  /** Forget everything collected so far (between workloads of one JVM). */
  def reset(): Unit = {
    spans.clear(); nextId = 0
    Seq(stageKey, counters, progress).foreach(_.clear())
    taskIntervals.clear(); qeEvents.clear()
  }

  /** Start collecting on `s`. Spans from an earlier collection are kept. */
  def start(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(Engine)
    s.listenerManager.register(Sql)
    s.streams.addListener(Streams)
    on = true
  }

  /** Stop collecting: drain the listener bus and unregister. */
  def stop(): Unit = if (on) {
    drain()
    on = false
    spark.sparkContext.removeSparkListener(Engine)
    spark.listenerManager.unregister(Sql)
    spark.streams.removeListener(Streams)
  }

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Run `body` inside a span; a no-op wrapper while tracing is off. */
  def span[T](name: String)(body: => T): T = if (!on) body else {
    val sc: SparkContext = spark.sparkContext
    nextId += 1
    val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      // the drain is tracing overhead: it lands in the parent's self time
      s.t1Ns = System.nanoTime(); s.t1Ms = System.currentTimeMillis()
      drain()
      var e = qeEvents.poll()
      while (e != null) {
        s.analysisMs += e.analysisMs; s.optPlanMs += e.optPlanMs; s.actions += 1
        s.joinRows += e.joinRows; s.outRows = e.outRows
        e = qeEvents.poll()
      }
      stack = stack.tail
      sc.setLocalProperty(PropKey, prev)
    }
  }

  // ---- reading the trace (after stop()) ----

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counters of the span and everything under it, streaming epochs
    * included. */
  def countersOf(s: Span): Counters = {
    val keys = subtree(s).flatMap(x => Seq("s:" + x.id) ++ Option(x.stream).map("q:" + _))
    val out = new Counters
    keys.flatMap(k => Option(counters.get(k))).foreach { c =>
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.taskRunMs += c.taskRunMs; out.shuffleWriteBytes += c.shuffleWriteBytes
      out.spillBytes += c.spillBytes
    }
    out
  }

  private def mergedIntervals: Array[(Long, Long)] = {
    val sorted = taskIntervals.asScala.toArray.sortBy(_._1)
    val out = mutable.ArrayBuffer[(Long, Long)]()
    sorted.foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.length - 1) = out.last._1 -> math.max(out.last._2, b)
      else out += a -> b
    }
    out.toArray
  }

  /** Wall time inside the span during which no task was running. */
  def driverGapMs(s: Span): Double = {
    val busy = mergedIntervals.iterator.map { case (a, b) =>
      math.max(0L, math.min(b, s.t1Ms) - math.max(a, s.t0Ms))
    }.sum
    math.max(0.0, (s.t1Ms - s.t0Ms - busy).toDouble)
  }

  def progressOf(s: Span): Option[StreamingQueryProgress] =
    Option(s.stream).flatMap(k => Option(progress.get(k)))

  /** Self time: the span's duration minus the time its children cover. */
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = countersOf(s)
      Json(scala.collection.immutable.ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.t0Ms, "end_ms" -> s.t1Ms, "dur_ms" -> s.ms,
        "self_ms" -> selfMs(s), "stream" -> Option(s.stream),
        "sql_actions" -> s.actions, "plan_ms" -> (s.analysisMs + s.optPlanMs),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_ms" -> c.taskRunMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "driver_gap_ms" -> driverGapMs(s)))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
