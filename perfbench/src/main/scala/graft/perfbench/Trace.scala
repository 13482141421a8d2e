package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and engine events of one traced run, held in memory and
  * written as JSON at exit. Every time is epoch milliseconds (double),
  * the clock Spark's listener events carry, so jobs and plans can be
  * placed inside spans afterwards (perfbench/stats.py does that).
  *
  * One client thread drives the workload, so spans nest strictly: the
  * parent of a new span is the innermost span still open. `on` limits
  * spans to the timed region: when it is false `span` only runs its
  * body. Listener events arrive asynchronously, so the listeners record
  * every event with the engine's own time and the events are placed in
  * spans (and in the timed window) afterwards. */
final class Trace(traced: Boolean) {
  import Trace._

  @volatile var on: Boolean = traced
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Run `body` inside span `name`; `request` ties a span tree to the
    * operation (serve, day, query) that opened it. */
  def span[A](name: String, request: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.length, stack.headOption.fold(-1)(_.id), name,
        if (request >= 0) request else stack.headOption.fold(-1L)(_.request),
        nowMs())
      spans += s
      stack = s :: stack
      try body
      finally { s.end = nowMs(); stack = stack.tail }
    }

  // -- engine events -------------------------------------------------
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAcc]
  private val plans = ArrayBuffer.empty[Plan]
  private var attached = false
  @volatile private var marker: QueryExecution = _
  @volatile private var markerSeen = false

  /** Install (`attach`) or remove (`detach`) both listeners. */
  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    attached = true
  }
  def detach(spark: SparkSession): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  private val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        jobs += Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
        e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAcc(s, e.jobId)))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobs.find(_.id == e.jobId).foreach { j =>
          j.end = e.time.toDouble
          j.failed = !e.jobResult.isInstanceOf[JobSucceeded.type]
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        stages.get(e.stageId).foreach { s =>
          val m = e.taskMetrics
          if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
          s.durations += e.taskInfo.duration
          if (m != null) {
            s.cpuNs += m.executorCpuTime
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            s.gcMs += m.jvmGCTime
          }
        }
      }
  }

  private val planListener: QueryExecutionListener = new QueryExecutionListener {
    /** A query is placed at the start of its first planning phase. */
    private def record(qe: QueryExecution): Unit =
      if (qe eq marker) markerSeen = true
      else {
        val phases = qe.tracker.phases.values
        val ms = phases.map(p => p.endTimeMs - p.startTimeMs).sum
        val at = if (phases.isEmpty) nowMs() else phases.map(_.startTimeMs).min.toDouble
        Trace.this.synchronized { plans += Plan(at, ms.toDouble) }
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Listener delivery is asynchronous: run a marker query and wait
    * (bounded) until the plan listener has seen it. Both listeners sit
    * on the listener bus's shared queue, which delivers in order, so
    * every job and plan event posted before the marker has then arrived. */
  def drain(spark: SparkSession, timeoutMs: Long = 10000L): Unit = {
    val q = spark.range(1).toDF("drain")
    marker = q.queryExecution
    q.collect()
    val until = System.currentTimeMillis() + timeoutMs
    while (!markerSeen && System.currentTimeMillis() < until) Thread.sleep(20)
  }

  def toJson: String = synchronized {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.filterNot(_.end.isNaN).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""request":${s.request},"start":${s.start},"end":${s.end}}"""
    }.mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(jobs.map { j =>
      s"""{"id":${j.id},"start":${j.start},"end":${if (j.end.isNaN) j.start else j.end},""" +
        s""""failed":${j.failed},"stages":[${j.stages.mkString(",")}]}"""
    }.mkString(","))
    sb.append("],\"stages\":[")
    sb.append(stages.values.map { s =>
      s"""{"id":${s.id},"job":${s.job},"tasks":${s.durations.length},""" +
        s""""task_ms":[${s.durations.mkString(",")}],"cpu_ns":${s.cpuNs},""" +
        s""""shuffle_read":${s.shuffleRead},"shuffle_write":${s.shuffleWrite},""" +
        s""""spill":${s.spill},"gc_ms":${s.gcMs},"failed_tasks":${s.failedTasks}}"""
    }.mkString(","))
    sb.append("],\"plans\":[")
    sb.append(plans.map { p =>
      s"""{"at":${p.at},"planning_ms":${p.planningMs}}"""
    }.mkString(","))
    sb.append("]}")
    sb.toString
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, request: Long,
      start: Double, var end: Double = Double.NaN)
  final case class Job(id: Int, start: Double, var end: Double,
      stages: Seq[Int], var failed: Boolean = false)
  final class StageAcc(val id: Int, val job: Int) {
    val durations = ArrayBuffer.empty[Long]
    var cpuNs, shuffleRead, shuffleWrite, spill, gcMs, failedTasks = 0L
  }
  /** A finished query execution and its analysis + optimization +
    * planning time, from its QueryPlanningTracker phases. */
  final case class Plan(at: Double, planningMs: Double)
}

/** Minimal JSON writing for the result files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  /** An object from already-encoded JSON values. */
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
