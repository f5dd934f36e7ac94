package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One closed span: name, wall-clock bounds, parent span and the run id
  * every span of one traced run shares.
  */
final case class Span(runId: String, name: String, parent: Option[String],
    startMs: Long, endMs: Long, wallNs: Long)

/** Task metrics summed over the tasks of one span's jobs. */
final case class SpanCost(jobs: Long, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, spillMb: Double, idleS: Double)

/** Spans around calls into the program, kept in memory until the run
  * ends, and a `SparkListener` that books each finished task to the span
  * whose job submitted it. Jobs carry the open span's name as a local
  * property, so attribution does not depend on when the asynchronous
  * listener bus delivers an event.
  */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  import Tracer.{SpanProperty, TaskRec}

  private val closed = new ConcurrentLinkedQueue[Span]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobCounts = new ConcurrentHashMap[String, AtomicLong]()
  private val busyNs = new AtomicLong()
  private var open: List[String] = Nil

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).foreach { s =>
      jobCounts.computeIfAbsent(s, _ => new AtomicLong()).incrementAndGet()
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks.add(TaskRec(Option(stageSpan.get(e.stageId)), info.launchTime,
      info.finishTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled))
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  /** Time this listener has spent handling events: the tracing's own cost. */
  def busyS: Double = busyNs.get / 1e9

  /** Run `body` inside span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption
    open = name :: open
    sc.setLocalProperty(SpanProperty, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      closed.add(Span(runId, name, parent, startMs, System.currentTimeMillis(), wall))
      open = open.tail
      sc.setLocalProperty(SpanProperty, parent.orNull)
    }
  }

  /** Closed spans in the order they ended. */
  def spans: Seq[Span] = closed.asScala.toSeq

  /** Per-span cost. Call after [[drain]] so every task end is booked.
    * `idleS` is the part of the span's window in which no task of any span
    * ran: planning, scheduling and other work outside tasks.
    */
  def cost(s: Span): SpanCost = {
    val all = tasks.asScala.toSeq
    val own = all.filter(_.span.contains(s.name))
    val busyMs = unionLength(all.map(t => (t.launchMs max s.startMs, t.finishMs min s.endMs))
      .filter { case (a, b) => b > a })
    SpanCost(
      jobs = Option(jobCounts.get(s.name)).map(_.get).getOrElse(0L),
      cpuS = own.map(_.cpuNs).sum / 1e9,
      gcS = own.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = own.map(_.shuffleWriteBytes).sum / 1e6,
      spillMb = own.map(_.spillBytes).sum / 1e6,
      idleS = math.max(0L, (s.endMs - s.startMs) - busyMs) / 1e3)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBusAccess.drain(sc)

  private def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The spans and their costs as a JSON array (written when the run ends). */
  def toJson: String = spans.map { s =>
    val c = cost(s)
    val parent = s.parent.map(p => "\"" + p + "\"").getOrElse("null")
    s"""{"run_id":"${s.runId}","name":"${s.name}","parent":$parent,""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallNs / 1e9},""" +
      s""""jobs":${c.jobs},"cpu_s":${c.cpuS},"idle_s":${c.idleS},"gc_s":${c.gcS},""" +
      s""""shuffle_write_mb":${c.shuffleWriteMb},"spill_mb":${c.spillMb}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Local property that tags a job with the span that submitted it. */
  val SpanProperty = "graftbench.span"

  private final case class TaskRec(span: Option[String], launchMs: Long,
      finishMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
      spillBytes: Long)
}
