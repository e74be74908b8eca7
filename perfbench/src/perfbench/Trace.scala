package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` is shared by every span of one
  * request; `parent` is 0 for the request's root span, whose `scope` names
  * the kind of request (query class, commit kind or sweep step). */
final case class Span(id: Long, parent: Long, req: String, scope: String,
    name: String, startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

object Tracer {
  val Off = new Tracer(false, null)
  val Untraced = "untraced"
}

/** Spark work of one job, summed over its tasks. */
final class JobRec(val jobId: Int, val group: String, val submitMs: Long) {
  var firstTaskMs: Long = Long.MaxValue
  val stages = mutable.Set.empty[Int]
  var tasks = 0L
  var taskTimeMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def schedulerDelayMs: Long = if (firstTaskMs == Long.MaxValue) 0L else firstTaskMs - submitMs
}

/** Records every job with its job group, first task launch and task
  * metrics. Handlers run on the single listener-bus thread. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val rec = new JobRec(e.jobId, group.orNull, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageToJob.contains(s)) stageToJob(s) = rec)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { j =>
      j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime)
      j.stages += e.stageId
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskTimeMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Span recorder. Disabled, it only runs the bodies: no listener, no job
  * groups, no clock reads. Enabled, each request sets a job group named
  * after its request id on the calling thread, so the listener can key the
  * request's Spark jobs; jobs started on other threads (which do not inherit
  * the group) are matched to the one request whose span covers their
  * submission time. Spans stay in memory until [[write]]. */
final class Tracer(val enabled: Boolean, sc: SparkContext, quiet: Boolean = false) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val reqIds = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, String, String)]] {
    override def initialValue(): List[(Long, String, String)] = Nil
  }
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  /** In a traced run, every other interactive operation of each class
    * (counted over all clients) runs untraced, so the run measures its own
    * tracing overhead and every class is traced from its first operation
    * on, wherever it sits in a query pool. An untraced operation's jobs
    * carry a job group that names no request, so they are never matched to
    * a traced one. */
  def every(cls: String): Tracer =
    if (enabled && runs.computeIfAbsent(cls, _ => new AtomicLong(0)).getAndIncrement() % 2 == 1)
      untracedHere
    else this
  private val runs = new ConcurrentHashMap[String, AtomicLong]()
  private lazy val untracedHere = new Tracer(false, sc, quiet = true)

  /** A root span: one request of kind `scope`. */
  def request[A](scope: String)(body: => A): A =
    if (!enabled) {
      if (!quiet) body
      else {
        sc.setJobGroup(Tracer.Untraced, scope, interruptOnCancel = false)
        try body finally sc.clearJobGroup()
      }
    } else {
      val req = s"$scope-${reqIds.incrementAndGet()}"
      sc.setJobGroup(req, scope, interruptOnCancel = false)
      try open(req, scope, scope, 0L)(body) finally sc.clearJobGroup()
    }

  /** A child span of the innermost open span of this thread. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else stack.get() match {
      case (parent, req, scope) :: _ => open(req, scope, name, parent)(body)
      case Nil => request(name)(body)
    }

  private def open[A](req: String, scope: String, name: String, parent: Long)(body: => A): A = {
    val id = ids.incrementAndGet()
    stack.set((id, req, scope) :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, req, scope, name, t0, System.nanoTime()))
      stack.set(stack.get().tail)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Median duration of the spans named `name` (under root spans whose
    * scope passes `scope`); 0 when there are none. */
  def median(name: String, scope: String => Boolean = _ => true): Double = {
    val xs = all.filter(s => s.name == name && scope(s.scope)).map(_.dur)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Spark jobs per request id, after the listener bus has drained. */
  def jobsByRequest(): Map[String, Seq[JobRec]] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      val roots = all.filter(_.parent == 0)
      // wall-clock ms of a span: nanoTime offsets anchored at one instant
      val anchorNs = System.nanoTime()
      val anchorMs = System.currentTimeMillis()
      def ms(ns: Long): Long = anchorMs - (anchorNs - ns) / 1000000L
      l.synchronized {
        l.jobs.values.toSeq.flatMap { j =>
          Option(j.group).orElse {
            val covering = roots.filter(r => ms(r.startNs) <= j.submitMs && j.submitMs <= ms(r.endNs))
            if (covering.size == 1) Some(covering.head.req) else None
          }.map(_ -> j)
        }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      }
  }

  /** Self time per span name: its duration minus its children's. */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val childDur = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.dur - childDur.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Writes the spans as JSON lines. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"req":"${s.req}","scope":"${s.scope}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}
