package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to an interval: sums over the jobs that
  * started inside it and the query executions planned inside it. */
final case class Work(
    jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, cpuMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, gcMs: Long = 0,
    bytesWritten: Long = 0, recordsWritten: Long = 0,
    planningMs: Long = 0, queryExecutions: Long = 0,
    /** Wall time covered by at least one job, clipped to the interval. */
    jobCoveredMs: Double = 0)

/** Spans and Spark counters for the traced run, from Spark's public
  * listener APIs only. Spans are kept in memory and written at the
  * end; a span's parent is the innermost container span that covers
  * it. Times are epoch milliseconds (Spark's event clock).
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val perJob = mutable.HashMap.empty[Int, Agg]
  private val qes = mutable.ArrayBuffer.empty[(Long, Long)] // (planning start ms, planning ms)
  @volatile private var events = 0L

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    enabled = true
    Tracer.active = Some(this)
  }

  def detach(spark: SparkSession): Unit = {
    drain()
    enabled = false
    Tracer.active = None
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Records `body` as a span of `kind` when tracing is on. */
  def span[A](name: String, kind: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = now()
      try body finally record(name, kind, t0, now())
    }

  def record(name: String, kind: String, start: Double, end: Double): Unit =
    if (enabled) spans.add(Span(nextId.incrementAndGet(), name, kind, start, end)): Unit

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      record(s"job ${e.jobId}", "job", j.start.toDouble, e.time.toDouble)
    }
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { jid =>
      val a = perJob.getOrElseUpdate(jid, new Agg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.recordsWritten += m.outputMetrics.recordsWritten
    }
    events += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) qes += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The listener bus is asynchronous and its drain call is not
    * public: wait until every started job has ended and no event
    * arrived for 200 ms. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 10000000000L
    while (quiet < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val (n, open) = synchronized((events, jobs.values.count(_.end < 0)))
      if (n == last && open == 0) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Spark work of the jobs that started in [start, end). */
  def work(start: Double, end: Double): Work = synchronized {
    val js = jobs.values.filter(j => j.end >= 0 && j.start >= start && j.start < end).toSeq
    val aggs = js.flatMap(j => perJob.get(j.id))
    val (planning, n) = qes.iterator.filter { case (t, _) => t >= start && t < end }
      .foldLeft((0L, 0L)) { case ((p, c), (_, ms)) => (p + ms, c + 1) }
    Work(
      jobs = js.size.toLong, tasks = aggs.map(_.tasks).sum, runMs = aggs.map(_.runMs).sum,
      cpuMs = aggs.map(_.cpuNs).sum / 1000000L, shuffleRead = aggs.map(_.shuffleRead).sum,
      shuffleWrite = aggs.map(_.shuffleWrite).sum, spill = aggs.map(_.spill).sum,
      gcMs = aggs.map(_.gcMs).sum, bytesWritten = aggs.map(_.bytesWritten).sum,
      recordsWritten = aggs.map(_.recordsWritten).sum, planningMs = planning, queryExecutions = n,
      jobCoveredMs = Tracer.unionLength(js.map(j => (math.max(j.start.toDouble, start), math.min(j.end.toDouble, end)))))
  }

  /** Writes every span as one JSON line with its parent and self time. */
  def write(path: java.nio.file.Path): Int = {
    val all = spans.asScala.toVector.sortBy(s => (s.start, -s.end))
    val parent = mutable.HashMap.empty[Int, Int]
    val open = mutable.Stack.empty[Span]
    all.foreach { s =>
      while (open.nonEmpty && open.top.end <= s.start) open.pop()
      while (open.nonEmpty && open.top.end < s.end) open.pop()
      open.headOption.foreach(p => parent(s.id) = p.id)
      if (s.kind != "fetch") open.push(s)
    }
    val children = all.groupBy(s => parent.getOrElse(s.id, 0))
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      val covered = Tracer.unionLength(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      w.write(Json.obj(Seq(
        "id" -> s.id, "parent" -> parent.getOrElse(s.id, 0), "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> (s.end - s.start - covered))))
      w.newLine()
    } finally w.close()
    all.size
  }
}

object Tracer {
  final case class Span(id: Int, name: String, kind: String, start: Double, end: Double)
  private final case class Job(id: Int, start: Long, var end: Long)
  private final class Agg {
    var tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs, bytesWritten, recordsWritten = 0L
  }

  /** The tracer of this run, for spans recorded off the driver thread. */
  @volatile var active: Option[Tracer] = None

  /** Length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
