package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `phase` separates set-up warm-up calls
  * ("warm") and calls on the accreted store ("") from the same calls after
  * compaction ("compacted"). */
final case class Span(id: Long, runId: String, name: String, parent: Long,
    phase: String, startNs: Long, endNs: Long)

/** What the Spark listener attributed to one span. Job intervals are in
  * listener-event milliseconds. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var files = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans around every call the benchmark makes into a layer, plus Spark
  * counters attributed to them. Disabled, `span` just runs its body and no
  * listener is registered, so untraced runs pay nothing.
  *
  * Attribution: a job belongs to the span that was open on the thread that
  * submitted it (a local property), or, for jobs a streaming query runs on
  * its own thread, to the span bound to that query's id. A scan's file
  * count is a driver-side SQL metric; it reaches the span through the SQL
  * execution id its jobs carry. Everything stays in memory until
  * [[finish]].
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val SpanProp = "perfbench.span"
  private val QueryIdProp = "sql.streaming.queryId"
  private val ExecProp = "spark.sql.execution.id"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val streamBinding = new ConcurrentHashMap[String, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val execFileAccums = new ConcurrentHashMap[Long, mutable.Set[Long]]()
  private val execFiles = new ConcurrentHashMap[Long, Long]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var nextId = 0L
  @volatile var phase: String = ""

  private def newId(): Long = synchronized { nextId += 1; nextId }
  private def countersOf(id: Long) = counters.computeIfAbsent(id, _ => new Counters)

  private def fileAccums(info: SparkPlanInfo): Seq[Long] =
    info.metrics.filter(_.name == "number of files read").map(_.accumulatorId) ++
      info.children.flatMap(fileAccums)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val sid = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        .orElse(props.flatMap(p => Option(p.getProperty(QueryIdProp)))
          .flatMap(q => Option(streamBinding.get(q))))
      sid.foreach { s =>
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(st => stageSpan.put(st, s))
        props.flatMap(p => Option(p.getProperty(ExecProp))).foreach(x => execSpan.put(x.toLong, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
        val c = countersOf(s)
        c.synchronized { c.jobs += 1; c.jobIntervals += ((t0, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = countersOf(s)
        val w = Option(e.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        c.synchronized { c.tasks += 1; c.shuffleBytes += w }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execFileAccums.computeIfAbsent(s.executionId, _ => mutable.Set.empty[Long]) ++=
          fileAccums(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execFileAccums.computeIfAbsent(u.executionId, _ => mutable.Set.empty[Long]) ++=
          fileAccums(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        Option(execFileAccums.get(d.executionId)).foreach { ids =>
          val n = d.accumUpdates.collect { case (id, v) if ids(id) => v }.sum
          if (n > 0) execFiles.merge(d.executionId, n, (a: Long, b: Long) => a + b)
        }
      case _ => ()
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as the span `name` on the calling thread. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, prev)
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, runId, name, parent, phase, t0, t1) }
      }
    }

  /** A span for work a streaming query does on its own thread: jobs of
    * `queryId` submitted after `bind` count toward it. Close it with the
    * returned function, giving the start time the span should report. */
  def bindStream(name: String, queryId: String): Long => Unit =
    if (!enabled) (_: Long) => ()
    else {
      val id = newId()
      streamBinding.put(queryId, id)
      (startNs: Long) => {
        val t1 = System.nanoTime()
        streamBinding.remove(queryId, id)
        synchronized { spans += Span(id, runId, name, 0L, phase, startNs, t1) }
      }
    }

  /** Per-span rows once every listener event has landed:
    * span → (wall_s, jobs, tasks, files, shuffle bytes, driver-only s). */
  def finish(): Seq[(Span, Map[String, Double])] = {
    if (!enabled) return Nil
    org.apache.spark.perfbenchbridge.Bus.drain(sc)
    execFiles.asScala.foreach { case (x, n) =>
      Option(execSpan.get(x)).foreach { s =>
        val c = countersOf(s); c.synchronized { c.files += n }
      }
    }
    // Listener times are epoch millis, span times monotonic nanos: map
    // the span onto the epoch clock through one shared reference point.
    val epochMsAtNs0 = System.currentTimeMillis() - System.nanoTime() / 1000000L
    synchronized(spans.toList).map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      val wall = (s.endNs - s.startNs) / 1e9
      val lo = epochMsAtNs0 + s.startNs / 1000000L
      val hi = epochMsAtNs0 + s.endNs / 1000000L
      val clipped = c.jobIntervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s -> Map(
        "wall_s" -> wall,
        "jobs" -> c.jobs.toDouble,
        "tasks" -> c.tasks.toDouble,
        "files_scanned" -> c.files.toDouble,
        "shuffle_bytes" -> c.shuffleBytes.toDouble,
        "driver_only_s" -> math.max(0.0, wall - covered / 1e3))
    }
  }
}
