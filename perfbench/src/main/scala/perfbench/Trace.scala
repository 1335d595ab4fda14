package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed region around a call into a layer. Spans of one iteration
  * share `iter`; `parent` is the enclosing span (0 for an iteration).
  * Times are wall-clock milliseconds so they line up with Spark's task
  * launch and finish times.
  */
final class Span(val id: Long, val name: String, val parent: Long,
    val iter: Int, val startMs: Double) {
  var endMs: Double = startMs
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Listener totals for the jobs that ran inside one span. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  var encodeTaskMs = 0L
  var maxEncodeTaskMs = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans around each step, attributed to Spark jobs through the job
  * group: a span sets its id as the job group and a `SparkListener`
  * maps every job and task back to it; a `QueryExecutionListener` adds
  * planning phases by start time. Disabled, `span` only runs its body:
  * no job group, no listeners, so the untraced run pays nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var enabled = false
  var iter = 0

  private val stats = new ConcurrentHashMap[Long, SpanStats]()
  private val tracedJobs = ConcurrentHashMap.newKeySet[Int]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val openJobs = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var lastEventMs = 0L
  @volatile private var current = 0L

  private def statsOf(id: Long): SpanStats =
    stats.computeIfAbsent(id, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      val props = Option(e.properties)
      // streaming micro-batches run under the stream's own job group;
      // those jobs belong to whichever step span is open when they start
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toLongOption).orElse(Some(current).filter(_ != 0L))
        .foreach { id =>
          openJobs.incrementAndGet()
          tracedJobs.add(e.jobId)
          val s = statsOf(id)
          s.synchronized(s.jobs += 1)
          e.stageIds.foreach(st => stageSpan.put(st, id))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      if (tracedJobs.contains(e.jobId)) openJobs.decrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val id = stageSpan.get(e.stageId)
      if (id != null && e.taskMetrics != null) {
        val s = statsOf(id)
        val m = e.taskMetrics
        val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
        s.synchronized {
          s.tasks += 1
          s.taskMs += m.executorRunTime
          s.maxTaskMs = math.max(s.maxTaskMs, dur)
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          // a task that reads shuffle output and writes none is in a
          // result stage after an exchange: in a writer step, the sorted
          // per-subtask encode that ends every writeAll
          if (m.shuffleReadMetrics.recordsRead > 0 && m.shuffleWriteMetrics.bytesWritten == 0) {
            s.encodeTaskMs += m.executorRunTime
            s.maxEncodeTaskMs = math.max(s.maxEncodeTaskMs, dur)
          }
        }
      }
    }
  }

  // planning phases carry wall-clock bounds; the client runs one step
  // at a time, so a phase belongs to the span open when it started
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEventMs = System.currentTimeMillis()
      Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
        .foreach(p => phases.add((p.startTimeMs, p.durationMs)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    enabled = on
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Times `body` as a child of the current span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption.fold(0L)(_.id), iter,
        System.currentTimeMillis().toDouble)
      nextId += 1
      all += s
      stack = s :: stack
      current = s.id
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = System.currentTimeMillis().toDouble
        stack = stack.tail
        current = stack.headOption.fold(0L)(_.id)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits (outside any timed region) until the listener bus has
    * delivered the end of every traced job and then gone quiet.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
      (openJobs.get() > 0 || System.currentTimeMillis() - lastEventMs < 250))
      Thread.sleep(25)
  }

  def spans: Seq[Span] = all.toSeq

  /** Spans of iteration `i`, the iteration span first. */
  def ofIter(i: Int): Seq[Span] = all.filter(_.iter == i).toSeq

  /** Listener totals of a span and all of its descendants. */
  def totals(root: Span): SpanStats = {
    val ids = mutable.Set(root.id)
    all.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    val out = new SpanStats
    ids.foreach { id =>
      Option(stats.get(id)).foreach { s =>
        s.synchronized {
          out.jobs += s.jobs; out.tasks += s.tasks; out.taskMs += s.taskMs
          out.maxTaskMs = math.max(out.maxTaskMs, s.maxTaskMs)
          out.shuffleWriteBytes += s.shuffleWriteBytes
          out.spillBytes += s.spillBytes
          out.encodeTaskMs += s.encodeTaskMs
          out.maxEncodeTaskMs = math.max(out.maxEncodeTaskMs, s.maxEncodeTaskMs)
          out.intervals ++= s.intervals
        }
      }
    }
    phases.forEach { case (start, ms) =>
      if (start >= root.startMs && start <= root.endMs) out.planMs += ms
    }
    out
  }

  /** Seconds of `span` during which no task of it was running. */
  def driverGapS(span: Span, t: SpanStats): Double = {
    val clipped = t.intervals.toSeq
      .map { case (a, b) => (math.max(a.toDouble, span.startMs), math.min(b.toDouble, span.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, span.wallS - covered / 1000.0)
  }

  /** All spans as JSON lines: id, parent, iteration, name, start, end. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val t = totals(s)
      s"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.startMs.toLong},""" +
        s""""end_ms":${s.endMs.toLong},"jobs":${t.jobs},"tasks":${t.tasks},""" +
        s""""task_ms":${t.taskMs},"max_task_ms":${t.maxTaskMs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
