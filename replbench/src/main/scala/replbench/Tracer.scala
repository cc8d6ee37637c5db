package replbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work folded into one span: jobs, stages, tasks, task time and
  * bytes, plus each job's wall interval (for the driver gap). */
final class SparkWork {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskMs = new LongAdder
  val shuffleBytes = new LongAdder
  val outputBytes = new LongAdder
  val inputRows = new LongAdder
  val jobIntervalsMs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
}

/** In-memory span recorder plus the listener that attributes Spark jobs to
  * spans. Each call the benchmark makes into the engine runs inside
  * [[span]]; with tracing on, the calling thread's `replbench.span` local
  * property names the innermost open span, and the listener folds every job
  * submitted under it into that span's [[SparkWork]]. Spans stay in memory
  * and are written out once, at the end of the run. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Stats.Span]
  private val work = new ConcurrentHashMap[Long, SparkWork]
  private val jobSpan = new ConcurrentHashMap[Int, Long]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val jobStartMs = new ConcurrentHashMap[Int, Long]
  private val jobsOpen = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var sc: SparkContext = _

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen.incrementAndGet()
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong)
      sid.foreach { s =>
        jobSpan.put(e.jobId, s)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.put(st, s))
        workOf(s).jobs.increment()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobSpan.get(e.jobId)).foreach { s =>
        workOf(s).jobIntervalsMs.add((jobStartMs.get(e.jobId), e.time))
      }
      jobsOpen.decrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val w = workOf(s)
        w.stages.increment()
        w.tasks.add(e.stageInfo.numTasks)
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          w.taskMs.add(m.executorRunTime)
          w.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          w.outputBytes.add(m.outputMetrics.bytesWritten)
          w.inputRows.add(m.inputMetrics.recordsRead)
        }
      }
    }
  }

  private def workOf(s: Long): SparkWork = work.computeIfAbsent(s, _ => new SparkWork)

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) context.addSparkListener(listener)
  }

  /** Runs `f` as span `name`; `request` groups the spans of one operation.
    * Untraced runs, and calls with `on` false, pay one branch. */
  def span[T](name: String, request: Long = 0L, on: Boolean = true)(f: => T): T =
    if (!enabled || !on) f
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      val parent = parents.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(SpanProp, prevProp)
        spans.add(Stats.Span(id, name, t0, t1, parent, request))
      }
    }

  /** The id of the innermost open span on this thread (0 when none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Waits until the listener bus has delivered the end of every job. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (jobsOpen.get > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def all: Seq[Stats.Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Spark work of a span and all its descendants. */
  def inclusive(root: Stats.Span): Seq[SparkWork] = {
    val byParent = all.groupBy(_.parent)
    def walk(id: Long): Seq[Long] = id +: byParent.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root.id).flatMap(i => Option(work.get(i)))
  }

  def sum(ws: Seq[SparkWork])(f: SparkWork => LongAdder): Long = ws.map(f(_).sum()).sum

  /** Span wall time not covered by any of its jobs, in ms. */
  def driverGapMs(s: Stats.Span, ws: Seq[SparkWork], wallStartMs: Long, wallStartNs: Long): Double = {
    val lo = wallStartMs + (s.startNs - wallStartNs) / 1000000L
    val hi = lo + s.durNs / 1000000L
    val jobs = ws.flatMap(_.jobIntervalsMs.asScala)
    (hi - lo - Stats.covered(jobs, lo, hi)).toDouble
  }

  /** Spans as JSON lines with their self time. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sp = all
    val self = Stats.selfTimes(sp)
    val t0 = sp.headOption.map(_.startNs).getOrElse(0L)
    val lines = sp.map { s =>
      val w = Option(work.get(s.id))
      val extra = w.map(x =>
        s""","jobs":${x.jobs.sum},"stages":${x.stages.sum},"tasks":${x.tasks.sum},""" +
          s""""task_ms":${x.taskMs.sum},"shuffle_bytes":${x.shuffleBytes.sum},""" +
          s""""output_bytes":${x.outputBytes.sum}""").getOrElse("")
      s"""{"id":${s.id},"name":"${s.name}","start_us":${(s.startNs - t0) / 1000},""" +
        s""""end_us":${(s.endNs - t0) / 1000},"parent":${s.parent},"request":${s.request},""" +
        s""""self_us":${self(s.id) / 1000}$extra}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "replbench.span"
}
