package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, or one Spark job attached to such a call.
  * Times are epoch milliseconds with sub-millisecond precision. */
final case class Span(id: Long, name: String, parent: Long, ctx: String,
    startMs: Double, endMs: Double, job: Option[JobStats] = None) {
  /** The layer is the span name's first dotted component. */
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** Spark work attributed to one job, summed over its tasks. */
final class JobStats(val jobId: Int, val callSite: String) {
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** In-memory span recorder. With tracing off every call is a plain
  * pass-through: no span, no listener, no Spark local property. With it
  * on, the calling thread's span id travels to Spark as a job local
  * property, and [[JobListener]] turns every job into a child span of
  * the call that submitted it. Jobs submitted from threads the benchmark
  * does not own (the HTTP server's handler pool) carry no span id; they
  * attach to the current phase span instead. */
object Trace {
  val SpanProp = "perfbench.span"

  @volatile private var sc: SparkContext = _
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long]
  @volatile private var phase = 0L
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def start(context: SparkContext): Unit = {
    sc = context
    enabled = true
    context.addSparkListener(new JobListener)
  }

  private def open(): (Long, java.lang.Long) = {
    val parent = current.get
    val id = ids.incrementAndGet()
    current.set(id)
    sc.setLocalProperty(SpanProp, id.toString)
    (id, parent)
  }

  private def close(id: Long, parent: java.lang.Long, name: String, ctx: String,
      t0: Double): Unit = {
    done.add(Span(id, name, if (parent == null) phase else parent, ctx, t0, nowMs))
    current.set(parent)
    sc.setLocalProperty(SpanProp, if (parent == null) null else parent.toString)
  }

  /** Time `body` as a span named `layer.call`; `ctx` is the request or
    * drain id the span belongs to. */
  def span[T](name: String, ctx: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = nowMs
      val (id, parent) = open()
      try body finally close(id, parent, name, ctx, t0)
    }

  private val phaseWall = new ConcurrentHashMap[String, java.lang.Double]()

  /** Wall seconds spent in each phase, traced or not. */
  def phaseSeconds: Map[String, Double] =
    phaseWall.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  /** A phase groups the spans and the unattributed jobs of one part of a
    * run (setup, the timed loop, a replay). Call it from the main thread
    * only: jobs from threads the benchmark does not own attach to it. */
  def phaseSpan[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try phaseTraced(name)(body)
    finally phaseWall.merge(name, (System.nanoTime() - t0) / 1e9, (a, b) => a + b)
  }

  private def phaseTraced[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = nowMs
      val (id, parent) = open()
      val prev = phase
      phase = id
      try body finally { phase = prev; close(id, parent, name, "", t0) }
    }

  private[perfbench] def currentPhase: Long = phase

  private[perfbench] def record(s: Span): Unit = done.add(s)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startMs)
}

/** Attributes Spark jobs, stages and task metrics to the span that
  * submitted them, keyed through the [[Trace.SpanProp]] local property. */
final class JobListener extends SparkListener {
  private final case class Open(parent: Long, startMs: Double, stats: JobStats)
  private val jobs = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, JobStats]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(Trace.currentPhase)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    val stats = new JobStats(e.jobId, site)
    e.stageIds.foreach(s => stageJob.put(s, stats))
    jobs.put(e.jobId, Open(parent, e.time.toDouble, stats))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { o =>
      Trace.record(Span(-e.jobId.toLong - 1, "spark.job", o.parent, "",
        o.startMs, e.time.toDouble, Some(o.stats)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { s =>
      s.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        s.taskMs.addAndGet(m.executorRunTime)
        s.gcMs.addAndGet(m.jvmGCTime)
        s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        s.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}
