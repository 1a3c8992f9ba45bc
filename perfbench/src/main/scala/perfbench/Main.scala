package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One measured value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back: the metrics this workload names
  * (`named`), the contract metrics every workload reports (`e2e`), the
  * per-layer metrics of a traced run (`layer`), and the output checks. */
final case class Result(
    named: Seq[(String, Metric)],
    e2e: Seq[(String, Metric)],
    layer: Seq[(String, Metric)],
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    info: Seq[(String, String)])

/** Everything a workload gets: the session, the seed-driven size, the
  * checkout-local directories it may use, and the set-up time already
  * spent starting the JVM and the session. */
final case class Ctx(spark: SparkSession, seed: Long,
    seconds: Double, trace: Boolean, size: String, benchDir: Path, workDir: Path,
    nproc: Int, sessionS: Double) {
  def smoke: Boolean = size == "smoke"
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run: Ctx => Result = workload match {
      case "catalog" => Catalog.run
      case "feed_read" => FeedRead.run
      case "ingest_live" => IngestLive.run
      case w => sys.error(s"unknown workload $w")
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    // as `Serve` ships it: GraftSession.local's confs, sized to this box
    val spark = graft.GraftSession.local(threads = nproc, shufflePartitions = nproc)
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val trace = opt("trace") == "1"
    if (trace) Trace.start(spark.sparkContext)
    val workDir = Paths.get(opt("work"))
    Files.createDirectories(workDir)
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, trace,
      opts.getOrElse("size", "full"), Paths.get(opt("bench")), workDir, nproc, sessionS)
    val loadStart = loadAvg()
    val result = run(ctx)
    if (trace) org.apache.spark.perfbench.ListenerSync.drain(spark.sparkContext)
    val layer = if (trace) result.layer ++ Layers.selfTimes(Trace.spans) else Nil
    val rss = vmHwmMb()
    val out = new ObjectMapper()
    val root = out.createObjectNode()
    root.put("correct", result.failed == 0)
    root.put("attempted", result.attempted)
    root.put("failed", result.failed)
    def metrics(name: String, ms: Seq[(String, Metric)]): Unit = {
      val n = root.putObject(name)
      ms.foreach { case (k, m) =>
        val o = n.putObject(k)
        o.put("value", m.value)
        o.put("unit", m.unit)
      }
    }
    metrics("named", result.named :+ ("rss_peak_mb" -> Metric(rss, "MB")))
    metrics("e2e", result.e2e)
    metrics("layer", layer)
    val failures = root.putArray("failures")
    result.failures.take(50).foreach(failures.add)
    val info = root.putObject("info")
    info.put("nproc", nproc)
    info.put("heap_max_mb", Runtime.getRuntime.maxMemory() / (1024 * 1024))
    info.put("jvm", System.getProperty("java.vm.version"))
    info.put("spark", org.apache.spark.SPARK_VERSION)
    info.put("loadavg_start", loadStart)
    info.put("loadavg_end", loadAvg())
    info.put("session_s", sessionS)
    Trace.phaseSeconds.foreach { case (k, v) => info.put(s"phase_s.$k", f"$v%.2f") }
    result.info.foreach { case (k, v) => info.put(k, v) }
    if (trace) writeSpans(Paths.get(opt("spans")))
    Files.writeString(Paths.get(opt("out")), out.writeValueAsString(root))
    spark.stop()
  }

  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case _: java.io.IOException => "" }

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val m = new ObjectMapper()
    val w = Files.newBufferedWriter(path)
    try Trace.spans.foreach { s =>
      val o: ObjectNode = m.createObjectNode()
      o.put("id", s.id).put("name", s.name).put("layer", s.layer)
        .put("parent", s.parent).put("ctx", s.ctx)
        .put("start_ms", s.startMs).put("end_ms", s.endMs)
      s.job.foreach { j =>
        o.put("job_id", j.jobId).put("call_site", j.callSite)
          .put("stages", j.stages.get).put("tasks", j.tasks.get)
          .put("task_ms", j.taskMs.get).put("gc_ms", j.gcMs.get)
          .put("input_bytes", j.inputBytes.get)
          .put("shuffle_read_bytes", j.shuffleReadBytes.get)
          .put("shuffle_write_bytes", j.shuffleWriteBytes.get)
          .put("spill_bytes", j.spillBytes.get)
      }
      w.write(m.writeValueAsString(o))
      w.newLine()
    } finally w.close()
  }
}

/** Sample statistics shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples beyond a percentile, for the "at least ten beyond" rule. */
  def beyond(n: Int, q: Double): Int = math.floor(n * (1 - q) + 1e-9).toInt

  /** Time `body` in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Per-layer self time over the recorded spans: a span's duration minus
  * the part of it its children cover (children of one span may run
  * concurrently, so their intervals are merged first). */
object Layers {
  val Names: Seq[String] =
    Seq("queries", "operators", "spark", "sources", "streaming", "pipeline", "serving")

  def selfTimes(spans: Seq[Span]): Seq[(String, Metric)] = {
    val children = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (curA, curB) = (Double.NaN, Double.NaN)
      kids.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      self(s.layer) += math.max(0.0, s.durMs - covered)
    }
    Names.map(l => s"self_s.$l" -> Metric(self(l) / 1e3, "s"))
  }

  /** Sum of a job statistic over every job span under a set of parents. */
  def jobSum(spans: Seq[Span], under: Set[Long])(f: JobStats => Double): Double =
    spans.iterator.filter(s => s.job.isDefined && under.contains(s.parent))
      .map(s => f(s.job.get)).sum

  /** Ids of the given spans and all their descendants. */
  def subtree(spans: Seq[Span], roots: Set[Long]): Set[Long] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.Set.empty[Long]
    var frontier = roots.toSeq
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(id => children.getOrElse(id, Nil).map(_.id))
        .filterNot(out.contains)
    }
    out.toSet
  }
}
