package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{SharedCache, SparkEntry, Tables}

/** `catalog`: every `SparkEntry` query at sf0.01, timed from `run` (plan
  * build, eager pins) to its collected answer. Collecting runs the whole
  * plan, which `count()` would prune, and yields the answer the check
  * needs: timing the `noop` sink instead would need a second execution per
  * query to check it, which doubles a run (about 50 s more at local[4]).
  * The seed permutes the query order; `SharedCache` is cleared at the
  * start of each pass, so shared pins are built once per pass by whichever
  * query runs first. Passes repeat until `--seconds` is spent (at least
  * one). Each answer is checked off the clock against the DuckDB oracle's
  * row count and column checksums (`expected/<scale>.json`). */
object Catalog {

  private final case class Expected(rows: Long, cols: Map[String, String])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val scale = if (ctx.smoke) "sf0.001" else "sf0.01"
    val dir = ctx.benchDir.resolve("data").resolve(scale).toString
    val expected = loadExpected(ctx.benchDir.resolve("expected").resolve(s"$scale.json"))
    val entries = SparkEntry.all

    // set-up, repeated: table and footer loads, then one small query
    // through planning, codegen and the sink
    val setups = Trace.phaseSpan("setup") {
      (1 to 3).map { _ =>
        Stats.timed {
          Tables.invalidate(spark)
          val t = Tables(spark, dir)
          Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
            t.lineitem, t.events, t.documents, t.embeddings).foreach(_.count())
          SparkEntry.queries("dq01_filter_scan")(spark, dir).collect()
        }._2
      }
    }

    val order = new scala.util.Random(ctx.seed).shuffle(entries)
    val failures = mutable.ArrayBuffer.empty[String]
    // per pass: (name, build s, exec s)
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double, Double)]]
    val storagePeak = new java.util.concurrent.atomic.AtomicLong
    var checked = 0
    val t0 = System.nanoTime()
    Trace.phaseSpan("measure") {
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        SharedCache.clear(spark)
        passes += order.flatMap { e =>
          try {
            val tb = System.nanoTime()
            val df = Trace.span("queries.build", e.name)(e.run(spark, dir))
            val tx = System.nanoTime()
            val rows = Trace.span("queries.exec", e.name)(df.collect())
            val te = System.nanoTime()
            if (ctx.trace) storagePeak.accumulateAndGet(storageBytes(spark), math.max)
            // off the clock: the collected answer against the oracle's
            check(e.name, df.schema, rows, expected) match {
              case Some(msg) => failures += msg
              case None => checked += 1
            }
            Some((e.name, (tx - tb) / 1e9, (te - tx) / 1e9))
          } catch {
            case ex: Exception =>
              failures += s"${e.name}: ${Option(ex.getMessage).getOrElse(ex.toString).take(200)}"
              None
          } finally SharedCache.unpersistScratch(spark)
        }
      }
    }

    val perQuery = passes.flatten.groupBy(_._1).view
      .mapValues(xs => Stats.median(xs.map(x => x._2 + x._3).toSeq)).toMap
    val qs = perQuery.values.toSeq
    val catalogS = Stats.median(passes.toSeq.map(_.map(x => x._2 + x._3).sum))
    val setupS = ctx.sessionS + Stats.median(setups)
    val n = entries.size
    val attempted = n.toLong * passes.size
    val failed = failures.size.toLong
    val qp50 = Stats.quantile(qs, 0.5)
    val qp90 = Stats.quantile(qs, 0.9)
    val named = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "catalog_s" -> Metric(catalogS, "s"),
      "query_p50_s" -> Metric(qp50, "s"),
      "query_p90_s" -> Metric(qp90, "s"),
      "error_rate" -> Metric(failed.toDouble / attempted, "fraction"))
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(qp50 * 1e3, "ms"),
      "op_mean_ms" -> Metric(catalogS / n * 1e3, "ms"))
    val layer = if (ctx.trace) layerMetrics(passes.toSeq, storagePeak.get, ctx.nproc) else Nil
    Result(named, e2e, layer, attempted, failed, failures.toSeq, Seq(
      "scale" -> scale, "queries" -> n.toString, "passes" -> passes.size.toString,
      "checked" -> s"$checked/${n * passes.size}", "query_samples" -> qs.size.toString,
      "p90_beyond" -> Stats.beyond(qs.size, 0.9).toString,
      "query_s" -> perQuery.toSeq.sortBy(_._1)
        .map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")))
  }

  /** None when the answer matches the oracle's row count and column
    * checksums, else what differs. */
  private def check(name: String, schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row], expected: Map[String, Expected]): Option[String] =
    try {
      val got = Answers.columnHashes(schema, rows)
      expected.get(name) match {
        case None => Some(s"$name: no expectation")
        case Some(x) if x.rows != rows.length => Some(s"$name: rows ${rows.length} expected ${x.rows}")
        case Some(x) =>
          val bad = x.cols.collect { case (c, h) if !got.get(c).contains(h) => c }
          if (bad.nonEmpty) Some(s"$name: column checksum ${bad.mkString(",")}") else None
      }
    } catch {
      case ex: Exception =>
        Some(s"$name: check failed: ${Option(ex.getMessage).getOrElse(ex.toString).take(200)}")
    }

  /** Bytes held by persisted RDDs: `SharedCache` pins plus the
    * `localCheckpoint` scratch of the query that just ran. */
  private def storageBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def layerMetrics(passes: Seq[Seq[(String, Double, Double)]], storagePeak: Long,
      nproc: Int): Seq[(String, Metric)] = {
    org.apache.spark.perfbench.ListenerSync.drain(
      org.apache.spark.sql.SparkSession.active.sparkContext)
    val spans = Trace.spans
    val measure = spans.filter(_.name == "measure").map(_.id).toSet
    val calls = spans.filter(s => measure.contains(s.parent) && s.layer == "queries")
    val callIds = calls.map(_.id).toSet
    val jobs = spans.filter(s => s.job.isDefined && callIds.contains(s.parent)).map(_.job.get)
    val nq = math.max(1, passes.flatten.size)
    val build = passes.flatten.map(_._2).sum
    val exec = passes.flatten.map(_._3).sum
    def sum(f: JobStats => Long): Double = jobs.map(f).sum.toDouble
    val taskS = sum(_.taskMs.get) / 1e3
    Seq(
      "queries.build_s" -> Metric(build, "s"),
      "queries.exec_s" -> Metric(exec, "s"),
      "spark.jobs" -> Metric(jobs.size.toDouble, "count"),
      "spark.stages" -> Metric(sum(_.stages.get), "count"),
      "spark.tasks" -> Metric(sum(_.tasks.get), "count"),
      "spark.jobs_per_query" -> Metric(jobs.size.toDouble / nq, "count"),
      "spark.task_s" -> Metric(taskS, "s"),
      "spark.core_util" -> Metric(taskS / ((build + exec) * nproc), "fraction"),
      "spark.gc_s" -> Metric(sum(_.gcMs.get) / 1e3, "s"),
      "spark.input_bytes" -> Metric(sum(_.inputBytes.get), "bytes"),
      "spark.shuffle_read_bytes" -> Metric(sum(_.shuffleReadBytes.get), "bytes"),
      "spark.shuffle_write_bytes" -> Metric(sum(_.shuffleWriteBytes.get), "bytes"),
      "spark.spill_bytes" -> Metric(sum(_.spillBytes.get), "bytes"),
      "spark.storage_peak_bytes" -> Metric(storagePeak.toDouble, "bytes"))
  }

  private def loadExpected(path: java.nio.file.Path): Map[String, Expected] = {
    val root = new ObjectMapper().readTree(path.toFile)
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong,
        v.get("cols").fields().asScala.map(c => c.getKey -> c.getValue.asText).toMap)
    }.toMap
  }
}
