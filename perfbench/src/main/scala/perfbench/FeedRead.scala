package perfbench

import scala.collection.mutable

import graft.ScaleSmoke
import graft.model.Condition
import graft.operators.{FeedPage, FilterCascade}
import graft.serving.{FeedHeadCache, FeedServer}
import graft.streaming.Ingest
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `feed_read`: read-only getFeedSkeleton over loopback HTTP against a
  * FeedServer with a FeedHeadCache, over a key-partitioned parquet store
  * built by `FilterCascade.fanOutScreened` from seeded posts and 1 000
  * `ScaleSmoke.realisticConditions` feeds (the ServeSmoke/DurablePipeline
  * layout; the cache reads one feed's directory per build through
  * `Ingest.readStoreKey`, as DurablePipeline wires it). Requests address
  * the 100 most popular feeds, whose heads are built in set-up, so the
  * cache holds the whole working set.
  *
  * Traffic: an open loop at a fixed rate from nproc connections, then a
  * closed loop of nproc clients. Feed popularity is Zipf(1.0) over the
  * working set in topic-popularity order; 75% of requests are first pages, 23%
  * cursor walks one to ten pages deep, 2% walks past the head chain
  * (maxBlocks x headSize = 3 200 rows) into the Spark fallback. These
  * shares and the exponent are unverified guesses: no real getFeedSkeleton
  * trace is available offline. Cursors are derived from the store in
  * set-up, so the request sequence is a function of the seed alone. */
object FeedRead {
  val Publisher = "did:plc:perfbench"
  val Limit = 30
  val HeadChain = 400 * 8

  /** `working`: the most popular feeds, which the requests address. */
  final case class Shape(posts: Long, feeds: Int, working: Int, rate: Double, checks: Int)

  def shape(ctx: Ctx): Shape =
    if (ctx.smoke) Shape(posts = 6000, feeds = 40, working = 20, rate = 100, checks = 10)
    else Shape(posts = 50000, feeds = 1000, working = 100, rate = 300, checks = 30)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val sh = shape(ctx)
    val cs = ScaleSmoke.realisticConditions(sh.feeds)
    val storeDir = ctx.workDir.resolve("store").toString

    // set-up, repeated: build the store, derive the request sequences,
    // then build the working set's heads and walk the deep feeds' chains
    var cache: FeedHeadCache = null
    var sorted: Positions = null
    var reqs, closedReqs: IndexedSeq[Req] = null
    val openN = math.max(1, (sh.rate * ctx.seconds * 2 / 3).toInt)
    val setups = Trace.phaseSpan("setup") {
      (1 to 3).map { _ =>
        Stats.timed {
          sorted = buildStore(spark, ctx.seed, sh.posts, cs, storeDir)
          reqs = requests(Gen.rng(ctx.seed, 7, 0), cs.take(sh.working), sorted, openN)
          closedReqs = requests(Gen.rng(ctx.seed, 8, 0), cs.take(sh.working), sorted, 20000)
          cache = new FeedHeadCache(spark, readKey(spark, storeDir), _ => Some("static"))
          warm(cache, cs.take(sh.working), reqs.filter(_.kind == Req.Deep), ctx.nproc)
        }._2
      }
    }
    val server = new FeedServer(spark, () => Ingest.readStore(spark, storeDir), () => cs,
      FeedServer.Config(serviceDid = "did:web:localhost", hostname = "localhost",
        publisherDid = Publisher), None, Some(cache))
    val port = server.start()
    val traffic = new Traffic(port, Publisher, j => cs(j).recordName, Limit)
    // the HTTP path's JIT warm-up, once: one second of closed-loop traffic
    val (_, httpWarmS) = Stats.timed(Trace.phaseSpan("setup") {
      traffic.closedLoop(requests(Gen.rng(ctx.seed, 9, 0), cs.take(sh.working), sorted, 5000)
        .filter(_.kind != Req.Deep), ctx.nproc, 1.0)
    })
    val (hits0, builds0, fallbacks0) = cache.stats
    val ext0 = cache.extensions
    val checkEvery = math.max(1, openN / sh.checks)
    val keep = (i: Int) => i % checkEvery == 0 || reqs(i).kind == Req.Deep
    val (open, closed, closedS) = try Trace.phaseSpan("measure") {
      val open = traffic.openLoop(reqs, sh.rate, ctx.nproc, keep)
      val (closed, s) = Stats.timed(traffic.closedLoop(closedReqs, ctx.nproc, ctx.seconds / 3))
      (open, closed, s)
    } finally server.stop()
    val (hits, builds, fallbacks) = cache.stats

    // off the clock: sampled pages against FeedPage.pageCollected
    val failures = mutable.ArrayBuffer.empty[String]
    val failedReqs = (open ++ closed).count(!_.ok)
    if (failedReqs > 0) failures += s"$failedReqs requests failed"
    val sampled = open.filter(_.page.isDefined)
    Trace.phaseSpan("check") {
      sampled.take(sh.checks + 10).foreach { d =>
        val r = reqs(d.i)
        val c = cs(r.feed)
        val (want, wantCursor) = FeedPage.pageCollected(spark,
          Ingest.readStoreKey(spark, storeDir, c.key), c, Limit, r.cursor)
        val (got, gotCursor) = d.page.get
        if (got != want.sortBy(_._1).map(_._2) || gotCursor != wantCursor)
          failures += s"request ${d.i} (${c.key}, ${r.kind}): page differs from pageCollected"
      }
    }

    val lat = open.filter(_.ok).map(d => (d.endNs - d.dueNs) / 1e6)
    val late = open.map(d => (d.sendNs - d.dueNs) / 1e6)
    val rps = closed.count(_.ok) / closedS
    val p50 = Stats.quantile(lat, 0.5)
    val p99 = Stats.quantile(lat, 0.99)
    val setupS = ctx.sessionS + Stats.median(setups) + httpWarmS
    val attempted = (open.size + closed.size).toLong
    val failed = failures.size.toLong.max(failedReqs.toLong)
    val named = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "page_p50_ms" -> Metric(p50, "ms"),
      "page_p99_ms" -> Metric(p99, "ms"),
      "page_rps" -> Metric(rps, "req/s"),
      "error_rate" -> Metric(failed.toDouble / attempted, "fraction"))
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(p50, "ms"),
      "op_mean_ms" -> Metric(lat.sum / lat.size, "ms"))
    val requestsServed = open.size + closed.size
    val layer = if (!ctx.trace) Nil else {
      val counters = Seq(
        "headcache.hits" -> (hits - hits0).toDouble,
        "headcache.builds" -> (builds - builds0).toDouble,
        "headcache.extensions" -> (cache.extensions - ext0).toDouble,
        "headcache.fallbacks" -> (fallbacks - fallbacks0).toDouble,
        "headcache.coalesced" -> cache.coalesced.toDouble,
        "headcache.evictions" -> cache.evictions.toDouble
      ).map { case (k, v) => k -> Metric(v, "count") }
      counters ++ Seq(
        "headcache.hit_ratio" -> Metric((hits - hits0).toDouble / requestsServed, "fraction")) ++
        probes(spark, cs, storeDir, reqs, open, cache)
    }
    Result(named, e2e, layer, attempted, failed, failures.toSeq, Seq(
      "feeds" -> sh.feeds.toString, "posts" -> sh.posts.toString,
      "store_rows" -> sorted.rows.toString,
      "rate_req_s" -> sh.rate.toString, "open_requests" -> open.size.toString,
      "closed_requests" -> closed.size.toString,
      "p99_beyond" -> Stats.beyond(lat.size, 0.99).toString,
      "generator_late_p99_ms" -> f"${Stats.quantile(late, 0.99)}%.3f",
      "deep_requests" -> reqs.count(_.kind == Req.Deep).toString,
      "walk_requests" -> reqs.count(_.kind == Req.Walk).toString,
      "checked_pages" -> sampled.size.min(sh.checks + 10).toString))
  }

  def readKey(spark: SparkSession, storeDir: String): String => org.apache.spark.sql.DataFrame =
    key => Trace.span("streaming.read_key", key)(Ingest.readStoreKey(spark, storeDir, key))

  /** The store as ServeSmoke builds it: the production fan-out,
    * repartitioned by key so each key directory holds one file. Returns
    * the cursor positions of what it wrote. */
  def buildStore(spark: SparkSession, seed: Long, n: Long, cs: Seq[Condition],
      dir: String): Positions = {
    val posts = spark.range(n).map { i =>
      val p = Gen.post(seed, 0, i)
      Gen.postView(p, s"bafy${p.rkey}")
    }(Encoders.product[graft.model.PostView]).toDF()
    val rows = Trace.span("operators.fan_out") {
      FilterCascade.fanOutScreened(spark, posts, cs, None).repartition(col("key")).cache()
    }
    try {
      rows.write.mode("overwrite").partitionBy("key").parquet(dir)
      positions(rows)
    } finally rows.unpersist()
  }

  /** Build the given feeds' heads and extend the deep feeds' chains to
    * their bound, from `threads` concurrent callers. */
  def warm(cache: FeedHeadCache, cs: Seq[Condition], deep: Seq[Req], threads: Int): Unit = {
    val calls = cs.map(c => (c, Option.empty[String])) ++
      deep.groupBy(_.feed).values.map(rs => (cs(rs.head.feed), rs.head.cursor))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try calls.map { case (c, cursor) => pool.submit(new Runnable {
      def run(): Unit = Trace.span("serving.warm", c.key)(cache.page(c, Limit, cursor))
    }) }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Per feed: its row count and the (ts, cid) cursor after every page
    * boundary a request may start from. */
  final case class Positions(rows: Long, count: Map[String, Long],
      cursorAt: Map[(String, Long), String])

  def positions(store: org.apache.spark.sql.DataFrame): Positions = {
    val w = Window.partitionBy("key").orderBy(col("ts").desc, col("cid").desc)
    val ranked = store.select(col("key"), unix_micros(col("indexedAt")).as("ts"), col("cid"))
      .withColumn("n", row_number().over(w))
    val counts = ranked.groupBy("key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cuts = ranked.filter(col("n") % Limit === 0 && col("ts").isNotNull).collect()
      .map(r => (r.getString(0), r.getInt(3).toLong) ->
        s"${r.getLong(1)}${graft.operators.Paging.CursorSep}${r.getString(2)}").toMap
    Positions(counts.values.sum, counts, cuts)
  }

  /** The seeded request sequence over the feeds `cs`: popularity Zipf(1.0)
    * in order (feed j selects topic j, and topics are Zipf-popular). */
  def requests(rng: java.util.SplittableRandom, cs: Seq[Condition], pos: Positions,
      n: Int): IndexedSeq[Req] = {
    val zipf = new Zipf(cs.size, 1.0)
    def rows(j: Int): Long = pos.count.getOrElse(cs(j).key, 0L)
    val deepFeeds = cs.indices.filter(j => rows(j) >= HeadChain + 2 * Limit)
    IndexedSeq.fill(n) {
      val u = rng.nextDouble()
      if (u < 0.02 && deepFeeds.nonEmpty) {
        val j = deepFeeds(rng.nextInt(deepFeeds.size))
        val pages = (rows(j) - 1) / Limit
        val page = (HeadChain / Limit + 1 + rng.nextInt((pages - HeadChain / Limit).toInt.max(1))).toLong
        Req(j, pos.cursorAt.get((cs(j).key, page.min(pages) * Limit)), Req.Deep)
      } else {
        val j = zipf.sample(rng)
        val pages = ((rows(j) - 1) / Limit).min(10)
        if (u < 0.25 && pages >= 1) {
          val page = 1 + rng.nextInt(pages.toInt)
          Req(j, pos.cursorAt.get((cs(j).key, page * Limit)), Req.Walk)
        } else Req(j, None, Req.First)
      }
    }
  }

  /** In-process costs of the calls a request makes, for the traced run. */
  private def probes(spark: SparkSession, cs: Seq[Condition], storeDir: String,
      reqs: IndexedSeq[Req], open: Seq[Done], cache: FeedHeadCache): Seq[(String, Metric)] =
    Trace.phaseSpan("probes") {
      def ms(body: => Any): Double = Stats.timed(body)._2 * 1e3
      val inProc = reqs.map(r => ms(Trace.span("serving.head_page")(
        cache.page(cs(r.feed), Limit, r.cursor))))
      val http = open.filter(_.ok).map(d => (d.endNs - d.sendNs) / 1e6)
      val sample = cs.indices.filter(_ % math.max(1, cs.size / 20) == 0)
      val cold = new FeedHeadCache(spark, readKey(spark, storeDir), _ => Some("cold"))
      val buildMs = sample.map(j => ms(cold.page(cs(j), Limit, None)))
      val readMs = sample.map(j => ms(Ingest.readStoreKey(spark, storeDir, cs(j).key)))
      val deep = reqs.filter(_.kind == Req.Deep).take(10)
      val fallbackMs = deep.map(r => ms(Trace.span("operators.feed_page")(
        FeedPage.pageCollected(spark, Ingest.readStoreKey(spark, storeDir, cs(r.feed).key),
          cs(r.feed), Limit, r.cursor))))
      org.apache.spark.perfbench.ListenerSync.drain(spark.sparkContext)
      val pageSpans = Trace.spans.filter(_.name == "operators.feed_page").map(_.id).toSet
      val jobs = Trace.spans.count(s => s.job.isDefined && pageSpans.contains(s.parent))
      val httpP50 = Stats.median(http)
      val inP50 = Stats.median(inProc)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      Seq(
        "serving.http_ms" -> Metric(httpP50, "ms"),
        "headcache.page_ms" -> Metric(inP50, "ms"),
        "serving.overhead_ms" -> Metric(httpP50 - inP50, "ms"),
        "headcache.build_ms" -> Metric(med(buildMs), "ms"),
        "streaming.read_key_ms" -> Metric(med(readMs), "ms"),
        "feedpage.page_ms" -> Metric(med(fallbackMs), "ms"),
        "feedpage.jobs" -> Metric(if (deep.isEmpty) 0.0 else jobs.toDouble / deep.size, "count"))
    }
}
