package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import graft.LivePipeline
import graft.ScaleSmoke
import graft.model.Condition
import graft.operators.{FeedPage, FilterCascade, Upsert}
import graft.serving.FeedServer
import graft.sources.Firehose
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** `ingest_live`: writes beside reads. Seeded DAG-CBOR `#commit` frames
  * (CARv1 record blocks, real CIDs) go to `LivePipeline.offer` from one
  * generator thread on a fixed schedule; `drainBatch` runs on a fixed
  * interval, as `Serve`'s loop does (4 s here instead of Serve's 10 s
  * default, so one run holds several drains); a lighter open-loop
  * getFeedSkeleton stream reads `live.server` throughout. The store is
  * prefilled in set-up by one drain of earlier frames, so every timed
  * drain's anti-join and store swap work at a real size.
  *
  * Frame mix (unverified guesses, no real firehose trace offline): 60% of
  * ops are post creates, 25% like/repost/follow creates, 15% deletes of
  * likes and reposts; 80% of commits carry one op, the rest two or
  * three; 5% of frames are replays of an earlier frame (at-least-once
  * redelivery). Reads: Zipf(1.0) over the 100 most popular feeds, first
  * pages only.
  *
  * Checked off the clock: the final store's total and per-feed row counts
  * and sampled first pages against the per-condition `FilterCascade.apply`
  * over every distinct post offered (the dedup), paged by
  * `FeedPage.pageCollected`. */
object IngestLive {
  val Publisher = "did:plc:perfbench"
  val Limit = 30
  private val OtherCollections = Seq("app.bsky.feed.like", "app.bsky.feed.repost",
    "app.bsky.graph.follow")

  final case class Shape(feeds: Int, working: Int, prefill: Int, frameRate: Double,
      drainMs: Long, readRate: Double, pageChecks: Int)

  def shape(ctx: Ctx): Shape =
    if (ctx.smoke) Shape(feeds = 40, working = 20, prefill = 2000, frameRate = 100,
      drainMs = 2000, readRate = 20, pageChecks = 10)
    else Shape(feeds = 1000, working = 100, prefill = 10000, frameRate = 250,
      drainMs = 4000, readRate = 20, pageChecks = 10)

  /** One frame as offered: its bytes, the posts it creates, whether it
    * replays an earlier frame. */
  final case class Frame(bytes: Array[Byte], posts: Seq[GenPost], replay: Boolean)

  /** Frames of stream `stream`; later streams carry newer posts. */
  def frames(seed: Long, stream: Long, n: Int, firstSeq: Long): IndexedSeq[Frame] = {
    val rng = Gen.rng(seed, stream + 100, 0)
    var postI = 0L
    val out = mutable.ArrayBuffer.empty[Frame]
    for (f <- 0 until n) {
      if (out.nonEmpty && rng.nextInt(20) == 0) {
        val old = out(rng.nextInt(out.size))
        out += old.copy(replay = true)
      } else {
        val nOps = if (rng.nextInt(5) == 0) 2 + rng.nextInt(2) else 1
        val ops = (0 until nOps).map { k =>
          val u = rng.nextInt(100)
          if (u < 60) { postI += 1; Gen.CreatePost(Gen.post(seed, stream, postI)) }
          else if (u < 85) Gen.CreateOther(OtherCollections(rng.nextInt(3)), s"o$f-$k")
          else Gen.Delete(OtherCollections(rng.nextInt(2)), s"d$f-$k")
        }
        // a commit is one repo's: every op of it is the first post's author's
        val posts = ops.collect { case Gen.CreatePost(p) => p }
        val repo = posts.headOption.map(_.did).getOrElse(s"did:plc:u${rng.nextInt(50000)}")
        val owned = ops.map {
          case Gen.CreatePost(p) => Gen.CreatePost(p.copy(did = repo,
            uri = s"at://$repo/app.bsky.feed.post/${p.rkey}"))
          case other => other
        }
        out += Frame(Gen.commitFrame(firstSeq + f, repo, owned),
          owned.collect { case Gen.CreatePost(p) => p }, replay = false)
      }
    }
    out.toIndexedSeq
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val sh = shape(ctx)
    val cs = ScaleSmoke.realisticConditions(sh.feeds)
    val cfg = FeedServer.Config(serviceDid = "did:web:localhost", hostname = "localhost",
      publisherDid = Publisher)
    // the prefill, then two small drains' worth that warm the drain path
    val (prefillFrames, warmFrames) = frames(ctx.seed, 1, sh.prefill + 600, 1).splitAt(sh.prefill)
    val timedN = math.max(1, (sh.frameRate * ctx.seconds).toInt)
    // timed posts are created after every prefill post
    val timedFrames = frames(ctx.seed, 2, timedN, sh.prefill + 1L)

    // set-up, repeated: a fresh pipeline prefilled by one drain, then
    // two small drains
    var live: LivePipeline = null
    val setups = Trace.phaseSpan("setup") {
      (1 to 3).map { _ =>
        Stats.timed {
          if (live != null) live.stop()
          live = new LivePipeline(spark, cs, cfg, "ws://127.0.0.1:9/unused")
          (prefillFrames +: warmFrames.grouped(300).toSeq).foreach { batch =>
            batch.foreach(f => live.offer(f.bytes))
            live.drainBatch()
          }
        }._2
      }
    }
    val port = live.server.start()
    val working = cs.take(sh.working)
    val traffic = new Traffic(port, Publisher, j => working(j).recordName, Limit)
    // reads outlast the generator by one drain interval, so the last
    // drain runs beside them like the others
    val readN = math.max(1, (sh.readRate * (ctx.seconds + sh.drainMs / 1e3)).toInt)
    val zipf = new Zipf(working.size, 1.0)
    val readRng = Gen.rng(ctx.seed, 3, 0)
    val reads = IndexedSeq.fill(readN)(Req(zipf.sample(readRng), None, Req.First))
    val (hits0, builds0, _) = live.headCache.stats

    // the timed phase: generator, drainer and readers side by side
    val offerEnd = new Array[Long](timedFrames.size)
    val offerNs = new Array[Long](timedFrames.size)
    val drains = mutable.ArrayBuffer.empty[(Long, Long)] // start, end
    val generating = new AtomicBoolean(true)
    val t0 = System.nanoTime() + 50000000L
    val gen = new Thread(() => {
      var i = 0
      while (i < timedFrames.size) {
        val due = t0 + (i / sh.frameRate * 1e9).toLong
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        Trace.span("pipeline.offer", s"f$i")(live.offer(timedFrames(i).bytes))
        offerEnd(i) = System.nanoTime()
        offerNs(i) = offerEnd(i) - now
        i += 1
      }
      generating.set(false)
    }, "perfbench-generator")
    def drain(k: Int): Unit = {
      val s = System.nanoTime()
      Trace.span("pipeline.drain", s"d$k")(live.drainBatch())
      drains.synchronized { drains += ((s, System.nanoTime())) }
    }
    val drainer = new Thread(() => {
      var k = 0
      while (generating.get) {
        val due = t0 + (k + 1) * sh.drainMs * 1000000L
        val now = System.nanoTime()
        if (now < due) java.util.concurrent.locks.LockSupport.parkNanos(due - now)
        else { drain(k); k += 1 }
      }
      drain(k) // what the generator offered after the last interval
    }, "perfbench-drainer")
    val (open, hits, builds) = Trace.phaseSpan("measure") {
      gen.start(); drainer.start()
      val open = try traffic.openLoop(reads, sh.readRate, ctx.nproc, _ => false)
        finally { gen.join(); drainer.join() }
      val (h, b, _) = live.headCache.stats
      (open, h - hits0, b - builds0)
    }

    // off the clock: the reference store, per condition
    val failures = mutable.ArrayBuffer.empty[String]
    val failedReads = open.count(!_.ok)
    if (failedReads > 0) failures += s"$failedReads reads failed"
    val allPosts = (prefillFrames ++ warmFrames ++ timedFrames).filterNot(_.replay)
      .flatMap(_.posts)
    val (views, ref) = Trace.phaseSpan("check_reference")(reference(spark, allPosts, cs, ctx.nproc))
    val refRows = ref.values.map(_.size.toLong).sum
    if (live.storedRows != refRows)
      failures += s"store holds ${live.storedRows} rows, reference $refRows"
    cs.foreach { c =>
      val want = ref.getOrElse(c.key, Nil).size.toLong
      val got = live.metrics.recordCount(c.key).getOrElse(0L)
      if (got != math.min(want, c.limitCount.toLong))
        failures += s"${c.key}: $got rows, reference $want"
    }
    Trace.phaseSpan("check_pages") {
      pageCheck(spark, live, cs, views, ref, sh.pageChecks, ctx.seed).foreach(failures += _)
    }

    // a frame is consumed by the first drain that started after its offer
    // returned; its new posts are servable at the end of that drain
    val servable = ref.values.flatten.toSet
    val ds = drains.toSeq.sortBy(_._1)
    val consumed = ds.indices.map(k => timedFrames.indices.filter(i =>
      offerEnd(i) < ds(k)._1 && (k == 0 || offerEnd(i) >= ds(k - 1)._1)))
    val servableOf = timedFrames.map(f =>
      if (f.replay) 0 else f.posts.count(p => servable.contains(p.uri)))
    val fresh = ds.indices.flatMap(k => consumed(k).flatMap(i =>
      Seq.fill(servableOf(i))((ds(k)._2 - offerEnd(i)) / 1e9)))
    val drainPosts = consumed.map(_.map(servableOf).sum)
    val drainWalls = ds.map(d => (d._2 - d._1) / 1e9)
    val timedServable = servableOf.sum
    val pps = timedServable / drainWalls.sum
    val lat = open.filter(_.ok).map(d => (d.endNs - d.dueNs) / 1e6)
    val setupS = ctx.sessionS + Stats.median(setups)
    val attempted = (open.size + timedFrames.size + cs.size).toLong
    val failed = failures.size.toLong.max(failedReads.toLong)
    val p50 = Stats.quantile(lat, 0.5)
    // the light read stream gives a few hundred samples: p95 is the
    // highest percentile with ten of them beyond it
    val p95 = Stats.quantile(lat, 0.95)
    val fresh50 = Stats.quantile(fresh, 0.5)
    val fresh99 = Stats.quantile(fresh, 0.99)
    val named = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "page_p50_ms" -> Metric(p50, "ms"),
      "page_p95_ms" -> Metric(p95, "ms"),
      "ingest_pps" -> Metric(pps, "posts/s"),
      "fresh_p50_s" -> Metric(fresh50, "s"),
      "fresh_p99_s" -> Metric(fresh99, "s"),
      "error_rate" -> Metric(failed.toDouble / attempted, "fraction"))
    // the contract latency is freshness: on a 4-core box the reads beside
    // the drains spread too widely across seeds (IQR ~40% of the median)
    // to bound, so page latency is printed, not gated
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "op_p50_ms" -> Metric(fresh50 * 1e3, "ms"),
      "op_mean_ms" -> Metric(fresh.sum / fresh.size * 1e3, "ms"))
    val layer = if (!ctx.trace) Nil else {
      val drainSpans = Trace.spans.filter(_.name == "pipeline.drain").map(_.id).toSet
      org.apache.spark.perfbench.ListenerSync.drain(spark.sparkContext)
      val spans = Trace.spans
      val under = Layers.subtree(spans, drainSpans)
      val nd = math.max(1, ds.size)
      val perDrain = consumed.map(_.size.toLong)
      Seq(
        "pipeline.offer_us" -> Metric(Stats.median(offerNs.toSeq.map(_ / 1e3)), "us"),
        "pipeline.buffered_frames" -> Metric(Stats.median(perDrain.map(_.toDouble)), "count"),
        "pipeline.dropped_frames" -> Metric(perDrain.map(n => math.max(0L, n - 100000L)).sum.toDouble, "count"),
        "pipeline.drain_s" -> Metric(Stats.median(drainWalls), "s"),
        "pipeline.store_rows" -> Metric(live.storedRows.toDouble, "count"),
        "spark.jobs_per_drain" -> Metric(Layers.jobSum(spans, under)(_ => 1.0) / nd, "count"),
        "spark.tasks_per_drain" -> Metric(Layers.jobSum(spans, under)(_.tasks.get.toDouble) / nd, "count"),
        "spark.shuffle_bytes_per_drain" -> Metric(Layers.jobSum(spans, under)(j =>
          (j.shuffleReadBytes.get + j.shuffleWriteBytes.get).toDouble) / nd, "bytes"),
        "headcache.builds" -> Metric(builds.toDouble, "count"),
        "headcache.hit_ratio" -> Metric(hits.toDouble / math.max(1, open.size), "fraction")) ++
        stages(spark, cs, prefillFrames ++ warmFrames, consumed.take(4).map(_.map(timedFrames)))
    }
    live.stop()
    Result(named, e2e, layer, attempted, failed, failures.toSeq, Seq(
      "feeds" -> sh.feeds.toString, "prefill_frames" -> sh.prefill.toString,
      "timed_frames" -> timedFrames.size.toString, "drains" -> ds.size.toString,
      "drain_interval_ms" -> sh.drainMs.toString, "reads" -> open.size.toString,
      "store_rows" -> live.storedRows.toString, "servable_posts" -> timedServable.toString,
      "fresh_samples" -> fresh.size.toString,
      "drain_posts" -> drainPosts.mkString(" "),
      "drain_walls_s" -> drainWalls.map(w => f"$w%.2f").mkString(" "),
      "p95_beyond" -> Stats.beyond(lat.size, 0.95).toString,
      "fresh_p99_beyond" -> Stats.beyond(fresh.size, 0.99).toString))
  }

  /** PostView rows in a local relation: Catalyst evaluates a filter over
    * one while planning, without scheduling a job. */
  private final class Views(spark: SparkSession, posts: Seq[GenPost]) {
    private val df = spark.createDataset(posts.map(p => Gen.postView(p, Gen.recordCid(p))))(
      Encoders.product[graft.model.PostView]).toDF()
    private val rows = df.collect().map(r => r.getString(0) -> r).toMap
    def frame(uris: Seq[String]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(uris.map(rows): _*), df.schema)
  }

  /** Posts a condition can select: every realistic condition's include
    * pattern needs one of its topic tokens in the text or the ALT text
    * (generated text is lower case), so the other posts are left out of
    * its reference cascade. */
  private def candidates(posts: Seq[GenPost], c: Condition): Seq[GenPost] = {
    val ts = "(?i)topic\\d+".r.findAllIn(c.inputRegex).map(_.toLowerCase).toSeq
    posts.filter(p => ts.exists(t => p.text.contains(t) || p.alt.exists(_.contains(t))))
  }

  /** Per feed: the uris the per-condition `FilterCascade.apply` selects
    * over every distinct post offered. */
  private def reference(spark: SparkSession, posts: Seq[GenPost],
      cs: Seq[Condition], threads: Int): (Views, Map[String, Seq[String]]) = {
    val views = new Views(spark, posts)
    val cands = cs.map(c => c -> candidates(posts, c).map(_.uri)).filter(_._2.nonEmpty)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    type Out = Seq[(String, String)]
    val selected = try cands.grouped(25).map { group =>
      pool.submit(new java.util.concurrent.Callable[Out] {
        def call(): Out = group.map { case (c, cand) =>
          FilterCascade.apply(views.frame(cand), c, None).select("key", "uri")
        }.reduce(_ unionByName _).collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      })
    }.toSeq.flatMap(_.get()).toSet
    finally pool.shutdown()
    (views, cands.map { case (c, cand) => c.key -> cand.filter(u => selected((c.key, u))) }.toMap)
  }

  /** First pages of sampled feeds, served by the live head cache, against
    * `FeedPage.pageCollected` over the feed's reference rows. */
  private def pageCheck(spark: SparkSession, live: LivePipeline, cs: Seq[Condition],
      views: Views, ref: Map[String, Seq[String]], n: Int, seed: Long): Seq[String] = {
    val rng = Gen.rng(seed, 4, 0)
    val sample = (cs.take(5) ++ Seq.fill(n)(cs(rng.nextInt(cs.size)))).distinct
    sample.flatMap { c =>
      val store = FilterCascade.apply(views.frame(ref.getOrElse(c.key, Nil)), c, None)
      val want = FeedPage.pageCollected(spark, store, c, Limit, None)
      val got = live.headCache.page(c, Limit, None)
      if (got == want) None else Some(s"${c.key}: first page differs from the reference")
    }
  }

  /** The drain's stages called one by one on the first timed batches, on a
    * replica store grown from the same prefill: decode, cascade, upsert,
    * swap. Traced runs only. */
  private def stages(spark: SparkSession, cs: Seq[Condition], prefill: IndexedSeq[Frame],
      drained: Seq[IndexedSeq[Frame]]): Seq[(String, Metric)] = Trace.phaseSpan("stages") {
    import spark.implicits._
    val batches = drained.filter(_.nonEmpty)
    var store: DataFrame = Ingest.emptyStore(spark)
    def step(frames: IndexedSeq[Frame]): (Double, Double, Double, Double, Long, Long, Long, Long) = {
      val raw = frames.map(_.bytes).toDF("frame")
      val ((ops, posts), decodeS) = Stats.timed(Trace.span("sources.decode") {
        val o = Firehose.decodeCborFrames(raw)
        (o.count(), Firehose.postViews(o).count())
      })
      val postsDf = Firehose.postViews(Firehose.decodeCborFrames(raw)).cache()
      postsDf.count()
      val (cands, cascadeS) = Stats.timed(Trace.span("operators.cascade") {
        val c = FilterCascade.fanOutScreened(spark, postsDf, cs, None).cache()
        c.count(); c
      })
      val (fresh, upsertS) = Stats.timed(Trace.span("operators.upsert") {
        val f = Upsert.newRows(store, cands, Seq("uri", "key")).cache()
        f.count(); f
      })
      val (_, swapS) = Stats.timed(Trace.span("pipeline.swap") {
        fresh.groupBy("key").count().collect()
        val next = store.unionByName(fresh).localCheckpoint()
        next.count()
        store = next
      })
      val out = (decodeS, cascadeS, upsertS, swapS, ops, posts, cands.count(), fresh.count())
      Seq(postsDf, cands, fresh).foreach(_.unpersist())
      out
    }
    step(prefill)
    val rs = batches.map(step)
    def med(f: ((Double, Double, Double, Double, Long, Long, Long, Long)) => Double) =
      if (rs.isEmpty) 0.0 else Stats.median(rs.map(f))
    val frames = batches.map(_.size).sum.max(1)
    val posts = rs.map(_._6).sum.max(1L)
    val cands = rs.map(_._7).sum.max(1L)
    Seq(
      "sources.decode_s" -> Metric(med(_._1), "s"),
      "sources.ops_per_frame" -> Metric(rs.map(_._5).sum.toDouble / frames, "count"),
      "sources.posts_per_frame" -> Metric(rs.map(_._6).sum.toDouble / frames, "count"),
      "operators.cascade_s" -> Metric(med(_._2), "s"),
      "operators.candidates_per_post" -> Metric(cands.toDouble / posts, "count"),
      "operators.upsert_s" -> Metric(med(_._3), "s"),
      "operators.new_ratio" -> Metric(rs.map(_._8).sum.toDouble / cands, "fraction"),
      "pipeline.swap_s" -> Metric(med(_._4), "s"))
  }
}
