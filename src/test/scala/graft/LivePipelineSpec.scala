package graft

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}

import graft.domain.Fixtures
import graft.serving.{Auth, FeedServer}
import graft.sources.{Firehose, SubscribeReposStub, WireFixtures}
import graft.streaming.Ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The whole application in one spec: wire-format CBOR frames served by a
  * real WebSocket stub → [[LivePipeline]] (subscribe, decode, cascade,
  * dedup upsert) → a feed page fetched over real XRPC HTTP. The reference
  * process (index.ts) does exactly this loop; every hop here is the real
  * implementation, no shortcuts between the socket and the HTTP response.
  */
class LivePipelineSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  /** An admin-plane POST carrying the passkey "pk". */
  private def adminPost(port: Int, path: String, body: String) =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .header("x-starrtsky-webpasskey", "pk")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("wire → websocket → micro-batch ingest → served XRPC feed page") {
    // 10 commits; texts 1-6 say "spark", 7-10 do not → cascade keeps 6
    val frames = (1L to 10L).map { i =>
      val text = if (i <= 6) s"spark post number $i" else s"plain post number $i"
      i -> WireFixtures.commitFrame(i, text)
    }
    val stub = new SubscribeReposStub(frames)
    val conditions = Seq(Fixtures.cond(key = "live1", inputRegex = "spark"))
    val cfg = FeedServer.Config(
      serviceDid = "did:web:feeds.example.com",
      hostname = "feeds.example.com",
      publisherDid = "did:plc:publisher",
      keyResolver = Auth.StaticKeyResolver(Map.empty))
    val live = new LivePipeline(spark, conditions, cfg,
      service = s"ws://127.0.0.1:${stub.port}", cursorEvery = 2)
    try {
      val port = live.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(live.client.awaitStopped(120000), "subscription did not finish")
      assert(live.storedCursor == 10L)

      // before the first drain the served store is empty
      val feedUri = java.net.URLEncoder.encode(
        s"at://${cfg.publisherDid}/app.bsky.feed.generator/live1", "UTF-8")
      def page(limit: Int) = {
        val resp = http.send(HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/xrpc/app.bsky.feed.getFeedSkeleton?feed=$feedUri&limit=$limit"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), mapper.readTree(resp.body()))
      }
      val (st0, p0) = page(50)
      assert(st0 == 200 && p0.get("feed").size() == 0, p0.toString)

      // one micro-batch drains the buffer: 6 of 10 posts pass the cascade
      assert(live.drainBatch() == 6L)
      assert(live.storedRows == 6L)
      val (st1, p1) = page(50)
      assert(st1 == 200 && p1.get("feed").size() == 6, p1.toString)
      val uris = (0 until 6).map(p1.get("feed").get(_).get("post").asText())
      assert(uris.forall(_.startsWith("at://did:plc:u")))

      // an empty drain is a no-op, and the store count is stable
      assert(live.drainBatch() == 0L)
      assert(live.storedRows == 6L)
    } finally {
      live.stop()
      stub.stop()
    }
  }

  test("admin CRUD is live: a setQuery lands on the next drain, deleteCondition drops the feed") {
    // The reference re-reads the conditions table every cycle
    // (subscription.ts:133-137), so a console edit needs no restart. Same
    // here: the pipeline's control plane is mutated over real HTTP and the
    // NEXT drainBatch cascades with the updated set.
    val f = (1L to 6L).map { i =>
      val text = if (i <= 3) s"spark live $i" else s"vector live $i"
      i -> WireFixtures.commitFrame(i, text)
    }
    val stub = new SubscribeReposStub(f)
    val conditions = Seq(Fixtures.cond(key = "base", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:c.example.com", "c.example.com", "did:plc:pub")
    val live = new LivePipeline(spark, conditions, cfg,
      service = s"ws://127.0.0.1:${stub.port}", cursorEvery = 2,
      adminPasskey = Some("pk"))
    try {
      val port = live.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(live.client.awaitStopped(120000))
      assert(live.drainBatch() == 3L) // only "spark" matches the base feed

      def post(path: String, body: String) = adminPost(port, path, body)

      // add a feed over the wire; replay the frames (at-least-once seam):
      // the new feed captures the vector posts, base dedups to zero
      val r1 = post("/setQuery",
        """{"key":"vec","recordName":"vec","query":"vector","inputRegex":"vector",
          |"invertRegex":"","refresh":"0","initPost":"100","limitCount":"2000"}""".stripMargin)
      assert(r1.statusCode() == 200, r1.body())
      f.foreach { case (_, bytes) => live.offer(bytes) }
      assert(live.drainBatch() == 3L, "the next drain must cascade with the new condition")
      assert(live.storedRows == 6L)

      // metrics flowed through to getQuery (lastExecTime + recordCount)
      val r2 = mapper.readTree(post("/getQuery", """{"key":"vec"}""").body())
      assert(r2.get("lastExecTime").asText().matches("[1-9][0-9]*ms"), r2.toString)
      assert(r2.get("recordCount").asLong() == 3L, r2.toString)

      // deleteCondition drops the row AND the feed's served posts
      assert(post("/deleteCondition", """{"key":"vec"}""").statusCode() == 200)
      assert(live.control.get("vec").isEmpty)
      assert(live.storedRows == 3L, "the deleted feed's posts must leave the store")
    } finally { live.stop(); stub.stop() }
  }

  test("backfillFromSearch fills a fresh feed to initPost, then stays idempotent (T2)") {
    val cfg = FeedServer.Config("did:web:bf.example.com", "bf.example.com", "did:plc:pub")
    val live = new LivePipeline(spark,
      Seq(Fixtures.cond(key = "bf", inputRegex = "vector", initPost = 4)),
      cfg, service = "ws://127.0.0.1:1") // never started: backfill is batch-side
    val search = spark.read.format("graft-search").option("totalPosts", 200).load()
    assert(live.backfillFromSearch(search) == 4L)
    assert(live.storedRows == 4L)
    assert(live.backfillFromSearch(search) == 0L, "a filled feed must not re-backfill")
  }

  test("replayed frames fall out of the dedup anti-join across batches") {
    val f = (1L to 4L).map(i => i -> WireFixtures.commitFrame(i, s"spark echo $i"))
    val stub = new SubscribeReposStub(f)
    val conditions = Seq(Fixtures.cond(key = "live2", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:f.example.com", "f.example.com", "did:plc:pub")
    val live = new LivePipeline(spark, conditions, cfg,
      service = s"ws://127.0.0.1:${stub.port}", cursorEvery = 2)
    try {
      live.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(live.client.awaitStopped(120000))
      assert(live.drainBatch() == 4L)
      // redeliver the identical frames (the backfill seam = the same
      // buffer the socket fills): at-least-once upstream, zero new rows
      f.foreach { case (_, bytes) => live.offer(bytes) }
      assert(live.drainBatch() == 0L, "replayed commits must dedup to zero new rows")
      assert(live.storedRows == 4L)
    } finally { live.stop(); stub.stop() }
  }

  test("1,000 standing conditions drain as one keyed job; metrics land on every feed (width wiring)") {
    // The WIDTH contract end-to-end at the application layer (SURVEY
    // §7.4#6; the throughput race lives in ScaleSmoke's fanout section):
    // a control plane holding 1 000 conditions, wire frames through the
    // real CBOR decode, ONE drain — no per-feed driver loop — and the
    // cycle metrics recorded for every standing feed.
    val conditions = ScaleSmoke.standingConditions(1000)
    val cfg = FeedServer.Config(
      serviceDid = "did:web:feeds.example.com",
      hostname = "feeds.example.com",
      publisherDid = "did:plc:publisher",
      keyResolver = Auth.StaticKeyResolver(Map.empty))
    val live = new LivePipeline(spark, conditions, cfg,
      service = "ws://127.0.0.1:1") // never started: frames are offered directly
    try {
      // 40 frames, each matching exactly ONE feed's include regex
      // (topic<k>\b; topic1 does not match topic10 — \b sees the digit)
      (1L to 40L).foreach(i =>
        live.offer(WireFixtures.commitFrame(i, s"topic${i - 1} width probe")))
      assert(live.drainBatch() == 40L, "each frame lands on exactly its own feed")
      assert(live.storedRows == 40L)
      // the cycle's metrics cover ALL 1 000 conditions (the reference
      // UPDATEs every feed's row per cycle), with per-feed counts only
      // where rows landed
      val snap = live.metrics.snapshot
      assert(snap.size == 1000, s"metrics rows: ${snap.size}")
      assert(snap("feed7").recordCount == 1L)
      assert(snap("feed999").recordCount == 0L)
      assert(snap.values.forall(_.lastExecTime.endsWith("ms")))
      // and the control plane serves the width: getQuery state was
      // published for a feed that captured nothing too
      assert(live.control.conditions.size == 1000)
    } finally live.stop()
  }

  test("every swap keeps the served store at a fixed width; a drain that adds nothing keeps the snapshot") {
    // a dozen drains that add rows, an all-replay drain, an empty drain,
    // then an admin delete: the store's partition count must not grow
    // with the drain count, storedRows must match the snapshot it names,
    // and a drain that adds nothing must leave the very same snapshot
    val conditions = Seq(Fixtures.cond(key = "a", inputRegex = "spark"),
      Fixtures.cond(key = "b", inputRegex = "vector"))
    val cfg = FeedServer.Config("did:web:w.example.com", "w.example.com", "did:plc:pub")
    val live = new LivePipeline(spark, conditions, cfg,
      service = "ws://127.0.0.1:1", adminPasskey = Some("pk")) // frames offered directly
    val width = spark.sparkContext.defaultParallelism
    def checkStore(): Unit = {
      val s = live.servedStore
      assert(s.rdd.getNumPartitions <= width, s"store width ${s.rdd.getNumPartitions} > $width")
      assert(live.storedRows == s.count())
    }
    try {
      val port = live.server.start()
      val frames = (1L to 60L).map(i => WireFixtures.commitFrame(i,
        if (i % 2 == 0) s"spark width $i" else s"vector width $i"))
      frames.grouped(5).foreach { batch =>
        batch.foreach(live.offer)
        assert(live.drainBatch() == 5L)
        checkStore()
      }
      val before = live.servedStore
      frames.take(10).foreach(live.offer)
      assert(live.drainBatch() == 0L)
      assert(live.servedStore eq before, "an all-replay drain must keep the snapshot")
      assert(live.drainBatch() == 0L)
      assert(live.servedStore eq before, "an empty drain must keep the snapshot")
      assert(live.storedRows == 60L)
      checkStore()
      assert(adminPost(port, "/deleteCondition", """{"key":"b"}""").statusCode() == 200)
      assert(live.storedRows == 30L)
      checkStore()
    } finally live.stop()
  }

  test("after several drains the dedup anti-join broadcasts the store's keys, no exchange over the store") {
    // the swap puts rows back as a local relation, so the checkpointed
    // store carries its real size; a store estimated from the cascade's
    // plan (its join estimates as the product of its sides) would lose
    // the static broadcast and shuffle the whole store every drain
    import spark.implicits._
    // a realistic width: with 1 000 conditions the cascade's estimate is
    // far past the broadcast threshold, with one it would stay small
    val conditions = ScaleSmoke.standingConditions(1000)
    val cfg = FeedServer.Config("did:web:p.example.com", "p.example.com", "did:plc:pub")
    val live = new LivePipeline(spark, conditions, cfg, service = "ws://127.0.0.1:1")
    def frame(i: Long) = WireFixtures.commitFrame(i, s"topic$i plan probe")
    try {
      (1L to 40L).grouped(10).foreach { ids =>
        ids.foreach(i => live.offer(frame(i)))
        assert(live.drainBatch() == 10L)
      }
      val probe = Firehose.postViews(Firehose.decodeCborFrames(
        (35L to 45L).map(frame).toDF("frame")))
      // the static plan, AQE off as in PlanShapeSpec: AQE starts from it
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = try Ingest.processBatch(spark, live.servedStore, probe, conditions, None)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      val storeJoins = plan.collect {
        case j: BaseJoinExec if j.right.exists(_.isInstanceOf[RDDScanExec]) => j
      }
      val estimate = live.servedStore.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(storeJoins.size == 1, s"store estimated at $estimate bytes:\n$plan")
      storeJoins.head match {
        case j: BroadcastHashJoinExec =>
          assert(j.joinType == LeftAnti && j.buildSide == BuildRight, plan)
          assert(j.right.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan)
        case j => fail(s"store estimated at $estimate bytes, so the dedup " +
          s"anti-join planned as ${j.nodeName}:\n$plan")
      }
    } finally live.stop()
  }
}
