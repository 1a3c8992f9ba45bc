package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Condition
import graft.serving.FeedServer
import graft.sources.{Firehose, SubscribeReposClient}
import graft.streaming.Ingest

/** The reference APPLICATION assembled from the engine's parts
  * (/root/reference/src/index.ts + server.ts: subscribe → ingest → serve,
  * one process): a [[sources.SubscribeReposClient]] fills a bounded frame
  * buffer from the wire and keeps the resume cursor; [[drainBatch]] turns
  * the buffered frames into one micro-batch — real CBOR/CAR decode
  * ([[sources.Firehose.decodeCborFrames]]), PostView routing, the
  * standing-condition cascade + dedup upsert
  * ([[streaming.Ingest.processBatch]]) — and swaps the served store
  * atomically; [[serving.FeedServer]] pages the store over XRPC HTTP the
  * whole time.
  *
  * Batching is CALLER-driven (a scheduler loop, or a spec's deterministic
  * flush): micro-batch semantics without coupling this class to a clock.
  * The store is in-memory: a batch's new rows are collected once and
  * swapped in at a fixed defaultParallelism width ([[swapIn]]). The
  * durable shape is [[streaming.Ingest.start]] over a parquet/Delta store
  * dir; serving and subscription wiring are identical either way.
  */
final class LivePipeline(
    spark: SparkSession,
    conditions: Seq[Condition],
    cfg: FeedServer.Config,
    service: String,
    profiles: Option[DataFrame] = None,
    cursorEvery: Int = 20,
    maxBufferedFrames: Int = 100000,
    adminPasskey: Option[String] = None) {

  private val frames = new ConcurrentLinkedQueue[Array[Byte]]()
  private val buffered = new AtomicLong(0)
  private val cursor = new AtomicLong(-1L)
  @volatile private var store: DataFrame = Ingest.emptyStore(spark)
  @volatile private var storeRows: Long = 0L

  /** Frames past the buffer bound are DROPPED — safe, not lossy: the
    * cursor only advances on drained commits, so a reconnect replays
    * everything the buffer shed (at-least-once, dedup downstream). */
  val client: SubscribeReposClient = new SubscribeReposClient(
    service = service,
    getCursor = () => Option(cursor.get()).filter(_ >= 0),
    updateCursor = cursor.set,
    onFrame = f => offer(f),
    cursorEvery = cursorEvery)

  /** LIVE control plane: admin CRUD over HTTP mutates it and the next
    * [[drainBatch]] cascades with the updated set — the reference's
    * reload-per-cycle semantics (subscription.ts:133-137, 409-412). */
  val control = new graft.model.ControlPlane(conditions)

  /** Per-feed cycle metrics (S12/F9): every drain records its wall time
    * and captured counts, the reference's lastExecTime/recordCount row. */
  val metrics = new graft.model.ConditionMetrics
  metrics.attach(control) // getQuery reports each cycle's metrics

  /** Whole-store generation: bumped by the one swap [[metrics]] does
    * not see per-key (admin delete). */
  @volatile private var storeGen = 0L

  /** Serving head cache, the live shape's token mirroring the durable
    * pipeline's: whole-store generation + the feed's landed-batch
    * counter, so a drain invalidates only the feeds it touched.
    * [[swapIn]]'s callers record metrics AFTER the snapshot swap so a
    * token can never precede the data it names. */
  val headCache = new graft.serving.FeedHeadCache(spark, _ => store,
    key => Some(s"g$storeGen:${metrics.keyCycle(key)}"))

  val server: FeedServer = new FeedServer(spark, () => store,
    () => control.conditions, cfg,
    admin = Some(FeedServer.Admin(control,
      deletePosts = key => synchronized {
        store = store.filter(org.apache.spark.sql.functions.col("key") =!= key)
          .localCheckpoint()
        storeRows = store.count()
        storeGen += 1
      },
      passkey = adminPasskey)),
    headCache = Some(headCache))

  /** Start subscription + HTTP serving; returns the bound HTTP port. */
  def start(reconnectDelayMs: Long = 3000, maxRestarts: Int = Int.MaxValue,
      idleTimeoutMs: Long = 60000): Int = {
    client.start(reconnectDelayMs, maxRestarts, idleTimeoutMs)
    server.start()
  }

  /** Enqueue a frame as if it arrived on the wire — backfill from a frame
    * dump, or redelivery injection in tests. Same bound as the socket
    * path. */
  def offer(frame: Array[Byte]): Unit =
    // reserve the slot atomically — a check-then-add would let concurrent
    // producers (socket thread + backfill) overshoot the advertised bound
    if (buffered.incrementAndGet() <= maxBufferedFrames) frames.add(frame)
    else buffered.decrementAndGet()

  /** Drain the buffer into one micro-batch; returns rows newly stored.
    * Replayed frames fall out of the dedup anti-join (effectively-once,
    * T8), so at-least-once delivery upstream is fine. */
  def drainBatch(): Long = synchronized {
    val t0 = System.nanoTime()
    val buf = Iterator.continually(frames.poll()).takeWhile(_ != null).toVector
    buffered.addAndGet(-buf.size.toLong)
    if (buf.isEmpty) return 0L
    import spark.implicits._
    val conditions = control.conditions // live: admin edits land next drain
    val posts = Firehose.postViews(Firehose.decodeCborFrames(buf.toDF("frame")))
    val perKey = swapIn(Ingest.processBatch(spark, store, posts, conditions, profiles))
    metrics.record(conditions, perKey, elapsedMs(t0))
    perKey.values.sum
  }

  /** Initial backfill for feeds with no stored rows yet (T2): cascade a
    * searchPosts read, cap each new feed at its `initPost` newest
    * matches, dedup-upsert, swap the served snapshot. Run it after a
    * setQuery (or at startup) with a batch read of the `graft-search`
    * source; feeds that already hold rows are untouched. */
  def backfillFromSearch(searchHits: DataFrame): Long = synchronized {
    val t0 = System.nanoTime()
    val conditions = control.conditions
    val posts = Firehose.searchHitsAsPostViews(searchHits)
    val perKey = swapIn(Ingest.backfill(spark, store, posts, conditions, profiles))
    // only backfilled feeds record, so only their heads rebuild
    val touched = conditions.filter(c => perKey.contains(c.key))
    if (touched.nonEmpty) metrics.record(touched, perKey, elapsedMs(t0))
    perKey.values.sum
  }

  /** The one store swap. ONE action collects `fresh` — exactly the rows
    * this swap adds to the in-memory store, so the driver holds at most
    * one drain's store growth — and the per-feed counts come from those
    * rows. A non-empty delta swaps in `store ∪ rows` coalesced to
    * defaultParallelism partitions, checkpointed eagerly (a stable
    * snapshot whose width never grows); an empty delta, such as an
    * all-replay batch, leaves the snapshot in place. The rows go back as
    * a LOCAL relation, never as `fresh`'s plan or its checkpoint: a
    * checkpoint keeps the estimate of the plan it cut (the cascade's join
    * estimates as the product of its sides), and a store estimated at
    * hundreds of GiB loses the next drain's broadcast anti-join. Callers
    * record metrics (the head-cache tokens) only AFTER the swap, so a
    * token can never name the OLD snapshot. The previous snapshot is not
    * unpersisted: a concurrent request may still page it, and its
    * truncated lineage cannot recompute; the ContextCleaner reclaims it. */
  private def swapIn(fresh: DataFrame): Map[String, Long] = {
    val rows = fresh.collect()
    if (rows.nonEmpty) {
      val delta = spark.createDataFrame(java.util.Arrays.asList(rows: _*), fresh.schema)
      store = store.unionByName(delta)
        .coalesce(spark.sparkContext.defaultParallelism).localCheckpoint()
      storeRows += rows.length
    }
    rows.groupMapReduce(_.getAs[String]("key"))(_ => 1L)(_ + _)
  }

  private def elapsedMs(t0: Long): Long =
    math.max(1L, (System.nanoTime() - t0) / 1000000L)

  private[graft] def servedStore: DataFrame = store // specs check its shape

  def storedCursor: Long = cursor.get()
  def storedRows: Long = storeRows

  def stop(): Unit = {
    client.stop()
    server.stop()
    store.unpersist(blocking = false)
  }
}
