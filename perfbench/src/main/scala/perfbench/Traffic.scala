package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One getFeedSkeleton request: a feed, a keyset cursor (None = first
  * page), and its kind — first page, cursor walk, or a walk past the head
  * chain that the head cache cannot hold (the Spark fallback). */
final case class Req(feed: Int, cursor: Option[String], kind: Req.Kind)

object Req {
  sealed trait Kind
  case object First extends Kind
  case object Walk extends Kind
  case object Deep extends Kind
}

/** The outcome of one request: times in ns on the System.nanoTime clock.
  * `dueNs` is when the schedule wanted it sent (open loop); the page is
  * the response's post uris and cursor, kept for the requests the check
  * samples. */
final case class Done(i: Int, dueNs: Long, sendNs: Long, endNs: Long, ok: Boolean,
    page: Option[(Seq[String], Option[String])])

/** Loopback HTTP traffic against a FeedServer, from at most `conns`
  * connections (one HTTP/1.1 client each). */
final class Traffic(port: Int, publisherDid: String, recordName: Int => String, limit: Int) {
  private val mapper = new ObjectMapper()

  private def uri(r: Req): URI = URI.create(
    s"http://127.0.0.1:$port/xrpc/app.bsky.feed.getFeedSkeleton?feed=" +
      URLEncoder.encode(s"at://$publisherDid/app.bsky.feed.generator/${recordName(r.feed)}",
        StandardCharsets.UTF_8) + s"&limit=$limit" +
      r.cursor.map(c => "&cursor=" + URLEncoder.encode(c, StandardCharsets.UTF_8)).getOrElse(""))

  private def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Send one request; returns (ok, parsed page when `keep`). */
  private def send(client: HttpClient, i: Int, r: Req, keep: Boolean)
      : (Boolean, Option[(Seq[String], Option[String])]) =
    try {
      val resp = Trace.span("serving.http", s"r$i") {
        client.send(HttpRequest.newBuilder(uri(r)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      }
      if (resp.statusCode() != 200) (false, None)
      else if (!keep) (true, None)
      else {
        val n = mapper.readTree(resp.body())
        val posts = n.get("feed").elements().asScala.map(_.get("post").asText).toSeq
        (true, Some((posts, Option(n.get("cursor")).map(_.asText))))
      }
    } catch { case _: java.io.IOException => (false, None) }

  private def workers[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(w => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = body(w)
      }))
      fs.map(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  /** Open loop: request i is due at start + i/rate whatever the server
    * does, and is timed from that due time, so a stall charges every
    * request queued behind it. */
  def openLoop(reqs: IndexedSeq[Req], rate: Double, conns: Int,
      keep: Int => Boolean): Seq[Done] = {
    val next = new AtomicInteger
    val start = System.nanoTime() + 20000000L
    workers(conns) { _ =>
      val client = newClient()
      val out = Seq.newBuilder[Done]
      var i = next.getAndIncrement()
      while (i < reqs.size) {
        val due = start + (i / rate * 1e9).toLong
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        val (ok, page) = send(client, i, reqs(i), keep(i))
        out += Done(i, due, now, System.nanoTime(), ok, page)
        i = next.getAndIncrement()
      }
      out.result()
    }.flatten.sortBy(_.i)
  }

  /** Closed loop: `clients` callers, each sending its next request when
    * the previous one returns, for `seconds`. */
  def closedLoop(reqs: IndexedSeq[Req], clients: Int, seconds: Double): Seq[Done] = {
    val next = new AtomicInteger
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    workers(clients) { _ =>
      val client = newClient()
      val out = Seq.newBuilder[Done]
      var now = System.nanoTime()
      while (now < stop) {
        val i = next.getAndIncrement() % reqs.size
        val (ok, _) = send(client, i, reqs(i), keep = false)
        val end = System.nanoTime()
        out += Done(i, now, now, end, ok, None)
        now = end
      }
      out.result()
    }.flatten
  }
}
