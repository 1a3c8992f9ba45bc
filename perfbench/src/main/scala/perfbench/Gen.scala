package perfbench

import java.time.Instant
import java.util.SplittableRandom

import graft.model.{Author, Embed, Image, PostRecord, PostView, Reply, StrongRef}
import graft.sources.Cbor._

/** Zipf(s) over ranks 0 until n: rank r is drawn with weight 1/(r+1)^s. */
final class Zipf(n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One synthetic post, a pure function of (seed, index). */
final case class GenPost(uri: String, did: String, rkey: String, text: String,
    createdAt: String, lang: String, reply: Boolean, alt: Option[String])

/** Seeded synthetic Bluesky traffic. The shapes that decide the work are
  * unverified guesses (no real firehose trace is available offline):
  * topic popularity Zipf(1.1) over the 1 200 topics that
  * `ScaleSmoke.realisticConditions` feeds select on; each post spells its
  * topic in one of the forms those 13 regex families match (hashtag, year
  * suffix, plural, leading position, ...); 20% Spanish, 10% replies, 5%
  * an image with ALT text, 5% carry the exclusion word some feeds screen. */
object Gen {
  val Topics = 1200
  val TopicZipf = 1.1
  private val topicZipf = new Zipf(Topics, TopicZipf)
  private val wordZipf = new Zipf(5000, 1.1)
  private val baseMs = Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  private val isoMs = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xBF58476D1CE4E5B9L ^ i)

  private def topicText(t: String, form: Int): String = form match {
    case 0 => t
    case 1 => s"${t}s"
    case 2 => s"#$t"
    case 3 => s"$t 2026"
    case 4 => s"colored $t"
    case 5 => s"${t}ly"
    case 6 => s"${t}ness"
    case 7 => s"$t (c++)"
    case _ => s"w42 $t"
  }

  /** Post `i` of stream `stream`, created `i * stepMs` after the stream's
    * base; stream s starts s * 30 days after stream 0. */
  def post(seed: Long, stream: Long, i: Long, stepMs: Long = 20): GenPost = {
    val r = rng(seed, stream, i)
    val topic = s"topic${topicZipf.sample(r)}"
    val words = Seq.fill(4 + r.nextInt(5))(s"w${wordZipf.sample(r)}")
    val (pre, post) = words.splitAt(r.nextInt(words.size + 1))
    val lead = r.nextInt(8) == 0 // some texts open with the topic (the ^ family)
    val body = topicText(topic, r.nextInt(9))
    val text = ((if (lead) Seq(body) ++ pre else pre :+ body) ++ post ++
      (if (r.nextInt(20) == 0) Seq("spamword") else Nil)).mkString(" ")
    val did = s"did:plc:u${r.nextInt(50000)}"
    val rkey = s"3k${java.lang.Long.toString(stream * 100000000L + i, 36)}"
    GenPost(
      uri = s"at://$did/app.bsky.feed.post/$rkey",
      did = did, rkey = rkey, text = text,
      createdAt = isoMs.format(Instant.ofEpochMilli(
        baseMs + stream * 30L * 86400000L + i * stepMs + r.nextInt(stepMs.toInt))),
      lang = if (r.nextInt(5) == 0) "es" else "en",
      reply = r.nextInt(10) == 0,
      alt = if (r.nextInt(20) == 0) Some(s"alt $topic") else None)
  }

  /** The PostView wire row of a generated post: `cid` is the CID string
    * the firehose decoder derives from the post's record block. */
  def postView(p: GenPost, cid: String): PostView = PostView(
    uri = p.uri,
    cid = cid,
    author = Author(p.did, None, None),
    record = PostRecord(Some(p.text), p.createdAt, Some(Seq(p.lang)),
      if (p.reply) Some(Reply(StrongRef("at://r/root", "cr"), StrongRef("at://r/parent", "cp")))
      else None,
      p.alt.map(a => Embed(Some(Seq(Image(Some(a), None, None, None)))))),
    labels = None)

  // ---- firehose frames: DAG-CBOR #commit with a CARv1 block archive ----

  private def cidBytes(data: Array[Byte]): Array[Byte] =
    Array[Byte](0x01, 0x71.toByte, 0x12, 32) ++
      java.security.MessageDigest.getInstance("SHA-256").digest(data)

  private def car(blocks: Seq[Array[Byte]]): Array[Byte] = {
    val header = Writer.encode(CMap(Vector("version" -> CInt(1), "roots" -> CArr(Vector.empty))))
    val out = new java.io.ByteArrayOutputStream()
    out.write(VarInt.write(header.length)); out.write(header)
    blocks.foreach { data =>
      val cid = cidBytes(data)
      out.write(VarInt.write(cid.length + data.length)); out.write(cid); out.write(data)
    }
    out.toByteArray
  }

  /** The CIDv1 string of a generated post's DAG-CBOR record block. */
  def recordCid(p: GenPost): String = cidToString(cidBytes(postRecord(p)))

  def postRecord(p: GenPost): Array[Byte] = Writer.encode(CMap(Vector(
    "$type" -> CText("app.bsky.feed.post"),
    "text" -> CText(p.text),
    "createdAt" -> CText(p.createdAt),
    "langs" -> CArr(Vector(CText(p.lang)))) ++
    (if (p.reply) Vector("reply" -> CMap(Vector(
      "root" -> CMap(Vector("uri" -> CText("at://r/root"), "cid" -> CText("cr"))),
      "parent" -> CMap(Vector("uri" -> CText("at://r/parent"), "cid" -> CText("cp"))))))
    else Vector.empty) ++
    p.alt.map(a => "embed" -> CMap(Vector("images" -> CArr(Vector(
      CMap(Vector("alt" -> CText(a)))))))).toVector))

  /** One repo op of a commit: a create carries its record block. */
  sealed trait Op
  final case class CreatePost(p: GenPost) extends Op
  final case class CreateOther(collection: String, rkey: String) extends Op
  final case class Delete(collection: String, rkey: String) extends Op

  def commitFrame(seq: Long, repo: String, ops: Seq[Op]): Array[Byte] = {
    val blocks = Seq.newBuilder[Array[Byte]]
    val opVals = ops.map { op =>
      val (action, path, block) = op match {
        case CreatePost(p) => ("create", s"app.bsky.feed.post/${p.rkey}", Some(postRecord(p)))
        case CreateOther(c, rk) => ("create", s"$c/$rk", Some(Writer.encode(CMap(Vector(
          "$type" -> CText(c), "subject" -> CText("at://did:plc:x/app.bsky.feed.post/y"),
          "createdAt" -> CText("2026-01-01T00:00:00.000Z"))))))
        case Delete(c, rk) => ("delete", s"$c/$rk", None)
      }
      block.foreach(blocks += _)
      CMap(Vector("action" -> CText(action), "path" -> CText(path)) ++
        block.map(b => "cid" -> CTag(42, CBytes(0x00.toByte +: cidBytes(b)))))
    }
    val header = Writer.encode(CMap(Vector("op" -> CInt(1), "t" -> CText("#commit"))))
    val body = Writer.encode(CMap(Vector(
      "seq" -> CInt(seq), "repo" -> CText(repo),
      "ops" -> CArr(opVals.toVector), "blocks" -> CBytes(car(blocks.result())))))
    header ++ body
  }
}
