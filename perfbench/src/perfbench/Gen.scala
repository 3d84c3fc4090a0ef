package perfbench

import java.util.SplittableRandom

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HttpLogCodec

/** Seeded input generators. The same seed gives byte-identical inputs; the
  * program under test only ever sees what these produce.
  */
object Gen {

  /** 2024-01-01T00:00:00Z in epoch millis. */
  val T0: Long = 1704067200000L
  val HourMs: Long = 3600000L
  val MinuteMs: Long = 60000L

  // ---------------------------------------------------------------- ingest

  /** Address kinds; the expected anonymized form is derived from the kind,
    * not from the program's parser. */
  final val V4 = 0
  final val V6 = 1
  final val NonIp = 2

  final case class LogRec(tsMilli: Long, resourceId: Long, bytesSent: Long,
                          requestTimeMilli: Long, status: Int, cache: String,
                          method: String, addr: String, addrKind: Int, url: String)

  /** One Kafka-shaped message. `rec` is null for a malformed frame. */
  final case class Frame(partition: Int, offset: Long, value: Array[Byte],
                         rec: LogRec, replay: Boolean)

  final case class IngestSpec(files: Int, freshPerFile: Int, partitions: Int = 8,
                              replayPerFresh: Double = 0.25, malformed: Double = 0.01,
                              late: Double = 0.05, fileSpanMs: Long = 10 * MinuteMs,
                              maxReplayLag: Int = 3, clients: Int = 3000,
                              resources: Int = 200)

  final case class Ingest(spec: IngestSpec, files: Vector[Vector[Frame]]) {
    def frames: Iterator[Frame] = files.iterator.flatten
    def frameCount: Int = files.iterator.map(_.size).sum
  }

  private val statuses = Array(200, 200, 200, 200, 200, 200, 200, 206, 301, 304, 304, 404, 404, 500)
  private val caches = Array("HIT", "HIT", "HIT", "MISS", "MISS", "EXPIRED", "BYPASS")
  private val methods = Array("GET", "GET", "GET", "GET", "POST", "HEAD")
  private val nonIp = Array("-", "unknown", "localhost", "proxy.internal", "10.0.0", "1.2.3.4.5")

  /** Index in [0, n) with probability ∝ 1/(i+1): a skewed draw. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def draw(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** RFC 5952 canonical IPv6 text: lowercase, no leading zeros, and at most
    * one compressed zero run (of length ≥ 2). The first and last groups are
    * never zero, so no special form (`::1`, v4-mapped) can arise. */
  private def ipv6(rng: SplittableRandom): String = {
    val g = Array.fill(8)(1 + rng.nextInt(0xffff))
    if (rng.nextBoolean()) {
      val start = 1 + rng.nextInt(5)
      val len = 2 + rng.nextInt(math.min(2, 6 - start))
      val head = g.slice(0, start).map(Integer.toHexString).mkString(":")
      val tail = g.slice(start + len, 8).map(Integer.toHexString).mkString(":")
      s"$head::$tail"
    } else g.map(Integer.toHexString).mkString(":")
  }

  private def client(rng: SplittableRandom): (String, Int) = {
    val u = rng.nextDouble()
    if (u < 0.70)
      (Seq.fill(4)(rng.nextInt(256)).mkString("."), V4)
    else if (u < 0.90) (ipv6(rng), V6)
    else (nonIp(rng.nextInt(nonIp.length)), NonIp)
  }

  def encode(r: LogRec): Array[Byte] =
    HttpLogCodec.encode(r.tsMilli, r.resourceId, r.bytesSent, r.requestTimeMilli, r.status,
      UTF8String.fromString(r.cache), UTF8String.fromString(r.method),
      UTF8String.fromString(r.addr), UTF8String.fromString(r.url))

  /** Bytes that can never decode: an odd length fails the codec's
    * word-alignment check, whether random or a truncated real frame. */
  private def malformed(rng: SplittableRandom, valid: Array[Byte]): Array[Byte] =
    if (rng.nextBoolean()) java.util.Arrays.copyOf(valid, valid.length - 1 - 2 * rng.nextInt(2))
    else {
      val b = new Array[Byte](1 + 2 * rng.nextInt(20))
      rng.nextBytes(b)
      b
    }

  /** A backlog of frame files. File i holds fresh records stamped inside
    * [T0 + i·span, T0 + (i+1)·span), a late share pushed back 15–45 min,
    * and redeliveries of frames from the previous `maxReplayLag` files with
    * their original partition, offset and payload. Offsets count per
    * partition from 0, as Kafka's do, so every offset value repeats across
    * partitions. Worst-case lateness is 3·span + 45 min = 75 min, inside
    * the pipeline's 2-hour watermark.
    */
  def ingest(seed: Long, spec: IngestSpec): Ingest = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val nextOffset = new Array[Long](spec.partitions)
    val pool = Vector.fill(spec.clients)(client(rng))
    val clientZipf = new Zipf(spec.clients)
    val resourceZipf = new Zipf(spec.resources)
    val files = Vector.newBuilder[Vector[Frame]]
    val history = scala.collection.mutable.ArrayBuffer.empty[Vector[Frame]]
    for (i <- 0 until spec.files) {
      val start = T0 + i * spec.fileSpanMs
      val own = Vector.fill(spec.freshPerFile) {
        var ts = start + rng.nextLong(spec.fileSpanMs)
        if (rng.nextDouble() < spec.late) ts -= 15 * MinuteMs + rng.nextLong(30 * MinuteMs)
        val rid = 100000L + resourceZipf.draw(rng)
        val (addr, kind) = pool(clientZipf.draw(rng))
        val rec = LogRec(ts, rid, 200L + rng.nextLong(2000000L), 1L + rng.nextLong(5000L),
          statuses(rng.nextInt(statuses.length)), caches(rng.nextInt(caches.length)),
          methods(rng.nextInt(methods.length)), addr, kind,
          s"/r/$rid/obj/${rng.nextInt(100000)}?v=${rng.nextInt(10)}")
        val p = rng.nextInt(spec.partitions)
        val off = nextOffset(p)
        nextOffset(p) += 1
        val bytes = encode(rec)
        if (rng.nextDouble() < spec.malformed) Frame(p, off, malformed(rng, bytes), null, replay = false)
        else Frame(p, off, bytes, rec, replay = false)
      }
      val earlier = history.takeRight(spec.maxReplayLag).flatten.toVector
      val replays =
        if (earlier.isEmpty) Vector.empty
        else Vector.fill(math.round(spec.freshPerFile * spec.replayPerFresh).toInt) {
          earlier(rng.nextInt(earlier.size)).copy(replay = true)
        }
      history += own
      files += shuffle(own ++ replays, rng)
    }
    Ingest(spec, files.result())
  }

  def shuffle[T](v: Seq[T], rng: SplittableRandom): Vector[T] = {
    val a = v.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** The GDPR rule, stated on the generated kind: IPv4 keeps three octets,
    * canonical IPv6 gets `:xxxx` appended, anything else passes through. */
  def expectedAnon(r: LogRec): String = r.addrKind match {
    case V4 => r.addr.substring(0, r.addr.lastIndexOf('.')) + ".x"
    case V6 => r.addr + ":xxxx"
    case _  => r.addr
  }

  final case class TotalKey(hourMs: Long, resourceId: Long, status: Int, cache: String, addr: String)
  final case class Totals(requests: Long, bytes: Long, timeMilli: Long)

  /** Hourly totals over the records, counting each delivered message once
    * under `key` and dropping malformed frames. */
  def expectedTotals(in: Ingest, key: Frame => Any = f => (f.partition, f.offset))
      : Map[TotalKey, Totals] = {
    val seen = scala.collection.mutable.HashSet.empty[Any]
    val acc = scala.collection.mutable.HashMap.empty[TotalKey, Totals]
    in.frames.foreach { f =>
      if (seen.add(key(f)) && f.rec != null) {
        val r = f.rec
        val k = TotalKey(Math.floorDiv(r.tsMilli, HourMs) * HourMs, r.resourceId, r.status,
          r.cache, expectedAnon(r))
        val t = acc.getOrElse(k, Totals(0, 0, 0))
        acc(k) = Totals(t.requests + 1, t.bytes + r.bytesSent, t.timeMilli + r.requestTimeMilli)
      }
    }
    acc.toMap
  }

  /** Measured input shares, by frame (replay, malformed, late) and by
    * decodable record (address kinds). A late record is one stamped
    * earlier than some record in an earlier file. */
  def ingestShares(in: Ingest): Map[String, Double] = {
    val n = in.frameCount.toDouble
    val recs = in.frames.filter(_.rec != null).toVector
    var maxBefore = Long.MinValue
    var late = 0
    in.files.foreach { file =>
      val recsInFile = file.filter(f => f.rec != null && !f.replay).map(_.rec.tsMilli)
      late += recsInFile.count(_ < maxBefore)
      if (recsInFile.nonEmpty) maxBefore = math.max(maxBefore, recsInFile.max)
    }
    Map(
      "replay" -> in.frames.count(_.replay) / n,
      "malformed" -> in.frames.count(_.rec == null) / n,
      "late" -> late / in.frames.count(f => f.rec != null && !f.replay).toDouble,
      "ipv6" -> recs.count(_.rec.addrKind == V6) / recs.size.toDouble,
      "non_ip" -> recs.count(_.rec.addrKind == NonIp) / recs.size.toDouble)
  }

  // ------------------------------------------------------------- dashboard

  final case class Event(eventId: Long, tsMicros: Long, userId: Long, eventType: String,
                         value: Double, props: String)

  private val eventTypes = Array("view", "view", "view", "view", "view", "click", "click",
    "click", "purchase", "signup", "error")

  /** An `events` table in the engine's testdata schema, spread over three
    * days with skewed users (so `resource_id = user_id % 50` is skewed). */
  def events(seed: Long, rows: Int, users: Int = 5000): Vector[Event] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val userZipf = new Zipf(users)
    val spanMicros = 3L * 24 * HourMs * 1000
    Vector.tabulate(rows) { i =>
      Event(i.toLong, T0 * 1000 + rng.nextLong(spanMicros), 1L + userZipf.draw(rng),
        eventTypes(rng.nextInt(eventTypes.length)), rng.nextInt(10000) / 100.0,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
  }

  // --------------------------------------------------------------- neardup

  final case class Doc(id: Long, text: String)
  final case class Corpus(docs: Vector[Doc], pairs: Set[(Long, Long)])

  private def word(rng: SplittableRandom): String = {
    val len = 3 + rng.nextInt(7)
    val sb = new StringBuilder
    for (_ <- 0 until len) sb += ('a' + rng.nextInt(26)).toChar
    sb.result()
  }

  private val boilerplate = "all rights reserved subscribe to our newsletter"

  /** `docs` documents of 40–120 words from a 5000-word vocabulary, a fifth
    * carrying a shared boilerplate line. `plantedShare` of the documents
    * are the second half of a planted pair: a copy of a distinct
    * background document with one word in 40 substituted (shingle Jaccard
    * ≈ 0.85). Ids are a seeded permutation, so the higher id of a pair is
    * the copy only half the time. */
  def corpus(seed: Long, docs: Int, plantedShare: Double): Corpus = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = Vector.fill(5000)(word(rng))
    val nPairs = math.round(docs * plantedShare).toInt
    val nBackground = docs - nPairs
    val background = Vector.fill(nBackground) {
      val ws = Vector.fill(40 + rng.nextInt(81))(vocab(rng.nextInt(vocab.size)))
      if (rng.nextInt(5) == 0) ws :+ boilerplate else ws
    }
    val sources = shuffle(background.indices.toVector, rng).take(nPairs)
    val copies = sources.map { s =>
      val ws = background(s).toArray
      val edits = math.max(1, ws.length / 40)
      for (_ <- 0 until edits) {
        val at = rng.nextInt(ws.length)
        var w = vocab(rng.nextInt(vocab.size))
        while (w == ws(at)) w = vocab(rng.nextInt(vocab.size))
        ws(at) = w
      }
      ws.toVector
    }
    val texts = (background ++ copies).map(_.mkString(" "))
    val ids = shuffle(texts.indices.toVector, rng).map(_.toLong)
    val pairs = sources.zipWithIndex.map { case (s, j) =>
      val a = ids(s); val b = ids(nBackground + j)
      (math.min(a, b), math.max(a, b))
    }.toSet
    Corpus(texts.indices.map(i => Doc(ids(i), texts(i))).sortBy(_.id).toVector, pairs)
  }

  /** Word 3-gram Jaccard, computed on strings independently of TextHash. */
  def jaccard(a: String, b: String): Double = {
    val sa = shingles(a); val sb = shingles(b)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  def shingles(t: String): Set[String] =
    t.split(' ').sliding(3).map(_.mkString(" ")).toSet
}
