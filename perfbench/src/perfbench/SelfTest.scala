package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.KafkaShaped
import graft.streaming.{HttpLogPipeline, Recovery}

/** Generator self-tests: determinism, the input shares the workloads
  * promise, the planted near-duplicate structure, and that the ingest check
  * catches a pipeline keyed on `offset` alone. Prints one line per check;
  * exit code 0 only if every check holds.
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def digest(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  def ingestDigest(in: Gen.Ingest): String = digest(in.files.iterator.zipWithIndex.flatMap {
    case (f, i) => Iterator(bytes(s"file $i")) ++ f.iterator.flatMap(x =>
      Iterator(bytes(s"${x.partition}/${x.offset}/"), x.value))
  })
  def eventsDigest(es: Seq[Gen.Event]): String = digest(es.iterator.map(e => bytes(e.toString)))
  def corpusDigest(c: Gen.Corpus): String =
    digest(c.docs.iterator.map(d => bytes(s"${d.id}\t${d.text}\n")) ++
      c.pairs.toSeq.sorted.iterator.map(p => bytes(p.toString)))

  def run(): Int = {
    val ingestSpec = new Ingest(0).spec
    val nearDup = new NearDup(0)
    val rows = new Dashboard(0).rows

    // determinism: same seed, same bytes; another seed, other bytes
    expect(ingestDigest(Gen.ingest(1, ingestSpec)) == ingestDigest(Gen.ingest(1, ingestSpec)),
      "ingest: same seed gives byte-identical frames")
    expect(ingestDigest(Gen.ingest(1, ingestSpec)) != ingestDigest(Gen.ingest(2, ingestSpec)),
      "ingest: another seed gives other frames")
    expect(eventsDigest(Gen.events(1, rows)) == eventsDigest(Gen.events(1, rows)),
      "dashboard: same seed gives identical events")
    expect(eventsDigest(Gen.events(1, rows)) != eventsDigest(Gen.events(2, rows)),
      "dashboard: another seed gives other events")
    val c1 = Gen.corpus(1, nearDup.docs, nearDup.plantedShare)
    expect(corpusDigest(c1) == corpusDigest(Gen.corpus(1, nearDup.docs, nearDup.plantedShare)),
      "neardup: same seed gives an identical corpus")
    expect(corpusDigest(c1) != corpusDigest(Gen.corpus(2, nearDup.docs, nearDup.plantedShare)),
      "neardup: another seed gives another corpus")

    // measured shares, over three seeds
    for (seed <- 1L to 3L) {
      val in = Gen.ingest(seed, ingestSpec)
      val sh = Gen.ingestShares(in)
      println(f"seed $seed ingest shares: " + sh.toSeq.sorted.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ") +
        s" frames=${in.frameCount}")
      expect(sh("replay") > 0.17 && sh("replay") < 0.21, "ingest: replay share ≈ 18% of frames (file 0 has none)")
      expect(sh("malformed") > 0.005 && sh("malformed") < 0.015, "ingest: malformed share ≈ 1% of frames")
      expect(sh("late") > 0.03 && sh("late") < 0.07, "ingest: late share ≈ 5% of fresh records")
      expect(sh("ipv6") > 0.05 && sh("ipv6") < 0.40, "ingest: IPv6 share of records in (5%, 40%)")
      expect(sh("non_ip") > 0.02 && sh("non_ip") < 0.25, "ingest: non-IP share of records in (2%, 25%)")
      val c = Gen.corpus(seed, nearDup.docs, nearDup.plantedShare)
      println(f"seed $seed neardup: ${c.docs.size} docs, ${c.pairs.size} planted pairs " +
        f"(planted copies ${c.pairs.size.toDouble / c.docs.size}%.4f of docs)")
      checkCorpus(c)
    }

    // offsets repeat across partitions
    val in = Gen.ingest(1, ingestSpec)
    val partsPerOffset = in.frames.toVector.groupBy(_.offset).values.map(_.map(_.partition).distinct.size)
    expect(partsPerOffset.count(_ > 1) > partsPerOffset.size / 2,
      "ingest: most offset values occur in more than one partition")
    expect(Gen.expectedTotals(in, _.offset) != Gen.expectedTotals(in),
      "ingest: counting by offset alone gives other totals than by (partition, offset)")
    sparkChecks()

    println(if (failures == 0) "all self-tests pass" else s"$failures self-test(s) failed")
    if (failures == 0) 0 else 1
  }

  /** Planted pairs sit far above the 0.5 threshold, every other pair that
    * shares any 3-gram far below it. */
  private def checkCorpus(c: Gen.Corpus): Unit = {
    val byId = c.docs.map(d => d.id -> d.text).toMap
    val planted = c.pairs.toSeq.map { case (a, b) => Gen.jaccard(byId(a), byId(b)) }
    expect(planted.forall(_ >= 0.7), f"neardup: planted pairs have Jaccard ≥ 0.7 (min ${planted.min}%.3f)")
    val index = scala.collection.mutable.HashMap.empty[String, List[Long]]
    c.docs.foreach(d => Gen.shingles(d.text).foreach(s => index(s) = d.id :: index.getOrElse(s, Nil)))
    val sharing = index.valuesIterator.flatMap { ids =>
      val s = ids.distinct.sorted
      for (i <- s.iterator; j <- s.iterator if i < j) yield (i, j)
    }.toSet -- c.pairs
    val worst = if (sharing.isEmpty) 0.0 else sharing.iterator.map { case (a, b) => Gen.jaccard(byId(a), byId(b)) }.max
    expect(worst <= 0.2, f"neardup: unplanted pairs have Jaccard ≤ 0.2 (max $worst%.3f over ${sharing.size} pairs)")
  }

  /** The ingest check, run on the engine in batch posture over a small
    * backlog: keyed on (partition, offset) it passes; keyed on offset
    * alone (Recovery.offsetKeyedLogs) it fails. */
  private def sparkChecks(): Unit = {
    val in = Gen.ingest(7, Gen.IngestSpec(files = 4, freshPerFile = 2000))
    val want = Gen.expectedTotals(in)
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "selftest")
    val spark = Main.session(2, work)
    try {
      val rows = in.frames.map(f => Row(null, f.value, "http_log", f.partition, f.offset,
        new java.sql.Timestamp(Gen.T0), 0)).toVector
      val frames = spark.createDataFrame(rows.asJava, KafkaShaped.frameSchema)
      def totals(logs: org.apache.spark.sql.DataFrame) =
        Ingest.totals(HttpLogPipeline.windowedTotals(logs).select(col("window.start"),
          col("resource_id"), col("response_status"), col("cache_status"), col("remote_addr"),
          col("requests"), col("total_bytes"), col("total_time_milli")).collect())
      expect(totals(HttpLogPipeline.dedupReplayed(Ingest.logs(frames), Seq("partition", "offset")))
        .contains(want), "ingest check passes for the (partition, offset)-keyed pipeline")
      expect(!totals(Recovery.offsetKeyedLogs(frames)).contains(want),
        "ingest check fails for Recovery.offsetKeyedLogs (offset alone)")
    } finally spark.stop()
  }
}
