package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.unsafe.types.UTF8String
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.functions.{HttpLogCodec, IpAnon}
import graft.sources.KafkaShaped
import graft.streaming.{HttpLogPipeline, Recovery}

object Ingest {
  def opId(queryId: String, batchId: Long): String = s"ingest-$queryId-$batchId"

  /** Decoded, anonymized log rows keyed by (partition, offset). */
  def logs(frames: DataFrame): DataFrame = {
    val (good, _) = KafkaShaped.decodeSplit(frames)
    HttpLogPipeline.anonymize(good.select(
      col("partition"), col("offset"),
      expr("timestamp_millis(r.ts_milli)").as("ts"),
      col("r.resource_id").as("resource_id"),
      col("r.bytes_sent").as("bytes_sent"),
      col("r.request_time_milli").as("request_time_milli"),
      col("r.response_status").as("response_status"),
      col("r.cache_status").as("cache_status"),
      col("r.remote_addr").as("remote_addr")))
  }

  /** Rows shaped like `Recovery.finalTotals` as a map, or None when a key
    * appears twice. */
  def totals(rows: Array[Row]): Option[Map[Gen.TotalKey, Gen.Totals]] = {
    val m = rows.map { r =>
      Gen.TotalKey(r.getTimestamp(0).getTime, r.getLong(1), r.getInt(2), r.getString(3),
        r.getString(4)) -> Gen.Totals(r.getLong(5), r.getLong(6), r.getLong(7))
    }.toMap
    if (m.size == rows.length) Some(m) else None
  }
}

/** Writes frames as one parquet file in `KafkaShaped.frameSchema`, with
  * the plain parquet writer: input generation needs no Spark job. */
object FrameFile {
  private val schema = MessageTypeParser.parseMessageType(
    """message frame {
      |  optional binary key;
      |  optional binary value;
      |  optional binary topic (STRING);
      |  optional int32 partition;
      |  optional int64 offset;
      |  optional int64 timestamp (TIMESTAMP(MICROS,true));
      |  optional int32 timestampType;
      |}""".stripMargin)

  def write(path: Path, frames: Seq[Gen.Frame], brokerMillis: Long): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try frames.foreach { f =>
      w.write(groups.newGroup()
        .append("value", Binary.fromConstantByteArray(f.value))
        .append("topic", "http_log")
        .append("partition", f.partition)
        .append("offset", f.offset)
        .append("timestamp", brokerMillis * 1000L)
        .append("timestampType", 0))
    } finally w.close()
  }
}

/** `ingest`: one consumer drains a backlog of Kafka-shaped frame files, one
  * file per trigger: fileStream → decodeSplit → anonymize →
  * withEventTimeBounds → dedupReplayed(partition, offset) →
  * Recovery.totalsBatchSink, checked through Recovery.finalTotals.
  *
  * This composes the steps of `Recovery.runUntilDrained` by hand because
  * `Recovery.offsetKeyedLogs` deduplicates on `offset` alone, which merges
  * distinct messages of different partitions that share an offset; the
  * backlog here numbers offsets per partition, as Kafka does.
  *
  * An operation is a micro-batch; a round is one full drain of the backlog
  * with a fresh checkpoint and sink.
  */
final class Ingest(seed: Long) extends Workload {
  val name = "ingest"
  val spec = Gen.IngestSpec(files = 8, freshPerFile = 8000)
  val warmFiles = 2

  private var input: Gen.Ingest = _
  private var expected: Map[Gen.TotalKey, Gen.Totals] = _
  private var warmExpected: Map[Gen.TotalKey, Gen.Totals] = _
  private var framesDir: Path = _
  private var warmDir: Path = _
  private var runsDir: Path = _
  private var drains = 0
  private val drainQueries = mutable.HashMap.empty[Phase, mutable.Set[String]]

  def prepare(spark: SparkSession, dir: Path): Unit = {
    input = Gen.ingest(seed, spec)
    expected = Gen.expectedTotals(input)
    warmExpected = Gen.expectedTotals(input.copy(files = input.files.take(warmFiles)))
    runsDir = dir.resolve("drains")
    framesDir = dir.resolve("frames")
    warmDir = dir.resolve("warm")
    Files.createDirectories(framesDir)
    Files.createDirectories(warmDir)
    // the file source takes files oldest first: pin the order by mtime
    val base = System.currentTimeMillis() - (spec.files + 10) * 1000L
    input.files.zipWithIndex.foreach { case (file, i) =>
      val target = framesDir.resolve(f"frames-$i%05d.parquet")
      FrameFile.write(target, file, Gen.T0 + (i + 1) * spec.fileSpanMs)
      target.toFile.setLastModified(base + i * 1000L)
      if (i < warmFiles) {
        val w = warmDir.resolve(target.getFileName)
        Files.copy(target, w)
        w.toFile.setLastModified(base + i * 1000L)
      }
    }
  }

  val settleRounds = 1

  def warmUp(spark: SparkSession): Unit = {
    val p = new Phase(None)
    drain(spark, warmDir, warmFiles, warmExpected, p, 0)
    require(p.errors.isEmpty && p.ops.forall(_.ok), s"warm-up drain failed: ${p.errors.mkString("; ")}")
  }

  def run(spark: SparkSession, deadlineNs: Long, phase: Phase): Unit =
    phase.runRounds(deadlineNs)(round => drain(spark, framesDir, spec.files, expected, phase, round))

  /** One drain; true when every file was processed. */
  private def drain(spark: SparkSession, dir: Path, files: Int,
                    want: Map[Gen.TotalKey, Gen.Totals], phase: Phase, round: Int): Boolean = {
    val runDir = runsDir.resolve(s"drain-$drains")
    drains += 1
    val sink = runDir.resolve("sink").toString
    val frames = KafkaShaped.fileStream(spark, dir.toString, maxFilesPerTrigger = Some(1))
    val deduped = HttpLogPipeline.dedupReplayed(
      HttpLogPipeline.withEventTimeBounds(Ingest.logs(frames)), Seq("partition", "offset"))
    val t0 = Clock.nowUs()
    val q = deduped.writeStream
      .option("checkpointLocation", runDir.resolve("checkpoint").toString)
      .foreachBatch(Recovery.totalsBatchSink(sink))
      .start()
    val timeout = Ops.schedule(Main.OpTimeoutS)(q.stop())
    val thrown =
      try { q.processAllAvailable(); None }
      catch { case NonFatal(e) => Some(e) }
      finally { timeout.cancel(false); q.stop() }
    phase.addWall(round, Clock.nowUs() - t0)
    val qid = q.id.toString
    drainQueries.getOrElseUpdate(phase, mutable.Set.empty) += qid
    val batches = q.recentProgress.filter(_.numInputRows > 0).toVector
    batches.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000L
      val op = Op(Ingest.opId(qid, p.batchId), "microbatch", round, startUs,
        startUs + dur(p, "triggerExecution").toLong * 1000L, ok = true, p.numInputRows)
      phase.add(op)
      phase.tracer.foreach(tr => batchSpans(tr.spans, op, p))
    }
    for (i <- batches.size until files)
      phase.add(Op(s"ingest-$qid-missing-$i", "microbatch", round, t0, t0, ok = false, 0))
    thrown.foreach(e => phase.fail(s"drain $round stopped: $e"))
    val complete = thrown.isEmpty && batches.size == files
    if (complete) {
      val sinkFiles = Files.walk(runDir.resolve("sink")).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toVector
      phase.sample("sinks.files_written", sinkFiles.size)
      phase.sample("sinks.bytes_written", sinkFiles.map(Files.size(_)).sum.toDouble)
      val last = batches.last.stateOperators
      phase.sample("streaming.state_rows", last.map(_.numRowsTotal).sum.toDouble)
      phase.sample("streaming.state_bytes", last.map(_.memoryUsedBytes).sum.toDouble)
      phase.sample("streaming.batches", batches.size)
      check(spark, sink, want, round, phase)
    }
    complete
  }

  private def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Spans of one micro-batch. Spark reports phase durations, not start
    * times, so the children are laid end to end in the order
    * MicroBatchExecution runs them. */
  private def batchSpans(spans: Spans, op: Op, p: StreamingQueryProgress): Unit = {
    val parent = spans.add(0, "ingest.op", op.id, op.startUs, op.endUs)
    var at = op.startUs
    Seq("latestOffset" -> "source.latest_offset", "walCommit" -> "wal.offsets",
      "getBatch" -> "source.get_batch", "queryPlanning" -> "plan", "addBatch" -> "execute",
      "commitOffsets" -> "wal.commit").foreach { case (key, span) =>
      val d = (dur(p, key) * 1000).toLong
      spans.add(parent, span, op.id, at, at + d)
      at += d
    }
  }

  private def check(spark: SparkSession, sink: String, want: Map[Gen.TotalKey, Gen.Totals],
                    round: Int, phase: Phase): Unit = {
    val rows = Recovery.finalTotals(spark, sink).collect()
    Ingest.totals(rows) match {
      case Some(got) if got == want =>
      case got =>
        val g = got.getOrElse(Map.empty)
        phase.fail(s"drain $round: final totals differ from the generated records " +
          s"(${want.size} groups expected, ${rows.length} rows: " +
          s"${want.keySet.diff(g.keySet).size} missing, ${g.keySet.diff(want.keySet).size} extra, " +
          s"${want.count { case (k, v) => g.get(k).exists(_ != v) }} differ)")
    }
  }

  def layerMetrics(phase: Phase, tracer: Tracer): Map[String, Metric] = {
    val qids = drainQueries.getOrElse(phase, mutable.Set.empty[String])
    val progress = tracer.streamTrace.progress.filter(p => qids(p.id.toString))
    val data = progress.filter(_.numInputRows > 0)
    def perBatch(keys: String*): Double = Main.median(data.map(p => keys.map(dur(p, _)).sum))
    val fromSamples = Seq("streaming.batches" -> "count", "streaming.state_rows" -> "count",
      "streaming.state_bytes" -> "bytes", "sinks.files_written" -> "count",
      "sinks.bytes_written" -> "bytes").flatMap { case (n, u) => phase.medianOf(n).map(v => n -> Metric(v, u)) }
    fromSamples.toMap ++ Map(
      "plan.ms" -> Metric(perBatch("queryPlanning"), "ms"),
      "streaming.add_batch_ms" -> Metric(perBatch("addBatch"), "ms"),
      "streaming.planning_ms" -> Metric(perBatch("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> Metric(perBatch("walCommit", "commitOffsets"), "ms"),
      "streaming.source_ms" -> Metric(perBatch("latestOffset", "getBatch"), "ms"),
      "streaming.late_rows_dropped" ->
        Metric(progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count"))
  }

  def kernels(): Map[String, Metric] = {
    val values = input.frames.map(_.value).toArray
    val recs = input.frames.filter(f => f.rec != null && !f.replay).map(_.rec).toArray
    val utf = (s: String) => UTF8String.fromString(s)
    val addrs = recs.map(r => utf(r.addr))
    val fields = recs.map(r => (utf(r.cache), utf(r.method), utf(r.addr), utf(r.url)))
    Map(
      "functions.capnp_decode_ns" -> Metric(Kernels.nsPerItem(values.length) { i =>
        val r = HttpLogCodec.decode(values(i)); if (r == null) 0L else r.getLong(0)
      }, "ns"),
      "functions.anonymize_ip_ns" -> Metric(Kernels.nsPerItem(addrs.length) { i =>
        IpAnon.anonymize(addrs(i)).numBytes().toLong
      }, "ns"),
      "functions.capnp_encode_ns" -> Metric(Kernels.nsPerItem(recs.length) { i =>
        val r = recs(i); val f = fields(i)
        HttpLogCodec.encode(r.tsMilli, r.resourceId, r.bytesSent, r.requestTimeMilli, r.status,
          f._1, f._2, f._3, f._4).length.toLong
      }, "ns"))
  }
}
