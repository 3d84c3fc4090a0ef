package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.KafkaShaped

/** The reference's ACTUAL deployment posture as a runnable composition:
  * the streaming run loop with exactly-once delivery
  * (`/root/reference/anonymizer/src/lib.rs` run loop: consume → decode →
  * anonymize → batch insert; `sink.rs` replay + manual offset commit
  * AFTER the insert). Here: Kafka-shaped frames → decode with dead-letter
  * split → anonymize → (partition, offset)-keyed watermark dedup →
  * per-micro-batch partial totals through the idempotent replace-partition
  * sink — plus the crash window the idempotent sink exists for, made
  * inducible so the gated row (g13) can certify recovery, not just
  * describe it.
  *
  * Exactly-once argument, piece by piece (each half pinned separately in
  * StreamingSpec, the composition hash-gated end-to-end in g13):
  *  - at-least-once REDELIVERY (the broker re-sending a committed-but-
  *    unacked message) is removed by [[offsetKeyedLogs]]'s
  *    `dropDuplicatesWithinWatermark` on the frame's (partition, offset)
  *    — the reference's own dedup key (source.rs manual offsets, which
  *    Kafka numbers per partition; its ReplacingMergeTree collapses
  *    replayed rows the same way). State is bounded by the watermark,
  *    exactly like g02.
  *  - at-least-once REPROCESSING (crash after the sink write, before the
  *    checkpoint's offset commit — [[crashBeforeCommit]] induces it) is
  *    absorbed by [[Sinks.idempotentParquet]]: the replayed micro-batch
  *    dynamically overwrites its OWN batch_id partition and no other.
  *  - the totals themselves commute: each micro-batch writes PARTIAL
  *    hourly totals (count/sum per key), and the final re-aggregation
  *    sums partials — exact integer arithmetic, any batch split.
  */
object Recovery {

  val totalKeys: Seq[String] =
    Seq("ts_hour", "resource_id", "response_status", "cache_status", "remote_addr")

  /** Frames → decoded/dead-letter-split → anonymized → watermarked →
    * (partition, offset)-deduped logs. Works identically on a batch frame
    * table (the oracle posture) and a streaming one (the deployment
    * posture) — the g01/g11 one-function-both-postures discipline.
    */
  def offsetKeyedLogs(frames: DataFrame): DataFrame = {
    val (good, _) = KafkaShaped.decodeSplit(frames)
    val logs = HttpLogPipeline.anonymize(good.select(
      col("partition"), col("offset"),
      expr("timestamp_millis(r.ts_milli)").as("ts"),
      col("r.resource_id").as("resource_id"),
      col("r.bytes_sent").as("bytes_sent"),
      col("r.request_time_milli").as("request_time_milli"),
      col("r.response_status").as("response_status"),
      col("r.cache_status").as("cache_status"),
      col("r.remote_addr").as("remote_addr")))
    HttpLogPipeline.dedupReplayed(
      HttpLogPipeline.withEventTimeBounds(logs), Seq("partition", "offset"))
  }

  /** foreachBatch sink: this micro-batch's PARTIAL hourly totals into its
    * own batch_id partition (idempotent under replay). */
  def totalsBatchSink(sinkDir: String): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val partial = HttpLogPipeline.windowedTotals(batch.drop("partition", "offset"))
        .select(col("window.start").as("ts_hour"),
          col("resource_id"), col("response_status"), col("cache_status"),
          col("remote_addr"),
          col("requests"), col("total_bytes"), col("total_time_milli"))
      Sinks.idempotentParquet(sinkDir, totalKeys)(partial, batchId)
  }

  /** Run the pipeline over every frame file currently in `framesDir`,
    * one file per micro-batch, draining then stopping — one "process
    * lifetime" between crashes.
    */
  def runUntilDrained(spark: SparkSession, framesDir: String, ckptDir: String,
                      sinkDir: String): Unit = {
    val q = offsetKeyedLogs(
        KafkaShaped.fileStream(spark, framesDir, maxFilesPerTrigger = Some(1)))
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch(totalsBatchSink(sinkDir))
      .start()
    try { q.processAllAvailable() } finally q.stop()
    q.awaitTermination()
  }

  /** Induce the crash the exactly-once contract is about, such that a
    * DATA batch genuinely replays. This is the reference's failure window
    * between ClickHouse insert and manual Kafka offset commit
    * (lib.rs:99-116), file-checkpoint edition: the sink's write for the
    * batch survives, its offset commit does not.
    *
    * Spark's `MicroBatchExecution.populateStartOffsets` re-executes ONLY
    * the single newest batch in the offset log — deleting N commit
    * markers does NOT replay N batches (the r10 version's mistake, caught
    * by the round's advisor): with a trailing no-data watermark-advance
    * batch on top, only that empty batch would re-run and the "replay
    * overwrites itself" property would pass vacuously. So the crash is
    * cut at the newest DATA batch D (source offsets advanced vs the
    * previous entry): every later batch is erased from the checkpoint
    * entirely (offsets + commit + per-source file log — as if the
    * process died before writing them), then D's commit alone is deleted.
    * On restart the offset log's head IS D, its commit is missing, and
    * Structured Streaming reconstructs and re-executes D from its
    * recorded offsets — same files, same watermark, same state version —
    * into the idempotent sink, which overwrites exactly itself. Callers
    * assert the rewrite happened for real by comparing the sink's
    * `batch_id=D` partition files before/after restart (g13 does this
    * in-gate; StreamingSpec at component grain).
    *
    * @return the id of the data batch that will replay
    */
  def crashBeforeCommit(ckptDir: String): Long = {
    def ids(sub: String): Seq[Long] =
      Option(new java.io.File(s"$ckptDir/$sub").listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).sorted.toSeq
    // an offsets entry's lines 3.. are the per-source offsets; a no-data
    // batch repeats the previous entry's source lines (only the line-2
    // watermark metadata moves)
    def sourceLines(id: Long): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(s"$ckptDir/offsets/$id"))
        .asScala.toSeq.drop(2)
    }
    val all = ids("offsets")
    require(all.nonEmpty, s"no offset log under $ckptDir")
    val dataBatch = all.reverse
      .find { id =>
        val prev = all.filter(_ < id).lastOption
        prev.forall(p => sourceLines(id) != sourceLines(p))
      }
      .getOrElse(throw new IllegalStateException(
        s"no data batch found in offset log under $ckptDir"))
    def del(sub: String, id: Long): Boolean = {
      val dir = new java.io.File(s"$ckptDir/$sub")
      val gone = new java.io.File(dir, id.toString).delete()
      // the local-FS checksum sibling would otherwise block the replayed
      // entry's rename (FileAlreadyExistsException on .N.crc)
      new java.io.File(dir, s".$id.crc").delete()
      gone
    }
    val toErase = all.filter(_ > dataBatch)
    val sourceDirs = Option(new java.io.File(s"$ckptDir/sources").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).toSeq
    // per-source file logs must not stay AHEAD of the truncated offset log
    // (stale seen-files at batch D+1), so erasure below is loud like the
    // offsets path: a compacted entry (<id>.compact, default every 10th
    // batch — it folds all history, so deleting it would corrupt the log)
    // fails the cut rather than silently surviving. The refusal is checked
    // for EVERY to-be-erased id BEFORE anything is deleted: refusing
    // mid-loop (the pre-r13 shape) would leave the checkpoint half-cut —
    // offsets truncated with a .compact source entry still ahead of them,
    // exactly the inconsistent state this check exists to prevent.
    toErase.foreach { id =>
      sourceDirs.foreach { d =>
        val compacted = new java.io.File(d, s"$id.compact")
        require(!compacted.exists(),
          s"source log entry $id was compacted ($compacted); cannot cut " +
            "the checkpoint cleanly at this batch — use a smaller batch " +
            "count or a checkpoint below the compaction interval")
      }
    }
    toErase.foreach { id =>
      require(del("offsets", id), s"could not erase offsets entry $id")
      del("commits", id) // may already be absent
      sourceDirs.foreach { d =>
        // a plain entry must delete successfully; absence is fine (no-data
        // batches don't always write one)
        val plain = new java.io.File(d, id.toString)
        if (plain.exists())
          require(del(s"sources/${d.getName}", id),
            s"could not erase source log entry $id under ${d.getName}")
      }
    }
    require(del("commits", dataBatch),
      s"could not delete commit marker $dataBatch")
    dataBatch
  }

  /** The serving-side view: re-aggregate the sink's per-batch partials
    * into final totals (what the reference's ClickHouse does at merge /
    * query time for its ReplacingMergeTree inserts).
    */
  def finalTotals(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir)
      .groupBy(totalKeys.map(col): _*)
      .agg(sum("requests").as("requests"),
        sum("total_bytes").as("total_bytes"),
        sum("total_time_milli").as("total_time_milli"))
}
