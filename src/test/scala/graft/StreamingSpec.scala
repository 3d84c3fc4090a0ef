package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{HttpLogPipeline, RateLimiter, Recovery, Sinks}
import graft.sources.KafkaShaped

case class StreamLog(ts: Timestamp, resource_id: Long, response_status: Int,
                     cache_status: String, remote_addr: String,
                     bytes_sent: Long, request_time_milli: Long, log_id: Long)

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def log(id: Long, hour: Int, addr: String = "10.0.0.7"): StreamLog =
    StreamLog(Timestamp.valueOf(f"2024-01-01 $hour%02d:10:00"), id % 5, 200, "HIT",
      addr, 100 + id, 10, id)

  /** (value: capnp frame bytes, log_id) for the first n real events. */
  private def encodedPayloads(n: Int) =
    graft.operators.HttpLog.view(Tables.events(spark, sfDir)).limit(n)
      .withColumn("ts_milli", expr("unix_millis(ts)"))
      .select(
        graft.functions.capnp_encode_http_log(
          col("ts_milli"), col("resource_id"), col("bytes_sent"),
          col("request_time_milli"), col("response_status"),
          col("cache_status"), col("method"), col("remote_addr"), col("url")).as("value"),
        col("log_id"))

  test("streaming windowed totals match the batch transform") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamLog]
    val totals = HttpLogPipeline.windowedTotals(
      HttpLogPipeline.withEventTimeBounds(HttpLogPipeline.anonymize(ms.toDF())))
    val q = totals.writeStream.format("memory").queryName("totals")
      .outputMode("complete").start()
    try {
      ms.addData(log(1, 1), log(2, 1), log(3, 2))
      q.processAllAvailable()
      ms.addData(log(4, 2), log(5, 2))
      q.processAllAvailable()
      val rows = spark.table("totals")
        .select(col("window.start").cast("string").as("h"), col("requests"))
        .collect()
      val hourly = rows.groupBy(_.getString(0).substring(0, 13))
        .view.mapValues(_.map(_.getLong(1)).sum).toMap
      assert(hourly("2024-01-01 01") == 2)
      assert(hourly("2024-01-01 02") == 3)
      // anonymization ran inside the stream
      val addrs = spark.table("totals").select("remote_addr").distinct()
        .collect().map(_.getString(0)).toSet
      assert(addrs == Set("10.0.0.x"))
    } finally q.stop()
  }

  test("stream-vs-static near-dup screen equals the batch screen (stateless)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val incoming = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 900000)
      .withColumn("text", concat(col("text"), lit(" re crawl")))
      .select("doc_id", "text")
    val index = graft.streaming.NearDupScreen.corpusIndex(docs, "doc_id", "text")

    val ms = MemoryStream[(Long, String)]
    val screened = graft.streaming.NearDupScreen.screenRaw(
      ms.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
    // the whole screen plan is stateless joins/filters → append-legal with
    // NO state store; repeats from multi-band hits are deduped by the reader
    val q = screened.writeStream.format("memory").queryName("screened")
      .outputMode("append").start()
    try {
      val rows = incoming.collect().map(r => (r.getLong(0), r.getString(1)))
      ms.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("screened").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.streaming.NearDupScreen.screen(incoming, docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch, "stream and batch screens must agree")
      // every re-crawled doc flags its source
      val flagged = streamed.map(t => (t._1, t._2))
      rows.foreach { case (id, _) =>
        assert(flagged.contains((id, id - 900000)), s"re-crawl $id missed its source")
      }
    } finally q.stop()
  }

  test("streaming dedup restores exactly-once over at-least-once replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamLog]
    val dd = HttpLogPipeline.dedupReplayed(
      HttpLogPipeline.withEventTimeBounds(ms.toDF(), "1 hour"), Seq("log_id"))
    val q = dd.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      ms.addData(log(1, 1), log(2, 1))
      q.processAllAvailable()
      ms.addData(log(2, 1), log(3, 1)) // log 2 re-delivered
      q.processAllAvailable()
      val ids = spark.table("deduped").select("log_id").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("watermark dedup evicts expired keys: bounded state, not grow-forever") {
    // The 100 TB statefulness contract of dropDuplicatesWithinWatermark:
    // a duplicate inside the watermark is dropped (exactly-once), but once
    // the watermark passes a key's event time its state is EVICTED, so a
    // far-late re-delivery is re-admitted. That re-admission is the
    // observable proof the store is bounded by the watermark window rather
    // than holding every key ever seen.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamLog]
    val dd = HttpLogPipeline.dedupReplayed(
      HttpLogPipeline.withEventTimeBounds(ms.toDF(), "1 hour"), Seq("log_id"))
    val q = dd.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      ms.addData(log(1, 1), log(2, 1))
      q.processAllAvailable()
      ms.addData(log(1, 1)) // duplicate within watermark → dropped
      q.processAllAvailable()
      ms.addData(log(9, 12)) // advances watermark to 11:10, evicts log 1
      q.processAllAvailable()
      ms.addData(log(1, 12)) // far-late re-delivery → state gone → re-admitted
      q.processAllAvailable()
      val ids = spark.table("wm_dedup").select("log_id").collect()
        .map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 1L, 2L, 9L)),
        s"expected eviction re-admission, got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("kafka-shaped frames decode with dead-letter split and anonymize") {
    // corrupt one payload
    val payloads = encodedPayloads(20)
      .withColumn("value",
        when(col("log_id") === 0, expr("substring(value, 1, 4)")).otherwise(col("value")))
    val frames = KafkaShaped.framesFromPayloads(payloads, "value", "log_id")
    val (good, dead) = KafkaShaped.decodeSplit(frames)
    assert(dead.count() == 1)
    assert(good.count() == 19)
    val logs = HttpLogPipeline.decodeAndAnonymize(frames)
    assert(logs.count() == 19)
    val addrs = logs.select("remote_addr").collect().map(_.getString(0))
    assert(addrs.forall(_.endsWith(".x")))
  }

  test("idempotent sink: replaying a micro-batch does not duplicate rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "c"), (2L, "b"))
      .toDF("log_id", "payload")
    val sink = Sinks.idempotentParquet(dir, Seq("log_id"))
    sink(batch, 0L)
    val first = spark.read.parquet(dir).count()
    sink(batch, 0L) // replay after simulated failure-before-commit
    val second = spark.read.parquet(dir).count()
    assert(first == 3, "within-batch dedup")
    assert(second == 3, "replay is idempotent")
    // a LATER batch must accumulate, not clobber earlier partitions
    val batch2 = Seq((7L, "g"), (8L, "h")).toDF("log_id", "payload")
    sink(batch2, 1L)
    assert(spark.read.parquet(dir).count() == 5, "later batch clobbered earlier rows")
    sink(batch2, 1L) // replaying the later batch is also idempotent
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("file-stream ETL recovers from checkpoint without loss or duplication") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_recovery")
    val frameDir = s"$tmp/frames"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val frames = KafkaShaped.framesFromPayloads(encodedPayloads(30), "value", "log_id")

    def startQuery() = KafkaShaped.fileStream(spark, frameDir)
      .transform(HttpLogPipeline.decodeAndAnonymize)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()

    frames.filter(col("offset") < 15).coalesce(1).write.mode("append").parquet(frameDir)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst == 15)

    // new data arrives while the pipeline is down, then it restarts from
    // the checkpoint: nothing lost, the already-committed batch not replayed
    frames.filter(col("offset") >= 15).coalesce(1).write.mode("append").parquet(frameDir)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 30, "loss or duplication across restart")
    assert(out.select("remote_addr").collect().forall(_.getString(0).endsWith(".x")))
  }

  test("induced crash between sink write and offset commit: replay overwrites itself") {
    // the g13 contract at component grain: after Recovery.crashBeforeCommit
    // the restarted query REPLAYS the uncommitted batches, and the
    // idempotent sink makes that replay invisible — byte-identical final
    // totals with zero new data, exactly-once accumulation once new data
    // lands. This pins the mechanism the gated row certifies end-to-end.
    val tmp = java.nio.file.Files.createTempDirectory("graft_recovery2")
    val framesDir = s"$tmp/frames"; val ckpt = s"$tmp/ckpt"; val sink = s"$tmp/sink"
    val frames = KafkaShaped.framesFromPayloads(encodedPayloads(30), "value", "log_id")
    def writeChunk(lo: Int, hi: Int): Unit =
      frames.filter(col("offset") >= lo && col("offset") < hi)
        .coalesce(1).write.mode("append").parquet(framesDir)
    def snapshot() = Recovery.finalTotals(spark, sink).collect()
      .map(_.toString).sorted.toSeq

    writeChunk(0, 10); writeChunk(10, 20)
    Recovery.runUntilDrained(spark, framesDir, ckpt, sink)
    val before = snapshot()
    assert(before.nonEmpty)

    val replayFrom = Recovery.crashBeforeCommit(ckpt)
    // the cut must land on a DATA batch — its sink partition exists and
    // holds rows (a no-data watermark batch would have no partition)
    def partFiles() = Option(
      new java.io.File(s"$sink/batch_id=$replayFrom").list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).sorted
    val filesBefore = partFiles()
    assert(filesBefore.nonEmpty, s"crash cut at non-data batch $replayFrom")
    // restart with NOTHING new: the replayed batch must rewrite exactly
    // its own partition — any duplication would change the totals, and
    // an un-executed "replay" would leave the part files untouched
    Recovery.runUntilDrained(spark, framesDir, ckpt, sink)
    assert(partFiles().nonEmpty && partFiles() != filesBefore,
      s"batch $replayFrom not genuinely re-executed: partition untouched")
    assert(snapshot() == before, s"replay from batch $replayFrom duplicated rows")

    // new data after recovery accumulates exactly once
    writeChunk(20, 30)
    Recovery.runUntilDrained(spark, framesDir, ckpt, sink)
    val after = Recovery.finalTotals(spark, sink)
      .agg(sum("requests")).collect().head.getLong(0)
    assert(after == 30, s"expected 30 total requests, got $after")
  }

  test("offset-keyed dedup keeps distinct frames of different partitions that share an offset") {
    // Kafka numbers offsets per partition: (p0, 5) and (p1, 5) are two
    // messages; only a redelivery of the same (partition, offset) is one
    val two = encodedPayloads(2).collect()
    def frame(payload: Int, partition: Int) = org.apache.spark.sql.Row(
      null, two(payload).getAs[Array[Byte]]("value"), "http_log", partition, 5L,
      new Timestamp(0L), 0)
    def frames(rows: org.apache.spark.sql.Row*) = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), KafkaShaped.frameSchema)
    val first = frames(frame(0, 0), frame(1, 1))
    val replay = frames(frame(0, 0))
    assert(Recovery.offsetKeyedLogs(first.unionByName(replay)).count() == 2)

    withTempDir("graft_partition_offsets") { tmp =>
      val framesDir = s"$tmp/frames"; val sink = s"$tmp/sink"
      first.coalesce(1).write.mode("append").parquet(framesDir)
      replay.coalesce(1).write.mode("append").parquet(framesDir)
      Recovery.runUntilDrained(spark, framesDir, s"$tmp/ckpt", sink)
      val requests = Recovery.finalTotals(spark, sink)
        .agg(sum("requests")).collect().head.getLong(0)
      assert(requests == 2, "distinct frames merged or the redelivery counted")
    }
  }

  test("a streaming drain on the graft session starts no process") {
    withTempDir("graft_forks") { tmp =>
      val framesDir = s"$tmp/frames"
      val frames = KafkaShaped.framesFromPayloads(encodedPayloads(20), "value", "log_id")
      Seq(col("offset") < 10, col("offset") >= 10).foreach { half =>
        frames.filter(half).coalesce(1).write.mode("append").parquet(framesDir)
      }
      val forks = new java.util.concurrent.atomic.AtomicInteger()
      val flushes = new java.util.concurrent.atomic.AtomicInteger()
      val rs = new jdk.jfr.consumer.RecordingStream()
      try {
        rs.enable("jdk.ProcessStart")
        rs.onEvent("jdk.ProcessStart", _ => forks.incrementAndGet())
        rs.onFlush(() => flushes.incrementAndGet())
        rs.startAsync()
        // the stream is live once it has flushed once
        val t0 = System.nanoTime()
        while (flushes.get() == 0 && System.nanoTime() - t0 < 30e9) Thread.sleep(50)
        assert(flushes.get() > 0, "JFR stream never flushed")
        Recovery.runUntilDrained(spark, framesDir, s"$tmp/ckpt", s"$tmp/sink")
        // events committed during the drain arrive by the second flush after it
        val seen = flushes.get()
        val t1 = System.nanoTime()
        while (flushes.get() < seen + 2 && System.nanoTime() - t1 < 30e9) Thread.sleep(50)
        assert(flushes.get() >= seen + 2, "JFR stream stopped flushing")
      } finally rs.close()
      val requests = Recovery.finalTotals(spark, s"$tmp/sink")
        .agg(sum("requests")).collect().head.getLong(0)
      assert(requests == 20)
      assert(forks.get() == 0, s"${forks.get()} processes started during the drain")
    }
    val conf = spark.sessionState.newHadoopConf()
    val local = new java.net.URI("file:///")
    assert(org.apache.hadoop.fs.FileSystem.get(local, conf)
      .isInstanceOf[graft.io.ForkFreeLocalFileSystem])
    assert(org.apache.hadoop.fs.FileContext.getFileContext(local, conf)
      .getDefaultFileSystem.isInstanceOf[graft.io.ForkFreeLocalFs])
  }

  test("crashBeforeCommit cuts source logs loudly: compacted entries refuse, plain entries must delete") {
    // r12 ADVICE: erased trailing batches' per-source file-log entries used
    // a discarded del(...) that matched only plain numeric names — a
    // compacted entry (<id>.compact, default every 10th batch, which folds
    // ALL history) silently survived, leaving the source log AHEAD of the
    // truncated offset log on restart. The cut must now fail loudly on a
    // compacted entry and require success on a plain one.
    def scaffold(): java.nio.file.Path = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cut")
      def put(rel: String, content: String): Unit = {
        val p = tmp.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, content)
      }
      // batch 1 advances the source offset (DATA), batch 2 repeats it
      // (no-data watermark batch) → the cut lands at 1 and erases 2
      put("offsets/0", "v1\n{\"watermark\":0}\n{\"logOffset\":0}")
      put("offsets/1", "v1\n{\"watermark\":1}\n{\"logOffset\":1}")
      put("offsets/2", "v1\n{\"watermark\":2}\n{\"logOffset\":1}")
      Seq(0, 1, 2).foreach(i => put(s"commits/$i", "v1\n{}"))
      tmp
    }

    // RED: the to-be-erased entry was compacted — refuse the half-cut
    val red = scaffold()
    java.nio.file.Files.createDirectories(red.resolve("sources/0"))
    java.nio.file.Files.writeString(red.resolve("sources/0/2.compact"), "v1\n{}")
    val e = intercept[IllegalArgumentException] {
      Recovery.crashBeforeCommit(red.toString)
    }
    assert(e.getMessage.contains("compacted"), e.getMessage)
    // r12 ADVICE (medium): the refusal must leave the checkpoint UNTOUCHED —
    // the pre-r13 shape deleted offsets/commits entries before discovering
    // the compacted source entry, persisting exactly the half-cut
    // (offsets truncated, .compact still ahead) the check exists to prevent.
    // The cut now pre-scans every to-be-erased id for .compact entries
    // BEFORE deleting anything.
    Seq("offsets/0", "offsets/1", "offsets/2",
        "commits/0", "commits/1", "commits/2",
        "sources/0/2.compact").foreach { rel =>
      assert(java.nio.file.Files.exists(red.resolve(rel)),
        s"refusal must not delete $rel — checkpoint left half-cut")
    }

    // GREEN: a plain entry is erased with the offsets entry, and the cut
    // returns the data batch
    val green = scaffold()
    java.nio.file.Files.createDirectories(green.resolve("sources/0"))
    Seq("0", "1", "2").foreach(i =>
      java.nio.file.Files.writeString(green.resolve(s"sources/0/$i"), "v1\n{}"))
    val cutAt = Recovery.crashBeforeCommit(green.toString)
    assert(cutAt == 1L)
    assert(!java.nio.file.Files.exists(green.resolve("sources/0/2")),
      "trailing source-log entry must be erased with its offsets entry")
    assert(java.nio.file.Files.exists(green.resolve("sources/0/1")) &&
      java.nio.file.Files.exists(green.resolve("sources/0/0")),
      "entries at and below the cut must survive")
    assert(!java.nio.file.Files.exists(green.resolve("offsets/2")) &&
      java.nio.file.Files.exists(green.resolve("offsets/1")))
    assert(!java.nio.file.Files.exists(green.resolve("commits/1")),
      "the data batch's own commit marker must be deleted so it replays")
  }

  test("built-in session_window: streaming sessions equal the batch operator") {
    // the streaming half of a18: session_window under a watermark emits a
    // session once the watermark passes its end; with the watermark advanced
    // past every session, the streamed output must equal the batch
    // session_window over the same rows
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 01:00:00"), 10.0),
      (1L, Timestamp.valueOf("2024-01-01 01:10:00"), 5.0), // same session
      (1L, Timestamp.valueOf("2024-01-01 02:30:00"), 7.0), // gap > 30m → new
      (2L, Timestamp.valueOf("2024-01-01 01:05:00"), 1.0))
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("user_id"), expr("unix_micros(sw.start)").as("s"),
        expr("unix_micros(sw.end)").as("e"), col("n"), col("total"))
    val batch = sessions(rows.toDF("user_id", "ts", "value"))
      .collect().map(_.toSeq).toSet

    val ms = MemoryStream[(Long, Timestamp, Double)]
    val streamed = sessions(
      ms.toDF().toDF("user_id", "ts", "value").withWatermark("ts", "10 minutes"))
    val q = streamed.writeStream.format("memory").queryName("sw_sessions")
      .outputMode("append").start()
    try {
      ms.addData(rows.map(r => (r._1, r._2, r._3)): _*)
      q.processAllAvailable()
      // watermark closes every session: far-future heartbeat, then its own
      // session is the only one still open
      ms.addData((9L, Timestamp.valueOf("2024-01-01 09:00:00"), 0.0))
      q.processAllAvailable()
      ms.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("sw_sessions")
        .filter(col("user_id") < 9).collect().map(_.toSeq).toSet
      assert(got == batch, s"streamed $got\nbatch $batch")
    } finally q.stop()
  }

  test("streaming LM quality gate equals batch and rejects word salad") {
    // the admission-control sibling of the near-dup screen: train the
    // unigram LM on the static corpus once, score each arriving doc under
    // the watermark, admit by cross-entropy threshold; stream must equal
    // the same function run as a batch
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val corpus = (1L to 10L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val (lm, oov) = graft.streaming.QualityGate.trainLm(corpus, "text")
    try {
      val arrivals = Seq(
        (101L, Timestamp.valueOf("2024-01-01 01:00:10"), "the cat sat"),
        (102L, Timestamp.valueOf("2024-01-01 01:00:20"), "zyx qqq plorth wibble"))
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.streaming.QualityGate.gate(
          df, "ts", "doc_id", "text", lm, oov, maxCe = 3.0)
      val batch = run(arrivals.toDF("doc_id", "ts", "text"))
        .collect().map(_.toSeq).toSet

      val ms = MemoryStream[(Long, Timestamp, String)]
      val q = run(ms.toDF().toDF("doc_id", "ts", "text"))
        .writeStream.format("memory").queryName("lm_gate")
        .outputMode("append").start()
      try {
        ms.addData(arrivals: _*)
        q.processAllAvailable()
        // advance the watermark past the arrivals' windows
        ms.addData((999L, Timestamp.valueOf("2024-01-01 03:00:00"), "flush"))
        q.processAllAvailable()
        val got = spark.table("lm_gate")
          .filter(col("doc_id") < 999).collect().map(_.toSeq).toSet
        assert(got == batch, s"streamed $got\nbatch $batch")
        val byId = got.map(r => r.head -> r.last).toMap
        assert(byId(101L) == true, "fluent doc must be admitted")
        assert(byId(102L) == false, "word salad must be rejected")
      } finally q.stop()
    } finally lm.unpersist(blocking = false)
  }

  test("continuous top-k resources: stream windows + batch selection equal batch") {
    // the g05 split: the stream owns ONE windowed count aggregation
    // (append mode, watermark-bounded state); top-k selection runs
    // stateless over the emitted closed windows — and must equal the whole
    // pipeline run as a batch
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 01:10:00"), 7L),
      (2L, Timestamp.valueOf("2024-01-01 01:20:00"), 7L),
      (3L, Timestamp.valueOf("2024-01-01 01:30:00"), 3L),
      (4L, Timestamp.valueOf("2024-01-01 01:40:00"), 3L),
      (5L, Timestamp.valueOf("2024-01-01 01:50:00"), 3L),
      (6L, Timestamp.valueOf("2024-01-01 02:10:00"), 9L))
    def toDf(xs: Seq[(Long, Timestamp, Long)]) =
      xs.toDF("log_id", "ts", "resource_id")
    val batch = graft.streaming.HttpLogPipeline.topResources(
      graft.streaming.HttpLogPipeline.hourlyResourceCounts(toDf(rows)), k = 2)
      .collect().map(_.toSeq).toSet

    val ms = MemoryStream[(Long, Timestamp, Long)]
    val counts = graft.streaming.HttpLogPipeline.hourlyResourceCounts(
      ms.toDF().toDF("log_id", "ts", "resource_id").withWatermark("ts", "10 minutes"))
    val q = counts.writeStream.format("memory").queryName("g05_counts")
      .outputMode("append").start()
    try {
      ms.addData(rows: _*); q.processAllAvailable()
      ms.addData((99L, Timestamp.valueOf("2024-01-01 09:00:00"), 99L))
      q.processAllAvailable()
      val emitted = spark.table("g05_counts").filter(col("resource_id") < 99)
      val streamed = graft.streaming.HttpLogPipeline.topResources(emitted, k = 2)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed $streamed\nbatch $batch")
      // within hour 1: resource 3 (3 hits) then 7 (2 hits)
      assert(batch.exists(r => r(1) == 1 && r(2) == 3L && r(3) == 3L))
      assert(batch.exists(r => r(1) == 2 && r(2) == 7L && r(3) == 2L))
    } finally q.stop()
  }

  test("incremental LM maintenance: replayed batch leaves counts exactly-once") {
    // partial (term, cnt) per batch_id partition + dynamic overwrite: a
    // replayed micro-batch overwrites exactly itself, and the merged
    // snapshot equals the LM trained on the full corpus in one batch
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_inc").toString
    val b0 = Seq((1L, "the cat sat"), (2L, "the dog sat"))
    val b1 = Seq((3L, "the cat flew home"))
    val sink = graft.streaming.LmMaintenance.countsSink(dir, "text")

    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     id: Long) => sink(df.toDF(), id))
      .option("checkpointLocation", s"$dir-ckpt").start()
    try {
      ms.addData(b0: _*); q.processAllAvailable()
      ms.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    // simulate the at-least-once failure: batch 1 is REPLAYED after the fact
    sink(b1.toDF("doc_id", "text"), 1L)

    val (lm, oov) = graft.streaming.LmMaintenance.currentLm(spark, dir)
    val (ref, refOov) = graft.streaming.QualityGate.trainLm(
      (b0 ++ b1).toDF("doc_id", "text"), "text")
    try {
      val got = lm.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      val want = ref.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(got == want, s"merged snapshot must equal one-shot LM\n$got\n$want")
      assert(math.abs(oov - refOov) < 1e-12)
    } finally ref.unpersist(blocking = false)
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp)]
    val sessions = graft.streaming.StatefulSessionize.sessions(
      spark, ms.toDF().toDF("user_id", "ts"), gapMinutes = 30, watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // user 1: two events 10 min apart (one session), then a 2h gap
      ms.addData((1L, t("2024-01-01 01:00:00")), (1L, t("2024-01-01 01:10:00")))
      q.processAllAvailable()
      ms.addData((1L, t("2024-01-01 03:00:00"))) // gap > 30min → closes session 1
      q.processAllAvailable()
      val afterGap = spark.table("sessions").as[graft.streaming.StatefulSessionize.Session]
        .collect()
      assert(afterGap.length == 1)
      assert(afterGap.head.n_events == 2 && afterGap.head.dur_sec == 600)
      // advance watermark far past user 1's last event → timeout closes session 2
      ms.addData((2L, t("2024-01-01 09:00:00")))
      q.processAllAvailable()
      ms.addData((2L, t("2024-01-01 09:01:00"))) // one more batch so timeout fires
      q.processAllAvailable()
      val all = spark.table("sessions").as[graft.streaming.StatefulSessionize.Session]
        .collect()
      assert(all.exists(s => s.user_id == 1 && s.n_events == 1), s"timeout session missing: ${all.mkString(",")}")
    } finally q.stop()
  }

  test("streaming totals over chunked real data equal the batch computation") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // real events (sf0.001), fed through the stream in 10 arbitrary chunks
    val hl = graft.operators.HttpLog.view(Tables.events(spark, sfDir))
      .select(col("ts"), col("resource_id"), col("response_status"),
        col("cache_status"), col("remote_addr"), col("bytes_sent"),
        col("request_time_milli"), col("log_id"))
    val rows = hl.as[StreamLog].collect()
    val ms = MemoryStream[StreamLog]
    val totals = HttpLogPipeline.windowedTotals(
      HttpLogPipeline.withEventTimeBounds(HttpLogPipeline.anonymize(ms.toDF())))
    val q = totals.writeStream.format("memory").queryName("equiv_totals")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(1, rows.length / 10)).foreach { chunk =>
        ms.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("equiv_totals")
        .select(col("window.start").as("ts_hour"), col("resource_id"),
          col("response_status"), col("cache_status"), col("remote_addr"),
          col("requests"), col("total_bytes"), col("total_time_milli"))
        .collect().map(_.toSeq).toSet
      val batch = HttpLogPipeline.windowedTotals(HttpLogPipeline.anonymize(hl))
        .select(col("window.start").as("ts_hour"), col("resource_id"),
          col("response_status"), col("cache_status"), col("remote_addr"),
          col("requests"), col("total_bytes"), col("total_time_milli"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, "stream/batch divergence on identical input")
    } finally q.stop()
  }

  test("sessionize state extends backwards for late-but-within-watermark events") {
    import graft.streaming.StatefulSessionize._
    val gs = org.apache.spark.sql.streaming.TestGroupState.create[SessionState](
      org.apache.spark.api.java.Optional.of(SessionState(100000L, 100000L, 1)),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      0L, org.apache.spark.api.java.Optional.of(50000L), hasTimedOut = false)
    val out = sessionizeFn(30 * 60 * 1000)(
      1L, Iterator(Event(1L, new Timestamp(95000L))), gs).toSeq
    assert(out.isEmpty) // within gap → no session closed
    assert(gs.get.start_ms == 95000L, "session start must move back for late events")
    assert(gs.get.last_ms == 100000L && gs.get.n_events == 2)
  }

  test("streaming IVF maintenance equals batch assignment across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = emb.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val arriving = emb.filter(col("vec_id") >= 8)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val ms = MemoryStream[(Long, Array[Float])]
    val indexed = graft.streaming.IvfMaintenance.attach(
      ms.toDF().toDF("vec_id", "embedding"), centroids)
    val q = indexed.writeStream.format("memory").queryName("ivf_index")
      .outputMode("append").start()
    try {
      // two arrival waves: the index must grow incrementally, never reshuffle
      val (first, second) = arriving.splitAt(arriving.length / 2)
      ms.addData(first.toIndexedSeq)
      q.processAllAvailable()
      val afterFirst = spark.table("ivf_index").count()
      assert(afterFirst == first.length)
      ms.addData(second.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("ivf_index")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Similarity.assignStateless(
        emb.filter(col("vec_id") >= 8), centroids)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch, "stream/batch divergence in IVF assignment")
    } finally q.stop()
  }

  test("stream-stream interval join matches batch and expires state by watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val clicksMs = MemoryStream[(Long, Long, Timestamp)]
    val buysMs = MemoryStream[(Long, Long, Timestamp, Double)]
    val clicks = clicksMs.toDF().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "10 minutes")
    val buys = buysMs.toDF().toDF("p_user", "buy_id", "buy_ts", "amount")
      .withWatermark("buy_ts", "10 minutes")
    val q = graft.streaming.IntervalJoin.attribute(clicks, buys, windowMinutes = 30)
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      val clickData = Seq((1L, 100L, t("10:00")), (2L, 101L, t("10:05")))
      val buyData = Seq(
        (1L, 200L, t("10:20"), 9.99), // within 30 min of click 100
        (1L, 202L, t("10:25"), 1.0),  // within
        (2L, 201L, t("11:00"), 5.0))  // 55 min after click 101 → outside
      clicksMs.addData(clickData)
      buysMs.addData(buyData.take(2))
      q.processAllAvailable()
      buysMs.addData(buyData.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("attrib")
        .select("click_id", "buy_id", "secs_to_buy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == Set((100L, 200L, 1200L), (100L, 202L, 1500L)))
      // the SAME transform on the same rows as batch frames
      val batch = graft.streaming.IntervalJoin.attribute(
        clickData.toDF("user_id", "click_id", "click_ts"),
        buyData.toDF("p_user", "buy_id", "buy_ts", "amount"), windowMinutes = 30)
        .select("click_id", "buy_id", "secs_to_buy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, "stream/batch divergence in interval join")
      // watermark-bounded state: advance both watermarks far past the
      // window; the 10:xx rows must be evicted (two ticks: watermark moves
      // at batch end, eviction lands on the following batch)
      clicksMs.addData((9L, 900L, t("15:00")))
      buysMs.addData((9L, 901L, t("15:00"), 2.0))
      q.processAllAvailable()
      clicksMs.addData((9L, 902L, t("15:01")))
      buysMs.addData((9L, 903L, t("15:01"), 2.0))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 6, s"join state not expired by watermark: $stateRows rows")
    } finally q.stop()
  }

  test("KMV sketch as streaming aggregate equals the batch sketch") {
    // streaming distinct-count with O(k) state-store rows per group — the
    // streaming twin of b23: the sketch buffer (not every distinct value)
    // is what the state store checkpoints
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val agg = graft.operators.Kmv.kmv_distinct(16)
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      df.toDF("g", "v")
        .select(col("g"), md5(col("v").cast("string").cast("binary")).as("h"))
        .groupBy("g").agg(agg(col("h")).as("r"))
        .select(col("g"), col("r.n_tracked"), col("r.kth_hash"), col("r.est_distinct"))
    val q = sketchOf(ms.toDF()).writeStream.format("memory")
      .queryName("kmv_stream").outputMode("complete").start()
    try {
      val batch1 = (1 to 40).map(i => ("a", i.toLong)) ++ Seq(("b", 1L))
      val batch2 = (30 to 80).map(i => ("a", i.toLong)) ++ Seq(("b", 2L))
      ms.addData(batch1)
      q.processAllAvailable()
      ms.addData(batch2)
      q.processAllAvailable()
      val streamed = spark.table("kmv_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      val batch = sketchOf((batch1 ++ batch2).toDF("g", "v")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(streamed == batch, "stream/batch divergence in KMV sketch")
      // group a saw 80 distinct values through a 16-entry buffer
      assert(streamed.find(_._1 == "a").get._2 == 16)
      assert(streamed.find(_._1 == "b").get._2 == 2)
    } finally q.stop()
  }

  test("hourly profile as streaming aggregate equals the batch profile (g11)") {
    // the g11 contract: Profile.hourlyProfile is ONE function for both
    // postures — the windowed count/min/max/KMV aggregates are all
    // partial-aggregating, so a chunked replay through the state store
    // must emit exactly the batch result per closed hour
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val cols = Seq(("v", "int"), ("s", "str"))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Profile.hourlyProfile(
        df.toDF("ts", "v", "s"), "ts", cols, k = 8)
    val q = run(ms.toDF()).writeStream.format("memory")
      .queryName("prof_stream").outputMode("complete").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      val batch1 = (0 until 30).map(i => (t(10, i % 60), i.toLong, s"u${i % 5}"))
      val batch2 = (0 until 30).map(i => (t(10, 30 + i % 29), i.toLong * 3, s"u${i % 7}")) ++
        Seq((t(11, 5), 999L, "zz"))
      ms.addData(batch1)
      q.processAllAvailable()
      ms.addData(batch2)
      q.processAllAvailable()
      val streamed = spark.table("prof_stream").collect().map(_.toSeq).toSet
      val batch = run((batch1 ++ batch2).toDF("ts", "v", "s")).collect().map(_.toSeq).toSet
      assert(streamed == batch, "stream/batch divergence in hourly profile")
      assert(streamed.nonEmpty && streamed.exists(_.contains("v")))
    } finally q.stop()
  }

  test("drift against a static baseline composes onto the streaming profile (g12)") {
    // the g12 claim: driftAgainst is a stateless broadcast join on the
    // column axis, so it is legal DOWNSTREAM of the streaming windowed
    // profile and the composed stream equals the composed batch
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val cols = Seq(("v", "int"), ("s", "str"))
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-02 $h%02d:$m%02d:00")
    val baseRows = (0 until 40).map(i => (t(8, i % 60), i.toLong, s"u${i % 4}"))
    val baseline = graft.operators.Profile.profile(
      baseRows.toDF("ts", "v", "s").select(col("v"), col("s")), cols)
      .persist()
    baseline.count()
    def composed(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Profile.driftAgainst(
        graft.operators.Profile.hourlyProfile(df.toDF("ts", "v", "s"), "ts", cols, k = 8),
        baseline, Seq("hr"))
    val q = composed(ms.toDF()).writeStream.format("memory")
      .queryName("drift_stream").outputMode("complete").start()
    try {
      val arriving = (0 until 25).map(i => (t(14, i % 59), 1000L + i, s"w${i % 9}"))
      ms.addData(arriving.take(12)); q.processAllAvailable()
      ms.addData(arriving.drop(12)); q.processAllAvailable()
      val streamed = spark.table("drift_stream").collect().map(_.toSeq).toSet
      val batch = composed(arriving.toDF("ts", "v", "s")).collect().map(_.toSeq).toSet
      assert(streamed == batch, "stream/batch divergence in composed drift")
      // the planted shift fires: new id range escapes the baseline envelope
      val vRow = streamed.find(r => r.contains("v")).get
      assert(vRow.last == true, s"id-range escape not flagged: $vRow")
    } finally { q.stop(); baseline.unpersist(blocking = false) }
  }

  test("sessionsOfBatch: gap split, boundary, trailing close, stream parity") {
    import graft.streaming.StatefulSessionize._
    val gapMs = 30L * 60 * 1000
    // empty input → no sessions
    assert(sessionsOfBatch(1L, Seq.empty, gapMs).isEmpty)
    // single event → one 0-duration session via the timeout-close branch
    assert(sessionsOfBatch(1L, Seq(1000L), gapMs) ==
      Seq(Session(1L, 1000L, 1000L, 1, 0)))
    // exactly-at-gap does NOT split (strict > in the fold and in the oracle)
    assert(sessionsOfBatch(1L, Seq(0L, gapMs), gapMs).map(_.n_events) == Seq(2))
    // one past the gap splits
    assert(sessionsOfBatch(1L, Seq(0L, gapMs + 1), gapMs).map(_.n_events) == Seq(1, 1))
    // unsorted input is sorted by the fold itself
    val s3 = sessionsOfBatch(1L, Seq(5000L, 0L, gapMs * 3), gapMs)
    assert(s3 == Seq(Session(1L, 0L, 5000L, 2, 5), Session(1L, gapMs * 3, gapMs * 3, 1, 0)))
    // parity with the MemoryStream path on the same events: feed everything,
    // then advance the watermark far past last+gap so timeouts flush
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Timestamp)]
    val q = graft.streaming.StatefulSessionize.sessions(
      spark, ms.toDF().toDF("user_id", "ts"), gapMinutes = 30, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sob_parity").outputMode("append").start()
    try {
      // offset everything above the initial watermark (0): an event AT the
      // watermark is dropped as late by the stateful operator's late filter
      val base = 3600L * 1000
      val evs = Seq(7L -> base, 7L -> (base + 5000L), 7L -> (base + gapMs * 3), 8L -> (base + 1000L))
      ms.addData(evs.map { case (u, t) => (u, new Timestamp(t)) })
      q.processAllAvailable()
      ms.addData(Seq((99L, new Timestamp(gapMs * 100)))) // watermark push
      q.processAllAvailable()
      ms.addData(Seq((99L, new Timestamp(gapMs * 100 + 1)))) // timeout fires
      q.processAllAvailable()
      val streamed = spark.table("sob_parity").as[Session].collect()
        .filter(_.user_id < 99).toSet
      val batch = evs.groupBy(_._1).flatMap { case (u, es) =>
        sessionsOfBatch(u, es.map(_._2), gapMs)
      }.toSet
      assert(streamed == batch, s"stream/batch divergence\n$streamed\n$batch")
    } finally q.stop()
  }

  test("heavy hitters as streaming aggregate honors the contract across batches") {
    // streaming frequency estimation with O(k) state-store rows — the
    // streaming twin of b44: the SpaceSaving buffer (not every distinct
    // value) is what the state store checkpoints; estimates legitimately
    // vary with batch boundaries, so the assertion is the CONTRACT
    // (HeavyHittersSpec's bounds), not a specific estimate
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Long]
    val k = 8
    val q = ms.toDF().toDF("v")
      .agg(graft.functions.heavy_hitters(col("v"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.value"), col("e.est"), col("e.err"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    try {
      // 50% value 777, 25% value 888, uniform tail — split across 3 batches
      def mk(lo: Long, hi: Long): Seq[Long] = (lo until hi).flatMap { i =>
        Seq(777L, 777L, 888L, 1000L + i % 97)
      }
      val all = mk(0, 300) ++ mk(300, 600) ++ mk(600, 900)
      Seq(mk(0, 300), mk(300, 600), mk(600, 900)).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
      val n = all.size.toLong
      val truth = all.groupBy(identity).map { case (v, g) => v -> g.size.toLong }
      val ents = spark.table("hh_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(ents.length == k)
      ents.foreach { case (v, est, err) =>
        val t = truth.getOrElse(v, 0L)
        assert(est >= t && est <= t + err, s"$v: est $est outside [$t, ${t + err}]")
        assert(err * k <= n, s"$v: err $err above n/k")
      }
      // the planted heavy pair must be present and rank first
      val top2 = ents.sortBy(-_._2).take(2).map(_._1).toSet
      assert(top2 == Set(777L, 888L), s"planted hitters lost: $top2")
    } finally q.stop()
  }

  test("admission verdicts are batching-invariant (per-batch union == whole-input run)") {
    // the g09 kernel is stateless per doc, so its production deployment is
    // foreachBatch(admit(batch, corpus)) — this pins the property that makes
    // that legal: verdicts don't depend on micro-batch boundaries
    val docs = Tables.documents(spark, sfDir)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" streamscreen probe suffix")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 300000).as("doc_id"),
          trim(repeat(lit("@@@ "), 20)).as("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 400000).as("doc_id"),
          translate(col("text"), "aeiou", "uoiea").as("text")))
    val whole = graft.streaming.Admission.admit(incoming, docs, "doc_id", "text")
    val wholeSet = whole.collect().map(_.toSeq).toSet
    whole.unpersist(blocking = false)
    // three arbitrary chunks, each through the same kernel
    val chunked = (0 until 3).flatMap { c =>
      val out = graft.streaming.Admission.admit(
        incoming.filter(col("doc_id") % 3 === c), docs, "doc_id", "text")
      val rows = out.collect().map(_.toSeq)
      out.unpersist(blocking = false)
      rows
    }.toSet
    assert(chunked == wholeSet, "admission verdicts depend on batching")
    assert(wholeSet.nonEmpty)
  }

  test("rate limiter enforces the proxy interval without real sleeping") {
    var clock = 0L
    var slept = 0L
    val rl = new RateLimiter(60000, () => clock, ms => { slept += ms; clock += ms * 1000000 })
    assert(rl.acquire() == 0L) // first insert free
    clock += 10000L * 1000000 // 10s pass
    assert(rl.acquire() == 50000L) // had to wait out the remaining 50s
    clock += 70000L * 1000000 // 70s pass
    assert(rl.acquire() == 0L)
    assert(slept == 50000L)
  }
}
