package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. `op` is the operation id shared by every span of
  * one operation; `parent` is a span id, 0 for a root. Times are epoch µs.
  */
final case class Span(id: Long, parent: Long, name: String, op: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Wall clock in epoch µs with nanoTime resolution. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans kept in memory and written once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  def add(parent: Long, name: String, op: String, startUs: Long, endUs: Long): Long = synchronized {
    val id = nextId
    nextId += 1
    buf += Span(id, parent, name, op, startUs, endUs)
    id
  }
  /** Spans recorded with parent -1 (Spark jobs and stages) hang under
    * the `<workload>.op` span of their operation. */
  def all: Vector[Span] = synchronized {
    val opSpan = buf.iterator.filter(_.name.endsWith(".op")).map(s => s.op -> s.id).toMap
    buf.toVector.map(s => if (s.parent == -1) s.copy(parent = opSpan.getOrElse(s.op, 0L)) else s)
  }

  /** Per span name: total duration and self time (duration minus the part
    * of it that its children cover), in seconds. */
  def selfTimes: Vector[(String, Int, Double, Double)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).toVector.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(_.durUs).sum
      val self = ss.map { s =>
        s.durUs - Intervals.covered(kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      }.sum
      (name, ss.size, total / 1e6, self / 1e6)
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Intervals {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Stage/task counters of one operation. */
final class OpCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, waitMs, shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var peakExecMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spark-side layer: jobs, stages and tasks attributed to the operation
  * that caused them — by the job group the benchmark sets, or on a stream
  * by the query id and batch id Spark puts on each job's properties.
  */
final class SparkTrace(spans: Spans) extends SparkListener {
  private val ops = mutable.HashMap.empty[String, OpCounters]
  private val jobOp = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  private def opKey(p: java.util.Properties): Option[String] =
    if (p == null) None
    else {
      // a stream's jobs also carry a job group (its run id): look at the
      // batch first
      val batch = for {
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield Ingest.opId(q, b.toLong)
      batch.orElse(Option(p.getProperty("spark.jobGroup.id")))
    }

  private def counters(op: String): OpCounters = ops.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opKey(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      counters(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId).foreach { op =>
      val s = jobStart(e.jobId) * 1000L
      counters(op).jobIntervals += ((s, e.time * 1000L))
      spans.add(-1, "spark.job", op, s, e.time * 1000L)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      counters(op).stages += 1
      val s = stageSubmit.getOrElse(info.stageId, info.submissionTime.getOrElse(0L))
      spans.add(-1, "spark.stage", op, s * 1000L,
        info.completionTime.getOrElse(System.currentTimeMillis()) * 1000L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      stageSubmit.get(e.stageId).foreach(s => c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def snapshot(op: String): Option[OpCounters] = synchronized(ops.get(op))
}

/** Streaming layer: every progress report of every query. */
final class StreamTrace extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(buf += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def progress: Vector[StreamingQueryProgress] = synchronized(buf.toVector)
}

/** Everything a traced phase records. Untraced phases get `None`. */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val sparkTrace = new SparkTrace(spans)
  val streamTrace = new StreamTrace
  spark.sparkContext.addSparkListener(sparkTrace)
  spark.streams.addListener(streamTrace)

  def close(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkTrace)
    spark.streams.removeListener(streamTrace)
  }
}
