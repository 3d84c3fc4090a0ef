package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Metric(value: Double, unit: String)

/** One timed operation. `round` groups the operations of one pass over the
  * workload's operation set; `records` is the input it fully processed. */
final case class Op(id: String, name: String, round: Int, startUs: Long, endUs: Long,
                    ok: Boolean, records: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** What one timed phase produced. */
final class Phase(val tracer: Option[Tracer], maxRounds: Int = Int.MaxValue) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Timed wall clock per round: the operations' (on ingest, the drain's) own time. */
  val roundWallUs = mutable.HashMap.empty[Int, Long]
  var rounds = 0
  /** Rounds that ran to the end inside the phase. */
  val completeRounds = mutable.Set.empty[Int]

  /** Named samples (per drain, per operation) a workload's layer reads. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** A value per (metric, operation id), averaged over complete rounds. */
  val perOp = mutable.HashMap.empty[(String, String), Double]

  /** Heap in use after a full collection at the end of each round. */
  val liveHeap = mutable.ArrayBuffer.empty[Long]
  private val roundNs = mutable.ArrayBuffer.empty[Long]

  /** Run whole rounds, at most `maxRounds`, while the next one is likely to
    * end before the deadline or at most half a round past it. `round`
    * returns whether the round ran to the end. */
  def runRounds(deadlineNs: Long)(round: Int => Boolean): Unit = {
    def meanNs = if (roundNs.isEmpty) 0.0 else roundNs.sum.toDouble / roundNs.size
    while (rounds < maxRounds && System.nanoTime() + meanNs / 2 < deadlineNs) {
      val r = rounds
      rounds += 1
      val t0 = System.nanoTime()
      if (round(r)) completeRounds += r
      roundNs += System.nanoTime() - t0
      // collect twice: Spark's cleaner frees shuffle and broadcast state
      // when the first collection clears their references
      System.gc()
      Thread.sleep(100)
      System.gc()
      liveHeap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

  def add(op: Op): Unit = ops += op
  def addWall(round: Int, us: Long): Unit = roundWallUs(round) = roundWallUs.getOrElse(round, 0L) + us
  /** Seconds of timed wall clock in complete rounds. */
  def roundWallS: Double = completeRounds.toSeq.map(r => roundWallUs.getOrElse(r, 0L)).sum / 1e6
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def medianOf(name: String): Option[Double] = samples.get(name).map(s => Main.median(s.toSeq))
  def meanOverRounds(metric: String): Option[Double] = {
    val vs = roundOps.flatMap(o => perOp.get((metric, o.id)))
    if (vs.isEmpty) None else Some(vs.sum / vs.size)
  }
  def fail(msg: String): Unit = { errors += msg; System.err.println(s"[perfbench] $msg") }
  def okOps: Seq[Op] = ops.filter(_.ok).toSeq
  def roundOps: Seq[Op] = ops.filter(o => completeRounds(o.round)).toSeq
  /** Input records fully processed by the operations of complete rounds. */
  def records: Long = roundOps.filter(_.ok).map(_.records).sum
}

/** A workload: seeded inputs, a warm-up, and a closed loop of operations. */
trait Workload {
  def name: String
  /** Generate the inputs from the seed and write them under `dir`. */
  def prepare(spark: SparkSession, dir: Path): Unit
  def warmUp(spark: SparkSession): Unit
  /** Untimed rounds after set-up, while the JIT compiles the hot paths. */
  def settleRounds: Int
  /** Run operations until `deadlineNs` (System.nanoTime). */
  def run(spark: SparkSession, deadlineNs: Long, phase: Phase): Unit
  /** Layer metrics of a traced phase, beyond the common Spark ones. */
  def layerMetrics(phase: Phase, tracer: Tracer): Map[String, Metric]
  /** The functions layer: a plain-JVM pass over this workload's inputs. */
  def kernels(): Map[String, Metric]
  /** Leave outputs for the checks made outside the JVM. */
  def export(spark: SparkSession, dir: Path): Unit = ()
}

object Main {

  val SetupRepeats = 3
  /** `peak_heap_mb` looks at this many timed rounds, so that it does not
    * depend on how many rounds a run fits: a stopped stream's state
    * stores stay loaded until Spark's next maintenance pass. */
  val HeapRounds = 2
  val OpTimeoutS = 60L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(opts)
      catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.exit(code)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "ingest"    => new Ingest(seed)
    case "dashboard" => new Dashboard(seed)
    case "neardup"   => new NearDup(seed)
    case other       => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def run(opts: Map[String, String]): Int = {
    if (opts.get("selftest").contains("1")) return SelfTest.run()
    val wl = workload(opts("workload"), opts("seed").toLong)
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath

    // set-up: generate and write the inputs, start a session, warm up —
    // repeated, so the first JVM-cold pass does not set the figure alone
    var spark: SparkSession = null
    val info = mutable.ArrayBuffer.empty[String]
    val setupS = (0 until SetupRepeats).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      wl.prepare(spark, work.resolve(s"input-$r"))
      val t2 = System.nanoTime()
      wl.warmUp(spark)
      val t3 = System.nanoTime()
      info += f"setup $r: session ${(t1 - t0) / 1e9}%.3f s, inputs ${(t2 - t1) / 1e9}%.3f s, " +
        f"warm-up ${(t3 - t2) / 1e9}%.3f s"
      (t3 - t0) / 1e9
    }

    // let the JIT settle: run the workload untimed for a few rounds first
    val settle = new Phase(None, wl.settleRounds)
    wl.run(spark, Long.MaxValue, settle)
    val untraced = new Phase(None)
    val steal0 = Steal.sample()
    wl.run(spark, System.nanoTime() + (seconds * 1e9).toLong, untraced)
    Steal.share(steal0, Steal.sample()).foreach(s =>
      info += f"host steal during the timed phase: ${100 * s}%.1f%% of CPU time")
    val peakHeapMb = untraced.liveHeap.take(HeapRounds).max / 1048576.0

    val phases = mutable.ArrayBuffer(settle, untraced)
    val metrics: Map[String, Metric] =
      if (!traced) endToEnd(untraced, median(setupS), peakHeapMb, info)
      else {
        val tracer = new Tracer(spark)
        val tp = new Phase(Some(tracer))
        wl.run(spark, System.nanoTime() + (seconds * 1e9).toLong, tp)
        tracer.close()
        phases += tp
        val u = median(untraced.okOps.map(_.seconds))
        val t = median(tp.okOps.map(_.seconds))
        info += f"tracing overhead: p50 op ${u * 1e3}%.2f ms untraced vs ${t * 1e3}%.2f ms traced"
        tracer.spans.selfTimes.foreach { case (name, n, total, self) =>
          info += f"span $name%-22s n=$n%5d total=$total%9.3f s self=$self%9.3f s"
        }
        val spanFile = s"spans-${wl.name}.jsonl"
        tracer.spans.writeJson(work.resolve(spanFile))
        info += s"spans written to $spanFile"
        SparkLayer.metrics(tp, tracer) ++ wl.layerMetrics(tp, tracer) ++ wl.kernels() +
          ("trace.overhead_pct" -> Metric(100.0 * (t - u) / u, "%"))
      }

    wl.export(spark, work.resolve("outputs"))
    spark.stop()

    val ops = phases.flatMap(_.ops)
    val errors = phases.flatMap(_.errors)
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.obj(Seq(
      "correct" -> Json.bool(errors.isEmpty && ops.forall(_.ok)),
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(!_.ok).toString,
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "info" -> Json.arr(info.toSeq.map(Json.str)),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      }))))
    0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample, at percentile 100·(n−10)/n of n samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, 0.0)
    else (s(math.max(0, s.size - 11)), math.max(0.0, 100.0 * (s.size - 10) / s.size))
  }

  /** End-to-end figures over the operations of complete rounds, so every
    * run weighs the workload's operation mix the same. */
  private def endToEnd(p: Phase, setupS: Double, peakHeapMb: Double,
                       info: mutable.ArrayBuffer[String]): Map[String, Metric] = {
    val ops = p.roundOps.filter(_.ok)
    val lat = ops.map(_.seconds)
    val (tailS, pct) = tail(lat)
    info += f"latency_tail_s is p$pct%.1f of ${lat.size} operations in ${p.completeRounds.size} complete rounds"
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      info += f"  $n%-24s n=${os.size}%3d p50 ${median(os.map(_.seconds))}%.4f s"
    }
    info += f"failed_ratio ${p.ops.count(!_.ok).toDouble / p.ops.size}%.4f " +
      s"(${p.ops.count(!_.ok)} of ${p.ops.size} operations)"
    info += f"records ${p.records} over ${p.roundWallS}%.3f s of timed wall clock"
    Map(
      "setup_s" -> Metric(setupS, "s"),
      "records_per_s" -> Metric(p.records / p.roundWallS, "1/s"),
      "latency_p50_s" -> Metric(median(lat), "s"),
      "latency_tail_s" -> Metric(tailS, "s"),
      "peak_heap_mb" -> Metric(peakHeapMb, "MB"))
  }
}

/** CPU time the hypervisor gave to other guests (`steal` in /proc/stat),
  * which slows every wall-clock figure of a run; reported beside them. */
object Steal {
  def sample(): Option[Array[Long]] =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      Some(cpu.drop(1).map(_.toLong))
    } catch { case scala.util.control.NonFatal(_) => None }

  def share(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
    for (x <- a; y <- b if y.length > 7 && y.sum > x.sum) yield (y(7) - x(7)).toDouble / (y.sum - x.sum)
}

/** The `spark` layer of a traced phase, per operation: means over the
  * operations of complete rounds, so the counts repeat run to run. */
object SparkLayer {
  def metrics(p: Phase, tracer: Tracer): Map[String, Metric] = {
    val ops = p.roundOps.filter(_.ok)
    if (ops.isEmpty) return Map.empty
    val cs = ops.map(o => o -> tracer.sparkTrace.snapshot(o.id).getOrElse(new OpCounters))
    def mean(f: OpCounters => Double): Double = cs.map(c => f(c._2)).sum / cs.size
    val driverS = cs.map { case (o, c) =>
      val inside = c.jobIntervals.map { case (s, e) => (math.max(s, o.startUs), math.min(e, o.endUs)) }
      (o.endUs - o.startUs - Intervals.covered(inside.toSeq)) / 1e6
    }
    val allOps = p.ops.flatMap(o => tracer.sparkTrace.snapshot(o.id))
    Map(
      "spark.jobs" -> Metric(mean(_.jobs.toDouble), "count"),
      "spark.stages" -> Metric(mean(_.stages.toDouble), "count"),
      "spark.tasks" -> Metric(mean(_.tasks.toDouble), "count"),
      "spark.executor_run_s" -> Metric(mean(_.runMs / 1e3), "s"),
      "spark.executor_cpu_s" -> Metric(mean(_.cpuNs / 1e9), "s"),
      "spark.task_wait_s" -> Metric(mean(_.waitMs / 1e3), "s"),
      "spark.driver_s" -> Metric(driverS.sum / driverS.size, "s"),
      "spark.shuffle_write_bytes" -> Metric(mean(_.shuffleWrite.toDouble), "bytes"),
      "spark.shuffle_read_bytes" -> Metric(mean(_.shuffleRead.toDouble), "bytes"),
      "spark.spill_bytes" -> Metric(mean(_.spill.toDouble), "bytes"),
      "spark.peak_execution_memory_bytes" -> Metric(cs.map(_._2.peakExecMem).max.toDouble, "bytes"),
      "spark.input_bytes" -> Metric(mean(_.inputBytes.toDouble), "bytes"),
      "spark.failed_tasks" -> Metric(allOps.map(_.failedTasks).sum.toDouble, "count"))
  }
}

/** Just enough JSON for flat result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
