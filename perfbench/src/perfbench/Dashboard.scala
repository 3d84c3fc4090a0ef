package perfbench

import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Q, Queries}

/** `dashboard`: one closed-loop client issues a seeded sequence of the
  * registered traffic queries, by name through `Queries.all`, over a
  * generated `events` table. An operation is one query, from building the
  * DataFrame to its last row; a round runs each query once, in a seeded
  * order. Every result must equal the first result of the same query in
  * the run, and the last one is exported for the DuckDB oracle check.
  */
final class Dashboard(seed: Long) extends Workload {
  val name = "dashboard"
  val rows = 100000
  val queryNames = Seq("a04_traffic_totals", "a05_traffic_rollup", "a06_top_resources",
    "a07_error_rate", "a08_latency_quantiles")
  private lazy val queries: Map[String, Q] =
    queryNames.map(n => n -> Queries.all.find(_.name == n).getOrElse(
      throw new NoSuchElementException(s"query $n is not registered"))).toMap

  private var dir: Path = _
  private val digests = mutable.HashMap.empty[String, Int]
  private val lastResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def prepare(spark: SparkSession, d: Path): Unit = {
    dir = d
    val events = Gen.events(seed, rows).map { e =>
      val ts = LocalDateTime.ofInstant(
        Instant.ofEpochSecond(Math.floorDiv(e.tsMicros, 1000000L), Math.floorMod(e.tsMicros, 1000000L) * 1000L),
        ZoneOffset.UTC)
      Row(e.eventId, ts, e.userId, e.eventType, e.value, e.props)
    }
    spark.createDataFrame(events.asJava, schema).coalesce(1)
      .write.parquet(dir.resolve("events.parquet").toString)
    digests.clear()
    lastResult.clear()
  }

  val settleRounds = 4

  def warmUp(spark: SparkSession): Unit = queries(queryNames.head).fn(spark, dir.toString).collect()

  def run(spark: SparkSession, deadlineNs: Long, phase: Phase): Unit = {
    val rng = new SplittableRandom(seed * 31 + 7)
    phase.runRounds(deadlineNs) { round =>
      Gen.shuffle(queryNames, rng).foreach { n =>
        val opId = s"dashboard-${phase.ops.size}-$n"
        Ops.run(spark, phase, name, opId, n, round, rows.toLong, callIsPlanning = true)(
          queries(n).fn(spark, dir.toString))(_.collect())
          .foreach { case (df, result) => record(n, df.schema, result, phase) }
      }
      true
    }
  }

  private def record(n: String, schema: StructType, result: Array[Row], phase: Phase): Unit = {
    val digest = result.map(_.toString).sorted.toSeq.hashCode
    digests.get(n) match {
      case Some(d) if d != digest => phase.fail(s"$n returned a different result than earlier in the run")
      case _ => digests(n) = digest
    }
    lastResult(n) = (schema, result)
  }

  def layerMetrics(phase: Phase, tracer: Tracer): Map[String, Metric] =
    phase.medianOf("plan.ms").map(v => "plan.ms" -> Metric(v, "ms")).toMap

  def kernels(): Map[String, Metric] = Map.empty

  /** Each query's last result as parquet, its oracle SQL, and the table
    * they both read, for the DuckDB check. */
  override def export(spark: SparkSession, out: Path): Unit = {
    Files.createDirectories(out)
    lastResult.foreach { case (n, (sch, rs)) =>
      spark.createDataFrame(rs.toList.asJava, sch).coalesce(1)
        .write.parquet(out.resolve(n).toString)
    }
    val oracle = lastResult.keys.toSeq.map(n => n -> Json.str(queries(n).oracle.getOrElse(
      throw new IllegalStateException(s"query $n has no oracle"))))
    Files.writeString(out.resolve("dashboard.json"), Json.obj(Seq(
      "events" -> Json.str(dir.resolve("events.parquet").toString),
      "oracle" -> Json.obj(oracle))))
  }
}
