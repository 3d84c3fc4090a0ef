package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextHash
import graft.operators.Dedup

/** `neardup`: `Dedup.minhashPairs`, `Dedup.weightedMinhashPairs` and
  * `Dedup.cleanCorpus` called in a seeded order over a generated corpus
  * with planted near-duplicate pairs. An operation is one call,
  * materialised through the `noop` sink; a round calls each once.
  */
final class NearDup(seed: Long) extends Workload {
  val name = "neardup"
  val docs = 1000
  val plantedShare = 0.1
  val operators = Seq("minhash_pairs", "weighted_minhash_pairs", "clean_corpus")

  private var corpus: Gen.Corpus = _
  private var dir: Path = _
  private var keptIds: Set[Long] = _

  val schema: StructType = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))

  def prepare(spark: SparkSession, d: Path): Unit = {
    dir = d.resolve("corpus.parquet")
    corpus = Gen.corpus(seed, docs, plantedShare)
    keptIds = corpus.docs.map(_.id).toSet -- corpus.pairs.map(_._2)
    spark.createDataFrame(corpus.docs.map(x => Row(x.id, x.text)).asJava, schema)
      .coalesce(1).write.parquet(dir.toString)
  }

  private def table(spark: SparkSession): DataFrame = spark.read.schema(schema).parquet(dir.toString)

  private def call(spark: SparkSession, op: String): DataFrame = op match {
    case "minhash_pairs"          => Dedup.minhashPairs(table(spark), "id", "text")
    case "weighted_minhash_pairs" => Dedup.weightedMinhashPairs(table(spark), "id", "text")
    case "clean_corpus"           => Dedup.cleanCorpus(table(spark), "id", "text")
  }

  val settleRounds = 4

  def warmUp(spark: SparkSession): Unit = {
    val out = call(spark, operators.head)
    out.write.format("noop").mode("overwrite").save()
    out.unpersist()
  }

  def run(spark: SparkSession, deadlineNs: Long, phase: Phase): Unit = {
    val rng = new SplittableRandom(seed * 31 + 11)
    phase.runRounds(deadlineNs) { round =>
      Gen.shuffle(operators, rng).foreach { op =>
        val opId = s"neardup-${phase.ops.size}-$op"
        Ops.run(spark, phase, name, opId, op, round, docs.toLong, callIsPlanning = false)(
          call(spark, op))(_.write.format("noop").mode("overwrite").save())
          .foreach { case (out, _) =>
            check(op, opId, out, phase)
            // the returned frame is persisted; releasing it is the caller's duty
            out.unpersist()
          }
      }
      true
    }
  }

  private def check(op: String, opId: String, out: DataFrame, phase: Phase): Unit = op match {
    case "clean_corpus" =>
      val kept = out.select("id").collect().map(_.getLong(0)).toSet
      phase.perOp(("dedup.pairs_found", opId)) = (docs - kept.size).toDouble
      if (kept != keptIds)
        phase.fail(s"$opId kept ${kept.size} documents, expected ${keptIds.size} " +
          s"(${(keptIds -- kept).size} wrongly dropped, ${(kept -- keptIds).size} wrongly kept)")
    case _ =>
      val pairs = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      phase.perOp(("dedup.pairs_found", opId)) = pairs.size.toDouble
      if (pairs != corpus.pairs)
        phase.fail(s"$opId found ${pairs.size} pairs, planted ${corpus.pairs.size} " +
          s"(${(corpus.pairs -- pairs).size} missed, ${(pairs -- corpus.pairs).size} spurious)")
  }

  def layerMetrics(phase: Phase, tracer: Tracer): Map[String, Metric] =
    phase.medianOf("plan.ms").map(v => "plan.ms" -> Metric(v, "ms")).toMap ++
      phase.meanOverRounds("dedup.pairs_found").map(v => "dedup.pairs_found" -> Metric(v, "count"))

  def kernels(): Map[String, Metric] = {
    val texts = corpus.docs.map(d => UTF8String.fromString(d.text)).toArray
    val sh = texts.map(t => TextHash.wordShingles(t, 3))
    val df = new java.util.HashMap[Long, Int]()
    sh.foreach(a => a.toLongArray.foreach(x => df.merge(x, 1, Integer.sum)))
    val ws = sh.map(a => new GenericArrayData(a.toLongArray.map { x =>
      math.max(1, math.min(8, math.ceil(math.log(docs.toDouble / df.get(x))).toInt))
    }))
    val sigs = sh.map(a => TextHash.minhashSigFromShingles(a, 128))
    Map(
      "functions.word_shingles_ns" -> Metric(Kernels.nsPerItem(texts.length) { i =>
        TextHash.wordShingles(texts(i), 3).numElements().toLong
      }, "ns"),
      "functions.minhash_sig_ns" -> Metric(Kernels.nsPerItem(sh.length) { i =>
        TextHash.minhashSigFromShingles(sh(i), 128).getLong(0)
      }, "ns"),
      "functions.minhash_sig_weighted_ns" -> Metric(Kernels.nsPerItem(sh.length) { i =>
        TextHash.minhashSigWeighted(sh(i), ws(i), 128).getLong(0)
      }, "ns"),
      "functions.lsh_band_keys_ns" -> Metric(Kernels.nsPerItem(sigs.length) { i =>
        TextHash.lshBandKeys(sigs(i), 32).getLong(0)
      }, "ns"))
  }
}
