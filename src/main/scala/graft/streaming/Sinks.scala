package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rate limiting for a downstream store, as in the reference's 1-req/min
  * ClickHouse proxy (`/root/reference/anonymizer/src/limiter.rs` +
  * `docker/ch-proxy/nginx.conf`): a micro-batch sink blocks until the
  * interval since the previous insert has elapsed. Backpressure then
  * propagates naturally — Structured Streaming won't start the next
  * micro-batch until foreachBatch returns, so consumers accumulate larger
  * batches instead of dropping data (same behavior the reference gets from
  * its sink mutex).
  */
final class RateLimiter(minIntervalMs: Long,
                        nanoTime: () => Long = System.nanoTime,
                        sleep: Long => Unit = Thread.sleep) {
  private val lastNanos = new AtomicLong(Long.MinValue)

  /** Blocks until the interval has elapsed; returns the ms actually waited. */
  def acquire(): Long = {
    val last = lastNanos.get()
    val now = nanoTime()
    val waitMs =
      if (last == Long.MinValue) 0L
      else math.max(0L, minIntervalMs - (now - last) / 1000000L)
    if (waitMs > 0) sleep(waitMs)
    lastNanos.set(nanoTime())
    waitMs
  }
}

/** foreachBatch sinks with the reference's delivery semantics. */
object Sinks {

  /** Idempotent parquet sink — the ReplacingMergeTree analog. Each
    * micro-batch is deduplicated on `keys` and written with dynamic
    * partition overwrite on its own `batch_id` partition, so a replayed
    * micro-batch (failure between write and checkpoint commit) overwrites
    * exactly itself — earlier batches' partitions are untouched:
    * at-least-once replay + idempotent write = effectively exactly-once,
    * the same argument as reference lib.rs:99-116.
    */
  def idempotentParquet(path: String, keys: Seq[String], limiter: Option[RateLimiter] = None)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    limiter.foreach(_.acquire())
    batch
      .dropDuplicates(keys)
      .withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
  }
}
