package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the graft engine.
  *
  * The reference pipeline (see `/root/reference/anonymizer/src/main.rs`) scales
  * by spawning N parallel Kafka consumers and reads every knob from the
  * environment (`config.rs:1-187`); the analog here is `local[N]` with N
  * shuffle partitions and the same env-first discipline — every knob below
  * has an `SPARK_GRAFT_*` override, so bench/probe/deploy sizing is an env
  * edit, not a code edit. On a real cluster the master/partition settings
  * come from spark-submit and AQE handles runtime re-planning (skew splits,
  * shuffle coalescing), so everything except the nanos flag is advisory.
  * The SQL confs the engine needs are one list, [[runtimeConfs]].
  *
  * Local filesystem: [[configure]] also binds Hadoop's `file:` scheme to
  * [[graft.io.ForkFreeLocalFileSystem]] (`spark.hadoop.fs.file.impl`, the
  * `FileSystem` API) and [[graft.io.ForkFreeLocalFs]]
  * (`spark.hadoop.fs.AbstractFileSystem.file.impl`, the `FileContext` API
  * that streaming checkpoints use). Without native `libhadoop`, stock Hadoop
  * starts a `chmod` process for every local file or directory it creates and
  * `readlink` processes on every `FileContext.rename`: on a 4-vCPU Xeon VM,
  * `FileSystem.create` + close costs 5.5 ms stock and 0.27 ms with these
  * classes, `FileContext.rename` 9.8 ms and 0.17 ms, and a streaming
  * micro-batch writes about a dozen such files (offset, commit and source
  * logs, state-store deltas, sink part files). The replacement
  * does both in-process and keeps the stock answer otherwise; HDFS, S3 and
  * every other scheme are untouched. The keys are fixed, not knobs, and are
  * applied only when a session is BUILT: Hadoop caches one `FileSystem` per
  * scheme per process, so [[applyRuntimeConfs]] (and `SparkEntry.entry`,
  * which calls it) leave a host session's filesystem as it is.
  *
  * | env                             | default    | meaning                    |
  * |---------------------------------|------------|----------------------------|
  * | SPARK_GRAFT_CPUS                | 32         | local[N] + shuffle default |
  * | SPARK_GRAFT_SHUFFLE_PARTITIONS  | = CPUS     | spark.sql.shuffle.partitions |
  * | SPARK_GRAFT_MASTER              | local[CPUS]| master URL                 |
  * | SPARK_GRAFT_OBJ_AGG_FALLBACK    | 1048576     | ObjectHashAggregate sort-fallback keys |
  */
object GraftSession {

  private def env(name: String, default: => String): String =
    sys.env.getOrElse(name, default)

  /** The runtime SQL confs the engine relies on — the one definition both
    * [[configure]] (session build) and [[applyRuntimeConfs]] (a session
    * built elsewhere, e.g. by a host application) install.
    */
  val runtimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // testdata events.parquet stores INT64 TIMESTAMP(NANOS), which Spark's
    // parquet reader rejects by default; read as epoch-nano longs instead and
    // convert to a microsecond timestamp in Tables.events.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Parquet TIMESTAMP(isAdjustedToUTC=false) — the driver's post-r7 events
    // vintage, and orders/lineitem dates in every vintage — reads as plain
    // TIMESTAMP (epoch micros taken verbatim) instead of TIMESTAMP_NTZ.
    // Under this session's pinned-UTC zone the values are identical to the
    // `cast(ntz as timestamp)` the adapter used to do, but WITHOUT the
    // per-row convertTz (a microsToInstant/LocalDateTime round trip, two
    // java.time allocations per row) that taxed every events-scanning query.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // ObjectHashAggregate (keep_latest, collect_list) falls back to
    // sort-based aggregation after this many hash-map keys per task; the
    // 128-key default sorts almost immediately, re-creating the
    // SortAggregate cost the operator exists to avoid. 1M keys of small
    // object buffers is ~100 MB per task; past that the sort fallback is
    // the right call anyway (same group-per-task sizing HashAggregate needs).
    // CAVEAT: the threshold is session-global and also governs big-buffer
    // aggregates (collect_list of shingle arrays ≈ 1-10 KB/key) — 1M such
    // keys per task is GBs before fallback. The guard is shuffle-partition
    // sizing, same as for HashAggregate: keys-per-task = keys/partitions
    // must fit the executor, and deployments with huge per-key buffers
    // should lower SPARK_GRAFT_OBJ_AGG_FALLBACK instead of raising memory.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      env("SPARK_GRAFT_OBJ_AGG_FALLBACK", "1048576"),
    // Defensive cap: AQE posts a full explainString on EVERY plan update,
    // and iterative workloads whose round-k plan nests round k-1's
    // InMemoryRelation (e.g. BPE learning before its lineage truncation)
    // make that string superlinear in rounds — the default 2 GiB cap let a
    // KB-sized table burn minutes of driver CPU building plan text. 1 MiB
    // keeps every legitimate explain intact.
    "spark.sql.maxPlanStringLength" -> "1048576",
    // Let AQE re-plan INSIDE persisted-plan materializations (off by default
    // upstream so a cache's output partitioning stays stable for consumers
    // that reuse it). The dedup family materializes every persist under
    // shuffle.partitions-wide exchanges, and with this off those reduce
    // stages cannot coalesce — ProfileBench measured 32-task stages moving
    // ~200 KB (c06 stage: 910 ms of task time for 230 ms of CPU, pure
    // launch overhead; the same pattern in every materializedPairs call).
    // Scale-adaptive by construction (AQE sizes from runtime bytes); no
    // consumer here relies on a cache's physical partitioning (the pair
    // caches are joined/aggregated through their own exchanges), except
    // those that opt out via [[withStableCachePartitioning]]
    // (OPTIMIZATION_r22.md §1).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    runtimeConfs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.ForkFreeLocalFs].getName)

  /** Install [[runtimeConfs]] on a live session; idempotent, so any entry
    * point may call it on a session it did not build.
    */
  def applyRuntimeConfs(spark: SparkSession): Unit =
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }

  /** Run `body` with cached-plan AQE re-partitioning OFF, so frames
    * persisted inside keep their exchange-established output partitioning
    * (the upstream default). The session default above is `true` — caches
    * whose consumers run their own exchanges coalesce their tiny reduce
    * partitions adaptively — but a cache whose PARTITIONING is the
    * optimization (Graph.pageRank's src-partitioned edge list, where every
    * iteration join must be exchange-free above the cache scan) must opt
    * out, or AQE's coalesced final stage degrades the cache's reported
    * partitioning and the consumer re-shuffles the cached rows. The conf is
    * read when the plan is cached (persist call), so the scope must cover
    * the persist itself; covering the first materialization too is safe.
    *
    * Assumes one thread per session: the conf is session-global, so
    * a concurrent persist() on the same session from another thread would
    * inherit the stable setting or race the restore.
    */
  def withStableCachePartitioning[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Local session sized by SPARK_GRAFT_CPUS — the one place every main
    * and spec gets its session from.
    */
  def local(cpus: String = env("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(env("SPARK_GRAFT_MASTER", s"local[$cpus]"))
        .appName("graft")
        .config("spark.sql.shuffle.partitions",
          env("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
