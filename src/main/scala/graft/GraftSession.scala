package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's standard configuration.
 *
 * Scale posture: AQE on (runtime re-plan, skew-join splitting), shuffle
 * partitions sized for the local[32] harness (on a real cluster this is
 * overridden to ~2-3x total cores), UTC session time zone for oracle parity.
 * Two settings are pinned to measured values, not left at Spark's defaults:
 * the driver-side listing threshold ([[StoreListingThreshold]]) and the
 * size of the generated-class cache ([[CodegenCacheEntries]]).
 */
object GraftSession {

  /**
   * Spark's `spark.sql.sources.parallelPartitionDiscovery.threshold`:
   * above this many directories, listing a table launches a Spark job of
   * one task per directory instead of listing on the driver. Spark's
   * default is 32, and the index stores write 64-bucket tables (BM25,
   * near-dup), so every read of one of them paid a 64-task listing job
   * before any data was read: about 0.6–0.7 s wall and 2 s of task time
   * at 3 cores, against 64 `listStatus` calls on the driver that cost
   * far less (`docs/BENCH_NOTES.md`, "Store listing on the driver").
   *
   * The value covers the widest default store layout the code writes:
   * 256 buckets for the SRP store at its default 8 planes, 64 for BM25
   * and near-dup (`IndexBuckets`), 32 for [[graft.storage.TagIndex]].
   * Wider tables (user data, SRP with more planes) keep Spark's
   * parallel listing. Set explicitly so listing never depends on
   * Spark's ambient default.
   */
  val StoreListingThreshold: Int = 256

  /**
   * Spark's `spark.sql.codegen.cache.maxEntries`: how many compiled
   * generated classes the JVM keeps in `CodeGenerator`'s LRU cache.
   * Spark's default is 100, and one `refreshTiers` alone compiles 88–104
   * classes, so each refresh evicted the previous one's classes and
   * compiled them all again. Any plan repeated after 100 other classes
   * (a REST read, a `compressBlock`, a maintainer's micro-batch) was
   * compiled again too.
   *
   * The working sets measured with `CodegenMetrics` compile counts are
   * 326 distinct classes per `perfbench` `rest` round (three set-ups,
   * ingest, maintenance, reads) and 303 per `corpus_index` lifecycle.
   * 1000 leaves about 3x headroom; a 4 000-entry cache gave the same
   * compile counts. Keeping the working set costs about 2 MB of
   * Metaspace after a full GC, against a run that let the small cache
   * evict and unload (`docs/BENCH_NOTES.md`, "Generated classes compiled
   * once per process").
   *
   * The setting is static and JVM-wide: `CodeGenerator` sizes its cache
   * once, at the process's first code generation, so it is set in
   * [[builder]] and [[tune]] cannot change it.
   */
  val CodegenCacheEntries: Int = 1000

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              // shuffle width follows the core count (SPARK_GRAFT_CPUS)
              // so a smaller harness host doesn't pay 32-way task overhead
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the reference's ingest timestamps are nanosecond-precision; Spark
      // reads parquet TIMESTAMP(NANOS) as LongType under this flag and the
      // engine does exact integer epoch-millis math from there
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        StoreListingThreshold.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ensure nanos-as-long and the store listing threshold are set on an
    * externally created session (the driver contract hands us a session
    * we didn't build). Dynamic conf — affects subsequent parquet schema
    * conversion and file listing. The generated-class cache size
    * ([[CodegenCacheEntries]]) is static and JVM-wide, fixed at the
    * process's first code generation: a session this program did not
    * build keeps its host's cache size. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
      StoreListingThreshold.toString)
    spark
  }
}
