package graft.storage

import graft.model.MetricType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/**
 * Raw-tier storage: the Spark-native replacement for the reference's
 * Cassandra tables (2-hour temp tables + Gorilla-compressed blocks,
 * DataAccessImpl.java:963-1008, MetricsServiceImpl.java:764-818).
 *
 * Layout: Parquet partitioned by (tenant_id, mtype, time_slice) where
 * time_slice = floor(time / 1d) — the reference's `dpart`/temp-table-per-
 * slice scheme re-expressed as partition pruning. Files within a slice are
 * sorted by (metric, time) so metric+range scans touch few row groups.
 *
 * Slice granularity: the reference's 2-HOUR slices are a Cassandra
 * temp-table idiom (bounded table size, DateTimeService 2h block math);
 * for a parquet tier the right unit is the partition-directory sweet spot.
 * At the 100 TB design point a day-slice is ~300 GB — ideal for directory-
 * level pruning — while 2h directories would multiply file count 12× and
 * drown small deployments in tiny files. Sub-day time pruning still
 * happens, one level down, via parquet row-group min/max stats on the
 * sorted `time` column; the 2h LATENESS semantics live where they belong,
 * in the streaming watermark (StreamingIngest), not the physical layout.
 * Retention (whole-day sweeps, reference default 7d) stays metadata-only.
 *
 * The reference's three tiers collapse to one: Parquet encodings + ZSTD
 * replace Gorilla (SURVEY §1.4), and `compact` replaces the 2h compression
 * job (S8) — rewrite a closed slice as fewer, sorted, ZSTD files.
 */
object GraftStorage {

  val SliceMs: Long = 24L * 60 * 60 * 1000 // 1-day UTC slices (see layout note above)

  def withSlice(dp: DataFrame): DataFrame =
    dp.withColumn("time_slice", expr(s"time div $SliceMs"))

  // write-batch sequence for last-write-wins: wall-clock millis << 20 | a
  // process-local counter — strictly increasing across batches, which is
  // what Cassandra's upsert timestamp provided (DataAccessImpl.java:215-221).
  // Rows WITHIN one batch share the sequence (there is no write order to
  // preserve inside a single batch); duplicate (metric, time) rows there
  // resolve deterministically via the value rule — see valueTieBreak
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def nextIngestSeq(): Long =
    (System.currentTimeMillis() << 20) | (seqCounter.getAndIncrement() & 0xfffffL)

  /**
   * S1 — batch append of canonical datapoints. `sortWithinPartitions`
   * before write gives run-length-friendly pages and clustered row groups;
   * repartition by the physical partition columns keeps one task per
   * output partition (no small-file explosion at 1000 executors). The
   * columns land with the raw table's declared types (a caller's untyped
   * empty `tags` map, an int `time`), so the files hold what
   * [[read]] declares; a column the declaration lacks is not written.
   */
  def write(dp: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit = {
    val in = withSlice(dp).withColumn("ingest_seq", lit(nextIngestSeq()))
    in.select(StoreTables.Metrics.Raw.schema.fields.toSeq.filter(f => in.columns.contains(f.name))
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .repartition(col("tenant_id"), col("mtype"), col("time_slice"))
      .sortWithinPartitions(col("metric"), col("time"))
      .write
      .partitionBy("tenant_id", "mtype", "time_slice")
      .option("compression", "zstd")
      .mode(mode)
      .parquet(path)
  }

  /** Range scan entry: partition pruning on (tenant, type, slice range)
    * happens before any file is opened. The declared partition types
    * hold (tenant `007` stays `"007"`, never merged with tenant `7`).
    * An absent tier reads as an empty frame, and so does an empty one (a
    * tenant delete can legitimately empty the store). */
  def read(spark: SparkSession, path: String): DataFrame =
    IndexStore.tableOrEmpty(spark, path, StoreTables.Metrics.Raw)

  /** Read with last-write-wins resolved per (tenant, mtype, metric, time) —
    * the exactly-once view of a raw tier that may hold not-yet-compacted
    * duplicate rows (re-written points, or a replayed streaming micro-batch
    * before `compact` runs). Same window shape as `MetricsOps.dedupTiers`. */
  /**
   * Bucketed-table write — the co-located-join layout for equi-joins on
   * `metric` whose build side is too large to broadcast (J3 when a tag
   * query resolves millions of ids; dedup verification self-joins). Both
   * sides written with the same `bucketBy(n, "metric")` hash-place
   * matching keys into the same bucket file, so a sort-merge join matches
   * bucket-to-bucket with NO shuffle on either side, and a downstream
   * `groupBy("metric")` reuses the same placement (StorageSpec proves the
   * executed plan is Exchange-free). The parquet analog of the reference's
   * fixed Cassandra partition-key token routing (DataAccessImpl CQL
   * placement): co-location decided at WRITE time, amortized over every
   * subsequent join. Bucket metadata needs the session catalog
   * (`saveAsTable`); the data is ordinary parquet under the warehouse dir.
   */
  def writeBucketedTable(dp: DataFrame, table: String, nBuckets: Int = 32,
                         sortCols: Seq[String] = Seq("metric", "time")): Unit = {
    val spark = dp.sparkSession
    // re-runnability across sessions: with the in-memory catalog, a prior
    // session's managed-table DIRECTORY survives in the warehouse while
    // the catalog entry dies with the session — saveAsTable then refuses
    // with LOCATION_ALREADY_EXISTS. Drop both the entry and the location.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(table)))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    val w = dp.write.format("parquet").mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, "metric")
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  def readResolved(spark: SparkSession, path: String): DataFrame =
    graft.operators.MetricsOps.dedupTiers(read(spark, path), "ingest_seq",
      Seq(valueTieBreak))

  /** [[readResolved]] bounded to a slice window, with the bound applied
    * BELOW the LWW dedup window. `time_slice` derives from `time`, so
    * every duplicate of a point key lives in one slice and pre-filtering
    * keeps each dedup group intact — identical survivors. The placement
    * is load-bearing for scale: the dedup window partitions by (tenant,
    * mtype, metric, time), so a slice filter ABOVE it cannot push
    * through (`time_slice` is not in the window's partition spec) and
    * the scan loses partition pruning — every bounded refresh would
    * read and shuffle the WHOLE raw history instead of its window. */
  def resolvedWindow(spark: SparkSession, path: String,
                     fromSlice: Long, upToSlice: Long): DataFrame =
    graft.operators.MetricsOps.dedupTiers(
      read(spark, path)
        .filter(col("time_slice") >= fromSlice && col("time_slice") < upToSlice),
      "ingest_seq", Seq(valueTieBreak))

  def readRange(spark: SparkSession, path: String, tenantId: String,
                mtype: MetricType, start: Long, end: Long): DataFrame =
    read(spark, path)
      .filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt)
      .filter(col("time_slice") >= start / SliceMs && col("time_slice") <= (end - 1) / SliceMs)
      .filter(col("time") >= start && col("time") < end)

  /**
   * Deterministic LWW tie-break for rows that share one `ingest_seq` (a
   * single write batch stamps one sequence): the greater value tuple wins.
   * This mirrors the rule the reference inherits from Cassandra for
   * same-timestamp upserts — on a write-timestamp tie, cells compare by
   * VALUE and the greater one wins — so duplicate (metric, time) rows
   * inside one batch resolve identically on every run, engine, and
   * partitioning. The map column is ordered through its sorted entry
   * array (maps themselves are not orderable).
   */
  private[graft] def valueTieBreak: Column =
    struct(col("n_value"), col("l_value"), col("avail"), col("s_value"),
      sort_array(map_entries(col("tags"))))

  /**
   * S8 — compaction of closed slices (the TempDataCompressor analog): read
   * the window back, last-write-wins dedup on the primary key (Cassandra
   * upsert semantics, DataAccessImpl.java:215-221), rewrite sorted+ZSTD
   * with one file per partition, atomically replace via overwrite of the
   * matching partitions only (dynamic partition overwrite).
   *
   * `fromSlice` bounds the window below: a maintenance run touches ONLY
   * the slices that closed since the last run — the reference's job
   * processes just the previous 2 h slice per invocation
   * (TempDataCompressor.java:78-98), never the whole history. Callers
   * track the last compacted slice and pass it here; files of slices
   * outside [fromSlice, upToSlice) are not read, not rewritten, not
   * touched. The unbounded default is the explicit full-rebuild escape
   * hatch, not the steady-state path — at fleet scale an unbounded run
   * would be O(history) per invocation.
   */
  def compact(spark: SparkSession, path: String, upToSlice: Long,
              fromSlice: Long = Long.MinValue): Unit = {
    val closed = read(spark, path)
      .filter(col("time_slice") >= fromSlice && col("time_slice") < upToSlice)
    val deduped = closed
      .groupBy(col("tenant_id"), col("mtype"), col("time_slice"), col("metric"), col("time"))
      // seq first, value tuple second: cross-batch LWW by write order,
      // within-batch ties resolved by the Cassandra value rule (see
      // valueTieBreak) — max_by on the composite is deterministic
      .agg(max_by(struct(col("n_value"), col("l_value"), col("avail"), col("s_value"), col("tags")),
        struct(col("ingest_seq"), valueTieBreak)).as("v"),
        max(col("ingest_seq")).as("ingest_seq"))
      .select(col("tenant_id"), col("mtype"), col("metric"), col("time"),
        col("v.n_value"), col("v.l_value"), col("v.avail"), col("v.s_value"), col("v.tags"),
        col("ingest_seq"), col("time_slice"))
    // localCheckpoint truncates lineage so the overwrite does not read from
    // the path it is replacing (prod would land in a table format with an
    // atomic REPLACE instead); overwrite mode is a per-WRITER option so
    // concurrent maintenance never races on session conf
    deduped.localCheckpoint()
      .repartition(col("tenant_id"), col("mtype"), col("time_slice"))
      .sortWithinPartitions(col("metric"), col("time"))
      .write
      .partitionBy("tenant_id", "mtype", "time_slice")
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  // ------------------------------------------------------------------
  // rollup tier — hourly pre-aggregates with an EXACTNESS contract
  // ------------------------------------------------------------------

  /** Rollup granularity: one pre-aggregate row per metric-hour. */
  val RollupMs: Long = 3600000L

  /**
   * Build/refresh the hourly rollup tier from the resolved raw tier: per
   * (tenant, mtype, metric, hour) — samples, min, max, and the
   * DECIMAL(28,10)-EXACT sum of `n_value`, STORED AS DECIMAL so that
   * serve-time re-aggregation (a sum of hourly sums) stays associative
   * and bit-equal to the one-pass on-read aggregate — the tier's
   * correctness contract: a bucket served from rollups must HASH-MATCH
   * the raw-path A1 result, not approximate it (rollup_stats oracle; a
   * double partial sum here would reorder and drift in the last ulp).
   *
   * Partitioned exactly like the raw tier, so tenant/type/slice pruning
   * carries over to rollup scans; `(fromSlice, upToSlice)` bounds the
   * maintenance window like [[compact]] — a run reads and rewrites only
   * newly closed slices' partitions (dynamic overwrite), leaving older
   * rollups byte-identical. At 100 TB this tier is what dashboard-range
   * queries hit: hours × metrics rows instead of raw points — typically
   * 3-4 orders of magnitude less scan.
   *
   * A refresh also CLEARS in-window rollup partitions whose raw data has
   * disappeared (S9 deletes, retention sweeps): dynamic overwrite cannot
   * emit an empty partition, so without the sweep a deleted metric's
   * rollups would keep serving ghosts — the same rewrite-plus-drop
   * pattern as [[deleteMetric]]. Partition-level staleness only; a
   * partially-deleted partition is rewritten by the overwrite itself.
   *
   * `resolved` (here and on every writeRollup* sibling): a caller
   * refreshing SEVERAL families over one window passes the same
   * materialized [[resolvedWindow]] frame (same slice bounds!) so the
   * raw scan + LWW dedup shuffle run once per refresh instead of once
   * per family — see MetricsService.refreshFamilies.
   */
  def writeRollup(spark: SparkSession, rawPath: String, rollupPath: String,
                  upToSlice: Long = Long.MaxValue,
                  fromSlice: Long = Long.MinValue,
                  valueCol: String = "n_value",
                  resolved: Option[DataFrame] = None): Unit = {
    // `valueCol` picks the value family (gauge n_value / counter
    // l_value) — exactly like [[writeRollupRate]]; the double cast is
    // the same one the raw A1 path applies, a no-op for n_value
    val v = col(valueCol).cast("double")
    // checkpoint: the frame feeds the fresh-partition-set action AND the
    // write — without it the aggregate runs twice
    val roll = resolved.getOrElse(resolvedWindow(spark, rawPath, fromSlice, upToSlice))
      .filter(col(valueCol).isNotNull)
      .withColumn("hour", expr(s"time div $RollupMs"))
      .groupBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .agg(count(lit(1)).as("samples"),
        min(v).as("min_v"),
        max(v).as("max_v"),
        sum(v.cast("decimal(28,10)")).as("sum_v"))
    refreshRollupTier(spark, roll, rollupPath, fromSlice, upToSlice,
      Seq(col("metric"), col("hour")))
  }

  /** Shared refresh discipline for the rollup tiers ([[writeRollup]] /
    * [[writeRollupHist]]): checkpoint the aggregated frame (it feeds the
    * fresh-partition-set action AND the write — without it the aggregate
    * runs twice), drop in-window tier partitions the refreshed frame no
    * longer covers (raw data deleted since the last refresh), then land
    * the frame as a dynamic partition overwrite. */
  private def refreshRollupTier(spark: SparkSession, tier: DataFrame,
                                path: String, fromSlice: Long, upToSlice: Long,
                                sortCols: Seq[Column]): Unit = {
    val roll = tier.localCheckpoint()
    val fresh = roll.select(col("tenant_id"), col("mtype"), col("time_slice"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val fs = rootFs(spark, path)
    val SlicePat = ".*/tenant_id=([^/]+)/mtype=(\\d+)/time_slice=(-?\\d+)$".r
    // globStatus returns NULL (not empty) when the path has no matches —
    // e.g. the very first build of a rollup tier
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$path/*/*/time_slice=*")))
      .getOrElse(Array.empty)
      .foreach { st =>
        st.getPath.toString match {
          case SlicePat(t, m, sl) =>
            val slice = sl.toLong
            if (slice >= fromSlice && slice < upToSlice &&
              !fresh((t, m.toInt, slice))) fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    // per-WRITER overwrite mode (not a session-conf mutation): tier
    // families refresh concurrently and a set/restore of the shared conf
    // would race across threads
    roll
      .repartition(col("tenant_id"), col("mtype"), col("time_slice"))
      .sortWithinPartitions(sortCols: _*)
      .write
      .partitionBy("tenant_id", "mtype", "time_slice")
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /**
   * Histogram rollup tier — the DISTRIBUTION companion of [[writeRollup]]:
   * per (tenant, type, slice, metric, hour, value-bin) point counts with
   * CALLER-fixed edges (`vMin`/`vMax`/`bins` — `valueHistogram`'s
   * contract: data-derived edges would drift as data arrives, and
   * out-of-range values clamp into the edge bins so mass is never
   * dropped). Plain rollups answer min/avg/max/sum but DISCARD the value
   * distribution, so order statistics (p95 dashboards) force a raw scan;
   * this tier keeps the distribution at hours × metrics × ≤bins rows,
   * and because integer bin counts merge associatively, histograms
   * served at any enclosing granularity — and the quantile walk over
   * them ([[graft.operators.MetricsOps.histogramQuantile]]) — are
   * EXACTLY the raw-path answer. At 100 TB the quantile dashboard reads
   * this tier only; raw stays cold.
   *
   * Bin parameters persist with the tier (`_histmeta` — the underscore
   * keeps the dir invisible to the partitioned read), serving derives
   * the edges from them, and a refresh with different parameters fails
   * loudly (mixed-width counts would merge into silent nonsense —
   * IndexStore.requireMeta's posture).
   */
  def writeRollupHist(spark: SparkSession, rawPath: String, histPath: String,
                      vMin: Double, vMax: Double, bins: Int,
                      upToSlice: Long = Long.MaxValue,
                      fromSlice: Long = Long.MinValue,
                      resolved: Option[DataFrame] = None): Unit = {
    require(bins > 0 && vMax > vMin, "need bins > 0 and vMax > vMin")
    histTierMeta(spark, histPath) match {
      case Some(m) =>
        require(m == ((vMin, vMax, bins)),
          s"histogram tier at $histPath was built with (vMin, vMax, bins) = $m; " +
            s"refresh passed (${(vMin, vMax, bins)})")
      case None =>
        // meta lands BEFORE the first data refresh: a crash in between
        // leaves a meta-only tier (harmless — the next refresh validates
        // the same params and proceeds), whereas data-without-meta would
        // let a later refresh with DIFFERENT edges pass this first-build
        // guard and merge mixed bin widths into silent nonsense. Tier
        // partitions already present with no meta is exactly that corrupt
        // state — refuse loudly instead of adopting it.
        require(tierTenantPartitions(spark, histPath).isEmpty,
          s"histogram tier at $histPath has data partitions but no _histmeta " +
            "(crashed pre-meta build?) — its bin edges are unknowable; " +
            "drop and rebuild the tier")
        writeHistMeta(spark, histPath, vMin, vMax, bins)
    }
    val width = (vMax - vMin) / bins
    val roll = resolved.getOrElse(resolvedWindow(spark, rawPath, fromSlice, upToSlice))
      .filter(col("n_value").isNotNull)
      .withColumn("hour", expr(s"time div $RollupMs"))
      .withColumn("bin",
        graft.functions.GraftFunctions.valueBin(col("n_value").cast("double"),
          vMin, width, bins))
      .groupBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    refreshRollupTier(spark, roll, histPath, fromSlice, upToSlice,
      Seq(col("metric"), col("hour"), col("bin")))
    updateHistCoveredFrom(spark, histPath, fromSlice)
  }

  /** The distinct (tenant_id, mtype) partition pairs present in a tier —
    * answered from the directory LISTING alone (tenant_id/mtype lead the
    * layout), no data read; the multi-tenant serve guard's probe. */
  private def tierTenantPartitions(spark: SparkSession,
                                   path: String): Seq[(String, Int)] = {
    val Pat = ".*/tenant_id=([^/]+)/mtype=(\\d+)$".r
    Option(rootFs(spark, path)
      .globStatus(new org.apache.hadoop.fs.Path(s"$path/tenant_id=*/mtype=*")))
      .getOrElse(Array.empty).toSeq
      .flatMap(_.getPath.toString match {
        case Pat(t, m) => Some((t, m.toInt))
        case _         => None
      })
  }

  // ------------------------------------------------------------------
  // dirty-slice log — late-backfill tracking for the serving tiers
  // ------------------------------------------------------------------

  /**
   * Record slices touched by a write that landed BELOW the tiers'
   * freshness watermark (late backfill into already-refreshed slices) —
   * without this, a backfilled point is invisible to tier serves until
   * an operator happens to re-refresh its slice; the log makes the next
   * bounded refresh pick it up automatically
   * ([[graft.api.MetricsService.refreshTiers]] sweeps and clears it).
   * One tiny text file per call (newline-separated slice ids, unique
   * name) — append-only, no read-modify-write, so concurrent ingests
   * never clobber each other; the sweep deletes exactly the FILES it
   * read, so entries appended mid-sweep survive to the next one.
   */
  def markDirtySlices(spark: SparkSession, tierRoot: String,
                      slices: Seq[Long]): Unit = if (slices.nonEmpty) {
    val dir = new org.apache.hadoop.fs.Path(s"$tierRoot/_dirty_slices")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new org.apache.hadoop.fs.Path(dir,
      s"d-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
    val out = fs.create(f, false)
    try out.write(slices.distinct.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The pending dirty-slice log: (file, its slices) pairs — the sweep
    * reads this, re-refreshes the slices, and deletes exactly these
    * files ([[clearDirtyFiles]]). Unparsable lines are skipped (a torn
    * concurrent write loses ITS entry, never the log). */
  def dirtySliceLog(spark: SparkSession, tierRoot: String):
      Seq[(org.apache.hadoop.fs.Path, Seq[Long])] = {
    val dir = new org.apache.hadoop.fs.Path(s"$tierRoot/_dirty_slices")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map { st =>
      val in = fs.open(st.getPath)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      st.getPath -> txt.linesIterator.flatMap(l =>
        scala.util.Try(l.trim.toLong).toOption).toSeq
    }
  }

  /** Delete swept dirty-log files (idempotent; crash before this leaves
    * the entries for the next sweep — replay just re-aggregates the same
    * slices to the same rows). */
  def clearDirtyFiles(spark: SparkSession,
                      files: Seq[org.apache.hadoop.fs.Path]): Unit =
    files.foreach(f =>
      f.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(f, false))

  /** Earliest slice present in a slice-partitioned tier — a directory
    * LISTING probe (no data read), None for a dataless tier. The
    * percentile dispatch's COVERAGE guard: a histogram tier seeded after
    * months of sums history holds fewer slices than gauge_sums, and
    * approving it on existence alone would serve NULL percentiles for
    * every older in-watermark bucket — the silently-empty failure class
    * the freshness watermark exists to prevent. */
  def tierMinSlice(spark: SparkSession, path: String): Option[Long] = {
    val SlicePat = ".*/time_slice=(-?\\d+)$".r
    Option(rootFs(spark, path).globStatus(
      new org.apache.hadoop.fs.Path(s"$path/*/*/time_slice=*")))
      .getOrElse(Array.empty).toSeq
      .flatMap(_.getPath.toString match {
        case SlicePat(s) => Some(s.toLong)
        case _ => None
      })
      .minOption
  }

  /**
   * Coverage watermark of a distribution tier: the lowest `fromSlice`
   * any refresh has materialized it from (Long.MinValue = all history).
   * This — not data presence — is the dispatch's coverage signal: a
   * SPARSE series can legitimately have no distribution rows in early
   * slices (a value-hist slice with no points; a rate-hist slice whose
   * hours hold single points and thus no within-hour pairs), so a
   * min-DATA-slice probe would refuse healthy stores; conversely a tier
   * seeded after months of history has data but not coverage. Updated
   * (monotonically downward) by every [[writeRollupHist]] /
   * [[writeRollupRateHist]] refresh.
   */
  def histCoveredFrom(spark: SparkSession, histPath: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$histPath/_covered_from")
    scala.util.Try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .trim.toLong
      finally in.close()
    }.toOption
  }

  private def updateHistCoveredFrom(spark: SparkSession, histPath: String,
                                    fromSlice: Long): Unit = {
    val next = math.min(histCoveredFrom(spark, histPath).getOrElse(Long.MaxValue),
      fromSlice)
    val live = new org.apache.hadoop.fs.Path(s"$histPath/_covered_from")
    val tmp = new org.apache.hadoop.fs.Path(s"$histPath/._covered_from.tmp")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(live, false)
    require(fs.rename(tmp, live), s"coverage commit failed at $live")
  }

  /** Whether a histogram tier at `histPath` has declared bin edges — the
    * dispatch-level probe for percentile tier serving (existence check
    * only; [[rollupHistogram]] reads the actual edges). */
  def histTierHasMeta(spark: SparkSession, histPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(StoreTables.Tiers.HistMeta.at(histPath))
    rootFs(spark, histPath).exists(p)
  }

  /** The histogram tier's declared (vMin, vMax, bins), when built — the
    * refresh path reads this to keep an existing tier fresh without
    * re-passing its edge config. */
  def histTierMeta(spark: SparkSession,
                   histPath: String): Option[(Double, Double, Int)] =
    IndexStore.tableIfPresent(spark, histPath, StoreTables.Tiers.HistMeta).map { t =>
      val r = t.collect()
      require(r.length == 1, s"histogram tier meta at $histPath must be one row")
      (r(0).getAs[Double]("v_min"), r(0).getAs[Double]("v_max"), r(0).getAs[Int]("bins"))
    }

  private def writeHistMeta(spark: SparkSession, histPath: String,
                            vMin: Double, vMax: Double, bins: Int): Unit = {
    import spark.implicits._
    Seq((vMin, vMax, bins)).toDF("v_min", "v_max", "bins")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(StoreTables.Tiers.HistMeta.at(histPath))
  }

  /**
   * Serve the heatmap histogram ([[graft.operators.MetricsOps.valueHistogram]]'s
   * exact output shape and values) from the histogram tier, for
   * hour-aligned buckets — a (bucket, bin)-keyed re-aggregate of integer
   * counts over hours × metrics × bins rows, never touching raw. Bin
   * edges come from the tier's own meta. Compose with
   * `MetricsOps.histogramQuantile` for percentile serving.
   *
   * Tenant safety: the (bucket, bin) merge carries no tenant keys (the
   * output is [[graft.operators.MetricsOps.valueHistogram]]'s shape), so
   * a multi-tenant tier would silently sum two tenants' same-named
   * metrics into one histogram. `tenant`/`mtypeCode` scope the scan as
   * PARTITION filters (tenant_id/mtype lead the tier layout — the scan
   * prunes to one tenant's directories); serving REFUSES loudly when
   * more than one (tenant, mtype) partition would feed the merge. The
   * check reads the partition LISTING only, never data.
   */
  def rollupHistogram(spark: SparkSession, histPath: String,
                      b: graft.model.Buckets,
                      ids: Option[DataFrame] = None,
                      tenant: Option[String] = None,
                      mtypeCode: Option[Int] = None): DataFrame = {
    require(b.start % RollupMs == 0 && b.step % RollupMs == 0,
      s"histogram tier serving needs hour-aligned buckets " +
        s"(start=${b.start}, step=${b.step})")
    val (vMin, vMax, bins) = histTierMeta(spark, histPath).getOrElse(
      throw new IllegalArgumentException(s"no histogram tier meta at $histPath"))
    if (tenant.isEmpty || mtypeCode.isEmpty) { // fully scoped skips the listing
      val scoped = tierTenantPartitions(spark, histPath).filter { case (t, m) =>
        tenant.forall(_ == t) && mtypeCode.forall(_ == m)
      }
      require(scoped.size <= 1,
        s"histogram tier at $histPath spans ${scoped.size} (tenant, mtype) " +
          s"partitions ${scoped.mkString(", ")}; pass tenant=/mtypeCode= to " +
          "scope the serve — an unscoped merge would mix tenants' counts")
    }
    val width = (vMax - vMin) / bins
    val startHour = b.start / RollupMs
    val stepHours = b.step / RollupMs
    val scopeFilters =
      tenant.map(col("tenant_id") === _) ++ mtypeCode.map(col("mtype") === _)
    val h0 = scopeFilters.foldLeft(
      IndexStore.table(spark, histPath, StoreTables.Tiers.Hist)
        .filter(col("hour") >= startHour && col("hour") < b.end / RollupMs))(_ filter _)
    // optional id-set restriction (the tag-query → p95 dashboard path):
    // request-sized id set, broadcast semi-join pruning the tier scan
    // before the (bucket, bin) merge — rollupStats' posture
    ids.fold(h0)(i =>
      h0.join(broadcast(i.select(col("metric"))), Seq("metric"), "left_semi"))
      .withColumn("bucket", expr(s"(hour - $startHour) div $stepHours"))
      .groupBy(col("bucket"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("bin_lo", lit(vMin) + col("bin") * width)
      .withColumn("bin_hi", lit(vMin) + (col("bin") + 1) * width)
  }

  /**
   * Availability rollup tier — the STATE-MACHINE companion of
   * [[writeRollup]] (sums) and [[writeRollupHist]] (distributions):
   * per (tenant, type, slice, metric, hour), the A3 state machine's hour
   * summary — per-state durations with the reference's per-bucket
   * semantics applied AT HOUR GRAIN (first segment attributed from hour
   * start, last extended to hour end,
   * AvailabilityDataPointCollector.java:34-109) PLUS the boundary facts
   * a larger bucket needs to merge hours exactly: first point ts/state
   * and last point state. Unlike sums, A3 durations are NOT naively
   * associative — an enclosing bucket reattributes each hour's leading
   * segment to the PREVIOUS hour's last state and extends last segments
   * across empty hours — so [[rollupAvailStats]] carries that merge and
   * its output is EXACTLY `availabilityBucketStats` over raw
   * (spec-pinned). At 100 TB this is the SLO dashboard's tier: uptime /
   * burn-rate panels read hours × metrics summaries, never raw points.
   */
  def writeRollupAvail(spark: SparkSession, rawPath: String, availPath: String,
                       upToSlice: Long = Long.MaxValue,
                       fromSlice: Long = Long.MinValue,
                       resolved: Option[DataFrame] = None): Unit = {
    val up = graft.model.AvailabilityType.Up.code.toInt
    val in = resolved.getOrElse(resolvedWindow(spark, rawPath, fromSlice, upToSlice))
      .filter(col("avail").isNotNull)
      .withColumn("hour", expr(s"time div $RollupMs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .orderBy(col("time"))
    val seg = in
      .withColumn("rn", row_number().over(w))
      .withColumn("seg_start",
        when(col("rn") === 1, col("hour") * RollupMs).otherwise(col("time")))
      .withColumn("seg_end",
        coalesce(lead(col("time"), 1).over(w), (col("hour") + 1) * RollupMs))
      .withColumn("dur", col("seg_end") - col("seg_start"))
      .withColumn("prev_avail", lag(col("avail"), 1).over(w))
    def stateMs(code: Int, name: String) =
      coalesce(sum(when(col("avail") === code, col("dur"))), lit(0L)).as(name)
    val roll = seg
      .groupBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .agg(
        stateMs(up, "up_ms"),
        stateMs(graft.model.AvailabilityType.Down.code.toInt, "down_ms"),
        stateMs(graft.model.AvailabilityType.Unknown.code.toInt, "unknown_ms"),
        stateMs(graft.model.AvailabilityType.Admin.code.toInt, "admin_ms"),
        coalesce(max(when(col("avail") =!= up, col("seg_end"))), lit(0L))
          .as("last_not_uptime"),
        sum(when(col("avail") =!= up &&
          (col("prev_avail").isNull || col("prev_avail") === up), 1L)
          .otherwise(0L)).as("not_up_count"),
        count(lit(1)).as("samples"),
        min(col("time")).as("first_ts"),
        min_by(col("avail"), col("time")).as("first_state"),
        max_by(col("avail"), col("time")).as("last_state"))
    refreshRollupTier(spark, roll, availPath, fromSlice, upToSlice,
      Seq(col("metric"), col("hour")))
  }

  /**
   * Serve A3 availability bucket stats from the hour-summary tier, for
   * hour-aligned buckets — output EXACTLY equals
   * [[graft.operators.MetricsOps.availabilityBucketStats]] over resolved
   * raw. The merge reattributes boundary segments declaratively (one
   * lag/lead window over the bucket's ≤ step/hour summaries per metric):
   *
   *  - the bucket's FIRST hour extends its leading segment back to the
   *    bucket start (first-segment attribution at bucket grain);
   *  - every LATER hour's leading span [hourStart, firstTs) moves from
   *    its own first state to the PREVIOUS hour's last state, which also
   *    absorbs the gap across empty hours [prevHourEnd, firstTs);
   *  - the LAST hour extends its closing segment to the bucket end;
   *  - a not-up run crossing an hour boundary collapses to ONE
   *    `not_up_count` start, and an hour-end `last_not_uptime` extends
   *    to the next hour's first point (or the bucket end).
   */
  def rollupAvailStats(spark: SparkSession, availPath: String,
                       b: graft.model.Buckets,
                       ids: Option[DataFrame] = None,
                       tenant: Option[String] = None): DataFrame = {
    require(b.start % RollupMs == 0 && b.step % RollupMs == 0,
      s"availability tier serving needs hour-aligned buckets " +
        s"(start=${b.start}, step=${b.step})")
    val up = graft.model.AvailabilityType.Up.code.toInt
    val startHour = b.start / RollupMs
    val stepHours = b.step / RollupMs
    // tenant/type ride the keys: a multi-tenant tier holding the same
    // metric name for two tenants must never interleave their hour
    // timelines (the counter tier's posture)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("metric"), col("bucket"))
      .orderBy(col("hour"))
    // optional tenant scope: output carries tenant keys either way (the
    // merge can never mix tenants), but a single-tenant dashboard should
    // prune to that tenant's partition directories at the LISTING, not
    // scan every tenant's hours (tenant_id leads the tier layout)
    val h0 = tenant.foldLeft(
      IndexStore.table(spark, availPath, StoreTables.Tiers.Avail)
        .filter(col("hour") >= startHour && col("hour") < b.end / RollupMs))(
      (d, t) => d.filter(col("tenant_id") === t))
    // optional id-set restriction (the tag-query → SLO dashboard path):
    // the resolved id set is request-sized, so it broadcasts into a
    // semi-join pruning the tier scan BEFORE the boundary-merge window —
    // rollupStats' posture. Per-tenant timelines stay separate either
    // way (the window and aggregate key on tenant_id/mtype).
    val h = ids.fold(h0)(i =>
      h0.join(broadcast(i.select(col("metric"))), Seq("metric"), "left_semi"))
      .withColumn("bucket", expr(s"(hour - $startHour) div $stepHours"))
      .withColumn("hstart", col("hour") * RollupMs)
      .withColumn("hend", (col("hour") + 1) * RollupMs)
      .withColumn("bstart", lit(b.start) + col("bucket") * b.step)
      .withColumn("bend", lit(b.start) + (col("bucket") + 1) * b.step)
      .withColumn("prev_hend", (lag(col("hour"), 1).over(w) + 1) * RollupMs)
      .withColumn("prev_last_state", lag(col("last_state"), 1).over(w))
      .withColumn("next_first_ts", lead(col("first_ts"), 1).over(w))
    // per-state duration adjustment: leading reattribution + gap absorb +
    // first/last extension (each term conditioned on the state matching)
    def adj(code: Int, stored: String) = sum(
      col(stored)
        + when(col("prev_last_state").isNull && col("first_state") === code,
          col("hstart") - col("bstart")).otherwise(0L)
        + when(col("prev_last_state").isNotNull && col("first_state") === code,
          col("hstart") - col("first_ts")).otherwise(0L) // subtract own leading
        + when(col("prev_last_state") === code,
          col("first_ts") - col("prev_hend")).otherwise(0L)
        + when(col("next_first_ts").isNull && col("last_state") === code,
          col("bend") - col("hend")).otherwise(0L)
    ).cast("long").as(stored)
    h.groupBy(col("tenant_id"), col("mtype"), col("metric"), col("bucket")).agg(
      adj(up, "up_ms"),
      adj(graft.model.AvailabilityType.Down.code.toInt, "down_ms"),
      adj(graft.model.AvailabilityType.Unknown.code.toInt, "unknown_ms"),
      adj(graft.model.AvailabilityType.Admin.code.toInt, "admin_ms"),
      // hour-end extensions roll forward to the next hour's first point
      // (or the bucket end); inner ends stay as stored
      coalesce(max(when(col("last_not_uptime") === col("hend"),
        coalesce(col("next_first_ts"), col("bend")))
        .otherwise(col("last_not_uptime"))), lit(0L)).cast("long")
        .as("last_not_uptime"),
      (sum(col("not_up_count"))
        - sum(when(col("first_state") =!= up && col("prev_last_state") =!= up, 1L)
          .otherwise(0L))).cast("long").as("not_up_count"),
      sum(col("samples")).cast("long").as("samples")
    ).withColumn("uptime_ratio", col("up_ms").cast("double") / lit(b.step.toDouble))
  }

  /**
   * Counter rollup tier — the MONOTONE-COUNTER companion of the other
   * rollups: per (tenant, type, slice, metric, hour), the within-hour
   * reset-aware increase (Σ positive deltas), reset count, delta count,
   * plus the BOUNDARY values a larger range needs to merge hours
   * exactly — the hour's first and last counter values. An enclosing
   * range's increase is Σ hour increases + Σ positive boundary deltas
   * (consecutive non-empty hours' last→first), resets and delta counts
   * merge the same way, so [[rollupCounterIncrease]] output is EXACTLY
   * `counterIncrease` over raw (spec-pinned + oracled). At 100 TB the
   * "requests this month" panel reads hours × metrics summaries.
   */
  def writeRollupCounter(spark: SparkSession, rawPath: String, ctrPath: String,
                         upToSlice: Long = Long.MaxValue,
                         fromSlice: Long = Long.MinValue,
                         resolved: Option[DataFrame] = None): Unit = {
    val in = resolved.getOrElse(resolvedWindow(spark, rawPath, fromSlice, upToSlice))
      .filter(col("l_value").isNotNull)
      .withColumn("hour", expr(s"time div $RollupMs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .orderBy(col("time"))
    val roll = in
      .withColumn("delta", col("l_value") - lag(col("l_value"), 1).over(w))
      .groupBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .agg(
        sum(when(col("delta") > 0, col("delta")).otherwise(0L))
          .cast("long").as("increase"),
        sum(when(col("delta") < 0, 1L).otherwise(0L)).cast("long").as("n_resets"),
        count(col("delta")).as("n_deltas"),
        min_by(col("l_value"), col("time")).as("first_val"),
        max_by(col("l_value"), col("time")).as("last_val"),
        count(lit(1)).as("samples"))
    refreshRollupTier(spark, roll, ctrPath, fromSlice, upToSlice,
      Seq(col("metric"), col("hour")))
  }

  /**
   * Serve whole-range counter increase/reset accounting from the hour
   * tier — output EXACTLY equals
   * [[graft.operators.MetricsOps.counterIncrease]] over resolved raw for
   * hour-aligned ranges: within-hour sums re-aggregate, and each pair of
   * consecutive non-empty hours contributes ONE boundary delta
   * (prev.last → curr.first), positive into the increase, negative into
   * the reset count (one lag window over hours × metrics rows).
   */
  def rollupCounterIncrease(spark: SparkSession, ctrPath: String,
                            range: graft.model.TimeRange,
                            ids: Option[DataFrame] = None,
                            tenant: Option[String] = None): DataFrame = {
    require(range.start % RollupMs == 0 && range.end % RollupMs == 0,
      s"counter tier serving needs hour-aligned ranges " +
        s"(start=${range.start}, end=${range.end})")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("metric"))
      .orderBy(col("hour"))
    // optional tenant scope — partition pruning for single-tenant
    // requests; the keyed window/aggregate stay tenant-safe without it.
    // optional id-set restriction (tag-query → increase dashboard): the
    // request-sized id set broadcasts into a semi-join pruning the tier
    // scan BEFORE the boundary window (rollupStats' posture)
    val h0 = tenant.foldLeft(
      IndexStore.table(spark, ctrPath, StoreTables.Tiers.CounterIncrease)
        .filter(col("hour") >= range.start / RollupMs &&
          col("hour") < range.end / RollupMs))(
      (d, t) => d.filter(col("tenant_id") === t))
    ids.fold(h0)(i =>
      h0.join(broadcast(i.select(col("metric"))), Seq("metric"), "left_semi"))
      .withColumn("bdelta", col("first_val") - lag(col("last_val"), 1).over(w))
      .groupBy(col("tenant_id"), col("mtype"), col("metric"))
      .agg(
        (sum(col("increase")) +
          sum(when(col("bdelta") > 0, col("bdelta")).otherwise(0L)))
          .cast("long").as("increase"),
        (sum(col("n_resets")) +
          sum(when(col("bdelta") < 0, 1L).otherwise(0L)))
          .cast("long").as("n_resets"),
        (sum(col("n_deltas")) + count(col("bdelta"))).cast("long").as("n_deltas"))
      // counterIncrease emits nothing for a metric with no pair in range
      // (a single point has no delta) — match that contract: a metric
      // whose tier rows merge to zero deltas drops from the answer
      .filter(col("n_deltas") > 0)
  }

  /**
   * Rate rollup tier — the W1 companion of the other rollups (reference
   * rate + findRateStats, MetricsServiceImpl.java:858-899): per
   * (tenant, type, slice, metric, hour), the A1 partials of the
   * WITHIN-HOUR rate series — pair count, min/max rate, and the
   * DECIMAL(28,10)-EXACT sum of the per-minute rates (each rate is the
   * same IEEE double the raw path derives, so the decimal partials
   * re-aggregate to the raw path's exact decimal sum) — PLUS the
   * boundary facts an enclosing bucket needs: the hour's first and last
   * point (value, ts). A rate point's timestamp is its pair's LATER
   * point, so every raw rate is either within-hour (a tier partial) or
   * hour-crossing (reconstructed at serve as ONE boundary pair per
   * consecutive non-empty hour pair — adjacent raw points by
   * construction, any gap width). `isCounter` drops reset pairs
   * (next < prev) from the partials exactly like
   * [[graft.operators.MetricsOps.rate]] — the pair drops, the point
   * still anchors the boundary chain. At 100 TB this closes the last
   * raw-scanning dashboard family: long-range rate panels read
   * hours × metrics summaries.
   */
  def writeRollupRate(spark: SparkSession, rawPath: String, ratePath: String,
                      isCounter: Boolean, valueCol: String = "l_value",
                      upToSlice: Long = Long.MaxValue,
                      fromSlice: Long = Long.MinValue,
                      resolved: Option[DataFrame] = None): Unit = {
    val in = resolved.getOrElse(resolvedWindow(spark, rawPath, fromSlice, upToSlice))
      .filter(col(valueCol).isNotNull)
      .withColumn("hour", expr(s"time div $RollupMs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .orderBy(col("time"))
    val v = col(valueCol).cast("double")
    val paired = in
      .withColumn("prev_v", lag(v, 1).over(w))
      .withColumn("prev_t", lag(col("time"), 1).over(w))
      .withColumn("rate",
        when(col("prev_t").isNotNull &&
          (if (isCounter) v >= col("prev_v") else lit(true)),
          lit(60000.0) * (v - col("prev_v")) /
            (col("time") - col("prev_t")).cast("double")))
    val roll = paired
      .groupBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .agg(
        count(col("rate")).as("n_pairs"),
        min(col("rate")).as("min_r"),
        max(col("rate")).as("max_r"),
        sum(col("rate").cast("decimal(28,10)")).as("sum_r"),
        min(col("time")).as("first_ts"),
        min_by(v, col("time")).as("first_val"),
        max(col("time")).as("last_ts"),
        max_by(v, col("time")).as("last_val"),
        count(lit(1)).as("samples"))
    refreshRollupTier(spark, roll, ratePath, fromSlice, upToSlice,
      Seq(col("metric"), col("hour")))
  }

  /**
   * Serve bucketed rate stats (min/avg/max/sum/samples of the per-minute
   * rate series — [[graft.operators.MetricsOps.rateStats]]'s A1 surface
   * minus order statistics, the [[rollupStats]] posture) from the rate
   * tier, for hour-aligned buckets. Output EXACTLY equals the raw
   * rate+A1 path: within-hour partials re-aggregate (decimal sums are
   * associative, min/max trivially so), and each consecutive non-empty
   * hour pair contributes ONE boundary rate — `60000·(curr.first −
   * prev.last)/Δts`, the identical IEEE expression the raw path
   * evaluates for that adjacent pair — attributed to the bucket of its
   * later point's hour. A reset boundary pair (counter, curr.first <
   * prev.last) drops, matching W1's F6 filter.
   *
   * The raw path derives rates over the WHOLE series and range-filters
   * the rate timestamps afterwards, so a pair anchored BEFORE the range
   * still yields an in-range rate; the scan therefore has no lower hour
   * bound — pre-range hours feed the boundary lag (hour-summary rows,
   * hours × metrics-sized; a deployment bounds the lookback by
   * retention). In-range partials and boundary rates then merge per
   * bucket in the same aggregate.
   */
  def rollupRateStats(spark: SparkSession, ratePath: String,
                      b: graft.model.Buckets, isCounter: Boolean,
                      byMetric: Boolean = false,
                      ids: Option[DataFrame] = None,
                      tenant: Option[String] = None,
                      mtypeCode: Option[Int] = None): DataFrame = {
    require(b.start % RollupMs == 0 && b.step % RollupMs == 0,
      s"rate tier serving needs hour-aligned buckets " +
        s"(start=${b.start}, step=${b.step})")
    // output drops tenant AND type (bucket-stats dashboard shape) while
    // the boundary window keys on them — so the window is tenant-safe but
    // the final merge is not: refuse an unscoped serve over a tier whose
    // listing spans several (tenant, mtype) partitions (the rollupStats/
    // rollupHistogram posture — a rate tier holding counter-rate and
    // gauge-rate under one tenant would otherwise silently pool them)
    if (tenant.isEmpty || mtypeCode.isEmpty) { // fully scoped skips the listing
      val scoped = tierTenantPartitions(spark, ratePath).filter { case (t, m) =>
        tenant.forall(_ == t) && mtypeCode.forall(_ == m)
      }
      require(scoped.size <= 1,
        s"rate tier at $ratePath spans ${scoped.size} (tenant, mtype) " +
          s"partitions ${scoped.mkString(", ")}; pass tenant=/mtypeCode= to " +
          "scope the serve — an unscoped merge would mix tenants' rates")
    }
    val startHour = b.start / RollupMs
    val stepHours = b.step / RollupMs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("metric"))
      .orderBy(col("hour"))
    val scopeFilters =
      tenant.map(col("tenant_id") === _) ++ mtypeCode.map(col("mtype") === _)
    val h0 = scopeFilters.foldLeft(
      IndexStore.table(spark, ratePath, StoreTables.Tiers.Rate)
        .filter(col("hour") < b.end / RollupMs))(_ filter _)
    // request-sized id restriction, broadcast semi-join BEFORE the
    // boundary window (rollupStats' posture)
    val h = ids.fold(h0)(i =>
      h0.join(broadcast(i.select(col("metric"))), Seq("metric"), "left_semi"))
      .withColumn("prev_last_val", lag(col("last_val"), 1).over(w))
      .withColumn("prev_last_ts", lag(col("last_ts"), 1).over(w))
      .withColumn("brate",
        when(col("prev_last_ts").isNotNull &&
          (if (isCounter) col("first_val") >= col("prev_last_val") else lit(true)),
          lit(60000.0) * (col("first_val") - col("prev_last_val")) /
            (col("first_ts") - col("prev_last_ts")).cast("double")))
      // pre-range hours existed only to anchor the boundary lag
      .filter(col("hour") >= startHour)
      .withColumn("bucket", expr(s"(hour - $startHour) div $stepHours"))
    val keys = if (byMetric) Seq(col("metric"), col("bucket")) else Seq(col("bucket"))
    // ONE decimal sum over per-row (partial + boundary) terms, combined at
    // scale 10: summing the partials and boundaries SEPARATELY would add
    // two DECIMAL(38,10) aggregates — which Spark can only fit by dropping
    // to scale 9, rounding away the raw path's 10th digit. The stored
    // (38,10) partial always fits (28,10) here: it is a sum of per-minute
    // rates, 18 integer digits of headroom.
    val totalDec = sum(
      coalesce(col("sum_r").cast("decimal(28,10)"), lit(0).cast("decimal(28,10)")) +
        coalesce(col("brate").cast("decimal(28,10)"), lit(0).cast("decimal(28,10)")))
    val n = sum(col("n_pairs")) + count(col("brate"))
    h.groupBy(keys: _*).agg(
      least(min(col("min_r")), min(col("brate"))).as("min"),
      (totalDec.cast("double") / n).as("avg"),
      greatest(max(col("max_r")), max(col("brate"))).as("max"),
      totalDec.cast("double").as("sum"),
      n.cast("long").as("samples"))
      // the raw path emits no row for a bucket with zero rates (a
      // single-point hour has points but no pair) — match that contract
      .filter(col("samples") > 0)
  }

  /**
   * Serve A1 bucket stats (min/avg/max/sum/samples) from the rollup
   * tier. Buckets must align to whole rollup hours — checked loudly;
   * misaligned or percentile-carrying requests belong on the raw path
   * (rollups cannot answer order statistics). Output is bit-equal to
   * `numericBucketStats` over the resolved raw tier: mins/maxes are
   * associative, the sum re-aggregates stored decimals, and avg divides
   * the exact total by the exact count — the same arithmetic the
   * one-pass aggregate performs.
   */
  def rollupStats(spark: SparkSession, rollupPath: String,
                  b: graft.model.Buckets, byMetric: Boolean = true,
                  ids: Option[DataFrame] = None,
                  tenant: Option[String] = None,
                  mtypeCode: Option[Int] = None): DataFrame = {
    require(b.start % RollupMs == 0 && b.step % RollupMs == 0,
      s"rollup serving needs hour-aligned buckets (start=${b.start}, step=${b.step})")
    // the output drops tenant/type (it's a per-request dashboard shape),
    // so an unscoped merge over a multi-tenant tier would silently add
    // two tenants' same-named metrics — the histogram serve's posture:
    // refuse from the partition LISTING alone, scope via partition
    // filters (tenant_id/mtype lead the tier layout, so the scan prunes
    // to one tenant's directories before any data is read)
    if (tenant.isEmpty || mtypeCode.isEmpty) { // fully scoped skips the listing
      val scoped = tierTenantPartitions(spark, rollupPath).filter { case (t, m) =>
        tenant.forall(_ == t) && mtypeCode.forall(_ == m)
      }
      require(scoped.size <= 1,
        s"rollup tier at $rollupPath spans ${scoped.size} (tenant, mtype) " +
          s"partitions ${scoped.mkString(", ")}; pass tenant=/mtypeCode= to " +
          "scope the serve — an unscoped merge would mix tenants' sums")
    }
    val startHour = b.start / RollupMs
    val stepHours = b.step / RollupMs
    val scopeFilters =
      tenant.map(col("tenant_id") === _) ++ mtypeCode.map(col("mtype") === _)
    val r0 = scopeFilters.foldLeft(
      IndexStore.table(spark, rollupPath, StoreTables.Tiers.Sums)
        .filter(col("hour") >= startHour && col("hour") < b.end / RollupMs))(_ filter _)
    // optional id-set restriction (the tag-query → dashboard path): the
    // resolved id set is request-sized, so it broadcasts into a semi-join
    // that prunes the tier scan BEFORE the bucket aggregate
    val r = ids.fold(r0)(i =>
      r0.join(broadcast(i.select(col("metric"))), Seq("metric"), "left_semi"))
      .withColumn("bucket", expr(s"(hour - $startHour) div $stepHours"))
    val keys = if (byMetric) Seq(col("metric"), col("bucket")) else Seq(col("bucket"))
    r.groupBy(keys: _*).agg(
      min(col("min_v")).as("min"),
      (sum(col("sum_v")).cast("double") / sum(col("samples"))).as("avg"),
      max(col("max_v")).as("max"),
      sum(col("sum_v")).cast("double").as("sum"),
      sum(col("samples")).cast("long").as("samples"))
  }

  /**
   * Serving-tier dispatch: answer numeric bucket stats from the ROLLUP
   * when the request aligns to its hour grid (and the tier exists),
   * else from the raw tier — the transparent acceleration the rollup
   * exists for. The rollup's exactness contract (DECIMAL hour sums
   * re-aggregate associatively, so served buckets HASH-MATCH the
   * raw-path answer — spec-proven) is precisely what makes the dispatch
   * invisible to callers: both branches return the same rows, one reads
   * hours×metrics, the other reads raw points. Dashboard-grid requests
   * (hour/day steps) take the cheap branch by construction.
   */
  // ---- serving-dispatch scaffolding, shared by the five serve*
  // dispatchers: the one tier-branch predicate ([[tierBranch]]), the
  // LWW-resolved raw fallback read, and the dispatch-level tenant guard -

  private def hourAligned(xs: Long*): Boolean = xs.forall(_ % RollupMs == 0)

  /** A tier can serve only when it HOLDS DATA: a refresh over a store
    * with no rows of a family writes an empty dir (just _SUCCESS), and
    * such a family falls back to raw. The data probe is the same
    * partition glob the tenant guards use (metadata-only; an absent tier
    * globs to nothing). */
  private def tierExists(spark: SparkSession, path: String): Boolean =
    Option(rootFs(spark, path).globStatus(
      new org.apache.hadoop.fs.Path(s"$path/*/*/time_slice=*"))).exists(_.nonEmpty)

  /** The tier-branch condition of every serve* dispatcher: `b` sits on
    * the tier hour grid, the tier is `built` (by default: it holds data)
    * and `b` ends within `refreshedUntil` when one is supplied. */
  private def tierBranch(spark: SparkSession, path: String, b: graft.model.Buckets,
                         refreshedUntil: Option[Long],
                         built: (SparkSession, String) => Boolean = tierExists): Boolean =
    hourAligned(b.start, b.step, b.end) && built(spark, path) &&
      refreshedUntil.forall(b.end <= _)

  /** [[tierBranch]] without a watermark — exposed so the API layer can
    * decide whether the tier surface (distributive stats, no order
    * statistics) applies BEFORE shaping a request. */
  def tierServes(spark: SparkSession, path: String, b: graft.model.Buckets): Boolean =
    tierBranch(spark, path, b, None)

  /** The RATE-distribution dispatch condition: a rate-hist tier is
    * usable for `b` when the grid is hour-aligned and the tier either
    * holds data OR carries a refresh-coverage watermark while empty. A
    * sparse series can legitimately have ZERO within-hour pairs
    * anywhere (≤1 point per hour), leaving a refreshed tier physically
    * empty — [[rollupRateHistogram]] then answers entirely from
    * boundary rates reconstructed off the rate tier, which is exactly
    * the raw path's pair set. A bare data-existence probe would refuse
    * such stores FOREVER, silently downgrading every percentile request
    * to a raw scan; an empty tier with no coverage watermark (never
    * refreshed / legacy) still refuses. */
  def rateHistTierServes(spark: SparkSession, path: String,
                         b: graft.model.Buckets): Boolean =
    hourAligned(b.start, b.step, b.end) &&
      (tierExists(spark, path) || histCoveredFrom(spark, path).isDefined)

  /** LWW-resolved raw read for the dispatchers' fallback branch — scope
    * partition filters first, then the slice partition filter (time
    * alone would scan every slice; restricting slices before the LWW
    * dedup is safe because a (metric, time) group never spans slices).
    * `fromMs = None` leaves the lower bound open (the rate fallback's
    * pre-range-anchor rule — a rate pair may anchor arbitrarily early). */
  private def resolvedRaw(spark: SparkSession, rawPath: String,
                          fromMs: Option[Long], toMs: Long,
                          scope: Seq[Column],
                          ids: Option[DataFrame] = None): DataFrame = {
    val base = scope.foldLeft(read(spark, rawPath))(_ filter _)
    val sliced = fromMs.fold(base)(lo => base.filter(col("time_slice") >= lo / SliceMs))
      .filter(col("time_slice") <= (toMs - 1) / SliceMs)
    // request-sized id restriction BEFORE the LWW dedup shuffle (safe:
    // dedup groups within a metric, so dropping whole metrics first
    // never changes a survivor) — the tag-query dashboard path through
    // the raw fallback
    val picked = ids.fold(sliced)(i =>
      sliced.join(broadcast(i.select(col("metric"))), Seq("metric"), "left_semi"))
    graft.operators.MetricsOps.dedupTiers(picked, "ingest_seq", Seq(valueTieBreak))
  }

  /** Dispatch-level tenant coherence: a serve whose OUTPUT drops tenant
    * keys must refuse an unscoped multi-tenant request on EITHER branch —
    * otherwise request alignment would flip between the tier guard's
    * loud refusal and a silent cross-tenant merge on the raw fallback.
    * Decided from the raw store's partition LISTING (no data read);
    * mtype never refuses (each family's fallback filters its own value
    * column) but rides the returned scope filters for pruning. `guard =
    * false` for serves whose output carries tenant keys on both branches
    * (counter) — there the scope is pruning only. */
  private def dispatchScope(spark: SparkSession, rawPath: String,
                            tenant: Option[String], mtypeCode: Option[Int],
                            what: String, guard: Boolean = true): Seq[Column] = {
    // a tenant-scoped request can never mix tenants — skip the directory
    // LISTING entirely (at thousands of tenants the glob is the only
    // per-request metadata cost the guard adds, and the scoped fast path
    // is the common dashboard case)
    if (guard && tenant.isEmpty) {
      val tenants = tierTenantPartitions(spark, rawPath).map(_._1).distinct
      require(tenants.size <= 1,
        s"$what dispatch over $rawPath spans tenants ${tenants.mkString(", ")}; " +
          "pass tenant= to scope the serve — an unscoped merge would mix tenants")
    }
    (tenant.map(col("tenant_id") === _) ++ mtypeCode.map(col("mtype") === _)).toSeq
  }

  /** Serving-tier dispatch for A1 bucket stats. FRESHNESS CONTRACT:
    * these library-level dispatchers decide tier-vs-raw on alignment +
    * tier existence alone; a tier that has not been refreshed through
    * `b.end` would answer silently EMPTY buckets where raw has data.
    * `refreshedUntil` (when supplied — [[graft.api.MetricsService]]
    * threads its `_refreshed_until` watermark) bounds the tier branch:
    * any request extending past it falls back to raw. When `None`, the
    * CALLER vouches freshness — i.e. the caller refreshes the tier
    * through every range it serves before serving it (the maintenance
    * cadence contract). Same parameter on every `served*` sibling. */
  def servedStats(spark: SparkSession, rawPath: String, rollupPath: String,
                  b: graft.model.Buckets, byMetric: Boolean = true,
                  tenant: Option[String] = None,
                  mtypeCode: Option[Int] = None,
                  ids: Option[DataFrame] = None,
                  valueCol: String = "n_value",
                  refreshedUntil: Option[Long] = None): DataFrame = {
    val scope = dispatchScope(spark, rawPath, tenant, mtypeCode, "stats")
    if (tierBranch(spark, rollupPath, b, refreshedUntil))
      rollupStats(spark, rollupPath, b, byMetric, ids = ids,
        tenant = tenant, mtypeCode = mtypeCode)
    else {
      // raw fallback: same output shape, same decimal discipline, same
      // LWW-resolved read the rollup itself was built over. `valueCol`
      // picks the value family like writeRollup's — a counter-sums tier
      // (l_value) must fall back onto the SAME column it aggregates
      val v = col(valueCol).cast("double")
      val keys = (if (byMetric) Seq(col("metric")) else Nil) :+ col("bucket")
      resolvedRaw(spark, rawPath, Some(b.start), b.end, scope, ids)
        .filter(col("time") >= b.start && col("time") < b.end)
        .filter(col(valueCol).isNotNull)
        .withColumn("bucket", graft.functions.GraftFunctions.bucketIndex("time", b))
        .groupBy(keys: _*)
        .agg(
          min(v).as("min"),
          (sum(v.cast("decimal(28,10)")).cast("double") /
            count(lit(1))).as("avg"),
          max(v).as("max"),
          sum(v.cast("decimal(28,10)")).cast("double").as("sum"),
          count(lit(1)).cast("long").as("samples"))
    }
  }

  /**
   * Rate DISTRIBUTION tier — [[writeRollupHist]]'s shape over the W1
   * rate series: per (tenant, type, slice, metric, hour, rate-bin), the
   * count of WITHIN-HOUR rates (caller-fixed clamped edges, the
   * valueHistogram contract; meta persists via the same `_histmeta`
   * discipline, mismatched refresh refuses). Hour-CROSSING rates are
   * not stored — [[rollupRateHistogram]] reconstructs each boundary
   * pair from the RATE tier's first/last facts and bins it at serve, so
   * the two tiers compose: build both over the same raw window. Closes
   * the rate-percentile dashboard (p95-of-rates) without a raw scan —
   * plain rate rollups answer min/avg/max/sum but discard the rate
   * distribution.
   */
  def writeRollupRateHist(spark: SparkSession, rawPath: String,
                          rateHistPath: String, isCounter: Boolean,
                          vMin: Double, vMax: Double, bins: Int,
                          valueCol: String = "l_value",
                          upToSlice: Long = Long.MaxValue,
                          fromSlice: Long = Long.MinValue,
                          resolved: Option[DataFrame] = None): Unit = {
    require(bins > 0 && vMax > vMin, "need bins > 0 and vMax > vMin")
    histTierMeta(spark, rateHistPath) match {
      case Some(m) =>
        require(m == ((vMin, vMax, bins)),
          s"rate histogram tier at $rateHistPath was built with (vMin, vMax, " +
            s"bins) = $m; refresh passed (${(vMin, vMax, bins)})")
      case None =>
        require(tierTenantPartitions(spark, rateHistPath).isEmpty,
          s"rate histogram tier at $rateHistPath has data partitions but no " +
            "_histmeta (crashed pre-meta build?) — drop and rebuild the tier")
        writeHistMeta(spark, rateHistPath, vMin, vMax, bins)
    }
    val width = (vMax - vMin) / bins
    val in = resolved.getOrElse(resolvedWindow(spark, rawPath, fromSlice, upToSlice))
      .filter(col(valueCol).isNotNull)
      .withColumn("hour", expr(s"time div $RollupMs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"))
      .orderBy(col("time"))
    val v = col(valueCol).cast("double")
    val roll = in
      .withColumn("prev_v", lag(v, 1).over(w))
      .withColumn("prev_t", lag(col("time"), 1).over(w))
      .withColumn("rate",
        when(col("prev_t").isNotNull &&
          (if (isCounter) v >= col("prev_v") else lit(true)),
          lit(60000.0) * (v - col("prev_v")) /
            (col("time") - col("prev_t")).cast("double")))
      .filter(col("rate").isNotNull)
      .withColumn("bin",
        graft.functions.GraftFunctions.valueBin(col("rate"), vMin, width, bins))
      .groupBy(col("tenant_id"), col("mtype"), col("time_slice"),
        col("metric"), col("hour"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    refreshRollupTier(spark, roll, rateHistPath, fromSlice, upToSlice,
      Seq(col("metric"), col("hour"), col("bin")))
    updateHistCoveredFrom(spark, rateHistPath, fromSlice)
  }

  /**
   * Serve the rate-value heatmap — EXACTLY
   * `MetricsOps.valueHistogram(rate(raw), …)`'s shape and values — from
   * the rate-distribution tier PLUS the rate tier: within-hour binned
   * counts re-aggregate per (bucket, bin); each consecutive non-empty
   * hour pair's boundary rate reconstructs from the rate tier's
   * first/last facts ([[rollupRateStats]]'s identical IEEE expression),
   * bins at serve, and merges in. Compose with
   * `MetricsOps.histogramQuantile` for p95-of-rates serving. Both tiers
   * must be built over the same raw window — the boundary chain is the
   * rate tier's.
   *
   * Same tenant posture as [[rollupHistogram]]: the (bucket, bin) merge
   * carries no tenant keys, so serving refuses an unscoped multi-tenant
   * merge and takes tenant/mtype partition-pruning scope params.
   */
  def rollupRateHistogram(spark: SparkSession, rateHistPath: String,
                          ratePath: String, b: graft.model.Buckets,
                          isCounter: Boolean,
                          ids: Option[DataFrame] = None,
                          tenant: Option[String] = None,
                          mtypeCode: Option[Int] = None): DataFrame = {
    require(b.start % RollupMs == 0 && b.step % RollupMs == 0,
      s"rate histogram serving needs hour-aligned buckets " +
        s"(start=${b.start}, step=${b.step})")
    val (vMin, vMax, bins) = histTierMeta(spark, rateHistPath).getOrElse(
      throw new IllegalArgumentException(s"no histogram tier meta at $rateHistPath"))
    if (tenant.isEmpty || mtypeCode.isEmpty) { // fully scoped skips the listings
      val scoped = (tierTenantPartitions(spark, rateHistPath) ++
        tierTenantPartitions(spark, ratePath)).distinct.filter { case (t, m) =>
        tenant.forall(_ == t) && mtypeCode.forall(_ == m)
      }
      require(scoped.size <= 1,
        s"rate histogram serving at $rateHistPath/$ratePath spans ${scoped.size} " +
          s"(tenant, mtype) partitions ${scoped.mkString(", ")}; pass tenant=/" +
          "mtypeCode= to scope the serve — an unscoped merge would mix tenants")
    }
    val width = (vMax - vMin) / bins
    val startHour = b.start / RollupMs
    val stepHours = b.step / RollupMs
    val scopeFilters =
      tenant.map(col("tenant_id") === _) ++ mtypeCode.map(col("mtype") === _)
    def scopedRead(path: String, f: DataFrame) = scopeFilters.foldLeft(f)(_ filter _)
    def idFilter(df: DataFrame) = ids.fold(df)(i =>
      df.join(broadcast(i.select(col("metric"))), Seq("metric"), "left_semi"))
    // boundary rates from the rate tier's hour chain (no lower hour
    // bound — pre-range hours anchor the lag, rollupRateStats' posture)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("metric"))
      .orderBy(col("hour"))
    val bounds = idFilter(scopedRead(ratePath,
      IndexStore.table(spark, ratePath, StoreTables.Tiers.Rate)
        .filter(col("hour") < b.end / RollupMs)))
      .withColumn("prev_last_val", lag(col("last_val"), 1).over(w))
      .withColumn("prev_last_ts", lag(col("last_ts"), 1).over(w))
      .withColumn("brate",
        when(col("prev_last_ts").isNotNull &&
          (if (isCounter) col("first_val") >= col("prev_last_val") else lit(true)),
          lit(60000.0) * (col("first_val") - col("prev_last_val")) /
            (col("first_ts") - col("prev_last_ts")).cast("double")))
      .filter(col("hour") >= startHour && col("brate").isNotNull)
      .withColumn("bucket", expr(s"(hour - $startHour) div $stepHours"))
      .withColumn("bin",
        graft.functions.GraftFunctions.valueBin(col("brate"), vMin, width, bins))
      .select(col("bucket"), col("bin"), lit(1L).as("cnt"))
    // within-hour binned counts, re-aggregated to the bucket grid. A
    // refreshed-but-EMPTY hist tier (sparse store: no hour anywhere
    // holds two points — [[rateHistTierServes]]) reads as no rows, and
    // the boundary reconstruction above already carries every rate pair
    // such a store has.
    val merged = idFilter(scopedRead(rateHistPath,
      IndexStore.table(spark, rateHistPath, StoreTables.Tiers.Hist)
        .filter(col("hour") >= startHour && col("hour") < b.end / RollupMs)))
      .withColumn("bucket", expr(s"(hour - $startHour) div $stepHours"))
      .select(col("bucket"), col("bin"), col("cnt"))
      .unionByName(bounds)
    merged
      .groupBy(col("bucket"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("bin_lo", lit(vMin) + col("bin") * width)
      .withColumn("bin_hi", lit(vMin) + (col("bin") + 1) * width)
  }

  /**
   * Serving-tier dispatch for RATE stats — [[servedStats]]' posture on
   * the rate tier: hour-aligned requests answer from [[rollupRateStats]]
   * (hours × metrics summaries + boundary pairs), misaligned requests
   * fall back to the raw W1+A1 path — rate derivation over the
   * LWW-resolved read, then bucket stats, minus order statistics so both
   * branches share one surface. Aligned requests answer identically from
   * either branch (the tier's exactness contract, spec-pinned). The
   * fallback bounds slices from ABOVE only: a rate pair may anchor
   * arbitrarily far before the range (the raw path derives rates over
   * the whole series and range-filters the rate TIMESTAMPS), so a slice
   * lower bound would silently drop the first in-range rate of a sparse
   * series.
   */
  def servedRateStats(spark: SparkSession, rawPath: String, ratePath: String,
                      b: graft.model.Buckets, isCounter: Boolean,
                      valueCol: String = "l_value",
                      byMetric: Boolean = false,
                      tenant: Option[String] = None,
                      mtypeCode: Option[Int] = None,
                      ids: Option[DataFrame] = None,
                      refreshedUntil: Option[Long] = None): DataFrame = {
    val scope = dispatchScope(spark, rawPath, tenant, mtypeCode, "rate")
    if (tierBranch(spark, ratePath, b, refreshedUntil))
      rollupRateStats(spark, ratePath, b, isCounter, byMetric,
        ids = ids, tenant = tenant, mtypeCode = mtypeCode)
    else {
      val keys = (if (byMetric) Seq(col("metric")) else Nil) :+ col("bucket")
      val resolved = resolvedRaw(spark, rawPath, None, b.end, scope, ids)
        .filter(col(valueCol).isNotNull)
      graft.operators.MetricsOps.numericBucketStats(
        graft.operators.MetricsOps.rate(resolved, isCounter, valueCol),
        b, byMetric = byMetric, valueCol = "rate")
        .select(keys ++ Seq("min", "avg", "max", "sum", "samples").map(col): _*)
    }
  }

  /**
   * Serving-tier dispatch for the A3 state machine ([[servedStats]]'
   * posture): hour-aligned requests answer from the availability tier's
   * exact boundary merge, misaligned ones run
   * [[graft.operators.MetricsOps.availabilityBucketStats]] over the
   * LWW-resolved raw tier. Both branches return the SAME rows on
   * aligned buckets (the tier merge is exact — spec- and oracle-pinned),
   * so the dispatch is invisible; the output is the per-request shape
   * (tenant/type dropped — the tier branch serves one store, like the
   * raw branch reads one store).
   */
  def servedAvailStats(spark: SparkSession, rawPath: String, availPath: String,
                       b: graft.model.Buckets,
                       tenant: Option[String] = None,
                       refreshedUntil: Option[Long] = None): DataFrame = {
    val shape = Seq("metric", "bucket", "up_ms", "down_ms", "unknown_ms",
      "admin_ms", "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    // the per-request shape drops tenant keys AND the raw branch's state
    // machine windows by metric alone — both branches need the
    // single-tenant guarantee, so the guard sits at the dispatch
    val scope = dispatchScope(spark, rawPath, tenant, None, "availability")
    if (tierBranch(spark, availPath, b, refreshedUntil)) {
      // the dispatch guard above is decided from the RAW listing, but this
      // branch serves the TIER and then drops its tenant keys — a tier
      // holding more tenants than raw (raw retention-swept, or the tier
      // built from a different raw) would silently emit duplicate
      // (metric, bucket) rows; guard each branch against ITS OWN input
      if (tenant.isEmpty) {
        val ts = tierTenantPartitions(spark, availPath).map(_._1).distinct
        require(ts.size <= 1,
          s"availability tier at $availPath spans tenants ${ts.mkString(", ")}; " +
            "pass tenant= to scope the serve — the per-request shape drops " +
            "tenant keys and would silently merge them")
      }
      rollupAvailStats(spark, availPath, b, tenant = tenant)
        .select(shape.map(col): _*)
    }
    else
      graft.operators.MetricsOps.availabilityBucketStats(
        resolvedRaw(spark, rawPath, Some(b.start), b.end, scope)
          .filter(col("avail").isNotNull), b)
        .select(shape.map(col): _*)
  }

  /**
   * Serving-tier dispatch for whole-range counter increase accounting:
   * hour-aligned ranges answer from the counter tier (hour partials +
   * boundary deltas), misaligned ones run
   * [[graft.operators.MetricsOps.counterIncrease]] over the resolved raw
   * tier. Identical rows either way (the tier merge is exact).
   */
  def servedCounterIncrease(spark: SparkSession, rawPath: String,
                            ctrPath: String,
                            range: graft.model.TimeRange,
                            tenant: Option[String] = None,
                            refreshedUntil: Option[Long] = None): DataFrame = {
    val shape = Seq("tenant_id", "mtype", "metric", "increase", "n_resets", "n_deltas")
    // output carries tenant keys on BOTH branches — no guard, the scope
    // is partition pruning only
    val scope = dispatchScope(spark, rawPath, tenant, None, "counter", guard = false)
    if (graft.model.Buckets.whole(range).exists(tierBranch(spark, ctrPath, _, refreshedUntil)))
      rollupCounterIncrease(spark, ctrPath, range, tenant = tenant)
        .select(shape.map(col): _*)
    else
      graft.operators.MetricsOps.counterIncrease(
        resolvedRaw(spark, rawPath, Some(range.start), range.end, scope)
          .filter(col("l_value").isNotNull), range)
        .select(shape.map(col): _*)
  }

  /**
   * Serving-tier dispatch for value histograms: hour-aligned requests
   * answer from the distribution tier's (bucket, bin) merge, misaligned
   * ones run [[graft.operators.MetricsOps.valueHistogram]] over the
   * LWW-resolved raw tier — with the SAME bin edges, which are a
   * property of the STORE (`_histmeta`), not the request: both branches
   * read them from the tier's meta, so the dispatch cannot mix bin
   * widths. Requires the tier (meta) to exist — a store without a
   * distribution tier has no declared edges to serve; callers use
   * valueHistogram directly there. Identical rows either way (the tier
   * is bit-equal to valueHistogram over resolved raw — spec-pinned).
   */
  def servedHistogram(spark: SparkSession, rawPath: String, histPath: String,
                      b: graft.model.Buckets,
                      tenant: Option[String] = None,
                      mtypeCode: Option[Int] = None,
                      refreshedUntil: Option[Long] = None): DataFrame = {
    val (vMin, vMax, bins) = histTierMeta(spark, histPath).getOrElse(
      throw new IllegalArgumentException(s"no histogram tier meta at $histPath"))
    val scope = dispatchScope(spark, rawPath, tenant, mtypeCode, "histogram")
    // the tier counts as built once its meta read above succeeds — no
    // data probe
    if (tierBranch(spark, histPath, b, refreshedUntil, built = (_, _) => true))
      rollupHistogram(spark, histPath, b, tenant = tenant, mtypeCode = mtypeCode)
    else
      graft.operators.MetricsOps.valueHistogram(
        resolvedRaw(spark, rawPath, Some(b.start), b.end, scope)
          .filter(col("n_value").isNotNull), b, vMin, vMax, bins)
        .select(col("bucket"), col("bin"), col("cnt"), col("bin_lo"), col("bin_hi"))
  }

  /**
   * Retention sweep (TTL analog, MetricsServiceImpl.java:1058-1067): drop
   * whole expired slice partitions — a metadata-only delete, no rewrite.
   */
  def expiredSlices(spark: SparkSession, path: String, retentionDays: Int,
                    now: Long): Seq[Long] = {
    val cutoff = (now - retentionDays * 86400000L) / SliceMs
    read(spark, path).select(col("time_slice")).distinct()
      .filter(col("time_slice") < cutoff)
      .collect().map(_.getLong(0)).toSeq
  }

  /**
   * S9 — delete a metric: dynamic-overwrite rewrite of only the partitions
   * that contain it, plus a physical drop of slice directories left with
   * no rows (dynamic overwrite cannot emit an empty partition). In a
   * table-format deployment this whole method is `DELETE WHERE`.
   */
  def deleteMetric(spark: SparkSession, path: String, tenantId: String,
                   mtype: MetricType, metric: String): Unit = {
    val scoped = read(spark, path)
      .filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt)
    def slices(df: DataFrame): Set[Long] =
      df.select(col("time_slice")).distinct().collect().map(_.getLong(0)).toSet
    // only slices that HOLD the metric rewrite — a one-metric delete must
    // not rewrite the tenant's whole history (the probe's metric predicate
    // pushes to the scan; untouched slices keep byte-identical files).
    // Same visible result as the historical full-scope rewrite: rows of
    // other metrics in touched slices are preserved by the rewrite, rows
    // in untouched slices were never affected, and a slice whose ONLY
    // metric was the deleted one still empties out and drops below.
    val touched = slices(scoped.filter(col("metric") === metric))
    // the touched-slice predicate is CHUNKED: a long-lived metric can
    // touch thousands of slices, and an unbounded isin would put that
    // many literals in one plan (driver-side planning cost, no range
    // pruning); each chunk pairs a (min,max) range bound — the partition
    // pruner's fast path — with a ≤1024-literal isin that keeps sparse
    // chunks from rewriting untouched slices inside the range
    touched.toSeq.sorted.grouped(1024).foreach { chunk =>
      val remaining = scoped
        .filter(col("time_slice").between(chunk.head, chunk.last))
        .filter(col("time_slice").isin(chunk: _*))
        .filter(col("metric") =!= metric).localCheckpoint()
      val after = slices(remaining)
      remaining
        .repartition(col("tenant_id"), col("mtype"), col("time_slice"))
        .sortWithinPartitions(col("metric"), col("time"))
        .write
        .partitionBy("tenant_id", "mtype", "time_slice")
        .option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .parquet(path)
      (chunk.toSet -- after).foreach { s =>
        dropDir(spark, s"$path/tenant_id=$tenantId/mtype=${mtype.code.toInt}/time_slice=$s")
      }
      remaining.unpersist()
    }
  }

  /** S9 — delete a whole tenant: one recursive directory drop (tenant_id
    * is the leading partition column — a pure metadata/file operation). */
  def deleteTenant(spark: SparkSession, path: String, tenantId: String): Unit =
    dropDir(spark, s"$path/tenant_id=$tenantId")

  /** Retention enforcement: physically drop expired slice partitions
    * across all tenants/types — no data rewrite. */
  def dropExpiredSlices(spark: SparkSession, path: String, retentionDays: Int,
                        now: Long): Seq[Long] = {
    val expired = expiredSlices(spark, path, retentionDays, now)
    val fs = rootFs(spark, path)
    expired.foreach { s =>
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$path/*/*/time_slice=$s"))
        .foreach(st => fs.delete(st.getPath, true))
    }
    expired
  }

  private def rootFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dropDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    rootFs(spark, dir).delete(p, true)
  }
}
