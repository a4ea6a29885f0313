package graft.api

import graft.model._
import graft.operators.MetricsOps
import graft.storage.{GraftStorage, IndexStore, StoreTables}
import graft.tagquery.TagQueryParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/**
 * The single entry surface, mirroring the reference's `MetricsService`
 * method-for-method (core/metrics-core-service/.../MetricsService.java:48-369)
 * with `Observable<T>` re-expressed as DataFrames (the Spark-native lazy
 * stream) and Cassandra tables as partitioned parquet under `root`:
 *
 *   root/data/     raw tier — (tenant_id, mtype, time_slice)-partitioned
 *   root/metrics/  catalog  — definitions (metrics_idx + tags analog)
 *   root/tenants/  tenants  — id + per-type retentions
 *
 * Catalog writes are append-only with a write-time `ingest_seq`;
 * readers resolve last-write-wins, matching Cassandra upsert semantics.
 */
object MetricsService {
  /**
   * Serving-tier layout for a metrics store — ONE tier family per path
   * (per-family dirs keep each refresh's stale-partition sweep scoped to
   * its own family). A service constructed with a layout answers
   * hour-aligned, percentile-free stats requests from the matching tier
   * ([[graft.storage.GraftStorage.rollupStats]] and friends — hours ×
   * metrics read, raw never touched); everything else takes the raw path
   * unchanged. The reference has no rollups (every stats request scans
   * raw points, MetricsServiceImpl.java:905-935) — this is the engine's
   * 100 TB dashboard extension, opt-in per deployment.
   *
   * Served bucket points carry min/avg/max/sum/samples exactly equal to
   * the raw-path answer (the tier exactness contract, spec-pinned);
   * `median` — the one NumericBucketPoint field a sums tier cannot
   * reproduce (order statistics don't merge) — is OMITTED from
   * tier-served points (the JSON codec's NON_NULL rule drops the field).
   * That omission is the documented cost of tier serving; requests that
   * need median or percentiles keep the raw path by asking for
   * percentiles or using a misaligned grid. Availability and rate tiers
   * have no such gap — their served shapes are complete.
   *
   * One more nuance on a store with PENDING RE-WRITES (duplicate
   * (metric, time) rows awaiting [[MetricsService.compressBlock]]): the
   * tiers build from the LWW-RESOLVED read while the raw fetch path
   * serves the pre-compaction view (both rows aggregate). The tier
   * answer is the upsert-correct one — the raw path converges to it at
   * the next compaction. On a duplicate-free store (the steady state)
   * the two views coincide exactly (randomized differential spec).
   */
  /** `histEdges` (vMin, vMax, bins) opts the layout into the gauge
    * DISTRIBUTION tier ([[graft.storage.GraftStorage.writeRollupHist]]):
    * [[MetricsService.refreshTiers]] then also refreshes `gaugeHist`,
    * and percentile requests carrying
    * [[graft.operators.MetricsOps.PercentileMode.TierApprox]] answer
    * from it. Edges are only needed to SEED the tier — once built they
    * persist in its `_histmeta` and a layout without `histEdges` keeps
    * an existing histogram tier fresh from that meta — so a serving
    * deployment (e.g. [[HttpTransport]]'s `tierServing` default layout)
    * needs no edge config at all. */
  /** `rateHistEdges` is the RATE-distribution twin of `histEdges`
    * (rates span a different value range than raw values, so the two
    * families take separate edge configs): it seeds per-type rate
    * histogram tiers that serve `percentileMode=tier` on the
    * /rate/stats routes — p95-of-rates without a raw scan. Same
    * seed-once-then-refresh-from-meta rule. */
  final case class TierLayout(root: String,
                              histEdges: Option[(Double, Double, Int)] = None,
                              rateHistEdges: Option[(Double, Double, Int)] = None) {
    val gaugeSums: String = s"$root/gauge_sums"
    val counterSums: String = s"$root/counter_sums"
    val avail: String = s"$root/avail"
    val counterIncrease: String = s"$root/counter_increase"
    val gaugeRate: String = s"$root/gauge_rate"
    val counterRate: String = s"$root/counter_rate"
    val gaugeHist: String = s"$root/gauge_hist"
    val counterRateHist: String = s"$root/counter_rate_hist"
    val gaugeRateHist: String = s"$root/gauge_rate_hist"
  }

  /** A tier family as the serve decision sees it: the tier answering the
    * distributive stats and, where the family has one, the distribution
    * companion answering TierApprox percentiles, with the probe that
    * judges the companion built. */
  private final case class TierFamily(
      tier: TierLayout => String,
      hist: Option[TierLayout => String] = None,
      histBuilt: (SparkSession, String, Buckets) => Boolean = GraftStorage.tierServes)

  /** The conventional on-store layout (`<root>/tiers/<family>`) — what
    * [[graft.api.HttpTransport]]'s `tierServing` flag turns on. */
  def defaultTiers(storageRoot: String): TierLayout =
    TierLayout(s"$storageRoot/tiers")

  /** Thrown by a non-overwrite create on an existing id — the reference's
    * MetricAlreadyExistsException (mapped to HTTP 409 by the REST layer). */
  final class MetricAlreadyExistsException(name: String)
    extends RuntimeException(s"A metric with name [$name] already exists")

  /** Tenant twin (TenantAlreadyExistsException → 409,
    * TenantsHandler.java:90-91). */
  final class TenantAlreadyExistsException(id: String)
    extends RuntimeException(s"A tenant with id [$id] already exists")

  /** Two strings normalizing to one quantile ("99.0", "99.00") would
    * produce colliding/ambiguous columns — reject LOUDLY and BEFORE any
    * frame is built: the duplicate alias would otherwise surface as an
    * AnalysisException from deep inside the stats plan. */
  private[api] def requireDistinctQuantiles(percentiles: Percentiles): Unit = {
    val ps = percentiles.percentiles
    require(ps.map(p => MetricsOps.pctColName(p.quantile)).distinct.size == ps.size,
      s"duplicate percentile quantiles in ${percentiles.values}")
  }

  /** Rename normalized `pN_N` percentile columns to the request's ORIGINAL
    * strings (Percentile.java:22-38 echo rule), shared by every
    * Percentiles-typed entry point (service overloads, REST routes). */
  private[api] def withOriginalPercentileNames(df: DataFrame,
                                               percentiles: Percentiles): DataFrame = {
    requireDistinctQuantiles(percentiles)
    percentiles.percentiles.foldLeft(df) { (d, p) =>
      d.withColumnRenamed(MetricsOps.pctColName(p.quantile), p.columnName)
    }
  }
}

class MetricsService(spark: SparkSession, root: String,
                     tiers: Option[MetricsService.TierLayout] = None) {

  private val dataPath = s"$root/data"
  private val metricsPath = StoreTables.Metrics.Catalog.at(root)
  private val tenantsPath = StoreTables.Metrics.Tenants.at(root)

  val DefaultRetentionDays = 7 // reference MetricsServiceImpl.java:193-194

  /** Percentile strategy for the MULTI-METRIC stats entry points
    * (pooled/stacked/mixed): Adaptive — exact under the plan-time
    * per-group size estimate, the O(1)-state P2 sketch past it. Those are
    * the requests whose groups grow with the CORPUS (every selected
    * metric's points share `buckets.count` groups), which is the OOM the
    * switch exists to prevent. SINGLE-SERIES stats stay Exact like the
    * reference: their per-bucket group is bounded by one series' sampling
    * rate x bucket width, and the plan-time size estimate cannot see the
    * series filter's selectivity (no CBO), so Adaptive there would flip
    * small requests to approximate results off the whole partition
    * subtree's size. */
  val DefaultPercentileMode: MetricsOps.PercentileMode = MetricsOps.PercentileMode.Adaptive()

  // ------------------------------------------------------------------
  // tenants + catalog (S7, createTenant/createMetric/...)
  // ------------------------------------------------------------------

  // catalog/tenant writes use the same strictly-increasing (millis << 20 |
  // counter) sequence as the data tier — raw wall-clock millis tie when two
  // writes land in the same ms (createMetric immediately followed by
  // addTags), making the last-write-wins window nondeterministic
  /** `overwrite=false` (the reference's default) REJECTS an existing id
    * with [[MetricsService.TenantAlreadyExistsException]] — the REST
    * layer maps it to 409; overwrite replaces only the retention config
    * (TenantsHandler.java:82-108). */
  def createTenant(tenantId: String, retentions: Map[String, Int] = Map.empty,
                   overwrite: Boolean = true): Unit = {
    val exists = !overwrite &&
      getTenants().filter(col("id") === tenantId).limit(1).count() > 0
    if (exists) throw new MetricsService.TenantAlreadyExistsException(tenantId)
    val s = spark
    import s.implicits._
    Seq((tenantId, retentions, GraftStorage.nextIngestSeq()))
      .toDF("id", "retentions", "ingest_seq")
      .write.mode(SaveMode.Append).parquet(tenantsPath)
  }

  def getTenants(): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("ingest_seq").desc)
    // a store with no tenants yet lists as EMPTY (the reference answers
    // 204), not as a missing-path error — same rule as metricsIndex
    IndexStore.tableOrEmpty(spark, root, StoreTables.Metrics.Tenants)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("id", "retentions")
  }

  /** `dataRetention` stays NULL when unspecified (the reference's
    * `Metric.dataRetention` is nullable, Metric.java:48-54): an absent
    * override falls through to the tenant's per-type retention and then
    * the system default — storing the default here would freeze it as a
    * per-metric override and mask later tenant-level changes.
    *
    * `overwrite=false` (the reference's default, `createMetric(metric,
    * overwrite)` via INSERT-IF-NOT-EXISTS) REJECTS an existing id with
    * [[MetricsService.MetricAlreadyExistsException]] — the REST layer
    * maps it to 409. `overwrite=true` is the upsert the tag-edit paths
    * use internally. */
  def createMetric(id: MetricId, tags: Map[String, String],
                   dataRetention: Option[Int] = None,
                   overwrite: Boolean = true): Unit = {
    val exists = !overwrite && findMetric(id).limit(1).count() > 0
    if (exists) throw new MetricsService.MetricAlreadyExistsException(id.name)
    val s = spark
    import s.implicits._
    Seq((id.tenantId, id.mtype.toInt, id.name, tags,
      dataRetention, GraftStorage.nextIngestSeq()))
      .toDF("tenant_id", "mtype", "metric", "tags", "data_retention", "ingest_seq")
      .write.mode(SaveMode.Append).parquet(metricsPath)
  }

  /** The catalog frame (metrics_idx analog), last-write-wins resolved.
    * A not-yet-created catalog reads as EMPTY, not as a missing-path
    * error — a fresh tenant's first request may be a lookup (the
    * reference answers 204 for an unknown metric, TagsITest.groovy:55-67),
    * same rule as the data tier (GraftStorage.read). */
  def metricsIndex(): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("metric"))
      .orderBy(col("ingest_seq").desc)
    IndexStore.tableOrEmpty(spark, root, StoreTables.Metrics.Catalog)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("tenant_id", "mtype", "metric", "tags", "data_retention")
  }

  def findAllMetricIdentifiers(): DataFrame =
    metricsIndex().select("tenant_id", "mtype", "metric")

  /** EP3 — tag-filter expression → metric identifiers
    * (MetricsServiceImpl.findMetricIdentifiersWithFilters:556-574). Falls
    * back to the simple `name:value,...` map syntax like the reference. */
  def findMetricIdentifiersWithFilters(tenantId: String, mtype: Option[MetricType],
                                       tagExpression: String): DataFrame =
    findDefinitions(tenantId, mtype, Some(tagExpression))
      .select("tenant_id", "mtype", "metric")

  def getMetricTags(id: MetricId): DataFrame =
    metricsIndex().filter(metricKey(id)).select(explode(col("tags")).as(Seq("tname", "tvalue")))

  def getTagValues(tenantId: String, nameFilters: Map[String, String]): DataFrame =
    getTagValues(tenantId, None, nameFilters)

  /** Type-scoped variant (reference getTagValues(tenantId, metricType,
    * tagsQueries):142-143 — TagsITest.java:332-335 exercises the scoping). */
  def getTagValues(tenantId: String, mtype: Option[MetricType],
                   nameFilters: Map[String, String]): DataFrame =
    MetricsOps.tagValues(
      MetricsOps.typeFilter(metricsIndex().filter(col("tenant_id") === tenantId), mtype),
      nameFilters)

  def getTagNames(tenantId: String, filter: Option[String] = None): DataFrame =
    getTagNames(tenantId, None, filter)

  /** Type-scoped variant (reference getTagNames(tenantId, metricType,
    * filter):147). */
  def getTagNames(tenantId: String, mtype: Option[MetricType],
                  filter: Option[String]): DataFrame =
    MetricsOps.tagNames(
      MetricsOps.typeFilter(metricsIndex().filter(col("tenant_id") === tenantId), mtype),
      filter)

  // tag edits re-create the catalog row (append + LWW), so they must
  // CARRY the current dataRetention through — writing the default None
  // would shadow an explicit override on the next index resolution,
  // silently changing retention behavior from an unrelated tag edit
  def addTags(id: MetricId, tags: Map[String, String]): Unit = {
    // blank tag NAMES are invalid; values are unconstrained — the
    // reference's isValidTagMap iterates keySet() only
    // (Functions.java:153-161; TagsITest.groovy PUTs {'': 'test'} and
    // expects 400, while an empty VALUE is accepted and stored)
    require(tags != null && tags.keysIterator.forall(
      k => k != null && k.trim.nonEmpty), s"Invalid tags: $tags")
    val (current, retention) = currentDefinition(id)
    createMetric(id, current ++ tags, retention)
  }

  def deleteTags(id: MetricId, tags: Set[String]): Unit = {
    val (current, retention) = currentDefinition(id)
    createMetric(id, current -- tags, retention)
  }

  /** (tags, dataRetention) of the current LWW definition. A metric with
    * no catalog entry at all — datapoints can be ingested without an
    * explicit createMetric, like the reference's implicit metrics — reads
    * as undefined, not as a missing-path error. */
  private def currentDefinition(id: MetricId): (Map[String, String], Option[Int]) =
    metricsIndex().filter(metricKey(id)).select("tags", "data_retention").collect()
      .headOption.map { r =>
        (r.getMap[String, String](0).toMap,
          if (r.isNullAt(1)) None else Some(r.getInt(1)))
      }.getOrElse((Map.empty, None))

  /** Single-metric definition lookup (reference findMetric:102-109).
    * INDEX-only — `createMetric(overwrite=false)`'s 409 existence check
    * rides on this, and the reference's INSERT-IF-NOT-EXISTS consults
    * only the index: a data-only metric must remain explicitly
    * creatable. Route-facing reads want [[findMetricOrDataDerived]]. */
  def findMetric(id: MetricId): DataFrame =
    metricsIndex().filter(metricKey(id))

  /** The reference's enrichToMetric fallback (MetricsServiceImpl.java:
    * 501-513): a metric absent from the index but present in the DATA
    * tier still reads as a definition — no tags, default retention.
    * The probe is this metric's key-pruned slice, not a tier scan. */
  def findMetricOrDataDerived(id: MetricId): DataFrame = {
    val fromData = series(id).select("tenant_id", "mtype", "metric").limit(1)
      .withColumn("tags", typedLit(Map.empty[String, String]))
      .withColumn("data_retention", lit(null).cast("int"))
    mergeIndexWithDataDerived(findMetric(id), fromData)
  }

  /** Index-wins merge of explicit definitions with data-derived rows —
    * the reference's `concatWith(setFromData).distinct(getMetricId)`
    * (RxJava distinct keeps the FIRST occurrence, and the index stream
    * is concatenated first: MetricsServiceImpl.findMetrics:516-539).
    * One window over the already-key-grouped union; no extra scan. */
  private def mergeIndexWithDataDerived(indexDefs: DataFrame,
                                        fromData: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tenant_id"), col("mtype"), col("metric"))
      .orderBy(col("__src"))
    indexDefs.withColumn("__src", lit(0))
      .unionByName(fromData.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__src", "__rn")
  }

  /** Distinct identifiers observed in the data tier for one tenant —
    * the reference's findAllMetricIdentifiersInData feeding setFromData
    * (`new Metric(m, DEFAULT_RETENTION)`: no tags, default retention).
    * Distinct is a map-side-combining aggregate over the tenant's
    * partition-pruned slice. */
  private def definitionsFromData(tenantId: String,
                                  mtype: Option[MetricType]): DataFrame =
    MetricsOps.typeFilter(raw().filter(col("tenant_id") === tenantId), mtype)
      .select("tenant_id", "mtype", "metric").distinct()
      .withColumn("tags", typedLit(Map.empty[String, String]))
      .withColumn("data_retention", lit(null).cast("int"))

  /** Single-definition GET shape: the reference's handlers merge the
    * definition with the metric's data time range (GaugeHandler.get →
    * findMetric + findTimeRange; AvailabilityITest.minMaxTimestamps pins
    * that min/maxTimestamp appear once data exists and are absent
    * before). The min/max aggregate runs over THIS metric's key-pruned
    * slice only — never a tier-wide aggregate — and broadcasts into the
    * one-row definition. */
  def findMetricWithTimestamps(id: MetricId): DataFrame = {
    val minmax = series(id)
      .agg(min(col("time")).as("min_time"), max(col("time")).as("max_time"))
    findMetricOrDataDerived(id).crossJoin(broadcast(minmax))
  }

  /** Full catalog scan across tenants (reference scanAllMetricIndexes,
    * the admin-job entry): the LWW-resolved index, unfiltered. */
  def scanAllMetricIndexes(): DataFrame = metricsIndex()

  /** GET /openshift — the cross-tenant definition scan restricted to
    * metrics carrying the `descriptor_name` tag (OpenshiftServlet.java:
    * 53,72-74: scanAllMetricIndexes().filter(tags.containsKey(
    * DESCRIPTOR_TAG))). One catalog scan; the key test is a map lookup
    * evaluated inside the scan stage, no shuffle. */
  def openshiftMetrics(): DataFrame =
    scanAllMetricIndexes()
      .filter(map_contains_key(col("tags"), lit("descriptor_name")))

  /** J5 — definitions enriched with data min/max timestamps. */
  def findMetrics(tenantId: String, mtype: Option[MetricType]): DataFrame =
    enrichWithTimestamps(findDefinitions(tenantId, mtype, None))

  /** Plain definition listing (no timestamp enrichment — the reference's
    * GET collection default, `timestamps=false`), optionally restricted
    * by a tag expression (the collection GETs' `tags` param,
    * GaugeHandler.java:132-174). */
  def findDefinitions(tenantId: String, mtype: Option[MetricType],
                      tagExpression: Option[String]): DataFrame = {
    val base = MetricsOps.typeFilter(
      metricsIndex().filter(col("tenant_id") === tenantId), mtype)
    tagExpression match {
      case Some(expr) =>
        // tag queries resolve against the INDEX only (the reference
        // routes them through the tags index; data-derived rows carry
        // no tags and can never match)
        val pred =
          try TagQueryParser.compile(expr, col("tags"))
          catch {
            case _: IllegalArgumentException =>
              TagQueryParser.compileSimple(expr, col("tags"))
          }
        base.filter(pred)
      case None =>
        // unfiltered listing = index ∪ data-derived identifiers, index
        // wins (MetricsServiceImpl.findMetrics:516-539 — CORSITest
        // lists data-only m11/m12 with dataRetention 7)
        mergeIndexWithDataDerived(base, definitionsFromData(tenantId, mtype))
    }
  }

  /** [[findDefinitions]] with the `id` param of GET /metrics
    * (MetricHandler.java:189-244): a filter-PATTERN when tags filtering
    * is used (idFilter, F3), an exact `|`-separated id list otherwise —
    * the exact mode requires a concrete type (HWKMETRICS-461). */
  def findDefinitions(tenantId: String, mtype: Option[MetricType],
                      tagExpression: Option[String],
                      idParam: Option[String]): DataFrame = {
    val base = findDefinitions(tenantId, mtype, tagExpression)
    idParam.filter(_.nonEmpty) match {
      case None => base
      case Some(pat) if tagExpression.isDefined => MetricsOps.idFilter(base, pat)
      case Some(idList) =>
        require(mtype.isDefined, "Exact id search requires type to be set")
        base.filter(col("metric").isin(idList.split("\\|").toSeq: _*))
    }
  }

  /** J5 enrichment step alone — data min/max + resolved retention over an
    * already-filtered definition frame (MinMaxTimestampTransformer
    * analog); the `timestamps=true` collection GETs compose it over
    * [[findDefinitions]]. */
  def enrichWithTimestamps(defs: DataFrame): DataFrame =
    MetricsOps.enrichDefinitions(defs, raw(), DefaultRetentionDays)

  // ------------------------------------------------------------------
  // ingest (S1/S3) + maintenance (S8/S9)
  // ------------------------------------------------------------------

  val MaxStringSize = 2048 // reference MetricsServiceImpl maxStringSize default

  /** S1 — batch append of canonical datapoints. On a tier-serving
    * service, EVERY touched slice is recorded in the dirty-slice log so
    * the next [[refreshTiers]] re-aggregates any the tiers already
    * covered — correctness of late backfill no longer depends on an
    * operator knowing which slices to re-refresh. Marking is
    * UNCONDITIONAL (not `time < watermark`): a watermark-filtered mark
    * races a concurrent refresh — a point landing after the refresh's
    * raw scan but before its watermark commit would compare against the
    * OLD watermark, skip marking, and then be covered by the NEW one
    * with no record anywhere (permanently missing from the tiers).
    * Marks the sweep does not need yet (slices at/above the watermark)
    * cost nothing: the sweep leaves them for the tail refresh that
    * covers them ([[refreshTiers]]'s handled-file rule). The batch is
    * checkpointed so the write and the slice-set collect share one
    * evaluation of the caller's lineage. */
  def addDataPoints(points: DataFrame): Unit =
    if (tiers.isEmpty) GraftStorage.write(points, dataPath)
    else {
      val p = points.localCheckpoint()
      GraftStorage.write(p, dataPath)
      markIngestedSlices(p)
    }

  /** The ingest half of the dirty-slice contract: the batch's distinct
    * slices (batch-sized aggregate + tiny collect — nothing store-sized). */
  private def markIngestedSlices(points: DataFrame): Unit = tiers.foreach { t =>
    val slices = points
      .select((col("time") / GraftStorage.SliceMs).cast("long").as("s"))
      .distinct().collect().map(_.getLong(0)).toSeq
    GraftStorage.markDirtySlices(spark, t.root, slices)
  }

  /** S3 — string datapoints with the size cap enforced at ingest. */
  def addStringDataPoints(points: DataFrame): Unit = {
    val tooBig = points.filter(octet_length(col("s_value")) > MaxStringSize).limit(1).count()
    require(tooBig == 0, s"String value exceeds max size $MaxStringSize")
    GraftStorage.write(points, dataPath)
  }

  /** S8 — compact closed slices (TempDataCompressor analog). Steady-state
    * maintenance passes the last-compacted slice as `fromSlice` so each
    * run touches only newly closed slices (the reference job processes
    * one slice per run, TempDataCompressor.java:78-98). */
  def compressBlock(upToSlice: Long, fromSlice: Long = Long.MinValue): Unit =
    GraftStorage.compact(spark, dataPath, upToSlice, fromSlice)

  /**
   * Refresh every configured serving tier from the raw store — the
   * maintenance companion of [[compressBlock]], run on the same closed-
   * slice cadence (pass the last-refreshed slice as `fromSlice`; each
   * run then re-aggregates only newly closed slices). Six families, one
   * raw window each: gauge/counter hour sums, the availability state
   * machine, counter-increase accounting, and both rate families. After
   * a refresh, aligned stats requests on the matching type answer from
   * hours × metrics summaries ([[MetricsService.TierLayout]]).
   */
  def refreshTiers(upToSlice: Long = Long.MaxValue,
                   fromSlice: Long = Long.MinValue,
                   now: Long = System.currentTimeMillis()): Unit = {
    val t = tiers.getOrElse(throw new IllegalStateException(
      "refreshTiers needs a MetricsService constructed with a TierLayout"))
    refreshFamilies(t, upToSlice, fromSlice)
    // the freshness WATERMARK value this refresh earns: a bounded
    // refresh covers raw through its slice bound, an unbounded one
    // through the wall clock at refresh START (`now` defaults at method
    // entry — nothing ingested mid-refresh can sit below it unseen
    // WITHOUT a dirty mark, see addDataPoints). The committed watermark
    // NEVER REGRESSES: a re-refresh of an old late-slice window (the
    // dirty sweep's own recipe) must not lower tier coverage — a
    // lowered watermark would make ingest-side mark filtering skip
    // still-covered slices and silently strand backfills.
    val until = math.max(refreshedUntil,
      if (upToSlice == Long.MaxValue) now else upToSlice * GraftStorage.SliceMs)
    // DIRTY-SLICE SWEEP: ingested slices recorded since the last refresh
    // ([[markIngestedSlices]]) re-aggregate here in contiguous runs —
    // EXCEPT slices this refresh's own window already covers (no double
    // work) and slices at/above the effective watermark (the unrefreshed
    // tail: the tail refresh that covers them sweeps or window-covers
    // them then; their log files are KEPT below). Files delete only
    // AFTER the re-aggregation landed, and only when EVERY slice they
    // name was handled — a crash in between replays the sweep next run,
    // which re-aggregates the same slices to the same rows (idempotent).
    val log = GraftStorage.dirtySliceLog(spark, t.root)
    val windowCovered = (s: Long) => s >= fromSlice && s < upToSlice
    val belowWatermark = (s: Long) => s * GraftStorage.SliceMs < until
    val pending = log.flatMap(_._2).distinct.sorted
      .filter(s => !windowCovered(s) && belowWatermark(s))
    contiguousRuns(pending).foreach { case (lo, hi) =>
      refreshFamilies(t, upToSlice = hi + 1, fromSlice = lo)
    }
    // servingTier refuses the tier for any request extending past the
    // watermark — without it, an hour-aligned request over the
    // not-yet-refreshed tail would serve silently EMPTY buckets where
    // raw has data. (Direct GraftStorage.write users either mark via
    // GraftStorage.markDirtySlices or re-refresh via fromSlice, the
    // reference's 2h-lateness compaction posture.)
    writeRefreshedUntil(until)
    val handled = (s: Long) => windowCovered(s) || belowWatermark(s)
    GraftStorage.clearDirtyFiles(spark,
      log.collect { case (f, ss) if ss.forall(handled) => f })
  }

  /** One refresh window across all configured tier families — shared by
    * the main refresh and the dirty-slice sweep's per-run re-aggregation. */
  private def refreshFamilies(t: MetricsService.TierLayout,
                              upToSlice: Long, fromSlice: Long): Unit = {
    // ONE materialized LWW-resolved read of the bounded raw window feeds
    // every family (localCheckpoint — the scan + dedup shuffle run once,
    // not once per family; the window is refresh-cadence-sized, the same
    // data a compact() run holds, so materializing it is bounded at any
    // scale), and the families write their OWN tier paths with no
    // ordering constraint between them, so they refresh concurrently
    // (IndexStore.inParallel — guide §2.6): one family's write tail
    // back-fills with the next family's aggregate tasks instead of
    // idling the executors nine times per refresh
    val resolved = Some(
      GraftStorage.resolvedWindow(spark, dataPath, fromSlice, upToSlice).localCheckpoint())
    try { refreshFrom(t, resolved, upToSlice, fromSlice) }
    // a long-lived service refreshing on a cadence must not let
    // checkpoint blocks pile up until driver GC reclaims them
    finally resolved.foreach(_.unpersist())
  }

  private def refreshFrom(t: MetricsService.TierLayout, resolved: Option[DataFrame],
                          upToSlice: Long, fromSlice: Long): Unit = {
    val families = Seq[() => Unit](
      () => GraftStorage.writeRollup(spark, dataPath, t.gaugeSums, upToSlice, fromSlice,
        resolved = resolved),
      () => GraftStorage.writeRollup(spark, dataPath, t.counterSums, upToSlice, fromSlice,
        valueCol = "l_value", resolved = resolved),
      () => GraftStorage.writeRollupAvail(spark, dataPath, t.avail, upToSlice, fromSlice,
        resolved = resolved),
      () => GraftStorage.writeRollupCounter(spark, dataPath, t.counterIncrease,
        upToSlice, fromSlice, resolved = resolved),
      () => GraftStorage.writeRollupRate(spark, dataPath, t.counterRate,
        isCounter = true, valueCol = "l_value",
        upToSlice = upToSlice, fromSlice = fromSlice, resolved = resolved),
      () => GraftStorage.writeRollupRate(spark, dataPath, t.gaugeRate,
        isCounter = false, valueCol = "n_value",
        upToSlice = upToSlice, fromSlice = fromSlice, resolved = resolved)) ++
      // the DISTRIBUTION tiers are opt-in (edges are deployment config);
      // once seeded, each tier's _histmeta carries its edges so later
      // refreshes — including from layouts constructed WITHOUT edge
      // config, like the serving transport's — keep it fresh
      t.histEdges.orElse(GraftStorage.histTierMeta(spark, t.gaugeHist))
        .map { case (vMin, vMax, bins) =>
          () => GraftStorage.writeRollupHist(spark, dataPath, t.gaugeHist,
            vMin, vMax, bins, upToSlice, fromSlice, resolved = resolved)
        } ++
      Seq((t.counterRateHist, true, "l_value"), (t.gaugeRateHist, false, "n_value"))
        .flatMap { case (p, isCtr, vc) =>
          t.rateHistEdges.orElse(GraftStorage.histTierMeta(spark, p)).map {
            case (vMin, vMax, bins) =>
              () => GraftStorage.writeRollupRateHist(spark, dataPath, p, isCounter = isCtr,
                vMin = vMin, vMax = vMax, bins = bins, valueCol = vc,
                upToSlice = upToSlice, fromSlice = fromSlice, resolved = resolved)
          }
        }
    graft.storage.IndexStore.inParallel(families)
  }

  /** Sorted distinct slice ids → inclusive (lo, hi) contiguous runs. */
  private def contiguousRuns(sorted: Seq[Long]): Seq[(Long, Long)] =
    sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, s) if s == hi + 1 => (lo, s) :: rest
      case (acc, s) => (s, s) :: acc
    }.reverse

  /** Commit the freshness watermark via temp-file + rename (the
    * [[graft.storage.AtomicSwap]] discipline): `fs.create(p, true)`
    * truncates the live file BEFORE the new bytes land, so a request
    * racing a periodic refresh — or a crash mid-write — would read an
    * empty file. With write-aside + rename the live path always holds
    * either the previous complete watermark or the new one; the only
    * gap is the sub-ms between delete and rename, and a missing file
    * reads as Long.MinValue (raw path) — degraded, never an error. */
  private def writeRefreshedUntil(until: Long): Unit = {
    val t = tiers.get
    val live = new org.apache.hadoop.fs.Path(s"${t.root}/_refreshed_until")
    val tmp = new org.apache.hadoop.fs.Path(s"${t.root}/._refreshed_until.tmp")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(until.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(live, false)
    require(fs.rename(tmp, live), s"watermark commit failed at $live")
  }

  /** The tiers' freshness watermark; Long.MinValue when never refreshed
    * (every tier request then takes the raw path). One tiny metadata
    * read per dispatch — the same class of cost as the tier-existence
    * probe. An unreadable or unparsable watermark (torn write on a
    * non-rename-atomic store, manual edit) also reads as Long.MinValue:
    * requests degrade to the raw path rather than erroring — a stats
    * endpoint must never 500 because a maintenance file is malformed. */
  private def refreshedUntil: Long = tiers.map { t =>
    val p = new org.apache.hadoop.fs.Path(s"${t.root}/_refreshed_until")
    scala.util.Try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .trim.toLong
      finally in.close()
    }.getOrElse(Long.MinValue)
  }.getOrElse(Long.MinValue)

  private val GaugeSums = MetricsService.TierFamily(_.gaugeSums, Some(_.gaugeHist))
  private val CounterSums = MetricsService.TierFamily(_.counterSums)
  private val Avail = MetricsService.TierFamily(_.avail)
  private val CounterIncrease = MetricsService.TierFamily(_.counterIncrease)

  private def sumsFamily(t: MetricType) =
    if (t == MetricType.Counter) CounterSums else GaugeSums

  // rateHistTierServes, not tierServes: a sparse store (≤1 point per hour
  // everywhere) leaves the refreshed rate-hist tier physically EMPTY — its
  // percentile answer is the boundary-pair reconstruction off the rate
  // tier, and a data-existence probe would refuse it forever
  private def rateFamily(isCounter: Boolean) =
    if (isCounter) MetricsService.TierFamily(_.counterRate, Some(_.counterRateHist),
      GraftStorage.rateHistTierServes)
    else MetricsService.TierFamily(_.gaugeRate, Some(_.gaugeRateHist),
      GraftStorage.rateHistTierServes)

  /** THE tier-versus-raw decision of every tier-served entry point: the
    * layout iff `family` can serve grid `b`, `None` for the raw path.
    *  - Exact requests serve only percentile-free: the sums/rate tier
    *    holds no order statistics. Other explicit modes never serve —
    *    their median estimate is part of the requested semantics.
    *  - TierApprox requests with percentiles also need the family's
    *    distribution companion, built (`histBuilt`), carrying `_histmeta`
    *    and covering `b` ([[histTierCovers]]); a family without one
    *    refuses.
    *  - The grid sits on whole tier hours with the tier built
    *    ([[GraftStorage.tierServes]]) and ends within the freshness
    *    watermark ([[refreshedUntil]]): the unrefreshed tail must answer
    *    from raw, not as silently empty tier buckets.
    * Listings and small-file reads only, the watermark read at most once. */
  private def servingTier(family: MetricsService.TierFamily, b: Buckets,
                          percentiles: Seq[Double] = Seq.empty,
                          mode: MetricsOps.PercentileMode =
                            MetricsOps.PercentileMode.Exact): Option[MetricsService.TierLayout] = {
    def histReady(t: MetricsService.TierLayout) = percentiles.isEmpty ||
      family.hist.exists { h =>
        family.histBuilt(spark, h(t), b) && GraftStorage.histTierHasMeta(spark, h(t)) &&
          histTierCovers(h(t), family.tier(t), b)
      }
    tiers.filter(t => (mode == MetricsOps.PercentileMode.TierApprox ||
      mode == MetricsOps.PercentileMode.Exact && percentiles.isEmpty) &&
      GraftStorage.tierServes(spark, family.tier(t), b) &&
      b.end <= refreshedUntil && histReady(t))
  }

  /**
   * Whole-range reset-aware counter-increase accounting per metric — the
   * "requests this month" panel (the library surface over
   * [[graft.operators.MetricsOps.counterIncrease]]; the reference has no
   * REST endpoint for it, so this is engine-level like the tier matrix).
   * Hour-aligned ranges within the freshness watermark answer from the
   * counter tier's hour partials + boundary deltas (hours × metrics
   * read, identical rows — the tier exactness contract); everything
   * else runs the raw-path accounting.
   */
  def findCounterIncrease(tenantId: String, range: TimeRange): DataFrame = {
    val shape = Seq("tenant_id", "mtype", "metric", "increase",
      "n_resets", "n_deltas")
    Buckets.whole(range).flatMap(servingTier(CounterIncrease, _)) match {
      case Some(t) =>
        GraftStorage.rollupCounterIncrease(spark, t.counterIncrease, range,
          tenant = Some(tenantId)).select(shape.map(col): _*)
      case None =>
        MetricsOps.counterIncrease(
          raw().filter(col("tenant_id") === tenantId &&
            col("mtype") === MetricType.Counter.code.toInt &&
            col("l_value").isNotNull &&
            col("time_slice") >= range.start / GraftStorage.SliceMs &&
            col("time_slice") <= (range.end - 1) / GraftStorage.SliceMs), range)
          .select(shape.map(col): _*)
    }
  }

  /** Request-sized metric spine for tier pruning / gap-fill. */
  private def oneMetric(name: String): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(name).toDF("metric")
  }

  /** S9 — delete one metric: its datapoints AND its catalog row — the
    * reference deletes from the metrics, tags, and retention indexes
    * alongside the data (MetricsServiceImpl.java:1086-1101), so a
    * deleted id must be creatable again without `overwrite`. */
  def deleteMetric(id: MetricId): Unit = {
    GraftStorage.deleteMetric(spark, dataPath, id.tenantId,
      MetricType.fromCode(id.mtype), id.name)
    IndexStore.tableIfPresent(spark, root, StoreTables.Metrics.Catalog).foreach(
      _.filter(!(col("tenant_id") === id.tenantId &&
        col("mtype") === id.mtype.toInt && col("metric") === id.name))
        .localCheckpoint().write.mode(SaveMode.Overwrite).parquet(metricsPath))
  }

  /** S9 — delete a whole tenant (reference jobs/DeleteTenant.java:34-62):
    * drop its data partition subtree (metadata-level — tenant_id is the
    * leading partition column), its catalog rows, AND its tenant row —
    * the job deletes the tenant itself, so a deleted id is creatable
    * again without `overwrite` and GET /tenants stops listing it. */
  def deleteTenant(tenantId: String): Unit = {
    GraftStorage.deleteTenant(spark, dataPath, tenantId)
    IndexStore.tableIfPresent(spark, root, StoreTables.Metrics.Catalog).foreach(
      _.filter(col("tenant_id") =!= tenantId).localCheckpoint()
        .write.mode(SaveMode.Overwrite).parquet(metricsPath))
    IndexStore.tableIfPresent(spark, root, StoreTables.Metrics.Tenants).foreach(
      _.filter(col("id") =!= tenantId).localCheckpoint()
        .write.mode(SaveMode.Overwrite).parquet(tenantsPath))
  }

  /** Retention sweep (TTL analog): drop expired slices, no rewrite. */
  def applyRetention(retentionDays: Int = DefaultRetentionDays,
                     now: Long = System.currentTimeMillis()): Seq[Long] =
    GraftStorage.dropExpiredSlices(spark, dataPath, retentionDays, now)

  def raw(): DataFrame = GraftStorage.read(spark, dataPath)

  /**
   * Read-side retention enforcement, full precedence chain: per-metric
   * catalog `dataRetention` ≻ the tenant's per-type retention map ≻ keep
   * (the system default is enforced by the storage sweep,
   * [[applyRetention]]). This is the read view of the reference's
   * write-time TTL scheme — per-metric retentions in `retentions_idx`
   * (Metric.java:48-54, bootstrap.groovy:139-147), tenant maps via
   * `Tenant.getRetentionSettings` (Functions.java:121-127). Both frames
   * are catalog-sized and broadcast; the datapoint stream never shuffles.
   */
  def retainedRaw(now: Long = System.currentTimeMillis()): DataFrame = {
    // tenant retention maps are keyed by the metric-type TEXT
    // ("gauge", "counter", ...); unknown keys are ignored
    val typeCode = MetricType.userTypes.foldLeft(lit(null).cast("int")) {
      (acc, t) => when(col("tname") === t.text, lit(t.code.toInt)).otherwise(acc)
    }
    val tenantRet = getTenants()
      .select(col("id").as("tenant_id"),
        explode(col("retentions")).as(Seq("tname", "retention_days")))
      .withColumn("mtype", typeCode).filter(col("mtype").isNotNull)
      .select("tenant_id", "mtype", "retention_days")
      .localCheckpoint() // tenants may be rewritten after planning
    val overrides = metricsIndex().filter(col("data_retention").isNotNull)
      .select(col("tenant_id"), col("mtype"), col("metric"),
        col("data_retention").as("retention_days"))
      .localCheckpoint()
    MetricsOps.applyRetention(raw(), tenantRet, Some(overrides), now)
  }

  // ------------------------------------------------------------------
  // reads (EP1/EP2 paths)
  // ------------------------------------------------------------------

  private def metricKey(id: MetricId): Column =
    col("tenant_id") === id.tenantId && col("mtype") === id.mtype.toInt &&
      col("metric") === id.name

  private def series(id: MetricId): DataFrame = raw().filter(metricKey(id))

  /** Raw fetch with the reference's order-defaulting rule (T3). The
    * VIRTUAL rate types dispatch transparently: ask for datapoints of
    * COUNTER_RATE/GAUGE_RATE and get the W1 derivation over the stored
    * counter/gauge series (MetricsServiceImpl.java:241-249 routes the
    * rate types to findRateData; derivation :858-883) — limit applies
    * AFTER pairing, like the reference (:882). */
  def findDataPoints(id: MetricId, start: Option[Long], end: Option[Long],
                     limit: Int = 0, order: Option[Order] = None,
                     now: Long = System.currentTimeMillis()): DataFrame = {
    val range = TimeRange(start.map(_.toString), end.map(_.toString), now)
    val ord = order.getOrElse(Order.defaultValue(limit, start, end))
    MetricType.fromCode(id.mtype) match {
      case MetricType.CounterRate | MetricType.GaugeRate =>
        val underlying =
          if (id.mtype == MetricType.CounterRate.code) MetricType.Counter else MetricType.Gauge
        val stored = series(id.copy(mtype = underlying.code)).filter(MetricsOps.inRange(range))
        MetricsOps.rate(stored, isCounter = underlying == MetricType.Counter,
          valueCol = if (underlying == MetricType.Counter) "l_value" else "n_value",
          order = ord, limit = limit)
          // answer AS the requested virtual type, not the stored one — a
          // caller unioning rate and raw fetches groups by (mtype, metric)
          .withColumn("mtype", lit(id.mtype.toInt))
      case _ =>
        MetricsOps.rawDataPoints(series(id), range, ord, limit)
    }
  }

  /** Multi-metric raw fetch by explicit id list (reference
    * findDataPoints(List&lt;MetricId&gt;,…):222-224, the NamedDataPoint path):
    * broadcast semi-join on the id set, then the T1/T2 ordering rules. */
  def findDataPoints(tenantId: String, mtype: MetricType, ids: Seq[String],
                     start: Option[Long], end: Option[Long], limit: Int,
                     order: Option[Order], now: Long): DataFrame = {
    val s = spark
    import s.implicits._
    findDataPoints(tenantId, mtype, ids.toDF("metric"), start, end, limit, order, now)
  }

  /** Same, with the id set coming from a frame (tag-resolved selection).
    * `limit` bounds EACH series, not the union — the reference fans the
    * id list out as per-id limited scans (MetricsServiceImpl
    * .findDataPoints(List,…):821-826). */
  def findDataPoints(tenantId: String, mtype: MetricType, ids: DataFrame,
                     start: Option[Long], end: Option[Long], limit: Int,
                     order: Option[Order], now: Long): DataFrame = {
    val range = TimeRange(start.map(_.toString), end.map(_.toString), now)
    val ord = order.getOrElse(Order.defaultValue(limit, start, end))
    val scoped = raw().filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt)
    MetricsOps.rawDataPointsPerMetric(MetricsOps.dataPointsForIds(scoped, ids), range, ord, limit)
  }

  /** Multi-metric raw fetch by tag query (reference
    * findDataPoints(tenantId, type, tags,…):226-229): resolve ids via the
    * tag compiler, then the id-list path. */
  def findDataPointsByTags(tenantId: String, mtype: MetricType, tagExpression: String,
                           start: Option[Long], end: Option[Long], limit: Int,
                           order: Option[Order],
                           now: Long = System.currentTimeMillis()): DataFrame = {
    val range = TimeRange(start.map(_.toString), end.map(_.toString), now)
    val ord = order.getOrElse(Order.defaultValue(limit, start, end))
    val ids = findMetricIdentifiersWithFilters(tenantId, Some(mtype), tagExpression)
    val scoped = raw().filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt)
    // per-series limit, like the id-list path (reference :829-834)
    MetricsOps.rawDataPointsPerMetric(MetricsOps.dataPointsForIds(scoped, ids), range, ord, limit)
  }

  /**
   * The reference's UDF-composition entry (findGaugeData(id, …, funcs):
   * MetricsService.java:233-235, impl :901-907): callers pass transforms
   * over the fetched series; each `Observable→Observable` function becomes
   * a `DataFrame => DataFrame`, applied over one shared fetch. Predefined
   * transforms from Aggregate.java:33-58 map to MetricsOps /
   * wholeRangeAggregates compositions.
   */
  def findGaugeData(id: MetricId, start: Option[Long], end: Option[Long],
                    funcs: (DataFrame => DataFrame)*): Seq[DataFrame] = {
    val range = TimeRange(start.map(_.toString), end.map(_.toString),
      System.currentTimeMillis())
    // with multiple transforms, materialize the fetch once: each
    // transform's later action must see the SAME snapshot (and not re-scan
    // the tier per transform) — the reference shares one Observable across
    // funcs. A single transform keeps the lazy plan (no job, no pinned
    // checkpoint blocks).
    val base = series(id).filter(MetricsOps.inRange(range))
    val fetched = if (funcs.lengthCompare(2) >= 0) base.localCheckpoint() else base
    funcs.map(f => f(fetched))
  }

  /** Multi-metric rate derivation (reference findRateData(ids,…):326-331).
    * UNRANGED by design — the whole stored series feeds the pairing; the
    * REST layer's ranged twin below resolves absent params to the
    * reference's now-8h default instead. */
  def findRateData(tenantId: String, mtype: MetricType, ids: Seq[String],
                   limit: Int, order: Order): DataFrame = {
    val scoped = raw().filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt)
    // limit bounds EACH series' rates (reference findRateData(List,…):
    // 886-890 concatMaps the per-id limited derivation)
    MetricsOps.perMetricLimitOrdered(
      MetricsOps.rate(MetricsOps.dataPointsForIds(scoped, ids),
        isCounter = mtype == MetricType.Counter,
        valueCol = if (mtype == MetricType.Counter) "l_value" else "n_value",
        order = order),
      order, limit)
  }

  /** `mode` is Exact by default (the engine's documented divergence from
    * the reference's always-P² estimator); P2Parity reproduces the
    * reference bit-for-bit, including its DESC gauge feed order
    * (MetricsServiceImpl.java:914 fetches gauges DESC before
    * accumulating).
    *
    * Hour-aligned, in-watermark, percentile-free requests answer from
    * hour summaries — raw never read; the 5 served stats are bit-equal
    * to the raw path, median omitted ([[MetricsService.TierLayout]]).
    * [[MetricsOps.PercentileMode.TierApprox]] percentile requests also
    * serve when the gauge histogram tier is built and covers the grid:
    * five exact stats from `gauge_sums` joined per bucket with
    * [[MetricsOps.histogramQuantile]]'s walk over the served histogram
    * (estimate error ≤ ~2 bin widths — the hist_quantile_accuracy band).
    * Anything the tier pair cannot serve falls back to the EXACT raw
    * path — a MORE accurate answer than asked for, never a silently
    * empty one. */
  def findGaugeStats(id: MetricId, config: BucketConfig,
                     percentiles: Seq[Double] = Seq.empty,
                     mode: MetricsOps.PercentileMode =
                       MetricsOps.PercentileMode.Exact): DataFrame = {
    val b = config.buckets
    servingTier(GaugeSums, b, percentiles, mode) match {
      case Some(t) =>
        MetricsOps.gapFill(tierStatsServe(t, GaugeSums, b, percentiles,
          oneMetric(id.name), id.tenantId, id.mtype.toInt), b)
      case None =>
        MetricsOps.gapFill(
          MetricsOps.numericBucketStats(series(id), b, percentiles,
            mode = exactForTierApprox(mode), parityFeedOrder = Order.Desc), b)
    }
  }

  /** What the TierApprox contract resolves to off the tier: EXACT. */
  private def exactForTierApprox(mode: MetricsOps.PercentileMode) =
    if (mode == MetricsOps.PercentileMode.TierApprox) MetricsOps.PercentileMode.Exact
    else mode

  /** Distribution-tier coverage for a request — judged by the tier's
    * REFRESH extent ([[graft.storage.GraftStorage.histCoveredFrom]]),
    * never by data presence: sparse series legitimately leave early
    * slices without distribution rows (a rate-hist hour with one point
    * has no within-hour pair), while a tier seeded after months of
    * history has data but not coverage. Legacy tiers without the
    * coverage file fall back to the conservative min-DATA-slice
    * heuristic (hist reaches the request's first slice, or as far back
    * as its sums companion). Metadata reads only — shared by the value
    * and rate dispatches. */
  private def histTierCovers(histPath: String, sumsPath: String,
                             b: graft.model.Buckets): Boolean =
    GraftStorage.histCoveredFrom(spark, histPath) match {
      case Some(cf) => cf <= b.start / GraftStorage.SliceMs
      case None =>
        GraftStorage.tierMinSlice(spark, histPath).exists { h =>
          h <= b.start / GraftStorage.SliceMs ||
            GraftStorage.tierMinSlice(spark, sumsPath).exists(h <= _)
        }
    }

  /** The sums-family serve body over an arbitrary id set: five exact
    * pooled stats from the sums tier, joined (TierApprox percentiles)
    * per bucket with the histogram-tier quantile walk over the SAME ids
    * — both scans prune to the request's ids via the broadcast
    * semi-join, so a tag-resolved p95 dashboard reads hours ×
    * selected-metrics (× bins) rows only. */
  private def tierStatsServe(t: MetricsService.TierLayout,
                             family: MetricsService.TierFamily,
                             b: graft.model.Buckets, percentiles: Seq[Double],
                             ids: DataFrame, tenantId: String,
                             mtypeCode: Int): DataFrame =
    withTierPercentiles(
      GraftStorage.rollupStats(spark, family.tier(t), b, byMetric = false,
        ids = Some(ids), tenant = Some(tenantId), mtypeCode = Some(mtypeCode)),
      GraftStorage.rollupHistogram(spark, family.hist.get(t), b,
        ids = Some(ids), tenant = Some(tenantId), mtypeCode = Some(mtypeCode)),
      percentiles)

  /** `five` joined per bucket with one [[MetricsOps.histogramQuantile]]
    * walk per percentile over the served histogram `hist` (built only
    * when percentiles were asked); several walks share ONE snapshot
    * (buckets × bins rows) instead of re-scanning the tier each. */
  private def withTierPercentiles(five: DataFrame, hist: => DataFrame,
                                  percentiles: Seq[Double]): DataFrame =
    if (percentiles.isEmpty) five else {
      val h = if (percentiles.lengthCompare(2) >= 0) hist.localCheckpoint() else hist
      percentiles.foldLeft(five) { (acc, q) =>
        acc.join(MetricsOps.histogramQuantile(h, q / 100.0)
          .select(col("bucket"), col("q_est").as(MetricsOps.pctColName(q))),
          Seq("bucket"), "left")
      }
    }

  /**
   * `fromEarliest=true` (GaugeHandler.java:449-496): derive the range from
   * the metric's retention window ending now, then drop LEADING empty
   * buckets (`skipWhile(isEmpty)`) — trailing/interior gaps stay null-filled.
   */
  def findGaugeStatsFromEarliest(id: MetricId, bucketCount: Option[Int],
                                 bucketDuration: Option[GDuration],
                                 percentiles: Seq[Double] = Seq.empty,
                                 now: Long = System.currentTimeMillis()): DataFrame =
    MetricsOps.skipLeadingEmptyBuckets(
      findGaugeStats(id, fromEarliestConfig(id, bucketCount, bucketDuration, now), percentiles))

  /** Counter twin of [[findGaugeStatsFromEarliest]] (the reference's
    * CounterHandler carries the same fromEarliest flag). */
  def findCounterStatsFromEarliest(id: MetricId, bucketCount: Option[Int],
                                   bucketDuration: Option[GDuration],
                                   percentiles: Seq[Double] = Seq.empty,
                                   now: Long = System.currentTimeMillis()): DataFrame =
    MetricsOps.skipLeadingEmptyBuckets(
      findCounterStats(id, fromEarliestConfig(id, bucketCount, bucketDuration, now), percentiles))

  /** Availability twin of [[findGaugeStatsFromEarliest]] (the reference
    * threads `fromEarliest` through AvailabilityHandler's
    * TimeAndBucketParams the same way): retention-window range ending
    * `now`, A3 bucket stats, leading empty buckets dropped. */
  def findAvailabilityStatsFromEarliest(id: MetricId, bucketCount: Option[Int],
                                        bucketDuration: Option[GDuration],
                                        now: Long = System.currentTimeMillis()): DataFrame =
    MetricsOps.skipLeadingEmptyBuckets(
      findAvailabilityStats(id, fromEarliestConfig(id, bucketCount, bucketDuration, now)))

  /** String twin (StringHandler's TimeAndSortParams carries the same
    * flag on GET /{id}/raw): strings have no buckets — `fromEarliest`
    * just widens the fetch range to the retention window ending `now`. */
  def findStringDataFromEarliest(id: MetricId, distinct: Boolean = false,
                                 limit: Int = 0, order: Option[Order] = None,
                                 now: Long = System.currentTimeMillis()): DataFrame = {
    val r = fromEarliestRange(id, now)
    findStringData(id, Some(r.start), Some(r.end), distinct, limit, order, now)
  }

  /** Availability raw-fetch twin (AvailabilityHandler carries the flag
    * on GET /{id}/raw too, :420-452): retention window as fetch range. */
  def findAvailabilityDataFromEarliest(id: MetricId, distinct: Boolean = false,
                                       limit: Int = 0, order: Option[Order] = None,
                                       now: Long = System.currentTimeMillis()): DataFrame = {
    val r = fromEarliestRange(id, now)
    findAvailabilityData(id, Some(r.start), Some(r.end), distinct, limit, order, now)
  }

  /** Numeric raw-fetch twin — the reference threads the flag through
    * GET /{id}/raw on gauges and counters too, via TimeAndSortParams
    * (GaugeHandler.java:503-533, CounterHandler.java:505-533;
    * GaugesITest.groovy fromEarliestQueryGaugeData): retention window
    * as the fetch range, then the T1/T2/T3 rules. Virtual rate ids
    * dispatch through [[findDataPoints]] like everywhere else. */
  def findDataPointsFromEarliest(id: MetricId, limit: Int = 0,
                                 order: Option[Order] = None,
                                 now: Long = System.currentTimeMillis()): DataFrame = {
    val r = fromEarliestRange(id, now)
    findDataPoints(id, Some(r.start), Some(r.end), limit, order, now)
  }

  /** Rate-fetch twin (the reference's GAUGE /{id}/rate carries the
    * flag, GaugeHandler.java:775-804 — counter's deprecated-bucket
    * variant does not): W1 derivation over the retention window. */
  def findRateDataFromEarliest(id: MetricId, limit: Int = 0,
                               order: Option[Order] = None,
                               now: Long = System.currentTimeMillis()): DataFrame = {
    val r = fromEarliestRange(id, now)
    findRateData(id, Some(r.start), Some(r.end), limit, order, now)
  }

  /** Per-metric rate-STATS twin (GET /{id}/rate/stats on both numeric
    * handlers, GaugeHandler.java:807-845, CounterHandler.java:640-679):
    * retention-window buckets, leading empties dropped. */
  def findRateStatsFromEarliest(id: MetricId, bucketCount: Option[Int],
                                bucketDuration: Option[GDuration],
                                percentiles: Seq[Double] = Seq.empty,
                                now: Long = System.currentTimeMillis()): DataFrame =
    MetricsOps.skipLeadingEmptyBuckets(
      findRateStats(id, fromEarliestConfig(id, bucketCount, bucketDuration, now), percentiles))

  /** The fromEarliest range: retention window ending `now`, resolved
    * metric override ≻ tenant per-type retention — the same first two
    * layers retainedRaw applies. The LAST layer differs by design: a
    * window needs a concrete width, so an unconfigured metric falls to
    * the system default here, while retainedRaw keeps unconfigured data
    * (its default is the storage sweep's job). */
  private def fromEarliestRange(id: MetricId, now: Long): TimeRange = {
    val retentionMs = currentDefinition(id)._2
      .orElse(tenantRetentionDays(id.tenantId, MetricType.fromCode(id.mtype)))
      .getOrElse(DefaultRetentionDays) * 86400000L
    TimeRange(now - retentionMs, now)
  }

  private def fromEarliestConfig(id: MetricId, bucketCount: Option[Int],
                                 bucketDuration: Option[GDuration], now: Long): BucketConfig =
    BucketConfig(fromEarliestRange(id, now), bucketCount, bucketDuration)

  /** Cross-metric fromEarliest — the reference's multi-id findTimeRange
    * (MetricsServiceHandler.java:79-108): the window spans the LONGEST
    * retention among the selected metrics (`reduce(Math::max)`), ending
    * now. Per-id resolution runs the same chain as the single-metric
    * variant (override ≻ tenant per-type ≻ system default — the reference
    * null-FILTERS instead and answers empty when no metric carries a
    * stored retention; resolving through the chain keeps this consistent
    * with [[fromEarliestRange]]). One catalog-sized aggregate, one
    * single-row collect — nothing data-sized reaches the driver. */
  def multiFromEarliestRange(tenantId: String, mtype: MetricType,
                             ids: DataFrame, now: Long): TimeRange = {
    val fallback = tenantRetentionDays(tenantId, mtype).getOrElse(DefaultRetentionDays)
    val overrides = metricsIndex()
      .filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt)
      .select(col("metric"), col("data_retention"))
    val maxDays = ids.select("metric").distinct()
      .join(overrides, Seq("metric"), "left")
      .agg(max(coalesce(col("data_retention"), lit(fallback))))
      .collect().headOption.filterNot(_.isNullAt(0)).map(_.getInt(0))
      .getOrElse(fallback)
    TimeRange(now - maxDays * 86400000L, now)
  }

  /** The tenant's retention for one metric type, if configured. */
  private def tenantRetentionDays(tenantId: String, t: MetricType): Option[Int] =
    getTenants().filter(col("id") === tenantId)
      .select(element_at(col("retentions"), t.text))
      .collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))

  /** Tagged variant (A6): group by per-point tag-value combinations over
    * the requested time range (GaugeHandler's stats-by-tags route carries
    * the usual start/end query params — GaugeMetricStatisticsITest
    * .findTaggedBuckets:1059-1063 passes them explicitly). */
  def findGaugeStats(id: MetricId, tags: Map[String, String],
                     percentiles: Seq[Double],
                     start: Long, end: Long): DataFrame =
    MetricsOps.taggedStats(
      series(id).filter(col("time") >= start && col("time") < end), tags, percentiles)

  /**
   * ENGINE EXTENSION — `tagSource=metric` on GET
   * /{type}s/{id}/stats/tags/{tags}: the tag filter tests the metric's
   * CATALOG definition instead of per-point tags (same F2
   * filter-pattern semantics, evaluated through the SAME
   * [[graft.functions.GraftFunctions.filterPattern]] column — no
   * semantics fork). A matching metric answers whole-range stats of its
   * ENTIRE series in the A6 output shape (one group, tag columns = the
   * catalog values); a non-matching metric answers EMPTY. Because the
   * filter is catalog-decidable, an aligned, in-watermark,
   * percentile-free request serves from the SUMS TIER (hours × 1
   * metric via the ids semi-join — raw never read, median omitted, the
   * tier signature); anything else computes exactly from raw. The
   * DEFAULT `tagSource=point` route is untouched: per-point tag filters
   * group by per-point values, which only a raw scan can do.
   */
  def findStatsMetricTags(id: MetricId, tagFilters: Map[String, String],
                          percentiles: Seq[Double],
                          start: Long, end: Long): DataFrame = {
    require(tagFilters.nonEmpty, "tagSource=metric needs a non-empty tag filter")
    require(start < end, s"need start < end, got [$start, $end)")
    val t = MetricType.fromCode(id.mtype)
    val valueCol = if (t == MetricType.Counter) "l_value" else "n_value"
    val defTags = currentDefinition(id)._1
    val sortedKeys = tagFilters.keys.toSeq.sorted
    val tagCols = sortedKeys.map(k =>
      lit(defTags.get(k).orNull).cast("string").as(s"tag_$k"))
    val s2 = spark
    import s2.implicits._
    // catalog match: every requested name present AND its value passing
    // the filter pattern — evaluated via filterPattern over a
    // filter-sized local frame so `*`/`|`/negation semantics are
    // byte-identical to the per-point route's
    val matched = tagFilters.keySet.subsetOf(defTags.keySet) && {
      // one literal row, one conjunction — the same foldLeft-of-
      // filterPattern shape the per-point route uses, over the catalog
      // values as literals; a single tiny job decides the match
      val pred = tagFilters.map { case (k, pat) =>
        graft.functions.GraftFunctions.filterPattern(lit(defTags(k)), pat)
      }.reduce(_ && _)
      Seq(1).toDF("one").filter(pred).count() == 1
    }
    val v = col(valueCol).cast("double")
    def rawBranch: DataFrame = {
      val aggs = MetricsOps.statAggsFor(v, percentiles,
        MetricsOps.PercentileMode.Exact)
      series(id).filter(col("time") >= start && col("time") < end)
        .filter(col(valueCol).isNotNull)
        .groupBy(tagCols: _*)
        .agg(aggs.head, aggs.tail: _*)
    }
    if (!matched) return rawBranch.limit(0)
    val family = sumsFamily(t)
    Buckets.whole(TimeRange(start, end)).flatMap(b =>
      servingTier(family, b, percentiles).map(l =>
        tierStatsServe(l, family, b, Seq.empty, oneMetric(id.name),
          id.tenantId, id.mtype.toInt)
          .select(tagCols ++ Seq("min", "avg", "max", "sum", "samples").map(col): _*)))
      .getOrElse(rawBranch)
  }

  /** A4/A5 — multi-metric stats over an explicit id list. */
  def findNumericStats(tenantId: String, mtype: MetricType, ids: Seq[String],
                       config: BucketConfig, percentiles: Seq[Double],
                       stacked: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    findNumericStats(tenantId, mtype, ids.toDF("metric"), config, percentiles, stacked)
  }

  /** A4/A5 with the id set coming from a FRAME (e.g. the tag compiler's
    * resolved catalog) — the broadcast semi-join shape is identical.
    *
    * `mode` (ENGINE EXTENSION, `percentileMode` on the aggregated-stats
    * routes): `None` is today's behavior — tier for aligned
    * percentile-free pooled requests, [[MetricsService.DefaultPercentileMode]]
    * for raw percentile aggregates. `Some(TierApprox)` additionally
    * routes POOLED aligned in-watermark PERCENTILE requests through the
    * histogram tier pair over the id semi-join (the tag-resolved p95
    * dashboard — hours × selected metrics × bins read, raw never
    * scanned; stacked and counter requests resolve to the default raw
    * path: stacked sums per-metric statistics and the distribution tier
    * covers gauges). An explicit exact/p2parity/p2sketch pins the raw
    * aggregate's strategy; non-Exact explicit modes keep the raw path
    * even when percentile-free (their median estimate is part of the
    * requested semantics — a tier serve would omit it). */
  def findNumericStats(tenantId: String, mtype: MetricType, ids: DataFrame,
                       config: BucketConfig, percentiles: Seq[Double],
                       stacked: Boolean,
                       mode: Option[MetricsOps.PercentileMode] = None): DataFrame = {
    val b = config.buckets
    val aggMode = mode match {
      // the TierApprox contract (PercentileMode.TierApprox scaladoc, and
      // the per-id twin): what the tier pair cannot serve runs EXACT raw
      // — more accurate than asked, never a different estimator
      case Some(m) => exactForTierApprox(m)
      case None => DefaultPercentileMode
    }
    // POOLED requests serve from the sums tier: pooling IS the tier's
    // byMetric=false bucket re-aggregate over the id set's semi-join
    // (stacked cannot — it sums per-metric statistics, medians included,
    // which need the raw distribution per metric)
    val family = sumsFamily(mtype)
    val served = if (stacked) None else servingTier(family, b, percentiles,
      mode.getOrElse(MetricsOps.PercentileMode.Exact))
    served match {
      case Some(t) =>
        MetricsOps.gapFill(tierStatsServe(t, family, b, percentiles,
          ids.select("metric"), tenantId, mtype.code.toInt), b)
      case None =>
        val dp = MetricsOps.dataPointsForIds(
          raw().filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt), ids)
        // counters store in l_value — aggregating the gauge column would
        // silently answer empty buckets for every counter stats request
        val valueCol = if (mtype == MetricType.Counter) "l_value" else "n_value"
        // dense (A2) like the reference's NumericBucketPoint.toList finish of
        // findNumericStats (MetricsServiceImpl.java:926-966) — pooled and
        // stacked answers carry all b.count buckets, empties null-filled
        MetricsOps.gapFill(
          if (stacked) MetricsOps.stackedStats(dp, b, percentiles,
            valueCol = valueCol, mode = aggMode)
          else MetricsOps.pooledStats(dp, b, percentiles,
            valueCol = valueCol, mode = aggMode), b)
    }
  }

  /** Multi-metric fromEarliest stats — GET /{type}s/stats?fromEarliest
    * (GaugeHandler.java:571-616 threads the flag through the multi-id
    * findTimeRange): the bucket window spans the longest retention among
    * the selected metrics, ending `now`; the dense answer drops its
    * LEADING empty buckets (`skipWhile(isEmpty)`, GaugeHandler.java:613)
    * — trailing and interior gaps stay null-filled. */
  def findNumericStatsFromEarliest(tenantId: String, mtype: MetricType,
                                   ids: DataFrame, bucketCount: Option[Int],
                                   bucketDuration: Option[GDuration],
                                   percentiles: Seq[Double], stacked: Boolean,
                                   now: Long,
                                   mode: Option[MetricsOps.PercentileMode] = None): DataFrame = {
    // the BucketConfig XOR rule, BEFORE the retention aggregate runs a
    // job — a request rejected with 400 must not cost a catalog scan
    require(bucketCount.isDefined ^ bucketDuration.isDefined,
      "Exactly one of 'buckets' or 'bucketDuration' must be set")
    // the id set feeds BOTH the window resolution and the stats semi-join
    // — materialize the (catalog-sized) selection once
    val idsOnce = ids.localCheckpoint()
    val range = multiFromEarliestRange(tenantId, mtype, idsOnce, now)
    MetricsOps.skipLeadingEmptyBuckets(
      findNumericStats(tenantId, mtype, idsOnce,
        BucketConfig(range, bucketCount, bucketDuration), percentiles, stacked,
        mode))
  }

  /** Rate twin of [[findNumericStatsFromEarliest]] — GET /{type}s/rate/
    * stats?fromEarliest (CounterHandler.java:782-825 threads the flag
    * through the same multi-id findTimeRange). */
  def findRateStatsFromEarliest(tenantId: String, mtype: MetricType,
                                ids: DataFrame, bucketCount: Option[Int],
                                bucketDuration: Option[GDuration],
                                percentiles: Seq[Double], stacked: Boolean,
                                now: Long): DataFrame = {
    require(bucketCount.isDefined ^ bucketDuration.isDefined,
      "Exactly one of 'buckets' or 'bucketDuration' must be set")
    val idsOnce = ids.localCheckpoint()
    val range = multiFromEarliestRange(tenantId, mtype, idsOnce, now)
    MetricsOps.skipLeadingEmptyBuckets(
      findRateStats(tenantId, mtype, idsOnce,
        BucketConfig(range, bucketCount, bucketDuration), percentiles, stacked))
  }

  /** [[findGaugeStats]] with the user's ORIGINAL percentile strings
    * preserved as result column names (the reference echoes the request
    * text back verbatim, Percentile.java:22-38): a request for "99.000"
    * answers in column `p99_000`, not a normalized `p99_0`. */
  def findGaugeStats(id: MetricId, config: BucketConfig,
                     percentiles: Percentiles): DataFrame =
    findGaugeStats(id, config, percentiles, MetricsOps.PercentileMode.Exact)

  def findGaugeStats(id: MetricId, config: BucketConfig,
                     percentiles: Percentiles,
                     mode: MetricsOps.PercentileMode): DataFrame = {
    MetricsService.requireDistinctQuantiles(percentiles) // before the frame
    withOriginalPercentileNames(
      findGaugeStats(id, config, percentiles.quantiles, mode), percentiles)
  }

  private def withOriginalPercentileNames(df: DataFrame,
                                          percentiles: Percentiles): DataFrame =
    MetricsService.withOriginalPercentileNames(df, percentiles)

  /** EP2 — ONE mixed-type stats request (POST /metrics/stats/query,
    * MetricHandler.doStatsQuery:341-466): resolve the tag expression to an
    * id set ONCE, fan out to the requested type branches (gauge,
    * gauge-rate, counter, counter-rate, availability — the reference
    * routes GAUGE_RATE like COUNTER_RATE, MetricHandler.java:368-380,424,
    * 476), one response frame. `percentiles` applies in every numeric
    * branch (StatsQueryRequest.java:30-46). A type's value and rate
    * branches share a single materialized fetch — the reference fetches
    * twice and documents the inefficiency (MetricHandler.java:372-375). */
  def statsQuery(tenantId: String, tagExpression: String, config: BucketConfig,
                 types: Set[MetricType] =
                   Set(MetricType.Gauge, MetricType.Counter, MetricType.Availability),
                 includeCounterRate: Boolean = false,
                 includeGaugeRate: Boolean = false,
                 percentiles: Seq[Double] = Seq.empty): DataFrame = {
    // ids keep their TYPE: the reference resolves per type, and a
    // name-only join would let a tag match on one type admit same-named
    // metrics of every other type into their branches
    val ids = findMetricIdentifiersWithFilters(tenantId, None, tagExpression)
      .select("mtype", "metric").localCheckpoint()
    statsQueryCore(tenantId, ids, config, types, includeCounterRate,
      includeGaugeRate, percentiles)
  }

  /** The shared EP2 fan-out over a resolved `(mtype, metric)` id frame —
    * the body both the tag-driven and the id-driven stats queries feed. */
  private def statsQueryCore(tenantId: String, ids: DataFrame,
                             config: BucketConfig, types: Set[MetricType],
                             includeCounterRate: Boolean,
                             includeGaugeRate: Boolean,
                             percentiles: Seq[Double]): DataFrame = {
    def scoped(t: MetricType): DataFrame =
      MetricsOps.dataPointsForIds(
        raw().filter(col("tenant_id") === tenantId && col("mtype") === t.code.toInt),
        ids.filter(col("mtype") === t.code.toInt))
    // a rate request needs its type's FETCH even when the value branch
    // itself is not requested (rate-only stats are legal)
    val counterNeeded = types(MetricType.Counter) || includeCounterRate
    val gaugeNeeded = types(MetricType.Gauge) || includeGaugeRate
    // the per-type id spines drive the dense-per-queried-metric contract
    // (a selected metric with no data in range still answers empty
    // buckets, like the reference's per-id fetch → toList)
    def spine(t: MetricType): Option[DataFrame] =
      Some(ids.filter(col("mtype") === t.code.toInt).select("metric"))
    MetricsOps.mixedTypeStats(config.buckets,
      gaugeDp = if (gaugeNeeded) Some(scoped(MetricType.Gauge)) else None,
      counterDp = if (counterNeeded) Some(scoped(MetricType.Counter)) else None,
      availDp = if (types(MetricType.Availability)) Some(scoped(MetricType.Availability)) else None,
      includeCounterValue = types(MetricType.Counter),
      includeCounterRate = includeCounterRate,
      includeGaugeValue = types(MetricType.Gauge),
      includeGaugeRate = includeGaugeRate,
      quantiles = percentiles,
      mode = DefaultPercentileMode,
      gaugeIds = if (gaugeNeeded) spine(MetricType.Gauge) else None,
      counterIds = if (counterNeeded) spine(MetricType.Counter) else None,
      availIds = if (types(MetricType.Availability)) spine(MetricType.Availability) else None)
  }

  /** [[statsQuery]] with the user's ORIGINAL percentile strings preserved
    * as result column names (the reference echoes request text back
    * verbatim in every numeric section, Percentile.java:22-38): a mixed
    * request for "99.000" answers in `p99_000` across the gauge, rate,
    * and counter branches alike. */
  def statsQuery(tenantId: String, tagExpression: String, config: BucketConfig,
                 types: Set[MetricType], includeCounterRate: Boolean,
                 includeGaugeRate: Boolean, percentiles: Percentiles): DataFrame = {
    // validate BEFORE building the frame: duplicate-normalizing strings
    // would alias two columns identically inside the plan and die there
    MetricsService.requireDistinctQuantiles(percentiles)
    withOriginalPercentileNames(
      statsQuery(tenantId, tagExpression, config, types, includeCounterRate,
        includeGaugeRate, percentiles.quantiles),
      percentiles)
  }

  /** One EP2 request (POST /metrics/stats/query body). A request names
    * its series by explicit id list OR by tag expression — the reference
    * body's metrics-or-tags union (StatsQueryRequest,
    * MetricHandler.java:418-441) — exactly one of the two: neither would
    * silently contribute zero rows, both is ambiguous. */
  case class StatsRequest(mtype: MetricType, ids: Seq[String], config: BucketConfig,
                          percentiles: Seq[Double] = Seq.empty, stacked: Boolean = false,
                          tagExpression: Option[String] = None) {
    require(ids.nonEmpty ^ tagExpression.nonEmpty,
      "a stats request carries ids OR a tag expression (exactly one)")
  }

  /** Batch variant (/metrics/stats/batch/query, MetricHandler.java:321-338):
    * N independent stats queries, one result frame keyed by request index.
    * Tag-driven requests resolve through the J4 machinery per request.
    * Requests may carry DIFFERENT percentile lists — a request without a
    * given percentile null-pads that column (allowMissingColumns), the
    * same shape rule the EP2 branches use. */
  def statsBatchQuery(tenantId: String, requests: Seq[StatsRequest]): DataFrame = {
    require(requests.nonEmpty, "statsBatchQuery needs at least one request")
    requests.zipWithIndex.map { case (r, i) =>
      oneStatsRequest(tenantId, r).withColumn("request_id", lit(i))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One full reference stats-query body in resolved form
    * (StatsQueryRequest.java:30-46): series named by an explicit per-type
    * id map OR a tag expression — when `metrics` names any stored family
    * the id map drives resolution, like the reference's metrics-first
    * branch (MetricHandler.java:374-377) — with `types` toggling each
    * family between its value and rate branches. */
  case class StatsQueryReq(metrics: Map[MetricType, Seq[String]] = Map.empty,
                           tags: Option[String] = None,
                           config: BucketConfig,
                           types: Set[MetricType] = Set.empty,
                           percentiles: Percentiles = Percentiles(Seq.empty)) {
    // the reference's checkRequiredParams (MetricHandler.java:486-493)
    require(metrics.values.exists(_.nonEmpty) || tags.nonEmpty,
      "Either the metrics or the tags property must be set")
  }

  /** EP2 — one reference-shaped stats query (the single route's body and
    * each batch element, MetricHandler.doStatsQuery:341-466).
    *
    * Id-driven mode (the metrics map names gauge/counter/availability
    * ids): `types` only REDIRECTS a named family between value and rate
    * branches — the reference's per-family if/else keeps computing a
    * family whose ids were given even when `types` lists other families
    * (MetricHandler.java:377-416 final else arms). Tag-driven mode: an
    * empty `types` means all three stored families. ONE deliberate
    * divergence: the reference's tag-driven final else derives rate stats
    * for a family entirely absent from `types`
    * (MetricHandler.java:436-441); here an unrequested family contributes
    * nothing — a types=[counter] tags query answers only counters. */
  def statsQuery(tenantId: String, req: StatsQueryReq): DataFrame = {
    MetricsService.requireDistinctQuantiles(req.percentiles)
    val ts = req.types
    val provided = req.metrics.collect { case (t, mids) if mids.nonEmpty => t -> mids }
    val stored = Seq(MetricType.Gauge, MetricType.Counter, MetricType.Availability)
    val out =
      if (stored.exists(provided.contains)) {
        val s = spark
        import s.implicits._
        // request-sized literal frame — no checkpoint needed
        val idRows = stored.flatMap(t =>
          provided.getOrElse(t, Seq.empty).map(id => (t.code.toInt, id)))
        def valueWanted(v: MetricType, r: MetricType): Boolean =
          provided.contains(v) && (ts.isEmpty || ts(v) || !ts(r))
        statsQueryCore(tenantId, idRows.toDF("mtype", "metric"), req.config,
          types =
            (if (valueWanted(MetricType.Gauge, MetricType.GaugeRate))
               Set[MetricType](MetricType.Gauge) else Set.empty[MetricType]) ++
            (if (valueWanted(MetricType.Counter, MetricType.CounterRate))
               Set(MetricType.Counter) else Set.empty) ++
            (if (provided.contains(MetricType.Availability))
               Set(MetricType.Availability) else Set.empty),
          includeCounterRate =
            provided.contains(MetricType.Counter) && ts(MetricType.CounterRate),
          includeGaugeRate =
            provided.contains(MetricType.Gauge) && ts(MetricType.GaugeRate),
          percentiles = req.percentiles.quantiles)
      } else {
        val effective: Set[MetricType] =
          if (ts.isEmpty) Set(MetricType.Gauge, MetricType.Counter, MetricType.Availability)
          else ts.filter(t => stored.contains(t))
        statsQuery(tenantId,
          req.tags.getOrElse(throw new IllegalArgumentException(
            "Either the metrics or the tags property must be set")),
          req.config, effective, ts(MetricType.CounterRate),
          ts(MetricType.GaugeRate), req.percentiles.quantiles)
      }
    // the wire layer serializes BucketPoints by their [start, end) bounds
    // (the internal index never leaves the server) — attach them here,
    // where the bucket config is in scope; the Seq[Double]-percentile
    // overloads keep their index-keyed frame shape
    val b = req.config.buckets
    val bounded = out
      .withColumn("bucket_start", graft.functions.GraftFunctions.bucketStart(col("bucket"), b))
      .withColumn("bucket_end", graft.functions.GraftFunctions.bucketEnd(col("bucket"), b))
    if (req.percentiles.values.isEmpty) bounded
    else withOriginalPercentileNames(bounded, req.percentiles)
  }

  /** Batch keyed by caller-supplied NAMES — POST /metrics/stats/batch/
    * query's reference body shape (`Map<String, StatsQueryRequest>`,
    * MetricHandler.findStatsBatched:321-338): each entry is a FULL stats
    * query evaluated independently, one response frame keyed by
    * `request_key` (the wire layer nests the per-key sections —
    * WireCodec's named-batch case). Entries may carry DIFFERENT
    * percentile lists — an entry without a given percentile null-pads
    * that column (allowMissingColumns), like the index-keyed form. */
  def statsBatchQueryNamed(tenantId: String,
                           requests: Seq[(String, StatsQueryReq)]): DataFrame = {
    require(requests.nonEmpty, "statsBatchQueryNamed needs at least one request")
    requests.map { case (name, r) =>
      statsQuery(tenantId, r).withColumn("request_key", lit(name))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def oneStatsRequest(tenantId: String, r: StatsRequest): DataFrame =
    r.tagExpression match {
      case Some(expr) =>
        findNumericStats(tenantId, r.mtype,
          findMetricIdentifiersWithFilters(tenantId, Some(r.mtype), expr),
          r.config, r.percentiles, r.stacked)
      case None =>
        findNumericStats(tenantId, r.mtype, r.ids, r.config, r.percentiles, r.stacked)
    }

  /** Availability fetch: `distinct` applies BEFORE `limit` (the reference
    * fetches unlimited, collapses runs in FETCH order — so a DESC fetch
    * keeps each run's latest point — then limits,
    * MetricsServiceImpl.java:972-979). Note strings are the opposite. */
  def findAvailabilityData(id: MetricId, start: Option[Long], end: Option[Long],
                           distinct: Boolean = false, limit: Int = 0,
                           order: Option[Order] = None,
                           now: Long = System.currentTimeMillis()): DataFrame =
    if (distinct) {
      val range = TimeRange(start.map(_.toString), end.map(_.toString), now)
      val ord = order.getOrElse(Order.defaultValue(limit, start, end))
      // plain range filter — no presentation sort of the unlimited fetch,
      // the collapse window re-orders by (metric, time) anyway
      val collapsed = MetricsOps.distinctContiguous(
        series(id).filter(MetricsOps.inRange(range)), "avail", ord)
      if (limit > 0) MetricsOps.orderedLimit(collapsed, ord, limit)
      else ord match {
        case Order.Asc  => collapsed.repartition(col("metric"))
          .sortWithinPartitions(col("metric"), col("time").asc)
        case Order.Desc => collapsed.repartition(col("metric"))
          .sortWithinPartitions(col("metric"), col("time").desc)
      }
    } else findDataPoints(id, start, end, limit, order, now)

  def findAvailabilityStats(id: MetricId, config: BucketConfig): DataFrame = {
    val b = config.buckets
    servingTier(Avail, b) match {
      // the availability tier's served shape is COMPLETE (no order
      // statistics involved) — aligned requests answer bit-equal from
      // hour summaries + boundary facts, with the same dense finish
      case Some(t) =>
        val shape = Seq("metric", "bucket", "up_ms", "down_ms", "unknown_ms",
          "admin_ms", "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
        MetricsOps.gapFill(
          GraftStorage.rollupAvailStats(spark, t.avail, b,
            ids = Some(oneMetric(id.name)), tenant = Some(id.tenantId))
            .select(shape.map(col): _*),
          b, Seq("metric"), Some(oneMetric(id.name)))
      case None =>
        MetricsOps.availabilityBucketStatsFilled(series(id), b,
          keySpine = Some(oneMetric(id.name)))
    }
  }

  /** Counter tagged stats (A6 for counters, MetricsService.java:307). */
  def findCounterStats(id: MetricId, tags: Map[String, String],
                       percentiles: Seq[Double],
                       start: Long, end: Long): DataFrame =
    MetricsOps.taggedStats(
      series(id).filter(col("time") >= start && col("time") < end), tags, percentiles,
      valueCol = "l_value")

  /** String fetch: unlike availability, the reference applies `limit` to
    * the RAW fetch and distincts the limited page
    * (MetricsServiceImpl.java:1002-1003) — a quirk REST tests depend on,
    * reproduced as-is. */
  def findStringData(id: MetricId, start: Option[Long], end: Option[Long],
                     distinct: Boolean = false, limit: Int = 0,
                     order: Option[Order] = None,
                     now: Long = System.currentTimeMillis()): DataFrame = {
    val base = findDataPoints(id, start, end, limit, order, now)
    val ord = order.getOrElse(Order.defaultValue(limit, start, end))
    if (distinct) MetricsOps.distinctContiguous(base, "s_value", ord) else base
  }

  /** Counter parity feeds ASC — the reference fetches counters ascending
    * before accumulating (MetricsServiceImpl.java:1014), opposite the
    * gauge DESC rule. */
  def findCounterStats(id: MetricId, config: BucketConfig,
                       percentiles: Seq[Double] = Seq.empty,
                       mode: MetricsOps.PercentileMode =
                         MetricsOps.PercentileMode.Exact): DataFrame = {
    val b = config.buckets
    // the distribution tier covers gauges only (writeRollupHist aggregates
    // n_value); counter TierApprox percentiles resolve to the exact raw
    // path — more accurate than asked for, never silently different
    servingTier(CounterSums, b, percentiles, mode) match {
      case Some(t) => // tier serve, findGaugeStats' posture
        MetricsOps.gapFill(tierStatsServe(t, CounterSums, b, Seq.empty,
          oneMetric(id.name), id.tenantId, id.mtype.toInt), b)
      case None =>
        MetricsOps.gapFill(
          MetricsOps.numericBucketStats(series(id), b, percentiles, valueCol = "l_value",
            mode = exactForTierApprox(mode), parityFeedOrder = Order.Asc), b)
    }
  }

  /** W1 — COUNTER_RATE / GAUGE_RATE virtual types (limit after pairing,
    * MetricsServiceImpl.java:882). UNRANGED — the REST route's ranged twin
    * below resolves absent params to the now-8h default. */
  def findRateData(id: MetricId, limit: Int = 0, order: Order = Order.Asc): DataFrame = {
    val t = MetricType.fromCode(id.mtype)
    MetricsOps.rate(series(id), isCounter = t == MetricType.Counter,
      valueCol = if (t == MetricType.Counter) "l_value" else "n_value",
      order = order, limit = limit)
  }

  /** Ranged variant — the reference's `findRateData(metricId, start, end,
    * limit, order)` behind GET /{id}/rate (CounterHandler.java:569-631):
    * the range (absent bounds default to now-8h..now) bounds the FETCH,
    * the pairing window runs inside it (a range's first point has no
    * predecessor and yields no rate), and the order defaults by the T3
    * rule when unspecified. */
  def findRateData(id: MetricId, start: Option[Long], end: Option[Long],
                   limit: Int, order: Option[Order], now: Long): DataFrame = {
    val t = MetricType.fromCode(id.mtype)
    val range = TimeRange(start.map(_.toString), end.map(_.toString), now)
    val ord = order.getOrElse(Order.defaultValue(limit, start, end))
    MetricsOps.rate(series(id).filter(MetricsOps.inRange(range)),
      isCounter = t == MetricType.Counter,
      valueCol = if (t == MetricType.Counter) "l_value" else "n_value",
      order = ord, limit = limit)
  }

  /** Multi-metric ranged rate fetch by explicit id list — the engine of
    * GET|POST /{type}s/rate/query (GaugeHandler.java:352-390): semi-join
    * the id set, bound the fetch by the range, derive W1 rates per metric
    * (the rate window partitions by metric), then the T1/T2 ordering. */
  def findRateData(tenantId: String, mtype: MetricType, ids: Seq[String],
                   start: Option[Long], end: Option[Long], limit: Int,
                   order: Option[Order], now: Long): DataFrame = {
    val s = spark
    import s.implicits._
    findRateData(tenantId, mtype, ids.toDF("metric"), start, end, limit, order, now)
  }

  /** Same, with the id set coming from a frame (tag-resolved selection).
    * `limit` bounds EACH series' rates (reference :886-890). */
  def findRateData(tenantId: String, mtype: MetricType, ids: DataFrame,
                   start: Option[Long], end: Option[Long], limit: Int,
                   order: Option[Order], now: Long): DataFrame = {
    val range = TimeRange(start.map(_.toString), end.map(_.toString), now)
    val ord = order.getOrElse(Order.defaultValue(limit, start, end))
    val scoped = raw().filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt)
    MetricsOps.perMetricLimitOrdered(
      MetricsOps.rate(
        MetricsOps.dataPointsForIds(scoped, ids).filter(MetricsOps.inRange(range)),
        isCounter = mtype == MetricType.Counter,
        valueCol = if (mtype == MetricType.Counter) "l_value" else "n_value",
        order = ord),
      ord, limit)
  }

  /** `mode` (ENGINE EXTENSION): Exact (default, today's behavior) or
    * TierApprox — aligned in-watermark rate-percentile requests answer
    * from the RATE tier pair (within-hour partials + boundary facts for
    * the five stats; binned rate counts + the quantile walk for the
    * percentiles — [[graft.storage.GraftStorage.rollupRateHistogram]]),
    * so a p95-of-rates dashboard reads hours × metrics × bins rows, raw
    * never scanned; anything the pair cannot serve runs the exact raw
    * path. The estimator modes (p2parity/p2sketch) are not defined for
    * this surface and refuse loudly. */
  def findRateStats(id: MetricId, config: BucketConfig,
                    percentiles: Seq[Double] = Seq.empty,
                    mode: MetricsOps.PercentileMode =
                      MetricsOps.PercentileMode.Exact): DataFrame = {
    val t = MetricType.fromCode(id.mtype)
    val b = config.buckets
    val isCounter = t == MetricType.Counter
    require(mode == MetricsOps.PercentileMode.Exact ||
      mode == MetricsOps.PercentileMode.TierApprox,
      s"Invalid percentileMode for rate stats (expected exact or tier)")
    val family = rateFamily(isCounter)
    servingTier(family, b, percentiles, mode) match {
      // rate tier serve: within-hour partials + boundary pairs, the same
      // pre-range-anchor semantics the raw W1 path has (spec-pinned);
      // TierApprox percentiles walk the rate-distribution tier
      case Some(l) =>
        val ids = Some(oneMetric(id.name))
        MetricsOps.gapFill(withTierPercentiles(
          GraftStorage.rollupRateStats(spark, family.tier(l), b, isCounter = isCounter,
            byMetric = false, ids = ids, tenant = Some(id.tenantId),
            mtypeCode = Some(id.mtype.toInt)),
          GraftStorage.rollupRateHistogram(spark, family.hist.get(l), family.tier(l), b,
            isCounter = isCounter, ids = ids, tenant = Some(id.tenantId),
            mtypeCode = Some(id.mtype.toInt)),
          percentiles), b)
      case None =>
        // dense like every reference numeric-stats answer: rate stats flow
        // through the same NumericBucketPointTransformer → BucketPoint.toList
        // (CounterHandler.java:640-679), so empty buckets are emitted null
        MetricsOps.gapFill(
          MetricsOps.rateStats(series(id), b, isCounter = isCounter,
            valueCol = if (isCounter) "l_value" else "n_value",
            quantiles = percentiles), b)
    }
  }

  /** A4/A5 over the RATE series of an id set — the reference's
    * `findNumericStats(..., isRate=true)` behind GET /counters/rate/stats
    * and /gauges/rate/stats (CounterHandler.java:782-825): derive W1
    * rates per metric, then pool (or stack) the rate points into bucket
    * stats. One fetch, one rate window, one aggregate. */
  def findRateStats(tenantId: String, mtype: MetricType, ids: DataFrame,
                    config: BucketConfig, percentiles: Seq[Double],
                    stacked: Boolean): DataFrame = {
    val dp = MetricsOps.dataPointsForIds(
      raw().filter(col("tenant_id") === tenantId && col("mtype") === mtype.code.toInt), ids)
    // fetch the RANGE first, derive rates within it (the reference rates
    // the fetched window — a point just before `start` anchors no pair),
    // the same order mixedTypeStats uses for its rate branches
    val rates = MetricsOps.rate(dp.filter(MetricsOps.inRange(config.range)),
      isCounter = mtype == MetricType.Counter,
      valueCol = if (mtype == MetricType.Counter) "l_value" else "n_value")
    val b = config.buckets
    // dense finish, same as the value twin above
    MetricsOps.gapFill(
      if (stacked) MetricsOps.stackedStats(rates, b, percentiles,
        valueCol = "rate", mode = DefaultPercentileMode)
      else MetricsOps.pooledStats(rates, b, percentiles,
        valueCol = "rate", mode = DefaultPercentileMode), b)
  }

  /** [[findRateStats]] over an explicit id list. */
  def findRateStats(tenantId: String, mtype: MetricType, ids: Seq[String],
                    config: BucketConfig, percentiles: Seq[Double],
                    stacked: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    findRateStats(tenantId, mtype, ids.toDF("metric"), config, percentiles, stacked)
  }

  /** W2 — maximal predicate-true runs within a range (reference
    * getPeriods(id, predicate, start, end):1026-1056). Absent bounds
    * default to the REST layer's [now-8h, now) window (TimeRange rule) —
    * the reference API requires explicit bounds, its REST front fills in
    * the same default. */
  def getPeriods(id: MetricId, predicate: Column,
                 start: Option[Long] = None, end: Option[Long] = None,
                 now: Long = System.currentTimeMillis()): DataFrame = {
    val range = TimeRange(start.map(_.toString), end.map(_.toString), now)
    MetricsOps.periods(series(id).filter(MetricsOps.inRange(range)), predicate)
  }
}
