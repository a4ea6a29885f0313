package graft.operators

import graft.functions.GraftFunctions
import graft.model._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/**
 * The time-series operator library, over the canonical datapoint frame
 * (columns: tenant_id, mtype, metric, time[epoch ms], n_value, l_value,
 * avail, s_value, tags — mirroring the reference's fixed one-column-per-type
 * schema, core/schema/.../bootstrap.groovy:101-115).
 *
 * All operators are declarative DataFrame plans: filters and projections
 * push down to the parquet scan, aggregations get map-side partial
 * aggregation, windows shuffle once on (metric) or (metric, bucket).
 * Nothing collects to the driver.
 */
object MetricsOps {

  /** F1 — time-range predicate, start inclusive / end exclusive
    * (reference param/TimeRange.java:31-73). */
  def inRange(range: TimeRange): Column =
    col("time") >= range.start && col("time") < range.end

  /**
   * S4 + F9 + T1 + T2 — raw datapoint fetch: range scan, order by time,
   * optional limit (reference DataAccessImpl.java:158-176, Order.java:30-74).
   * The metric tie-break keeps LIMIT deterministic across runs.
   *
   * With a limit the global sort collapses to TakeOrderedAndProject (top-k
   * per partition + driver merge — no shuffle of the data). Without one, a
   * global total order would be a full range-shuffle sort for a property
   * that is only presentational, so we sort within partitions after
   * clustering by metric — per-metric time order (what the reference's
   * per-metric CQL scans actually delivered) at one hash shuffle.
   */
  def rawDataPoints(dp: DataFrame, range: TimeRange, order: Order = Order.Desc,
                    limit: Int = 0): DataFrame = {
    val filtered = dp.filter(inRange(range))
    if (limit > 0) orderedLimit(filtered, order, limit)
    else {
      val timeCol = order match {
        case Order.Asc  => col("time").asc
        case Order.Desc => col("time").desc
      }
      filtered.repartition(col("metric")).sortWithinPartitions(col("metric"), timeCol)
    }
  }

  /**
   * F8 — cross-tier dedup: deterministic LAST-write-wins per (metric, time),
   * matching the reference's cross-tier merge + Cassandra upsert semantics
   * (MetricsServiceImpl.java:685-687, DataAccessImpl.java:215-221). `seqCol`
   * is the write-order column (tier index / ingest sequence); the highest
   * value wins. One shuffle on the dedup key; no arbitrary-row dropDuplicates.
   */
  def dedupTiers(dp: DataFrame, seqCol: String = "tier",
                 tieBreak: Seq[Column] = Seq.empty): DataFrame = {
    // `tieBreak` orders rows that share a seq value (e.g. one write batch
    // stamping a single ingest_seq) so the winner is deterministic — see
    // GraftStorage.valueTieBreak for the canonical-frame instance
    val w = Window.partitionBy(col("tenant_id"), col("mtype"), col("metric"), col("time"))
      .orderBy(col(seqCol).desc +: tieBreak.map(_.desc): _*)
    dp.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // -----------------------------------------------------------------------
  // Deterministic numeric aggregate builders.
  //
  // Double addition is order-sensitive; Spark merges partial aggregates in
  // shuffle-arrival order, so a plain sum(double) is not even run-to-run
  // deterministic. Summing through DECIMAL(28,10) is exact and associative
  // — bit-identical across runs, partitionings, and engines (the DuckDB
  // oracle uses the same cast). avg is derived from the exact sum.
  // -----------------------------------------------------------------------

  private def decSum(v: Column): Column = sum(v.cast("decimal(28,10)")).cast("double")

  /** The five deterministic base aggregates every stats mode shares —
    * ONE copy so the decimal-sum recipe can't desynchronize across
    * percentile strategies. */
  private def baseAggs(v: Column): Seq[Column] =
    Seq(
      min(v).as("min"),
      (decSum(v) / count(v)).as("avg"),
      max(v).as("max"),
      decSum(v).as("sum"),
      count(v).as("samples"))

  /** min/avg/max/sum/samples + exact interpolated percentiles + median. */
  private[graft] def statAggs(v: Column, quantiles: Seq[Double]): Seq[Column] =
    baseAggs(v) ++
      quantiles.map(q => percentile(v, lit(q / 100.0)).as(pctColName(q))) :+
      percentile(v, lit(0.5)).as("median")

  /** [[statAggs]] with the percentile strategy selectable — Exact for
    * oracle-grade results, P2Sketch (O(1) state per group) for unbounded
    * groups. Shared by every A1-family entry point so the 100 TB
    * percentile path is reachable from pooled, tagged, and rate stats,
    * not just gauge stats. (P2Parity needs the ordered-array feed and
    * stays inside [[numericBucketStats]].) */
  private[graft] def statAggsFor(v: Column, quantiles: Seq[Double],
                                 mode: PercentileMode): Seq[Column] = mode match {
    case PercentileMode.Exact => statAggs(v, quantiles)
    case PercentileMode.P2Sketch =>
      baseAggs(v) ++
        quantiles.map(q =>
          GraftFunctions.p2SketchAgg(q / 100.0)(v).as(pctColName(q))) :+
        GraftFunctions.p2SketchAgg(0.5)(v).as("median")
    case PercentileMode.P2Parity =>
      throw new IllegalArgumentException(
        "P2Parity requires the ordered-array path in numericBucketStats")
    case _: PercentileMode.Adaptive =>
      throw new IllegalArgumentException(
        "Adaptive must be resolved against the input frame first (resolveMode)")
    case PercentileMode.TierApprox => throw tierApproxRefusal()
  }

  /** TierApprox is resolved by the caller, never aggregated here — the
    * one refusal both aggregate entry points raise. */
  private def tierApproxRefusal() = new IllegalArgumentException(
    "TierApprox is a dispatch-level mode (MetricsService routes it to the " +
      "histogram tier or resolves it to Exact) — it never reaches an aggregate")

  // -----------------------------------------------------------------------
  // A1/A2 — numeric bucket statistics + gap fill
  // -----------------------------------------------------------------------

  /** Percentile strategies for A1-family stats. */
  sealed trait PercentileMode
  object PercentileMode {
    /** Spark's exact interpolated `percentile` — distributed partial agg,
      * oracle-comparable; memory ∝ distinct values per bucket. */
    case object Exact extends PercentileMode
    /** Bit-parity with the reference's streaming estimator: per-bucket
      * time-ordered array through commons-math PSquarePercentile. Parity
      * TESTS ONLY — a bucket's points must fit in memory. */
    case object P2Parity extends PercentileMode
    /** The 100 TB path: graft's own P² marker sketch as a Spark Aggregator
      * with O(1) state and a CDF-mixture merge (see functions.P2Sketch). */
    case object P2Sketch extends PercentileMode
    /** Plan-time auto-switch: Exact while the estimated values-per-group
      * stays under `maxExactValuesPerGroup`, P2Sketch past it — Exact
      * percentile state is ∝ distinct values per group, so an unbounded
      * group (pooled stats over a 100 TB scan) would OOM an executor,
      * while the sketch is O(1) per group. Resolution happens at plan
      * build from the optimizer's size estimate (the
      * `LiteralAssignMaxCells` pattern, Similarity.scala), so oracle-grade
      * fixtures keep bit-exact Exact results and only genuinely unbounded
      * groups pay the approximation. */
    case class Adaptive(maxExactValuesPerGroup: Long = 1000000L) extends PercentileMode
    /** DISPATCH-level opt-in (resolved in [[graft.api.MetricsService]],
      * never inside an aggregate): aligned, in-watermark percentile
      * requests answer from the HISTOGRAM tier — hour bin-counts merged
      * to the request grid ([[graft.storage.GraftStorage.rollupHistogram]])
      * then walked by [[MetricsOps.histogramQuantile]] — so a p95
      * dashboard reads hours × metrics × bins rows, never raw. The
      * estimate is bin-interpolated (error ≤ ~2 bin widths, audited by
      * hist_quantile_accuracy); requests the tier cannot serve
      * (misaligned grid, no histogram tier, past the freshness
      * watermark) run the EXACT raw path instead — the fallback is more
      * accurate than the ask, never silently empty. */
    case object TierApprox extends PercentileMode
  }

  /** Resolve [[PercentileMode.Adaptive]] against a plan-time row estimate
    * of `in` divided by a LOWER BOUND on the group count (`minGroups`) —
    * under-counting groups over-estimates values-per-group, so the switch
    * errs toward the bounded-memory sketch, never toward an OOM. When the
    * optimizer has no exact row count, the fallback divides `sizeInBytes`
    * (for a file scan: the COMPRESSED on-disk size) by a deliberately
    * small 4 bytes/row, OVER-counting rows by roughly the compression
    * ratio × row width / 4 — the same safe direction: dividing by the
    * in-memory schema width here would under-count by an order of
    * magnitude and flip large scans back to Exact, the one error this
    * mode exists to prevent. */
  private def resolveMode(in: DataFrame, minGroups: Long,
                          mode: PercentileMode): PercentileMode = mode match {
    case PercentileMode.Adaptive(maxExact) =>
      val st = in.queryExecution.optimizedPlan.stats
      val estRows = st.rowCount.map(_.toLong).getOrElse((st.sizeInBytes / 4).toLong)
      if (estRows / math.max(minGroups, 1L) > maxExact) PercentileMode.P2Sketch
      else PercentileMode.Exact
    case m => m
  }

  /**
   * A1 — per-bucket numeric stats (reference
   * transformers/NumericDataPointCollector.java:40-117): min, avg, median,
   * max, sum, samples, plus requested percentiles.
   */
  /**
   * `parityFeedOrder` applies to the P2Parity path only: the reference
   * feeds its per-bucket estimator in fetch order — DESC for gauge stats
   * (MetricsServiceImpl.java:914) but ASC for counters (:1014) — and P²
   * is order-sensitive, so parity requires reproducing the feed order.
   */
  def numericBucketStats(dp: DataFrame, b: Buckets,
                         quantiles: Seq[Double] = Seq.empty,
                         byMetric: Boolean = false,
                         valueCol: String = "n_value",
                         mode: PercentileMode = PercentileMode.Exact,
                         parityFeedOrder: Order = Order.Asc): DataFrame = {
    val v = col(valueCol).cast("double")
    val in = dp
      .filter(col("time") >= b.start && col("time") < b.end)
      .withColumn("bucket", GraftFunctions.bucketIndex("time", b))
    val keys = if (byMetric) Seq(col("metric"), col("bucket")) else Seq(col("bucket"))

    val base = baseAggs(v)

    // b.count is a LOWER bound on the group count (byMetric multiplies it
    // by the metric cardinality), which resolveMode needs — see its doc
    resolveMode(in, b.count, mode) match {
      case resolved @ (PercentileMode.Exact | PercentileMode.P2Sketch) =>
        val aggs = statAggsFor(v, quantiles, resolved)
        in.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

      case PercentileMode.P2Parity =>
        // deterministic time-ordered per-bucket array, in the reference's
        // feed order. The reference appends an implicit extra p50 as the
        // median, computed by its own estimator instance
        // (NumericDataPointCollector.java:61).
        val asc = parityFeedOrder == Order.Asc
        val arr = sort_array(collect_list(struct(col("time"), v.as("v"))), asc = asc).as("pts")
        val withArr = in
          .groupBy(keys: _*)
          .agg((base :+ arr).head, (base :+ arr).tail: _*)
          .withColumn("ordered", col("pts.v"))
        val withPcts = quantiles.foldLeft(withArr) { (d, q) =>
          d.withColumn(pctColName(q), GraftFunctions.p2Percentile(col("ordered"), lit(q)))
        }
        withPcts
          .withColumn("median", GraftFunctions.p2Percentile(col("ordered"), lit(50.0)))
          .drop("pts", "ordered")

      case _: PercentileMode.Adaptive =>
        throw new IllegalStateException("unreachable: Adaptive resolves to Exact or P2Sketch")

      case PercentileMode.TierApprox => throw tierApproxRefusal()
    }
  }

  def pctColName(q: Double): String = "p" + q.toString.replace('.', '_')

  /**
   * Verification frame for the P² sketch: per bucket, the EXACT A1 stats
   * (incl. exact p90/p99/median) plus the sketch's estimates (`sk_*`) and
   * each estimate's realized rank — the fraction of the bucket at or
   * below it (`r90`/`r99`/`r50`). The accuracy-banded oracle query
   * (gauge_stats_p2sketch) enforces its band on these realized ranks.
   */
  def p2SketchAccuracy(dp: DataFrame, b: Buckets,
                       valueCol: String = "n_value"): DataFrame = {
    val v = col(valueCol).cast("double")
    val in = dp.filter(col("time") >= b.start && col("time") < b.end)
      .withColumn("bucket", GraftFunctions.bucketIndex("time", b))
    val aggs = statAggs(v, Seq(90.0, 99.0)) ++ Seq(
      GraftFunctions.p2SketchAgg(0.9)(v).as("sk_p90"),
      GraftFunctions.p2SketchAgg(0.99)(v).as("sk_p99"),
      GraftFunctions.p2SketchAgg(0.5)(v).as("sk_median"))
    val st = in.groupBy(col("bucket")).agg(aggs.head, aggs.tail: _*)
    val sk = st.select(col("bucket"), col("sk_p90"), col("sk_p99"), col("sk_median"))
    def rankOf(skc: String) =
      sum(when(v <= col(skc), 1L).otherwise(0L)).cast("double") / count(v)
    val ranks = in.join(broadcast(sk), "bucket").groupBy(col("bucket")).agg(
      rankOf("sk_p90").as("r90"), rankOf("sk_p99").as("r99"), rankOf("sk_median").as("r50"))
    st.join(ranks, "bucket")
  }

  /**
   * A2 — gap-filling densify: output exactly `b.count` buckets per key, with
   * nulls for empty buckets (reference BucketPoint.java:66-83,
   * NumericBucketPoint.java:106-108 NaN→null).
   *
   * The bucket spine is tiny (`b.count` rows) so Catalyst broadcasts it; per
   * key the join is a broadcast hash join, no extra shuffle of `stats`.
   */
  /**
   * `keySpine` is the frame of key combinations that must appear in the
   * output (e.g. the QUERIED metric-id list from the tag compiler / J3) —
   * deriving it from `stats` itself would drop metrics with zero points in
   * range, which the reference never does (BucketPoint.java:66-83 emits a
   * full dense list per queried metric).
   */
  def gapFill(stats: DataFrame, b: Buckets, keyCols: Seq[String] = Seq.empty,
              keySpine: Option[DataFrame] = None): DataFrame = {
    val spark = stats.sparkSession
    val spine0 = spark.range(b.count).toDF("bucket")
    val spine =
      if (keyCols.isEmpty) spine0
      else keySpine.getOrElse(stats.select(keyCols.map(col): _*).distinct())
        .crossJoin(broadcast(spine0))
    spine
      .join(stats, keyCols :+ "bucket", "left")
      .withColumn("bucket_start", GraftFunctions.bucketStart(col("bucket"), b))
      .withColumn("bucket_end", GraftFunctions.bucketEnd(col("bucket"), b))
  }

  /**
   * `fromEarliest` result shaping (GaugeHandler.java:449-496): drop
   * LEADING empty buckets from a gap-filled stats frame — trailing and
   * interior gaps stay null-filled. The first non-empty bucket index is a
   * 1-row aggregate broadcast into a filter, not a driver round trip.
   */
  def skipLeadingEmptyBuckets(filled: DataFrame): DataFrame = {
    val first = filled.filter(col("samples").isNotNull)
      .agg(coalesce(min(col("bucket")), lit(Long.MaxValue)).as("__first"))
    filled.crossJoin(broadcast(first))
      .filter(col("bucket") >= col("__first"))
      .drop("__first")
  }

  // -----------------------------------------------------------------------
  // A4/A5 — stacked and pooled multi-metric stats
  // -----------------------------------------------------------------------

  /**
   * A4 — stacked multi-metric stats (reference MetricsServiceImpl.java:942-965,
   * SumNumericBucketPointCollector.java:32-88): compute A1 per metric, then
   * per bucket SUM each statistic across metrics — including the percentile
   * values (statistically odd, but that is the spec) — and report `samples`
   * as the number of contributing (non-empty) metrics.
   */
  def stackedStats(dp: DataFrame, b: Buckets, quantiles: Seq[Double] = Seq.empty,
                   valueCol: String = "n_value",
                   mode: PercentileMode = PercentileMode.Exact): DataFrame = {
    val per = numericBucketStats(dp, b, quantiles, byMetric = true,
      valueCol = valueCol, mode = mode)
    val statCols = Seq("min", "avg", "median", "max", "sum") ++ quantiles.map(pctColName)
    // outer sums go through decimal too — see decSum note above
    val aggs = statCols.map(c => decSum(col(c)).as(c)) :+ count(lit(1)).as("samples")
    per.groupBy(col("bucket")).agg(aggs.head, aggs.tail: _*)
  }

  /** A5 — unstacked: pool all metrics' datapoints into a single A1.
    * Pooled buckets are the unbounded ones (every metric's points share
    * `buckets.count` groups), so the P2Sketch mode matters most here. */
  def pooledStats(dp: DataFrame, b: Buckets, quantiles: Seq[Double] = Seq.empty,
                  valueCol: String = "n_value",
                  mode: PercentileMode = PercentileMode.Exact): DataFrame =
    numericBucketStats(dp, b, quantiles, byMetric = false, valueCol = valueCol,
      mode = mode)

  // -----------------------------------------------------------------------
  // A6 — tagged bucket stats
  // -----------------------------------------------------------------------

  /**
   * A6 — filter datapoints by per-point tag patterns (F5: AND of filter
   * patterns, reference TaggedBucketPointTransformer.java:53-64), then group
   * by the combination of the actual tag values
   * (TaggedDataPointCollector.java:38-85).
   */
  def taggedStats(dp: DataFrame, tagFilters: Map[String, String],
                  quantiles: Seq[Double] = Seq.empty,
                  valueCol: String = "n_value",
                  mode: PercentileMode = PercentileMode.Exact): DataFrame = {
    val v = col(valueCol).cast("double")
    val filtered = tagFilters.foldLeft(dp) { case (d, (k, pat)) =>
      d.filter(GraftFunctions.filterPattern(element_at(col("tags"), k), pat))
    }
    val sortedKeys = tagFilters.keys.toSeq.sorted
    val groupCols = sortedKeys.map(k => element_at(col("tags"), k).as(s"tag_$k"))
    // tag-value group count is unknowable at plan time → minGroups = 1
    // (the worst case: every point in one group), erring toward the sketch
    val aggs = statAggsFor(v, quantiles, resolveMode(filtered, 1L, mode))
    filtered.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  // -----------------------------------------------------------------------
  // A3 — availability bucket statistics (ordered state machine)
  // -----------------------------------------------------------------------

  /**
   * A3 — availability bucket stats, exact port of the reference state
   * machine (AvailabilityDataPointCollector.java:34-109), re-expressed as
   * window functions so it stays distributed:
   *
   *  - each point's state covers [its ts, next ts) within the bucket; the
   *    FIRST point's state additionally covers [bucketStart, firstTs)
   *    (first-segment attribution, :62-70);
   *  - the last segment extends to bucket end (:91-100);
   *  - `uptimeRatio = upDuration / step`;
   *  - `notUpCount` counts not-UP segment STARTS (a not-UP first point
   *    counts; consecutive not-UP points count once);
   *  - `lastNotUptime` = end of the last not-UP segment (bucket end if the
   *    bucket ends not-UP), 0 when the bucket has no not-UP time.
   */
  def availabilityBucketStats(dp: DataFrame, b: Buckets): DataFrame = {
    val up = AvailabilityType.Up.code.toInt
    val in = dp
      .filter(col("time") >= b.start && col("time") < b.end)
      .withColumn("bucket", GraftFunctions.bucketIndex("time", b))
    val w = Window.partitionBy(col("metric"), col("bucket")).orderBy(col("time"))
    val seg = in
      .withColumn("rn", row_number().over(w))
      .withColumn("seg_start",
        when(col("rn") === 1, GraftFunctions.bucketStart(col("bucket"), b)).otherwise(col("time")))
      .withColumn("seg_end",
        coalesce(lead(col("time"), 1).over(w), GraftFunctions.bucketEnd(col("bucket"), b)))
      .withColumn("dur", col("seg_end") - col("seg_start"))
      .withColumn("prev_avail", lag(col("avail"), 1).over(w))

    def stateMs(code: Int, name: String) =
      coalesce(sum(when(col("avail") === code, col("dur"))), lit(0L)).as(name)

    seg.groupBy(col("metric"), col("bucket")).agg(
      stateMs(up, "up_ms"),
      stateMs(AvailabilityType.Down.code.toInt, "down_ms"),
      stateMs(AvailabilityType.Unknown.code.toInt, "unknown_ms"),
      stateMs(AvailabilityType.Admin.code.toInt, "admin_ms"),
      coalesce(max(when(col("avail") =!= up, col("seg_end"))), lit(0L)).as("last_not_uptime"),
      sum(when(col("avail") =!= up && (col("prev_avail").isNull || col("prev_avail") === up), 1L)
        .otherwise(0L)).as("not_up_count"),
      count(lit(1)).as("samples")
    ).withColumn("uptime_ratio", col("up_ms").cast("double") / lit(b.step.toDouble))
  }

  /** A3 + A2 — availability stats gap-filled to exactly `b.count` buckets
    * per metric (the reference's dense AvailabilityBucketPoint list,
    * BucketPoint.java:66-83), with the queried-metric spine rule. */
  def availabilityBucketStatsFilled(dp: DataFrame, b: Buckets,
                                    keySpine: Option[DataFrame] = None): DataFrame =
    gapFill(availabilityBucketStats(dp, b), b, Seq("metric"), keySpine)

  // -----------------------------------------------------------------------
  // W1/F6 — rate derivation
  // -----------------------------------------------------------------------

  /**
   * W1 — rate derivation (reference MetricsServiceImpl.java:858-883): over
   * time-ordered adjacent pairs, emit `DataPoint(next.ts, 60000 * Δvalue /
   * Δts)` (per-minute rate). For counters, pairs where `next < prev` are
   * dropped first (counter reset, F6 :870-872) — the *pair* is dropped, the
   * point still anchors the following pair. One shuffle on metric.
   */
  def rate(dp: DataFrame, isCounter: Boolean, valueCol: String = "n_value",
           order: Order = Order.Asc, limit: Int = 0): DataFrame = {
    val w = Window.partitionBy(col("tenant_id"), col("mtype"), col("metric")).orderBy(col("time"))
    val raw = col(valueCol)
    val paired = dp
      .withColumn("prev_v", lag(raw, 1).over(w))
      .withColumn("prev_t", lag(col("time"), 1).over(w))
      .filter(col("prev_t").isNotNull)
    val noResets = if (isCounter) paired.filter(raw >= col("prev_v")) else paired
    val rated = noResets.select(
      col("tenant_id"), col("mtype"), col("metric"), col("time"),
      (lit(60000.0) * (raw.cast("double") - col("prev_v").cast("double"))
        / (col("time") - col("prev_t")).cast("double")).as("rate"))
    // with a limit: top-k (TakeOrderedAndProject, T2 applied AFTER pairing,
    // MetricsServiceImpl.java:882). Without one: the window already left
    // each series partitioned and time-ASC sorted — don't pay a global
    // range-shuffle for presentational order.
    (order, limit) match {
      case (Order.Asc, l) if l > 0  => rated.orderBy(col("metric").asc, col("time").asc).limit(l)
      case (Order.Desc, l) if l > 0 => rated.orderBy(col("metric").asc, col("time").desc).limit(l)
      case (Order.Asc, _)           => rated
      case (Order.Desc, _)          => rated.sortWithinPartitions(col("metric").asc, col("time").desc)
    }
  }

  /** W1 + A1 — rate stats: rate series bucketed through numericBucketStats
    * (reference findRateStats, MetricsServiceImpl.java:892-899). */
  def rateStats(dp: DataFrame, b: Buckets, isCounter: Boolean,
                valueCol: String = "n_value", quantiles: Seq[Double] = Seq.empty,
                mode: PercentileMode = PercentileMode.Exact): DataFrame =
    numericBucketStats(rate(dp, isCounter, valueCol), b, quantiles,
      valueCol = "rate", mode = mode)

  // -----------------------------------------------------------------------
  // EP2 — mixed-type stats fan-out
  // -----------------------------------------------------------------------

  /**
   * EP2 — ONE stats request fanned out across metric types (reference
   * MetricHandler.doStatsQuery, api/metrics-api-jaxrs/.../MetricHandler.java:341-466):
   * gauge, gauge-RATE, counter, counter-RATE (W1+A1), and availability
   * (A3) branches in a single response frame, one row per (branch, metric,
   * bucket), with the columns of the other family null-padded (the
   * response analog of the reference's per-type result sections). The
   * reference fans GAUGE_RATE out exactly like COUNTER_RATE
   * (MetricHandler.java:368-380,424,476).
   *
   * `quantiles` is the request's percentile list, applied in EVERY numeric
   * branch like the reference's StatsQueryRequest.percentiles
   * (StatsQueryRequest.java:30-46, threaded through each numeric section
   * of doStatsQuery) — the availability branch null-pads the columns.
   *
   * When a type's VALUE and RATE branches are both requested, the
   * reference fetches the raw data twice and documents the inefficiency
   * (MetricHandler.java:372-375); here the range-filtered fetch is
   * materialized ONCE (localCheckpoint) and feeds both the value stats and
   * the rate derivation — one scan, two branches. The Adaptive percentile
   * mode resolves against the PRE-checkpoint frame: a checkpoint's
   * LogicalRDD need not preserve the origin plan's size estimate, and a
   * defaultSizeInBytes fallback would silently flip small requests to the
   * approximate sketch.
   */
  /** `includeCounterValue=false` with `counterDp` set gives a RATE-ONLY
    * request: the counter data still feeds the rate derivation but emits
    * no value branch (same for the gauge pair).
    *
    * Every branch is DENSE per metric — the reference assembles each
    * section through `BucketPoint.toList`, which emits all `b.count`
    * buckets per queried metric with empties null-filled
    * (BucketPoint.java:66-83; a queried metric with no data in range
    * still answers a full list of empty buckets). `gaugeIds`/
    * `counterIds`/`availIds` are the QUERIED id spines (one `metric`
    * column) driving that contract; absent, the spine falls back to the
    * metrics present in the (unfiltered) input frame. */
  def mixedTypeStats(b: Buckets,
                     gaugeDp: Option[DataFrame] = None,
                     counterDp: Option[DataFrame] = None,
                     availDp: Option[DataFrame] = None,
                     includeCounterValue: Boolean = true,
                     includeCounterRate: Boolean = false,
                     includeGaugeValue: Boolean = true,
                     includeGaugeRate: Boolean = false,
                     quantiles: Seq[Double] = Seq.empty,
                     mode: PercentileMode = PercentileMode.Exact,
                     gaugeIds: Option[DataFrame] = None,
                     counterIds: Option[DataFrame] = None,
                     availIds: Option[DataFrame] = None): DataFrame = {
    val numNames = Seq("min", "avg", "max", "sum") ++
      quantiles.map(pctColName) :+ "median"
    val availNames = Seq("up_ms", "down_ms", "unknown_ms", "admin_ms",
      "last_not_uptime", "not_up_count")
    def numBranch(name: String, stats: DataFrame): DataFrame =
      stats.select(Seq(lit(name).as("branch"), col("metric"), col("bucket")) ++
        numNames.map(c => col(c).cast("double").as(c)) ++
        Seq(col("samples").cast("long").as("samples")) ++
        availNames.map(c => lit(null).cast("long").as(c)) :+
        lit(null).cast("double").as("uptime_ratio"): _*)
    def availBranch(stats: DataFrame): DataFrame =
      stats.select(Seq(lit("availability").as("branch"), col("metric"), col("bucket")) ++
        numNames.map(c => lit(null).cast("double").as(c)) ++
        Seq(col("samples").cast("long").as("samples")) ++
        availNames.map(c => col(c).cast("long").as(c)) :+
        col("uptime_ratio"): _*)
    // range-filter each numeric family once; materialize only when BOTH
    // its branches will read it — a single consumer keeps the lazy plan.
    // Adaptive resolves pre-checkpoint (doc above).
    def sharedFetch(dp: DataFrame, valueWanted: Boolean,
                    rateWanted: Boolean): (DataFrame, PercentileMode) = {
      val f = dp.filter(col("time") >= b.start && col("time") < b.end)
      val resolved = resolveMode(f, b.count, mode)
      (if (valueWanted && rateWanted) f.localCheckpoint() else f, resolved)
    }
    val gaugeShared = gaugeDp.map(sharedFetch(_, includeGaugeValue, includeGaugeRate))
    val counterShared = counterDp.map(sharedFetch(_, includeCounterValue, includeCounterRate))
    // id spine per family: queried ids when given, else the metrics
    // present in the input (pre-range-filter — a metric whose points all
    // fall outside the window still answers dense empty buckets)
    val gaugeSpine = gaugeIds.orElse(gaugeDp.map(_.select("metric").distinct()))
    val counterSpine = counterIds.orElse(counterDp.map(_.select("metric").distinct()))
    val availSpine = availIds.orElse(availDp.map(_.select("metric").distinct()))
    def dense(stats: DataFrame, spine: Option[DataFrame]): DataFrame =
      gapFill(stats, b, Seq("metric"), spine)
    val branches =
      (if (includeGaugeValue) gaugeShared.map { case (dp, m) =>
        numBranch("gauge", dense(
          numericBucketStats(dp, b, quantiles, byMetric = true, mode = m), gaugeSpine)) }.toSeq
      else Seq.empty) ++
      (if (includeGaugeRate) gaugeShared.map { case (dp, m) =>
        numBranch("gauge_rate", dense(
          numericBucketStats(rate(dp, isCounter = false), b, quantiles,
            byMetric = true, valueCol = "rate", mode = m), gaugeSpine)) }.toSeq
      else Seq.empty) ++
      (if (includeCounterValue) counterShared.map { case (dp, m) =>
        numBranch("counter", dense(
          numericBucketStats(dp, b, quantiles, byMetric = true, valueCol = "l_value",
            mode = m), counterSpine)) }.toSeq
      else Seq.empty) ++
      (if (includeCounterRate) counterShared.map { case (dp, m) =>
        numBranch("counter_rate", dense(
          numericBucketStats(rate(dp, isCounter = true, valueCol = "l_value"), b,
            quantiles, byMetric = true, valueCol = "rate", mode = m), counterSpine)) }.toSeq
      else Seq.empty) ++
      availDp.map(dp => availBranch(
        availabilityBucketStatsFilled(dp, b, keySpine = availSpine))).toSeq
    require(branches.nonEmpty, "mixedTypeStats needs at least one type branch")
    branches.reduce(_ unionByName _)
  }

  // -----------------------------------------------------------------------
  // W2 — periods where predicate holds (gaps-and-islands)
  // -----------------------------------------------------------------------

  /**
   * W2 — maximal runs where `predicate(value)` holds (reference
   * MetricsServiceImpl.java:1026-1056). Emits [start, end] with end = the
   * timestamp of the LAST point inside the run. Gaps-and-islands: island id
   * = running count of predicate-false rows.
   */
  def periods(dp: DataFrame, predicate: Column): DataFrame = {
    val w = Window.partitionBy(col("tenant_id"), col("mtype"), col("metric")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dp.withColumn("flag", when(predicate, 1).otherwise(0))
      .withColumn("island", sum(lit(1) - col("flag")).over(w))
      .filter(col("flag") === 1)
      .groupBy(col("tenant_id"), col("mtype"), col("metric"), col("island"))
      .agg(min(col("time")).as("period_start"), max(col("time")).as("period_end"))
      .drop("island")
  }

  // -----------------------------------------------------------------------
  // F7/W3 — distinct-contiguous
  // -----------------------------------------------------------------------

  /** F7 — `distinct=true` semantics: drop a point when its value equals
    * the PREVIOUS point's value in fetch order (reference
    * `distinctUntilChanged`, MetricsServiceImpl.java:968-983). Fetch order
    * matters: an ASC fetch keeps each run's EARLIEST point, a DESC fetch
    * (stream newest-first) keeps each run's LATEST point. */
  def distinctContiguous(dp: DataFrame, valueCol: String,
                         order: Order = Order.Asc): DataFrame = {
    val w = Window.partitionBy(col("tenant_id"), col("mtype"), col("metric")).orderBy(col("time"))
    val prevInFetchOrder = order match {
      case Order.Asc  => lag(col(valueCol), 1).over(w)
      case Order.Desc => lead(col(valueCol), 1).over(w)
    }
    dp.withColumn("__prev", prevInFetchOrder)
      .filter(col("__prev").isNull || col(valueCol) =!= col("__prev"))
      .drop("__prev")
  }

  /**
   * Display downsampling: per (metric, bucket), the bucket's minimum and
   * maximum points WITH their true timestamps — the envelope-preserving
   * decimation a dashboard fetch uses so a million-point range ships as
   * ~2 points per pixel column without flattening spikes. Deterministic
   * tie policy via lexicographic struct ordering: among equal minima the
   * EARLIEST timestamp, among equal maxima the LATEST (what min/max of
   * (value, time) pairs give, and what the SQL twin's filtered min/max
   * reproduce). One map-side-combined aggregate; output is
   * 2·buckets·metrics regardless of input density.
   */
  def downsampleMinMax(dp: DataFrame, b: Buckets,
                       valueCol: String = "n_value"): DataFrame = {
    val v = col(valueCol).cast("double")
    dp.filter(col("time") >= b.start && col("time") < b.end)
      .withColumn("bucket", GraftFunctions.bucketIndex("time", b))
      .groupBy(col("metric"), col("bucket"))
      .agg(min(struct(v.as("v"), col("time").as("t"))).as("mn"),
        max(struct(v.as("v"), col("time").as("t"))).as("mx"),
        count(lit(1)).as("samples"))
      .select(col("metric"), col("bucket"),
        col("mn.t").as("min_time"), col("mn.v").as("min_value"),
        col("mx.t").as("max_time"), col("mx.v").as("max_value"),
        col("samples"))
  }

  /**
   * Top-k series by a range aggregate — the dashboard "top N noisiest /
   * busiest metrics" panel: per metric, the whole-range scalars, ranked
   * by `orderBy` (avg|sum|max|samples) desc with the metric-asc
   * tiebreak, cut to k. Per-metric aggregation is map-side combined;
   * the rank+cut collapses to TakeOrderedAndProject (per-partition
   * heaps + a k-row driver merge — no global sort of the metric list).
   */
  def topSeries(dp: DataFrame, range: TimeRange, k: Int,
                orderBy: String = "avg", valueCol: String = "n_value"): DataFrame = {
    require(Set("avg", "sum", "max", "min", "samples").contains(orderBy),
      s"unsupported rank key: $orderBy")
    val v = col(valueCol).cast("double")
    dp.filter(inRange(range))
      .groupBy(col("metric"))
      .agg(min(v).as("min"), (decSum(v) / count(v)).as("avg"), max(v).as("max"),
        decSum(v).as("sum"), count(v).as("samples"))
      .orderBy(col(orderBy).desc, col("metric").asc)
      .limit(k)
  }

  /**
   * Counter increase over a range — the integral sibling of [[rate]]
   * (Prometheus' `increase()`): per metric, the sum of POSITIVE adjacent
   * deltas (a reset contributes the post-reset value's own growth, not a
   * negative jump), plus the reset count and the observed span. Exact
   * longs — no float drift. One window shuffle on the series key, same
   * shape as [[rate]].
   */
  def counterIncrease(dp: DataFrame, range: TimeRange,
                      valueCol: String = "l_value"): DataFrame = {
    val w = Window.partitionBy(col("tenant_id"), col("mtype"), col("metric"))
      .orderBy(col("time"))
    val paired = dp.filter(inRange(range))
      .withColumn("prev_v", lag(col(valueCol), 1).over(w))
      .filter(col("prev_v").isNotNull)
      .withColumn("delta", col(valueCol) - col("prev_v"))
    paired.groupBy(col("tenant_id"), col("mtype"), col("metric"))
      .agg(sum(when(col("delta") > 0, col("delta")).otherwise(0L))
        .cast("long").as("increase"),
        sum(when(col("delta") < 0, 1L).otherwise(0L)).cast("long").as("n_resets"),
        count(lit(1)).as("n_deltas"))
  }

  /**
   * Cross-series arithmetic on aligned buckets (the PromQL-style binary
   * op dashboards build ratios/differences from): bucket both series
   * with the shared A1 aggregate, inner-join on bucket, apply `op` to
   * the bucket AVERAGES. Missing buckets on either side drop (the
   * inner-join semantics binary ops want — a ratio against an absent
   * denominator is not 0, it is no answer). Two map-side-combined
   * aggregates + a bucket-keyed join of two buckets-sized frames.
   */
  def seriesBinaryOp(dp: DataFrame, metricA: String, metricB: String,
                     b: Buckets, op: (Column, Column) => Column,
                     valueCol: String = "n_value"): DataFrame = {
    val v = col(valueCol).cast("double")
    // avg ONLY — going through numericBucketStats would drag its exact
    // median along (full per-bucket value buffering) just to discard it
    def side(m: String, alias: String) =
      dp.filter(col("metric") === m &&
          col("time") >= b.start && col("time") < b.end)
        .withColumn("bucket", GraftFunctions.bucketIndex("time", b))
        .groupBy(col("bucket"))
        .agg((decSum(v) / count(v)).as(alias))
    side(metricA, "avg_a").join(side(metricB, "avg_b"), Seq("bucket"))
      .select(col("bucket"), col("avg_a"), col("avg_b"),
        op(col("avg_a"), col("avg_b")).as("result"))
  }

  /**
   * Z-score anomaly flags: points whose deviation from their metric's
   * whole-range mean exceeds `threshold` standard deviations. Mean and
   * E[x²] go through the decimal-exact sum (population std =
   * sqrt(E[x²] − mean²) — sqrt is correctly-rounded IEEE, so both
   * engines agree bit-for-bit); the per-metric moment frame is tiny and
   * broadcasts back onto the scan — one aggregate + one map-side join,
   * no second shuffle. Zero-variance series flag nothing (a constant
   * series has no outliers, and no divide-by-zero).
   */
  def anomalies(dp: DataFrame, range: TimeRange, threshold: Double = 3.0,
                valueCol: String = "n_value"): DataFrame = {
    val v = col(valueCol).cast("double")
    val in = dp.filter(inRange(range))
    val moments = in.groupBy(col("metric"))
      .agg((decSum(v) / count(v)).as("mean"),
        (decSum(v * v) / count(v)).as("m2"))
      .withColumn("std", sqrt(greatest(col("m2") - col("mean") * col("mean"), lit(0.0))))
    in.join(broadcast(moments), Seq("metric"))
      .filter(col("std") > 0 && abs(v - col("mean")) > lit(threshold) * col("std"))
      .select(col("metric"), col("time"), v.as("value"),
        round((v - col("mean")) / col("std"), 6).as("zscore"))
  }

  /**
   * Time × value histogram — the heatmap panel's data shape: per (time
   * bucket, value bin), the point count. Bin edges are CALLER-fixed
   * (`vMin`/`vMax`/`bins`): deriving them from the data would cost a
   * second scan and make bins drift as data arrives; out-of-range values
   * clamp into the edge bins so mass is never silently dropped. One
   * map-side-combined aggregate over one scan; output is
   * buckets × bins regardless of density.
   */
  def valueHistogram(dp: DataFrame, b: Buckets, vMin: Double, vMax: Double,
                     bins: Int, valueCol: String = "n_value"): DataFrame = {
    require(bins > 0 && vMax > vMin, s"need bins > 0 and vMax > vMin")
    val v = col(valueCol).cast("double")
    val width = (vMax - vMin) / bins
    val bin = GraftFunctions.valueBin(v, vMin, width, bins)
    dp.filter(col("time") >= b.start && col("time") < b.end)
      .withColumn("bucket", GraftFunctions.bucketIndex("time", b))
      .withColumn("bin", bin)
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bin_lo", lit(vMin) + col("bin") * width)
      .withColumn("bin_hi", lit(vMin) + (col("bin") + 1) * width)
  }

  /**
   * EWMA smoothing — `s_i = alpha·v_i + (1−alpha)·s_{i−1}` per series in
   * time order, the dashboard smoothing dial. The recursion is inherently
   * sequential per series, so each series' in-range points gather into
   * ONE time-sorted array (sort_array on (time, value) structs —
   * deterministic) and fold through a single codegen-adjacent UDF call —
   * state is one double, cost is one pass, and the per-series array is
   * bounded by points-per-series-in-range (the same per-series-bounded
   * contract as the P² parity path; series longer than memory would
   * carry the previous window's tail as the seed, the standard segmented
   * form). Emits one row per point with its smoothed value. Float
   * ordering is fixed by the fold, so results are partitioning-stable —
   * but engine-specific, hence rows-only at the oracle (the spec pins a
   * hand-computed series).
   */
  def ewma(dp: DataFrame, range: TimeRange, alpha: Double,
           valueCol: String = "n_value"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val v = col(valueCol).cast("double")
    val smoothUdf = udf { (pts: Seq[Row]) =>
      var s = 0.0
      var first = true
      pts.map { p =>
        val x = p.getDouble(1)
        s = if (first) { first = false; x } else alpha * x + (1 - alpha) * s
        s
      }
    }
    dp.filter(inRange(range))
      .groupBy(col("tenant_id"), col("mtype"), col("metric"))
      .agg(sort_array(collect_list(struct(col("time"), v.as("v")))).as("pts"))
      .withColumn("sm", smoothUdf(col("pts")))
      .select(col("metric"), posexplode(arrays_zip(col("pts"), col("sm"))))
      .select(col("metric"), col("col.pts.time").as("time"),
        col("col.pts.v").as("value"), round(col("col.sm"), 6).as("smoothed"))
  }

  /**
   * Two-window mean-shift change-point detector: at each point, compare
   * the mean of the previous `w` points against the mean of the next
   * `w` points (current row included on the AFTER side); flag where the
   * absolute shift reaches `threshold`. The window form of CUSUM-style
   * level-change detection that stays fully declarative — both means
   * are rows-between frames over ONE series exchange, and DECIMAL sums
   * make them engine-exact, so unlike the sequential folds (ewma/holt)
   * this op is DuckDB-oracled. Only positions with BOTH windows full
   * emit (no partial-window false positives at series edges).
   */
  def changePoints(dp: DataFrame, range: TimeRange, w: Int, threshold: Double,
                   valueCol: String = "n_value"): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val series = Window.partitionBy(col("tenant_id"), col("mtype"), col("metric"))
      .orderBy(col("time"))
    val before = series.rowsBetween(-w, -1)
    val after = series.rowsBetween(Window.currentRow, w - 1)
    val v = col(valueCol).cast("double")
    def meanOver(frame: org.apache.spark.sql.expressions.WindowSpec) =
      sum(v.cast("decimal(28,10)")).over(frame).cast("double") /
        count(lit(1)).over(frame)
    dp.filter(inRange(range))
      .withColumn("n_before", count(lit(1)).over(before))
      .withColumn("n_after", count(lit(1)).over(after))
      .withColumn("mean_before", meanOver(before))
      .withColumn("mean_after", meanOver(after))
      .filter(col("n_before") === w && col("n_after") === w)
      .withColumn("shift", col("mean_after") - col("mean_before"))
      .filter(abs(col("shift")) >= threshold)
      .select(col("metric"), col("time"),
        round(col("mean_before"), 6).as("mean_before"),
        round(col("mean_after"), 6).as("mean_after"),
        round(col("shift"), 6).as("shift"))
  }

  /**
   * Histogram-bucketed quantile serving (the Prometheus
   * `histogram_quantile` estimator over [[valueHistogram]] output):
   * per time bucket, walk the cumulative bin counts to the first bin
   * holding rank `q·total` and interpolate linearly inside it —
   * serving approximate percentiles from pre-aggregated counts instead
   * of raw points (the dashboard path when only the histogram tier is
   * retained). Input is buckets×bins-sized, so every stage here is
   * trivially small; the heavy lifting happened in the histogram
   * aggregate.
   */
  def histogramQuantile(hist: DataFrame, q: Double): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0, 1], got $q")
    val wCum = Window.partitionBy(col("bucket")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("bucket"))
    val wPick = Window.partitionBy(col("bucket")).orderBy(col("bin"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wTot))
      .withColumn("target", lit(q) * col("total"))
      .filter(col("cum") >= col("target"))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("total"),
        round(col("bin_lo") +
          (col("target") - (col("cum") - col("cnt"))) / col("cnt") *
            (col("bin_hi") - col("bin_lo")), 6).as(s"q_est"))
  }

  /**
   * SLO error-budget burn rate (the multi-window form of the Google SRE
   * workbook, computed from the A3 availability state machine): per
   * metric and FAST bucket, `burn = (1 − uptime) / (1 − objective)` for
   * the fast window and for the enclosing SLOW window, with `alert`
   * when BOTH exceed `threshold` — the fast window gives detection
   * latency, the slow window suppresses blips. `slowStepMs` must be a
   * multiple of the fast step and the range must tile both.
   *
   * Shape: two A3 passes ([[availabilityBucketStats]] — each one
   * (metric, bucket)-keyed window + aggregate) joined on (metric,
   * enclosing slow bucket); the slow frame is buckets-sized. Buckets
   * with no data emit no row (the A2 spine applies upstream if a dense
   * answer is wanted).
   */
  def sloBurn(dp: DataFrame, fast: Buckets, slowStepMs: Long, objective: Double,
              threshold: Double = 1.0): DataFrame =
    sloBurnFrom(availabilityBucketStats(dp, _), fast, slowStepMs, objective, threshold)

  /** [[sloBurn]] over a pluggable A3 stats provider — the hook that lets
    * the availability ROLLUP tier serve both windows
    * ([[graft.storage.GraftStorage.rollupAvailStats]] output is exactly
    * `availabilityBucketStats` over raw, so the burn math composes
    * unchanged; at 100 TB both passes read hours×metrics summaries).
    *
    * Tenant safety: when the provider's output carries tenant_id/mtype
    * (the multi-tenant rollup tier does; the raw
    * [[availabilityBucketStats]] path is caller-scoped and does not),
    * those keys ride the fast↔slow join and the output — duplicate
    * metric names across tenants keep separate, correct burn rows
    * instead of fanning the join out and crossing uptime ratios. */
  def sloBurnFrom(stats: Buckets => DataFrame, fast: Buckets, slowStepMs: Long,
                  objective: Double, threshold: Double = 1.0): DataFrame = {
    require(objective > 0 && objective < 1, s"objective must be in (0,1), got $objective")
    require(slowStepMs % fast.step == 0 && slowStepMs > fast.step,
      s"slowStepMs $slowStepMs must be a strict multiple of the fast step ${fast.step}")
    require((fast.end - fast.start) % slowStepMs == 0,
      s"range must tile the slow window")
    val slow = Buckets.fromStep(fast.start, fast.end, slowStepMs)
    val ratio = slowStepMs / fast.step
    def burn(uptime: Column): Column =
      (lit(1.0) - uptime) / (lit(1.0) - lit(objective))
    val f0 = stats(fast)
    val scopeKeys = Seq("tenant_id", "mtype").filter(f0.columns.contains)
    val scopeCols = scopeKeys.map(col)
    val f = f0
      .select(scopeCols ++ Seq(col("metric"), col("bucket"),
        col("uptime_ratio").as("uptime_fast")): _*)
      .withColumn("slow_bucket", floor(col("bucket") / lit(ratio)))
    val sl = stats(slow)
      .select(scopeCols ++ Seq(col("metric"), col("bucket").as("slow_bucket"),
        col("uptime_ratio").as("uptime_slow")): _*)
    f.join(sl, scopeKeys ++ Seq("metric", "slow_bucket"))
      .select(scopeCols ++ Seq(col("metric"), col("bucket"), col("slow_bucket"),
        round(col("uptime_fast"), 6).as("uptime_fast"),
        round(col("uptime_slow"), 6).as("uptime_slow"),
        round(burn(col("uptime_fast")), 6).as("burn_fast"),
        round(burn(col("uptime_slow")), 6).as("burn_slow"),
        (burn(col("uptime_fast")) >= threshold && burn(col("uptime_slow")) >= threshold)
          .as("alert")): _*)
  }

  /**
   * Holt double-exponential (level+trend) forecast — the step up from
   * [[ewma]] when a series drifts: `l_i = alpha·v_i + (1−alpha)·(l_{i−1}
   * + b_{i−1})`, `b_i = beta·(l_i − l_{i−1}) + (1−beta)·b_{i−1}`,
   * initialized l_0 = v_0, b_0 = 0; the h-step-ahead forecast is
   * `l_n + h·b_n` at `lastTime + h·stepMs`. Same execution shape as
   * [[ewma]] (sequential per-series recursion → one sorted-array fold
   * per series, state two doubles), same oracle posture (rows-only:
   * engine-specific float fold; the spec pins a hand-computed series).
   * Emits `horizon` rows per series.
   */
  def holtForecast(dp: DataFrame, range: TimeRange, alpha: Double, beta: Double,
                   horizon: Int, stepMs: Long,
                   valueCol: String = "n_value"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(horizon > 0, s"horizon must be positive, got $horizon")
    require(stepMs > 0, s"stepMs must be positive, got $stepMs")
    val v = col(valueCol).cast("double")
    val fitUdf = udf { (pts: Seq[Row]) =>
      var l = 0.0; var b = 0.0; var first = true
      pts.foreach { p =>
        val x = p.getDouble(1)
        if (first) { first = false; l = x } else {
          val prevL = l
          l = alpha * x + (1 - alpha) * (prevL + b)
          b = beta * (l - prevL) + (1 - beta) * b
        }
      }
      (l, b)
    }
    dp.filter(inRange(range))
      .groupBy(col("tenant_id"), col("mtype"), col("metric"))
      .agg(sort_array(collect_list(struct(col("time"), v.as("v")))).as("pts"),
        max(col("time")).as("last_time"))
      .withColumn("fit", fitUdf(col("pts")))
      .select(col("metric"), col("last_time"),
        col("fit._1").as("level"), col("fit._2").as("trend"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(col("metric"), col("h").cast("long").as("horizon"),
        (col("last_time") + col("h") * lit(stepMs)).as("time"),
        round(col("level") + col("h") * col("trend"), 6).as("forecast"))
  }

  /**
   * Weekly seasonality profile — per series, how much of the
   * bucket-mean variance the day-of-week explains: `strength` is the
   * classic between-group share SSB/SST (eta², 0 = no weekly shape,
   * →1 = the weekday determines the level) over daily means on a
   * `periodBuckets` grid, with the peak and trough days attached. The
   * companion to [[seasonalNaiveEval]]: MASE says the seasonal baseline
   * wins, this says WHY and by how much.
   *
   * Determinism: daily means are decimal-exact; every squared/ratio
   * term is decimal-cast BEFORE its sum (the seriesCrossCorrelation
   * discipline), so SST/SSB build from identical doubles cross-engine;
   * zero-variance series answer null strength. Peak/trough ties break
   * on the lower day index.
   */
  def seasonalityStrength(dp: DataFrame, b: Buckets, periodBuckets: Int,
                          valueCol: String = "n_value"): DataFrame = {
    require(periodBuckets >= 2, s"periodBuckets must be >= 2, got $periodBuckets")
    val dec = (c: Column) => c.cast("decimal(28,10)")
    val daily = dp
      .filter(col("time") >= b.start && col("time") < b.end)
      .groupBy(col("metric"), GraftFunctions.bucketIndex("time", b).as("bucket"))
      .agg((sum(col(valueCol).cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("x"))
      .withColumn("dow", pmod(col("bucket"), lit(periodBuckets.toLong)))
    val byDow = daily.groupBy(col("metric"), col("dow"))
      .agg(count(lit(1)).as("nd"), sum(dec(col("x"))).cast("double").as("sd"))
      .withColumn("dow_mean", col("sd") / col("nd"))
    val wPeak = Window.partitionBy(col("metric"))
      .orderBy(col("dow_mean").desc, col("dow").asc)
    val wTrough = Window.partitionBy(col("metric"))
      .orderBy(col("dow_mean").asc, col("dow").asc)
    val perMetric = byDow
      .withColumn("rp", row_number().over(wPeak))
      .withColumn("rt", row_number().over(wTrough))
      .groupBy(col("metric"))
      .agg(sum(col("nd")).as("n"),
        sum(dec(col("sd"))).cast("double").as("sx"),
        sum(dec(col("sd") * col("sd") / col("nd"))).cast("double").as("ssb_raw"),
        max(when(col("rp") === 1, col("dow"))).as("peak_dow"),
        max(when(col("rt") === 1, col("dow"))).as("trough_dow"))
    val sq = daily.groupBy(col("metric"))
      .agg(sum(dec(col("x") * col("x"))).cast("double").as("sxx"))
    val meanSq = col("sx") * col("sx") / col("n")
    val sst = col("sxx") - meanSq
    val ssb = col("ssb_raw") - meanSq
    perMetric.join(sq, Seq("metric"))
      .select(col("metric"), col("n").cast("long").as("n_days"),
        col("peak_dow"), col("trough_dow"),
        when(sst <= 0.0, lit(null).cast("double"))
          .otherwise(round(ssb / sst, 6)).as("strength"))
  }

  /**
   * Cross-correlation of two metrics' bucket-average series at a range
   * of lags — the "does A lead B" diagnostic (deploy markers vs error
   * rates, upstream vs downstream latency): Pearson r between series A
   * and series B shifted by `lag` buckets, for every lag in
   * [−maxLag, maxLag]. A positive lag means A at bucket t pairs with B
   * at t+lag (A LEADS by `lag`).
   *
   * Determinism: bucket means are decimal-exact; the five moment sums
   * go through DECIMAL(28,10) on the (mirrored-rounded) products, so
   * the r formula runs on identical doubles in both engines. Constant
   * series → null r (zero variance), mirrored as CASE.
   *
   * Shape: two bucket aggregates (series-keyed) → a buckets-sized join
   * per lag (the lag spine is a literal array) → |lags| result rows.
   */
  def seriesCrossCorrelation(dp: DataFrame, metricA: String, metricB: String,
                             b: Buckets, maxLag: Int,
                             valueCol: String = "n_value"): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    def avgs(m: String, out: String) = dp
      .filter(col("metric") === m && col("time") >= b.start && col("time") < b.end)
      .groupBy(GraftFunctions.bucketIndex("time", b).as("bucket"))
      .agg((sum(col(valueCol).cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as(out))
    val a = avgs(metricA, "va")
    val bb = avgs(metricB, "vb")
    val lags = a.sparkSession.range(1)
      .select(explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
    val dec = (c: Column) => c.cast("decimal(28,10)")
    val joined = broadcast(lags).crossJoin(a)
      .join(bb.withColumnRenamed("bucket", "b_bucket"),
        col("b_bucket") === col("bucket") + col("lag"))
    val n = col("n").cast("double")
    val denom = sqrt((n * col("sxx") - col("sx") * col("sx")) *
      (n * col("syy") - col("sy") * col("sy")))
    joined
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("va"))).cast("double").as("sx"),
        sum(dec(col("vb"))).cast("double").as("sy"),
        sum(dec(col("va") * col("vb"))).cast("double").as("sxy"),
        sum(dec(col("va") * col("va"))).cast("double").as("sxx"),
        sum(dec(col("vb") * col("vb"))).cast("double").as("syy"))
      .select(col("lag").cast("long").as("lag"), col("n"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(round((n * col("sxy") - col("sx") * col("sy")) / denom, 6))
          .as("r"))
  }

  /**
   * Seasonal-naive forecast evaluation — per series, score the two
   * canonical no-model baselines over bucket averages: predict each
   * bucket from the SAME bucket one season ago (`lag(season)`) and
   * from the previous bucket (`lag(1)`), and report per-series MAE of
   * both plus their ratio (the MASE shape: seasonal error normalized
   * by the naive error — < 1 means real weekly structure exists, and
   * any fitted model must beat the seasonal column to earn its keep).
   * Bucket means are decimal-exact; per-bucket absolute errors round
   * to micro-unit longs before the per-series mean so the MAE is
   * order-independent (oracled, unlike the fitted-model folds).
   *
   * One bucket aggregate + one series-keyed window; buckets-sized
   * thereafter.
   */
  def seasonalNaiveEval(dp: DataFrame, b: Buckets, seasonBuckets: Int,
                        valueCol: String = "n_value"): DataFrame = {
    require(seasonBuckets >= 2, s"seasonBuckets must be >= 2, got $seasonBuckets")
    val avgs = dp
      .filter(col("time") >= b.start && col("time") < b.end)
      .groupBy(col("metric"),
        GraftFunctions.bucketIndex("time", b).as("bucket"))
      .agg((sum(col(valueCol).cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("avg_v"))
    val w = Window.partitionBy(col("metric")).orderBy(col("bucket"))
    avgs
      .withColumn("pred_season", lag(col("avg_v"), seasonBuckets).over(w))
      .withColumn("pred_naive", lag(col("avg_v"), 1).over(w))
      .filter(col("pred_season").isNotNull && col("pred_naive").isNotNull)
      .withColumn("err_season_u",
        round(abs(col("avg_v") - col("pred_season")) * lit(1000000.0), 0).cast("long"))
      .withColumn("err_naive_u",
        round(abs(col("avg_v") - col("pred_naive")) * lit(1000000.0), 0).cast("long"))
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n_eval"),
        sum(col("err_season_u")).as("s_u"), sum(col("err_naive_u")).as("n_u"))
      // FLOOR-truncated nano-precision instead of round(x, 6): the
      // micro-sums divide by small even counts, so means land EXACTLY on
      // 5-boundaries where Spark's string-based Round and DuckDB's
      // binary round disagree by 1e-6; floor on the (identical) IEEE
      // quotient is engine-exact
      .select(col("metric"), col("n_eval"),
        (floor(col("s_u") * lit(1000L) / col("n_eval")) / lit(1000000000.0)).as("mae_seasonal"),
        (floor(col("n_u") * lit(1000L) / col("n_eval")) / lit(1000000000.0)).as("mae_naive"),
        when(col("n_u") === 0, lit(null).cast("double"))
          .otherwise(floor(col("s_u").cast("double") / col("n_u") * lit(1000000.0))
            / lit(1000000.0)).as("mase"))
  }

  /**
   * LTTB (Largest-Triangle-Three-Buckets, Steinarsson 2013)
   * downsampling — the charting companion to [[downsampleMinMax]]: keep
   * the first and last point, split the rest into `nOut − 2` buckets,
   * and from each keep the point forming the largest triangle with the
   * PREVIOUSLY kept point and the next bucket's centroid — the shape-
   * preserving choice dashboards use. The selection is sequential per
   * series (each pick depends on the previous), so execution is the
   * [[ewma]] shape: one sorted-array fold per series, rows-only at the
   * oracle (float geometry; the spec pins a hand-computed series).
   * Output rows ≤ nOut per series regardless of density.
   */
  def downsampleLttb(dp: DataFrame, range: TimeRange, nOut: Int,
                     valueCol: String = "n_value"): DataFrame = {
    require(nOut >= 3, s"nOut must be >= 3, got $nOut")
    val v = col(valueCol).cast("double")
    val pickUdf = udf { (pts: Seq[Row]) =>
      val n = pts.length
      if (n <= nOut) pts.map(p => (p.getLong(0), p.getDouble(1)))
      else {
        val xs = pts.map(_.getLong(0).toDouble)
        val ys = pts.map(_.getDouble(1))
        val out = Seq.newBuilder[(Long, Double)]
        out += ((pts.head.getLong(0), ys.head))
        val every = (n - 2).toDouble / (nOut - 2)
        var aIdx = 0
        for (i <- 0 until nOut - 2) {
          val start = (i * every).toInt + 1
          val end = math.min(((i + 1) * every).toInt + 1, n - 1)
          val nextStart = math.min(((i + 1) * every).toInt + 1, n - 1)
          val nextEnd = math.min(((i + 2) * every).toInt + 1, n)
          val (cx, cy) =
            if (nextStart >= nextEnd) (xs(n - 1), ys(n - 1))
            else ((nextStart until nextEnd).map(xs).sum / (nextEnd - nextStart),
              (nextStart until nextEnd).map(ys).sum / (nextEnd - nextStart))
          var best = start; var bestArea = -1.0
          for (j <- start until end) {
            val area = math.abs((xs(aIdx) - cx) * (ys(j) - ys(aIdx)) -
              (xs(aIdx) - xs(j)) * (cy - ys(aIdx))) / 2.0
            if (area > bestArea) { bestArea = area; best = j }
          }
          out += ((pts(best).getLong(0), ys(best)))
          aIdx = best
        }
        out += ((pts(n - 1).getLong(0), ys(n - 1)))
        out.result()
      }
    }
    dp.filter(inRange(range))
      .groupBy(col("tenant_id"), col("mtype"), col("metric"))
      .agg(sort_array(collect_list(struct(col("time"), v.as("v")))).as("pts"))
      .select(col("metric"), explode(pickUdf(col("pts"))).as("kv"))
      .select(col("metric"), col("kv._1").as("time"),
        round(col("kv._2"), 6).as("value"))
  }

  /** T1+T2 — deterministic ordered limit, shared by the raw-fetch path and
    * any operator that pages a derived frame (e.g. collapsed availability):
    * time in the requested direction, metric tie-break, global top-k
    * (collapses to TakeOrderedAndProject — no full shuffle). */
  def orderedLimit(dp: DataFrame, order: Order, limit: Int): DataFrame = {
    val timeCol = order match {
      case Order.Asc  => col("time").asc
      case Order.Desc => col("time").desc
    }
    dp.orderBy(timeCol, col("metric").asc).limit(limit)
  }

  /** T2 applied PER SERIES — the multi-metric fetch semantics: the
    * reference fans a List&lt;MetricId&gt; out as per-id scans, so `limit`
    * bounds EACH metric's points, not the union (MetricsServiceImpl
    * .findDataPoints(List,…):821-826 concatMaps findDataPoints(id,…,limit);
    * GaugesITest.fetchMRawDataFromMultipleGaugesWithQueryParams expects
    * limit=2 to return 2 points PER gauge). One hash shuffle on the
    * series key, rank within, no global sort — at 100 TB this beats a
    * driver-side per-id loop by the width of the cluster. */
  def perMetricLimit(dp: DataFrame, order: Order, limit: Int): DataFrame =
    if (limit <= 0) dp
    else {
      val timeCol = order match {
        case Order.Asc  => col("time").asc
        case Order.Desc => col("time").desc
      }
      val w = Window.partitionBy(col("tenant_id"), col("mtype"), col("metric"))
        .orderBy(timeCol)
      dp.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= limit).drop("__rn")
    }

  /** [[perMetricLimit]] plus per-series presentational time order — the
    * shared tail of every multi-metric fetch (raw and rate alike). */
  def perMetricLimitOrdered(dp: DataFrame, order: Order, limit: Int): DataFrame = {
    val timeCol = order match {
      case Order.Asc  => col("time").asc
      case Order.Desc => col("time").desc
    }
    perMetricLimit(dp, order, limit).sortWithinPartitions(col("metric"), timeCol)
  }

  /** [[rawDataPoints]] with the MULTI-metric contract: range filter,
    * per-series T2 limit, per-series presentational time order. Without
    * a limit the un-ranked path (one clustering shuffle) is identical. */
  def rawDataPointsPerMetric(dp: DataFrame, range: TimeRange, order: Order,
                             limit: Int): DataFrame =
    if (limit <= 0) rawDataPoints(dp, range, order, 0)
    else perMetricLimitOrdered(dp.filter(inRange(range)), order, limit)

  // -----------------------------------------------------------------------
  // A7/A10 — whole-range scalars, min/max timestamps
  // -----------------------------------------------------------------------

  /** A7 — whole-range scalar aggregates over one fetch
    * (reference Aggregate.java:33-58). */
  def wholeRangeAggregates(dp: DataFrame, range: TimeRange, valueCol: String = "n_value"): DataFrame = {
    val v = col(valueCol).cast("double")
    dp.filter(inRange(range)).agg(
      min(v).as("min"), (decSum(v) / count(v)).as("avg"), max(v).as("max"),
      decSum(v).as("sum"), count(v).as("samples"))
  }

  /** A10 — min/max data timestamp per metric (reference
    * transformers/MinMaxTimestampTransformer.java). */
  def minMaxTimestamps(dp: DataFrame): DataFrame =
    dp.groupBy(col("tenant_id"), col("mtype"), col("metric"))
      .agg(min(col("time")).as("min_time"), max(col("time")).as("max_time"))

  // -----------------------------------------------------------------------
  // A8/A9 — tag discovery over the catalog
  // -----------------------------------------------------------------------

  /**
   * A8 — distinct tag values per queried tag name (reference
   * SimpleTagQueryParser.java:472-526): the metric set is first
   * INTERSECTED across all queried (name, pattern) filters, then each
   * name's matching values are collected from that set — a metric failing
   * one filter contributes no values for any name. `explode` replaces the
   * reference's inverted index.
   */
  def tagValues(catalog: DataFrame, nameFilters: Map[String, String]): DataFrame = {
    val matching = nameFilters.foldLeft(catalog) { case (d, (k, pat)) =>
      d.filter(GraftFunctions.filterPattern(element_at(col("tags"), k), pat))
    }
    val exploded = matching.select(explode(col("tags")).as(Seq("tname", "tvalue")))
    val conds = nameFilters.map { case (k, pat) =>
      col("tname") === k && GraftFunctions.filterPattern(col("tvalue"), pat)
    }.reduce(_ || _)
    exploded.filter(conds).distinct()
  }

  /** A9 — distinct tag names (reference SimpleTagQueryParser.java:528-544). */
  def tagNames(catalog: DataFrame, filter: Option[String] = None): DataFrame = {
    val names = catalog.select(explode(map_keys(col("tags"))).as("tname")).distinct()
    filter.fold(names)(pat => names.filter(GraftFunctions.filterPattern(col("tname"), pat)))
  }

  // -----------------------------------------------------------------------
  // J3/J4/J5 — id-list joins and definition enrichment
  // -----------------------------------------------------------------------

  /**
   * J3 — metric-id-list → datapoints (reference MetricsServiceImpl.java:821-834,
   * the index-nested-loop `concatMap` over ids). Spark-first shape: broadcast
   * LEFT SEMI join — the id list is tiny next to the data, so the semi join
   * runs map-side with zero shuffle of the datapoint frame.
   */
  def dataPointsForIds(dp: DataFrame, ids: Seq[String]): DataFrame = {
    val spark = dp.sparkSession
    import spark.implicits._
    dataPointsForIds(dp, ids.toDF("metric"))
  }

  /** J3/J4 — same, with the id set coming from a frame (e.g. the tag-query
    * compiler's filtered catalog). */
  def dataPointsForIds(dp: DataFrame, ids: DataFrame): DataFrame =
    dp.join(broadcast(ids.select("metric").distinct()), Seq("metric"), "left_semi")

  /**
   * J5 — definition enrichment (reference MetricsServiceImpl.java:501-513):
   * catalog definitions + data min/max timestamps (A10) + retention. The
   * reported retention is the catalog's STORED per-metric `data_retention`
   * when present, the default only when absent (Metric.java:48-54;
   * MetricsIndexRowTransformer:51-53 reads the stored value) — a catalog
   * without the column at all reports the default throughout. The
   * per-metric minmax aggregate is tiny; broadcast it into the join.
   */
  def enrichDefinitions(catalog: DataFrame, dp: DataFrame,
                        defaultRetentionDays: Int = 7): DataFrame = {
    val withStored =
      if (catalog.columns.contains("data_retention")) catalog
      else catalog.withColumn("data_retention", lit(null).cast("int"))
    withStored.join(
      broadcast(minMaxTimestamps(dp)),
      Seq("tenant_id", "mtype", "metric"), "left")
      .withColumn("data_retention",
        coalesce(col("data_retention"), lit(defaultRetentionDays)))
  }

  // -----------------------------------------------------------------------
  // F3/F4 — metric-name regex and type filters
  // -----------------------------------------------------------------------

  /** F3 — metric-name regex filter (reference MetricsServiceImpl.java:576-583;
    * an empty/absent pattern passes everything, `:577-579`). */
  def idFilter(frame: DataFrame, pattern: String): DataFrame =
    if (pattern == null || pattern.isEmpty) frame
    else frame.filter(GraftFunctions.filterPattern(col("metric"), pattern))

  /** F4 — metric-type filter; `None` = any user-insertable type
    * (reference SimpleTagQueryParser.java:578-587). */
  def typeFilter(frame: DataFrame, mtype: Option[MetricType]): DataFrame = mtype match {
    case Some(t) => frame.filter(col("mtype") === t.code.toInt)
    case None    => frame.filter(col("mtype").isin(MetricType.userTypeCodes.map(_.toInt): _*))
  }

  /**
   * Per-tenant/per-type retention enforcement — the read-side view of the
   * reference's TTL scheme, where each tenant carries a retention map keyed
   * by metric type (Tenant retentions, Functions.java:121-127; TTL applied
   * at write, DataAccessImpl.java:1034-1059). `retentions` is a small frame
   * (tenant_id, mtype, retention_days) — broadcast to every executor, so
   * the cutoff check is a map-side join + filter with no shuffle of the
   * datapoint stream. Points from tenants/types without a retention row
   * are kept (the reference falls back to a system default applied
   * elsewhere; callers can pre-densify the map to override). The map
   * contract is one retention per key: duplicate (tenant, type) rows —
   * e.g. a config merge that appends an override — are collapsed to the
   * LONGEST window, so a malformed map can never fan datapoints out into
   * duplicates or silently shorten a retention someone granted.
   */
  def applyRetention(dp: DataFrame, retentions: DataFrame, now: Long): DataFrame =
    applyRetention(dp, retentions, None, now)

  /**
   * Retention with the reference's PER-METRIC override layer: a metric can
   * carry its own `dataRetention` (Metric.java:48-54, persisted in
   * `retentions_idx`, bootstrap.groovy:139-147) which takes precedence
   * over the tenant's per-type retention. `metricOverrides` is
   * (tenant_id, mtype, metric, retention_days) — catalog-sized, so it
   * broadcasts like the tenant map; precedence is a `coalesce` after two
   * map-side joins, still zero shuffles of the datapoint stream. The same
   * collapse-to-longest rule guards duplicate override rows.
   */
  def applyRetention(dp: DataFrame, retentions: DataFrame,
                     metricOverrides: Option[DataFrame], now: Long): DataFrame = {
    val uniq = retentions.groupBy(col("tenant_id"), col("mtype"))
      .agg(max(col("retention_days")).as("retention_days"))
    val joined = dp.join(broadcast(uniq), Seq("tenant_id", "mtype"), "left")
    val withEff = metricOverrides match {
      case Some(m) =>
        val mu = m.groupBy(col("tenant_id"), col("mtype"), col("metric"))
          .agg(max(col("retention_days")).as("__metric_days"))
        joined.join(broadcast(mu), Seq("tenant_id", "mtype", "metric"), "left")
          .withColumn("__eff_days", coalesce(col("__metric_days"), col("retention_days")))
          .drop("__metric_days")
      case None => joined.withColumn("__eff_days", col("retention_days"))
    }
    withEff
      .filter(col("__eff_days").isNull ||
        col("time") >= lit(now) - col("__eff_days") * lit(86400000L))
      .drop("retention_days", "__eff_days")
  }
}
