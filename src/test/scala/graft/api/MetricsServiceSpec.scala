package graft.api

import graft.SparkTestBase
import graft.model._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end facade spec: the reference's core-ITest pattern — write
  * through the service, read back, assert semantics
  * (GaugeITest/CounterITest/TagsITest shapes). */
class MetricsServiceSpec extends SparkTestBase {

  private def newService(): MetricsService =
    new MetricsService(spark, Files.createTempDirectory("graft-svc").toString)

  private def gaugeRows(metric: String, rows: Seq[(Long, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("time", "n_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Gauge.code.toInt))
      .withColumn("metric", lit(metric))
      .withColumn("l_value", lit(null).cast("long"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map())
  }

  test("create metric → add points → stats round trip (EP1)") {
    val svc = newService()
    val id = MetricId("t1", MetricType.Gauge.code, "cpu")
    svc.createMetric(id, Map("env" -> "prod", "dc" -> "east"))
    svc.addDataPoints(gaugeRows("cpu", Seq((100L, 10.0), (110L, 30.0), (125L, 20.0))))
    val stats = svc.findGaugeStats(id,
      BucketConfig(TimeRange(100, 140), Some(4), None))
    val rows = stats.orderBy("bucket").collect()
    assert(rows.length == 4)
    // step 10: bucket0=[100,110) → 10.0; bucket1=[110,120) → 30.0; bucket2 → 20.0
    assert(rows(0).getAs[Double]("avg") == 10.0 && rows(0).getAs[Long]("samples") == 1)
    assert(rows(1).getAs[Double]("max") == 30.0)
    assert(rows(2).getAs[Double]("min") == 20.0)
    assert(rows(3).getAs[Any]("samples") == null) // gap-filled empty bucket
  }

  test("order defaulting T3 applies on raw fetch") {
    val svc = newService()
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    svc.addDataPoints(gaugeRows("m", Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))))
    // limit + start without end → ASC
    val asc = svc.findDataPoints(id, Some(0L), None, limit = 2, now = 10L)
      .select("time").collect().map(_.getLong(0)).toSeq
    assert(asc == Seq(1L, 2L))
    // otherwise DESC
    val desc = svc.findDataPoints(id, Some(0L), Some(10L), limit = 2, now = 10L)
      .select("time").collect().map(_.getLong(0)).toSeq
    assert(desc == Seq(3L, 2L))
  }

  test("tag updates are last-write-wins; tag query resolves ids") {
    val svc = newService()
    val a = MetricId("t1", MetricType.Gauge.code, "a")
    val b = MetricId("t1", MetricType.Gauge.code, "b")
    svc.createMetric(a, Map("env" -> "prod"))
    svc.createMetric(b, Map("env" -> "dev"))
    svc.addTags(a, Map("dc" -> "east"))
    val ids = svc.findMetricIdentifiersWithFilters("t1", Some(MetricType.Gauge), "env = prod AND dc = east")
      .select("metric").collect().map(_.getString(0)).toSeq
    assert(ids == Seq("a"))
    svc.deleteTags(a, Set("dc"))
    assert(svc.findMetricIdentifiersWithFilters("t1", Some(MetricType.Gauge), "dc = east").count() == 0)
    // simple name:value fallback syntax
    assert(svc.findMetricIdentifiersWithFilters("t1", None, "env:dev").count() == 1)
  }

  test("fromEarliest skips leading empty buckets only") {
    val svc = newService()
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    svc.createMetric(id, Map.empty)
    val now = 7L * 86400000L + 1000 // retention window = [1000, now)
    svc.addDataPoints(gaugeRows("m", Seq((now / 2, 5.0), (now - 1000, 6.0))))
    val out = svc.findGaugeStatsFromEarliest(id, Some(7), None, now = now)
      .orderBy("bucket").collect()
    assert(out.nonEmpty)
    assert(out.head.getAs[Any]("samples") != null) // leading empties gone
    assert(out.length < 7)                          // something was skipped
    assert(out.exists(_.getAs[Any]("samples") == null) ||
      out.length == out.count(_.getAs[Any]("samples") != null))
  }

  test("rate data respects virtual type routing") {
    val s = spark
    import s.implicits._
    val svc = newService()
    val counter = Seq((0L, 100L), (60000L, 160L)).toDF("time", "l_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Counter.code.toInt))
      .withColumn("metric", lit("c"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map())
    svc.addDataPoints(counter)
    val r = svc.findRateData(MetricId("t1", MetricType.Counter.code, "c"))
      .select("rate").collect().map(_.getDouble(0)).toSeq
    assert(r == Seq(60.0))
  }

  test("findDataPoints on a VIRTUAL rate type answers with the W1 derivation") {
    val s = spark
    import s.implicits._
    val svc = newService()
    val counter = Seq((0L, 100L), (60000L, 160L), (120000L, 40L), (180000L, 100L))
      .toDF("time", "l_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Counter.code.toInt))
      .withColumn("metric", lit("c"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map())
    svc.addDataPoints(counter)
    // ask for datapoints of type COUNTER_RATE: transparent W1 dispatch,
    // the 160→40 reset pair dropped (F6), 40→100 still pairs
    val got = svc.findDataPoints(MetricId("t1", MetricType.CounterRate.code, "c"),
      Some(0L), Some(200000L), now = 200000L)
      .select("time", "rate", "mtype").collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((60000L, 60.0), (180000L, 60.0)))
    // rows answer AS the requested virtual type, not the stored counter
    assert(got.map(_.getInt(2)).toSet == Set(MetricType.CounterRate.code.toInt))

    // GAUGE_RATE takes the same dispatch over n_value (no reset drop)
    svc.addDataPoints(gaugeRows("g", Seq((0L, 10.0), (60000L, 40.0), (120000L, 10.0))))
    val gr = svc.findDataPoints(MetricId("t1", MetricType.GaugeRate.code, "g"),
      Some(0L), Some(200000L), now = 200000L)
      .select("time", "rate").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(gr == Set((60000L, 30.0), (120000L, -30.0)))
  }

  test("percentile result columns preserve the user's ORIGINAL quantile string") {
    val svc = newService()
    val id = MetricId("t1", MetricType.Gauge.code, "cpu")
    svc.addDataPoints(gaugeRows("cpu", (0 until 20).map(i => (100L + i, i.toDouble))))
    val stats = svc.findGaugeStats(id, BucketConfig(TimeRange(100, 120), Some(1), None),
      Percentiles(Seq("99.000", "90.0")))
    val cols = stats.columns.toSet
    assert(cols.contains("p99_000") && cols.contains("p90_0"), cols.toString)
    assert(!cols.contains("p99_0"))
    intercept[IllegalArgumentException](Percentile("nope").quantile)
    intercept[IllegalArgumentException](Percentile("150").quantile)
    // the reference's Percentile does no bound check and commons-math
    // PSquarePercentile accepts (0, 100] — "100" must be served, and the
    // quantiles accessor enforces the SAME contract as percentiles
    assert(Percentile("100").quantile == 100.0)
    intercept[IllegalArgumentException](Percentiles(Seq("150")).quantiles)
    // duplicate-normalizing strings ("90.0", "90.00" → one quantile) are
    // rejected BEFORE any frame is built — an IllegalArgument, not an
    // ambiguous-column AnalysisException from inside the plan
    intercept[IllegalArgumentException](
      svc.findGaugeStats(id, BucketConfig(TimeRange(100, 120), Some(1), None),
        Percentiles(Seq("90.0", "90.00"))))
  }

  test("findMetrics echoes a stored per-metric retention override (J5)") {
    val svc = newService()
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "kept"), Map.empty,
      dataRetention = Some(30))
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "plain"), Map.empty)
    svc.addDataPoints(gaugeRows("kept", Seq((1L, 1.0))))
    val got = svc.findMetrics("t1", Some(MetricType.Gauge))
      .select("metric", "data_retention").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // the stored override survives enrichment; only the unconfigured
    // metric falls to the default (MetricsIndexRowTransformer:51-53)
    assert(got == Map("kept" -> 30, "plain" -> 7), got.toString)
  }

  test("mixed-type statsQuery fans out to all requested branches (EP2 full)") {
    val s = spark
    import s.implicits._
    val svc = newService()
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "cpu"), Map("env" -> "prod"))
    svc.createMetric(MetricId("t1", MetricType.Counter.code, "reqs"), Map("env" -> "prod"))
    svc.createMetric(MetricId("t1", MetricType.Availability.code, "web"), Map("env" -> "prod"))
    // a COUNTER named like the matching gauge, but tagged OUT of the
    // query: ids must resolve per type, so this series stays out of the
    // counter branch even though its NAME matches a selected gauge
    svc.createMetric(MetricId("t1", MetricType.Counter.code, "cpu"), Map("env" -> "dev"))
    svc.addDataPoints(gaugeRows("cpu", Seq((100L, 10.0), (150L, 30.0))))
    def counterRows(metric: String, rows: Seq[(Long, Long)]) =
      rows.toDF("time", "l_value")
        .withColumn("tenant_id", lit("t1"))
        .withColumn("mtype", lit(MetricType.Counter.code.toInt))
        .withColumn("metric", lit(metric))
        .withColumn("n_value", lit(null).cast("double"))
        .withColumn("avail", lit(null).cast("int"))
        .withColumn("s_value", lit(null).cast("string"))
        .withColumn("tags", map())
    svc.addDataPoints(counterRows("reqs", Seq((100L, 100L), (150L, 160L))))
    svc.addDataPoints(counterRows("cpu", Seq((100L, 1L), (150L, 2L))))
    svc.addDataPoints(Seq((100L, 0), (150L, 1)).toDF("time", "avail")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Availability.code.toInt))
      .withColumn("metric", lit("web"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("l_value", lit(null).cast("long"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map()))
    val out = svc.statsQuery("t1", "env = prod",
      BucketConfig(TimeRange(100, 200), Some(1), None), includeCounterRate = true,
      includeGaugeRate = true, percentiles = Seq(90.0))
      .collect()
    val byBranch = out.groupBy(_.getAs[String]("branch"))
    assert(byBranch.keySet ==
      Set("gauge", "gauge_rate", "counter", "counter_rate", "availability"))
    val g = byBranch("gauge").head
    assert(g.getAs[String]("metric") == "cpu" && g.getAs[Long]("samples") == 2)
    // the percentile column applies in EVERY numeric branch
    // (StatsQueryRequest.java:30-46): p90 of {10,30} interpolates to 28
    assert(g.getAs[Double]("p90_0") == 28.0)
    // gauge_rate: one pair over the shared gauge fetch, Δv=20 over Δt=50ms
    val gr = byBranch("gauge_rate").head
    assert(gr.getAs[String]("metric") == "cpu" && gr.getAs[Long]("samples") == 1)
    assert(gr.getAs[Double]("avg") == 60000.0 * 20.0 / 50.0)
    assert(!gr.isNullAt(gr.fieldIndex("p90_0")))
    // per-type id resolution: counter 'cpu' (env=dev) stays OUT even
    // though its name matches the selected gauge
    assert(byBranch("counter").map(_.getAs[String]("metric")).toSet == Set("reqs"))
    assert(byBranch("counter_rate").map(_.getAs[String]("metric")).toSet == Set("reqs"))
    assert(byBranch("counter_rate").head.getAs[Long]("samples") == 1) // one pair
    val a = byBranch("availability").head
    assert(a.getAs[Long]("up_ms") == 50L && a.getAs[Long]("down_ms") == 50L)
    assert(a.isNullAt(a.fieldIndex("min"))) // numeric columns null-padded
    assert(a.isNullAt(a.fieldIndex("p90_0"))) // incl. the percentile column

    // RATE-ONLY request: counter value branch absent, rate branch present
    val rateOnly = svc.statsQuery("t1", "env = prod",
      BucketConfig(TimeRange(100, 200), Some(1), None),
      types = Set(MetricType.Gauge), includeCounterRate = true).collect()
    val roBranches = rateOnly.map(_.getAs[String]("branch")).toSet
    assert(roBranches == Set("gauge", "counter_rate"), roBranches.toString)

    // GAUGE-rate-only: the gauge fetch feeds the rate branch, no value branch
    val gRateOnly = svc.statsQuery("t1", "env = prod",
      BucketConfig(TimeRange(100, 200), Some(1), None),
      types = Set(MetricType.Availability), includeGaugeRate = true).collect()
    assert(gRateOnly.map(_.getAs[String]("branch")).toSet ==
      Set("gauge_rate", "availability"))

    // EP2 echoes ORIGINAL percentile request strings (Percentile.java:22-38)
    val echoed = svc.statsQuery("t1", "env = prod",
      BucketConfig(TimeRange(100, 200), Some(1), None),
      types = Set(MetricType.Gauge, MetricType.Counter),
      includeCounterRate = false, includeGaugeRate = true,
      percentiles = Percentiles(Seq("99.000")))
    assert(echoed.columns.contains("p99_000") && !echoed.columns.contains("p99_0"))
  }

  test("tag edits preserve an explicit dataRetention override through the LWW rewrite") {
    val svc = newService()
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    svc.createMetric(id, Map("a" -> "1"), dataRetention = Some(3))
    svc.addTags(id, Map("b" -> "2"))
    svc.deleteTags(id, Set("a"))
    val row = svc.findMetric(id).select("data_retention", "tags").collect().head
    assert(row.getInt(0) == 3, "tag edits must not erase the retention override")
    assert(row.getMap[String, String](1).toMap == Map("b" -> "2"))
  }

  test("fromEarliest honors the tenant per-type retention when no metric override exists") {
    val svc = newService()
    val day = 86400000L
    val now = 100 * day
    svc.createTenant("t1", Map("gauge" -> 21))
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    svc.createMetric(id, Map.empty) // NO per-metric override
    svc.addDataPoints(gaugeRows("m", Seq((now - 10 * day, 1.0), (now - 2 * day, 2.0))))
    // with the 7d default the 10d-old point would fall outside the window;
    // the tenant's 21d retention must widen it
    val got = svc.findGaugeStatsFromEarliest(id, Some(21), None, now = now)
    val samples = got.agg(sum(col("samples"))).collect().head.getLong(0)
    assert(samples == 2L, s"expected both points inside the fromEarliest window, got $samples")

    // counter twin: same window resolution over the l_value plumbing
    val s = spark
    import s.implicits._
    svc.createTenant("t1", Map("counter" -> 21))
    val cid = MetricId("t1", MetricType.Counter.code, "c")
    svc.createMetric(cid, Map.empty)
    svc.addDataPoints(Seq((now - 10 * day, 5L), (now - 2 * day, 9L)).toDF("time", "l_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Counter.code.toInt))
      .withColumn("metric", lit("c"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map()))
    val cGot = svc.findCounterStatsFromEarliest(cid, Some(21), None, now = now)
    assert(cGot.agg(sum(col("samples"))).collect().head.getLong(0) == 2L)
    assert(cGot.agg(max(col("max"))).collect().head.getDouble(0) == 9.0)
  }

  test("fromEarliest for availability and strings (remaining handler variants)") {
    val s = spark
    import s.implicits._
    val svc = newService()
    val day = 86400000L
    val now = 100 * day
    // availability: per-metric 10d retention; points live in window-bucket 7
    val id = MetricId("t1", MetricType.Availability.code, "web")
    svc.createMetric(id, Map.empty, dataRetention = Some(10))
    svc.addDataPoints(Seq((now - 3 * day, 0), (now - 3 * day + day / 2, 1))
      .toDF("time", "avail")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Availability.code.toInt))
      .withColumn("metric", lit("web"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("l_value", lit(null).cast("long"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map()))
    val out = svc.findAvailabilityStatsFromEarliest(id, Some(10), None, now = now)
      .orderBy("bucket").collect()
    // leading empty buckets 0-6 skipped; trailing empties 8-9 stay dense
    assert(out.length == 3, out.map(_.getAs[Long]("bucket")).mkString(","))
    assert(out.head.getAs[Long]("bucket") == 7L)
    assert(out.head.getAs[Long]("up_ms") == day / 2 && out.head.getAs[Long]("down_ms") == day / 2)
    assert(out.last.getAs[Any]("samples") == null)

    // strings: fromEarliest widens the fetch range to the retention
    // window — a point older than the window stays out
    val sid = MetricId("t1", MetricType.Str.code, "st")
    svc.createMetric(sid, Map.empty, dataRetention = Some(5))
    svc.addDataPoints(Seq((now - 6 * day, "old"), (now - 2 * day, "fresh"))
      .toDF("time", "s_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Str.code.toInt))
      .withColumn("metric", lit("st"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("l_value", lit(null).cast("long"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("tags", map()))
    val got = svc.findStringDataFromEarliest(sid, now = now)
      .select("s_value").collect().map(_.getString(0)).toSeq
    assert(got == Seq("fresh"), got.toString)
  }

  test("retainedRaw: metric override beats tenant per-type map beats keep") {
    val svc = newService()
    val day = 86400000L
    val now = 100 * day
    svc.createTenant("t1", Map("gauge" -> 21))
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "a"), Map.empty,
      dataRetention = Some(3)) // per-metric override: 3d
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "b"), Map.empty) // tenant map: 21d
    val old = now - 10 * day; val fresh = now - 2 * day
    svc.addDataPoints(gaugeRows("a", Seq((old, 1.0), (fresh, 2.0))))
    svc.addDataPoints(gaugeRows("b", Seq((old, 1.0), (fresh, 2.0))))
    // a third tenant with NO tenant row and no override: kept as-is
    svc.addDataPoints(gaugeRows("c", Seq((old, 1.0), (fresh, 2.0)))
      .withColumn("tenant_id", lit("t2")))
    val got = svc.retainedRaw(now).groupBy("metric").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: 3d override drops the 10d-old point; b: tenant 21d keeps both;
    // c: no applicable rule → untouched (system default is the sweep's job)
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 2L), got.toString)
  }

  test("string ingest size cap rejects oversized values (S3)") {
    val s = spark
    import s.implicits._
    val svc = newService()
    val big = Seq((1L, "x" * 3000)).toDF("time", "s_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Str.code.toInt))
      .withColumn("metric", lit("s"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("l_value", lit(null).cast("long"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("tags", map())
    intercept[IllegalArgumentException](svc.addStringDataPoints(big))
  }

  test("stats batch query runs N requests keyed by index (EP2 batch)") {
    val svc = newService()
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "a"), Map("env" -> "prod"))
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "b"), Map("env" -> "dev"))
    svc.addDataPoints(gaugeRows("a", Seq((100L, 2.0), (110L, 4.0))))
    svc.addDataPoints(gaugeRows("b", Seq((105L, 10.0))))
    val cfg = BucketConfig(TimeRange(100, 120), Some(1), None)
    val out = svc.statsBatchQuery("t1", Seq(
      svc.StatsRequest(MetricType.Gauge, Seq("a"), cfg),
      svc.StatsRequest(MetricType.Gauge, Seq("a", "b"), cfg, stacked = true),
      // a request may name its series by TAG EXPRESSION instead of ids
      // (the reference body's metrics-or-tags union, :418-441)
      svc.StatsRequest(MetricType.Gauge, Seq.empty, cfg,
        tagExpression = Some("env = prod"))))
    val r0 = out.filter(col("request_id") === 0).collect()
    assert(r0.length == 1 && r0.head.getAs[Double]("sum") == 6.0)
    val r1 = out.filter(col("request_id") === 1).collect()
    assert(r1.length == 1 && r1.head.getAs[Long]("samples") == 2) // 2 contributing metrics
    assert(r1.head.getAs[Double]("avg") == 13.0) // 3.0 + 10.0
    // tag request resolves to metric 'a' only — same rows as request 0
    val r2 = out.filter(col("request_id") === 2).collect()
    assert(r2.length == 1 && r2.head.getAs[Double]("sum") == 6.0)
    // ids and a tag expression together are rejected loudly; so is neither
    intercept[IllegalArgumentException](
      svc.StatsRequest(MetricType.Gauge, Seq("a"), cfg, tagExpression = Some("env = prod")))
    intercept[IllegalArgumentException](
      svc.StatsRequest(MetricType.Gauge, Seq.empty, cfg))
    // an empty batch is a client error, not an empty.reduce crash
    intercept[IllegalArgumentException](svc.statsBatchQuery("t1", Seq.empty))
    // requests may carry DIFFERENT percentile lists: the p90_0 column
    // exists for request 0 and null-pads for request 1
    val mixedPcts = svc.statsBatchQuery("t1", Seq(
      svc.StatsRequest(MetricType.Gauge, Seq("a"), cfg, percentiles = Seq(90.0)),
      svc.StatsRequest(MetricType.Gauge, Seq("b"), cfg)))
    val p0 = mixedPcts.filter(col("request_id") === 0).collect().head
    val p1 = mixedPcts.filter(col("request_id") === 1).collect().head
    assert(!p0.isNullAt(p0.fieldIndex("p90_0")))
    assert(p1.isNullAt(p1.fieldIndex("p90_0")))
  }

  test("rate stats come back dense; fromEarliest drops only LEADING empties") {
    val s = spark
    import s.implicits._
    val svc = newService()
    val id = MetricId("t1", MetricType.Counter.code, "m")
    svc.createMetric(id, Map.empty)
    val day = 86400000L
    val now = 10 * day
    // rate pairs land in buckets 2 and 5 of the 7-bucket retention window
    // [3d, 10d): interior empties (3, 4) and the trailing empty (6) stay
    // null-filled, only the leading ones (0, 1) are skipped — the
    // reference's toList + skipWhile(isEmpty) shape
    // (CounterHandler.java:640-679). The 70→5 drop across the gap is a
    // counter RESET, so that pair is filtered (F6), keeping the
    // cross-gap pair out of bucket 5
    svc.addDataPoints(Seq(
      (5 * day + 1000, 10L), (5 * day + 61000, 70L),
      (8 * day + 1000, 5L), (8 * day + 61000, 25L)).toDF("time", "l_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Counter.code.toInt))
      .withColumn("metric", lit("m"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map()))
    val dense = svc.findRateStats(id,
      BucketConfig(TimeRange(3 * day, now), None, Some(GDuration.parse("1d"))))
      .orderBy("bucket").collect()
    assert(dense.length == 7)
    assert(dense(2).getAs[Double]("avg") == 60.0 && dense(5).getAs[Double]("avg") == 20.0)
    assert(dense(3).getAs[Any]("samples") == null) // interior gap kept
    val fe = svc.findRateStatsFromEarliest(id, None, Some(GDuration.parse("1d")), now = now)
      .orderBy("bucket").collect()
    assert(fe.length == 5, fe.length.toString) // buckets 2..6: leading 0,1 gone
    assert(fe.head.getAs[Double]("avg") == 60.0)
    assert(fe.last.getAs[Any]("samples") == null) // trailing empty kept
    // the multi-metric pooled path answers dense too
    val pooled = svc.findNumericStats("t1", MetricType.Counter, Seq("m"),
      BucketConfig(TimeRange(3 * day, now), Some(7), None), Seq.empty, stacked = false)
      .orderBy("bucket").collect()
    assert(pooled.length == 7)
    assert(pooled(0).getAs[Any]("samples") == null)
  }

  test("availability stats come back dense (gap-filled per queried metric)") {
    val s = spark
    import s.implicits._
    val svc = newService()
    val av = Seq((15L, 0), (25L, 1)).toDF("time", "avail")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Availability.code.toInt))
      .withColumn("metric", lit("web"))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("l_value", lit(null).cast("long"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map())
    svc.addDataPoints(av)
    val id = MetricId("t1", MetricType.Availability.code, "web")
    val out = svc.findAvailabilityStats(id, BucketConfig(TimeRange(10, 50), Some(4), None))
      .orderBy("bucket").collect()
    assert(out.length == 4) // dense despite only 2 buckets having data
    assert(out(0).getAs[Long]("up_ms") == 10L)
    assert(out(1).getAs[Long]("down_ms") == 10L)
    assert(out(2).getAs[Any]("samples") == null)
  }

  test("tenant deletion drops data and catalog") {
    val svc = newService()
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "m"), Map("a" -> "1"))
    svc.createMetric(MetricId("t2", MetricType.Gauge.code, "n"), Map("b" -> "2"))
    svc.addDataPoints(gaugeRows("m", Seq((1L, 1.0))))
    svc.deleteTenant("t1")
    assert(svc.raw().count() == 0)
    assert(svc.metricsIndex().select("tenant_id").collect().map(_.getString(0)).toSeq == Seq("t2"))
  }

  test("multi-metric fetch by ids and by tag query (NamedDataPoint paths)") {
    val svc = newService()
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "a"), Map("env" -> "prod"))
    svc.createMetric(MetricId("t1", MetricType.Gauge.code, "b"), Map("env" -> "dev"))
    svc.addDataPoints(gaugeRows("a", Seq((1L, 1.0), (2L, 2.0))))
    svc.addDataPoints(gaugeRows("b", Seq((1L, 9.0))))
    svc.addDataPoints(gaugeRows("c", Seq((1L, 5.0))))
    val byIds = svc.findDataPoints("t1", MetricType.Gauge, Seq("a", "b"),
      Some(0L), Some(10L), limit = 0, order = Some(Order.Asc), now = 10L)
      .select("metric").collect().map(_.getString(0))
    assert(byIds.sorted.toSeq == Seq("a", "a", "b"))
    val byTags = svc.findDataPointsByTags("t1", MetricType.Gauge, "env = prod",
      Some(0L), Some(10L), limit = 0, order = Some(Order.Asc), now = 10L)
      .select("metric").distinct().collect().map(_.getString(0)).toSeq
    assert(byTags == Seq("a"))
  }

  test("findGaugeData composes caller transforms over one fetch (§2.10)") {
    val svc = newService()
    svc.addDataPoints(gaugeRows("m", Seq((1L, 1.0), (2L, 3.0), (3L, 8.0))))
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    val Seq(maxed, doubled) = svc.findGaugeData(id, Some(0L), Some(10L),
      df => df.agg(max(col("n_value")).as("mx")),
      df => df.select((col("n_value") * 2).as("v")))
    assert(maxed.collect().head.getDouble(0) == 8.0)
    assert(doubled.collect().map(_.getDouble(0)).sorted.toSeq == Seq(2.0, 6.0, 16.0))
  }

  test("multi-metric rate over an id list") {
    val s = spark
    import s.implicits._
    val svc = newService()
    val counters = Seq(("c1", 0L, 100L), ("c1", 60000L, 160L), ("c2", 0L, 10L), ("c2", 30000L, 40L))
      .toDF("metric", "time", "l_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Counter.code.toInt))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map())
    svc.addDataPoints(counters)
    val rates = svc.findRateData("t1", MetricType.Counter, Seq("c1", "c2"),
      limit = 0, order = Order.Asc)
      .select("metric", "rate").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates == Map("c1" -> 60.0, "c2" -> 60.0))
    // the ranged twin behind rate/query: same values inside the window…
    val ranged = svc.findRateData("t1", MetricType.Counter, Seq("c1", "c2"),
      Some(0L), Some(70000L), limit = 0, order = Some(Order.Asc), now = 70000L)
    assert(ranged.select("metric", "rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap == rates)
    // …and the 100 TB plan shape PLANS.md claims for rate_query_multi:
    // the id set arrives BROADCAST (LeftSemi — the datapoint side never
    // shuffles for the join), the range filter is PUSHED to the scan,
    // and the only exchanges are the W1 pairing shuffle plus the
    // id-cardinality distinct on the broadcast side
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"id semi-join must broadcast:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(time), GreaterThanOrEqual(time,0)"),
      s"range filter must reach the scan:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(hashExchanges == 2, // pairing + tiny id-set distinct, nothing else
      s"expected pairing + id-distinct exchanges only, got $hashExchanges:\n$plan")
  }

  test("rate limit applies AFTER pairing and reset drops (reference take-at-end)") {
    val s = spark
    import s.implicits._
    val svc = newService()
    // rates: 60k→100.0, 120k reset pair DROPPED, 180k→60.0, 240k→60.0
    val pts = Seq(("c", 0L, 100L), ("c", 60000L, 200L), ("c", 120000L, 50L),
      ("c", 180000L, 110L), ("c", 240000L, 170L))
      .toDF("metric", "time", "l_value")
      .withColumn("tenant_id", lit("t1"))
      .withColumn("mtype", lit(MetricType.Counter.code.toInt))
      .withColumn("n_value", lit(null).cast("double"))
      .withColumn("avail", lit(null).cast("int"))
      .withColumn("s_value", lit(null).cast("string"))
      .withColumn("tags", map())
    svc.addDataPoints(pts)
    val id = MetricId("t1", MetricType.Counter.code, "c")
    def got(limit: Int, order: Order) =
      svc.findRateData(id, limit, order).select("time", "rate")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // ASC limit 2: the dropped reset pair must NOT consume the limit —
    // the second emitted rate is 180k, not the reset gap
    assert(got(2, Order.Asc) == Seq((60000L, 100.0), (180000L, 60.0)))
    // DESC limit 2: the LATEST two rates (reference streams newest-first
    // and takes after the pair filter)
    assert(got(2, Order.Desc) == Seq((240000L, 60.0), (180000L, 60.0)))
  }

  test("findMetric returns the LWW definition; scanAllMetricIndexes sees all tenants") {
    val svc = newService()
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    svc.createMetric(id, Map("v" -> "1"))
    svc.createMetric(id, Map("v" -> "2")) // upsert
    svc.createMetric(MetricId("t2", MetricType.Gauge.code, "n"), Map.empty)
    val tags = svc.findMetric(id).select("tags").collect().head.getMap[String, String](0)
    assert(tags("v") == "2")
    assert(svc.scanAllMetricIndexes().select("tenant_id").distinct().count() == 2)
  }

  test("getTagValues: cross-filter intersection and type scoping (TagsITest)") {
    val svc = newService()
    // TagsITest fixture (TagsITest.java:406-439), gauges + one availability
    val gaugeTags = Seq(
      "m1" -> Map("a1" -> "1"), "m2" -> Map("a1" -> "2", "a3" -> "3"),
      "m3" -> Map("a1" -> "2", "a2" -> "2"), "m4" -> Map("a1" -> "2", "a2" -> "3"),
      "m5" -> Map("a1" -> "2", "a2" -> "4"), "m6" -> Map("a2" -> "4"),
      "mA" -> Map("hostname" -> "webfin01"), "mB" -> Map("hostname" -> "webswe02"),
      "mC" -> Map("hostname" -> "backendfin01"), "mD" -> Map("hostname" -> "backendswe02"),
      "mE" -> Map("owner" -> "hede"), "mF" -> Map("owner" -> "hades"),
      "mG" -> Map("owner" -> "had"))
    gaugeTags.foreach { case (m, t) =>
      svc.createMetric(MetricId("t1", MetricType.Gauge.code, m), t)
    }
    svc.createMetric(MetricId("t1", MetricType.Availability.code, "a1"), Map("a1" -> "4"))

    def values(mtype: Option[MetricType], filters: Map[String, String]): Map[String, Set[String]] =
      svc.getTagValues("t1", mtype, filters).collect()
        .map(r => r.getString(0) -> r.getString(1)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap

    // hostname:* → 4 hostnames (TagsITest.java:316-322)
    assert(values(None, Map("hostname" -> "*"))("hostname").size == 4)
    // a1:*,a2:* → intersection first: a1 has ONE value, a2 has three (:324-330)
    val both = values(None, Map("a1" -> "*", "a2" -> "*"))
    assert(both.keySet == Set("a1", "a2"))
    assert(both("a1") == Set("2"))
    assert(both("a2") == Set("2", "3", "4"))
    // availability-scoped: a1 has one value (:332-335)
    assert(values(Some(MetricType.Availability), Map("a1" -> "*"))("a1") == Set("4"))
  }

  test("availability distincts BEFORE limit; strings limit BEFORE distinct " +
    "(MetricsServiceImpl.java:972-979 vs :1002-1003)") {
    val s = spark
    import s.implicits._
    val svc = newService()
    def typed(metric: String, mtype: Int, rows: Seq[(Long, Int, String)]) =
      rows.toDF("time", "avail_v", "s_v")
        .withColumn("tenant_id", lit("t1"))
        .withColumn("mtype", lit(mtype))
        .withColumn("metric", lit(metric))
        .withColumn("n_value", lit(null).cast("double"))
        .withColumn("l_value", lit(null).cast("long"))
        .withColumn("avail", when(lit(mtype) === 1, col("avail_v")).otherwise(lit(null).cast("int")))
        .withColumn("s_value", when(lit(mtype) === 4, col("s_v")).otherwise(lit(null).cast("string")))
        .drop("avail_v", "s_v")
    // UP, UP, DOWN, UP at t=1..4
    val runs = Seq((1L, 0, "x"), (2L, 0, "x"), (3L, 1, "y"), (4L, 0, "x"))
    svc.addDataPoints(typed("av", MetricType.Availability.code.toInt, runs))
    svc.addDataPoints(typed("st", MetricType.Str.code.toInt, runs))
    // availability: distinct first → [UP@1, DOWN@3, UP@4]; limit 2 keeps
    // the DOWN transition
    val av = svc.findAvailabilityData(MetricId("t1", MetricType.Availability.code, "av"),
      Some(0L), None, distinct = true, limit = 2, now = 10L)
      .select("time", "avail").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(av == Seq((1L, 0), (3L, 1)))
    // strings: raw limit 2 = [x@1, x@2], then distinct → one row
    val st = svc.findStringData(MetricId("t1", MetricType.Str.code, "st"),
      Some(0L), None, distinct = true, limit = 2, now = 10L)
      .select("time", "s_value").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(st == Seq((1L, "x")))
    // DESC distinct collapses in fetch order: each run keeps its LATEST
    // point — [(4,UP),(3,DOWN),(2,UP)], limit 2 takes the newest two
    val avDesc = svc.findAvailabilityData(MetricId("t1", MetricType.Availability.code, "av"),
      Some(0L), Some(10L), distinct = true, limit = 2, order = Some(Order.Desc), now = 10L)
      .select("time", "avail").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(avDesc == Seq((4L, 0), (3L, 1)))
    // DESC + distinct strings: fetch order [x@4, y@3, x@2, x@1] — each run
    // keeps its LATEST point, so the trailing x-run collapses to x@2 (an
    // ASC-defaulting collapse would wrongly keep x@1)
    val stDesc = svc.findStringData(MetricId("t1", MetricType.Str.code, "st"),
      Some(0L), Some(10L), distinct = true, order = Some(Order.Desc), now = 10L)
      .select("time", "s_value").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(-_._1).toSeq
    assert(stDesc == Seq((4L, "x"), (3L, "y"), (2L, "x")))
  }

  test("getPeriods honors the requested range") {
    val svc = newService()
    svc.addDataPoints(gaugeRows("m", Seq((1L, 9.0), (2L, 9.0), (5L, 1.0), (7L, 9.0))))
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    val all = svc.getPeriods(id, col("n_value") > 5.0, Some(0L), Some(10L), now = 10L)
      .orderBy("period_start").collect()
      .map(r => (r.getAs[Long]("period_start"), r.getAs[Long]("period_end"))).toSeq
    assert(all == Seq((1L, 2L), (7L, 7L)))
    // narrowed range excludes the second run
    val early = svc.getPeriods(id, col("n_value") > 5.0, Some(0L), Some(6L), now = 10L)
      .collect().map(r => (r.getAs[Long]("period_start"), r.getAs[Long]("period_end"))).toSeq
    assert(early == Seq((1L, 2L)))
  }

  test("tier serving: a TierLayout service answers aligned percentile-free " +
    "stats from the tiers (raw never read) bit-equal to the raw path on the " +
    "served surface for all four families; misaligned and percentile " +
    "requests keep the raw path") {
    import graft.storage.GraftStorage
    val root = Files.createTempDirectory("graft-svc-tier").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.defaultTiers(root)))
    val plain = new MetricsService(spark, root) // same store, no layout
    val H = GraftStorage.RollupMs
    locally {
      val s = spark
      import s.implicits._
      tiered.addDataPoints(canonicalPoints(
        Seq((H + 100L, 1.0), (H + 200L, 3.0), (2 * H + 100L, 10.0))
          .toDF("time", "n_value").withColumn("metric", lit("g")),
        MetricType.Gauge))
      tiered.addDataPoints(canonicalPoints(
        Seq((H + 100L, 10L), (H + 2000L, 40L), (2 * H + 500L, 130L))
          .toDF("time", "l_value").withColumn("metric", lit("c")),
        MetricType.Counter))
      tiered.addDataPoints(canonicalPoints(
        Seq((H + 100L, 0), (H + 2000L, 1), (2 * H + 500L, 0))
          .toDF("time", "avail").withColumn("metric", lit("av")),
        MetricType.Availability))
    }
    tiered.refreshTiers()
    val g = MetricId("t1", MetricType.Gauge.code, "g")
    val c = MetricId("t1", MetricType.Counter.code, "c")
    val av = MetricId("t1", MetricType.Availability.code, "av")
    val aligned = BucketConfig(TimeRange(H, 4 * H), Some(3), None) // step = 1h
    val misaligned = BucketConfig(TimeRange(H, 4 * H), Some(5), None)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    def served(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(("bucket" +: cols).map(col): _*).collect().map(_.toSeq).toSet
    val five = Seq("min", "avg", "max", "sum", "samples")
    // gauge: tier plan reads gauge_sums only; 5-col surface equality;
    // median ABSENT from the served frame (the documented omission)
    val gTier = tiered.findGaugeStats(g, aligned)
    assert(plan(gTier).contains("gauge_sums") && !plan(gTier).contains("/data"),
      s"aligned gauge stats must read the tier only:\n${plan(gTier)}")
    assert(!gTier.columns.contains("median"))
    assert(served(gTier, five) == served(plain.findGaugeStats(g, aligned), five))
    // counter values: same posture over counter_sums
    val cTier = tiered.findCounterStats(c, aligned)
    assert(plan(cTier).contains("counter_sums") && !plan(cTier).contains("/data"))
    assert(served(cTier, five) == served(plain.findCounterStats(c, aligned), five))
    // availability: COMPLETE shape equality (no omitted fields)
    val aTier = tiered.findAvailabilityStats(av, aligned)
    val aCols = Seq("metric", "up_ms", "down_ms", "unknown_ms", "admin_ms",
      "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    assert(plan(aTier).contains("tiers/avail") && !plan(aTier).contains("/data"))
    assert(served(aTier, aCols) ==
      served(plain.findAvailabilityStats(av, aligned), aCols))
    // counter rates: tier serve over counter_rate
    val rTier = tiered.findRateStats(c, aligned)
    assert(plan(rTier).contains("counter_rate") && !plan(rTier).contains("/data"))
    assert(served(rTier, five) == served(plain.findRateStats(c, aligned), five))
    // misaligned grid: BOTH services take the identical raw path
    val gMis = tiered.findGaugeStats(g, misaligned)
    assert(plan(gMis).contains("/data"), "misaligned stats must read raw")
    assert(gMis.columns.contains("median"))
    assert(served(gMis, five :+ "median") ==
      served(plain.findGaugeStats(g, misaligned), five :+ "median"))
    // percentile request: raw path even on the aligned grid
    val gPct = tiered.findGaugeStats(g, aligned, Seq(90.0))
    assert(plan(gPct).contains("/data") && gPct.columns.contains("p90_0"))
    // counter-increase accounting: tier and raw branches answer
    // identically; the aligned in-watermark request reads the tier
    val r = TimeRange(H, 3 * H)
    def incRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val incTier = tiered.findCounterIncrease("t1", r)
    assert(plan(incTier).contains("counter_increase") &&
      !plan(incTier).contains("/data"))
    assert(incRows(incTier) == incRows(plain.findCounterIncrease("t1", r)) &&
      incRows(incTier).nonEmpty)
    // FRESHNESS watermark: a tail the tiers never covered answers from
    // raw. Constructed on a FRESH store with a bounded FIRST refresh —
    // on an already-fully-refreshed store this state is no longer
    // constructible, because the watermark never regresses and ingest
    // marks + the sweep fold late points in automatically (the
    // dirty-slice contract; pinned in its own spec)
    locally {
      val s2 = spark
      import s2.implicits._
      val root2 = Files.createTempDirectory("graft-svc-tier-tail").toString
      val t2 = new MetricsService(spark, root2,
        Some(MetricsService.defaultTiers(root2)))
      t2.addDataPoints(canonicalPoints(
        Seq((H + 100L, 1.0), (25 * H + 100L, 7.0)).toDF("time", "n_value")
          .withColumn("metric", lit("g")), MetricType.Gauge))
      t2.refreshTiers(upToSlice = 1) // watermark = 24h, slice 1 unrefreshed
      val tail = BucketConfig(TimeRange(24 * H, 26 * H), Some(2), None)
      val gTail = t2.findGaugeStats(g, tail)
      assert(plan(gTail).contains("/data"),
        "an aligned request past the watermark must take the raw path")
      assert(gTail.filter(col("samples") === 1).count() == 1,
        "the raw path must see the unrefreshed point")
      // …while in-watermark aligned requests serve from the tier
      assert(plan(t2.findGaugeStats(g,
        BucketConfig(TimeRange(H, 3 * H), Some(2), None))).contains("gauge_sums"))
      // the slice-1 ingest mark was KEPT (above the watermark, not swept
      // early); the tail refresh covers it and the tier takes over
      t2.refreshTiers()
      assert(plan(t2.findGaugeStats(g, tail)).contains("gauge_sums"))
      assert(t2.findGaugeStats(g, tail)
        .filter(col("samples") === 1).count() == 1)
    }
  }

  test("tier serving: a family with NO data (empty tier dir after refresh) " +
    "routes to the raw path instead of dying on an unreadable empty parquet") {
    import graft.storage.GraftStorage
    val root = Files.createTempDirectory("graft-svc-tier-empty").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.defaultTiers(root)))
    val H = GraftStorage.RollupMs
    // gauges only — the avail/counter tier refreshes write EMPTY dirs
    val s = spark
    import s.implicits._
    tiered.addDataPoints(canonicalPoints(
      Seq((H + 100L, 1.0)).toDF("time", "n_value")
        .withColumn("metric", lit("g")), MetricType.Gauge))
    tiered.refreshTiers()
    val aligned = BucketConfig(TimeRange(H, 3 * H), Some(2), None)
    // an aligned availability request on the dataless family must answer
    // (dense empty buckets), not throw from the empty tier dir
    val av = tiered.findAvailabilityStats(
      MetricId("t1", MetricType.Availability.code, "nosuch"), aligned)
    assert(av.count() == 2 && av.filter(col("samples").isNotNull).count() == 0)
    val ctr = tiered.findCounterStats(
      MetricId("t1", MetricType.Counter.code, "nosuch"), aligned)
    assert(ctr.count() == 2)
    // the gauge family still serves from its (non-empty) tier
    assert(tiered.findGaugeStats(MetricId("t1", MetricType.Gauge.code, "g"),
      aligned).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("gauge_sums"))
  }

  test("tagSource=metric dispatch: a catalog-matching tag filter serves " +
    "aligned whole-range stats from the sums tier (raw never read), " +
    "misaligned from raw with identical stats (+median); a non-matching " +
    "filter answers EMPTY; the per-point route is untouched") {
    import graft.storage.GraftStorage
    val root = Files.createTempDirectory("graft-svc-tagsrc").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.defaultTiers(root)))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    tiered.createMetric(MetricId("t1", MetricType.Gauge.code, "g"),
      Map("dc" -> "east", "role" -> "web"))
    // points carry a PER-POINT tag named dc too — the default route must
    // keep grouping by per-point values, the metric route by the catalog
    tiered.addDataPoints(canonicalPoints(
      Seq((H + 100L, 1.0), (H + 200L, 3.0), (2 * H + 100L, 10.0))
        .toDF("time", "n_value").withColumn("metric", lit("g")),
      MetricType.Gauge).withColumn("tags", map(lit("dc"), lit("pointval"))))
    tiered.refreshTiers()
    val g = MetricId("t1", MetricType.Gauge.code, "g")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // aligned + catalog-matching (pattern semantics: `*` and a literal)
    val served = tiered.findStatsMetricTags(g,
      Map("dc" -> "east", "role" -> "*"), Seq.empty, H, 3 * H)
    assert(plan(served).contains("gauge_sums") && !plan(served).contains("/data"),
      s"aligned metric-level filter must serve from the tier:\n${plan(served)}")
    val row = served.head()
    assert(row.getAs[String]("tag_dc") == "east" &&
      row.getAs[String]("tag_role") == "web")
    assert(row.getAs[Long]("samples") == 3L && row.getAs[Double]("sum") == 14.0)
    assert(!served.columns.contains("median"), "tier signature: median omitted")
    // misaligned: raw branch, same five, median present
    val mis = tiered.findStatsMetricTags(g,
      Map("dc" -> "east"), Seq.empty, H, 3 * H - 1)
    assert(plan(mis).contains("/data"))
    val mRow = mis.head()
    assert(mRow.getAs[Long]("samples") == 3L && mRow.getAs[Double]("sum") == 14.0 &&
      mRow.getAs[Double]("median") == 3.0)
    // a filter the catalog does NOT match answers empty (both shapes)
    assert(tiered.findStatsMetricTags(g,
      Map("dc" -> "west"), Seq.empty, H, 3 * H).isEmpty)
    assert(tiered.findStatsMetricTags(g,
      Map("nosuch" -> "*"), Seq.empty, H, 3 * H).isEmpty)
    // the default per-point route still groups by PER-POINT values
    val perPoint = tiered.findGaugeStats(g, Map("dc" -> "*"), Seq.empty, H, 3 * H)
    assert(perPoint.select("tag_dc").collect().map(_.getString(0)).toSet ==
      Set("pointval"))
  }

  test("dirty-slice backfill: a point written below the freshness watermark " +
    "is marked, swept by the next refresh (whose own window does NOT cover " +
    "it), and then SERVES from the tier; the sweep is replay-idempotent " +
    "and clears the log") {
    import graft.storage.GraftStorage
    val root = Files.createTempDirectory("graft-svc-dirty").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.defaultTiers(root)))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    tiered.addDataPoints(canonicalPoints(
      Seq((H + 100L, 1.0), (2 * H + 100L, 3.0)).toDF("time", "n_value")
        .withColumn("metric", lit("g")), MetricType.Gauge))
    tiered.refreshTiers()
    val tierRoot = MetricsService.defaultTiers(root).root
    assert(GraftStorage.dirtySliceLog(spark, tierRoot).isEmpty,
      "a fresh refresh leaves no dirty entries")
    // BACKFILL into hour 1 — below the watermark, already refreshed
    tiered.addDataPoints(canonicalPoints(
      Seq((H + 200L, 11.0)).toDF("time", "n_value")
        .withColumn("metric", lit("g")), MetricType.Gauge))
    val logged = GraftStorage.dirtySliceLog(spark, tierRoot)
    assert(logged.flatMap(_._2) == Seq(0L),
      s"the backfilled slice must be marked, got $logged")
    val g = MetricId("t1", MetricType.Gauge.code, "g")
    val aligned = BucketConfig(TimeRange(H, 3 * H), Some(2), None)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // pre-sweep, the tier still serves the STALE slice (documented
    // contract — within the watermark the tier is authoritative)
    assert(tiered.findGaugeStats(g, aligned)
      .filter(col("bucket") === 0).head().getAs[Long]("samples") == 1L)
    // a bounded refresh that does NOT cover slice 0 by itself: only the
    // dirty sweep can fold the backfill in
    tiered.refreshTiers(fromSlice = 1)
    val served = tiered.findGaugeStats(g, aligned)
    assert(plan(served).contains("gauge_sums") && !plan(served).contains("/data"),
      "the aligned request must still serve from the tier")
    val b0 = served.filter(col("bucket") === 0).head()
    assert(b0.getAs[Long]("samples") == 2L && b0.getAs[Double]("max") == 11.0,
      "the tier must serve the backfilled point after the sweep")
    assert(GraftStorage.dirtySliceLog(spark, tierRoot).isEmpty,
      "the sweep must clear the log")
    // replay-idempotence: restore the swept entry (the crash-before-clear
    // window) and sweep again — same tier rows, log cleared again
    val before = served.collect().map(_.toSeq).toSet
    GraftStorage.markDirtySlices(spark, tierRoot, Seq(0L))
    tiered.refreshTiers(fromSlice = 1)
    assert(tiered.findGaugeStats(g, aligned).collect().map(_.toSeq).toSet == before,
      "replaying the sweep must not change any tier-served row")
    assert(GraftStorage.dirtySliceLog(spark, tierRoot).isEmpty)
  }

  test("TierApprox percentile serving: aligned in-watermark gauge percentile " +
    "requests read gauge_sums + gauge_hist ONLY (raw never scanned); the " +
    "five stats stay exact, the percentile sits in the accuracy band; the " +
    "DEFAULT exact path still reads raw (no silent semantics change); " +
    "misaligned / past-watermark TierApprox requests answer exact from raw") {
    import graft.storage.GraftStorage
    import graft.operators.MetricsOps
    val root = Files.createTempDirectory("graft-svc-tierpct").toString
    val layout = MetricsService.TierLayout(s"$root/tiers",
      histEdges = Some((0.0, 100.0, 20)))
    val tiered = new MetricsService(spark, root, Some(layout))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    // 40 points across two hours, values 1..40 — a non-trivial p90
    val pts = (1 to 40).map(i => (H + i * 60000L, i.toDouble))
    tiered.addDataPoints(canonicalPoints(
      pts.toDF("time", "n_value").withColumn("metric", lit("g")),
      MetricType.Gauge))
    tiered.refreshTiers()
    val g = MetricId("t1", MetricType.Gauge.code, "g")
    val aligned = BucketConfig(TimeRange(H, 3 * H), Some(2), None)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val approx = tiered.findGaugeStats(g, aligned, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    val p = plan(approx)
    assert(p.contains("gauge_sums") && p.contains("gauge_hist") &&
      !p.contains("/data"),
      s"TierApprox must read the two tiers only:\n$p")
    val exact = tiered.findGaugeStats(g, aligned, Seq(90.0))
    assert(plan(exact).contains("/data"),
      "the default exact percentile path must keep reading raw")
    val five = Seq("bucket", "min", "avg", "max", "sum", "samples")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(five.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(approx) == rows(exact),
      "the five served stats must stay exactly the raw-path answer")
    assert(!approx.columns.contains("median"), "tier signature: median omitted")
    // estimate band: within one bin width (5.0) + interpolation slack of
    // the exact p90 per bucket
    val est = approx.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ex = exact.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(est.keySet == ex.keySet && est.nonEmpty)
    ex.foreach { case (b, v) =>
      assert(math.abs(est(b) - v) <= 10.0,
        s"bucket $b: estimate ${est(b)} too far from exact $v")
    }
    // misaligned grid: TierApprox falls back to EXACT raw — identical to
    // the exact call, percentiles included
    val mis = BucketConfig(TimeRange(H, 3 * H), Some(5), None)
    val misApprox = tiered.findGaugeStats(g, mis, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    assert(plan(misApprox).contains("/data"))
    def all(df: org.apache.spark.sql.DataFrame) =
      df.select((five :+ "p90_0").map(col): _*).collect().map(_.toSeq).toSet
    assert(all(misApprox) == all(tiered.findGaugeStats(g, mis, Seq(90.0))))
    // past the watermark: raw fallback too (fresh store, bounded FIRST
    // refresh — see the tier-serving spec's tail note: on a refreshed
    // store the monotonic watermark + dirty sweep make this state
    // unconstructible)
    val root2 = Files.createTempDirectory("graft-svc-tierpct2").toString
    val t2 = new MetricsService(spark, root2,
      Some(MetricsService.TierLayout(s"$root2/tiers",
        histEdges = Some((0.0, 100.0, 20)))))
    t2.addDataPoints(canonicalPoints(
      (pts :+ (25 * H + 100L, 7.0)).toDF("time", "n_value")
        .withColumn("metric", lit("g")), MetricType.Gauge))
    t2.refreshTiers(upToSlice = 1)
    val tail = BucketConfig(TimeRange(24 * H, 26 * H), Some(2), None)
    assert(plan(t2.findGaugeStats(g, tail, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)).contains("/data"),
      "past-watermark TierApprox must take the raw path")
    // a layout WITHOUT histEdges keeps the seeded hist tier fresh from
    // its own meta: the tail point lands in the tiers after a plain
    // refresh through an edge-less layout
    val edgeless = new MetricsService(spark, root2,
      Some(MetricsService.TierLayout(s"$root2/tiers")))
    edgeless.refreshTiers()
    val tailApprox = edgeless.findGaugeStats(g, tail, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    assert(plan(tailApprox).contains("gauge_hist") &&
      !plan(tailApprox).contains("/data"))
    assert(tailApprox.filter(col("samples") === 1).count() == 1,
      "the refreshed tier must serve the late point")
  }

  test("pooled TierApprox: aligned multi-metric percentile requests read " +
    "gauge_sums + gauge_hist over the id semi-join only; five stats equal " +
    "the exact pooled raw answer; stacked / counter / explicit-sketch " +
    "requests keep the raw path; default pooled dispatch unchanged") {
    import graft.storage.GraftStorage
    import graft.operators.MetricsOps
    val root = Files.createTempDirectory("graft-svc-pooledpct").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.TierLayout(s"$root/tiers",
        histEdges = Some((0.0, 100.0, 20)))))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    val pts = (1 to 40).flatMap(i => Seq(
      ("ma", H + i * 60000L, i.toDouble), ("mb", H + i * 61000L, (i * 2 % 90).toDouble)))
    tiered.addDataPoints(canonicalPoints(
      pts.toDF("metric", "time", "n_value"), MetricType.Gauge))
    tiered.refreshTiers()
    val cfg = BucketConfig(TimeRange(H, 3 * H), Some(2), None)
    val ids = Seq("ma", "mb")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // pooled TierApprox with percentiles: tier pair only
    val served = tiered.findNumericStats("t1", MetricType.Gauge,
      ids.toDF("metric"), cfg, Seq(90.0), stacked = false,
      Some(MetricsOps.PercentileMode.TierApprox))
    assert(plan(served).contains("gauge_sums") && plan(served).contains("gauge_hist") &&
      !plan(served).contains("/data"),
      s"pooled TierApprox must read the two tiers only:\n${plan(served)}")
    val exact = tiered.findNumericStats("t1", MetricType.Gauge,
      ids.toDF("metric"), cfg, Seq(90.0), stacked = false)
    assert(plan(exact).contains("/data"),
      "the default pooled percentile path must keep reading raw")
    val five = Seq("bucket", "min", "avg", "max", "sum", "samples")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(five.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(served) == rows(exact),
      "the five pooled stats must stay exactly the raw-path answer")
    // estimate in band of the exact pooled p90
    val est = served.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ex = exact.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(est.keySet == ex.keySet && est.nonEmpty)
    ex.foreach { case (b, v) => assert(math.abs(est(b) - v) <= 10.0,
      s"bucket $b: pooled estimate ${est(b)} too far from exact $v") }
    // STACKED TierApprox resolves to raw (per-metric distributions)
    val stackedReq = tiered.findNumericStats("t1", MetricType.Gauge,
      ids.toDF("metric"), cfg, Seq(90.0), stacked = true,
      Some(MetricsOps.PercentileMode.TierApprox))
    assert(plan(stackedReq).contains("/data"))
    // misaligned TierApprox: EXACT raw fallback — identical to the
    // explicit-Exact pooled answer, percentiles included (the TierApprox
    // contract: never a different estimator)
    val misCfg = BucketConfig(TimeRange(H, 3 * H), Some(5), None)
    def all(df: org.apache.spark.sql.DataFrame) = df
      .select((five :+ "p90_0").map(col): _*).collect().map(_.toSeq).toSet
    assert(all(tiered.findNumericStats("t1", MetricType.Gauge,
      ids.toDF("metric"), misCfg, Seq(90.0), stacked = false,
      Some(MetricsOps.PercentileMode.TierApprox))) ==
      all(tiered.findNumericStats("t1", MetricType.Gauge,
        ids.toDF("metric"), misCfg, Seq(90.0), stacked = false,
        Some(MetricsOps.PercentileMode.Exact))))
    // explicit p2sketch keeps raw even PERCENTILE-FREE (its median
    // estimate is part of the requested semantics)
    val sk = tiered.findNumericStats("t1", MetricType.Gauge,
      ids.toDF("metric"), cfg, Seq.empty, stacked = false,
      Some(MetricsOps.PercentileMode.P2Sketch))
    assert(plan(sk).contains("/data") && sk.columns.contains("median"))
    // default percentile-free pooled dispatch still serves the sums tier
    assert(plan(tiered.findNumericStats("t1", MetricType.Gauge,
      ids.toDF("metric"), cfg, Seq.empty, stacked = false)).contains("gauge_sums"))
  }

  test("rate TierApprox: aligned in-watermark rate-percentile requests read " +
    "the rate tier pair only (counter_rate + counter_rate_hist, raw never " +
    "scanned); the five stats equal the exact raw rate answer; misaligned " +
    "requests fall back to exact raw; sparse early slices do NOT refuse " +
    "coverage (the _covered_from watermark, not data presence, decides)") {
    import graft.storage.GraftStorage
    import graft.operators.MetricsOps
    val root = Files.createTempDirectory("graft-svc-ratepct").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.TierLayout(s"$root/tiers",
        rateHistEdges = Some((0.0, 120000.0, 20)))))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    // hour 1: a SINGLE point (no within-hour pair — the sparse-slice
    // case); hours 25-26 (slice 1): a dense run of pairs
    val pts = Seq((H + 100L, 10L)) ++
      (1 to 30).map(i => (25 * H + i * 60000L, 10L + i * 3L))
    tiered.addDataPoints(canonicalPoints(
      pts.toDF("time", "l_value").withColumn("metric", lit("c")),
      MetricType.Counter))
    tiered.refreshTiers()
    val c = MetricId("t1", MetricType.Counter.code, "c")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // the request starts at hour 1 — the rate-hist tier has NO slice-0
    // rows (single point), but coverage is the refresh extent, so the
    // tier pair must still serve
    val aligned = BucketConfig(TimeRange(H, 26 * H), Some(25), None)
    val served = tiered.findRateStats(c, aligned, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    assert(plan(served).contains("counter_rate_hist") &&
      plan(served).contains("counter_rate]") && !plan(served).contains("/data"),
      s"rate TierApprox must read the rate tier pair only:\n${plan(served)}")
    assert(!served.columns.contains("median"))
    val exact = tiered.findRateStats(c, aligned, Seq(90.0))
    assert(plan(exact).contains("/data"),
      "the default exact rate percentile path must keep reading raw")
    val five = Seq("bucket", "min", "avg", "max", "sum", "samples")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(five.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(served) == rows(exact),
      "the five served rate stats must equal the exact raw answer")
    // estimate in band of exact p90 (bin width 6000)
    val est = served.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ex = exact.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(est.nonEmpty && est.keySet == ex.keySet)
    ex.foreach { case (b, v) => assert(math.abs(est(b) - v) <= 12000.0,
      s"bucket $b: rate estimate ${est(b)} too far from exact $v") }
    // misaligned: exact raw, identical to the explicit exact call
    val mis = BucketConfig(TimeRange(H, 26 * H), Some(7), None)
    def all(df: org.apache.spark.sql.DataFrame) = df
      .select((five :+ "p90_0").map(col): _*).collect().map(_.toSeq).toSet
    val misServed = tiered.findRateStats(c, mis, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    assert(plan(misServed).contains("/data"))
    assert(all(misServed) == all(tiered.findRateStats(c, mis, Seq(90.0))))
    // estimator modes refuse on this surface
    intercept[IllegalArgumentException] {
      tiered.findRateStats(c, aligned, Seq(90.0),
        MetricsOps.PercentileMode.P2Sketch)
    }
  }

  test("rate TierApprox on an ALL-sparse store: every hour holds at most one " +
    "point, so the refreshed rate-hist tier is physically EMPTY — the " +
    "percentile request must still serve from the tier pair (boundary-pair " +
    "reconstruction off the rate tier, raw never read), not silently " +
    "downgrade to a raw scan forever") {
    import graft.storage.GraftStorage
    import graft.operators.MetricsOps
    val root = Files.createTempDirectory("graft-svc-ratesparse").toString
    val layout = MetricsService.TierLayout(s"$root/tiers",
      rateHistEdges = Some((0.0, 2.0, 20)))
    val tiered = new MetricsService(spark, root, Some(layout))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    // one point five minutes into EVERY hour 1000..1029 — no hour
    // anywhere holds a within-hour pair, so every rate is a boundary pair
    val pts = (1000 until 1030).map(i => (i * H + 5 * 60000L, 10L + i * 7L))
    tiered.addDataPoints(canonicalPoints(
      pts.toDF("time", "l_value").withColumn("metric", lit("c")),
      MetricType.Counter))
    tiered.refreshTiers()
    // the fixture's point: the rate-hist tier holds NO data partitions
    // (only its _histmeta/_covered_from side files)
    assert(!new java.io.File(layout.counterRateHist).list()
      .exists(_.startsWith("tenant_id=")),
      "fixture must leave the rate-hist tier physically empty")
    val c = MetricId("t1", MetricType.Counter.code, "c")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val aligned = BucketConfig(TimeRange(1000 * H, 1030 * H), Some(30), None)
    val served = tiered.findRateStats(c, aligned, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    assert(plan(served).contains("counter_rate]") && !plan(served).contains("/data"),
      s"the empty-hist tier serve must read the rate tier only:\n${plan(served)}")
    assert(!served.columns.contains("median"))
    val exact = tiered.findRateStats(c, aligned, Seq(90.0))
    val five = Seq("bucket", "min", "avg", "max", "sum", "samples")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(five.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(served) == rows(exact),
      "the five served rate stats must equal the exact raw answer")
    // every rate is 7/hour = 0.11667/min — estimate within two bin
    // widths (0.2) of the exact per-bucket p90
    val est = served.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ex = exact.filter(col("p90_0").isNotNull)
      .select("bucket", "p90_0").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(est.nonEmpty && est.keySet == ex.keySet,
      s"served percentile buckets ${est.keySet} must match exact ${ex.keySet}")
    ex.foreach { case (b, v) => assert(math.abs(est(b) - v) <= 0.2,
      s"bucket $b: rate estimate ${est(b)} too far from exact $v") }
  }

  test("watermark monotonicity + hist coverage: an old-window bounded " +
    "re-refresh never LOWERS the watermark (recent ranges keep serving " +
    "from the tier); a histogram tier seeded after sums history refuses " +
    "TierApprox for ranges it does not cover (exact raw fallback) and " +
    "serves ranges it does") {
    import graft.storage.GraftStorage
    import graft.operators.MetricsOps
    val root = Files.createTempDirectory("graft-svc-wmmono").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.defaultTiers(root)))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    tiered.addDataPoints(canonicalPoints(
      ((1 to 20).map(i => (H + i * 60000L, i.toDouble)) :+ (25 * H + 100L, 7.0))
        .toDF("time", "n_value").withColumn("metric", lit("g")),
      MetricType.Gauge))
    tiered.refreshTiers() // watermark = now, both slices covered
    val g = MetricId("t1", MetricType.Gauge.code, "g")
    val recent = BucketConfig(TimeRange(24 * H, 26 * H), Some(2), None)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan(tiered.findGaugeStats(g, recent)).contains("gauge_sums"))
    // the dirty sweep's own recipe: re-refresh an OLD window — the
    // watermark must not regress, or recent in-watermark requests flip
    // to raw and watermark-filtered ingest marking silently strands
    tiered.refreshTiers(upToSlice = 1, fromSlice = 0)
    assert(plan(tiered.findGaugeStats(g, recent)).contains("gauge_sums"),
      "a bounded old-window re-refresh must not lower the watermark")
    // hist tier seeded LATE, covering slice 1 only (sums covers 0 and 1)
    val edged = new MetricsService(spark, root,
      Some(MetricsService.TierLayout(s"$root/tiers",
        histEdges = Some((0.0, 100.0, 20)))))
    edged.refreshTiers(upToSlice = 2, fromSlice = 1)
    val old = BucketConfig(TimeRange(H, 3 * H), Some(2), None)
    val oldReq = edged.findGaugeStats(g, old, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    assert(plan(oldReq).contains("/data") && oldReq.columns.contains("median"),
      "a range the hist tier does not cover must fall back to exact raw")
    assert(oldReq.filter(col("p90_0").isNotNull).count() > 0,
      "the exact fallback must still answer the percentile")
    val newReq = edged.findGaugeStats(g, recent, Seq(90.0),
      MetricsOps.PercentileMode.TierApprox)
    assert(plan(newReq).contains("gauge_hist") && !plan(newReq).contains("/data"),
      "a range the hist tier covers must serve from the tier pair")
  }

  test("freshness watermark durability: refreshTiers commits the watermark " +
    "via temp + rename (no tmp residue, parsable value); a TORN/garbage " +
    "watermark degrades requests to the raw path instead of erroring") {
    import graft.storage.GraftStorage
    val root = Files.createTempDirectory("graft-svc-wm").toString
    val tiered = new MetricsService(spark, root,
      Some(MetricsService.defaultTiers(root)))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    tiered.addDataPoints(canonicalPoints(
      Seq((H + 100L, 1.0), (2 * H + 100L, 3.0)).toDF("time", "n_value")
        .withColumn("metric", lit("g")), MetricType.Gauge))
    tiered.refreshTiers()
    val tierRoot = MetricsService.defaultTiers(root).root
    val fs = new org.apache.hadoop.fs.Path(tierRoot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$tierRoot/_refreshed_until")
    val tmp = new org.apache.hadoop.fs.Path(s"$tierRoot/._refreshed_until.tmp")
    assert(fs.exists(live) && !fs.exists(tmp),
      "the watermark must be committed with no tmp residue")
    locally {
      val in = fs.open(live)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      assert(txt.trim.toLong > 0L)
    }
    val g = MetricId("t1", MetricType.Gauge.code, "g")
    val aligned = BucketConfig(TimeRange(H, 3 * H), Some(2), None)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan(tiered.findGaugeStats(g, aligned)).contains("gauge_sums"))
    val tierRows = tiered.findGaugeStats(g, aligned)
      .select("bucket", "min", "avg", "max", "sum", "samples")
      .collect().map(_.toSeq).toSet
    // tear the watermark: a crash mid-write on a non-rename-atomic store,
    // or a manual edit — every request must DEGRADE to raw, never 500
    val out = fs.create(live, true)
    try out.write("torn-garbage".getBytes) finally out.close()
    val degraded = tiered.findGaugeStats(g, aligned)
    assert(plan(degraded).contains("/data"),
      "an unparsable watermark must route to the raw path")
    assert(degraded.select("bucket", "min", "avg", "max", "sum", "samples")
      .collect().map(_.toSeq).toSet == tierRows,
      "the degraded raw path must answer the same rows")
    // a re-refresh heals the watermark and the tier serves again
    tiered.refreshTiers()
    assert(plan(tiered.findGaugeStats(g, aligned)).contains("gauge_sums"))
  }

  test("tier dispatch matrix: every tier-served entry point serves from its " +
    "tier only when the grid is aligned, inside the watermark, percentile-" +
    "free under Exact, and the tier is built; each refusal reads raw") {
    import graft.storage.GraftStorage
    import graft.operators.MetricsOps
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("graft-svc-matrix").toString
    def layout(dir: String) = MetricsService.TierLayout(s"$root/$dir",
      histEdges = Some((0.0, 100.0, 20)), rateHistEdges = Some((0.0, 10.0, 20)))
    val tiered = new MetricsService(spark, root, Some(layout("tiers")))
    val H = GraftStorage.RollupMs
    val s = spark
    import s.implicits._
    val g = MetricId("t1", MetricType.Gauge.code, "g")
    val c = MetricId("t1", MetricType.Counter.code, "c")
    val av = MetricId("t1", MetricType.Availability.code, "av")
    tiered.createMetric(g, Map("dc" -> "east"))
    // hours 1-2 (slice 0) dense, plus one point in slice 1 past the watermark
    val mins = 1 to 40
    tiered.addDataPoints(canonicalPoints(
      (mins.map(i => (H + i * 60000L, i.toDouble)) :+ (25 * H + 100L, 7.0))
        .toDF("time", "n_value").withColumn("metric", lit("g")), MetricType.Gauge))
    tiered.addDataPoints(canonicalPoints(
      (mins.map(i => (H + i * 60000L, 10L + 3L * i)) :+ (25 * H + 100L, 500L))
        .toDF("time", "l_value").withColumn("metric", lit("c")), MetricType.Counter))
    tiered.addDataPoints(canonicalPoints(
      Seq((H + 100L, 0), (H + 2000L, 1), (2 * H + 500L, 0), (25 * H + 100L, 1))
        .toDF("time", "avail").withColumn("metric", lit("av")),
      MetricType.Availability))
    tiered.refreshTiers(upToSlice = 1) // watermark = 24h
    // a layout whose watermark covers everything but whose families were
    // never built: only tier absence can refuse it
    val absent = new MetricsService(spark, root, Some(layout("absent")))
    Files.createDirectories(java.nio.file.Paths.get(s"$root/absent"))
    Files.write(java.nio.file.Paths.get(s"$root/absent/_refreshed_until"),
      Long.MaxValue.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    final case class Cond(name: String, svc: MetricsService, cfg: BucketConfig,
                          exactPct: Boolean, tier: Boolean)
    val aligned = BucketConfig(TimeRange(H, 3 * H), Some(2), None)
    val conds = Seq(
      Cond("aligned, in watermark", tiered, aligned, exactPct = false, tier = true),
      Cond("misaligned", tiered, BucketConfig(TimeRange(H, 3 * H - 60000L), Some(2), None),
        exactPct = false, tier = false),
      Cond("past the watermark", tiered, BucketConfig(TimeRange(24 * H, 26 * H), Some(2), None),
        exactPct = false, tier = false),
      Cond("percentiles under Exact", tiered, aligned, exactPct = true, tier = false),
      Cond("tier absent", absent, aligned, exactPct = false, tier = false))
    // `x` = the percentiles-under-Exact condition: percentile-free entries
    // then ask for a p90, TierApprox entries run their p90 under Exact
    def pct(x: Boolean) = if (x) Seq(90.0) else Seq.empty[Double]
    def approx(x: Boolean) =
      if (x) MetricsOps.PercentileMode.Exact else MetricsOps.PercentileMode.TierApprox
    val ids = Seq("g").toDF("metric")
    // (entry point, tier-plan marker, takes percentiles, request)
    val entries: Seq[(String, String, Boolean, (MetricsService, BucketConfig, Boolean) => DataFrame)] = Seq(
      ("gauge stats", "gauge_sums", true,
        (svc, cfg, x) => svc.findGaugeStats(g, cfg, pct(x))),
      ("counter stats", "counter_sums", true,
        (svc, cfg, x) => svc.findCounterStats(c, cfg, pct(x))),
      ("rate stats", "counter_rate]", true,
        (svc, cfg, x) => svc.findRateStats(c, cfg, pct(x))),
      ("availability stats", "tiers/avail", false,
        (svc, cfg, _) => svc.findAvailabilityStats(av, cfg)),
      ("pooled findNumericStats", "gauge_sums", true,
        (svc, cfg, x) => svc.findNumericStats("t1", MetricType.Gauge, ids, cfg, pct(x),
          stacked = false)),
      ("findCounterIncrease", "counter_increase", false,
        (svc, cfg, _) => svc.findCounterIncrease("t1", cfg.range)),
      ("findStatsMetricTags", "gauge_sums", true,
        (svc, cfg, x) => svc.findStatsMetricTags(g, Map("dc" -> "east"), pct(x),
          cfg.range.start, cfg.range.end)),
      ("gauge TierApprox", "gauge_hist", true,
        (svc, cfg, x) => svc.findGaugeStats(g, cfg, Seq(90.0), approx(x))),
      ("pooled TierApprox", "gauge_hist", true,
        (svc, cfg, x) => svc.findNumericStats("t1", MetricType.Gauge, ids, cfg, Seq(90.0),
          stacked = false, Some(approx(x)))),
      ("rate TierApprox", "counter_rate_hist", true,
        (svc, cfg, x) => svc.findRateStats(c, cfg, Seq(90.0), approx(x))))
    def plan(df: DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    for ((entry, marker, takesPct, run) <- entries; k <- conds
         if takesPct || !k.exactPct) {
      val p = plan(run(k.svc, k.cfg, k.exactPct))
      if (k.tier) assert(p.contains(marker) && !p.contains("/data"),
        s"$entry, ${k.name}: must serve from the tier only:\n$p")
      else assert(p.contains("/data") && !p.contains(s"$root/tiers"),
        s"$entry, ${k.name}: must take the raw path:\n$p")
    }
  }

  test("delete metric removes its data; tenant catalog round trip") {
    val svc = newService()
    svc.createTenant("t1", Map("gauge" -> 14))
    assert(svc.getTenants().collect().head.getString(0) == "t1")
    val id = MetricId("t1", MetricType.Gauge.code, "dead")
    svc.addDataPoints(gaugeRows("dead", Seq((1L, 1.0))))
    svc.addDataPoints(gaugeRows("alive", Seq((2L, 2.0))))
    svc.deleteMetric(id)
    val left = svc.raw().select("metric").collect().map(_.getString(0)).toSeq
    assert(left == Seq("alive"))
  }

  test("numeric-looking tenant and metric ids keep their identity: tenants 7 and " +
    "007 never merge, and metrics 0010 and 10 stay two series on raw and on the " +
    "rate tier") {
    import graft.storage.GraftStorage
    val root = Files.createTempDirectory("graft-svc-ids").toString
    val svc = new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)))
    def rows(tenant: String, metric: String, pts: Seq[(Long, Double)]) =
      gaugeRows(metric, pts).withColumn("tenant_id", lit(tenant))
    svc.addDataPoints(rows("7", "cpu", Seq((100L, 1.0), (110L, 2.0)))
      .unionByName(rows("007", "cpu", Seq((100L, 10.0), (120L, 30.0)))))
    val id007 = MetricId("007", MetricType.Gauge.code, "cpu")
    val raw = svc.findDataPoints(id007, Some(0L), Some(200L), limit = 0, now = 200L)
      .orderBy("time").select("n_value").collect().map(_.getDouble(0)).toSeq
    assert(raw == Seq(10.0, 30.0), s"tenant 007 reads $raw")
    assert(svc.raw().schema("tenant_id").dataType == org.apache.spark.sql.types.StringType)
    assert(svc.raw().select("tenant_id").distinct().collect().map(_.getString(0)).toSet ==
      Set("7", "007"))
    val stats = svc.findGaugeStats(id007, BucketConfig(TimeRange(100, 140), Some(1), None))
      .collect()
    assert(stats.length == 1 && stats(0).getAs[Long]("samples") == 2L &&
      stats(0).getAs[Double]("max") == 30.0, stats.mkString(", "))
    // metric ids that read as the same number: two series on raw and on
    // the metric-keyed rate tier
    val H = GraftStorage.RollupMs
    val pts = Seq((H + 60000L, 1.0), (H + 120000L, 3.0), (H + 180000L, 6.0))
    svc.addDataPoints(rows("t2", "0010", pts).unionByName(
      rows("t2", "10", pts.map { case (t, v) => (t, v * 10) })))
    svc.refreshTiers()
    val raw2 = svc.raw().filter(col("tenant_id") === "t2")
      .groupBy("metric").agg(sum("n_value").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(raw2 == Map("0010" -> 10.0, "10" -> 100.0), raw2)
    val rates = GraftStorage.rollupRateStats(spark, MetricsService.defaultTiers(root).gaugeRate,
      graft.model.Buckets(H, H, 1), isCounter = false, byMetric = true,
      tenant = Some("t2"), mtypeCode = Some(MetricType.Gauge.code.toInt))
      .collect().map(r => r.getAs[String]("metric") -> r.getAs[Long]("samples")).toMap
    assert(rates == Map("0010" -> 2L, "10" -> 2L), rates)
  }

  test("a fresh store with no tenants or catalog answers every absent-as-empty " +
    "call: deletes, retention, earliest range, then non-overwrite creates") {
    val root = Files.createTempDirectory("graft-svc-fresh").toString
    val svc = new MetricsService(spark, root)
    val rest = new RestRoutes(spark, svc, "t1")
    val id = MetricId("t1", MetricType.Gauge.code, "m")
    assert(rest.route("DELETE", "/gauges/m") == RestRoutes.NoContent)
    assert(rest.route("DELETE", "/tenants/t1") == RestRoutes.NoContent)
    svc.deleteMetric(id)
    svc.deleteTenant("t1")
    assert(svc.applyRetention(now = 30L * 86400000L).isEmpty)
    val s = spark
    import s.implicits._
    val now = 30L * 86400000L
    assert(svc.multiFromEarliestRange("t1", MetricType.Gauge, Seq("m").toDF("metric"), now) ==
      TimeRange(now - svc.DefaultRetentionDays * 86400000L, now))
    assert(svc.getTenants().count() == 0 && svc.metricsIndex().count() == 0)
    assert(!new java.io.File(s"$root/tenants").exists() &&
      !new java.io.File(s"$root/metrics").exists())
    svc.createTenant("t1", Map("gauge" -> 3), overwrite = false)
    intercept[MetricsService.TenantAlreadyExistsException](svc.createTenant("t1", overwrite = false))
    svc.createMetric(id, Map("a" -> "b"), overwrite = false)
    intercept[MetricsService.MetricAlreadyExistsException](
      svc.createMetric(id, Map.empty, overwrite = false))
    assert(svc.multiFromEarliestRange("t1", MetricType.Gauge, Seq("m").toDF("metric"), now) ==
      TimeRange(now - 3 * 86400000L, now))
    svc.deleteMetric(id)
    svc.deleteTenant("t1")
    assert(svc.getTenants().count() == 0 && svc.metricsIndex().count() == 0)
  }
}
