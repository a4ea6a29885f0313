package graft.operators

import graft.SparkTestBase
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** Operator vectors ported from the reference test suites (availability
  * state machine from AvailabilityDataPointCollectorTest.java, rate/reset
  * from MetricsServiceImpl.java:858-883 semantics, periods example from
  * MetricsService.java:341-362 javadoc) + commons-math recomputation for
  * numeric stats (GaugeMetricStatisticsITest.groovy:121-141 pattern). */
class MetricsOpsSpec extends SparkTestBase {

  private def points(rows: Seq[(String, Long, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("metric", "time", "n_value")
      .withColumn("tenant_id", lit("t"))
      .withColumn("mtype", lit(0))
      .withColumn("tags", map(lit("k"), lit("v")))
  }

  private def availPoints(rows: Seq[(Long, Int)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (t, a) => ("m", t, a) }.toDF("metric", "time", "avail")
      .withColumn("tenant_id", lit("t")).withColumn("mtype", lit(1))
  }

  // ---- A3: all eight reference vectors (Buckets(10,10,10), bucket 0) ----

  private def availBucket0(rows: Seq[(Long, Int)]): Row = {
    val out = MetricsOps.availabilityBucketStats(availPoints(rows), Buckets(10, 10, 10))
      .filter(col("bucket") === 0)
      .select("up_ms", "down_ms", "unknown_ms", "admin_ms", "last_not_uptime",
        "not_up_count", "uptime_ratio")
      .collect()
    assert(out.length == 1)
    out.head
  }

  test("A3 testWithOneUp") {
    val r = availBucket0(Seq((15L, 0)))
    assert(r.getLong(0) == 10 && r.getLong(1) == 0 && r.getLong(5) == 0)
    assert(r.getDouble(6) == 1.0)
  }

  test("A3 testWithOneDown") {
    val r = availBucket0(Seq((15L, 1)))
    assert(r.getLong(1) == 10 && r.getLong(4) == 20 && r.getLong(5) == 1)
    assert(r.getDouble(6) == 0.0)
  }

  test("A3 testWithOneDownOneUp") {
    val r = availBucket0(Seq((12L, 1), (18L, 0)))
    assert(r.getLong(0) == 2 && r.getLong(1) == 8 && r.getLong(4) == 18 && r.getLong(5) == 1)
    assert(r.getDouble(6) == 0.2)
  }

  test("A3 testWithOneUpOneDown") {
    val r = availBucket0(Seq((13L, 0), (17L, 1)))
    assert(r.getLong(0) == 7 && r.getLong(1) == 3 && r.getLong(4) == 20 && r.getLong(5) == 1)
    assert(r.getDouble(6) == 0.7)
  }

  test("A3 testWithTwoDown") {
    val r = availBucket0(Seq((13L, 1), (17L, 1)))
    assert(r.getLong(1) == 10 && r.getLong(4) == 20 && r.getLong(5) == 1)
    assert(r.getDouble(6) == 0.0)
  }

  test("A3 testWithTwoUp") {
    val r = availBucket0(Seq((13L, 0), (17L, 0)))
    assert(r.getLong(0) == 10 && r.getLong(4) == 0 && r.getLong(5) == 0)
    assert(r.getDouble(6) == 1.0)
  }

  test("A3 testWithAll") {
    val r = availBucket0(Seq((13L, 0), (14L, 1), (15L, 2), (16L, 0), (17L, 3), (18L, 3)))
    assert(r.getLong(0) == 5 && r.getLong(1) == 1 && r.getLong(2) == 1 && r.getLong(3) == 3)
    assert(r.getLong(4) == 20 && r.getLong(5) == 2)
    assert(r.getDouble(6) == 0.5)
  }

  test("A3 testWithAll2") {
    val r = availBucket0(Seq((13L, 1), (14L, 1), (15L, 2), (16L, 0), (17L, 3), (18L, 0)))
    assert(r.getLong(0) == 3 && r.getLong(1) == 5 && r.getLong(2) == 1 && r.getLong(3) == 1)
    assert(r.getLong(4) == 18 && r.getLong(5) == 2)
    assert(r.getDouble(6) == 0.3)
  }

  // ---- W1/F6: counter rate with reset (FIXTURES F-B) ----

  test("counter rate drops the reset pair, keeps the anchor") {
    val s = spark
    import s.implicits._
    val t0 = 1000000L
    val dp = Seq(("m", t0, 100L), ("m", t0 + 30000, 200L), ("m", t0 + 60000, 50L), ("m", t0 + 90000, 80L))
      .toDF("metric", "time", "l_value")
      .withColumn("tenant_id", lit("t")).withColumn("mtype", lit(2))
    val rates = MetricsOps.rate(dp, isCounter = true, valueCol = "l_value")
      .orderBy("time").select("time", "rate").collect()
    assert(rates.map(_.getLong(0)).toSeq == Seq(t0 + 30000, t0 + 90000))
    assert(rates(0).getDouble(1) == 60000.0 * 100 / 30000) // 200.0/min
    assert(rates(1).getDouble(1) == 60000.0 * 30 / 30000)  // 60.0/min
  }

  test("gauge rate keeps negative deltas") {
    val s = spark
    import s.implicits._
    val dp = Seq(("m", 0L, 10.0), ("m", 60000L, 4.0)).toDF("metric", "time", "n_value")
      .withColumn("tenant_id", lit("t")).withColumn("mtype", lit(0))
    val r = MetricsOps.rate(dp, isCounter = false).select("rate").collect()
    assert(r.map(_.getDouble(0)).toSeq == Seq(-6.0))
  }

  // ---- W2: periods javadoc example {5,11,12,8,14,7,16} gt(10) ----

  test("periods gaps-and-islands matches the reference javadoc example") {
    val vals = Seq(5.0, 11.0, 12.0, 8.0, 14.0, 7.0, 16.0)
    val dp = points(vals.zipWithIndex.map { case (v, i) => ("m", (i + 1).toLong, v) })
    val got = MetricsOps.periods(dp, col("n_value") > 10.0)
      .orderBy("period_start").select("period_start", "period_end")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 3L), (5L, 5L), (7L, 7L)))
  }

  // ---- F7: distinct-contiguous ----

  test("distinct-contiguous collapses runs, keeps re-entries") {
    val dp = points(Seq(("m", 1L, 1.0), ("m", 2L, 1.0), ("m", 3L, 2.0), ("m", 4L, 1.0), ("m", 5L, 1.0)))
    val got = MetricsOps.distinctContiguous(dp, "n_value")
      .orderBy("time").select("time").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L, 4L))
  }

  // ---- F8: last-write-wins dedup ----

  test("dedupTiers is last-write-wins by sequence, not arbitrary") {
    val s = spark
    import s.implicits._
    val dp = Seq(
      ("m", 1L, 10.0, 1), ("m", 1L, 99.0, 2), // same key, tier 2 must win
      ("m", 2L, 20.0, 1)
    ).toDF("metric", "time", "n_value", "tier")
      .withColumn("tenant_id", lit("t")).withColumn("mtype", lit(0))
    val got = MetricsOps.dedupTiers(dp, "tier").orderBy("time")
      .select("n_value").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(99.0, 20.0))
  }

  // ---- A1/A2: stats vs commons-math recompute + gap fill ----

  test("numeric bucket stats match commons-math recomputation") {
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(40)(rnd.nextDouble() * 100)
    val dp = points(vals.zipWithIndex.map { case (v, i) => ("m", 100L + i, v) })
    val b = Buckets(100, 20, 2) // two buckets of 20 points
    val row = MetricsOps.numericBucketStats(dp, b, Seq(90.0)).filter(col("bucket") === 0)
      .select("min", "avg", "max", "sum", "samples", "p90_0", "median").collect().head
    val bucket0 = vals.take(20)
    assert(row.getDouble(0) == bucket0.min)
    assert(math.abs(row.getDouble(1) - bucket0.sum / 20) < 1e-9)
    assert(row.getDouble(2) == bucket0.max)
    assert(math.abs(row.getDouble(3) - bucket0.sum) < 1e-9)
    assert(row.getLong(4) == 20)
    // exact interpolated percentile: pos = q(n-1) over the sorted sample
    def pct(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = pos.toInt; val frac = pos - lo
      if (lo + 1 < s.size) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo)
    }
    assert(math.abs(row.getDouble(5) - pct(bucket0, 0.9)) < 1e-9)
    assert(math.abs(row.getDouble(6) - pct(bucket0, 0.5)) < 1e-9)
    // and the commons-math estimator stays within its estimation band
    val p = new org.apache.commons.math3.stat.descriptive.rank.Percentile(90.0)
    assert(math.abs(row.getDouble(5) - p.evaluate(bucket0.toArray)) < 5.0)
  }

  test("sketch mode is reachable from pooled and tagged stats; base columns exact") {
    val rnd = new scala.util.Random(11)
    val dp = points((0 until 2000).map(i => (s"m${i % 4}", 1000L + i, rnd.nextDouble() * 100)))
    val b = Buckets(1000, 2000, 1)
    val exact = MetricsOps.pooledStats(dp, b, Seq(90.0)).collect().head
    val sk = MetricsOps.pooledStats(dp, b, Seq(90.0),
      mode = MetricsOps.PercentileMode.P2Sketch).collect().head
    // non-percentile columns identical; sketch p90 within P² tolerance
    for (c <- Seq("min", "avg", "max", "sum", "samples"))
      assert(exact.getAs[Any](c) == sk.getAs[Any](c), c)
    assert(math.abs(exact.getAs[Double]("p90_0") - sk.getAs[Double]("p90_0")) < 2.0)
    val tagged = MetricsOps.taggedStats(dp, Map("k" -> "v"), Seq(90.0),
      mode = MetricsOps.PercentileMode.P2Sketch).collect().head
    assert(tagged.getAs[Long]("samples") == 2000)
    assert(math.abs(tagged.getAs[Double]("p90_0") - exact.getAs[Double]("p90_0")) < 2.0)
  }

  test("gap fill emits exactly count buckets with nulls, honoring the key spine") {
    val dp = points(Seq(("m1", 100L, 1.0), ("m1", 150L, 2.0))) // bucket 0 and 5 only
    val b = Buckets(100, 10, 6)
    val stats = MetricsOps.numericBucketStats(dp, b, Seq.empty, byMetric = true)
    val s = spark
    import s.implicits._
    // spine includes m2, which has NO data at all — must still appear
    val spine = Seq("m1", "m2").toDF("metric")
    val filled = MetricsOps.gapFill(stats, b, Seq("metric"), Some(spine))
    assert(filled.count() == 12)
    val m2 = filled.filter(col("metric") === "m2")
    assert(m2.count() == 6 && m2.filter(col("samples").isNotNull).count() == 0)
    val m1b0 = filled.filter(col("metric") === "m1" && col("bucket") === 0).collect().head
    assert(m1b0.getAs[Double]("min") == 1.0)
    assert(filled.filter(col("bucket_start") === 100L).count() == 2)
  }

  // ---- A4: stacked stats hand vector (SumNumericBucketPointCollector) ----

  test("stacked stats sum per-metric stats; samples = contributing metrics") {
    val dp = points(Seq(
      ("m1", 100L, 1.0), ("m1", 101L, 3.0), // m1 bucket0: min 1, max 3, avg 2, sum 4
      ("m2", 102L, 10.0) // m2 bucket0: min/max/avg/sum 10
    ))
    val b = Buckets(100, 10, 1)
    val r = MetricsOps.stackedStats(dp, b).collect().head
    assert(r.getAs[Double]("min") == 11.0)
    assert(r.getAs[Double]("max") == 13.0)
    assert(r.getAs[Double]("avg") == 12.0)
    assert(r.getAs[Double]("sum") == 14.0)
    assert(r.getAs[Long]("samples") == 2)
  }

  // ---- A6/F5: tagged stats ----

  test("tagged stats group by actual tag values; unmatched points excluded") {
    val s = spark
    import s.implicits._
    val dp = Seq(
      ("m", 1L, 1.0, Map("x" -> "a", "y" -> "1")),
      ("m", 2L, 2.0, Map("x" -> "a", "y" -> "2")),
      ("m", 3L, 4.0, Map("x" -> "b", "y" -> "1")),
      ("m", 4L, 8.0, Map("y" -> "1")) // lacks x → excluded
    ).toDF("metric", "time", "n_value", "tags")
    val got = MetricsOps.taggedStats(dp, Map("x" -> "*", "y" -> "*"))
      .orderBy("tag_x", "tag_y")
      .select("tag_x", "tag_y", "sum", "samples").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == Seq(("a", "1", 1.0, 1L), ("a", "2", 2.0, 1L), ("b", "1", 4.0, 1L)))
  }

  // ---- J3: id-list semi join ----

  test("W4: union of per-metric series reads back per-metric time-sorted " +
    "(the k-way sorted merge contract, SortedMergeTest analog)") {
    // three "sorted source streams" unioned in interleaved order; the
    // no-limit fetch must deliver each metric's points contiguous and
    // time-ascending within its partition — what the reference's k-way
    // merge guaranteed per series
    val a = points(Seq(("a", 30L, 1.0), ("a", 10L, 2.0), ("a", 20L, 3.0)))
    val b = points(Seq(("b", 25L, 4.0), ("b", 5L, 5.0)))
    val c = points(Seq(("c", 15L, 6.0)))
    val merged = MetricsOps.rawDataPoints(
      a.unionByName(b).unionByName(c), TimeRange(0, 100), Order.Asc, limit = 0)
    val perPartition = merged.select("metric", "time")
      .rdd.mapPartitions { it =>
        val rows = it.map(r => (r.getString(0), r.getLong(1))).toSeq
        Iterator.single(rows)
      }.collect()
    perPartition.foreach { rows =>
      // within a partition: grouped by metric, ascending time inside each run
      assert(rows == rows.sortBy(identity))
      // each metric appears in exactly one partition run
    }
    val byMetric = perPartition.flatten.groupBy(_._1)
    assert(byMetric.keySet == Set("a", "b", "c"))
    byMetric.foreach { case (_, rows) => assert(rows.map(_._2).toSeq == rows.map(_._2).toSeq.sorted) }
    // limit path: global top-k across the union (TakeOrderedAndProject)
    val top3 = MetricsOps.rawDataPoints(
      a.unionByName(b).unionByName(c), TimeRange(0, 100), Order.Asc, limit = 3)
      .select("time").collect().map(_.getLong(0)).toSeq
    assert(top3 == Seq(5L, 10L, 15L))
  }

  test("dataPointsForIds keeps only listed metrics") {
    val dp = points(Seq(("a", 1L, 1.0), ("b", 2L, 2.0), ("c", 3L, 3.0)))
    val got = MetricsOps.dataPointsForIds(dp, Seq("a", "c"))
      .select("metric").collect().map(_.getString(0)).toSet
    assert(got == Set("a", "c"))
  }

  // ---- A8: tag values with cross-filter metric-set intersection ----

  test("tagValues intersects the metric set across ALL filters before collecting") {
    val s = spark
    import s.implicits._
    val cat = Seq(
      ("m1", Map("env" -> "prod", "dc" -> "east")),
      ("m2", Map("env" -> "dev", "dc" -> "west")), // fails env filter
      ("m3", Map("env" -> "prod")) // lacks dc → fails dc filter
    ).toDF("metric", "tags")
    val got = MetricsOps.tagValues(cat, Map("env" -> "prod", "dc" -> "*"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // only m1 survives both filters → west never appears, m3's env doesn't double-count
    assert(got == Set(("env", "prod"), ("dc", "east")))
  }

  // ---- F2: filter-pattern semantics (PatternUtil.java:26-40) ----

  test("idFilter: empty pattern passes everything; negation filters names") {
    val dp = points(Seq(("web.cpu", 1L, 1.0), ("db.cpu", 2L, 2.0)))
    assert(MetricsOps.idFilter(dp, "").count() == 2)
    assert(MetricsOps.idFilter(dp, null).count() == 2)
    assert(MetricsOps.idFilter(dp, "web.*").select("metric")
      .collect().map(_.getString(0)).toSeq == Seq("web.cpu"))
    assert(MetricsOps.idFilter(dp, "!web.*").select("metric")
      .collect().map(_.getString(0)).toSeq == Seq("db.cpu"))
  }

  // ---- per-tenant retention (TTL analog, DataAccessImpl.java:1034-1059) ----

  test("applyRetention: per-tenant cutoff; unmapped tenants kept") {
    val s = spark
    import s.implicits._
    val day = 86400000L
    val now = 100 * day
    val dp = points(Seq(("m", now - 10 * day, 1.0), ("m", now - 2 * day, 2.0)))
    val both = dp.unionByName(dp.withColumn("tenant_id", lit("u")))
      .unionByName(dp.withColumn("tenant_id", lit("unmapped")))
    // the duplicate ("u", 0, 7) row must neither fan points out into
    // duplicates nor shorten the window: longest retention wins
    val ret = Seq(("t", 0, 7), ("u", 0, 30), ("u", 0, 7))
      .toDF("tenant_id", "mtype", "retention_days")
    val got = MetricsOps.applyRetention(both, ret, now)
      .groupBy("tenant_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // t: 7d window drops the 10d-old point; u: 30d keeps both;
    // unmapped tenant: no retention row → kept as-is
    assert(got == Map("t" -> 1L, "u" -> 2L, "unmapped" -> 2L))
  }

  test("per-metric retention override takes precedence over the tenant/type map") {
    val s = spark
    import s.implicits._
    val day = 86400000L
    val now = 100 * day
    val dp = points(Seq(
      ("a", now - 10 * day, 1.0), ("a", now - 2 * day, 2.0),
      ("b", now - 10 * day, 1.0), ("b", now - 2 * day, 2.0),
      ("c", now - 10 * day, 1.0), ("c", now - 2 * day, 2.0)))
    val ret = Seq(("t", 0, 7)).toDF("tenant_id", "mtype", "retention_days")
    // a: lengthened to 30d; c: shortened to 1d; b: tenant default 7d
    val ovr = Seq(("t", 0, "a", 30), ("t", 0, "c", 1))
      .toDF("tenant_id", "mtype", "metric", "retention_days")
    val got = MetricsOps.applyRetention(dp, ret, Some(ovr), now)
      .groupBy("metric").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 1L), s"got $got")
  }

  test("adaptive percentile mode: small groups resolve Exact, past-threshold groups " +
    "route to the P2 sketch") {
    val rows = (0 until 500).map(i => ("m", 100L + i, math.pow(1.01, i) * 10.0))
    val dp = points(rows)
    val b = Buckets(100, 1000, 1) // one bucket holds all 500 values
    def p90(mode: MetricsOps.PercentileMode): Double =
      MetricsOps.numericBucketStats(dp, b, Seq(90.0), mode = mode)
        .select("p90_0").collect().head.getDouble(0)
    val exact = p90(MetricsOps.PercentileMode.Exact)
    val sketch = p90(MetricsOps.PercentileMode.P2Sketch)
    assert(exact != sketch) // the switch must be observable on this input
    // default threshold (1M values/group) >> 500 → resolves Exact
    assert(p90(MetricsOps.PercentileMode.Adaptive()) == exact)
    // tiny threshold → estimated values/group exceeds it → sketch
    assert(p90(MetricsOps.PercentileMode.Adaptive(10)) == sketch)
  }

  test("TierApprox reaching numericBucketStats refuses with the dispatch-level " +
    "message, not a MatchError") {
    val dp = points(Seq(("m", 100L, 1.0)))
    val e = intercept[IllegalArgumentException] {
      MetricsOps.numericBucketStats(dp, Buckets(100, 1000, 1), Seq(90.0),
        mode = MetricsOps.PercentileMode.TierApprox)
    }
    assert(e.getMessage.contains("TierApprox is a dispatch-level mode"), e.getMessage)
  }

  test("filter pattern: star, negation, full-match anchoring") {
    val s = spark
    import s.implicits._
    val df = Seq("east", "west", "easter", "e").toDF("v")
    def matches(pat: String): Set[String] =
      df.filter(graft.functions.GraftFunctions.filterPattern(col("v"), pat))
        .collect().map(_.getString(0)).toSet
    assert(matches("*") == Set("east", "west", "easter", "e"))
    assert(matches("east") == Set("east")) // full match, not find()
    assert(matches("e.*") == Set("east", "easter", "e"))
    assert(matches("!e.*") == Set("west"))
  }

  test("downsampleMinMax: envelope points keep true timestamps; ties pick " +
      "earliest min / latest max; buckets with one point collapse") {
    val b = graft.model.Buckets(1000L, 1000L, 2)
    val dp = points(Seq(
      ("m", 1000L, 5.0), ("m", 1100L, 2.0), ("m", 1200L, 9.0),
      ("m", 1300L, 2.0),   // ties the min — EARLIEST (1100) must win
      ("m", 1400L, 9.0),   // ties the max — LATEST (1400) must win
      ("m", 2500L, 7.0)))  // second bucket, single point
    val got = MetricsOps.downsampleMinMax(dp, b).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3), r.getLong(4),
        r.getDouble(5), r.getLong(6))).toMap
    assert(got(0L) == ((1100L, 2.0, 1400L, 9.0, 5L)))
    assert(got(1L) == ((2500L, 7.0, 2500L, 7.0, 1L)))
  }

  test("topSeries: rank-key dispatch, metric tiebreak, k cut, bad key rejected") {
    val dp = points(Seq(
      ("a", 1000L, 10.0), ("a", 2000L, 20.0),   // avg 15, sum 30
      ("b", 1000L, 15.0), ("b", 2000L, 15.0),   // avg 15 — ties a; "a" < "b"
      ("c", 1000L, 40.0)))                      // avg 40
    val r = graft.model.TimeRange(1L, 100000L)
    val byAvg = MetricsOps.topSeries(dp, r, k = 2).collect().map(_.getString(0)).toSeq
    assert(byAvg == Seq("c", "a")) // tie at 15 broken metric-asc, cut at k=2
    val bySamples = MetricsOps.topSeries(dp, r, k = 1, orderBy = "samples")
      .collect().map(_.getString(0)).toSeq
    assert(bySamples == Seq("a")) // 2 samples, ties "b" → metric-asc
    intercept[IllegalArgumentException] {
      MetricsOps.topSeries(dp, r, 2, orderBy = "median")
    }
  }

  test("counterIncrease: positive deltas only, resets counted, exact longs") {
    val s = spark
    import s.implicits._
    val dp = Seq(
      ("m", 1000L, 10L), ("m", 2000L, 25L),  // +15
      ("m", 3000L, 5L),                      // reset (-20): not subtracted
      ("m", 4000L, 30L),                     // +25
      ("n", 1000L, 7L), ("n", 2000L, 7L))    // flat: delta 0, no increase
      .toDF("metric", "time", "l_value")
      .withColumn("tenant_id", lit("t")).withColumn("mtype", lit(1))
    val got = MetricsOps.counterIncrease(dp, graft.model.TimeRange(1L, 100000L))
      .collect().map(r => r.getAs[String]("metric") ->
        (r.getAs[Long]("increase"), r.getAs[Long]("n_resets"), r.getAs[Long]("n_deltas"))).toMap
    assert(got("m") == ((40L, 1L, 3L)))
    assert(got("n") == ((0L, 0L, 1L)))
  }

  test("seriesBinaryOp: aligned-bucket ratio, absent buckets drop (inner join)") {
    val b = graft.model.Buckets(1000L, 1000L, 3)
    val dp = points(Seq(
      ("x", 1000L, 10.0), ("x", 1500L, 20.0),  // bucket 0: avg 15
      ("x", 2000L, 8.0),                       // bucket 1: avg 8
      ("y", 1200L, 5.0),                       // bucket 0: avg 5
      ("y", 3100L, 2.0)))                      // bucket 2 — x absent there
    val got = MetricsOps.seriesBinaryOp(dp, "x", "y", b, _ / _).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got == Map(0L -> 3.0)) // only the shared bucket answers
  }

  test("anomalies: 3-sigma outliers flagged, constant series silent") {
    // 20 points at 10.0 and one at 100.0: mean≈14.3, std≈19.6 → z≈4.4
    val base = (1 to 20).map(i => ("m", i * 1000L, 10.0))
    val dp = points(base ++ Seq(("m", 21000L, 100.0)) ++
      (1 to 5).map(i => ("flat", i * 1000L, 7.0)))
    val got = MetricsOps.anomalies(dp, graft.model.TimeRange(1L, 100000L)).collect()
    assert(got.length == 1)
    assert(got.head.getString(0) == "m" && got.head.getLong(1) == 21000L)
    assert(got.head.getDouble(3) > 3.0) // positive z, above threshold
  }

  test("valueHistogram: fixed bins, edge clamping, buckets x bins shape") {
    val b = graft.model.Buckets(1000L, 1000L, 2)
    val dp = points(Seq(
      ("m", 1000L, 5.0), ("m", 1100L, 15.0), ("m", 1200L, -3.0), // clamp low
      ("m", 2500L, 99.0)))                                       // clamp high
    val got = MetricsOps.valueHistogram(dp, b, vMin = 0.0, vMax = 20.0, bins = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got((0L, 0L)) == ((2L, 0.0, 10.0))) // 5.0 and clamped -3.0
    assert(got((0L, 1L)) == ((1L, 10.0, 20.0)))
    assert(got((1L, 1L)) == ((1L, 10.0, 20.0))) // 99.0 clamps into the top bin
  }

  test("ewma: hand-computed recursion, first point seeds, alpha validated") {
    val dp = points(Seq(("m", 1000L, 10.0), ("m", 2000L, 20.0), ("m", 3000L, 0.0)))
    val got = MetricsOps.ewma(dp, graft.model.TimeRange(1L, 100000L), alpha = 0.5)
      .orderBy("time").collect().map(_.getDouble(3)).toSeq
    // s1=10; s2=0.5*20+0.5*10=15; s3=0.5*0+0.5*15=7.5
    assert(got == Seq(10.0, 15.0, 7.5))
    intercept[IllegalArgumentException] {
      MetricsOps.ewma(dp, graft.model.TimeRange(1L, 100000L), alpha = 0.0)
    }
  }

  test("seriesCrossCorrelation: perfect correlation at the constructed lag, null for constants") {
    // B is A shifted by ONE bucket (A leads by 1) and scaled ×2 —
    // Pearson r must be exactly 1.0 at lag=+1 with 3 aligned pairs
    val a = Seq(("a", 1000L, 1.0), ("a", 2000L, 5.0), ("a", 3000L, 2.0), ("a", 4000L, 7.0))
    val bb = Seq(("b", 2000L, 2.0), ("b", 3000L, 10.0), ("b", 4000L, 4.0), ("b", 5000L, 14.0))
    val dp = points(a ++ bb)
    val got = MetricsOps.seriesCrossCorrelation(dp, "a", "b",
      graft.model.Buckets.fromStep(1000L, 6000L, 1000L), maxLag = 1)
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(got(1L).contains(1.0), s"shifted copy must correlate perfectly: $got")
    assert(got(0L).exists(_.asInstanceOf[Double] < 1.0))
    // constant series → zero variance → null r
    val const = MetricsOps.seriesCrossCorrelation(
      points(a ++ Seq(("b", 2000L, 3.0), ("b", 3000L, 3.0), ("b", 4000L, 3.0))),
      "a", "b", graft.model.Buckets.fromStep(1000L, 6000L, 1000L), maxLag = 0)
      .collect()
    assert(const.forall(_.isNullAt(2)))
  }

  test("seasonalityStrength: pure weekly pattern scores 1; constant series scores null") {
    // period 2, 4 daily buckets: values alternate 10, 20, 10, 20 — the
    // day-parity explains ALL variance → eta² = 1; peak parity = 1
    val B = 1000L
    val dp = points(Seq(("m", B + 0L, 10.0), ("m", B + 1000L, 20.0),
      ("m", B + 2000L, 10.0), ("m", B + 3000L, 20.0),
      ("c", B + 0L, 5.0), ("c", B + 1000L, 5.0), ("c", B + 2000L, 5.0)))
    val got = MetricsOps.seasonalityStrength(dp,
      graft.model.Buckets.fromStep(B, B + 4000L, 1000L), periodBuckets = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(got("m") == (4L, 1L, 0L, Some(1.0)))
    assert(got("c")._4.isEmpty) // zero variance → null strength
  }

  test("seasonalNaiveEval: lag-by-season vs lag-1 baselines, hand-computed MASE") {
    // season 2, bucket 1000 ms; avgs per bucket: 10, 20, 12, 24, 14
    // eval rows (both lags defined): b2 |12-10|=2 |12-20|=8; b3 |24-20|=4 |24-12|=12;
    // b4 |14-12|=2 |14-24|=10 → s=8, n=30 → mae 8/3, 10, mase 0.266666
    val dp = points(Seq(("m", 1000L, 10.0), ("m", 2000L, 20.0), ("m", 3000L, 12.0),
      ("m", 4000L, 24.0), ("m", 5000L, 14.0)))
    val got = MetricsOps.seasonalNaiveEval(dp,
      graft.model.Buckets.fromStep(1000L, 6000L, 1000L), seasonBuckets = 2).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_eval") == 3L)
    assert(math.abs(r.getAs[Double]("mae_seasonal") - 8.0 / 3) < 1e-6)
    assert(r.getAs[Double]("mae_naive") == 10.0)
    assert(math.abs(r.getAs[Double]("mase") - 0.266666) < 1e-6)
  }

  test("downsampleLttb: endpoints kept, largest-triangle pick, short series pass through") {
    // 6 points, nOut=4 → first + last + one pick from each of 2 buckets.
    // Values: spike at t=3000 must be chosen over the flat neighbor.
    val dp = points(Seq(("m", 1000L, 0.0), ("m", 2000L, 1.0), ("m", 3000L, 50.0),
      ("m", 4000L, 1.0), ("m", 5000L, 2.0), ("m", 6000L, 0.0)))
    val got = MetricsOps.downsampleLttb(dp, graft.model.TimeRange(1L, 100000L), nOut = 4)
      .orderBy("time").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got.length == 4)
    assert(got.head == (1000L, 0.0) && got.last == (6000L, 0.0))
    assert(got.map(_._1).contains(3000L), s"spike must survive: $got")
    // series shorter than nOut passes through untouched
    val short = MetricsOps.downsampleLttb(dp, graft.model.TimeRange(1L, 100000L), nOut = 10)
      .collect()
    assert(short.length == 6)
    intercept[IllegalArgumentException] {
      MetricsOps.downsampleLttb(dp, graft.model.TimeRange(1L, 100000L), nOut = 2)
    }
  }

  test("changePoints: full-window gating, exact means, threshold filter") {
    // series: 3x 10.0 then 3x 50.0 → only the boundary positions have
    // both windows full at w=3, and the shift there is 40
    val dp = points((1 to 3).map(i => ("m", i * 1000L, 10.0)) ++
      (4 to 6).map(i => ("m", i * 1000L, 50.0)))
    val got = MetricsOps.changePoints(dp, graft.model.TimeRange(1L, 100000L),
      w = 3, threshold = 25.0).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("time") == 4000L) // after-window = rows 4..6
    assert(got(0).getAs[Double]("mean_before") == 10.0)
    assert(got(0).getAs[Double]("mean_after") == 50.0)
    assert(got(0).getAs[Double]("shift") == 40.0)
    // below threshold → silent
    assert(MetricsOps.changePoints(dp, graft.model.TimeRange(1L, 100000L),
      w = 3, threshold = 45.0).collect().isEmpty)
  }

  test("histogramQuantile edges: q=1 lands in the last occupied bin; bin-boundary " +
    "targets pick the bin whose cumulative first covers the rank") {
    val s = spark
    import s.implicits._
    val hist = Seq((0L, 0L, 4L, 0.0, 10.0), (0L, 2L, 4L, 20.0, 30.0)) // gap bin 1 empty
      .toDF("bucket", "bin", "cnt", "bin_lo", "bin_hi")
    // q = 1 → target 8 → bin 2 upper edge: 20 + (8-4)/4*10 = 30
    assert(MetricsOps.histogramQuantile(hist, 1.0).collect()(0).getAs[Double]("q_est") == 30.0)
    // target exactly at bin 0's cumulative (0.5*8 = 4 = cum(bin0)) → bin 0
    assert(MetricsOps.histogramQuantile(hist, 0.5).collect()(0).getAs[Double]("q_est") == 10.0)
    intercept[IllegalArgumentException] { MetricsOps.histogramQuantile(hist, 0.0) }
  }

  test("histogramQuantile: cumulative walk + linear interpolation, per-bucket") {
    val s = spark
    import s.implicits._
    // one time bucket; bins (0,[0,10),4), (1,[10,20),4), (2,[20,30),2)
    val hist = Seq((0L, 0L, 4L, 0.0, 10.0), (0L, 1L, 4L, 10.0, 20.0),
      (0L, 2L, 2L, 20.0, 30.0))
      .toDF("bucket", "bin", "cnt", "bin_lo", "bin_hi")
    val got = MetricsOps.histogramQuantile(hist, q = 0.5).collect()
    // target = 5 → bin 1: 10 + (5-4)/4*10 = 12.5
    assert(got.length == 1 && got(0).getAs[Double]("q_est") == 12.5)
    val p9 = MetricsOps.histogramQuantile(hist, q = 0.9).collect()
    // target = 9 → bin 2: 20 + (9-8)/2*10 = 25.0
    assert(p9(0).getAs[Double]("q_est") == 25.0)
  }

  test("sloBurn: hand-computed fast/slow burn, alert requires BOTH windows over threshold") {
    val s = spark
    import s.implicits._
    // 4 fast buckets of 100 ms inside 2 slow buckets of 200 ms; states:
    // bucket 0 fully DOWN, buckets 1-3 fully UP → slow 0 uptime 0.5, slow 1 uptime 1.0
    val B = 1000L
    val dp = Seq(
      ("t", 1, "m", B, 1),        // DOWN at bucket-0 start
      ("t", 1, "m", B + 100L, 0), // UP from bucket 1 on
      ("t", 1, "m", B + 200L, 0), ("t", 1, "m", B + 300L, 0))
      .toDF("tenant_id", "mtype", "metric", "time", "avail")
    val got = MetricsOps.sloBurn(dp, graft.model.Buckets.fromStep(B, B + 400L, 100L),
      slowStepMs = 200L, objective = 0.9, threshold = 1.0)
      .orderBy("bucket").collect()
    // burn = (1 - uptime) / 0.1 → fast: 10, 0, 0, 0; slow: 5, 5, 0, 0
    assert(got.map(r => (r.getAs[Long]("bucket"), r.getAs[Double]("burn_fast"),
      r.getAs[Double]("burn_slow"), r.getAs[Boolean]("alert"))).toSeq ==
      Seq((0L, 10.0, 5.0, true), (1L, 0.0, 5.0, false),
        (2L, 0.0, 0.0, false), (3L, 0.0, 0.0, false)))
    intercept[IllegalArgumentException] {
      MetricsOps.sloBurn(dp, graft.model.Buckets.fromStep(B, B + 400L, 100L),
        slowStepMs = 150L, objective = 0.9)
    }
  }

  test("sloBurnFrom: tenant_id/mtype in the stats provider's output ride the " +
    "fast/slow join — duplicate metric names across tenants never cross") {
    val s = spark
    import s.implicits._
    // a fake tier-shaped provider: same metric name for two tenants, one
    // perfectly up, one fully down. A metric-only join would fan out to
    // 2 tenants × 2 uptime sides = 4 rows per bucket and cross the ratios.
    def stats(b: graft.model.Buckets): org.apache.spark.sql.DataFrame = {
      val perBucket = (0L until b.count).map { i =>
        Seq(("tA", 1, "m", i, 1.0), ("tB", 1, "m", i, 0.0))
      }.flatten
      perBucket.toDF("tenant_id", "mtype", "metric", "bucket", "uptime_ratio")
    }
    val got = MetricsOps.sloBurnFrom(stats, graft.model.Buckets.fromStep(1000L, 1400L, 100L),
      slowStepMs = 200L, objective = 0.9, threshold = 1.0).collect()
    assert(got.length == 8, s"2 tenants x 4 fast buckets, got ${got.length}")
    assert(got.forall { r =>
      val expect = if (r.getAs[String]("tenant_id") == "tA") 0.0 else 10.0
      r.getAs[Double]("burn_fast") == expect && r.getAs[Double]("burn_slow") == expect
    }, "each tenant's burn must reflect only its own uptime")
    // tenant-free provider output (the raw availabilityBucketStats path)
    // keeps the historical surface: no tenant columns in the output
    val flat = MetricsOps.sloBurnFrom(
      b => stats(b).filter(col("tenant_id") === "tA").drop("tenant_id", "mtype"),
      graft.model.Buckets.fromStep(1000L, 1400L, 100L),
      slowStepMs = 200L, objective = 0.9)
    assert(!flat.columns.contains("tenant_id") && flat.count() == 4)
  }

  test("holtForecast: hand-computed level+trend recursion and horizon grid") {
    val dp = points(Seq(("m", 1000L, 10.0), ("m", 2000L, 20.0), ("m", 3000L, 30.0)))
    val got = MetricsOps.holtForecast(dp, graft.model.TimeRange(1L, 100000L),
      alpha = 0.5, beta = 0.5, horizon = 2, stepMs = 1000L)
      .orderBy("horizon").collect()
    // l0=10, b0=0
    // x=20: l=0.5*20+0.5*(10+0)=15;   b=0.5*(15-10)+0.5*0=2.5
    // x=30: l=0.5*30+0.5*(15+2.5)=23.75; b=0.5*(23.75-15)+0.5*2.5=5.625
    // h=1 → 29.375 @4000; h=2 → 35.0 @5000
    assert(got.length == 2)
    assert(got(0).getAs[Long]("time") == 4000L)
    assert(math.abs(got(0).getAs[Double]("forecast") - 29.375) < 1e-9)
    assert(got(1).getAs[Long]("time") == 5000L)
    assert(math.abs(got(1).getAs[Double]("forecast") - 35.0) < 1e-9)
    intercept[IllegalArgumentException] {
      MetricsOps.holtForecast(dp, graft.model.TimeRange(1L, 100000L),
        alpha = 0.5, beta = 1.5, horizon = 2, stepMs = 1000L)
    }
  }

  // ---- T2 per series: the multi-metric limit contract
  // (MetricsServiceImpl.findDataPoints(List,…):821-826 fans out per-id
  // limited scans — limit bounds EACH series, never the union) ----------
  test("perMetricLimit bounds each series, honors order, and passes " +
    "through non-positive limits") {
    val dp = points(Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 4.0),
      ("b", 10L, 10.0), ("b", 20L, 20.0),
      ("c", 5L, 5.0)))

    def series(df: DataFrame): Map[String, Seq[Long]] =
      df.select("metric", "time").collect()
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap

    // DESC limit 2: each series keeps its LATEST two (or fewer)
    val desc = series(MetricsOps.perMetricLimit(dp, Order.Desc, 2))
    assert(desc("a").sorted == Seq(3L, 4L), desc.toString)
    assert(desc("b").sorted == Seq(10L, 20L), desc.toString)
    assert(desc("c") == Seq(5L), desc.toString)

    // ASC limit 2: the EARLIEST two
    val asc = series(MetricsOps.perMetricLimit(dp, Order.Asc, 2))
    assert(asc("a").sorted == Seq(1L, 2L), asc.toString)

    // limit beyond a series' size keeps the whole series
    val wide = series(MetricsOps.perMetricLimit(dp, Order.Desc, 10))
    assert(wide("a").size == 4 && wide("b").size == 2 && wide("c").size == 1)

    // non-positive limit = unlimited (the route's limit<=0 contract)
    assert(MetricsOps.perMetricLimit(dp, Order.Desc, 0).count() == 7)
    assert(MetricsOps.perMetricLimit(dp, Order.Asc, -5).count() == 7)

    // series with the same metric name under DIFFERENT tenants/types
    // rank independently (the window keys on the full series identity)
    val crossTenant = dp.withColumn("tenant_id",
      when(col("time") <= 2L, lit("t2")).otherwise(col("tenant_id")))
    val ct = MetricsOps.perMetricLimit(crossTenant, Order.Desc, 1)
      .filter(col("metric") === "a").collect()
    assert(ct.length == 2, ct.mkString(",")) // one per (tenant, a)
  }
}
