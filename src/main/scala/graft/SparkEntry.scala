package graft

import graft.model._
import graft.operators._
import graft.sources.EventsAdapter
import graft.storage.{GraftStorage, IndexStore, StoreTables}
import graft.tagquery.TagQueryParser
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the LLM-pipeline operators), each with a DuckDB
 * `oracleSql` twin over the same parquet tables.
 *
 * Determinism contract with the oracle (so result hashes can match):
 *  - double sums/averages go through DECIMAL(28,10) (exact, associative —
 *    see MetricsOps.statAggs) and are reproduced with the same cast in SQL;
 *  - percentile-family outputs are rounded to 4 decimals on both sides
 *    (interpolation formulas may differ in the last ulp);
 *  - every ordered+limited query carries a full deterministic sort key.
 */
object SparkEntry {

  // fixed query window: the synthetic events span 2024-01-01 .. 2024-01-30
  private val S = 1704067200000L            // 2024-01-01T00:00:00Z
  private val E = 1706659200000L            // 2024-01-31T00:00:00Z (exclusive)
  private val Week = S + 7L * 86400000L
  private val Day = 86400000L

  private def ea = EventsAdapter

  // ------------------------------------------------------------------
  // shared oracle SQL fragments (DuckDB dialect)
  // ------------------------------------------------------------------

  /** events → canonical datapoint mapping (mirror of EventsAdapter.base). */
  private val BaseCte =
    """base AS (
      |  SELECT 'acme' AS tenant_id,
      |         event_type || '/' || CAST(user_id AS VARCHAR) AS metric,
      |         epoch_ms(ts) AS t,
      |         event_type, user_id, event_id, value,
      |         json_extract_string(props, '$.k') AS tag_k
      |  FROM events)""".stripMargin

  /** mirror of EventsAdapter.catalog (gauge): one row per metric. */
  private val CatCte =
    """cat AS (
      |  SELECT DISTINCT 'acme' AS tenant_id, 0 AS mtype,
      |         event_type || '/' || CAST(user_id AS VARCHAR) AS metric,
      |         event_type, CAST(user_id AS VARCHAR) AS tag_user,
      |         's' || CAST(user_id % 5 AS VARCHAR) AS seg
      |  FROM events)""".stripMargin

  /** mirror of EventsAdapter.availabilityPoints' avail mapping. */
  private val AvailCte =
    """av AS (
      |  SELECT metric, t, CASE WHEN event_type = 'error' THEN 1
      |                         WHEN value < 20.0 THEN 2 ELSE 0 END AS avail
      |  FROM base)""".stripMargin

  /** mirror of EventsAdapter.counterPoints (running sum mod 5000). */
  private val CounterCte =
    """ctr AS (
      |  SELECT metric, t, CAST(sum(CAST(floor(value) AS BIGINT)) OVER (
      |           PARTITION BY metric ORDER BY t, event_id
      |           ROWS UNBOUNDED PRECEDING) % 5000 AS BIGINT) AS l_value
      |  FROM base)""".stripMargin

  /** exact decimal-backed double sum (see MetricsOps.statAggs). */
  private def dsum(x: String) = s"CAST(sum(CAST($x AS DECIMAL(28,10))) AS DOUBLE)"

  // ---- BPE oracle builders: replay Bpe.trainMerges / Bpe.encodeWord in
  // DuckDB SQL. A word's segmentation is a sentinel-delimited string
  // (chr(30) sym chr(31) per symbol): `replace(seg, '<l><r>', '<lr>')`
  // is EXACTLY BPE's left-to-right non-overlapping merge ('aaa' + (a,a)
  // → [aa, a]), and the sentinels stop matches bleeding across symbol
  // boundaries ('ab','c' never matches pair (b,c)). Training unrolls
  // the 30 merge rounds as chained CTEs (argmax = count DESC, pair ASC
  // — Bpe.scala:158); encoding replays greedy lowest-rank-first
  // (Bpe.encodeWord) as a recursive CTE, one step per applied merge,
  // which differs from in-rank-order replay when a later merge re-forms
  // an earlier merge's pair. Mirrors the reference's recompute-in-test
  // discipline (GaugeMetricStatisticsITest.groovy:121-141).
  private val BpeMergeRounds = 30

  private def bpeSegInit(c: String) =
    s"regexp_replace($c, '(?s)(.)', chr(30)||'\\1'||chr(31), 'g')"
  private def bpeSyms(seg: String) =
    s"string_split(substr($seg, 2, len($seg)-2), chr(31)||chr(30))"

  /** Training-replay CTE chain: bwf (word freqs) → bdict (capped dict,
    * mirroring trainMerges' top-100k (freq DESC, w ASC) bound) → 30×
    * (pair-count, argmax, re-segment) rounds → bmerges. */
  private lazy val BpeTrainCtes: String = {
    val parts = Seq.newBuilder[String]
    parts += """bwf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
               |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
               |  WHERE len(w) > 0 GROUP BY w)""".stripMargin
    parts += """bdict AS MATERIALIZED (SELECT w, freq FROM bwf
               |  QUALIFY row_number() OVER (ORDER BY freq DESC, w ASC) <= 100000)""".stripMargin
    parts += s"bs0 AS MATERIALIZED (SELECT w, freq, ${bpeSegInit("w")} AS seg FROM bdict)"
    for (k <- 0 until BpeMergeRounds) {
      parts += s"""bp$k AS MATERIALIZED (SELECT l, r, CAST(sum(freq) AS BIGINT) AS c FROM (
                  |    SELECT freq, sy[i] AS l, sy[i+1] AS r
                  |    FROM (SELECT freq, ${bpeSyms("seg")} AS sy FROM bs$k),
                  |         LATERAL (SELECT unnest(generate_series(1, len(sy)-1)) AS i) t)
                  |  GROUP BY l, r)""".stripMargin
      parts += s"""bm$k AS MATERIALIZED (SELECT CAST($k AS INTEGER) AS merge_rank, l, r,
                  |    l||r AS merged, c AS pair_count
                  |  FROM bp$k ORDER BY c DESC, l ASC, r ASC LIMIT 1)""".stripMargin
      parts += s"""bs${k + 1} AS MATERIALIZED (SELECT s.w, s.freq,
                  |    CASE WHEN m.l IS NULL THEN s.seg
                  |         ELSE replace(s.seg, chr(30)||m.l||chr(31)||chr(30)||m.r||chr(31),
                  |                      chr(30)||m.l||m.r||chr(31)) END AS seg
                  |  FROM bs$k s LEFT JOIN bm$k m ON TRUE)""".stripMargin
    }
    parts += s"bmerges AS MATERIALIZED (${(0 until BpeMergeRounds).map(k => s"SELECT * FROM bm$k").mkString(" UNION ALL ")})"
    parts.result().mkString(",\n")
  }

  /** Training + greedy-encode CTEs: btok (doc tokens), btypes (ALL word
    * types, not just the capped dict — subwordStats encodes every word),
    * benc (recursive greedy encode), bfin (final symbol list per type).
    * Callers must open with `WITH RECURSIVE`. */
  private lazy val BpeEncCtes: String =
    s"""$BpeTrainCtes,
       |bmlist AS MATERIALIZED (SELECT list(struct_pack(rk := merge_rank, l := l, r := r)) AS ms FROM bmerges),
       |btok AS MATERIALIZED (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE len(w) > 0),
       |btypes AS MATERIALIZED (SELECT DISTINCT w FROM btok),
       |benc AS (
       |  SELECT w, 0 AS it, ${bpeSegInit("w")} AS seg FROM btypes
       |  UNION ALL
       |  SELECT w, it + 1,
       |    replace(seg, chr(30)||mb.l||chr(31)||chr(30)||mb.r||chr(31),
       |            chr(30)||mb.l||mb.r||chr(31)) AS seg
       |  FROM (
       |    SELECT w, it, seg, list_filter(ms, m -> m.rk = best)[1] AS mb
       |    FROM (
       |      SELECT w, it, seg, ms,
       |        list_min(list_transform(generate_series(1, len(sy)-1),
       |          i -> coalesce(list_min(list_transform(
       |                 list_filter(ms, m -> m.l = sy[i] AND m.r = sy[i+1]),
       |                 m -> m.rk)), 999999))) AS best
       |      FROM (SELECT w, it, seg, ${bpeSyms("seg")} AS sy, ms
       |            FROM benc CROSS JOIN bmlist))
       |    WHERE best IS NOT NULL AND best < 999999)),
       |bfin AS MATERIALIZED (SELECT w, ${bpeSyms("seg")} AS sy FROM benc
       |  QUALIFY row_number() OVER (PARTITION BY w ORDER BY it DESC) = 1),
       |bty AS MATERIALIZED (SELECT w, CAST(len(sy) AS BIGINT) AS n_sub,
       |          CAST(len(w) AS BIGINT) AS n_chr FROM bfin),
       |bperdoc AS MATERIALIZED (SELECT d.doc_id, d.source,
       |    coalesce(x.n_words, 0) AS n_words,
       |    coalesce(x.n_subwords, 0) AS n_subwords,
       |    coalesce(x.n_chars_tokenized, 0) AS n_chars_tokenized
       |  FROM documents d LEFT JOIN (
       |    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |      CAST(sum(y.n_sub) AS BIGINT) AS n_subwords,
       |      CAST(sum(y.n_chr) AS BIGINT) AS n_chars_tokenized
       |    FROM btok t JOIN bty y USING (w) GROUP BY t.doc_id) x USING (doc_id))""".stripMargin

  /** the five base stats + optional percentiles, DuckDB side.
    * `roundedPcts=false` leaves percentiles unrounded — required when a
    * STACKING outer query sums them across many metrics: rounding before
    * the sum accumulates up to 5e-5 × metric-count of drift vs Spark's
    * unrounded sum, while both engines' raw linear interpolation is
    * bit-identical. */
  private def statSql(v: String, pcts: Seq[Double],
                      roundedPcts: Boolean = true): String = {
    // `+ 0` normalizes IEEE signed zero: round() of a tiny negative yields
    // -0.0 in DuckDB but +0.0 in Spark — value-equal yet byte-distinct under
    // the driver's hash. -0.0 + 0 == +0.0, all other values unchanged.
    def pct(expr: String) = if (roundedPcts) s"(round($expr, 4) + 0)" else expr
    val pctCols = pcts.map(q =>
      s"${pct(s"quantile_cont($v, ${q / 100.0})")} AS ${MetricsOps.pctColName(q)}").mkString(", ")
    s"""min($v) AS "min", ${dsum(v)}/count($v) AS avg, max($v) AS "max",
       |${dsum(v)} AS sum, count($v) AS samples${if (pctCols.nonEmpty) ", " + pctCols else ""},
       |${pct(s"quantile_cont($v, 0.5)")} AS median""".stripMargin
  }

  // Spark side: round the percentile-family columns to match
  private def roundPcts(df: DataFrame, pcts: Seq[Double]): DataFrame =
    (pcts.map(MetricsOps.pctColName) :+ "median").foldLeft(df) { (d, c) =>
      // + 0 mirrors statSql's signed-zero normalization (see pct() there)
      d.withColumn(c, round(col(c), 4) + lit(0d))
    }

  private def gauge(s: SparkSession, dir: String) = ea.gaugePoints(s, dir)
  private def avail(s: SparkSession, dir: String) = ea.availabilityPoints(s, dir)
  private def ctr(s: SparkSession, dir: String) = ea.counterPoints(s, dir)
  // single-row-group fixture files → fan out for downstream parallelism;
  // gated on file count so multi-file inputs don't pay an always-on shuffle
  private def docs(s: SparkSession, dir: String) =
    ea.singleFileFanOut(s, s.read.parquet(s"$dir/documents.parquet"))
  private def embs(s: SparkSession, dir: String) =
    ea.singleFileFanOut(s, s.read.parquet(s"$dir/embeddings.parquet"))

  /** Recursive delete of a lifecycle query's scratch dir (streaming
    * checkpoints must not survive across bench/verify runs). */
  private def rmrf(s: SparkSession, path: String): Unit =
    graft.storage.IndexStore.rmrf(s, path)

  /** Stage a parquet input into `stage` by filesystem copy, flat: a
    * single file lands as itself, a Spark-written directory as its data
    * files (`_`/`.`-prefixed markers skipped). Nested under `stage`, a
    * directory's files would sit one level below the rows later appended
    * to `stage`, and the batch and file-stream readers misread mixed
    * listing depths. A directory holding subdirectories (a partitioned
    * table) has no flat form and is refused by name. */
  private[graft] def stageFlat(s: SparkSession, src: String, stage: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(src)
    val inFs = in.getFileSystem(conf)
    val out = new org.apache.hadoop.fs.Path(stage)
    val outFs = out.getFileSystem(conf)
    val st = inFs.getFileStatus(in)
    val files = if (st.isFile) Seq(st) else inFs.listStatus(in).toSeq
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
    files.find(_.isDirectory).foreach(d => throw new IllegalArgumentException(
      s"cannot stage $src flat: it holds the subdirectory ${d.getPath.getName}"))
    files.foreach(f => org.apache.hadoop.fs.FileUtil.copy(inFs, f.getPath,
      outFs, new org.apache.hadoop.fs.Path(out, f.getPath.getName), false, conf))
  }

  /** Backdate every file under `dir` by a minute: the file streaming
    * source orders micro-batches by modification time with arbitrary tie
    * order, so a wave that must be processed FIRST (an order-dependent
    * ingest like the IVF bootstrap-train) is staged, backdated, and only
    * then followed by the next wave's write. */
  private def backdate(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val t = System.currentTimeMillis() - 60000L
    val it = fs.listFiles(p, true)
    while (it.hasNext) { val f = it.next(); fs.setTimes(f.getPath, t, -1) }
  }

  /** Bump whenever ANY persisted-index on-disk format changes — the
    * `*_serve` queries trust a store carrying the current version marker
    * and would otherwise serve a stale layout built by older code.
    * v2: tier stores gained the `_refreshed_until` freshness watermark
    * (a v1 tier store would silently dispatch every request to raw). */
  private val ServeStoreVersion = 3 // r14: distribution tiers gained the _covered_from coverage watermark

  /** Build-once gate for the serve-only index twins: the store builds on
    * the FIRST call per (path, [[ServeStoreVersion]], input fingerprint)
    * — the marker file lands only after the build completes (commit
    * marker; a crashed build rebuilds) — and every later call skips
    * straight to serving. Bench's min-of-3 therefore times the SERVE
    * plan alone, so a serving regression is visible per-round instead of
    * hiding in build noise. The marker carries a fingerprint of the
    * input dir (file names, lengths, modification times): a store that
    * survived from a PREVIOUS round must rebuild if the fixture data was
    * regenerated since, never silently serve the old corpus. */
  private def prebuilt(s: SparkSession, dir: String, path: String)(build: => Unit): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(dir)
    // RECURSIVE listing: fixture "files" may be Spark-written parquet
    // DIRECTORIES, whose own status never changes when a nested part
    // file is rewritten — only leaf files carry the change signal
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = in.getFileSystem(conf).listFiles(in, true)
    while (it.hasNext) {
      val st = it.next()
      files += s"${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}"
    }
    val fp = files.sorted.mkString("\n")
    val marker = new org.apache.hadoop.fs.Path(s"$path/_graft_serve_v$ServeStoreVersion")
    val fs = marker.getFileSystem(conf)
    val current =
      if (!fs.exists(marker)) None
      else scala.util.Try {
        val st = fs.open(marker)
        try new String(st.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally st.close()
      }.toOption
    if (!current.contains(fp)) {
      rmrf(s, path)
      build
      val out = fs.create(marker, true)
      try out.write(fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Shared read-back check for the storage/streaming lifecycle queries:
    * per-metric row count + decimal-exact value sum. */
  private def tierSummary(tier: DataFrame): DataFrame =
    tier.groupBy(col("metric"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("n_value").cast("decimal(28,10)")).cast("double").as("sum_v"))

  /** Flagship (EP1 end-to-end): gauge bucket stats with percentiles + gap
    * fill on sf0.001 — SURVEY §7 "minimum end-to-end slice". */
  def entry(spark: SparkSession): DataFrame = {
    val b = Buckets.fromCount(S, E, 60)
    roundPcts(
      MetricsOps.gapFill(
        MetricsOps.numericBucketStats(gauge(spark, "/root/testdata/sf0.001"), b, Seq(90.0, 99.0)), b),
      Seq(90.0, 99.0))
  }

  // ------------------------------------------------------------------
  // the operator queries
  // ------------------------------------------------------------------

  private type Q = (SparkSession, String) => DataFrame

  private lazy val defs: Seq[(String, Q, Option[String])] = Seq(

    // ---- S4/F1/F9/T1/T2: raw fetch, ordered + limited --------------------
    ("raw_fetch_desc",
      (s: SparkSession, d: String) =>
        MetricsOps.rawDataPoints(gauge(s, d), TimeRange(S, Week), Order.Desc, 500)
          .select(col("metric"), col("time"), col("n_value")),
      Some(s"""WITH $BaseCte
              |SELECT metric, t AS "time", value AS n_value FROM base
              |WHERE t >= $S AND t < $Week ORDER BY t DESC, metric ASC LIMIT 500""".stripMargin)),

    ("raw_fetch_asc",
      (s: SparkSession, d: String) =>
        MetricsOps.rawDataPoints(gauge(s, d), TimeRange(S, Week), Order.Asc, 500)
          .select(col("metric"), col("time"), col("n_value")),
      Some(s"""WITH $BaseCte
              |SELECT metric, t AS "time", value AS n_value FROM base
              |WHERE t >= $S AND t < $Week ORDER BY t ASC, metric ASC LIMIT 500""".stripMargin)),

    // ---- A1/A2: pooled bucket stats + gap fill ---------------------------
    ("gauge_stats", (s: SparkSession, d: String) => {
      val b = Buckets.fromCount(S, E, 60)
      roundPcts(MetricsOps.gapFill(
        MetricsOps.numericBucketStats(gauge(s, d), b, Seq(90.0, 99.0)), b), Seq(90.0, 99.0))
        .select("bucket", "bucket_start", "bucket_end", "min", "avg", "max", "sum",
          "samples", "p90_0", "p99_0", "median")
    },
      Some(s"""WITH $BaseCte,
              |ag AS (SELECT (t - $S) // 43200000 AS bucket, ${statSql("value", Seq(90.0, 99.0))}
              |       FROM base WHERE t >= $S AND t < $E GROUP BY 1)
              |SELECT g.bucket, $S + g.bucket * 43200000 AS bucket_start,
              |       $S + (g.bucket + 1) * 43200000 AS bucket_end,
              |       ag."min", ag.avg, ag."max", ag.sum, ag.samples, ag.p90_0, ag.p99_0, ag.median
              |FROM range(60) g(bucket) LEFT JOIN ag ON ag.bucket = g.bucket""".stripMargin)),

    // ---- A1/A2 sparse: single metric, hourly buckets, real gaps ----------
    ("gauge_stats_sparse", (s: SparkSession, d: String) => {
      val b = Buckets.fromStep(S, E, 3600000L)
      roundPcts(MetricsOps.gapFill(
        MetricsOps.numericBucketStats(gauge(s, d).filter(col("metric") === "click/42"), b, Seq.empty), b),
        Seq.empty)
        .select("bucket", "bucket_start", "bucket_end", "min", "avg", "max", "sum", "samples", "median")
    },
      Some(s"""WITH $BaseCte,
              |ag AS (SELECT (t - $S) // 3600000 AS bucket, ${statSql("value", Seq.empty)}
              |       FROM base WHERE t >= $S AND t < $E AND metric = 'click/42' GROUP BY 1)
              |SELECT g.bucket, $S + g.bucket * 3600000 AS bucket_start,
              |       $S + (g.bucket + 1) * 3600000 AS bucket_end,
              |       ag."min", ag.avg, ag."max", ag.sum, ag.samples, ag.median
              |FROM range(720) g(bucket) LEFT JOIN ag ON ag.bucket = g.bucket""".stripMargin)),

    // ---- A1 with the 100 TB percentile path: P² marker sketch ------------
    // (O(1) state per bucket, exact-buffer stage + CDF-mixture merge — the
    // unbounded-bucket path.) The sketch is approximate, so instead of a
    // rows-only check the query emits its EXACT twin from the same single
    // groupBy and asserts the sketch's RANK accuracy: the fraction of the
    // bucket at or below each sketch estimate must land within a
    // per-quantile band of the target quantile (the quantity P² actually
    // approximates — a value-space band would conflate sketch error with
    // tail sparsity). Bands carry ~2x headroom over the worst measured
    // rank error on this fixture (p90 4.8pp, p99 1.0pp, median 3.5pp at
    // sf0.01 across a 32-way partial-aggregation tree). The exact columns
    // + all-true band booleans ARE hash-comparable, so the driver's oracle
    // verifies the accuracy envelope, not just a row count.
    ("gauge_stats_p2sketch", (s: SparkSession, d: String) => {
      val b = Buckets.fromCount(S, E, 60)
      def band(r: String, q: Double, tol: Double, out: String) =
        (abs(col(r) - lit(q)) <= lit(tol)).as(out)
      roundPcts(MetricsOps.p2SketchAccuracy(gauge(s, d), b), Seq(90.0, 99.0))
        .withColumn("p90_in_band", band("r90", 0.90, 0.10, "p90_in_band"))
        .withColumn("p99_in_band", band("r99", 0.99, 0.03, "p99_in_band"))
        .withColumn("median_in_band", band("r50", 0.50, 0.08, "median_in_band"))
        .select("bucket", "min", "avg", "max", "sum", "samples", "p90_0", "p99_0", "median",
          "p90_in_band", "p99_in_band", "median_in_band")
    },
      Some(s"""WITH $BaseCte
              |SELECT (t - $S) // 43200000 AS bucket, ${statSql("value", Seq(90.0, 99.0))},
              |       TRUE AS p90_in_band, TRUE AS p99_in_band, TRUE AS median_in_band
              |FROM base WHERE t >= $S AND t < $E GROUP BY 1""".stripMargin)),

    // ---- A1 by metric ----------------------------------------------------
    ("gauge_stats_by_metric", (s: SparkSession, d: String) => {
      val b = Buckets.fromCount(S, Week, 14)
      roundPcts(
        MetricsOps.numericBucketStats(gauge(s, d), b, Seq(95.0), byMetric = true), Seq(95.0))
        .select("metric", "bucket", "min", "avg", "max", "sum", "samples", "p95_0", "median")
    },
      Some(s"""WITH $BaseCte
              |SELECT metric, (t - $S) // 43200000 AS bucket, ${statSql("value", Seq(95.0))}
              |FROM base WHERE t >= $S AND t < $Week GROUP BY 1, 2""".stripMargin)),

    // ---- A4: stacked multi-metric stats ----------------------------------
    ("stacked_stats", (s: SparkSession, d: String) => {
      val b = Buckets.fromCount(S, E, 60)
      val st = MetricsOps.stackedStats(gauge(s, d), b, Seq(90.0))
      st.select(Seq(col("bucket")) ++
        Seq("min", "avg", "median", "max", "sum", "p90_0").map(c => round(col(c), 4).as(c)) :+
        col("samples"): _*)
    },
      Some(s"""WITH $BaseCte,
              |per AS (SELECT metric, (t - $S) // 43200000 AS bucket, ${statSql("value", Seq(90.0))}
              |        FROM base WHERE t >= $S AND t < $E GROUP BY 1, 2)
              |SELECT bucket, round(${dsum("\"min\"")}, 4) AS "min", round(${dsum("avg")}, 4) AS avg,
              |       round(${dsum("median")}, 4) AS median, round(${dsum("\"max\"")}, 4) AS "max",
              |       round(${dsum("sum")}, 4) AS sum, round(${dsum("p90_0")}, 4) AS p90_0,
              |       count(*) AS samples
              |FROM per GROUP BY bucket""".stripMargin)),

    // ---- A5: pooled = gauge_stats (different grid to still exercise it) --
    ("pooled_stats", (s: SparkSession, d: String) => {
      val b = Buckets.fromStep(S, E, Day)
      roundPcts(MetricsOps.pooledStats(gauge(s, d), b, Seq(50.0)), Seq(50.0))
        .select("bucket", "min", "avg", "max", "sum", "samples", "p50_0", "median")
    },
      Some(s"""WITH $BaseCte
              |SELECT (t - $S) // $Day AS bucket, ${statSql("value", Seq(50.0))}
              |FROM base WHERE t >= $S AND t < $E GROUP BY 1""".stripMargin)),

    // ---- A6/F5: tagged bucket stats (per-point tag filter + group) -------
    ("tagged_stats", (s: SparkSession, d: String) =>
      roundPcts(MetricsOps.taggedStats(gauge(s, d), Map("k" -> "[1-3][0-9]"), Seq(95.0)), Seq(95.0))
        .select("tag_k", "min", "avg", "max", "sum", "samples", "p95_0", "median"),
      Some(s"""WITH $BaseCte
              |SELECT tag_k, ${statSql("value", Seq(95.0))}
              |FROM base WHERE regexp_full_match(tag_k, '[1-3][0-9]') GROUP BY 1""".stripMargin)),

    // ---- A3: availability bucket state machine ---------------------------
    ("avail_stats", (s: SparkSession, d: String) => {
      val b = Buckets.fromStep(S, E, Day)
      MetricsOps.availabilityBucketStats(avail(s, d), b)
        .select("metric", "bucket", "up_ms", "down_ms", "unknown_ms", "admin_ms",
          "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte,
              |b AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |      FROM av WHERE t >= $S AND t < $E),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t))
              |SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |FROM seg GROUP BY metric, bucket""".stripMargin)),

    // ---- A3+A2: availability stats, gap-filled per queried metric -------
    ("avail_stats_filled", (s: SparkSession, d: String) => {
      val b = Buckets.fromStep(S, Week, Day)
      val spine = ea.catalog(s, d).select("metric")
      MetricsOps.availabilityBucketStatsFilled(avail(s, d), b, Some(spine))
        .select("metric", "bucket", "bucket_start", "bucket_end", "up_ms", "down_ms",
          "unknown_ms", "admin_ms", "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte, $CatCte,
              |b AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |      FROM av WHERE t >= $S AND t < $Week),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |ag AS (SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |  FROM seg GROUP BY metric, bucket)
              |SELECT sp.metric, sp.bucket, $S + sp.bucket * $Day AS bucket_start,
              |       $S + (sp.bucket + 1) * $Day AS bucket_end,
              |       ag.up_ms, ag.down_ms, ag.unknown_ms, ag.admin_ms, ag.last_not_uptime,
              |       ag.not_up_count, ag.samples, ag.uptime_ratio
              |FROM (SELECT cat.metric, g.bucket FROM cat CROSS JOIN range(7) g(bucket)) sp
              |LEFT JOIN ag ON ag.metric = sp.metric AND ag.bucket = sp.bucket""".stripMargin)),

    // ---- fromEarliest: retention-window range, leading empties skipped ---
    // (GaugeHandler.java:449-496 with a pinned `now` = fixture end; the
    // range starts 5 days before any data so the skip has work to do)
    ("from_earliest", (s: SparkSession, d: String) => {
      val b = Buckets.fromStep(S - 5 * Day, E, Day)
      MetricsOps.skipLeadingEmptyBuckets(
        MetricsOps.gapFill(MetricsOps.numericBucketStats(gauge(s, d), b, Seq.empty), b))
        .select(col("bucket"), col("bucket_start"), col("bucket_end"),
          col("min"), col("avg"), col("max"), col("sum"), col("samples"),
          round(col("median"), 4).as("median"))
    },
      Some(s"""WITH $BaseCte,
              |ag AS (SELECT (t - ${S - 5 * Day}) // $Day AS bucket, ${statSql("value", Seq.empty)}
              |       FROM base WHERE t >= ${S - 5 * Day} AND t < $E GROUP BY 1),
              |sp AS (SELECT g.bucket, ${S - 5 * Day} + g.bucket * $Day AS bucket_start,
              |         ${S - 5 * Day} + (g.bucket + 1) * $Day AS bucket_end,
              |         ag."min", ag.avg, ag."max", ag.sum, ag.samples, ag.median
              |       FROM range(35) g(bucket) LEFT JOIN ag ON ag.bucket = g.bucket)
              |SELECT bucket, bucket_start, bucket_end, "min", avg, "max", sum, samples,
              |       round(median, 4) AS median
              |FROM sp WHERE bucket >= (SELECT min(bucket) FROM sp WHERE samples IS NOT NULL)""".stripMargin)),

    // ---- fromEarliest for AVAILABILITY: retention window, A3 state-
    // machine stats, leading empties skipped (the reference threads the
    // same flag through AvailabilityHandler's TimeAndBucketParams as
    // GaugeHandler.java:449-496 does for gauges) --------------------------
    ("avail_from_earliest", (s: SparkSession, d: String) => {
      import s.implicits._
      val b = Buckets.fromStep(S - 5 * Day, E, Day)
      MetricsOps.skipLeadingEmptyBuckets(
        MetricsOps.availabilityBucketStatsFilled(
          avail(s, d).filter(col("metric") === "click/42"), b,
          keySpine = Some(Seq("click/42").toDF("metric"))))
        .select("metric", "bucket", "bucket_start", "bucket_end", "up_ms", "down_ms",
          "unknown_ms", "admin_ms", "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte,
              |b AS (SELECT metric, t, avail, (t - ${S - 5 * Day}) // $Day AS bucket
              |      FROM av WHERE t >= ${S - 5 * Day} AND t < $E AND metric = 'click/42'),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN ${S - 5 * Day} + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, ${S - 5 * Day} + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |ag AS (SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |  FROM seg GROUP BY metric, bucket),
              |fl AS (SELECT 'click/42' AS metric, g.bucket,
              |         ${S - 5 * Day} + g.bucket * $Day AS bucket_start,
              |         ${S - 5 * Day} + (g.bucket + 1) * $Day AS bucket_end,
              |         ag.up_ms, ag.down_ms, ag.unknown_ms, ag.admin_ms, ag.last_not_uptime,
              |         ag.not_up_count, ag.samples, ag.uptime_ratio
              |       FROM range(35) g(bucket)
              |       LEFT JOIN ag ON ag.bucket = g.bucket)
              |SELECT metric, bucket, bucket_start, bucket_end, up_ms, down_ms, unknown_ms,
              |       admin_ms, last_not_uptime, not_up_count, samples, uptime_ratio
              |FROM fl WHERE bucket >= (SELECT min(bucket) FROM fl WHERE samples IS NOT NULL)""".stripMargin)),

    // ---- W1/F6: counter rate with reset-pair drop ------------------------
    ("counter_rate", (s: SparkSession, d: String) =>
      MetricsOps.rate(ctr(s, d), isCounter = true, valueCol = "l_value")
        .select("metric", "time", "rate"),
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric, t AS "time",
              |       60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v""".stripMargin)),

    // ---- W1: gauge rate --------------------------------------------------
    ("gauge_rate", (s: SparkSession, d: String) =>
      MetricsOps.rate(gauge(s, d), isCounter = false)
        .select("metric", "time", "rate"),
      Some(s"""WITH $BaseCte,
              |r AS (SELECT metric, t, value, lag(value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM base WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric, t AS "time",
              |       60000.0 * (value - prev_v) / CAST(t - prev_t AS DOUBLE) AS rate
              |FROM r WHERE prev_t IS NOT NULL""".stripMargin)),

    // ---- W1+A1: rate stats ----------------------------------------------
    ("rate_stats", (s: SparkSession, d: String) => {
      val b = Buckets.fromStep(S, E, Day)
      roundPcts(MetricsOps.rateStats(ctr(s, d), b, isCounter = true, valueCol = "l_value"), Seq.empty)
        .select("bucket", "min", "avg", "max", "sum", "samples", "median")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v)
              |SELECT (t - $S) // $Day AS bucket, ${statSql("rate", Seq.empty)}
              |FROM rt WHERE t >= $S AND t < $E GROUP BY 1""".stripMargin)),

    // ---- W1 × A4: STACKED multi-metric rate stats over a tag selection
    // (the reference's findNumericStats(..., isRate=true) behind
    // GET /counters/rate/stats, CounterHandler.java:782-825): fetch the
    // range for the selected ids, derive W1 rates per metric, per-metric
    // bucket stats, then SUM each statistic across metrics with samples =
    // contributing metrics (A4 stacking incl. percentile values) --------
    ("rate_stats_multi", (s: SparkSession, d: String) => {
      val ids = ea.catalog(s, d).filter(TagQueryParser.compile("seg = s2", col("tags")))
        .select("metric")
      val b = Buckets.fromStep(S, E, Day)
      val rates = MetricsOps.rate(
        MetricsOps.dataPointsForIds(ctr(s, d), ids)
          .filter(col("time") >= S && col("time") < E),
        isCounter = true, valueCol = "l_value")
      MetricsOps.stackedStats(rates, b, Seq(90.0), valueCol = "rate")
        .select(Seq(col("bucket")) ++
          Seq("min", "avg", "median", "max", "sum", "p90_0").map(c => round(col(c), 4).as(c)) :+
          col("samples"): _*)
    },
      Some(s"""WITH $BaseCte, $CatCte, $CounterCte,
              |sel AS (SELECT metric FROM cat WHERE seg = 's2'),
              |cv AS (SELECT metric, t, CAST(l_value AS DOUBLE) AS v FROM ctr
              |       WHERE t >= $S AND t < $E AND metric IN (SELECT metric FROM sel)),
              |rr AS (SELECT metric, t, v, lag(v) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |       FROM cv WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rv AS (SELECT metric, t,
              |         60000.0 * (v - prev_v) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM rr WHERE prev_t IS NOT NULL AND v >= prev_v),
              |per AS (SELECT metric, (t - $S) // $Day AS bucket, ${statSql("rate", Seq(90.0), roundedPcts = false)}
              |        FROM rv GROUP BY 1, 2)
              |SELECT bucket, round(${dsum("\"min\"")}, 4) AS "min", round(${dsum("avg")}, 4) AS avg,
              |       round(${dsum("median")}, 4) AS median, round(${dsum("\"max\"")}, 4) AS "max",
              |       round(${dsum("sum")}, 4) AS sum, round(${dsum("p90_0")}, 4) AS p90_0,
              |       count(*) AS samples
              |FROM per GROUP BY bucket""".stripMargin)),

    // ---- W2: periods where value > 75 ------------------------------------
    ("periods_gt75", (s: SparkSession, d: String) =>
      MetricsOps.periods(gauge(s, d), col("n_value") > 75.0)
        .select("metric", "period_start", "period_end"),
      Some(s"""WITH $BaseCte,
              |g AS (SELECT metric, t, CASE WHEN value > 75.0 THEN 1 ELSE 0 END AS flag FROM base),
              |i AS (SELECT metric, t, flag, sum(1 - flag) OVER (
              |        PARTITION BY metric ORDER BY t ROWS UNBOUNDED PRECEDING) AS island FROM g)
              |SELECT metric, min(t) AS period_start, max(t) AS period_end
              |FROM i WHERE flag = 1 GROUP BY metric, island""".stripMargin)),

    // ---- F7/W3: distinct-contiguous (availability + string) --------------
    ("distinct_avail", (s: SparkSession, d: String) =>
      MetricsOps.distinctContiguous(avail(s, d), "avail").select("metric", "time", "avail"),
      Some(s"""WITH $BaseCte, $AvailCte,
              |x AS (SELECT metric, t, avail, lag(avail) OVER (PARTITION BY metric ORDER BY t) AS p FROM av)
              |SELECT metric, t AS "time", avail FROM x WHERE p IS NULL OR avail <> p""".stripMargin)),

    ("distinct_string", (s: SparkSession, d: String) =>
      MetricsOps.distinctContiguous(ea.stringPoints(s, d), "s_value").select("metric", "time", "s_value"),
      Some(s"""WITH $BaseCte,
              |sv AS (SELECT metric, t, CASE WHEN value >= 66.0 THEN 'high'
              |                              WHEN value >= 33.0 THEN 'mid' ELSE 'low' END AS s_value
              |       FROM base),
              |x AS (SELECT metric, t, s_value, lag(s_value) OVER (PARTITION BY metric ORDER BY t) AS p FROM sv)
              |SELECT metric, t AS "time", s_value FROM x WHERE p IS NULL OR s_value <> p""".stripMargin)),

    // ---- S3: string ingest size cap --------------------------------------
    ("string_size_cap", (s: SparkSession, d: String) =>
      ea.stringPoints(s, d).filter(length(col("s_value")) <= 3)
        .select("metric", "time", "s_value"),
      Some(s"""WITH $BaseCte,
              |sv AS (SELECT metric, t, CASE WHEN value >= 66.0 THEN 'high'
              |                              WHEN value >= 33.0 THEN 'mid' ELSE 'low' END AS s_value
              |       FROM base)
              |SELECT metric, t AS "time", s_value FROM sv WHERE length(s_value) <= 3""".stripMargin)),

    // ---- A7: whole-range scalar aggregates -------------------------------
    ("whole_range", (s: SparkSession, d: String) =>
      MetricsOps.wholeRangeAggregates(gauge(s, d), TimeRange(S, E)),
      Some(s"""WITH $BaseCte
              |SELECT min(value) AS "min", ${dsum("value")}/count(value) AS avg, max(value) AS "max",
              |       ${dsum("value")} AS sum, count(value) AS samples
              |FROM base WHERE t >= $S AND t < $E""".stripMargin)),

    // ---- A10: min/max timestamp per metric -------------------------------
    ("minmax_ts", (s: SparkSession, d: String) =>
      MetricsOps.minMaxTimestamps(gauge(s, d)).select("metric", "min_time", "max_time"),
      Some(s"""WITH $BaseCte
              |SELECT metric, min(t) AS min_time, max(t) AS max_time FROM base GROUP BY 1""".stripMargin)),

    // ---- F8: deterministic last-write-wins dedup -------------------------
    ("dedup_lww", (s: SparkSession, d: String) => {
      val t1 = gauge(s, d).withColumn("tier", lit(1))
      val t2 = gauge(s, d).filter(col("n_value") > 400.0)
        .withColumn("n_value", col("n_value") * 2).withColumn("tier", lit(2))
      MetricsOps.dedupTiers(t1.unionByName(t2), "tier").select("metric", "time", "n_value")
    },
      Some(s"""WITH $BaseCte,
              |u AS (SELECT metric, t, value, 1 AS tier FROM base
              |      UNION ALL SELECT metric, t, value * 2, 2 FROM base WHERE value > 400.0)
              |SELECT metric, t AS "time", value AS n_value FROM u
              |QUALIFY row_number() OVER (PARTITION BY metric, t ORDER BY tier DESC) = 1""".stripMargin)),

    // ---- A8: distinct tag values (catalog explode) -----------------------
    ("tag_values", (s: SparkSession, d: String) =>
      MetricsOps.tagValues(ea.catalog(s, d), Map("type" -> "*", "seg" -> "s[0-2]")),
      Some(s"""WITH $CatCte,
              |m AS (SELECT * FROM cat WHERE regexp_full_match(seg, 's[0-2]')),
              |x AS (SELECT 'type' AS tname, event_type AS tvalue FROM m
              |      UNION ALL SELECT 'user', tag_user FROM m
              |      UNION ALL SELECT 'seg', seg FROM m)
              |SELECT DISTINCT tname, tvalue FROM x
              |WHERE tname = 'type' OR (tname = 'seg' AND regexp_full_match(tvalue, 's[0-2]'))""".stripMargin)),

    // ---- A9: distinct tag names ------------------------------------------
    ("tag_names", (s: SparkSession, d: String) => MetricsOps.tagNames(ea.catalog(s, d)),
      Some("SELECT * FROM (VALUES ('type'), ('user'), ('seg')) AS t(tname)")),

    // ---- EP3/J1/J2/O1-O5: tag-query language over the catalog ------------
    ("tagquery_ids", (s: SparkSession, d: String) => {
      val c = ea.catalog(s, d)
      c.filter(TagQueryParser.compile("(type = error AND seg IN [s0, s1]) OR user ~ '14.*'", col("tags")))
        .select("metric")
    },
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat
              |WHERE (event_type = 'error' AND (regexp_full_match(seg, 's0') OR regexp_full_match(seg, 's1')))
              |   OR regexp_full_match(tag_user, '14.*')""".stripMargin)),

    // ---- J1@scale: the PERSISTED inverted tag index (the reference's
    // metrics_tags_idx) — build, serve the SAME expression through
    // bucket-pruned leaf scans + id-set algebra; answers must equal the
    // one-scan compiled-Column path, so the same oracle verifies it ------
    ("tagindex_stored", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagidx_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      graft.storage.TagIndex.write(ea.catalog(s, d), base)
      graft.storage.TagIndex.lookup(s,
        base, "(type = error AND seg IN [s0, s1]) OR user ~ '14.*'")
        .select("metric")
    },
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat
              |WHERE (event_type = 'error' AND (regexp_full_match(seg, 's0') OR regexp_full_match(seg, 's1')))
              |   OR regexp_full_match(tag_user, '14.*')""".stripMargin)),

    // ---- J1@scale: incremental tag-index maintenance — append a catalog
    // wave with the replay screen, serve a complement-bearing query
    // (NOT leaves evaluate against the stored id universe) ---------------
    ("tagindex_append", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagidxapp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val c = ea.catalog(s, d)
      val user = element_at(col("tags"), "user").cast("long")
      graft.storage.TagIndex.write(c.filter(user % 3 =!= 0), base)
      graft.storage.TagIndex.append(s, base, c.filter(user % 3 === 0))
      graft.storage.TagIndex.lookup(s,
        base, "type != view AND NOT zone AND seg NOT IN [s4]")
        .select("metric")
    },
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat
              |WHERE event_type <> 'view' AND NOT regexp_full_match(seg, 's4')""".stripMargin)),

    // ---- J1@scale: tag-index compaction — merge append-wave files +
    // crash-orphan repair behind the shared AtomicSwap; answers must not
    // move (same oracle as tagindex_stored) ------------------------------
    ("tagindex_compact", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagidxcmp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val c = ea.catalog(s, d)
      val user = element_at(col("tags"), "user").cast("long")
      graft.storage.TagIndex.write(c.filter(user % 3 =!= 0), base)
      graft.storage.TagIndex.append(s, base, c.filter(user % 3 === 0))
      graft.storage.TagIndex.compact(s, base)
      graft.storage.TagIndex.lookup(s,
        base, "(type = error AND seg IN [s0, s1]) OR user ~ '14.*'")
        .select("metric")
    },
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat
              |WHERE (event_type = 'error' AND (regexp_full_match(seg, 's0') OR regexp_full_match(seg, 's1')))
              |   OR regexp_full_match(tag_user, '14.*')""".stripMargin)),

    // ---- S9@scale: tenant delete on the persisted tag index — O(1)
    // tombstone, screened serving, physical purge riding compaction (the
    // reference's background-job split, jobs/DeleteTenant.java:34-62);
    // answers must equal a catalog that never held the tenant ----------
    ("tagindex_delete_tenant", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagidxdel_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val c = ea.catalog(s, d)
      graft.storage.TagIndex.write(
        c.unionByName(c.withColumn("tenant_id", lit("beta"))), base)
      graft.storage.TagIndex.deleteTenant(s, base, "beta")
      graft.storage.TagIndex.compact(s, base)
      graft.storage.TagIndex.lookup(s,
        base, "(type = error AND seg IN [s0, s1]) OR user ~ '14.*'")
        .select("tenant_id", "metric")
    },
      Some(s"""WITH $CatCte
              |SELECT tenant_id, metric FROM cat
              |WHERE (event_type = 'error' AND (regexp_full_match(seg, 's0') OR regexp_full_match(seg, 's1')))
              |   OR regexp_full_match(tag_user, '14.*')""".stripMargin)),

    // ---- S9@scale: ONE-METRIC delete on the persisted tag index (the
    // reference's synchronous deleteMetric clears the id's tags-index
    // rows, MetricsServiceImpl.java:1085-1101) — tombstone-screened serve
    // and post-compaction purge must answer identically -----------------
    ("tagindex_delete_metric", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagidxdelm_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val c = ea.catalog(s, d)
      graft.storage.TagIndex.write(c, base)
      // deterministic takedown victim: the lexicographically-first
      // error-typed id (this catalog is single-tenant, single-mtype)
      val v = c.filter(TagQueryParser.compile("type = error", col("tags")))
        .orderBy(col("metric"), col("tenant_id"), col("mtype"))
        .select("tenant_id", "mtype", "metric").limit(1).collect()(0)
      graft.storage.TagIndex.deleteMetric(s, base, v.getString(0), v.getInt(1), v.getString(2))
      val screened = graft.storage.TagIndex.lookup(s, base, "type = error")
        .withColumn("stage", lit("screened")).localCheckpoint()
      graft.storage.TagIndex.compact(s, base)
      val purged = graft.storage.TagIndex.lookup(s, base, "type = error")
        .withColumn("stage", lit("purged"))
      screened.unionByName(purged).select("stage", "tenant_id", "metric")
    },
      Some(s"""WITH $CatCte,
              |vic AS (SELECT min(metric) AS m FROM cat WHERE event_type = 'error')
              |SELECT st.stage, c.tenant_id, c.metric
              |FROM cat c CROSS JOIN vic
              |CROSS JOIN (SELECT 'screened' AS stage UNION ALL SELECT 'purged') st
              |WHERE c.event_type = 'error' AND c.metric <> vic.m""".stripMargin)),

    ("tagquery_not", (s: SparkSession, d: String) => {
      val c = ea.catalog(s, d)
      c.filter(TagQueryParser.compile("type != view AND NOT zone AND seg NOT IN [s4]", col("tags")))
        .select("metric")
    },
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat
              |WHERE event_type <> 'view' AND NOT regexp_full_match(seg, 's4')""".stripMargin)),

    ("tagquery_pattern_neg", (s: SparkSession, d: String) => {
      val c = ea.catalog(s, d)
      // `~ '!s[0-3]'` exercises PatternUtil's leading-! negation (F2)
      c.filter(TagQueryParser.compile("seg ~ '!s[0-3]'", col("tags"))).select("metric")
    },
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat WHERE NOT regexp_full_match(seg, 's[0-3]')""".stripMargin)),

    // ---- J4+J3+A1: tag query → datapoints → stats ------------------------
    ("tagquery_to_stats", (s: SparkSession, d: String) => {
      val ids = ea.catalog(s, d).filter(TagQueryParser.compile("type = purchase", col("tags")))
      val b = Buckets.fromCount(S, E, 30)
      roundPcts(
        MetricsOps.numericBucketStats(MetricsOps.dataPointsForIds(gauge(s, d), ids), b, Seq.empty),
        Seq.empty)
        .select("bucket", "min", "avg", "max", "sum", "samples", "median")
    },
      Some(s"""WITH $BaseCte, $CatCte
              |SELECT (t - $S) // 86400000 AS bucket, ${statSql("value", Seq.empty)}
              |FROM base WHERE t >= $S AND t < $E
              |  AND metric IN (SELECT metric FROM cat WHERE event_type = 'purchase')
              |GROUP BY 1""".stripMargin)),

    // ---- EP2: mixed-type multi-metric stats query ------------------------
    // (POST /metrics/stats/query, MetricHandler.doStatsQuery:341-466 —
    // tag-resolved id set fanned out per requested type, one response)
    ("stats_query_multi", (s: SparkSession, d: String) => {
      // resolve the tag query ONCE and fan the materialized id set out to
      // both type branches (the reference resolves ids once per request,
      // MetricHandler.doStatsQuery) — without this each branch's broadcast
      // re-derives the catalog from the raw events
      val ids = ea.catalog(s, d).filter(TagQueryParser.compile("seg = s1", col("tags")))
        .select("metric").localCheckpoint()
      val b = Buckets.fromCount(S, E, 30)
      def one(dp: DataFrame, mtype: Int, vcol: String) =
        roundPcts(MetricsOps.numericBucketStats(
          MetricsOps.dataPointsForIds(dp, ids), b, Seq.empty, byMetric = true, valueCol = vcol),
          Seq.empty)
          .withColumn("mtype", lit(mtype))
          .select("mtype", "metric", "bucket", "min", "avg", "max", "sum", "samples", "median")
      one(gauge(s, d), 0, "n_value").unionByName(one(ctr(s, d), 2, "l_value"))
    },
      Some(s"""WITH $BaseCte, $CatCte, $CounterCte,
              |sel AS (SELECT metric FROM cat WHERE seg = 's1'),
              |gv AS (SELECT metric, t, value AS v FROM base WHERE metric IN (SELECT metric FROM sel)),
              |cv AS (SELECT metric, t, CAST(l_value AS DOUBLE) AS v FROM ctr
              |       WHERE metric IN (SELECT metric FROM sel))
              |SELECT 0 AS mtype, metric, (t - $S) // 86400000 AS bucket, ${statSql("v", Seq.empty)}
              |FROM gv WHERE t >= $S AND t < $E GROUP BY 2, 3
              |UNION ALL
              |SELECT 2 AS mtype, metric, (t - $S) // 86400000 AS bucket, ${statSql("v", Seq.empty)}
              |FROM cv WHERE t >= $S AND t < $E GROUP BY 2, 3""".stripMargin)),

    // ---- EP2 FULL mixed-type stats query: gauge + gauge-RATE + counter +
    // counter-RATE + availability in ONE request, with a percentile
    // applied in every numeric branch (MetricHandler.doStatsQuery:341-466;
    // GAUGE_RATE routed like COUNTER_RATE :368-380,424,476; percentiles
    // StatsQueryRequest.java:30-46). Each type's value and rate branches
    // share ONE materialized fetch — the reference raw-fetches twice and
    // documents the inefficiency (MetricHandler.java:372-375).
    ("stats_query_mixed", (s: SparkSession, d: String) => {
      val ids = ea.catalog(s, d).filter(TagQueryParser.compile("seg = s1", col("tags")))
        .select("metric").localCheckpoint()
      val b = Buckets.fromStep(S, E, Day)
      roundPcts(MetricsOps.mixedTypeStats(b,
        gaugeDp = Some(MetricsOps.dataPointsForIds(gauge(s, d), ids)),
        counterDp = Some(MetricsOps.dataPointsForIds(ctr(s, d), ids)),
        availDp = Some(MetricsOps.dataPointsForIds(avail(s, d), ids)),
        includeCounterRate = true, includeGaugeRate = true,
        quantiles = Seq(90.0),
        // the queried id set IS each branch's dense spine (one catalog,
        // shared names across the three synthesized type frames)
        gaugeIds = Some(ids), counterIds = Some(ids), availIds = Some(ids)),
        Seq(90.0))
        .select("branch", "metric", "bucket", "min", "avg", "max", "sum", "p90_0",
          "median", "samples", "up_ms", "down_ms", "unknown_ms", "admin_ms",
          "last_not_uptime", "not_up_count", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $CatCte, $CounterCte, $AvailCte,
              |sel AS (SELECT metric FROM cat WHERE seg = 's1'),
              |gv AS (SELECT metric, t, value AS v FROM base
              |       WHERE t >= $S AND t < $E AND metric IN (SELECT metric FROM sel)),
              |gb AS (SELECT 'gauge' AS branch, metric, (t - $S) // $Day AS bucket,
              |         ${statSql("v", Seq(90.0))}
              |       FROM gv GROUP BY 2, 3),
              |gp AS (SELECT metric, t, v, lag(v) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |       FROM gv WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |gr AS (SELECT metric, t,
              |         60000.0 * (v - prev_v) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM gp WHERE prev_t IS NOT NULL),
              |gt AS (SELECT 'gauge_rate' AS branch, metric, (t - $S) // $Day AS bucket,
              |         ${statSql("rate", Seq(90.0))}
              |       FROM gr GROUP BY 2, 3),
              |cv AS (SELECT metric, t, CAST(l_value AS DOUBLE) AS v FROM ctr
              |       WHERE t >= $S AND t < $E AND metric IN (SELECT metric FROM sel)),
              |cb AS (SELECT 'counter' AS branch, metric, (t - $S) // $Day AS bucket,
              |         ${statSql("v", Seq(90.0))}
              |       FROM cv GROUP BY 2, 3),
              |rr AS (SELECT metric, t, v, lag(v) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |       FROM cv WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rv AS (SELECT metric, t,
              |         60000.0 * (v - prev_v) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM rr WHERE prev_t IS NOT NULL AND v >= prev_v),
              |rb AS (SELECT 'counter_rate' AS branch, metric, (t - $S) // $Day AS bucket,
              |         ${statSql("rate", Seq(90.0))}
              |       FROM rv GROUP BY 2, 3),
              |ab0 AS (SELECT av.metric, av.t, av.avail, (av.t - $S) // $Day AS bucket
              |        FROM av WHERE av.t >= $S AND av.t < $E
              |          AND av.metric IN (SELECT metric FROM sel)),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM ab0 WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |ab AS (SELECT 'availability' AS branch, metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |  FROM seg GROUP BY metric, bucket),
              |sp AS (SELECT metric, g.bucket FROM sel CROSS JOIN range(30) g(bucket))
              |SELECT 'gauge' AS branch, sp.metric, sp.bucket,
              |       gb."min", gb.avg, gb."max", gb.sum, gb.p90_0, gb.median, gb.samples,
              |       CAST(NULL AS BIGINT) AS up_ms, CAST(NULL AS BIGINT) AS down_ms,
              |       CAST(NULL AS BIGINT) AS unknown_ms, CAST(NULL AS BIGINT) AS admin_ms,
              |       CAST(NULL AS BIGINT) AS last_not_uptime, CAST(NULL AS BIGINT) AS not_up_count,
              |       CAST(NULL AS DOUBLE) AS uptime_ratio
              |FROM sp LEFT JOIN gb ON gb.metric = sp.metric AND gb.bucket = sp.bucket
              |UNION ALL
              |SELECT 'gauge_rate', sp.metric, sp.bucket,
              |       gt."min", gt.avg, gt."max", gt.sum, gt.p90_0, gt.median, gt.samples,
              |       NULL, NULL, NULL, NULL, NULL, NULL, CAST(NULL AS DOUBLE)
              |FROM sp LEFT JOIN gt ON gt.metric = sp.metric AND gt.bucket = sp.bucket
              |UNION ALL
              |SELECT 'counter', sp.metric, sp.bucket,
              |       cb."min", cb.avg, cb."max", cb.sum, cb.p90_0, cb.median, cb.samples,
              |       NULL, NULL, NULL, NULL, NULL, NULL, CAST(NULL AS DOUBLE)
              |FROM sp LEFT JOIN cb ON cb.metric = sp.metric AND cb.bucket = sp.bucket
              |UNION ALL
              |SELECT 'counter_rate', sp.metric, sp.bucket,
              |       rb."min", rb.avg, rb."max", rb.sum, rb.p90_0, rb.median, rb.samples,
              |       NULL, NULL, NULL, NULL, NULL, NULL, CAST(NULL AS DOUBLE)
              |FROM sp LEFT JOIN rb ON rb.metric = sp.metric AND rb.bucket = sp.bucket
              |UNION ALL
              |SELECT 'availability', sp.metric, sp.bucket, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
              |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
              |       CAST(NULL AS DOUBLE), ab.samples,
              |       ab.up_ms, ab.down_ms, ab.unknown_ms, ab.admin_ms, ab.last_not_uptime,
              |       ab.not_up_count, ab.uptime_ratio
              |FROM sp LEFT JOIN ab ON ab.metric = sp.metric AND ab.bucket = sp.bucket""".stripMargin)),

    // ---- J3: explicit id list → datapoints -------------------------------
    ("fetch_by_ids", (s: SparkSession, d: String) =>
      MetricsOps.dataPointsForIds(gauge(s, d), Seq("click/7", "error/23", "view/88"))
        .select("metric", "time", "n_value"),
      Some(s"""WITH $BaseCte
              |SELECT metric, t AS "time", value AS n_value FROM base
              |WHERE metric IN ('click/7', 'error/23', 'view/88')""".stripMargin)),

    // ---- T2 per series: the multi-metric fetch contract — limit bounds
    // EACH id's points, not the union (MetricsServiceImpl
    // .findDataPoints(List,…):821-826; GaugesITest fetchMRawData…)
    ("fetch_by_ids_limited", (s: SparkSession, d: String) =>
      MetricsOps.rawDataPointsPerMetric(
        MetricsOps.dataPointsForIds(gauge(s, d), Seq("click/7", "error/23", "view/88")),
        TimeRange(Some("0"), Some(Long.MaxValue.toString), 1L),
        Order.Desc, limit = 5)
        .select("metric", "time", "n_value"),
      Some(s"""WITH $BaseCte, ranked AS (
              |  SELECT metric, t AS "time", value AS n_value,
              |         row_number() OVER (PARTITION BY metric ORDER BY t DESC) AS rn
              |  FROM base WHERE metric IN ('click/7', 'error/23', 'view/88'))
              |SELECT metric, "time", n_value FROM ranked WHERE rn <= 5""".stripMargin)),

    // ---- J5+A10: definition enrichment -----------------------------------
    // 'error/*' metrics carry a stored per-metric data_retention override
    // (Metric.java:48-54) — enrichment must ECHO it and default only the
    // rest (MetricsIndexRowTransformer:51-53), not clobber with the default
    ("metric_defs", (s: SparkSession, d: String) =>
      MetricsOps.enrichDefinitions(
        ea.catalog(s, d).withColumn("data_retention",
          when(col("metric").startsWith("error/"), lit(30)).otherwise(lit(null).cast("int"))),
        gauge(s, d))
        .select(col("metric"), element_at(col("tags"), "type").as("tag_type"),
          element_at(col("tags"), "seg").as("tag_seg"),
          col("min_time"), col("max_time"), col("data_retention")),
      Some(s"""WITH $BaseCte, $CatCte,
              |mm AS (SELECT metric, min(t) AS min_time, max(t) AS max_time FROM base GROUP BY 1)
              |SELECT cat.metric, cat.event_type AS tag_type, cat.seg AS tag_seg,
              |       mm.min_time, mm.max_time,
              |       CASE WHEN cat.metric LIKE 'error/%' THEN 30 ELSE 7 END AS data_retention
              |FROM cat LEFT JOIN mm ON mm.metric = cat.metric""".stripMargin)),

    // ---- F3: metric-name regex filter ------------------------------------
    ("name_regex", (s: SparkSession, d: String) =>
      MetricsOps.idFilter(ea.catalog(s, d), "e.*/1.?").select("metric"),
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat WHERE regexp_full_match(metric, 'e.*/1.?')""".stripMargin)),

    // ---- F4: metric-type filter ------------------------------------------
    ("type_filter", (s: SparkSession, d: String) =>
      MetricsOps.typeFilter(ea.catalogAll(s, d), Some(MetricType.Counter))
        .select("metric", "mtype"),
      Some(s"""WITH $CatCte
              |SELECT metric, 2 AS mtype FROM cat""".stripMargin)),

    // ---- storage: write → read round trip (S1/partition layout) ----------
    ("storage_roundtrip", (s: SparkSession, d: String) => {
      val path = "target/tmp/roundtrip_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.write(gauge(s, d), path, SaveMode.Overwrite)
      tierSummary(GraftStorage.read(s, path))
    },
      Some(s"""WITH $BaseCte
              |SELECT metric, count(*) AS cnt, ${dsum("value")} AS sum_v FROM base GROUP BY 1""".stripMargin)),

    // ---- S8: compaction — duplicate writes collapse last-write-wins ------
    ("storage_compact", (s: SparkSession, d: String) => {
      val path = "target/tmp/compact_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val g = gauge(s, d)
      GraftStorage.write(g, path, SaveMode.Overwrite)
      // second write re-lands a subset with doubled values — higher
      // ingest_seq, so compaction must keep these
      GraftStorage.write(g.filter(col("n_value") > 400.0)
        .withColumn("n_value", col("n_value") * 2), path)
      GraftStorage.compact(s, path, upToSlice = Long.MaxValue)
      tierSummary(GraftStorage.read(s, path))
    },
      Some(s"""WITH $BaseCte,
              |u AS (SELECT metric, t, CASE WHEN value > 400.0 THEN value * 2 ELSE value END AS v
              |      FROM base)
              |SELECT metric, count(*) AS cnt, ${dsum("v")} AS sum_v FROM u GROUP BY 1""".stripMargin)),

    // ---- heatmap histogram: per (time bucket, value bin) counts with
    // fixed caller-declared edges, clamped edge bins ---------------------
    ("value_histogram", (s: SparkSession, d: String) =>
      MetricsOps.valueHistogram(gauge(s, d), Buckets.fromStep(S, E, 86400000L),
        vMin = 0.0, vMax = 500.0, bins = 20),
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - $S) // 86400000 AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= $S AND t < $E)
              |SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |       bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |FROM a GROUP BY 1, 2""".stripMargin)),

    // ---- EWMA smoothing — sequential per-series fold. The raw smoothed
    // value is engine-specific (spec pins a hand-computed series), so the
    // GATE hash-verifies the deterministic columns (point identity) plus
    // the prefix-envelope invariant: s_i is a convex combination of v_i
    // and s_{i-1}, so it must sit inside [prefix-min, prefix-max] of the
    // values seen so far (±1e-6 for the 6-dp output rounding) -----------
    ("series_ewma", (s: SparkSession, d: String) => {
      val sm = MetricsOps.ewma(gauge(s, d).filter(col("metric") === "click/42"),
        TimeRange(S, E), alpha = 0.3)
      val w = Window.partitionBy(col("metric"))
        .orderBy(col("time").asc, col("value").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sm.withColumn("pmin", min(col("value")).over(w))
        .withColumn("pmax", max(col("value")).over(w))
        .select(col("metric"), col("time"), col("value"),
          (col("smoothed") >= col("pmin") - lit(1e-6) &&
            col("smoothed") <= col("pmax") + lit(1e-6)).as("env_ok"))
    },
      Some(s"""WITH $BaseCte
              |SELECT metric, t AS time, value, TRUE AS env_ok
              |FROM base WHERE metric = 'click/42' AND t >= $S AND t < $E""".stripMargin)),

    // ---- cross-series binary op: ratio of two metrics' aligned bucket
    // averages (inner-join semantics — absent buckets drop) --------------
    ("series_ratio", (s: SparkSession, d: String) =>
      MetricsOps.seriesBinaryOp(gauge(s, d), "click/1", "click/2",
        Buckets.fromStep(S, E, 43200000L), _ / _)
        .select(col("bucket"), round(col("avg_a"), 6).as("avg_a"),
          round(col("avg_b"), 6).as("avg_b"), round(col("result"), 6).as("result")),
      Some(s"""WITH $BaseCte,
              |sa AS (SELECT (t - $S) // 43200000 AS bucket, ${dsum("value")} / count(*) AS avg_a
              |       FROM base WHERE metric = 'click/1' AND t >= $S AND t < $E GROUP BY 1),
              |sb AS (SELECT (t - $S) // 43200000 AS bucket, ${dsum("value")} / count(*) AS avg_b
              |       FROM base WHERE metric = 'click/2' AND t >= $S AND t < $E GROUP BY 1)
              |SELECT sa.bucket, round(avg_a, 6) AS avg_a, round(avg_b, 6) AS avg_b,
              |       round(avg_a / avg_b, 6) AS result
              |FROM sa JOIN sb USING (bucket)""".stripMargin)),

    // ---- z-score anomaly flags: |v − mean| > 3σ against decimal-exact
    // per-metric whole-range moments -------------------------------------
    ("anomaly_zscore", (s: SparkSession, d: String) =>
      MetricsOps.anomalies(gauge(s, d), TimeRange(S, E), threshold = 3.0),
      Some(s"""WITH $BaseCte,
              |m AS (SELECT metric, ${dsum("value")} / count(*) AS mean,
              |        ${dsum("value * value")} / count(*) AS m2
              |      FROM base WHERE t >= $S AND t < $E GROUP BY 1),
              |sd AS (SELECT metric, mean, sqrt(greatest(m2 - mean * mean, 0)) AS std FROM m)
              |SELECT b.metric, b.t AS "time", b.value AS value,
              |       round((b.value - sd.mean) / sd.std, 6) AS zscore
              |FROM base b JOIN sd USING (metric)
              |WHERE b.t >= $S AND b.t < $E AND sd.std > 0
              |  AND abs(b.value - sd.mean) > 3 * sd.std""".stripMargin)),

    // ---- dashboard top-k series by range aggregate (per-partition
    // heaps, no global sort of the metric list) --------------------------
    ("top_series", (s: SparkSession, d: String) =>
      MetricsOps.topSeries(gauge(s, d), TimeRange(S, E), k = 10, orderBy = "avg"),
      Some(s"""WITH $BaseCte,
              |a AS (SELECT metric, min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |        max(value) AS "max", ${dsum("value")} AS sum,
              |        CAST(count(*) AS BIGINT) AS samples
              |      FROM base WHERE t >= $S AND t < $E GROUP BY 1)
              |SELECT * FROM a ORDER BY avg DESC, metric ASC LIMIT 10""".stripMargin)),

    // ---- counter increase (Prometheus increase()): sum of positive
    // deltas + reset count, exact longs ----------------------------------
    ("counter_increase", (s: SparkSession, d: String) =>
      MetricsOps.counterIncrease(ctr(s, d), TimeRange(S, E))
        .select(col("metric"), col("increase"), col("n_resets"), col("n_deltas")),
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, l_value - lag(l_value) OVER w AS delta
              |      FROM ctr WHERE t >= $S AND t < $E
              |      WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric,
              |       CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS increase,
              |       CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
              |       CAST(count(delta) AS BIGINT) AS n_deltas
              |FROM r WHERE delta IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- display downsampling: per-bucket min/max envelope points with
    // true timestamps (deterministic tie policy) -------------------------
    ("fetch_downsampled", (s: SparkSession, d: String) =>
      MetricsOps.downsampleMinMax(gauge(s, d), Buckets.fromStep(S, E, 21600000L)),
      Some(s"""WITH $BaseCte,
              |a AS (SELECT metric, (t - $S) // 21600000 AS bucket, t, value
              |      FROM base WHERE t >= $S AND t < $E),
              |mn AS (SELECT metric, bucket, min(value) AS vmin, max(value) AS vmax,
              |         CAST(count(*) AS BIGINT) AS samples
              |       FROM a GROUP BY 1, 2),
              |tm AS (SELECT a.metric, a.bucket,
              |         min(CASE WHEN a.value = mn.vmin THEN a.t END) AS min_time,
              |         max(CASE WHEN a.value = mn.vmax THEN a.t END) AS max_time
              |       FROM a JOIN mn USING (metric, bucket) GROUP BY 1, 2)
              |SELECT mn.metric, mn.bucket, tm.min_time, mn.vmin AS min_value,
              |       tm.max_time, mn.vmax AS max_value, mn.samples
              |FROM mn JOIN tm USING (metric, bucket)""".stripMargin)),

    // ---- rollup tier: hourly pre-aggregates served as 2h buckets —
    // the EXACTNESS contract: rollup-served stats hash-match the raw
    // on-read aggregate (stored decimal sums re-aggregate associatively) -
    ("rollup_stats", (s: SparkSession, d: String) => {
      val path = "target/tmp/rollup_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.write(gauge(s, d), s"$path/raw", SaveMode.Overwrite)
      GraftStorage.writeRollup(s, s"$path/raw", s"$path/roll")
      GraftStorage.rollupStats(s, s"$path/roll",
        Buckets.fromStep(S, S + 4 * Day, 7200000L))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t >= $S AND t < ${S + 4 * Day})
              |SELECT metric, (t - $S) // 7200000 AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- multi-tenant tier, tenant-SCOPED serve: a second tenant's
    // same-named metrics share the store (values offset so any mixing
    // would corrupt every aggregate); the scoped serve answers the
    // fixture tenant alone via a PARTITION filter (tenant_id leads the
    // tier layout — the other tenant's directories are never read), and
    // an unscoped merge REFUSES loudly instead of mixing tenants -------
    ("rollup_stats_tenant", (s: SparkSession, d: String) => {
      val path = "target/tmp/rolltenant_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, path) {
        GraftStorage.write(gauge(s, d), s"$path/raw", SaveMode.Overwrite)
        GraftStorage.write(gauge(s, d)
          .withColumn("tenant_id", lit("intruder"))
          .withColumn("n_value", col("n_value") * 1000 + 7), s"$path/raw")
        GraftStorage.writeRollup(s, s"$path/raw", s"$path/roll")
      }
      val b = Buckets.fromStep(S, S + 4 * Day, 7200000L)
      require(scala.util.Try(GraftStorage.rollupStats(s, s"$path/roll", b)).isFailure,
        "unscoped merge over a two-tenant tier must refuse")
      GraftStorage.rollupStats(s, s"$path/roll", b,
        tenant = Some(ea.Tenant),
        mtypeCode = Some(graft.model.MetricType.Gauge.code.toInt))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t >= $S AND t < ${S + 4 * Day})
              |SELECT metric, (t - $S) // 7200000 AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- serving-tier dispatch: aligned requests answer from the rollup,
    // misaligned from raw — SAME rows either way (the exactness
    // contract); this request is hour-aligned → the cheap branch --------
    ("rollup_adaptive", (s: SparkSession, d: String) => {
      val path = "target/tmp/rolladapt_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.write(gauge(s, d), s"$path/raw", SaveMode.Overwrite)
      GraftStorage.writeRollup(s, s"$path/raw", s"$path/roll")
      GraftStorage.servedStats(s, s"$path/raw", s"$path/roll",
        Buckets.fromStep(S, S + 28 * Day, Day))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t >= $S AND t < ${S + 28 * Day})
              |SELECT metric, (t - $S) // ${Day} AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- tier serving over the PUBLIC API, end-to-end through live
    // HTTP: a transport started with tierServing answers this aligned,
    // percentile-free GET /gauges/stats (pooled multi-metric dashboard
    // request, Hawkular-Tenant header -> tenant-scoped partition-pruned
    // tier read) from the store's gauge_sums rollup — raw never read
    // (plan spec-pinned in MetricsServiceSpec); the response parses back
    // bit-equal to the raw-path stats the oracle computes ---------------
    ("rest_served_stats", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/rest_served_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/store/data", SaveMode.Overwrite)
        new graft.api.MetricsService(s, s"$base/store",
          Some(graft.api.MetricsService.defaultTiers(s"$base/store"))).refreshTiers()
      }
      val metrics = gauge(s, d).select("metric").distinct()
        .orderBy("metric").limit(5).as[String].collect()
      val t = new graft.api.HttpTransport(s, s"$base/store",
        tierServing = true).start()
      val body = try {
        val q = java.net.URLEncoder.encode(metrics.mkString(","), "UTF-8")
        val url = s"http://127.0.0.1:${t.boundPort}/gauges/stats" +
          s"?metrics=$q&start=$S&end=$E&buckets=30"
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestProperty("Hawkular-Tenant", "acme")
        require(conn.getResponseCode == 200, s"GET $url -> ${conn.getResponseCode}")
        val text = new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        // the tier signature: served points omit `median` — a silent
        // regression to the raw path (stale watermark, misrouted
        // dispatch) must FAIL this row, not pass through raw equality
        require(!text.contains("\"median\""),
          "expected tier-served (median-free) stats; got the raw path")
        text
      } finally t.stop()
      s.read.json(Seq(body).toDS)
        .select(((col("start") - S) / Day).cast("long").as("bucket"),
          col("empty"),
          round(col("min"), 6).as("min"), round(col("avg"), 6).as("avg"),
          round(col("max"), 6).as("max"), round(col("sum"), 6).as("sum"),
          col("samples").cast("long").as("samples"))
    },
      Some(s"""WITH $BaseCte,
              |sel AS (SELECT DISTINCT metric FROM base ORDER BY metric LIMIT 5),
              |a AS (SELECT (t - $S) // $Day AS bucket, value FROM base
              |      WHERE metric IN (SELECT metric FROM sel) AND t >= $S AND t < $E),
              |st AS (SELECT bucket, min(value) AS mn, ${dsum("value")} / count(*) AS av,
              |         max(value) AS mx, ${dsum("value")} AS sm,
              |         CAST(count(*) AS BIGINT) AS n
              |       FROM a GROUP BY 1),
              |sp AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 30))
              |SELECT sp.bucket, st.bucket IS NULL AS empty,
              |       round(st.mn, 6) AS "min", round(st.av, 6) AS avg,
              |       round(st.mx, 6) AS "max", round(st.sm, 6) AS sum, st.n AS samples
              |FROM sp LEFT JOIN st ON sp.bucket = st.bucket""".stripMargin)),

    // ---- percentile tier serving over the PUBLIC API, end-to-end
    // through live HTTP: percentileMode=tier routes this aligned p90
    // request through gauge_sums + gauge_hist (raw never read — the
    // dispatch is plan-pinned in MetricsServiceSpec); the five stats
    // come back EXACT, the p90 is the deterministic histogram walk
    // (hash-compared against the same walk in SQL), and the median-free
    // signature fails the row on any silent raw fallback --------------
    ("rest_served_quantile", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/rest_served_q_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        // ONE metric, renamed URL-safe (fixture names carry '/', which a
        // per-id path route cannot take)
        val m0 = gauge(s, d).select(min(col("metric"))).as[String].first()
        GraftStorage.write(gauge(s, d).filter(col("metric") === m0)
          .withColumn("metric", lit("g0")), s"$base/store/data",
          SaveMode.Overwrite)
        new graft.api.MetricsService(s, s"$base/store",
          Some(graft.api.MetricsService.TierLayout(s"$base/store/tiers",
            histEdges = Some((0.0, 500.0, 20))))).refreshTiers()
      }
      val t = new graft.api.HttpTransport(s, s"$base/store",
        tierServing = true).start()
      val body = try {
        val url = s"http://127.0.0.1:${t.boundPort}/gauges/g0/stats" +
          s"?start=$S&end=$E&buckets=30&percentiles=90&percentileMode=tier"
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestProperty("Hawkular-Tenant", "acme")
        require(conn.getResponseCode == 200, s"GET $url -> ${conn.getResponseCode}")
        val text = new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        // the tier signature (rest_served_stats' posture): a silent
        // regression to the raw path must FAIL this row
        require(!text.contains("\"median\""),
          "expected tier-served (median-free) stats; got the raw path")
        text
      } finally t.stop()
      s.read.json(Seq(body).toDS)
        .select(((col("start") - S) / Day).cast("long").as("bucket"),
          col("empty"),
          round(col("min"), 6).as("min"), round(col("avg"), 6).as("avg"),
          round(col("max"), 6).as("max"), round(col("sum"), 6).as("sum"),
          col("samples").cast("long").as("samples"),
          element_at(col("percentiles"), 1).getField("value").as("q_est"))
    },
      Some(s"""WITH $BaseCte,
              |sel AS (SELECT min(metric) AS m FROM base),
              |a AS (SELECT (t - $S) // $Day AS bucket, value FROM base
              |      WHERE metric = (SELECT m FROM sel) AND t >= $S AND t < $E),
              |st AS (SELECT bucket, min(value) AS mn, ${dsum("value")} / count(*) AS av,
              |         max(value) AS mx, ${dsum("value")} AS sm,
              |         CAST(count(*) AS BIGINT) AS n
              |       FROM a GROUP BY 1),
              |hb AS (SELECT bucket,
              |         CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |       FROM a),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |      FROM hb GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.90 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target),
              |est AS (SELECT bucket,
              |          round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |        FROM p WHERE rn = 1),
              |sp AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 30))
              |SELECT sp.bucket, st.bucket IS NULL AS empty,
              |       round(st.mn, 6) AS "min", round(st.av, 6) AS avg,
              |       round(st.mx, 6) AS "max", round(st.sm, 6) AS sum, st.n AS samples,
              |       est.q_est
              |FROM sp LEFT JOIN st ON sp.bucket = st.bucket
              |LEFT JOIN est ON sp.bucket = est.bucket""".stripMargin)),

    // ---- p95-OF-RATES off the RATE tier pair, end-to-end through live
    // HTTP: percentileMode=tier on GET /counters/{id}/rate/stats serves
    // the five rate stats from the rate tier (within-hour partials +
    // boundary facts) and the p90 from the rate-distribution tier's
    // quantile walk (boundary pairs reconstructed from the rate tier) —
    // raw never read; the median-free signature fails on fallback -------
    ("rest_served_rate_quantile", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/rest_served_rq_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        // ONE counter metric, renamed URL-safe for the per-id route
        val m0 = ctr(s, d).select(min(col("metric"))).as[String].first()
        GraftStorage.write(ctr(s, d).filter(col("metric") === m0)
          .withColumn("metric", lit("c0")), s"$base/store/data",
          SaveMode.Overwrite)
        new graft.api.MetricsService(s, s"$base/store",
          Some(graft.api.MetricsService.TierLayout(s"$base/store/tiers",
            rateHistEdges = Some((0.0, 2000.0, 20))))).refreshTiers()
      }
      val t = new graft.api.HttpTransport(s, s"$base/store",
        tierServing = true).start()
      val body = try {
        val url = s"http://127.0.0.1:${t.boundPort}/counters/c0/rate/stats" +
          s"?start=$S&end=$E&buckets=30&percentiles=90&percentileMode=tier"
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestProperty("Hawkular-Tenant", "acme")
        require(conn.getResponseCode == 200, s"GET $url -> ${conn.getResponseCode}")
        val text = new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        require(!text.contains("\"median\""),
          "expected tier-served (median-free) rate stats; got the raw path")
        require(text.contains("\"percentiles\""),
          "expected the p90-of-rates estimate attached to served buckets")
        text
      } finally t.stop()
      s.read.json(Seq(body).toDS)
        .select(((col("start") - S) / Day).cast("long").as("bucket"),
          col("empty"),
          round(col("min"), 6).as("min"), round(col("avg"), 6).as("avg"),
          round(col("max"), 6).as("max"), round(col("sum"), 6).as("sum"),
          col("samples").cast("long").as("samples"),
          element_at(col("percentiles"), 1).getField("value").as("q_est"))
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |sel AS (SELECT min(metric) AS m FROM ctr),
              |cr AS (SELECT t, l_value FROM ctr WHERE metric = (SELECT m FROM sel)),
              |r AS (SELECT t, l_value, lag(l_value) OVER (ORDER BY t) AS prev_v,
              |        lag(t) OVER (ORDER BY t) AS prev_t FROM cr),
              |rt AS (SELECT t, 60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE))
              |              / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v),
              |a AS (SELECT (t - $S) // $Day AS bucket, rate FROM rt
              |      WHERE t >= $S AND t < $E),
              |st AS (SELECT bucket, min(rate) AS mn, ${dsum("rate")} / count(*) AS av,
              |         max(rate) AS mx, ${dsum("rate")} AS sm,
              |         CAST(count(*) AS BIGINT) AS n
              |       FROM a GROUP BY 1),
              |hb AS (SELECT bucket,
              |         CAST(least(greatest(floor(rate / 100.0), 0), 19) AS BIGINT) AS bin
              |       FROM a),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 100.0 AS bin_lo, (bin + 1) * 100.0 AS bin_hi
              |      FROM hb GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.90 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target),
              |est AS (SELECT bucket,
              |          round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |        FROM p WHERE rn = 1),
              |sp AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 30))
              |SELECT sp.bucket, st.bucket IS NULL AS empty,
              |       round(st.mn, 6) AS "min", round(st.av, 6) AS avg,
              |       round(st.mx, 6) AS "max", round(st.sm, 6) AS sum, st.n AS samples,
              |       est.q_est
              |FROM sp LEFT JOIN st ON sp.bucket = st.bucket
              |LEFT JOIN est ON sp.bucket = est.bucket""".stripMargin)),

    // ---- POOLED percentile dashboards off the tier pair, end-to-end
    // through live HTTP: percentileMode=tier on the aggregated-stats
    // route (GET /gauges/stats?metrics=...) serves the five pooled stats
    // from gauge_sums and the p90 from the pooled histogram-tier walk,
    // BOTH pruned to the request's ids by the broadcast semi-join — the
    // tag-resolved p95 dashboard reads hours × selected metrics × bins
    // rows; the median-free signature fails the row on raw fallback ----
    ("rest_served_quantile_pooled", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/rest_served_pq_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/store/data", SaveMode.Overwrite)
        new graft.api.MetricsService(s, s"$base/store",
          Some(graft.api.MetricsService.TierLayout(s"$base/store/tiers",
            histEdges = Some((0.0, 500.0, 20))))).refreshTiers()
      }
      val metrics = gauge(s, d).select("metric").distinct()
        .orderBy("metric").limit(5).as[String].collect()
      val t = new graft.api.HttpTransport(s, s"$base/store",
        tierServing = true).start()
      val body = try {
        val q = java.net.URLEncoder.encode(metrics.mkString(","), "UTF-8")
        val url = s"http://127.0.0.1:${t.boundPort}/gauges/stats" +
          s"?metrics=$q&start=$S&end=$E&buckets=30&percentiles=90&percentileMode=tier"
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestProperty("Hawkular-Tenant", "acme")
        require(conn.getResponseCode == 200, s"GET $url -> ${conn.getResponseCode}")
        val text = new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        require(!text.contains("\"median\""),
          "expected tier-served (median-free) stats; got the raw path")
        require(text.contains("\"percentiles\""),
          "expected the p90 estimate attached to served buckets")
        text
      } finally t.stop()
      s.read.json(Seq(body).toDS)
        .select(((col("start") - S) / Day).cast("long").as("bucket"),
          col("empty"),
          round(col("min"), 6).as("min"), round(col("avg"), 6).as("avg"),
          round(col("max"), 6).as("max"), round(col("sum"), 6).as("sum"),
          col("samples").cast("long").as("samples"),
          element_at(col("percentiles"), 1).getField("value").as("q_est"))
    },
      Some(s"""WITH $BaseCte,
              |sel AS (SELECT DISTINCT metric FROM base ORDER BY metric LIMIT 5),
              |a AS (SELECT (t - $S) // $Day AS bucket, value FROM base
              |      WHERE metric IN (SELECT metric FROM sel) AND t >= $S AND t < $E),
              |st AS (SELECT bucket, min(value) AS mn, ${dsum("value")} / count(*) AS av,
              |         max(value) AS mx, ${dsum("value")} AS sm,
              |         CAST(count(*) AS BIGINT) AS n
              |       FROM a GROUP BY 1),
              |hb AS (SELECT bucket,
              |         CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |       FROM a),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |      FROM hb GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.90 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target),
              |est AS (SELECT bucket,
              |          round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |        FROM p WHERE rn = 1),
              |sp AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 30))
              |SELECT sp.bucket, st.bucket IS NULL AS empty,
              |       round(st.mn, 6) AS "min", round(st.av, 6) AS avg,
              |       round(st.mx, 6) AS "max", round(st.sm, 6) AS sum, st.n AS samples,
              |       est.q_est
              |FROM sp LEFT JOIN st ON sp.bucket = st.bucket
              |LEFT JOIN est ON sp.bucket = est.bucket""".stripMargin)),

    // ---- stats-by-tags with a METRIC-level (catalog) filter served from
    // the sums tier: tagSource=metric classifies the filter against the
    // metric's catalog definition (same F2 pattern column), so the
    // aligned whole-range request reads hours × 1 metric via the ids
    // semi-join — raw never read (require-pinned); per-POINT tag filters
    // keep the raw route untouched -------------------------------------
    ("tagged_stats_metric", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/tagmetric_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/data", SaveMode.Overwrite)
        ea.catalog(s, d)
          .withColumn("data_retention", lit(null).cast("int"))
          .withColumn("ingest_seq", lit(GraftStorage.nextIngestSeq()))
          .write.mode(SaveMode.Overwrite).parquet(s"$base/metrics")
        new graft.api.MetricsService(s, base,
          Some(graft.api.MetricsService.defaultTiers(base))).refreshTiers()
      }
      val svc = new graft.api.MetricsService(s, base,
        Some(graft.api.MetricsService.defaultTiers(base)))
      val m0 = ea.catalog(s, d)
        .filter(element_at(col("tags"), "type") === "purchase")
        .agg(min(col("metric"))).as[String].first()
      val served = svc.findStatsMetricTags(
        graft.model.MetricId(ea.Tenant, graft.model.MetricType.Gauge.code, m0),
        Map("type" -> "purchase", "seg" -> "*"), Seq.empty, S, E)
      val plan = served.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      require(plan.contains("gauge_sums") && !plan.contains("/data"),
        s"metric-level tagged stats must serve from the sums tier:\n$plan")
      served.select(col("tag_type"), col("tag_seg"),
        round(col("min"), 6).as("min"), round(col("avg"), 6).as("avg"),
        round(col("max"), 6).as("max"), round(col("sum"), 6).as("sum"),
        col("samples"))
    },
      Some(s"""WITH $BaseCte, $CatCte,
              |sel AS (SELECT min(metric) AS m FROM cat WHERE event_type = 'purchase'),
              |a AS (SELECT value FROM base
              |      WHERE metric = (SELECT m FROM sel) AND t >= $S AND t < $E)
              |SELECT 'purchase' AS tag_type,
              |       (SELECT seg FROM cat WHERE metric = (SELECT m FROM sel)) AS tag_seg,
              |       round(min(value), 6) AS "min",
              |       round(${dsum("value")} / count(*), 6) AS avg,
              |       round(max(value), 6) AS "max", round(${dsum("value")}, 6) AS sum,
              |       CAST(count(*) AS BIGINT) AS samples
              |FROM a""".stripMargin)),

    // ---- late-backfill lifecycle: points ingested BELOW the freshness
    // watermark mark their slices in the dirty log; the next refresh —
    // whose own window covers NOTHING — sweeps them into the tiers, so
    // tier serving stays correct without an operator knowing which
    // slices to re-refresh. The requires make silent regressions (no
    // marking, no sweep) fail the row; the hash pins the swept tier
    // against full stats over ALL points ------------------------------
    ("tier_backfill_sweep", (s: SparkSession, d: String) => {
      val base = "target/tmp/backfill_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val svc = new graft.api.MetricsService(s, base,
        Some(graft.api.MetricsService.defaultTiers(base)))
      val g = gauge(s, d)
      svc.addDataPoints(g.filter(col("time") < Week))
      svc.refreshTiers() // watermark = wall clock, far past the fixture
      svc.addDataPoints(g.filter(col("time") >= Week)) // ALL below watermark
      val troot = graft.api.MetricsService.defaultTiers(base).root
      require(GraftStorage.dirtySliceLog(s, troot).flatMap(_._2).nonEmpty,
        "backfill below the watermark must mark its slices dirty")
      // bounded refresh past the fixture: only the dirty sweep can fold
      // the second wave into the tiers
      svc.refreshTiers(fromSlice = (E - 1) / GraftStorage.SliceMs + 1)
      require(GraftStorage.dirtySliceLog(s, troot).isEmpty,
        "the sweep must clear the dirty log")
      GraftStorage.rollupStats(s, s"$troot/gauge_sums",
        Buckets.fromStep(S, S + 28 * Day, Day),
        tenant = Some(ea.Tenant),
        mtypeCode = Some(graft.model.MetricType.Gauge.code.toInt))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t >= $S AND t < ${S + 28 * Day})
              |SELECT metric, (t - $S) // ${Day} AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- availability rollup tier: A3 hour summaries merged EXACTLY
    // into daily buckets — leading segments reattribute to the previous
    // hour's last state, last segments extend across empty hours, cross-
    // hour not-up runs collapse to one start; the SLO dashboard's tier
    // (uptime panels read hours×metrics summaries, never raw points) ----
    ("rollup_avail_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/avroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(avail(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupAvail(s, s"$base/raw", s"$base/avroll")
      }
      GraftStorage.rollupAvailStats(s, s"$base/avroll", Buckets.fromStep(S, E, Day))
        .select("metric", "bucket", "up_ms", "down_ms", "unknown_ms", "admin_ms",
          "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte,
              |b AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |      FROM av WHERE t >= $S AND t < $E),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t))
              |SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |FROM seg GROUP BY metric, bucket""".stripMargin)),

    // ---- serving-tier dispatch for A3 (servedStats' posture): this
    // request is hour-aligned (2-day buckets) → the tier branch answers
    // from hour summaries; misaligned requests fall back to the raw
    // state machine — identical rows either way (spec-pinned) ------------
    ("rollup_avail_adaptive", (s: SparkSession, d: String) => {
      val base = "target/tmp/avroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(avail(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupAvail(s, s"$base/raw", s"$base/avroll")
      }
      GraftStorage.servedAvailStats(s, s"$base/raw", s"$base/avroll",
        Buckets.fromStep(S, E, 2 * Day))
        .select("metric", "bucket", "up_ms", "down_ms", "unknown_ms", "admin_ms",
          "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte,
              |b AS (SELECT metric, t, avail, (t - $S) // ${2 * Day} AS bucket
              |      FROM av WHERE t >= $S AND t < $E),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * ${2 * Day} ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * ${2 * Day}) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t))
              |SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${(2 * Day).toDouble} AS uptime_ratio
              |FROM seg GROUP BY metric, bucket""".stripMargin)),

    // ---- A3 + A2 from the tier: the dense REST wire shape (gap-filled
    // per queried metric) composed over the tier-served state machine —
    // the same gapFill spine rule, raw never read ------------------------
    ("rollup_avail_filled", (s: SparkSession, d: String) => {
      val base = "target/tmp/avroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(avail(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupAvail(s, s"$base/raw", s"$base/avroll")
      }
      val b = Buckets.fromStep(S, Week, Day)
      MetricsOps.gapFill(
        GraftStorage.rollupAvailStats(s, s"$base/avroll", b)
          .select("metric", "bucket", "up_ms", "down_ms", "unknown_ms",
            "admin_ms", "last_not_uptime", "not_up_count", "samples",
            "uptime_ratio"),
        b, Seq("metric"), Some(ea.catalog(s, d).select("metric")))
        .select("metric", "bucket", "bucket_start", "bucket_end", "up_ms",
          "down_ms", "unknown_ms", "admin_ms", "last_not_uptime",
          "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte, $CatCte,
              |b AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |      FROM av WHERE t >= $S AND t < $Week),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |ag AS (SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |  FROM seg GROUP BY metric, bucket)
              |SELECT sp.metric, sp.bucket, $S + sp.bucket * $Day AS bucket_start,
              |       $S + (sp.bucket + 1) * $Day AS bucket_end,
              |       ag.up_ms, ag.down_ms, ag.unknown_ms, ag.admin_ms, ag.last_not_uptime,
              |       ag.not_up_count, ag.samples, ag.uptime_ratio
              |FROM (SELECT cat.metric, g.bucket FROM cat CROSS JOIN range(7) g(bucket)) sp
              |LEFT JOIN ag ON ag.metric = sp.metric AND ag.bucket = sp.bucket""".stripMargin)),

    // ---- SLO burn rate served ENTIRELY from the availability tier:
    // both the fast (daily) and slow (weekly) windows come from
    // rollupAvailStats — hours×metrics summaries, raw never read; the
    // burn math composes unchanged because the tier's output is exactly
    // the A3 state machine's (same oracle as slo_burn) -------------------
    ("rollup_slo_burn", (s: SparkSession, d: String) => {
      val base = "target/tmp/avroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(avail(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupAvail(s, s"$base/raw", s"$base/avroll")
      }
      // tenant_id/mtype ride the tier-served burn rows (sloBurnFrom's
      // tenant-safe join); the single-tenant fixture drops them here to
      // keep the oracle's column surface
      MetricsOps.sloBurnFrom(GraftStorage.rollupAvailStats(s, s"$base/avroll", _),
        Buckets.fromStep(S, S + 28L * Day, Day), slowStepMs = 7L * Day,
        objective = 0.95)
        .select("metric", "bucket", "slow_bucket", "uptime_fast",
          "uptime_slow", "burn_fast", "burn_slow", "alert")
    },
      Some(s"""WITH $BaseCte, $AvailCte,
              |bf AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |       FROM av WHERE t >= $S AND t < ${S + 28L * Day}),
              |segf AS (SELECT metric, bucket, avail,
              |           CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |           coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end
              |         FROM bf WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |uf AS (SELECT metric, bucket,
              |         CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE)
              |           / 86400000.0 AS uptime_fast
              |       FROM segf GROUP BY 1, 2),
              |bs AS (SELECT metric, t, avail, (t - $S) // ${7L * Day} AS bucket
              |       FROM av WHERE t >= $S AND t < ${S + 28L * Day}),
              |segs AS (SELECT metric, bucket, avail,
              |           CASE WHEN row_number() OVER w = 1 THEN $S + bucket * ${7L * Day} ELSE t END AS seg_start,
              |           coalesce(lead(t) OVER w, $S + (bucket + 1) * ${7L * Day}) AS seg_end
              |         FROM bs WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |us AS (SELECT metric, bucket AS slow_bucket,
              |         CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE)
              |           / 604800000.0 AS uptime_slow
              |       FROM segs GROUP BY 1, 2),
              |j AS (SELECT f.metric, f.bucket, f.bucket // 7 AS slow_bucket,
              |        uptime_fast, uptime_slow
              |      FROM uf f JOIN us s ON s.metric = f.metric AND s.slow_bucket = f.bucket // 7)
              |SELECT metric, bucket, slow_bucket,
              |  round(uptime_fast, 6) AS uptime_fast, round(uptime_slow, 6) AS uptime_slow,
              |  round((1.0 - uptime_fast) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)), 6) AS burn_fast,
              |  round((1.0 - uptime_slow) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)), 6) AS burn_slow,
              |  ((1.0 - uptime_fast) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)) >= 1.0 AND
              |   (1.0 - uptime_slow) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)) >= 1.0) AS alert
              |FROM j""".stripMargin)),

    // ---- retention on the rollup tier: the TTL sweep is layout-generic
    // (slice-partitioned dirs), so the SAME metadata-only drop that ages
    // raw out ages the tier's matching slices — a full-span dashboard
    // request afterwards answers exactly the retained days -------------
    ("rollup_retention", (s: SparkSession, d: String) => {
      val base = "target/tmp/rollret_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollup(s, s"$base/raw", s"$base/roll")
      }
      // idempotent: on a prebuilt store the expired set is already empty
      GraftStorage.dropExpiredSlices(s, s"$base/raw", retentionDays = 10, now = E)
      GraftStorage.dropExpiredSlices(s, s"$base/roll", retentionDays = 10, now = E)
      GraftStorage.rollupStats(s, s"$base/roll", Buckets.fromStep(S, E, Day))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base
              |      WHERE t >= ${E - 10 * Day} AND t < $E)
              |SELECT metric, (t - $S) // $Day AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- counter rollup tier: within-hour increases + boundary values
    // merged into the whole-range reset-aware accounting — one boundary
    // delta per consecutive non-empty hour pair; the "requests this
    // month" panel off hours×metrics summaries, raw never read ----------
    ("rollup_counter_increase", (s: SparkSession, d: String) => {
      val base = "target/tmp/ctrroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupCounter(s, s"$base/raw", s"$base/ctrroll")
      }
      GraftStorage.rollupCounterIncrease(s, s"$base/ctrroll", TimeRange(S, E))
        .select(col("metric"), col("increase"), col("n_resets"), col("n_deltas"))
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, l_value - lag(l_value) OVER w AS delta
              |      FROM ctr WHERE t >= $S AND t < $E
              |      WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric,
              |       CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS increase,
              |       CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
              |       CAST(count(delta) AS BIGINT) AS n_deltas
              |FROM r WHERE delta IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- serving-tier dispatch for counter increase: this range is NOT
    // hour-aligned (half-hour start) → the raw branch answers; aligned
    // ranges read the counter tier — identical rows (spec-pinned) --------
    ("rollup_counter_adaptive", (s: SparkSession, d: String) => {
      val base = "target/tmp/ctrroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupCounter(s, s"$base/raw", s"$base/ctrroll")
      }
      GraftStorage.servedCounterIncrease(s, s"$base/raw", s"$base/ctrroll",
        TimeRange(S + 1800000L, E))
        .select(col("metric"), col("increase"), col("n_resets"), col("n_deltas"))
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, l_value - lag(l_value) OVER w AS delta
              |      FROM ctr WHERE t >= ${S + 1800000L} AND t < $E
              |      WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric,
              |       CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS increase,
              |       CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
              |       CAST(count(delta) AS BIGINT) AS n_deltas
              |FROM r WHERE delta IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- tag-query → rollup serving: the dashboard path end-to-end —
    // the persisted tag index resolves the expression to a request-sized
    // id set, which broadcasts into a semi-join pruning the ROLLUP tier
    // scan before the bucket aggregate; raw is never read ----------------
    ("tagquery_rollup_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollup(s, s"$base/raw", s"$base/roll")
        graft.storage.TagIndex.write(ea.catalog(s, d), s"$base/tags")
      }
      val ids = graft.storage.TagIndex.lookup(s, s"$base/tags",
        "type = purchase OR seg = s3").select("metric")
      GraftStorage.rollupStats(s, s"$base/roll",
        Buckets.fromStep(S, S + 4 * Day, 7200000L), byMetric = true,
        ids = Some(ids))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte, $CatCte,
              |sel AS (SELECT metric FROM cat
              |        WHERE event_type = 'purchase' OR regexp_full_match(seg, 's3')),
              |b AS (SELECT metric, t, value FROM base
              |      WHERE t >= $S AND t < ${S + 4 * Day}
              |        AND metric IN (SELECT metric FROM sel))
              |SELECT metric, (t - $S) // 7200000 AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- histogram rollup tier: hour-binned value distributions, served
    // as daily heatmap buckets — integer bin counts merge associatively,
    // so the served histogram is EXACTLY valueHistogram over raw (same
    // clamped-bin function, GraftFunctions.valueBin). The tier prebuilds
    // once (serve-twin discipline): bench times the SERVE re-aggregate,
    // hours×metrics×bins-sized, raw untouched ---------------------------
    ("rollup_hist_serve", (s: SparkSession, d: String) => {
      val base = "target/tmp/rollhist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupHist(s, s"$base/raw", s"$base/hist",
          vMin = 0.0, vMax = 500.0, bins = 20)
      }
      GraftStorage.rollupHistogram(s, s"$base/hist", Buckets.fromStep(S, E, Day))
    },
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - $S) // ${Day} AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= $S AND t < $E)
              |SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |       bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |FROM a GROUP BY 1, 2""".stripMargin)),

    // ---- percentile dashboards off the tier: the Prometheus quantile
    // walk over the SERVED histogram — order statistics without a raw
    // scan, the reason the distribution tier exists ----------------------
    ("rollup_hist_quantile", (s: SparkSession, d: String) => {
      val base = "target/tmp/rollhist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupHist(s, s"$base/raw", s"$base/hist",
          vMin = 0.0, vMax = 500.0, bins = 20)
      }
      MetricsOps.histogramQuantile(
        GraftStorage.rollupHistogram(s, s"$base/hist", Buckets.fromStep(S, E, Day)),
        q = 0.95)
    },
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - $S) // ${Day} AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= $S AND t < $E),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |      FROM a GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.95 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target)
              |SELECT bucket, total,
              |       round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |FROM p WHERE rn = 1""".stripMargin)),

    // ---- serving-tier dispatch for histograms (completes the matrix:
    // sums/rates/avail/counters/distributions): this request starts off
    // the hour grid → the raw branch answers with the TIER's declared
    // bin edges (edges are a property of the store's _histmeta, not the
    // request — the dispatch cannot mix bin widths); aligned requests
    // read the tier — identical rows (spec-pinned) -----------------------
    ("rollup_hist_adaptive", (s: SparkSession, d: String) => {
      val base = "target/tmp/rollhist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupHist(s, s"$base/raw", s"$base/hist",
          vMin = 0.0, vMax = 500.0, bins = 20)
      }
      GraftStorage.servedHistogram(s, s"$base/raw", s"$base/hist",
        Buckets.fromStep(S + 1800000L, S + 1800000L + 28 * Day, Day))
    },
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - ${S + 1800000L}) // ${Day} AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= ${S + 1800000L} AND t < ${S + 1800000L + 28 * Day})
              |SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |       bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |FROM a GROUP BY 1, 2""".stripMargin)),

    // ---- tag-query → p95 from the distribution tier: the tag index
    // resolves the id set, which prunes the HISTOGRAM tier scan before
    // the (bucket, bin) merge; the quantile walk runs over the filtered
    // counts — a tag-scoped percentile dashboard with raw never read ----
    ("tagquery_rollup_quantile", (s: SparkSession, d: String) => {
      val base = "target/tmp/taghist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupHist(s, s"$base/raw", s"$base/hist",
          vMin = 0.0, vMax = 500.0, bins = 20)
        graft.storage.TagIndex.write(ea.catalog(s, d), s"$base/tags")
      }
      val ids = graft.storage.TagIndex.lookup(s, s"$base/tags",
        "type = purchase OR seg = s3").select("metric")
      MetricsOps.histogramQuantile(
        GraftStorage.rollupHistogram(s, s"$base/hist",
          Buckets.fromStep(S, E, Day), ids = Some(ids)),
        q = 0.95)
    },
      Some(s"""WITH $BaseCte, $CatCte,
              |sel AS (SELECT metric FROM cat
              |        WHERE event_type = 'purchase' OR regexp_full_match(seg, 's3')),
              |a AS (SELECT (t - $S) // ${Day} AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= $S AND t < $E
              |        AND metric IN (SELECT metric FROM sel)),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |      FROM a GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.95 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target)
              |SELECT bucket, total,
              |       round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |FROM p WHERE rn = 1""".stripMargin)),

    // ---- rate rollup tier: within-hour W1 rate partials + boundary
    // first/last values merged into bucketed rate stats — one boundary
    // rate per consecutive non-empty hour pair (the counter tier's merge
    // shape applied to the A1-of-rates surface); long-range rate
    // dashboards read hours×metrics summaries, raw never read ----------
    ("rollup_rate_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/rateroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
          isCounter = true)
      }
      GraftStorage.rollupRateStats(s, s"$base/rate", Buckets.fromStep(S, E, Day),
        isCounter = true, byMetric = true)
        .select("metric", "bucket", "min", "avg", "max", "sum", "samples")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v)
              |SELECT metric, (t - $S) // $Day AS bucket,
              |       min(rate) AS "min", ${dsum("rate")} / count(*) AS avg,
              |       max(rate) AS "max", ${dsum("rate")} AS sum,
              |       CAST(count(*) AS BIGINT) AS samples
              |FROM rt WHERE t >= $S AND t < $E GROUP BY 1, 2""".stripMargin)),

    // ---- rate tier at a finer grid, POOLED across the fleet (the
    // rate_stats wire shape minus order statistics): 2h buckets over the
    // first four days — same tier, different enclosing grain, exercising
    // the boundary merge where several boundary pairs land per bucket ----
    ("rollup_rate_stats_pooled", (s: SparkSession, d: String) => {
      val base = "target/tmp/rateroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
          isCounter = true)
      }
      GraftStorage.rollupRateStats(s, s"$base/rate",
        Buckets.fromStep(S, S + 4 * Day, 7200000L), isCounter = true)
        .select("bucket", "min", "avg", "max", "sum", "samples")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v)
              |SELECT (t - $S) // 7200000 AS bucket,
              |       min(rate) AS "min", ${dsum("rate")} / count(*) AS avg,
              |       max(rate) AS "max", ${dsum("rate")} AS sum,
              |       CAST(count(*) AS BIGINT) AS samples
              |FROM rt WHERE t >= $S AND t < ${S + 4 * Day} GROUP BY 1""".stripMargin)),

    // ---- rate tier over GAUGE rates (W1's virtual GAUGE_RATE type, no
    // reset filter): 4h buckets over the first week — the same tier
    // machinery parameterized by (isCounter, valueCol) -------------------
    ("rollup_rate_stats_gauge", (s: SparkSession, d: String) => {
      val base = "target/tmp/graterroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
          isCounter = false, valueCol = "n_value")
      }
      GraftStorage.rollupRateStats(s, s"$base/rate",
        Buckets.fromStep(S, Week, 14400000L), isCounter = false, byMetric = true)
        .select("metric", "bucket", "min", "avg", "max", "sum", "samples")
    },
      Some(s"""WITH $BaseCte,
              |r AS (SELECT metric, t, value, lag(value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM base WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (value - prev_v) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL)
              |SELECT metric, (t - $S) // 14400000 AS bucket,
              |       min(rate) AS "min", ${dsum("rate")} / count(*) AS avg,
              |       max(rate) AS "max", ${dsum("rate")} AS sum,
              |       CAST(count(*) AS BIGINT) AS samples
              |FROM rt WHERE t >= $S AND t < $Week GROUP BY 1, 2""".stripMargin)),

    // ---- rate DISTRIBUTION tier: hour × rate-bin counts (within-hour
    // rates binned at build; hour-crossing rates reconstructed from the
    // rate tier's boundary facts and binned at serve) — the rate heatmap
    // with raw never read, bit-equal to valueHistogram over the W1 rate
    // series ------------------------------------------------------------
    ("rollup_rate_hist_serve", (s: SparkSession, d: String) => {
      val base = "target/tmp/ratehist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
          isCounter = true)
        GraftStorage.writeRollupRateHist(s, s"$base/raw", s"$base/rhist",
          isCounter = true, vMin = 0.0, vMax = 2000.0, bins = 20)
      }
      GraftStorage.rollupRateHistogram(s, s"$base/rhist", s"$base/rate",
        Buckets.fromStep(S, E, Day), isCounter = true)
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v),
              |a AS (SELECT (t - $S) // $Day AS bucket,
              |        CAST(least(greatest(floor(rate / 100.0), 0), 19) AS BIGINT) AS bin
              |      FROM rt WHERE t >= $S AND t < $E)
              |SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |       bin * 100.0 AS bin_lo, (bin + 1) * 100.0 AS bin_hi
              |FROM a GROUP BY 1, 2""".stripMargin)),

    // ---- p95-of-rates off the tier: the Prometheus quantile walk over
    // the SERVED rate histogram — rate order statistics without a raw
    // scan, the reason the rate-distribution tier exists -----------------
    ("rollup_rate_hist_quantile", (s: SparkSession, d: String) => {
      val base = "target/tmp/ratehist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
          isCounter = true)
        GraftStorage.writeRollupRateHist(s, s"$base/raw", s"$base/rhist",
          isCounter = true, vMin = 0.0, vMax = 2000.0, bins = 20)
      }
      MetricsOps.histogramQuantile(
        GraftStorage.rollupRateHistogram(s, s"$base/rhist", s"$base/rate",
          Buckets.fromStep(S, E, Day), isCounter = true),
        q = 0.95)
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v),
              |a AS (SELECT (t - $S) // $Day AS bucket,
              |        CAST(least(greatest(floor(rate / 100.0), 0), 19) AS BIGINT) AS bin
              |      FROM rt WHERE t >= $S AND t < $E),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 100.0 AS bin_lo, (bin + 1) * 100.0 AS bin_hi
              |      FROM a GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.95 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target)
              |SELECT bucket, total,
              |       round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |FROM p WHERE rn = 1""".stripMargin)),

    // ---- tag-query → p95-of-rates: the tag index resolves the fleet,
    // the id set prunes BOTH rate tiers (distribution bins + boundary
    // facts) before their merges, the quantile walk runs over the
    // filtered counts — a tag-scoped rate-percentile dashboard with raw
    // never read --------------------------------------------------------
    ("tagquery_rate_quantile", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagrhist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
          isCounter = true)
        GraftStorage.writeRollupRateHist(s, s"$base/raw", s"$base/rhist",
          isCounter = true, vMin = 0.0, vMax = 2000.0, bins = 20)
        graft.storage.TagIndex.write(ea.catalog(s, d), s"$base/tags")
      }
      val ids = graft.storage.TagIndex.lookup(s, s"$base/tags",
        "type = purchase OR seg = s3").select("metric")
      MetricsOps.histogramQuantile(
        GraftStorage.rollupRateHistogram(s, s"$base/rhist", s"$base/rate",
          Buckets.fromStep(S, E, Day), isCounter = true, ids = Some(ids)),
        q = 0.95)
    },
      Some(s"""WITH $BaseCte, $CounterCte, $CatCte,
              |sel AS (SELECT metric FROM cat
              |        WHERE event_type = 'purchase' OR regexp_full_match(seg, 's3')),
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WHERE metric IN (SELECT metric FROM sel)
              |      WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v),
              |a AS (SELECT (t - $S) // $Day AS bucket,
              |        CAST(least(greatest(floor(rate / 100.0), 0), 19) AS BIGINT) AS bin
              |      FROM rt WHERE t >= $S AND t < $E),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 100.0 AS bin_lo, (bin + 1) * 100.0 AS bin_hi
              |      FROM a GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.95 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target)
              |SELECT bucket, total,
              |       round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |FROM p WHERE rn = 1""".stripMargin)),

    // ---- serving-tier dispatch for rates: hour-aligned rate dashboards
    // answer from the rate tier, misaligned fall back to the raw W1+A1
    // path — same rows either way (dispatch invisibility, spec-pinned);
    // this request takes the cheap branch by construction ---------------
    ("rollup_rate_adaptive", (s: SparkSession, d: String) => {
      val base = "target/tmp/rateadapt_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
      GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
        isCounter = true)
      GraftStorage.servedRateStats(s, s"$base/raw", s"$base/rate",
        Buckets.fromStep(S, S + 28 * Day, Day), isCounter = true, byMetric = true)
        .select("metric", "bucket", "min", "avg", "max", "sum", "samples")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v)
              |SELECT metric, (t - $S) // $Day AS bucket,
              |       min(rate) AS "min", ${dsum("rate")} / count(*) AS avg,
              |       max(rate) AS "max", ${dsum("rate")} AS sum,
              |       CAST(count(*) AS BIGINT) AS samples
              |FROM rt WHERE t >= $S AND t < ${S + 28 * Day} GROUP BY 1, 2""".stripMargin)),

    // ---- tag-query → availability-tier serving: the per-team uptime
    // dashboard end-to-end — the tag index resolves the expression to a
    // request-sized id set, which broadcasts into a semi-join pruning the
    // AVAILABILITY tier scan before the boundary-merge window; raw is
    // never read (the tagquery_rollup_stats posture on the A3 tier) ------
    ("tagquery_rollup_avail", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagavroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(avail(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupAvail(s, s"$base/raw", s"$base/avroll")
        graft.storage.TagIndex.write(ea.catalog(s, d), s"$base/tags")
      }
      val ids = graft.storage.TagIndex.lookup(s, s"$base/tags",
        "type = purchase OR seg = s3").select("metric")
      GraftStorage.rollupAvailStats(s, s"$base/avroll",
        Buckets.fromStep(S, E, Day), ids = Some(ids))
        .select("metric", "bucket", "up_ms", "down_ms", "unknown_ms", "admin_ms",
          "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte, $CatCte,
              |sel AS (SELECT metric FROM cat
              |        WHERE event_type = 'purchase' OR regexp_full_match(seg, 's3')),
              |b AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |      FROM av WHERE t >= $S AND t < $E
              |        AND metric IN (SELECT metric FROM sel)),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t))
              |SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |FROM seg GROUP BY metric, bucket""".stripMargin)),

    // ---- tag-query THROUGH the adaptive dispatch: the dashboard shape a
    // REST layer actually serves — a tag expression plus an ARBITRARY
    // grid. This request starts off the hour grid, so the dispatcher
    // takes the raw branch with the resolved id set pruning the scan
    // BEFORE the LWW dedup shuffle; an aligned request would take the
    // tier branch with the same id semi-join (both-branch equality
    // spec-pinned) -------------------------------------------------------
    ("tagquery_adaptive_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagadapt_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(gauge(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollup(s, s"$base/raw", s"$base/roll")
        graft.storage.TagIndex.write(ea.catalog(s, d), s"$base/tags")
      }
      val ids = graft.storage.TagIndex.lookup(s, s"$base/tags",
        "type = purchase OR seg = s3").select("metric")
      GraftStorage.servedStats(s, s"$base/raw", s"$base/roll",
        Buckets.fromStep(S + 1800000L, S + 1800000L + 4 * Day, 7200000L),
        byMetric = true, ids = Some(ids))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte, $CatCte,
              |sel AS (SELECT metric FROM cat
              |        WHERE event_type = 'purchase' OR regexp_full_match(seg, 's3')),
              |b AS (SELECT metric, t, value FROM base
              |      WHERE t >= ${S + 1800000L} AND t < ${S + 1800000L + 4 * Day}
              |        AND metric IN (SELECT metric FROM sel))
              |SELECT metric, (t - ${S + 1800000L}) // 7200000 AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- tag-query → COUNTER tier: "requests this month for the tagged
    // fleet" — the resolved id set broadcasts into a semi-join pruning
    // the counter tier scan BEFORE the boundary-delta window; per-metric
    // hour timelines are unaffected by dropping other metrics ------------
    ("tagquery_rollup_counter", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagctr_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupCounter(s, s"$base/raw", s"$base/ctrroll")
        graft.storage.TagIndex.write(ea.catalog(s, d), s"$base/tags")
      }
      val ids = graft.storage.TagIndex.lookup(s, s"$base/tags",
        "type = purchase OR seg = s3").select("metric")
      GraftStorage.rollupCounterIncrease(s, s"$base/ctrroll", TimeRange(S, E),
        ids = Some(ids))
        .select(col("metric"), col("increase"), col("n_resets"), col("n_deltas"))
    },
      Some(s"""WITH $BaseCte, $CounterCte, $CatCte,
              |sel AS (SELECT metric FROM cat
              |        WHERE event_type = 'purchase' OR regexp_full_match(seg, 's3')),
              |r AS (SELECT metric, l_value - lag(l_value) OVER w AS delta
              |      FROM ctr WHERE t >= $S AND t < $E
              |        AND metric IN (SELECT metric FROM sel)
              |      WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric,
              |       CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS increase,
              |       CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
              |       CAST(count(delta) AS BIGINT) AS n_deltas
              |FROM r WHERE delta IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- tag-query → RATE tier: per-metric rate panels for the tagged
    // fleet, served from hour summaries — the id semi-join prunes before
    // the boundary window, raw never read --------------------------------
    ("tagquery_rollup_rate", (s: SparkSession, d: String) => {
      val base = "target/tmp/tagrate_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base) {
        GraftStorage.write(ctr(s, d), s"$base/raw", SaveMode.Overwrite)
        GraftStorage.writeRollupRate(s, s"$base/raw", s"$base/rate",
          isCounter = true)
        graft.storage.TagIndex.write(ea.catalog(s, d), s"$base/tags")
      }
      val ids = graft.storage.TagIndex.lookup(s, s"$base/tags",
        "type = purchase OR seg = s3").select("metric")
      GraftStorage.rollupRateStats(s, s"$base/rate", Buckets.fromStep(S, E, Day),
        isCounter = true, byMetric = true, ids = Some(ids))
        .select("metric", "bucket", "min", "avg", "max", "sum", "samples")
    },
      Some(s"""WITH $BaseCte, $CounterCte, $CatCte,
              |sel AS (SELECT metric FROM cat
              |        WHERE event_type = 'purchase' OR regexp_full_match(seg, 's3')),
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WHERE metric IN (SELECT metric FROM sel)
              |      WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v)
              |SELECT metric, (t - $S) // $Day AS bucket,
              |       min(rate) AS "min", ${dsum("rate")} / count(*) AS avg,
              |       max(rate) AS "max", ${dsum("rate")} AS sum,
              |       CAST(count(*) AS BIGINT) AS samples
              |FROM rt WHERE t >= $S AND t < $E GROUP BY 1, 2""".stripMargin)),

    // ---- S9: metric delete — partition-scoped rewrite --------------------
    ("storage_delete", (s: SparkSession, d: String) => {
      val path = "target/tmp/delete_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.write(gauge(s, d), path, SaveMode.Overwrite)
      GraftStorage.deleteMetric(s, path, ea.Tenant, MetricType.Gauge, "click/7")
      tierSummary(GraftStorage.read(s, path))
    },
      Some(s"""WITH $BaseCte
              |SELECT metric, count(*) AS cnt, ${dsum("value")} AS sum_v FROM base
              |WHERE metric <> 'click/7' GROUP BY 1""".stripMargin)),

    // ---- S9: tenant delete — metadata-level subtree drop -----------------
    ("storage_delete_tenant", (s: SparkSession, d: String) => {
      val path = "target/tmp/deltenant_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val g = gauge(s, d)
      GraftStorage.write(g, path, SaveMode.Overwrite)
      // a second tenant's copy, then drop it — only acme must remain
      GraftStorage.write(g.withColumn("tenant_id", lit("doomed")), path)
      GraftStorage.deleteTenant(s, path, "doomed")
      tierSummary(GraftStorage.read(s, path))
    },
      Some(s"""WITH $BaseCte
              |SELECT metric, count(*) AS cnt, ${dsum("value")} AS sum_v FROM base GROUP BY 1""".stripMargin)),

    // ---- J3 at scale: bucketed co-located join — both sides bucketBy
    // (metric), so the join (and the groupBy after it) runs with no
    // shuffle and no broadcast; StorageSpec proves the Exchange-free plan -
    ("storage_bucketed_join", (s: SparkSession, d: String) => {
      val sfx = d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.writeBucketedTable(gauge(s, d), s"graft_pts_$sfx", nBuckets = 8)
      GraftStorage.writeBucketedTable(
        ea.catalog(s, d).filter(TagQueryParser.compile("seg = s2", col("tags"))).select("metric"),
        s"graft_ids_$sfx", nBuckets = 8, sortCols = Seq("metric"))
      s.table(s"graft_pts_$sfx").join(s.table(s"graft_ids_$sfx"), "metric")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_value").cast("decimal(28,10)")).cast("double").as("sum_v"))
    },
      Some(s"""WITH $BaseCte, $CatCte
              |SELECT metric, count(*) AS cnt, ${dsum("value")} AS sum_v FROM base
              |WHERE metric IN (SELECT metric FROM cat WHERE seg = 's2') GROUP BY 1""".stripMargin)),

    // ---- S3/TTL: retention sweep — expired slice partitions dropped ------
    // (dropExpiredSlices is metadata-only: whole-directory deletes, no data
    // rewrite — the parquet analog of Cassandra TTL expiry,
    // MetricsServiceImpl.java:1058-1067)
    ("storage_retention", (s: SparkSession, d: String) => {
      val path = "target/tmp/retention_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.write(gauge(s, d), path, SaveMode.Overwrite)
      GraftStorage.dropExpiredSlices(s, path, retentionDays = 7, now = E)
      tierSummary(GraftStorage.read(s, path))
    },
      Some(s"""WITH $BaseCte
              |SELECT metric, count(*) AS cnt, ${dsum("value")} AS sum_v FROM base
              |WHERE t // $Day >= ${(E - 7 * Day) / Day} GROUP BY 1""".stripMargin)),

    // ---- Tenant model: per-tenant/per-type retention map (J-join + TTL),
    // with the reference's PER-METRIC dataRetention override taking
    // precedence (Metric.java:48-54, retentions_idx) — one override
    // lengthens a window past the tenant default, one shortens it --------
    ("tenant_retention", (s: SparkSession, d: String) => {
      import s.implicits._
      val g = gauge(s, d)
      // two tenants sharing the series, different gauge retention windows
      val pts = g.unionByName(g.withColumn("tenant_id", lit("beta")))
      val retentions = Seq(("acme", 0, 7), ("beta", 0, 21))
        .toDF("tenant_id", "mtype", "retention_days")
      val overrides = Seq(("acme", 0, "error/23", 30), ("beta", 0, "click/7", 3))
        .toDF("tenant_id", "mtype", "metric", "retention_days")
      MetricsOps.applyRetention(pts, retentions, Some(overrides), now = E)
        .groupBy(col("tenant_id"), col("metric"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_value").cast("decimal(28,10)")).cast("double").as("sum_v"))
    },
      Some(s"""WITH $BaseCte,
              |u AS (SELECT 'acme' AS tenant_id, metric, t, value FROM base
              |        WHERE t >= CASE WHEN metric = 'error/23'
              |                        THEN ${E - 30 * Day} ELSE ${E - 7 * Day} END
              |      UNION ALL
              |      SELECT 'beta', metric, t, value FROM base
              |        WHERE t >= CASE WHEN metric = 'click/7'
              |                        THEN ${E - 3 * Day} ELSE ${E - 21 * Day} END)
              |SELECT tenant_id, metric, count(*) AS cnt, ${dsum("value")} AS sum_v
              |FROM u GROUP BY 1, 2""".stripMargin)),

    // ---- Virtual rate types through the facade: ask findDataPoints for a
    // COUNTER_RATE series and get the W1 derivation over the stored
    // counter transparently (MetricsServiceImpl.java:241-249 dispatch) —
    // storage-backed so the whole read path (tier scan → range filter →
    // pairing → reset drop) runs as a user would hit it ------------------
    ("virtual_rate_fetch", (s: SparkSession, d: String) => {
      val root = "target/tmp/vrate_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, root)
      val svc = new graft.api.MetricsService(s, root)
      svc.addDataPoints(ctr(s, d).filter(col("metric") === "click/7"))
      svc.findDataPoints(MetricId(ea.Tenant, MetricType.CounterRate.code, "click/7"),
        Some(S), Some(Week), now = E)
        .select("metric", "time", "rate")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |c AS (SELECT metric, t, l_value FROM ctr
              |      WHERE metric = 'click/7' AND t >= $S AND t < $Week),
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM c WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric, t AS "time",
              |       60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v""".stripMargin)),

    // ---- Multi-metric ranged rate fetch — the engine of GET|POST
    // /{type}s/rate/query (GaugeHandler.java:352-390): id-set semi-join,
    // range-bounded fetch, per-metric W1 pairing inside the range ---------
    ("rate_query_multi", (s: SparkSession, d: String) => {
      val root = "target/tmp/ratequery_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, root)
      val svc = new graft.api.MetricsService(s, root)
      svc.addDataPoints(ctr(s, d)
        .filter(col("metric").isin("click/7", "view/88", "error/23")))
      svc.findRateData(ea.Tenant, MetricType.Counter, Seq("click/7", "view/88"),
        Some(S), Some(Week), limit = 0, order = Some(Order.Asc), now = E)
        .select("metric", "time", "rate")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |c AS (SELECT metric, t, l_value FROM ctr
              |      WHERE metric IN ('click/7', 'view/88') AND t >= $S AND t < $Week),
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM c WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric, t AS "time",
              |       60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v""".stripMargin)),

    // ---- W1 + per-series T2: the rate query's limit bounds EACH
    // series' derived rates (reference findRateData(List,…):886-890
    // concatMaps per-id limited derivations; limit applies AFTER reset
    // screening, so surviving rates rank, not raw pairs) ----------------
    ("rate_query_multi_limited", (s: SparkSession, d: String) => {
      val root = "target/tmp/ratequerylim_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, root)
      val svc = new graft.api.MetricsService(s, root)
      svc.addDataPoints(ctr(s, d)
        .filter(col("metric").isin("click/7", "view/88", "error/23")))
      svc.findRateData(ea.Tenant, MetricType.Counter, Seq("click/7", "view/88"),
        Some(S), Some(Week), limit = 3, order = Some(Order.Asc), now = E)
        .select("metric", "time", "rate")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |c AS (SELECT metric, t, l_value FROM ctr
              |      WHERE metric IN ('click/7', 'view/88') AND t >= $S AND t < $Week),
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM c WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rates AS (SELECT metric, t,
              |       60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v),
              |ranked AS (SELECT metric, t, rate,
              |       row_number() OVER (PARTITION BY metric ORDER BY t ASC) AS rn FROM rates)
              |SELECT metric, t AS "time", rate FROM ranked WHERE rn <= 3""".stripMargin)),

    // ---- EP2 batch: N independent stats requests keyed by request index,
    // THROUGH the service facade — request 2 names its series by TAG
    // EXPRESSION, the reference body's metrics-or-tags union
    // (POST /metrics/stats/batch/query, MetricHandler.java:321-338,418-441)
    ("stats_batch", (s: SparkSession, d: String) => {
      val root = "target/tmp/statsbatch_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, root)
      val svc = new graft.api.MetricsService(s, root)
      svc.addDataPoints(gauge(s, d))
      // catalog in ONE append (a createMetric-per-row driver loop would
      // write 750 files) — same schema metricsIndex resolves
      ea.catalog(s, d)
        .withColumn("data_retention", lit(null).cast("int"))
        .withColumn("ingest_seq", lit(1L))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/metrics")
      def cfg(end: Long) = BucketConfig(TimeRange(S, end), None, Some(GDuration.parse("1d")))
      roundPcts(svc.statsBatchQuery(ea.Tenant, Seq(
        svc.StatsRequest(MetricType.Gauge, Seq("click/7", "view/88"), cfg(E)),
        svc.StatsRequest(MetricType.Gauge, Seq("error/23"), cfg(Week)),
        svc.StatsRequest(MetricType.Gauge, Seq.empty, cfg(E),
          tagExpression = Some("seg = s3")))), Seq.empty)
        .select("request_id", "bucket", "min", "avg", "max", "sum", "samples", "median")
    },
      Some(s"""WITH $BaseCte, $CatCte,
              |r0 AS (SELECT (t - $S) // $Day AS bucket, ${statSql("value", Seq.empty)}
              |       FROM base WHERE t >= $S AND t < $E
              |         AND metric IN ('click/7', 'view/88') GROUP BY 1),
              |r1 AS (SELECT (t - $S) // $Day AS bucket, ${statSql("value", Seq.empty)}
              |       FROM base WHERE t >= $S AND t < $Week
              |         AND metric = 'error/23' GROUP BY 1),
              |r2 AS (SELECT (t - $S) // $Day AS bucket, ${statSql("value", Seq.empty)}
              |       FROM base WHERE t >= $S AND t < $E
              |         AND metric IN (SELECT metric FROM cat WHERE seg = 's3') GROUP BY 1)
              |SELECT 0 AS request_id, g.bucket, r0."min", r0.avg, r0."max", r0.sum, r0.samples, r0.median
              |FROM range(30) g(bucket) LEFT JOIN r0 ON r0.bucket = g.bucket
              |UNION ALL
              |SELECT 1 AS request_id, g.bucket, r1."min", r1.avg, r1."max", r1.sum, r1.samples, r1.median
              |FROM range(7) g(bucket) LEFT JOIN r1 ON r1.bucket = g.bucket
              |UNION ALL
              |SELECT 2 AS request_id, g.bucket, r2."min", r2.avg, r2."max", r2.sum, r2.samples, r2.median
              |FROM range(30) g(bucket) LEFT JOIN r2 ON r2.bucket = g.bucket""".stripMargin)),

    // ---- EP2 named batch THROUGH the reference body shape
    // (`Map<String, StatsQueryRequest>`, MetricHandler.findStatsBatched:
    // 321-338): entry "a" names gauge ids (the metrics map), "b" resolves
    // a tag expression, "c" redirects its family to the RATE branch via
    // types=[gauge_rate] — one frame keyed by request_key, each bucket
    // carrying the wire's [start, end) bounds
    ("stats_batch_named", (s: SparkSession, d: String) => {
      val root = "target/tmp/statsbatchnamed_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, root)
      val svc = new graft.api.MetricsService(s, root)
      svc.addDataPoints(gauge(s, d))
      ea.catalog(s, d)
        .withColumn("data_retention", lit(null).cast("int"))
        .withColumn("ingest_seq", lit(1L))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/metrics")
      def cfg(end: Long) = BucketConfig(TimeRange(S, end), None, Some(GDuration.parse("1d")))
      roundPcts(svc.statsBatchQueryNamed(ea.Tenant, Seq(
        "a" -> svc.StatsQueryReq(
          metrics = Map(MetricType.Gauge -> Seq("click/7", "view/88")), config = cfg(E)),
        "b" -> svc.StatsQueryReq(
          tags = Some("seg = s3"), config = cfg(E), types = Set(MetricType.Gauge)),
        "c" -> svc.StatsQueryReq(
          metrics = Map(MetricType.Gauge -> Seq("error/23")), config = cfg(Week),
          types = Set(MetricType.GaugeRate)))), Seq.empty)
        .select("request_key", "branch", "metric", "bucket", "bucket_start",
          "bucket_end", "min", "avg", "max", "sum", "samples", "median")
    },
      Some(s"""WITH $BaseCte, $CatCte,
              |ga AS (SELECT metric, t, value AS v FROM base
              |       WHERE t >= $S AND t < $E AND metric IN ('click/7', 'view/88')),
              |ra AS (SELECT metric, (t - $S) // $Day AS bucket, ${statSql("v", Seq.empty)}
              |       FROM ga GROUP BY 1, 2),
              |sa AS (SELECT m.metric, g.bucket FROM (VALUES ('click/7'), ('view/88')) m(metric)
              |       CROSS JOIN range(30) g(bucket)),
              |gb AS (SELECT metric, t, value AS v FROM base
              |       WHERE t >= $S AND t < $E
              |         AND metric IN (SELECT metric FROM cat WHERE seg = 's3')),
              |rb AS (SELECT metric, (t - $S) // $Day AS bucket, ${statSql("v", Seq.empty)}
              |       FROM gb GROUP BY 1, 2),
              |sb AS (SELECT c.metric, g.bucket FROM cat c CROSS JOIN range(30) g(bucket)
              |       WHERE c.seg = 's3'),
              |gc AS (SELECT metric, t, value AS v FROM base
              |       WHERE t >= $S AND t < $Week AND metric = 'error/23'),
              |gp AS (SELECT metric, t, v, lag(v) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |       FROM gc WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |gr AS (SELECT metric, t,
              |         60000.0 * (v - prev_v) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM gp WHERE prev_t IS NOT NULL),
              |rc AS (SELECT metric, (t - $S) // $Day AS bucket, ${statSql("rate", Seq.empty)}
              |       FROM gr GROUP BY 1, 2),
              |sc AS (SELECT 'error/23' AS metric, g.bucket FROM range(7) g(bucket))
              |SELECT 'a' AS request_key, 'gauge' AS branch, s.metric, s.bucket,
              |       CAST($S + s.bucket * $Day AS BIGINT) AS bucket_start,
              |       CAST($S + (s.bucket + 1) * $Day AS BIGINT) AS bucket_end,
              |       r."min", r.avg, r."max", r.sum, r.samples, r.median
              |FROM sa s LEFT JOIN ra r ON r.metric = s.metric AND r.bucket = s.bucket
              |UNION ALL
              |SELECT 'b', 'gauge', s.metric, s.bucket,
              |       CAST($S + s.bucket * $Day AS BIGINT),
              |       CAST($S + (s.bucket + 1) * $Day AS BIGINT),
              |       r."min", r.avg, r."max", r.sum, r.samples, r.median
              |FROM sb s LEFT JOIN rb r ON r.metric = s.metric AND r.bucket = s.bucket
              |UNION ALL
              |SELECT 'c', 'gauge_rate', s.metric, s.bucket,
              |       CAST($S + s.bucket * $Day AS BIGINT),
              |       CAST($S + (s.bucket + 1) * $Day AS BIGINT),
              |       r."min", r.avg, r."max", r.sum, r.samples, r.median
              |FROM sc s LEFT JOIN rc r ON r.metric = s.metric AND r.bucket = s.bucket""".stripMargin)),

    // ---- §2.9: Structured-Streaming ingest end-to-end (watermarked file
    // stream → stream dedup → partitioned tier), drained with AvailableNow
    // and read back — streaming ingest must agree with the batch oracle ---
    ("streaming_ingest", (s: SparkSession, d: String) => {
      val base = "target/tmp/streaming_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      // one week of the stream: the streaming==batch agreement proof does
      // not need the full fixture, and the dedup state scales with rows
      val q = graft.streaming.StreamingIngest.start(
        ea.gaugePointsStream(s, d).filter(col("time") < Week), s"$base/tier", s"$base/ckpt")
      q.awaitTermination()
      tierSummary(GraftStorage.read(s, s"$base/tier"))
    },
      Some(s"""WITH $BaseCte
              |SELECT metric, count(*) AS cnt, ${dsum("value")} AS sum_v FROM base
              |WHERE t < $Week GROUP BY 1""".stripMargin)),

    // ---- §2.9: streaming ingest WITH histogram-tier maintenance — each
    // micro-batch lands in raw then refreshes the distribution rollup
    // for its own slice span; the served histogram over the drained
    // stream EXACTLY equals the batch heatmap aggregate (integer bin
    // counts; LWW + re-derive-from-raw make replays idempotent) ---------
    ("streaming_rollup_hist", (s: SparkSession, d: String) => {
      val base = "target/tmp/strollhist_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val q = graft.streaming.StreamingIngest.startWithHistTier(
        ea.gaugePointsStream(s, d).filter(col("time") < Week),
        s"$base/raw", s"$base/hist", s"$base/ckpt",
        vMin = 0.0, vMax = 500.0, bins = 20)
      q.awaitTermination()
      GraftStorage.rollupHistogram(s, s"$base/hist",
        Buckets.fromStep(S, Week, Day))
    },
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - $S) // ${Day} AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= $S AND t < $Week)
              |SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |       bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |FROM a GROUP BY 1, 2""".stripMargin)),

    // ---- §2.9: streaming ingest WITH sums-tier maintenance — the plain
    // hourly rollup kept continuously current by the same per-batch
    // slice-span hook; the drained tier serves 2h buckets that EXACTLY
    // equal the raw aggregate over the streamed week --------------------
    ("streaming_rollup_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/strollsum_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val q = graft.streaming.StreamingIngest.startWithTierRefresh(
        ea.gaugePointsStream(s, d).filter(col("time") < Week),
        s"$base/raw", s"$base/ckpt") { (sp, lo, hi) =>
        GraftStorage.writeRollup(sp, s"$base/raw", s"$base/roll",
          fromSlice = lo, upToSlice = hi)
      }
      q.awaitTermination()
      GraftStorage.rollupStats(s, s"$base/roll",
        Buckets.fromStep(S, Week, 7200000L))
        .select(col("metric"), col("bucket"), col("samples"),
          col("min"), col("avg"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t >= $S AND t < $Week)
              |SELECT metric, (t - $S) // 7200000 AS bucket,
              |       CAST(count(*) AS BIGINT) AS samples,
              |       min(value) AS "min", ${dsum("value")} / count(*) AS avg,
              |       max(value) AS "max", ${dsum("value")} AS sum
              |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- §2.9: streaming ingest WITH counter-tier maintenance — the
    // fixture's counter stream is STAGED (the derivation is a running
    // sum over history, not stream-expressible; a real deployment's
    // counter stream carries values directly), then the same hook keeps
    // the increase tier current; the served whole-week accounting
    // EXACTLY equals counterIncrease over the streamed points -----------
    ("streaming_rollup_counter", (s: SparkSession, d: String) => {
      val base = "target/tmp/strollctr_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val staged = s"$base/stage"
      ctr(s, d).filter(col("time") < Week).write.parquet(staged)
      val schema = s.read.parquet(staged).schema
      val q = graft.streaming.StreamingIngest.startWithTierRefresh(
        s.readStream.schema(schema).parquet(staged),
        s"$base/raw", s"$base/ckpt") { (sp, lo, hi) =>
        GraftStorage.writeRollupCounter(sp, s"$base/raw", s"$base/ctrroll",
          fromSlice = lo, upToSlice = hi)
      }
      q.awaitTermination()
      GraftStorage.rollupCounterIncrease(s, s"$base/ctrroll", TimeRange(S, Week))
        .select(col("metric"), col("increase"), col("n_resets"), col("n_deltas"))
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, l_value - lag(l_value) OVER w AS delta
              |      FROM ctr WHERE t >= $S AND t < $Week
              |      WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric,
              |       CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS increase,
              |       CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
              |       CAST(count(delta) AS BIGINT) AS n_deltas
              |FROM r WHERE delta IS NOT NULL GROUP BY 1""".stripMargin)),

    // ---- §2.9: streaming ingest WITH rate-tier maintenance — the same
    // staged counter stream and per-batch slice-span hook wired to the
    // W1 rate tier; the drained tier serves daily rate stats that
    // EXACTLY equal rate+A1 over the streamed week -----------------------
    ("streaming_rollup_rate", (s: SparkSession, d: String) => {
      val base = "target/tmp/strollrate_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val staged = s"$base/stage"
      ctr(s, d).filter(col("time") < Week).write.parquet(staged)
      val schema = s.read.parquet(staged).schema
      val q = graft.streaming.StreamingIngest.startWithTierRefresh(
        s.readStream.schema(schema).parquet(staged),
        s"$base/raw", s"$base/ckpt") { (sp, lo, hi) =>
        GraftStorage.writeRollupRate(sp, s"$base/raw", s"$base/rate",
          isCounter = true, fromSlice = lo, upToSlice = hi)
      }
      q.awaitTermination()
      GraftStorage.rollupRateStats(s, s"$base/rate",
        Buckets.fromStep(S, Week, Day), isCounter = true, byMetric = true)
        .select("metric", "bucket", "min", "avg", "max", "sum", "samples")
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WHERE t < $Week
              |      WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v)
              |SELECT metric, (t - $S) // $Day AS bucket,
              |       min(rate) AS "min", ${dsum("rate")} / count(*) AS avg,
              |       max(rate) AS "max", ${dsum("rate")} AS sum,
              |       CAST(count(*) AS BIGINT) AS samples
              |FROM rt WHERE t >= $S AND t < $Week GROUP BY 1, 2""".stripMargin)),

    // ---- §2.9: streaming ingest maintaining BOTH rate tiers (facts +
    // distribution) — one slice-run refresh hook updates the hour
    // summaries and the rate-bin counts per batch; the drained tiers
    // serve p95-of-rates that EXACTLY equal valueHistogram over the raw
    // rate series of the streamed week (completes streaming upkeep
    // across all six tier families) -------------------------------------
    ("streaming_rollup_ratehist", (s: SparkSession, d: String) => {
      val base = "target/tmp/strollrh_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val staged = s"$base/stage"
      ctr(s, d).filter(col("time") < Week).write.parquet(staged)
      val schema = s.read.parquet(staged).schema
      val q = graft.streaming.StreamingIngest.startWithTierRefresh(
        s.readStream.schema(schema).parquet(staged),
        s"$base/raw", s"$base/ckpt") { (sp, lo, hi) =>
        // the two rate tiers share ONE materialized resolved window and
        // refresh concurrently (the refreshFamilies discipline); the
        // checkpoint unpersists per batch — blocks must not accumulate
        // across micro-batches until driver GC notices
        val rw = Some(GraftStorage.resolvedWindow(sp, s"$base/raw", lo, hi)
          .localCheckpoint())
        try graft.storage.IndexStore.inParallel(Seq(
          () => GraftStorage.writeRollupRate(sp, s"$base/raw", s"$base/rate",
            isCounter = true, fromSlice = lo, upToSlice = hi, resolved = rw),
          () => GraftStorage.writeRollupRateHist(sp, s"$base/raw", s"$base/rhist",
            isCounter = true, vMin = 0.0, vMax = 2000.0, bins = 20,
            fromSlice = lo, upToSlice = hi, resolved = rw)))
        finally rw.foreach(_.unpersist())
      }
      q.awaitTermination()
      MetricsOps.histogramQuantile(
        GraftStorage.rollupRateHistogram(s, s"$base/rhist", s"$base/rate",
          Buckets.fromStep(S, Week, Day), isCounter = true),
        q = 0.95)
    },
      Some(s"""WITH $BaseCte, $CounterCte,
              |r AS (SELECT metric, t, l_value, lag(l_value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM ctr WHERE t < $Week
              |      WINDOW w AS (PARTITION BY metric ORDER BY t)),
              |rt AS (SELECT metric, t,
              |         60000.0 * (CAST(l_value AS DOUBLE) - CAST(prev_v AS DOUBLE)) / CAST(t - prev_t AS DOUBLE) AS rate
              |       FROM r WHERE prev_t IS NOT NULL AND l_value >= prev_v),
              |a AS (SELECT (t - $S) // $Day AS bucket,
              |        CAST(least(greatest(floor(rate / 100.0), 0), 19) AS BIGINT) AS bin
              |      FROM rt WHERE t >= $S AND t < $Week),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 100.0 AS bin_lo, (bin + 1) * 100.0 AS bin_hi
              |      FROM a GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.95 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target)
              |SELECT bucket, total,
              |       round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |FROM p WHERE rn = 1""".stripMargin)),

    // ---- §2.9: streaming ingest WITH availability-tier maintenance —
    // the generic per-batch slice-span refresh hook wired to the A3
    // hour-summary tier; the drained tier serves daily buckets that
    // EXACTLY equal the state machine over the streamed week ------------
    ("streaming_rollup_avail", (s: SparkSession, d: String) => {
      val base = "target/tmp/stavroll_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val q = graft.streaming.StreamingIngest.startWithTierRefresh(
        ea.availabilityPointsStream(s, d).filter(col("time") < Week),
        s"$base/raw", s"$base/ckpt") { (sp, lo, hi) =>
        GraftStorage.writeRollupAvail(sp, s"$base/raw", s"$base/avroll",
          fromSlice = lo, upToSlice = hi)
      }
      q.awaitTermination()
      GraftStorage.rollupAvailStats(s, s"$base/avroll",
        Buckets.fromStep(S, Week, Day))
        .select("metric", "bucket", "up_ms", "down_ms", "unknown_ms", "admin_ms",
          "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte, $AvailCte,
              |b AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |      FROM av WHERE t >= $S AND t < $Week),
              |seg AS (SELECT metric, bucket, avail,
              |          CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end,
              |          lag(avail) OVER w AS prev_avail
              |        FROM b WINDOW w AS (PARTITION BY metric, bucket ORDER BY t))
              |SELECT metric, bucket,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |FROM seg GROUP BY metric, bucket""".stripMargin)),

    // ---- §2.9: streaming rate derivation (W1 as a continuous query) —
    // stateful flatMapGroupsWithState pairing must agree with the batch
    // rate oracle (same pairwise formula, same operand order → bit-exact) --
    ("streaming_rate", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamrate_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val rates = graft.streaming.StreamingRate.rates(
        ea.gaugePointsStream(s, d).filter(col("time") < Week), isCounter = false)
      val q = rates.toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").select("metric", "time", "rate")
    },
      Some(s"""WITH $BaseCte,
              |r AS (SELECT metric, t, value, lag(value) OVER w AS prev_v, lag(t) OVER w AS prev_t
              |      FROM (SELECT * FROM base WHERE t < $Week)
              |      WINDOW w AS (PARTITION BY metric ORDER BY t))
              |SELECT metric, t AS "time",
              |       60000.0 * (value - prev_v) / CAST(t - prev_t AS DOUBLE) AS rate
              |FROM r WHERE prev_t IS NOT NULL""".stripMargin)),

    // ---- §2.9: streaming windowed slice stats — append-mode emission -----
    // (slidingStats is the query-side analog of the reference's 2h slice
    // cadence: a window is emitted ONLY once the watermark passes its end,
    // so the result contains exactly the finalized slices — late-data-drop
    // semantics made driver-visible. Emission depends only on the final
    // watermark (max event time - 2h), not on micro-batch boundaries, so
    // the result is deterministic under any batching.)
    // ---- §2.9: OVERLAPPING sliding windows (4h rolling, 1h slide) —
    // each point covers 4 windows; emission still watermark-finalized ----
    ("streaming_rolling_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/rollstats_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val st = graft.streaming.StreamingIngest.rollingStats(
        ea.gaugePointsStream(s, d).filter(col("time") < Week))
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(unix_millis(col("window_start")).as("window_start"), col("metric"),
          col("samples"), col("min"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t < $Week),
              |wm AS (SELECT max(t) - 7200000 AS w FROM b),
              |x AS (SELECT metric, t, value, s.k * 3600000 AS ws
              |      FROM b, LATERAL (SELECT unnest(generate_series(
              |        (t - 14400000) // 3600000 + 1, t // 3600000)) AS k) s)
              |SELECT ws AS window_start, metric,
              |       count(*) AS samples, min(value) AS "min", max(value) AS "max",
              |       ${dsum("value")} AS sum
              |FROM x, wm
              |WHERE ws + 14400000 <= wm.w
              |GROUP BY 1, 2""".stripMargin)),

    ("streaming_slice_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/slicestats_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val st = graft.streaming.StreamingIngest.slidingStats(
        ea.gaugePointsStream(s, d).filter(col("time") < Week))
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(unix_millis(col("slice_start")).as("slice_start"), col("metric"),
          col("samples"), col("min"), col("max"), col("sum"))
    },
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t < $Week),
              |wm AS (SELECT max(t) - 7200000 AS w FROM b)
              |SELECT (t // 7200000) * 7200000 AS slice_start, metric,
              |       count(*) AS samples, min(value) AS "min", max(value) AS "max",
              |       ${dsum("value")} AS sum
              |FROM b, wm
              |WHERE (t // 7200000) * 7200000 + 7200000 <= wm.w
              |GROUP BY 1, 2""".stripMargin)),

    // ---- §2.9+A3: the availability state machine as a continuous query —
    // the one A-family operator windowed aggregation can't express (per-
    // state durations depend on point ORDER inside the bucket). Stateful
    // flatMapGroupsWithState keyed by (series, day-bucket); a bucket is
    // emitted exactly once, when the watermark finalizes it. ------------
    ("streaming_avail_stats", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamavail_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val out = graft.streaming.StreamingAvail.slices(
        ea.availabilityPointsStream(s, d).filter(col("time") < Week))
      val q = out.toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select("metric", "bucket_start", "up_ms", "down_ms", "unknown_ms", "admin_ms",
          "last_not_uptime", "not_up_count", "samples", "uptime_ratio")
    },
      Some(s"""WITH $BaseCte,
              |bb AS (SELECT metric, t, CASE WHEN event_type = 'error' THEN 1
              |                              WHEN value < 20.0 THEN 2 ELSE 0 END AS avail
              |       FROM base WHERE t < $Week),
              |wm AS (SELECT max(t) - 7200000 AS w FROM bb),
              |fin AS (SELECT b.metric, b.t, b.avail, (b.t // $Day) * $Day AS bs
              |        FROM bb b, wm WHERE (b.t // $Day) * $Day + $Day <= wm.w),
              |seg AS (SELECT metric, bs, avail,
              |          CASE WHEN row_number() OVER win = 1 THEN bs ELSE t END AS seg_start,
              |          coalesce(lead(t) OVER win, bs + $Day) AS seg_end,
              |          lag(avail) OVER win AS prev_avail
              |        FROM fin WINDOW win AS (PARTITION BY metric, bs ORDER BY t))
              |SELECT metric, bs AS bucket_start,
              |  CAST(coalesce(sum(CASE WHEN avail = 0 THEN seg_end - seg_start END), 0) AS BIGINT) AS up_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 1 THEN seg_end - seg_start END), 0) AS BIGINT) AS down_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 2 THEN seg_end - seg_start END), 0) AS BIGINT) AS unknown_ms,
              |  CAST(coalesce(sum(CASE WHEN avail = 3 THEN seg_end - seg_start END), 0) AS BIGINT) AS admin_ms,
              |  CAST(coalesce(max(CASE WHEN avail <> 0 THEN seg_end END), 0) AS BIGINT) AS last_not_uptime,
              |  CAST(sum(CASE WHEN avail <> 0 AND (prev_avail IS NULL OR prev_avail = 0)
              |                THEN 1 ELSE 0 END) AS BIGINT) AS not_up_count,
              |  count(*) AS samples,
              |  CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE) / ${Day.toDouble} AS uptime_ratio
              |FROM seg GROUP BY metric, bs""".stripMargin)),

    // ---- LLM: exact dedup groups -----------------------------------------
    ("dedup_exact", (s: SparkSession, d: String) => Dedup.exactGroups(docs(s, d)),
      Some("""SELECT md5(text) AS text_md5, count(*) AS cnt, min(doc_id) AS keep_id
             |FROM documents GROUP BY 1""".stripMargin)),

    // ---- LLM: MinHash-LSH near-dup pairs, exact-Jaccard verified ---------
    ("dedup_minhash", (s: SparkSession, d: String) =>
      Dedup.nearDupPairs(docs(s, d), shingleK = 3, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")),
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
             |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
             |WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8""".stripMargin)),

    // ---- LLM: near-dup clusters → survivor (the dedup drop decision) -----
    ("dedup_clusters", (s: SparkSession, d: String) =>
      Dedup.nearDupClusters(Dedup.nearDupPairs(docs(s, d), shingleK = 3, threshold = 0.8)),
      Some("""WITH RECURSIVE
             |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT doc_a, doc_b FROM inter
             |          JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
             |          WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8),
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             |          UNION ALL SELECT doc_b, doc_a FROM pairs),
             |reach AS (SELECT src AS a, src AS b FROM edges
             |          UNION
             |          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
             |SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a""".stripMargin)),

    // ---- LLM: exact n-gram Jaccard (no sketch — the LSH's ground truth) --
    ("dedup_ngram_exact", (s: SparkSession, d: String) =>
      Dedup.exactJaccardPairs(docs(s, d), shingleK = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard")),
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
             |FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
             |WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.5""".stripMargin)),

    // ---- LLM: SimHash near-dup pairs (banded, pigeonhole-exact) ----------
    ("dedup_simhash", (s: SparkSession, d: String) => Dedup.simHashPairs(docs(s, d), maxHamming = 3),
      Some(SimHashPairsOracle)),

    // ---- LLM: brute-force cosine top-k (exact ANN baseline) --------------
    ("knn_cosine", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: IVF approximate top-k (the 100 TB path) --------------------
    // deterministic end-to-end (decimal-summed centroids), so even the
    // approximate variant gets a full DuckDB oracle
    ("knn_ivf", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |el AS (SELECT vec_id, label, g.j, e[CAST(g.j AS INTEGER)] AS v
             |       FROM dv, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g),
             |cm AS (SELECT label AS cell, j,
             |         CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS cv
             |       FROM el GROUP BY label, j),
             |cent AS (SELECT cell, list(cv ORDER BY j) AS ce FROM cm GROUP BY cell),
             |cn AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM cent),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, cn.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, cn.ce) / (q.nrm * cn.cnrm) DESC, cn.cell ASC) AS pr
             |       FROM q CROSS JOIN cn),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM pr WHERE pr <= 2),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN n c ON c.label = p.cell
             |       WHERE c.vec_id <> p.query_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: IVF top-k over TRAINED cells — deterministic Lloyd k-means
    // (seeds = lowest-vec_id vectors, 2 iterations, decimal-exact centroid
    // means) so even the trained model is bit-reproducible by the SQL
    // oracle. Assignment is a pure projection against literal centroids —
    // no join/shuffle; the model is driver-resident like MLlib's. --------
    ("knn_ivf_kmeans", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.ivfKmeansTopK(e, e.filter(col("vec_id") < 10), 10, nprobe = 2,
        kCells = 4, iters = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(IvfKmeansOracle)),

    // ---- LLM: the PERSISTED IVF index — train once, write the corpus
    // partitioned by cell + the centroid model, then serve the same
    // queries from the stored index via partition-pruned scans. Results
    // are bit-identical to knn_ivf_kmeans (same training), so the same
    // oracle verifies the whole build→store→search lifecycle. -----------
    ("knn_ivf_stored", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfidx_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2)
      Similarity.ivfStoredTopK(s, path, e.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(IvfKmeansOracle)),

    // ---- LLM: IVF RETRAIN — the maintenance response to drift: build on
    // a subset, fold the rest in with the stale model, then retrain on
    // the stored corpus. The store must come out INDISTINGUISHABLE from
    // a fresh build over the full corpus (same deterministic training),
    // so the trained-IVF oracle verifies the whole drift-response path --
    ("knn_ivf_retrained", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfret_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeIvfIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path, kCells = 4, iters = 2)
      Similarity.appendToIvfIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.retrainIvfIndex(s, path, kCells = 4, iters = 2)
      Similarity.ivfStoredTopK(s, path, e.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(IvfKmeansOracle)),

    // ---- LLM: incremental IVF maintenance — train + build WITHOUT a
    // held-out slice, append it with the STORED model (no retrain), then
    // serve: appended vectors flow through the same DPP-pruned read -----
    ("knn_ivf_appended", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfapp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeIvfIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path, kCells = 4, iters = 2)
      Similarity.appendToIvfIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.ivfStoredTopK(s, path, e.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(IvfAppendOracle))
  )

  /** Oracle for near-dup index lookups with query set doc_id < 50 over
    * the full corpus (neardup_index_stored and neardup_index_compact
    * share it — compaction changes the FILE layout, not the answers). */
  private val NearDupLookupOracle =
       """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS query_id, b.doc_id AS corpus_id, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < 50
             |            AND b.doc_id <> a.doc_id GROUP BY 1, 2)
             |SELECT query_id, corpus_id,
             |       round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
             |FROM inter JOIN sz x ON x.doc_id = query_id JOIN sz y ON y.doc_id = corpus_id
             |WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8""".stripMargin

  /** Oracle for neardup_index_delete: the [[NearDupLookupOracle]] pair
    * set with every tombstoned corpus doc (doc_id % 7 = 0) absent, once
    * per lifecycle stage — the tombstone-SCREENED serve (pre-purge) and
    * the post-compaction PURGED serve must answer identically. */
  private val NearDupDeleteOracle =
       """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS query_id, b.doc_id AS corpus_id, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < 50
             |            AND b.doc_id <> a.doc_id AND b.doc_id % 7 <> 0 GROUP BY 1, 2),
             |pairs AS (SELECT query_id, corpus_id,
             |            round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
             |          FROM inter JOIN sz x ON x.doc_id = query_id
             |            JOIN sz y ON y.doc_id = corpus_id
             |          WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8)
             |SELECT st.stage, p.query_id, p.corpus_id, p.jaccard
             |FROM pairs p CROSS JOIN (SELECT 'screened' AS stage
             |                         UNION ALL SELECT 'purged') st""".stripMargin

  /** Oracle for neardup_index_revive: doc 7 was taken down and then
    * re-registered with doc 55's text — ground truth is the pair set of
    * the corpus with that text REPLACEMENT applied (never the pre-delete
    * text: stale shingles surviving the revival would hash-mismatch). */
  private val NearDupReviveOracle =
       """WITH corp AS (SELECT d.doc_id,
             |         CASE WHEN d.doc_id = 7 THEN (SELECT text FROM documents WHERE doc_id = 55)
             |              ELSE d.text END AS text FROM documents d),
             |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM corp),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS query_id, b.doc_id AS corpus_id, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id >= 50 AND a.doc_id < 100
             |            AND b.doc_id <> a.doc_id GROUP BY 1, 2)
             |SELECT query_id, corpus_id,
             |       round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
             |FROM inter JOIN sz x ON x.doc_id = query_id JOIN sz y ON y.doc_id = corpus_id
             |WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8""".stripMargin

  /** Oracle for knn_ivf_delete: the trained-IVF ranking with the
    * tombstoned vectors (vec_id % 7 = 0) excluded from the scored
    * candidates — the model itself trained on the FULL corpus (deletes
    * never retrain) — once per lifecycle stage (screened ≡ purged). */
  private lazy val IvfDeleteOracle = KmeansAssignCte + ",\n" +
       """q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, s.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, s.ce) / (q.nrm * s.cnrm) DESC, s.cell ASC) AS pr
             |       FROM q CROSS JOIN c2n s),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM pr WHERE pr <= 2),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN af c ON c.cell = p.cell
             |       WHERE c.vec_id <> p.query_id AND c.vec_id % 7 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT st.stage, r.query_id, r.neighbor_id, round(r.cosine, 6) AS cosine
             |FROM r CROSS JOIN (SELECT 'screened' AS stage
             |                   UNION ALL SELECT 'purged') st
             |WHERE rnk <= 10""".stripMargin

  /** Oracle for bm25_index_delete — the two stages differ ON PURPOSE:
    * the tombstone-SCREENED serve ranks the surviving docs under the
    * build-time ranking stats (full-corpus df/n_docs/avgdl — the
    * standard takedown semantics: immediate result removal, deferred
    * stats refresh), while the post-compaction serve equals a FRESH
    * REBUILD over the remaining corpus (compaction rebuilds both stats
    * tables from the purged base tables). */
  private val Bm25DeleteOracle =
    """WITH qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, token FROM (VALUES
      |         (0, 'spark'), (0, 'join'), (1, 'window'), (1, 'sort'),
      |         (1, 'merge'), (2, 'hash'), (2, 'scan')) t(query_id, token)),
      |tset AS (SELECT DISTINCT token FROM qt),
      |toks AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
      |           unnest(string_split(lower(text), ' ')) AS token FROM documents),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS dl_sum
      |       FROM (SELECT len(string_split(lower(text), ' ')) AS dl FROM documents)),
      |st2 AS (SELECT n_docs, CAST(dl_sum AS DOUBLE) / n_docs AS avgdl FROM st),
      |tfreq AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf,
      |            CAST(max(dl) AS BIGINT) AS dl
      |          FROM toks JOIN tset USING (token) GROUP BY doc_id, token),
      |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfreq GROUP BY token),
      |part AS (SELECT t.doc_id, t.token,
      |           CAST(round(
      |             ln(CAST(1.0 AS DOUBLE) + (CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |                / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |             * (CAST(t.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      |                / (CAST(t.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |                   * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |                      + (CAST(0.75 AS DOUBLE) * CAST(t.dl AS DOUBLE)) / avgdl)))
      |             * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS u
      |         FROM tfreq t JOIN dfreq USING (token) CROSS JOIN st2),
      |sc_s AS (SELECT q.query_id, p.doc_id, CAST(sum(u) AS BIGINT) AS su
      |         FROM part p JOIN qt q USING (token)
      |         WHERE p.doc_id % 7 <> 0 GROUP BY 1, 2),
      |r_s AS (SELECT 'screened' AS stage, query_id, doc_id, su, row_number() OVER
      |          (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rnk FROM sc_s),
      |toks2 AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
      |            unnest(string_split(lower(text), ' ')) AS token
      |          FROM documents WHERE doc_id % 7 <> 0),
      |stb AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS dl_sum
      |        FROM (SELECT len(string_split(lower(text), ' ')) AS dl FROM documents
      |              WHERE doc_id % 7 <> 0)),
      |st2b AS (SELECT n_docs, CAST(dl_sum AS DOUBLE) / n_docs AS avgdl FROM stb),
      |tfreq2 AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf,
      |             CAST(max(dl) AS BIGINT) AS dl
      |           FROM toks2 JOIN tset USING (token) GROUP BY doc_id, token),
      |dfreq2 AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfreq2 GROUP BY token),
      |part2 AS (SELECT t.doc_id, t.token,
      |            CAST(round(
      |              ln(CAST(1.0 AS DOUBLE) + (CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |                 / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |              * (CAST(t.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      |                 / (CAST(t.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |                    * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |                       + (CAST(0.75 AS DOUBLE) * CAST(t.dl AS DOUBLE)) / avgdl)))
      |              * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS u
      |          FROM tfreq2 t JOIN dfreq2 USING (token) CROSS JOIN st2b),
      |sc_p AS (SELECT q.query_id, p.doc_id, CAST(sum(u) AS BIGINT) AS su
      |         FROM part2 p JOIN qt q USING (token) GROUP BY 1, 2),
      |r_p AS (SELECT 'purged' AS stage, query_id, doc_id, su, row_number() OVER
      |          (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rnk FROM sc_p)
      |SELECT stage, query_id, doc_id,
      |       round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score,
      |       CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT * FROM r_s UNION ALL SELECT * FROM r_p) WHERE rnk <= 10""".stripMargin

  /** Oracle for the SimHash near-dup pair set (dedup_simhash and
    * streaming_neardup share it — the streaming screen discovers the
    * SAME distinct pairs, micro-batch by micro-batch, as the batch
    * band self-join computes in one plan). */
  private val SimHashPairsOracle =
       """WITH tok AS (SELECT DISTINCT doc_id, tok FROM (
             |         SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)),
             |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok),
             |bits AS (SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
             |         FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS j) g
             |         GROUP BY doc_id, j),
             |fp AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS f
             |       FROM bits GROUP BY doc_id)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
             |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.f, b.f)) <= 3""".stripMargin

  /** The shared deterministic-Lloyd CTE chain (seeds vec_id<4, two mean
    * recomputes, final assignment `af` + centroid frame `c2n`) — the SQL
    * twin of `kmeansCentroids(k=4, iters=2)` + `assignCell`, reused by
    * every oracle that consumes the trained model. */
  private val KmeansAssignCte =
       """WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, e AS ce,
             |         sqrt(list_sum(list_transform(e, x -> x * x))) AS cnrm FROM dv WHERE vec_id < 4),
             |a1 AS (SELECT vec_id, e, cell FROM (
             |         SELECT v.vec_id, v.e, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM n v CROSS JOIN c0 s) WHERE rn = 1),
             |m1 AS (SELECT cell, g.j,
             |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a1, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |c1 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m1 GROUP BY cell),
             |c1n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c1),
             |a2 AS (SELECT vec_id, e, cell FROM (
             |         SELECT v.vec_id, v.e, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM n v CROSS JOIN c1n s) WHERE rn = 1),
             |m2 AS (SELECT cell, g.j,
             |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a2, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |c2 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m2 GROUP BY cell),
             |c2n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c2),
             |af AS (SELECT vec_id, e, nrm, cell FROM (
             |         SELECT v.vec_id, v.e, v.nrm, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM n v CROSS JOIN c2n s) WHERE rn = 1)""".stripMargin

  /** Oracle for the deterministic trained-IVF paths (knn_ivf_kmeans and
    * knn_ivf_stored share it — the stored index changes WHERE the data
    * lives, not what the search returns). */
  /** Shared CTE chain for the residual-IVFADC oracles: coarse label
    * centroids -> residuals -> two L2-Lloyd passes per subspace ->
    * encode -> probe -> micro-unit scored candidates (`scored`). */
  private val ResidualScoredCte = """WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |el AS (SELECT vec_id, label, g.j, e[CAST(g.j AS INTEGER)] AS v
             |       FROM dv, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g),
             |cm AS (SELECT label AS cell, j,
             |         CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS cv
             |       FROM el GROUP BY label, j),
             |cent AS (SELECT cell, list(cv ORDER BY j) AS ce FROM cm GROUP BY cell),
             |cn AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM cent),
             |rl AS (SELECT el.vec_id, el.label AS cell, el.j, el.v - cm.cv AS rv
             |       FROM el JOIN cm ON cm.cell = el.label AND cm.j = el.j),
             |sv AS (SELECT vec_id, CAST((j - 1) // 8 AS INTEGER) AS js, list(rv ORDER BY j) AS sve
             |       FROM rl GROUP BY vec_id, CAST((j - 1) // 8 AS INTEGER)),
             |c0 AS (SELECT js, CAST(vec_id AS INTEGER) AS code, sve AS ce FROM sv WHERE vec_id < 8),
             |a1 AS (SELECT vec_id, js, sve, code FROM (
             |         SELECT s.vec_id, s.js, s.sve, c.code,
             |           row_number() OVER (PARTITION BY s.vec_id, s.js
             |             ORDER BY list_dot_product(c.ce, c.ce) - 2 * list_dot_product(s.sve, c.ce) ASC,
             |                      c.code ASC) AS rn
             |         FROM sv s JOIN c0 c ON c.js = s.js) WHERE rn = 1),
             |m1 AS (SELECT js, code, i.i,
             |         CAST(sum(CAST(sve[CAST(i.i AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a1, LATERAL (SELECT unnest(generate_series(1, 8)) AS i) i GROUP BY js, code, i.i),
             |c1 AS (SELECT js, code, list(cv ORDER BY i) AS ce FROM m1 GROUP BY js, code),
             |a2 AS (SELECT vec_id, js, sve, code FROM (
             |         SELECT s.vec_id, s.js, s.sve, c.code,
             |           row_number() OVER (PARTITION BY s.vec_id, s.js
             |             ORDER BY list_dot_product(c.ce, c.ce) - 2 * list_dot_product(s.sve, c.ce) ASC,
             |                      c.code ASC) AS rn
             |         FROM sv s JOIN c1 c ON c.js = s.js) WHERE rn = 1),
             |m2 AS (SELECT js, code, i.i,
             |         CAST(sum(CAST(sve[CAST(i.i AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a2, LATERAL (SELECT unnest(generate_series(1, 8)) AS i) i GROUP BY js, code, i.i),
             |c2 AS (SELECT js, code, list(cv ORDER BY i) AS ce FROM m2 GROUP BY js, code),
             |encf AS (SELECT vec_id, js, code FROM (
             |         SELECT s.vec_id, s.js, c.code,
             |           row_number() OVER (PARTITION BY s.vec_id, s.js
             |             ORDER BY list_dot_product(c.ce, c.ce) - 2 * list_dot_product(s.sve, c.ce) ASC,
             |                      c.code ASC) AS rn
             |         FROM sv s JOIN c2 c ON c.js = s.js) WHERE rn = 1),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, cn.cell, cn.ce AS cce,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, cn.ce) / (q.nrm * cn.cnrm) DESC, cn.cell ASC) AS pr
             |       FROM q CROSS JOIN cn),
             |probes AS (SELECT query_id, qe, cell,
             |             CAST(round(list_dot_product(qe, cce) * 1000000.0) AS BIGINT) AS c_micro
             |           FROM pr WHERE pr <= 2),
             |cand AS (SELECT p.query_id, p.qe, p.c_micro, c.vec_id AS neighbor_id
             |         FROM probes p JOIN dv c ON c.label = p.cell AND c.vec_id <> p.query_id),
             |terms AS (SELECT ca.query_id, ca.neighbor_id, ca.c_micro,
             |            CAST(round(list_dot_product(
             |              list_slice(ca.qe, e.js * 8 + 1, e.js * 8 + 8), cb.ce) * 1000000.0) AS BIGINT) AS tm
             |          FROM cand ca
             |          JOIN encf e ON e.vec_id = ca.neighbor_id
             |          JOIN c2 cb ON cb.js = e.js AND cb.code = e.code),
             |scored AS (SELECT query_id, neighbor_id,
             |             max(c_micro) + CAST(sum(tm) AS BIGINT) AS score_micro
             |           FROM terms GROUP BY query_id, neighbor_id),""".stripMargin

  private val IvfKmeansOracle = KmeansAssignCte + ",\n" +
       """q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, s.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, s.ce) / (q.nrm * s.cnrm) DESC, s.cell ASC) AS pr
             |       FROM q CROSS JOIN c2n s),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM pr WHERE pr <= 2),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN af c ON c.cell = p.cell
             |       WHERE c.vec_id <> p.query_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin

  /** knn_ivf_appended's oracle: the trained-IVF oracle with the appended
    * slice [100,110) EXCLUDED from training (seeds vec_id<4 and the two
    * Lloyd mean recomputes see only the build set) but INCLUDED in the
    * final serving assignment — exactly the stored-model append path. */
  private val IvfAppendOracle =
       """WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |tr AS (SELECT * FROM n WHERE vec_id < 100 OR vec_id >= 110),
             |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, e AS ce,
             |         sqrt(list_sum(list_transform(e, x -> x * x))) AS cnrm FROM dv WHERE vec_id < 4),
             |a1 AS (SELECT vec_id, e, cell FROM (
             |         SELECT v.vec_id, v.e, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM tr v CROSS JOIN c0 s) WHERE rn = 1),
             |m1 AS (SELECT cell, g.j,
             |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a1, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |c1 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m1 GROUP BY cell),
             |c1n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c1),
             |a2 AS (SELECT vec_id, e, cell FROM (
             |         SELECT v.vec_id, v.e, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM tr v CROSS JOIN c1n s) WHERE rn = 1),
             |m2 AS (SELECT cell, g.j,
             |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a2, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |c2 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m2 GROUP BY cell),
             |c2n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c2),
             |af AS (SELECT vec_id, e, nrm, cell FROM (
             |         SELECT v.vec_id, v.e, v.nrm, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM n v CROSS JOIN c2n s) WHERE rn = 1),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, s.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, s.ce) / (q.nrm * s.cnrm) DESC, s.cell ASC) AS pr
             |       FROM q CROSS JOIN c2n s),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM pr WHERE pr <= 2),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN af c ON c.cell = p.cell
             |       WHERE c.vec_id <> p.query_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin

  /** Shared CTE chain for the BOUNDED-SAMPLE-trained IVF oracles: the
    * deterministic hash sample (`(vec_id mod P)·2654435761 mod P`, ties
    * by id, lowest 64) is the training set; seeds = its 4 lowest ids
    * rank-labeled; two Lloyd passes over the SAMPLE; the final
    * assignment (`af`) runs over the FULL corpus through the sampled
    * model — exactly Similarity.ivfKmeansSampledTopK's math. */
  private val SampledIvfCte =
       """WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |tr AS (SELECT vec_id, e, nrm FROM (
             |         SELECT vec_id, e, nrm, row_number() OVER (
             |           ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id) AS srn
             |         FROM n) WHERE srn <= 64),
             |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             |         e AS ce, nrm AS cnrm
             |       FROM (SELECT vec_id, e, nrm FROM tr ORDER BY vec_id LIMIT 4)),
             |a1 AS (SELECT vec_id, e, cell FROM (
             |         SELECT v.vec_id, v.e, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM tr v CROSS JOIN c0 s) WHERE rn = 1),
             |m1 AS (SELECT cell, g.j,
             |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a1, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |c1 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m1 GROUP BY cell),
             |c1n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c1),
             |a2 AS (SELECT vec_id, e, cell FROM (
             |         SELECT v.vec_id, v.e, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM tr v CROSS JOIN c1n s) WHERE rn = 1),
             |m2 AS (SELECT cell, g.j,
             |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |       FROM a2, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |c2 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m2 GROUP BY cell),
             |c2n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c2),
             |af AS (SELECT vec_id, e, nrm, cell FROM (
             |         SELECT v.vec_id, v.e, v.nrm, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM n v CROSS JOIN c2n s) WHERE rn = 1),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, s.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, s.ce) / (q.nrm * s.cnrm) DESC, s.cell ASC) AS pr
             |       FROM q CROSS JOIN c2n s),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM pr WHERE pr <= 2),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN af c ON c.cell = p.cell
             |       WHERE c.vec_id <> p.query_id)""".stripMargin

  /** Two-level (coarse → children) IVF oracle, mirroring
    * Similarity.hierKmeansModel for kCells=4 (kCoarse=2, kChild=2),
    * iters=2, full-corpus training: coarse Lloyd exactly like the flat
    * CTE at k=2; children seed from the 2 lowest vec_ids per coarse
    * cell (leaf = coarse·2 + rank−1) and refine among their OWN coarse
    * cell's children only (the `s.cell // 2 = v.cc` join); probes walk
    * the flat leaf model. Ends at `sc` (query_id, neighbor_id, cosine)
    * like SampledIvfCte so the top-k and recall tails compose. */
  private val HierIvfCte =
       """WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |co0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cc,
             |          e AS ce, nrm AS cnrm
             |        FROM (SELECT vec_id, e, nrm FROM n ORDER BY vec_id LIMIT 2)),
             |ka1 AS (SELECT vec_id, e, cc FROM (
             |          SELECT v.vec_id, v.e, s.cc,
             |            row_number() OVER (PARTITION BY v.vec_id
             |              ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cc ASC) AS rn
             |          FROM n v CROSS JOIN co0 s) WHERE rn = 1),
             |km1 AS (SELECT cc, g.j,
             |          CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |        FROM ka1, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cc, g.j),
             |kc1 AS (SELECT cc, list(cv ORDER BY j) AS ce FROM km1 GROUP BY cc),
             |kc1n AS (SELECT cc, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM kc1),
             |ka2 AS (SELECT vec_id, e, cc FROM (
             |          SELECT v.vec_id, v.e, s.cc,
             |            row_number() OVER (PARTITION BY v.vec_id
             |              ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cc ASC) AS rn
             |          FROM n v CROSS JOIN kc1n s) WHERE rn = 1),
             |km2 AS (SELECT cc, g.j,
             |          CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |        FROM ka2, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cc, g.j),
             |kc2 AS (SELECT cc, list(cv ORDER BY j) AS ce FROM km2 GROUP BY cc),
             |kc2n AS (SELECT cc, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM kc2),
             |af AS (SELECT vec_id, e, nrm, cc FROM (
             |         SELECT v.vec_id, v.e, v.nrm, s.cc,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cc ASC) AS rn
             |         FROM n v CROSS JOIN kc2n s) WHERE rn = 1),
             |s0 AS (SELECT cc * 2 + CAST(rk - 1 AS INTEGER) AS cell, e AS ce, nrm AS cnrm FROM (
             |         SELECT cc, e, nrm, row_number() OVER (PARTITION BY cc ORDER BY vec_id) AS rk
             |         FROM af) WHERE rk <= 2),
             |hb1 AS (SELECT vec_id, e, cc, cell FROM (
             |          SELECT v.vec_id, v.e, v.cc, s.cell,
             |            row_number() OVER (PARTITION BY v.vec_id
             |              ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |          FROM af v JOIN s0 s ON s.cell // 2 = v.cc) WHERE rn = 1),
             |hm1 AS (SELECT cell, g.j,
             |          CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |        FROM hb1, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |hc1 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM hm1 GROUP BY cell),
             |hc1n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM hc1),
             |hb2 AS (SELECT vec_id, e, cc, cell FROM (
             |          SELECT v.vec_id, v.e, v.cc, s.cell,
             |            row_number() OVER (PARTITION BY v.vec_id
             |              ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |          FROM af v JOIN hc1n s ON s.cell // 2 = v.cc) WHERE rn = 1),
             |hm2 AS (SELECT cell, g.j,
             |          CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
             |        FROM hb2, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g GROUP BY cell, g.j),
             |hc2 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM hm2 GROUP BY cell),
             |hc2n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM hc2),
             |lf AS (SELECT vec_id, e, nrm, cell FROM (
             |         SELECT v.vec_id, v.e, v.nrm, s.cell,
             |           row_number() OVER (PARTITION BY v.vec_id
             |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
             |         FROM af v JOIN hc2n s ON s.cell // 2 = v.cc) WHERE rn = 1),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10)""".stripMargin + FlatProbeTail

  /** The flat-probe serving tail of [[HierIvfCte]]: every query scores
    * ALL leaf centroids (pr over hc2n), probes the top 2. (lazy — it is
    * referenced by [[HierIvfCte]] above its declaration.) */
  private lazy val FlatProbeTail =
       """,
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, s.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, s.ce) / (q.nrm * s.cnrm) DESC, s.cell ASC) AS pr
             |       FROM q CROSS JOIN hc2n s),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM pr WHERE pr <= 2),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN lf c ON c.cell = p.cell
             |       WHERE c.vec_id <> p.query_id)""".stripMargin

  /** [[HierIvfCte]] with ROUTED serving instead of the flat probe — the
    * ivfStoredTopKHier rule at nprobeCoarse=1, nprobe=1: each query
    * scores the pruned coarse model (ccn — coarse cells WITH children,
    * mirroring hierKmeansModel's childless-cell pruning), keeps its top
    * coarse cell, scores ONLY that cell's children and probes the best
    * one. Ends at `sc` like the flat form so the same tails compose. */
  private val HierIvfRoutedCte = HierIvfCte.stripSuffix(FlatProbeTail) +
       """,
             |ccn AS (SELECT k.cc, k.ce, k.cnrm FROM kc2n k
             |        WHERE k.cc IN (SELECT DISTINCT cell // 2 FROM hc2n)),
             |qp AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, s.cc,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, s.ce) / (q.nrm * s.cnrm) DESC, s.cc ASC) AS cpr
             |       FROM q CROSS JOIN ccn s),
             |qpc AS (SELECT query_id, qe, qnrm, cc FROM qp WHERE cpr <= 1),
             |lpr AS (SELECT p.query_id, p.qe, p.qnrm, s.cell,
             |          row_number() OVER (PARTITION BY p.query_id
             |            ORDER BY list_dot_product(p.qe, s.ce) / (p.qnrm * s.cnrm) DESC, s.cell ASC) AS pr
             |        FROM qpc p JOIN hc2n s ON s.cell // 2 = p.cc),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM lpr WHERE pr <= 1),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN lf c ON c.cell = p.cell
             |       WHERE c.vec_id <> p.query_id)""".stripMargin

  private lazy val moreDefs: Seq[(String, Q, Option[String])] = Seq(

    // ---- LLM: HIERARCHICAL IVF — the √cells assignment path (coarse →
    // children): with cells ∝ corpus, flat assignment is the one
    // superlinear build cost left (O(n·cells)); routing coarse-then-
    // children scores O(2·√cells) centroids per vector. Serving probes
    // the flat leaf model (request-sized); the oracle replays the whole
    // two-level Lloyd in SQL --------------------------------------------
    ("knn_ivf_hier", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.ivfHierTopK(e, e.filter(col("vec_id") < 10), 10,
        nprobe = 2, kCells = 4, iters = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some(HierIvfCte + """,
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall@10 of hierarchical-assignment IVF vs exact — the
    // evidence that the √cells assignment keeps recall in band (the
    // flat trainer's recall twin is ann_recall_ivf) ----------------------
    ("ann_recall_ivf_hier", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.ivfHierTopK(e, q, 10, nprobe = 2, kCells = 4, iters = 2))
    },
      Some(HierIvfCte + """,
             |ap AS (SELECT query_id, neighbor_id FROM (
             |          SELECT query_id, neighbor_id, row_number() OVER
             |            (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |          FROM sc)
             |        WHERE rnk <= 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: hier-ROUTED persisted-store lifecycle — the serve/append
    // counterpart of the √cells build: build a hier store minus a slice
    // (persisting the coarse ROUTING model), append the slice (assigned
    // through the stored two-level rule — O(batch·√cells)), tombstone a
    // takedown set, then serve through the router with FULL probes: the
    // routed path's exactness hook makes brute force the oracle ---------
    ("knn_ivf_hier_served", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfhierst_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeIvfIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path,
        kCells = 4, iters = 2, hier = true)
      Similarity.appendToIvfIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 97 === 0).select("vec_id"))
      val nCoarse = IndexStore.table(s, path, StoreTables.Cells.Coarse).count().toInt
      val nLeaves = IndexStore.table(s, path, StoreTables.Cells.Centroids).count().toInt
      Similarity.ivfStoredTopKHier(s, path, e.filter(col("vec_id") < 10), 10,
        nprobeCoarse = nCoarse, nprobe = nLeaves)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c
             |       WHERE c.vec_id <> q.vec_id AND c.vec_id % 97 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall@10 of the ROUTED serve at working probes
    // (nprobeCoarse=1, nprobe=1 — both routing stages selective): the
    // oracle replays the two-level model AND the router in SQL, so the
    // partial-probe routing math itself is hash-verified, not just the
    // full-probe degenerate case --------------------------------------
    ("ann_recall_ivf_hier_routed", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfhierrt_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2, hier = true)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.ivfStoredTopKHier(s, path, q, 10, nprobeCoarse = 1, nprobe = 1))
    },
      Some(HierIvfRoutedCte + """,
             |ap AS (SELECT query_id, neighbor_id FROM (
             |          SELECT query_id, neighbor_id, row_number() OVER
             |            (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |          FROM sc)
             |        WHERE rnk <= 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: hier routing over the IVF-PQ store — the memory-bound
    // tier gets the √cells serve/append path too: hier build (coarse
    // persists, codes derive from the leaf model), routed append,
    // takedown, ROUTED two-stage serve at full probes + uncapped
    // shortlist (the IVFADC exactness hook → brute-force oracle) -------
    ("knn_ivfpq_hier_served", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfpqhier_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeIvfPqIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path,
        kCells = 4, iters = 2, hier = true)
      Similarity.appendToIvfPqIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 97 === 0).select("vec_id"))
      val nCoarse = IndexStore.table(s, path, StoreTables.Cells.Coarse).count().toInt
      val nLeaves = IndexStore.table(s, path, StoreTables.Cells.Centroids).count().toInt
      Similarity.ivfPqStoredTopKHier(s, path, e.filter(col("vec_id") < 10), 10,
        nprobeCoarse = nCoarse, nprobe = nLeaves, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c
             |       WHERE c.vec_id <> q.vec_id AND c.vec_id % 97 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: hier routing over the PCA-IVF store — the routing model
    // lives in the SAME PCA space as the cells; queries project through
    // the stored basis before routing; exactness hook = full probe +
    // uncapped shortlist (stage 2 full-width rerank → brute force) -----
    ("knn_pca_ivf_hier_served", (s: SparkSession, d: String) => {
      val path = "target/tmp/pcaivfhier_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writePcaIvfIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path,
        dims = 16, kCells = 4, iters = 2, hier = true)
      Similarity.appendToPcaIvfIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 97 === 0).select("vec_id"))
      val nCoarse = IndexStore.table(s, path, StoreTables.Cells.Coarse).count().toInt
      val nLeaves = IndexStore.table(s, path, StoreTables.Cells.Centroids).count().toInt
      Similarity.pcaIvfStoredTopKHier(s, path, e.filter(col("vec_id") < 10), 10,
        nprobeCoarse = nCoarse, nprobe = nLeaves, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c
             |       WHERE c.vec_id <> q.vec_id AND c.vec_id % 97 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: signed-random-projection LSH top-k (the other scale path) --
    ("knn_srp", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.srpTopK(e, e.filter(col("vec_id") < 10), 10, numPlanes = 8)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |hp AS (SELECT vec_id AS hid, e AS he FROM dv WHERE vec_id < 8),
             |bk AS (SELECT d.vec_id,
             |         CAST(sum(CASE WHEN list_dot_product(d.e, hp.he) >= 0
             |                       THEN (1::BIGINT << hid) ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dv d CROSS JOIN hp GROUP BY d.vec_id),
             |n AS (SELECT d.vec_id, d.e, sqrt(list_sum(list_transform(d.e, x -> x * x))) AS nrm, b.bucket
             |      FROM dv d JOIN bk b USING (vec_id)),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: embedding near-dup pairs by cosine threshold ---------------
    ("emb_threshold_pairs", (s: SparkSession, d: String) =>
      Similarity.thresholdPairs(embs(s, d), 0.45)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine")),
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv)
             |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
             |FROM n a JOIN n b ON a.vec_id < b.vec_id
             |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45""".stripMargin)),

    // ---- LLM: embedding-cosine dedup completed to clusters — the same
    // connected-components → survivor step text dedup gets, over the
    // cosine-threshold pair set (near-dup modality #5 end-to-end) --------
    ("emb_dedup_clusters", (s: SparkSession, d: String) => {
      val pairs = Similarity.thresholdPairs(embs(s, d), 0.45)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.nearDupClusters(pairs).select(col("doc_id").as("vec_id"), col("cluster"))
    },
      Some("""WITH RECURSIVE
             |dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
             |          FROM n a JOIN n b ON a.vec_id < b.vec_id
             |          WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45),
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             |          UNION ALL SELECT doc_b, doc_a FROM pairs),
             |reach AS (SELECT src AS a, src AS b FROM edges
             |          UNION
             |          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
             |SELECT a AS vec_id, min(b) AS cluster FROM reach GROUP BY a""".stripMargin)),

    // ---- LLM: SRP-bucketed embedding near-dup pairs (the 100 TB path
    // for emb_threshold_pairs: equi-join on sign-bit bucket, no cross
    // join — recall bounded by the SRP collision probability) -------------
    ("emb_srp_pairs", (s: SparkSession, d: String) =>
      Similarity.srpThresholdPairs(embs(s, d), 0.3, numPlanes = 8)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine")),
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |hp AS (SELECT vec_id AS hid, e AS he FROM dv WHERE vec_id < 8),
             |bk AS (SELECT d.vec_id,
             |         CAST(sum(CASE WHEN list_dot_product(d.e, hp.he) >= 0
             |                       THEN (1::BIGINT << hid) ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dv d CROSS JOIN hp GROUP BY d.vec_id),
             |n AS (SELECT d.vec_id, d.e, sqrt(list_sum(list_transform(d.e, x -> x * x))) AS nrm, b.bucket
             |      FROM dv d JOIN bk b USING (vec_id))
             |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
             |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3""".stripMargin)),

    // ---- LLM: multi-table SRP pairs — the recall path: two independent
    // plane sets, a pair is missed only if BOTH tables split it (miss
    // probability decays exponentially in tables; cost linear) ------------
    ("emb_srp_multiprobe", (s: SparkSession, d: String) =>
      Similarity.srpMultiTablePairs(embs(s, d), 0.3, numPlanes = 8, numTables = 2)
        .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine")),
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |hp AS (SELECT CAST(vec_id % 8 AS INTEGER) AS hid, CAST(vec_id // 8 AS INTEGER) AS tbl,
             |         e AS he FROM dv WHERE vec_id < 16),
             |bk AS (SELECT d.vec_id, hp.tbl,
             |         CAST(sum(CASE WHEN list_dot_product(d.e, hp.he) >= 0
             |                       THEN (1::BIGINT << hid) ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dv d CROSS JOIN hp GROUP BY d.vec_id, hp.tbl),
             |n AS (SELECT d.vec_id, d.e, sqrt(list_sum(list_transform(d.e, x -> x * x))) AS nrm,
             |        b.tbl, b.bucket
             |      FROM dv d JOIN bk b USING (vec_id))
             |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
             |FROM n a JOIN n b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
             |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3""".stripMargin)),

    // ---- LLM: per-label centroid cohesion — distributed vector mean
    // (decimal-exact per element), then member-to-centroid cosine stats ---
    ("emb_label_centroids", (s: SparkSession, d: String) =>
      Similarity.labelCentroids(embs(s, d)),
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |comp AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM dv),
             |cm AS (SELECT label, pos,
             |         CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
             |       FROM comp GROUP BY label, pos),
             |cent AS (SELECT label, list(m ORDER BY pos) AS c FROM cm GROUP BY label),
             |cn AS (SELECT label, c, round(sqrt(list_dot_product(c, c)), 6) AS centroid_norm FROM cent),
             |cos AS (SELECT d.label, t.centroid_norm,
             |          list_dot_product(d.e, t.c)
             |            / (sqrt(list_dot_product(d.e, d.e)) * sqrt(list_dot_product(t.c, t.c))) AS cosine
             |        FROM dv d JOIN cn t ON t.label = d.label)
             |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, centroid_norm,
             |       round(CAST(sum(CAST(cosine AS DECIMAL(28,10))) AS DOUBLE) / count(*), 4) AS avg_cosine,
             |       round(min(cosine), 6) AS min_cosine,
             |       round(max(cosine), 6) AS max_cosine
             |FROM cos GROUP BY label, centroid_norm""".stripMargin)),

    // ---- LLM: text quality statistics ------------------------------------
    ("text_stats", (s: SparkSession, d: String) => TextOps.textStats(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
             |                  length(text) AS nc FROM documents)
             |SELECT doc_id, len(ws) AS n_words, CAST(nc AS BIGINT) AS n_chars_calc,
             |  round(CAST(nc - (len(ws) - 1) AS DOUBLE) / len(ws), 6) AS avg_word_len,
             |  round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS ttr,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['the','a','of','to','and','in','is','it'], x))) AS DOUBLE) / len(ws), 6) AS stopword_ratio,
             |  CAST(nc - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
             |FROM w""".stripMargin)),

    // ---- LLM: Gopher repetition signals (Rae et al. 2021 A1.1, adapted
    // to occurrence fractions) — top-bigram share + duplicate-5-gram
    // share + the repetitive flag at the documented thresholds ----------
    ("text_repetition", (s: SparkSession, d: String) => TextOps.repetitionStats(docs(s, d)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |bg AS (SELECT doc_id,
             |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
             |       FROM toks WHERE len(t) >= 2),
             |bga AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
             |bstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot2 FROM bga GROUP BY doc_id),
             |g5 AS (SELECT doc_id,
             |         unnest(list_transform(range(1, len(t) - 3),
             |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
             |       FROM toks WHERE len(t) >= 5),
             |g5a AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
             |g5stat AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
             |                  sum(c) AS tot5 FROM g5a GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(b.tot2, 0) AS BIGINT) AS n_bigrams,
             |  round(coalesce(CAST(b.mx AS DOUBLE) / b.tot2, 0), 6) AS top_bigram_frac,
             |  round(coalesce(CAST(s5.dup AS DOUBLE) / s5.tot5, 0), 6) AS dup_5gram_frac,
             |  (round(coalesce(CAST(b.mx AS DOUBLE) / b.tot2, 0), 6) > 0.20
             |   OR round(coalesce(CAST(s5.dup AS DOUBLE) / s5.tot5, 0), 6) > 0.15) AS flag_repetitive
             |FROM documents d
             |LEFT JOIN bstat b ON b.doc_id = d.doc_id
             |LEFT JOIN g5stat s5 ON s5.doc_id = d.doc_id""".stripMargin)),

    // ---- LLM: composite Gopher-rule quality verdict — the filter stack
    // as one row per doc with the failed rules spelled out ----------------
    ("quality_filter", (s: SparkSession, d: String) => TextOps.qualityFilter(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
             |                  length(text) AS nc FROM documents),
             |st AS (SELECT doc_id, len(ws) AS n_words,
             |  round(CAST(nc - (len(ws) - 1) AS DOUBLE) / len(ws), 6) AS awl,
             |  round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS ttr,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['the','a','of','to','and','in','is','it'], x))) AS DOUBLE) / len(ws), 6) AS swr
             |  FROM w),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |bg AS (SELECT doc_id,
             |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
             |       FROM toks WHERE len(t) >= 2),
             |bga AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
             |bstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot2 FROM bga GROUP BY doc_id),
             |g5 AS (SELECT doc_id,
             |         unnest(list_transform(range(1, len(t) - 3),
             |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
             |       FROM toks WHERE len(t) >= 5),
             |g5a AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
             |g5stat AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
             |                  sum(c) AS tot5 FROM g5a GROUP BY doc_id),
             |rep AS (SELECT d.doc_id,
             |  (round(coalesce(CAST(b.mx AS DOUBLE) / b.tot2, 0), 6) > 0.20
             |   OR round(coalesce(CAST(s5.dup AS DOUBLE) / s5.tot5, 0), 6) > 0.15) AS flag_rep
             |  FROM documents d
             |  LEFT JOIN bstat b ON b.doc_id = d.doc_id
             |  LEFT JOIN g5stat s5 ON s5.doc_id = d.doc_id),
             |v AS (SELECT st.doc_id, concat_ws(',',
             |    CASE WHEN n_words < 25 OR n_words > 10000 THEN 'word_count' END,
             |    CASE WHEN awl < 3.0 OR awl > 10.0 THEN 'word_length' END,
             |    CASE WHEN swr < 0.03 THEN 'stopwords' END,
             |    CASE WHEN ttr < 0.35 THEN 'diversity' END,
             |    CASE WHEN flag_rep THEN 'repetition' END) AS fail_reasons
             |  FROM st JOIN rep ON rep.doc_id = st.doc_id)
             |SELECT doc_id, fail_reasons, fail_reasons = '' AS passed FROM v""".stripMargin)),

    // ---- LLM: corpus vocabulary — top-N tokens by document frequency ----
    ("corpus_vocab", (s: SparkSession, d: String) => TextOps.vocabulary(docs(s, d)),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |per AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
             |v AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
             |             CAST(sum(tf) AS BIGINT) AS term_freq FROM per GROUP BY token),
             |r AS (SELECT *, CAST(row_number() OVER (ORDER BY doc_freq DESC, token) AS BIGINT) AS "rank" FROM v)
             |SELECT token, doc_freq, term_freq, "rank" FROM r WHERE "rank" <= 100""".stripMargin)),

    // ---- LLM: vocabulary coverage — fraction of token occurrences the
    // top-N vocab covers; the tokenizer-sizing audit --------------------
    ("vocab_coverage", (s: SparkSession, d: String) => TextOps.vocabCoverage(docs(s, d)),
      Some("""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |v AS (SELECT token, CAST(count(*) AS BIGINT) AS term_freq FROM toks GROUP BY token),
             |r AS (SELECT *, row_number() OVER (ORDER BY term_freq DESC, token) AS rnk FROM v),
             |top AS (SELECT CAST(count(*) AS BIGINT) AS top_n,
             |               CAST(sum(term_freq) AS BIGINT) AS covered_tf FROM r WHERE rnk <= 100),
             |tot AS (SELECT CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tf
             |        FROM documents)
             |SELECT top_n, covered_tf, total_tf,
             |       round(CAST(covered_tf AS DOUBLE) / total_tf, 6) AS coverage
             |FROM top CROSS JOIN tot""".stripMargin)),

    // ---- LLM: per-document TF-IDF top-k terms ---------------------------
    ("tfidf_terms", (s: SparkSession, d: String) => TextOps.tfidfTerms(docs(s, d)),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |per AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, token),
             |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq FROM per GROUP BY token),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT p.doc_id, p.token, p.tf, d.doc_freq,
             |         round(p.tf * ln(CAST(n_docs AS DOUBLE) / d.doc_freq), 6) AS tfidf
             |       FROM per p JOIN dfq d USING (token) CROSS JOIN n),
             |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token)
             |                     AS BIGINT) AS term_rank FROM sc)
             |SELECT doc_id, token, tf, doc_freq, tfidf, term_rank FROM r WHERE term_rank <= 5""".stripMargin)),

    // ---- LLM: BPE-ish token counting -------------------------------------
    ("token_count", (s: SparkSession, d: String) => TextOps.tokenCounts(docs(s, d)),
      Some("""SELECT doc_id,
             |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
             |FROM documents""".stripMargin)),

    // ---- LLM: language-id heuristic --------------------------------------
    ("lang_id", (s: SparkSession, d: String) => TextOps.langId(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, lang AS lang_actual, string_split(lower(text), ' ') AS ws FROM documents),
             |sc AS (SELECT doc_id, lang_actual,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['the','a','of','is'], x))) AS DOUBLE) / len(ws), 6) AS score_en,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['der','die','und','nicht'], x))) AS DOUBLE) / len(ws), 6) AS score_de,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['el','la','que','de'], x))) AS DOUBLE) / len(ws), 6) AS score_es,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['le','la','et','les'], x))) AS DOUBLE) / len(ws), 6) AS score_fr,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['de','le','shi','bu'], x))) AS DOUBLE) / len(ws), 6) AS score_zh
             |  FROM w)
             |SELECT *, CASE WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) > 0 THEN
             |    CASE WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
             |         WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
             |         WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
             |         WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
             |         ELSE 'zh' END
             |  ELSE 'und' END AS lang_pred
             |FROM sc""".stripMargin)),

    // ---- LLM: document fingerprints --------------------------------------
    ("doc_fingerprint", (s: SparkSession, d: String) => TextOps.fingerprints(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] || ' ' || ws[g+3] || ' ' || ws[g+4] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS g) t),
             |mn AS (SELECT doc_id, min(md5(s)) AS min_shingle_md5 FROM sh GROUP BY 1)
             |SELECT w.doc_id, md5(w.text) AS content_md5, mn.min_shingle_md5
             |FROM w LEFT JOIN mn ON mn.doc_id = w.doc_id""".stripMargin)),

    // ---- LLM: multimodal binary-column plumbing (decode is stubbed) ------
    ("multimodal_meta", (s: SparkSession, d: String) =>
      Multimodal.mediaFeatures(docs(s, d)).select("doc_id", "modality", "byte_len", "header_hex"),
      Some("""SELECT doc_id,
             |  ['image','audio','video'][CAST(CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 3 + 1 AS INTEGER)] AS modality,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |  substr(hex(encode(text)), 1, 8) AS header_hex
             |FROM documents""".stripMargin)),

    // ---- LLM: REAL frame sampling — video docs carry a valid GV1
    // framed container (header + nf frames of w·h·3 bytes); the demuxer
    // parses the header and slices every 2nd frame at its computed
    // stride. The oracle recomputes geometry from the text length and
    // re-slices the cycled pixel stream (byte==char: corpus is ASCII) ----
    ("frame_sample", (s: SparkSession, d: String) =>
      Multimodal.sampleVideoFrames(Multimodal.asVideoFrame(docs(s, d)), everyNth = 2)
        .toDF()
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("frame_idx"), md5(col("frame_bytes")).as("frame_md5")),
      Some("""WITH m AS (SELECT doc_id, text,
             |    ['image','audio','video'][CAST(CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 3 + 1 AS INTEGER)] AS modality
             |  FROM documents),
             |v AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
             |        2 + octet_length(encode(text)) % 5 AS nf,
             |        4 + octet_length(encode(text)) % 5 AS w,
             |        2 + octet_length(encode(text)) % 3 AS h
             |      FROM m WHERE modality = 'video' AND octet_length(encode(text)) > 0),
             |c AS (SELECT *, w * h * 3 AS fs, nf * w * h * 3 AS np,
             |        substr(repeat(text, CAST(ceil(CAST(nf * w * h * 3 AS DOUBLE) / len) AS INTEGER)),
             |               1, nf * w * h * 3) AS pix
             |      FROM v)
             |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, CAST(w AS BIGINT) AS width,
             |       CAST(h AS BIGINT) AS height, CAST(g.k AS BIGINT) AS frame_idx,
             |       md5(substr(pix, CAST(g.k * fs + 1 AS BIGINT), fs)) AS frame_md5
             |FROM c, LATERAL (SELECT unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS k) g
             |WHERE g.k % 2 = 0""".stripMargin)),

    // ---- LLM: REAL image decode — image docs carry a valid binary PPM
    // (P6) payload; the decoder parses the Netpbm header and walks the
    // pixel array. Oracle: geometry from the header formula, checksum
    // over the cycled pixel bytes (pixel i = text byte i mod len) --------
    ("ppm_decode", (s: SparkSession, d: String) =>
      Multimodal.decodePpmFrames(Multimodal.asPpmFrame(docs(s, d))).toDF(),
      Some("""WITH m AS (SELECT doc_id, text,
             |    ['image','audio','video'][CAST(CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 3 + 1 AS INTEGER)] AS modality
             |  FROM documents),
             |i AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
             |        4 + octet_length(encode(text)) % 13 AS w, 3 + octet_length(encode(text)) % 7 AS h
             |      FROM m WHERE modality = 'image' AND octet_length(encode(text)) > 0),
             |c AS (SELECT i.doc_id,
             |        CAST(sum(ord(substr(i.text, CAST(g.p % i.len + 1 AS BIGINT), 1))) AS BIGINT) AS cks
             |      FROM i, LATERAL (SELECT unnest(generate_series(0, CAST(i.w * i.h * 3 - 1 AS BIGINT))) AS p) g
             |      GROUP BY i.doc_id)
             |SELECT i.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |       CAST(w * h AS BIGINT) AS n_pixels, c.cks AS pixel_checksum
             |FROM i JOIN c USING (doc_id)""".stripMargin)),

    // ---- LLM: REAL resize — nearest-neighbor ×2 over the decoded PPM
    // pixel array (out(x,y,c) = in(2x,2y,c)), re-encoded as a valid P6.
    // Oracle inverts the stride walk with modular index arithmetic:
    // output byte i → (c, x, y) → source pixel byte → cycled text byte --
    ("media_resize", (s: SparkSession, d: String) =>
      Multimodal.ppmResize(Multimodal.asPpmFrame(docs(s, d))).toDF(),
      Some("""WITH m AS (SELECT doc_id, text,
             |    ['image','audio','video'][CAST(CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 3 + 1 AS INTEGER)] AS modality
             |  FROM documents),
             |i AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
             |        4 + octet_length(encode(text)) % 13 AS w, 3 + octet_length(encode(text)) % 7 AS h
             |      FROM m WHERE modality = 'image' AND octet_length(encode(text)) > 0),
             |o AS (SELECT *, w // 2 AS ow, h // 2 AS oh FROM i),
             |c AS (SELECT o.doc_id,
             |        CAST(sum(ord(substr(o.text,
             |          CAST((((2 * (g.p // (3 * o.ow))) * o.w + 2 * ((g.p // 3) % o.ow)) * 3
             |                + g.p % 3) % o.len + 1 AS BIGINT), 1))) AS BIGINT) AS cks
             |      FROM o, LATERAL (SELECT unnest(generate_series(0, CAST(o.ow * o.oh * 3 - 1 AS BIGINT))) AS p) g
             |      GROUP BY o.doc_id)
             |SELECT o.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |       CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
             |       CAST(3 + len(CAST(ow AS VARCHAR)) + 1 + len(CAST(oh AS VARCHAR)) + 5
             |            + ow * oh * 3 AS BIGINT) AS out_len,
             |       c.cks AS out_checksum
             |FROM o JOIN c USING (doc_id)""".stripMargin)),

    // ---- LLM: deterministic stratified sampling — content-hash keep
    // decision (reproducible, dedup-composable), per-language rates ------
    ("corpus_sample", (s: SparkSession, d: String) =>
      TextOps.deterministicSample(docs(s, d),
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang", "sample_bucket"),
      Some("""WITH b AS (SELECT doc_id, lang,
             |    ('0x' || substr(md5(text), 17, 15))::BIGINT % 10000 AS sample_bucket
             |  FROM documents)
             |SELECT doc_id, lang, sample_bucket FROM b
             |WHERE sample_bucket < CASE lang WHEN 'en' THEN 5000.0
             |                                WHEN 'de' THEN 2500.0 ELSE 1000.0 END""".stripMargin)),

    // ---- LLM: end-to-end training-shard pipeline (quality ∧ lang →
    // exact-dedup survivors → content-hash sharding → per-shard budgets) --
    // ---- LLM: shard pipeline with near-dup survivorship in front — the
    // MinHash-LSH cluster losers are dropped before quality/lang/exact-
    // dedup/sharding (the full curation chain as one declarative plan) ---
    ("corpus_shard_neardup", (s: SparkSession, d: String) =>
      TextOps.corpusShardsNearDup(docs(s, d), nShards = 8),
      Some("""WITH RECURSIVE
             |w0 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh0 AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |        FROM w0, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |          FROM sh0 a JOIN sh0 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT doc_a, doc_b FROM inter
             |          JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
             |          WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8),
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             |          UNION ALL SELECT doc_b, doc_a FROM pairs),
             |reach AS (SELECT src AS a, src AS b FROM edges
             |          UNION
             |          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
             |losers AS (SELECT a AS doc_id
             |           FROM (SELECT a, min(b) AS cluster FROM reach GROUP BY a)
             |           WHERE a <> cluster),
             |d2 AS (SELECT * FROM documents
             |       WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
             |w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM d2),
             |sc AS (SELECT doc_id, text, len(ws) AS n_words,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['the','a','of','is'], x))) AS DOUBLE) / len(ws), 6) AS s_en,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['der','die','und','nicht'], x))) AS DOUBLE) / len(ws), 6) AS s_de,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['el','la','que','de'], x))) AS DOUBLE) / len(ws), 6) AS s_es,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['le','la','et','les'], x))) AS DOUBLE) / len(ws), 6) AS s_fr,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['de','le','shi','bu'], x))) AS DOUBLE) / len(ws), 6) AS s_zh,
             |  round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS ttr
             |  FROM w),
             |keep AS (SELECT doc_id, text FROM sc
             |  WHERE greatest(s_en, s_de, s_es, s_fr, s_zh) > 0
             |    AND s_en = greatest(s_en, s_de, s_es, s_fr, s_zh)
             |    AND n_words >= 30 AND ttr >= 0.5
             |    AND doc_id IN (SELECT min(doc_id) FROM d2 GROUP BY md5(text))),
             |tok AS (SELECT doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
             |  FROM d2),
             |sh AS (SELECT k.doc_id, t.n_tokens,
             |    ('0x' || substr(md5(k.text), 1, 15))::BIGINT % 8 AS shard
             |  FROM keep k JOIN tok t ON t.doc_id = k.doc_id)
             |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
             |FROM sh GROUP BY shard""".stripMargin)),

    // ---- LLM: fixed-size token chunking with overlap (tokenize-and-pack,
    // the step before batching) — explode(sequence) + slice, no UDF ------
    ("doc_chunks", (s: SparkSession, d: String) =>
      TextOps.chunkDocs(docs(s, d), chunkTokens = 64, overlap = 16),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |c AS (SELECT doc_id, g.s AS start, len(ws) AS n,
             |        array_to_string(list_slice(ws, g.s + 1, LEAST(g.s + 64, len(ws))), ' ') AS chunk
             |      FROM w, LATERAL (SELECT unnest(generate_series(0, len(ws) - 1, 48)) AS s) g)
             |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
             |       CAST(LEAST(64, n - start) AS BIGINT) AS chunk_tokens,
             |       md5(chunk) AS chunk_md5
             |FROM c""".stripMargin)),

    // ---- LLM: benchmark decontamination — n-gram-overlap test-set leak
    // check; the eval set's shingles broadcast, the corpus shuffles never -
    ("decontaminate", (s: SparkSession, d: String) => {
      val dd = docs(s, d)
      TextOps.decontaminate(dd, dd.filter(col("doc_id") < 20), shingleK = 8)
    },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         ws[g]||' '||ws[g+1]||' '||ws[g+2]||' '||ws[g+3]||' '||ws[g+4]||' '||ws[g+5]||' '||ws[g+6]||' '||ws[g+7] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS g) t),
             |b AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
             |SELECT sh.doc_id, count(*) AS n_shared
             |FROM sh JOIN b ON b.s = sh.s GROUP BY 1""".stripMargin)),

    // ---- LLM: PII scrubbing — ordered email/phone/digit-run redaction
    // with per-category counts; pure regexp projection, one scan ---------
    ("pii_scrub", (s: SparkSession, d: String) => TextOps.piiScrub(docs(s, d)),
      Some("""WITH s1 AS (SELECT doc_id, text,
             |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
             |  FROM documents),
             |s2 AS (SELECT doc_id, text, t1,
             |    regexp_replace(t1, '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS t2 FROM s1)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(t1, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
             |  CAST(len(regexp_extract_all(t2, '\d+')) AS BIGINT) AS n_number,
             |  md5(regexp_replace(t2, '\d+', '<NUM>', 'g')) AS scrubbed_md5
             |FROM s2""".stripMargin)),

    ("corpus_shard", (s: SparkSession, d: String) => TextOps.corpusShards(docs(s, d), nShards = 8),
      Some("""WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM documents),
             |sc AS (SELECT doc_id, text, len(ws) AS n_words,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['the','a','of','is'], x))) AS DOUBLE) / len(ws), 6) AS s_en,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['der','die','und','nicht'], x))) AS DOUBLE) / len(ws), 6) AS s_de,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['el','la','que','de'], x))) AS DOUBLE) / len(ws), 6) AS s_es,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['le','la','et','les'], x))) AS DOUBLE) / len(ws), 6) AS s_fr,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['de','le','shi','bu'], x))) AS DOUBLE) / len(ws), 6) AS s_zh,
             |  round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS ttr
             |  FROM w),
             |keep AS (SELECT doc_id, text FROM sc
             |  WHERE greatest(s_en, s_de, s_es, s_fr, s_zh) > 0
             |    AND s_en = greatest(s_en, s_de, s_es, s_fr, s_zh)
             |    AND n_words >= 30 AND ttr >= 0.5
             |    AND doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))),
             |tok AS (SELECT doc_id,
             |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |sh AS (SELECT k.doc_id, t.n_tokens,
             |    ('0x' || substr(md5(k.text), 1, 15))::BIGINT % 8 AS shard
             |  FROM keep k JOIN tok t ON t.doc_id = k.doc_id)
             |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
             |FROM sh GROUP BY shard""".stripMargin)),

    // ---- LLM: corpus mixing — derive per-source sampling rates from the
    // observed token mass so the kept tokens hit a target mixture; rates
    // broadcast back onto one corpus scan, keep decision is salted-hash --
    ("corpus_mix", (s: SparkSession, d: String) => TextOps.mixCorpus(docs(s, d),
      Map("src0" -> 0.1, "src2" -> 0.1, "src8" -> 0.8), budgetFrac = 0.1),
      Some("""WITH base AS (SELECT doc_id, source AS stratum, text,
             |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens FROM documents),
             |per AS (SELECT stratum, CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM base GROUP BY stratum),
             |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM base),
             |r AS (SELECT stratum, round(least(1.0,
             |        (CASE stratum WHEN 'src0' THEN 0.1 WHEN 'src2' THEN 0.1
             |                      WHEN 'src8' THEN 0.8 ELSE 0.0 END)
             |        * 0.1 * total_tokens / src_tokens), 6) AS rate
             |      FROM per CROSS JOIN tot)
             |SELECT b.stratum, r.rate, count(*) AS n_docs_kept,
             |       CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens_kept
             |FROM base b JOIN r ON r.stratum = b.stratum
             |WHERE ('0x' || substr(md5('mix:' || b.text), 1, 15))::BIGINT % 10000 < r.rate * 10000
             |GROUP BY b.stratum, r.rate""".stripMargin)),

    // ---- LLM: unigram-LM surprisal — per-doc cross-entropy against the
    // corpus's own unigram distribution (cheap perplexity proxy);
    // micro-nat integer summation so no float-order dependence ----------
    ("doc_perplexity", (s: SparkSession, d: String) => TextOps.unigramSurprisal(docs(s, d)),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |per AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, token),
             |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM per GROUP BY token),
             |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
             |t AS (SELECT p.doc_id, p.tf,
             |        CAST(round(ln(CAST(total AS DOUBLE) / cnt) * 1000000.0) AS BIGINT) * p.tf AS term
             |      FROM per p JOIN v USING (token) CROSS JOIN n),
             |ag AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             |              CAST(sum(term) AS BIGINT) AS s FROM t GROUP BY doc_id)
             |SELECT doc_id, n_tokens,
             |       round(CAST(s AS DOUBLE) / 1000000.0 / n_tokens, 6) AS cross_entropy,
             |       round(exp(CAST(s AS DOUBLE) / 1000000.0 / n_tokens), 4) AS ppl
             |FROM ag""".stripMargin)),

    // ---- LLM: bigram-LM surprisal — conditional cross-entropy under the
    // corpus's own bigram model; the step up from the unigram proxy -----
    ("bigram_perplexity", (s: SparkSession, d: String) => TextOps.bigramSurprisal(docs(s, d)),
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |bgx AS (SELECT doc_id,
             |          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
             |        FROM toks WHERE len(t) >= 2),
             |per AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf FROM bgx GROUP BY doc_id, bg),
             |bc AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cnt FROM per GROUP BY bg),
             |w1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cnt) AS BIGINT) AS w1_cnt
             |       FROM bc GROUP BY 1),
             |t AS (SELECT p.doc_id, p.tf,
             |        CAST(round(ln(CAST(w.w1_cnt AS DOUBLE) / b.cnt) * 1000000.0) AS BIGINT)
             |          * p.tf AS term
             |      FROM per p JOIN bc b USING (bg)
             |      JOIN w1 w ON w.w1 = split_part(p.bg, ' ', 1)),
             |ag AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             |              CAST(sum(term) AS BIGINT) AS s FROM t GROUP BY doc_id)
             |SELECT doc_id, n_bigrams,
             |       round(CAST(s AS DOUBLE) / 1000000.0 / n_bigrams, 6) AS cross_entropy,
             |       round(exp(CAST(s AS DOUBLE) / 1000000.0 / n_bigrams), 4) AS ppl
             |FROM ag""".stripMargin)),

    // ---- LLM: token-budget batch packing — shard by content hash, pack
    // within each shard by prefix-summed tokens over a deterministic
    // (md5, doc_id) order; integer arithmetic end to end ----------------
    ("token_batching", (s: SparkSession, d: String) => TextOps.packBatches(docs(s, d)),
      Some("""WITH b AS (SELECT doc_id,
             |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             |        ('0x' || substr(md5(text), 1, 15))::BIGINT % 8 AS shard,
             |        md5(text) AS text_md5
             |      FROM documents),
             |w AS (SELECT doc_id, shard, n_tokens,
             |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY text_md5, doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prefix
             |      FROM b)
             |SELECT doc_id, shard, n_tokens, CAST(prefix // 512 AS BIGINT) AS batch_in_shard
             |FROM w""".stripMargin)),

    // ---- LLM: k-NN majority-vote labeling — embedding-space auto-label
    // with leave-one-out accuracy audit over the labeled set ------------
    ("knn_label_vote", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.labelVote(e, e.filter(col("vec_id") < 20), 15)
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 20),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, label,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc),
             |v AS (SELECT query_id, label, count(*) AS votes FROM r WHERE rnk <= 15 GROUP BY query_id, label),
             |p AS (SELECT query_id, label, votes,
             |        row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr
             |      FROM v)
             |SELECT p.query_id, p.votes, p.label AS pred_label, q.label AS true_label,
             |       p.label = q.label AS hit
             |FROM p JOIN q ON q.vec_id = p.query_id WHERE p.vr = 1""".stripMargin)),

    // ---- LLM: product-quantization index build — per-subspace per-label
    // mean codebooks, corpus compressed to m codes per vector -----------
    ("pq_encode", (s: SparkSession, d: String) => Similarity.pqEncode(embs(s, d)),
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |comp AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM dv),
             |cm AS (SELECT label, pos,
             |         round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS m
             |       FROM comp GROUP BY label, pos),
             |cmj AS (SELECT label, pos, m, CAST((pos - 1) // 8 AS INTEGER) + 1 AS j FROM cm),
             |cb AS (SELECT label, j, list(m ORDER BY pos) AS c FROM cmj GROUP BY label, j),
             |dist AS (SELECT d.vec_id, cb.j, cb.label,
             |           list_dot_product(cb.c, cb.c)
             |             - 2 * list_dot_product(list_slice(d.e, (cb.j - 1) * 8 + 1, cb.j * 8), cb.c) AS dk
             |         FROM dv d CROSS JOIN cb),
             |enc AS (SELECT vec_id, j, label AS code,
             |          row_number() OVER (PARTITION BY vec_id, j ORDER BY dk, label) AS rn
             |        FROM dist)
             |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY j) AS codes
             |FROM enc WHERE rn = 1 GROUP BY vec_id""".stripMargin)),

    // ---- LLM: PQ asymmetric-distance top-k — query keeps its vector,
    // corpus is codes only; micro-unit integer scoring ------------------
    ("knn_pq_adc", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), 10)
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |comp AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM dv),
             |cm AS (SELECT label, pos,
             |         round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS m
             |       FROM comp GROUP BY label, pos),
             |cmj AS (SELECT label, pos, m, CAST((pos - 1) // 8 AS INTEGER) + 1 AS j FROM cm),
             |cb AS (SELECT label, j, list(m ORDER BY pos) AS c FROM cmj GROUP BY label, j),
             |dist AS (SELECT d.vec_id, cb.j, cb.label,
             |           list_dot_product(cb.c, cb.c)
             |             - 2 * list_dot_product(list_slice(d.e, (cb.j - 1) * 8 + 1, cb.j * 8), cb.c) AS dk
             |         FROM dv d CROSS JOIN cb),
             |enc AS (SELECT vec_id, j, label AS code FROM (
             |          SELECT vec_id, j, label, row_number() OVER
             |            (PARTITION BY vec_id, j ORDER BY dk, label) AS rn FROM dist)
             |        WHERE rn = 1),
             |q AS (SELECT vec_id, e FROM dv WHERE vec_id < 10),
             |part AS (SELECT q.vec_id AS query_id, en.vec_id AS neighbor_id,
             |           CAST(round(list_dot_product(list_slice(q.e, (en.j - 1) * 8 + 1, en.j * 8), cb.c)
             |                      * 1000000.0) AS BIGINT) AS micro
             |         FROM q CROSS JOIN enc en JOIN cb ON cb.j = en.j AND cb.label = en.code
             |         WHERE en.vec_id <> q.vec_id),
             |sc AS (SELECT query_id, neighbor_id, CAST(sum(micro) AS BIGINT) AS score_micro
             |       FROM part GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER
             |        (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk FROM sc)
             |SELECT query_id, neighbor_id,
             |       round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS adc_score
             |FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: normalized-form exact dedup — case/punct/digit jitter
    // cannot hide a duplicate from the canonical-form hash --------------
    ("dedup_normalized", (s: SparkSession, d: String) => TextOps.normalizedDedup(docs(s, d)),
      Some("""WITH nz AS (SELECT doc_id,
             |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(text),
             |        '\s+', ' ', 'g'), '[0-9]+', '0', 'g'), '[^a-z0-9 ]', '', 'g'),
             |        ' +', ' ', 'g')) AS norm
             |  FROM documents),
             |h AS (SELECT doc_id, norm, md5(norm) AS norm_md5 FROM nz),
             |k AS (SELECT doc_id, norm_md5,
             |        CASE WHEN norm = '' THEN doc_id
             |             ELSE min(doc_id) OVER (PARTITION BY norm_md5) END AS keep_id
             |      FROM h)
             |SELECT doc_id, norm_md5, keep_id, doc_id = keep_id AS is_survivor FROM k""".stripMargin)),

    // ---- LLM: per-source corpus report card — doc/token mass, exact-dup
    // rate, language share; the pre-training audit table ----------------
    ("corpus_report", (s: SparkSession, d: String) => TextOps.corpusReport(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, source, text, string_split(lower(text), ' ') AS ws FROM documents),
             |sc AS (SELECT doc_id,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['the','a','of','is'], x))) AS DOUBLE) / len(ws), 6) AS score_en,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['der','die','und','nicht'], x))) AS DOUBLE) / len(ws), 6) AS score_de,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['el','la','que','de'], x))) AS DOUBLE) / len(ws), 6) AS score_es,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['le','la','et','les'], x))) AS DOUBLE) / len(ws), 6) AS score_fr,
             |  round(CAST(len(list_filter(ws, x -> list_contains(['de','le','shi','bu'], x))) AS DOUBLE) / len(ws), 6) AS score_zh
             |  FROM w),
             |p AS (SELECT doc_id, CASE WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) > 0 THEN
             |    CASE WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
             |         WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
             |         WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
             |         WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
             |         ELSE 'zh' END
             |  ELSE 'und' END AS lang_pred FROM sc),
             |rep AS (SELECT w.doc_id, w.source, len(w.ws) AS n_words, md5(w.text) AS h, p.lang_pred
             |        FROM w JOIN p ON p.doc_id = w.doc_id)
             |SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens,
             |       CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
             |       round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 4) AS dup_frac,
             |       round(CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS en_frac
             |FROM rep GROUP BY source""".stripMargin)),

    // ---- LLM: streaming corpus ingest with online exact dedup — the
    // Dedup.exactGroups twin for a continuous document feed. Survivor
    // doc_ids are arrival-order-dependent, so the check reads the
    // CONTENT-level summary (deterministic: dup texts are identical) ----
    ("streaming_dedup_ingest", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamdocs_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val q = graft.streaming.StreamingCorpus.dedupIngest(
        ea.documentsStream(s, d), s"$base/tier", s"$base/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$base/tier").agg(
        count(lit(1)).as("n_unique"),
        sum(size(split(lower(col("text")), " "))).cast("long").as("n_tokens"),
        min(col("content_md5")).as("min_md5"),
        max(col("content_md5")).as("max_md5"))
    },
      Some("""WITH u AS (SELECT md5(text) AS h,
             |         min(len(string_split(lower(text), ' '))) AS toks
             |       FROM documents GROUP BY md5(text))
             |SELECT CAST(count(*) AS BIGINT) AS n_unique,
             |       CAST(sum(toks) AS BIGINT) AS n_tokens,
             |       min(h) AS min_md5, max(h) AS max_md5 FROM u""".stripMargin)),

    // ---- LLM: STREAMING near-dup screen — SimHash banding as a stateful
    // stream; each arrival compares only against its band buckets' state,
    // and the distinct pair set equals the batch band self-join's
    // (pigeonhole recall, micro-batching-independent) ---------------------
    ("streaming_neardup", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamneardup_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val q = graft.streaming.StreamingNearDup.screen(
        ea.documentsStream(s, d), s"$base/pairs", s"$base/ckpt", maxHamming = 3)
      q.awaitTermination()
      s.read.parquet(s"$base/pairs")
        .select("doc_a", "doc_b", "hamming").distinct()
    },
      Some(SimHashPairsOracle)),

    // ---- LLM: continuous corpus → searchable BM25 index — micro-batch
    // waves fold into the persisted inverted index (first batch builds,
    // later batches append idempotently); serving answers equal the
    // full-corpus index, so the batch oracle verifies the whole
    // stream-ingest lifecycle -------------------------------------------
    ("streaming_bm25_index", (s: SparkSession, d: String) => {
      val base = "target/tmp/streambm25_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val all = docs(s, d)
      // two staged files → two micro-batches: build wave + append wave
      all.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$base/src")
      all.filter(col("doc_id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.streaming.StreamingRetrieval.indexIngest(
        stream, s"$base/idx", s"$base/ckpt")
      q.awaitTermination()
      Retrieval.bm25StoredTopK(s, s"$base/idx", bm25Queries(s), k = 10)
    },
      Some(s"""WITH $Bm25Cte
              |SELECT query_id, doc_id,
              |       round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score,
              |       CAST(rnk AS BIGINT) AS rank
              |FROM lexrank WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: continuous embedding stream → searchable IVF index —
    // the first micro-batch trains the model and builds the store, the
    // second appends through the stored model; the final store is the
    // knn_ivf_appended lifecycle's, so that oracle verifies the whole
    // stream-ingest path ---------------------------------------------------
    ("streaming_ivf_index", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamivf_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val e = embs(s, d)
      // two staged files → two micro-batches: build (train) wave + append
      // wave. The file source orders batches by MODIFICATION TIME, and a
      // coarse-mtime filesystem can tie two back-to-back writes — unlike
      // the BM25 twin, the IVF store is wave-ORDER-dependent (the first
      // wave trains the model), so wave 1 is explicitly backdated
      e.filter(col("vec_id") < 100 || col("vec_id") >= 110)
        .coalesce(1).write.parquet(s"$base/src")
      backdate(s, s"$base/src")
      e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .coalesce(1).write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.streaming.StreamingSimilarity.ivfIngest(
        stream, s"$base/idx", s"$base/ckpt", kCells = 4, iters = 2)
      q.awaitTermination()
      Similarity.ivfStoredTopK(s, s"$base/idx", e.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(IvfAppendOracle)),

    // ---- §2.9: continuous embedding stream → HIERARCHICAL IVF store —
    // wave 1 trains coarse → children (the √cells assignment path) and
    // builds the FLAT-layout store, wave 2 appends through the stored
    // leaf model (the shared machinery, untouched); served with every
    // leaf probed the store answers EXACT brute-force top-k over the
    // full streamed corpus — a complete oracle despite the two-level
    // training -----------------------------------------------------------
    ("streaming_hier_index", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamhier_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val e = embs(s, d)
      e.filter(col("vec_id") < 100 || col("vec_id") >= 110)
        .coalesce(1).write.parquet(s"$base/src")
      backdate(s, s"$base/src")
      e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .coalesce(1).write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.streaming.StreamingSimilarity.ivfIngest(
        stream, s"$base/idx", s"$base/ckpt", kCells = 4, iters = 2,
        hier = true)
      q.awaitTermination()
      val leaves = IndexStore.table(s, s"$base/idx", StoreTables.Cells.Centroids).count().toInt
      Similarity.ivfStoredTopK(s, s"$base/idx", e.filter(col("vec_id") < 10),
        10, nprobe = leaves)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- §2.9: continuous embedding stream → PCA-IVF store — wave 1
    // fits the basis + trains the PCA-space cells, wave 2 appends through
    // BOTH stored models; served with every cell probed and an uncapped
    // shortlist the store answers EXACT brute-force top-k over the full
    // streamed corpus, so the whole stream-ingest path gets a complete
    // DuckDB oracle despite the learned basis ---------------------------
    ("streaming_pcaivf_index", (s: SparkSession, d: String) => {
      val base = "target/tmp/streampcaivf_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val e = embs(s, d)
      e.filter(col("vec_id") < 100 || col("vec_id") >= 110)
        .coalesce(1).write.parquet(s"$base/src")
      backdate(s, s"$base/src")
      e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .coalesce(1).write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.streaming.StreamingSimilarity.pcaIvfIngest(
        stream, s"$base/idx", s"$base/ckpt", dims = 16, kCells = 4, iters = 2)
      q.awaitTermination()
      Similarity.pcaIvfStoredTopK(s, s"$base/idx", e.filter(col("vec_id") < 10),
        10, nprobe = 4, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- §2.9: continuous embedding stream → IVF-PQ store — wave 1
    // trains cells + derives codebooks, wave 2 appends cells AND codes
    // through the stored model; all-probe + uncapped shortlist serve ==
    // exact brute force over the streamed corpus (complete oracle) ------
    ("streaming_ivfpq_index", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamivfpq_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val e = embs(s, d)
      e.filter(col("vec_id") < 100 || col("vec_id") >= 110)
        .coalesce(1).write.parquet(s"$base/src")
      backdate(s, s"$base/src")
      e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .coalesce(1).write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.streaming.StreamingSimilarity.ivfPqIngest(
        stream, s"$base/idx", s"$base/ckpt", kCells = 4, iters = 2)
      q.awaitTermination()
      Similarity.ivfPqStoredTopK(s, s"$base/idx", e.filter(col("vec_id") < 10),
        10, nprobe = 4, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- §2.9: continuous embedding stream → persisted SRP-LSH store —
    // wave 1 derives the hyperplanes (its lowest ids — the deterministic
    // plane rule) and builds; wave 2 buckets through the STORED planes;
    // the streamed store serves bit-equal to the inline srpTopK over the
    // full corpus (same planes, same buckets — complete oracle) ---------
    ("streaming_srp_index", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamsrp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val e = embs(s, d)
      e.filter(col("vec_id") < 100 || col("vec_id") >= 110)
        .coalesce(1).write.parquet(s"$base/src")
      backdate(s, s"$base/src")
      e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .coalesce(1).write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.streaming.StreamingSimilarity.srpIngest(
        stream, s"$base/idx", s"$base/ckpt", numPlanes = 8)
      q.awaitTermination()
      Similarity.srpStoredTopK(s, s"$base/idx", e.filter(col("vec_id") < 10), 10)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |hp AS (SELECT vec_id AS hid, e AS he FROM dv WHERE vec_id < 8),
             |bk AS (SELECT d.vec_id,
             |         CAST(sum(CASE WHEN list_dot_product(d.e, hp.he) >= 0
             |                       THEN (1::BIGINT << hid) ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dv d CROSS JOIN hp GROUP BY d.vec_id),
             |n AS (SELECT d.vec_id, d.e, sqrt(list_sum(list_transform(d.e, x -> x * x))) AS nrm, b.bucket
             |      FROM dv d JOIN bk b USING (vec_id)),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- §2.9: continuous embedding stream → RESIDUAL-IVFADC store —
    // wave 1 trains the coarse model AND residual codebooks (one atomic
    // unit), wave 2 appends cells and residual codes through the stored
    // pair; all-probe + uncapped shortlist serve == exact brute force
    // over the streamed corpus (complete oracle) ------------------------
    ("streaming_ivfpq_residual", (s: SparkSession, d: String) => {
      val base = "target/tmp/streamresid_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val e = embs(s, d)
      e.filter(col("vec_id") < 100 || col("vec_id") >= 110)
        .coalesce(1).write.parquet(s"$base/src")
      backdate(s, s"$base/src")
      e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .coalesce(1).write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = graft.streaming.StreamingSimilarity.ivfPqResidualIngest(
        stream, s"$base/idx", s"$base/ckpt", kCells = 4, iters = 2)
      q.awaitTermination()
      Similarity.ivfPqResidualStoredTopK(s, s"$base/idx",
        e.filter(col("vec_id") < 10), 10, nprobe = 4, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- §2.9: the drift-response loop CLOSED inside the ingest query —
    // wave 1 bootstrap-trains, wave 2 appends a point-reflected cohort
    // (every component negated: cell means swing, centroidDrift crashes
    // through the threshold), the maintainer fires retrainIvfIndex, and
    // the post-retrain serve must be INDISTINGUISHABLE from a fresh
    // build over the final corpus (the knn_ivf_retrained contract) — the
    // hash-verified surface is that equality plus the fired flag --------
    ("streaming_ivf_drift_retrain", (s: SparkSession, d: String) => {
      val base = "target/tmp/stivfdrift_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val e = embs(s, d).select("vec_id", "embedding")
      val drifted = e.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
      e.coalesce(1).write.parquet(s"$base/src")
      backdate(s, s"$base/src")
      drifted.coalesce(1).write.mode("append").parquet(s"$base/src")
      val schema = s.read.parquet(s"$base/src").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      // threshold calibrated above the fixture's post-reflection drift at
      // both SFs (cell-mean cosine 0.934-0.945 at sf0.01, 0.973-0.981 at
      // sf0.1) so the loop fires deterministically
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      // the fresh-build REFERENCE depends only on the staged fixture, not
      // on the stream's output — build it concurrently with the drain
      // (§2.6); the audit join below is unchanged either way
      graft.storage.IndexStore.inParallel(Seq(
        () => {
          val q = graft.streaming.StreamingSimilarity.ivfIngestWithRetrain(
            stream, s"$base/idx", s"$base/ckpt", kCells = 4, iters = 2,
            driftCosine = 0.985, onRetrain = _ => fired.incrementAndGet())
          q.awaitTermination()
        },
        // fresh-build reference over the SAME final corpus: deterministic
        // training makes the two stores answer identically iff the loop ran
        () => Similarity.writeIvfIndex(e.unionByName(drifted), s"$base/ref",
          kCells = 4, iters = 2)))
      val qs = e.filter(col("vec_id") < 10)
      def serve(p: String, mark: String) =
        Similarity.ivfStoredTopK(s, p, qs, 10, nprobe = 2)
          .select(col("query_id"), col("neighbor_id"), col("cosine"))
          .withColumn(mark, lit(1))
      serve(s"$base/idx", "a")
        .join(serve(s"$base/ref", "b"),
          Seq("query_id", "neighbor_id", "cosine"), "full_outer")
        .groupBy(col("query_id"))
        .agg((sum(when(col("a").isNull || col("b").isNull, 1).otherwise(0)) === 0)
          .as("serve_eq_fresh"))
        .select(col("query_id"), lit(fired.get() >= 1).as("retrain_fired"),
          col("serve_eq_fresh"))
    },
      Some("""SELECT vec_id AS query_id, TRUE AS retrain_fired,
             |       TRUE AS serve_eq_fresh
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // ---- LLM: IVF-PQ (IVFADC) — cell probing bounds WHICH vectors are
    // scored, PQ codes bound WHAT is read per vector; the composed
    // 100 TB search tier ------------------------------------------------
    ("knn_ivfpq", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), 10, nprobe = 2)
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |el AS (SELECT vec_id, label, g.j, e[CAST(g.j AS INTEGER)] AS v
             |       FROM dv, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g),
             |cm AS (SELECT label AS cell, j,
             |         CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS cv
             |       FROM el GROUP BY label, j),
             |cent AS (SELECT cell, list(cv ORDER BY j) AS ce FROM cm GROUP BY cell),
             |cn AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM cent),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, cn.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, cn.ce) / (q.nrm * cn.cnrm) DESC, cn.cell ASC) AS pr
             |       FROM q CROSS JOIN cn),
             |probes AS (SELECT query_id, qe, cell FROM pr WHERE pr <= 2),
             |comp AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM dv),
             |cmm AS (SELECT label, pos,
             |         round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS m
             |       FROM comp GROUP BY label, pos),
             |cmj AS (SELECT label, pos, m, CAST((pos - 1) // 8 AS INTEGER) + 1 AS j FROM cmm),
             |cb AS (SELECT label, j, list(m ORDER BY pos) AS c FROM cmj GROUP BY label, j),
             |dist AS (SELECT d.vec_id, d.label AS cell, cb.j, cb.label,
             |           list_dot_product(cb.c, cb.c)
             |             - 2 * list_dot_product(list_slice(d.e, (cb.j - 1) * 8 + 1, cb.j * 8), cb.c) AS dk
             |         FROM dv d CROSS JOIN cb),
             |enc AS (SELECT vec_id, cell, j, label AS code FROM (
             |          SELECT vec_id, cell, j, label, row_number() OVER
             |            (PARTITION BY vec_id, j ORDER BY dk, label) AS rn FROM dist)
             |        WHERE rn = 1),
             |part AS (SELECT p.query_id, en.vec_id AS neighbor_id,
             |           CAST(round(list_dot_product(list_slice(p.qe, (en.j - 1) * 8 + 1, en.j * 8), cb.c)
             |                      * 1000000.0) AS BIGINT) AS micro
             |         FROM probes p JOIN enc en ON en.cell = p.cell
             |         JOIN cb ON cb.j = en.j AND cb.label = en.code
             |         WHERE en.vec_id <> p.query_id),
             |sc AS (SELECT query_id, neighbor_id, CAST(sum(micro) AS BIGINT) AS score_micro
             |       FROM part GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER
             |        (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk FROM sc)
             |SELECT query_id, neighbor_id,
             |       round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS adc_score
             |FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: int8 scalar quantization index — per-vector symmetric
    // scale + codes; the 4x-memory near-lossless compression axis -------
    ("sq_encode", (s: SparkSession, d: String) => Similarity.sqEncode(embs(s, d)),
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |mxs AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM dv),
             |qz AS (SELECT vec_id, mx,
             |         CASE WHEN mx > 0 THEN list_transform(e, x -> CAST(round(x * 127.0 / mx) AS INTEGER))
             |              ELSE list_transform(e, x -> 0) END AS codes
             |       FROM mxs)
             |SELECT vec_id, mx AS max_abs,
             |       array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',') AS codes
             |FROM qz""".stripMargin)),

    // ---- LLM: int8 symmetric quantized top-k — integer dot is exact,
    // so ranking is deterministic without micro-unit tricks -------------
    ("knn_sq", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.sqTopK(e, e.filter(col("vec_id") < 10), 10)
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |mxs AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM dv),
             |qz AS (SELECT vec_id, mx / 127.0 AS scale,
             |         CASE WHEN mx > 0 THEN list_transform(e, x -> CAST(round(x * 127.0 / mx) AS INTEGER))
             |              ELSE list_transform(e, x -> 0) END AS codes
             |       FROM mxs),
             |q AS (SELECT * FROM qz WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         (q.scale * c.scale) * list_dot_product(
             |           list_transform(q.codes, x -> CAST(x AS DOUBLE)),
             |           list_transform(c.codes, x -> CAST(x AS DOUBLE))) AS sq_dot
             |       FROM q CROSS JOIN qz c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, sq_dot, row_number() OVER
             |        (PARTITION BY query_id ORDER BY sq_dot DESC, neighbor_id) AS rnk FROM sc)
             |SELECT query_id, neighbor_id, round(sq_dot, 6) AS sq_dot FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall audit of int8 search — expected near-lossless,
    // the contrast point to PQ's lossy codes ----------------------------
    ("ann_recall_sq", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.sqTopK(e, q, 10))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |qn AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM qn q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10),
             |mxs AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM dv),
             |qz AS (SELECT vec_id, mx / 127.0 AS scale,
             |         CASE WHEN mx > 0 THEN list_transform(e, x -> CAST(round(x * 127.0 / mx) AS INTEGER))
             |              ELSE list_transform(e, x -> 0) END AS codes
             |       FROM mxs),
             |q AS (SELECT * FROM qz WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         (q.scale * c.scale) * list_dot_product(
             |           list_transform(q.codes, x -> CAST(x AS DOUBLE)),
             |           list_transform(c.codes, x -> CAST(x AS DOUBLE))) AS sq_dot
             |       FROM q CROSS JOIN qz c WHERE c.vec_id <> q.vec_id),
             |ap AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY sq_dot DESC, neighbor_id) AS rnk FROM sc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: two-stage PQ serving — ADC shortlist(50) → exact rerank
    // to top-10 on raw vectors; the production compressed-search shape --
    ("knn_pq_rerank", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.pqRerankTopK(e, e.filter(col("vec_id") < 10), 10, shortlist = 50)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |comp AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM dv),
             |cmm AS (SELECT label, pos,
             |         round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS m
             |       FROM comp GROUP BY label, pos),
             |cmj AS (SELECT label, pos, m, CAST((pos - 1) // 8 AS INTEGER) + 1 AS j FROM cmm),
             |cb AS (SELECT label, j, list(m ORDER BY pos) AS c FROM cmj GROUP BY label, j),
             |dist AS (SELECT d.vec_id, cb.j, cb.label,
             |           list_dot_product(cb.c, cb.c)
             |             - 2 * list_dot_product(list_slice(d.e, (cb.j - 1) * 8 + 1, cb.j * 8), cb.c) AS dk
             |         FROM dv d CROSS JOIN cb),
             |enc AS (SELECT vec_id, j, label AS code FROM (
             |          SELECT vec_id, j, label, row_number() OVER
             |            (PARTITION BY vec_id, j ORDER BY dk, label) AS rn FROM dist)
             |        WHERE rn = 1),
             |part AS (SELECT q.vec_id AS query_id, en.vec_id AS neighbor_id,
             |           CAST(round(list_dot_product(list_slice(q.e, (en.j - 1) * 8 + 1, en.j * 8), cb.c)
             |                      * 1000000.0) AS BIGINT) AS micro
             |         FROM q CROSS JOIN enc en JOIN cb ON cb.j = en.j AND cb.label = en.code
             |         WHERE en.vec_id <> q.vec_id),
             |sc AS (SELECT query_id, neighbor_id, CAST(sum(micro) AS BIGINT) AS score_micro
             |       FROM part GROUP BY 1, 2),
             |short AS (SELECT query_id, neighbor_id FROM (
             |            SELECT query_id, neighbor_id, row_number() OVER
             |              (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk FROM sc)
             |          WHERE rnk <= 50),
             |ex AS (SELECT s.query_id, s.neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM short s JOIN q ON q.vec_id = s.query_id
             |       JOIN n c ON c.vec_id = s.neighbor_id),
             |r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER
             |        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM ex)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall audit of the two-stage path — rerank should buy
    // back most of what raw ADC top-10 loses ----------------------------
    ("ann_recall_pq_rerank", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.pqRerankTopK(e, q, 10, shortlist = 50))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |extop AS (SELECT query_id, neighbor_id FROM (
             |            SELECT query_id, neighbor_id, row_number() OVER
             |              (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |          WHERE rnk <= 10),
             |comp AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM dv),
             |cmm AS (SELECT label, pos,
             |         round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS m
             |       FROM comp GROUP BY label, pos),
             |cmj AS (SELECT label, pos, m, CAST((pos - 1) // 8 AS INTEGER) + 1 AS j FROM cmm),
             |cb AS (SELECT label, j, list(m ORDER BY pos) AS c FROM cmj GROUP BY label, j),
             |dist AS (SELECT d.vec_id, cb.j, cb.label,
             |           list_dot_product(cb.c, cb.c)
             |             - 2 * list_dot_product(list_slice(d.e, (cb.j - 1) * 8 + 1, cb.j * 8), cb.c) AS dk
             |         FROM dv d CROSS JOIN cb),
             |enc AS (SELECT vec_id, j, label AS code FROM (
             |          SELECT vec_id, j, label, row_number() OVER
             |            (PARTITION BY vec_id, j ORDER BY dk, label) AS rn FROM dist)
             |        WHERE rn = 1),
             |part AS (SELECT q.vec_id AS query_id, en.vec_id AS neighbor_id,
             |           CAST(round(list_dot_product(list_slice(q.e, (en.j - 1) * 8 + 1, en.j * 8), cb.c)
             |                      * 1000000.0) AS BIGINT) AS micro
             |         FROM q CROSS JOIN enc en JOIN cb ON cb.j = en.j AND cb.label = en.code
             |         WHERE en.vec_id <> q.vec_id),
             |sc AS (SELECT query_id, neighbor_id, CAST(sum(micro) AS BIGINT) AS score_micro
             |       FROM part GROUP BY 1, 2),
             |short AS (SELECT query_id, neighbor_id FROM (
             |            SELECT query_id, neighbor_id, row_number() OVER
             |              (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk FROM sc)
             |          WHERE rnk <= 50),
             |rr AS (SELECT s.query_id, s.neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM short s JOIN q ON q.vec_id = s.query_id
             |       JOIN n c ON c.vec_id = s.neighbor_id),
             |ap AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM rr)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM extop e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: ANN recall audit — IVF(nprobe=2) vs the exact top-10.
    // Absolute recall over this synthetic corpus is LOW by construction
    // (uniform random vectors carry no cluster structure for label cells
    // or PQ codebooks to exploit); the operator's job is to measure that
    // honestly — the tuning dial it audits is nprobe/codebook size ------
    ("ann_recall_ivf", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.ivfTopK(e, q, 10, nprobe = 2))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10),
             |el AS (SELECT vec_id, label, g.j, e[CAST(g.j AS INTEGER)] AS v
             |       FROM dv, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g),
             |cm AS (SELECT label AS cell, j,
             |         CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS cv
             |       FROM el GROUP BY label, j),
             |cent AS (SELECT cell, list(cv ORDER BY j) AS ce FROM cm GROUP BY cell),
             |cn AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM cent),
             |pr AS (SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, cn.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, cn.ce) / (q.nrm * cn.cnrm) DESC, cn.cell ASC) AS pr
             |       FROM q CROSS JOIN cn),
             |probes AS (SELECT query_id, qe, qnrm, cell FROM pr WHERE pr <= 2),
             |apsc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |         FROM probes p JOIN n c ON c.label = p.cell
             |         WHERE c.vec_id <> p.query_id),
             |ap AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM apsc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: ANN recall audit — PQ/ADC vs the exact top-10 -----------
    ("ann_recall_pq", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.pqTopK(e, q, 10))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10),
             |comp AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM dv),
             |cmm AS (SELECT label, pos,
             |         round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS m
             |       FROM comp GROUP BY label, pos),
             |cmj AS (SELECT label, pos, m, CAST((pos - 1) // 8 AS INTEGER) + 1 AS j FROM cmm),
             |cb AS (SELECT label, j, list(m ORDER BY pos) AS c FROM cmj GROUP BY label, j),
             |dist AS (SELECT d.vec_id, cb.j, cb.label,
             |           list_dot_product(cb.c, cb.c)
             |             - 2 * list_dot_product(list_slice(d.e, (cb.j - 1) * 8 + 1, cb.j * 8), cb.c) AS dk
             |         FROM dv d CROSS JOIN cb),
             |enc AS (SELECT vec_id, j, label AS code FROM (
             |          SELECT vec_id, j, label, row_number() OVER
             |            (PARTITION BY vec_id, j ORDER BY dk, label) AS rn FROM dist)
             |        WHERE rn = 1),
             |part AS (SELECT q.vec_id AS query_id, en.vec_id AS neighbor_id,
             |           CAST(round(list_dot_product(list_slice(q.e, (en.j - 1) * 8 + 1, en.j * 8), cb.c)
             |                      * 1000000.0) AS BIGINT) AS micro
             |         FROM q CROSS JOIN enc en JOIN cb ON cb.j = en.j AND cb.label = en.code
             |         WHERE en.vec_id <> q.vec_id),
             |sc AS (SELECT query_id, neighbor_id, CAST(sum(micro) AS BIGINT) AS score_micro
             |       FROM part GROUP BY 1, 2),
             |ap AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk FROM sc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: persisted near-dup index — build the corpus's MinHash-LSH
    // store once, then serve "what near-duplicates THIS doc?" lookups
    // (batch screening / contamination tracing) with a DPP-pruned banded
    // read + candidate-sized verify; no corpus re-scan per query --------
    ("neardup_index_stored", (s: SparkSession, d: String) => {
      val path = "target/tmp/neardupidx_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val dd = docs(s, d)
      Dedup.writeNearDupIndex(dd, path, shingleK = 3)
      Dedup.nearDupLookup(s, path, dd.filter(col("doc_id") < 50), shingleK = 3, threshold = 0.8)
        .select(col("query_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
    },
      Some(NearDupLookupOracle)),

    // ---- LLM: index lifecycle with COMPACTION — build, append a wave,
    // compact the accumulated file increments, then serve; the compacted
    // store answers identically to the freshly-built one ----------------
    ("neardup_index_compact", (s: SparkSession, d: String) => {
      val path = "target/tmp/neardupcomp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val dd = docs(s, d)
      Dedup.writeNearDupIndex(dd.filter(col("doc_id") >= 50), path, shingleK = 3)
      Dedup.appendToNearDupIndex(dd.filter(col("doc_id") < 50), path,
        shingleK = 3, threshold = 0.8).collect()
      Dedup.compactNearDupIndex(s, path)
      Dedup.nearDupLookup(s, path, dd.filter(col("doc_id") < 50), shingleK = 3, threshold = 0.8)
        .select(col("query_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
    },
      Some(NearDupLookupOracle)),

    // ---- LLM: incremental index maintenance — screen an arriving batch
    // against the EXISTING near-dup store, then fold it in (batch-sized
    // appends, no rebuild); result = the admission decision pairs -------
    ("neardup_index_append", (s: SparkSession, d: String) => {
      val path = "target/tmp/neardupapp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val dd = docs(s, d)
      Dedup.writeNearDupIndex(dd.filter(col("doc_id") >= 50), path, shingleK = 3)
      Dedup.appendToNearDupIndex(dd.filter(col("doc_id") < 50), path,
        shingleK = 3, threshold = 0.8)
        .select(col("query_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
    },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS query_id, b.doc_id AS corpus_id, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < 50
             |            AND b.doc_id >= 50 GROUP BY 1, 2)
             |SELECT query_id, corpus_id,
             |       round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
             |FROM inter JOIN sz x ON x.doc_id = query_id JOIN sz y ON y.doc_id = corpus_id
             |WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8""".stripMargin)),

    // ---- LLM: screen-and-REJECT admission (dropMatched) — an arriving
    // wave screens against the stored corpus and docs that near-dup it
    // are NOT admitted; the registered id set IS the admission decision --
    ("neardup_index_admit", (s: SparkSession, d: String) => {
      val path = "target/tmp/neardupadm_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val dd = docs(s, d)
      Dedup.writeNearDupIndex(dd.filter(col("doc_id") >= 50), path, shingleK = 3)
      Dedup.appendToNearDupIndex(dd.filter(col("doc_id") < 50), path,
        shingleK = 3, threshold = 0.8, dropMatched = true).collect()
      IndexStore.table(s, path, StoreTables.NearDup.Sizes).select(col("doc_id"))
        .filter(col("doc_id") < 50)
    },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS q, b.doc_id AS c2, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < 50
             |            AND b.doc_id >= 50 GROUP BY 1, 2),
             |rej AS (SELECT DISTINCT q FROM inter
             |        JOIN sz x ON x.doc_id = q JOIN sz y ON y.doc_id = c2
             |        WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8)
             |SELECT z.doc_id FROM sz z
             |WHERE z.doc_id < 50 AND z.doc_id NOT IN (SELECT q FROM rej)""".stripMargin)),

    // ---- LLM: takedown / decontamination REMOVAL on the persisted
    // near-dup index — tombstone-append-only delete (live-store safe),
    // served screened at once, physically purged by the next compaction;
    // both lifecycle stages must answer identically -----------------------
    ("neardup_index_delete", (s: SparkSession, d: String) => {
      val path = "target/tmp/neardupdel_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val dd = docs(s, d)
      Dedup.writeNearDupIndex(dd, path, shingleK = 3)
      Dedup.deleteFromNearDupIndex(s, path,
        dd.filter(col("doc_id") % 7 === 0).select("doc_id"))
      val q = dd.filter(col("doc_id") < 50)
      // the screened serve materializes BEFORE the compaction swaps files
      val screened = Dedup.nearDupLookup(s, path, q, shingleK = 3, threshold = 0.8)
        .withColumn("stage", lit("screened")).localCheckpoint()
      Dedup.compactNearDupIndex(s, path)
      val purged = Dedup.nearDupLookup(s, path, q, shingleK = 3, threshold = 0.8)
        .withColumn("stage", lit("purged"))
      screened.unionByName(purged)
        .select(col("stage"), col("query_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"))
    },
      Some(NearDupDeleteOracle)),

    // ---- LLM: delete-then-revive — a taken-down doc re-registers with
    // REPLACED text; the revival purge must keep its stale pre-delete
    // shingles out of every later Jaccard (doc 7's new text := doc 55's,
    // so the (55, 7, J=1) pair is the planted witness) --------------------
    ("neardup_index_revive", (s: SparkSession, d: String) => {
      val path = "target/tmp/nearduprev_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val dd = docs(s, d)
      Dedup.writeNearDupIndex(dd, path, shingleK = 3)
      Dedup.deleteFromNearDupIndex(s, path,
        dd.filter(col("doc_id") === 7).select("doc_id"))
      Dedup.appendToNearDupIndex(
        dd.filter(col("doc_id") === 55).withColumn("doc_id", lit(7L)), path,
        shingleK = 3, threshold = 0.8).collect()
      Dedup.nearDupLookup(s, path,
        dd.filter(col("doc_id") >= 50 && col("doc_id") < 100),
        shingleK = 3, threshold = 0.8)
        .select(col("query_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
    },
      Some(NearDupReviveOracle)),

    // ---- LLM: takedown on the persisted BM25 index — tombstone-only
    // delete serves screened at once UNDER BUILD-TIME RANKING STATS (the
    // standard takedown semantics), then compaction purges the rows and
    // REBUILDS df/avgdl/n_docs, after which scores equal a fresh rebuild
    // over the surviving corpus; the oracle pins both stages ------------
    ("bm25_index_delete", (s: SparkSession, d: String) => {
      val base = "target/tmp/bm25del_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val dd = docs(s, d)
      Retrieval.writeBm25Index(dd, base)
      Retrieval.deleteFromBm25Index(s, base,
        dd.filter(col("doc_id") % 7 === 0).select("doc_id"))
      val screened = Retrieval.bm25StoredTopK(s, base, bm25Queries(s), k = 10)
        .withColumn("stage", lit("screened")).localCheckpoint()
      Retrieval.compactBm25Index(s, base)
      val purged = Retrieval.bm25StoredTopK(s, base, bm25Queries(s), k = 10)
        .withColumn("stage", lit("purged"))
      screened.unionByName(purged)
        .select("stage", "query_id", "doc_id", "score", "rank")
    },
      Some(Bm25DeleteOracle)),

    // ---- LLM: takedown on the persisted IVF index — tombstoned vectors
    // stop ranking at once (screened serve), the cell-scattered rows
    // purge in compactIvfIndex's rewrite, and the centroid model never
    // retrains on deletes (the IVF operating contract); both stages must
    // answer identically --------------------------------------------------
    ("knn_ivf_delete", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfdel_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2)
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 7 === 0).select("vec_id"))
      val q = e.filter(col("vec_id") < 10)
      val screened = Similarity.ivfStoredTopK(s, path, q, 10, nprobe = 2)
        .withColumn("stage", lit("screened")).localCheckpoint()
      Similarity.compactIvfIndex(s, path)
      val purged = Similarity.ivfStoredTopK(s, path, q, 10, nprobe = 2)
        .withColumn("stage", lit("purged"))
      screened.unionByName(purged)
        .select(col("stage"), col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
    },
      Some(IvfDeleteOracle)),

    // ---- LLM: Bloom-prefiltered decontamination — the eval set becomes
    // ONE broadcast bitset, the corpus drops non-members map-side, and a
    // survivor-sized exact join removes false positives: byte-identical
    // output to `decontaminate`, without broadcasting the string set ----
    ("decontaminate_bloom", (s: SparkSession, d: String) => {
      val dd = docs(s, d)
      Sketches.decontaminateBloom(dd, dd.filter(col("doc_id") < 20), shingleK = 8)
    },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         ws[g]||' '||ws[g+1]||' '||ws[g+2]||' '||ws[g+3]||' '||ws[g+4]||' '||ws[g+5]||' '||ws[g+6]||' '||ws[g+7] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS g) t),
             |b AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
             |SELECT sh.doc_id, count(*) AS n_shared
             |FROM sh JOIN b ON b.s = sh.s GROUP BY 1""".stripMargin)),

    // ---- LLM: seeded training-order shuffle → sharded reader order;
    // hash-partitioned exchange + per-shard sort, NO global row-number --
    ("corpus_shuffle", (s: SparkSession, d: String) =>
      TextOps.corpusShuffle(docs(s, d), seed = 7, nShards = 8),
      Some("""WITH k AS (SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
             |           FROM documents),
             |s AS (SELECT doc_id, shuffle_key,
             |        ('0x' || substr(shuffle_key, 1, 15))::BIGINT % 8 AS shard FROM k)
             |SELECT doc_id, shuffle_key, shard,
             |       CAST(row_number() OVER (PARTITION BY shard
             |                               ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard
             |FROM s""".stripMargin)),

    // ---- LLM: Count-Min heavy hitters — exact top-20 tokens with the
    // CMS overestimate envelope hash-verified (band pattern, like
    // gauge_stats_p2sketch) ---------------------------------------------
    ("heavy_hitters", (s: SparkSession, d: String) =>
      Sketches.cmsHeavyHitters(docs(s, d), topK = 20),
      Some("""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token)
             |SELECT token, cnt,
             |       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
             |       TRUE AS cms_in_band
             |FROM c ORDER BY cnt DESC, token LIMIT 20""".stripMargin)),

    // ---- LLM: HLL vocabulary-cardinality audit — exact distinct tokens
    // next to the HLL++ estimate's 3-sigma band ---------------------------
    ("vocab_hll", (s: SparkSession, d: String) =>
      Sketches.vocabCardinality(docs(s, d)),
      Some("""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
             |SELECT CAST(count(DISTINCT token) AS BIGINT) AS exact_vocab,
             |       TRUE AS hll_in_band FROM t""".stripMargin)),

    // ---- LLM: SemDeDup (Abbas et al. 2023) — semantic dedup in
    // embedding space: k-means cells, then within each cell drop every
    // vector dominated by a duplicate (cosine >= τ) that sits FARTHER
    // from the centroid (the paper's diversity-keeping rule). Emits the
    // survivors. ---------------------------------------------------------
    ("semdedup", (s: SparkSession, d: String) =>
      Similarity.semDedup(embs(s, d), threshold = 0.45, kCells = 4, iters = 2),
      Some(KmeansAssignCte + ",\n" +
        """cc AS (SELECT a.vec_id, a.e, a.nrm, a.cell,
             |         list_dot_product(a.e, s.ce) / (a.nrm * s.cnrm) AS ccos
             |       FROM af a JOIN c2n s USING (cell)),
             |drp AS (SELECT DISTINCT a.vec_id
             |        FROM cc a JOIN cc b ON a.cell = b.cell AND b.vec_id <> a.vec_id
             |        WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45
             |          AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id)))
             |SELECT vec_id, cell, round(ccos, 6) AS centroid_cosine
             |FROM cc WHERE vec_id NOT IN (SELECT vec_id FROM drp)""".stripMargin)),

    // ---- LLM: substring-level duplicate spans (Lee et al. 2022's
    // ExactSubstr idea, token-shingle formulation) — positions whose
    // 8-gram repeats anywhere in the corpus, merged into maximal spans
    // (the unit span-dedup cuts out, vs dropping whole docs) -------------
    ("duplicate_spans", (s: SparkSession, d: String) =>
      TextOps.duplicateSpans(docs(s, d), gramK = 8, minCount = 2),
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |gx AS (SELECT doc_id, CAST(g - 1 AS INTEGER) AS pos,
             |         ws[g]||' '||ws[g+1]||' '||ws[g+2]||' '||ws[g+3]||' '||ws[g+4]||' '||ws[g+5]||' '||ws[g+6]||' '||ws[g+7] AS gram
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS g) t),
             |f AS (SELECT doc_id, pos FROM (
             |        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS occ FROM gx)
             |      WHERE occ >= 2),
             |m AS (SELECT doc_id, pos,
             |        max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM f),
             |r AS (SELECT doc_id, pos,
             |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |      FROM m)
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |       CAST(max(pos) + 8 AS BIGINT) AS span_end,
             |       CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens
             |FROM r GROUP BY doc_id, grp""".stripMargin)),

    // ---- LLM: the SKEW-SAFE duplicate-span plan — per-gram counts as a
    // map-side-combined aggregate + AQE-splittable join instead of the
    // gram window (the 100 TB form for boilerplate-heavy corpora); same
    // oracle: the two plans are output-identical by construction --------
    ("duplicate_spans_skewsafe", (s: SparkSession, d: String) =>
      TextOps.duplicateSpans(docs(s, d), gramK = 8, minCount = 2, skewSafe = true),
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |gx AS (SELECT doc_id, CAST(g - 1 AS INTEGER) AS pos,
             |         ws[g]||' '||ws[g+1]||' '||ws[g+2]||' '||ws[g+3]||' '||ws[g+4]||' '||ws[g+5]||' '||ws[g+6]||' '||ws[g+7] AS gram
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS g) t),
             |f AS (SELECT doc_id, pos FROM (
             |        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS occ FROM gx)
             |      WHERE occ >= 2),
             |m AS (SELECT doc_id, pos,
             |        max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM f),
             |r AS (SELECT doc_id, pos,
             |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |      FROM m)
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |       CAST(max(pos) + 8 AS BIGINT) AS span_end,
             |       CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens
             |FROM r GROUP BY doc_id, grp""".stripMargin)),

    // ---- LLM: DSIR importance weights (Xie et al. 2023) — hashed
    // unigram+bigram models, target (src0) vs raw corpus, per-doc
    // log-likelihood ratio in micro-nat integer sums ---------------------
    ("dsir_weights", (s: SparkSession, d: String) =>
      TextOps.dsirWeights(docs(s, d), isTarget = col("source") === "src0", buckets = 256),
      Some("""WITH w AS (SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents),
             |u AS (SELECT doc_id, source, unnest(ws) AS feat FROM w
             |      UNION ALL
             |      SELECT doc_id, source,
             |        unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS feat
             |      FROM w WHERE len(ws) >= 2),
             |b AS (SELECT doc_id, source = 'src0' AS tgt,
             |        ('0x' || substr(md5('dsir:' || feat), 1, 15))::BIGINT % 256 AS bucket FROM u),
             |c AS (SELECT bucket, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             |        CAST(count(*) AS BIGINT) AS cr FROM b GROUP BY bucket),
             |t AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM c),
             |tm AS (SELECT bucket,
             |         CAST(round((ln((ct + 1.0) / (tt + 256.0)) - ln((cr + 1.0) / (tr + 256.0)))
             |           * 1000000.0) AS BIGINT) AS term
             |       FROM c CROSS JOIN t)
             |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             |       round(CAST(sum(tm.term) AS DOUBLE) / 1000000.0, 6) AS logratio,
             |       round(CAST(sum(tm.term) AS DOUBLE) / 1000000.0 / count(*), 6) AS avg_logratio
             |FROM b JOIN tm USING (bucket) GROUP BY b.doc_id""".stripMargin)),

    // ---- LLM: the CUT step of span dedup — first-occurrence-wins,
    // merged loser spans, per-doc removed/kept token accounting ----------
    ("span_dedup_stats", (s: SparkSession, d: String) =>
      TextOps.spanDedupStats(docs(s, d), gramK = 8, minCount = 2),
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |gx AS (SELECT doc_id, CAST(g - 1 AS INTEGER) AS pos,
             |         ws[g]||' '||ws[g+1]||' '||ws[g+2]||' '||ws[g+3]||' '||ws[g+4]||' '||ws[g+5]||' '||ws[g+6]||' '||ws[g+7] AS gram
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS g) t),
             |f AS (SELECT doc_id, pos FROM (
             |        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS occ,
             |               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
             |        FROM gx)
             |      WHERE occ >= 2 AND rn > 1),
             |m AS (SELECT doc_id, pos,
             |        max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM f),
             |r AS (SELECT doc_id, pos,
             |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |      FROM m),
             |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM r GROUP BY doc_id, grp),
             |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |         CAST(sum(e - s) AS BIGINT) AS cut_tokens FROM sp GROUP BY doc_id)
             |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
             |       coalesce(pd.n_spans, 0) AS n_spans,
             |       coalesce(pd.cut_tokens, 0) AS cut_tokens,
             |       CAST(len(w.ws) AS BIGINT) - coalesce(pd.cut_tokens, 0) AS kept_tokens
             |FROM w LEFT JOIN pd USING (doc_id)""".stripMargin)),

    // ---- LLM: hard-negative mining — top-k most-similar OTHER-label
    // vectors per query (contrastive-training batch prep) ----------------
    ("hard_negatives", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10), 10)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c
             |       WHERE c.vec_id <> q.vec_id AND c.label <> q.label),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: IVF-probed hard negatives — the scale path: nprobe
    // nearest FOREIGN cells bound the candidates, label filter rides the
    // probed scan -------------------------------------------------------
    ("hard_negatives_ivf", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.hardNegativesIvf(e, e.filter(col("vec_id") < 10), 10, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |el AS (SELECT vec_id, label, g.j, e[CAST(g.j AS INTEGER)] AS v
             |       FROM dv, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g),
             |cm AS (SELECT label AS cell, j,
             |         CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS cv
             |       FROM el GROUP BY label, j),
             |cent AS (SELECT cell, list(cv ORDER BY j) AS ce FROM cm GROUP BY cell),
             |cn AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM cent),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT vec_id, label, e, nrm FROM n WHERE vec_id < 10),
             |pr AS (SELECT q.vec_id AS query_id, q.label AS q_label, q.e AS qe, q.nrm AS qnrm, cn.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, cn.ce) / (q.nrm * cn.cnrm) DESC, cn.cell ASC) AS pr
             |       FROM q CROSS JOIN cn),
             |probes AS (SELECT query_id, q_label, qe, qnrm, cell FROM pr WHERE pr <= 3),
             |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |       FROM probes p JOIN n c ON c.label = p.cell
             |       WHERE c.vec_id <> p.query_id AND c.label <> p.q_label),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: RESIDUAL IVFADC (Jégou §IV-A as published) — PQ trained
    // on and applied to x − centroid(cell); coarse term + residual ADC.
    // Training (2 L2-Lloyd passes per subspace), encode, probe, and
    // micro-unit scoring are all decimal/micro-deterministic, so the
    // full build→search path has a bit-exact SQL twin -------------------
    ("knn_ivfpq_residual", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.ivfPqResidualTopK(e, e.filter(col("vec_id") < 10), 10, nprobe = 2)
    },
      Some(ResidualScoredCte + """
             |r AS (SELECT query_id, neighbor_id, score_micro,
             |        row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk
             |      FROM scored)
             |SELECT query_id, neighbor_id,
             |       round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS adc_score
             |FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall@10 of residual IVFADC vs exact — the accuracy
    // evidence for encoding residuals instead of raw vectors ------------
    ("ann_recall_ivfpq_residual", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.ivfPqResidualTopK(e, q, 10, nprobe = 2))
    },
      Some(ResidualScoredCte + """
             |ap AS (SELECT query_id, neighbor_id FROM (
             |          SELECT query_id, neighbor_id, row_number() OVER
             |            (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk
             |          FROM scored)
             |        WHERE rnk <= 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: recall@10 of IVF-probed vs exact hard negatives — the
    // nprobe dial for the contrastive-batch miner ------------------------
    ("recall_hard_negatives", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.hardNegatives(e, q, 10),
        Similarity.hardNegativesIvf(e, q, 10, nprobe = 3))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c
             |         WHERE c.vec_id <> q.vec_id AND c.label <> q.label),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10),
             |el AS (SELECT vec_id, label, g.j, e[CAST(g.j AS INTEGER)] AS v
             |       FROM dv, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) g),
             |cm AS (SELECT label AS cell, j,
             |         CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(v) AS cv
             |       FROM el GROUP BY label, j),
             |cent AS (SELECT cell, list(cv ORDER BY j) AS ce FROM cm GROUP BY cell),
             |cn AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM cent),
             |pr AS (SELECT q.vec_id AS query_id, q.label AS q_label, q.e AS qe, q.nrm AS qnrm, cn.cell,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_dot_product(q.e, cn.ce) / (q.nrm * cn.cnrm) DESC, cn.cell ASC) AS pr
             |       FROM q CROSS JOIN cn),
             |probes AS (SELECT query_id, q_label, qe, qnrm, cell FROM pr WHERE pr <= 3),
             |apsc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(p.qe, c.e) / (p.qnrm * c.nrm) AS cosine
             |         FROM probes p JOIN n c ON c.label = p.cell
             |         WHERE c.vec_id <> p.query_id AND c.label <> p.q_label),
             |ap AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM apsc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: cross-split near-dup leakage — verified near-dup pairs
    // straddling the train/val/test boundary -----------------------------
    ("split_leakage", (s: SparkSession, d: String) =>
      TextOps.splitLeakage(docs(s, d)),
      Some("""WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (SELECT doc_a, doc_b,
             |            round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 6) AS jaccard
             |          FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
             |          WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8),
             |a AS (SELECT doc_id,
             |        CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'val' ELSE 'test' END AS split
             |      FROM (SELECT doc_id,
             |              ('0x' || substr(md5('split:' || text), 1, 15))::BIGINT % 10000 AS b
             |            FROM w))
             |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b, p.jaccard
             |FROM pairs p JOIN a sa ON sa.doc_id = p.doc_a JOIN a sb ON sb.doc_id = p.doc_b
             |WHERE sa.split <> sb.split""".stripMargin)),

    // ---- LLM: eval-side decontamination report — per benchmark doc,
    // compromised-shingle share and offending corpus-doc count ----------
    ("decontam_report", (s: SparkSession, d: String) => {
      val dd = docs(s, d)
      TextOps.decontaminationReport(dd, dd.filter(col("doc_id") < 20), shingleK = 8)
    },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         ws[g]||' '||ws[g+1]||' '||ws[g+2]||' '||ws[g+3]||' '||ws[g+4]||' '||ws[g+5]||' '||ws[g+6]||' '||ws[g+7] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS g) t),
             |b AS (SELECT doc_id AS bench_doc_id, s FROM sh WHERE doc_id < 20),
             |tot AS (SELECT bench_doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM b GROUP BY 1),
             |h AS (SELECT b.bench_doc_id, sh.doc_id, b.s
             |      FROM sh JOIN b ON b.s = sh.s AND sh.doc_id <> b.bench_doc_id),
             |a AS (SELECT bench_doc_id,
             |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_corpus_docs,
             |        CAST(count(DISTINCT s) AS BIGINT) AS n_shared_shingles
             |      FROM h GROUP BY 1)
             |SELECT tot.bench_doc_id, tot.n_shingles,
             |       coalesce(a.n_corpus_docs, 0) AS n_corpus_docs,
             |       coalesce(a.n_shared_shingles, 0) AS n_shared_shingles,
             |       round(CAST(coalesce(a.n_shared_shingles, 0) AS DOUBLE) / tot.n_shingles, 6) AS leak_ratio
             |FROM tot LEFT JOIN a USING (bench_doc_id)""".stripMargin)),

    // ---- LLM: split-assignment audit — per (split, source) doc/token
    // mass under the deterministic hash split --------------------------
    ("split_report", (s: SparkSession, d: String) =>
      TextOps.splitReport(docs(s, d)),
      Some("""WITH a AS (SELECT doc_id, source,
             |    CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'val' ELSE 'test' END AS split,
             |    len(string_split(lower(text), ' ')) AS n_tok
             |  FROM (SELECT doc_id, source, text,
             |          ('0x' || substr(md5('split:' || text), 1, 15))::BIGINT % 10000 AS b
             |        FROM documents))
             |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
             |FROM a GROUP BY split, source""".stripMargin)),

    // ---- LLM: tokenizer fertility by source (subwords/word,
    // chars/subword) under the fitted merges — oracle replays
    // train + greedy encode (BpeEncCtes) then mirrors the ratio tree ----
    ("bpe_fertility", (s: SparkSession, d: String) => {
      val dd = docs(s, d)
      Bpe.fertilityReport(dd, Bpe.trainMerges(dd, numMerges = 30))
    },
      Some(s"""WITH RECURSIVE
              |$BpeEncCtes
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_words) AS BIGINT) AS n_words,
              |  CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
              |  CASE WHEN sum(n_words) > 0
              |       THEN round(CAST(sum(n_subwords) AS DOUBLE) / sum(n_words), 6) END AS fertility,
              |  CASE WHEN sum(n_subwords) > 0
              |       THEN round(CAST(sum(n_chars_tokenized) AS DOUBLE) / sum(n_subwords), 6)
              |       END AS chars_per_subword
              |FROM bperdoc GROUP BY source""".stripMargin)),

    // ---- LLM: span-dedup APPLY — reconstructed per-doc text with the
    // merged loser spans cut out (md5-compared, the piiScrub convention) -
    ("span_dedup_text", (s: SparkSession, d: String) =>
      TextOps.spanDedupText(docs(s, d), gramK = 8, minCount = 2),
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |gx AS (SELECT doc_id, CAST(g - 1 AS INTEGER) AS pos,
             |         ws[g]||' '||ws[g+1]||' '||ws[g+2]||' '||ws[g+3]||' '||ws[g+4]||' '||ws[g+5]||' '||ws[g+6]||' '||ws[g+7] AS gram
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS g) t),
             |f AS (SELECT doc_id, pos FROM (
             |        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS occ,
             |               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
             |        FROM gx)
             |      WHERE occ >= 2 AND rn > 1),
             |m AS (SELECT doc_id, pos,
             |        max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM f),
             |r AS (SELECT doc_id, pos,
             |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |      FROM m),
             |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM r GROUP BY doc_id, grp),
             |tk AS (SELECT doc_id, CAST(g - 1 AS INTEGER) AS pos, ws[g] AS tok
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS g) t),
             |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
             |         WHERE NOT EXISTS (SELECT 1 FROM sp
             |           WHERE sp.doc_id = tk.doc_id AND tk.pos >= sp.s AND tk.pos < sp.e)),
             |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
             |          md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
             |        FROM kept GROUP BY doc_id)
             |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
             |       coalesce(agg.kept_tokens, 0) AS kept_tokens,
             |       coalesce(agg.clean_md5, md5('')) AS clean_md5
             |FROM w LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // ---- LLM: per-source document cap (RefinedWeb-style domain cap) —
    // deterministic content-hash-ranked survivors; under-cap sources
    // bypass the rank window entirely ------------------------------------
    ("source_cap", (s: SparkSession, d: String) =>
      TextOps.sourceCap(docs(s, d), cap = 15)
        .select(col("doc_id"), col("source")),
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
             |r AS (SELECT d.doc_id, d.source, c.n,
             |        row_number() OVER (PARTITION BY d.source
             |          ORDER BY ('0x' || substr(md5('cap:' || d.text), 1, 15))::BIGINT % 1000000000,
             |                   d.doc_id) AS rn
             |      FROM documents d JOIN c USING (source))
             |SELECT doc_id, source FROM r WHERE n <= 15 OR rn <= 15""".stripMargin)),

    // ---- LLM: deterministic train/val/test split — content-hash
    // residue intervals, stable under growth/reorder, leakage-proof ------
    ("corpus_split", (s: SparkSession, d: String) =>
      TextOps.stratifiedSplit(docs(s, d))
        .select(col("doc_id"), col("source"), col("split")),
      Some("""SELECT doc_id, source,
             |  CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'val' ELSE 'test' END AS split
             |FROM (SELECT doc_id, source,
             |        ('0x' || substr(md5('split:' || text), 1, 15))::BIGINT % 10000 AS b
             |      FROM documents)""".stripMargin)),

    // ---- LLM: BPE training, iteration-0 pair statistics — the one
    // corpus-sized stage (word-freq aggregate) + type-level pair explode -
    ("bpe_pair_counts", (s: SparkSession, d: String) =>
      Bpe.pairCounts(docs(s, d)),
      Some("""WITH wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
             |        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
             |      WHERE len(w) > 0 GROUP BY w),
             |p AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS lft,
             |             substr(w, CAST(i AS INTEGER) + 1, 1) AS rgt, freq
             |      FROM wf, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
             |      WHERE len(w) >= 2)
             |SELECT lft AS "left", rgt AS "right",
             |       CAST(sum(freq) AS BIGINT) AS pair_count
             |FROM p GROUP BY lft, rgt""".stripMargin)),

    // ---- LLM: BPE merge training — driver loop over the word-TYPE
    // dictionary (deterministic count-desc/pair-asc argmax); oracle
    // unrolls the 30 rounds as chained CTEs (BpeTrainCtes) --------------
    ("bpe_merges", (s: SparkSession, d: String) =>
      Bpe.trainMerges(docs(s, d), numMerges = 30),
      Some(s"""WITH $BpeTrainCtes
              |SELECT merge_rank, l AS "left", r AS "right", merged, pair_count
              |FROM bmerges""".stripMargin)),

    // ---- LLM: BPE application — per-doc subword counts under the
    // trained merges; oracle replays greedy encode per word type --------
    ("bpe_subwords", (s: SparkSession, d: String) => {
      val dd = docs(s, d)
      Bpe.subwordStats(dd, Bpe.trainMerges(dd, numMerges = 30))
    },
      Some(s"""WITH RECURSIVE
              |$BpeEncCtes
              |SELECT doc_id, n_words, n_subwords, n_chars_tokenized
              |FROM bperdoc""".stripMargin)),

    // ---- LLM: BPE vocabulary — the fitted tokenizer's corpus-frequency
    // subword table (merges + vocab = the complete artifact) -------------
    ("bpe_vocab", (s: SparkSession, d: String) => {
      val dd = docs(s, d)
      Bpe.subwordVocab(dd, Bpe.trainMerges(dd, numMerges = 30), topN = 50)
    },
      Some(s"""WITH RECURSIVE
              |$BpeEncCtes
              |SELECT sub AS subword, CAST(sum(freq) AS BIGINT) AS n_occurrences FROM (
              |  SELECT b.freq, unnest(f.sy) AS sub FROM bfin f JOIN bwf b USING (w))
              |GROUP BY sub ORDER BY n_occurrences DESC, subword ASC LIMIT 50""".stripMargin)),

    // ---- LLM: cross-source content overlap — exact pairwise shingle
    // Jaccard + the KMV bottom-k sketch's 3σ accuracy band ---------------
    ("source_overlap", (s: SparkSession, d: String) =>
      Sketches.sourceOverlapKMV(docs(s, d), shingleK = 3, k = 256),
      Some("""WITH w AS (SELECT d.doc_id, d.source, string_split(lower(d.text), ' ') AS ws
             |          FROM documents d),
             |sh AS (SELECT DISTINCT source, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
             |iv AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS c
             |       FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2),
             |sp AS (SELECT x.source AS src_a, y.source AS src_b, x.n AS n_a, y.n AS n_b
             |       FROM sz x CROSS JOIN sz y WHERE x.source < y.source)
             |SELECT sp.src_a, sp.src_b, sp.n_a, sp.n_b,
             |       coalesce(iv.c, 0) AS n_shared,
             |       round(CAST(coalesce(iv.c, 0) AS DOUBLE)
             |             / (sp.n_a + sp.n_b - coalesce(iv.c, 0)), 6) AS jaccard,
             |       TRUE AS kmv_in_band
             |FROM sp LEFT JOIN iv ON iv.src_a = sp.src_a AND iv.src_b = sp.src_b""".stripMargin)),

    // ---- LLM: Matryoshka-truncated search — exact cosine on the first
    // 16 of 64 dims (the cheap-scan prefix baseline) ---------------------
    ("knn_trunc", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.truncatedTopK(e, e.filter(col("vec_id") < 10), 10, dims = 16)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: two-stage Matryoshka serving — truncated shortlist(50)
    // → exact full-width rerank to top-10 --------------------------------
    ("knn_trunc_rerank", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.truncRerankTopK(e, e.filter(col("vec_id") < 10), 10,
        dims = 16, shortlist = 50)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |tv AS (SELECT vec_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |tn AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM tv),
             |tq AS (SELECT * FROM tn WHERE vec_id < 10),
             |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM tq q CROSS JOIN tn c WHERE c.vec_id <> q.vec_id),
             |short AS (SELECT query_id, neighbor_id FROM (
             |            SELECT query_id, neighbor_id, row_number() OVER
             |              (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM ts)
             |          WHERE rnk <= 50),
             |fn AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |fq AS (SELECT * FROM fn WHERE vec_id < 10),
             |fs AS (SELECT s.query_id, s.neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM short s JOIN fq q ON q.vec_id = s.query_id
             |                    JOIN fn c ON c.vec_id = s.neighbor_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM fs)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall@10 of the truncated-prefix search vs exact —
    // the dimension-truncation quality dial ------------------------------
    ("ann_recall_trunc", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.truncatedTopK(e, q, 10, dims = 16))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |qn AS (SELECT vec_id, e, nrm FROM n WHERE vec_id < 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM qn q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10),
             |tv AS (SELECT vec_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |tn AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM tv),
             |tq AS (SELECT * FROM tn WHERE vec_id < 10),
             |ts AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM tq q CROSS JOIN tn c WHERE c.vec_id <> q.vec_id),
             |ap AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM ts)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: PCA basis audit — the learned counterpart of the
    // Matryoshka prefix (works on ANY embeddings). The model is engine-
    // specific (driver Jacobi eigensolve), so the hash-verified surface
    // is the sketch-audit booleans: Bessel (projected energy never
    // exceeds the vector's) and Pythagoras (explicit reconstruction —
    // a non-orthonormal basis breaks the identity), per vector ----------
    ("emb_pca_audit", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.pcaAudit(e, Similarity.pcaFit(e, dims = 16))
    },
      Some("""SELECT vec_id, TRUE AS bessel_ok, TRUE AS pythagoras_ok
             |FROM embeddings""".stripMargin)),

    // ---- LLM: PCA energy dominance — the top-d eigenbasis must capture
    // at least the second-moment mass of the same-budget coordinate
    // prefix (it maximizes over ALL d orthonormal directions); the
    // estimate never crosses the oracle boundary ------------------------
    ("emb_pca_vs_prefix", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.pcaEnergyVsPrefix(e, Similarity.pcaFit(e, dims = 16))
    },
      Some("SELECT 16 AS dims, TRUE AS pca_ge_prefix")),

    // ---- LLM: recall audit of the PCA family — the learned-basis twin
    // of ann_recall_trunc. Recall VALUES are model-dependent (driver
    // eigensolve), so the hash-verified surface is (a) the PROVABLE
    // monotonicity — exact rerank of a ⊇-shortlist can only add hits:
    // any exact-top-10 member inside the shortlist is outranked there
    // only by other exact-top-10 members — and (b) a calibrated band
    // (rerank recall ≥ 0.15/query; measured min 0.3, avg 0.67 at
    // sf0.01, vs projected-only avg 0.22 and prefix-trunc avg 0.18) ----
    ("ann_recall_pca", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      val m = Similarity.pcaFit(e, dims = 16)
      val exact = Similarity.bruteForceTopK(e, q, 10)
      val pr = Similarity.recallAtK(exact, Similarity.pcaTopK(e, q, 10, m))
        .select(col("query_id"), col("recall").as("r_pca"))
      val rr = Similarity.recallAtK(exact,
        Similarity.pcaRerankTopK(e, q, 10, m, shortlist = 50))
        .select(col("query_id"), col("recall").as("r_rr"))
      pr.join(rr, Seq("query_id"))
        .select(col("query_id"),
          (col("r_rr") >= col("r_pca")).as("rerank_ge_projected"),
          (col("r_rr") >= 0.15).as("rerank_band_ok"))
    },
      Some("""SELECT vec_id AS query_id, TRUE AS rerank_ge_projected,
             |       TRUE AS rerank_band_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // ---- LLM: two-stage PCA serving — projected shortlist(50) → exact
    // full-width rerank. Neighbor ids ride the model, so the oracle pins
    // the serving STRUCTURE: exactly k ranked rows per query, cosines
    // monotone non-increasing down the ranking and inside the unit range
    // (the quality of the list is ann_recall_pca's job) ------------------
    ("knn_pca_rerank", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      val rr = Similarity.pcaRerankTopK(e, q, 10,
        Similarity.pcaFit(e, dims = 16), shortlist = 50)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      rr.withColumn("rnk", row_number().over(w))
        .withColumn("prev", lag(col("cosine"), 1).over(w))
        .select(col("query_id"), col("rnk"),
          (col("cosine") <= coalesce(col("prev"), lit(2.0)) + 1e-12).as("monotone_ok"),
          (abs(col("cosine")) <= lit(1.0) + 1e-9).as("in_unit_ok"))
    },
      Some("""SELECT e.vec_id AS query_id, CAST(r.x AS INTEGER) AS rnk,
             |       TRUE AS monotone_ok, TRUE AS in_unit_ok
             |FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 11)) AS x) r
             |WHERE e.vec_id < 10""".stripMargin)),

    // ---- LLM: PCA-IVF persisted index lifecycle — the FAISS
    // PCAMatrix→IVF pipeline (project → train/partition in PCA space →
    // probed-cell projected ranking → full-width rerank); build + serve
    // in the timed block (the *_stored cost class); neighbor ids ride
    // the model, so the oracle pins the serving STRUCTURE — exactly k
    // ranked rows per query, cosines monotone and in the unit range
    // (list quality is ann_recall_pca_ivf's job) -------------------------
    ("knn_pca_ivf", (s: SparkSession, d: String) => {
      val path = "target/tmp/pcaivf_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      rmrf(s, path)
      Similarity.writePcaIvfIndex(e, path, dims = 16, kCells = 4, iters = 2)
      val r = Similarity.pcaIvfStoredTopK(s, path, e.filter(col("vec_id") < 10),
        10, nprobe = 2, shortlist = 50)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      r.withColumn("rnk", row_number().over(w))
        .withColumn("prev", lag(col("cosine"), 1).over(w))
        .select(col("query_id"), col("rnk"),
          (col("cosine") <= coalesce(col("prev"), lit(2.0)) + 1e-12).as("monotone_ok"),
          (abs(col("cosine")) <= lit(1.0) + 1e-9).as("in_unit_ok"))
    },
      Some("""SELECT e.vec_id AS query_id, CAST(r.x AS INTEGER) AS rnk,
             |       TRUE AS monotone_ok, TRUE AS in_unit_ok
             |FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 11)) AS x) r
             |WHERE e.vec_id < 10""".stripMargin)),

    // ---- LLM: BM25 full-text retrieval — inverted-posting tf join with
    // broadcast query-term pruning; micro-unit partial sums --------------
    ("bm25_search", (s: SparkSession, d: String) => {
      import s.implicits._
      Retrieval.bm25TopK(docs(s, d), bm25Queries(s), k = 10)
    },
      Some(s"""WITH $Bm25Cte
              |SELECT query_id, doc_id,
              |       round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score,
              |       CAST(rnk AS BIGINT) AS rank
              |FROM lexrank WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: hybrid retrieval — reciprocal-rank fusion of the BM25
    // list and the embedding-cosine list (rank fusion needs no score
    // normalization; shortlist-sized outer join) -------------------------
    ("hybrid_rrf", (s: SparkSession, d: String) => {
      import s.implicits._
      val lex = Retrieval.bm25TopK(docs(s, d), bm25Queries(s), k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = embs(s, d)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("doc_id").asc)
      val vec = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), 20)
        .withColumnRenamed("neighbor_id", "doc_id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("query_id"), col("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, vec, k = 10)
    },
      Some(s"""WITH $Bm25Cte,
              |lexr AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rank
              |         FROM lexrank WHERE rnk <= 20),
              |dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
              |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
              |qn AS (SELECT * FROM n WHERE vec_id < 3),
              |vsc AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
              |          list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
              |        FROM qn q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
              |vecr AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rank FROM (
              |           SELECT query_id, doc_id, row_number() OVER
              |             (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk FROM vsc)
              |         WHERE rnk <= 20),
              |lc AS (SELECT query_id, doc_id,
              |         CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS lex_u,
              |         rank AS lex_rank FROM lexr),
              |vc AS (SELECT query_id, doc_id,
              |         CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS vec_u,
              |         rank AS vec_rank FROM vecr),
              |f AS (SELECT coalesce(lc.query_id, vc.query_id) AS query_id,
              |        coalesce(lc.doc_id, vc.doc_id) AS doc_id,
              |        coalesce(lex_u, 0) + coalesce(vec_u, 0) AS fused_u,
              |        lex_rank, vec_rank
              |      FROM lc FULL OUTER JOIN vc
              |        ON lc.query_id = vc.query_id AND lc.doc_id = vc.doc_id),
              |r AS (SELECT *, row_number() OVER
              |        (PARTITION BY query_id ORDER BY fused_u DESC, doc_id) AS fr FROM f)
              |SELECT query_id, doc_id,
              |       round(CAST(fused_u AS DOUBLE) / 1000000.0, 6) AS fused_score,
              |       CAST(fr AS BIGINT) AS fused_rank, lex_rank, vec_rank
              |FROM r WHERE fr <= 10""".stripMargin)),

    // ---- behavioral: gap-based sessionization over the raw event
    // stream (12 h gap); one user-keyed window + same-exchange aggregate -
    ("event_sessions", (s: SparkSession, d: String) =>
      EventOps.sessionize(ea.eventFrame(s, d), gapMs = 43200000L),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS time, value FROM events),
             |m AS (SELECT user_id, time, event_id, value,
             |        CASE WHEN lag(time) OVER w IS NULL THEN 1
             |             WHEN time - lag(time) OVER w > 43200000 THEN 1 ELSE 0 END AS ns
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY time, event_id)),
             |s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY time, event_id
             |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM m)
             |SELECT user_id, session_idx, min(time) AS session_start,
             |       max(time) AS session_end, max(time) - min(time) AS duration_ms,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS value_sum
             |FROM s GROUP BY user_id, session_idx""".stripMargin)),

    // ---- behavioral: ordered funnel (signup → view → purchase),
    // first-touch strictly-after semantics -------------------------------
    ("event_funnel", (s: SparkSession, d: String) =>
      EventOps.funnel(ea.eventFrame(s, d), Seq("signup", "view", "purchase")),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS time FROM events),
             |s1 AS (SELECT user_id, min(time) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.time) AS t FROM e JOIN s1 ON s1.user_id = e.user_id
             |       WHERE e.event_type = 'view' AND e.time > s1.t GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.time) AS t FROM e JOIN s2 ON s2.user_id = e.user_id
             |       WHERE e.event_type = 'purchase' AND e.time > s2.t GROUP BY 1),
             |c AS (SELECT CAST(1 AS BIGINT) AS step_idx, 'signup' AS step,
             |             CAST(count(*) AS BIGINT) AS n_users FROM s1
             |      UNION ALL SELECT 2, 'view', count(*) FROM s2
             |      UNION ALL SELECT 3, 'purchase', count(*) FROM s3),
             |b AS (SELECT n_users AS base_users FROM c WHERE step_idx = 1)
             |SELECT step_idx, step, n_users,
             |       round(CAST(n_users AS DOUBLE) / base_users, 6) AS conversion
             |FROM c CROSS JOIN b""".stripMargin)),

    // ---- Holt level+trend forecast. The fitted level/trend are an
    // engine-specific float fold (spec pins a hand-computed series); the
    // GATE hash-verifies what IS deterministic — the forecast timestamps
    // (last_time + h·step) and horizon spine — plus two invariants: the
    // h-step forecasts are collinear (l + h·b), and they stay inside a
    // 10×range band around the observed envelope (|b| is bounded by the
    // data range under alpha,beta ≤ 1, so 10× has huge slack) -----------
    ("series_forecast", (s: SparkSession, d: String) => {
      val fc = MetricsOps.holtForecast(gauge(s, d).filter(col("metric") === "click/42"),
        TimeRange(S, E), alpha = 0.3, beta = 0.1, horizon = 6,
        stepMs = 43200000L)
      val env = gauge(s, d).filter(col("metric") === "click/42")
        .filter(col("time") >= S && col("time") < E)
        .agg(min(col("n_value").cast("double")).as("vmin"),
          max(col("n_value").cast("double")).as("vmax"))
        .withColumn("metric", lit("click/42"))
      val f12 = fc.groupBy(col("metric")).agg(
        min(when(col("horizon") === 1, col("forecast"))).as("f1"),
        min(when(col("horizon") === 2, col("forecast"))).as("f2"))
      val rng = col("vmax") - col("vmin")
      fc.join(f12, Seq("metric")).join(broadcast(env), Seq("metric"))
        .select(col("metric"), col("horizon"), col("time"),
          (abs((col("forecast") - col("f1")) -
            (col("horizon") - 1).cast("double") * (col("f2") - col("f1"))) <= lit(1e-4))
            .as("linear_ok"),
          (col("forecast") >= col("vmin") - lit(10.0) * rng - lit(1e-6) &&
            col("forecast") <= col("vmax") + lit(10.0) * rng + lit(1e-6)).as("band_ok"))
    },
      Some(s"""WITH $BaseCte,
              |g AS (SELECT t FROM base WHERE metric = 'click/42' AND t >= $S AND t < $E),
              |lt AS (SELECT max(t) AS last_time FROM g)
              |SELECT 'click/42' AS metric, CAST(h AS BIGINT) AS horizon,
              |       last_time + h * 43200000 AS time,
              |       TRUE AS linear_ok, TRUE AS band_ok
              |FROM lt, LATERAL (SELECT unnest(generate_series(1, 6)) AS h) t""".stripMargin)),

    // ---- §2.9 streaming: session windows — per-user sessions finalize
    // exactly once when the watermark passes their end; exact-gap merge
    // boundary spec-pinned equal to the batch rule, so ONE sessionize
    // oracle covers both (window_end = last event + gap) ----------------
    ("streaming_sessions", (s: SparkSession, d: String) => {
      val base = "target/tmp/sessions_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val st = graft.streaming.StreamingSessions.sessions(
        ea.eventFrameStream(s, d), gap = "12 hours")
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("user_id"),
          unix_millis(col("window_start")).as("window_start"),
          unix_millis(col("window_end")).as("window_end"),
          col("n_events"), col("value_sum"))
    },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS time, value FROM events),
             |wm AS (SELECT max(time) - 7200000 AS w FROM e),
             |m AS (SELECT user_id, time, event_id, value,
             |        CASE WHEN lag(time) OVER w IS NULL THEN 1
             |             WHEN time - lag(time) OVER w > 43200000 THEN 1 ELSE 0 END AS ns
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY time, event_id)),
             |s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY time, event_id
             |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM m),
             |g AS (SELECT user_id, min(time) AS window_start,
             |        max(time) + 43200000 AS window_end,
             |        CAST(count(*) AS BIGINT) AS n_events,
             |        CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS value_sum
             |      FROM s GROUP BY user_id, sid)
             |SELECT user_id, window_start, window_end, n_events, value_sum
             |FROM g, wm WHERE window_end <= wm.w""".stripMargin)),

    // ---- LLM: persisted inverted index — build → bucket-partitioned
    // store → statically pruned serve; stored answers == inline bm25 ----
    ("bm25_index_stored", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/bm25idx_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      Retrieval.writeBm25Index(docs(s, d), base)
      Retrieval.bm25StoredTopK(s, base, bm25Queries(s), k = 10)
    },
      Some(s"""WITH $Bm25Cte
              |SELECT query_id, doc_id,
              |       round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score,
              |       CAST(rnk AS BIGINT) AS rank
              |FROM lexrank WHERE rnk <= 10""".stripMargin)),

    // ---- time-series: as-of join (union+window composition) — each
    // purchase enriched with the user's most recent click value; the
    // oracle is DuckDB's NATIVE ASOF LEFT JOIN, pinning the semantics
    // engine-independently --------------------------------------------
    ("asof_enrich", (s: SparkSession, d: String) => {
      val ev = ea.eventFrame(s, d)
      val left = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("time"), col("value"))
      val right = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("time"))
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
      AsOfJoin.asOf(left, right, "user_id", "time", "click_value")
    },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS time, value FROM events),
             |l AS (SELECT event_id, user_id, time, value FROM e WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, time, arg_max(value, event_id) AS click_value
             |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
             |SELECT l.event_id, l.user_id, l.time, l.value,
             |       r.click_value AS asof_value, r.time AS asof_time
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.time >= r.time""".stripMargin)),

    // ---- §2.9 streaming: STREAM-STREAM interval join — purchases paired
    // with same-user clicks in the preceding hour; both state stores
    // watermark-bounded by the time-range condition -----------------------
    ("streaming_attribution", (s: SparkSession, d: String) => {
      val base = "target/tmp/attr_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val st = graft.streaming.StreamingAttribution.attributionPairs(
        ea.eventFrameStream(s, d))
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
    },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS time, value FROM events),
             |c AS (SELECT user_id, event_id AS click_id, time AS click_time FROM e WHERE event_type = 'click'),
             |b AS (SELECT user_id, event_id AS buy_id, time AS buy_time, value AS buy_value
             |      FROM e WHERE event_type = 'purchase')
             |SELECT c.user_id, click_id, buy_id, click_time, buy_time,
             |       buy_time - click_time AS gap_ms, buy_value
             |FROM c JOIN b ON b.user_id = c.user_id
             |  AND b.buy_time >= c.click_time
             |  AND b.buy_time <= c.click_time + 3600000""".stripMargin)),

    // ---- §2.9 streaming: LEFT-OUTER stream-stream join — unmatched
    // purchases null-extend once the watermark proves no click can still
    // arrive; the oracle filters unmatched rows by that closure rule ----
    ("streaming_attribution_outer", (s: SparkSession, d: String) => {
      val base = "target/tmp/attro_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      // Outer rows emit only once the watermark proves no match can still
      // arrive, so the fixture needs a far-future sentinel carrying BOTH
      // event types (the global watermark is the MIN of the two sides').
      // The sentinel is staged BEFORE the single AvailableNow drain: the
      // data batch advances the watermark past every real purchase, and
      // the trailing no-data micro-batch AvailableNow always runs on a
      // watermark advance flushes every pending outer row — the same
      // final row set the historical double drain produced (outer
      // emission depends on the watermark trajectory against state, and
      // both schedules end at the same watermark), at HALF the fixed
      // per-drain cost: measured r15, each drain paid ~2 micro-batches ×
      // 128 state-store commits (~50 s aggregate commit time per batch at
      // 32 partitions × 4 join stores) plus query start/planning — the
      // second drain processed 4 sentinel rows for ~5 s wall (§1 measure
      // first, §2 fixed costs dominate). Sentinel rows (negative ids) are
      // filtered from the answer; the sentinel purchase itself stays
      // pending by design. The fixture file is staged by FILESYSTEM copy
      // — byte-identical input, none of the decode/re-encode the old
      // read+write staging paid (~4 s single-task).
      val stage = s"$base/stage"
      stageFlat(s, s"$d/events.parquet", stage)
      val ev = s.read.parquet(stage)
      val tsPlus = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("ts") + lit(36000000000000L) // 10 h in nanos
        case _ => col("ts") + expr("INTERVAL 10 HOURS")
      }
      val last = ev.orderBy(col("ts").desc).limit(1).withColumn("ts", tsPlus)
        .withColumn("user_id", lit(-1L)).withColumn("value", lit(0.0))
      last.withColumn("event_id", lit(-1L)).withColumn("event_type", lit("click"))
        .unionByName(last.withColumn("event_id", lit(-2L))
          .withColumn("event_type", lit("purchase")))
        .select(ev.columns.map(col): _*)
        .write.mode("append").parquet(stage)
      val st = graft.streaming.StreamingAttribution.attributionPairs(
        ea.eventFrameStreamDir(s, stage), leftOuter = true)
      // the outer rows flush only in that trailing no-data micro-batch:
      // with no-data batches off they would be dropped without a word
      require(s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled").toBoolean,
        "streaming_attribution_outer needs spark.sql.streaming.noDataMicroBatches.enabled=true")
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").filter(col("user_id") >= 0)
    },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS time, value FROM events),
             |c AS (SELECT user_id, event_id AS click_id, time AS click_time FROM e WHERE event_type = 'click'),
             |b AS (SELECT user_id, event_id AS buy_id, time AS buy_time, value AS buy_value
             |      FROM e WHERE event_type = 'purchase')
             |SELECT b.user_id, c.click_id, b.buy_id, c.click_time, b.buy_time,
             |       b.buy_time - c.click_time AS gap_ms, b.buy_value
             |FROM b LEFT JOIN c ON c.user_id = b.user_id
             |  AND b.buy_time >= c.click_time
             |  AND b.buy_time <= c.click_time + 3600000""".stripMargin)),

    // ---- §2.9 streaming: COMPLETE-mode counts through a foreachBatch
    // snapshot sink — the streaming heavy-hitter query; state is the
    // exact vocab-sized count map (Heaps-bounded; CMS is the unbounded
    // escape), serving ranks the final snapshot --------------------------
    ("streaming_heavy_hitters", (s: SparkSession, d: String) => {
      val base = "target/tmp/shh_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      graft.streaming.StreamingHeavyHitters.run(s,
        ea.documentsStream(s, d), s"$base/snap", s"$base/ckpt", topK = 20)
    },
      Some("""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token)
             |SELECT token, cnt,
             |       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
             |FROM c ORDER BY cnt DESC, token LIMIT 20""".stripMargin)),

    // ---- LLM: embedding drift between corpus versions — per-label
    // centroid cosine across a parity split standing in for two runs ----
    ("emb_centroid_drift", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.centroidDrift(e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
    },
      Some("""WITH dv AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |compa AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos
             |          FROM dv WHERE vec_id % 2 = 0),
             |cma AS (SELECT label, pos, CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m,
             |          CAST(count(*) AS BIGINT) AS cnt
             |        FROM compa GROUP BY label, pos),
             |ca AS (SELECT label, list(m ORDER BY pos) AS c, max(cnt) AS n_a FROM cma GROUP BY label),
             |compb AS (SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos
             |          FROM dv WHERE vec_id % 2 = 1),
             |cmb AS (SELECT label, pos, CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m,
             |          CAST(count(*) AS BIGINT) AS cnt
             |        FROM compb GROUP BY label, pos),
             |cb AS (SELECT label, list(m ORDER BY pos) AS c, max(cnt) AS n_b FROM cmb GROUP BY label)
             |SELECT ca.label, n_a, n_b,
             |       round(sqrt(list_dot_product(ca.c, ca.c)), 6) AS norm_a,
             |       round(sqrt(list_dot_product(cb.c, cb.c)), 6) AS norm_b,
             |       round(list_dot_product(ca.c, cb.c)
             |             / (sqrt(list_dot_product(ca.c, ca.c)) * sqrt(list_dot_product(cb.c, cb.c))), 6) AS drift_cosine
             |FROM ca JOIN cb USING (label)""".stripMargin)),

    // ---- LLM: NEAR-dup decontamination — paraphrased/near-copied
    // benchmark contamination that exact-shingle decontaminate cannot
    // see; the eval set's near-dup INDEX is built once and the corpus
    // queries it (banded candidates → exact-Jaccard verify), so the
    // corpus never shuffles on content. Oracle = exact cross Jaccard
    // (band recall at J >= 0.8 is 1 − (1 − J³)²⁰ ≈ 1) ------------------
    ("decontaminate_neardup", (s: SparkSession, d: String) => {
      val base = "target/tmp/dcnd_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val all = docs(s, d)
      Dedup.writeNearDupIndex(all.filter(col("doc_id") < 20), base, shingleK = 3)
      Dedup.nearDupLookup(s, base, all.filter(col("doc_id") >= 20),
        shingleK = 3, threshold = 0.8)
        .groupBy(col("query_id").as("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_matches"),
          round(max(col("jaccard")), 6).as("max_jaccard"))
    },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
             |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS g) t),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS qa, b.doc_id AS qb, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id >= 20 AND b.doc_id < 20
             |          GROUP BY 1, 2),
             |m AS (SELECT qa AS doc_id, CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) AS j
             |      FROM inter JOIN sz x ON x.doc_id = qa JOIN sz y ON y.doc_id = qb)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
             |       round(max(j), 6) AS max_jaccard
             |FROM m WHERE j >= 0.8 GROUP BY 1""".stripMargin)),

    // ---- behavioral: rolling DAU/WAU with mergeable HLL day-sketches —
    // the sliding-distinct sketch audit (exact fanout vs sketch union) ---
    ("rolling_active_users", (s: SparkSession, d: String) =>
      EventOps.rollingActiveUsers(ea.eventFrame(s, d), anchorMs = S),
      Some(s"""WITH e AS (SELECT DISTINCT CAST(floor((epoch_ms(ts) - $S) / 86400000) AS BIGINT) AS day,
              |            user_id FROM events),
              |mx AS (SELECT max(day) AS md FROM e),
              |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM e GROUP BY 1),
              |f AS (SELECT day + g.off AS wday, user_id
              |      FROM e, LATERAL (SELECT unnest(generate_series(0, 6)) AS off) g),
              |wx AS (SELECT wday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau_exact
              |       FROM f, mx WHERE wday <= md GROUP BY 1)
              |SELECT day, dau, wau_exact, TRUE AS wau_in_band
              |FROM dau JOIN wx USING (day)""".stripMargin)),

    // ---- §2.9 streaming: windowed top event types — counts stream in
    // append mode (exactly-once per window); rank is served off the
    // finalized rollup, keeping streamed state a mergeable count --------
    ("streaming_top_events", (s: SparkSession, d: String) => {
      val base = "target/tmp/topev_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val st = graft.streaming.StreamingIngest.windowedTypeCounts(
        ea.eventFrameStream(s, d))
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      val w = Window.partitionBy(col("window_start"))
        .orderBy(col("cnt").desc, col("event_type").asc)
      s.read.parquet(s"$base/out")
        .select(unix_millis(col("window_start")).as("window_start"),
          col("event_type"), col("cnt"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    },
      Some("""WITH e AS (SELECT event_type, epoch_ms(ts) AS time FROM events),
             |wm AS (SELECT max(time) - 7200000 AS w FROM e),
             |c AS (SELECT time // 86400000 AS win, event_type,
             |        CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
             |f AS (SELECT * FROM c, wm WHERE (win + 1) * 86400000 <= wm.w),
             |r AS (SELECT win * 86400000 AS window_start, event_type, cnt,
             |        row_number() OVER (PARTITION BY win ORDER BY cnt DESC, event_type) AS rnk
             |      FROM f)
             |SELECT window_start, event_type, cnt, CAST(rnk AS BIGINT) AS rank
             |FROM r WHERE rnk <= 3""".stripMargin)),

    // ---- multimodal: frame-level retrieval end-to-end — payload →
    // frame sampling → (stub) frame encoder → cosine top-k; labeled
    // exact baseline (the scale path is the IVF/SRP stack over the same
    // frame vectors) -----------------------------------------------------
    ("media_frame_search", (s: SparkSession, d: String) =>
      Multimodal.frameSearch(Multimodal.asMediaFrame(docs(s, d)),
        maxQueryDoc = 30L, k = 5),
      Some {
        val emb = (0 until 8).map(i =>
          s"CAST(('0x' || substr(md5(fm || '$i'), 1, 15))::BIGINT % 2000001 - 1000000 AS DOUBLE) / 1000000.0")
          .mkString("[", ", ", "]")
        s"""WITH m AS (SELECT doc_id, text,
           |    ['image','audio','video'][CAST(CAST(regexp_extract(source, '\\d+', 0) AS BIGINT) % 3 + 1 AS INTEGER)] AS modality
           |  FROM documents),
           |v AS (SELECT doc_id, text, (length(text) + 63) // 64 AS nf FROM m WHERE modality = 'video'),
           |f AS (SELECT doc_id, g.i AS frame_idx,
           |        md5(substr(text, CAST(g.i * 64 + 1 AS BIGINT), 64)) AS fm
           |      FROM v, LATERAL (SELECT unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS i) g
           |      WHERE g.i % 2 = 0),
           |e AS (SELECT doc_id, frame_idx, $emb AS emb FROM f),
           |n AS (SELECT doc_id, frame_idx, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
           |q AS (SELECT doc_id AS q_doc, frame_idx AS q_frame, emb AS qe, nrm AS qn
           |      FROM n WHERE doc_id < 30),
           |sc AS (SELECT q.q_doc, q.q_frame, c.doc_id, c.frame_idx,
           |         list_dot_product(q.qe, c.emb) / (q.qn * c.nrm) AS cosine
           |       FROM q CROSS JOIN n c
           |       WHERE NOT (c.doc_id = q.q_doc AND c.frame_idx = q.q_frame)),
           |r AS (SELECT *, row_number() OVER
           |        (PARTITION BY q_doc, q_frame ORDER BY cosine DESC, doc_id, frame_idx) AS rnk
           |      FROM sc)
           |SELECT q_doc, q_frame, doc_id, frame_idx, round(cosine, 6) AS cosine,
           |       CAST(rnk AS BIGINT) AS rank
           |FROM r WHERE rnk <= 5""".stripMargin
      }),

    // ---- multimodal: the SCALE path for frame retrieval — k-means IVF
    // over the 8-dim frame vectors (Dim-generic Similarity machinery);
    // oracle replays frame encode + deterministic Lloyd + probe ----------
    ("media_frame_search_ivf", (s: SparkSession, d: String) =>
      Multimodal.frameSearchIvf(Multimodal.asMediaFrame(docs(s, d)),
        maxQueryDoc = 30L, k = 5, kCells = 4, nprobe = 2, iters = 2),
      Some {
        val emb = (0 until 8).map(i =>
          s"CAST(('0x' || substr(md5(fm || '$i'), 1, 15))::BIGINT % 2000001 - 1000000 AS DOUBLE) / 1000000.0")
          .mkString("[", ", ", "]")
        s"""WITH m AS (SELECT doc_id, text,
           |    ['image','audio','video'][CAST(CAST(regexp_extract(source, '\\d+', 0) AS BIGINT) % 3 + 1 AS INTEGER)] AS modality
           |  FROM documents),
           |v AS (SELECT doc_id, text, (length(text) + 63) // 64 AS nf FROM m WHERE modality = 'video'),
           |f AS (SELECT doc_id, g.i AS frame_idx,
           |        md5(substr(text, CAST(g.i * 64 + 1 AS BIGINT), 64)) AS fm
           |      FROM v, LATERAL (SELECT unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS i) g
           |      WHERE g.i % 2 = 0),
           |fe AS (SELECT doc_id * 4294967296 + frame_idx AS vec_id, $emb AS e
           |       FROM f),
           |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM fe),
           |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) AS INTEGER) - 1 AS cell,
           |         e AS ce, sqrt(list_dot_product(e, e)) AS cnrm FROM fe
           |       QUALIFY row_number() OVER (ORDER BY vec_id ASC) <= 4),
           |a1 AS (SELECT vec_id, e, cell FROM (
           |         SELECT v.vec_id, v.e, s.cell,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
           |         FROM n v CROSS JOIN c0 s) WHERE rn = 1),
           |m1 AS (SELECT cell, g.j,
           |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
           |       FROM a1, LATERAL (SELECT unnest(generate_series(1, 8)) AS j) g GROUP BY cell, g.j),
           |c1 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m1 GROUP BY cell),
           |c1n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c1),
           |a2 AS (SELECT vec_id, e, cell FROM (
           |         SELECT v.vec_id, v.e, s.cell,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
           |         FROM n v CROSS JOIN c1n s) WHERE rn = 1),
           |m2 AS (SELECT cell, g.j,
           |         CAST(sum(CAST(e[CAST(g.j AS INTEGER)] AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cv
           |       FROM a2, LATERAL (SELECT unnest(generate_series(1, 8)) AS j) g GROUP BY cell, g.j),
           |c2 AS (SELECT cell, list(cv ORDER BY j) AS ce FROM m2 GROUP BY cell),
           |c2n AS (SELECT cell, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm FROM c2),
           |af AS (SELECT vec_id, e, nrm, cell FROM (
           |         SELECT v.vec_id, v.e, v.nrm, s.cell,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY list_dot_product(v.e, s.ce) / (v.nrm * s.cnrm) DESC, s.cell ASC) AS rn
           |         FROM n v CROSS JOIN c2n s) WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM af
           |      WHERE vec_id < 30 * 4294967296),
           |pr AS (SELECT query_id, qe, qn, cell FROM (
           |         SELECT q.query_id, q.qe, q.qn, s.cell,
           |           row_number() OVER (PARTITION BY q.query_id
           |             ORDER BY list_dot_product(q.qe, s.ce) / (q.qn * s.cnrm) DESC, s.cell ASC) AS rn
           |         FROM q CROSS JOIN c2n s) WHERE rn <= 2),
           |sc AS (SELECT pr.query_id, c.vec_id AS neighbor_id,
           |         list_dot_product(pr.qe, c.e) / (pr.qn * c.nrm) AS cosine
           |       FROM pr JOIN af c USING (cell)
           |       WHERE c.vec_id <> pr.query_id),
           |r AS (SELECT *, row_number() OVER
           |        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           |      FROM sc)
           |SELECT query_id // 4294967296 AS q_doc, query_id % 4294967296 AS q_frame,
           |       neighbor_id // 4294967296 AS doc_id, neighbor_id % 4294967296 AS frame_idx,
           |       round(cosine, 6) AS cosine
           |FROM r WHERE rnk <= 5""".stripMargin
      }),

    // ---- forecasting: weekly seasonality strength (eta² of day-of-week
    // over daily means) with peak/trough days ----------------------------
    ("seasonal_profile", (s: SparkSession, d: String) =>
      MetricsOps.seasonalityStrength(gauge(s, d),
        Buckets.fromStep(S, S + 28L * Day, Day), periodBuckets = 7),
      Some(s"""WITH $BaseCte,
              |daily AS (SELECT metric, (t - $S) // $Day AS bucket,
              |            ${dsum("value")} / count(value) AS x
              |          FROM base WHERE t >= $S AND t < ${S + 28L * Day} GROUP BY 1, 2),
              |dly AS (SELECT metric, bucket, x, bucket % 7 AS dow FROM daily),
              |bd AS (SELECT metric, dow, CAST(count(*) AS BIGINT) AS nd,
              |         CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sd
              |       FROM dly GROUP BY 1, 2),
              |bdm AS (SELECT *, sd / nd AS dow_mean,
              |          row_number() OVER (PARTITION BY metric ORDER BY sd / nd DESC, dow) AS rp,
              |          row_number() OVER (PARTITION BY metric ORDER BY sd / nd ASC, dow) AS rt
              |        FROM bd),
              |pm AS (SELECT metric, CAST(sum(nd) AS BIGINT) AS n,
              |         CAST(sum(CAST(sd AS DECIMAL(28,10))) AS DOUBLE) AS sx,
              |         CAST(sum(CAST(sd * sd / nd AS DECIMAL(28,10))) AS DOUBLE) AS ssb_raw,
              |         max(CASE WHEN rp = 1 THEN dow END) AS peak_dow,
              |         max(CASE WHEN rt = 1 THEN dow END) AS trough_dow
              |       FROM bdm GROUP BY 1),
              |sq AS (SELECT metric, CAST(sum(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx
              |       FROM dly GROUP BY 1)
              |SELECT pm.metric, n AS n_days, peak_dow, trough_dow,
              |  CASE WHEN sxx - sx * sx / n <= 0.0 THEN NULL
              |       ELSE round((ssb_raw - sx * sx / n) / (sxx - sx * sx / n), 6)
              |  END AS strength
              |FROM pm JOIN sq USING (metric)""".stripMargin)),

    // ---- diagnostics: cross-correlation at lag — Pearson r of two
    // metrics' bucket series over a ±3-bucket shift grid ----------------
    ("series_xcorr", (s: SparkSession, d: String) =>
      MetricsOps.seriesCrossCorrelation(gauge(s, d), "click/1", "view/1",
        Buckets.fromStep(S, E, 43200000L), maxLag = 3),
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - $S) // 43200000 AS bucket, ${dsum("value")} / count(value) AS va
              |      FROM base WHERE metric = 'click/1' AND t >= $S AND t < $E GROUP BY 1),
              |b2 AS (SELECT (t - $S) // 43200000 AS bucket, ${dsum("value")} / count(value) AS vb
              |       FROM base WHERE metric = 'view/1' AND t >= $S AND t < $E GROUP BY 1),
              |lg AS (SELECT unnest(generate_series(-3, 3)) AS lag),
              |j AS (SELECT lg.lag, a.va, b2.vb
              |      FROM lg CROSS JOIN a JOIN b2 ON b2.bucket = a.bucket + lg.lag),
              |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
              |        CAST(sum(CAST(va AS DECIMAL(28,10))) AS DOUBLE) AS sx,
              |        CAST(sum(CAST(vb AS DECIMAL(28,10))) AS DOUBLE) AS sy,
              |        CAST(sum(CAST(va * vb AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
              |        CAST(sum(CAST(va * va AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
              |        CAST(sum(CAST(vb * vb AS DECIMAL(28,10))) AS DOUBLE) AS syy
              |      FROM j GROUP BY 1)
              |SELECT CAST(lag AS BIGINT) AS lag, n,
              |  CASE WHEN sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) = 0 THEN NULL
              |       ELSE round((n * sxy - sx * sy)
              |                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
              |  END AS r
              |FROM m""".stripMargin)),

    // ---- forecasting: seasonal-naive vs naive baseline scores (MASE
    // shape) — the oracled yardstick any fitted model must beat ----------
    ("forecast_eval", (s: SparkSession, d: String) =>
      MetricsOps.seasonalNaiveEval(gauge(s, d),
        Buckets.fromStep(S, S + 28L * Day, Day), seasonBuckets = 7),
      Some(s"""WITH $BaseCte,
              |ag AS (SELECT metric, (t - $S) // $Day AS bucket,
              |         ${dsum("value")} / count(value) AS avg_v
              |       FROM base WHERE t >= $S AND t < ${S + 28L * Day} GROUP BY 1, 2),
              |lagged AS (SELECT metric, bucket, avg_v,
              |             lag(avg_v, 7) OVER w AS pred_season,
              |             lag(avg_v, 1) OVER w AS pred_naive
              |           FROM ag WINDOW w AS (PARTITION BY metric ORDER BY bucket)),
              |err AS (SELECT metric,
              |          CAST(round(abs(avg_v - pred_season) * 1000000.0) AS BIGINT) AS es,
              |          CAST(round(abs(avg_v - pred_naive) * 1000000.0) AS BIGINT) AS en
              |        FROM lagged WHERE pred_season IS NOT NULL AND pred_naive IS NOT NULL),
              |su AS (SELECT metric, CAST(count(*) AS BIGINT) AS n_eval,
              |         CAST(sum(es) AS BIGINT) AS s_u, CAST(sum(en) AS BIGINT) AS n_u
              |       FROM err GROUP BY 1)
              |SELECT metric, n_eval,
              |       floor(s_u * 1000 / n_eval) / 1000000000.0 AS mae_seasonal,
              |       floor(n_u * 1000 / n_eval) / 1000000000.0 AS mae_naive,
              |       CASE WHEN n_u = 0 THEN NULL
              |            ELSE floor(CAST(s_u AS DOUBLE) / n_u * 1000000.0) / 1000000.0
              |       END AS mase
              |FROM su""".stripMargin)),

    // ---- §2.9 streaming: as-of enrichment — latest right-type value per
    // user attached to left-type arrivals via one stateful operator over
    // the SINGLE event stream; oracle is asof_enrich's native-ASOF SQL --
    ("streaming_asof", (s: SparkSession, d: String) => {
      val base = "target/tmp/sasof_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val st = graft.streaming.StreamingAsOf.enrich(
        ea.eventFrameStream(s, d), leftType = "purchase", rightType = "click")
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
    },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS time, value FROM events),
             |l AS (SELECT event_id, user_id, time, value FROM e WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, time, arg_max(value, event_id) AS click_value
             |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
             |SELECT l.event_id, l.user_id, l.time, l.value,
             |       r.click_value AS asof_value, r.time AS asof_time
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.time >= r.time""".stripMargin)),

    // ---- display: LTTB shape-preserving downsampling. The triangle
    // argmax is float geometry (spec pins a hand-computed series); the
    // GATE hash-verifies LTTB's structural contract per series: output
    // size min(n, nOut), both endpoints kept, every emitted point IS an
    // input point (time + 6-dp value membership), and each interior pick
    // falls inside its own index bucket (same start/end arithmetic as
    // the fold, on the (time, value)-ranked input) ----------------------
    ("fetch_lttb", (s: SparkSession, d: String) => {
      val nOut = 8
      val in = gauge(s, d).filter(col("metric").startsWith("click/"))
        .filter(col("time") >= S && col("time") < E)
        .select(col("metric"), col("time"), col("n_value").cast("double").as("v"))
      val srt = Window.partitionBy(col("metric")).orderBy(col("time").asc, col("v").asc)
      val ranked = in.withColumn("rn", row_number().over(srt))
      val inAgg = ranked.groupBy(col("metric"), col("time"))
        .agg(collect_set(round(col("v"), 6)).as("vset"), collect_list(col("rn")).as("rns"))
      val stats = in.groupBy(col("metric")).agg(count(lit(1)).as("n_points"),
        min(col("time")).as("t_min"), max(col("time")).as("t_max"))
      val picks = MetricsOps.downsampleLttb(
        gauge(s, d).filter(col("metric").startsWith("click/")), TimeRange(S, E), nOut)
      val pw = Window.partitionBy(col("metric")).orderBy(col("time").asc, col("value").asc)
      val pn = Window.partitionBy(col("metric"))
      val pk = picks
        .withColumn("k", row_number().over(pw))
        .withColumn("n_out", count(lit(1)).over(pn))
        .join(inAgg, Seq("metric", "time"), "left")
        .join(stats, Seq("metric"))
      val member = col("vset").isNotNull && array_contains(col("vset"), col("value"))
      // mirror of the fold's bucket arithmetic: interior pick k (1-based)
      // is bucket i = k-2; its 0-based input index j must satisfy
      // start <= j < end (or j == start when the bucket is empty)
      val every = (col("n_points") - 2).cast("double") / lit((nOut - 2).toDouble)
      val i = (col("k") - 2).cast("double")
      val start = floor(i * every) + 1
      val endB = least(floor((i + lit(1.0)) * every) + 1, col("n_points") - 1)
      val bok = when(col("n_points") <= nOut || col("k") === 1 || col("k") === col("n_out"),
        lit(true))
        .otherwise(exists(col("rns"),
          rn => (rn - 1) >= start && ((rn - 1) < endB || (rn - 1) === start)))
      pk.withColumn("member", member).withColumn("bok", bok)
        .groupBy(col("metric"))
        .agg(first(col("n_points")).as("n_points"), count(lit(1)).as("n_out"),
          min(col("time")).as("p_tmin"), max(col("time")).as("p_tmax"),
          first(col("t_min")).as("t_min"), first(col("t_max")).as("t_max"),
          expr("bool_and(member)").as("members_ok"),
          expr("bool_and(bok)").as("buckets_ok"))
        .select(col("metric"), col("n_points"), col("n_out"),
          (col("p_tmin") === col("t_min") && col("p_tmax") === col("t_max"))
            .as("endpoints_ok"),
          col("members_ok"), col("buckets_ok"))
    },
      Some(s"""WITH $BaseCte,
              |g AS (SELECT metric, t FROM base
              |      WHERE metric LIKE 'click/%' AND t >= $S AND t < $E)
              |SELECT metric, CAST(count(*) AS BIGINT) AS n_points,
              |       least(CAST(count(*) AS BIGINT), 8) AS n_out,
              |       TRUE AS endpoints_ok, TRUE AS members_ok, TRUE AS buckets_ok
              |FROM g GROUP BY metric""".stripMargin)),

    // ---- ops: per-tenant usage metering off the stored tier — the
    // quota/billing aggregate (slice-partitioned scan, metadata-cheap) ---
    ("tenant_usage", (s: SparkSession, d: String) => {
      val path = "target/tmp/usage_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      GraftStorage.write(gauge(s, d), path, SaveMode.Overwrite)
      GraftStorage.read(s, path)
        .groupBy(col("tenant_id"), col("mtype"), col("time_slice"))
        .agg(count(lit(1)).as("n_points"),
          countDistinct(col("metric")).as("n_series"),
          min(col("time")).as("first_time"), max(col("time")).as("last_time"))
    },
      Some(s"""WITH $BaseCte
              |SELECT tenant_id, 0 AS mtype, t // 86400000 AS time_slice,
              |       count(*) AS n_points,
              |       CAST(count(DISTINCT metric) AS BIGINT) AS n_series,
              |       min(t) AS first_time, max(t) AS last_time
              |FROM base GROUP BY 1, 2, 3""".stripMargin)),

    // ---- anomaly: two-window mean-shift change points (declarative
    // CUSUM-class level-change detection; decimal-exact window means) ----
    ("series_changepoints", (s: SparkSession, d: String) =>
      MetricsOps.changePoints(gauge(s, d), TimeRange(S, E), w = 5, threshold = 20.0),
      Some(s"""WITH $BaseCte,
              |b AS (SELECT metric, t, value FROM base WHERE t >= $S AND t < $E),
              |m AS (SELECT metric, t,
              |        count(*) OVER wb AS n_before, count(*) OVER wa AS n_after,
              |        CAST(sum(CAST(value AS DECIMAL(28,10))) OVER wb AS DOUBLE)
              |          / count(*) OVER wb AS mean_before,
              |        CAST(sum(CAST(value AS DECIMAL(28,10))) OVER wa AS DOUBLE)
              |          / count(*) OVER wa AS mean_after
              |      FROM b WINDOW
              |        wb AS (PARTITION BY metric ORDER BY t ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
              |        wa AS (PARTITION BY metric ORDER BY t ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING))
              |SELECT metric, t AS time, round(mean_before, 6) AS mean_before,
              |       round(mean_after, 6) AS mean_after,
              |       round(mean_after - mean_before, 6) AS shift
              |FROM m WHERE n_before = 5 AND n_after = 5
              |  AND abs(mean_after - mean_before) >= 20.0""".stripMargin)),

    // ---- serving: histogram_quantile over the heatmap tier — cumulative
    // bin walk + linear interpolation (the Prometheus estimator) ---------
    ("histogram_quantile", (s: SparkSession, d: String) =>
      MetricsOps.histogramQuantile(
        MetricsOps.valueHistogram(gauge(s, d), Buckets.fromStep(S, E, 86400000L),
          vMin = 0.0, vMax = 500.0, bins = 20), q = 0.95),
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - $S) // 86400000 AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= $S AND t < $E),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |      FROM a GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.95 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target)
              |SELECT bucket, total,
              |       round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |FROM p WHERE rn = 1""".stripMargin)),

    // ---- audit: histogram-quantile accuracy band — the estimator may
    // sit at most ~2 bins from the exact percentile (rank-convention
    // skew); the BAND boolean is the hash-verified contract, the
    // engine-specific estimate never crosses the oracle boundary alone --
    ("hist_quantile_accuracy", (s: SparkSession, d: String) => {
      val b = Buckets.fromStep(S, E, 86400000L)
      val est = MetricsOps.histogramQuantile(
        MetricsOps.valueHistogram(gauge(s, d), b, vMin = 0.0, vMax = 500.0, bins = 20),
        q = 0.95)
      val exact = gauge(s, d)
        .filter(col("time") >= S && col("time") < E)
        .groupBy(floor((col("time") - lit(S)) / lit(86400000L)).cast("long").as("bucket"))
        .agg(round(expr("percentile(n_value, 0.95)"), 4).as("p95"))
      // p95 itself stays OUT of the compared output: Spark percentile() and
      // DuckDB quantile_cont() interpolate with IEEE-different (though
      // algebraically equal) trees, and round(...,4) is not engine-exact at
      // 5-boundaries. band_ok (±50 slack) is immune to that 1e-4 jitter.
      est.join(exact, Seq("bucket"))
        .select(col("bucket"), col("total"), col("q_est"),
          (abs(col("q_est") - col("p95")) <= lit(50.0)).as("band_ok"))
    },
      Some(s"""WITH $BaseCte,
              |a AS (SELECT (t - $S) // 86400000 AS bucket,
              |        CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS bin
              |      FROM base WHERE t >= $S AND t < $E),
              |h AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS cnt,
              |        bin * 25.0 AS bin_lo, (bin + 1) * 25.0 AS bin_hi
              |      FROM a GROUP BY 1, 2),
              |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY bucket ORDER BY bin
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              |        CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS total FROM h),
              |t2 AS (SELECT *, CAST(0.95 AS DOUBLE) * total AS target FROM c),
              |p AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY bin) AS rn
              |      FROM t2 WHERE cum >= target),
              |est AS (SELECT bucket, total,
              |          round(bin_lo + (target - (cum - cnt)) / cnt * (bin_hi - bin_lo), 6) AS q_est
              |        FROM p WHERE rn = 1),
              |ex AS (SELECT (t - $S) // 86400000 AS bucket,
              |         round(quantile_cont(value, 0.95), 4) AS p95
              |       FROM base WHERE t >= $S AND t < $E GROUP BY 1)
              |SELECT bucket, total, q_est, abs(q_est - p95) <= 50.0 AS band_ok
              |FROM est JOIN ex USING (bucket)""".stripMargin)),

    // ---- audit: recall of the fused hybrid list against the exact
    // cosine top-10 — the fusion counterpart of the ann_recall family ----
    ("retrieval_recall", (s: SparkSession, d: String) => {
      import s.implicits._
      val lex = Retrieval.bm25TopK(docs(s, d), bm25Queries(s), k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = embs(s, d)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("doc_id").asc)
      val vecTop = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), 20)
        .withColumnRenamed("neighbor_id", "doc_id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("query_id"), col("doc_id"), col("rank"))
      val fused = Retrieval.rrfFuse(lex, vecTop, k = 10)
        .select(col("query_id"), col("doc_id").as("neighbor_id"))
      val exact = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), 10)
      Similarity.recallAtK(exact, fused)
    },
      Some(s"""WITH $Bm25Cte,
              |lexr AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rank
              |         FROM lexrank WHERE rnk <= 20),
              |dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
              |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
              |qn AS (SELECT * FROM n WHERE vec_id < 3),
              |vsc AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
              |          list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
              |        FROM qn q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
              |vecr AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rank FROM (
              |           SELECT query_id, doc_id, row_number() OVER
              |             (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk FROM vsc)
              |         WHERE rnk <= 20),
              |lc AS (SELECT query_id, doc_id,
              |         CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS lex_u FROM lexr),
              |vc AS (SELECT query_id, doc_id,
              |         CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS vec_u FROM vecr),
              |f AS (SELECT coalesce(lc.query_id, vc.query_id) AS query_id,
              |        coalesce(lc.doc_id, vc.doc_id) AS doc_id,
              |        coalesce(lex_u, 0) + coalesce(vec_u, 0) AS fused_u
              |      FROM lc FULL OUTER JOIN vc
              |        ON lc.query_id = vc.query_id AND lc.doc_id = vc.doc_id),
              |fr AS (SELECT query_id, doc_id FROM (
              |         SELECT query_id, doc_id, row_number() OVER
              |           (PARTITION BY query_id ORDER BY fused_u DESC, doc_id) AS fr FROM f)
              |       WHERE fr <= 10),
              |ex AS (SELECT query_id, doc_id FROM (
              |         SELECT query_id, doc_id, row_number() OVER
              |           (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk FROM vsc)
              |       WHERE rnk <= 10)
              |SELECT e.query_id,
              |       CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
              |       round(CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              |             / count(*), 4) AS recall
              |FROM ex e LEFT JOIN fr a ON a.query_id = e.query_id AND a.doc_id = e.doc_id
              |GROUP BY e.query_id""".stripMargin)),

    // ---- SRE: multi-window SLO burn rate over the A3 state machine —
    // fast (1 d) and enclosing slow (7 d) error-budget burn, alert when
    // both exceed 1x (the SRE-workbook composition) ----------------------
    ("slo_burn", (s: SparkSession, d: String) =>
      MetricsOps.sloBurn(avail(s, d),
        Buckets.fromStep(S, S + 28L * Day, Day), slowStepMs = 7L * Day,
        objective = 0.95),
      Some(s"""WITH $BaseCte, $AvailCte,
              |bf AS (SELECT metric, t, avail, (t - $S) // $Day AS bucket
              |       FROM av WHERE t >= $S AND t < ${S + 28L * Day}),
              |segf AS (SELECT metric, bucket, avail,
              |           CASE WHEN row_number() OVER w = 1 THEN $S + bucket * $Day ELSE t END AS seg_start,
              |           coalesce(lead(t) OVER w, $S + (bucket + 1) * $Day) AS seg_end
              |         FROM bf WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |uf AS (SELECT metric, bucket,
              |         CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE)
              |           / 86400000.0 AS uptime_fast
              |       FROM segf GROUP BY 1, 2),
              |bs AS (SELECT metric, t, avail, (t - $S) // ${7L * Day} AS bucket
              |       FROM av WHERE t >= $S AND t < ${S + 28L * Day}),
              |segs AS (SELECT metric, bucket, avail,
              |           CASE WHEN row_number() OVER w = 1 THEN $S + bucket * ${7L * Day} ELSE t END AS seg_start,
              |           coalesce(lead(t) OVER w, $S + (bucket + 1) * ${7L * Day}) AS seg_end
              |         FROM bs WINDOW w AS (PARTITION BY metric, bucket ORDER BY t)),
              |us AS (SELECT metric, bucket AS slow_bucket,
              |         CAST(sum(CASE WHEN avail = 0 THEN seg_end - seg_start ELSE 0 END) AS DOUBLE)
              |           / 604800000.0 AS uptime_slow
              |       FROM segs GROUP BY 1, 2),
              |j AS (SELECT f.metric, f.bucket, f.bucket // 7 AS slow_bucket,
              |        uptime_fast, uptime_slow
              |      FROM uf f JOIN us s ON s.metric = f.metric AND s.slow_bucket = f.bucket // 7)
              |SELECT metric, bucket, slow_bucket,
              |  round(uptime_fast, 6) AS uptime_fast, round(uptime_slow, 6) AS uptime_slow,
              |  round((1.0 - uptime_fast) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)), 6) AS burn_fast,
              |  round((1.0 - uptime_slow) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)), 6) AS burn_slow,
              |  ((1.0 - uptime_fast) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)) >= 1.0 AND
              |   (1.0 - uptime_slow) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE)) >= 1.0) AS alert
              |FROM j""".stripMargin)),

    // ---- §2.9 streaming: stateful funnel tracking — per-user step chain
    // via flatMapGroupsWithState; over the single AvailableNow batch the
    // emitted completion set EQUALS the batch funnel's reached frames,
    // which is exactly what the oracle checks ----------------------------
    ("streaming_funnel", (s: SparkSession, d: String) => {
      val base = "target/tmp/funnel_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val st = graft.streaming.StreamingFunnel.completions(
        ea.eventFrameStream(s, d), Seq("signup", "view", "purchase"))
      val q = st.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
    },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS time FROM events),
             |s1 AS (SELECT user_id, min(time) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.time) AS t FROM e JOIN s1 ON s1.user_id = e.user_id
             |       WHERE e.event_type = 'view' AND e.time > s1.t GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.time) AS t FROM e JOIN s2 ON s2.user_id = e.user_id
             |       WHERE e.event_type = 'purchase' AND e.time > s2.t GROUP BY 1)
             |SELECT user_id, CAST(1 AS BIGINT) AS step_idx, 'signup' AS step, t AS reached_at FROM s1
             |UNION ALL SELECT user_id, 2, 'view', t FROM s2
             |UNION ALL SELECT user_id, 3, 'purchase', t FROM s3""".stripMargin)),

    // ---- LLM: incremental inverted-index maintenance — build on part of
    // the corpus, append the rest (batch-bounded inserts: docstats,
    // postings, a corpusstats swap), serve; oracle = the full-corpus bm25 (the
    // append ≡ rebuild contract, exercised against DuckDB) ---------------
    ("bm25_index_append", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/bm25app_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val all = docs(s, d)
      Retrieval.writeBm25Index(all.filter(col("doc_id") % 3 =!= 0), base)
      Retrieval.appendToBm25Index(s, base, all.filter(col("doc_id") % 3 === 0))
      Retrieval.bm25StoredTopK(s, base, bm25Queries(s), k = 10)
    },
      Some(s"""WITH $Bm25Cte
              |SELECT query_id, doc_id,
              |       round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score,
              |       CAST(rnk AS BIGINT) AS rank
              |FROM lexrank WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: BM25 index COMPACTION — merge append-wave files behind
    // the crash-safe double-rename swap, rebuild corpusstats from the
    // repaired docstats; serving answers must not move (same full-corpus
    // oracle as the append) ---------------------------------------------
    ("bm25_index_compact", (s: SparkSession, d: String) => {
      import s.implicits._
      val base = "target/tmp/bm25cmp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, base)
      val all = docs(s, d)
      Retrieval.writeBm25Index(all.filter(col("doc_id") % 3 =!= 0), base)
      Retrieval.appendToBm25Index(s, base, all.filter(col("doc_id") % 3 === 0))
      Retrieval.compactBm25Index(s, base)
      Retrieval.bm25StoredTopK(s, base, bm25Queries(s), k = 10)
    },
      Some(s"""WITH $Bm25Cte
              |SELECT query_id, doc_id,
              |       round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score,
              |       CAST(rnk AS BIGINT) AS rank
              |FROM lexrank WHERE rnk <= 10""".stripMargin)),

    // ---- behavioral: weekly cohort retention matrix -------------------
    ("user_retention", (s: SparkSession, d: String) =>
      EventOps.cohortRetention(ea.eventFrame(s, d), anchorMs = S,
        periodMs = 604800000L, maxOffset = 4),
      Some(s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS time FROM events),
              |c AS (SELECT user_id, CAST(floor((min(time) - $S) / 604800000) AS BIGINT) AS cohort
              |      FROM e GROUP BY 1),
              |a AS (SELECT e.user_id, c.cohort,
              |        CAST(floor((e.time - $S) / 604800000) AS BIGINT) - c.cohort AS "offset"
              |      FROM e JOIN c USING (user_id)),
              |m AS (SELECT cohort, "offset", CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
              |      FROM a WHERE "offset" <= 4 GROUP BY 1, 2),
              |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users FROM c GROUP BY 1)
              |SELECT cohort, "offset", active_users, cohort_users,
              |       round(CAST(active_users AS DOUBLE) / cohort_users, 6) AS retention
              |FROM m JOIN sz USING (cohort)""".stripMargin)),

    // ---- LLM: per-source distribution drift — add-one-smoothed unigram
    // KL(source ‖ rest) in pico-nat integer sums -------------------------
    ("corpus_drift", (s: SparkSession, d: String) => TextOps.corpusDrift(docs(s, d)),
      Some("""WITH toks AS (SELECT source, unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2),
             |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM tc GROUP BY 1),
             |v AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS cnt_tot FROM tc GROUP BY 1),
             |g AS (SELECT CAST(count(*) AS BIGINT) AS vsize, CAST(sum(cnt_tot) AS BIGINT) AS ntot FROM v),
             |x AS (SELECT v.token, v.cnt_tot, t.source, t.n,
             |        coalesce(tc.cnt, 0) AS cnt, g.vsize, g.ntot
             |      FROM v CROSS JOIN tot t
             |      LEFT JOIN tc ON tc.source = t.source AND tc.token = v.token
             |      CROSS JOIN g),
             |terms AS (SELECT source, n,
             |            CAST(round(
             |              (CAST(cnt + 1 AS DOUBLE) / (n + vsize))
             |              * ln((CAST(cnt + 1 AS DOUBLE) / (n + vsize))
             |                   / (CAST(cnt_tot - cnt + 1 AS DOUBLE) / (ntot - n + vsize)))
             |              * 1000000000000.0) AS BIGINT) AS term_u
             |          FROM x)
             |SELECT source, max(n) AS n_tokens,
             |       round(CAST(sum(term_u) AS DOUBLE) / 1000000000000.0, 6) AS kl_vs_rest
             |FROM terms GROUP BY source""".stripMargin)),

    // ---- LLM: the SCALABLE calibration plan — coarse-bin histogram
    // verdicts + exact ranking of ONLY the boundary bin; keep set
    // identical to the window form by construction (shared oracle) ------
    ("quality_calibration_scalable", (s: SparkSession, d: String) =>
      TextOps.qualityCalibrationScalable(docs(s, d), keepFrac = 0.4),
      Some("""WITH t AS (SELECT doc_id, source,
             |         CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
             |           / len(string_split(lower(text), ' ')) AS score
             |       FROM documents),
             |r AS (SELECT *, percent_rank() OVER
             |        (PARTITION BY source ORDER BY score, doc_id) AS pct FROM t)
             |SELECT doc_id, source, pct >= 1.0 - 0.4 AS kept FROM r""".stripMargin)),

    // ---- LLM: per-source quality calibration (keep top 40% per source
    // by type-token ratio; percent_rank ties broken by doc_id) -----------
    ("quality_calibration", (s: SparkSession, d: String) =>
      TextOps.qualityCalibration(docs(s, d), keepFrac = 0.4),
      Some("""WITH t AS (SELECT doc_id, source,
             |         CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
             |           / len(string_split(lower(text), ' ')) AS score
             |       FROM documents),
             |r AS (SELECT *, percent_rank() OVER
             |        (PARTITION BY source ORDER BY score, doc_id) AS pct FROM t)
             |SELECT doc_id, source, round(score, 6) AS score, round(pct, 6) AS pct,
             |       pct >= 1.0 - 0.4 AS kept FROM r""".stripMargin))
  )

  /** Fixed BM25 query set over the synthetic vocabulary (mirrored by
    * [[Bm25Cte]]'s VALUES list). */
  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, Seq("spark", "join")), (1L, Seq("window", "sort", "merge")),
      (2L, Seq("hash", "scan"))).toDF("query_id", "terms")
  }

  /** Shared BM25 oracle pipeline (DuckDB): query terms → matching-posting
    * tf/df → micro-unit partial scores → per-query rank. Every constant
    * is ::DOUBLE and every arithmetic step mirrors Retrieval.bm25TopK's
    * Column tree operation-for-operation (left-assoc, same casts), so
    * doubles are bit-identical before the micro-round. */
  private val Bm25Cte =
    """qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, token FROM (VALUES
      |         (0, 'spark'), (0, 'join'), (1, 'window'), (1, 'sort'),
      |         (1, 'merge'), (2, 'hash'), (2, 'scan')) t(query_id, token)),
      |tset AS (SELECT DISTINCT token FROM qt),
      |toks AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
      |           unnest(string_split(lower(text), ' ')) AS token FROM documents),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS dl_sum
      |       FROM (SELECT len(string_split(lower(text), ' ')) AS dl FROM documents)),
      |st2 AS (SELECT n_docs, CAST(dl_sum AS DOUBLE) / n_docs AS avgdl FROM st),
      |tfreq AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf,
      |            CAST(max(dl) AS BIGINT) AS dl
      |          FROM toks JOIN tset USING (token) GROUP BY doc_id, token),
      |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfreq GROUP BY token),
      |part AS (SELECT t.doc_id, t.token,
      |           CAST(round(
      |             ln(CAST(1.0 AS DOUBLE) + (CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |                / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |             * (CAST(t.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      |                / (CAST(t.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |                   * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |                      + (CAST(0.75 AS DOUBLE) * CAST(t.dl AS DOUBLE)) / avgdl)))
      |             * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS u
      |         FROM tfreq t JOIN dfreq USING (token) CROSS JOIN st2),
      |lexsc AS (SELECT q.query_id, p.doc_id, CAST(sum(u) AS BIGINT) AS su
      |          FROM part p JOIN qt q USING (token) GROUP BY 1, 2),
      |lexrank AS (SELECT query_id, doc_id, su, row_number() OVER
      |              (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rnk
      |            FROM lexsc)""".stripMargin

  /**
   * Serve-only twins for the four persisted indexes. The lifecycle
   * queries (`*_stored`, `*_append`, `*_compact`) time build+serve in
   * one block, so a serving-plan regression can hide inside build noise
   * between rounds; these twins open a PREBUILT store ([[prebuilt]]
   * builds on the first call only) and time the fixed serve batch alone
   * — the per-round bench analog of the serve curves in
   * `docs/BENCH_NOTES.md` ("Round 14 serve curves"). Same
   * oracles as their stored twins: the store changes WHEN it is built,
   * never what it answers.
   */
  private lazy val serveDefs: Seq[(String, Q, Option[String])] = Seq(
    ("tagindex_serve", (s: SparkSession, d: String) => {
      val base = "target/tmp/srv_tagidx_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base)(graft.storage.TagIndex.write(ea.catalog(s, d), base))
      graft.storage.TagIndex.lookup(s,
        base, "(type = error AND seg IN [s0, s1]) OR user ~ '14.*'")
        .select("metric")
    },
      Some(s"""WITH $CatCte
              |SELECT metric FROM cat
              |WHERE (event_type = 'error' AND (regexp_full_match(seg, 's0') OR regexp_full_match(seg, 's1')))
              |   OR regexp_full_match(tag_user, '14.*')""".stripMargin)),

    ("bm25_index_serve", (s: SparkSession, d: String) => {
      val base = "target/tmp/srv_bm25_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, base)(Retrieval.writeBm25Index(docs(s, d), base))
      Retrieval.bm25StoredTopK(s, base, bm25Queries(s), k = 10)
    },
      Some(s"""WITH $Bm25Cte
              |SELECT query_id, doc_id,
              |       round(CAST(su AS DOUBLE) / 1000000.0, 6) AS score,
              |       CAST(rnk AS BIGINT) AS rank
              |FROM lexrank WHERE rnk <= 10""".stripMargin)),

    ("neardup_index_serve", (s: SparkSession, d: String) => {
      val path = "target/tmp/srv_neardup_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      prebuilt(s, d, path)(Dedup.writeNearDupIndex(docs(s, d), path, shingleK = 3))
      Dedup.nearDupLookup(s, path, docs(s, d).filter(col("doc_id") < 50),
        shingleK = 3, threshold = 0.8)
        .select(col("query_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
    },
      Some(NearDupLookupOracle)),

    ("knn_ivf_serve", (s: SparkSession, d: String) => {
      val path = "target/tmp/srv_ivf_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      prebuilt(s, d, path)(Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2))
      Similarity.ivfStoredTopK(s, path, e.filter(col("vec_id") < 10), 10, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some(IvfKmeansOracle)),

    ("knn_pca_ivf_serve", (s: SparkSession, d: String) => {
      val path = "target/tmp/srv_pcaivf_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      prebuilt(s, d, path)(
        Similarity.writePcaIvfIndex(e, path, dims = 16, kCells = 4, iters = 2))
      val r = Similarity.pcaIvfStoredTopK(s, path, e.filter(col("vec_id") < 10),
        10, nprobe = 2, shortlist = 50)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      r.withColumn("rnk", row_number().over(w))
        .withColumn("prev", lag(col("cosine"), 1).over(w))
        .select(col("query_id"), col("rnk"),
          (col("cosine") <= coalesce(col("prev"), lit(2.0)) + 1e-12).as("monotone_ok"),
          (abs(col("cosine")) <= lit(1.0) + 1e-9).as("in_unit_ok"))
    },
      Some("""SELECT e.vec_id AS query_id, CAST(r.x AS INTEGER) AS rnk,
             |       TRUE AS monotone_ok, TRUE AS in_unit_ok
             |FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 11)) AS x) r
             |WHERE e.vec_id < 10""".stripMargin)),

    // ---- LLM: recall audit of the PCA-IVF composition. Recall VALUES
    // ride the model, so the hash-verified surface is (a) the PROVABLE
    // full-probe identity — nprobe = kCells probes every cell, which IS
    // the flat pcaRerankTopK scan (same stored basis, same projected
    // doubles, same tiebreaks → bit-equal ids AND cosines) — and (b) a
    // calibrated band on the probed serve (recall ≥ 0.05/query at
    // nprobe=2; measured min 0.3 / avg 0.56 at sf0.01, min 0.1 / avg
    // 0.37 at sf0.1, vs the full-probe 0.67 / 0.39 ceilings) -------------
    ("ann_recall_pca_ivf", (s: SparkSession, d: String) => {
      val path = "target/tmp/srv_pcaivf_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      prebuilt(s, d, path)(
        Similarity.writePcaIvfIndex(e, path, dims = 16, kCells = 4, iters = 2))
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, 10)
      val probed = Similarity.recallAtK(exact,
        Similarity.pcaIvfStoredTopK(s, path, q, 10, nprobe = 2, shortlist = 50))
        .select(col("query_id"), col("recall").as("r_probed"))
      val full = Similarity.pcaIvfStoredTopK(s, path, q, 10, nprobe = 4, shortlist = 50)
        .withColumn("a", lit(1))
      val flat = Similarity.pcaRerankTopK(e, q, 10,
        Similarity.pcaFit(e, 16), shortlist = 50)
        .withColumn("b", lit(1))
      val eq = full.join(flat, Seq("query_id", "neighbor_id", "cosine"), "full_outer")
        .groupBy(col("query_id"))
        .agg((sum(when(col("a").isNull || col("b").isNull, 1).otherwise(0)) === 0)
          .as("fullprobe_eq_flat"))
      probed.join(eq, Seq("query_id"))
        .select(col("query_id"), col("fullprobe_eq_flat"),
          (col("r_probed") >= 0.05).as("band_ok"))
    },
      Some("""SELECT vec_id AS query_id, TRUE AS fullprobe_eq_flat,
             |       TRUE AS band_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // ---- LLM: PCA-IVF lifecycle — build WITHOUT a slice, append it
    // through the STORED basis+centroids, tombstone a takedown set, then
    // serve with every cell probed and an uncapped shortlist: the result
    // is EXACTLY brute-force top-k over the survivors (all-probe +
    // full shortlist ≡ exhaustive search, full-width rerank), so the
    // whole append-visible / delete-screened contract gets a complete
    // DuckDB oracle despite the learned basis -----------------------------
    ("knn_pca_ivf_lifecycle", (s: SparkSession, d: String) => {
      val path = "target/tmp/pcaivflc_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writePcaIvfIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path,
        dims = 16, kCells = 4, iters = 2)
      Similarity.appendToPcaIvfIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      // takedown: same mechanics as the plain IVF store (shared layout)
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 97 === 0).select("vec_id"))
      Similarity.pcaIvfStoredTopK(s, path, e.filter(col("vec_id") < 10),
        10, nprobe = 4, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c
             |       WHERE c.vec_id <> q.vec_id AND c.vec_id % 97 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: PCA-IVF drift response — append + takedown, then retrain:
    // fresh basis fit on the live full-width vectors (the rewrite IS the
    // tombstones' purge), fresh PCA-space cells, vectors+centroids+
    // pcamodel swapped as ONE unit. Contract: the post-retrain store is
    // INDISTINGUISHABLE from a fresh build over the live corpus — both
    // serves join on every column incl. rounded cosine, 10/10 per query --
    ("knn_pca_ivf_retrained", (s: SparkSession, d: String) => {
      val path = "target/tmp/pcaivfrt_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val freshP = "target/tmp/pcaivffr_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path); rmrf(s, freshP)
      val e = embs(s, d)
      // the retrained-store lifecycle chain and the fresh-build audit twin
      // are fully independent (disjoint paths) — run as two concurrent job
      // chains (§2.6); answers are unchanged, the equality join below is
      // the same audit either way
      graft.storage.IndexStore.inParallel(Seq(
        () => {
          Similarity.writePcaIvfIndex(
            e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path,
            dims = 16, kCells = 4, iters = 2)
          Similarity.appendToPcaIvfIndex(s, path,
            e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
          Similarity.deleteFromIvfIndex(s, path,
            e.filter(col("vec_id") % 97 === 0).select("vec_id"))
          Similarity.retrainPcaIvfIndex(s, path, dims = 16, kCells = 4, iters = 2)
        },
        () => Similarity.writePcaIvfIndex(e.filter(col("vec_id") % 97 =!= 0), freshP,
          dims = 16, kCells = 4, iters = 2)))
      val q = e.filter(col("vec_id") < 10)
      def serve(p: String) = Similarity.pcaIvfStoredTopK(s, p, q, 10,
        nprobe = 2, shortlist = 50)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
      serve(path).join(serve(freshP), Seq("query_id", "neighbor_id", "cosine"))
        .groupBy(col("query_id")).agg(count(lit(1)).cast("long").as("n_match"))
    },
      Some("""SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_match
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // ---- LLM: persisted IVF-PQ (IVFADC) lifecycle — the memory-bound
    // production store: codes ride the cell partitions (m bytes/vector in
    // the search tier), codebooks DERIVE from the stored centroids.
    // Build without a slice, append it (stored model assigns cells AND
    // codes), tombstone a takedown set, then serve with every cell probed
    // and an uncapped shortlist: every pair ADC-shortlists, stage 2
    // exact-reranks full width — EXACT brute force over survivors, so the
    // whole lifecycle gets a complete DuckDB oracle ----------------------
    ("knn_ivfpq_stored", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfpqst_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeIvfPqIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path,
        kCells = 4, iters = 2)
      Similarity.appendToIvfPqIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 97 === 0).select("vec_id"))
      Similarity.ivfPqStoredTopK(s, path, e.filter(col("vec_id") < 10),
        10, nprobe = 4, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c
             |       WHERE c.vec_id <> q.vec_id AND c.vec_id % 97 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- the serve-only twin: prebuilt store, production sizing (probed
    // cells + capped shortlist) — the serve reads PQ codes in stage 1 and
    // shortlist-sized full vectors in stage 2 (plan spec-pinned) ---------
    ("knn_ivfpq_serve", (s: SparkSession, d: String) => {
      val path = "target/tmp/srv_ivfpq_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      prebuilt(s, d, path)(Similarity.writeIvfPqIndex(e, path, kCells = 4, iters = 2))
      val r = Similarity.ivfPqStoredTopK(s, path, e.filter(col("vec_id") < 10),
        10, nprobe = 2, shortlist = 50)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      r.withColumn("rnk", row_number().over(w))
        .withColumn("prev", lag(col("cosine"), 1).over(w))
        .select(col("query_id"), col("rnk"),
          (col("cosine") <= coalesce(col("prev"), lit(2.0)) + 1e-12).as("monotone_ok"),
          (abs(col("cosine")) <= lit(1.0) + 1e-9).as("in_unit_ok"))
    },
      Some("""SELECT e.vec_id AS query_id, CAST(r.x AS INTEGER) AS rnk,
             |       TRUE AS monotone_ok, TRUE AS in_unit_ok
             |FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 11)) AS x) r
             |WHERE e.vec_id < 10""".stripMargin)),

    // ---- LLM: persisted RESIDUAL IVFADC lifecycle — the published
    // IVFADC composition (coarse quantizer absorbs position, PQ codes
    // only the residual spread) made durable: the trained residual
    // codebooks persist BESIDE the centroids they were computed against
    // (vectors+centroids+residcb land as ONE AtomicSwap unit — codes
    // must never decode through another model generation). Build minus
    // a slice, append it (stored model pair assigns cells AND codes),
    // tombstone a takedown set, then serve with every cell probed and an
    // uncapped shortlist: every pair residual-ADC-shortlists, stage 2
    // exact-reranks full width — EXACT brute force over survivors -------
    ("knn_ivfpq_residual_stored", (s: SparkSession, d: String) => {
      val path = "target/tmp/ivfpqrst_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeIvfPqResidualIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path,
        kCells = 4, iters = 2)
      Similarity.appendToIvfPqResidualIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 97 === 0).select("vec_id"))
      Similarity.ivfPqResidualStoredTopK(s, path, e.filter(col("vec_id") < 10),
        10, nprobe = 4, shortlist = 1 << 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q CROSS JOIN n c
             |       WHERE c.vec_id <> q.vec_id AND c.vec_id % 97 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: persisted SRP-LSH lifecycle — the sign-bit bucketing
    // made durable: hyperplanes persist WITH the store (planes+vectors
    // one swap unit), corpus partitioned by bucket; build minus a slice,
    // append it (stored planes bucket the batch), tombstone a takedown
    // set, serve — the query reads its own bucket's files only ----------
    ("knn_srp_stored", (s: SparkSession, d: String) => {
      val path = "target/tmp/srpst_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      rmrf(s, path)
      val e = embs(s, d)
      Similarity.writeSrpIndex(
        e.filter(col("vec_id") < 100 || col("vec_id") >= 110), path, numPlanes = 8)
      Similarity.appendToSrpIndex(s, path,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 110))
      Similarity.deleteFromIvfIndex(s, path,
        e.filter(col("vec_id") % 97 === 0).select("vec_id"))
      Similarity.srpStoredTopK(s, path, e.filter(col("vec_id") < 10), 10)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |hp AS (SELECT vec_id AS hid, e AS he FROM dv WHERE vec_id < 8),
             |bk AS (SELECT d.vec_id,
             |         CAST(sum(CASE WHEN list_dot_product(d.e, hp.he) >= 0
             |                       THEN (1::BIGINT << hid) ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dv d CROSS JOIN hp GROUP BY d.vec_id),
             |n AS (SELECT d.vec_id, d.e, sqrt(list_sum(list_transform(d.e, x -> x * x))) AS nrm, b.bucket
             |      FROM dv d JOIN bk b USING (vec_id)),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
             |       WHERE c.vec_id % 97 <> 0),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- the serve-only twin: prebuilt SRP store, steady-state plan
    // (stored planes hash the request, bucket IN pushdown — bit-equal to
    // the inline srpTopK, so the full oracle carries over verbatim) ------
    ("knn_srp_serve", (s: SparkSession, d: String) => {
      val path = "target/tmp/srv_srp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      prebuilt(s, d, path)(Similarity.writeSrpIndex(e, path, numPlanes = 8))
      Similarity.srpStoredTopK(s, path, e.filter(col("vec_id") < 10), 10)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |hp AS (SELECT vec_id AS hid, e AS he FROM dv WHERE vec_id < 8),
             |bk AS (SELECT d.vec_id,
             |         CAST(sum(CASE WHEN list_dot_product(d.e, hp.he) >= 0
             |                       THEN (1::BIGINT << hid) ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dv d CROSS JOIN hp GROUP BY d.vec_id),
             |n AS (SELECT d.vec_id, d.e, sqrt(list_sum(list_transform(d.e, x -> x * x))) AS nrm, b.bucket
             |      FROM dv d JOIN bk b USING (vec_id)),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |         list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |       FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall@10 of the stored SRP serve vs exact — the recall
    // dial of the persisted bucketing (collision bound (1 - θ/π)^planes),
    // fully oracled: both rankings reproduce in SQL ----------------------
    ("ann_recall_srp_stored", (s: SparkSession, d: String) => {
      val path = "target/tmp/srv_srp_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      prebuilt(s, d, path)(Similarity.writeSrpIndex(e, path, numPlanes = 8))
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.srpStoredTopK(s, path, q, 10))
    },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
             |hp AS (SELECT vec_id AS hid, e AS he FROM dv WHERE vec_id < 8),
             |bk AS (SELECT d.vec_id,
             |         CAST(sum(CASE WHEN list_dot_product(d.e, hp.he) >= 0
             |                       THEN (1::BIGINT << hid) ELSE 0 END) AS BIGINT) AS bucket
             |       FROM dv d CROSS JOIN hp GROUP BY d.vec_id),
             |n AS (SELECT d.vec_id, d.e, sqrt(list_sum(list_transform(d.e, x -> x * x))) AS nrm, b.bucket
             |      FROM dv d JOIN bk b USING (vec_id)),
             |q AS (SELECT * FROM n WHERE vec_id < 10),
             |apsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
             |ap AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM apsc)
             |       WHERE rnk <= 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin)),

    // ---- LLM: hybrid retrieval over PERSISTED indexes — the serving
    // composition: bm25StoredTopK (postings pruned to the query's term
    // buckets) + ivfStoredTopK (cell IN pushdown; every cell probed here
    // so the vector list is exact and the inline hybrid_rrf oracle
    // carries over verbatim) fused by shortlist-sized RRF — NO corpus
    // re-tokenize, no embedding re-scan (plan spec-pinned) ---------------
    ("hybrid_rrf_stored", (s: SparkSession, d: String) => {
      import s.implicits._
      val bm25Path = "target/tmp/srv_bm25_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val ivfPath = "target/tmp/srv_ivf_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val e = embs(s, d)
      // the two store builds are fully independent (disjoint paths,
      // disjoint inputs) — overlap them (§2.6); first run only, later
      // runs hit both prebuilt markers and skip straight to serving
      graft.storage.IndexStore.inParallel(Seq(
        () => prebuilt(s, d, bm25Path)(Retrieval.writeBm25Index(docs(s, d), bm25Path)),
        () => prebuilt(s, d, ivfPath)(
          Similarity.writeIvfIndex(e, ivfPath, kCells = 4, iters = 2))))
      val lex = Retrieval.bm25StoredTopK(s, bm25Path, bm25Queries(s), k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("doc_id").asc)
      val vec = Similarity.ivfStoredTopK(s, ivfPath,
        e.filter(col("vec_id") < 3), 20, nprobe = 4)
        .withColumnRenamed("neighbor_id", "doc_id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("query_id"), col("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, vec, k = 10)
    },
      Some(s"""WITH $Bm25Cte,
              |lexr AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rank
              |         FROM lexrank WHERE rnk <= 20),
              |dv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
              |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM dv),
              |qn AS (SELECT * FROM n WHERE vec_id < 3),
              |vsc AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
              |          list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
              |        FROM qn q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
              |vecr AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rank FROM (
              |           SELECT query_id, doc_id, row_number() OVER
              |             (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk FROM vsc)
              |         WHERE rnk <= 20),
              |lc AS (SELECT query_id, doc_id,
              |         CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS lex_u,
              |         rank AS lex_rank FROM lexr),
              |vc AS (SELECT query_id, doc_id,
              |         CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS vec_u,
              |         rank AS vec_rank FROM vecr),
              |f AS (SELECT coalesce(lc.query_id, vc.query_id) AS query_id,
              |        coalesce(lc.doc_id, vc.doc_id) AS doc_id,
              |        coalesce(lex_u, 0) + coalesce(vec_u, 0) AS fused_u,
              |        lex_rank, vec_rank
              |      FROM lc FULL OUTER JOIN vc
              |        ON lc.query_id = vc.query_id AND lc.doc_id = vc.doc_id),
              |r AS (SELECT *, row_number() OVER
              |        (PARTITION BY query_id ORDER BY fused_u DESC, doc_id) AS fr FROM f)
              |SELECT query_id, doc_id,
              |       round(CAST(fused_u AS DOUBLE) / 1000000.0, 6) AS fused_score,
              |       CAST(fr AS BIGINT) AS fused_rank, lex_rank, vec_rank
              |FROM r WHERE fr <= 10""".stripMargin)),

    // ---- LLM: IVF with BOUNDED-SAMPLE training — the 100 TB build fix:
    // Lloyd trains on the deterministic 64-vector hash sample (oracle-
    // reproducible, unlike an RNG sample), the FULL corpus assigns
    // through the sampled model; training cost stops scaling with the
    // corpus (`docs/BENCH_NOTES.md`, "Round 13 bounded-sample build
    // probe", records the build curve) ------------------------------------
    ("knn_ivf_sampled", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      Similarity.ivfKmeansSampledTopK(e, e.filter(col("vec_id") < 10), 10,
        nprobe = 2, kCells = 4, iters = 2, sampleN = 64)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      Some(SampledIvfCte + """,
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |      FROM sc)
             |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10""".stripMargin)),

    // ---- LLM: recall@10 of sample-trained IVF vs exact — the evidence
    // that bounding the training set keeps recall in band ----------------
    ("ann_recall_ivf_sampled", (s: SparkSession, d: String) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10),
        Similarity.ivfKmeansSampledTopK(e, q, 10,
          nprobe = 2, kCells = 4, iters = 2, sampleN = 64))
    },
      Some(SampledIvfCte + """,
             |ap AS (SELECT query_id, neighbor_id FROM (
             |          SELECT query_id, neighbor_id, row_number() OVER
             |            (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |          FROM sc)
             |        WHERE rnk <= 10),
             |exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cosine
             |         FROM q CROSS JOIN n c WHERE c.vec_id <> q.vec_id),
             |ex AS (SELECT query_id, neighbor_id FROM (
             |         SELECT query_id, neighbor_id, row_number() OVER
             |           (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM exsc)
             |       WHERE rnk <= 10)
             |SELECT e.query_id,
             |       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |       round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS recall
             |FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             |GROUP BY e.query_id""".stripMargin))
  )

  private def allDefs: Seq[(String, Q, Option[String])] = defs ++ moreDefs ++ serveDefs

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (n, f, _) => n -> f }.toMap

  /** Throws, naming every one, if any of `names` is not in [[queries]]:
    * a misspelt name must fail a run, never shrink it silently. Needs no
    * session, so a main can check its arguments before Spark starts. */
  def requireKnown(names: Iterable[String]): Unit = {
    val unknown = names.toSeq.distinct.filterNot(queries.contains).sorted
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown query names: ${unknown.mkString(", ")}")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
