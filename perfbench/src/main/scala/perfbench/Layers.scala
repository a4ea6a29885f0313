package perfbench

import graft.api.{MetricsService, RestRoutes}
import graft.model.Buckets
import graft.operators.MetricsOps
import graft.storage.GraftStorage
import graft.tagquery.TagQueryParser
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/**
 * Per-layer metrics of a traced run. They come from the spans and
 * listener counts of the timed phase, and from timing calls into each
 * module's public functions after it, on the same store and inputs.
 * Every traced run reports every name in [[Layers.Names]]; a layer the
 * workload does not exercise reads 0.
 */
object Layers {
  type Metric = (String, Double, String)

  val Names: Seq[(String, String)] = Seq(
    "client.read_ms" -> "ms", "client.write_ms" -> "ms", "client.maint_s" -> "s",
    "api.route_ms" -> "ms", "api.execute_ms" -> "ms", "api.transport_ms" -> "ms",
    "api.write_route_ms" -> "ms", "api.write_pts_s" -> "points/s",
    "tagquery.compile_us" -> "us", "tagquery.resolve_ms" -> "ms",
    "storage.tier_check_ms" -> "ms", "storage.scan_bytes" -> "B", "storage.scan_records" -> "count",
    "storage.write_ms" -> "ms", "storage.files_written" -> "count", "storage.bytes_written" -> "B",
    "storage.raw_files" -> "count", "storage.b_per_pt" -> "B",
    "storage.compact_s" -> "s", "storage.refresh_s" -> "s",
    "storage.refresh.gauge_sums_s" -> "s", "storage.refresh.counter_sums_s" -> "s",
    "storage.refresh.avail_s" -> "s", "storage.refresh.counter_increase_s" -> "s",
    "storage.refresh.counter_rate_s" -> "s", "storage.refresh.gauge_rate_s" -> "s",
    "operators.stats_ms" -> "ms",
    "operators.ivf_build_s" -> "s", "operators.bm25_build_s" -> "s", "operators.neardup_build_s" -> "s",
    "operators.ivf_serve_ms" -> "ms", "operators.bm25_serve_ms" -> "ms", "operators.neardup_serve_ms" -> "ms",
    "operators.compact_s" -> "s",
    "streaming.batch_ms" -> "ms", "streaming.addBatch_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms", "streaming.getBatch_ms" -> "ms", "streaming.batches" -> "count",
    "streaming.ivf_drain_ms" -> "ms", "streaming.bm25_drain_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "B", "spark.job_ms" -> "ms", "spark.driver_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.cpu_ms" -> "ms")

  /** Every name, in order, with the measured values filled in. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val m = measured.map(x => x._1 -> x._2).toMap
    val unknown = m.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics $unknown")
    Names.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Wall time of `f` in ms, under a span of the same name. */
  def timed(ctx: Ctx, name: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    ctx.probe.span(name)(f)
    (System.nanoTime() - t0) / 1e6
  }

  /** Wall time per operation as the closed-loop client sees it: reads,
    * writes (POST bodies or append waves) and maintenance runs. */
  def client(reads: Seq[Op], writes: Seq[Op], maint: Seq[Op]): Seq[Metric] = Seq(
    ("client.read_ms", mean(reads.map(_.nanos / 1e6)), "ms"),
    ("client.write_ms", mean(writes.map(_.nanos / 1e6)), "ms"),
    ("client.maint_s", mean(maint.map(_.nanos / 1e9)), "s"))

  /** Input bytes and records per operation, from the listener. */
  def scan(log: OpLog, sel: Seq[Op]): Seq[Metric] = {
    val c = log.perOp(sel)
    val n = math.max(1, sel.size).toDouble
    Seq(("storage.scan_bytes", c.inputBytes / n, "B"), ("storage.scan_records", c.inputRecords / n, "count"))
  }
}

object RestLayers {
  import Layers._

  private def params(q: String): Map[String, String] =
    q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap

  /** The typed body the route table takes for a JSON request body. */
  private def typedBody(path: String, body: Option[String]): AnyRef = body.map(Json.parse).map { j =>
    def strs(n: com.fasterxml.jackson.databind.JsonNode) = Json.elems(n).map(_.asText)
    if (path.endsWith("/raw/query"))
      RestRoutes.RawQuery(ids = strs(j.get("ids")), start = Some(j.get("start").asText),
        end = Some(j.get("end").asText), order = Some(j.get("order").asText))
    else
      RestRoutes.MixedStatsQuery(
        metrics = j.get("metrics").properties().asScala.map(e => e.getKey -> strs(e.getValue)).toMap,
        start = Some(j.get("start").asText), end = Some(j.get("end").asText),
        buckets = Some(j.get("buckets").asInt))
  }.orNull

  def apply(ctx: Ctx, s: Rest.Served, ms: Seq[Gen.Metric], d0: Long, log: OpLog,
            maint: (Double, Double), gc: Double): Seq[Metric] = {
    val spark = ctx.spark
    val day = Rest.dayOf(d0)
    val slice = day / GraftStorage.SliceMs
    val timedReads = log.of(Rest.ReadKinds: _*)
    val writes = log.of("write")

    // api: the round's reads again, through the route table alone
    val replay = (Rest.writes(ctx, ms, d0).filter(_.kind == "read_back") ++ Rest.reads(ctx, ms, d0)).map { q =>
      val (path, query) = q.path.split("\\?", 2) match {
        case Array(p, qs) => (p, params(qs)); case Array(p) => (p, Map.empty[String, String])
      }
      val routes = new RestRoutes(spark, s.svc, q.tenant)
      var result: RestRoutes.Result = null
      val routeMs = timed(ctx, "api.route") { result = routes.route(q.method, path, query, typedBody(path, q.body)) }
      val execMs = result match {
        case RestRoutes.Ok(df) => timed(ctx, "api.execute")(df.collect())
        case other => ctx.fail(s"route replay of ${q.path} answered $other"); 0.0
      }
      (routeMs, execMs)
    }
    val routeMs = mean(replay.map(_._1))
    val execMs = mean(replay.map(_._2))
    val httpMs = mean(timedReads.map(_.nanos / 1e6))

    // storage writes: the round's bodies as frames, into a scratch
    // store, without HTTP; and through the route table (which executes
    // the write) into another
    val scratch = Store.service(spark, ctx.freshDir("layers_write"))
    val scratchRoot = ctx.workDir.resolve("layers_write").toString
    val routeStore = new MetricsService(spark, ctx.freshDir("layers_route"))
    val byType = Seq(Gen.GaugeCode, Gen.CounterCode, Gen.AvailCode).map(code => Rest.ofType(ms, Rest.Writer, code))
    val writeRuns = byType.map { mids =>
      val frame = Store.frame(spark, Store.rows(mids, ctx.seed, day, day + Gen.Day, Rest.Step, d0)).localCheckpoint()
      val files0 = Store.du(s"$scratchRoot/data")._2
      val wMs = timed(ctx, "storage.write")(scratch.addDataPoints(frame))
      val files = Store.du(s"$scratchRoot/data")._2 - files0
      val body = mids.map { m =>
        RestRoutes.MetricPoints(m.name, Rest.samples(ctx, m, day, day + Gen.Day, d0).map { case (t, v) =>
          RestRoutes.PointValue(t, m.mtype match {
            case Gen.GaugeCode => v
            case Gen.CounterCode => v.toLong
            case _ => if (v == 0.0) "up" else "down"
          })
        })
      }
      val rMs = timed(ctx, "api.write_route")(new RestRoutes(spark, routeStore, Rest.Writer)
        .route("POST", s"/${mids.head.typeSeg}/raw", Map.empty, body))
      (wMs, files.toDouble, rMs)
    }
    val wc = log.perOp(writes)
    val postedPts = byType.map(_.size).sum * (Gen.Day / Rest.Step).toDouble

    // tag queries: the expression form of the round's tag filters
    val exprs = Rest.reads(ctx, ms, d0).filter(q => q.kind == "tag_stats" || q.kind == "tag_ids")
      .map(q => params(q.path.split("\\?", 2)(1))("tags").split(",").map { kv =>
        val Array(k, v) = kv.split(":", 2); s"$k = $v" }.mkString(" AND "))
    val compileUs = mean(exprs.flatMap(e => (1 to 20).map(_ =>
      timed(ctx, "tagquery.compile")(TagQueryParser.compile(TagQueryParser.parse(e), col("tags"))) * 1000)))
    val resolveMs = mean(exprs.map(e => timed(ctx, "tagquery.resolve")(
      s.svc.findMetricIdentifiersWithFilters(Rest.Writer, None, e).collect())))

    // tier dispatch probes for the round's hour-aligned requests
    val tiers = MetricsService.defaultTiers(s.root)
    val grid = Buckets(day, 4 * Gen.Hour, 6)
    val tierMs = mean(Seq(tiers.gaugeSums, tiers.counterRate, tiers.avail).map(p =>
      timed(ctx, "storage.tier_check")(GraftStorage.tierServes(spark, p, grid))))

    // each refresh family alone over the last day, into scratch tiers
    val raw = s"${s.root}/data"
    val t = ctx.freshDir("layers_tiers")
    def fam(name: String)(f: => Unit) = (s"storage.refresh.${name}_s", timed(ctx, s"storage.refresh.$name")(f) / 1e3, "s")
    val families = Seq(
      fam("gauge_sums")(GraftStorage.writeRollup(spark, raw, s"$t/gs", slice + 1, slice)),
      fam("counter_sums")(GraftStorage.writeRollup(spark, raw, s"$t/cs", slice + 1, slice, valueCol = "l_value")),
      fam("avail")(GraftStorage.writeRollupAvail(spark, raw, s"$t/av", slice + 1, slice)),
      fam("counter_increase")(GraftStorage.writeRollupCounter(spark, raw, s"$t/ci", slice + 1, slice)),
      fam("counter_rate")(GraftStorage.writeRollupRate(spark, raw, s"$t/cr", isCounter = true,
        valueCol = "l_value", upToSlice = slice + 1, fromSlice = slice)),
      fam("gauge_rate")(GraftStorage.writeRollupRate(spark, raw, s"$t/gr", isCounter = false,
        valueCol = "n_value", upToSlice = slice + 1, fromSlice = slice)))

    // the stats operator over a materialised raw window, noop sink
    val g = Rest.ofType(ms, Rest.Writer, Gen.GaugeCode).head
    val window = s.svc.raw().filter(col("tenant_id") === Rest.Writer && col("mtype") === Gen.GaugeCode &&
      col("metric") === g.name && col("time") >= day && col("time") < day + Gen.Day).localCheckpoint()
    val statsMs = mean((1 to 3).map(_ => timed(ctx, "operators.stats")(
      MetricsOps.numericBucketStats(window, Buckets(day, Gen.Day / 5, 5), Seq(0.9)).foreach(_ => ()))))

    val (storeBytes, rawFiles) = (Store.du(s.root)._1, Store.du(raw)._2)
    val storedPts = (ms.size * Rest.HistoryDays + byType.map(_.size).sum) * (Gen.Day / Rest.Step).toDouble
    complete(Seq(
      ("api.route_ms", routeMs, "ms"), ("api.execute_ms", execMs, "ms"),
      ("api.transport_ms", math.max(0.0, httpMs - routeMs - execMs), "ms"),
      ("api.write_route_ms", mean(writeRuns.map(_._3)), "ms"),
      ("api.write_pts_s", postedPts / (writes.map(_.nanos).sum / 1e9), "points/s"),
      ("tagquery.compile_us", compileUs, "us"), ("tagquery.resolve_ms", resolveMs, "ms"),
      ("storage.tier_check_ms", tierMs, "ms"),
      ("storage.write_ms", mean(writeRuns.map(_._1)), "ms"),
      ("storage.files_written", mean(writeRuns.map(_._2)), "count"),
      ("storage.bytes_written", wc.outputBytes.toDouble / math.max(1, writes.size), "B"),
      ("storage.raw_files", rawFiles.toDouble, "count"),
      ("storage.b_per_pt", storeBytes / storedPts, "B"),
      ("storage.compact_s", maint._1, "s"), ("storage.refresh_s", maint._2, "s"),
      ("operators.stats_ms", statsMs, "ms")) ++ families ++ scan(log, timedReads) ++
      client(timedReads, writes, log.of("maint")) ++
      log.engineLayer(log.ops.toSeq, gc))
  }
}

object CorpusLayers {
  import Layers._

  def apply(ctx: Ctx, log: OpLog, gc: Double): Seq[Metric] = {
    val p = ctx.probe
    def spanS(span: String) = p.spanMs(span) / 1e3
    def perCallMs(span: String) = p.spanMs(span) / math.max(1, p.spanCount(span))
    val progress = p.progress.synchronized(p.progress.toList)
    def phase(k: String) = mean(progress.map(pr => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val waves = math.max(1, log.of("append").size)
    complete(Seq(
      ("operators.ivf_build_s", spanS("operators.ivf_build"), "s"),
      ("operators.bm25_build_s", spanS("operators.bm25_build"), "s"),
      ("operators.neardup_build_s", spanS("operators.neardup_build"), "s"),
      ("operators.ivf_serve_ms", perCallMs("operators.ivf_serve"), "ms"),
      ("operators.bm25_serve_ms", perCallMs("operators.bm25_serve"), "ms"),
      ("operators.neardup_serve_ms", perCallMs("operators.neardup_serve"), "ms"),
      ("operators.compact_s", spanS("operators.compact"), "s"),
      ("streaming.batch_ms", phase("triggerExecution"), "ms"),
      ("streaming.addBatch_ms", phase("addBatch"), "ms"),
      ("streaming.walCommit_ms", phase("walCommit"), "ms"),
      ("streaming.queryPlanning_ms", phase("queryPlanning"), "ms"),
      ("streaming.getBatch_ms", phase("getBatch"), "ms"),
      ("streaming.batches", progress.count(_.numInputRows > 0).toDouble / waves, "count"),
      ("streaming.ivf_drain_ms", perCallMs("streaming.ivf"), "ms"),
      ("streaming.bm25_drain_ms", perCallMs("streaming.bm25"), "ms")) ++
      scan(log, log.of("read")) ++ client(log.of("read"), log.of("append"), log.of("compact")) ++
      log.engineLayer(log.ops.toSeq, gc))
  }
}
