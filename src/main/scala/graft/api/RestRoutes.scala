package graft.api

import graft.model._
import graft.operators.MetricsOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Thin REST facade over [[MetricsService]] — the route table of the
 * reference's JAX-RS layer (api/metrics-api-jaxrs/.../handler/
 * GaugeHandler.java, CounterHandler.java, AvailabilityHandler.java,
 * StringHandler.java, MetricHandler.java, TenantsHandler.java),
 * re-expressed transport-free: a request is (method, path, query params,
 * typed body), the response is the service's LAZY DataFrame (the
 * Observable→collection step of the reference is the caller's
 * collect/serialize decision, not the engine's). The table does exactly
 * what the JAX-RS annotations + param converters do — parse params with
 * the model grammars (TimeRange offsets, Duration, Percentiles, Tags,
 * Order), dispatch to the service, map bad input to 400, unknown routes
 * to 404, and known paths hit with an unsupported method to 405 (the
 * container's NotAllowedException, ErrorsITest.groovy:37-42). The
 * content-negotiation errors (406/415) are transport-level — they live
 * in whatever HTTP layer a deployment straps on, not here.
 *
 * Bodies are typed case classes rather than JSON documents by design:
 * the engine ships no HTTP server or JSON codec (zero added
 * dependencies); a deployment straps its serializer of choice over this
 * table. What the table guarantees is the reference's ROUTE SEMANTICS —
 * e.g. `POST /gauges/stats/query` and `GET /gauges/stats` run the same
 * plan (GaugeMetricStatisticsITest.groovy:304-323 asserts their results
 * are equal), both raw-fetch orders default by the T3 rule, and stats
 * routes echo original percentile strings.
 *
 * The facade's divergence rule: params the reference does not carry on
 * a route (e.g. `fromEarliest` on COUNTER rate fetches, bucket params
 * on GAUGE rate fetches, `distinct` on tag-selected raw) answer 400
 * rather than being silently ignored — nothing silently diverges.
 * `fromEarliest` is honored everywhere the reference threads it — every
 * per-type raw GET, stats, rate/stats — including the cross-id
 * earliest-window resolution on multi-metric routes (longest retention
 * among the selected metrics, MetricsServiceHandler.java:79-108).
 */
object RestRoutes {
  // route segment → stored metric type (the reference's per-type handler
  // classes; the virtual rate types have no collection routes)
  private[api] val TypeSeg: Map[String, MetricType] = Map(
    "gauges" -> MetricType.Gauge, "counters" -> MetricType.Counter,
    "availability" -> MetricType.Availability, "strings" -> MetricType.Str)

  /** Manifest Implementation-Version when packaged, dev fallback
    * otherwise (the reference's StatusHandler manifest read). */
  private[api] val ImplementationVersion: String =
    Option(classOf[RestRoutes].getPackage.getImplementationVersion)
      .getOrElse("0.10.0-dev")

  /** Build SHA: `graft.build.sha` system property / GRAFT_BUILD_SHA env
    * when a build pipeline stamps one, else "dev" (never "Unknown" —
    * StatusITest treats that text as a broken manifest). */
  private[api] val BuildSha: String =
    sys.props.get("graft.build.sha")
      .orElse(sys.env.get("GRAFT_BUILD_SHA"))
      .filter(_.trim.nonEmpty).getOrElse("dev")


  /** Response ADT — the facade never throws for routing/parameter
    * errors, it answers like the reference's error mapper. */
  sealed trait Result
  /** 200 with a lazy frame body. */
  final case class Ok(body: DataFrame) extends Result
  /** 2xx for writes (the reference answers created/empty). */
  case object NoContent extends Result
  /** 4xx with the reference's ApiError message shape. */
  final case class ApiError(status: Int, message: String) extends Result

  /** Body of POST /{type}s — the reference's MetricDefinition
    * (Metric.java: id + tags + nullable dataRetention). `mtype` (the
    * body's type text) is required only on the cross-type POST /metrics
    * route (MetricHandler.java:121-149); the per-type routes take the
    * type from the path. */
  final case class MetricDefinition(id: String,
                                    tags: Map[String, String] = Map.empty,
                                    dataRetention: Option[Int] = None,
                                    mtype: Option[String] = None)

  /** Body of POST /tenants (Tenant.java: id + per-type retentions keyed
    * by type text). */
  final case class TenantDefinition(id: String,
                                    retentions: Map[String, Int] = Map.empty)

  /** One datapoint of a POST .../raw body; `value` is typed per route
    * (gauge Double, counter Long, availability state text, string).
    * `tags` are the OPTIONAL per-point tags of the reference's DataPoint
    * body (AvailabilityITest.groovy addTaggedDataPoints, GaugesITest
    * fetchRawDataWithDatapointTags: ingested tags round-trip through the
    * raw GET and feed the F5/A6 tagged-stats paths). */
  final case class PointValue(timestamp: Long, value: Any,
                              tags: Map[String, String] = Map.empty)

  /** Body of POST /{type}s/raw — one metric's points in a multi-metric
    * ingest (the reference's Metric-with-data list element). */
  final case class MetricPoints(id: String, data: Seq[PointValue])

  /** Body of POST /metrics/raw — the reference's MixedMetricsRequest
    * (MetricHandler.java:256-303): per-type lists of metrics-with-points
    * ingested in one call. */
  final case class MixedMetricsBody(gauges: Seq[MetricPoints] = Seq.empty,
                                    counters: Seq[MetricPoints] = Seq.empty,
                                    availabilities: Seq[MetricPoints] = Seq.empty,
                                    strings: Seq[MetricPoints] = Seq.empty) {
    def isEmpty: Boolean =
      gauges.isEmpty && counters.isEmpty && availabilities.isEmpty && strings.isEmpty
  }

  /** Body of POST /{type}s/raw/query — the reference's QueryRequest
    * (QueryRequest.java:24-60): ids-or-tags multi-metric raw fetch with
    * the standard start/end/limit/order params. */
  final case class RawQuery(ids: Seq[String] = Seq.empty,
                            tags: Option[String] = None,
                            start: Option[String] = None,
                            end: Option[String] = None,
                            limit: Option[Int] = None,
                            order: Option[String] = None,
                            fromEarliest: Boolean = false)

  /** Body of POST /{type}s/stats/query — the reference's
    * AggregatedStatsQueryRequest (GaugeHandler.java:618-651): the SAME
    * fields as GET /{type}s/stats' query params, which is what makes the
    * POST ≡ GET invariant testable. */
  final case class AggregatedStatsQuery(metrics: Seq[String] = Seq.empty,
                                        tags: Option[String] = None,
                                        start: Option[String] = None,
                                        end: Option[String] = None,
                                        buckets: Option[Int] = None,
                                        bucketDuration: Option[String] = None,
                                        percentiles: Option[String] = None,
                                        stacked: Boolean = false,
                                        fromEarliest: Boolean = false,
                                        // ENGINE EXTENSION (absent = the
                                        // reference-shaped default)
                                        percentileMode: Option[String] = None)

  /** Body of POST /metrics/stats/query (StatsQueryRequest.java:30-46):
    * series named by the per-type-text `metrics` id map OR the `tags`
    * expression (metrics wins when it names a stored family,
    * MetricHandler.java:374-377); `types` carries metric-type TEXTS
    * including the virtual rate types ("counter_rate", "gauge_rate" —
    * MetricHandler.java:368-380,424,476). */
  final case class MixedStatsQuery(tags: Option[String] = None,
                                   metrics: Map[String, Seq[String]] = Map.empty,
                                   types: Seq[String] = Seq.empty,
                                   start: Option[String] = None,
                                   end: Option[String] = None,
                                   buckets: Option[Int] = None,
                                   bucketDuration: Option[String] = None,
                                   percentiles: Option[String] = None)
}

class RestRoutes(spark: SparkSession, svc: MetricsService, tenant: String,
                 serviceState: () => String = () => "STARTED") {
  import RestRoutes._

  /** Dispatch one request. `now` is injectable for deterministic tests
    * (the reference resolves relative times against wall clock). */
  def route(method: String, path: String,
            params: Map[String, String] = Map.empty,
            body: AnyRef = null,
            now: Long = System.currentTimeMillis()): Result = {
    // "/m" is the reference's dual-path alias of "/metrics" on every
    // MetricHandler route (@Path("/{dual_path:metrics|m}"),
    // MetricHandler.java:100; MetricsITest.groovy dualPathTest)
    val segs = path.split("/").filter(_.nonEmpty).toList match {
      case "m" :: rest => "metrics" :: rest
      case s => s
    }
    try dispatch(method.toUpperCase, segs, params, body, now)
    catch {
      // a non-overwrite create on an existing id is a conflict, not bad
      // input (MetricCreatedObserver / TenantCreatedObserver map to 409)
      case e: MetricsService.MetricAlreadyExistsException => ApiError(409, e.getMessage)
      case e: MetricsService.TenantAlreadyExistsException => ApiError(409, e.getMessage)
      // the model grammars throw IllegalArgument on bad input — the
      // JAX-RS layer maps exactly these to 400 ApiError
      case e: IllegalArgumentException => ApiError(400, e.getMessage)
    }
  }


  private def dispatch(method: String, segs: List[String],
                       params: Map[String, String], body: AnyRef,
                       now: Long): Result = (method, segs) match {
    // ---- service meta (BaseHandler, PingHandler, StatusHandler,
    // AdminHandler) — the reference answers JSON objects; the relational
    // shape here is one (name, value) row per entry. Cassandra health
    // maps to the storage layer, which is as alive as the SparkSession.
    // RootITest/StatusITest assert Implementation-Version non-null and
    // Built-From-Git-SHA1 != "Unknown"; the reference reads both from
    // the war manifest (BaseHandler/StatusHandler). This library's
    // analogs resolve from the jar manifest when packaged, with dev-run
    // fallbacks (a `graft.build.sha` system property for the SHA).
    case ("GET", Nil) => Ok(kvFrame(
      "name" -> "graft-metrics",
      "Implementation-Version" -> RestRoutes.ImplementationVersion,
      "Built-From-Git-SHA1" -> RestRoutes.BuildSha))
    case ("GET", "ping" :: Nil) =>
      // StringValue(new Date()) — the current time, for liveness checks
      // (PingHandler.java:46-51); `now` injectable like everywhere else
      Ok(kvFrame("value" -> new java.util.Date(now).toString))
    // StatusHandler reports the LIVE lifecycle state — it is exempt from
    // the state filter precisely so operators can watch the service come
    // up / drain (StatusHandler.java:63-67 status.put(METRICSSERVICE_NAME,
    // metricState.toString()))
    case ("GET", "status" :: Nil) =>
      Ok(kvFrame("MetricsService" -> serviceState(), "Storage" -> "up",
        "Implementation-Version" -> RestRoutes.ImplementationVersion,
        "Built-From-Git-SHA1" -> RestRoutes.BuildSha))
    case ("GET", "admin" :: "status" :: Nil) =>
      Ok(kvFrame("MetricsService" -> serviceState(), "Storage" -> "up"))
    // cross-tenant descriptor_name-tagged definition scan
    // (OpenshiftServlet.java; admin-guarded like /tenants + /admin when
    // a token is configured — AdminFilter.java:74)
    case ("GET", "openshift" :: Nil) => Ok(svc.openshiftMetrics())

    // ---- tenants (TenantsHandler) ------------------------------------
    case ("GET", "tenants" :: Nil) => Ok(svc.getTenants())
    case ("POST", "tenants" :: Nil) => body match {
      case t: TenantDefinition =>
        svc.createTenant(t.id, t.retentions, overwrite = flag(params, "overwrite"))
        NoContent
      case _ => badBody("TenantDefinition")
    }
    case ("DELETE", "tenants" :: id :: Nil) => svc.deleteTenant(id); NoContent

    // ---- catalog (MetricHandler GET /metrics, per-type collections) --
    case ("GET", "metrics" :: Nil) => definitions(userTypeParam(params), params)
    // tag-NAME discovery w/ optional filter pattern + type scope
    // (MetricHandler.java:151-168 getTagNames)
    case ("GET", "metrics" :: "tags" :: Nil) =>
      Ok(svc.getTagNames(tenant, userTypeParam(params), params.get("filter")))
    // tag-VALUE discovery: {tags} is a name:pattern map, the answer is the
    // matching (name, value) pairs over the metric set that satisfies ALL
    // filters (MetricHandler.java:170-187 getTags → getTagValues)
    case ("GET", "metrics" :: "tags" :: tags :: Nil) =>
      Ok(svc.getTagValues(tenant, userTypeParam(params), Tags.parse(tags)))
    // cross-type create: the body carries the type text
    // (MetricHandler.java:121-149; non-user types rejected)
    case ("POST", "metrics" :: Nil) => body match {
      case d: MetricDefinition =>
        val t = MetricType.fromText(d.mtype.getOrElse(
          throw new IllegalArgumentException("Metric type is invalid")))
        require(t.isUserType, "Metric type is invalid")
        createMetric(t, d, params)
      case _ => badBody("MetricDefinition with mtype")
    }
    case ("GET", Seg(t) :: Nil) => definitions(Some(t), params)
    case ("POST", Seg(t) :: Nil) => body match {
      case d: MetricDefinition =>
        // a body type text conflicting with the path answers 400
        // (CassandraBackendITest.groovy testCreateTypeChecking)
        d.mtype.foreach(txt => require(MetricType.fromText(txt) == t,
          s"Metric type does not match the path type ${t.text}"))
        createMetric(t, d, params)
      case _ => badBody("MetricDefinition")
    }
    // per-type tag-VALUE discovery (GaugeHandler.java:206-221 getTags —
    // same getTagValues semantics as the cross-type route, type-pinned)
    case ("GET", Seg(t) :: "tags" :: tags :: Nil) =>
      Ok(svc.getTagValues(tenant, Some(t), Tags.parse(tags)))
    // tag-selected raw datapoints w/ cross-metric fromEarliest — all
    // four user types (GaugeHandler.java:890-920, CounterHandler.java:
    // 881-913, AvailabilityHandler.java:492-524, StringHandler.java:
    // 354-386; CountersITest.groovy:2210 drives the counter one).
    // The reference carries no `distinct` here — reject it loudly
    // rather than returning uncollapsed points a caller asked collapsed
    case ("GET", Seg(t) :: "tags" :: tags :: "raw" :: Nil) =>
      // flag-gated like rawFetch: a false-valued flag is a no-op the
      // reference would ignore too — only TRUE diverges, so only TRUE 400s
      if (flag(params, "distinct"))
        ApiError(400, "distinct is supported on per-metric raw routes only")
      else rawMultiQuery(t, RawQuery(tags = Some(tags),
        start = params.get("start"), end = params.get("end"),
        limit = params.get("limit").map(_.toInt),
        order = params.get("order"),
        fromEarliest = flag(params, "fromEarliest")), now)
    // LITERAL multi-metric stats route must win over the /{id} template
    // (JAX-RS gives literal segments precedence) — see aggStats below.
    // "data" is the deprecated alias of the same handler
    // (GaugeHandler.java:689-708 deprecatedFindData, counter :762-780)
    case ("GET", Seg(t) :: ("stats" | "data") :: Nil)
        if t == MetricType.Gauge || t == MetricType.Counter =>
      aggStats(t, AggregatedStatsQuery(
        metrics = params.get("metrics").map(_.split(",").toSeq).getOrElse(Seq.empty),
        tags = params.get("tags"),
        start = params.get("start"), end = params.get("end"),
        buckets = params.get("buckets").map(_.toInt),
        bucketDuration = params.get("bucketDuration"),
        percentiles = params.get("percentiles"),
        stacked = flag(params, "stacked"),
        fromEarliest = flag(params, "fromEarliest"),
        percentileMode = params.get("percentileMode")), now)
    // JAX-RS literal-wins: a one-segment path equal to a literal route
    // word ("raw"/"data" ingest, "stats" collection) never falls back to
    // the {id} template for methods the literal doesn't carry — DELETE
    // /gauges/stats is 405 in the reference container, not a delete of a
    // metric named "stats" (such a metric is unaddressable there too)
    // "rate" is a literal on COUNTERS only (the deprecated collection
    // rate-stats alias below) — literal-wins excludes it from the {id}
    // template there, while /gauges/rate stays an ordinary metric id
    case ("GET", Seg(t) :: id :: Nil)
        if !ReservedIdSeg(id) && !(t == MetricType.Counter && id == "rate") =>
      // single-definition GETs carry the data min/max timestamps when
      // data exists (AvailabilityITest.minMaxTimestamps)
      Ok(svc.findMetricWithTimestamps(mid(t, id)))
    case ("DELETE", Seg(t) :: id :: Nil)
        if !ReservedIdSeg(id) && !(t == MetricType.Counter && id == "rate") =>
      svc.deleteMetric(mid(t, id)); NoContent
    case ("GET", Seg(t) :: id :: "tags" :: Nil) => Ok(svc.getMetricTags(mid(t, id)))
    case ("PUT", Seg(t) :: id :: "tags" :: Nil) => body match {
      case m: Map[_, _] =>
        svc.addTags(mid(t, id), m.asInstanceOf[Map[String, String]]); NoContent
      case _ => badBody("Map[String, String]")
    }
    case ("DELETE", Seg(t) :: id :: "tags" :: names :: Nil) =>
      svc.deleteTags(mid(t, id), TagNames.parse(names)); NoContent

    // ---- raw ingest + fetch (per-type {id}/raw, + deprecated /data) --
    // an empty point list answers 400 like an empty body — the reference
    // maps both to emptyPayload (GaugesITest shouldNotAddDataForMetric-
    // WithEmptyPayload posts "" AND [] and expects 400 for each)
    case ("POST", Seg(t) :: id :: ("raw" | "data") :: Nil) => body match {
      case pts: Seq[_] if pts.nonEmpty && pts.forall(_.isInstanceOf[PointValue]) =>
        ingest(t, pointsFrame(Seq(t -> MetricPoints(id, pts.asInstanceOf[Seq[PointValue]]))))
      case pts: Seq[_] if pts.isEmpty =>
        ApiError(400, "Payload is empty")
      case _ => badBody("Seq[PointValue]")
    }
    // multi-metric ingest: POST /{type}s/raw with a list of per-metric
    // point lists (GaugeHandler.java:306-322 addGaugeData; :381-390 is
    // the deprecated /data alias)
    case ("POST", Seg(t) :: ("raw" | "data") :: Nil) => body match {
      case ms: Seq[_] if ms.nonEmpty && ms.forall(_.isInstanceOf[MetricPoints]) =>
        ingest(t, pointsFrame(ms.asInstanceOf[Seq[MetricPoints]].map(t -> _)))
      case _ => badBody("non-empty Seq[MetricPoints]")
    }
    // mixed-type multi-metric ingest: one body carrying gauges + counters
    // + availabilities + strings (MetricHandler.java:256-303
    // addMetricsData; empty payload → 400)
    case ("POST", "metrics" :: ("raw" | "data") :: Nil) => body match {
      case m: MixedMetricsBody =>
        require(!m.isEmpty, "Payload is empty")
        val typed = Seq(
          MetricType.Gauge -> m.gauges, MetricType.Counter -> m.counters,
          MetricType.Availability -> m.availabilities)
          .flatMap { case (t, ms) => ms.map(t -> _) }
        if (typed.nonEmpty) svc.addDataPoints(pointsFrame(typed))
        if (m.strings.nonEmpty)
          svc.addStringDataPoints(pointsFrame(m.strings.map(MetricType.Str -> _)))
        NoContent
      case _ => badBody("MixedMetricsBody")
    }
    // multi-metric raw fetch: POST /{type}s/raw/query with an
    // ids-or-tags body (GaugeHandler.java:323-351, QueryRequest),
    // cross-metric fromEarliest included
    case ("POST", Seg(t) :: "raw" :: "query" :: Nil) => body match {
      case q: RawQuery => rawMultiQuery(t, q, now)
      case _ => badBody("RawQuery")
    }
    // multi-metric RATE fetch (GaugeHandler.java:352-390 getRateData,
    // counter :322-350 — the reference annotates the route @GET @POST
    // with the same QueryRequest body)
    case ("GET" | "POST", Seg(t) :: "rate" :: "query" :: Nil)
        if t == MetricType.Gauge || t == MetricType.Counter =>
      body match {
        case q: RawQuery => rateMultiQuery(t, q, now)
        case _ => badBody("RawQuery")
      }
    case ("GET", Seg(t) :: id :: "raw" :: Nil) => rawFetch(t, id, params, now)

    // deprecated /data alias (GaugeHandler.java:392-447, CounterHandler
    // :400-460): bucket params present → stats; absent → raw; bucketed +
    // limit/order → 400; fromEarliest ONLY with bucket params (the raw
    // dispatch predates the flag — CounterHandler.java:449-456 answers
    // "fromEarliest can only be used with bucketed results")
    case ("GET", Seg(t) :: id :: "data" :: Nil) =>
      val bucketed = params.contains("buckets") || params.contains("bucketDuration")
      if (bucketed || flag(params, "fromEarliest")) {
        require(bucketed, "fromEarliest can only be used with bucketed results")
        require(!params.contains("limit") && !params.contains("order"),
          "Limit and order cannot be used with bucketed results")
        idStats(t, id, params, now)
      } else rawFetch(t, id, params, now)

    // ---- rates (CounterHandler/GaugeHandler {id}/rate[, /stats]) -----
    // LITERAL collection route first: rate stats over an ids-or-tags
    // selection (CounterHandler GET /rate/stats :782-825, gauge twin)
    // `rest == Nil` admits the DEPRECATED counter-only alias
    // GET /counters/rate ≡ GET /counters/rate/stats
    // (CounterHandler.java:826-844 deprecatedFindCounterRateDataStats);
    // gauges have no bare /rate literal — GET /gauges/rate stays the
    // {id} template, fetching the definition of a metric named "rate"
    case ("GET", Seg(t) :: "rate" :: rest)
        if (rest == List("stats") && (t == MetricType.Gauge || t == MetricType.Counter)) ||
          (rest == Nil && t == MetricType.Counter) =>
      val metrics = params.get("metrics").map(_.split(",").toSeq).getOrElse(Seq.empty)
      val tags = params.get("tags")
      require(metrics.nonEmpty ^ tags.nonEmpty,
        "Either metrics or tags is required, but not both")
      val pcts = percentilesOf(params.get("percentiles"))
      def ids: DataFrame = tags match {
        case Some(expr) => svc.findMetricIdentifiersWithFilters(tenant, Some(t), expr)
        case None =>
          val s = spark; import s.implicits._
          metrics.toDF("metric")
      }
      // fromEarliest derives the window from the selected metrics'
      // longest retention, like the value-stats twin
      // (CounterHandler.java:782-825 via the multi-id findTimeRange)
      val stats =
        if (flag(params, "fromEarliest")) {
          require(!params.contains("start") && !params.contains("end"),
            "fromEarliest can only be used without start & end")
          svc.findRateStatsFromEarliest(tenant, t, ids,
            params.get("buckets").map(_.toInt),
            params.get("bucketDuration").map(GDuration.parse),
            pcts.quantiles, flag(params, "stacked"), now)
        } else
          svc.findRateStats(tenant, t, ids, bucketConfig(params, now),
            pcts.quantiles, flag(params, "stacked"))
      Ok(renamePcts(stats, pcts))
    // per-metric rate fetch. The two handlers differ — COUNTER's route
    // predates the rate/stats split and carries DEPRECATED bucket params
    // dispatching to rate STATS (limit/order cannot combine with them,
    // CounterHandler.java:569-638) but no fromEarliest; GAUGE's newer
    // route has fromEarliest and no bucket params (GaugeHandler.java:
    // 775-804). Params the other handler doesn't carry answer 400.
    case ("GET", Seg(t) :: id :: "rate" :: Nil)
        if t == MetricType.Gauge || t == MetricType.Counter =>
      val bucketed = params.contains("buckets") || params.contains("bucketDuration")
      if (flag(params, "fromEarliest")) {
        if (t == MetricType.Counter)
          ApiError(400, "fromEarliest is not supported on counter rate fetches")
        else {
          require(!params.contains("start") && !params.contains("end"),
            "fromEarliest can only be used without start & end")
          require(!bucketed, "gauge rate fetches carry no bucket params")
          Ok(svc.findRateDataFromEarliest(mid(t, id),
            params.get("limit").map(_.toInt).getOrElse(0),
            params.get("order").map(Order.fromText), now))
        }
      } else if (bucketed) {
        if (t == MetricType.Gauge)
          ApiError(400, "gauge rate fetches carry no bucket params; use /rate/stats")
        else {
          require(!params.contains("limit") && !params.contains("order"),
            "Limit and order cannot be used with bucketed results")
          val pcts = percentilesOf(params.get("percentiles"))
          Ok(renamePcts(
            svc.findRateStats(mid(t, id), bucketConfig(params, now), pcts.quantiles), pcts))
        }
      } else {
        val (start, end) = resolvedRange(params, now)
        Ok(svc.findRateData(mid(t, id), start, end,
          params.get("limit").map(_.toInt).getOrElse(0),
          params.get("order").map(Order.fromText), now))
      }
    // rate STATS carries fromEarliest on BOTH handlers (GaugeHandler
    // :807-845, CounterHandler :640-679), leading empties dropped
    case ("GET", Seg(t) :: id :: "rate" :: "stats" :: Nil)
        if t == MetricType.Gauge || t == MetricType.Counter =>
      val pcts = percentilesOf(params.get("percentiles"))
      if (flag(params, "fromEarliest")) {
        require(!params.contains("start") && !params.contains("end"),
          "fromEarliest can only be used without start & end")
        Ok(renamePcts(svc.findRateStatsFromEarliest(mid(t, id),
          params.get("buckets").map(_.toInt),
          params.get("bucketDuration").map(GDuration.parse),
          pcts.quantiles, now), pcts))
      } else
        // percentileMode=tier routes aligned in-watermark rate-percentile
        // requests through the rate tier pair (engine extension; exact is
        // the default, estimator modes refuse on this surface)
        Ok(renamePcts(
          svc.findRateStats(mid(t, id), bucketConfig(params, now), pcts.quantiles,
            percentileModeOf(params)), pcts))

    // ---- per-metric stats (+ tagged variant, + periods) --------------
    case ("GET", Seg(t) :: id :: "stats" :: Nil) => idStats(t, id, params, now)
    case ("GET", Seg(t) :: id :: "stats" :: "tags" :: tags :: Nil)
        if t == MetricType.Gauge || t == MetricType.Counter =>
      val pcts = percentilesOf(params.get("percentiles"))
      // same default window as every fetch route (now-8h .. now) — the
      // reference's stats-by-tags handler takes the ordinary start/end
      // params (GaugeMetricStatisticsITest.findTaggedBuckets:1059-1063).
      // No order-defaulting rule applies here, so resolve absent params
      // to the default window (unlike resolvedRange, which keeps absence).
      val r = TimeRange(params.get("start"), params.get("end"), now)
      // ENGINE EXTENSION param `tagSource`: the default `point` is the
      // reference's per-point grouping; `metric` tests the CATALOG
      // definition instead and serves aligned in-watermark requests from
      // the sums tier (MetricsService.findStatsMetricTags)
      val stats = params.getOrElse("tagSource", "point") match {
        case "point" =>
          if (t == MetricType.Gauge)
            svc.findGaugeStats(mid(t, id), Tags.parse(tags), pcts.quantiles, r.start, r.end)
          else svc.findCounterStats(mid(t, id), Tags.parse(tags), pcts.quantiles, r.start, r.end)
        case "metric" =>
          svc.findStatsMetricTags(mid(t, id), Tags.parse(tags), pcts.quantiles,
            r.start, r.end)
        case other => throw new IllegalArgumentException(
          s"Invalid tagSource '$other' (expected point or metric)")
      }
      Ok(renamePcts(stats, pcts))
    case ("GET", "gauges" :: id :: "periods" :: Nil) =>
      val (start, end) = resolvedRange(params, now)
      Ok(svc.getPeriods(mid(MetricType.Gauge, id),
        periodsPredicate(params), start, end, now))

    // ---- multi-metric stats: POST body ≡ the GET params route above --
    // (GaugeHandler.java:571-616 vs :618-651 — the ITest invariant)
    case ("POST", Seg(t) :: "stats" :: "query" :: Nil)
        if t == MetricType.Gauge || t == MetricType.Counter =>
      body match {
        case q: AggregatedStatsQuery => aggStats(t, q, now)
        case _ => badBody("AggregatedStatsQuery")
      }

    // ---- EP2: one mixed-type stats request + the batch variant -------
    case ("POST", "metrics" :: "stats" :: "query" :: Nil) => body match {
      case q: MixedStatsQuery => Ok(svc.statsQuery(tenant, statsQueryReq(q, now)))
      case _ => badBody("MixedStatsQuery")
    }
    case ("POST", "metrics" :: "stats" :: "batch" :: "query" :: Nil) => body match {
      // the reference body is an OBJECT (`Map<String, StatsQueryRequest>`,
      // MetricHandler.findStatsBatched:321-338) — name-keyed entries; the
      // array-of-StatsRequest form is kept as the index-keyed engine
      // extension. Erasure hides element types — check them ourselves so a
      // wrong body answers 400, not a downstream ClassCastException (and
      // the services' nonEmpty requires map empty bodies to 400 too).
      case rs: Seq[_] if rs.forall {
            case (_: String, _: MixedStatsQuery) => true
            case _ => false
          } && rs.exists(_.isInstanceOf[(_, _)]) =>
        Ok(svc.statsBatchQueryNamed(tenant,
          rs.asInstanceOf[Seq[(String, MixedStatsQuery)]]
            .map { case (k, q) => k -> statsQueryReq(q, now) }))
      case rs: Seq[_] if rs.forall(_.isInstanceOf[MetricsService#StatsRequest]) =>
        Ok(svc.statsBatchQuery(tenant, rs.asInstanceOf[Seq[svc.StatsRequest]]))
      case _ => badBody("Seq[StatsRequest]")
    }

    // known path + unsupported method answers 405, unknown path 404 —
    // the JAX-RS container's distinction (ErrorsITest.groovy:37-49)
    case _ =>
      val allowed = allowedMethods(segs)
      if (allowed.nonEmpty && !allowed(method))
        ApiError(405, s"method $method not allowed on /${segs.mkString("/")} " +
          s"(allowed: ${allowed.toSeq.sorted.mkString(", ")})")
      else ApiError(404, s"no route: $method /${segs.mkString("/")}")
  }

  /** Side-effect-free route-SHAPE table: the methods ANY dispatch case
    * could match for this path, driving the 404-vs-405 distinction the
    * JAX-RS container makes (POST on an existing GET/PUT-only path is
    * 405 Method Not Allowed, an unknown path is 404 —
    * ErrorsITest.groovy:37-49). Where a literal segment and the {id}
    * template overlap, methods union, like a JAX-RS resource scan. */
  private[api] def allowedMethods(segs: List[String]): Set[String] = segs match {
    case Nil | ("ping" | "status") :: Nil => Set("GET")
    case "admin" :: "status" :: Nil => Set("GET")
    case "openshift" :: Nil => Set("GET")
    case "tenants" :: Nil => Set("GET", "POST")
    case "tenants" :: _ :: Nil => Set("DELETE")
    case "metrics" :: rest => rest match {
      case Nil => Set("GET", "POST")
      case "tags" :: Nil | "tags" :: _ :: Nil => Set("GET")
      case ("raw" | "data") :: Nil => Set("POST")
      case "stats" :: "query" :: Nil => Set("POST")
      case "stats" :: "batch" :: "query" :: Nil => Set("POST")
      case _ => Set.empty
    }
    case Seg(t) :: rest =>
      val numeric = t == MetricType.Gauge || t == MetricType.Counter
      rest match {
        case Nil => Set("GET", "POST")
        // one segment: literal-wins (JAX-RS) — a literal route word at
        // this position carries ONLY its own methods (ReservedOneSeg,
        // the same table the {id} dispatch guards consult); everything
        // else is the {id} template (GET/DELETE)
        // counters alone carry the deprecated bare /rate literal (GET
        // only — a literal path never falls back to the {id} template
        // for other methods, so DELETE /counters/rate is 405)
        case "rate" :: Nil if t == MetricType.Counter => Set("GET")
        case x :: Nil => ReservedOneSeg.getOrElse(x, Set("GET", "DELETE"))
        case a :: b :: Nil =>
          var m = Set.empty[String]
          if (a == "tags") m += "GET"                             // tag-value discovery
          if (b == "tags") m ++= Set("GET", "PUT")                // {id}/tags
          if (b == "raw" || b == "data") m ++= Set("GET", "POST") // {id}/raw|data
          if (b == "stats") m += "GET"                            // {id}/stats
          if (a == "raw" && b == "query") m += "POST"
          if (numeric) {
            if (a == "rate" && b == "query") m ++= Set("GET", "POST")
            if (a == "rate" && b == "stats") m += "GET"
            if (a == "stats" && b == "query") m += "POST"
            if (b == "rate") m += "GET"
          }
          if (t == MetricType.Gauge && b == "periods") m += "GET"
          m
        case a :: b :: c :: Nil =>
          var m = Set.empty[String]
          if (a == "tags" && c == "raw") m += "GET"
          if (b == "tags") m += "DELETE"                          // {id}/tags/{names}
          if (b == "rate" && c == "stats" && numeric) m += "GET"
          m
        case _ :: "stats" :: "tags" :: _ :: Nil if numeric => Set("GET")
        case _ => Set.empty
      }
    case _ => Set.empty
  }

  /** One (name, value) row per entry — the relational shape of the
    * reference's JSON-object meta answers. */
  private def kvFrame(pairs: (String, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("name", "value")
  }

  // ------------------------------------------------------------------
  // per-route helpers
  // ------------------------------------------------------------------

  /** Extractor: route segment naming a stored metric type. */
  private object Seg {
    def unapply(s: String): Option[MetricType] = TypeSeg.get(s)
  }

  /** One-segment literal route words that shadow the {id} template, with
    * the methods each literal carries (JAX-RS literal-wins matching) —
    * the ONE table both the {id} dispatch guards and allowedMethods'
    * one-segment branch derive from, so they cannot drift. */
  private[api] val ReservedOneSeg: Map[String, Set[String]] =
    Map("raw" -> Set("POST"), "data" -> Set("POST"), "stats" -> Set("GET"))
  private val ReservedIdSeg: Set[String] = ReservedOneSeg.keySet

  private def mid(t: MetricType, id: String) = MetricId(tenant, t.code, id)

  /** POST create with the reference's `overwrite` query param: default
    * false → an existing id answers 409 (MetricHandler.java:126-149). */
  private def createMetric(t: MetricType, d: MetricDefinition,
                           params: Map[String, String]): Result = {
    svc.createMetric(mid(t, d.id), d.tags, d.dataRetention,
      overwrite = flag(params, "overwrite"))
    NoContent
  }

  /** Collection GET: optional `tags` filter and `id` filter (pattern vs
    * exact semantics live in the service, MetricHandler.java:189-244);
    * `timestamps=true` enriches with data min/max
    * (MinMaxTimestampTransformer analog, GaugeHandler.java:132-174). */
  /** The optional `?type=` param, rejecting virtual rate types — they
    * exist in no catalog, so an empty answer would be indistinguishable
    * from no-matches; the reference answers 400 "Incorrect type param"
    * (MetricHandler.java:213-216). */
  private def userTypeParam(params: Map[String, String]): Option[MetricType] = {
    val t = params.get("type").map(MetricType.fromText)
    // plain IAE, not require: the message is wire-visible through the
    // 400 errorMsg body, and the reference's has no prefix
    // (CassandraBackendITest asserts "Incorrect type param counter_rate")
    t.foreach(tt => if (!tt.isUserType)
      throw new IllegalArgumentException(s"Incorrect type param ${tt.text}"))
    t
  }

  private def definitions(t: Option[MetricType],
                          params: Map[String, String]): Result = {
    val defs = svc.findDefinitions(tenant, t, params.get("tags"), params.get("id"))
    if (flag(params, "timestamps")) Ok(svc.enrichWithTimestamps(defs))
    else Ok(defs)
  }

  /** The ids-or-tags selection + range resolution shared by raw/query,
    * rate/query, and tags/{tags}/raw: resolve the id set first (the
    * cross-metric fromEarliest window depends on it), then hand (ids,
    * start, end) to the fetch. Mirrors findMetricsByNameOrTag +
    * TimeAndSortParams (MetricsServiceHandler.java:64-108). */
  private def multiQuery(t: MetricType, q: RawQuery, now: Long)
                        (run: (DataFrame, Option[Long], Option[Long]) => DataFrame): Result = {
    require(q.ids.nonEmpty ^ q.tags.nonEmpty,
      "Either ids or tags is required, but not both")
    val ids = q.tags match {
      case Some(expr) => svc.findMetricIdentifiersWithFilters(tenant, Some(t), expr)
      case None =>
        val s = spark; import s.implicits._
        q.ids.toDF("metric")
    }
    val (start, end) =
      if (q.fromEarliest) {
        require(q.start.isEmpty && q.end.isEmpty,
          "fromEarliest can only be used without start & end")
        val r = svc.multiFromEarliestRange(tenant, t, ids, now)
        (Some(r.start), Some(r.end))
      } else {
        val r = TimeRange(q.start, q.end, now)
        (q.start.map(_ => r.start), q.end.map(_ => r.end))
      }
    Ok(run(ids, start, end))
  }

  private def rawMultiQuery(t: MetricType, q: RawQuery, now: Long): Result =
    multiQuery(t, q, now) { (ids, start, end) =>
      svc.findDataPoints(tenant, t, ids, start, end,
        q.limit.getOrElse(0), q.order.map(Order.fromText), now)
    }

  private def rateMultiQuery(t: MetricType, q: RawQuery, now: Long): Result =
    multiQuery(t, q, now) { (ids, start, end) =>
      svc.findRateData(tenant, t, ids, start, end,
        q.limit.getOrElse(0), q.order.map(Order.fromText), now)
    }

  private def ingest(t: MetricType, frame: DataFrame): Result = {
    if (t == MetricType.Str) svc.addStringDataPoints(frame)
    else svc.addDataPoints(frame)
    NoContent
  }

  /** GET /{type}s/{id}/raw — shared with the deprecated /data alias.
    * Every per-type handler threads `fromEarliest` through its raw GET
    * via TimeAndSortParams (GaugeHandler.java:503-533, CounterHandler
    * :505-533, AvailabilityHandler :420-452, StringHandler :321-343). */
  private def rawFetch(t: MetricType, id: String,
                       params: Map[String, String], now: Long): Result = {
    val (start, end) = resolvedRange(params, now)
    val limit = params.get("limit").map(_.toInt).getOrElse(0)
    val order = params.get("order").map(Order.fromText)
    val distinct = flag(params, "distinct")
    if (flag(params, "fromEarliest")) {
      require(start.isEmpty && end.isEmpty,
        "fromEarliest can only be used without start & end")
      t match {
        case MetricType.Str =>
          Ok(svc.findStringDataFromEarliest(mid(t, id), distinct, limit, order, now))
        case MetricType.Availability =>
          Ok(svc.findAvailabilityDataFromEarliest(mid(t, id), distinct, limit, order, now))
        case _ =>
          Ok(svc.findDataPointsFromEarliest(mid(t, id), limit, order, now))
      }
    } else t match {
      case MetricType.Availability =>
        Ok(svc.findAvailabilityData(mid(t, id), start, end, distinct, limit, order, now))
      case MetricType.Str =>
        Ok(svc.findStringData(mid(t, id), start, end, distinct, limit, order, now))
      case _ =>
        Ok(svc.findDataPoints(mid(t, id), start, end, limit, order, now))
    }
  }

  private def badBody(expected: String): Result =
    ApiError(400, s"missing or mistyped request body (expected $expected)")

  private def flag(params: Map[String, String], name: String): Boolean =
    params.get(name).exists(_.toBoolean)

  /** Resolve start/end params (absolute millis or ±duration offsets)
    * while PRESERVING absence — the T3 order-defaulting rule keys on
    * which params were present, not on their resolved values. */
  private def resolvedRange(params: Map[String, String],
                            now: Long): (Option[Long], Option[Long]) = {
    val r = TimeRange(params.get("start"), params.get("end"), now)
    (params.get("start").map(_ => r.start), params.get("end").map(_ => r.end))
  }

  private def bucketConfig(params: Map[String, String], now: Long): BucketConfig =
    bucketConfig(params.get("start"), params.get("end"),
      params.get("buckets").map(_.toInt), params.get("bucketDuration"), now)

  private def bucketConfig(start: Option[String], end: Option[String],
                           buckets: Option[Int], bucketDuration: Option[String],
                           now: Long): BucketConfig =
    BucketConfig(TimeRange(start, end, now), buckets,
      bucketDuration.map(GDuration.parse))

  /** One EP2 body → the service's resolved request (shared by the single
    * stats query and every named-batch element). */
  private def statsQueryReq(q: MixedStatsQuery, now: Long): svc.StatsQueryReq = {
    val ts = q.types.map(MetricType.fromText).toSet
    // strings have no stats branches — reject rather than silently
    // dropping a requested section from the response
    require(!ts.contains(MetricType.Str),
      "string metrics have no stats; remove 'string' from types")
    svc.StatsQueryReq(
      metrics = q.metrics.map { case (t, ids) => MetricType.fromText(t) -> ids },
      tags = q.tags,
      config = bucketConfig(q.start, q.end, q.buckets, q.bucketDuration, now),
      types = ts,
      percentiles = percentilesOf(q.percentiles))
  }

  private def percentilesOf(param: Option[String]): Percentiles =
    Percentiles(param.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty))

  private def renamePcts(stats: DataFrame, pcts: Percentiles): DataFrame =
    if (pcts.values.isEmpty) stats
    else MetricsService.withOriginalPercentileNames(stats, pcts)

  /** op+threshold params of GET /{id}/periods (GaugeHandler getPeriods:
    * lt, gt, lte, gte, eq, neq over the point value). */
  private def periodsPredicate(params: Map[String, String]): Column = {
    val threshold = params.getOrElse("threshold",
      throw new IllegalArgumentException("threshold param is required")).toDouble
    val v = col("n_value")
    params.getOrElse("op",
      throw new IllegalArgumentException("op param is required")) match {
      case "lt"  => v < threshold
      case "gt"  => v > threshold
      case "lte" => v <= threshold
      case "gte" => v >= threshold
      case "eq"  => v === threshold
      case "neq" => v =!= threshold
      case other => throw new IllegalArgumentException(s"Invalid op '$other'")
    }
  }

  /** GET /{type}s/{id}/stats with the per-type fromEarliest variants. */
  private def idStats(t: MetricType, id: String, params: Map[String, String],
                      now: Long): Result = {
    val pcts = percentilesOf(params.get("percentiles"))
    val m = mid(t, id)
    if (flag(params, "fromEarliest")) {
      // fromEarliest derives the range — explicit bounds conflict
      // (TimeAndBucketParams: "fromEarliest can only be used without
      // start & end")
      require(!params.contains("start") && !params.contains("end"),
        "fromEarliest can only be used without start & end")
      val count = params.get("buckets").map(_.toInt)
      val dur = params.get("bucketDuration").map(GDuration.parse)
      t match {
        case MetricType.Gauge =>
          Ok(renamePcts(svc.findGaugeStatsFromEarliest(m, count, dur, pcts.quantiles, now), pcts))
        case MetricType.Counter =>
          Ok(renamePcts(svc.findCounterStatsFromEarliest(m, count, dur, pcts.quantiles, now), pcts))
        case MetricType.Availability =>
          Ok(svc.findAvailabilityStatsFromEarliest(m, count, dur, now))
        case _ => ApiError(400, s"stats not supported for type ${t.text}")
      }
    } else {
      val cfg = bucketConfig(params, now)
      val mode = percentileModeOf(params)
      t match {
        case MetricType.Gauge => Ok(svc.findGaugeStats(m, cfg, pcts, mode))
        case MetricType.Counter =>
          Ok(renamePcts(svc.findCounterStats(m, cfg, pcts.quantiles, mode), pcts))
        case MetricType.Availability => Ok(svc.findAvailabilityStats(m, cfg))
        case _ => ApiError(400, s"stats not supported for type ${t.text}")
      }
    }
  }

  /** ENGINE EXTENSION param `percentileMode` on GET /{type}s/{id}/stats:
    * the default `exact` serves exact interpolated percentiles (the
    * engine's documented divergence); `p2parity` reproduces the
    * reference's commons-math P² streaming estimates bit-for-bit
    * (NumericDataPointCollector.java:61, with the per-type feed order);
    * `p2sketch` serves the O(1)-state distributed sketch (the 100 TB
    * path); `tier` opts the request into HISTOGRAM-TIER percentile
    * serving — aligned in-watermark gauge requests answer from
    * hours × bins counts (raw never read, estimate error bounded by the
    * bin width band), everything else falls back to exact raw. The
    * reference has no such knob — it always serves P². */
  private def percentileModeNamed(name: String): MetricsOps.PercentileMode =
    name match {
      case "exact" => MetricsOps.PercentileMode.Exact
      case "p2parity" => MetricsOps.PercentileMode.P2Parity
      case "p2sketch" => MetricsOps.PercentileMode.P2Sketch
      case "tier" => MetricsOps.PercentileMode.TierApprox
      case other => throw new IllegalArgumentException(
        s"Invalid percentileMode '$other' (expected exact, p2parity, p2sketch or tier)")
    }

  private def percentileModeOf(params: Map[String, String]): MetricsOps.PercentileMode =
    params.get("percentileMode").map(percentileModeNamed)
      .getOrElse(MetricsOps.PercentileMode.Exact)

  /** The shared engine of GET /{type}s/stats and POST /{type}s/stats/
    * query — ONE code path is what makes the reference's POST ≡ GET
    * invariant hold by construction. `fromEarliest` resolves the bucket
    * window from the selected metrics' longest retention
    * (GaugeHandler.java:571-616 via the multi-id findTimeRange). */
  private def aggStats(t: MetricType, q: AggregatedStatsQuery, now: Long): Result = {
    require(q.metrics.nonEmpty ^ q.tags.nonEmpty,
      "Either metrics or tags is required, but not both")
    val pcts = percentilesOf(q.percentiles)
    def ids: DataFrame = q.tags match {
      case Some(expr) => svc.findMetricIdentifiersWithFilters(tenant, Some(t), expr)
      case None =>
        val s = spark; import s.implicits._
        q.metrics.toDF("metric")
    }
    // ENGINE EXTENSION percentileMode (see idStats' scaladoc): absent
    // keeps the reference-shaped default (tier for aligned percentile-
    // free pooled requests, adaptive-exact raw percentile aggregates);
    // `tier` routes pooled aligned percentile requests through the
    // histogram tier pair over the id semi-join
    val mode = q.percentileMode.map(percentileModeNamed)
    val stats =
      if (q.fromEarliest) {
        require(q.start.isEmpty && q.end.isEmpty,
          "fromEarliest can only be used without start & end")
        svc.findNumericStatsFromEarliest(tenant, t, ids,
          q.buckets, q.bucketDuration.map(GDuration.parse),
          pcts.quantiles, q.stacked, now, mode)
      } else
        svc.findNumericStats(tenant, t, ids,
          bucketConfig(q.start, q.end, q.buckets, q.bucketDuration, now),
          pcts.quantiles, q.stacked, mode)
    Ok(renamePcts(stats, pcts))
  }

  /** POST .../raw bodies → ONE canonical datapoint frame, each point
    * typed by its own metric's type: a multi-metric body is one local
    * relation, not a union of per-metric frames. */
  private def pointsFrame(body: Seq[(MetricType, MetricPoints)]): DataFrame = {
    val s = spark
    import s.implicits._
    def num(v: Any): Double = v match {
      case d: Double => d
      case i: Int    => i.toDouble
      case l: Long   => l.toDouble
      case other => throw new IllegalArgumentException(s"bad gauge value '$other'")
    }
    def cnt(v: Any): Long = v match {
      case l: Long => l
      case i: Int  => i.toLong
      case other => throw new IllegalArgumentException(s"bad counter value '$other'")
    }
    // per-point tags ride along (the reference's DataPoint body carries
    // an optional tags map that round-trips through raw fetches)
    body.flatMap { case (t, m) =>
      if (!t.isUserType) throw new IllegalArgumentException(s"cannot ingest type ${t.text}")
      m.data.map(p => (tenant, t.code.toInt, m.id, p.timestamp,
        Option.when(t == MetricType.Gauge)(num(p.value)),
        Option.when(t == MetricType.Counter)(cnt(p.value)),
        Option.when(t == MetricType.Availability)(
          AvailabilityType.fromText(p.value.toString).code.toInt),
        Option.when(t == MetricType.Str)(p.value.toString),
        p.tags))
    }.toDF("tenant_id", "mtype", "metric", "time",
      "n_value", "l_value", "avail", "s_value", "tags")
  }
}
