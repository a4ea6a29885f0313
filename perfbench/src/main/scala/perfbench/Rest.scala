package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.api.{HttpTransport, MetricsService}
import graft.storage.GraftStorage
import Gen.{Day, Hour}

/**
 * `rest`: REST traffic against a multi-tenant metrics store with its
 * maintenance jobs running between requests, over real sockets through a
 * tier-serving [[HttpTransport]].
 *
 * The store holds two tenants of tagged gauges, counters and availability
 * with [[HistoryDays]] days of history. One round lands the next day for
 * tenant `acme`: a multi-metric `POST /{type}/raw` body per type, each
 * followed by a read of the window just written; then the day's
 * maintenance (`compressBlock` + `refreshTiers` on the closed day slice);
 * then a dashboard read round over that day — raw-path stats with
 * percentiles, hour-aligned tier-served gauge / counter-rate /
 * availability stats, tag-query pooled stats, a mixed-type
 * `POST /metrics/stats/query` and a tag-query definition lookup. One
 * client, closed loop.
 */
object Rest {
  val Writer = "acme"
  /** Gauges, counters and availability metrics per tenant: 10 monitored
    * resources with 5 gauges, 5 counters and one availability each for
    * the writer, so its gauge and counter POST bodies carry 50 metrics;
    * 2 resources for the other tenant, which only shares the store. */
  val Tenants = Seq((Writer, 50, 50, 10), ("globex", 10, 10, 2))
  val Step = 5 * 60000L
  val HistoryDays = 1
  val Setups = 3
  val ReadKinds = Seq("read_back", "raw_stats", "tier_gauge", "tier_rate", "tier_avail", "tag_stats",
    "mixed_stats", "tag_ids")

  final case class Req(kind: String, method: String, path: String, tenant: String,
                       body: Option[String], check: (Int, String) => Option[String])

  /** A store in serving state: loaded, catalogued, tiers refreshed, HTTP up. */
  final class Served(val root: String, val transport: HttpTransport, val svc: MetricsService) {
    val http = new Http(transport.boundPort)
  }

  def metrics(seed: Long): Seq[Gen.Metric] =
    Tenants.flatMap { case (t, g, c, a) => Gen.metrics(seed, Seq(t), g, c, a) }

  /** Day 0 of a run: six days back from today's slice, so every written
    * day stays inside the default retention. */
  def day0(): Long = (System.currentTimeMillis() / Day - 6) * Day
  /** The day the round writes, the first after the history. */
  def dayOf(d0: Long): Long = d0 + HistoryDays * Day

  def setup(ctx: Ctx, ms: Seq[Gen.Metric], d0: Long, name: String): Served = {
    val root = ctx.freshDir(name)
    val spark = ctx.spark
    val svc = Store.service(spark, root)
    svc.addDataPoints(Store.frame(spark, Store.rows(ms, ctx.seed, d0, dayOf(d0), Step, d0)))
    Store.writeCatalog(spark, root, ms)
    svc.refreshTiers(upToSlice = dayOf(d0) / Day)
    new Served(root, new HttpTransport(spark, root, tierServing = true).start(), svc)
  }

  // ---- inputs and expectations ---------------------------------------

  def samples(ctx: Ctx, m: Gen.Metric, from: Long, until: Long, d0: Long): Seq[(Long, Double)] = {
    val ts = Gen.times(from, until, Step)
    m.mtype match {
      case Gen.GaugeCode => ts.map(t => t -> Gen.gauge(ctx.seed, m, t, d0))
      case Gen.CounterCode =>
        ts.zip(Gen.counterValues(ctx.seed, m, Gen.times(d0, until, Step), d0).takeRight(ts.size).map(_.toDouble))
      case _ => ts.map(t => t -> Gen.avail(ctx.seed, m, t, d0).toDouble)
    }
  }

  /** The `POST /{type}/raw` body for one type's metrics over one day. */
  def rawBody(ctx: Ctx, ms: Seq[Gen.Metric], day: Long, d0: Long): String =
    ms.map { m =>
      val pts = samples(ctx, m, day, day + Day, d0).map { case (t, v) =>
        val value = m.mtype match {
          case Gen.GaugeCode => Steal.num(v)
          case Gen.CounterCode => v.toLong.toString
          case _ => if (v == 0.0) "\"up\"" else "\"down\""
        }
        s"""{"timestamp":$t,"value":$value}"""
      }
      s"""{"id":"${m.name}","data":[${pts.mkString(",")}]}"""
    }.mkString("[", ",", "]")

  private[perfbench] def checkNumBuckets(got: Seq[JsonNode], want: IndexedSeq[Option[Gen.NumStats]],
                              start: Long, step: Long, median: Boolean,
                              pcts: Seq[Double] = Nil): Option[String] = {
    if (got.size != want.size) return Some(s"${got.size} buckets, want ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((b, w), i) =>
      if (b.get("start").asLong != start + i * step) return Some(s"bucket $i start ${b.get("start")}")
      w match {
        case None => if (!b.get("empty").asBoolean) return Some(s"bucket $i should be empty")
        case Some(s) =>
          if (b.get("samples").asLong != s.samples) return Some(s"bucket $i samples ${b.get("samples")} want ${s.samples}")
          for ((f, v) <- Seq("min" -> s.min, "max" -> s.max, "sum" -> s.sum, "avg" -> s.avg))
            if (!Json.close(Json.d(b, f), v)) return Some(s"bucket $i $f ${Json.d(b, f)} want $v")
          // a tier-served answer carries no median; a raw-path one does
          if (median != b.has("median")) return Some(s"bucket $i median presence ${b.has("median")} want $median")
          if (median && !Json.close(Json.d(b, "median"), s.median))
            return Some(s"bucket $i median ${Json.d(b, "median")} want ${s.median}")
          pcts.foreach { p =>
            val got = Json.elems(b.get("percentiles")).find(x => math.abs(x.get("quantile").asDouble - p) < 1e-9)
            if (!got.exists(x => Json.close(x.get("value").asDouble, s.pcts(p))))
              return Some(s"bucket $i p$p ${got.map(_.get("value"))} want ${s.pcts(p)}")
          }
      }
    }
    None
  }

  private def status(want: Int, st: Int, body: String)(f: => Option[String]): Option[String] =
    if (st != want) Some(s"status $st want $want: ${body.take(200)}") else f

  private def json(st: Int, body: String)(f: JsonNode => Option[String]): Option[String] =
    status(200, st, body)(f(Json.parse(body)))

  private def typeCode(t: String): Int = t match {
    case "gauge" => Gen.GaugeCode; case "counter" => Gen.CounterCode; case _ => Gen.AvailCode
  }

  def ofType(ms: Seq[Gen.Metric], tenant: String, code: Int): Seq[Gen.Metric] =
    ms.filter(m => m.tenant == tenant && m.mtype == code)

  /** The write half of the round: per type, one POST of every metric's
    * day and a read of the window just written. */
  def writes(ctx: Ctx, ms: Seq[Gen.Metric], d0: Long): Seq[Req] = {
    val day = dayOf(d0)
    Seq(Gen.GaugeCode, Gen.CounterCode, Gen.AvailCode).flatMap { code =>
      val mids = ofType(ms, Writer, code)
      val seg = mids.head.typeSeg
      Seq(
        Req("write", "POST", s"/$seg/raw", Writer, Some(rawBody(ctx, mids, day, d0)),
          (st, b) => status(204, st, b)(None)),
        Req("read_back", "POST", s"/$seg/raw/query", Writer,
          Some(s"""{"ids": [${mids.map(m => "\"" + m.name + "\"").mkString(",")}], "start": "$day", "end": "${day + Day}", "order": "ASC"}"""),
          (st, b) => json(st, b) { j =>
            val got = Json.elems(j).map { e =>
              e.get("id").asText -> Json.elems(e.get("data")).map { p =>
                val v = p.get("value")
                p.get("timestamp").asLong -> (if (v.isTextual) (if (v.asText == "up") 0.0 else 1.0) else v.asDouble)
              }.sortBy(_._1)
            }.toMap
            mids.collectFirst {
              case m if !got.get(m.name).contains(samples(ctx, m, day, day + Day, d0)) =>
                s"read-back of ${m.name}: ${got.get(m.name).map(_.size)} points differ from the ${Day / Step} posted"
            }
          }))
    }
  }

  /** The dashboard half of the round: reads over the day just maintained. */
  def reads(ctx: Ctx, ms: Seq[Gen.Metric], d0: Long): Seq[Req] = {
    val seed = ctx.seed
    val tenant = Writer
    val start = dayOf(d0)
    val end = start + Day
    def pick(code: Int, salt: Long, not: Option[Gen.Metric] = None) = {
      val cs = ofType(ms, tenant, code).filterNot(not.contains)
      cs(Gen.u(cs.size, seed, salt))
    }
    val g1 = pick(Gen.GaugeCode, 2L)
    val g2 = pick(Gen.GaugeCode, 3L, Some(g1))
    val ctr = pick(Gen.CounterCode, 4L)
    val av = pick(Gen.AvailCode, 5L)
    val window = s"start=$start&end=$end"
    val misaligned = 5 // 24 h / 5 = 4.8 h buckets: off the tier hour grid, raw path
    val rawStep = Day / misaligned
    val tierStep = 4 * Hour
    def gauge(m: Gen.Metric) = samples(ctx, m, start, end, d0)
    Seq(
      Req("raw_stats", "GET", s"/gauges/${g1.name}/stats?$window&buckets=$misaligned&percentiles=90", tenant, None,
        (st, b) => json(st, b) { j =>
          val want = Gen.bucketize(gauge(g1), start, end, rawStep).map(v => Gen.numStats(v, Seq(90.0)))
          checkNumBuckets(Json.elems(j), want, start, rawStep, median = true, pcts = Seq(90.0))
        }),
      Req("tier_gauge", "GET", s"/gauges/${g2.name}/stats?$window&bucketDuration=4h", tenant, None,
        (st, b) => json(st, b) { j =>
          val want = Gen.bucketize(gauge(g2), start, end, tierStep).map(v => Gen.numStats(v))
          checkNumBuckets(Json.elems(j), want, start, tierStep, median = false)
        }),
      Req("tier_rate", "GET", s"/counters/${ctr.name}/rate/stats?$window&bucketDuration=4h", tenant, None,
        (st, b) => json(st, b) { j =>
          // the rate at the day's first sample spans back to the previous
          // day's last one (both the raw path and the tier include it)
          val pts = samples(ctx, ctr, math.max(d0, start - Step), end, d0).map { case (t, v) => t -> v.toLong }
          val want = Gen.bucketize(Gen.rates(pts), start, end, tierStep).map(v => Gen.numStats(v))
          checkNumBuckets(Json.elems(j), want, start, tierStep, median = false)
        }),
      Req("tier_avail", "GET", s"/availability/${av.name}/stats?$window&bucketDuration=4h", tenant, None,
        (st, b) => json(st, b) { j =>
          val pts = samples(ctx, av, start, end, d0).map { case (t, v) => t -> v.toInt }
          val want = Gen.availDurations(pts, end, start, end, tierStep)
          val got = Json.elems(j)
          if (got.size != want.size) Some(s"${got.size} buckets, want ${want.size}")
          else got.zip(want).zipWithIndex.collectFirst {
            case ((bk, (up, down)), i) if bk.has("median") || Json.d(bk, "upDuration") != up ||
              Json.d(bk, "downDuration") != down =>
              s"bucket $i up/down ${bk.get("upDuration")}/${bk.get("downDuration")} want $up/$down"
          }
        }),
      Req("tag_stats", "GET", s"/gauges/stats?tags=dc:${g1.tags("dc")},app:${g1.tags("app")}&$window&buckets=$misaligned",
        tenant, None,
        (st, b) => json(st, b) { j =>
          val ids = ofType(ms, tenant, Gen.GaugeCode)
            .filter(m => m.tags("dc") == g1.tags("dc") && m.tags("app") == g1.tags("app"))
          val want = Gen.bucketize(ids.flatMap(gauge), start, end, rawStep).map(v => Gen.numStats(v))
          checkNumBuckets(Json.elems(j), want, start, rawStep, median = true)
        }),
      Req("mixed_stats", "POST", "/metrics/stats/query", tenant,
        Some(s"""{"metrics": {"gauge": ["${g1.name}", "${g2.name}"], "counter": ["${ctr.name}"]}, """ +
          s""""start": "$start", "end": "$end", "buckets": 4}"""),
        (st, b) => json(st, b) { j =>
          val step = Day / 4
          Seq("gauge" -> Seq(g1, g2), "counter" -> Seq(ctr)).iterator.flatMap { case (ty, mids) =>
            mids.iterator.map { m =>
              val want = Gen.bucketize(samples(ctx, m, start, end, d0), start, end, step).map(v => Gen.numStats(v))
              Option(j.get(ty)).flatMap(n => Option(n.get(m.name)))
                .fold[Option[String]](Some(s"no $ty ${m.name}"))(x =>
                  checkNumBuckets(Json.elems(x), want, start, step, median = true))
            }
          }.collectFirst { case Some(e) => e }
        }),
      Req("tag_ids", "GET", s"/metrics?tags=dc:${ctr.tags("dc")},host:${ctr.tags("host")}", tenant, None,
        (st, b) => json(st, b) { j =>
          val got = Json.elems(j).map(d => s"${typeCode(d.get("type").asText)}:${d.get("id").asText}").toSet
          val want = Gen.tagMatch(ms, tenant, Seq("dc" -> Set(ctr.tags("dc")), "host" -> Set(ctr.tags("host"))))
          if (got == want) None else Some(s"tag ids $got want $want")
        }))
  }

  /** Send one request and check its answer. */
  def send(ctx: Ctx, s: Served, q: Req): Boolean = {
    val (st, body) = s.http.call(q.method, q.path, q.tenant, q.body)
    q.check(st, body) match {
      case None => true
      case Some(err) => ctx.fail(s"${q.kind} ${q.path}: $err"); false
    }
  }

  /** The day's maintenance: compact the closed slice, refresh its tiers.
    * Returns the two times in seconds. */
  def maintain(ctx: Ctx, s: Served, d0: Long): (Double, Double) = {
    val slice = dayOf(d0) / GraftStorage.SliceMs
    val t0 = System.nanoTime()
    ctx.probe.span("storage.compact")(s.svc.compressBlock(upToSlice = slice + 1, fromSlice = slice))
    val t1 = System.nanoTime()
    ctx.probe.span("storage.refresh")(s.svc.refreshTiers(upToSlice = slice + 1, fromSlice = slice))
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  def run(ctx: Ctx): Outcome = {
    val d0 = day0()
    val ms = metrics(ctx.seed)
    // no separate warm-up: the set-ups run the ingest and refresh paths
    // three times before the first timed request
    var served: Served = null
    val (setupS, s) = ctx.setUp(Setups) { i =>
      if (served != null) served.transport.stop()
      served = setup(ctx, ms, d0, s"store$i")
      served
    }

    // one round, each operation timed
    val log = new OpLog(ctx)
    val gc0 = ctx.probe.gcMs
    writes(ctx, ms, d0).foreach(q => log(q.kind)(send(ctx, s, q)))
    var maint = (0.0, 0.0)
    log("maint") { maint = maintain(ctx, s, d0); true }
    reads(ctx, ms, d0).foreach(q => log(q.kind)(send(ctx, s, q)))
    val gc = (ctx.probe.gcMs - gc0).toDouble
    ctx.probe.drain()

    val layers = if (ctx.traced) RestLayers(ctx, s, ms, d0, log, maint, gc) else Nil
    s.transport.stop()
    Outcome(log.ops.size, log.failed,
      log.endToEnd(setupS, log.of(ReadKinds: _*), log.of("write"), log.of("maint")), layers, log.ops.toSeq)
  }
}
