package perfbench

import graft.api.MetricsService
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Loading generated series into a metrics store, and the timed-phase
  * bookkeeping shared by the REST workloads. */
object Store {
  /** The canonical datapoint shape [[MetricsService.addDataPoints]] takes. */
  val PointSchema: StructType = StructType(Seq(
    StructField("tenant_id", StringType), StructField("mtype", IntegerType),
    StructField("metric", StringType), StructField("time", LongType),
    StructField("n_value", DoubleType), StructField("l_value", LongType),
    StructField("avail", IntegerType),
    StructField("tags", MapType(StringType, StringType)), StructField("s_value", StringType)))

  /** One generated sample of `m` at `time`; counters need their running
    * value, supplied by the caller. */
  def row(m: Gen.Metric, time: Long, seed: Long, counter: Long, origin: Long): Row = m.mtype match {
    case Gen.GaugeCode =>
      Row(m.tenant, m.mtype, m.name, time, Gen.gauge(seed, m, time, origin), null, null, Map.empty, null)
    case Gen.CounterCode => Row(m.tenant, m.mtype, m.name, time, null, counter, null, Map.empty, null)
    case _ => Row(m.tenant, m.mtype, m.name, time, null, null, Gen.avail(seed, m, time, origin), Map.empty, null)
  }

  /** Every metric's samples over [from, until) at `step`. Counters run
    * from the series' origin `origin` so values stay consistent across
    * windows. */
  def rows(ms: Seq[Gen.Metric], seed: Long, from: Long, until: Long, step: Long,
           origin: Long): Seq[Row] = ms.flatMap { m =>
    val ts = Gen.times(from, until, step)
    val cv = if (m.mtype == Gen.CounterCode)
      Gen.counterValues(seed, m, Gen.times(origin, until, step), origin).takeRight(ts.size)
    else ts.map(_ => 0L)
    ts.zip(cv).map { case (t, c) => row(m, t, seed, c, origin) }
  }

  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), PointSchema)

  /** The catalog in one append, in the schema the service's catalog reader
    * resolves (the program's own bulk-catalog recipe: one createMetric per
    * definition would write one file each). */
  def writeCatalog(spark: SparkSession, root: String, ms: Seq[Gen.Metric]): Unit = {
    val schema = StructType(Seq(
      StructField("tenant_id", StringType), StructField("mtype", IntegerType),
      StructField("metric", StringType), StructField("tags", MapType(StringType, StringType)),
      StructField("data_retention", IntegerType), StructField("ingest_seq", LongType)))
    val rows = ms.map(m => Row(m.tenant, m.mtype, m.name, m.tags, null, 1L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode(SaveMode.Append).parquet(s"$root/metrics")
  }

  def service(spark: SparkSession, root: String): MetricsService =
    new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)))

  /** Bytes and data files under a directory tree. */
  def du(root: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val fs = s.filter(f => java.nio.file.Files.isRegularFile(f)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (fs.map(f => java.nio.file.Files.size(f)).sum,
          fs.count(f => f.getFileName.toString.endsWith(".parquet")).toLong)
      } finally s.close()
    }
  }
}

/** The timed phase's operation log. */
final class OpLog(ctx: Ctx) {
  val ops = ArrayBuffer.empty[Op]

  /** Time one operation; `f` answers whether its result checked out. A
    * thrown exception is a failed operation. */
  def apply(kind: String)(f: => Boolean): Boolean = {
    val c0 = ctx.probe.cpuNanos
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val ok = try ctx.probe.span(s"op.$kind")(f) catch {
      case e: Exception => ctx.fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    val n1 = System.nanoTime()
    ops += Op(kind, w0, System.currentTimeMillis(), n1 - n0, ctx.probe.cpuNanos - c0, ok)
    ok
  }

  def of(kinds: String*): Seq[Op] = ops.filter(o => kinds.contains(o.kind)).toSeq
  def failed: Long = ops.count(!_.ok).toLong

  /** Engine counts per operation, summed over `sel`. */
  def perOp(sel: Seq[Op]): Counts = {
    val cs = sel.map(o => ctx.probe.counts(o.startMs, o.endMs))
    Counts(cs.map(_.jobs).sum, cs.map(_.stages).sum, cs.map(_.tasks).sum,
      cs.map(_.inputBytes).sum, cs.map(_.inputRecords).sum, cs.map(_.shuffleBytes).sum,
      cs.map(_.outputBytes).sum, cs.map(_.jobMs).sum)
  }

  /** The end-to-end metrics, defined once for every workload: set-up
    * CPU, then process CPU and engine counts per read, per write and per
    * maintenance run. */
  def endToEnd(setupS: Double, reads: Seq[Op], writes: Seq[Op], maint: Seq[Op]): Seq[(String, Double, String)] = {
    val rc = perOp(reads)
    val wc = perOp(writes)
    Seq(
      ("setup_s", setupS, "s"),
      ("read_cpu_ms", Layers.mean(reads.map(_.cpuNanos / 1e6)), "ms"),
      ("read_jobs", rc.jobs.toDouble / reads.size, "count"),
      ("read_tasks", rc.tasks.toDouble / reads.size, "count"),
      ("write_cpu_ms", Layers.mean(writes.map(_.cpuNanos / 1e6)), "ms"),
      ("write_jobs", wc.jobs.toDouble / writes.size, "count"),
      ("maint_cpu_s", Layers.mean(maint.map(_.cpuNanos / 1e9)), "s"))
  }

  /** Engine-layer metrics averaged over the operations in `sel`. */
  def engineLayer(sel: Seq[Op], gcMs: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, sel.size).toDouble
    val c = perOp(sel)
    val wallMs = sel.map(_.nanos).sum / 1e6
    Seq(
      ("spark.jobs", c.jobs / n, "count"),
      ("spark.stages", c.stages / n, "count"),
      ("spark.tasks", c.tasks / n, "count"),
      ("spark.shuffle_bytes", c.shuffleBytes / n, "B"),
      ("spark.job_ms", c.jobMs / n, "ms"),
      ("spark.driver_ms", math.max(0.0, wallMs - c.jobMs) / n, "ms"),
      ("jvm.gc_ms", gcMs / n, "ms"),
      ("jvm.cpu_ms", sel.map(_.cpuNanos).sum / 1e6 / n, "ms"))
  }
}
