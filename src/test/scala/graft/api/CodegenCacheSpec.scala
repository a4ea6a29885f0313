package graft.api

import graft.{GraftSession, SparkTestBase}
import graft.model._
import graft.storage.GraftStorage
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.GraftTestShims
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** A repeated plan reuses its compiled classes. Spark keeps generated
  * classes in a JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries`
  * entries, 100 by default; one tier refresh compiles about that many, so
  * at the default every refresh evicted the previous one's classes and
  * compiled them all again. Compiles are counted with Spark's own
  * `CodegenMetrics`: one compilation-time sample per Janino compile. */
class CodegenCacheSpec extends SparkTestBase {

  private val CacheKey = "spark.sql.codegen.cache.maxEntries"
  private val SparkDefaultEntries = 100

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("builder pins the generated-class cache above Spark's default") {
    val built = GraftTestShims.builderOptions(GraftSession.builder()).get(CacheKey)
    assert(built.contains(GraftSession.CodegenCacheEntries.toString), s"builder sets $built")
    assert(GraftSession.CodegenCacheEntries > SparkDefaultEntries)
  }

  test("a second tier refresh over the same bounds compiles no new class, " +
    "after more than Spark's default cache size of other work") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-codegen-cache").toString
    val svc = new MetricsService(spark, root, Some(MetricsService.defaultTiers(root)))
    val H = GraftStorage.RollupMs
    val times = (0L until 72L).map(h => h * H + 100L)
    svc.addDataPoints(canonicalPoints(
      times.map(t => (t, (t % 7).toDouble)).toDF("time", "n_value").withColumn("metric", lit("g")),
      MetricType.Gauge))
    svc.addDataPoints(canonicalPoints(
      times.zipWithIndex.map { case (t, i) => (t, 10L * i) }.toDF("time", "l_value")
        .withColumn("metric", lit("c")), MetricType.Counter))
    svc.addDataPoints(canonicalPoints(
      times.map(t => (t, (t / H % 2).toInt)).toDF("time", "avail").withColumn("metric", lit("av")),
      MetricType.Availability))

    // the refresh reads compacted slices, as it does on the service's
    // cadence: compaction of a slice runs before its refresh
    svc.compressBlock(upToSlice = 2, fromSlice = 0)
    val first0 = compiles
    svc.refreshTiers(upToSlice = 2, fromSlice = 0)
    val first = compiles - first0

    // other distinct work: the next slice's compaction, raw-path stats
    // reads, then selects whose Long literal Spark inlines into the
    // generated Java, so each compiles a class no earlier suite in this
    // JVM compiled
    val other0 = compiles
    svc.compressBlock(upToSlice = 3, fromSlice = 2)
    val raw = BucketConfig(TimeRange(H, 40 * H), Some(5), None)
    svc.findGaugeStats(MetricId("t1", MetricType.Gauge.code, "g"), raw, Seq(90.0)).collect()
    svc.findCounterStats(MetricId("t1", MetricType.Counter.code, "c"), raw, Seq(50.0)).collect()
    svc.findAvailabilityStats(MetricId("t1", MetricType.Availability.code, "av"), raw).collect()
    val nonce = System.nanoTime() & ((1L << 40) - 1)
    Iterator.from(0).takeWhile(_ => compiles - other0 <= SparkDefaultEntries + 10).take(400)
      .foreach(i => spark.range(4).filter(col("id") =!= lit(nonce * 1000 + i)).collect())
    val otherCompiles = compiles - other0
    assert(otherCompiles > SparkDefaultEntries, s"the other work compiled only $otherCompiles classes")

    val refresh0 = compiles
    svc.refreshTiers(upToSlice = 2, fromSlice = 0)
    val again = compiles - refresh0
    assert(again == 0, s"the first refresh compiled $first classes, the second $again, " +
      s"after $otherCompiles others (cache ${spark.conf.getOption(CacheKey)})")
  }
}
