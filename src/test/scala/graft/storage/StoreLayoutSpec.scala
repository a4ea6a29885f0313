package graft.storage

import graft.SparkTestBase
import graft.api.MetricsService
import graft.model.{MetricId, MetricType}
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Every table a store family writes matches its declaration in
  * [[StoreTables]]: one small store of each family is built, and a
  * schema-inferring read of each table on disk is compared with the
  * declared schema, field by field, in names, types and order. Partition
  * columns come back from the directory names; their values must keep
  * their text under the declared type (a tenant `007` declared INT would
  * read back as `7`). A table on disk with no declaration fails too. */
class StoreLayoutSpec extends SparkTestBase {
  import StoreTables._

  private def vecs(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j => math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  /** 100 docs over 400 distinct words: every BM25 token bucket is
    * occupied. */
  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 100).map { i =>
      (i.toLong, (0 until 8).map(j => s"w${(i * 8 + j) % 400}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def freshPath(name: String): String =
    Files.createTempDirectory(s"graft-layout-$name").toString + "/ix"

  /** The number of Spark jobs `f` launches. */
  private def jobsOf(f: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; GraftBus.drain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** A cell store with a tombstone beside its own tables. */
  private def cellStore(name: String)(build: String => Unit): String = {
    val s = spark
    import s.implicits._
    val path = freshPath(name)
    build(path)
    Similarity.deleteFromIvfIndex(s, path, Seq(7L).toDF("vec_id"))
    path
  }

  private lazy val bm25: String = {
    val s = spark
    import s.implicits._
    val path = freshPath("bm25")
    Retrieval.writeBm25Index(docs, path)
    Retrieval.deleteFromBm25Index(s, path, Seq(3L).toDF("doc_id"))
    path
  }

  /** (store path, table path under it → its declaration) of every family. */
  private lazy val stores: Seq[(String, Map[String, StoreTable])] = {
    val s = spark
    import s.implicits._
    val cells = Map("centroids" -> Cells.Centroids, "deleted_vecs" -> Cells.DeletedVecs)
    val ivf = cellStore("ivf") { p =>
      Similarity.writeIvfIndex(vecs(0 until 50), p, kCells = 4, iters = 2)
      Similarity.appendToIvfIndex(s, p, vecs(50 until 60), updateFacts = true)
    }
    val ivfHier = cellStore("ivfhier")(
      Similarity.writeIvfIndex(vecs(0 until 50), _, kCells = 4, iters = 2, hier = true))
    val pq = cellStore("pq")(Similarity.writeIvfPqIndex(vecs(0 until 50), _, kCells = 4, iters = 2))
    val resid = cellStore("resid")(
      Similarity.writeIvfPqResidualIndex(vecs(0 until 50), _, kCells = 4, iters = 2))
    val pca = cellStore("pca")(
      Similarity.writePcaIvfIndex(vecs(0 until 50), _, dims = 8, kCells = 4, iters = 2))
    val srp = cellStore("srp")(Similarity.writeSrpIndex(vecs(0 until 50), _, numPlanes = 4))
    val nd = freshPath("neardup")
    Dedup.writeNearDupIndex(docs, nd)
    Dedup.deleteFromNearDupIndex(s, nd, Seq(3L).toDF("doc_id"))
    val tags = freshPath("tags")
    TagIndex.write(Seq(("007", 0, "0010", Map("a" -> "b")), ("7", 0, "10", Map("a" -> "c")))
      .toDF("tenant_id", "mtype", "metric", "tags"), tags)
    TagIndex.deleteTenant(s, tags, "7")
    TagIndex.deleteMetric(s, tags, "007", 0, "0010")
    val root = Files.createTempDirectory("graft-layout-metrics").toString
    val svc = new MetricsService(s, root, Some(MetricsService.TierLayout(s"$root/tiers",
      histEdges = Some((0.0, 100.0, 20)), rateHistEdges = Some((0.0, 100.0, 20)))))
    svc.createTenant("007", Map("gauge" -> 3))
    svc.createMetric(MetricId("007", MetricType.Gauge.code, "g"), Map("a" -> "b"))
    val H = GraftStorage.RollupMs
    def points(t: MetricType, metric: String) =
      (1 to 40).map(i => (H + i * 60000L, i.toDouble)).toDF("time", "v").select(
        lit("007").as("tenant_id"), lit(t.code.toInt).as("mtype"), lit(metric).as("metric"),
        col("time"),
        (if (t == MetricType.Gauge) col("v") else lit(null).cast("double")).as("n_value"),
        (if (t == MetricType.Counter) col("v").cast("long") else lit(null).cast("long"))
          .as("l_value"),
        (if (t == MetricType.Availability) lit(1) else lit(null).cast("int")).as("avail"),
        lit(null).cast("string").as("s_value"), map().cast("map<string,string>").as("tags"))
    svc.addDataPoints(points(MetricType.Gauge, "g")
      .unionByName(points(MetricType.Counter, "c"))
      .unionByName(points(MetricType.Availability, "a")))
    svc.refreshTiers()
    val hist = Seq("gauge_hist", "gauge_rate_hist", "counter_rate_hist")
    Seq(
      ivf -> (cells + ("vectors" -> Cells.IvfVectors) + ("cellfacts" -> Cells.CellFacts)),
      ivfHier -> (cells + ("vectors" -> Cells.IvfVectors) + ("coarse" -> Cells.Coarse)),
      pq -> (cells + ("vectors" -> Cells.PqVectors)),
      resid -> (cells + ("vectors" -> Cells.PqVectors) + ("residcb" -> Cells.ResidCb)),
      pca -> (cells + ("vectors" -> Cells.PcaVectors) + ("pcamodel" -> Cells.PcaModel)),
      srp -> Map("vectors" -> Srp.vectors(4), "planes" -> Srp.Planes,
        "deleted_vecs" -> Cells.DeletedVecs),
      bm25 -> Map("postings" -> Bm25.Postings, "docstats" -> Bm25.DocStats,
        "corpusstats" -> Bm25.CorpusStats, "meta" -> Bm25.Meta,
        "deleted_docs" -> Bm25.DeletedDocs),
      nd -> Map("bands" -> NearDup.Bands, "signatures" -> NearDup.signatures(20 * 3),
        "shingles" -> NearDup.Shingles, "sizes" -> NearDup.Sizes, "meta" -> NearDup.Meta,
        "deleted_docs" -> NearDup.DeletedDocs),
      tags -> Map("entries" -> Tags.Entries, "metrics" -> Tags.Metrics,
        "tombstones" -> Tags.Tombstones, "meta" -> Tags.Meta, "deleted_ids" -> Tags.DeletedIds),
      root -> (Map("data" -> Metrics.Raw, "metrics" -> Metrics.Catalog,
        "tenants" -> Metrics.Tenants,
        "tiers/gauge_sums" -> Tiers.Sums, "tiers/counter_sums" -> Tiers.Sums,
        "tiers/avail" -> Tiers.Avail, "tiers/counter_increase" -> Tiers.CounterIncrease,
        "tiers/gauge_rate" -> Tiers.Rate, "tiers/counter_rate" -> Tiers.Rate) ++
        hist.map(h => s"tiers/$h" -> Tiers.Hist) ++
        hist.map(h => s"tiers/$h/_histmeta" -> Tiers.HistMeta)))
  }

  /** Every table directory under `root`: one holding a data file or a
    * `column=value` partition directory. Partition directories are not
    * descended into; a table's own side tables (`_histmeta`) are. */
  private def tablesUnder(root: File): Seq[String] = {
    def walk(d: File, rel: String): Seq[String] = {
      val kids = d.listFiles().toSeq
      val isTable = kids.exists(f => f.isFile && f.getName.endsWith(".parquet")) ||
        kids.exists(f => f.isDirectory && f.getName.contains("="))
      (if (isTable) Seq(rel) else Nil) ++ kids
        .filter(f => f.isDirectory && !f.getName.contains("=") && !f.getName.startsWith("."))
        .flatMap(f => walk(f, if (rel.isEmpty) f.getName else s"$rel/${f.getName}"))
    }
    walk(root, "")
  }

  /** The names of `dir`'s partition columns, outermost first. */
  private def partitionColumns(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.find(f => f.isDirectory && f.getName.contains("="))
      .fold(Seq.empty[String])(p => p.getName.takeWhile(_ != '=') +: partitionColumns(p))

  /** The mismatches of the table at `dir` against `t`, each naming the
    * table and the field. */
  private def mismatches(dir: File, t: StoreTable): Seq[String] = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(key, "false")
    val inferred = try spark.read.parquet(dir.toString) finally spark.conf.unset(key)
    val table = s"${t.name} at $dir"
    val parts = partitionColumns(dir).toSet
    val names = inferred.schema.fieldNames.toSeq
    val declared = t.schema.fieldNames.toSeq
    if (names != declared)
      Seq(s"table $table: fields ${names.mkString(", ")} differ from the declared " +
        s"${declared.mkString(", ")} (first differing field: " +
        s"${names.zipAll(declared, "-", "-").find(p => p._1 != p._2).get})")
    else t.schema.fields.toSeq.flatMap { f =>
      if (parts(f.name)) {
        // a directory value must keep its text under the declared type
        val changed = inferred.select(col(f.name)).distinct()
          .filter(!col(f.name).cast(f.dataType).cast("string").eqNullSafe(col(f.name)))
          .collect().map(_.getString(0))
        if (changed.isEmpty) Nil
        else Seq(s"table $table: partition field ${f.name} declared ${f.dataType.sql} " +
          s"re-types the directory values ${changed.mkString(", ")}")
      } else {
        val stored = inferred.schema(f.name).dataType
        if (stored.catalogString == f.dataType.catalogString) Nil
        else Seq(s"table $table: field ${f.name} is stored as ${stored.sql}, " +
          s"declared ${f.dataType.sql}")
      }
    }
  }

  test("every table of every store family matches its declaration in names, types " +
    "and order") {
    val problems = stores.flatMap { case (root, declared) =>
      val onDisk = tablesUnder(new File(root))
      onDisk.filterNot(declared.contains).map(t => s"table $t under $root has no declaration") ++
        declared.keys.filterNot(onDisk.contains).map(t => s"declared table $t is not under $root") ++
        onDisk.filter(declared.contains).flatMap(t =>
          mismatches(new File(s"$root/$t"), declared(t)))
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("a writer drifted from its declaration is named by table and field") {
    val s = spark
    import s.implicits._
    val path = freshPath("drift")
    Seq((1L, 2L)).toDF("doc_id", "dl").write.parquet(s"$path/docstats")
    Seq((1L, 2)).toDF("doc_id", "n").write.parquet(s"$path/sizes")
    assert(mismatches(new File(s"$path/docstats"), Bm25.DocStats).isEmpty)
    val drifted = mismatches(new File(s"$path/sizes"), NearDup.Sizes)
    assert(drifted.size == 1 && drifted.head.contains("table sizes") &&
      drifted.head.contains("field n"), drifted.mkString("\n"))
    Seq("007").toDF("t").write.parquet(s"$path/ids/tenant_id=007")
    val retyped = mismatches(new File(s"$path/ids"), StoreTable("ids", "t STRING, tenant_id INT"))
    assert(retyped.size == 1 && retyped.head.contains("partition field tenant_id") &&
      retyped.head.contains("007"), retyped.mkString("\n"))
  }

  test("IndexStore.table opens the 64-bucket postings table without a Spark job") {
    val buckets = new File(s"$bm25/postings").listFiles().count(_.getName.startsWith("bucket="))
    assert(buckets == Retrieval.IndexBuckets, s"$buckets bucket directories")
    // under the session's listing setting (GraftSession.tune), restored after
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(key)
    graft.GraftSession.tune(spark)
    val n = try jobsOf(IndexStore.table(spark, bm25, Bm25.Postings))
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(n == 0, s"opening postings ran $n jobs")
  }

  test("opening an absent required table fails with the table's name") {
    val e = intercept[IllegalStateException](
      IndexStore.table(spark, freshPath("absent"), Bm25.Postings))
    assert(e.getMessage.contains("'postings'"), e.getMessage)
    assert(IndexStore.tableIfPresent(spark, freshPath("absent"), Bm25.Postings).isEmpty)
  }
}
