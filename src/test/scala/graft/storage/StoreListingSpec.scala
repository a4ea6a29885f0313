package graft.storage

import graft.{GraftSession, SparkTestBase}
import graft.operators.{Dedup, Retrieval}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.GraftBus
import org.apache.spark.sql.GraftTestShims
import java.nio.file.Files

/** Store tables list on the driver, the meta guard runs no Spark job, a
  * BM25 append runs a fixed, small number of jobs, and the BM25 serve and
  * near-dup lookup run a pinned number.
  * Spark lists a table's directories in a job of one task per directory
  * once there are more of them than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold`, 32 by
  * default. The BM25 and near-dup stores write 64 bucket directories, so
  * under that default every read of one of their tables launches a
  * 64-task listing job before any data is read: 2 jobs per open, the
  * listing and the schema inference. These specs count jobs with a
  * SparkListener. */
class StoreListingSpec extends SparkTestBase {

  private val ThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** The widest bucket fan-out a store writes at its default layout:
    * SRP at its default 8 planes, BM25, near-dup and the tag index. */
  private val WidestDefaultFanOut =
    Seq(1 << 8, Retrieval.IndexBuckets, Dedup.IndexBuckets, TagIndex.Buckets).max

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

  /** Run `f` with the listing threshold as `GraftSession.tune` sets it
    * (`tuned`) or at Spark's default, then restore the session's value. */
  private def withListing[T](tuned: Boolean)(f: => T): T = {
    val before = spark.conf.getOption(ThresholdKey)
    if (tuned) GraftSession.tune(spark) else spark.conf.unset(ThresholdKey)
    try f
    finally before.fold(spark.conf.unset(ThresholdKey))(spark.conf.set(ThresholdKey, _))
  }

  /** A BM25 store of 100 docs over 400 distinct words: every one of the
    * 64 token buckets is occupied. */
  private def builtBm25Store(prefix: String): String = {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory(prefix).toString + "/bm25"
    val docs = (0 until 100).map { i =>
      (i.toLong, (0 until 8).map(j => s"w${(i * 8 + j) % 400}").mkString(" "))
    }.toDF("doc_id", "text")
    Retrieval.writeBm25Index(docs, path)
    path
  }

  private lazy val bm25Store: String = builtBm25Store("graft-listing")

  test("a BM25 postings read lists on the driver under the GraftSession " +
    "setting: at most 1 job, against 2 at Spark's default") {
    val buckets = new java.io.File(s"$bm25Store/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(buckets > 32, s"the store must be wider than Spark's default threshold: $buckets")
    val atDefault = withListing(tuned = false)(jobsOf(spark.read.parquet(s"$bm25Store/postings")))
    assert(atDefault == 2, s"Spark's default lists in a job of its own: $atDefault jobs")
    val tuned = withListing(tuned = true)(jobsOf(spark.read.parquet(s"$bm25Store/postings")))
    assert(tuned <= 1, s"$tuned jobs to open the postings table")
  }

  test("requireMeta launches no Spark job") {
    val n = jobsOf(IndexStore.requireMeta(spark, bm25Store, Seq("buckets" -> Retrieval.IndexBuckets)))
    assert(n == 0, s"requireMeta ran $n jobs")
  }

  test("a meta field stored with another type than INT (BIGINT or STRING) " +
    "refuses by the field's name") {
    val s = spark
    import s.implicits._
    val asLong = Files.createTempDirectory("graft-meta-bigint").toString
    Seq((64, 3L)).toDF("buckets", "shingle_k").write.parquet(s"$asLong/meta")
    val asString = Files.createTempDirectory("graft-meta-string").toString
    Seq((64, "3")).toDF("buckets", "shingle_k").write.parquet(s"$asString/meta")
    Seq(asLong -> "BIGINT", asString -> "STRING").foreach { case (path, stored) =>
      val e = intercept[IllegalArgumentException] {
        IndexStore.requireMeta(spark, path, Seq("buckets" -> 64, "shingle_k" -> 3))
      }
      assert(e.getMessage.contains("shingle_k") && e.getMessage.contains(stored), e.getMessage)
    }
  }

  test("a meta table that lacks an expected field, or holds null in it, " +
    "refuses by the field's name and never reads it as 0") {
    val path = Files.createTempDirectory("graft-meta-missing").toString
    IndexStore.writeMeta(spark, path, Seq("buckets" -> 64))
    Seq(3, 0).foreach { v =>
      val e = intercept[IllegalArgumentException] {
        IndexStore.requireMeta(spark, path, Seq("buckets" -> 64, "shingle_k" -> v))
      }
      assert(e.getMessage.contains("shingle_k"), e.getMessage)
    }
    val nulled = Files.createTempDirectory("graft-meta-null").toString
    val s = spark
    import s.implicits._
    Seq((64, Option.empty[Int])).toDF("buckets", "shingle_k").write.parquet(s"$nulled/meta")
    val e = intercept[IllegalArgumentException] {
      IndexStore.requireMeta(spark, nulled, Seq("buckets" -> 64, "shingle_k" -> 0))
    }
    assert(e.getMessage.contains("shingle_k"), e.getMessage)
  }

  /** The BM25 append used to launch 24 jobs on this store and wave: it
    * collected the wave's token buckets, read and merged their stored df
    * rows into a checkpoint, and rewrote them with a dynamic partition
    * overwrite beside the postings append. With df counted at serve time
    * the append materializes the screened wave once and only inserts. */
  test("a BM25 append of a small wave onto a built store launches at most " +
    "14 jobs (24 while it merged a stored df table)") {
    val s = spark
    import s.implicits._
    val path = builtBm25Store("graft-append-jobs")
    val wave = (100 until 110).map { i =>
      (i.toLong, (0 until 8).map(j => s"w${(i * 3 + j) % 400}").mkString(" "))
    }.toDF("doc_id", "text")
    val n = withListing(tuned = true)(jobsOf(Retrieval.appendToBm25Index(spark, path, wave)))
    assert(n <= 14, s"the append ran $n jobs, against 24 while it merged a stored df table")
  }

  /** BM25 queries over the store's words, as a local frame. */
  private def bm25Queries = {
    val s = spark
    import s.implicits._
    Seq((0L, Seq("w3", "w17")), (1L, Seq("w200", "w201", "w3")), (2L, Seq("w399")))
      .toDF("query_id", "terms")
  }

  test("a BM25 serve runs a pinned number of Spark jobs, with and without " +
    "a pending tombstone") {
    val s = spark
    import s.implicits._
    val path = builtBm25Store("graft-bm25-serve-jobs")
    def serve() = withListing(tuned = true)(jobsOf(
      Retrieval.bm25StoredTopK(spark, path, bm25Queries, 5).collect()))
    val clean = serve()
    assert(clean == 7, s"the serve ran $clean jobs, pinned at 7")
    Retrieval.deleteFromBm25Index(spark, path, Seq(3L).toDF("doc_id"))
    val screened = serve()
    assert(screened == 8, s"the screened serve ran $screened jobs, pinned at 8")
  }

  test("a near-dup lookup runs a pinned number of Spark jobs") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-neardup-serve-jobs").toString + "/nd"
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 12 + j) % 500}").mkString(" "))
    }.toDF("doc_id", "text")
    Dedup.writeNearDupIndex(docs, path)
    val queries = docs.where($"doc_id" < 5L)
    val n = withListing(tuned = true)(jobsOf(
      Dedup.nearDupLookup(spark, path, queries, threshold = 0.5).collect()))
    assert(n == 15, s"the lookup ran $n jobs, pinned at 15")
  }

  test("builder and tune both set the listing threshold to at least the " +
    "widest default store fan-out") {
    val built = GraftTestShims.builderOptions(GraftSession.builder()).get(ThresholdKey)
    assert(built.exists(_.toInt >= WidestDefaultFanOut), s"builder sets $built")
    val tuned = withListing(tuned = true)(spark.conf.get(ThresholdKey))
    assert(tuned.toInt >= WidestDefaultFanOut, s"tune sets $tuned")
  }
}
