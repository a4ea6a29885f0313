package graft.operators

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.GraftBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The exact Spark job count of each stored serve of the cell-partitioned
  * stores (IVF, IVF-PQ, residual IVF-PQ and PCA-IVF, flat and
  * hier-routed) and of an IVF append onto a flat and a hier store. The
  * serves share one probed-cell finish and the appends one flat-or-hier
  * assignment, so a change to those helpers that adds a table read, a
  * collect or a checkpoint shows here as a changed count; the builds,
  * which share one flat-or-hier training, assignment and commit, are
  * pinned too. Each served store holds 50 vectors in 4 cells and one
  * pending tombstone, so every serve runs its delete screen. Jobs are
  * counted with a SparkListener. */
class CellStoreJobsSpec extends SparkTestBase {

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

  private def vecs(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j => math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  private lazy val queries = vecs(0 until 10)

  /** Each store family's build over 50 vectors at `path`. A hier IVF
    * store is a flat build retrained with `hier = true`: the retrain
    * leaves the store a fresh hier build over the same vectors would
    * write. */
  private val builds: Seq[(String, String => Unit)] = Seq(
    "ivf" -> (Similarity.writeIvfIndex(vecs(0 until 50), _, kCells = 4, iters = 2)),
    "ivfhier" -> { path =>
      Similarity.writeIvfIndex(vecs(0 until 50), path, kCells = 4, iters = 2)
      Similarity.retrainIvfIndex(spark, path, kCells = 4, iters = 2, hier = true)
    },
    "pq" -> (Similarity.writeIvfPqIndex(vecs(0 until 50), _, kCells = 4, iters = 2)),
    "pqhier" -> (Similarity.writeIvfPqIndex(vecs(0 until 50), _, kCells = 4, iters = 2, hier = true)),
    "resid" -> (Similarity.writeIvfPqResidualIndex(vecs(0 until 50), _, kCells = 4, iters = 2)),
    "pca" -> (Similarity.writePcaIvfIndex(vecs(0 until 50), _, dims = 8, kCells = 4, iters = 2)),
    "pcahier" -> (Similarity.writePcaIvfIndex(vecs(0 until 50), _, dims = 8, kCells = 4, iters = 2,
      hier = true)))

  private def freshPath(name: String): String =
    Files.createTempDirectory(s"graft-jobs-$name").toString + "/ix"

  /** Every family's store, built once, with vector 7 tombstoned. */
  private lazy val stores: Map[String, String] = builds.map { case (name, build) =>
    val s = spark
    import s.implicits._
    val path = freshPath(name)
    build(path)
    Similarity.deleteFromIvfIndex(s, path, Seq(7L).toDF("vec_id"))
    name -> path
  }.toMap

  /** Count only the serve: the store is built before the count starts. */
  private def pin(what: String, expected: Int, store: String)(serve: String => DataFrame): Unit = {
    val path = stores(store)
    val n = jobsOf(serve(path).collect())
    assert(n == expected, s"$what ran $n jobs, pinned at $expected")
  }

  test("each stored serve runs a pinned number of Spark jobs") {
    val s = spark
    pin("ivfStoredTopK", 7, "ivf")(Similarity.ivfStoredTopK(s, _, queries, 5, nprobe = 2))
    pin("ivfStoredTopKHier", 11, "ivfhier")(
      Similarity.ivfStoredTopKHier(s, _, queries, 5, nprobeCoarse = 1, nprobe = 2))
    pin("ivfPqStoredTopK", 11, "pq")(
      Similarity.ivfPqStoredTopK(s, _, queries, 5, nprobe = 2, shortlist = 20))
    pin("ivfPqStoredTopKHier", 15, "pqhier")(
      Similarity.ivfPqStoredTopKHier(s, _, queries, 5, nprobeCoarse = 1, nprobe = 2, shortlist = 20))
    pin("ivfPqResidualStoredTopK", 12, "resid")(
      Similarity.ivfPqResidualStoredTopK(s, _, queries, 5, nprobe = 2, shortlist = 20))
    pin("pcaIvfStoredTopK", 11, "pca")(
      Similarity.pcaIvfStoredTopK(s, _, queries, 5, nprobe = 2, shortlist = 20))
    pin("pcaIvfStoredTopKHier", 15, "pcahier")(
      Similarity.pcaIvfStoredTopKHier(s, _, queries, 5, nprobeCoarse = 1, nprobe = 2, shortlist = 20))
  }

  test("an IVF append runs a pinned number of Spark jobs on a flat and on a hier store") {
    val (ivf, ivfHier) = (stores("ivf"), stores("ivfhier"))
    val flat = jobsOf(Similarity.appendToIvfIndex(spark, ivf, vecs(50 until 60)))
    assert(flat == 7, s"flat append ran $flat jobs")
    val hier = jobsOf(Similarity.appendToIvfIndex(spark, ivfHier, vecs(50 until 60)))
    assert(hier == 8, s"hier append ran $hier jobs")
    assert(spark.read.parquet(s"$ivf/vectors").where(col("vec_id") >= 50).count() == 10L)
  }

  test("each store build runs a pinned number of Spark jobs") {
    val pinned = Map("ivf" -> 8, "ivfhier" -> 24, "pq" -> 8, "pqhier" -> 16,
      "resid" -> 15, "pca" -> 11, "pcahier" -> 19)
    builds.foreach { case (name, build) =>
      val path = freshPath(s"$name-build")
      val n = jobsOf(build(path))
      assert(n == pinned(name), s"the $name build ran $n jobs, pinned at ${pinned(name)}")
    }
  }
}
