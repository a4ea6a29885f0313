package graft.operators

import graft.functions.GraftFunctions
import graft.storage.{IndexStore, StoreTable}
import graft.storage.StoreTables.{Cells, Srp}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/**
 * Similarity search over an embedding column (`embeddings` frame:
 * vec_id LONG, embedding ARRAY<FLOAT>, label INT).
 *
 * All vector math runs through the codegen'd [[graft.plans.VectorDot]]
 * loop — strict left-to-right adds, so results are deterministic and
 * bit-identical to the DuckDB oracle. Embeddings stay `array<float>` (the
 * at-rest type — half the shuffle bytes of double) all the way to the dot
 * product, which widens each element to double exactly like
 * `CAST(x AS DOUBLE)` before any arithmetic, so both engines compute on
 * identical values. Norms are computed once per ROW (not per pair) before
 * any join.
 *
 * Scale posture:
 *  - bruteForceTopK broadcasts the (small) query set and scans the corpus
 *    once — the exact baseline the approximate variants are measured
 *    against.
 *  - ivfTopK is the 100 TB path: corpus bucketed by nearest centroid
 *    (here: per-label mean vectors — stand-ins for k-means centroids),
 *    queries probe only the closest `nprobe` cells. Join is on cell id —
 *    no cross join with the corpus anywhere.
 */
object Similarity {

  val Dim = 64

  /** raw embedding column — VectorDot widens float elements itself. */
  private def dvec(c: String) = col(c)

  /** Spread a DEGENERATE-parallelism input before a CPU-heavy per-row
    * stage (guide §2.5 "input skew: one huge unsplittable file …
    * repartition immediately after the read"): a one-small-file read or
    * a coalesced micro-batch otherwise runs the whole downstream fan-out
    * in a single task. STRICTLY a no-op when the input already carries
    * at least half the cluster's parallelism — a wide 100 TB scan must
    * never pay an extra full shuffle; when the branch fires the input
    * is, by definition, narrow (at most a couple of partitions' worth of
    * rows), so the round-robin exchange it inserts is bounded. Callers
    * must only use it above ORDER-INSENSITIVE computation (exact decimal
    * aggregates, per-row projections).
    *
    * Cost: `df.rdd` plans the input a second time on every call, as its
    * own query (analysis, optimization, physical planning, codegen). For
    * an exchange-free input, such as the one select [[pcaFit]] passes,
    * that is all it costs: no job runs. An input that holds an exchange
    * is worse: adaptive execution runs its shuffle stages to learn the
    * final partition count (one job for a one-shuffle aggregate, measured
    * in local mode: docs/BENCH_NOTES.md, "`spreadDegenerate` and
    * `df.rdd`"), and the query that follows recomputes them. */
  private def spreadDegenerate(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df else df.repartition(target)
  }

  private def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("nrm", sqrt(graft.plans.VectorDot(col(vecCol), col(vecCol))))

  private def cosine(a: String, b: String): org.apache.spark.sql.Column =
    graft.plans.VectorDot(col(a), col(b)) / (col(s"${a}_nrm") * col(s"${b}_nrm"))

  /** The ONE exact-cosine ranking finish shared by every search path:
    * `pairs` carries (query_id, neighbor_id, qv, qv_nrm, cv, cv_nrm);
    * self pairs drop, cosine ranks desc with the neighbor-asc tiebreak.
    * Any change to the determinism contract lands here once. */
  private def rankPairs(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine("qv", "cv"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** The query side of an exact cosine rank: (query_id, qv, qv_nrm). */
  private def queryVecs(queries: DataFrame): DataFrame =
    withNorm(queries.select(col("vec_id").as("query_id"), dvec("embedding").as("qv")), "qv")
      .withColumnRenamed("nrm", "qv_nrm")

  /** A (cell, centroid) frame with its `centroid_nrm` column — the
    * probe side of every IVF search. */
  private def normedCentroids(cents: DataFrame): DataFrame =
    withNorm(cents, "centroid").withColumnRenamed("nrm", "centroid_nrm")

  /** Exact top-k cosine neighbors for each query vector (self excluded). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queryVecs(queries))
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"), dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
    rankPairs(c.crossJoin(q), k)
  }

  /** All pairs (a < b) with cosine >= threshold — embedding near-dup
    * detection. Exact; the bucketed scale path is ivf/simhash LSH. */
  def thresholdPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = withNorm(corpus.select(col("vec_id").as("vec_a"), dvec("embedding").as("va")), "va")
      .withColumnRenamed("nrm", "va_nrm")
    val b = withNorm(corpus.select(col("vec_id").as("vec_b"), dvec("embedding").as("vb")), "vb")
      .withColumnRenamed("nrm", "vb_nrm")
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosine("va", "vb"))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Per-cell mean vectors (IVF "centroids"); `cellCol` is the partition
    * assignment (the synthetic `label` column here; k-means ids in prod).
    * Component sums go through DECIMAL so centroids are bit-identical
    * across runs/partitionings/engines (the determinism contract). */
  def centroids(corpus: DataFrame, cellCol: String = "label",
                dim: Int = Dim): DataFrame = {
    val sums = (0 until dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double").cast("decimal(28,10)"))
        .cast("double").as(s"c$i"))
    val aggs = sums :+ count(lit(1)).as("n")
    corpus.groupBy(col(cellCol).as("cell"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("cell"),
        array((0 until dim).map(i => col(s"c$i") / col("n")): _*).as("centroid"))
  }

  /**
   * Signed-random-projection (SimHash-for-vectors) LSH top-k: bucket =
   * the sign bits of `numPlanes` projections; exact cosine within the
   * query's bucket only. Hyperplanes are the first `numPlanes` corpus
   * vectors — deterministic and reproducible by the SQL oracle (a seeded
   * Gaussian would serve the same role in production). The plane set is a
   * size-bounded driver collect (like a k-means seed config, not data
   * movement); bucketing itself is ONE projection per row with the
   * codegen'd VectorDot against literal plane arrays — no join, no
   * shuffle for candidate generation beyond the final bucket equi-join.
   */
  /** The SRP hyperplane set: the first `numPlanes` corpus vectors —
    * deterministic and reproducible by the SQL oracle (a seeded Gaussian
    * would serve the same role in production). A size-bounded driver
    * collect, like a k-means seed config — not data movement. */
  private def srpPlanes(corpus: DataFrame, count: Int, offset: Int = 0): Seq[(Int, Array[Double])] = {
    require(count > 0, s"plane count must be positive, got $count")
    val planes = corpus
      .filter(col("vec_id") >= offset && col("vec_id") < offset + count)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt - offset, r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    require(planes.nonEmpty,
      s"SRP needs corpus vectors with vec_id in [$offset, ${offset + count}) as hyperplanes")
    planes
  }

  /** PER-TABLE plane count bound: bucket bits pack into one long. */
  private def requirePlanesPerTable(numPlanes: Int): Unit =
    require(numPlanes > 0 && numPlanes < 63, s"numPlanes must be in [1, 62], got $numPlanes")

  /** bucket = sign bits of the projections of `vecCol` onto the planes —
    * one codegen'd VectorDot per plane against a literal array; no join,
    * no shuffle for candidate generation. */
  private def srpBucket(planes: Seq[(Int, Array[Double])], vecCol: String) =
    planes.map { case (i, p) =>
      when(graft.plans.VectorDot(col(vecCol), typedLit(p)) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def srpTopK(corpus: DataFrame, queries: DataFrame, k: Int, numPlanes: Int = 8): DataFrame = {
    requirePlanesPerTable(numPlanes)
    val planes = srpPlanes(corpus, numPlanes)
    val bucket = srpBucket(planes, "cv")
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"), dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
      .withColumn("bucket", bucket)
    val q = withNorm(queries.select(col("vec_id").as("query_id"), dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "qv_nrm")
      .withColumn("bucket", bucket)
      .select(col("query_id"), col("cv").as("qv"), col("qv_nrm"), col("bucket"))
    rankPairs(c.join(broadcast(q), Seq("bucket")), k)
  }

  /**
   * SRP-bucketed near-dup pairs — the 100 TB path for [[thresholdPairs]]:
   * instead of the all-pairs cross join, both sides hash to a sign-bit
   * bucket and only same-bucket pairs are scored (an equi-join that
   * shuffles on `bucket`). Recall follows the SRP collision bound
   * (P[same bucket] = (1 - θ/π)^numPlanes); [[srpMultiTablePairs]] is the
   * recall booster — several independent plane sets in one exploded join.
   */
  def srpThresholdPairs(corpus: DataFrame, threshold: Double, numPlanes: Int = 8): DataFrame = {
    requirePlanesPerTable(numPlanes)
    srpPairsWithPlanes(corpus, threshold, srpPlanes(corpus, numPlanes))
  }

  private def srpPairsWithPlanes(corpus: DataFrame, threshold: Double,
                                 planes: Seq[(Int, Array[Double])]): DataFrame = {
    val a = withNorm(corpus.select(col("vec_id").as("vec_a"), dvec("embedding").as("va")), "va")
      .withColumnRenamed("nrm", "va_nrm")
      .withColumn("bucket", srpBucket(planes, "va"))
    val b = withNorm(corpus.select(col("vec_id").as("vec_b"), dvec("embedding").as("vb")), "vb")
      .withColumnRenamed("nrm", "vb_nrm")
      .withColumn("bucket", srpBucket(planes, "vb"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosine("va", "vb"))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  // ------------------------------------------------------------------
  // persisted SRP-LSH index — the sign-bit bucketing made durable
  // ------------------------------------------------------------------

  /**
   * Persisted SRP-LSH index: the hyperplane set persists WITH the store
   * (the pcamodel discipline — a bucket is only meaningful against the
   * exact planes that produced it) and the corpus lands PARTITIONED BY
   * BUCKET (`path/vectors/bucket=N/...`). Both tables write as ONE
   * [[graft.storage.AtomicSwap.swapDir]] unit: queries hashed through
   * one plane set against another set's partitions would serve silently
   * wrong candidates. At serving time a query reads ONLY its own
   * bucket's files — 1/2^numPlanes of the corpus in expectation — which
   * is the entire point of persisting the bucketing. Size `numPlanes`
   * so a bucket holds at least a parquet row-group of vectors: the
   * `srp-sc` row (`docs/BENCH_NOTES.md`, "SRP store serve curves") shows
   * that once partitions drop below that floor (thousands of 2-vector
   * directories), listing overhead swamps
   * the data saved — planes ∝ log₂(corpus) is the 100 TB rule, a fixed
   * small plane count the small-corpus one. Takedown reuses
   * [[deleteFromIvfIndex]] verbatim (same vectors/deleted_vecs layout);
   * the physical purge is [[compactSrpIndex]] (the shared compaction
   * parameterized by the `bucket` partition column).
   */
  def writeSrpIndex(corpus: DataFrame, path: String, numPlanes: Int = 8): Unit = {
    requirePlanesPerTable(numPlanes)
    val spark = corpus.sparkSession
    import spark.implicits._
    val store = new org.apache.hadoop.fs.Path(path)
    graft.storage.AtomicSwap.swapDir(spark, store.getParent.toString, store.getName) { tmp =>
      val planes = srpPlanes(corpus, numPlanes)
      // the two tables derive from the driver-resident plane model and
      // land at disjoint paths inside the same swap unit — concurrent
      IndexStore.inParallel(Seq(
        () => corpus.select(col("vec_id"), col("embedding"))
          .withColumn("bucket", srpBucket(planes, "embedding"))
          .repartition(col("bucket")) // file discipline, as in writeIvfIndex
          .write.partitionBy("bucket").parquet(s"$tmp/vectors"),
        () => planes.map { case (i, p) => (i, p.toSeq) }.toDF("pid", "plane")
          .coalesce(1).write.parquet(s"$tmp/planes")))
    }
  }

  /** The stored hyperplane set, driver-resident (numPlanes × Dim doubles
    * — model-sized, like [[readCentroids]]). */
  private def readSrpPlanes(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[(Int, Array[Double])] =
    IndexStore.table(spark, path, Srp.Planes).collect()
      .map(r => (r.getAs[Int]("pid"),
        r.getSeq[Double](r.fieldIndex("plane")).toArray))
      .sortBy(_._1).toSeq

  /**
   * Incremental SRP maintenance — the batch buckets through the STORED
   * planes (no retrain, no shuffle beyond the bucketed write), so
   * appended rows are indistinguishable from built rows. Replay-safe
   * and revival-aware via the shared IndexStore contracts.
   */
  def appendToSrpIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, batch: DataFrame): Unit = {
    val planes = readSrpPlanes(spark, path)
    val fresh = reviveAndScreen(spark, path, batch)
    fresh.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", srpBucket(planes, "embedding"))
      .repartition(col("bucket")) // file discipline, as in the build
      .write.mode("append").partitionBy("bucket").parquet(s"$path/vectors")
  }

  /**
   * Compaction for an SRP store — [[compactIvfIndex]]'s contract over
   * the `bucket` partition column: merge append-wave files and
   * physically purge tombstoned rows, then drop the cleared tombstones.
   * (The IVF compaction hardcodes `cell` and would throw on this
   * layout — the partition column is the one thing the two stores
   * don't share.)
   */
  def compactSrpIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val dead = deletedVecs(spark, path).map(_.localCheckpoint())
    IndexStore.compactBucketed(spark, path, "vectors",
      df => dead.fold(df)(d => df.join(broadcast(d), Seq("vec_id"), "left_anti")),
      partCol = "bucket")
    dead.foreach(_ => IndexStore.dropDeletes(spark, path, "deleted_vecs"))
  }

  /**
   * Top-k against a [[writeSrpIndex]] store — bit-identical to
   * [[srpTopK]] with the same plane rule (spec-pinned): queries hash
   * through the stored planes, the request-sized bucket set pushes down
   * as a static `bucket IN` over the partition column (the
   * [[ivfStoredTopK]] pattern — DPP does not fire for request-sized
   * probe frames), and exact cosine ranks within matching buckets only.
   * Pending tombstones screen the read.
   */
  def srpStoredTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, k: Int): DataFrame = {
    val planes = readSrpPlanes(spark, path)
    val q = IndexStore.local(withNorm(queries.select(col("vec_id").as("query_id"),
      dvec("embedding").as("qv")), "qv")
      .withColumnRenamed("nrm", "qv_nrm")
      .withColumn("bucket", srpBucket(planes, "qv")))
    // literals of the declared partition type, so the IN stays a plain
    // partition filter — a cast on the COLUMN would block pruning
    val narrow = planes.size < 32
    val buckets: Seq[Any] = q.rows.map(_.getAs[Long]("bucket")).distinct.sorted
      .map(b => if (narrow) b.toInt else b).toSeq
    val vecs = deleteScreen(spark, path)(IndexStore.table(spark, path, Srp.vectors(planes.size))
      .where(col("bucket").isin(buckets: _*)).withColumn("bucket", col("bucket").cast("long")))
    val c = withNorm(vecs.select(col("bucket"), col("vec_id").as("neighbor_id"),
      dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
    rankPairs(c.join(broadcast(q.frame), Seq("bucket")), k)
  }

  /**
   * Multi-table SRP near-dup pairs — the recall booster the single-table
   * path documents: `numTables` INDEPENDENT plane sets (table t's planes
   * are corpus vectors [t·numPlanes, (t+1)·numPlanes)). A true pair is
   * missed only if EVERY table splits it, so the miss probability decays
   * exponentially: (1 − (1 − θ/π)^planes)^tables.
   *
   * Plan shape: ONE plane collect, ONE scan per join side — each row
   * explodes into its `numTables` (table, bucket) keys and a single
   * equi-join on (table, bucket) replaces per-table joins. Pairs that
   * collide in several tables are deduped BEFORE the dot product, so
   * cosine is computed once per surviving pair. Cost in tables is the
   * candidate volume only — no extra scans, collects, or shuffles.
   */
  def srpMultiTablePairs(corpus: DataFrame, threshold: Double, numPlanes: Int = 8,
                         numTables: Int = 2): DataFrame = {
    require(numTables > 0, s"numTables must be positive, got $numTables")
    requirePlanesPerTable(numPlanes) // the per-table bit width, not the total
    val allPlanes = srpPlanes(corpus, numPlanes * numTables)
    require(allPlanes.size == numPlanes * numTables,
      s"SRP needs corpus vectors with vec_id < ${numPlanes * numTables} as hyperplanes")
    def tableBuckets(vecCol: String) = array((0 until numTables).map { t =>
      val planes = allPlanes.slice(t * numPlanes, (t + 1) * numPlanes)
        .map { case (i, p) => (i - t * numPlanes, p) }
      srpBucket(planes, vecCol)
    }: _*)
    def side(idCol: String, vecCol: String) =
      withNorm(corpus.select(col("vec_id").as(idCol), dvec("embedding").as(vecCol)), vecCol)
        .withColumnRenamed("nrm", s"${vecCol}_nrm")
        .select(col(idCol), col(vecCol), col(s"${vecCol}_nrm"),
          posexplode(tableBuckets(vecCol)).as(Seq("tbl", "bucket")))
    side("vec_a", "va").join(side("vec_b", "vb"), Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .dropDuplicates("vec_a", "vec_b") // before the dot product — score once
      .withColumn("cosine", cosine("va", "vb"))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /**
   * IVF approximate top-k: probe the `nprobe` cells whose centroids are
   * closest to the query, exact cosine within probed cells only.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2,
              cellCol: String = "label"): DataFrame = {
    val cents = normedCentroids(centroids(corpus, cellCol))
    val c = withNorm(corpus.select(col(cellCol).as("cell"),
      col("vec_id").as("neighbor_id"), dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
    ivfSearch(c, queries, cents, k, nprobe)
  }

  /** Rank cells by query–centroid cosine, keep the top `nprobe` per
    * query (tie-break cell asc) — the ONE probe-selection implementation,
    * shared by [[ivfSearch]] and [[ivfPqTopK]]. `cents` = (cell,
    * centroid, centroid_nrm); output carries (query_id, qv, qv_nrm,
    * cell). */
  private def probeCells(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val q = queryVecs(queries)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell").asc)
    q.crossJoin(broadcast(cents)) // |queries| × |cells| — both tiny
      .withColumn("cdist", cosine("qv", "centroid"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qv_nrm"), col("cell"))
  }

  /** Probe-then-rank shared by the label-cell and k-means IVF paths:
    * `corpusWithCell` = (cell, neighbor_id, cv, cv_nrm), `cents` =
    * (cell, centroid, centroid_nrm). */
  private def ivfSearch(corpusWithCell: DataFrame, queries: DataFrame,
                        cents: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = probeCells(queries, cents, nprobe)
    // equi-join on cell — no corpus cross join
    rankPairs(corpusWithCell.join(broadcast(probes), Seq("cell")), k)
  }

  // ------------------------------------------------------------------
  // k-means IVF training (Lloyd's) — cells when no partition label exists
  // ------------------------------------------------------------------

  /** Above this cell count, nearest-centroid assignment switches from the
    * literal-projection expression (k literal arrays in the plan — codegen
    * blows up at IVF-scale k) to a closure-UDF argmax over the same
    * driver-resident centroid matrix. Both are shuffle-free and compute
    * the identical strict left-to-right math (parity spec-tested). */
  val LiteralAssignMaxCells = 64

  /** Nearest-centroid assignment as a PURE PROJECTION: one codegen'd
    * VectorDot per centroid against a literal array, first-max
    * `array_position` argmax (ties → lowest cell id). The centroid set
    * rides in the plan like a broadcast variable — no join, no shuffle,
    * no |corpus|×k row blow-up for assignment. */
  private[operators] def nearestCell(cents: Seq[(Int, Array[Double])], vecCol: String,
                                     nrmCol: String): org.apache.spark.sql.Column = {
    val sims = array(cents.map { case (_, c) =>
      val cnrm = math.sqrt(c.map(x => x * x).sum)
      graft.plans.VectorDot(col(vecCol), typedLit(c)) / (col(nrmCol) * lit(cnrm))
    }: _*)
    // array_position returns the FIRST index holding the max → ties break
    // to the lowest cell id, same as the oracle's (sim DESC, cell ASC) rank
    element_at(typedLit(cents.map(_._1)), array_position(sims, array_max(sims)).cast("int"))
  }

  /** The large-k assignment path: strict-argmax over the centroid matrix
    * inside a closure UDF (the matrix serializes with the task like a
    * broadcast variable). Same left-to-right dot, same cosine, same
    * first-max tie-break as [[nearestCell]] — only the plan shape differs
    * (one black-box call vs k inlined expressions). */
  private[operators] def nearestCellUdf(cents: Seq[(Int, Array[Double])], vecCol: String,
                                        nrmCol: String): org.apache.spark.sql.Column = {
    val cells = cents.map(_._1).toArray
    val mats = cents.map(_._2).toArray
    val cnrms = mats.map(c => math.sqrt(c.map(x => x * x).sum))
    // Seq[Double] + exact float→double cast: same math for float
    // corpora, and the large-k path also accepts PCA-space vectors
    val f = udf { (v: Seq[Double], nrm: Double) =>
      var best = 0
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < mats.length) {
        val c = mats(i)
        var dot = 0.0
        var j = 0
        while (j < c.length) { dot += v(j) * c(j); j += 1 }
        val sim = dot / (nrm * cnrms(i))
        if (sim > bestSim) { best = i; bestSim = sim } // strict > keeps the first max
        i += 1
      }
      cells(best)
    }
    f(col(vecCol).cast("array<double>"), col(nrmCol))
  }

  /** Size-based switch between the two assignment plans. */
  private def assignCell(cents: Seq[(Int, Array[Double])], vecCol: String,
                         nrmCol: String): org.apache.spark.sql.Column =
    if (cents.size <= LiteralAssignMaxCells) nearestCell(cents, vecCol, nrmCol)
    else nearestCellUdf(cents, vecCol, nrmCol)

  /**
   * Deterministic Lloyd k-means over the embedding column — IVF cell
   * training for corpora without a usable partition label. Seeds are the
   * `k` lowest-vec_id vectors (deterministic and oracle-reproducible; a
   * seeded sampler serves the same role in production). Each iteration
   * assigns every vector to its nearest centroid by cosine and recomputes
   * centroids as decimal-exact per-component means, so the trained model
   * is bit-identical across runs, partitionings, and engines.
   *
   * The model (k × [[Dim]] doubles) lives on the driver like MLlib's
   * KMeansModel — assignment never joins or shuffles; each recompute is
   * one map-side-combined aggregate plus a k-row collect.
   */
  /** Zero-norm centroids are dropped from the model (the cell is
    * degenerate — e.g. two opposite seeds averaging to ~0). This is the
    * standard empty-cell handling AND the NaN guard: with every cnrm > 0,
    * a NaN similarity can only come from a zero-norm INPUT vector, which
    * NaNs against every cell alike — so the literal-projection and UDF
    * assignment paths stay in agreement (first cell) instead of diverging
    * on a partial-NaN row. */
  private def dropDegenerate(cents: Seq[(Int, Array[Double])]): Seq[(Int, Array[Double])] =
    cents.filter { case (_, c) => c.exists(_ != 0.0) }

  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
                      dim: Int = Dim): Seq[(Int, Array[Double])] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val base = withNorm(corpus.select(col("vec_id"), dvec("embedding").as("v")), "v")
    // the k LOWEST vec_ids seed (orderBy+limit — equals the historical
    // `vec_id < k` filter when ids are dense from 0, and stays correct
    // for sparse id spaces like packed frame keys); the CELL LABEL is the
    // seed's RANK in that ordering, not the vec_id itself — ranks fit any
    // Int k regardless of the id space (64-bit packed frame keys would
    // overflow an Int label), and for dense-from-0 corpora rank == vec_id
    // so historical labels (e.g. semdedup's `cell` output) are unchanged.
    // NOTE on dropDegenerate ordering: ranks are assigned BEFORE the
    // degenerate-seed drop, so a zero-norm seed leaves a GAP in cell ids
    // rather than renumbering later seeds — deliberate, because the SQL
    // oracles label cells by seed rank (or vec_id) over ALL k lowest ids
    // and would renumber nothing either. The sides diverge only if a seed
    // embedding is exactly zero-norm, which the oracle corpora cannot
    // produce: embeddings.parquet vectors are non-degenerate by
    // construction and frame embeddings derive from md5 hex digits
    // (at least one digit position is nonzero for any input).
    // Elements read generically so float and double embeddings both train
    val seeds = dropDegenerate(corpus.orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .zipWithIndex
      .map { case (r, rank) => (rank, r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case other => throw new IllegalArgumentException(s"bad embedding element $other")
      }.toArray) }
      .toSeq)
    require(seeds.nonEmpty, s"k-means needs non-zero corpus vectors among the $k lowest vec_ids")
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      val assigned = base.withColumn("cell", assignCell(cents, "v", "nrm"))
        .select(col("cell"), col("v").as("embedding"))
      dropDegenerate(centroids(assigned, "cell", dim).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq)
    }
  }

  /** IVF top-k over TRAINED cells: Lloyd k-means centroids route both the
    * corpus partitioning and the query probes. Same search core as
    * [[ivfTopK]]; only the cell producer differs. */
  def ivfKmeansTopK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2,
                    kCells: Int = 4, iters: Int = 2, dim: Int = Dim): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = kmeansCentroids(corpus, kCells, iters, dim)
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"), dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
      .withColumn("cell", assignCell(model, "cv", "cv_nrm"))
    ivfSearch(c, queries, normedCentroids(model.toDF("cell", "centroid")), k, nprobe)
  }

  /**
   * Deterministic bounded training sample — the lowest-`n` ids under a
   * multiplicative content hash (`(vec_id mod P) · 2654435761 mod P`,
   * ties by vec_id). The Lloyd / PQ / PCA trainers are the one
   * structural O(corpus × iters) cost of the index builds; training on
   * a bounded sample and assigning/encoding the FULL corpus through the
   * sampled model caps that cost at O(sampleN × iters) + one assignment
   * pass — the standard IVF operating posture at 100 TB (FAISS trains
   * on ~(30–256)·k points per cell). The hash rule is exactly
   * oracle-reproducible (like the lowest-vec_id seed rule), unlike an
   * RNG sample; the inner mod keeps the ANSI product under 2^62 for
   * 64-bit packed id spaces. Selection is a global top-N
   * (TakeOrderedAndProject — one pass, no full sort).
   */
  def trainingSample(corpus: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    corpus
      .withColumn("__h", pmod(pmod(col("vec_id"), lit(1000003L)) * lit(2654435761L),
        lit(1000003L)))
      .orderBy(col("__h"), col("vec_id"))
      .limit(n)
      .drop("__h")
  }

  /** IVF top-k with BOUNDED-SAMPLE training: the k-means model trains on
    * [[trainingSample]]'s `sampleN` vectors (seeds = the k lowest
    * vec_ids OF THE SAMPLE, the usual rank-labeled rule), then the FULL
    * corpus assigns through the sampled model and serves exactly like
    * [[ivfKmeansTopK]]. Recall sits within a band of full-corpus
    * training (spec-pinned; audited by ann_recall_ivf_sampled) while
    * the training passes stop scaling with the corpus. */
  def ivfKmeansSampledTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                           nprobe: Int = 2, kCells: Int = 4, iters: Int = 2,
                           sampleN: Int = 4096, dim: Int = Dim): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // checkpoint: seeds collect + every Lloyd pass re-read the sample
    val sample = trainingSample(corpus, sampleN).localCheckpoint()
    val model = kmeansCentroids(sample, kCells, iters, dim)
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
      .withColumn("cell", assignCell(model, "cv", "cv_nrm"))
    ivfSearch(c, queries, normedCentroids(model.toDF("cell", "centroid")), k, nprobe)
  }

  // ------------------------------------------------------------------
  // hierarchical (coarse → children) IVF — the √cells assignment path
  // ------------------------------------------------------------------

  /** Two-level IVF model: `coarse` (≈√kCells centroids) routes each
    * vector to a coarse cell; `leaves` are the per-coarse-cell children
    * in the GLOBAL leaf label space (`leaf = coarseRank·kChild +
    * childRank`). Serving probes the flat `leaves` (request-sized —
    * O(kCells) per QUERY is irrelevant); only corpus-sized ASSIGNMENT
    * goes through the hierarchy. */
  final case class HierIvfModel(coarse: Seq[(Int, Array[Double])],
                                leaves: Seq[(Int, Array[Double])],
                                kChild: Int)

  /**
   * Two-level Lloyd training — the fix for the one superlinear build
   * cost left in the IVF family: with cells ∝ corpus, FLAT assignment
   * is O(n·cells) (each vector scores every centroid), so builds grew
   * ~5.5× at ×16 data × 16 cells even with sampled training. Assigning
   * coarse-then-children scores O(kCoarse + kChild) ≈ O(2·√cells)
   * centroids per vector — n·√cells total, the standard two-level IVF
   * posture (FAISS's IVF on top of a coarse quantizer).
   *
   * Determinism mirrors [[kmeansCentroids]] exactly: coarse IS
   * kmeansCentroids (lowest-id seeds, cosine argmax with first-max
   * tie-break, decimal-exact means); children seed from the `kChild`
   * lowest vec_ids of EACH coarse cell (child label = rank), refine
   * with `iters` cosine-argmax/decimal-mean passes AMONG their own
   * coarse cell's children only (one distributed aggregate per pass for
   * ALL coarse cells at once — keyed by the global leaf label, never a
   * per-cell driver loop), and ties break to the lowest leaf label —
   * bit-reproducible and SQL-oracle-mirrorable like the flat trainer.
   * Coarse routing is fixed during child refinement (the two-level
   * contract: children partition WITHIN a coarse cell).
   */
  def hierKmeansModel(corpus: DataFrame, kCells: Int, iters: Int,
                      dim: Int = Dim): HierIvfModel = {
    require(kCells > 0 && iters >= 0,
      s"need kCells > 0, iters >= 0; got kCells=$kCells iters=$iters")
    val kCoarse = math.ceil(math.sqrt(kCells.toDouble)).toInt
    val kChild = math.ceil(kCells.toDouble / kCoarse).toInt
    val coarse = kmeansCentroids(corpus, kCoarse, iters, dim)
    // the coarse routing is computed ONCE and re-read by the seed collect
    // and every child pass
    val base = withNorm(corpus.select(col("vec_id"), dvec("embedding").as("v")), "v")
      .withColumn("coarse", assignCell(coarse, "v", "nrm"))
      .localCheckpoint()
    val wSeed = Window.partitionBy(col("coarse")).orderBy(col("vec_id").asc)
    val seeds = dropDegenerate(base
      .withColumn("rk", row_number().over(wSeed))
      .filter(col("rk") <= kChild)
      .select(col("coarse"), col("rk"), col("v")).collect()
      .map(r => (r.getInt(0) * kChild + r.getInt(1) - 1,
        r.getSeq[Any](2).map {
          case f: Float => f.toDouble
          case d: Double => d
          case other => throw new IllegalArgumentException(s"bad embedding element $other")
        }.toArray))
      .sortBy(_._1).toSeq)
    require(seeds.nonEmpty, "hierarchical k-means needs non-zero corpus vectors")
    val leaves = (1 to iters).foldLeft(seeds) { (ls, _) =>
      val assigned = base
        .withColumn("cell", hierAssignLeaf(ls, kChild, "coarse", "v", "nrm"))
        .select(col("cell"), col("v").as("embedding"))
      dropDegenerate(centroids(assigned, "cell", dim).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq)
    }
    // a coarse cell can end CHILDLESS when the TRAINING set is smaller
    // than the assignment corpus (sampleN builds, hier retrains): it won
    // members during a Lloyd pass but lost them all in the final coarse
    // re-assignment, so no seeds derived under it. Keeping it in the
    // routing model would send full-corpus vectors into a coarse cell
    // with no leaves — prune it so every routed vector finds children
    // (its vectors take their next-best coarse cell, the standard
    // empty-cell handling). Unreachable for full-corpus training (every
    // coarse cell with members has seeds), so no SQL oracle diverges.
    val withChildren = leaves.map(_._1 / kChild).toSet
    HierIvfModel(coarse.filter(c => withChildren(c._1)), leaves, kChild)
  }

  /** Leaf assignment through a FIXED coarse routing: argmax by cosine
    * among the vector's own coarse cell's children only (first-max tie
    * to the lowest leaf label — [[nearestCellUdf]]'s rule within the
    * group). O(kChild) dots per vector; the coarse hop paid O(kCoarse). */
  private def hierAssignLeaf(leaves: Seq[(Int, Array[Double])], kChild: Int,
                             coarseCol: String, vecCol: String,
                             nrmCol: String): org.apache.spark.sql.Column = {
    val byCoarse: Map[Int, Array[(Int, Array[Double], Double)]] =
      leaves.groupBy(_._1 / kChild).map { case (cc, ls) =>
        cc -> ls.sortBy(_._1)
          .map { case (l, c) => (l, c, math.sqrt(c.map(x => x * x).sum)) }
          .toArray
      }
    // Seq[Double] + an exact float→double CAST on the input keeps the
    // same math for float corpora while accepting PCA-space (double)
    // vectors — the hier family serves both vector spaces
    val f = udf { (cc: Int, v: Seq[Double], nrm: Double) =>
      val cands = byCoarse.getOrElse(cc, throw new IllegalStateException(
        s"coarse cell $cc has no children — degenerate model"))
      var best = 0
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < cands.length) {
        val c = cands(i)._2
        var dot = 0.0
        var j = 0
        while (j < c.length) { dot += v(j) * c(j); j += 1 }
        val sim = dot / (nrm * cands(i)._3)
        if (sim > bestSim) { best = i; bestSim = sim }
        i += 1
      }
      cands(best)._1
    }
    f(col(coarseCol), col(vecCol).cast("array<double>"), col(nrmCol))
  }

  /** Inline hierarchical-IVF top-k — [[ivfKmeansTopK]]'s serve over the
    * two-level assignment (probes stay FLAT over the leaf centroids —
    * queries are request-sized). Recall sits within a band of the flat
    * trainer (spec-pinned; audited by ann_recall_ivf_hier). */
  def ivfHierTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  nprobe: Int = 2, kCells: Int = 4, iters: Int = 2,
                  dim: Int = Dim): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = hierKmeansModel(corpus, kCells, iters, dim)
    val c = assignCells(corpus, Some((m.coarse, m.kChild)), m.leaves)
      .select("vec_id", "embedding", "cell")
      .select(col("vec_id").as("neighbor_id"), dvec("embedding").as("cv"), col("cell"))
    val cWithNorm = withNorm(c, "cv").withColumnRenamed("nrm", "cv_nrm")
    ivfSearch(cWithNorm, queries, normedCentroids(m.leaves.toDF("cell", "centroid")), k, nprobe)
  }

  /** The routing half of a hier cell model: the PRUNED coarse centroids
    * (childless cells already removed) and the children per coarse cell
    * (leaf = coarse·kChild + child). */
  private type Routing = (Seq[(Int, Array[Double])], Int)

  /** Flat or hier cell training, the one choice every cell-store build
    * and the IVF retrain make: the leaf centroids, plus the coarse routing
    * of a [[hierKmeansModel]] (None for flat [[kmeansCentroids]]). */
  private def trainCells(train: DataFrame, kCells: Int, iters: Int, hier: Boolean,
                         dim: Int = Dim): (Seq[(Int, Array[Double])], Option[Routing]) =
    if (hier) {
      val m = hierKmeansModel(train, kCells, iters, dim)
      (m.leaves, Some((m.coarse, m.kChild)))
    } else (kmeansCentroids(train, kCells, iters, dim), None)

  /** `df`'s `keep` columns plus the `cell` its `vecCol` vector falls in —
    * the one assignment rule of every build, append and retrain, so an
    * appended row lands where a build would put it: the flat argmax over
    * `leaves` (O(cells) per vector), or through a hier `routing` the
    * coarse argmax and then that coarse cell's children only
    * (O(2·√cells)). Working columns `v`, `nrm` (and `coarse`) ride along;
    * callers select what they store. */
  private def assignCells(df: DataFrame, routing: Option[Routing],
                          leaves: Seq[(Int, Array[Double])],
                          keep: Seq[String] = Seq("vec_id", "embedding"),
                          vecCol: String = "embedding"): DataFrame = {
    val normed = withNorm(df.select(keep.map(col) :+ col(vecCol).as("v"): _*), "v")
    routing.fold(normed.withColumn("cell", assignCell(leaves, "v", "nrm"))) {
      case (coarse, kChild) =>
        normed.withColumn("coarse", assignCell(coarse, "v", "nrm"))
          .withColumn("cell", hierAssignLeaf(leaves, kChild, "coarse", "v", "nrm"))
    }
  }

  /** Persist the routing half of a hier model beside the leaf model:
    * `coarse/` rows are (coarse, centroid, k_child), so routed assignment
    * and serving never reach a coarse cell without children. */
  private def writeCoarseModel(spark: org.apache.spark.sql.SparkSession,
                               path: String, routing: Routing): Unit = {
    import spark.implicits._
    val (coarse, kChild) = routing
    coarse.map { case (cc, ce) => (cc, ce, kChild) }
      .toDF("coarse", "centroid", "k_child")
      .write.mode("overwrite").parquet(s"$path/coarse")
  }

  /** The persisted routing model of a hier store, or None for a flat
    * store (the `coarse/` side table is the discriminator). */
  private def hierModelOf(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[Routing] =
    IndexStore.tableIfPresent(spark, path, Cells.Coarse).map { t =>
      val rows = t.collect()
      val coarse = rows.map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
      (coarse, rows.head.getInt(2))
    }

  // ------------------------------------------------------------------
  // persisted IVF index — build once, serve partition-pruned queries
  // ------------------------------------------------------------------

  /**
   * Materialize an IVF index: train k-means, write the corpus
   * PARTITIONED BY CELL (`path/vectors/cell=N/...`), store the centroid
   * model alongside (`path/centroids`, k tiny rows). This is the storage
   * analog of an ANN index structure: at serving time a query touches
   * only its probed cells' files. At 100 TB the build is the training
   * passes plus ONE partitioned write; no query ever re-trains or
   * re-assigns. `sampleN` bounds the training passes
   * ([[trainingSample]]); the full corpus still assigns and lands through
   * the sampled model.
   *
   * `hier = true` trains through [[hierKmeansModel]] — the fix for the
   * superlinear build at cells ∝ corpus: the corpus-sized assignment
   * pass drops from O(n·cells) to O(n·√cells) — and persists the routing
   * model (`coarse/`: pruned coarse centroids + kChild) beside the same
   * flat layout. Every serve / append / delete / compact / facts path
   * works on either store (flat paths never read `coarse`); the routing
   * model lets [[ivfStoredTopKHier]] score O(2·√cells) centroids per
   * QUERY and [[appendToIvfIndex]] assign batches through the same
   * √cells rule. `sampleN` then bounds BOTH training levels.
   */
  def writeIvfIndex(corpus: DataFrame, path: String,
                    kCells: Int = 4, iters: Int = 2,
                    sampleN: Option[Int] = None,
                    hier: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    clearForRebuild(spark, path)
    val (leaves, routing) = trainCells(trainSetOf(corpus, sampleN), kCells, iters, hier)
    commitCells(spark, path,
      assignCells(corpus, routing, leaves).select("vec_id", "embedding", "cell"),
      leaves, routing)
  }

  /** A rebuild at a path must not inherit the previous store's side
    * tables ([[IndexStore.clearSideTables]]): its pending
    * deletes, its drift facts, or a routing model — a stale `coarse`
    * beside a new flat leaf model would route wrongly. */
  private def clearForRebuild(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    IndexStore.clearSideTables(spark, path,
      Seq("deleted_vecs", "cellfacts", FactsPendingMarker, "coarse"))

  /** The training set: the bounded [[trainingSample]] when `sampleN` is
    * set (checkpointed — every training pass re-reads it), else the whole
    * corpus. */
  private def trainSetOf(corpus: DataFrame, sampleN: Option[Int]): DataFrame =
    sampleN.fold(corpus)(n => trainingSample(corpus, n).localCheckpoint())

  /** Write cell-assigned rows partitioned by `cell`, repartitioned on it
    * first (IndexStore primitive 3): file count ∝ cells, not tasks ×
    * cells — measured 3x serve inflation at 64 cells without it
    * (`docs/BENCH_NOTES.md`, "Round-10 serving-latency profile"). `mode`
    * is overwrite for a build, append for an append, and errorifexists
    * (Spark's default) inside a swap unit. */
  private def writeCells(rows: DataFrame, dir: String, mode: String): Unit =
    rows.repartition(col("cell")).write.mode(mode).partitionBy("cell").parquet(dir)

  /**
   * Land a freshly built cell store (IVF, IVF-PQ, PCA-IVF) in the one
   * write order its crash safety rests on:
   *  1. the cell-partitioned `vectors`, together with the family's other
   *     model tables (for PCA-IVF, `centroids`, written concurrently);
   *  2. the family's bootstrap-versus-append discriminator — `centroids`
   *     for IVF and IVF-PQ, `model` (`pcamodel`) for PCA-IVF. The
   *     streaming maintainer builds while it is absent and appends once
   *     it exists, so its existence must imply the tables before it
   *     landed;
   *  3. `coarse`, the routing model of a hier build and the routed-serving
   *     discriminator, dead LAST: a rebuild over a live store that crashed
   *     midway must never leave a NEW routing model beside the OLD
   *     generation's tables (routed serving would silently pair
   *     mismatched generations); a crash before it leaves a valid FLAT
   *     store.
   */
  private def commitCells(spark: org.apache.spark.sql.SparkSession, path: String,
                          vectors: DataFrame, leaves: Seq[(Int, Array[Double])],
                          routing: Option[Routing],
                          model: Option[() => Unit] = None): Unit = {
    import spark.implicits._
    val writeVectors = () => writeCells(vectors, s"$path/vectors", "overwrite")
    val writeCentroids = () =>
      leaves.toDF("cell", "centroid").write.mode("overwrite").parquet(s"$path/centroids")
    model match {
      case None => writeVectors(); writeCentroids()
      case Some(discriminator) =>
        IndexStore.inParallel(Seq(writeVectors, writeCentroids))
        discriminator()
    }
    routing.foreach(writeCoarseModel(spark, path, _))
  }

  /**
   * Incremental IVF maintenance — fold new vectors into a
   * [[writeIvfIndex]] store WITHOUT retraining: the stored centroid
   * model assigns the batch's cells (the same driver-resident
   * assignment as the build — no join, no shuffle), and the rows land
   * as batch-sized appends in their cell partitions. Ids already in the
   * store are skipped (one narrow id-column scan + broadcast anti-join),
   * so replaying a batch after a partial failure cannot double-insert.
   *
   * This is the ANN analog of [[Dedup.appendToNearDupIndex]]: serving
   * immediately sees the new vectors through the same DPP-pruned read;
   * the model is only as stale as the last re-train, which is the
   * standard IVF operating contract (re-train on drift, not per batch).
   */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       batch: DataFrame, updateFacts: Boolean = false): Unit = {
    val fresh = reviveAndScreen(spark, path, batch)
    // a hier store (persisted `coarse/` routing model) assigns through
    // the SAME two-level rule as its build; flat stores keep the flat argmax
    val assigned = assignCells(fresh, hierModelOf(spark, path), readCentroids(spark, path))
      .select("vec_id", "embedding", "cell")
    // updateFacts: the SAME screened/assigned frame feeds the write and
    // the facts merge (checkpointed so the screen runs once) — the drift
    // maintainer's O(cells) statistic stays in lock-step with the store.
    // CRASH DISCIPLINE: a crash between the vectors append and the facts
    // merge is PERMANENT, not transient — on replay the batch anti-joins
    // away (reviveAndScreen), so the merge would fold in nothing and the
    // facts understate drift until a retrain. The pending marker closes
    // that window: touched before the append, cleared after the merge —
    // a marker found at entry means a prior attempt died inside the
    // window, so this call REBUILDS the facts from the stored vectors
    // (exact, one corpus pass on the rare crash-replay path only)
    // instead of merging a possibly-empty screened batch.
    val out = if (updateFacts) assigned.localCheckpoint() else assigned
    val staleAttempt = updateFacts && factsPendingMarkerExists(spark, path)
    if (updateFacts) touchFactsPendingMarker(spark, path)
    writeCells(out, s"$path/vectors", "append")
    if (updateFacts) {
      if (staleAttempt) rebuildCellFacts(spark, path)
      else mergeCellFacts(spark, path, cellFactsOf(out))
      clearFactsPendingMarker(spark, path)
    }
  }

  /** The facts-merge crash-window marker ([[appendToIvfIndex]]): present
    * only between an updateFacts append's vectors write and its facts
    * commit. A leftover marker at entry ⇒ rebuild, not merge. Cleared by
    * fresh builds via clearSideTables alongside cellfacts itself. */
  private[operators] val FactsPendingMarker = ".cellfacts_pending"

  private def factsPendingMarkerExists(spark: org.apache.spark.sql.SparkSession,
                                       path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$FactsPendingMarker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def touchFactsPendingMarker(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$FactsPendingMarker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true).close()
  }

  private def clearFactsPendingMarker(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$FactsPendingMarker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /**
   * Top-k search against a [[writeIvfIndex]] index: the queries probe
   * the stored centroids and [[probedServe]] ranks the probed cells'
   * vectors exactly — the serving path reads nprobe/kCells of the
   * corpus, which is the entire point of the index. Results are
   * bit-identical to [[ivfKmeansTopK]] with the same training parameters
   * (spec-asserted).
   */
  def ivfStoredTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame = {
    val cents = normedCentroids(IndexStore.table(spark, path, Cells.Centroids))
    probedServe(spark, path, Cells.IvfVectors, queries,
      IndexStore.local(probeCells(queries, cents, nprobe)), k)
  }

  /**
   * Hier-ROUTED top-k over a `writeIvfIndex(hier = true)` store — the
   * serve counterpart of the √cells build: [[ivfStoredTopK]] scores every
   * leaf centroid per query (O(cells) dots — fine at fixed cells, but
   * with cells ∝ corpus that flat probe is serve-side superlinear, the
   * `ivf-sc` row of `docs/BENCH_NOTES.md`, "Round 14 continuation:
   * hier-ROUTED serving"), whereas this path probes through
   * [[routedProbes]] — O(2·√cells) per query — and then runs the same
   * [[probedServe]] finish.
   *
   * Exactness hooks (spec-pinned): with nprobeCoarse ≥ |coarse| the
   * candidate leaf set per query is ALL leaves, so the result is
   * bit-equal to [[ivfStoredTopK]] at the same `nprobe`; additionally
   * probing every leaf reproduces brute force regardless of assignment.
   */
  def ivfStoredTopKHier(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, k: Int,
                        nprobeCoarse: Int = 1, nprobe: Int = 2): DataFrame =
    probedServe(spark, path, Cells.IvfVectors, queries,
      routedProbes(spark, path, queries, nprobeCoarse, nprobe), k)

  /**
   * The probed-cell finish of every stored serve (IVF, IVF-PQ, residual
   * IVF-PQ, PCA-IVF; flat or routed). `probes` is the entry point's
   * (query_id, qv, …, cell) frame — [[probeCells]] or [[routedProbes]],
   * in the store's vector space — collected once ([[IndexStore.local]]).
   *
   * STATIC partition pruning: DPP does not fire for a probe side built
   * from a request-sized frame (no selective scan filter — the
   * bm25StoredTopK pattern), so the probed cell ids — at most |queries| ×
   * nprobe ints, taken from the probe rows already on the driver with no
   * further job — are pushed as a literal `cell IN` over the partition
   * column; every vectors read then scans ONLY the probed cells' files,
   * and the per-query cell join still restricts each query to its own
   * probes. Pending delete tombstones screen every read
   * (broadcast anti-join, delete-rate-sized): a deleted vector stops
   * ranking the instant [[deleteFromIvfIndex]] lands; absent tombstones
   * leave the plan untouched.
   *
   * Without a `shortlist` stage the probed full-width embeddings rank
   * exactly. With one, the family's stage 1 cuts the screened probed
   * read to (query_id, neighbor_id) candidates, and [[exactRerank]] reads
   * the full-width embeddings of those candidates only. Stage 1 alone
   * would screen correctly (stage 2 only reads shortlisted ids), but both
   * reads screen, so a shortlist computed before a concurrent delete
   * cannot resurrect the id at rerank.
   */
  private def probedServe(spark: org.apache.spark.sql.SparkSession, path: String,
                          vectors: StoreTable, queries: DataFrame, probes: IndexStore.Local,
                          k: Int, shortlist: Option[DataFrame => DataFrame] = None): DataFrame = {
    val probed = probes.rows.map(_.getAs[Int]("cell")).distinct.sorted.toSeq
    val screen = deleteScreen(spark, path)
    def probedVecs =
      screen(IndexStore.table(spark, path, vectors).where(col("cell").isin(probed: _*)))
    shortlist match {
      case None => rankProbed(probedVecs, probes.frame, "embedding", k)
      case Some(stage1) =>
        val shortIds = stage1(probedVecs)
        exactRerank(probedVecs, queries, shortIds, k)
    }
  }

  /** Exact cosine rank of the probed vectors' `vecCol` against each
    * query's own probed cells (an equi-join on cell, no corpus cross
    * join). */
  private def rankProbed(vecs: DataFrame, probes: DataFrame, vecCol: String,
                         k: Int): DataFrame =
    rankPairs(withNorm(vecs.select(col("cell"), col("vec_id").as("neighbor_id"),
      col(vecCol).as("cv")), "cv").withColumnRenamed("nrm", "cv_nrm")
      .join(broadcast(probes), Seq("cell")), k)

  /** Stage 2 of every two-stage serve: EXACT cosine over the full-width
    * embeddings of a (query_id, neighbor_id) shortlist. The shortlist id
    * set broadcasts into the `vecs` read, so norms and cosines are
    * computed ONLY for the shortlist·|queries| surviving pairs —
    * non-shortlisted vectors cost a broadcast-hash probe and nothing
    * else. */
  private def exactRerank(vecs: DataFrame, queries: DataFrame, shortIds: DataFrame,
                          k: Int): DataFrame = {
    val pruned = vecs.select(col("vec_id").as("neighbor_id"), dvec("embedding").as("cv"))
      .join(broadcast(shortIds), Seq("neighbor_id"))
    rankPairs(withNorm(pruned, "cv").withColumnRenamed("nrm", "cv_nrm")
      .join(broadcast(queryVecs(queries)), Seq("query_id")), k)
  }

  /**
   * The routed probe frame shared by every hier-store serve path (plain
   * IVF, IVF-PQ stage 1, PCA-IVF stage 1 — same `centroids` + `coarse`
   * layout): each query scores the persisted PRUNED coarse model
   * (√cells dots), keeps its top `nprobeCoarse` coarse cells, scores
   * ONLY their children (the leaf-centroid read prunes by label range —
   * leaf = coarse·kChild + child — before any per-query scoring) and
   * probes the top `nprobe` leaves. Output is [[probeCells]]'s shape
   * (query_id, qv, qv_nrm, cell), collected once ([[IndexStore.local]]):
   * the coarse stage is collected once too, and both stages' probed
   * cells come from those rows, with no further job. qv is in the
   * STORE's model space (callers project PCA queries first). Refuses
   * loudly on a store without a routing model — silent flat fallback
   * would hide the O(cells) per-query cost the caller opted out of.
   */
  private def routedProbes(spark: org.apache.spark.sql.SparkSession,
                           path: String, queries: DataFrame,
                           nprobeCoarse: Int, nprobe: Int): IndexStore.Local = {
    import spark.implicits._
    val (coarse, kChild) = hierModelOf(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path has no coarse routing model — not a hier store " +
          "(use the flat stored-top-k path instead)"))
    // stage 1: route queries over the √cells coarse model
    val qc = IndexStore.local(
      probeCells(queries, normedCentroids(coarse.toDF("cell", "centroid")), nprobeCoarse)
        .withColumnRenamed("cell", "coarse"))
    val probedCoarse = qc.rows.map(_.getAs[Int]("coarse")).distinct.sorted.toSeq
    // stage 2: score only the probed coarse cells' children
    val leafCands = normedCentroids(
      IndexStore.table(spark, path, Cells.Centroids)
        .where(floor(col("cell") / lit(kChild)).cast("int").isin(probedCoarse: _*))
        .withColumn("coarse", floor(col("cell") / lit(kChild)).cast("int")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell").asc)
    IndexStore.local(qc.frame.join(broadcast(leafCands), Seq("coarse"))
      .withColumn("cdist", cosine("qv", "centroid"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qv_nrm"), col("cell")))
  }

  /** Pending vector tombstones, or None when none exist (the cheap
    * common case — serving plans stay anti-join-free). */
  private def deletedVecs(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[DataFrame] =
    IndexStore.pendingDeletes(spark, path, Cells.DeletedVecs, Seq("vec_id"))

  /** Tombstone screen for a store's vectors reads — resolved ONCE per
    * serve so every stage shares the same delete set; a tombstone-free
    * store keeps an anti-join-free plan. Shared by all the stored-index
    * serving paths (plain IVF, PCA-IVF, IVF-PQ). */
  private def deleteScreen(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame => DataFrame = {
    val dead = deletedVecs(spark, path)
    df => dead.fold(df)(d => df.join(broadcast(d), Seq("vec_id"), "left_anti"))
  }

  /** The store's own centroid model, collected driver-side (kCells ×
    * [[Dim]] — KMeansModel-sized). Shared by every stored-index path
    * that assigns cells or derives codebooks from them. */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[(Int, Array[Double])] =
    IndexStore.table(spark, path, Cells.Centroids).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq

  /** The shared maintainer front half for the three append paths
    * (IVF / PCA-IVF / IVF-PQ — same vectors/deleted_vecs layout):
    * revival (a batch re-registering a DELETED vec_id purges the id's
    * stale row first — otherwise the replay screen would anti-join the
    * re-registration away forever — and clears only ITS tombstone, the
    * graft.storage.TagIndex.append revival contract; one store-sized
    * rewrite on the rare re-registration path, normal appends never
    * enter the branch) followed by the replay screen (id anti-join —
    * replaying a batch after a partial failure cannot double-insert).
    * Returns the screened batch ready for the store-specific encode. */
  private def reviveAndScreen(spark: org.apache.spark.sql.SparkSession,
                              path: String, batch: DataFrame): DataFrame = {
    deletedVecs(spark, path).foreach { d =>
      val revived = batch.select(col("vec_id")).distinct()
        .join(broadcast(d), Seq("vec_id"), "left_semi").localCheckpoint()
      if (!revived.isEmpty) {
        IndexStore.compactBucketed(spark, path, "vectors",
          _.join(broadcast(revived), Seq("vec_id"), "left_anti"), partCol = "cell")
        IndexStore.clearDeletes(spark, path, Cells.DeletedVecs,
          revived, Seq("vec_id"))
      }
    }
    IndexStore.screenFresh(batch, path, Cells.VectorIds, Seq("vec_id"))
  }

  /**
   * Takedown from the stored IVF index — the ANN dual of
   * [[graft.operators.Dedup.deleteFromNearDupIndex]]: embeddings of
   * removed content must stop being SERVED as neighbors immediately.
   * Tombstone-append-only (no rewrite, no swap window — safe against a
   * live store): the ids land in `deleted_vecs/`, [[ivfStoredTopK]]
   * screens its probed read against them (top-k recomputes over the
   * survivors), and the physical purge of the cell-scattered rows rides
   * the next [[compactIvfIndex]]. Idempotent; re-registration is
   * [[appendToIvfIndex]]'s revival path. The centroid MODEL is
   * unchanged by deletes — the standard IVF operating contract
   * (re-train on drift, not per delete).
   */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         vecIds: DataFrame): Unit =
    IndexStore.appendDeletes(spark, path, Cells.DeletedVecs,
      vecIds, registry = Cells.VectorIds, Seq("vec_id"))

  /**
   * Index maintenance compaction — merges the per-wave file increments
   * [[appendToIvfIndex]] leaves in each cell partition back to one
   * layout per cell (crash-safe swap), and performs the physical half of
   * [[deleteFromIvfIndex]]: tombstoned vectors purge inside the rewrite,
   * then the tombstone table clears LAST (a crash before the clear
   * leaves the screen over already-purged data — harmless, the next
   * compaction finishes). Serving answers are unchanged when no deletes
   * are pending (spec-pinned).
   */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val dead = deletedVecs(spark, path).map(_.localCheckpoint())
    IndexStore.compactBucketed(spark, path, "vectors",
      df => dead.fold(df)(d => df.join(broadcast(d), Seq("vec_id"), "left_anti")),
      partCol = "cell")
    dead.foreach(_ => IndexStore.dropDeletes(spark, path, "deleted_vecs"))
    // the purge changed what the vectors table holds — a facts table
    // must follow it or the drift statistic keeps counting purged rows
    if (dead.isDefined && hasCellFacts(spark, path))
      rebuildCellFacts(spark, path)
  }

  /**
   * Re-train a stored IVF index on its OWN corpus — the maintenance
   * response to drift the operating contract calls for ("re-train on
   * drift, not per batch"): after enough [[appendToIvfIndex]] waves, the
   * build-time centroids stop describing the data, cells go unbalanced,
   * and recall at fixed nprobe decays (the condition `embCentroidDrift`
   * exists to DETECT). The retrain reads the stored vectors (pending
   * tombstones screen out, so the rewrite doubles as their physical
   * purge), trains a fresh deterministic model, and rewrites the whole
   * store — new `vectors` partitioning AND new `centroids` — as ONE
   * [[graft.storage.AtomicSwap.swapDir]] unit: the two tables describe
   * each other (probes computed from one model against the other
   * model's partitions serve silently wrong answers), so they must
   * never be swapped separately. Post-retrain the store is
   * INDISTINGUISHABLE from a fresh [[writeIvfIndex]] over the live
   * corpus (same deterministic training — spec- and oracle-pinned).
   *
   * At 100 TB this is the same cost as the original build (training
   * passes + one partitioned write), scheduled off the drift signal;
   * appends and deletes stay cheap in between.
   *
   * `hier = true` retrains through [[hierKmeansModel]] — the √cells
   * assignment path — so a drift-triggered retrain at cells ∝ corpus
   * keeps the build-cost curve of `writeIvfIndex(hier = true)`
   * (O(n·√cells) instead of O(n·cells)); the resulting store is
   * INDISTINGUISHABLE from a fresh hier build over the live corpus
   * (spec-pinned), and serving stays the shared flat-leaf path.
   */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      kCells: Int = 4, iters: Int = 2,
                      sampleN: Option[Int] = None,
                      hier: Boolean = false): Unit = {
    import spark.implicits._
    val store = new org.apache.hadoop.fs.Path(path)
    val dead = deletedVecs(spark, path)
    val corpus = IndexStore.table(spark, path, Cells.IvfVectors)
      .select(col("vec_id"), col("embedding"))
    // every read below happens inside the build phase, while the live
    // store is still in place — swapDir renames only after `build` ends
    val live = dead.fold(corpus)(d =>
      corpus.join(broadcast(d), Seq("vec_id"), "left_anti"))
    graft.storage.AtomicSwap.swapDir(spark, store.getParent.toString, store.getName) { tmp =>
      val (leaves, routing) = trainCells(trainSetOf(live, sampleN), kCells, iters, hier)
      // vectors/centroids/coarse are independent — concurrent; the facts
      // rebuild below stays AFTER them (it reads the new $tmp/vectors)
      IndexStore.inParallel(Seq[() => Unit](
        () => writeCells(assignCells(live, routing, leaves).select("vec_id", "embedding", "cell"),
          s"$tmp/vectors", "errorifexists"),
        () => leaves.toDF("cell", "centroid").write.parquet(s"$tmp/centroids")) ++
        // a hier retrain persists the new ROUTING model in the same swap
        // unit (routed serving/appends must never pair an old coarse model
        // with a new leaf model); a flat retrain writes none, so a stale
        // coarse dir from a former hier generation vanishes with the swap
        routing.map(r => () => writeCoarseModel(spark, tmp, r)))
      // deleted_vecs is deliberately NOT carried over: the tombstoned
      // rows never entered the new store — the retrain IS their purge
      // a facts table rebuilds INSIDE the swap (over the new assignment)
      // so the O(cells) drift statistic can never pair old facts with a
      // new model generation
      if (hasCellFacts(spark, path))
        cellFactsOf(IndexStore.table(spark, tmp, Cells.IvfVectors))
          .coalesce(1).write.parquet(s"$tmp/cellfacts")
    }
  }

  // ------------------------------------------------------------------
  // per-cell running facts — the O(cells) drift statistic
  // ------------------------------------------------------------------

  private def hasCellFacts(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    IndexStore.tableIfPresent(spark, path, Cells.CellFacts).isDefined

  /** Per-cell running facts of an assigned vector frame: (cell, n,
    * per-dimension DECIMAL sums). Decimal sums merge associatively, so
    * facts maintained incrementally per append batch equal a full
    * recompute over the stored vectors EXACTLY (spec-pinned) — which is
    * what lets the drift check read a |cells|-sized table instead of
    * re-scanning the corpus every micro-batch. */
  private[graft] def cellFactsOf(assigned: DataFrame, dim: Int = Dim): DataFrame =
    assigned.groupBy(col("cell")).agg(
      count(lit(1)).as("n"),
      array((0 until dim).map(i =>
        sum(element_at(col("embedding"), i + 1).cast("decimal(28,10)"))
          .cast("decimal(38,10)")): _*).as("sums"))

  /** Rebuild the facts from the stored vectors — the build / retrain /
    * self-heal path (one corpus pass; appends then stay O(batch)). */
  def rebuildCellFacts(spark: org.apache.spark.sql.SparkSession,
                       path: String, dim: Int = Dim): Unit =
    graft.storage.AtomicSwap.swapDir(spark, path, "cellfacts") { tmp =>
      cellFactsOf(IndexStore.table(spark, path, Cells.IvfVectors), dim)
        .coalesce(1).write.parquet(tmp)
    }

  /** Fold one append batch's facts into the table (cells-sized union +
    * re-aggregate, swapped atomically). Missing facts rebuild instead —
    * the crash-window self-heal (a batch whose vectors landed but whose
    * facts merge did not is recovered by the rebuild; until then the
    * statistic may understate drift by at most that batch, and every
    * retrain rebuilds exactly). */
  private[graft] def mergeCellFacts(spark: org.apache.spark.sql.SparkSession,
                                    path: String, add: DataFrame,
                                    dim: Int = Dim): Unit =
    IndexStore.tableIfPresent(spark, path, Cells.CellFacts).fold(
      rebuildCellFacts(spark, path, dim)) { facts =>
      graft.storage.AtomicSwap.swapDir(spark, path, "cellfacts") { tmp =>
        facts.unionByName(add)
          .groupBy(col("cell")).agg(
            sum(col("n")).cast("long").as("n"),
            array((0 until dim).map(i =>
              sum(element_at(col("sums"), i + 1)).cast("decimal(38,10)")): _*).as("sums"))
          .coalesce(1).write.parquet(tmp)
      }
    }

  /**
   * The drift statistic from the FACTS table — per cell, the cosine of
   * the trained centroid against the cell's current mean
   * (`sums/n`, the same decimal-exact mean recipe [[centroidDrift]]
   * computes from raw vectors). Reads |cells| rows from `cellfacts` +
   * `centroids` — the raw `vectors` table never enters the plan
   * (spec-pinned), which is what makes a per-micro-batch drift check
   * affordable at 100 TB: the old posture re-projected the whole corpus
   * per batch.
   */
  def ivfDriftFromFacts(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame = {
    val trained = IndexStore.table(spark, path, Cells.Centroids)
      .select(col("cell").as("label"), col("centroid").as("embedding"))
    val current = IndexStore.table(spark, path, Cells.CellFacts)
      .select(col("cell").as("label"),
        transform(col("sums"), x => x.cast("double") / col("n")).as("embedding"))
    centroidDrift(trained, current)
  }

  /**
   * Per-label centroid summary — cluster cohesion diagnostics over an
   * embedding corpus: each label's vector count, centroid L2 norm, and the
   * mean/min/max cosine of members to their own centroid. The corpus-side
   * half of IVF training quality checks ("is this cell tight?") and of
   * embedding-drift monitoring between pipeline runs.
   *
   * Scale shape: the centroid is a DISTRIBUTED mean — posexplode →
   * (label, pos) partial-combined aggregate → |labels|-row rebuild; no
   * vector ever `collect`s. Per-element sums go through DECIMAL(28,10)
   * (exact, order-independent), so centroids are bit-identical across
   * partitionings and engines — the cosine pass (codegen'd [[graft.plans.VectorDot]]
   * against the broadcast |labels|×Dim centroid frame, centroid norm
   * hoisted to one sqrt per LABEL, so each row pays two dot products, not
   * three) then compares deterministically too, and the mean cosine is a
   * decimal-exact average for the same reason. Three shuffles: the
   * component aggregate on (label, pos), the centroid rebuild on (label),
   * and the final per-label stats.
   */
  def labelCentroids(embs: DataFrame): DataFrame = {
    val comp = embs
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("x"))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))
      .withColumn("c_nrm", sqrt(graft.plans.VectorDot(col("centroid"), col("centroid"))))
      .withColumn("centroid_norm", round(col("c_nrm"), 6))
    embs.join(broadcast(cent), Seq("label"))
      .withColumn("cosine", graft.plans.VectorDot(col("embedding"), col("centroid")) /
        (sqrt(graft.plans.VectorDot(col("embedding"), col("embedding"))) * col("c_nrm")))
      .groupBy(col("label"), col("centroid_norm"))
      .agg(count(lit(1)).as("n_vecs"),
        round((sum(col("cosine").cast("decimal(28,10)")).cast("double") / count(lit(1))), 4)
          .as("avg_cosine"),
        round(min(col("cosine")), 6).as("min_cosine"),
        round(max(col("cosine")), 6).as("max_cosine"))
      .select("label", "n_vecs", "centroid_norm", "avg_cosine", "min_cosine", "max_cosine")
  }

  /**
   * Embedding drift between two corpus versions: per label, the cosine
   * between the two splits' centroids (1.0 = the label's geometry is
   * stable run-over-run) plus counts and centroid norms — the monitor
   * that catches a re-embedded or re-crawled corpus shifting under a
   * trained index/classifier before it ships. Same distributed
   * decimal-exact centroid math as [[labelCentroids]]; the comparison
   * frame is |labels|-sized.
   */
  def centroidDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def cents(e: DataFrame, m: String, n: String) = e
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("x"))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("m"),
        count(lit(1)).as("cnt"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as(m),
        max(col("cnt")).as(n)) // every pos sees all the label's vectors
    cents(a, "ca", "n_a").join(cents(b, "cb", "n_b"), Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(sqrt(graft.plans.VectorDot(col("ca"), col("ca"))), 6).as("norm_a"),
        round(sqrt(graft.plans.VectorDot(col("cb"), col("cb"))), 6).as("norm_b"),
        round(graft.plans.VectorDot(col("ca"), col("cb")) /
          (sqrt(graft.plans.VectorDot(col("ca"), col("ca"))) *
            sqrt(graft.plans.VectorDot(col("cb"), col("cb")))), 6).as("drift_cosine"))
  }

  /**
   * k-NN majority-vote labeling — the embedding-space auto-labeler /
   * label-propagation step of a curation pipeline (and, run leave-one-out
   * over an already-labeled set as here, its accuracy audit): each query
   * takes the modal label of its k nearest labeled neighbors, ties broken
   * by the smaller label. Emits the query's own label and a hit flag so
   * the aggregate accuracy is one filter away.
   *
   * Scale shape: neighbor search is [[bruteForceTopK]] (query side
   * broadcast, one corpus scan — swap in [[ivfTopK]] for the indexed
   * 100 TB path, same contract); the vote is a (query,label)-keyed count
   * (k·|queries| rows at most) + a per-query top-1 window — both
   * query-side-sized, never corpus-sized.
   */
  def labelVote(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val labels = corpus.select(col("vec_id").as("neighbor_id"), col("label"))
    val votes = bruteForceTopK(corpus, queries, k)
      .join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .join(queries.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        Seq("query_id"))
      .select(col("query_id"), col("label").as("pred_label"), col("votes"),
        col("true_label"), (col("label") === col("true_label")).as("hit"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
   * deduplication in embedding space: cluster the corpus with
   * [[kmeansCentroids]] (deterministic Lloyd), then within each cluster
   * drop every vector that has a semantic duplicate (cosine >= threshold)
   * KEPT in preference to it. The paper's reference implementation sorts
   * each cluster by similarity-to-centroid and drops a point when any
   * EARLIER point (lower centroid-cosine — i.e. the more "atypical",
   * diversity-preserving example — ties broken by id) is within the
   * threshold; that order-scan is exactly a dominance rule, so it
   * re-expresses as one self-equi-join on the cell id — no per-cluster
   * iteration, no similarity matrix.
   *
   * Scale shape (the paper's own): candidates are bounded by CELL size —
   * kCells grows with the corpus (the paper trains 110k clusters for
   * LAION-scale data) so the per-cell quadratic stays constant-bounded;
   * the join key is the cell id (AQE splits skewed cells), the model is
   * driver-resident, and the centroid-cosine pass joins against a
   * broadcast k-row frame. One shuffle on `cell`, one anti-join on
   * `vec_id`.
   *
   * Output: the SURVIVING vectors — (vec_id, cell, centroid_cosine).
   */
  def semDedup(corpus: DataFrame, threshold: Double,
               kCells: Int = 4, iters: Int = 2): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"semDedup threshold must be in (0, 1], got $threshold")
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = kmeansCentroids(corpus, kCells, iters)
    val cents = broadcast(
      withNorm(model.toDF("cell", "centroid"), "centroid")
        .withColumnRenamed("nrm", "centroid_nrm"))
    val assigned = withNorm(corpus.select(col("vec_id"), dvec("embedding").as("v")), "v")
      .withColumn("cell", assignCell(model, "v", "nrm"))
      .join(cents, Seq("cell"))
      .withColumn("ccos", graft.plans.VectorDot(col("v"), col("centroid")) /
        (col("nrm") * col("centroid_nrm")))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("ccos"))
    val a = assigned.select(col("vec_id"), col("v").as("av"),
      col("nrm").as("av_nrm"), col("cell"), col("ccos"))
    val b = assigned.select(col("vec_id").as("b_id"), col("v").as("bv"),
      col("nrm").as("bv_nrm"), col("cell"), col("ccos").as("b_ccos"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("b_id") =!= col("vec_id"))
      .filter(cosine("av", "bv") >= threshold)
      .filter(col("b_ccos") < col("ccos") ||
        (col("b_ccos") === col("ccos") && col("b_id") < col("vec_id")))
      .select(col("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), round(col("ccos"), 6).as("centroid_cosine"))
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011) — compressed ANN codes +
  // asymmetric-distance (ADC) search: the memory-scale path where even
  // IVF's full vectors are too big (100 TB of embeddings → m bytes/vec)
  // ------------------------------------------------------------------

  /** PQ subspace count: [[Dim]]/PqM-dimensional subvectors, one code each. */
  val PqM = 8
  private val SubDim = Dim / PqM

  /** One full-vector centroid collect (unrounded — the decimal-exact
    * means) serving BOTH the PQ codebooks and any cents frame a composed
    * path rebuilds; callers that need both must not pay the per-label
    * aggregate twice. */
  private def collectCentroids(corpus: DataFrame, cellCol: String): Seq[(Int, Array[Double])] =
    centroids(corpus, cellCol).collect()
      .map(r => r.getAs[Number]("cell").intValue -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq

  /** Spark's `round(col, 6)` double semantics, driver-side: the Round
    * expression goes BigDecimal.valueOf → setScale(HALF_UP) — replicated
    * exactly so driver-rounded codebooks equal plan-rounded ones (and the
    * DuckDB oracle's `round`). */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** PQ codebooks from a collected centroid model: per subspace, the
    * per-cell mean subvector, components rounded to 6. */
  private[operators] def pqCodebooksFrom(
      model: Seq[(Int, Array[Double])]): Seq[Seq[(Int, Array[Double])]] =
    (0 until PqM).map { j =>
      model.map { case (lbl, full) =>
        lbl -> full.slice(j * SubDim, (j + 1) * SubDim).map(round6)
      }
    }

  /** PQ codebooks: per subspace, the per-cell mean subvector (components
    * decimal-summed then rounded to 6 — bit-identical across engines,
    * like [[centroids]]). Cell-seeded like the IVF cells; swap in
    * [[kmeansCentroids]] per subspace for unlabeled corpora — the m ×
    * codes × [[SubDim]] model stays driver-resident either way (640
    * doubles here, KMeansModel-sized). */
  private[operators] def pqCodebooks(corpus: DataFrame,
                                     cellCol: String = "label"): Seq[Seq[(Int, Array[Double])]] =
    pqCodebooksFrom(collectCentroids(corpus, cellCol))

  /** Left-to-right dot of a vector-column subspace slice against a literal
    * centroid — the oracle's `list_dot_product` accumulation order, so
    * the doubles agree bit-for-bit. */
  private def subDot(vec: org.apache.spark.sql.Column, j: Int,
                     c: Array[Double]): org.apache.spark.sql.Column =
    (0 until SubDim).map(i => element_at(vec, j * SubDim + i + 1).cast("double") * lit(c(i)))
      .reduce(_ + _)

  /** PQ assignment for one subspace: argmin of the rank-equivalent L2 key
    * |c|² − 2⟨x_j,c⟩ (|x_j|² is constant per row) as a literal
    * projection; first-min `array_position` ties to the smallest code —
    * the [[nearestCell]] pattern, per subspace. PARITY REFERENCE ONLY:
    * the full m-subspace literal encode (m × codes × [[SubDim]] product
    * terms) grows the generated method past janino's 64 KB limit, so
    * whole-stage codegen FAILS TO COMPILE and the stage runs interpreted
    * — the production path is [[pqEncodeUdf]], spec-pinned equal. */
  private[operators] def pqAssign(cb: Seq[(Int, Array[Double])], vec: org.apache.spark.sql.Column,
                                  j: Int): org.apache.spark.sql.Column = {
    val keys = array(cb.map { case (_, c) =>
      val c2 = c.foldLeft(0.0)((a, x) => a + x * x) // list_dot_product(c,c) order
      lit(c2) - lit(2.0) * subDot(vec, j, c)
    }: _*)
    element_at(typedLit(cb.map(_._1)), array_position(keys, array_min(keys)).cast("int"))
  }

  /** Closure-UDF encode — all m codes in one JIT-compiled call (the
    * [[nearestCellUdf]] pattern, forced here because the literal encode
    * breaks the 64 KB codegen limit): same strict left-to-right dots,
    * same first-min tie-break as [[pqAssign]], spec-pinned equal. The
    * codebook matrix serializes with the task like a broadcast var. */
  private def pqEncodeUdf(cbs: Seq[Seq[(Int, Array[Double])]]) = {
    val ids = cbs.map(_.map(_._1).toArray).toArray
    val mats = cbs.map(_.map(_._2).toArray).toArray
    val c2s = mats.map(_.map(c => c.foldLeft(0.0)((a, x) => a + x * x)))
    val m = mats.length
    udf { (v: Seq[Float]) =>
      val out = new Array[Int](m)
      var j = 0
      while (j < m) {
        val band = mats(j)
        var best = 0
        var bestKey = Double.PositiveInfinity
        var l = 0
        while (l < band.length) {
          val c = band(l)
          var dot = 0.0
          var i = 0
          while (i < c.length) { dot += v(j * c.length + i).toDouble * c(i); i += 1 }
          val key = c2s(j)(l) - 2.0 * dot
          if (key < bestKey) { best = l; bestKey = key } // strict < keeps the first min
          l += 1
        }
        out(j) = ids(j)(best)
        j += 1
      }
      out
    }
  }

  /** Closure-UDF ADC score in integer micro-units: Σ_j micro(⟨q_j,
    * C_j[code_j]⟩), replicating Spark's `round` (BigDecimal.valueOf +
    * HALF_UP — the Round expression's own double path) so the UDF, the
    * literal plan, and the DuckDB oracle agree bit-for-bit. */
  private[operators] def adcMicroUdf(cbs: Seq[Seq[(Int, Array[Double])]]) = {
    val mats = cbs.map(_.map(_._2).toArray).toArray
    val idx = cbs.map(b => b.map(_._1).zipWithIndex.toMap).toArray
    val m = mats.length
    udf { (codes: Seq[Int], q: Seq[Float]) =>
      var total = 0L
      var j = 0
      while (j < m) {
        val c = mats(j)(idx(j)(codes(j)))
        var dot = 0.0
        var i = 0
        while (i < c.length) { dot += q(j * c.length + i).toDouble * c(i); i += 1 }
        total += java.math.BigDecimal.valueOf(dot * 1000000.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
        j += 1
      }
      total
    }
  }

  /** Literal-projection ADC micro-score over a `codes` array column —
    * parity reference for [[adcMicroUdf]] (same codegen-size problem as
    * the literal encode; never the production path). */
  private[operators] def pqLiteralMicro(cbs: Seq[Seq[(Int, Array[Double])]],
                                        codes: org.apache.spark.sql.Column,
                                        qv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until PqM).map { j =>
      cbs(j).foldLeft(lit(0L): org.apache.spark.sql.Column) { case (acc, (lbl, c)) =>
        when(element_at(codes, j + 1) === lbl,
          round(subDot(qv, j, c) * lit(1000000.0), 0).cast("long")).otherwise(acc)
      }
    }.reduce(_ + _)

  /** Encoded corpus: `keep` passthrough columns + the `codes` array —
    * ONE scan, no join, no shuffle; the UDF is the single black-box call
    * (everything around it stays in whole-stage codegen). */
  private[operators] def pqEncoded(corpus: DataFrame, cbs: Seq[Seq[(Int, Array[Double])]],
                                   keep: Seq[org.apache.spark.sql.Column]): DataFrame =
    corpus.select(keep :+ pqEncodeUdf(cbs)(dvec("embedding")).as("codes"): _*)

  /**
   * PQ index build: the corpus compressed to m codes per vector (emitted
   * comma-joined for a type-stable audit row). At 100 TB this projection
   * IS the index — persist it like [[writeIvfIndex]] and the search tier
   * never reads raw vectors again: 8 codes ≈ 8 bytes against 256 bytes
   * of float32, a 32× memory cut.
   */
  def pqEncode(corpus: DataFrame): DataFrame = {
    val cbs = pqCodebooks(corpus)
    pqEncoded(corpus, cbs, Seq(col("vec_id")))
      .select(col("vec_id"),
        array_join(transform(col("codes"), _.cast("string")), ",").as("codes"))
  }

  /**
   * ADC (asymmetric distance) top-k: the query keeps its full vector,
   * each corpus vector is its PQ code; score ≈ ⟨q,x⟩ reconstructed as
   * Σ_j ⟨q_j, C_j[code_j]⟩ — the classic ADC table walk, as ONE
   * JIT-compiled closure call per pair ([[adcMicroUdf]]; the literal
   * when-chain formulation breaks the 64 KB codegen limit and would run
   * interpreted). Per-subspace contributions are rounded to integer
   * micro-units and summed as longs, so ranking and score are
   * float-order-independent (same discipline as unigramSurprisal).
   *
   * Scale shape: queries broadcast; the corpus side reads CODES only
   * (the m-byte index, not raw vectors) in one scan — no shuffle before
   * the per-query top-k window. Exact re-ranking of ADC survivors against
   * raw vectors composes via [[bruteForceTopK]] on the id set.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cbs = pqCodebooks(corpus)
    val enc = pqEncoded(corpus, cbs, Seq(col("vec_id").as("neighbor_id")))
    val q = broadcast(queries.select(col("vec_id").as("query_id"), dvec("embedding").as("qv")))
    adcRanked(enc.crossJoin(q), adcMicroUdf(cbs)(col("codes"), col("qv")), k)
      .select(col("query_id"), col("neighbor_id"), adcScore)
  }

  /** The micro-unit ADC rank shared by every PQ search: self pairs drop,
    * the integer `score` ranks desc with the neighbor-asc tiebreak, and
    * the top `k` per query survive (carrying `score_micro`). */
  private def adcRanked(pairs: DataFrame, score: org.apache.spark.sql.Column,
                        k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id").asc)
    pairs.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score_micro", score)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** The ADC score column of an inline PQ search, back in score units. */
  private def adcScore: org.apache.spark.sql.Column =
    round(col("score_micro").cast("double") / lit(1000000.0), 6).as("adc_score")

  /** PQ stage 1 of a stored two-stage serve ([[probedServe]]): the
    * probed cells' CODES — the scan reads cell + vec_id + codes, never a
    * raw vector — ADC-scored by `score` against each query's own probes,
    * down to a `shortlist` of (query_id, neighbor_id) per query. */
  private def adcShortlist(probes: DataFrame, shortlist: Int,
                           score: org.apache.spark.sql.Column)(vecs: DataFrame): DataFrame =
    adcRanked(vecs.select(col("cell"), col("vec_id").as("neighbor_id"), col("codes"))
      .join(broadcast(probes), Seq("cell")), score, shortlist)
      .select(col("query_id"), col("neighbor_id"))

  /**
   * IVF-PQ (IVFADC, Jégou et al. 2011 §IV): the two scale levers
   * composed — IVF cell probing bounds WHICH vectors are scored
   * (nprobe/k of the corpus), PQ codes bound WHAT is read per vector
   * (m bytes, no raw embeddings in the search tier). Probes rank cells
   * by query–centroid cosine exactly like [[ivfTopK]]; scoring is the
   * [[pqTopK]] micro-unit ADC chain, restricted to probed cells by an
   * equi-join on cell id — no corpus cross join anywhere.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2,
                cellCol: String = "label"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // ONE per-cell centroid aggregate serves both the PQ codebooks and
    // the probe centroids (the model is driver-resident either way)
    val model = collectCentroids(corpus, cellCol)
    val cbs = pqCodebooksFrom(model)
    // cell rides in the SAME encode projection — a corpus self-join on
    // vec_id here would be a pointless whole-corpus shuffle
    val enc = pqEncoded(corpus, cbs,
      Seq(col(cellCol).as("cell"), col("vec_id").as("neighbor_id")))
    val probes = probeCells(queries, normedCentroids(model.toDF("cell", "centroid")), nprobe)
      .drop("qv_nrm")
    // equi-join on cell — probed codes only
    adcRanked(enc.join(broadcast(probes), Seq("cell")),
      adcMicroUdf(cbs)(col("codes"), col("qv")), k)
      .select(col("query_id"), col("neighbor_id"), adcScore)
  }

  /**
   * Materialize the IVF-PQ index — the memory-bound production serving
   * shape at 100 TB: vectors land cell-partitioned with their PQ CODES
   * (m ints ≈ m bytes against 256 bytes of float32) next to the
   * full-width embedding (rerank tier), plus the k-means centroids. The
   * PQ codebooks are NOT a separate table: they DERIVE from the stored
   * centroids ([[pqCodebooksFrom]] slices each centroid into subspace
   * means), so the store cannot hold codebooks that disagree with its
   * cells — one table fewer to keep atomic. `sampleN` bounds the
   * training passes; codebooks derive from the (sampled) centroids, so
   * the whole model pair is sample-bounded.
   *
   * `hier = true` trains the cells through [[hierKmeansModel]] and
   * persists the coarse routing model (`coarse/`) beside the leaf
   * centroids — the corpus-sized assignment pass scores O(2·√cells)
   * centroids per vector instead of O(cells), appends auto-route
   * ([[appendToIvfPqIndex]]), and [[ivfPqStoredTopKHier]] serves with
   * routed probes; codebooks derive from the LEAF model either way, so
   * the codes and both serve paths are model-coherent by construction.
   */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
                      kCells: Int = 4, iters: Int = 2,
                      sampleN: Option[Int] = None,
                      hier: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    clearForRebuild(spark, path)
    val (leaves, routing) = trainCells(trainSetOf(corpus, sampleN), kCells, iters, hier)
    commitCells(spark, path, pqRows(assignCells(corpus, routing, leaves), leaves), leaves, routing)
  }

  /** Cell-assigned rows with their PQ codes, encoded through the
    * codebooks `leaves` derive — the stored IVF-PQ row. */
  private def pqRows(assigned: DataFrame, leaves: Seq[(Int, Array[Double])]): DataFrame =
    assigned
      .withColumn("codes", pqEncodeUdf(pqCodebooksFrom(leaves))(dvec("embedding")))
      .select("vec_id", "embedding", "codes", "cell")

  /**
   * Incremental IVF-PQ maintenance — [[appendToIvfIndex]]'s contract
   * with the encode folded in: the batch's cells AND codes both come
   * from the STORED centroids (codebooks derive from them), so appended
   * rows are indistinguishable from built rows under the same model.
   * Replay-safe and revival-aware via the shared IndexStore contracts;
   * takedown/compaction reuse [[deleteFromIvfIndex]]/[[compactIvfIndex]]
   * verbatim.
   */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, batch: DataFrame): Unit = {
    val model = readCentroids(spark, path)
    val fresh = reviveAndScreen(spark, path, batch)
    writeCells(pqRows(assignCells(fresh, hierModelOf(spark, path), model), model),
      s"$path/vectors", "append")
  }

  /**
   * Two-stage top-k against a [[writeIvfPqIndex]] store — IVFADC
   * serving as it runs in production (Jégou et al. 2011 §IV): stage 1
   * scores the PROBED cells' PQ codes with the micro-unit ADC chain
   * (the scan reads cell + vec_id + codes — the m-byte index, never a
   * raw vector — behind the same static `cell IN` pushdown as
   * [[ivfStoredTopK]]) down to a `shortlist` per query; stage 2
   * exact-reranks the query-sized shortlist on the stored full-width
   * embeddings (broadcast semi-join keeps the rerank read
   * shortlist-sized AND cell-pruned). Pending `deleted_vecs` tombstones
   * screen both stages ([[deleteFromIvfIndex]]/[[compactIvfIndex]]
   * apply verbatim — shared store layout). With `nprobe = kCells` and
   * an uncapped shortlist the result is EXACT brute-force top-k
   * (every pair ADC-shortlisted, full-width rerank) — the oracle hook.
   */
  def ivfPqStoredTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, k: Int, nprobe: Int = 2,
                      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val spark2 = spark; import spark2.implicits._
    // ONE centroids read serves both the codebooks and the probe frame
    // (the ivfPqTopK posture — no second scan to drift against)
    val model = readCentroids(spark, path)
    val probes = IndexStore.local(
      probeCells(queries, normedCentroids(model.toDF("cell", "centroid")), nprobe).drop("qv_nrm"))
    probedServe(spark, path, Cells.PqVectors, queries, probes, k, Some(adcShortlist(probes.frame,
      shortlist, adcMicroUdf(pqCodebooksFrom(model))(col("codes"), col("qv"))) _))
  }

  /**
   * [[ivfPqStoredTopK]] with ROUTED probing over a
   * `writeIvfPqIndex(hier = true)` store: stage 0 routes each query
   * through the persisted coarse model ([[routedProbes]] — O(2·√cells)
   * centroid scores per query instead of the flat probe's O(cells)),
   * then the identical two-stage ADC-shortlist → exact-rerank finish
   * runs over the probed cells. With every coarse cell probed the
   * candidate leaf set is all leaves, so the result is bit-equal to
   * [[ivfPqStoredTopK]] at the same `nprobe`; add an uncapped shortlist
   * and it is EXACT brute force (the oracle hook, spec-pinned).
   */
  def ivfPqStoredTopKHier(spark: org.apache.spark.sql.SparkSession, path: String,
                          queries: DataFrame, k: Int,
                          nprobeCoarse: Int = 1, nprobe: Int = 2,
                          shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val cbs = pqCodebooksFrom(readCentroids(spark, path))
    val probes = routedProbes(spark, path, queries, nprobeCoarse, nprobe)
    probedServe(spark, path, Cells.PqVectors, queries, probes, k, Some(adcShortlist(
      probes.frame.drop("qv_nrm"), shortlist, adcMicroUdf(cbs)(col("codes"), col("qv"))) _))
  }

  // ------------------------------------------------------------------
  // RESIDUAL IVFADC (Jégou et al. 2011 §IV-A as published): PQ encodes
  // the residual x − centroid(cell), not x itself — the coarse quantizer
  // absorbs the vector's position, the product codes only spread, which
  // is what makes the composition gain accuracy at the same code budget
  // ------------------------------------------------------------------

  /** Per-vector residual against the cell centroid, as a closure UDF
    * over the driver-resident model (no join, no shuffle). */
  private def residualUdf(model: Seq[(Int, Array[Double])]) = {
    val cents = model.toMap
    udf { (cell: Int, v: Seq[Float]) =>
      val c = cents(cell)
      Array.tabulate(c.length)(i => v(i).toDouble - c(i))
    }
  }

  /**
   * Deterministic per-subspace L2 Lloyd over residual subvectors:
   * seeds = the residuals of the `kCodes` lowest vec_ids PRESENT in the
   * input (code id = the seed's rank in that ordering — equals the
   * historical `vec_id < kCodes` rule on dense-from-0 id spaces, and
   * stays correct for id spaces starting high: a stream whose first
   * wave starts at a large packed key, or a retrain after low-id
   * takedowns), `iters` reassign+mean passes, means decimal-exact. Each
   * pass is ONE distributed aggregate over all m subspaces at once
   * (assignment is a closure UDF against the driver-resident matrix —
   * no join); only the m × kCodes × SubDim model ever reaches the
   * driver. L2 argmin key = |c|² − 2⟨r,c⟩ (the |r|² term is constant
   * per row), first-min ties to the lowest code — the SQL oracle's
   * row_number(ORDER BY key, code) exactly.
   */
  private[operators] def residualCodebooks(resid: DataFrame, kCodes: Int,
                                           iters: Int): Seq[Seq[(Int, Array[Double])]] = {
    val seeds: Seq[Seq[(Int, Array[Double])]] = {
      val rows = resid.orderBy(col("vec_id").asc).limit(kCodes)
        .select(col("vec_id"), col("rv")).collect()
        .sortBy(_.getLong(0))
        .zipWithIndex
        .map { case (r, rank) => rank -> r.getSeq[Double](1).toArray }
        .toSeq
      require(rows.nonEmpty, "residual PQ needs a non-empty training frame")
      (0 until PqM).map(j => rows.map { case (id, rv) =>
        id -> rv.slice(j * SubDim, (j + 1) * SubDim)
      })
    }
    (1 to iters).foldLeft(seeds) { (cbs, _) =>
      val assign = residAssignUdf(cbs)
      // per (subspace, code, dim) decimal-exact means in ONE aggregate:
      // explode rows × subspaces, carry the assigned code
      val sub = resid.select(col("rv"), posexplode(assign(col("rv"))).as(Seq("js", "code")))
      val sums = (0 until SubDim).map(i =>
        sum(element_at(col("rv"), col("js") * SubDim + i + 1).cast("decimal(28,10)"))
          .cast("double").as(s"s$i")) :+ count(lit(1)).as("n")
      val means = sub.groupBy(col("js"), col("code")).agg(sums.head, sums.tail: _*)
        .collect()
        .map { r =>
          val n = r.getAs[Long]("n").toDouble
          (r.getAs[Int]("js"), r.getAs[Int]("code"),
            Array.tabulate(SubDim)(i => r.getAs[Double](s"s$i") / n))
        }
      (0 until PqM).map(j => means.filter(_._1 == j).map { case (_, c, m) => c -> m }
        .sortBy(_._1).toSeq)
    }
  }

  /** All-m-subspace L2 argmin over residual DOUBLE subvectors — the
    * residual twin of [[pqEncodeUdf]] (same strict math, same first-min
    * tie-break), emitting the per-subspace code array. */
  private def residAssignUdf(cbs: Seq[Seq[(Int, Array[Double])]]) = {
    val ids = cbs.map(_.map(_._1).toArray).toArray
    val mats = cbs.map(_.map(_._2).toArray).toArray
    val c2s = mats.map(_.map(c => c.foldLeft(0.0)((a, x) => a + x * x)))
    val m = mats.length
    udf { (rv: Seq[Double]) =>
      val out = new Array[Int](m)
      var j = 0
      while (j < m) {
        val band = mats(j)
        var best = 0
        var bestKey = Double.PositiveInfinity
        var l = 0
        while (l < band.length) {
          val c = band(l)
          var dot = 0.0
          var i = 0
          while (i < c.length) { dot += rv(j * c.length + i) * c(i); i += 1 }
          val key = c2s(j)(l) - 2.0 * dot
          if (key < bestKey) { best = l; bestKey = key }
          l += 1
        }
        out(j) = ids(j)(best)
        j += 1
      }
      out
    }
  }

  /** Residual-ADC micro score: micro(⟨q, c_cell⟩) + Σ_j micro(⟨q_j,
    * C_j[code_j]⟩) — each term rounded to integer micro-units HALF_UP
    * like [[adcMicroUdf]], summed as longs (order-independent). */
  private def residAdcMicroUdf(model: Seq[(Int, Array[Double])],
                               cbs: Seq[Seq[(Int, Array[Double])]]) = {
    val cents = model.toMap
    val mats = cbs.map(_.map(_._2).toArray).toArray
    val idx = cbs.map(b => b.map(_._1).zipWithIndex.toMap).toArray
    val m = mats.length
    def micro(x: Double): Long = java.math.BigDecimal.valueOf(x * 1000000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    udf { (cell: Int, codes: Seq[Int], q: Seq[Float]) =>
      val cc = cents(cell)
      var cdot = 0.0
      var i = 0
      while (i < cc.length) { cdot += q(i).toDouble * cc(i); i += 1 }
      var total = micro(cdot)
      var j = 0
      while (j < m) {
        val c = mats(j)(idx(j)(codes(j)))
        var dot = 0.0
        var t = 0
        while (t < c.length) { dot += q(j * c.length + t).toDouble * c(t); t += 1 }
        total += micro(dot)
        j += 1
      }
      total
    }
  }

  /**
   * Residual IVFADC search: coarse term ⟨q, centroid_cell⟩ plus the
   * residual codes' ADC reconstruction — [[ivfPqTopK]] with the PQ
   * trained on and applied to residuals. Same scale shape (cell
   * equi-join bounds the scored set, codes bound bytes per vector, all
   * models driver-resident); the residual training adds `iters`
   * aggregate passes at build time and nothing at serve time.
   */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        nprobe: Int = 2, kCodes: Int = 8, iters: Int = 2,
                        cellCol: String = "label"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = collectCentroids(corpus, cellCol)
    val resid = corpus.select(col("vec_id"), col(cellCol).cast("int").as("cell"),
      residualUdf(model)(col(cellCol).cast("int"), dvec("embedding")).as("rv"))
      .localCheckpoint() // read by every training pass + the encode
    val cbs = residualCodebooks(resid, kCodes, iters)
    val enc = resid.select(col("cell"), col("vec_id").as("neighbor_id"),
      residAssignUdf(cbs)(col("rv")).as("codes"))
    val probes = probeCells(queries, normedCentroids(model.toDF("cell", "centroid")), nprobe)
      .drop("qv_nrm")
    adcRanked(enc.join(broadcast(probes), Seq("cell")),
      residAdcMicroUdf(model, cbs)(col("cell"), col("codes"), col("qv")), k)
      .select(col("query_id"), col("neighbor_id"), adcScore)
  }

  /**
   * Persisted residual-IVFADC store — [[writeIvfPqIndex]]'s layout with
   * the PQ trained on residuals ([[ivfPqResidualTopK]]'s math made
   * durable): vectors carry their residual codes inside cell partitions;
   * the coarse centroids AND the trained residual codebooks persist
   * beside them. Unlike the plain IVF-PQ store (codebooks DERIVE from
   * the centroids — one table suffices), the residual codebooks are a
   * SECOND trained model that only makes sense against the exact
   * centroid set its residuals were computed from — so the whole store
   * (vectors + centroids + residcb) lands through ONE
   * [[graft.storage.AtomicSwap.swapDir]] unit: a crash can never leave
   * codes on disk that decode through a different model generation.
   * Takedown/compaction reuse [[deleteFromIvfIndex]] /
   * [[compactIvfIndex]] verbatim (same vectors/centroids layout).
   */
  def writeIvfPqResidualIndex(corpus: DataFrame, path: String,
                              kCells: Int = 4, iters: Int = 2,
                              kCodes: Int = 8, codeIters: Int = 2,
                              sampleN: Option[Int] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val store = new org.apache.hadoop.fs.Path(path)
    graft.storage.AtomicSwap.swapDir(spark, store.getParent.toString, store.getName) { tmp =>
      // sampleN bounds BOTH trainers; the seed ids (lowest ids PRESENT —
      // the deterministic seed rules of kmeansCentroids AND
      // residualCodebooks) are force-included so the sampled model shares
      // the full model's seeds and stays oracle-reproducible. Selected by
      // orderBy(vec_id).limit, never a literal `< k` threshold: an id
      // space not starting at 0 (stream whose first wave starts high,
      // retrain after low-id takedowns) would make the threshold filter
      // empty and silently break the shared-seed invariant.
      val trainSet = sampleN.fold(corpus)(n =>
        trainingSample(corpus, n)
          .unionByName(corpus.orderBy(col("vec_id").asc)
            .limit(math.max(kCells, kCodes)))
          .dropDuplicates("vec_id").localCheckpoint())
      val model = kmeansCentroids(trainSet, kCells, iters)
      val resid = assignCells(corpus, None, model)
        .withColumn("rv", residualUdf(model)(col("cell"), dvec("embedding")))
        .select("vec_id", "embedding", "cell", "rv")
        .localCheckpoint() // feeds every training pass + the encode
      val residTrain = sampleN.fold(resid)(_ => resid.join(
        broadcast(trainSet.select("vec_id")), Seq("vec_id"), "left_semi")
        .localCheckpoint())
      val cbs = residualCodebooks(residTrain, kCodes, codeIters)
      // three independent writes (checkpointed resid + two driver-resident
      // models) inside the same swap unit — concurrent (§2.6)
      IndexStore.inParallel(Seq(
        () => writeCells(resid.select(col("vec_id"), col("embedding"),
          residAssignUdf(cbs)(col("rv")).as("codes"), col("cell")),
          s"$tmp/vectors", "errorifexists"),
        () => model.toDF("cell", "centroid").write.parquet(s"$tmp/centroids"),
        () => cbs.zipWithIndex.flatMap { case (band, j) =>
            band.map { case (code, c) => (j, code, c.toSeq) }
          }.toDF("js", "code", "cvec")
          .coalesce(1).write.parquet(s"$tmp/residcb")))
    }
  }

  /** The stored residual codebooks, driver-resident (m × kCodes × SubDim
    * doubles — model-sized, like [[readCentroids]]). */
  private def readResidCb(spark: org.apache.spark.sql.SparkSession,
                          path: String): Seq[Seq[(Int, Array[Double])]] = {
    val rows = IndexStore.table(spark, path, Cells.ResidCb).collect()
      .map(r => (r.getAs[Int]("js"), r.getAs[Int]("code"),
        r.getSeq[Double](r.fieldIndex("cvec")).toArray))
    (0 until PqM).map(j => rows.filter(_._1 == j)
      .map { case (_, code, c) => code -> c }.sortBy(_._1).toSeq)
  }

  /**
   * Incremental maintenance for the residual store — the batch's cells,
   * residuals, and codes all come from the STORED model pair, so
   * appended rows are indistinguishable from built rows. Replay-safe
   * and revival-aware via the shared IndexStore contracts.
   */
  def appendToIvfPqResidualIndex(spark: org.apache.spark.sql.SparkSession,
                                 path: String, batch: DataFrame): Unit = {
    val model = readCentroids(spark, path)
    val cbs = readResidCb(spark, path)
    val fresh = reviveAndScreen(spark, path, batch)
    writeCells(assignCells(fresh, None, model)
      .withColumn("rv", residualUdf(model)(col("cell"), dvec("embedding")))
      .select(col("vec_id"), col("embedding"),
        residAssignUdf(cbs)(col("rv")).as("codes"), col("cell")),
      s"$path/vectors", "append")
  }

  /**
   * Two-stage top-k against a [[writeIvfPqResidualIndex]] store —
   * [[ivfPqStoredTopK]]'s IVFADC shape with the residual-ADC stage-1
   * score (coarse ⟨q, centroid⟩ term + residual code reconstruction,
   * [[ivfPqResidualTopK]]'s exact micro-unit math): stage 1 scores the
   * probed cells' CODES (the scan reads cell + vec_id + codes behind
   * the static `cell IN` pushdown — never a raw vector) down to a
   * `shortlist`; stage 2 exact-reranks the shortlist on the stored
   * full-width embeddings. Pending tombstones screen both stages. With
   * `nprobe = kCells` and an uncapped shortlist the result is EXACT
   * brute-force top-k — the oracle hook.
   */
  def ivfPqResidualStoredTopK(spark: org.apache.spark.sql.SparkSession,
                              path: String, queries: DataFrame, k: Int,
                              nprobe: Int = 2, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val spark2 = spark; import spark2.implicits._
    val model = readCentroids(spark, path)
    val cbs = readResidCb(spark, path)
    val probes = IndexStore.local(
      probeCells(queries, normedCentroids(model.toDF("cell", "centroid")), nprobe).drop("qv_nrm"))
    probedServe(spark, path, Cells.PqVectors, queries, probes, k, Some(adcShortlist(probes.frame,
      shortlist, residAdcMicroUdf(model, cbs)(col("cell"), col("codes"), col("qv"))) _))
  }

  /**
   * Two-stage PQ serving: ADC shortlist → EXACT re-rank — the standard
   * production shape (compressed codes prune the corpus to `shortlist`
   * candidates per query, then true cosine on raw vectors orders the
   * final k). The shortlist id set broadcasts into the raw-vector read,
   * so norms and cosines are computed ONLY for the shortlist·|queries|
   * surviving pairs — non-shortlisted vectors cost a broadcast-hash
   * probe and nothing else.
   */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val shortIds = pqTopK(corpus, queries, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, shortIds, k)
  }

  // ------------------------------------------------------------------
  // int8 scalar quantization — the 4× memory axis: symmetric per-vector
  // scale, near-lossless recall (vs PQ's 32× / lossy codes)
  // ------------------------------------------------------------------

  /** Per-vector symmetric int8 quantization: scale = max|x|/127, code_i
    * = round(x_i/scale) ∈ [-127,127] (zero vector → zero codes).
    * Rounding replicates Spark's `round` (BigDecimal HALF_UP), so the
    * codes equal the oracle's. Returns (codes, max|x|) as a struct —
    * max|x| rather than the scale because it is an EXACT double (a
    * widened float), emittable without any cross-engine rounding
    * exposure; scale derives as max_abs/127 identically everywhere. */
  private def sqQuantUdf = udf { (v: Seq[Float]) =>
    var mx = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > mx) mx = a; i += 1 }
    val out = new Array[Int](v.length)
    if (mx > 0) {
      i = 0
      while (i < v.length) {
        out(i) = java.math.BigDecimal.valueOf(v(i).toDouble * 127.0 / mx)
          .setScale(0, java.math.RoundingMode.HALF_UP).intValue
        i += 1
      }
    }
    (out, mx)
  }

  /** Exact integer dot of two code arrays — int products sum in longs,
    * so the value is order-independent by construction. */
  private def sqDotUdf = udf { (a: Seq[Int], b: Seq[Int]) =>
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i).toLong * b(i); i += 1 }
    s
  }

  /**
   * int8 index build: per vector its quantization scale and codes
   * (comma-joined for the audit row). At 100 TB the (codes, scale)
   * projection is the index — 64 bytes + 8 against 256 of float32.
   */
  def sqEncode(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), sqQuantUdf(dvec("embedding")).as("q"))
      .select(col("vec_id"),
        col("q._2").as("max_abs"), // exact widened-float double — no rounding needed
        array_join(transform(col("q._1"), _.cast("string")), ",").as("codes"))

  /**
   * int8 symmetric quantized top-k: both sides quantized, score =
   * scale_q · scale_c · Σ code_q·code_c — the integer dot is EXACT
   * (order-independent long sum), so ranking is deterministic without
   * micro-unit tricks. Query side broadcasts; the corpus side reads the
   * int8 index in one scan.
   */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def quant(df: DataFrame, idAs: String, pfx: String) =
      df.select(col("vec_id").as(idAs), sqQuantUdf(dvec("embedding")).as("q"))
        .select(col(idAs), col("q._1").as(s"${pfx}_codes"),
          (col("q._2") / lit(127.0)).as(s"${pfx}_scale"))
    val c = quant(corpus, "neighbor_id", "c")
    val q = broadcast(quant(queries, "query_id", "q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_dot").desc, col("neighbor_id").asc)
    c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sq_dot",
        col("q_scale") * col("c_scale") *
          sqDotUdf(col("q_codes"), col("c_codes")).cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sq_dot"), 6).as("sq_dot"))
  }

  /**
   * Hard-negative mining (the DPR/Contriever training-prep step): per
   * query, the top-k most-SIMILAR corpus vectors with a DIFFERENT label
   * — the highest-loss negatives a contrastive trainer wants in the
   * batch, which random negatives almost never are. Exact labeled
   * baseline (broadcast query side, one corpus scan, label-mismatch
   * filter BEFORE the rank window); at scale the same filter composes
   * with the IVF probe — cells bound the candidates, the label test
   * rides the probed scan as a residual predicate.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(
      withNorm(queries.select(col("vec_id").as("query_id"),
        col("label").as("q_label"), dvec("embedding").as("qv")), "qv")
        .withColumnRenamed("nrm", "qv_nrm"))
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"), dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
    rankPairs(c.crossJoin(q).filter(col("n_label") =!= col("q_label")), k)
  }

  /**
   * The scale path for [[hardNegatives]]: IVF cell probing bounds the
   * candidate set (nprobe cells per query, equi-join on cell — no
   * corpus cross join), and the label-mismatch test rides the probed
   * scan as a residual predicate. With label-seeded cells the query's
   * own cell filters itself out, so negatives come from the
   * nearest FOREIGN cells — exactly the "confusable neighbors" a
   * contrastive batch wants. Approximate like every probed search: a
   * negative in an unprobed cell is missed; nprobe is the recall dial.
   */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame, k: Int,
                       nprobe: Int = 3, cellCol: String = "label"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = collectCentroids(corpus, cellCol)
    val cents = withNorm(model.toDF("cell", "centroid"), "centroid")
      .withColumnRenamed("nrm", "centroid_nrm")
    val c = withNorm(corpus.select(col(cellCol).as("cell"),
      col("vec_id").as("neighbor_id"), col("label").as("n_label"),
      dvec("embedding").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
    val probes = probeCells(queries, cents, nprobe)
    val qLabels = broadcast(queries.select(col("vec_id").as("query_id"),
      col("label").as("q_label")))
    rankPairs(c.join(broadcast(probes), Seq("cell"))
      .join(qLabels, Seq("query_id"))
      .filter(col("n_label") =!= col("q_label")), k)
  }

  // ------------------------------------------------------------------
  // Matryoshka-style dimension truncation — the "read fewer floats"
  // axis: MRL-trained embeddings keep most of their signal in a prefix
  // of the dimensions, so a search over the first `dims` components
  // scans `dims/Dim` of the bytes (Kusupati et al. 2022, "Matryoshka
  // Representation Learning").
  // ------------------------------------------------------------------

  /** First-`dims` prefix search: exact cosine over the TRUNCATED
    * vectors. On its own this is the cheap-scan baseline for the
    * recall audit; composed as [[truncRerankTopK]]'s stage 1 it is the
    * shortlist generator. The corpus-side projection slices before the
    * norm, so per-row work (and, off a column store with a prefix
    * layout, bytes read) scales with `dims`, not `Dim`. */
  def truncatedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    dims: Int): DataFrame = {
    require(dims >= 1 && dims <= Dim, s"dims ($dims) must be in [1, $Dim]")
    val q = broadcast(
      withNorm(queries.select(col("vec_id").as("query_id"),
        slice(col("embedding"), 1, dims).as("qv")), "qv")
        .withColumnRenamed("nrm", "qv_nrm"))
    val c = withNorm(corpus.select(col("vec_id").as("neighbor_id"),
      slice(col("embedding"), 1, dims).as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
    rankPairs(c.crossJoin(q), k)
  }

  /** Two-stage Matryoshka serving: truncated-prefix shortlist → exact
    * full-dimension re-rank — the same adaptive-retrieval shape as
    * [[pqRerankTopK]], with dimension truncation instead of PQ codes as
    * the cheap stage. Stage 2 touches `shortlist` ids per query, so the
    * full-width vectors are read for a query-sized set only. */
  def truncRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      dims: Int, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val shortIds = truncatedTopK(corpus, queries, shortlist, dims)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, shortIds, k)
  }

  // ------------------------------------------------------------------
  // PCA dimension reduction (truncated-SVD basis) — the LEARNED
  // counterpart of the Matryoshka prefix: truncation needs MRL-trained
  // embeddings, PCA works on ANY embedding table by rotating into the
  // directions that carry the energy (the FAISS PCAMatrix preprocessing
  // step; Jolliffe, "Principal Component Analysis"). The basis is the
  // UNCENTERED second-moment eigenbasis, i.e. the right singular
  // vectors of the data matrix, so by Eckart–Young the projection
  // preserves dot products — and hence cosine ranking — better than any
  // other rank-d linear map.
  // ------------------------------------------------------------------

  /** Driver-resident PCA model: `components(c)` is the c-th orthonormal
    * basis vector (energy-descending, sign-fixed), `energies(c)` its
    * eigenvalue (the second-moment mass it captures). dims×Dim doubles
    * — broadcast-trivial at any corpus size. */
  final case class PcaModel(components: Array[Array[Double]],
                            energies: Array[Double])

  /**
   * Fit: ONE distributed aggregate builds the Dim×Dim second-moment
   * matrix — each row fans out its upper-triangle products INSIDE the
   * scan stage (a higher-order transform, no join, no per-row UDF) and
   * map-side combine collapses them, so the shuffle carries
   * partitions × Dim(Dim+1)/2 partial rows, never corpus rows. Products
   * sum as DECIMAL(28,10), so the matrix is engine-exact and
   * partitioning-independent; the eigensolve is a cyclic Jacobi on the
   * driver (Golub & Van Loan §8.5 — a 64×64 solve, microseconds) with a
   * deterministic sweep order and signs fixed so each component's
   * largest-magnitude coordinate is positive: repeat fits are
   * bit-identical, which keeps every downstream query replayable.
   */
  def pcaFit(emb: DataFrame, dims: Int): PcaModel = {
    require(dims >= 1 && dims <= Dim, s"dims ($dims) must be in [1, $Dim]")
    // the Gram pass fans every row out to Dim·(Dim+1)/2 = 2080 pair
    // products BEFORE the partial aggregate — on a degenerate-parallelism
    // input (one small file, a coalesced micro-batch) that whole fan-out
    // runs in ONE task (§2.5 input skew: repartition right after a
    // low-parallelism read). spreadDegenerate is a no-op when the input
    // already carries enough partitions — at 100 TB the corpus arrives
    // wide and must NOT pay an extra full shuffle; the shuffle only fires
    // when the input is narrow, where it is by definition small. The
    // aggregate is exact decimal sums — row order cannot change the fit.
    val wide = spreadDegenerate(emb.select(col("embedding")))
    val upper = wide.select(explode(expr(
      """flatten(transform(embedding, (xi, i) ->
        |  transform(slice(embedding, i + 1, size(embedding) - i), (xj, j) ->
        |    struct(i AS i, i + j AS j,
        |           CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE) AS p))))""".stripMargin))
      .as("t"))
      .select(col("t.i"), col("t.j"), col("t.p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p").cast("decimal(28,10)")).cast("double").as("s"))
      .collect()
    val m = Array.ofDim[Double](Dim, Dim)
    upper.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = v
      m(j)(i) = v
    }
    val (vals, vecs) = jacobiEigen(m)
    PcaModel(vecs.take(dims), vals.take(dims))
  }

  /** Cyclic Jacobi eigensolve for a symmetric matrix: sweep the upper
    * triangle in row-major order, rotate away each off-diagonal entry,
    * until the off-diagonal mass is numerically gone. Returns
    * (eigenvalues, eigenvectors-as-rows), energy-descending with an
    * index tiebreak, each vector sign-fixed (largest-|coordinate|
    * positive) — fully deterministic. */
  private def jacobiEigen(m: Array[Array[Double]])
  : (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var p = 0
      while (p < n) { var q = p + 1; while (q < n) { s += a(p)(q) * a(p)(q); q += 1 }; p += 1 }
      s
    }
    val scale = math.max(m.indices.map(i => math.abs(m(i)(i))).max, 1e-300)
    var sweep = 0
    while (sweep < 64 && off() > 1e-24 * scale * scale) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-300) {
            // the classic two-angle-stable rotation (G&VL Algorithm 8.5.1)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s0  => s0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col0 = Array.tabulate(n)(k => v(k)(i))
      val dom = col0.indices.maxBy(k => (math.abs(col0(k)), -k))
      if (col0(dom) < 0) col0.map(-_) else col0
    }.toArray
    (vals, vecs)
  }

  /** Project onto the model: `dims` codegen'd VectorDot calls against
    * literal component arrays — a pure projection stage, no shuffle, no
    * UDF; the model rides the plan as literals exactly like the SRP
    * plane arrays. */
  def pcaProject(emb: DataFrame, model: PcaModel,
                 out: String = "pvec"): DataFrame =
    emb.withColumn(out, array(model.components.map(comp =>
      graft.plans.VectorDot(col("embedding"), typedLit(comp.toSeq))): _*))

  /** PCA-space search: exact cosine over the projected vectors — the
    * cheap-scan stage (reads/ships dims/Dim of the floats), audited by
    * `ann_recall_pca` and composed by [[pcaRerankTopK]]. */
  def pcaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              model: PcaModel): DataFrame = {
    val q = broadcast(
      withNorm(pcaProject(queries, model)
        .select(col("vec_id").as("query_id"), col("pvec").as("qv")), "qv")
        .withColumnRenamed("nrm", "qv_nrm"))
    val c = withNorm(pcaProject(corpus, model)
      .select(col("vec_id").as("neighbor_id"), col("pvec").as("cv")), "cv")
      .withColumnRenamed("nrm", "cv_nrm")
    rankPairs(c.crossJoin(q), k)
  }

  /** Two-stage PCA serving: projected shortlist → exact full-width
    * re-rank (the [[truncRerankTopK]] shape with a learned basis as the
    * cheap stage). Full-width vectors are touched for a query-sized
    * shortlist only. */
  def pcaRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    model: PcaModel, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val shortIds = pcaTopK(corpus, queries, shortlist, model)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, shortIds, k)
  }

  /**
   * Per-vector PCA audit — the model's contract measured THROUGH the
   * data, one projection pass: `bessel_ok` (projected energy never
   * exceeds the vector's — any true orthonormal projection obeys it)
   * and `pythagoras_ok` (explicitly reconstruct, then check
   * ‖resid‖² + ‖proj‖² ≡ ‖x‖²; a non-orthonormal basis breaks the
   * identity). The booleans are the hash-verified surface — the raw
   * energies are engine-specific floats and stay out of the output
   * (the sketch-audit discipline).
   */
  def pcaAudit(emb: DataFrame, model: PcaModel): DataFrame = {
    val dims = model.components.length
    val flat = model.components.flatten.toSeq // row-major dims×Dim
    val p = pcaProject(emb, model)
      .withColumn("xx", graft.plans.VectorDot(col("embedding"), col("embedding")))
      .withColumn("pp", graft.plans.VectorDot(col("pvec"), col("pvec")))
      .withColumn("mflat", typedLit(flat))
      // recon_i = Σ_c pvec(c) · M(c)(i) — interpreted higher-order loop,
      // fine for an audit pass (dims×Dim ops/row, one scan)
      .withColumn("recon", expr(
        s"""transform(sequence(0, ${Dim - 1}), i ->
           |  aggregate(sequence(0, ${dims - 1}), 0D, (acc, c) ->
           |    acc + element_at(pvec, c + 1) * element_at(mflat, c * $Dim + i + 1)))"""
          .stripMargin))
      .withColumn("rr", expr(
        """aggregate(zip_with(embedding, recon, (x, r) -> CAST(x AS DOUBLE) - r),
          |  0D, (acc, e) -> acc + e * e)""".stripMargin))
    p.select(col("vec_id"),
      (col("pp") <= col("xx") * lit(1.0 + 1e-9) + lit(1e-9)).as("bessel_ok"),
      (abs(col("rr") + col("pp") - col("xx")) <=
        greatest(col("xx"), lit(1.0)) * lit(1e-6)).as("pythagoras_ok"))
  }

  /**
   * Energy-dominance audit, one row: the PCA basis must capture at
   * least as much second-moment mass as the SAME-budget coordinate
   * prefix (the Matryoshka baseline) — guaranteed because the top-d
   * eigenbasis maximizes captured energy over ALL d orthonormal
   * directions, of which the first d coordinate axes are one choice.
   * Both sides sum as DECIMAL over per-row doubles; the boolean is the
   * hash-verified surface.
   */
  def pcaEnergyVsPrefix(emb: DataFrame, model: PcaModel): DataFrame = {
    val dims = model.components.length
    pcaProject(emb, model)
      .withColumn("pp", graft.plans.VectorDot(col("pvec"), col("pvec")))
      .withColumn("pe", expr(
        s"aggregate(slice(embedding, 1, $dims), 0D, " +
          "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .agg(sum(col("pp").cast("decimal(28,10)")).as("captured"),
        sum(col("pe").cast("decimal(28,10)")).as("prefix"))
      .select(lit(dims).as("dims"),
        (col("captured") >= col("prefix")).as("pca_ge_prefix"))
  }

  // ------------------------------------------------------------------
  // persisted PCA-IVF index — the FAISS PCAMatrix → IVF pipeline the
  // PCA family cites: project into the learned basis, train and
  // partition the IVF in PCA SPACE, serve probed cells on the projected
  // vectors, exact-rerank the shortlist on full-width vectors. Replaces
  // the flat projected scan ([[pcaTopK]]) as the SERVING path: a query
  // batch reads nprobe/kCells of the corpus (cell-pruned files) instead
  // of every projected vector.
  // ------------------------------------------------------------------

  /**
   * Materialize the PCA-IVF index: fit the PCA basis, project the
   * corpus, train k-means ON THE PROJECTED vectors, and write the
   * corpus partitioned by PCA-space cell with BOTH columns — `pvec`
   * (the dims-wide projection, stage-1 ranking) and `embedding` (full
   * width, stage-2 rerank) — plus the centroids AND the PCA model.
   * All three tables describe each other (probes computed from another
   * basis against these partitions would serve silently wrong answers),
   * so they persist together like [[retrainIvfIndex]]'s model+vectors
   * unit. Build cost at 100 TB: the PCA fit's partials×2080 aggregate,
   * the k-means passes (all in dims-wide space), and ONE partitioned
   * write. `sampleN` bounds BOTH trained models ([[trainingSample]]):
   * the basis fits the sample's Gram, the cells train on the sample's
   * projections; the FULL corpus still projects and lands through them.
   *
   * `hier = true` trains the PCA-space cells through
   * [[hierKmeansModel]] (dim = `dims`) and persists the coarse routing
   * model beside the leaf centroids — the corpus-sized assignment pass
   * scores O(2·√cells) PROJECTED centroids per vector, appends
   * auto-route ([[appendToPcaIvfIndex]]), and
   * [[pcaIvfStoredTopKHier]] serves with routed probes; both routing
   * levels live in the SAME PCA space as the flat cells.
   */
  def writePcaIvfIndex(corpus: DataFrame, path: String, dims: Int = 16,
                       kCells: Int = 4, iters: Int = 2,
                       sampleN: Option[Int] = None,
                       hier: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    clearForRebuild(spark, path)
    val (model, rows, leaves, routing) = pcaCells(corpus, sampleN, dims, kCells, iters, hier)
    commitCells(spark, path, rows, leaves, routing,
      Some(() => writePcaModel(spark, model, s"$path/pcamodel", "overwrite")))
  }

  /** The PCA-IVF model pair trained on `corpus` — the basis, then the
    * cells in its space, flat or hier ([[trainCells]]); with `sampleN`
    * both train on the bounded sample — and the FULL corpus projected
    * and assigned through it, as stored rows (vec_id, embedding, pvec,
    * cell). Shared by the build and the retrain. */
  private def pcaCells(corpus: DataFrame, sampleN: Option[Int], dims: Int,
                       kCells: Int, iters: Int, hier: Boolean)
  : (PcaModel, DataFrame, Seq[(Int, Array[Double])], Option[Routing]) = {
    val trainSet = trainSetOf(corpus, sampleN)
    val model = pcaFit(trainSet, dims)
    val proj = pcaProject(corpus, model)
    val (leaves, routing) = trainCells(
      (if (sampleN.isEmpty) proj else pcaProject(trainSet, model))
        .select(col("vec_id"), col("pvec").as("embedding")),
      kCells, iters, hier, dim = dims)
    val rows = assignCells(proj, routing, leaves, Seq("vec_id", "embedding", "pvec"), "pvec")
      .select("vec_id", "embedding", "pvec", "cell")
    (model, rows, leaves, routing)
  }

  /** Persist a [[PcaModel]] as the store's `pcamodel` table: one row
    * (c, component, energy) per basis vector. */
  private def writePcaModel(spark: org.apache.spark.sql.SparkSession, model: PcaModel,
                            dir: String, mode: String): Unit = {
    import spark.implicits._
    model.components.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, model.energies(i)) }
      .toDF("c", "component", "energy")
      .coalesce(1).write.mode(mode).parquet(dir)
  }

  /** The store's own PCA basis — dims×Dim doubles, driver-resident. */
  private def readPcaModel(spark: org.apache.spark.sql.SparkSession,
                           path: String): PcaModel = {
    val rows = IndexStore.table(spark, path, Cells.PcaModel).collect().sortBy(_.getInt(0))
    PcaModel(rows.map(_.getSeq[Double](1).toArray), rows.map(_.getDouble(2)))
  }

  /**
   * Incremental PCA-IVF maintenance — [[appendToIvfIndex]]'s contract
   * over a [[writePcaIvfIndex]] store: new vectors project through the
   * STORED basis and land in cells assigned by the STORED centroids
   * (both driver-resident — no join, no shuffle, batch-sized appends in
   * their cell partitions), so serving sees them immediately through
   * the same cell-pruned read. Replay-safe (id anti-join) and revival-
   * aware (a batch re-registering a deleted id purges its stale row and
   * clears only ITS tombstone) — the IndexStore contracts. BOTH models
   * are only as stale as the last [[retrainPcaIvfIndex]], the standard
   * operating contract (re-train on drift, not per batch); takedowns
   * and compaction reuse [[deleteFromIvfIndex]]/[[compactIvfIndex]]
   * verbatim — the two stores share the vectors/deleted_vecs layout.
   */
  def appendToPcaIvfIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, batch: DataFrame): Unit = {
    val model = readPcaModel(spark, path)
    val cells = readCentroids(spark, path)
    val fresh = reviveAndScreen(spark, path, batch)
    // a hier store routes the projected batch through its persisted
    // two-level rule (both levels in PCA space — the build's own rule)
    writeCells(assignCells(pcaProject(fresh, model), hierModelOf(spark, path), cells,
      Seq("vec_id", "embedding", "pvec"), "pvec")
      .select("vec_id", "embedding", "pvec", "cell"), s"$path/vectors", "append")
  }

  /**
   * Re-train a stored PCA-IVF index on its OWN corpus — the drift
   * response for the two-model store: after enough append waves the
   * stored BASIS stops capturing the variance directions and the
   * PCA-space centroids stop describing the projected data (recall at
   * fixed nprobe decays on both counts). Refits the basis on the live
   * full-width vectors (pending tombstones screen out — the rewrite is
   * their physical purge), re-projects, re-trains the cells in the new
   * PCA space, and swaps vectors + centroids + pcamodel as ONE
   * [[graft.storage.AtomicSwap]] unit — the three tables describe each
   * other; a probe projected through one basis against another basis's
   * partitions serves silently wrong answers. Post-retrain the store is
   * INDISTINGUISHABLE from a fresh [[writePcaIvfIndex]] over the live
   * corpus (deterministic fit + training — spec-pinned).
   */
  def retrainPcaIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         dims: Int = 16, kCells: Int = 4, iters: Int = 2,
                         sampleN: Option[Int] = None): Unit = {
    import spark.implicits._
    val store = new org.apache.hadoop.fs.Path(path)
    val dead = deletedVecs(spark, path)
    val corpus = IndexStore.table(spark, path, Cells.PcaVectors)
      .select(col("vec_id"), col("embedding"))
    // NOT checkpointed: fit, project, and write each re-read the live
    // store (the retrainIvfIndex posture) — a corpus-sized checkpoint
    // would materialize a full copy, which cannot fly at 100 TB; the
    // tombstone anti-join re-applied per pass is delete-rate-sized
    val live = dead.fold(corpus)(d =>
      corpus.join(broadcast(d), Seq("vec_id"), "left_anti"))
    graft.storage.AtomicSwap.swapDir(spark, store.getParent.toString, store.getName) { tmp =>
      // sampleN bounds the basis fit and cell training (writePcaIvfIndex's
      // rule); the SAMPLE may checkpoint — it is bounded by construction
      val (model, rows, cells, _) = pcaCells(live, sampleN, dims, kCells, iters, hier = false)
      // three independent writes inside the same swap unit — concurrent
      IndexStore.inParallel(Seq(
        () => writeCells(rows, s"$tmp/vectors", "errorifexists"),
        () => cells.toDF("cell", "centroid").write.parquet(s"$tmp/centroids"),
        () => writePcaModel(spark, model, s"$tmp/pcamodel", "errorifexists")))
      // deleted_vecs is deliberately NOT carried over: the tombstoned
      // rows never entered the new store — the retrain IS their purge
    }
  }

  /**
   * Two-stage top-k against a [[writePcaIvfIndex]] store: queries
   * project through the STORED basis and probe the PCA-space centroids;
   * stage 1 ranks the PROJECTED vectors inside the probed cells to a
   * `shortlist` (the scan reads cell + vec_id + pvec — dims/Dim of the
   * floats, and only the probed cells' files via the same static
   * `cell IN` pushdown as [[ivfStoredTopK]]); stage 2 exact-reranks the
   * query-sized shortlist on full-width embeddings (the embedding read
   * keeps the cell pruning and a broadcast shortlist semi-join). With
   * `nprobe = kCells` the result EQUALS the flat [[pcaRerankTopK]] at
   * the same shortlist (every cell probed ≡ full scan — spec- and
   * oracle-pinned); smaller nprobe trades recall for the cell-bounded
   * read, audited by `ann_recall_pca_ivf`.
   */
  def pcaIvfStoredTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, k: Int, nprobe: Int = 2,
                       shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val model = readPcaModel(spark, path)
    val cents = normedCentroids(IndexStore.table(spark, path, Cells.Centroids))
    val probes = IndexStore.local(probeCells(pcaQueries(queries, model), cents, nprobe))
    probedServe(spark, path, Cells.PcaVectors, queries, probes, k,
      Some(pcaShortlist(probes.frame, shortlist) _))
  }

  /** Queries projected through a store's basis, shaped as probe input. */
  private def pcaQueries(queries: DataFrame, model: PcaModel): DataFrame =
    pcaProject(queries, model).select(col("vec_id"), col("pvec").as("embedding"))

  /** PCA stage 1 of a stored two-stage serve ([[probedServe]]): exact
    * cosine over the probed cells' PROJECTED vectors — the scan reads
    * cell + vec_id + pvec, dims/Dim of the floats — down to a
    * `shortlist` of (query_id, neighbor_id) per query. */
  private def pcaShortlist(probes: DataFrame, shortlist: Int)(vecs: DataFrame): DataFrame =
    rankProbed(vecs, probes, "pvec", shortlist).select(col("query_id"), col("neighbor_id"))

  /**
   * [[pcaIvfStoredTopK]] with ROUTED probing over a
   * `writePcaIvfIndex(hier = true)` store: queries PROJECT through the
   * stored basis first, then route through the persisted PCA-space
   * coarse model ([[routedProbes]] — O(2·√cells) centroid scores per
   * query); the identical two-stage pvec-shortlist → full-width-rerank
   * finish runs over the probed cells. All-coarse probing is bit-equal
   * to [[pcaIvfStoredTopK]] at the same `nprobe`; full probe + uncapped
   * shortlist is EXACT brute force (spec-pinned).
   */
  def pcaIvfStoredTopKHier(spark: org.apache.spark.sql.SparkSession, path: String,
                           queries: DataFrame, k: Int,
                           nprobeCoarse: Int = 1, nprobe: Int = 2,
                           shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val model = readPcaModel(spark, path)
    val probes = routedProbes(spark, path, pcaQueries(queries, model), nprobeCoarse, nprobe)
    probedServe(spark, path, Cells.PcaVectors, queries, probes, k,
      Some(pcaShortlist(probes.frame, shortlist) _))
  }

  /**
   * Recall@k audit — the fraction of the EXACT top-k each approximate
   * method recovers, per query: the quality dial every ANN deployment
   * tunes (nprobe, plane count, PQ subspaces) against. Both inputs are
   * (query_id, neighbor_id[, …]) frames; the denominator is the exact
   * side's row count, so short approximate answers (sparse LSH buckets)
   * read as the recall loss they are.
   *
   * Scale shape: both sides are top-k outputs — k·|queries| rows — so the
   * join, aggregate, and division are query-sized regardless of corpus
   * size; the cost lives in the searches it audits.
   */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"),
        count(lit(1)).as("kk"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / col("kk"), 4).as("recall"))
}
