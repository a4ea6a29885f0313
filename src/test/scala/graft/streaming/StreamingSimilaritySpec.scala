package graft.streaming

import graft.SparkTestBase
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming IVF index ingest: the first wave trains+builds, later waves
  * append through the stored model (the bootstrap-model posture);
  * restarts and replayed content are no-ops. */
class StreamingSimilaritySpec extends SparkTestBase {

  test("two waves stream into the stored IVF index exactly like the batch " +
    "build+append lifecycle; restarts and replayed waves are no-ops") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("graft-sivf-src").toString
    val idx = Files.createTempDirectory("graft-sivf").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-sivf-ckpt").toString
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j => math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val waveA = vecs(0 until 30)
    val waveB = vecs(30 until 40)
    waveA.coalesce(1).write.mode("append").parquet(src)
    // the IVF ingest is wave-ORDER-dependent (wave A trains the model);
    // backdate it so the file source's mtime order is strict even on a
    // coarse-mtime filesystem
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val srcFs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val it = srcFs.listFiles(srcPath, true)
    while (it.hasNext) {
      val f = it.next(); srcFs.setTimes(f.getPath, System.currentTimeMillis() - 60000L, -1)
    }
    waveB.coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    def drain(): Unit = {
      val q = StreamingSimilarity.ivfIngest(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        idx, ckpt, kCells = 4, iters = 2)
      q.awaitTermination()
    }
    drain()
    val q = waveA.filter(col("vec_id") < 5)
    def res(p: String) = Similarity.ivfStoredTopK(s, p, q, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val streamed = res(idx)
    // batch twin: build on wave A (the model trains on the FIRST wave),
    // append wave B with that stored model
    val batch = Files.createTempDirectory("graft-sivf-batch").toString
    Similarity.writeIvfIndex(waveA, batch, kCells = 4, iters = 2)
    Similarity.appendToIvfIndex(s, batch, waveB)
    assert(streamed == res(batch),
      "streamed ingest must equal the batch build+append lifecycle")
    // ...and the appended wave actually serves
    assert(Similarity.ivfStoredTopK(s, idx, q, 40, nprobe = 4)
      .collect().map(_.getLong(1)).toSet.exists(_ >= 30L))
    // restart with nothing new: zero batches, store untouched
    drain()
    assert(res(idx) == streamed)
    // a REPLAYED wave lands as a new file: already-indexed vec_ids
    // anti-join away inside the append — exactly-once effect
    waveB.coalesce(1).write.mode("append").parquet(src)
    drain()
    assert(res(idx) == streamed)
    assert(s.read.parquet(s"$idx/vectors").count() == 40L)
  }

  test("O(cells) drift facts: incrementally merged facts EXACTLY equal a " +
    "recompute over the stored vectors; the drift plan reads facts + " +
    "centroids only (never the corpus); retrain rebuilds the facts inside " +
    "its swap") {
    val s = spark
    import s.implicits._
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("graft-facts").toString + "/idx"
    Similarity.writeIvfIndex(vecs(0 until 30), idx, kCells = 4, iters = 2)
    Similarity.rebuildCellFacts(s, idx)
    // two append batches fold their facts in incrementally
    Similarity.appendToIvfIndex(s, idx, vecs(30 until 40), updateFacts = true)
    Similarity.appendToIvfIndex(s, idx, vecs(40 until 50), updateFacts = true)
    def facts() = s.read.parquet(s"$idx/cellfacts")
      .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n"),
        r.getSeq[java.math.BigDecimal](r.fieldIndex("sums")).toSeq)).toSet
    val incremental = facts()
    // decimal sums merge associatively: incremental == full recompute,
    // bit for bit
    Similarity.rebuildCellFacts(s, idx)
    assert(facts() == incremental,
      "incrementally merged facts must equal the full recompute exactly")
    // the drift statistic's plan touches cellfacts + centroids ONLY
    val drift = Similarity.ivfDriftFromFacts(s, idx)
    val scans = drift.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      .linesIterator.filter(_.contains("Location:")).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("cellfacts") || l.contains("centroids")),
      s"drift must read facts + centroids only, got:\n${scans.mkString("\n")}")
    assert(!scans.exists(_.contains("vectors")),
      "the corpus must never enter the per-batch drift plan")
    // values: facts-drift equals the corpus-scan drift statistic
    def driftMap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("label"), col("drift_cosine"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val fromCorpus = driftMap(Similarity.centroidDrift(
      s.read.parquet(s"$idx/centroids")
        .select(col("cell").as("label"), col("centroid").as("embedding")),
      s.read.parquet(s"$idx/vectors")
        .select(col("cell").as("label"), col("embedding"))))
    val fromFacts = driftMap(drift)
    assert(fromCorpus.keySet == fromFacts.keySet)
    fromCorpus.foreach { case (cell, d) =>
      // both statistics round to 6 dp; the facts mean passes through one
      // extra decimal(28,10) rounding (~1e-10), absorbable by one ulp of
      // the 6-dp rounding
      assert(math.abs(fromFacts(cell) - d) < 1.1e-6,
        s"cell $cell: facts drift ${fromFacts(cell)} != corpus drift $d")
    }
    // retrain rebuilds the facts INSIDE its swap — still exactly equal
    // to a recompute over the new assignment
    Similarity.retrainIvfIndex(s, idx, kCells = 4, iters = 2)
    val afterRetrain = facts()
    Similarity.rebuildCellFacts(s, idx)
    assert(facts() == afterRetrain,
      "retrain must leave facts equal to a fresh recompute")
  }

  test("hier streaming ingest: wave 1 builds through the two-level trainer, " +
    "wave 2 appends through the stored leaf model — the store equals the " +
    "batch writeIvfIndexHier + appendToIvfIndex lifecycle bit-for-bit") {
    val s = spark
    import s.implicits._
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val src = Files.createTempDirectory("graft-shier-src").toString
    val idx = Files.createTempDirectory("graft-shier").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-shier-ckpt").toString
    val waveA = vecs(0 until 30)
    val waveB = vecs(30 until 40)
    waveA.coalesce(1).write.mode("append").parquet(src)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val srcFs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val it = srcFs.listFiles(srcPath, true)
    while (it.hasNext) {
      val f = it.next(); srcFs.setTimes(f.getPath, System.currentTimeMillis() - 60000L, -1)
    }
    waveB.coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    StreamingSimilarity.ivfIngest(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
      idx, ckpt, kCells = 4, iters = 2, hier = true).awaitTermination()
    val batch = Files.createTempDirectory("graft-shier-batch").toString
    Similarity.writeIvfIndex(waveA, batch, kCells = 4, iters = 2, hier = true)
    Similarity.appendToIvfIndex(s, batch, waveB)
    def res(p: String) = Similarity.ivfStoredTopK(s, p,
      waveA.filter(col("vec_id") < 5), 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(res(idx) == res(batch),
      "streamed hier ingest must equal the batch hier build+append lifecycle")
    assert(s.read.parquet(s"$idx/centroids").collect().map(_.toSeq).toSet ==
      s.read.parquet(s"$batch/centroids").collect().map(_.toSeq).toSet,
      "the streamed store must carry the same two-level leaf model")
  }

  test("facts crash window: a replayed append whose prior attempt died " +
    "between the vectors write and the facts merge REBUILDS the facts " +
    "(the pending marker), instead of permanently understating them") {
    val s = spark
    import s.implicits._
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("graft-factswin").toString + "/idx"
    Similarity.writeIvfIndex(vecs(0 until 30), idx, kCells = 4, iters = 2)
    Similarity.rebuildCellFacts(s, idx)
    def facts() = s.read.parquet(s"$idx/cellfacts")
      .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n"),
        r.getSeq[java.math.BigDecimal](r.fieldIndex("sums")).toSeq)).toSet
    // simulate the crashed attempt: marker touched, vectors landed, facts
    // merge never ran (updateFacts = false appends vectors only)
    val batch = vecs(30 until 40)
    Similarity.appendToIvfIndex(s, idx, batch, updateFacts = false)
    val marker = new org.apache.hadoop.fs.Path(s"$idx/.cellfacts_pending")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    val understated = facts()
    // REPLAY the same batch: the screen anti-joins it to empty — without
    // the marker the merge would fold in nothing and the understatement
    // would be permanent; with it, this call rebuilds from the store
    Similarity.appendToIvfIndex(s, idx, batch, updateFacts = true)
    val healed = facts()
    assert(!fs.exists(marker), "the pending marker must clear after the heal")
    assert(healed != understated,
      "the replay must repair the facts, not re-merge an empty batch")
    Similarity.rebuildCellFacts(s, idx)
    assert(facts() == healed,
      "healed facts must equal the full recompute exactly")
    // vectors were NOT double-inserted by the replay
    assert(s.read.parquet(s"$idx/vectors").count() == 40L)
  }

  test("an empty first batch builds no IVF store and the next non-empty " +
    "batch bootstraps; an empty later batch leaves the serve answers unchanged") {
    val s = spark
    import s.implicits._
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val src = Files.createTempDirectory("graft-sempty-src").toString
    val idx = Files.createTempDirectory("graft-sempty").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-sempty-ckpt").toString
    val waveA = vecs(0 until 30)
    val schema = waveA.schema
    // each drain reads only the files landed since the last one
    def land(df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("append").parquet(src)
      StreamingSimilarity.ivfIngest(
        s.readStream.schema(schema).parquet(src), idx, ckpt, kCells = 4, iters = 2)
        .awaitTermination()
    }
    land(waveA.limit(0))
    assert(!new java.io.File(idx).exists(), "an empty first batch must build no store")
    land(waveA)
    val q = waveA.filter(col("vec_id") < 5)
    def res(p: String) = Similarity.ivfStoredTopK(s, p, q, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val batch = Files.createTempDirectory("graft-sempty-batch").toString
    Similarity.writeIvfIndex(waveA, batch, kCells = 4, iters = 2)
    val built = res(idx)
    assert(built == res(batch), "the first non-empty batch must bootstrap the store")
    land(waveA.limit(0))
    assert(res(idx) == built, "an empty later batch must leave the answers unchanged")
    assert(s.read.parquet(s"$idx/vectors").count() == 30L)
  }
}
