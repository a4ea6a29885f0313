package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** LLM-pipeline operator specs: dedup sketches, similarity, text analysis,
  * multimodal plumbing. */
class PipelineOpsSpec extends SparkTestBase {

  private def docsDf(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  // ---- shingles ----

  test("shingles: k-gram windows, distinct, short-doc safe") {
    val got = docsDf((1L, "a b c d"), (2L, "x y"), (3L, "a b a b a b"))
    val sh = Dedup.shingleFrame(got, 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(sh(1L) == Set("a b c", "b c d"))
    assert(!sh.contains(2L)) // shorter than k → no shingles
    assert(sh(3L) == Set("a b a", "b a b")) // distinct
  }

  test("chunkDocs: overlapping token windows, short tail, lossless coverage") {
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val got = TextOps.chunkDocs(docsDf((1L, text)), chunkTokens = 4, overlap = 2)
      .orderBy("chunk_idx").collect()
    // stride 2 → starts 0,2,4,6,8 → 5 chunks; last holds 2 tokens
    assert(got.length == 5)
    assert(got.map(_.getAs[Long]("chunk_idx")).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(got.map(_.getAs[Long]("chunk_tokens")).toSeq == Seq(4L, 4L, 4L, 4L, 2L))
    // chunk 1 covers tokens 3..6 — overlap of 2 with chunk 0
    val md5_w3w6 = java.security.MessageDigest.getInstance("MD5")
      .digest("w3 w4 w5 w6".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1).getAs[String]("chunk_md5") == md5_w3w6)
    // includeText emits the packable chunk content itself
    val withText = TextOps.chunkDocs(docsDf((1L, text)), chunkTokens = 4, overlap = 2,
      includeText = true).orderBy("chunk_idx").collect()
    assert(withText(1).getAs[String]("chunk") == "w3 w4 w5 w6")
  }

  test("decontaminate flags only docs sharing a full k-shingle with the benchmark") {
    val bench = docsDf((1L, "alpha beta gamma delta epsilon"))
    val corpus = docsDf(
      (10L, "zzz alpha beta gamma delta epsilon yyy"), // contains the 5-gram
      (11L, "alpha beta gamma other words here"),      // only a 3-gram prefix
      (12L, "completely unrelated text body"))
    val got = TextOps.decontaminate(corpus, bench, shingleK = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_shared")).toMap
    assert(got == Map(10L -> 1L), got.toString)
  }

  test("plan shapes: chunkDocs is shuffle-free; decontaminate broadcasts the benchmark") {
    val corpus = docsDf((1L, (1 to 200).map(i => s"w$i").mkString(" ")))
    val chunkPlan = TextOps.chunkDocs(corpus).queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), s"chunking must not shuffle:\n$chunkPlan")
    val deconPlan = TextOps.decontaminate(corpus, docsDf((2L, "a b c d e f g h i")))
      .queryExecution.executedPlan.toString
    assert(deconPlan.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$deconPlan")
    // vocabulary's global top-N is per-partition heaps + driver merge,
    // never a full sort
    val vocabPlan = TextOps.vocabulary(corpus).queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject"),
      s"vocabulary top-N must be TakeOrderedAndProject:\n$vocabPlan")
    val s = spark
    import s.implicits._
    val centPlan = Similarity.labelCentroids(
      Seq((1L, Array.fill(64)(1.0f), 0)).toDF("vec_id", "embedding", "label"))
      .queryExecution.executedPlan.toString
    assert(centPlan.contains("BroadcastHashJoin") && !centPlan.contains("CartesianProduct"),
      s"labelCentroids must broadcast the |labels|-row centroid frame:\n$centPlan")
    // mixCorpus: the |strata|-row rate table broadcasts onto the corpus
    // scan — the keep decision must not shuffle the corpus
    val mixDocs = Seq((1L, "a b c", "s1"), (2L, "d e", "s2")).toDF("doc_id", "text", "source")
    val mixPlan = TextOps.mixCorpus(mixDocs, Map("s1" -> 1.0), budgetFrac = 1.0)
      .queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastHashJoin") && !mixPlan.contains("SortMergeJoin"),
      s"mixCorpus rate table must broadcast:\n$mixPlan")
    // packBatches: ONE shard-keyed exchange feeds the per-shard window
    val packPlan = TextOps.packBatches(mixDocs).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(packPlan).size == 1 &&
      "Exchange".r.findAllIn(packPlan).size == 1,
      s"packBatches must shuffle once, on shard:\n$packPlan")
  }

  test("piiScrub redacts in order and counts per category without double counting") {
    val got = TextOps.piiScrub(docsDf(
      (1L, "mail bob@example.com or call 555-123-4567 room 12"),
      (2L, "no pii here at all")))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_email"), r.getAs[Long]("n_phone"), r.getAs[Long]("n_number"))).toMap
    // the phone's digits are NOT re-counted as digit runs; '12' is
    assert(got(1L) == ((1L, 1L, 1L)), got.toString)
    assert(got(2L) == ((0L, 0L, 0L)))
  }

  test("stored IVF index: cell-partitioned layout, pruned serving scan, " +
    "results identical to the in-memory trained path") {
    val s = spark
    import s.implicits._
    // deterministic 40-vector corpus over Similarity.Dim components
    val e = (0 until 40).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    val live = Similarity.ivfKmeansTopK(e, q, 5, nprobe = 2, kCells = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2)
    // layout: the corpus landed partitioned by cell
    val dirs = new java.io.File(s"$path/vectors").list().filter(_.startsWith("cell="))
    assert(dirs.nonEmpty, "expected cell=N partition directories")
    val storedDf = Similarity.ivfStoredTopK(s, path, q, 5, nprobe = 2)
    val stored = storedDf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(stored == live, s"stored-index search must match the live path")
    // serving reads only probed cells: a STATIC IN filter over the
    // partition column (plan-time pruning — DPP would not fire for a
    // request-sized probe frame with no selective scan filter, so the
    // probed cell ids are collected and pushed as literals)
    val plan = storedDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"expected a static cell IN partition filter on the vectors scan:\n$plan")
    // a tombstone-free store must serve WITHOUT the delete screen
    assert(!plan.contains("LeftAnti"),
      s"tombstone-free serving must not carry a delete anti-join:\n$plan")
  }

  test("PCA-IVF store: full-probe serving EQUALS the flat pcaRerankTopK; " +
    "partial probe reads only probed cells with a pvec-only stage-1 scan") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    val path = java.nio.file.Files.createTempDirectory("graft-pcaivf").toString
    Similarity.writePcaIvfIndex(e, path, dims = 8, kCells = 4, iters = 2)
    // the store persists all three tables of the unit
    for (t <- Seq("vectors", "centroids", "pcamodel"))
      assert(new java.io.File(s"$path/$t").exists(), s"missing $t")
    // full probe (nprobe = kCells) ≡ the flat two-stage PCA serve: every
    // cell probed is a full scan, the stored pvec/model are the same
    // deterministic fit, and ranking ties break identically
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val flat = Similarity.pcaRerankTopK(e, q, 10,
      Similarity.pcaFit(e, 8), shortlist = 20)
    val full = Similarity.pcaIvfStoredTopK(s, path, q, 10, nprobe = 4, shortlist = 20)
    assert(rows(full) == rows(flat),
      "probing every cell must equal the flat PCA rerank exactly")
    // partial probe: static cell IN pruning, and the stage-1 ranking scan
    // reads the PROJECTED column only (dims/Dim of the floats)
    val part = Similarity.pcaIvfStoredTopK(s, path, q, 10, nprobe = 2, shortlist = 20)
    val plan = part.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"expected a static cell IN partition filter:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("ReadSchema") &&
      l.contains("pvec") && !l.contains("embedding")),
      s"stage-1 scan must read pvec without the full-width embedding:\n$plan")
    // structure: k rows per query, unit-range cosines
    val got = part.collect()
    assert(got.length == 5 * 10 && got.forall(r => math.abs(r.getDouble(2)) <= 1 + 1e-9))
  }

  test("IVF-PQ store: full-probe + uncapped shortlist EQUALS brute force; " +
    "stage-1 scan reads codes (not embeddings) behind a static cell IN filter; " +
    "append encodes through the stored model; delete screens the serve") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpqst").toString
    Similarity.writeIvfPqIndex(e.filter(col("vec_id") < 50), path,
      kCells = 4, iters = 2)
    Similarity.appendToIvfPqIndex(s, path, e.filter(col("vec_id") >= 50))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // exactness hook: every cell probed + uncapped shortlist ≡ exhaustive
    // ADC shortlist + full-width rerank = brute force (appends included)
    assert(rows(Similarity.ivfPqStoredTopK(s, path, q, 10,
      nprobe = 4, shortlist = 1 << 20)) ==
      rows(Similarity.bruteForceTopK(e, q, 10)))
    // production sizing: static cell IN pruning, and the ADC stage reads
    // the CODES column without the full-width embedding
    val part = Similarity.ivfPqStoredTopK(s, path, q, 10, nprobe = 2, shortlist = 20)
    val plan = part.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"expected a static cell IN partition filter:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("ReadSchema") &&
      l.contains("codes") && !l.contains("embedding")),
      s"stage-1 ADC scan must read codes without the full-width embedding:\n$plan")
    // takedown screens the serve immediately, tombstone-only
    Similarity.deleteFromIvfIndex(s, path, Seq(7L, 55L).toDF("vec_id"))
    val screened = Similarity.ivfPqStoredTopK(s, path, q, 59,
      nprobe = 4, shortlist = 1 << 20)
      .collect().map(_.getLong(1)).toSet
    assert(!screened.contains(7L) && !screened.contains(55L),
      "tombstoned ids must stop ranking immediately")
  }

  test("bounded-sample IVF training: deterministic hash sample; the sampled " +
    "model's recall stays within a band of full-corpus training; the " +
    "persisted build with sampleN serves identically to the inline path") {
    val s = spark
    import s.implicits._
    val e = (0 until 200).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    // the sample is a deterministic function of the id set — same frame
    // twice, same rows (an RNG sample would break every oracle)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids(Similarity.trainingSample(e, 64)) ==
      ids(Similarity.trainingSample(e, 64)))
    assert(ids(Similarity.trainingSample(e, 64)).toSet.size == 64)
    def avgRecall(approx: org.apache.spark.sql.DataFrame) = {
      val r = Similarity.recallAtK(Similarity.bruteForceTopK(e, q, 10), approx)
        .select("recall").collect().map(_.getDouble(0))
      r.sum / r.length
    }
    val full = avgRecall(Similarity.ivfKmeansTopK(e, q, 10, nprobe = 2,
      kCells = 4, iters = 2))
    val sampled = avgRecall(Similarity.ivfKmeansSampledTopK(e, q, 10,
      nprobe = 2, kCells = 4, iters = 2, sampleN = 64))
    // the band: a 64-of-200 sample may move cell boundaries, but the
    // probed-fraction recall must stay comparable to full training
    assert(sampled >= full - 0.25,
      s"sampled-training recall $sampled fell too far below full-training $full")
    // the persisted build path accepts the same bound and serves the
    // identical result (stored model == inline sampled model)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfsmp").toString
    Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2, sampleN = Some(64))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(rows(Similarity.ivfStoredTopK(s, path, q, 10, nprobe = 2)) ==
      rows(Similarity.ivfKmeansSampledTopK(e, q, 10, nprobe = 2,
        kCells = 4, iters = 2, sampleN = 64)))
    // every other trainer accepts the same bound, and the exactness
    // hooks survive a sampled model: full probe + uncapped shortlist is
    // brute force REGARDLESS of where the model trained
    val bf = rows(Similarity.bruteForceTopK(e, q, 10))
    val pqP = java.nio.file.Files.createTempDirectory("graft-pqsmp").toString
    Similarity.writeIvfPqIndex(e, pqP, kCells = 4, iters = 2, sampleN = Some(64))
    assert(rows(Similarity.ivfPqStoredTopK(s, pqP, q, 10,
      nprobe = 4, shortlist = 1 << 20)) == bf)
    val resP = java.nio.file.Files.createTempDirectory("graft-ressmp").toString + "/ix"
    Similarity.writeIvfPqResidualIndex(e, resP, kCells = 4, iters = 2,
      sampleN = Some(64))
    assert(rows(Similarity.ivfPqResidualStoredTopK(s, resP, q, 10,
      nprobe = 4, shortlist = 1 << 20)) == bf)
    val pcaP = java.nio.file.Files.createTempDirectory("graft-pcasmp").toString
    Similarity.writePcaIvfIndex(e, pcaP, dims = 8, kCells = 4, iters = 2,
      sampleN = Some(64))
    assert(rows(Similarity.pcaIvfStoredTopK(s, pcaP, q, 10,
      nprobe = 4, shortlist = 1 << 20)) == bf)
  }

  test("SRP store: stored serve is BIT-IDENTICAL to inline srpTopK; static " +
    "bucket IN partition pruning; append buckets through the STORED planes; " +
    "delete screens the serve; planes+vectors land as one swap unit") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    val path = java.nio.file.Files.createTempDirectory("graft-srpst").toString + "/ix"
    Similarity.writeSrpIndex(e.filter(col("vec_id") < 50), path, numPlanes = 6)
    assert(new java.io.File(path).listFiles().map(_.getName).toSet
      .filter(!_.startsWith("_")) == Set("vectors", "planes"))
    val planesBefore = s.read.parquet(s"$path/planes").collect().toSet
    Similarity.appendToSrpIndex(s, path, e.filter(col("vec_id") >= 50))
    // the stored plane set is untouched by appends…
    assert(s.read.parquet(s"$path/planes").collect().toSet == planesBefore)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // …and the stored serve (appends included) is bit-identical to the
    // inline path with the same plane rule
    val stored = Similarity.srpStoredTopK(s, path, q, 10)
    assert(rows(stored) == rows(Similarity.srpTopK(e, q, 10, numPlanes = 6)))
    // the request's bucket set reaches the scan as a static partition IN
    val plan = stored.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[bucket#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"expected a static bucket IN partition filter:\n$plan")
    // takedown screens immediately (shared tombstone contract)
    val before = rows(stored).map(_._2).toSet
    val victim = before.head
    Similarity.deleteFromIvfIndex(s, path, Seq(victim).toDF("vec_id"))
    val screenedRows = rows(Similarity.srpStoredTopK(s, path, q, 10))
    assert(!screenedRows.map(_._2).contains(victim),
      "tombstoned ids must stop ranking immediately")
    // physical purge: the bucket-column compaction removes the row and
    // clears the tombstones without moving any answer
    Similarity.compactSrpIndex(s, path)
    assert(rows(Similarity.srpStoredTopK(s, path, q, 10)) == screenedRows,
      "compaction must not move answers")
    assert(!s.read.parquet(s"$path/vectors").select("vec_id")
      .collect().map(_.getLong(0)).contains(victim),
      "compaction must physically purge the tombstoned row")
    assert(!new java.io.File(s"$path/deleted_vecs").exists(),
      "compaction must drop the cleared tombstones")
  }

  test("residual-IVFADC store: full-probe + uncapped shortlist EQUALS brute " +
    "force; stage-1 scan reads codes (not embeddings) behind a static cell IN " +
    "filter; append encodes through the stored model PAIR; delete screens; " +
    "the store lands as one swap unit (no partial tables)") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 3)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpqres").toString + "/ix"
    Similarity.writeIvfPqResidualIndex(e.filter(col("vec_id") < 50), path,
      kCells = 4, iters = 2)
    // the swap landed the three tables together (no dot-tmp residue)
    assert(new java.io.File(path).listFiles().map(_.getName).toSet
      .filter(!_.startsWith("_")) == Set("vectors", "centroids", "residcb"))
    // append: cells AND residual codes come from the STORED model pair —
    // the models themselves are untouched
    val cbBefore = s.read.parquet(s"$path/residcb").collect().toSet
    Similarity.appendToIvfPqResidualIndex(s, path, e.filter(col("vec_id") >= 50))
    assert(s.read.parquet(s"$path/residcb").collect().toSet == cbBefore)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // exactness hook: every cell probed + uncapped shortlist ≡ exhaustive
    // residual-ADC shortlist + full-width rerank = brute force
    assert(rows(Similarity.ivfPqResidualStoredTopK(s, path, q, 10,
      nprobe = 4, shortlist = 1 << 20)) ==
      rows(Similarity.bruteForceTopK(e, q, 10)))
    // production sizing: static cell IN pruning; the residual-ADC stage
    // reads codes without the full-width embedding
    val part = Similarity.ivfPqResidualStoredTopK(s, path, q, 10,
      nprobe = 2, shortlist = 20)
    val plan = part.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"expected a static cell IN partition filter:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("ReadSchema") &&
      l.contains("codes") && !l.contains("embedding")),
      s"stage-1 residual-ADC scan must read codes only:\n$plan")
    // takedown screens the serve immediately, tombstone-only
    Similarity.deleteFromIvfIndex(s, path, Seq(7L, 55L).toDF("vec_id"))
    val screened = Similarity.ivfPqResidualStoredTopK(s, path, q, 59,
      nprobe = 4, shortlist = 1 << 20)
      .collect().map(_.getLong(1)).toSet
    assert(!screened.contains(7L) && !screened.contains(55L),
      "tombstoned ids must stop ranking immediately")
    // a REBUILD at the same path replaces the whole unit (old tombstones
    // and tables cannot leak through the swap)
    Similarity.writeIvfPqResidualIndex(e, path, kCells = 4, iters = 2)
    assert(Similarity.ivfPqResidualStoredTopK(s, path, q, 59,
      nprobe = 4, shortlist = 1 << 20)
      .collect().map(_.getLong(1)).toSet.contains(7L),
      "rebuild must serve the full corpus again (tombstones died with the swap)")
  }

  test("hierarchical IVF: the store shares the flat layout (ivfStoredTopK " +
    "serves it unchanged, bit-equal to the inline path); FULL probe equals " +
    "brute force regardless of assignment; append/delete lifecycle works; " +
    "recall stays within band of the flat trainer") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val inline = rows(Similarity.ivfHierTopK(e.filter(col("vec_id") < 50), q, 10,
      nprobe = 2, kCells = 4, iters = 2))
    val path = java.nio.file.Files.createTempDirectory("graft-ivfhier").toString + "/ix"
    Similarity.writeIvfIndex(e.filter(col("vec_id") < 50), path,
      kCells = 4, iters = 2, hier = true)
    assert(rows(Similarity.ivfStoredTopK(s, path, q, 10, nprobe = 2)) == inline,
      "the flat serve path must answer the hier store bit-equal to inline")
    // full probe ≡ brute force — exactness holds for ANY assignment
    val leaves = s.read.parquet(s"$path/centroids").count().toInt
    assert(rows(Similarity.ivfStoredTopK(s, path, q, 10, nprobe = leaves)) ==
      rows(Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), q, 10)),
      "full probe over the hier store must equal brute force")
    // lifecycle: append assigns through the stored flat-leaf model;
    // delete screens immediately — the shared IVF machinery, untouched
    Similarity.appendToIvfIndex(s, path, e.filter(col("vec_id") >= 50))
    assert(Similarity.ivfStoredTopK(s, path, q, 50, nprobe = leaves)
      .collect().map(_.getLong(1)).toSet.exists(_ >= 50L),
      "appended vectors must serve")
    Similarity.deleteFromIvfIndex(s, path, Seq(7L).toDF("vec_id"))
    assert(!Similarity.ivfStoredTopK(s, path, q, 50, nprobe = leaves)
      .collect().map(_.getLong(1)).contains(7L),
      "tombstoned ids must stop ranking immediately")
    // SAMPLED hier build: training ⊂ corpus — the path where a coarse
    // cell can end childless; the model must prune such cells so
    // full-corpus assignment always finds children (no crash), and the
    // full-probe exactness hook still holds
    val sampled = java.nio.file.Files.createTempDirectory("graft-ivfhier-s").toString + "/ix"
    Similarity.writeIvfIndex(e, sampled, kCells = 4, iters = 2,
      sampleN = Some(8), hier = true)
    val sLeaves = s.read.parquet(s"$sampled/centroids").count().toInt
    assert(rows(Similarity.ivfStoredTopK(s, sampled, q, 10, nprobe = sLeaves)) ==
      rows(Similarity.bruteForceTopK(e, q, 10)),
      "sampled hier build must keep the full-probe exactness hook")
    // hier RETRAIN: after the appends + delete above, retrain(hier=true)
    // must leave the store indistinguishable from a fresh hier build over
    // the live corpus (same deterministic two-level training)
    Similarity.retrainIvfIndex(s, path, kCells = 4, iters = 2, hier = true)
    val fresh = java.nio.file.Files.createTempDirectory("graft-ivfhier-f").toString + "/ix"
    Similarity.writeIvfIndex(e.filter(col("vec_id") =!= 7L), fresh,
      kCells = 4, iters = 2, hier = true)
    assert(s.read.parquet(s"$path/centroids").collect().map(_.toSeq).toSet ==
      s.read.parquet(s"$fresh/centroids").collect().map(_.toSeq).toSet,
      "hier retrain must train the same leaf model as a fresh hier build")
    assert(rows(Similarity.ivfStoredTopK(s, path, q, 50, nprobe = leaves)) ==
      rows(Similarity.ivfStoredTopK(s, fresh, q, 50, nprobe = leaves)),
      "hier retrain must serve identically to a fresh hier build")
    // recall band vs the flat trainer at the same (kCells, iters, nprobe)
    def meanRecall(df: org.apache.spark.sql.DataFrame) = {
      val r = df.select("recall").collect().map(_.getDouble(0))
      r.sum / r.length
    }
    val exact = Similarity.bruteForceTopK(e, q, 10)
    val hierR = meanRecall(Similarity.recallAtK(exact,
      Similarity.ivfHierTopK(e, q, 10, nprobe = 2, kCells = 4, iters = 2)))
    val flatR = meanRecall(Similarity.recallAtK(exact,
      Similarity.ivfKmeansTopK(e, q, 10, nprobe = 2, kCells = 4, iters = 2)))
    assert(hierR >= flatR - 0.3,
      s"hier recall $hierR fell out of band of flat recall $flatR")
  }

  test("hier-ROUTED serving and appends: all-coarse routing is bit-equal to " +
    "the flat probe; full probe equals brute force through the router; appends " +
    "land in the two-level rule's cells; tombstones screen the routed read; " +
    "flat rebuilds clear the routing model and routed serving refuses") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivfhier-rt").toString + "/ix"
    Similarity.writeIvfIndex(e.filter(col("vec_id") < 50), path,
      kCells = 4, iters = 2, hier = true)
    val nCoarse = s.read.parquet(s"$path/coarse").count().toInt
    val leaves = s.read.parquet(s"$path/centroids").count().toInt
    // probing EVERY coarse cell makes the candidate leaf set per query all
    // leaves, so routed ≡ flat at the same nprobe — bit-equal
    assert(rows(Similarity.ivfStoredTopKHier(s, path, q, 10, nCoarse, nprobe = 2)) ==
      rows(Similarity.ivfStoredTopK(s, path, q, 10, nprobe = 2)),
      "all-coarse routing must reproduce the flat probe bit-for-bit")
    // full probe through the router ≡ brute force
    assert(rows(Similarity.ivfStoredTopKHier(s, path, q, 10, nCoarse, nprobe = leaves)) ==
      rows(Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), q, 10)),
      "full routed probe must equal brute force")
    // an append on a hier store must assign through the persisted
    // two-level rule (coarse argmax, then that cell's children only) —
    // recomputed here independently from the persisted model tables
    Similarity.appendToIvfIndex(s, path, e.filter(col("vec_id") >= 50))
    val coarseRows = s.read.parquet(s"$path/coarse")
      .select("coarse", "centroid", "k_child").collect()
    val kChild = coarseRows.head.getInt(2)
    val coarseM = coarseRows.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val leavesM = s.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def argmax(cands: Seq[(Int, Array[Double])], v: Array[Double]): Int = {
      val vn = math.sqrt(v.map(x => x * x).sum)
      var best = cands.head._1; var bestSim = Double.NegativeInfinity
      cands.foreach { case (lbl, c) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        val sim = v.zip(c).map { case (a, b) => a * b }.sum / (vn * cn)
        if (sim > bestSim) { best = lbl; bestSim = sim }
      }
      best
    }
    s.read.parquet(s"$path/vectors").where(col("vec_id") >= 50)
      .select("vec_id", "embedding", "cell").collect().foreach { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val cc = argmax(coarseM.toSeq, v)
        val expected = argmax(leavesM.filter(_._1 / kChild == cc).toSeq, v)
        assert(r.getInt(2) == expected,
          s"appended vec ${r.getLong(0)} landed in cell ${r.getInt(2)}, " +
            s"two-level rule says $expected")
      }
    // appended vectors serve through the router; tombstones screen it
    assert(rows(Similarity.ivfStoredTopKHier(s, path, q, 50, nCoarse, nprobe = leaves)) ==
      rows(Similarity.bruteForceTopK(e, q, 50)),
      "post-append full routed probe must equal brute force over the union")
    Similarity.deleteFromIvfIndex(s, path, Seq(7L).toDF("vec_id"))
    assert(!Similarity.ivfStoredTopKHier(s, path, q, 50, nCoarse, nprobe = leaves)
      .collect().map(_.getLong(1)).contains(7L),
      "tombstoned ids must stop ranking through the routed read")
    // hier RETRAIN rewrites the routing model in the same swap — routed
    // serving keeps the exactness hook afterwards
    Similarity.retrainIvfIndex(s, path, kCells = 4, iters = 2, hier = true)
    val nCoarse2 = s.read.parquet(s"$path/coarse").count().toInt
    val leaves2 = s.read.parquet(s"$path/centroids").count().toInt
    assert(rows(Similarity.ivfStoredTopKHier(s, path, q, 10, nCoarse2, nprobe = leaves2)) ==
      rows(Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 7L), q, 10)),
      "routed serving must survive a hier retrain with the exactness hook")
    // a FLAT rebuild at the same path must clear the routing model —
    // stale coarse beside a new flat leaf model would route wrongly
    Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2)
    assert(!new java.io.File(s"$path/coarse").exists(),
      "a flat rebuild must clear the stale routing model")
    intercept[IllegalStateException] {
      Similarity.ivfStoredTopKHier(s, path, q, 10, 1, 1)
    }
  }

  test("hier routing generalizes to the IVF-PQ and PCA-IVF stores: " +
    "hier builds persist the routing model, all-coarse routed serving is " +
    "bit-equal to the flat probe, full probe + uncapped shortlist equals " +
    "brute force, and appends route through the stored two-level rule") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // ---- IVF-PQ ----
    val pq = java.nio.file.Files.createTempDirectory("graft-pqhier").toString + "/ix"
    Similarity.writeIvfPqIndex(e.filter(col("vec_id") < 50), pq,
      kCells = 4, iters = 2, hier = true)
    assert(new java.io.File(s"$pq/coarse").exists(),
      "the hier PQ build must persist its routing model")
    val pqCoarse = s.read.parquet(s"$pq/coarse").count().toInt
    val pqLeaves = s.read.parquet(s"$pq/centroids").count().toInt
    assert(rows(Similarity.ivfPqStoredTopKHier(s, pq, q, 10, pqCoarse, 2, 50)) ==
      rows(Similarity.ivfPqStoredTopK(s, pq, q, 10, nprobe = 2, shortlist = 50)),
      "all-coarse PQ routing must reproduce the flat probe bit-for-bit")
    assert(rows(Similarity.ivfPqStoredTopKHier(s, pq, q, 10, pqCoarse, pqLeaves, 1 << 20)) ==
      rows(Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), q, 10)),
      "full routed PQ probe + uncapped shortlist must equal brute force")
    Similarity.appendToIvfPqIndex(s, pq, e.filter(col("vec_id") >= 50))
    assert(rows(Similarity.ivfPqStoredTopKHier(s, pq, q, 10, pqCoarse, pqLeaves, 1 << 20)) ==
      rows(Similarity.bruteForceTopK(e, q, 10)),
      "PQ appends must route into servable cells (exactness over the union)")
    Similarity.deleteFromIvfIndex(s, pq, Seq(7L).toDF("vec_id"))
    assert(!Similarity.ivfPqStoredTopKHier(s, pq, q, 50, pqCoarse, pqLeaves, 1 << 20)
      .collect().map(_.getLong(1)).contains(7L),
      "tombstoned ids must stop ranking through the routed PQ read")
    // ---- PCA-IVF (routing model lives in PCA space) ----
    val pc = java.nio.file.Files.createTempDirectory("graft-pcahier").toString + "/ix"
    Similarity.writePcaIvfIndex(e.filter(col("vec_id") < 50), pc,
      dims = 16, kCells = 4, iters = 2, hier = true)
    assert(new java.io.File(s"$pc/coarse").exists(),
      "the hier PCA build must persist its routing model")
    val pcCoarse = s.read.parquet(s"$pc/coarse").count().toInt
    val pcLeaves = s.read.parquet(s"$pc/centroids").count().toInt
    assert(rows(Similarity.pcaIvfStoredTopKHier(s, pc, q, 10, pcCoarse, 2, 50)) ==
      rows(Similarity.pcaIvfStoredTopK(s, pc, q, 10, nprobe = 2, shortlist = 50)),
      "all-coarse PCA routing must reproduce the flat probe bit-for-bit")
    assert(rows(Similarity.pcaIvfStoredTopKHier(s, pc, q, 10, pcCoarse, pcLeaves, 1 << 20)) ==
      rows(Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), q, 10)),
      "full routed PCA probe + uncapped shortlist must equal brute force")
    Similarity.appendToPcaIvfIndex(s, pc, e.filter(col("vec_id") >= 50))
    assert(rows(Similarity.pcaIvfStoredTopKHier(s, pc, q, 10, pcCoarse, pcLeaves, 1 << 20)) ==
      rows(Similarity.bruteForceTopK(e, q, 10)),
      "PCA appends must route into servable cells (exactness over the union)")
  }

  test("residual-IVFADC seed rule: an id space NOT starting at 0 (stream " +
    "whose first wave starts high, retrain after low-id takedowns) trains " +
    "on the lowest ids PRESENT — sampled and full builds both serve, and " +
    "the exactness hook still holds") {
    val s = spark
    import s.implicits._
    // vec_ids 1000..1059 — the historical literal `vec_id < k` seed filter
    // selects NOTHING here; the rule must be orderBy(vec_id).limit(k)
    val e = (1000 until 1060).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 1003)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val brute = rows(Similarity.bruteForceTopK(e, q, 10))
    val full = java.nio.file.Files.createTempDirectory("graft-resid-hi").toString + "/ix"
    Similarity.writeIvfPqResidualIndex(e, full, kCells = 4, iters = 2)
    assert(rows(Similarity.ivfPqResidualStoredTopK(s, full, q, 10,
      nprobe = 4, shortlist = 1 << 20)) == brute,
      "full build on a high-start id space must keep the exactness hook")
    // sampled build: the seed force-include must pick the lowest ids
    // PRESENT (a literal threshold would add nothing and silently break
    // the shared-seed invariant)
    val sampled = java.nio.file.Files.createTempDirectory("graft-resid-hi-s").toString + "/ix"
    Similarity.writeIvfPqResidualIndex(e, sampled, kCells = 4, iters = 2,
      sampleN = Some(16))
    assert(rows(Similarity.ivfPqResidualStoredTopK(s, sampled, q, 10,
      nprobe = 4, shortlist = 1 << 20)) == brute,
      "sampled build on a high-start id space must keep the exactness hook")
  }

  test("PCA-IVF lifecycle: append projects through the STORED basis and replay " +
    "is a no-op; delete screens the serve tombstone-only; compaction purges; " +
    "retrain equals a fresh build over the live corpus") {
    val s = spark
    import s.implicits._
    val e = (0 until 60).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-pcaivflc").toString
    Similarity.writePcaIvfIndex(e.filter(col("vec_id") < 50), path,
      dims = 8, kCells = 4, iters = 2)
    val modelBefore = s.read.parquet(s"$path/pcamodel").collect().toSet
    Similarity.appendToPcaIvfIndex(s, path, e.filter(col("vec_id") >= 50))
    // the stored basis/centroids are untouched by appends…
    assert(s.read.parquet(s"$path/pcamodel").collect().toSet == modelBefore)
    // …and the appended rows carry STORE-basis projections: serving with
    // every cell probed sees all 60 vectors
    val q = e.filter(col("vec_id") < 3)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val afterAppend = Similarity.pcaIvfStoredTopK(s, path, q, 59,
      nprobe = 4, shortlist = 1 << 20)
    // each query ranks the 59 non-self vectors; across the 3 queries the
    // union covers all 60 ids — appended rows included
    assert(afterAppend.select("neighbor_id").distinct().count() == 60)
    // replay the batch: the id anti-join makes it a no-op
    val n0 = s.read.parquet(s"$path/vectors").count()
    Similarity.appendToPcaIvfIndex(s, path, e.filter(col("vec_id") >= 50))
    assert(s.read.parquet(s"$path/vectors").count() == n0)
    // takedown: tombstone-only (no vectors rewrite), serve screens NOW
    val files0 = new java.io.File(s"$path/vectors").listFiles().length
    Similarity.deleteFromIvfIndex(s, path, Seq(7L, 55L).toDF("vec_id"))
    assert(new java.io.File(s"$path/vectors").listFiles().length == files0,
      "delete must not rewrite the vectors table")
    val screened = ids(Similarity.pcaIvfStoredTopK(s, path, q, 59,
      nprobe = 4, shortlist = 1 << 20))
    assert(!screened.exists(p => p._2 == 7L || p._2 == 55L),
      "tombstoned ids must stop ranking immediately")
    // compaction purges physically and clears the tombstones; answers
    // unchanged
    Similarity.compactIvfIndex(s, path)
    assert(!new java.io.File(s"$path/deleted_vecs").exists())
    assert(ids(Similarity.pcaIvfStoredTopK(s, path, q, 59,
      nprobe = 4, shortlist = 1 << 20)) == screened)
    // retrain ≡ fresh build over the live corpus (deterministic fit +
    // training), with all three tables swapped as one unit
    Similarity.retrainPcaIvfIndex(s, path, dims = 8, kCells = 4, iters = 2)
    val freshP = java.nio.file.Files.createTempDirectory("graft-pcaivffr").toString
    Similarity.writePcaIvfIndex(
      e.filter(col("vec_id") =!= 7L && col("vec_id") =!= 55L), freshP,
      dims = 8, kCells = 4, iters = 2)
    def served(p: String) = Similarity.pcaIvfStoredTopK(s, p, q, 10,
      nprobe = 2, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(served(path) == served(freshP),
      "post-retrain serve must equal a fresh build over the live corpus")
  }

  test("IVF append: stored model assigns the batch, serving sees it; replay is a no-op") {
    val s = spark
    import s.implicits._
    val e = (0 until 40).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j => math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-ivfapp").toString
    Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2)
    val q = e.filter(col("vec_id") === 7L)
    val before = Similarity.ivfStoredTopK(s, path, q, 1, nprobe = 2)
      .collect().map(_.getLong(1)).toSeq
    // append a near-copy of query 7 — it must become the top neighbor
    val twin = (0 until 40).map { i =>
      (1000L + i, (0 until Similarity.Dim).map(j =>
        (math.sin(i * 31 + j) * (if (i == 7) 1.0001 else 1.0)).toFloat).toArray)
    }.toDF("vec_id", "embedding").filter(col("vec_id") === 1007L)
    Similarity.appendToIvfIndex(s, path, twin)
    val after = Similarity.ivfStoredTopK(s, path, q, 1, nprobe = 2)
      .collect().map(_.getLong(1)).toSeq
    assert(before != Seq(1007L) && after == Seq(1007L),
      s"appended twin must serve as top neighbor: before=$before after=$after")
    // replaying the append must not double-insert
    val n = s.read.parquet(s"$path/vectors").count()
    Similarity.appendToIvfIndex(s, path, twin)
    assert(s.read.parquet(s"$path/vectors").count() == n, "replay must be a no-op")
  }

  private def ivfCorpus = {
    val s = spark
    import s.implicits._
    (0 until 40).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j => math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("IVF delete: tombstone-append-only, the vector stops ranking at once, " +
    "double/unregistered deletes no-op, compact purges physically and clears") {
    val s = spark
    import s.implicits._
    val e = ivfCorpus
    val path = java.nio.file.Files.createTempDirectory("graft-ivfdel").toString
    Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2)
    val q = e.filter(col("vec_id") === 7L)
    def ranked() = Similarity.ivfStoredTopK(s, path, q, 40, nprobe = 2)
      .collect().map(_.getLong(1)).toSeq
    val before = ranked()
    val victim = before.head
    Similarity.deleteFromIvfIndex(s, path, Seq(victim).toDF("vec_id"))
    assert(ranked() == before.filterNot(_ == victim),
      "the tombstoned vector must stop ranking at once; everything else holds order")
    // append-only delete: the row is still on disk until compaction
    assert(s.read.parquet(s"$path/vectors").filter(col("vec_id") === victim).count() == 1)
    Similarity.deleteFromIvfIndex(s, path, Seq(victim).toDF("vec_id"))
    Similarity.deleteFromIvfIndex(s, path, Seq(9999L).toDF("vec_id"))
    assert(s.read.parquet(s"$path/deleted_vecs").count() == 1)
    Similarity.compactIvfIndex(s, path)
    assert(ranked() == before.filterNot(_ == victim), "answers must not move across the purge")
    assert(s.read.parquet(s"$path/vectors").filter(col("vec_id") === victim).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_vecs")))
    // post-purge the id is deregistered — a re-delete is a no-op
    Similarity.deleteFromIvfIndex(s, path, Seq(victim).toDF("vec_id"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_vecs")))
  }

  test("IVF retrain: after appends and a delete, the store is " +
    "indistinguishable from a fresh build over the live corpus — vectors, " +
    "centroids, and purge all land as one swap unit") {
    val s = spark
    import s.implicits._
    val e = ivfCorpus
    val path = java.nio.file.Files.createTempDirectory("graft-ivfret").toString + "/store"
    Similarity.writeIvfIndex(e.filter(col("vec_id") < 30), path, kCells = 4, iters = 2)
    Similarity.appendToIvfIndex(s, path, e.filter(col("vec_id") >= 30))
    Similarity.deleteFromIvfIndex(s, path, Seq(5L).toDF("vec_id"))
    Similarity.retrainIvfIndex(s, path, kCells = 4, iters = 2)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-ivfret2").toString
    Similarity.writeIvfIndex(e.filter(col("vec_id") =!= 5L), rebuilt, kCells = 4, iters = 2)
    val q = e.filter(col("vec_id") < 5)
    def res(p: String) = Similarity.ivfStoredTopK(s, p, q, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(res(path) == res(rebuilt),
      "retrained store must answer exactly like a fresh build over the live corpus")
    def model(p: String) = s.read.parquet(s"$p/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
    assert(model(path) == model(rebuilt), "the model must actually retrain")
    // the retrain IS the tombstone's physical purge
    assert(s.read.parquet(s"$path/vectors").filter(col("vec_id") === 5L).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_vecs")))
    // no swap litter next to the store
    val parent = new java.io.File(path).getParentFile
    assert(parent.listFiles().map(_.getName).forall(n => !n.startsWith(".store")),
      parent.listFiles().map(_.getName).mkString(","))
  }

  test("IVF delete then re-append WITHOUT compact: the revival purges the " +
    "stale vector, clears ONLY its tombstone, and the NEW embedding serves") {
    val s = spark
    import s.implicits._
    val e = ivfCorpus
    val path = java.nio.file.Files.createTempDirectory("graft-ivfrev").toString
    Similarity.writeIvfIndex(e, path, kCells = 4, iters = 2)
    Similarity.deleteFromIvfIndex(s, path, Seq(3L, 9L).toDF("vec_id"))
    // vec 3 re-registers as a near-copy of vec 7 — it must become 7's top
    // neighbor, which only happens if its STALE embedding purged
    val reborn = (0 until 40).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        (math.sin(7 * 31 + j) * 1.0001).toFloat).toArray)
    }.toDF("vec_id", "embedding").filter(col("vec_id") === 3L)
    Similarity.appendToIvfIndex(s, path, reborn)
    val q = e.filter(col("vec_id") === 7L)
    val top = Similarity.ivfStoredTopK(s, path, q, 1, nprobe = 2)
      .collect().map(_.getLong(1)).toSeq
    assert(top == Seq(3L), s"the revived NEW embedding must serve, got $top")
    assert(s.read.parquet(s"$path/vectors").filter(col("vec_id") === 3L).count() == 1,
      "exactly one (new) row for the revived id")
    // the unrelated pending tombstone survives the revival
    assert(s.read.parquet(s"$path/deleted_vecs")
      .collect().map(_.getLong(0)).toSet == Set(9L))
    assert(!Similarity.ivfStoredTopK(s, path, e.filter(col("vec_id") === 9L), 40, nprobe = 2)
      .collect().map(_.getLong(1)).contains(9L), "vec 9 stays screened")
  }

  // ---- exact dedup ----

  test("exact groups count duplicates and keep min id") {
    val got = Dedup.exactGroups(docsDf((5L, "same text"), (3L, "same text"), (9L, "other")))
      .orderBy("keep_id").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("cnt") == 2 && got(0).getAs[Long]("keep_id") == 3)
    assert(got(1).getAs[Long]("cnt") == 1 && got(1).getAs[Long]("keep_id") == 9)
  }

  // ---- MinHash-LSH ----

  test("minhash-lsh finds a planted near-dup and verifies exact jaccard") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val distinct = (100 to 140).map(i => s"z$i").mkString(" ")
    val pairs = Dedup.nearDupPairs(docsDf((1L, base), (2L, nearDup), (3L, distinct)), threshold = 0.5)
      .collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1 && p.getAs[Long]("doc_b") == 2)
    // exact jaccard: 38 shingles each, 37 shared → 37/39
    assert(math.abs(p.getAs[Double]("jaccard") - 37.0 / 39.0) < 1e-12)
  }

  test("stored near-dup index: bucketed banded layout, DPP-pruned serving read, " +
    "lookup matches the live pair computation") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val distinct = (100 to 140).map(i => s"z$i").mkString(" ")
    val distinct2 = (200 to 240).map(i => s"y$i").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("graft-ndidx").toString
    // round-trip the corpus through parquet: a LocalRelation query side
    // constant-folds its filter away and the DPP rule (which requires a
    // selective predicate on the probe side) never fires — file-backed
    // frames are also what the real entry points serve
    docsDf((1L, base), (2L, nearDup), (3L, distinct), (4L, distinct2))
      .write.parquet(s"$path/corpus")
    val corpus = spark.read.parquet(s"$path/corpus")
    Dedup.writeNearDupIndex(corpus, path, shingleK = 3)
    // layout: banded store landed partitioned by bucket
    val dirs = new java.io.File(s"$path/bands").list().filter(_.startsWith("bucket="))
    assert(dirs.nonEmpty, "expected bucket=N partition directories")
    // query doc 2 → its near-dup 1 (and NOT itself, nor the distinct docs).
    // reuseCandidates=false keeps the whole lookup in ONE plan so the DPP
    // assertion below can see the banded-store scan (the default path
    // checkpoints the candidate set into a separate execution)
    val servedDf = Dedup.nearDupLookup(spark, path, corpus.filter(col("doc_id") === 2L),
      shingleK = 3, threshold = 0.5, reuseCandidates = false)
    val served = servedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    assert(served.map(t => (t._1, t._2)).toSeq == Seq((2L, 1L)), served.mkString(", "))
    assert(math.abs(served.head._3 - 37.0 / 39.0) < 1e-12)
    // serving reads only the queries' buckets of the banded store
    val plan = servedDf.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the bands scan:\n$plan")
    // a tombstone-free store must serve WITHOUT the delete screen
    assert(!plan.contains("LeftAnti"),
      s"tombstone-free serving must not carry a delete anti-join:\n$plan")
  }

  test("index append: batch screens against the pre-append store only; " +
    "post-append lookups equal a from-scratch rebuild") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val nearDup2 = (1 to 40).map(i => if (i == 1) "ALSO" else s"w$i").mkString(" ")
    val distinct = (100 to 140).map(i => s"z$i").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("graft-ndapp").toString
    docsDf((1L, base), (2L, distinct), (10L, nearDup), (11L, nearDup2))
      .write.parquet(s"$path/corpus")
    val corpus = spark.read.parquet(s"$path/corpus")
    Dedup.writeNearDupIndex(corpus.filter(col("doc_id") < 10), path, shingleK = 3)
    // the batch holds TWO mutual near-dups (10, 11) plus doc 1's dups —
    // the screen must report only batch-vs-store pairs, never batch-internal
    val screened = Dedup.appendToNearDupIndex(corpus.filter(col("doc_id") >= 10), path,
      shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(screened == Set((10L, 1L), (11L, 1L)), screened.toString)
    // post-append, a lookup sees old AND new members — same as a rebuild
    val after = Dedup.nearDupLookup(spark, path, corpus.filter(col("doc_id") === 11L),
      shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-ndapp2").toString
    Dedup.writeNearDupIndex(corpus, rebuilt, shingleK = 3)
    val fromScratch = Dedup.nearDupLookup(spark, rebuilt, corpus.filter(col("doc_id") === 11L),
      shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == fromScratch && after == Set((11L, 1L), (11L, 10L)),
      s"append $after vs rebuild $fromScratch")
    // replaying the SAME batch is a no-op for the store (id anti-join):
    // the re-screen now also sees the admitted copies, but no table grows
    val sizesBefore = spark.read.parquet(s"$path/sizes").count()
    Dedup.appendToNearDupIndex(corpus.filter(col("doc_id") >= 10), path,
      shingleK = 3, threshold = 0.5).collect()
    assert(spark.read.parquet(s"$path/sizes").count() == sizesBefore,
      "replayed batch must not double-insert")
    // mismatched parameters fail fast instead of silently returning nothing
    val err = intercept[IllegalArgumentException] {
      Dedup.nearDupLookup(spark, path, corpus.filter(col("doc_id") === 11L),
        shingleK = 5, threshold = 0.5)
    }
    assert(err.getMessage.contains("was built with"), err.getMessage)
  }

  test("index compaction: file increments collapse (one file per bucket), lookups unchanged") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val others = (0 until 6).map(i => (30L + i, (100 to 140).map(j => s"z$i-$j").mkString(" ")))
    val path = java.nio.file.Files.createTempDirectory("graft-ndcomp").toString
    docsDf((Seq((1L, base), (20L, nearDup)) ++ others): _*).write.parquet(s"$path/corpus")
    val corpus = spark.read.parquet(s"$path/corpus")
    Dedup.writeNearDupIndex(corpus.filter(col("doc_id") < 10), path, shingleK = 3)
    // two append waves → per-wave file increments in every table
    Dedup.appendToNearDupIndex(corpus.filter(col("doc_id") >= 10 && col("doc_id") < 32), path,
      shingleK = 3, threshold = 0.5).collect()
    Dedup.appendToNearDupIndex(corpus.filter(col("doc_id") >= 32), path,
      shingleK = 3, threshold = 0.5).collect()
    def lookupSet() = Dedup.nearDupLookup(spark, path, corpus.filter(col("doc_id") === 20L),
      shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = lookupSet()
    def bucketFiles(): Map[String, Int] = new java.io.File(s"$path/bands").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(bucketFiles().values.exists(_ > 1), "appends should leave multi-file buckets")
    Dedup.compactNearDupIndex(spark, path)
    assert(bucketFiles().values.forall(_ == 1),
      s"compacted buckets must hold one file each: ${bucketFiles()}")
    assert(lookupSet() == before && before == Set((20L, 1L)),
      s"compaction must not change answers: $before vs ${lookupSet()}")
  }

  test("index append with dropMatched rejects near-dups of the existing corpus") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val fresh = (300 to 340).map(i => s"q$i").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("graft-nddrop").toString
    docsDf((1L, base), (20L, nearDup), (21L, fresh)).write.parquet(s"$path/corpus")
    val corpus = spark.read.parquet(s"$path/corpus")
    Dedup.writeNearDupIndex(corpus.filter(col("doc_id") < 10), path, shingleK = 3)
    Dedup.appendToNearDupIndex(corpus.filter(col("doc_id") >= 10), path,
      shingleK = 3, threshold = 0.5, dropMatched = true).collect()
    val admitted = spark.read.parquet(s"$path/sizes")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 21L), s"near-dup 20 must be rejected, got $admitted")
  }

  // ---- takedown / decontamination-removal lifecycle (deleteFromNearDupIndex,
  // the deferred-delete split of the reference's jobs/DeleteTenant.java) ----

  test("index delete: tombstone-append-only, the doc stops matching at once, " +
    "double/unregistered deletes no-op, compact purges physically and clears") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val nearDup2 = (1 to 40).map(i => if (i == 1) "ALSO" else s"w$i").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("graft-nddel").toString
    docsDf((1L, base), (10L, nearDup), (11L, nearDup2)).write.parquet(s"$path/corpus")
    val corpus = spark.read.parquet(s"$path/corpus")
    Dedup.writeNearDupIndex(corpus.filter(col("doc_id") >= 10), path, shingleK = 3)
    def hits() = Dedup.nearDupLookup(spark, path, corpus.filter(col("doc_id") === 1L),
      shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits() == Set((1L, 10L), (1L, 11L)))
    Dedup.deleteFromNearDupIndex(spark, path, Seq(10L).toDF("doc_id"))
    assert(hits() == Set((1L, 11L)), "tombstoned doc must stop matching at once")
    // the delete is append-only: every payload table still holds the doc
    // (live-store safe — no swap window), purge is compaction's job
    assert(spark.read.parquet(s"$path/sizes").filter(col("doc_id") === 10L).count() == 1)
    assert(spark.read.parquet(s"$path/shingles").filter(col("doc_id") === 10L).count() > 0)
    // replayed and never-registered deletes are no-ops
    Dedup.deleteFromNearDupIndex(spark, path, Seq(10L).toDF("doc_id"))
    Dedup.deleteFromNearDupIndex(spark, path, Seq(999L).toDF("doc_id"))
    assert(spark.read.parquet(s"$path/deleted_docs").count() == 1)
    assert(hits() == Set((1L, 11L)))
    // compact is the delete's physical half
    Dedup.compactNearDupIndex(spark, path)
    assert(hits() == Set((1L, 11L)), "answers must not move across the purge")
    Seq("bands", "signatures", "shingles", "sizes").foreach { t =>
      assert(spark.read.parquet(s"$path/$t").filter(col("doc_id") === 10L).count() == 0,
        s"$t must purge the tombstoned doc")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_docs")),
      "tombstones must clear once purged")
    // after the purge the id is deregistered — a re-delete is a no-op
    Dedup.deleteFromNearDupIndex(spark, path, Seq(10L).toDF("doc_id"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_docs")))
  }

  test("index delete then re-append WITHOUT compact: the revival purges ONLY " +
    "the revived id's stale rows (old text must NEVER match again), other " +
    "tombstones stay pending") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val distinct = (100 to 140).map(i => s"z$i").mkString(" ")
    val distinct2 = (200 to 240).map(i => s"y$i").mkString(" ")
    val newText = (300 to 340).map(i => s"q$i").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("graft-ndrev").toString
    docsDf((1L, base), (2L, distinct), (3L, distinct2)).write.parquet(s"$path/corpus")
    val corpus = spark.read.parquet(s"$path/corpus")
    Dedup.writeNearDupIndex(corpus, path, shingleK = 3)
    Dedup.deleteFromNearDupIndex(spark, path, Seq(1L, 3L).toDF("doc_id"))
    // doc 1 re-registers with NEW text — the stale-shingle hazard: if its
    // pre-delete rows survived, a query of the OLD text would still match
    Dedup.appendToNearDupIndex(docsDf((1L, newText)), path,
      shingleK = 3, threshold = 0.5).collect()
    def lookup(text: String) =
      Dedup.nearDupLookup(spark, path, docsDf((50L, text)),
        shingleK = 3, threshold = 0.5).collect()
        .map(r => (r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    assert(lookup(base).isEmpty, "the revived id's OLD text must not match")
    assert(lookup(newText) == Set((1L, 1.0)), "the NEW text serves at J=1")
    // the revival must not clear the UNRELATED pending tombstone (doc 3)
    assert(spark.read.parquet(s"$path/deleted_docs")
      .collect().map(_.getLong(0)).toSet == Set(3L))
    assert(lookup(distinct2).isEmpty, "doc 3 stays screened")
    assert(lookup(distinct) == Set((2L, 1.0)), "undeleted docs never flinch")
  }

  test("rebuilding a near-dup store at a path with pending tombstones must " +
    "not inherit them") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("graft-ndreb").toString
    docsDf((1L, base), (2L, nearDup)).write.parquet(s"$path/corpus")
    val corpus = spark.read.parquet(s"$path/corpus")
    Dedup.writeNearDupIndex(corpus, path, shingleK = 3)
    Dedup.deleteFromNearDupIndex(spark, path, Seq(1L).toDF("doc_id"))
    // overwrite-rebuild at the same path — prior deletes are history
    Dedup.writeNearDupIndex(corpus, path, shingleK = 3)
    val got = Dedup.nearDupLookup(spark, path, docsDf((50L, base)),
      shingleK = 3, threshold = 0.5).collect().map(_.getLong(1)).toSet
    assert(got == Set(1L, 2L), s"rebuilt store must serve its whole corpus, got $got")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_docs")))
  }

  test("near-dup clusters: components collapse to min doc id, chains converge") {
    val s = spark
    import s.implicits._
    // chain 1-2-3 (transitive near-dups) + pair 7-9 + isolated docs absent
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    // driver union-find path (default: edge count under the limit)
    val uf = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == expect)
    // forced distributed label-propagation path must agree
    val dist = Dedup.nearDupClusters(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect)
  }

  test("cluster paths agree on self-loops (isolated self-paired doc kept)") {
    val s = spark
    import s.implicits._
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 5L -> 5L)
    assert(Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
    assert(Dedup.nearDupClusters(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
  }

  test("distributed clusters: long chain converges (pointer jumping)") {
    val s = spark
    import s.implicits._
    // a 30-node chain — diameter 29; pointer jumping must converge fast
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.distributedClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 30L).toSet)
    assert(got.values.forall(_ == 1L))
  }

  // ---- SimHash ----

  test("simhash: identical docs at distance 0; banded pairs find them") {
    val d = docsDf((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"), (3L, "completely different words here"))
    val fp = Dedup.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    val pairs = Dedup.simHashPairs(d, maxHamming = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getAs[Int]("hamming") == 0)
  }

  // ---- similarity ----

  test("cosine: parallel=1, orthogonal=0; top-k ranks correctly") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    val corpus = Seq(
      (1L, vec(1, 0), 0), (2L, vec(2, 0), 0), // parallel to q
      (3L, vec(0, 1), 0),                     // orthogonal
      (4L, vec(1, 1), 0)                      // 45°
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, vec(1, 0), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.bruteForceTopK(corpus, queries, 3).orderBy(desc("cosine"))
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.head._1 == 2L && math.abs(got.head._2 - 1.0) < 1e-12)
    assert(math.abs(got(1)._2 - math.sqrt(0.5)) < 1e-12) // 45°
    assert(got(2)._1 == 3L && math.abs(got(2)._2) < 1e-12)
  }

  test("ivf probes nearest cells only") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    // cell 0 clustered on axis x, cell 1 on axis y, query on x
    val corpus = Seq(
      (1L, vec(1, 0.1), 0), (2L, vec(1, -0.1), 0),
      (3L, vec(0.1, 1), 1), (4L, vec(-0.1, 1), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((99L, vec(1, 0), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfTopK(corpus, queries, 2, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(1L, 2L)) // only cell 0 probed
  }

  test("k-means IVF: Lloyd training recovers clusters the seeds split badly") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    // both seeds (vec 0, vec 1) start inside the x-axis cluster; Lloyd
    // must migrate cell 1 onto the y-axis cluster within two iterations
    val corpus = Seq(
      (0L, vec(1, 0), 0), (1L, vec(0.9, 0.1), 0), (2L, vec(1, 0.05), 0),
      (3L, vec(0, 1), 0), (4L, vec(0.05, 1), 0), (5L, vec(-0.05, 1), 0)
    ).toDF("vec_id", "embedding", "label")
    val model = Similarity.kmeansCentroids(corpus, k = 2, iters = 2)
    assert(model.map(_._1).sorted == Seq(0, 1))
    val c0 = model.find(_._1 == 0).get._2
    val c1 = model.find(_._1 == 1).get._2
    assert(c0(0) > 0.9 && c0(1) < 0.1)               // x-axis cluster mean
    assert(c1(1) > 0.9 && math.abs(c1(0)) < 0.1)     // y-axis cluster mean
    val queries = Seq((99L, vec(1, 0), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfKmeansTopK(corpus, queries, 3, nprobe = 1, kCells = 2, iters = 2)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(0L, 1L, 2L)) // only the trained x cell probed
  }

  test("duplicateSpans: repeated grams merge into maximal spans, within-doc repeats count") {
    val d = docsDf(
      1L -> "x1 x2 a b c x3 x4",      // one duplicated 3-gram at pos 2
      2L -> "y1 a b c y2 a b c y3",   // SAME doc repeats it — two disjoint spans
      3L -> "a b c d",                // overlapping duplicated grams at pos 0 and 1
      4L -> "a b c d")                // ... merge into ONE maximal span
    val got = TextOps.duplicateSpans(d, gramK = 3, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 2L, 5L, 3L),
      (2L, 1L, 4L, 3L), (2L, 5L, 8L, 3L),
      (3L, 0L, 4L, 4L), (4L, 0L, 4L, 4L)))
  }

  test("duplicateSpans skewSafe plan is output-identical, including a mega-hot gram") {
    // 40 copies of one gram (the boilerplate shape the skew-safe plan
    // exists for) + the structured cases above
    val d = docsDf((Seq(
      1L -> "x1 x2 a b c x3 x4",
      2L -> "y1 a b c y2 a b c y3",
      3L -> "a b c d",
      4L -> "a b c d") ++ (100 until 140).map(i => i.toLong -> s"pre$i a b c post$i")): _*)
    def run(safe: Boolean) = TextOps.duplicateSpans(d, gramK = 3, minCount = 2, skewSafe = safe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(run(true) == run(false))
    // the CUT steps share the switch: aggregate-elected winners (min
    // struct) must equal the window's row_number election
    def stats(safe: Boolean) = TextOps.spanDedupStats(d, gramK = 3, minCount = 2,
      skewSafe = safe).collect().map(_.toSeq).toSet
    assert(stats(true) == stats(false))
    def text(safe: Boolean) = TextOps.spanDedupText(d, gramK = 3, minCount = 2,
      skewSafe = safe).collect().map(_.toSeq).toSet
    assert(text(true) == text(false))
  }

  test("spanDedupStats: first occurrence wins, loser spans merge, clean docs report zero") {
    val d = docsDf(
      1L -> "x1 x2 a b c x3 x4",      // holds the global first "a b c" — wins
      2L -> "y1 a b c y2 a b c y3",   // two losing occurrences, disjoint spans
      3L -> "a b c d",                // loses "a b c", KEEPS "b c d" (its first)
      4L -> "a b c d")                // loses both grams — overlap merges to one span
    val got = TextOps.spanDedupStats(d, gramK = 3, minCount = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == Set(
      (1L, 7L, 0L, 0L, 7L),
      (2L, 9L, 2L, 6L, 3L),
      (3L, 4L, 1L, 3L, 1L),
      (4L, 4L, 1L, 4L, 0L)))
  }

  test("dsirWeights: target-vocabulary docs outscore raw-only docs; feature count = uni+bi") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta alpha beta", "tgt"),
      (2L, "alpha beta gamma", "tgt"),
      (3L, "delta epsilon delta epsilon", "web"),
      (4L, "alpha beta alpha", "web"),       // target-looking doc in the raw pool
      (5L, "delta epsilon zeta", "web")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.dsirWeights(d, isTarget = col("source") === "tgt", buckets = 1024)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got(1L)._1 == 7L) // 4 unigrams + 3 bigrams
    assert(got(2L)._1 == 5L)
    // docs made of target n-grams score above docs of raw-only n-grams —
    // including doc 4, which DSIR would up-weight out of the raw pool
    assert(got(1L)._2 > got(3L)._2 && got(4L)._2 > got(3L)._2)
    assert(got(4L)._2 > got(5L)._2)
  }

  test("semDedup: within-cell duplicates keep the farthest-from-centroid example") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    // x cell: 0 and 2 identical, 3 a near-dup ~5.7° off-axis (the most
    // atypical of the three); y cell: 1 and 4 identical
    val corpus = Seq(
      (0L, vec(1, 0), 0), (1L, vec(0, 1), 0), (2L, vec(1, 0), 0),
      (3L, vec(0.995, 0.0998), 0), (4L, vec(0, 1), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedup(corpus, threshold = 0.95, kCells = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // x cell: all three are mutual duplicates at 0.95 — only the LOWEST
    // centroid-cosine member (3) survives, per the paper's keep rule;
    // y cell: the ccos tie breaks to the lower vec_id (1)
    assert(out.keySet == Set(1L, 3L))
    assert(out.values.toSet.size == 2) // survivors sit in different cells
    // tighten the threshold past the near-dup: only exact pairs collapse
    val strict = Similarity.semDedup(corpus, threshold = 0.9999, kCells = 2, iters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(0L, 1L, 3L))
  }

  test("srp threshold pairs: same-bucket pairs scored, cross-bucket pairs skipped") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    // planes = vec 0 (x-axis) and vec 1 (y-axis)
    val corpus = Seq(
      (0L, vec(1, 0), 0),       // bucket 11b
      (1L, vec(0, 1), 0),       // bucket 11b
      (2L, vec(1, 0.1), 0),     // bucket 11b — near-dup of 0, same bucket
      (3L, vec(-1, -0.1), 0),   // bucket 00b — alone
      (5L, vec(0.1, -0.001), 0) // bucket 01b — near-dup of 0 but CROSS-bucket
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.srpThresholdPairs(corpus, 0.9, numPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (0,2) found in-bucket; (0,5)/(2,5) are above threshold but bucketed
    // apart — the documented recall trade of the LSH path
    assert(got == Set((0L, 2L)))
  }

  test("large-k assignment UDF matches the literal-projection plan") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, sqrt}
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(graft.plans.VectorDot(col("embedding"), col("embedding"))))
    val cents = (0 until 5).map(i => (i, Array.fill(64)(rnd.nextDouble() * 2 - 1))).toSeq
    def cells(c: org.apache.spark.sql.Column) =
      df.withColumn("cell", c).select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lit = cells(Similarity.nearestCell(cents, "embedding", "nrm"))
    val byUdf = cells(Similarity.nearestCellUdf(cents, "embedding", "nrm"))
    assert(lit == byUdf)
    assert(lit.values.toSet.size > 1) // a non-degenerate assignment
  }

  test("multi-table SRP recovers pairs a single plane set splits") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    // table 0 planes = vecs 0,1 (x and y axis); table 1 planes = vecs 2,3
    // (both near the x axis). Vec 5 sits just below the x axis: the y-axis
    // plane splits (0,5), but both table-1 planes agree → found in table 1.
    val corpus = Seq(
      (0L, vec(1, 0), 0), (1L, vec(0, 1), 0),
      (2L, vec(1, 0.05), 0), (3L, vec(0.9, 0.1), 0),
      (5L, vec(0.1, -0.001), 0)
    ).toDF("vec_id", "embedding", "label")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Similarity.srpThresholdPairs(corpus, 0.9, numPlanes = 2))
    val multi = pairs(Similarity.srpMultiTablePairs(corpus, 0.9, numPlanes = 2, numTables = 2))
    assert(single.subsetOf(multi))
    assert(!single.contains((0L, 5L)) && multi.contains((0L, 5L)))
  }

  // ---- text ops ----

  test("text stats on a known sentence") {
    val r = TextOps.textStats(docsDf((1L, "the cat sat on the mat !!"))).collect().head
    assert(r.getAs[Long]("n_words") == 7)
    assert(r.getAs[Long]("n_chars_calc") == 25)
    assert(r.getAs[Long]("n_punct") == 2)
    assert(math.abs(r.getAs[Double]("ttr") - 6.0 / 7.0) < 1e-6)      // 'the' repeats
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 7.0) < 1e-6)
  }

  test("repetition signals: top-bigram share, dup-5-gram share, flag, short docs") {
    val out = TextOps.repetitionStats(docsDf(
      (1L, "a b a b a b x y"),       // bigrams: ab ba ab ba ab bx xy (7, top=3)
      (2L, "u v w x y z"),           // all bigrams unique → top 1/5, no dup 5-grams
      (3L, "t t t t t t t t t t"),   // fully degenerate: every gram identical
      (4L, "one"))).collect()        // 1 token: no bigrams at all
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_bigrams") == 7)
    assert(math.abs(out(1L).getAs[Double]("top_bigram_frac") - 3.0 / 7.0) < 1e-6)
    assert(out(1L).getAs[Boolean]("flag_repetitive")) // 0.43 > 0.20
    assert(math.abs(out(2L).getAs[Double]("top_bigram_frac") - 0.2) < 1e-6)
    assert(out(2L).getAs[Double]("dup_5gram_frac") == 0.0)
    assert(!out(2L).getAs[Boolean]("flag_repetitive"))
    assert(out(3L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(out(3L).getAs[Double]("dup_5gram_frac") == 1.0) // 6 identical 5-grams
    assert(out(3L).getAs[Boolean]("flag_repetitive"))
    assert(out(4L).getAs[Long]("n_bigrams") == 0)
    assert(out(4L).getAs[Double]("top_bigram_frac") == 0.0)
    assert(!out(4L).getAs[Boolean]("flag_repetitive"))
  }

  test("qualityFilter: rule-order reasons, empty reasons ⇒ passed") {
    val good = "the " + (1 to 29).map(i => f"word$i%02d").mkString(" ") // 30 tokens, 1 stopword
    val short = "ab cd"                                                // 2 tokens, no stopwords
    val degenerate = Seq.fill(30)("the").mkString(" ")                 // 30 × "the"
    val out = TextOps.qualityFilter(docsDf((1L, good), (2L, short), (3L, degenerate)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("passed"), out(1L).toString)
    assert(out(1L).getAs[String]("fail_reasons") == "")
    // 2 words < 25; avg len (5-1)/2 = 2 < 3; stopword ratio 0 < 0.03; the
    // single bigram is 100% of occurrences → repetition fires too (rules
    // are independent signals; word_count is what actually drops tiny docs)
    assert(out(2L).getAs[String]("fail_reasons")
      == "word_count,word_length,stopwords,repetition")
    // ttr 1/30 < 0.35; top bigram "the the" takes all 29 occurrences
    assert(out(3L).getAs[String]("fail_reasons") == "diversity,repetition")
    assert(!out(3L).getAs[Boolean]("passed"))
  }

  test("corpusDrift: identical sources score ~0; a shifted source scores higher; " +
    "smoothing covers tokens absent from a source") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c a b c", "A"), (2L, "a b c a b c", "B"),
      (3L, "x x x x y y", "C")) // disjoint vocabulary from A/B
      .toDF("doc_id", "text", "source")
    val got = TextOps.corpusDrift(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("A")._1 == 6L && got("C")._1 == 6L)
    // A vs rest(B+C): same a/b/c mass plus alien x/y → small positive KL;
    // C vs rest: fully disjoint → much larger
    assert(got("C")._2 > got("A")._2 * 2,
      s"disjoint source must drift more: $got")
    assert(got("A")._2 >= 0.0 && got("A")._2 == got("B")._2,
      s"symmetric identical sources must tie: $got")
  }

  test("qualityCalibration: per-source percent_rank, keep-top-fraction verdict") {
    val s = spark
    import s.implicits._
    // source A: scores 1.0, 0.5, 1/3 (3 docs); source B: one doc (pct 0)
    val docs = Seq(
      (1L, "a b c", "A"), (2L, "a a b b", "A"), (3L, "a a a", "A"),
      (9L, "x y", "B")).toDF("doc_id", "text", "source")
    val got = TextOps.qualityCalibration(docs, keepFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("pct"), r.getAs[Boolean]("kept"))).toMap
    // A ordered by score asc: doc3 (1/3) → 0.0, doc2 (0.5) → 0.5, doc1 (1.0) → 1.0
    assert(got(3L) == (0.0, false))
    assert(got(2L) == (0.5, true))  // 0.5 >= 1-0.5
    assert(got(1L) == (1.0, true))
    // single-doc source: percent_rank 0 → dropped at keepFrac 0.5 (the
    // documented n=1 degeneracy of rank calibration)
    assert(got(9L) == (0.0, false))
    intercept[IllegalArgumentException] {
      TextOps.qualityCalibration(docs, keepFrac = 0.0)
    }
  }

  test("qualityCalibrationScalable: keep set identical to the window form " +
    "across keepFracs, ties, and single-doc sources") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77L)
    // random docs with many score ties (small vocab) + a lone-doc source
    val docs = ((1 to 120).map { i =>
      val words = (1 to (2 + rnd.nextInt(6))).map(_ => s"w${rnd.nextInt(4)}")
      (i.toLong, words.mkString(" "), s"s${rnd.nextInt(3)}")
    } :+ ((999L, "solo doc here", "lonely"))).toDF("doc_id", "text", "source")
    for (kf <- Seq(0.25, 0.4, 0.5, 1.0); bins <- Seq(2, 16)) {
      val window = TextOps.qualityCalibration(docs, kf)
        .select("doc_id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val scalable = TextOps.qualityCalibrationScalable(docs, kf, bins)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(scalable == window, s"keepFrac=$kf bins=$bins")
    }
  }

  test("vocabulary: doc-freq ranking, lexicographic ties, topN cut") {
    val got = TextOps.vocabulary(docsDf((1L, "a b a"), (2L, "a c"), (3L, "b b")), topN = 2)
      .orderBy("rank").collect()
    // a and b tie on doc_freq 2 → 'a' ranks first; c (df 1) cut by topN
    assert(got.length == 2)
    assert(got(0).getAs[String]("token") == "a" && got(0).getAs[Long]("doc_freq") == 2
      && got(0).getAs[Long]("term_freq") == 3 && got(0).getAs[Long]("rank") == 1)
    assert(got(1).getAs[String]("token") == "b" && got(1).getAs[Long]("term_freq") == 3
      && got(1).getAs[Long]("rank") == 2)
  }

  test("tfidfTerms: distinctive terms outrank ubiquitous ones") {
    val out = TextOps.tfidfTerms(docsDf(
      (1L, "apple banana apple"),   // apple df=1 tf=2; banana df=3
      (2L, "banana cherry"),        // cherry df=1
      (3L, "banana banana banana")), topK = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: apple tfidf = 2·ln(3) beats banana's tf·ln(1) = 0
    assert(out(1L).getAs[String]("token") == "apple")
    assert(math.abs(out(1L).getAs[Double]("tfidf") - 2.197225) < 1e-9)
    assert(out(1L).getAs[Long]("tf") == 2 && out(1L).getAs[Long]("doc_freq") == 1)
    assert(out(2L).getAs[String]("token") == "cherry")
    // doc 3 has only the everywhere-token: tfidf 0, still ranked 1
    assert(out(3L).getAs[String]("token") == "banana")
    assert(out(3L).getAs[Double]("tfidf") == 0.0)
    assert(out(3L).getAs[Long]("term_rank") == 1)
  }

  test("labelCentroids: distributed mean, member-to-centroid cosines") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    val e = Seq(
      (1L, vec(1, 0), 0), (2L, vec(0, 1), 0), // centroid (0.5, 0.5), norm √0.5
      (3L, vec(2, 0), 1)                      // singleton: centroid = itself
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(e).collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getAs[Long]("n_vecs") == 2)
    assert(math.abs(out(0).getAs[Double]("centroid_norm") - 0.707107) < 1e-6)
    // each member is 45° off the diagonal centroid → cos = √0.5 for both
    assert(math.abs(out(0).getAs[Double]("avg_cosine") - 0.7071) < 1e-9)
    assert(out(0).getAs[Double]("min_cosine") == out(0).getAs[Double]("max_cosine"))
    assert(out(1).getAs[Long]("n_vecs") == 1)
    assert(out(1).getAs[Double]("centroid_norm") == 2.0)
    assert(out(1).getAs[Double]("avg_cosine") == 1.0)
  }

  test("BPE-ish token count splits words, digits, punctuation") {
    val r = TextOps.tokenCounts(docsDf((1L, "abc12 def!"))).collect().head
    // tokens: abc, 12, def, !
    assert(r.getAs[Long]("n_tokens") == 4)
  }

  test("fingerprint stable under distant edit, changes under shingle-zone edit") {
    val t1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val fps = TextOps.fingerprints(docsDf((1L, t1), (2L, t1))).collect()
    assert(fps(0).getString(1) == fps(1).getString(1))
    assert(fps(0).getString(2) == fps(1).getString(2))
  }

  // ---- multimodal ----

  test("multimodal stub decode: byte length, header, checksum") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "AB", "en", "src4", 2L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.mediaFeatures(docs).collect().head
    assert(r.getAs[String]("modality") == "audio") // 4 % 3 = 1 → index 2
    assert(r.getAs[Long]("byte_len") == 2)
    assert(r.getAs[String]("header_hex") == "4142")
    assert(r.getAs[Long]("checksum") == 'A'.toLong + 'B'.toLong)
  }

  test("frame sample: fixed windows, every-Nth kept, short tail frame") {
    val s = spark
    import s.implicits._
    // source id 5 → 5 % 3 = 2 → 'video'; 10 bytes / frame=4 → frames 0,1,2
    val docs = Seq((1L, "0123456789", "en", "src5", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Multimodal.frameSample(Multimodal.asMediaFrame(docs), frameBytes = 4, everyNth = 2)
      .orderBy("frame_idx").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(0L, 2L)) // frame 1 skipped
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    assert(got(0).getString(2) == md5hex("0123")) // full frame
    assert(got(1).getString(2) == md5hex("89"))   // 2-byte tail
  }

  test("resize stub: strided byte sampling halves length deterministically") {
    val s = spark
    import s.implicits._
    // source id 3 → 3 % 3 = 0 → 'image'
    val docs = Seq((1L, "ABCDEFGH", "en", "src3", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.resizeStub(Multimodal.asMediaFrame(docs), stride = 2).collect().head
    assert(r.in_len == 8 && r.out_len == 4)
    assert(r.out_checksum == "ACEG".map(_.toLong).sum)
  }

  test("PPM decoder: real Netpbm P6 parse — comments, whitespace, geometry, " +
    "pixel walk; malformed/truncated payloads answer None") {
    // hand-built 2x2 P6 with a header comment
    val pix = Array.tabulate[Byte](12)(i => (i * 10).toByte)
    val good = "P6\n# a comment\n2 2\n255\n".getBytes("UTF-8") ++ pix
    val img = Multimodal.decodePpm(good).get
    assert(img.width == 2 && img.height == 2 && img.maxVal == 255)
    assert(img.pixels.toSeq == pix.toSeq)
    assert(Multimodal.decodePpm("P5\n2 2\n255\n".getBytes ++ pix).isEmpty) // wrong magic
    assert(Multimodal.decodePpm(good.dropRight(1)).isEmpty)                // truncated
    assert(Multimodal.decodePpm("P6\n0 2\n255\n".getBytes).isEmpty)        // zero dim
  }

  test("asPpmFrame → decodePpmFrames: synthesized payload is a VALID P6 the " +
    "real decoder round-trips; geometry and checksum match the formulas") {
    val s = spark
    import s.implicits._
    val text = "hello world" // len 11 → w = 4 + 11%13 = 15, h = 3 + 11%7 = 7
    val docs = Seq((1L, text, "en", "src3", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.decodePpmFrames(Multimodal.asPpmFrame(docs)).collect().head
    assert(r.width == 15 && r.height == 7 && r.n_pixels == 105)
    val np = 15 * 7 * 3
    val expect = (0 until np).map(i => text.charAt(i % 11).toLong).sum
    assert(r.pixel_checksum == expect)
  }

  test("ppmResize: real nearest-neighbor ×2 stride geometry on a hand-built " +
    "4x3 image — out(x,y) = in(2x,2y), valid re-encoded P6 length") {
    val s = spark
    import s.implicits._
    // 4x3 image, pixel (x,y) has bytes (v,v,v) with v = y*4 + x
    val pix = Array.tabulate[Byte](4 * 3 * 3) { i => (i / 3).toByte }
    val payload = "P6\n4 3\n255\n".getBytes("UTF-8") ++ pix
    val media = Seq((7L, payload, "image")).toDF("doc_id", "payload", "modality")
    val r = Multimodal.ppmResize(media).collect().head
    assert(r.width == 4 && r.height == 3 && r.out_w == 2 && r.out_h == 1)
    // picked pixels: (0,0) → v=0, (2,0) → v=2; checksum = 3*(0 + 2)
    assert(r.out_checksum == 6L)
    assert(r.out_len == "P6\n2 1\n255\n".length + 2 * 1 * 3)
  }

  test("frameSearchIvf: probing EVERY cell equals the exact brute-force " +
    "frame search (recall = 1 when nprobe = kCells), on dims=8 vectors " +
    "through the Dim-generic k-means machinery") {
    val s = spark
    import s.implicits._
    // source id 5 → video; enough text for several 64-byte frames each
    val docs = (0L until 6L).map(i =>
      (i, (s"alpha$i beta gamma delta epsilon zeta eta theta iota kappa " * 8).trim,
        "en", "src5", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.asMediaFrame(docs)
    val exact = Multimodal.frameSearch(media, maxQueryDoc = 2L, k = 3)
      .select("q_doc", "q_frame", "doc_id", "frame_idx", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sorted.toSeq
    val ivf = Multimodal.frameSearchIvf(media, maxQueryDoc = 2L, k = 3,
      kCells = 4, nprobe = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sorted.toSeq
    assert(ivf == exact, "full probing must reduce to the exact search")
  }

  test("GV1 demux: real frame-boundary arithmetic — header-computed strides, " +
    "every-Nth sampling, truncated container answers no frames") {
    val s = spark
    import s.implicits._
    // 3 frames of 1x1 (3 bytes each)
    val frames = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9)
    val payload = "GV1\n3 1 1\n".getBytes("UTF-8") ++ frames
    val v = Multimodal.demuxVideo(payload).get
    assert(v.nFrames == 3 && v.width == 1 && v.height == 1)
    assert(v.frames(1).toSeq == Seq[Byte](4, 5, 6))
    assert(Multimodal.demuxVideo(payload.dropRight(1)).isEmpty) // truncated
    // hostile geometry: w*h*3 wraps Int — must refuse, not crash the task
    assert(Multimodal.demuxVideo("GV1\n1 30000 30000\nxx".getBytes("UTF-8")).isEmpty)
    val media = Seq((9L, payload, "video")).toDF("doc_id", "payload", "modality")
    val got = Multimodal.sampleVideoFrames(media, everyNth = 2)
      .collect().sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq == Seq(0L, 2L))
    assert(got(1).frame_bytes.toSeq == Seq[Byte](7, 8, 9))
  }

  test("deterministic sample: content-hash fate, stratified rates, edge rates") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", "en"), (2L, "alpha beta gamma", "de"), // same text
      (3L, "delta epsilon", "en"), (4L, "zeta eta theta", "fr")
    ).toDF("doc_id", "text", "lang")
    // rate 1.0 keeps everything, 0.0 drops everything
    assert(TextOps.deterministicSample(docs, Map(), defaultRate = 1.0).count() == 4)
    assert(TextOps.deterministicSample(docs, Map(), defaultRate = 0.0).count() == 0)
    // same text → same bucket (the dedup-composability property)
    val buckets = TextOps.deterministicSample(docs, Map(), defaultRate = 1.0)
      .select("doc_id", "sample_bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L))
    // stratification: en kept at 1.0 while others drop at 0.0
    val en = TextOps.deterministicSample(docs, Map("en" -> 1.0), defaultRate = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(en == Set(1L, 3L))
  }

  test("corpus shards: quality+lang filter, dedup survivorship, stable assignment") {
    val s = spark
    import s.implicits._
    // 44 distinct words (ttr 1.0), 4 en markers, length ≥ 30
    val en = (1 to 40).map(i => s"tok$i").mkString(" ") + " the of is a"
    val docs = Seq(
      (1L, en, "en", "s1", 0L),
      (2L, en, "en", "s1", 0L),                        // exact dup of 1 → dropped
      (3L, "der und nicht kurz", "de", "s1", 0L),      // de → dropped
      (4L, "the a short one", "en", "s1", 0L)          // too short → dropped
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.corpusShards(docs, nShards = 4).collect()
    assert(got.length == 1) // only doc 1 survives
    val r = got.head
    assert(r.getAs[Long]("n_docs") == 1)
    assert(r.getAs[Long]("min_doc_id") == 1 && r.getAs[Long]("max_doc_id") == 1)
    assert(r.getAs[Long]("n_tokens") > 0)
  }

  test("near-dup shard pipeline drops LSH cluster losers exact dedup misses") {
    val s = spark
    import s.implicits._
    val en = (1 to 40).map(i => s"tok$i").mkString(" ") + " the of is a"
    // doc 2 is a NEAR dup of 1 (one word changed → J ≈ 0.87, no exact match)
    val nearDup = (1 to 40).map(i => if (i == 40) "tokX" else s"tok$i").mkString(" ") +
      " the of is a"
    val docs = Seq(
      (1L, en, "en", "s1", 0L),
      (2L, nearDup, "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // exact-only pipeline keeps both; near-dup pipeline keeps just doc 1
    assert(TextOps.corpusShards(docs, nShards = 4).collect().map(_.getAs[Long]("n_docs")).sum == 2)
    val got = TextOps.corpusShardsNearDup(docs, nShards = 4).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == 1)
    assert(got.head.getAs[Long]("min_doc_id") == 1)
  }

  test("vocabCoverage: top-N occurrence share with exact counts") {
    // tokens: a×3, b×2, c×1 (total 6); top-2 by doc freq = a (df 2), b (df 2)
    val docs = docsDf((1L, "a a b c"), (2L, "a b"))
    val got = TextOps.vocabCoverage(docs, topN = 2).collect().head
    assert(got.getAs[Long]("top_n") == 2L)
    assert(got.getAs[Long]("covered_tf") == 5L)
    assert(got.getAs[Long]("total_tf") == 6L)
    assert(got.getAs[Double]("coverage") == 0.833333)
  }

  test("normalizedDedup: case/punct/digit/whitespace jitter collapses to one survivor; " +
    "empty normal forms never group") {
    val docs = docsDf(
      (1L, "Hello, World 42!"),
      (2L, "hello world 7"),      // same canonical form: digits→0, punct gone
      (3L, "hello  world"),       // different: no digit token
      (4L, "HELLO \n world.\t 0"), // newline/tab jitter — canonical twin of 1/2
      (5L, "!!!"),                 // normalizes to EMPTY —
      (6L, "???"))                 // — must NOT group with doc 5
    val got = TextOps.normalizedDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("keep_id"), r.getAs[Boolean]("is_survivor"))).toMap
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((1L, false)) && got(4L) == ((1L, false)))
    assert(got(3L) == ((3L, true)))
    assert(got(5L) == ((5L, true)) && got(6L) == ((6L, true)))
  }

  test("corpusReport: per-source mass, dup rate, language share") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the a of is the cat", "en", "srcA"), // english markers → en
      (2L, "the a of is the cat", "en", "srcA"), // exact dup of doc 1
      (3L, "zzz qqq www rrr sss", "en", "srcB")  // no markers → und
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.corpusReport(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("srcA").getAs[Long]("n_docs") == 2L)
    assert(got("srcA").getAs[Long]("n_tokens") == 12L)
    assert(got("srcA").getAs[Long]("n_unique") == 1L)
    assert(got("srcA").getAs[Double]("dup_frac") == 0.5)
    assert(got("srcA").getAs[Double]("en_frac") == 1.0)
    assert(got("srcB").getAs[Double]("dup_frac") == 0.0)
    assert(got("srcB").getAs[Double]("en_frac") == 0.0)
  }

  test("mixCorpus: rates derived from token mass, clamp at 1.0, zero-share dropped") {
    val s = spark
    import s.implicits._
    // srcA: 60 tokens across 2 docs, srcB: 20, srcC: 20 → total 100
    val docs = Seq(
      (1L, Seq.fill(30)("a").mkString(" "), "srcA"),
      (2L, Seq.fill(30)("b").mkString(" "), "srcA"),
      (3L, Seq.fill(20)("c").mkString(" "), "srcB"),
      (4L, Seq.fill(20)("d").mkString(" "), "srcC")
    ).toDF("doc_id", "text", "source")
    // budget 40% of 100 = 40 tokens: srcB wants 0.9·40=36 of its 20 → clamp 1.0
    // (keeps BOTH = all its docs); srcA wants 0.1·40=4 of 60 → rate 0.066667;
    // srcC has share 0 → absent from the output entirely
    val got = TextOps.mixCorpus(docs, Map("srcA" -> 0.1, "srcB" -> 0.9), budgetFrac = 0.4)
      .collect().map(r => r.getAs[String]("stratum") ->
        (r.getAs[Double]("rate"), r.getAs[Long]("n_docs_kept"), r.getAs[Long]("n_tokens_kept"))).toMap
    assert(!got.contains("srcC"))
    assert(got("srcB") == ((1.0, 1L, 20L))) // clamped, keeps everything it has
    got.get("srcA").foreach { case (rate, _, _) => assert(rate == 0.066667) }
    // srcA at rate 0.0667 over 2 docs keeps 0..2 docs — only the rate is exact
  }

  test("unigramSurprisal: hand-computed cross-entropy, micro-nat determinism") {
    val s = spark
    import s.implicits._
    // corpus: a a b | b c → cnt(a)=2, cnt(b)=2, cnt(c)=1, total=5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextOps.unigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: every token has p=2/5 → CE = ln(2.5) = 0.916291 at 6 places
    assert(got(1L).getAs[Long]("n_tokens") == 3L)
    assert(got(1L).getAs[Double]("cross_entropy") == 0.916291)
    assert(math.abs(got(1L).getAs[Double]("ppl") - 2.5) < 1e-3)
    // doc 2: (ln 2.5 + ln 5)/2 — micro-nat sum (916291 + 1609438)/2e6
    assert(got(2L).getAs[Long]("n_tokens") == 2L)
    assert(math.abs(got(2L).getAs[Double]("cross_entropy") - 1.2628645) < 1e-6)
  }

  test("bigramSurprisal: hand-computed conditional cross-entropy") {
    // bigrams: doc1 "x y"×2 "y x"×1, doc2 "x z"×1 → starts x:3, y:1
    // surprisal: "x y"=ln(3/2), "y x"=ln(1/1)=0, "x z"=ln(3/1)
    val got = TextOps.bigramSurprisal(docsDf((1L, "x y x y"), (2L, "x z")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_bigrams") == 3L)
    // (2·round(ln1.5·1e6) + 0) / 1e6 / 3 = 810930/3e6 = 0.27031
    assert(got(1L).getAs[Double]("cross_entropy") == 0.27031)
    assert(got(2L).getAs[Long]("n_bigrams") == 1L)
    assert(got(2L).getAs[Double]("cross_entropy") == 1.098612)
    // a 1-token document has no bigrams and is absent
    assert(TextOps.bigramSurprisal(docsDf((9L, "solo"))).count() == 0)
  }

  test("packBatches: shard-local prefix packing matches a local recomputation") {
    val s = spark
    import s.implicits._
    def md5hex(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = (1L to 12L).map(i => i -> Seq.fill(i.toInt * 3)(s"w$i").mkString(" "))
    val got = TextOps.packBatches(texts.toDF("doc_id", "text"),
      budgetTokens = 20, nShards = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Long]("batch_in_shard"))).toMap
    // recompute expected locally: shard by hash slice, order by (md5, id), pack
    val expected = texts
      .map { case (id, t) =>
        val bucket = java.lang.Long.parseLong(md5hex(t).substring(0, 15), 16) % 2
        (id, bucket, t.split(" ").length.toLong, md5hex(t))
      }
      .groupBy(_._2).flatMap { case (_, rows) =>
        rows.sortBy(r => (r._4, r._1)).foldLeft((0L, List.empty[(Long, Long, Long)])) {
          case ((prefix, acc), (id, shard, n, _)) =>
            (prefix + n, (id, shard, prefix / 20) :: acc)
        }._2
      }.map { case (id, shard, batch) => id -> ((shard, batch)) }.toMap
    assert(got == expected)
  }

  test("PQ: codes recover the generating label; ADC reconstructs the dot") {
    val s = spark
    import s.implicits._
    // two point-mass labels: every label-0 vector is u=+1⁶⁴, label-1 is
    // v=−1⁶⁴ → codebooks are exactly u/v per subspace, so encoding must
    // emit the generating label in all 8 subspaces
    val u = Array.fill(64)(1.0f)
    val v = Array.fill(64)(-1.0f)
    val corpus = ((1L to 4L).map((_, u, 0)) ++ (5L to 8L).map((_, v, 1)))
      .toDF("vec_id", "embedding", "label")
    val codes = Similarity.pqEncode(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(codes(1L) == "0,0,0,0,0,0,0,0" && codes(5L) == "1,1,1,1,1,1,1,1")
    // ADC score of a label-0 query against a label-0 neighbor = ⟨u,u⟩ = 64;
    // against label-1 = ⟨u,v⟩ = −64 — ranked below
    val got = Similarity.pqTopK(corpus, corpus.filter(col("vec_id") === 1L), 5)
      .orderBy(col("adc_score").desc, col("neighbor_id")).collect()
    assert(got.length == 5)
    assert(got.take(3).forall(r => r.getAs[Double]("adc_score") == 64.0))
    assert(got.drop(3).forall(r => r.getAs[Double]("adc_score") == -64.0))
    assert(got.take(3).map(_.getLong(1)).toSeq == Seq(2L, 3L, 4L)) // self excluded
  }

  test("PQ UDF encode/score match the literal-projection formulation") {
    val s = spark
    import s.implicits._
    // deterministic mixed-sign fixture: enough variety that subspace
    // argmins differ across vectors and labels
    val corpus = (0L until 30L).map { i =>
      (i, Array.tabulate(64)(p => (((i * 7 + p * 3) % 11) - 5).toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val cbs = Similarity.pqCodebooks(corpus)
    val literalCodes = corpus.select(col("vec_id"),
      array((0 until Similarity.PqM).map(j =>
        Similarity.pqAssign(cbs(j), col("embedding"), j)): _*).as("codes"))
    val udfCodes = Similarity.pqEncoded(corpus, cbs, Seq(col("vec_id")))
    assert(literalCodes.except(udfCodes).isEmpty && udfCodes.except(literalCodes).isEmpty,
      "literal and UDF encodings diverge")
    // ADC: literal micro-score vs the closure UDF over the same pairs
    val q = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val pairs = udfCodes.withColumnRenamed("vec_id", "neighbor_id").crossJoin(q)
    val lit_ = pairs.select(col("query_id"), col("neighbor_id"),
      Similarity.pqLiteralMicro(cbs, col("codes"), col("qv")).as("m"))
    val udf_ = pairs.select(col("query_id"), col("neighbor_id"),
      Similarity.adcMicroUdf(cbs)(col("codes"), col("qv")).as("m"))
    assert(lit_.except(udf_).isEmpty && udf_.except(lit_).isEmpty,
      "literal and UDF ADC scores diverge")
  }

  test("int8 SQ: codes reconstruct within half a quantization step") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 10L).map { i =>
      (i, Array.tabulate(64)(p => (((i * 7 + p * 3) % 11) - 5).toFloat / 3f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val enc = Similarity.sqEncode(corpus).collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("max_abs") / 127.0, r.getAs[String]("codes"))).toMap
    val raw = corpus.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for ((id, (scale, codes)) <- enc) {
      val cs = codes.split(",").map(_.toInt)
      assert(cs.length == 64 && cs.forall(c => c >= -127 && c <= 127))
      cs.zip(raw(id)).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-9,
          s"vec $id: code $c × $scale vs $x")
      }
    }
    // symmetric quantized search: the well-separated fixture ranks as exact
    val got = Similarity.sqTopK(corpus, corpus.filter(col("vec_id") === 0L), 3)
      .collect().map(_.getLong(1)).toSet
    val exact = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0L), 3)
      .collect().map(_.getLong(1)).toSet
    assert(got == exact)
  }

  test("PQ rerank: with a full-coverage shortlist the result IS the exact top-k") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 30L).map { i =>
      (i, Array.tabulate(64)(p => (((i * 7 + p * 3) % 11) - 5).toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") < 3)
    // shortlist covers the whole corpus → the ADC stage cannot lose the
    // true neighbors, so exact re-ranking must equal bruteForceTopK
    val rr = Similarity.pqRerankTopK(corpus, q, 5, shortlist = 29)
    val bf = Similarity.bruteForceTopK(corpus, q, 5)
    assert(rr.except(bf).isEmpty && bf.except(rr).isEmpty)
    intercept[IllegalArgumentException] {
      Similarity.pqRerankTopK(corpus, q, 10, shortlist = 5)
    }
  }

  test("IVF-PQ: probing bounds the scored set to the query's cells") {
    val s = spark
    import s.implicits._
    val u = Array.fill(64)(1.0f)
    val v = Array.fill(64)(-1.0f)
    val corpus = ((1L to 4L).map((_, u, 0)) ++ (5L to 8L).map((_, v, 1)))
      .toDF("vec_id", "embedding", "label")
    // nprobe=1 from a label-0 query → ONLY the label-0 cell is scored:
    // k=10 asks for more than the cell holds, yet label-1 never appears
    val got = Similarity.ivfPqTopK(corpus, corpus.filter(col("vec_id") === 1L), 10, nprobe = 1)
      .collect()
    assert(got.map(_.getLong(1)).toSet == Set(2L, 3L, 4L))
    assert(got.forall(_.getAs[Double]("adc_score") == 64.0))
  }

  test("recallAtK: per-query overlap against the exact denominator") {
    val s = spark
    import s.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (2L, 20L))
      .toDF("query_id", "neighbor_id")
    // q1: approx recovers 2 of 4 (plus a non-exact candidate that must
    // not count); q2: approx found nothing → recall 0 for that query
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L)).toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(exact, approx).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))).toMap
    assert(got(1L) == ((2L, 0.5)))
    assert(got(2L) == ((0L, 0.0)))
  }

  test("labelVote: modal label wins, ties break to the smaller label, hit flag") {
    val s = spark
    import s.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    val corpus = Seq(
      (1L, vec(1, 0), 0), (2L, vec(0.9, 0.1), 0), (3L, vec(0.8, 0.05), 0),
      (4L, vec(0, 1), 1), (5L, vec(0.1, 0.9), 1),
      (10L, vec(1, 0.01), 0) // the query itself, labeled 0
    ).toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 10L)
    // k=3 → neighbors 1,2,3 all label 0 → unanimous, hit
    val top = Similarity.labelVote(corpus, q, 3).collect().head
    assert(top.getAs[Int]("pred_label") == 0 && top.getAs[Long]("votes") == 3L)
    assert(top.getAs[Boolean]("hit"))
    // k=4 → labels {0,0,0,1}: still 0; k=2 over a crafted tie → smaller label
    val tieCorpus = Seq(
      (1L, vec(1, 0), 7), (2L, vec(1, 0), 3), // equidistant, different labels
      (10L, vec(1, 0), 3)
    ).toDF("vec_id", "embedding", "label")
    val tie = Similarity.labelVote(tieCorpus, tieCorpus.filter(col("vec_id") === 10L), 2)
      .collect().head
    assert(tie.getAs[Int]("pred_label") == 3) // 1 vote each → smaller label wins
    assert(tie.getAs[Boolean]("hit"))
  }

  test("sourceCap: under-cap sources bypass untouched, over-cap sources cut " +
      "to a deterministic content-ranked survivor set") {
    val s0 = spark
    import s0.implicits._
    val docs = (
      (1 to 5).map(i => (i.toLong, s"alpha text number $i", "big")) ++
      Seq((10L, "beta one", "small"), (11L, "beta two", "small"))
    ).toDF("doc_id", "text", "source")
    val got = TextOps.sourceCap(docs, cap = 3).collect()
    val bySource = got.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(bySource("small") == Set(10L, 11L)) // under cap: all kept
    assert(bySource("big").size == 3)
    // deterministic: a re-run (different partitioning) picks the same set
    val again = TextOps.sourceCap(docs.repartition(7), cap = 3).collect()
      .filter(_.getAs[String]("source") == "big").map(_.getAs[Long]("doc_id")).toSet
    assert(again == bySource("big"))
    // cap >= every count: identity
    assert(TextOps.sourceCap(docs, cap = 5).count() == 7L)
  }

  test("stratifiedSplit: total coverage, content-stable fate, growth-stable, " +
      "fractions validated") {
    val s0 = spark
    import s0.implicits._
    val docs = (1 to 400).map(i => (i.toLong, s"document body $i", "src"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.stratifiedSplit(docs)
    assert(got.count() == 400L) // every doc assigned exactly one split
    val shares = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shares.values.sum == 400L)
    assert(shares("train") > 300L) // ~0.9 of 400, loose band
    // fate is a pure function of text: the half-corpus assignment agrees
    val sub = TextOps.stratifiedSplit(docs.filter(col("doc_id") <= 200))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val full = got.collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    sub.foreach { case (id, sp) => assert(full(id) == sp) }
    intercept[IllegalArgumentException] {
      TextOps.stratifiedSplit(docs, Seq("train" -> 0.5, "val" -> 0.1))
    }
  }

  test("truncatedTopK: full-width truncation IS the exact search; prefix " +
      "search ranks by the truncated subspace only") {
    val s0 = spark
    import s0.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    val corpus = Seq(
      (1L, vec(1, 0, 0), 0),
      (2L, vec(1, 0, 5), 0), // differs only past dims=2
      (3L, vec(0, 1, 0), 0)
    ).toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 1L)
    // dims = 64 → identical to the exact baseline
    val ex = Similarity.bruteForceTopK(corpus, q, 2).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val tr = Similarity.truncatedTopK(corpus, q, 2, dims = 64).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(tr == ex)
    // dims = 2: vec 2 projects onto (1,0) → cosine 1.0 in the prefix space
    val pre = Similarity.truncatedTopK(corpus, q, 1, dims = 2).collect().head
    assert(pre.getLong(1) == 2L && math.abs(pre.getDouble(2) - 1.0) < 1e-12)
  }

  test("truncRerankTopK: full-coverage shortlist reproduces the exact top-k; " +
      "rerank cosines are full-width") {
    val s0 = spark
    import s0.implicits._
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 30L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") <= 2L)
    val ex = Similarity.bruteForceTopK(corpus, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rr = Similarity.truncRerankTopK(corpus, q, 5, dims = 16, shortlist = 29)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rr == ex) // shortlist covers the whole corpus → exact
    // narrow shortlist still returns k full-width-cosine rows per query
    val nr = Similarity.truncRerankTopK(corpus, q, 5, dims = 16, shortlist = 8)
      .collect()
    assert(nr.length == 10)
    intercept[IllegalArgumentException] {
      Similarity.truncRerankTopK(corpus, q, 5, dims = 16, shortlist = 3)
    }
  }

  test("pcaFit: orthonormal energy-descending basis, deterministic repeat, " +
      "planted dominant direction recovered") {
    val s0 = spark
    import s0.implicits._
    val rnd = new scala.util.Random(7)
    // data concentrated along a planted direction + small isotropic noise
    val axis = Array.tabulate(64)(i => math.sin(i * 0.7))
    val nrm = math.sqrt(axis.map(x => x * x).sum)
    val unit = axis.map(_ / nrm)
    val corpus = (1L to 80L).map { i =>
      val amp = 5.0 + rnd.nextGaussian()
      (i, Array.tabulate(64)(k =>
        (amp * unit(k) + 0.05 * rnd.nextGaussian()).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val m = Similarity.pcaFit(corpus, dims = 8)
    // orthonormality, exactly as the driver sees the model
    for (a <- m.components.indices; b <- a until m.components.length) {
      val dot = m.components(a).zip(m.components(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"c($a) dot c($b) = $dot")
    }
    // energies non-increasing, top component carries the planted mass
    assert(m.energies.sliding(2).forall(w => w(0) >= w(1) - 1e-12))
    val align = m.components(0).zip(unit).map { case (x, y) => x * y }.sum
    assert(math.abs(align) > 0.999, s"top component alignment $align")
    // deterministic repeat: bit-identical model
    val m2 = Similarity.pcaFit(corpus, dims = 8)
    assert(m.energies.sameElements(m2.energies))
    assert(m.components.zip(m2.components).forall { case (x, y) => x.sameElements(y) })
  }

  test("pcaTopK at full rank matches exact search; pcaRerankTopK with full " +
      "shortlist is exact; audits hold and can fail") {
    val s0 = spark
    import s0.implicits._
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 30L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") <= 2L)
    val ex = Similarity.bruteForceTopK(corpus, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full-rank model: a rotation — cosine ranking survives exactly
    val full = Similarity.pcaFit(corpus, dims = 64)
    val viaPca = Similarity.pcaTopK(corpus, q, 5, full).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPca == ex)
    // reduced model + whole-corpus shortlist → rerank reproduces exact
    val m16 = Similarity.pcaFit(corpus, dims = 16)
    val rr = Similarity.pcaRerankTopK(corpus, q, 5, m16, shortlist = 29)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rr == ex)
    // audits: every row passes on a true model
    val audit = Similarity.pcaAudit(corpus, m16).collect()
    assert(audit.length == 30 &&
      audit.forall(r => r.getBoolean(1) && r.getBoolean(2)))
    val dom = Similarity.pcaEnergyVsPrefix(corpus, m16).collect().head
    assert(dom.getInt(0) == 16 && dom.getBoolean(1))
    // negative control: a NON-orthonormal fake basis must break the
    // Pythagoras audit (proves the audit can fail)
    val fake = Similarity.PcaModel(
      m16.components.map(_.map(_ * 1.5)), m16.energies)
    val broken = Similarity.pcaAudit(corpus, fake).collect()
    assert(broken.exists(r => !r.getBoolean(1) || !r.getBoolean(2)))
  }

  test("spanDedupText: loser spans cut, winners intact, full-duplicate docs " +
      "cut to empty, short docs untouched") {
    def md5(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val t1 = "a b c d e f g h tail1 tail2"
    val docs = docsDf(
      (1L, t1),                         // owns every gram (lowest doc_id)
      (2L, "x a b c d e f g h y"),      // shared 8-gram at pos 1 → cut [1,9)
      (3L, t1),                         // exact duplicate → fully cut
      (4L, "p q r"))                    // shorter than gramK → no grams
    val got = TextOps.spanDedupText(docs, gramK = 8, minCount = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((10L, 10L, md5(t1))))
    assert(got(2L) == ((10L, 2L, md5("x y"))))
    assert(got(3L) == ((10L, 0L, md5(""))))
    assert(got(4L) == ((3L, 3L, md5("p q r"))))
    // accounting consistency with the stats operator
    val stats = TextOps.spanDedupStats(docs, gramK = 8, minCount = 2).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("kept_tokens")).toMap
    got.foreach { case (id, (_, kept, _)) => assert(stats(id) == kept) }
  }

  test("decontaminationReport: per-eval-item leak shares, self-match excluded, " +
      "clean items answer zeros") {
    val s0 = spark
    import s0.implicits._
    val corpus = docsDf(
      (1L, "alpha beta gamma delta epsilon zeta"),   // the eval item itself
      (10L, "x alpha beta gamma delta epsilon y"),   // shares 5-gram #1
      (11L, "p beta gamma delta epsilon zeta q"),    // shares 5-gram #2
      (12L, "completely unrelated body of text here"))
    val bench = corpus.filter(col("doc_id") <= 2L)
    val got = TextOps.decontaminationReport(corpus, bench, shingleK = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // eval doc 1 has 2 shingles; each is shared by exactly one OTHER doc
    assert(got(1L) == ((2L, 2L, 2L)))
    // a bench set containing a clean doc answers an explicit zero row
    val bench2 = docsDf((2L, "never seen tokens only right here now"))
    val clean = TextOps.decontaminationReport(corpus, bench2, shingleK = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(clean(2L) == ((0L, 0L)))
  }

  test("splitReport totals reconcile with the split assignment") {
    val s0 = spark
    import s0.implicits._
    val docs = (1 to 300).map(i => (i.toLong, s"some text body $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val rep = TextOps.splitReport(docs).collect()
    assert(rep.map(_.getAs[Long]("n_docs")).sum == 300L)
    val direct = TextOps.stratifiedSplit(docs)
      .groupBy("split", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rep.foreach { r =>
      assert(direct((r.getString(0), r.getString(1))) == r.getAs[Long]("n_docs"))
    }
  }

  test("hardNegatives: same-label neighbors excluded, nearest other-label wins") {
    val s0 = spark
    import s0.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    val corpus = Seq(
      (1L, vec(1, 0), 0),        // the query
      (2L, vec(1, 0.01), 0),     // nearest overall — but SAME label
      (3L, vec(1, 0.2), 1),      // nearest other-label
      (4L, vec(0, 1), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(corpus, corpus.filter(col("vec_id") === 1L), 2)
      .orderBy(desc("cosine")).collect().map(_.getLong(1)).toSeq
    assert(got == Seq(3L, 4L)) // 2L never appears despite being closest
  }

  test("splitLeakage equals near-dup pairs restricted to boundary-straddling splits") {
    val s0 = spark
    import s0.implicits._
    // two near-identical docs (J >= 0.8) + unrelated filler, many variants so
    // SOME pair straddles a split under the default fractions
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0 until 40).flatMap { i =>
      Seq((i * 2L, s"$base variant$i"), (i * 2L + 1L, s"$base variant$i extra"))
    }.map { case (id, t) => (id, t, "src") }.toDF("doc_id", "text", "source")
    val leaks = TextOps.splitLeakage(docs, shingleK = 3, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    // recompute expectation from the components
    val splits = TextOps.stratifiedSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val expected = Dedup.nearDupPairs(docs, shingleK = 3, threshold = 0.8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .filter { case (a, b) => splits(a) != splits(b) }
      .map { case (a, b) => (a, b, splits(a), splits(b)) }.toSet
    assert(leaks == expected)
    assert(leaks.forall { case (_, _, sa, sb) => sa != sb })
  }

  test("hardNegativesIvf: own cell self-filters, full probe coverage equals exact") {
    val s0 = spark
    import s0.implicits._
    def vec(xs: Double*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.zipWithIndex.foreach { case (v, i) => a(i) = v.toFloat }
      a
    }
    val corpus = Seq(
      (1L, vec(1, 0), 0), (2L, vec(1, 0.01), 0),
      (3L, vec(1, 0.2), 1), (4L, vec(0.9, 0.3), 1),
      (5L, vec(0, 1), 2), (6L, vec(0.1, 1), 2)
    ).toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 1L)
    // probing EVERY cell → identical to the exact operator
    val full = Similarity.hardNegativesIvf(corpus, q, 4, nprobe = 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSet
    val exact = Similarity.hardNegatives(corpus, q, 4).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(full == exact)
    // nprobe=2: probes rank (cell0, cell1, cell2) by centroid cosine —
    // own cell 0 contributes nothing (label filter), so negatives come
    // from cell 1 only; cell 2's vectors are absent
    val two = Similarity.hardNegativesIvf(corpus, q, 4, nprobe = 2).collect()
      .map(_.getLong(1)).toSet
    assert(two == Set(3L, 4L))
  }

  test("residual IVFADC: identity codebooks (every vector a seed) reconstruct " +
      "the exact dot-product ranking; runs are bit-stable") {
    val s0 = spark
    import s0.implicits._
    val rnd = new scala.util.Random(7)
    // 6 vectors in 2 label cells; kCodes=8 > 6 → every residual seeds its
    // own code, one iteration maps each residual to itself → ADC score =
    // micro(⟨q,c⟩) + Σ micro(⟨q_j,r_j⟩) ≈ ⟨q,x⟩
    val vecs = (0L to 5L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), (i % 2).toInt)
    }
    val corpus = vecs.toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 0L)
    val got = Similarity.ivfPqResidualTopK(corpus, q, 5, nprobe = 2, kCodes = 8,
      iters = 1).orderBy(desc("adc_score")).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val qv = vecs.head._2.map(_.toDouble)
    val expect = vecs.tail.map { case (id, v, _) =>
      (id, (0 until 64).foldLeft(0.0)((a, i) => a + qv(i) * v(i).toDouble))
    }.sortBy(-_._2)
    assert(got.map(_._1).toSeq == expect.map(_._1).toSeq)
    got.zip(expect).foreach { case ((_, adc), (_, dot)) =>
      assert(math.abs(adc - dot) < 1e-4, s"adc $adc vs dot $dot") // 9 micro-roundings
    }
    val again = Similarity.ivfPqResidualTopK(corpus, q, 5, nprobe = 2, kCodes = 8,
      iters = 1).orderBy(desc("adc_score")).collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == got.toSeq)
  }
}
