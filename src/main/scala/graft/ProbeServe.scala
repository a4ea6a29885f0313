package graft

import graft.operators.{Dedup, Retrieval, Similarity}
import graft.sources.EventsAdapter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Serving-latency profile for the four PERSISTED indexes (dev tool):
 * tag index, BM25, near-dup (MinHash/LSH), and IVF. The per-round bench
 * times LIFECYCLE queries (build + serve in one timed block); this probe
 * isolates the SERVE component — the cost a standing index pays per
 * query — and measures how it scales when the indexed corpus grows ×8
 * and ×16 while the query stays fixed.
 *
 * The claim under test (the 100 TB lens): every serve plan is
 * bucket-pruned — a query reads only the partition buckets its own keys
 * hash to (tag leaves → exists-pivot columns over one bucket-pruned
 * scan; BM25 query tokens → their token buckets; near-dup query docs →
 * their LSH band buckets; IVF queries → nprobe cells) — so serve time
 * must track the QUERY's bucket share, not the corpus size: ×16 corpus
 * must cost far less than ×16 serve time.
 *
 * Corpus scaling unions shifted copies of the sf fixture (ids offset per
 * copy so no artificial duplicates collapse); each index is built once
 * per scale OUTSIDE the timed region; the reported figure is the
 * minimum of three timed serve executions (count() materialization).
 *
 * Usage: runMain graft.ProbeServe [sfDir] — prints one table row per
 * (index, scale); record the table in docs/BENCH_NOTES.md.
 */
object ProbeServe {

  private def rmrf(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def timeMin3(fn: () => Unit): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      fn()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.getOrCreate()
    import spark.implicits._
    val ea = EventsAdapter

    def scaled(base: DataFrame, idCol: String, copies: Int, shift: Long): DataFrame =
      (0 until copies).map(i =>
        base.withColumn(idCol, col(idCol) + lit(i * shift))).reduce(_ unionAll _)

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double)]

    // ---- tag index: fixed 3-leaf query over a catalog scaled by copies
    // with disjoint metric names (the pivot columns stay the same) ------
    val catalog = ea.catalog(spark, dir).localCheckpoint()
    def scaledCatalog(copies: Int): DataFrame =
      (0 until copies).map(i =>
        catalog.withColumn("metric", concat(col("metric"), lit(s"#$i"))))
        .reduce(_ unionAll _)
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_tag_$c"
      rmrf(spark, path)
      graft.storage.TagIndex.write(scaledCatalog(c), path)
      val t = timeMin3(() => graft.storage.TagIndex.lookup(spark, path,
        "(type = error AND seg IN [s0, s1]) OR user ~ '14.*'").count())
      results += (("tag", c, t))
    }

    // ---- BM25: fixed 3-query batch over a corpus scaled by doc copies -
    val docs = ea.singleFileFanOut(spark,
      spark.read.parquet(s"$dir/documents.parquet")).localCheckpoint()
    val docCount = docs.count()
    val queries = Seq((0L, Seq("spark", "join")), (1L, Seq("window", "sort", "merge")),
      (2L, Seq("hash", "scan"))).toDF("query_id", "terms").localCheckpoint()
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_bm25_$c"
      rmrf(spark, path)
      Retrieval.writeBm25Index(scaled(docs, "doc_id", c, docCount), path)
      val t = timeMin3(() =>
        Retrieval.bm25StoredTopK(spark, path, queries, k = 10).count())
      results += (("bm25", c, t))
    }

    // ---- near-dup: fixed 50-doc query wave against a scaled store.
    // TWO replication modes, because they answer different questions:
    //  * `neardup` (verbatim copies): every replica of a query's match
    //    IS a true J=1 near-dup, so the candidate set AND the result
    //    grow ∝ copies BY CONSTRUCTION — the serve-time growth this row
    //    shows is output-driven (matches hits), not an index defect; no
    //    pruning can cut rows the query genuinely matches. The printed
    //    rows column is the attribution: time tracks hits.
    //  * `neardup-mut` (every 4th word tagged per replica, cross-replica
    //    J ≈ 0.14 — ProbeScale's scaledDocsTagged rule): replicas are
    //    NOT near-dups, the result stays fixed while the corpus grows —
    //    THIS row is the index-scaling claim (bucket-pruned serve must
    //    stay ~flat).
    val probeDocs = docs.filter(col("doc_id") < 50).localCheckpoint()
    def scaledDocsMut(copies: Int): DataFrame =
      (0 until copies).map { i =>
        val d = docs.withColumn("doc_id", col("doc_id") + lit(i * docCount))
        if (i == 0) d
        else d.withColumn("text", array_join(
          transform(split(col("text"), " "),
            (w, idx) => when(pmod(idx, lit(4)) === 0,
              concat(w, lit(s"r${('a' + i).toChar}"))).otherwise(w)), " "))
      }.reduce(_ unionAll _)
    for ((tag, mk) <- Seq[(String, Int => DataFrame)](
      ("neardup", c => scaled(docs, "doc_id", c, docCount)),
      ("neardup-mut", scaledDocsMut))) {
      Seq(1, 8, 16).foreach { c =>
        val path = s"target/tmp/probeserve_${tag.replace("-", "")}_$c"
        rmrf(spark, path)
        Dedup.writeNearDupIndex(mk(c), path, shingleK = 3)
        var rows = 0L
        val t = timeMin3(() => rows = Dedup.nearDupLookup(spark, path, probeDocs,
          shingleK = 3, threshold = 0.8).count())
        println(f"[neardup] $tag%-12s x$c%-2d rows=$rows%d")
        results += ((tag, c, t))
      }
    }

    // ---- IVF: fixed 10-query ANN batch against a scaled vector store --
    val embs = ea.singleFileFanOut(spark,
      spark.read.parquet(s"$dir/embeddings.parquet")).localCheckpoint()
    val vecCount = embs.count()
    val probeVecs = embs.filter(col("vec_id") < 10).localCheckpoint()
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_ivf_$c"
      rmrf(spark, path)
      Similarity.writeIvfIndex(scaled(embs, "vec_id", c, vecCount), path,
        kCells = 4, iters = 2)
      val t = timeMin3(() =>
        Similarity.ivfStoredTopK(spark, path, probeVecs, 10, nprobe = 2).count())
      results += (("ivf", c, t))
    }

    // ---- IVF with cells scaled ∝ corpus (the production sizing: cell
    // count grows with N so per-cell size stays bounded; fixed nprobe
    // then probes a SHRINKING fraction — the flat-serve scale path) -----
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_ivfsc_$c"
      rmrf(spark, path)
      Similarity.writeIvfIndex(scaled(embs, "vec_id", c, vecCount), path,
        kCells = 4 * c, iters = 2)
      val t = timeMin3(() =>
        Similarity.ivfStoredTopK(spark, path, probeVecs, 10, nprobe = 2).count())
      results += (("ivf-sc", c, t))
    }

    // ---- hier-ROUTED IVF at the same production sizing: the persisted
    // coarse model routes each query through O(2·√cells) centroid scores
    // instead of ivf-sc's flat O(cells) probe — the serve-side fix for
    // cells ∝ corpus (build bounded by sampled training, as ProbeScale) -
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_ivfhiersc_$c"
      rmrf(spark, path)
      Similarity.writeIvfIndex(scaled(embs, "vec_id", c, vecCount), path,
        kCells = 4 * c, iters = 2, sampleN = Some(4096), hier = true)
      val t = timeMin3(() =>
        Similarity.ivfStoredTopKHier(spark, path, probeVecs, 10,
          nprobeCoarse = 1, nprobe = 2).count())
      results += (("ivfhier-sc", c, t))
    }

    // ---- PCA-IVF: same production sizing (cells ∝ corpus) — stage 1
    // reads the probed cells' PROJECTED column, stage 2 a shortlist-sized
    // full-width rerank; serve must track the probed share, not N -------
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_pcaivf_$c"
      rmrf(spark, path)
      Similarity.writePcaIvfIndex(scaled(embs, "vec_id", c, vecCount), path,
        dims = 16, kCells = 4 * c, iters = 2)
      val t = timeMin3(() => Similarity.pcaIvfStoredTopK(spark, path, probeVecs,
        10, nprobe = 2, shortlist = 50).count())
      results += (("pcaivf", c, t))
    }

    // ---- hier-ROUTED PCA-IVF at the same sizing ----------------------
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_pcaivfhier_$c"
      rmrf(spark, path)
      Similarity.writePcaIvfIndex(scaled(embs, "vec_id", c, vecCount), path,
        dims = 16, kCells = 4 * c, iters = 2, sampleN = Some(4096), hier = true)
      val t = timeMin3(() => Similarity.pcaIvfStoredTopKHier(spark, path, probeVecs,
        10, nprobeCoarse = 1, nprobe = 2, shortlist = 50).count())
      results += (("pcaivfhier-sc", c, t))
    }

    // ---- IVF-PQ: the memory-bound tier — stage 1 reads the probed
    // cells' CODES only (m ints/vector), stage 2 shortlist-sized --------
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_ivfpq_$c"
      rmrf(spark, path)
      Similarity.writeIvfPqIndex(scaled(embs, "vec_id", c, vecCount), path,
        kCells = 4 * c, iters = 2)
      val t = timeMin3(() => Similarity.ivfPqStoredTopK(spark, path, probeVecs,
        10, nprobe = 2, shortlist = 50).count())
      results += (("ivfpq", c, t))
    }

    // ---- hier-ROUTED IVF-PQ at the same sizing -----------------------
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_ivfpqhier_$c"
      rmrf(spark, path)
      Similarity.writeIvfPqIndex(scaled(embs, "vec_id", c, vecCount), path,
        kCells = 4 * c, iters = 2, sampleN = Some(4096), hier = true)
      val t = timeMin3(() => Similarity.ivfPqStoredTopKHier(spark, path, probeVecs,
        10, nprobeCoarse = 1, nprobe = 2, shortlist = 50).count())
      results += (("ivfpqhier-sc", c, t))
    }

    // ---- SRP-LSH store. Copies rotate components cyclically (the
    // ProbeScale.scaledEmbs rule): identical copies would hash to
    // IDENTICAL buckets and silently hide the scaling behavior ----------
    val dim = Similarity.Dim
    def rotatedEmbs(copies: Int): DataFrame =
      (0 until copies).map { i =>
        val r = i % dim
        embs.withColumn("vec_id", col("vec_id") + lit(i * vecCount))
          .withColumn("embedding",
            if (r == 0) col("embedding")
            else concat(slice(col("embedding"), r + 1, dim - r),
              slice(col("embedding"), 1, r)))
      }.reduce(_ unionAll _)
    // fixed planes: the query's bucket SHARE is constant (1/2^planes),
    // so serve tracks N/2^planes — the linear-fraction baseline
    Seq(1, 8, 16).foreach { c =>
      val path = s"target/tmp/probeserve_srp_$c"
      rmrf(spark, path)
      Similarity.writeSrpIndex(rotatedEmbs(c), path, numPlanes = 8)
      val t = timeMin3(() =>
        Similarity.srpStoredTopK(spark, path, probeVecs, 10).count())
      results += (("srp", c, t))
    }
    // planes ∝ log2(corpus) (the production sizing: bucket count tracks
    // N, per-bucket size stays bounded, the query's share SHRINKS — the
    // flat-serve scale path, srp's ivf-sc twin)
    Seq((1, 8), (8, 11), (16, 12)).foreach { case (c, planes) =>
      val path = s"target/tmp/probeserve_srpsc_$c"
      rmrf(spark, path)
      Similarity.writeSrpIndex(rotatedEmbs(c), path, numPlanes = planes)
      val t = timeMin3(() =>
        Similarity.srpStoredTopK(spark, path, probeVecs, 10).count())
      results += (("srp-sc", c, t))
    }

    println(f"${"index"}%-8s | ${"scale"}%5s | serve sec (min of 3)")
    results.foreach { case (name, c, t) => println(f"$name%-8s | x$c%-4d | $t%7.3f") }
    // ratio summary: serve(x16)/serve(x1) per index — the scale claim
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      val x1 = rs.find(_._2 == 1).get._3
      val x16 = rs.find(_._2 == 16).get._3
      println(f"$name%-8s serve x16/x1 ratio = ${x16 / x1}%5.2f (corpus x16)")
    }
    spark.stop()
  }
}
