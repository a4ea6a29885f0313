package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** BM25 retrieval + reciprocal-rank fusion specs, hand-computed. */
class RetrievalSpec extends SparkTestBase {

  private def docsDf(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def queriesDf(rows: (Long, Seq[String])*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("query_id", "terms")
  }

  // Corpus: 3 docs. "cat" appears in docs 1 (tf 2, dl 4) and 2 (tf 1, dl 2);
  // doc 3 has neither term. N=3, avgdl=(4+2+3)/3=3.
  private val corpus = docsDf(
    (1L, "cat cat dog bird"),
    (2L, "cat fish"),
    (3L, "lion tiger bear"))

  test("bm25TopK: hand-computed scores, rank order, absent terms ignored") {
    val got = Retrieval.bm25TopK(corpus, queriesDf((7L, Seq("cat", "unseen"))), k = 10)
      .orderBy("rank").collect()
    // idf(cat) = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    val idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    def tfn(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.0))
    def score(tf: Double, dl: Double) =
      math.rint(idf * tfn(tf, dl) * 1e6) / 1e6
    // doc1: tfn = 4.4/(2+1.2*1.25) ≈ 1.2571; doc2: tfn = 2.2/1.9 ≈ 1.1579
    assert(got.length == 2) // doc 3 matches nothing; "unseen" has no postings
    assert(got(0).getAs[Long]("doc_id") == 1L) // tf=2 outweighs the length penalty
    assert(got(1).getAs[Long]("doc_id") == 2L)
    assert(math.abs(got(0).getAs[Double]("score") - score(2, 4)) < 1e-9)
    assert(math.abs(got(1).getAs[Double]("score") - score(1, 2)) < 1e-9)
    assert(got.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L))
  }

  test("bm25TopK: duplicate query terms dedupe; k truncates; doc_id tiebreak") {
    val twice = Retrieval.bm25TopK(corpus, queriesDf((1L, Seq("cat", "cat"))), k = 10)
      .collect()
    val once = Retrieval.bm25TopK(corpus, queriesDf((1L, Seq("cat"))), k = 10)
      .collect()
    assert(twice.map(r => (r.getLong(1), r.getDouble(2))).toSet ==
      once.map(r => (r.getLong(1), r.getDouble(2))).toSet)
    val top1 = Retrieval.bm25TopK(corpus, queriesDf((1L, Seq("cat"))), k = 1).collect()
    assert(top1.length == 1 && top1(0).getAs[Long]("rank") == 1L)
    // equal scores → lower doc_id first: two identical docs
    val tie = Retrieval.bm25TopK(
      docsDf((5L, "cat dog"), (4L, "cat dog"), (9L, "fish")),
      queriesDf((1L, Seq("cat"))), k = 10).orderBy("rank").collect()
    assert(tie.map(_.getAs[Long]("doc_id")).toSeq == Seq(4L, 5L))
  }

  test("stored BM25 index: bucket-partitioned layout, statically pruned serving, " +
    "answers identical to the inline path; bucket-count mismatch fails loudly") {
    val s = spark
    val corpus = docsDf((0 until 30).map(i =>
      (i.toLong, s"cat w$i dog ${if (i % 3 == 0) "cat fish" else "bird"}")): _*)
    val queries = queriesDf((1L, Seq("cat", "fish")), (2L, Seq("dog")))
    val inline = Retrieval.bm25TopK(corpus, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    Retrieval.writeBm25Index(corpus, path)
    val dirs = new java.io.File(s"$path/postings").list().filter(_.startsWith("bucket="))
    assert(dirs.nonEmpty, "expected bucket=N partition directories")
    val storedDf = Retrieval.bm25StoredTopK(s, path, queries, k = 5)
    val stored = storedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(stored == inline, "stored-index search must match the inline path")
    // serving reads only the query terms' buckets: a STATIC partition
    // filter on the bucket column of every postings scan, and df comes
    // from those scans — no tokenstats table is read (AQE hides scan
    // nodes from executedPlan.collect, so assert on the formatted explain,
    // one node per blank-line-separated block)
    val plan = storedDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val postingsScans = plan.split("\n\n").filter(_.contains("/postings]"))
    assert(postingsScans.nonEmpty, s"expected a postings scan:\n$plan")
    postingsScans.foreach { scan =>
      assert("PartitionFilters: \\[.*bucket#\\d+ IN".r.findFirstIn(scan).nonEmpty,
        s"expected a bucket IN (...) partition filter on every postings scan:\n$scan")
    }
    assert(!plan.contains("tokenstats"), s"serving must not read a tokenstats table:\n$plan")
    // a tombstone-free store must serve WITHOUT the delete screen in the
    // plan — the anti-join only appears while deletes are pending
    assert(!plan.contains("LeftAnti"),
      s"tombstone-free serving must not carry a delete anti-join:\n$plan")
    // corrupt meta → loud failure, not silent partition misses
    import s.implicits._
    Seq(99).toDF("buckets").coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    intercept[IllegalArgumentException] {
      Retrieval.bm25StoredTopK(s, path, queries, k = 5)
    }
  }

  test("BM25 index append: stored answers equal a fresh rebuild over the union; " +
    "replay is a no-op; df/avgdl/n_docs all shift") {
    val s = spark
    val docsA = docsDf((0 until 20).map(i =>
      (i.toLong, s"cat w$i ${if (i % 2 == 0) "dog" else "bird fish"}")): _*)
    // the batch changes every global: adds docs with 'cat' (df), longer
    // docs (avgdl), and new docs (n_docs)
    val docsB = docsDf((20 until 30).map(i =>
      (i.toLong, s"cat cat dog extra tokens here w$i plus more words")): _*)
    val queries = queriesDf((1L, Seq("cat", "fish")), (2L, Seq("dog")))
    def answers(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val appended = java.nio.file.Files.createTempDirectory("graft-bm25app").toString
    Retrieval.writeBm25Index(docsA, appended)
    Retrieval.appendToBm25Index(s, appended, docsB)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-bm25reb").toString
    Retrieval.writeBm25Index(docsA.unionByName(docsB), rebuilt)
    val afterAppend = answers(Retrieval.bm25StoredTopK(s, appended, queries, k = 8))
    assert(afterAppend == answers(Retrieval.bm25StoredTopK(s, rebuilt, queries, k = 8)),
      "append must equal a fresh rebuild over the union corpus")
    // replayed batch: ids already indexed → no state change
    Retrieval.appendToBm25Index(s, appended, docsB)
    assert(answers(Retrieval.bm25StoredTopK(s, appended, queries, k = 8)) == afterAppend)
    assert(s.read.parquet(s"$appended/corpusstats").collect()(0).getLong(0) == 30L)
  }

  test("BM25 index compact: merges append-wave files without moving answers; " +
    "repairs the crash-orphan window (registered doc, no postings) so a " +
    "re-append of the lost batch lands") {
    val s = spark
    import s.implicits._
    val docsA = docsDf((0 until 20).map(i =>
      (i.toLong, s"cat w$i ${if (i % 2 == 0) "dog" else "bird fish"}")): _*)
    val docsB = docsDf((20 until 30).map(i =>
      (i.toLong, s"cat cat dog extra tokens here w$i plus more words")): _*)
    val queries = queriesDf((1L, Seq("cat", "fish")), (2L, Seq("dog")))
    def answers(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-bm25cmp").toString
    Retrieval.writeBm25Index(docsA, path)
    Retrieval.appendToBm25Index(s, path, docsB)
    val before = answers(Retrieval.bm25StoredTopK(s, path, queries, k = 8))
    def postingFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$path/postings"))
    }
    val filesBefore = postingFiles()
    Retrieval.compactBm25Index(s, path)
    assert(answers(Retrieval.bm25StoredTopK(s, path, queries, k = 8)) == before,
      "compaction must not change serving answers")
    assert(postingFiles() < filesBefore,
      s"expected fewer posting files after compaction (before=$filesBefore)")
    // corpusstats invariant holds after compact
    val cs = s.read.parquet(s"$path/corpusstats").collect()(0)
    assert(cs.getLong(0) == 30L)

    // crash-orphan repair: simulate the documented append window — the
    // docstats screen landed, postings did not (the batch is "lost":
    // a replay would anti-join away). Compact must deregister it.
    Seq((99L, 4L)).toDF("doc_id", "dl")
      .write.mode("append").parquet(s"$path/docstats")
    Retrieval.compactBm25Index(s, path)
    assert(s.read.parquet(s"$path/docstats")
      .filter(col("doc_id") === 99L).isEmpty, "orphan must be deregistered")
    assert(s.read.parquet(s"$path/corpusstats").collect()(0).getLong(0) == 30L)
    // ... so re-appending the lost doc now lands it for real
    Retrieval.appendToBm25Index(s, path, docsDf((99L, "cat dog bird q")))
    assert(s.read.parquet(s"$path/docstats").filter(col("doc_id") === 99L).count() == 1)
    assert(s.read.parquet(s"$path/corpusstats").collect()(0).getLong(0) == 31L)
    assert(s.read.parquet(s"$path/postings")
      .filter(col("doc_id") === 99L).count() == 4)
  }

  test("BM25 store layout: no tokenstats table after build, append or " +
    "compact; a rebuild over a stale tokenstats with wrong df removes it, " +
    "and the answers equal the inline bm25TopK") {
    val s = spark
    val docsA = docsDf((0 until 20).map(i =>
      (i.toLong, s"cat w$i ${if (i % 2 == 0) "dog" else "bird fish"}")): _*)
    val docsB = docsDf((20 until 30).map(i =>
      (i.toLong, s"cat cat dog extra tokens here w$i plus more words")): _*)
    val all = docsA.unionByName(docsB)
    val queries = queriesDf((1L, Seq("cat", "fish")), (2L, Seq("dog", "w3")))
    def answers(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val inline = answers(Retrieval.bm25TopK(all, queries, k = 8))
    val path = java.nio.file.Files.createTempDirectory("graft-bm25layout").toString
    def hasTokenstats = new java.io.File(s"$path/tokenstats").exists()
    Retrieval.writeBm25Index(docsA, path)
    assert(!hasTokenstats, "build must not write tokenstats")
    Retrieval.appendToBm25Index(s, path, docsB)
    assert(!hasTokenstats, "append must not write tokenstats")
    Retrieval.compactBm25Index(s, path)
    assert(!hasTokenstats, "compaction must not write tokenstats")
    assert(answers(Retrieval.bm25StoredTopK(s, path, queries, k = 8)) == inline)
    // the older four-table layout: a per-token df table, here with a df
    // no token has
    all.select(explode(split(col("text"), " ")).as("token")).distinct()
      .withColumn("df", lit(999L))
      .withColumn("bucket",
        pmod(xxhash64(col("token")), lit(Retrieval.IndexBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/tokenstats")
    assert(hasTokenstats)
    Retrieval.writeBm25Index(all, path)
    assert(!hasTokenstats, "a rebuild must drop a stale tokenstats")
    assert(answers(Retrieval.bm25StoredTopK(s, path, queries, k = 8)) == inline,
      "the rebuilt store must serve the inline answers")
  }

  // ---- takedown lifecycle (deleteFromBm25Index — immediate result
  // removal under build-time stats, stats refresh rides compaction) ----

  test("BM25 delete: tombstone-only — the doc stops ranking at once while " +
    "SURVIVOR SCORES keep build-time stats; double/unregistered deletes " +
    "no-op; compact equals a fresh rebuild over the survivors and clears") {
    val s = spark
    import s.implicits._
    val docsA = docsDf((0 until 20).map(i =>
      (i.toLong, s"cat w$i ${if (i % 2 == 0) "dog" else "bird fish"}")): _*)
    val queries = queriesDf((1L, Seq("cat", "fish")), (2L, Seq("dog")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val path = java.nio.file.Files.createTempDirectory("graft-bm25del").toString
    Retrieval.writeBm25Index(docsA, path)
    val before = rows(Retrieval.bm25StoredTopK(s, path, queries, k = 30))
    assert(before.exists(_._2 == 0L), "doc 0 must rank before the delete")
    Retrieval.deleteFromBm25Index(s, path, Seq(0L).toDF("doc_id"))
    val screened = rows(Retrieval.bm25StoredTopK(s, path, queries, k = 30))
    assert(!screened.exists(_._2 == 0L), "deleted doc must stop ranking at once")
    // survivors keep their BUILD-TIME scores (stats untouched until
    // compaction — the takedown semantics), only ranks close the gap
    val beforeScores = before.map(t => (t._1, t._2) -> t._3).toMap
    screened.foreach { case (q, d, sc, _) =>
      assert(sc == beforeScores((q, d)), s"score of ($q,$d) must not move") }
    Seq(1L, 2L).foreach { q =>
      assert(screened.filter(_._1 == q).map(_._4).sorted.toSeq ==
        (1L to screened.count(_._1 == q)).toSeq, "ranks must stay dense") }
    // append-only delete: the doc's rows are still on disk
    assert(s.read.parquet(s"$path/postings").filter(col("doc_id") === 0L).count() > 0)
    assert(s.read.parquet(s"$path/docstats").filter(col("doc_id") === 0L).count() == 1)
    // replayed and never-registered deletes are no-ops
    Retrieval.deleteFromBm25Index(s, path, Seq(0L).toDF("doc_id"))
    Retrieval.deleteFromBm25Index(s, path, Seq(999L).toDF("doc_id"))
    assert(s.read.parquet(s"$path/deleted_docs").count() == 1)
    // compact = the physical half: rows purge, STATS REBUILD, answers
    // equal a fresh rebuild over the surviving corpus
    Retrieval.compactBm25Index(s, path)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-bm25del2").toString
    Retrieval.writeBm25Index(docsA.filter(col("doc_id") =!= 0L), rebuilt)
    assert(rows(Retrieval.bm25StoredTopK(s, path, queries, k = 30)).sorted.toSeq ==
      rows(Retrieval.bm25StoredTopK(s, rebuilt, queries, k = 30)).sorted.toSeq,
      "post-compact scores must equal a fresh rebuild over the survivors")
    assert(s.read.parquet(s"$path/postings").filter(col("doc_id") === 0L).isEmpty)
    assert(s.read.parquet(s"$path/corpusstats").collect()(0).getLong(0) == 19L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_docs")))
  }

  test("BM25 delete then re-append WITHOUT compact: the revival purges the " +
    "stale rows and re-derives the stats, so the store equals a fresh " +
    "rebuild with the doc's text REPLACED; the old text never ranks again") {
    val s = spark
    import s.implicits._
    val docsA = docsDf((0 until 20).map(i =>
      (i.toLong, s"cat w$i ${if (i % 2 == 0) "dog" else "bird fish"}")): _*)
    val path = java.nio.file.Files.createTempDirectory("graft-bm25rev").toString
    Retrieval.writeBm25Index(docsA, path)
    Retrieval.deleteFromBm25Index(s, path, Seq(0L).toDF("doc_id"))
    Retrieval.appendToBm25Index(s, path, docsDf((0L, "zebra quokka plain")))
    def rows(p: String, q: Seq[String]) =
      Retrieval.bm25StoredTopK(s, p, queriesDf((1L, q)), k = 30).collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(rows(path, Seq("w0")).isEmpty, "the pre-delete text must not rank")
    assert(rows(path, Seq("zebra")).map(_._1) == Seq(0L), "the new text ranks")
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-bm25rev2").toString
    Retrieval.writeBm25Index(
      docsA.filter(col("doc_id") =!= 0L).unionByName(docsDf((0L, "zebra quokka plain"))),
      rebuilt)
    Seq(Seq("cat", "fish"), Seq("dog"), Seq("zebra")).foreach { q =>
      assert(rows(path, q) == rows(rebuilt, q),
        s"revived store must equal the replaced-text rebuild for $q") }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/deleted_docs")))
  }

  test("bm25TopK edge cases: no-posting query answers empty; empty query set answers empty") {
    val none = Retrieval.bm25TopK(corpus, queriesDf((1L, Seq("zzz", "qqq"))), k = 5)
    assert(none.collect().isEmpty)
    val noQ = Retrieval.bm25TopK(corpus, queriesDf(), k = 5)
    assert(noQ.collect().isEmpty)
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(corpus, queriesDf((1L, Seq("cat"))), k = 5, b = 1.5)
    }
  }

  test("rrfFuse: fused ordering, one-sided docs contribute one term, null ranks") {
    val s = spark
    import s.implicits._
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val vec = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(lex, vec, k = 10, rrfK = 60)
      .orderBy("fused_rank").collect()
    // doc 11: 1/62 + 1/61 ≈ 0.032524 beats doc 10 (1/61) and doc 12 (1/62)
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(11L, 10L, 12L))
    val d11 = got(0)
    val expected = (math.rint(1e6 / 62) + math.rint(1e6 / 61)) / 1e6
    assert(math.abs(d11.getAs[Double]("fused_score") - expected) < 1e-9)
    assert(d11.getAs[Long]("lex_rank") == 2L && d11.getAs[Long]("vec_rank") == 1L)
    // one-sided entries carry a null rank on the absent side
    assert(got(1).isNullAt(got(1).fieldIndex("vec_rank")))
    assert(got(2).isNullAt(got(2).fieldIndex("lex_rank")))
  }

  test("hybrid retrieval over persisted indexes: equals the inline " +
    "composition, and the serving plan reads ONLY the two index stores — " +
    "no corpus re-tokenize, no embedding re-scan") {
    val s = spark
    import s.implicits._
    val docs = docsDf((0 until 40).map(i =>
      (i.toLong, s"term${i % 7} term${i % 5} term${i % 3} filler$i")): _*)
    val embs = (0 until 40).map { i =>
      (i.toLong, (0 until Similarity.Dim).map(j =>
        math.sin(i * 31 + j).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-hybrid").toString
    Retrieval.writeBm25Index(docs, s"$root/bm25")
    Similarity.writeIvfIndex(embs, s"$root/ivf", kCells = 4, iters = 2)
    val queries = queriesDf((0L, Seq("term1", "term2")), (1L, Seq("term3")))
    val qv = embs.filter(col("vec_id") < 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("doc_id").asc)
    def ranked(df: org.apache.spark.sql.DataFrame) = df
      .withColumnRenamed("neighbor_id", "doc_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("doc_id"), col("rank"))
    // every cell probed → vector list ≡ brute force, so stored ≡ inline
    val stored = Retrieval.rrfFuse(
      Retrieval.bm25StoredTopK(s, s"$root/bm25", queries, k = 10)
        .select("query_id", "doc_id", "rank"),
      ranked(Similarity.ivfStoredTopK(s, s"$root/ivf", qv, 10, nprobe = 4)), k = 5)
    val inline = Retrieval.rrfFuse(
      Retrieval.bm25TopK(docs, queries, k = 10)
        .select("query_id", "doc_id", "rank"),
      ranked(Similarity.bruteForceTopK(embs, qv, 10)), k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(stored) == rows(inline) && rows(stored).nonEmpty)
    // the stored plan's file scans are the two index stores alone — the
    // corpus frames never re-enter (shortlist-sized fusion over indexes)
    val scans = stored.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      .linesIterator.filter(_.contains("Location:")).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("/bm25") || l.contains("/ivf")),
      s"hybrid serve must only scan the index stores, got:\n${scans.mkString("\n")}")
  }
}
