package perfbench

import graft.operators.{Dedup, Retrieval, Similarity}
import graft.streaming.{StreamingRetrieval, StreamingSimilarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/**
 * `corpus_index`: the lifecycle of the three corpus stores — an IVF
 * vector store, a BM25 inverted index and a MinHash near-duplicate
 * index — over one seeded corpus. One round builds the three stores,
 * lands an append wave that the `graft.streaming` maintainers drain into
 * the IVF and BM25 stores (AvailableNow triggers), compacts the three
 * stores, then serves fixed query batches from them. One client, closed
 * loop.
 */
object Corpus {
  val BaseDocs = 400
  val Words = 40
  val Clusters = 8
  val Cells = 8
  val Nprobe = 2
  val K = 10
  /** Recall floor of the IVF serve at [[Nprobe]] of [[Cells]] cells. */
  val RecallFloor = 0.6
  val Threshold = 0.8
  val WaveDocs = 40
  val Setups = 3

  final case class Doc(id: Long, words: IndexedSeq[String]) {
    def text: String = words.mkString(" ")
  }

  /** The generated inputs of one run. */
  final case class Inputs(docs: Seq[Doc], planted: Seq[(Long, Long)], targets: Seq[(Long, String, String)],
                          wave: Seq[Doc], wavePlanted: Seq[(Long, Long)],
                          waveTarget: (Long, String, String), queryIds: Seq[Long], seed: Long) {
    def vec(id: Long): Array[Float] = Gen.embedding(seed, id, Similarity.Dim, Clusters)
  }

  /** Base corpus plus planted near-duplicate copies (source, copy) and
    * BM25 targets (doc, rare term, common term); the append wave adds
    * fresh docs, near-duplicates of base docs and one BM25 target of its
    * own. */
  def inputs(seed: Long): Inputs = {
    def target(d: Doc, term: String): Doc = Doc(d.id, d.words ++ Seq(term, term))
    val base0 = (0 until BaseDocs).map(i => Doc(i.toLong, Gen.docWords(seed, i.toLong, Words)))
    val targets = (0 until 8).map(q => (100L + 13 * q, s"k$q", base0(100 + 13 * q).words(3)))
    val tIds = targets.map(t => t._1 -> t._2).toMap
    val base = base0.map(d => tIds.get(d.id).fold(d)(term => target(d, term)))
    val planted = (0 until 12).map(p => (7L * p, 1000L + p))
    val copies = planted.map { case (src, id) => Doc(id, Gen.nearCopy(seed, base(src.toInt).words, id, 1)) }
    val fresh = (0 until WaveDocs - 2).map { i =>
      val id = 2000L + i
      Doc(id, Gen.docWords(seed, id, Words))
    }
    val wavePlanted = (0 until 2).map(j => ((250 + j).toLong, 2090L + j))
    val dups = wavePlanted.map { case (src, id) => Doc(id, Gen.nearCopy(seed, base(src.toInt).words, id, 1)) }
    val wave = (fresh.tail :+ target(fresh.head, "wave")) ++ dups
    val waveTarget = (fresh.head.id, "wave", fresh.head.words(3))
    Inputs(base ++ copies, planted, targets, wave, wavePlanted, waveTarget,
      (0 until 8).map(q => 37L * q + 3), seed)
  }

  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def docsFrame(ctx: Ctx, ds: Seq[Doc]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(ds.map(d => Row(d.id, d.text)), 2), DocSchema)
  def vecsFrame(ctx: Ctx, in: Inputs, ds: Seq[Doc]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      ds.map(d => Row(d.id, in.vec(d.id).toSeq)), 2), VecSchema)

  // ---- checks ----------------------------------------------------------

  def checkIvf(ctx: Ctx, in: Inputs, corpus: Seq[Doc], rows: Array[Row], exact: Boolean): Boolean = {
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq }
    val cv = corpus.map(d => d.id -> in.vec(d.id))
    val want = in.queryIds.map(q => q -> Gen.bruteTopK(cv, q -> in.vec(q), K)).toMap
    if (exact) {
      val bad = in.queryIds.find(q => !got.get(q).contains(want(q)))
      bad.foreach(q => ctx.fail(s"ivf all-cells top-$K of $q ${got.get(q)} != brute force ${want(q)}"))
      bad.isEmpty
    } else {
      val hit = in.queryIds.map(q => got.getOrElse(q, Nil).toSet.intersect(want(q).toSet).size).sum
      val recall = hit.toDouble / (K * in.queryIds.size)
      if (recall < RecallFloor) ctx.fail(f"ivf recall $recall%.3f below the floor $RecallFloor")
      recall >= RecallFloor
    }
  }

  def checkBm25(ctx: Ctx, rows: Array[Row], targets: Seq[(Long, String, String)]): Boolean = {
    val top = rows.filter(_.getAs[Long]("rank") == 1L).map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
    val bad = targets.zipWithIndex.find { case ((doc, _, _), q) => !top.get(q.toLong).contains(doc) }
    bad.foreach { case ((doc, _, _), q) => ctx.fail(s"bm25 query $q ranked ${top.get(q.toLong)} first, planted $doc") }
    bad.isEmpty
  }

  def checkNearDup(ctx: Ctx, rows: Array[Row], docs: Map[Long, Doc], planted: Seq[(Long, Long)]): Boolean = {
    val pairs = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"), r.getAs[Double]("jaccard")))
    val found = pairs.map(p => (p._1, p._2)).toSet
    val missing = planted.filterNot { case (src, copy) => found((copy, src)) }
    missing.foreach(p => ctx.fail(s"near-dup pair $p not found"))
    val weak = pairs.filter { case (q, c, _) =>
      Gen.jaccard(Gen.shingles(docs(q).words, 3), Gen.shingles(docs(c).words, 3)) < Threshold }
    weak.headOption.foreach(p => ctx.fail(s"near-dup pair $p has exact Jaccard below $Threshold"))
    missing.isEmpty && weak.isEmpty
  }

  def bm25Queries(ctx: Ctx, ts: Seq[(Long, String, String)]): DataFrame = {
    val s = ctx.spark
    import s.implicits._
    ts.zipWithIndex.map { case ((_, rare, common), q) => (q.toLong, Seq(rare, common)) }.toDF("query_id", "terms")
  }

  // ---- one round -------------------------------------------------------

  final class Round(ctx: Ctx, in: Inputs, dir: String, log: OpLog) {
    val ivf = s"$dir/ivf"; val bm25 = s"$dir/bm25"; val nd = s"$dir/neardup"
    val vecSrc = s"$dir/src_vecs"; val docSrc = s"$dir/src_docs"
    val spark = ctx.spark
    var corpus: Seq[Doc] = in.docs
    def byId: Map[Long, Doc] = corpus.map(d => d.id -> d).toMap

    def op(kind: String, layer: String)(f: => Boolean): Unit = log(kind)(ctx.probe.span(layer)(f))

    def serveIvf(all: Boolean): Unit = op("read", "operators.ivf_serve") {
      val q = vecsFrame(ctx, in, in.queryIds.map(id => corpus.find(_.id == id).get))
      checkIvf(ctx, in, corpus, Similarity.ivfStoredTopK(spark, ivf, q, K, if (all) Cells else Nprobe).collect(), all)
    }
    def serveBm25(ts: Seq[(Long, String, String)]): Unit = op("read", "operators.bm25_serve") {
      checkBm25(ctx, Retrieval.bm25StoredTopK(spark, bm25, bm25Queries(ctx, ts), 5).collect(), ts)
    }
    def serveNearDup(planted: Seq[(Long, Long)]): Unit = op("read", "operators.neardup_serve") {
      val m = byId
      val qs = docsFrame(ctx, planted.map { case (_, copy) => m(copy) })
      checkNearDup(ctx, Dedup.nearDupLookup(spark, nd, qs, threshold = Threshold).collect(), m, planted)
    }

    def run(): Unit = {
      val docs = docsFrame(ctx, in.docs)
      op("build", "operators.ivf_build") { Similarity.writeIvfIndex(vecsFrame(ctx, in, in.docs), ivf, Cells, 2); true }
      op("build", "operators.bm25_build") { Retrieval.writeBm25Index(docs, bm25); true }
      op("build", "operators.neardup_build") { Dedup.writeNearDupIndex(docs, nd); true }
      // the wave lands in the maintainers' source directories first
      // (untimed: that is the upstream producer's work)
      vecsFrame(ctx, in, in.wave).coalesce(1).write.mode("append").parquet(vecSrc)
      docsFrame(ctx, in.wave).coalesce(1).write.mode("append").parquet(docSrc)
      op("append", "streaming.wave") {
        ctx.probe.span("streaming.ivf")(StreamingSimilarity.ivfIngest(
          spark.readStream.schema(VecSchema).parquet(vecSrc), ivf, s"$dir/ckpt_ivf", Cells, 2).awaitTermination())
        ctx.probe.span("streaming.bm25")(StreamingRetrieval.indexIngest(
          spark.readStream.schema(DocSchema).parquet(docSrc), bm25, s"$dir/ckpt_bm25").awaitTermination())
        corpus = corpus ++ in.wave
        true
      }
      op("compact", "operators.compact") {
        Similarity.compactIvfIndex(spark, ivf)
        Retrieval.compactBm25Index(spark, bm25)
        Dedup.compactNearDupIndex(spark, nd)
        true
      }
      // the grown, compacted stores serve every planted answer: built,
      // appended and compaction-rewritten rows alike
      serveIvf(all = false)
      serveIvf(all = true)
      serveBm25(in.targets :+ in.waveTarget)
      serveNearDup(in.planted ++ in.wavePlanted)
    }
  }

  def run(ctx: Ctx): Outcome = {
    // set up several times: generate the inputs and materialize them as
    // frames (the generator is the part that scales with the corpus)
    val (setupS, in) = ctx.setUp(Setups) { _ =>
      val in = inputs(ctx.seed)
      docsFrame(ctx, in.docs).count()
      vecsFrame(ctx, in, in.docs).count()
      in
    }
    // no warm-up round: the lifecycle is measured as a fresh process
    // runs it (a build-append-compact-serve job), JIT and codegen included
    val log = new OpLog(ctx)
    val gc0 = ctx.probe.gcMs
    new Round(ctx, in, ctx.freshDir("round"), log).run()
    val gc = (ctx.probe.gcMs - gc0).toDouble
    ctx.probe.drain()
    val layers = if (ctx.traced) CorpusLayers(ctx, log, gc) else Nil
    Outcome(log.ops.size, log.failed,
      log.endToEnd(setupS, log.of("read"), log.of("append"), log.of("compact")), layers, log.ops.toSeq)
  }
}
