package graft.streaming

import graft.SparkTestBase
import graft.operators.Retrieval
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming BM25 index ingest: wave-by-wave build/append equals a full
  * rebuild; checkpoint restarts and replayed content are no-ops. */
class StreamingRetrievalSpec extends SparkTestBase {

  test("two waves build+append the stored index to full-rebuild equality; " +
    "a replayed wave is a no-op (at-least-once → exactly-once effect)") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("graft-sbm25-src").toString
    val idx = Files.createTempDirectory("graft-sbm25").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-sbm25-ckpt").toString
    def docsDf(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
    val waveA = docsDf((0 until 12).map(i =>
      (i.toLong, s"cat w$i ${if (i % 2 == 0) "dog" else "bird fish"}")): _*)
    val waveB = docsDf((12 until 20).map(i =>
      (i.toLong, s"cat cat dog extra tokens w$i here")): _*)
    waveA.coalesce(1).write.mode("append").parquet(src)
    waveB.coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    def drain(): Unit = {
      val q = StreamingRetrieval.indexIngest(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        idx, ckpt)
      q.awaitTermination()
    }
    drain()
    val queries = Seq((1L, Seq("cat", "fish")), (2L, Seq("dog")))
      .toDF("query_id", "terms")
    def answers() = Retrieval.bm25StoredTopK(s, idx, queries, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val streamed = answers()
    val rebuilt = Files.createTempDirectory("graft-sbm25-reb").toString
    Retrieval.writeBm25Index(waveA.unionByName(waveB), rebuilt)
    assert(streamed == Retrieval.bm25StoredTopK(s, rebuilt, queries, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq,
      "streamed index must equal a full rebuild")
    assert(s.read.parquet(s"$idx/corpusstats").collect()(0).getLong(0) == 20L)
    // restart with nothing new: zero batches, store untouched
    drain()
    assert(answers() == streamed)
    // a REPLAYED wave lands as a new file: already-indexed ids anti-join
    // away inside the append — the exactly-once-effect contract
    waveB.coalesce(1).write.mode("append").parquet(src)
    drain()
    assert(answers() == streamed)
    assert(s.read.parquet(s"$idx/corpusstats").collect()(0).getLong(0) == 20L)
  }

  test("an empty first batch builds no BM25 store and the next non-empty " +
    "batch bootstraps; an empty later batch leaves the serve answers unchanged") {
    val s = spark
    import s.implicits._
    val src = Files.createTempDirectory("graft-sbm25e-src").toString
    val idx = Files.createTempDirectory("graft-sbm25e").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-sbm25e-ckpt").toString
    val wave = (0 until 12).map(i => (i.toLong, s"cat w$i ${if (i % 2 == 0) "dog" else "bird"}"))
      .toDF("doc_id", "text")
    // each drain reads only the files landed since the last one
    def land(df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("append").parquet(src)
      StreamingRetrieval.indexIngest(s.readStream.schema(wave.schema).parquet(src), idx, ckpt)
        .awaitTermination()
    }
    land(wave.limit(0))
    assert(!new java.io.File(idx).exists(), "an empty first batch must build no store")
    land(wave)
    val queries = Seq((1L, Seq("cat", "bird")), (2L, Seq("dog"))).toDF("query_id", "terms")
    def answers(p: String) = Retrieval.bm25StoredTopK(s, p, queries, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val rebuilt = Files.createTempDirectory("graft-sbm25e-reb").toString
    Retrieval.writeBm25Index(wave, rebuilt)
    val built = answers(idx)
    assert(built == answers(rebuilt), "the first non-empty batch must bootstrap the store")
    land(wave.limit(0))
    assert(answers(idx) == built, "an empty later batch must leave the answers unchanged")
    assert(s.read.parquet(s"$idx/corpusstats").collect()(0).getLong(0) == 12L)
  }
}
