package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.Similarity
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** `Bench`'s options, its stdout and record format, its fixture
  * replication, and the refusal of unknown query names by `Bench` and
  * `Verify`. */
class BenchSpec extends SparkTestBase {

  private val json = new ObjectMapper()

  test("Bench reads its options; no arguments is the full run") {
    assert(Bench.parse(Nil) == Bench.Options())
    assert(Bench.parse(List("--replicas", "8", "rollup_stats", "--plans", "p", "dedup_clusters")) ==
      Bench.Options(replicas = 8, plans = Some("p"), names = Seq("rollup_stats", "dedup_clusters")))
    intercept[IllegalArgumentException](Bench.parse(List("--replica", "8")))
  }

  test("every layer chunk fits the line limit and parses; the compact line is last") {
    val layers = ListMap(
      "wall_ms" -> 1234L, "spark.jobs" -> 12L, "spark.tasks" -> 345L,
      "spark.input_bytes" -> 123456789L, "streaming.addBatch_ms" -> 0L)
    val results = (0 until 40).map(i =>
      f"query_with_a_long_name_$i%02d" -> (if (i == 7) None else Some((1.5 + i, layers))))
    val (record, lines) = Bench.report(results, Seq("query_with_a_long_name_07"),
      "/data/sf \"x\"", "out/BENCH.json")
    val chunks = lines.filter(_.startsWith("""{"metric":"layers""""))
    assert(chunks.size > 1)
    chunks.foreach(c => assert(c.length <= Bench.ChunkChars, c.length))
    val chunked = chunks.flatMap { c =>
      val l = json.readTree(c).get("layers")
      l.fieldNames().asScala.map(n => n -> l.get(n))
    }
    assert(chunked.map(_._1) == results.collect { case (n, Some(_)) => n })
    assert(chunked.forall(_._2.get("spark.input_bytes").asLong == 123456789L))

    val compact = json.readTree(lines.last)
    assert(compact.get("n_queries").asInt == 40)
    assert(compact.get("queries_file").asText == "out/BENCH.json")
    assert(compact.get("sf").asText == "/data/sf \"x\"")
    assert(lines.head == record.replaceFirst(""","layers":\{.*\}\},"failed"""", ""","failed""""))

    val full = json.readTree(record)
    assert(full.get("queries").size == 40 && full.get("queries").get("query_with_a_long_name_07").isNull)
    assert(full.get("layers").size == 39)
    assert(full.get("failed").get(0).asText == "query_with_a_long_name_07")
    assert(math.abs(full.get("value").asDouble - results.flatMap(_._2).map(_._1).sum) < 1e-3)
  }

  /** A small fixture in the driver's layout: the three replicated tables
    * and one table that is copied as it is. */
  private def fixture(): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-bench-fx").toString
    def one(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/_$name")
      val part = new java.io.File(s"$dir/_$name").listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"))
    }
    one((0 until 60).map(i => (i.toLong, 1704067200000000L + i * 60000000L, (i % 9).toLong,
        if (i % 3 == 0) "click" else "purchase", i * 1.5, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"), "events")
    one((0 until 20).map(i => (i.toLong, s"the quick brown fox $i jumps over the lazy dog", "en", s"src${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")
    one((0 until 30).map(i => (i.toLong, Array.tabulate(Similarity.Dim)(j => ((i * 7 + j * 3) % 11 - 5).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label"), "embeddings")
    one(Seq((0, "AFRICA")).toDF("r_regionkey", "r_name"), "region")
    dir
  }

  test("a x2 copy doubles each table into disjoint key spaces and keeps the norms") {
    val dir = fixture()
    val out = Files.createTempDirectory("graft-bench-x2").toString + "/x2"
    assert(Bench.replicate(spark, dir, 2, out) == out)
    for (t <- Seq("events", "documents", "embeddings", "region"))
      assert(Files.isRegularFile(Paths.get(s"$out/$t.parquet")), t)
    def read(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet")
    assert(read(out, "region").count() == 1)

    for ((t, keys) <- Seq("events" -> Seq("event_id", "user_id"),
                          "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))) {
      val (src, x2) = (read(dir, t), read(out, t))
      assert(x2.count() == 2 * src.count(), t)
      assert(x2.schema.fieldNames.toSeq == src.schema.fieldNames.toSeq, t)
      for (k <- keys) {
        val base = src.select(k).distinct().count()
        assert(x2.select(k).distinct().count() == 2 * base, s"$t.$k")
        // replica 0 is the fixture's own keys
        assert(x2.select(k).intersect(src.select(k)).count() == base, s"$t.$k")
      }
    }

    val docs = read(out, "documents").filter(col("doc_id") >= 100).collect()
    assert(docs.forall(r => r.getAs[String]("text").split(" ").head.endsWith("rab")))
    assert(docs.forall(r => r.getAs[Long]("n_chars") == r.getAs[String]("text").length))

    def norms(d: String) = read(d, "embeddings").collect().map { r =>
      r.getAs[Long]("vec_id") % 100 -> math.sqrt(r.getSeq[Float](1).map(x => x.toDouble * x).sum)
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val (n1, n2) = (norms(dir), norms(out))
    n2.foreach { case (id, ns) =>
      assert(ns.size == 2 && ns.forall(n => math.abs(n - n1(id).head) < 1e-9), id)
    }
    val vecs = read(out, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    assert(vecs.keys.filter(_ < 100).forall(v => vecs(v) != vecs(v + 100)))
  }

  test("more replicas than the embedding dimension are refused") {
    val out = Files.createTempDirectory("graft-bench-xd").toString + "/x"
    val e = intercept[IllegalArgumentException](
      Bench.replicate(spark, "no-such-fixture", Similarity.Dim + 1, out))
    assert(e.getMessage.contains(s"1..${Similarity.Dim}"))
    assert(!Files.exists(Paths.get(out)))
  }

  test("Bench and Verify refuse unknown query names, naming each one") {
    val b = intercept[IllegalArgumentException](
      Bench.main(Array("knn_ivf_stored", "knn_ivf_stord", "bogus")))
    assert(b.getMessage == "unknown query names: bogus, knn_ivf_stord")
    val v = intercept[IllegalArgumentException](
      Verify.main(Array("no-such-fixture", "no-such-out", "knn_ivf_stored,bogus")))
    assert(v.getMessage == "unknown query names: bogus")
    assert(!Files.exists(Paths.get("no-such-out")))
  }
}
