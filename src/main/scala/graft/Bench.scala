package graft

import graft.operators.Similarity
import graft.storage.IndexStore
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
 * and prints ONE JSON line.
 *
 * Materialization is a `noop`-sink write: every row is fully computed and
 * serialized through the query's whole plan (Catalyst cannot prune columns
 * against a noop sink the way it can against `.count()`), with no disk cost
 * measured.
 *
 * Usage: `runMain graft.Bench [--replicas N] [--plans DIR] [query ...]`.
 *  - Query names time only those queries; an unknown name fails the run
 *    before Spark starts.
 *  - `--plans DIR` writes each query's `.explain("formatted")` to
 *    `DIR/<name>.txt`, after the timed passes.
 *  - `--replicas N` times a ×N copy of the fixture ([[replicate]]),
 *    written once before the timed passes.
 *
 * Each query's fastest pass also records its [[Instrument]] layers. The
 * record file carries them under `"layers"`; stdout prints them as
 * one-line JSON chunks of at most [[ChunkChars]] chars, before the compact
 * total line, which stays last.
 */
object Bench {

  private type Q = (SparkSession, String) => DataFrame

  private[graft] final case class Options(replicas: Int = 1, plans: Option[String] = None,
                                          names: Seq[String] = Nil)

  private[graft] def parse(args: List[String]): Options = args match {
    case Nil => Options()
    case "--replicas" :: n :: rest => parse(rest).copy(replicas = n.toInt)
    case "--plans" :: dir :: rest => parse(rest).copy(plans = Some(dir))
    case name :: rest if !name.startsWith("--") =>
      val o = parse(rest)
      o.copy(names = name +: o.names)
    case other :: _ => throw new IllegalArgumentException(
      s"usage: Bench [--replicas N] [--plans DIR] [query ...]; cannot read $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    SparkEntry.requireKnown(opts.names)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    val dir =
      if (opts.replicas == 1) sfDir
      else replicate(spark, sfDir, opts.replicas, s"target/bench-x${opts.replicas}")
    // JIT/IO warm-up outside the timed region
    spark.read.parquet(s"$dir/events.parquet").write.format("noop").mode("overwrite").save()
    val instrument = new Instrument(spark)
    // two passes, min per query: the harness shares a host (CPU steal is
    // observable), and a single pass also conflates JIT warm-up with plan
    // cost. Caches are cleared between runs so each is cold-state.
    // a throwing query must not silently read as a (near-zero-time) success:
    // failures are tracked by name, reported in the JSON, and fail the exit.
    // A failed run's (fast) duration is also NOT a valid timing sample —
    // the per-query min only considers successful runs.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def once(name: String, fn: Q): Option[(Double, Instrument.Layers)] = {
      val ((ok, dt), layers) = instrument.measure {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              failed += name
              false
          }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      spark.catalog.clearCache()
      if (ok) Some((dt, layers)) else None
    }
    // three FULL passes with the per-query min taken ACROSS passes (not
    // back-to-back runs of each query): host CPU-steal bursts span several
    // consecutive seconds, so back-to-back runs let one burst corrupt both
    // samples. Earlier rounds used sorted + reversed order, but a MIRRORED
    // schedule places a mid-suite query's samples at the same mid-run
    // wall-clock offset in both passes, so a recurring mid-run burst still
    // survived the min (round-4 driver run: gauge_stats/_by_metric — both
    // mid-alphabet — read 4-8x inflated). Each pass now runs a DIFFERENT
    // seeded random permutation (deterministic across runs), so no two
    // passes agree on any query's schedule offset: a burst must recur at
    // three unrelated offsets to corrupt all three samples.
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => opts.names.isEmpty || opts.names.contains(name) }
      .sortBy(_._1)
    val passes = Seq(0x5eed1L, 0x5eed2L, 0x5eed3L).map { seed =>
      new scala.util.Random(seed).shuffle(ordered).map { case (name, fn) => (name, once(name, fn)) }.toMap
    }
    // a query with NO successful sample reports null (not a fake 0.000
    // that would read as a speedup) and contributes nothing to the total
    val results = ordered.map { case (name, _) => name -> passes.flatMap(_(name)).minByOption(_._1) }
    instrument.close()
    opts.plans.foreach { planDir =>
      Files.createDirectories(Paths.get(planDir))
      ordered.foreach { case (name, fn) =>
        try Files.writeString(Paths.get(planDir, s"$name.txt"),
          fn(spark, dir).queryExecution.explainString(FormattedMode))
        catch { case e: Exception => System.err.println(s"[bench] $name plan failed: ${e.getMessage}") }
        spark.catalog.clearCache()
      }
    }
    // the driver's log tail truncates past ~77 queries — persist the FULL
    // per-query record to a repo-tracked file so every round has a complete
    // machine-readable bench artifact (judge round-9 task 4); a partial or
    // replicated run writes elsewhere, so it cannot replace that record
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (opts.names.isEmpty && opts.replicas == 1) "docs/BENCH_FULL.json" else "target/BENCH.json")
    val (record, lines) = report(results, failed.toSeq, dir, outPath)
    try Files.writeString(Paths.get(outPath), record + "\n")
    catch { case e: Exception => System.err.println(s"[bench] could not write $outPath: $e") }
    lines.foreach(println)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Longest stdout line of layer data. */
  val ChunkChars = 1500

  /** The record file's JSON line and the stdout lines: the full total line,
    * the layer chunks, then the compact total line. */
  private[graft] def report(results: Seq[(String, Option[(Double, Instrument.Layers)])],
                            failed: Seq[String], sf: String,
                            outPath: String): (String, Seq[String]) = {
    // env-supplied paths land inside JSON strings: escape \ and "
    def jsonStr(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val qs = results.map {
      case (k, Some((v, _))) => "\"" + k + "\":" + f"$v%.3f"
      case (k, None)         => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val layers = results.collect { case (k, Some((_, l))) => "\"" + k + "\":" + Instrument.json(l) }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).map(_._1).sum
    val head = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs"""
    val tail = s""","failed":$failedJson,"sf":"${jsonStr(sf)}"}"""
    // the full line exceeds a ~2000-char log tail once the suite passed
    // ~77 queries, so a reader of the log's tail finds no parsable line —
    // print a COMPACT summary line LAST (guaranteed to fit any tail;
    // per-query data stays in the full line + the record file)
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"queries_file":"${jsonStr(outPath)}","sf":"${jsonStr(sf)}"}"""
    (head + layers.mkString(""","layers":{""", ",", "}") + tail,
      (head + tail) +: chunks(layers) :+ summary)
  }

  /** Packs `"name":{...}` entries into as few `{"metric":"layers",...}`
    * lines of at most [[ChunkChars]] chars as their order allows. */
  private def chunks(entries: Seq[String]): Seq[String] = {
    def line(es: Seq[String]) = es.mkString("""{"metric":"layers","layers":{""", ",", "}}")
    entries.foldLeft(Vector.empty[Vector[String]]) { (acc, e) =>
      if (acc.nonEmpty && line(acc.last :+ e).length <= ChunkChars) acc.init :+ (acc.last :+ e)
      else acc :+ Vector(e)
    }.map(line)
  }

  /**
   * Writes a ×n copy of the fixture in `sfDir` to `outDir` and returns
   * `outDir`. Replica 0 is the fixture's rows; replica r shifts each key
   * by r strides, a stride being a power of ten above the table's largest
   * key, so the replicas' key spaces are disjoint (n× groups, not n×
   * duplicates inside one group):
   *  - events: `event_id` and `user_id`;
   *  - documents: `doc_id`, and every 4th word gets a letter tag. A tail
   *    suffix would leave cross-replica shingle Jaccard at ≥ 0.8, so
   *    near-dup pair output would grow n²; a quarter of the words cuts it
   *    to about 0.14. Letters, not digits, survive the digit
   *    normalization of `dedup_normalized`;
   *  - embeddings: `vec_id`, and the components rotate by r, which keeps
   *    norms and within-replica geometry and makes cross-replica cosine
   *    about 0. Past n = `Similarity.Dim` the rotation repeats, so n is
   *    capped there.
   * Each table is written as one file, so `EventsAdapter.singleFileFanOut`
   * takes the same branch at ×1 and ×n. The other fixture files are
   * copied as they are.
   */
  private[graft] def replicate(spark: SparkSession, sfDir: String, n: Int,
                               outDir: String): String = {
    val dim = Similarity.Dim
    require(n >= 1 && n <= dim, s"replicas must be in 1..$dim, the embedding dimension (got $n)")
    IndexStore.rmrf(spark, outDir)
    Files.createDirectories(Paths.get(outDir))
    def table(name: String, keys: String*)(replica: (DataFrame, Int) => DataFrame): Unit = {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      val top = df.select(keys.map(k => max(col(k))): _*).head()
      val strides = keys.indices.map(i =>
        Iterator.iterate(10L)(_ * 10).find(_ > top.getAs[Number](i).longValue).get)
      val copies = (0 until n).map { r =>
        val shifted = keys.zip(strides).foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(r * s))
        }
        if (r == 0) shifted else replica(shifted, r)
      }
      val tmp = s"$outDir/_$name"
      copies.reduce(_ unionByName _).coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"))
      IndexStore.rmrf(spark, tmp)
    }
    table("events", "event_id", "user_id")((d, _) => d)
    table("documents", "doc_id") { (d, r) =>
      val tag = s"r${('a' + r / 26).toChar}${('a' + r % 26).toChar}"
      d.withColumn("text", array_join(transform(split(col("text"), " "),
          (w, i) => when(pmod(i, lit(4)) === 0, concat(w, lit(tag))).otherwise(w)), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    table("embeddings", "vec_id") { (d, r) =>
      d.withColumn("embedding",
        concat(slice(col("embedding"), r + 1, dim - r), slice(col("embedding"), 1, r)))
    }
    val replicated = Set("events.parquet", "documents.parquet", "embeddings.parquet")
    new File(sfDir).listFiles().filter(f => f.isFile && !replicated(f.getName))
      .foreach(f => Files.copy(f.toPath, Paths.get(outDir, f.getName)))
    outDir
  }
}
