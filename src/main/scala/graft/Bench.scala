package graft

import org.apache.spark.sql.SparkSession

/**
 * Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
 * and prints ONE JSON line.
 *
 * Materialization is a `noop`-sink write: every row is fully computed and
 * serialized through the query's whole plan (Catalyst cannot prune columns
 * against a noop sink the way it can against `.count()`), with no disk cost
 * measured.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    // JIT/IO warm-up outside the timed region
    spark.read.parquet(s"$sfDir/events.parquet").write.format("noop").mode("overwrite").save()
    // two passes, min per query: the harness shares a host (CPU steal is
    // observable), and a single pass also conflates JIT warm-up with plan
    // cost. Caches are cleared between runs so each is cold-state.
    // a throwing query must not silently read as a (near-zero-time) success:
    // failures are tracked by name, reported in the JSON, and fail the exit.
    // A failed run's (fast) duration is also NOT a valid timing sample —
    // the per-query min only considers successful runs.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) Some(dt) else None
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
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    def runPass(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      qs.map { case (name, fn) => (name, once(name, fn)) }.toMap
    val passes = Seq(0x5eed1L, 0x5eed2L, 0x5eed3L).map { seed =>
      runPass(new scala.util.Random(seed).shuffle(ordered))
    }
    // a query with NO successful sample reports null (not a fake 0.000
    // that would read as a speedup) and contributes nothing to the total
    val results: Seq[(String, Option[Double])] = ordered.map { case (name, _) =>
      name -> passes.flatMap(_(name)).minOption
    }
    val qs = results.map {
      case (k, Some(v)) => "\"" + k + "\":" + f"$v%.3f"
      case (k, None)    => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // env-supplied paths land inside JSON strings: escape \ and "
    def jsonStr(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val sfJson = jsonStr(sfDir)
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfJson"}"""
    println(line)
    // the driver's log tail truncates past ~77 queries — persist the FULL
    // per-query record to a repo-tracked file so every round has a complete
    // machine-readable bench artifact (judge round-9 task 4)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "docs/BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[bench] could not write $outPath: $e") }
    // the full line above exceeds a ~2000-char log tail once the suite
    // passed ~77 queries, so a tail-capture driver has parsed nothing
    // since then — print a COMPACT summary line LAST (guaranteed to fit
    // any tail; per-query data stays in the full line + $outPath)
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"queries_file":"${jsonStr(outPath)}","sf":"$sfJson"}"""
    println(summary)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
