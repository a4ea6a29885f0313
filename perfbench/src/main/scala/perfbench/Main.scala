package perfbench

import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a workload run reports. */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Seq[(String, Double, String)],
                         layers: Seq[(String, Double, String)],
                         ops: Seq[Op] = Nil)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long, val workDir: Path) {
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Record a failed check (the first few are echoed to stderr). */
  def fail(msg: String): Unit = {
    if (failures.size < 5) System.err.println(s"[perfbench] check failed: $msg")
    failures += msg
  }
  def traced: Boolean = probe.traced
  /** Run a workload's set-up `times` times and keep the last result.
    * Returns the set-up time as process CPU (all JVM threads): what the
    * process spent before the first set-up (JVM and session start) plus
    * the median of the set-ups. CPU, not wall time, so that host CPU
    * steal does not move it. */
  def setUp[T](times: Int)(f: Int => T): (Double, T) = {
    val startCpu = probe.cpuNanos
    val runs = (1 to times).map { i =>
      val c0 = probe.cpuNanos
      val w0 = System.nanoTime()
      val r = f(i)
      ((probe.cpuNanos - c0) / 1e9, (System.nanoTime() - w0) / 1e9, r)
    }
    System.err.println(f"[perfbench] start ${startCpu / 1e9}%.2f s CPU, set-ups (CPU/wall) " +
      runs.map(r => f"${r._1}%.2f/${r._2}%.2f").mkString(" ") + " s")
    (startCpu / 1e9 + Stat.median(runs.map(_._1)), runs.last._3)
  }

  /** A fresh directory under the run's work dir. */
  def freshDir(name: String): String = {
    val p = workDir.resolve(name)
    Files.createDirectories(p)
    p.toAbsolutePath.toString
  }
}

/**
 * One workload run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
 * Prints the result as the last line of standard output:
 * {"correct":…, "attempted":…, "failed":…, "metrics":{name: {value, unit}}}.
 * Untraced runs report the end-to-end metrics, traced runs the per-layer
 * ones; a run record with steal ticks and, when traced, the spans lands
 * under `--out` (default `.bench_build/perfbench`). A run does one fixed
 * round of its workload, whatever `--seconds` says, so that every run
 * does the same work; the value is kept in the run record.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val out = Paths.get(a.getOrElse("out", ".bench_build/perfbench")).toAbsolutePath
    val run: Ctx => Outcome = workload match {
      case "rest" => Rest.run
      case "corpus_index" => Corpus.run
      case other => sys.error(s"unknown workload $other")
    }
    val steal0 = Steal.ticks()
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark.sparkContext)
    probe.registerStreaming(spark)
    if (trace) probe.enableTracing()
    val workDir = out.resolve(s"work-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(spark, probe, seed, workDir)
    val o = try run(ctx) finally {
      spark.stop()
      Steal.rmrf(workDir)
    }
    val steal = Steal.ticks() - steal0
    val metrics = if (trace) o.layers else o.e2e
    val correct = o.failed == 0 && ctx.failures.isEmpty
    val json = s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {""" +
      metrics.map { case (n, v, unit) => s""""$n": {"value": ${Steal.num(v)}, "unit": "$unit"}""" }
        .mkString(", ") + "}}"
    val record = out.resolve("records").resolve(
      s"$workload-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}.json")
    Files.createDirectories(record.getParent)
    Files.writeString(record, s"""{"workload": "$workload", "seed": $seed, "seconds": $seconds, """ +
      s""""trace": $trace, "steal_ticks": $steal, "failures": ${ctx.failures.size}, "ops": [""" +
      o.ops.map(op => f"""["${op.kind}", ${op.nanos / 1e6}%.3f, ${op.cpuNanos / 1e6}%.1f]""").mkString(", ") +
      s"""], "result": $json}""" + "\n")
    if (trace) probe.writeSpans(out.resolve("spans").resolve(s"$workload-seed$seed.jsonl"))
    System.err.println(s"[perfbench] steal_ticks=$steal record=$record")
    println(json)
    System.out.flush()
    sys.exit(0)
  }
}

object Steal {
  /** Host CPU steal ticks so far (the `cpu` line of /proc/stat), or 0
    * where the host does not report them. */
  def ticks(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      line.trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
    } catch { case _: Exception => 0L }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

object Stat {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Gen.quantile(xs.sorted.toIndexedSeq, 0.5)
}
