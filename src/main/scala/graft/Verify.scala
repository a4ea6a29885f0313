package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare of `tools/check.py`.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [query,query,...]`.
  *
  * `SPARK_GRAFT_MASTER` overrides the master, so the whole correctness path
  * (parquet dumps, then the DuckDB compare) can run on a real multi-JVM
  * `local-cluster[n,c,mem]`. That catches what one JVM cannot:
  * non-serializable closures, driver-only state reached from executors,
  * in-process-only broadcasts and task results over the RPC limit. It
  * needs `SPARK_SCALA_VERSION=2.13`: without it the standalone executor
  * launcher probes `SPARK_HOME` for the directories of a source build,
  * which a binary Spark dist does not have (launcher
  * `AbstractCommandBuilder.getScalaVersion`), and fails only when the
  * executors launch. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query subset (dev iteration); a
    // misspelled name must fail the run, never shrink it silently
    val subset = args.lift(2).map(_.split(",").toSet)
    subset.foreach(SparkEntry.requireKnown)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val cluster = master.startsWith("local-cluster")
    require(!cluster || sys.env.contains("SPARK_SCALA_VERSION"),
      "set SPARK_SCALA_VERSION=2.13 with a local-cluster master: the standalone " +
        "executor launcher needs it to build the executor classpath from a binary Spark dist")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (cluster)
      // standalone workers launch from SPARK_HOME and need this project's
      // compiled classes on their classpath explicitly
      b.config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
