package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File

/** Source rules checked on the code itself. In `operators/`, `storage/`,
  * `api/` and `streaming/`, every parquet read opens a declared store
  * table through `IndexStore.table` (or `tableIfPresent`), so no other
  * file there may build a batch parquet reader. Fixture-input readers
  * (`sources/EventsAdapter`, `SparkEntry`, `Bench.replicate`) live
  * outside these directories: their inputs' encodings vary by round, so
  * they infer. */
class SourceRuleSpec extends AnyFunSuite {

  private val Reader = """\bread\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"|schema\s*\()""".r

  /** Each `file:line` in `dirs` that builds a parquet reader, a call
    * split over lines included; comment lines are blanked first. */
  private def offences(dirs: Seq[File], allowed: Set[String]): Seq[String] = {
    def files(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    dirs.flatMap(files).filterNot(f => allowed(f.getName)).flatMap { f =>
      val code = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        .map(l => if (l.trim.startsWith("*") || l.trim.startsWith("//")) "" else l)
        .mkString("\n")
      Reader.findAllMatchIn(code)
        .map(m => s"${f.getPath}:${code.take(m.start).count(_ == '\n') + 1}").toList
    }
  }

  private val Main = new File("src/main/scala/graft")
  private val Covered = Seq("operators", "storage", "api", "streaming").map(new File(Main, _))

  test("store tables are opened only through IndexStore in operators, storage, api " +
    "and streaming") {
    Covered.foreach(d => assert(d.isDirectory, s"$d is not a directory"))
    val found = offences(Covered, allowed = Set("IndexStore.scala"))
    assert(found.isEmpty, "parquet readers outside IndexStore:\n" + found.mkString("\n"))
  }

  test("the rule sees a bare read and a format read, and skips comments") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rule").toFile
    val f = new File(dir, "Probe.scala")
    java.nio.file.Files.writeString(f.toPath, Seq(
      "val a = spark.read.parquet(p)",
      "val b = spark.read",
      "  .format(\"parquet\").load(p)",
      "val c = spark.read.format(\"parquet\").load(p)",
      "// spark.read.parquet(p) in a comment",
      "val d = docs.readStream.format(\"parquet\")").mkString("\n"))
    assert(offences(Seq(dir), Set.empty).map(_.split(':').last) == Seq("1", "2", "4"))
  }
}
