package graft

import java.io.File
import java.nio.file.Files

/** Fixture staging by filesystem copy: the staged files sit flat in the
  * stage directory, whether the input is one parquet file or a
  * Spark-written directory of them. */
class StageFlatSpec extends SparkTestBase {

  private def names(dir: String): Set[String] =
    new File(dir).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet

  test("a single parquet file stages as itself") {
    val d = Files.createTempDirectory("graft-stage-file").toString
    spark.range(3).coalesce(1).write.parquet(s"$d/w")
    val part = new File(s"$d/w").listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new File(s"$d/events.parquet").toPath)
    SparkEntry.stageFlat(spark, s"$d/events.parquet", s"$d/stage")
    assert(names(s"$d/stage") == Set("events.parquet"))
    assert(spark.read.parquet(s"$d/stage").count() == 3)
  }

  test("a Spark-written parquet directory stages as its data files, flat") {
    val d = Files.createTempDirectory("graft-stage-dir").toString
    spark.range(10).repartition(2).write.parquet(s"$d/events.parquet")
    SparkEntry.stageFlat(spark, s"$d/events.parquet", s"$d/stage")
    val staged = names(s"$d/stage")
    assert(staged.size == 2 && staged.forall(_.endsWith(".parquet")), staged)
    assert(spark.read.parquet(s"$d/stage").count() == 10)
  }

  test("a directory with subdirectories is refused by path") {
    val d = Files.createTempDirectory("graft-stage-nested").toString
    spark.range(4).selectExpr("id", "id % 2 AS p")
      .write.partitionBy("p").parquet(s"$d/events.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.stageFlat(spark, s"$d/events.parquet", s"$d/stage")
    }
    assert(e.getMessage.contains(s"$d/events.parquet"), e.getMessage)
    assert(!new File(s"$d/stage").exists(), "nothing may be staged on refusal")
  }
}
