package graft.storage

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The shared index-lifecycle primitives, tested once generically —
  * the per-index suites (TagIndexSpec, DedupSpec, RetrievalSpec) pin
  * the composed behaviors on top of these. */
class IndexStoreSpec extends SparkTestBase {

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-ixs-$tag").toString

  test("meta guard: roundtrip validates, any drifted field fails loudly") {
    val path = tmp("meta")
    IndexStore.writeMeta(spark, path, Seq("buckets" -> 32, "k" -> 3))
    IndexStore.requireMeta(spark, path, Seq("buckets" -> 32, "k" -> 3))
    val e = intercept[IllegalArgumentException] {
      IndexStore.requireMeta(spark, path, Seq("buckets" -> 32, "k" -> 4))
    }
    assert(e.getMessage.contains("built with") && e.getMessage.contains("k"))
    // a missing field is a loud failure too, not a silent pass
    intercept[Exception] {
      IndexStore.requireMeta(spark, path, Seq("nonexistent" -> 1))
    }
    // a second row, in a second file, is refused; files a Spark read
    // skips (names starting with `_` or `.`) are skipped here too
    val meta = new java.io.File(s"$path/meta")
    val part = meta.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new java.io.File(meta, s".${part.getName}").toPath)
    Files.copy(part.toPath, new java.io.File(meta, s"_${part.getName}").toPath)
    IndexStore.requireMeta(spark, path, Seq("buckets" -> 32, "k" -> 3))
    Files.copy(part.toPath, new java.io.File(meta, s"x-${part.getName}").toPath)
    val twice = intercept[IllegalArgumentException] {
      IndexStore.requireMeta(spark, path, Seq("buckets" -> 32, "k" -> 3))
    }
    assert(twice.getMessage.contains("must be one row, found 2"), twice.getMessage)
  }

  test("replay screen: only ids absent from the screen table survive") {
    val s = spark
    import s.implicits._
    val path = tmp("screen")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "x")
      .write.parquet(s"$path/screen")
    val batch = Seq((2L, "B"), (3L, "c")).toDF("doc_id", "x")
    val fresh = IndexStore.screenFresh(batch, path, "screen", Seq("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(fresh == Set(3L), "replayed id 2 must anti-join away")
  }

  test("bucketed write: partition layout with file count ∝ buckets; " +
    "append mode folds in without touching other buckets' content") {
    val s = spark
    import s.implicits._
    val path = tmp("bucketed")
    val df = (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
    IndexStore.writeBucketed(df, path, "t", overwrite = true)
    val dirs = new java.io.File(s"$path/t").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("bucket=0", "bucket=1", "bucket=2", "bucket=3"))
    // one file per bucket, not tasks×buckets — the repartition discipline
    dirs.foreach { d =>
      val files = new java.io.File(s"$path/t/$d").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$d has $files files; expected 1")
    }
    IndexStore.writeBucketed(Seq((100L, 1)).toDF("id", "bucket"),
      path, "t", overwrite = false)
    assert(spark.read.parquet(s"$path/t").count() == 101)
  }

  test("compaction: bucketed keeps layout + content; flat applies the " +
    "repair transform; both swap atomically (no live/table loss on success)") {
    val s = spark
    import s.implicits._
    val path = tmp("compact")
    val df = (0 until 50).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
    IndexStore.writeBucketed(df, path, "bt", overwrite = true)
    // an append wave fragments the layout
    IndexStore.writeBucketed((50 until 60).map(i => (i.toLong, i % 4)).toDF("id", "bucket"),
      path, "bt", overwrite = false)
    val before = spark.read.parquet(s"$path/bt").collect().map(_.getLong(0)).toSet
    IndexStore.compactBucketed(spark, path, "bt")
    val after = spark.read.parquet(s"$path/bt").collect().map(_.getLong(0)).toSet
    assert(after == before, "compaction must not move answers")
    new java.io.File(s"$path/bt").listFiles().filter(_.isDirectory).foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getName} not dense after compact")
    }

    (0 until 20).map(_.toLong).toDF("id").write.parquet(s"$path/ft")
    IndexStore.compactFlat(spark, path, "ft", _.filter(col("id") < 15))
    assert(spark.read.parquet(s"$path/ft").count() == 15,
      "the repair transform must apply inside the swap")
    // swap leftovers cleaned: no .ft.old/.ft.compact directories remain
    val leftovers = new java.io.File(path).listFiles()
      .map(_.getName).filter(n => n.startsWith(".ft"))
    assert(leftovers.isEmpty, s"swap litter: ${leftovers.mkString(",")}")
  }

  test("a purge that drops EVERY row must not brick the store: the table " +
    "stays readable (schema intact) and a later bucketed append lands") {
    val s = spark
    import s.implicits._
    val path = tmp("emptyc")
    IndexStore.writeBucketed((0 until 20).map(i => (i.toLong, i % 4)).toDF("id", "bucket"),
      path, "t", overwrite = true)
    IndexStore.compactBucketed(spark, path, "t", _.filter(lit(false)))
    val emptied = spark.read.parquet(s"$path/t")
    assert(emptied.count() == 0)
    assert(emptied.columns.toSet == Set("id", "bucket"),
      s"schema must survive the empty rewrite: ${emptied.columns.mkString(",")}")
    // the store keeps working: appends land at the same partition depth
    IndexStore.writeBucketed(Seq((100L, 2), (101L, 3)).toDF("id", "bucket"),
      path, "t", overwrite = false)
    assert(spark.read.parquet(s"$path/t").collect().map(_.getLong(0)).toSet ==
      Set(100L, 101L))
    // same guard for the flat rewrite (Spark writes a schema-bearing
    // empty file there by itself — pinned so a regression is loud)
    (0 until 5).map(_.toLong).toDF("id").write.parquet(s"$path/f")
    IndexStore.compactFlat(spark, path, "f", _.filter(lit(false)))
    assert(spark.read.parquet(s"$path/f").count() == 0)
  }

  test("crash recovery: a table stranded at .old (crash between the two " +
    "swap renames) is restored before the next swap proceeds") {
    val s = spark
    import s.implicits._
    val path = tmp("recover")
    (0 until 10).map(_.toLong).toDF("id").write.parquet(s"$path/t")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // simulate the documented crash window: live renamed away, the
    // replacement never renamed in — the only copy sits at .t.old
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$path/t"),
      new org.apache.hadoop.fs.Path(s"$path/.t.old")))
    IndexStore.compactFlat(spark, path, "t", _.filter(col("id") < 5))
    assert(spark.read.parquet(s"$path/t").collect().map(_.getLong(0)).toSet ==
      (0L until 5L).toSet, "recovery must restore the stranded copy, then swap")
    assert(new java.io.File(path).listFiles().map(_.getName)
      .forall(n => !n.startsWith(".t")), "no swap litter")
  }

  test("crash recovery: a whole STORE stranded at .old (swapDir's window) " +
    "is restored before the next swap proceeds") {
    val s = spark
    import s.implicits._
    val parent = tmp("recdir")
    Seq(1L, 2L).toDF("id").write.parquet(s"$parent/store/a")
    val fs = new org.apache.hadoop.fs.Path(parent)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$parent/store"),
      new org.apache.hadoop.fs.Path(s"$parent/.store.old")))
    AtomicSwap.swapDir(spark, parent, "store") { tmpDir =>
      // the build must see the RECOVERED live store
      spark.read.parquet(s"$parent/store/a")
        .withColumn("id", col("id") * 10).write.parquet(s"$tmpDir/a")
    }
    assert(spark.read.parquet(s"$parent/store/a")
      .collect().map(_.getLong(0)).toSet == Set(10L, 20L))
    assert(new java.io.File(parent).listFiles().map(_.getName)
      .forall(n => !n.startsWith(".store")), "no swap litter")
  }

  test("clearSideTables removes the named dirs and tolerates absent ones") {
    val s = spark
    import s.implicits._
    val path = tmp("side")
    Seq("x").toDF("tenant_id").write.parquet(s"$path/tombstones")
    IndexStore.clearSideTables(spark, path, Seq("tombstones", "not_there"))
    assert(!new java.io.File(s"$path/tombstones").exists())
  }
}
