package graft.storage

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The shared lifecycle primitives every persisted index tier composes —
 * near-dup (operators/Dedup), BM25 (operators/Retrieval), and the tag
 * index ([[TagIndex]]) all run the same five disciplines, extracted here
 * so the fourth index doesn't hand-copy them a fourth time:
 *
 *  1. **meta guard** — build parameters persist with the store as a
 *     single-row table; every probe/append/compact validates them first,
 *     because a caller with mismatched parameters (bucket modulus,
 *     hash family sizes) computes incompatible keys and silently
 *     returns near-empty results. Fail loudly instead.
 *  2. **replay screen** — appends anti-join the batch against an id
 *     table that is written FIRST, so a replayed batch is a no-op and a
 *     crash mid-append under-applies (repairable by compaction) rather
 *     than double-applying (unrepairable). See appendToBm25Index's
 *     ordering note.
 *  3. **bucketed writes** — bucket-partitioned tables repartition ON the
 *     partition column before `partitionBy`, so file count ∝ buckets,
 *     not tasks×buckets (measured to dominate build cost otherwise).
 *  4. **crash-safe compaction** — each table rewrites to a temp
 *     directory and swaps in via [[AtomicSwap]]'s double rename; a
 *     crash at any point leaves a servable or recoverable copy.
 *  5. **static bucket pruning on serve** — the query's bucket list is
 *     model-sized, collected, and pushed as a plan-time
 *     `bucket IN (...)` partition filter (DPP would not fire: query
 *     frames are LocalRelations with no selective scan to reuse).
 *
 * The payload math (what the tables contain, how appends merge) stays
 * with each index — only the lifecycle mechanics live here.
 */
object IndexStore {

  /**
   * Run INDEPENDENT store jobs concurrently (lifecycle primitive 7 —
   * the optimization-guide §2.6 "overlap independent jobs" discipline):
   * Spark's scheduler happily runs several jobs at once inside one
   * application; a multi-table store build/compaction that submits its
   * table writes sequentially leaves most executors idle through every
   * write's task tail. Submitting them from a small thread pool lets
   * one table's tail back-fill with the next table's tasks — wall-clock
   * drops from the SUM of the writes toward their MAX, at any cluster
   * size (the win grows with executor count; at low core counts FIFO
   * scheduling degrades gracefully to near-sequential).
   *
   * Callers pass only tasks with NO ordering constraint between them —
   * crash-ordering chains (replay screen before payload, stats rebuild
   * after base rewrites) stay sequential at the call site. Every task
   * settles before the call returns; the first failure rethrows after
   * all complete (no half-submitted overlap outlives the call).
   */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(tasks.size, 4))
      try {
        val fs = tasks.map { t =>
          pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() })
        }
        val failures = fs.flatMap(f => scala.util.Try(f.get()).failed.toOption)
          .map {
            case e: java.util.concurrent.ExecutionException => e.getCause
            case e => e
          }
        failures.headOption.foreach { first =>
          // keep the OTHER concurrent failures' diagnostics: a transient
          // FS error must not mask a real bug that failed alongside it
          failures.tail.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdownNow()
    }

  /** Persist build parameters as the store's single-row meta table. */
  def writeMeta(spark: SparkSession, path: String, fields: Seq[(String, Int)]): Unit = {
    val row = org.apache.spark.sql.Row.fromSeq(fields.map(_._2))
    spark.createDataFrame(java.util.List.of(row), metaSchema(fields))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The meta table's schema: one int column per field. A file read
    * makes it nullable, so an absent column reads as null. */
  private def metaSchema(fields: Seq[(String, Int)]) =
    org.apache.spark.sql.types.StructType(fields.map { case (n, _) =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.IntegerType,
        nullable = false)
    })

  /** Fail fast when a caller's parameters disagree with the store's.
    * The expected fields are the read schema (all int, names known), so
    * the guard runs one job — the collect — and no schema-inference job.
    * A field the stored meta lacks reads as null and is refused by name,
    * never taken as 0. */
  def requireMeta(spark: SparkSession, path: String, expected: Seq[(String, Int)]): Unit = {
    val rows = spark.read.schema(metaSchema(expected)).parquet(s"$path/meta").collect()
    require(rows.length == 1, s"index meta at $path/meta must be one row, found ${rows.length}")
    val missing = expected.indices.filter(rows(0).isNullAt).map(expected(_)._1)
    require(missing.isEmpty,
      s"index meta at $path/meta has no value for ${missing.mkString(", ")}")
    val stored = expected.map { case (n, _) => n -> rows(0).getAs[Int](n) }
    require(stored == expected,
      s"index at $path was built with ${stored.mkString(", ")}; " +
        s"caller passed ${expected.mkString(", ")}")
  }

  /** Batch rows whose key is absent from the store's screen table —
    * the replay-idempotency anti-join (primitive 2). The caller writes
    * its screen rows for the surviving batch FIRST, then the payload
    * tables. */
  def screenFresh(batch: DataFrame, path: String, screenTable: String,
                  keyCols: Seq[String]): DataFrame =
    batch.join(
      batch.sparkSession.read.parquet(s"$path/$screenTable")
        .select(keyCols.map(col): _*),
      keyCols, "left_anti")

  /** Bucket-partitioned write with the file-count discipline
    * (primitive 3): repartition on the partition column first. */
  def writeBucketed(df: DataFrame, path: String, table: String, overwrite: Boolean): Unit =
    df.repartition(col("bucket"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("bucket").parquet(s"$path/$table")

  /** Crash-safe compaction of a partition-column table (`bucket` for the
    * hash-bucketed stores, `cell` for IVF): back to one layout per
    * partition, behind the atomic swap; `transform` hooks the index's
    * purge step (e.g. dropping a tombstoned tenant's entries — the
    * rewrite is the one moment removing partition-scattered rows costs
    * nothing extra). */
  def compactBucketed(spark: SparkSession, path: String, table: String,
                      transform: DataFrame => DataFrame = identity,
                      partCol: String = "bucket"): Unit =
    AtomicSwap.swapTable(spark, path, table)(df =>
      writeCompactTmp(transform(df), s"$path/.$table.compact", partCol))

  /** A dynamic partitionBy of an EMPTY frame emits no part files at all
    * (only _SUCCESS), and a table with no schema-bearing footer fails
    * every subsequent read — bricking the store the moment a purge drops
    * the last row. The empty case is detected from the WRITTEN output
    * (an `isEmpty` probe up front would execute the whole compaction
    * plan a second time just to check); when it hits, land one empty
    * footer inside a synthetic partition dir: readers infer the
    * partition column from the dir name, later appends nest at the same
    * depth. */
  private def writeCompactTmp(out: DataFrame, tmp: String, partCol: String): Unit = {
    out.repartition(col(partCol)).write.partitionBy(partCol).parquet(tmp)
    val p = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(out.sparkSession.sparkContext.hadoopConfiguration)
    val wroteRows = fs.listStatus(p).exists(_.getPath.getName.startsWith(s"$partCol="))
    if (!wroteRows)
      out.drop(partCol).coalesce(1).write.parquet(s"$tmp/$partCol=0")
  }

  // ---- delete tombstones (primitive 6) — the takedown discipline shared
  // by all four persisted indexes: the delete APPENDS key rows to a side
  // table (O(delete), no rewrite, no swap window — safe against a live
  // store), serving screens against it (broadcast anti-join, delete-rate-
  // sized, absent-dir short-circuits to a clean plan), and the physical
  // purge rides the index's next compaction, which then clears the table.

  /** Pending delete tombstones, or None when none exist (the cheap
    * common case — serving plans stay anti-join-free). */
  def pendingDeletes(spark: SparkSession, path: String, table: String,
                     keyCols: Seq[String]): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString).select(keyCols.map(col): _*).distinct())
  }

  /** Tombstone-append-only delete: land the REGISTERED, not-yet-
    * tombstoned keys of `keys` (screened against `registry`, the store
    * table owning the key universe) in the delete table. The single
    * append IS the delete — a crash after it already serves correctly.
    * Idempotent: replayed and never-registered keys screen to empty. */
  def appendDeletes(spark: SparkSession, path: String, table: String,
                    keys: DataFrame, registry: String, keyCols: Seq[String]): Unit = {
    val registered = keys.select(keyCols.map(col): _*).distinct()
      .join(spark.read.parquet(s"$path/$registry").select(keyCols.map(col): _*),
        keyCols, "left_semi")
    val del = pendingDeletes(spark, path, table, keyCols)
      .fold(registered)(d => registered.join(broadcast(d), keyCols, "left_anti"))
      .localCheckpoint()
    if (!del.isEmpty)
      del.coalesce(1).write.mode("append").parquet(s"$path/$table")
  }

  /** Drop `cleared` (a checkpointed key frame) from the delete table —
    * the revival hook; the table vanishes when the last tombstone clears
    * (an absent dir is the cheap common case every serve probes). */
  def clearDeletes(spark: SparkSession, path: String, table: String,
                   cleared: DataFrame, keyCols: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val remaining = spark.read.parquet(p.toString).join(cleared, keyCols, "left_anti")
    if (remaining.isEmpty) fs.delete(p, true)
    else AtomicSwap.swapTable(spark, path, table)(df =>
      df.join(cleared, keyCols, "left_anti").coalesce(1)
        .write.parquet(s"$path/.$table.compact"))
  }

  /** Drop the whole delete table — compaction's final step, after the
    * physical purge landed (a crash before this leaves the screen over
    * already-purged data: harmless, the next compaction finishes). */
  def dropDeletes(spark: SparkSession, path: String, table: String): Unit =
    clearSideTables(spark, path, Seq(table))

  /** Recursive directory delete — the one definition of the
    * clear-before-rebuild primitive (query fixtures, probes, and
    * [[clearSideTables]] all need it; keeping one copy keeps
    * recursive-delete semantics in one place). */
  def rmrf(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Remove a store's side tables (tombstones / deleted-id dirs) — the
    * REBUILD hook: [[graft.storage.TagIndex.write]]-style overwrites
    * replace entries/metrics/meta, but a leftover tombstone dir from the
    * path's PREVIOUS store would silently screen ids present in the new
    * catalog out of serving (and a later append would "revive" them by
    * purging their freshly built rows). Every build-with-overwrite clears
    * them first. */
  def clearSideTables(spark: SparkSession, path: String, tables: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$t")
      p.getFileSystem(conf).delete(p, true)
    }
  }

  /** Crash-safe compaction of a flat table to a parallelism-sized file
    * set; `transform` hooks the index's repair step (e.g. the orphan
    * anti-join that deregisters ids whose payload rows never landed). */
  def compactFlat(spark: SparkSession, path: String, table: String,
                  transform: DataFrame => DataFrame = identity): Unit =
    AtomicSwap.swapTable(spark, path, table)(df =>
      // REBALANCE, not repartition(defaultParallelism): AQE sizes the
      // rewrite to the table's actual bytes (advisory partition size),
      // so a tiny table compacts to one file and a huge one to
      // well-sized files — a fixed task count writes parallelism-many
      // near-empty files locally and undersized partitions at scale
      transform(df).hint("rebalance")
        .write.parquet(s"$path/.$table.compact"))
}
