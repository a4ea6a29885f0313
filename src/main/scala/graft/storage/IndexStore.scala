package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * The store-table reader and the lifecycle primitives every persisted
 * store composes: the cell stores and SRP (operators/Similarity),
 * near-dup (operators/Dedup), BM25 (operators/Retrieval), the tag index
 * ([[TagIndex]]) and the metrics store ([[GraftStorage]],
 * api/MetricsService).
 *
 * **Every store is read through [[table]]** (or [[tableIfPresent]] where
 * an absent table means something). It opens a table declared once in
 * [[StoreTables]] with its declared schema, so an open runs no
 * schema-inference job and no partition directory is re-typed by its
 * value; an absent required table is refused by name.
 *
 * The seven primitives built on it:
 *
 *  1. **meta guard** — build parameters persist with the store as a
 *     single-row table; every probe/append/compact validates them first,
 *     because a caller with mismatched parameters (bucket modulus,
 *     hash family sizes) computes incompatible keys and silently
 *     returns near-empty results. Fail loudly instead. The guard reads
 *     its row on the driver ([[requireMeta]]): it runs no Spark job.
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
 *  5. **static bucket pruning on serve** — the request side (probe
 *     cells, hashed query buckets, query terms) is built once on the
 *     driver: [[local]] collects it once, the serve takes its bucket or
 *     cell list from those rows and pushes it as a plan-time
 *     `bucket IN (...)` partition filter, and joins the same rows back
 *     in as a local relation. Only the store scan runs as Spark work
 *     (DPP would not fire: a request-sized probe side has no selective
 *     scan to reuse).
 *  6. **delete tombstones** — a delete appends keys to a side table,
 *     serves screen against it, and compaction purges and clears it.
 *  7. **overlapped independent jobs** — [[inParallel]].
 *
 * The payload math (what the tables contain, how appends merge) stays
 * with each store; only the reader and the lifecycle mechanics live
 * here.
 */
object IndexStore {

  /** Open table `t` of the store at `path` with its declared schema —
    * the one way a store table is read. Refuses an absent table by
    * name. */
  def table(spark: SparkSession, path: String, t: StoreTable): DataFrame =
    tableIfPresent(spark, path, t).getOrElse(throw absent(path, t))

  /** [[table]], or None when the table does not exist: the side tables
    * whose absence carries meaning (no tombstones, a flat store's missing
    * routing model), and the metrics store's tables, where absent means
    * empty ([[tableOrEmpty]]). */
  def tableIfPresent(spark: SparkSession, path: String, t: StoreTable): Option[DataFrame] = {
    val p = new Path(t.at(path))
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(spark.read.schema(t.schema).parquet(p.toString))
  }

  /** [[tableIfPresent]], with an absent table read as empty. */
  def tableOrEmpty(spark: SparkSession, path: String, t: StoreTable): DataFrame =
    tableIfPresent(spark, path, t).getOrElse(
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), t.schema))

  private def absent(path: String, t: StoreTable) =
    new IllegalStateException(s"store table '${t.name}' is absent at ${t.at(path)}")

  /** The data files a read of the table directory `dir` sees: `.parquet`
    * files with no `_`- or `.`-prefixed name below `dir` (commit markers,
    * staging and compaction temps are not data). */
  private def dataFiles(conf: Configuration, dir: Path): Iterator[Path] = {
    val files = dir.getFileSystem(conf).listFiles(dir, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath).filter { f =>
      f.getName.endsWith(".parquet") &&
        !f.toUri.getPath.stripPrefix(dir.toUri.getPath).split('/')
          .exists(n => n.startsWith("_") || n.startsWith("."))
    }
  }

  /** The Spark schema of a stored parquet footer. */
  private def sparkSchema(spark: SparkSession, footer: MessageType): StructType =
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(footer)

  /** An undeclared table, declared from its own files: the columns of one
    * stored footer, read on the driver (no Spark job); its partition
    * columns are the ones its directories name. A family-blind rewrite
    * ([[AtomicSwap.swapTable]]) takes its schema from here, so it keeps
    * every column the table holds. */
  def storedTable(spark: SparkSession, path: String, name: String): StoreTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$path/$name")
    val file = dataFiles(conf, dir).nextOption().getOrElse(throw new IllegalStateException(
      s"store table '$name' at $dir holds no data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    StoreTable(name, sparkSchema(spark, footer).toDDL)
  }

  /** A request-sized frame, collected once: `rows` for the serve's
    * driver-side decisions (the cells or buckets it prunes to), `frame`
    * the same rows as a local relation for its joins, so nothing
    * upstream runs twice and no checkpoint is written. Only for frames a
    * serve broadcasts or collects anyway: they are driver-sized already. */
  final case class Local(rows: Array[Row], frame: DataFrame)

  def local(df: DataFrame): Local = {
    val rows = df.collect()
    Local(rows, df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
  }

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
    spark.createDataFrame(java.util.List.of(row), StoreTables.meta(fields.map(_._1): _*).schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Fail fast when a caller's parameters disagree with the store's.
    * The expected fields declare the meta table (all int, names known),
    * and its one row is read on the driver ([[metaRows]]): the guard
    * runs no Spark job. A field the stored meta lacks or holds null in is
    * refused by name, never taken as 0; so is one stored with another
    * type. */
  def requireMeta(spark: SparkSession, path: String, expected: Seq[(String, Int)]): Unit = {
    val rows = metaRows(spark, path, StoreTables.meta(expected.map(_._1): _*))
    require(rows.length == 1, s"index meta at $path/meta must be one row, found ${rows.length}")
    val missing = expected.zip(rows.head).collect { case ((n, _), None) => n }
    require(missing.isEmpty,
      s"index meta at $path/meta has no value for ${missing.mkString(", ")}")
    val stored = expected.zip(rows.head).map { case ((n, _), v) => n -> v.get }
    require(stored == expected,
      s"index at $path was built with ${stored.mkString(", ")}; " +
        s"caller passed ${expected.mkString(", ")}")
  }

  /** Every row of the meta table `t` at `path`, its fields in declared
    * order, read on the driver with parquet-hadoop's record reader from
    * the files a Spark read would see. A field a file lacks or holds null
    * in reads as None. */
  private def metaRows(spark: SparkSession, path: String, t: StoreTable): Seq[Seq[Option[Int]]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(t.at(path))
    if (!dir.getFileSystem(conf).exists(dir)) throw absent(path, t)
    dataFiles(conf, dir).flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val footer = reader.getFooter.getFileMetaData.getSchema
        val stored = sparkSchema(spark, footer)
        val present = t.schema.fields.map { f =>
          stored.find(_.name == f.name).map { s =>
            require(s.dataType == f.dataType, s"index meta at ${t.at(path)}: field ${f.name} " +
              s"is stored as ${s.dataType.sql}, declared ${f.dataType.sql}")
            f.name
          }
        }.toSeq
        val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(footer)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
          val records = io.getRecordReader(pages,
            new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(footer))
          Iterator.fill(pages.getRowCount.toInt)(records.read()).map(g =>
            present.map(_.filter(g.getFieldRepetitionCount(_) > 0).map(g.getInteger(_, 0))))
        }.toVector
      } finally reader.close()
    }.toVector
  }

  /** Batch rows whose key is absent from the store's screen table —
    * the replay-idempotency anti-join (primitive 2). The caller writes
    * its screen rows for the surviving batch FIRST, then the payload
    * tables. */
  def screenFresh(batch: DataFrame, path: String, screen: StoreTable,
                  keyCols: Seq[String]): DataFrame =
    batch.join(table(batch.sparkSession, path, screen).select(keyCols.map(col): _*),
      keyCols, "left_anti")

  /** [[screenFresh]] against an undeclared screen table ([[storedTable]]). */
  def screenFresh(batch: DataFrame, path: String, screenTable: String,
                  keyCols: Seq[String]): DataFrame =
    screenFresh(batch, path, storedTable(batch.sparkSession, path, screenTable), keyCols)

  /** Bucket-partitioned write with the file-count discipline
    * (primitive 3): repartition on the partition column first. */
  def writeBucketed(df: DataFrame, path: String, table: String, overwrite: Boolean): Unit =
    df.repartition(col("bucket"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("bucket").parquet(s"$path/$table")

  /** Crash-safe compaction of a partition-column table (`bucket` for the
    * hash-bucketed stores, `cell` for IVF): back to one layout per
    * partition, behind the family-blind atomic swap (the cell families
    * share it, so the rewrite keeps whatever columns the table holds);
    * `transform` hooks the index's purge step (e.g. dropping a
    * tombstoned tenant's entries — the rewrite is the one moment
    * removing partition-scattered rows costs nothing extra). */
  def compactBucketed(spark: SparkSession, path: String, table: String,
                      transform: DataFrame => DataFrame = identity,
                      partCol: String = "bucket"): Unit =
    AtomicSwap.swapTable(spark, path, table)(df =>
      writeCompactTmp(transform(df), s"$path/.$table.compact", partCol))

  /** A dynamic partitionBy of an EMPTY frame emits no part files at all
    * (only _SUCCESS), and a table with no schema-bearing footer cannot
    * be declared from its files ([[storedTable]]) — the next compaction
    * would refuse it. The empty case is detected from the WRITTEN output
    * (an `isEmpty` probe up front would execute the whole compaction
    * plan a second time just to check); when it hits, land one empty
    * footer inside a synthetic partition dir, so later appends nest at
    * the same depth. */
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
    * common case — serving plans stay anti-join-free). Not deduplicated:
    * every consumer is a left-anti or left-semi join, which a repeated
    * key does not change, so a distinct would only add a shuffle. */
  def pendingDeletes(spark: SparkSession, path: String, deletes: StoreTable,
                     keyCols: Seq[String]): Option[DataFrame] =
    tableIfPresent(spark, path, deletes).map(_.select(keyCols.map(col): _*))

  /** Tombstone-append-only delete: land the REGISTERED, not-yet-
    * tombstoned keys of `keys` (screened against `registry`, the store
    * table owning the key universe) in the delete table. The single
    * append IS the delete — a crash after it already serves correctly.
    * Idempotent: replayed and never-registered keys screen to empty. */
  def appendDeletes(spark: SparkSession, path: String, deletes: StoreTable,
                    keys: DataFrame, registry: StoreTable, keyCols: Seq[String]): Unit = {
    val registered = keys.select(keyCols.map(col): _*).distinct()
      .join(table(spark, path, registry).select(keyCols.map(col): _*), keyCols, "left_semi")
    val del = pendingDeletes(spark, path, deletes, keyCols)
      .fold(registered)(d => registered.join(broadcast(d), keyCols, "left_anti"))
      .localCheckpoint()
    if (!del.isEmpty)
      del.coalesce(1).write.mode("append").parquet(deletes.at(path))
  }

  /** Drop `cleared` (a checkpointed key frame) from the delete table —
    * the revival hook; the table vanishes when the last tombstone clears
    * (an absent dir is the cheap common case every serve probes). */
  def clearDeletes(spark: SparkSession, path: String, deletes: StoreTable,
                   cleared: DataFrame, keyCols: Seq[String]): Unit = {
    val remaining = table(spark, path, deletes).join(cleared, keyCols, "left_anti")
    if (remaining.isEmpty) rmrf(spark, deletes.at(path))
    else AtomicSwap.swapTable(spark, path, deletes)(df =>
      df.join(cleared, keyCols, "left_anti").coalesce(1)
        .write.parquet(s"$path/.${deletes.name}.compact"))
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
  def clearSideTables(spark: SparkSession, path: String, tables: Seq[String]): Unit =
    tables.foreach(t => rmrf(spark, s"$path/$t"))

  /** Crash-safe compaction of a flat table to a parallelism-sized file
    * set, behind the family-blind swap; `transform` hooks the index's
    * repair step (e.g. the orphan anti-join that deregisters ids whose
    * payload rows never landed). */
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
