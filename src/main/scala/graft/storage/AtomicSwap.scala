package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The crash-safe table-rewrite swap shared by every persisted-index
 * compaction (near-dup, BM25, tag index): rewrite to `.{table}.compact`,
 * then `live → .{table}.old`, `.compact → live`, drop `.old`. A crash at
 * ANY point leaves a servable or recoverable copy:
 *  - before the first rename: live untouched;
 *  - between the renames: the only copy sits at `.old` — the next run's
 *    recovery rename restores it before doing anything else;
 *  - a failed second rename rolls `.old` back so the store stays
 *    servable.
 * Never read-and-overwrite in place (the GraftStorage.compact rule).
 *
 * ==Atomicity assumptions — READ BEFORE POINTING THIS AT AN OBJECT STORE==
 *
 * 1. '''`FileSystem.rename` must be atomic.''' It is on HDFS and local
 *    filesystems (a metadata move). On S3A / GCS connectors, rename is a
 *    COPY + DELETE — non-atomic and O(data) — so the crash-window
 *    reasoning above does not hold there: a crash mid-"rename" can leave
 *    a partial copy at both paths. [[swapTable]] logs a warning when the
 *    resolved scheme is a known copy-rename store ([[nonAtomicRenameWarning]]);
 *    on such stores, use a committer-based swap instead (write to a new
 *    versioned prefix and flip a pointer file, or the S3A magic
 *    committer's task-commit semantics) rather than this helper.
 * 2. '''Single writer, no concurrent reader during the swap.''' Between
 *    the two renames, the live path briefly does not exist; a serving
 *    read that lists the path inside that window fails with
 *    missing-path. Callers (all three index compactions) are
 *    maintenance jobs assumed to run while serving is quiesced — a
 *    reader that must stay up during compaction should retry via the
 *    `.{table}.old` recovery path on missing-path, or serve from a
 *    snapshot taken before the compaction started.
 */
object AtomicSwap {

  /** Rename on these schemes is copy+delete (non-atomic, O(data)) — the
    * crash-safety contract of [[swapTable]] does not hold there. */
  private val copyRenameSchemes = Set("s3a", "s3n", "s3", "gs", "wasb", "abfs", "abfss", "oss")

  /** The warning emitted (and returned, for tests) when `scheme` is a
    * known copy-rename object store; None on rename-atomic filesystems. */
  def nonAtomicRenameWarning(scheme: String, table: String): Option[String] =
    if (copyRenameSchemes.contains(scheme.toLowerCase))
      Some(s"AtomicSwap on '$scheme' for table '$table': rename is copy+delete on this " +
        "store (non-atomic); the crash-safe swap contract does NOT hold. Use a " +
        "committer-based swap (versioned prefix + pointer flip) on object stores.")
    else None

  /** `rewrite` receives the live table `t`, opened with its declared
    * schema, and must write its replacement to `$path/.${t.name}.compact`. */
  def swapTable(spark: SparkSession, path: String, t: StoreTable)
               (rewrite: DataFrame => Unit): Unit =
    swapCore(spark, path, t.name)(_ => rewrite(IndexStore.table(spark, path, t)))

  /** [[swapTable]] for a family-blind rewrite (a compaction shared by
    * stores whose tables differ): the table is declared from its own
    * files ([[IndexStore.storedTable]]) after the crash recovery, so a
    * rewrite keeps every column the table holds. */
  def swapTable(spark: SparkSession, path: String, table: String)
               (rewrite: DataFrame => Unit): Unit =
    swapCore(spark, path, table)(_ =>
      rewrite(IndexStore.table(spark, path, IndexStore.storedTable(spark, path, table))))

  /**
   * [[swapTable]] for a whole DIRECTORY TREE (a multi-table store):
   * `build` writes the complete replacement under the temp path it is
   * given, then the same recovery + double-rename discipline swaps it
   * in. This is how a rewrite spanning MULTIPLE tables whose contents
   * must stay mutually consistent (e.g. an IVF retrain: the cell
   * partitioning of `vectors` and the `centroids` model describe each
   * other) lands as ONE unit — per-table swaps would expose a crash
   * window with a new model over old partitions, which serves silently
   * wrong answers rather than failing. Same atomicity assumptions as
   * [[swapTable]] (rename-atomic filesystem, no concurrent reader
   * during the swap window).
   */
  def swapDir(spark: SparkSession, parent: String, name: String)
             (build: String => Unit): Unit =
    swapCore(spark, parent, name)(build)

  /** The ONE copy of the crash-window discipline both flavors share:
    * scheme warning → stranded-.old recovery → tmp/old pre-clean →
    * caller produces the replacement at the tmp path → double rename
    * with rollback → .old cleanup. A fix here fixes every swap. */
  private def swapCore(spark: SparkSession, parent: String, name: String)
                      (produce: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(parent).getFileSystem(conf)
    // getScheme throws UnsupportedOperationException in FileSystem's base
    // class — the advisory probe must never be able to break the swap
    scala.util.Try(fs.getScheme).toOption
      .flatMap(nonAtomicRenameWarning(_, name))
      .foreach(org.slf4j.LoggerFactory.getLogger(getClass).warn(_))
    val live = new org.apache.hadoop.fs.Path(s"$parent/$name")
    val tmp = new org.apache.hadoop.fs.Path(s"$parent/.$name.compact")
    val old = new org.apache.hadoop.fs.Path(s"$parent/.$name.old")
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"crash recovery failed for $name")
    fs.delete(tmp, true); fs.delete(old, true)
    produce(tmp.toString)
    // create-or-replace: a FRESH build has no live copy to park — the
    // single rename of tmp into place is the whole (atomic) commit, and
    // a crash before it leaves only the invisible dot-tmp (pre-cleaned
    // by the next run). Rewrites keep the full double-rename discipline.
    val hadLive = fs.exists(live)
    if (hadLive) require(fs.rename(live, old), s"swap failed for $name")
    if (!fs.rename(tmp, live)) {
      if (hadLive) fs.rename(old, live) // roll back so the store stays servable
      throw new IllegalStateException(s"swap failed for $name (rolled back)")
    }
    fs.delete(old, true)
  }
}
