package graft.storage

import graft.functions.GraftFunctions
import graft.storage.StoreTables.Tags
import graft.tagquery.TagQueryParser
import graft.tagquery.TagQueryParser._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Persisted inverted TAG index — the storage analog of the reference's
 * `metrics_tags_idx` table (DataAccessImpl.java insertIntoMetricsTagsIndex;
 * bootstrap.groovy:117-137): one row per (metric, tag), partitioned by a
 * hash bucket of the TAG NAME, so a tag-query touches only its referenced
 * names' buckets instead of scanning the whole catalog.
 *
 * At fixture scale the one-scan compiled-Column path (TagQueryParser
 * .compile over the catalog) is unbeatable; this index is the
 * 100 TB-catalog serving path — millions of series × dozens of tags make
 * the catalog itself a big table, and the reference's answer (a tags
 * index consulted per leaf, SimpleTagQueryParser.java:121-189) maps to
 * bucket-pruned leaf scans + id-set algebra here. Semantics are pinned
 * EQUAL to the compiled-Column path (spec + shared driver oracle): each
 * metric holds at most one value per tag name, so per-entry predicates
 * coincide with the map's element_at semantics.
 *
 * Layout under `path`:
 *   entries/bucket=N/  (tag_name, tag_value, tenant_id, mtype, metric)
 *   metrics/           (tenant_id, mtype, metric) — the id universe the
 *                      complement leaves (NOT k) evaluate against, and
 *                      the append path's replay screen
 *   meta/              bucket count (a probe with a different modulus
 *                      fails loudly instead of missing partitions)
 *   tombstones/        deleted tenant ids ([[deleteTenant]]) — serving
 *                      screens against them until compaction purges
 *   deleted_ids/       deleted metric ids ([[deleteMetric]]) — same
 *                      screen-then-purge split, id-keyed
 */
object TagIndex {

  val Buckets = 32

  private def bucketOf(name: Column): Column =
    pmod(xxhash64(name), lit(Buckets.toLong)).cast("int")

  private val IdCols = Seq("tenant_id", "mtype", "metric")

  /** Build → store from a catalog frame (tenant_id, mtype, metric,
    * tags map). One explode pass; files ∝ buckets. */
  def write(catalog: DataFrame, path: String): Unit = {
    val spark = catalog.sparkSession
    // a REBUILD at a path whose previous store had pending deletes must
    // not inherit them: leftover tombstones would screen tenants/ids
    // present in the NEW catalog out of serving
    IndexStore.clearSideTables(spark, path, Seq("tombstones", "deleted_ids"))
    // the two data tables are independent — concurrent (§2.6); META
    // lands LAST, never concurrently: requireMeta is every later
    // append/probe's half-built-store guard, so meta's existence must
    // imply both tables landed
    IndexStore.inParallel(Seq(
      () => IndexStore.writeBucketed(catalog
        .select(col("tenant_id"), col("mtype"), col("metric"),
          explode(col("tags")).as(Seq("tag_name", "tag_value")))
        .withColumn("bucket", bucketOf(col("tag_name"))),
        path, "entries", overwrite = true),
      // n_tags rides along so compaction can tell a crash-orphaned metric
      // (n_tags > 0, no entries) from a genuinely tag-less one
      () => catalog.select(IdCols.map(col) :+ size(col("tags")).cast("long").as("n_tags"): _*)
        .write.mode("overwrite").parquet(s"$path/metrics")))
    IndexStore.writeMeta(spark, path, Tags.Meta.row(Buckets))
  }

  /**
   * Incremental maintenance: fold a catalog batch in WITHOUT rebuilding.
   * Already-indexed metric ids anti-join away, so a replayed batch is a
   * no-op (the appendToBm25Index contract, same write order: the
   * `metrics` replay screen lands FIRST — a crash before the entries
   * append leaves the batch's metrics registered but tag-less, the
   * benign window, instead of double-indexed tags on replay).
   */
  def append(spark: SparkSession, path: String, catalogBatch: DataFrame): Unit = {
    requireMeta(spark, path)
    // revival: a batch re-registering a deleted tenant clears its
    // tombstone — stale pre-delete entries purge first (any entry a
    // tombstoned tenant still has IS pre-delete by definition), then the
    // tombstone drops, then the batch lands through the normal screen.
    // Crash-ordered: every step before the screen write is idempotent,
    // so a replayed batch redoes the revival and still lands.
    val dead = tombstoned(spark, path)
    val revived =
      if (dead.isEmpty) Set.empty[String]
      else catalogBatch.select(col("tenant_id")).distinct()
        .filter(col("tenant_id").isin(dead: _*))
        .collect().map(_.getString(0)).toSet
    // same revival contract for metric-level tombstones: a batch
    // re-registering a deleted id purges its stale entries and drops it
    // from deleted_ids BEFORE the screened append (crash-idempotent for
    // the same reason — nothing of the batch lands until the end).
    // Both revival kinds fold into ONE entries + ONE metrics rewrite —
    // a batch reviving a tenant AND an id must not pay the (whole-table)
    // rewrite twice.
    val revivedIds = deletedIds(spark, path).map { del =>
      catalogBatch.select(IdCols.map(col): _*).distinct()
        .join(broadcast(del), IdCols, "left_semi").localCheckpoint()
    }.filter(!_.isEmpty)
    if (revived.nonEmpty || revivedIds.nonEmpty) {
      val rv = revived.toSeq.sorted
      def purgeRevived(df: DataFrame): DataFrame = {
        val t = if (rv.isEmpty) df else df.filter(!col("tenant_id").isin(rv: _*))
        revivedIds.fold(t)(ids => t.join(broadcast(ids), IdCols, "left_anti"))
      }
      IndexStore.inParallel(Seq(
        () => IndexStore.compactBucketed(spark, path, "entries", purgeRevived),
        // the metrics purge here is load-bearing, not cosmetic: deletes are
        // tombstone-APPEND-only (see [[deleteTenant]]), so the revived ids'
        // pre-delete screen rows are still registered — without this purge
        // the replay screen below would anti-join the revival away forever
        () => IndexStore.compactFlat(spark, path, "metrics", purgeRevived)))
      if (revived.nonEmpty) clearTombstones(spark, path, revived)
      revivedIds.foreach(IndexStore.clearDeletes(spark, path, Tags.DeletedIds, _, IdCols))
    }
    // localCheckpoint BEFORE any write: the entries append below must not
    // recompute the anti-join against the post-append metrics listing
    val fresh = IndexStore.screenFresh(catalogBatch, path, Tags.Metrics, IdCols)
      .localCheckpoint()
    fresh.select(IdCols.map(col) :+ size(col("tags")).cast("long").as("n_tags"): _*)
      .write.mode("append").parquet(s"$path/metrics")
    IndexStore.writeBucketed(fresh
      .select(col("tenant_id"), col("mtype"), col("metric"),
        explode(col("tags")).as(Seq("tag_name", "tag_value")))
      .withColumn("bucket", bucketOf(col("tag_name"))),
      path, "entries", overwrite = false)
  }

  /**
   * S9 — delete a tenant from the index. The reference runs tenant
   * deletion as a background job that clears the data, `metrics_idx`,
   * `metrics_tags_idx` and retention rows (`core/.../jobs/DeleteTenant
   * .java:34-62`); the same deferred-work split applies here, with
   * compaction playing the job: the delete itself is O(1) — a tombstone
   * row — and serving ([[lookup]]) excludes the tenant the instant it
   * lands, while the physical purge of its bucket-scattered entries
   * rides the next [[compact]] rewrite (removing them there costs
   * nothing extra; an eager purge would be a full index rewrite per
   * delete). The delete is tombstone-append-ONLY — no table rewrite, no
   * [[AtomicSwap]] window — so it is safe to run against a LIVE store
   * (a concurrent lookup sees either the pre- or post-delete answer,
   * never a missing path; the compaction jobs remain the only operations
   * that need quiesced serving). The `metrics` replay-screen rows purge
   * at revival time instead: a later re-registration of the tenant is by
   * definition the [[append]] revival path, which purges the stale
   * screen rows before its anti-join. Idempotent: duplicate tombstone
   * rows screen identically.
   */
  def deleteTenant(spark: SparkSession, path: String, tenantId: String): Unit = {
    requireMeta(spark, path)
    import spark.implicits._
    // the single write IS the delete: a crash after this line already
    // serves correctly (the entries scan, the metrics universe and the
    // NOT-universe all screen against it)
    Seq(tenantId).toDF("tenant_id").coalesce(1)
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** Deleted-tenant ids the store still screens against. Driver-resident
    * by design: tenant cardinality is tenants-table-sized (the reference
    * collects the same list to fan its delete job out, DeleteTenant.java),
    * orders of magnitude below the catalog. */
  private def tombstoned(spark: SparkSession, path: String): Seq[String] = {
    IndexStore.tableIfPresent(spark, path, Tags.Tombstones).fold(Seq.empty[String])(
      _.select(col("tenant_id")).distinct().collect().map(_.getString(0)).toSeq.sorted)
  }

  /** Drop `cleared` tenants from the tombstone list
    * ([[IndexStore.clearDeletes]]). */
  private def clearTombstones(spark: SparkSession, path: String, cleared: Set[String]): Unit = {
    import spark.implicits._
    IndexStore.clearDeletes(spark, path, Tags.Tombstones, cleared.toSeq.toDF("tenant_id"),
      Seq("tenant_id"))
  }

  /**
   * S9 — delete ONE metric from the index (the reference's synchronous
   * `deleteMetric` clears the metric's `metrics_tags_idx` rows alongside
   * its data, `MetricsServiceImpl.java:1085-1101`). The metric's entries
   * are scattered across tag-name buckets, so an eager purge would
   * rewrite the whole entries table per delete; instead the id lands in
   * `deleted_ids/` — a delete-rate-sized table serving anti-joins
   * against (broadcast-sized between compactions) — and the physical
   * purge rides [[compact]]. Tombstone-append-ONLY, like
   * [[deleteTenant]]: live-store-safe, no swap window; the `metrics`
   * screen row purges at revival time ([[append]]'s revival path runs
   * before its replay screen, so a re-created metric registers again).
   * Idempotent.
   */
  def deleteMetric(spark: SparkSession, path: String, tenantId: String,
                   mtype: Int, metric: String): Unit = {
    requireMeta(spark, path)
    import spark.implicits._
    IndexStore.appendDeletes(spark, path, Tags.DeletedIds,
      Seq((tenantId, mtype, metric)).toDF(IdCols: _*), registry = Tags.Metrics, IdCols)
  }

  /** The pending metric-level tombstones, or None when none exist (the
    * cheap common case — serving plans stay anti-join-free). */
  private def deletedIds(spark: SparkSession, path: String): Option[DataFrame] =
    IndexStore.pendingDeletes(spark, path, Tags.DeletedIds, IdCols)

  /** Tag names a query references — these decide which buckets serving
    * reads. Complement leaves (NOT k) also reference k. */
  def referencedKeys(ast: Ast): Set[String] = ast match {
    case HasKey(k) => Set(k)
    case NotKey(k) => Set(k)
    case Eq(k, _) => Set(k)
    case Neq(k, _) => Set(k)
    case Regex(k, _) => Set(k)
    case NotRegex(k, _) => Set(k)
    case In(k, _) => Set(k)
    case NotIn(k, _) => Set(k)
    case And(l, r) => referencedKeys(l) ++ referencedKeys(r)
    case Or(l, r) => referencedKeys(l) ++ referencedKeys(r)
  }

  /**
   * Serve a tag-query expression from the stored index in ONE pruned
   * scan: the referenced names' buckets are computed (a |keys|-row job)
   * and pushed as a STATIC `bucket IN (...)` partition filter (plan-time
   * pruning, the bm25StoredTopK pattern — DPP would not fire here: the
   * key list is a LocalRelation with no selective scan to reuse). Every
   * leaf then becomes ONE boolean aggregate column over that single scan
   * (`max(when(leafPred, true))` per metric id — an exists pivot), and
   * the expression's algebra evaluates as a plain boolean filter over
   * the pivoted row. A 20-leaf expression costs one scan + one map-side-
   * combined aggregate instead of 20 pruned scans + 19 intersect/union
   * shuffles — the cost concern behind the reference's per-group index
   * ordering (SimpleTagQueryParser.java:121-189) dissolves into one job.
   *
   * Complement leaves (NOT k) see ids with no entry for k as NULL
   * pivot columns (left join from the stored id universe), so
   * `coalesce(b, false)` gives the set-complement semantics; the
   * universe join happens only when the expression needs it. Exists-
   * style negative VALUE leaves (k != v, !~, NOT IN) stay positive
   * pivots: each metric holds at most one value per name, so "has an
   * entry for k whose value fails the predicate" is their id-set
   * meaning, identical to the previous per-leaf scan form (spec-pinned
   * against the compiled-Column catalog path). Answers
   * (tenant_id, mtype, metric), distinct by construction (groupBy).
   */
  def lookup(spark: SparkSession, path: String, expr: String): DataFrame = {
    requireMeta(spark, path)
    val ast = TagQueryParser.parse(expr)
    val keys = referencedKeys(ast).toSeq.sorted
    import spark.implicits._
    // deleted tenants and deleted metric ids screen out of BOTH the
    // entries scan and the NOT-universe until compaction purges them
    // ([[deleteTenant]]/[[deleteMetric]]); the static isin pushes to the
    // parquet scans, the id screen is a broadcast anti-join (delete-rate-
    // sized), and both vanish from the plan when no deletes are pending
    val dead = tombstoned(spark, path)
    val deadIds = deletedIds(spark, path)
    def live(df: DataFrame): DataFrame = {
      val t = if (dead.isEmpty) df else df.filter(!col("tenant_id").isin(dead: _*))
      deadIds.fold(t)(ids => t.join(broadcast(ids), IdCols, "left_anti"))
    }
    val buckets = keys.toDF("tag_name")
      .select(bucketOf(col("tag_name")).as("bucket"))
      .collect().map(_.getInt(0)).distinct.sorted.toSeq
    val entries = live(IndexStore.table(spark, path, Tags.Entries))
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("tag_name").isin(keys: _*))
    def pat(p: String): Column = GraftFunctions.filterPattern(col("tag_value"), p)

    // one pivot column per DISTINCT leaf (deduped so `k = v OR k = v`
    // costs one aggregate); insertion order keeps plans deterministic
    val leaves = scala.collection.mutable.LinkedHashMap.empty[Ast, String]
    var needUniverse = false
    def register(a: Ast): Unit = a match {
      case And(l, r) => register(l); register(r)
      case Or(l, r) => register(l); register(r)
      case NotKey(k) => needUniverse = true; register(HasKey(k))
      case In(_, Seq()) => // constant-false leaf, no pivot column
      case NotIn(k, Seq()) => register(HasKey(k))
      case leaf => leaves.getOrElseUpdate(leaf, s"__l${leaves.size}")
    }
    register(ast)
    // entry-level predicate for one positive leaf
    def entryPred(a: Ast): Column = a match {
      case HasKey(k) => col("tag_name") === k
      case Eq(k, v) => col("tag_name") === k && col("tag_value") === v
      case Neq(k, v) => col("tag_name") === k && col("tag_value") =!= v
      case Regex(k, p) => col("tag_name") === k && pat(p)
      case NotRegex(k, p) => col("tag_name") === k && !pat(p)
      case In(k, vs) => col("tag_name") === k && vs.map(pat).reduce(_ || _)
      case NotIn(k, vs) => col("tag_name") === k && !vs.map(pat).reduce(_ || _)
      case other => throw new IllegalStateException(s"not a leaf: $other")
    }
    val aggCols = leaves.map { case (leaf, name) =>
      max(when(entryPred(leaf), lit(true))).as(name)
    }.toSeq
    val pivoted =
      if (aggCols.isEmpty)
        live(IndexStore.table(spark, path, Tags.Metrics)).select(IdCols.map(col): _*)
      else {
        val agg = entries.groupBy(IdCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        if (needUniverse)
          live(IndexStore.table(spark, path, Tags.Metrics)).select(IdCols.map(col): _*)
            .join(agg, IdCols, "left")
        else agg
      }
    def hit(leaf: Ast): Column = coalesce(col(leaves(leaf)), lit(false))
    def boolOf(a: Ast): Column = a match {
      case And(l, r) => boolOf(l) && boolOf(r)
      case Or(l, r) => boolOf(l) || boolOf(r)
      case NotKey(k) => !hit(HasKey(k))
      case In(_, Seq()) => lit(false) // IN [] matches nothing
      case NotIn(k, Seq()) => hit(HasKey(k)) // has key, excluded by nothing
      case leaf => hit(leaf)
    }
    pivoted.filter(boolOf(ast)).select(IdCols.map(col): _*)
  }

  /**
   * Compact after append waves: entries merge back to one layout per
   * bucket, metrics to a parallelism-sized set, both behind the shared
   * crash-safe swap ([[AtomicSwap]]). Repairs the append path's crash
   * window — a metric whose screen row landed (n_tags > 0) but whose
   * entries never did is deregistered, so a replayed catalog batch
   * lands it instead of no-opping forever. (A genuinely tag-less metric
   * has n_tags = 0 and is kept.) Lookup answers are unchanged —
   * spec-pinned.
   */
  def compact(spark: SparkSession, path: String): Unit = {
    requireMeta(spark, path)
    // the physical half of [[deleteTenant]]: tombstoned tenants purge
    // inside the rewrites this compaction performs anyway, then the
    // tombstones clear LAST (a crash before the clear leaves the screen
    // in place over already-purged data — harmless, and the next
    // compaction finishes the job)
    val dead = tombstoned(spark, path)
    val deadIds = deletedIds(spark, path).map(_.localCheckpoint())
    def purge(df: DataFrame): DataFrame = {
      val t = if (dead.isEmpty) df else df.filter(!col("tenant_id").isin(dead: _*))
      deadIds.fold(t)(ids => t.join(broadcast(ids), IdCols, "left_anti"))
    }
    // pre-swap snapshot, lineage truncated (the swaps below must not
    // recompute this against the post-swap store)
    val indexedIds = IndexStore.table(spark, path, Tags.Entries)
      .select(IdCols.map(col): _*).distinct()
    val orphanIds = IndexStore.table(spark, path, Tags.Metrics)
      .filter(col("n_tags") > 0)
      .join(indexedIds, IdCols, "left_anti")
      .select(IdCols.map(col): _*).localCheckpoint()
    IndexStore.inParallel(Seq(
      () => IndexStore.compactBucketed(spark, path, "entries", purge),
      () => IndexStore.compactFlat(spark, path, "metrics",
        df => purge(df).join(orphanIds, IdCols, "left_anti"))))
    if (dead.nonEmpty) clearTombstones(spark, path, dead.toSet)
    deadIds.foreach(_ => IndexStore.dropDeletes(spark, path, "deleted_ids"))
  }

  private def requireMeta(spark: SparkSession, path: String): Unit =
    IndexStore.requireMeta(spark, path, Tags.Meta.row(Buckets))
}
