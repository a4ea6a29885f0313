package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Full-text retrieval over the corpus: Okapi BM25 scoring (Robertson &
 * Walker SIGIR'94; the idf form is Lucene's non-negative
 * `ln(1 + (N - df + 0.5)/(df + 0.5))`) and reciprocal-rank-fusion of
 * lexical + vector result lists (Cormack et al. SIGIR'09). Retrieval
 * is a first-class curation tool at corpus scale — targeted
 * decontamination, near-duplicate triage, and quality spot-checks are
 * all "find the documents like THIS" queries.
 *
 * Scale notes (100 TB): the corpus is NEVER shuffled on content. Doc
 * length is a projection computed in the same scan that explodes
 * tokens; non-query tokens are dropped map-side by a broadcast
 * semi-join on the (tiny) query-term set BEFORE the only corpus-sized
 * exchange — the (doc, term) tf aggregate, whose input is
 * matching-postings-sized, exactly an inverted-index posting read.
 * df/idf frames are |terms|-sized and broadcast back; the final top-k
 * is a per-query rank window over a candidates-only frame.
 *
 * Determinism: per-term BM25 partials are rounded to integer
 * MICRO-UNITS and summed as longs (the engine's micro-nat discipline,
 * see TextOps.unigramSurprisal) — bit-identical across partitionings
 * and engines; ties rank by doc_id.
 */
object Retrieval {

  /**
   * BM25 top-k: `queries` is (query_id: Long, terms: array<string>);
   * duplicate terms within one query are deduped (classic BM25 scores
   * unique terms; query-side tf weighting is a variant we don't need).
   * Output: (query_id, doc_id, score, rank) for the top `k` docs per
   * query, score = sum of per-term micro-unit partials / 1e6.
   */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(k1 > 0, s"k1 must be positive, got $k1")
    require(b >= 0 && b <= 1, s"b must be in [0, 1], got $b")
    val qterms = queries
      .select(col("query_id"), explode(array_distinct(col("terms"))).as("token"))
    // matching postings only (see postingsFor); materialized ONCE: both
    // the scoring join and the df aggregate read this frame — without
    // the checkpoint Catalyst re-derives the whole tokenize+shuffle
    // subtree for df, a second full corpus pass. LAZY (eager would run
    // the posting job at plan-BUILD time even if the query is never
    // executed — the mixedTypeStats lesson); the first action computes
    // it once and both plan branches read the same checkpointed RDD.
    val tf = postingsFor(docs, qterms.select(col("token")).distinct())
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).cast("long").as("df"))
    scoreAndRank(tf.join(broadcast(dfreq), Seq("token")), corpusStats(docs),
      qterms, k, k1, b)
  }

  /** Token-hash partition count of the stored index (int partition
    * column, the Dedup.IndexBuckets discipline). */
  val IndexBuckets = 64

  private def words = split(lower(col("text")), " ")

  private def tokenBucket(token: Column): Column =
    pmod(xxhash64(token), lit(IndexBuckets.toLong)).cast("int")

  /** (doc_id, token, tf, dl) posting rows, restricted to `termSet` when
    * given — the broadcast semi-join drops non-query tokens map-side, so
    * the exchange under the aggregate carries matching postings only. */
  private def postingsFor(docs: DataFrame, termSet: DataFrame = null): DataFrame = {
    val exploded = docs.select(col("doc_id"), size(words).cast("long").as("dl"),
      explode(words).as("token"))
    val pruned =
      if (termSet == null) exploded
      else exploded.join(broadcast(termSet), Seq("token"))
    pruned
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
  }

  /** One-row (n_docs, avgdl) corpus-stats frame (exact integer inputs). */
  private def corpusStats(docs: DataFrame): DataFrame =
    docs
      .select(size(words).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long").as("n_docs"), sum(col("dl")).as("dl_sum"))
      .select(col("n_docs"),
        (col("dl_sum").cast("double") / col("n_docs")).as("avgdl"))

  /** Shared scoring tail: postings (doc_id, token, tf, dl, df) × corpus
    * stats → micro-unit per-term partials → per-(query, doc) long sums →
    * rank window. The arithmetic tree is mirrored operation-for-operation
    * by the DuckDB oracle — don't reassociate it. */
  private def scoreAndRank(tf: DataFrame, stats: DataFrame,
                           qterms: DataFrame, k: Int,
                           k1: Double, b: Double): DataFrame = {
    val partial = tf
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfn",
        col("tf") * (lit(k1) + lit(1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .withColumn("term_score_u",
        round(col("idf") * col("tfn") * lit(1000000.0), 0).cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_u").desc, col("doc_id").asc)
    partial
      .join(broadcast(qterms), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score_u")).as("score_u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        round(col("score_u").cast("double") / lit(1000000.0), 6).as("score"),
        col("rank"))
  }

  /**
   * Build → store: the persisted inverted index. Three tables under
   * `path`: `postings` (doc_id, token, tf, dl) PARTITIONED by the
   * token-hash bucket (so serving reads only the queried terms'
   * buckets), the one-row `corpusstats` (n_docs, dl_sum), and `docstats`
   * (doc_id, dl), the append path's id screen and the source of
   * corpusstats. Token df is not stored: it is aggregate(postings), and
   * [[bm25StoredTopK]] counts it from the pruned postings rows it reads
   * anyway, so no derived per-token table has to be merged on append or
   * healed after a crash. `meta` pins the bucket count so a probe with a
   * different modulus fails loudly instead of silently missing
   * partitions.
   */
  def writeBm25Index(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    // a REBUILD at a path whose previous store had pending deletes must
    // not inherit them ([[graft.storage.IndexStore.clearSideTables]]); a
    // store from the older four-table layout also leaves a `tokenstats`
    // table that nothing reads any more
    graft.storage.IndexStore.clearSideTables(spark, path, Seq("deleted_docs", "tokenstats"))
    // three independent table writes (disjoint output paths, no ordering
    // constraint) — concurrent (§2.6); META lands last, below. The
    // postings frame has one reader, so nothing is cached.
    graft.storage.IndexStore.inParallel(Seq(
      // bucketed write via the shared lifecycle (file count ∝ buckets,
      // not tasks×buckets — IndexStore primitive 3)
      () => graft.storage.IndexStore.writeBucketed(
        postingsFor(docs).withColumn("bucket", tokenBucket(col("token"))),
        path, "postings", overwrite = true),
      () => docs.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(words).cast("long")).as("dl_sum"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/corpusstats"),
      // per-doc lengths: the append path's id screen + stats inputs
      () => docs.select(col("doc_id"), size(words).cast("long").as("dl"))
        .write.mode("overwrite").parquet(s"$path/docstats")))
    // meta lands LAST, never concurrently: it is the streaming
    // maintainer's bootstrap-vs-append discriminator — its existence
    // must imply every table landed
    graft.storage.IndexStore.writeMeta(spark, path, Seq("buckets" -> IndexBuckets))
  }

  /**
   * Incremental maintenance: append a document batch WITHOUT rebuilding.
   * Already-indexed doc_ids are anti-joined away first, so a replayed
   * batch is a no-op (the same idempotency contract as the near-dup and
   * IVF appends). Every write is an insert: the batch appends its
   * docstats rows and its postings, and the one-row corpusstats swaps to
   * the summed totals. No stored table is read, merged and rewritten, so
   * the work is batch-bounded except for the id anti-join (one pass over
   * the docstats id column). After the append, serving answers equal a
   * fresh rebuild over the union corpus exactly (spec-pinned: df, avgdl,
   * and n_docs all shift — df because serving counts it from the
   * postings, the other two through the corpusstats sums).
   */
  def appendToBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
                        batch: DataFrame): Unit = {
    graft.storage.IndexStore.requireMeta(spark, path, Seq("buckets" -> IndexBuckets))
    // revival: a batch re-registering a DELETED doc purges the id's stale
    // rows first — postings/docstats by anti-join, then corpusstats
    // REBUILDS from the repaired docstats (a corpus aggregate; a targeted
    // decrement would drift on any crash replay) — and only then does the
    // tombstone clear, so a crash at any point replays idempotently.
    // Store-sized work (rewrites + an aggregate, a compaction's order of
    // cost) but targeted in SCOPE: other pending tombstones stay pending,
    // a batch of revivals pays once, and normal appends never enter this
    // branch.
    deletedDocs(spark, path).foreach { d =>
      val revived = batch.select(col("doc_id")).distinct()
        .join(broadcast(d), Seq("doc_id"), "left_semi").localCheckpoint()
      if (!revived.isEmpty) {
        purgeDocs(spark, path, revived)
        graft.storage.IndexStore.clearDeletes(spark, path, "deleted_docs",
          revived, Seq("doc_id"))
      }
    }
    // the screened batch is materialized ONCE, eagerly, before any write:
    // the corpus deltas, the docstats append and the postings append all
    // read it. localCheckpoint, NOT cache: it must (a) resolve the
    // anti-join against the PRE-append store, and (b) survive the docstats
    // append below — a cached plan still references the docstats path,
    // and Spark's refreshByPath on that append would RECOMPUTE it against
    // the post-append listing (anti-joining the batch away → empty
    // postings). Lineage truncation makes the materialized batch immune.
    val fresh = graft.storage.IndexStore.screenFresh(batch, path, "docstats", Seq("doc_id"))
      .select(col("doc_id"), col("text"), size(words).cast("long").as("dl"))
      .localCheckpoint()
    try {
      val add = fresh.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("dl_sum")).collect()(0)
      // a replayed batch screens to nothing and writes nothing
      if (add.getAs[Long]("n_docs") > 0) {
        val old = spark.read.parquet(s"$path/corpusstats").collect()(0)
        // The replay-idempotency screen (docstats) is written FIRST: a
        // crash anywhere after this line makes the replayed batch a full
        // no-op, so postings can never be double-applied. The failure mode
        // this chooses is the benign one — a crash between here and the
        // postings append leaves the batch's docs registered but
        // unsearchable (zero postings), repaired by [[compactBm25Index]];
        // the alternative order (postings first) silently double-counts
        // tf and df on replay.
        fresh.select(col("doc_id"), col("dl"))
          .write.mode("append").parquet(s"$path/docstats")
        graft.storage.IndexStore.writeBucketed(
          postingsFor(fresh).withColumn("bucket", tokenBucket(col("token"))),
          path, "postings", overwrite = false)
        // corpus stats: one stored row + one batch row → new exact totals
        // (add/old were captured before any write, against the pre-state),
        // swapped through the SHARED crash-safe helper — it checks every
        // rename and its recovery discipline restores a copy stranded at
        // .corpusstats.old by a crash between the two renames
        import spark.implicits._
        graft.storage.AtomicSwap.swapTable(spark, path, "corpusstats")(_ =>
          Seq((old.getAs[Long]("n_docs") + add.getAs[Long]("n_docs"),
              old.getAs[Long]("dl_sum") + add.getAs[Long]("dl_sum")))
            .toDF("n_docs", "dl_sum")
            .coalesce(1).write.parquet(s"$path/.corpusstats.compact"))
      }
    } finally fresh.unpersist() // checkpoint blocks; freed by the cleaner on GC otherwise
  }

  /**
   * Compact the stored index after append waves: postings rewrite back
   * to one file layout per bucket and docstats to a parallelism-sized
   * set, each behind the crash-safe double-rename swap (`live → .old`,
   * `.compact → live` — a crash at any point leaves a servable or
   * recoverable copy, the compactNearDupIndex discipline); corpusstats
   * then rebuilds from the compacted docstats ([[rebuildStats]]).
   * Serving answers are unchanged — spec-pinned equal to
   * pre-compaction.
   *
   * Compaction also REPAIRS the append path's documented crash window:
   * appendToBm25Index writes the docstats replay-screen BEFORE postings,
   * so a crash between the two leaves docs registered but postings-less
   * (benign for scoring, but a replay of that batch no-ops and the docs
   * are lost). Orphans (dl > 0, no postings) are removed from docstats
   * and subtracted from corpusstats here, so re-appending the batch
   * lands it.
   */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import graft.storage.IndexStore
    IndexStore.requireMeta(spark, path, Seq("buckets" -> IndexBuckets))
    // orphan detection runs against the PRE-compaction store: docs the
    // append crash window registered without landing their postings
    // (pre-swap snapshot, lineage truncated so the swaps below cannot
    // invalidate or recompute it against the post-swap store)
    val postedIds = spark.read.parquet(s"$path/postings")
      .select(col("doc_id")).distinct()
    val orphanIds = spark.read.parquet(s"$path/docstats")
      .filter(col("dl") > 0)
      .join(postedIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).localCheckpoint()
    // the physical half of [[deleteFromBm25Index]]: tombstoned docs purge
    // inside the rewrites this compaction performs anyway — serving counts
    // df from the purged postings and corpusstats rebuilds from the purged
    // docstats below, so post-compaction scores equal a FRESH REBUILD over
    // the surviving corpus (df/avgdl/n_docs all shed the deleted docs
    // here, never before — the documented stale-stats-until-compaction
    // semantics)
    val dead = deletedDocs(spark, path).map(_.localCheckpoint())
    def purge(df: DataFrame): DataFrame =
      dead.fold(df)(d => df.join(broadcast(d), Seq("doc_id"), "left_anti"))
    // the two base-table rewrites are independent (disjoint swaps; their
    // inputs are checkpointed above) — concurrent; the stats rebuild must
    // FOLLOW both (it reads the post-swap docstats), and the tombstone
    // drop stays last (crash discipline)
    IndexStore.inParallel(Seq(
      () => IndexStore.compactBucketed(spark, path, "postings", purge),
      () => IndexStore.compactFlat(spark, path, "docstats",
        df => purge(df).join(orphanIds, Seq("doc_id"), "left_anti"))))
    rebuildStats(spark, path)
    dead.foreach(_ => IndexStore.dropDeletes(spark, path, "deleted_docs"))
  }

  /** Rebuild corpusstats from the (purged/repaired) docstats, behind the
    * crash-safe swap. The invariant is corpusstats ≡ aggregate(docstats);
    * rebuilding (instead of compacting the stored row) heals the append
    * crash window in which docstats landed but the corpusstats swap never
    * ran, and is what makes a tombstone purge shift n_docs and avgdl
    * exactly as a fresh rebuild would (df shifts on its own: serving
    * counts it from the purged postings). Cost is one aggregate over
    * docstats. */
  private def rebuildStats(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    graft.storage.AtomicSwap.swapTable(spark, path, "corpusstats")(_ =>
      spark.read.parquet(s"$path/docstats")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("dl_sum"))
        .coalesce(1).write.parquet(s"$path/.corpusstats.compact"))

  /** Purge `ids`' rows from the two base tables and restore the
    * corpusstats invariant — the revival path's physical delete
    * (store-sized rewrites, targeted in scope: only `ids` purge). */
  private def purgeDocs(spark: org.apache.spark.sql.SparkSession, path: String,
                        ids: DataFrame): Unit = {
    def purge(df: DataFrame): DataFrame =
      df.join(broadcast(ids), Seq("doc_id"), "left_anti")
    graft.storage.IndexStore.inParallel(Seq(
      () => graft.storage.IndexStore.compactBucketed(spark, path, "postings", purge),
      () => graft.storage.IndexStore.compactFlat(spark, path, "docstats", purge)))
    rebuildStats(spark, path)
  }

  /** Pending doc tombstones, or None when none exist (the cheap common
    * case — serving plans stay anti-join-free). */
  private def deletedDocs(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[DataFrame] =
    graft.storage.IndexStore.pendingDeletes(spark, path, "deleted_docs", Seq("doc_id"))

  /**
   * Takedown / decontamination removal from the stored BM25 index — the
   * retrieval dual of [[graft.operators.Dedup.deleteFromNearDupIndex]]:
   * a removed document must stop being SERVED immediately.
   * Tombstone-append-only (no table rewrite, no swap window — safe
   * against a live store): [[bm25StoredTopK]] screens its candidate
   * postings against `deleted_docs/` (broadcast anti-join, delete-rate-
   * sized; ranks recompute over the survivors), while the RANKING STATS
   * (df, n_docs, avgdl) keep their build-time values until the next
   * [[compactBm25Index]] purges the rows and rebuilds corpusstats —
   * the standard search-engine takedown semantics (immediate result
   * removal, deferred stats refresh). Idempotent; a later
   * re-registration of the id is [[appendToBm25Index]]'s revival path.
   */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
                          docIds: DataFrame): Unit = {
    graft.storage.IndexStore.requireMeta(spark, path, Seq("buckets" -> IndexBuckets))
    graft.storage.IndexStore.appendDeletes(spark, path, "deleted_docs",
      docIds, registry = "docstats", Seq("doc_id"))
  }

  /**
   * Serve from the stored index: NO corpus scan, no tokenization. The
   * distinct query terms and their buckets are collected (|terms|-sized
   * — the same model-sized-collect budget as IVF centroids) and pushed as
   * STATIC filters on the postings scan: `bucket IN (...)` prunes
   * partitions at plan time, stronger than DPP (which also wouldn't fire
   * here: the unfiltered query frame has no selective predicate for the
   * rule to reuse), and `token IN (...)` keeps exactly the query terms'
   * rows within them, with no broadcast join. The scoring tail is
   * byte-for-byte [[scoreAndRank]], so stored answers equal the inline
   * [[bm25TopK]] answers (spec-pinned).
   *
   * Token df is counted from the same pruned postings, as
   * [[bm25TopK]] counts it: a `groupBy(token)` count, combined map-side
   * (its exchange carries one row per query token and map task) and
   * broadcast back, so the store keeps no df table to maintain. The
   * pruned postings are read twice, once for tf and once for df; a
   * count window over them would read them once but shuffle and sort
   * every matching posting by token, with all of one high-df token's
   * postings in one task.
   */
  def bm25StoredTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, k: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    graft.storage.IndexStore.requireMeta(spark, path, Seq("buckets" -> IndexBuckets))
    val qterms = queries
      .select(col("query_id"), explode(array_distinct(col("terms"))).as("token"))
    val qtb = qterms.select(col("token")).distinct()
      .withColumn("bucket", tokenBucket(col("token")))
      .collect() // (token, bucket)
    val buckets = qtb.map(_.getInt(1)).distinct.sorted.toSeq
    val tokens = qtb.map(_.getString(0)).sorted.toSeq
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(tokens: _*))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"))
    // df counts every stored posting of the token, BEFORE the tombstone
    // screen, so df/avgdl stay build-time until compaction (doc'd)
    val dfreq = postings.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"))
    // pending delete tombstones screen the candidate postings (broadcast
    // anti-join, delete-rate-sized) — a deleted doc stops ranking the
    // instant [[deleteFromBm25Index]] lands, before any purge runs, and
    // ranks recompute over the survivors; absent tombstones leave the
    // plan untouched
    val tf = deletedDocs(spark, path).fold(postings)(d =>
      postings.join(broadcast(d), Seq("doc_id"), "left_anti"))
    val stats = spark.read.parquet(s"$path/corpusstats")
      .select(col("n_docs"),
        (col("dl_sum").cast("double") / col("n_docs")).as("avgdl"))
    scoreAndRank(tf.join(broadcast(dfreq), Seq("token")), stats, qterms, k, k1, b)
  }

  /**
   * Reciprocal-rank fusion of two ranked lists (e.g. BM25 + embedding
   * cosine): fused(q, d) = Σ over lists of 1/(rrfK + rank). A doc
   * absent from one list simply contributes nothing from it — the
   * standard RRF treatment (no score normalization needed, which is
   * the method's point: ranks fuse where raw scores can't).
   *
   * Inputs are (query_id, doc_id, rank) frames — shortlist-sized (≤
   * queries × k rows), so the outer join and rank window cost nothing
   * relative to the searches that produced them. Fused partials use
   * the same micro-unit long discipline as [[bm25TopK]].
   */
  def rrfFuse(lexical: DataFrame, vector: DataFrame, k: Int,
              rrfK: Int = 60): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    def contrib(df: DataFrame, name: String): DataFrame =
      df.select(col("query_id"), col("doc_id"),
        round(lit(1000000.0) / (lit(rrfK) + col("rank")), 0).cast("long").as(name),
        col("rank").as(s"${name}_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("fused_u").desc, col("doc_id").asc)
    contrib(lexical, "lex_u")
      .join(contrib(vector, "vec_u"), Seq("query_id", "doc_id"), "full_outer")
      .withColumn("fused_u", coalesce(col("lex_u"), lit(0L)) + coalesce(col("vec_u"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("doc_id"),
        round(col("fused_u").cast("double") / lit(1000000.0), 6).as("fused_score"),
        col("fused_rank"), col("lex_u_rank").as("lex_rank"), col("vec_u_rank").as("vec_rank"))
  }
}
