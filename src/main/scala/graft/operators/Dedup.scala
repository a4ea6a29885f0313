package graft.operators

import graft.storage.IndexStore
import graft.storage.StoreTables.NearDup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Document deduplication operators for LLM training-data pipelines, over a
 * `documents`-shaped frame (doc_id LONG, text STRING).
 *
 * Everything is expression-based (codegen'd, no UDFs) and bucketed — no
 * all-pairs cross join anywhere, so each operator survives a 100 TB corpus:
 *
 *  - exact dedup:    one hash-groupBy (map-side partial agg).
 *  - MinHash-LSH:    shingle → xxhash64 → k affine permutations → min per
 *                    permutation → band → equi-self-join on (band, hash).
 *                    Candidate pairs are verified with EXACT Jaccard, so
 *                    false positives cost time, never correctness.
 *  - SimHash:        60-bit fingerprint; banded equi-join. With B bands, any
 *                    pair within Hamming distance B-1 shares at least one
 *                    intact band (pigeonhole), so recall is exactly 1 for
 *                    the advertised radius — deterministic, not probabilistic.
 */
object Dedup {

  /** Whitespace word tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Distinct k-word shingles as an array column (empty for docs shorter
    * than k words). Shingle construction is the native codegen
    * [[graft.plans.WordShingles]] expression — the higher-order-function
    * formulation runs interpreted and dominated pipeline cost. */
  def shingles(text: Column, k: Int): Column =
    array_distinct(graft.plans.WordShingles(tokens(text), k))

  /** (doc_id, shingle) exploded-distinct frame. */
  def shingleFrame(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(shingles(col("text"), k)).as("shingle"))

  /**
   * Exact dedup groups: one row per distinct text hash with the group size
   * and the survivor (min doc_id). Drop policy = "keep min id per group".
   */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))

  // --------------------------- MinHash-LSH ---------------------------

  /** Deterministic affine-permutation parameters (seeded LCG), in the
    * 31-bit Mersenne domain so `h*a+b` never overflows a signed long under
    * ANSI arithmetic (h,a < 2^31 → product < 2^62). */
  private def permParams(numPerms: Int): Seq[(Long, Long)] = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 33 }
    Seq.fill(numPerms)(((next() % (P31 - 1)) + 1, next() % P31))
  }

  private val P31 = 2147483647L // Mersenne prime 2^31 - 1

  /**
   * MinHash signature: one row per doc, columns mh0..mh{n-1}. A single
   * shuffle on doc_id; the k mins are map-side-combined partial aggregates.
   */
  def minHashSignatures(sh: DataFrame, numPerms: Int): DataFrame = {
    val h = pmod(col("h"), lit(P31))
    val mins = permParams(numPerms).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(h * lit(a) + lit(b), lit(P31))).as(s"mh$i")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, band_hash) — one row per band per doc. */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
          .as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band"), col("bh.band_hash"))
  }

  /** Distinct candidate pairs (a < b) sharing at least one band. The join
    * key (band, band_hash) is high-cardinality → well-distributed shuffle. */
  def lshCandidates(bandsDf: DataFrame): DataFrame = {
    val l = bandsDf.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val r = bandsDf.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /**
   * Signature-estimate pruning between banding and exact verification: the
   * fraction of equal minhash components is an unbiased Jaccard estimate
   * (n Bernoulli(J) trials), so candidates estimated well below the
   * threshold are discarded BEFORE the expensive shingle-level verify join.
   * With 60 components and slack 0.25, a true J=0.8 pair estimates below
   * 0.55 with probability ~8e-7 (4.8σ) — negligible next to the banding
   * miss rate, while band collisions at background similarity (the bulk of
   * candidates under narrow 3-row bands) are eliminated by a join against
   * the 1-row-per-doc signature frame (no broadcast hint — the signature
   * frame is corpus-sized, AQE picks broadcast when it actually fits).
   */
  def estimatePrune(candidates: DataFrame, sig: DataFrame, numPerms: Int,
                    minEstimate: Double): DataFrame = {
    def side(as: String) = sig.select(
      col("doc_id").as(as) +: (0 until numPerms).map(i => col(s"mh$i").as(s"${as}_m$i")): _*)
    candidates
      .join(side("doc_a"), Seq("doc_a"))
      .join(side("doc_b"), Seq("doc_b"))
      .filter(sigEqCount(numPerms, "doc_a_m", "doc_b_m") >=
        (lit(minEstimate) * numPerms).cast("int"))
      .select("doc_a", "doc_b")
  }

  /** The slack below the exact threshold that the estimate prune allows —
    * the σ analysis in [[estimatePrune]]'s doc is load-bearing for BOTH
    * the batch pipeline ([[nearDupPairs]]) and the serving path
    * ([[nearDupLookup]]); change it in one place only. */
  val EstimateSlack = 0.25

  private def minEstimateFor(threshold: Double): Double =
    math.max(0.0, threshold - EstimateSlack)

  /** Count of equal signature components across two column families
    * (`{a}0..{a}{n-1}` vs `{b}0..{b}{n-1}`) — the unbiased Jaccard
    * estimator both prune sites share. */
  private def sigEqCount(numPerms: Int, a: String, b: String): Column =
    (0 until numPerms)
      .map(i => when(col(s"$a$i") === col(s"$b$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** Exact Jaccard for candidate pairs: |A∩B| via shingle-hash equi-join
    * restricted to candidates, sizes from per-doc counts. Joining on the
    * 64-bit hash instead of the shingle string keeps the shuffle narrow
    * (collision probability ~n²/2⁶⁴ — negligible). */
  def verifyJaccard(candidates: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))), Seq("doc_a"))
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .select("doc_a", "doc_b", "jaccard")
  }

  /**
   * End-to-end near-dup pairs with exact Jaccard >= threshold.
   * Default 60 permutations = 20 bands × 3 rows: miss probability for a pair
   * AT the 0.8 threshold is (1-0.8³)²⁰ ≈ 6e-7 — negligible even for a
   * regenerated fixture with borderline pairs (an r=5 banding missed ~0.9%
   * there, making the exact-oracle correctness gate probabilistic). Pairs at
   * background similarity s≈0.05 collide with probability ≈2.5e-3, so the
   * verification join stays linear in corpus size, not quadratic. Every
   * candidate is exactly verified, so precision is 1 by construction.
   */
  def nearDupPairs(docs: DataFrame, shingleK: Int = 3, threshold: Double = 0.8,
                   bands: Int = 20, rowsPerBand: Int = 3): DataFrame = {
    // the hashed shingle frame is read 4× (signatures, 2 verify joins,
    // sizes) and the signature frame 2× (band self-join) — cache both AND
    // materialize eagerly: when every consumer lands in one action, tasks
    // race ahead of cache population and recompute the whole explode
    val sh = shingleFrame(docs, shingleK)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")).cache()
    sh.count()
    val sig = minHashSignatures(sh, bands * rowsPerBand).cache()
    sig.count()
    val cand = lshCandidates(lshBands(sig, bands, rowsPerBand))
    val pruned = estimatePrune(cand, sig, bands * rowsPerBand,
      minEstimate = minEstimateFor(threshold))
    verifyJaccard(pruned, sh).filter(col("jaccard") >= threshold)
  }

  /**
   * Exact n-gram Jaccard near-dup pairs WITHOUT a sketch, via PREFIX
   * FILTERING (Bayardo et al., "Scaling Up All Pairs Similarity Search",
   * WWW'07): under a global shingle order (rarest first), a pair with
   * J ≥ τ must share a shingle within each doc's first
   * n - ⌈τ·n⌉ + 1 shingles — so only prefixes are self-joined, which
   * prunes the Σ_shingle df² blow-up of a naive shingle join while
   * remaining EXACT (candidates are verified with full Jaccard).
   */
  def exactJaccardPairs(docs: DataFrame, shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingleFrame(docs, shingleK)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")).cache()
    sh.count()
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("h").asc)
    val wSize = Window.partitionBy(col("doc_id"))
    // carry each doc's shingle count AND prefix position through, so the
    // candidate join can apply both PPJoin prunes (Xiao et al., WWW'08):
    //  - length filter: J >= τ forces min(n_a,n_b) >= τ·max(n_a,n_b);
    //  - positional filter: a shared prefix shingle at positions
    //    (rn_a, rn_b) caps the achievable overlap at
    //    1 + min(n_a - rn_a, n_b - rn_b), which must reach the required
    //    intersection α = τ/(1+τ)·(n_a+n_b) implied by J >= τ.
    // Both run inside the join before distinct — without them the prefix
    // self-join admits ~2.5% of ALL pairs on a templated corpus (shared
    // rare-ish shingles deep in the prefix), and the verify join pays for
    // every one of them.
    val prefix = sh.join(df, Seq("h"))
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(wSize))
      .filter(col("rn") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("doc_id", "h", "n", "rn")
    val required = lit(threshold / (1.0 + threshold)) * (col("na") + col("nb"))
    val cand = prefix.select(col("doc_id").as("doc_a"), col("h"), col("n").as("na"), col("rn").as("ra"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("h"), col("n").as("nb"), col("rn").as("rb")),
        Seq("h"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("na"), col("nb")) >= lit(threshold) * greatest(col("na"), col("nb")) &&
        (lit(1) + least(col("na") - col("ra"), col("nb") - col("rb"))) >= required)
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cand, sh).filter(col("jaccard") >= threshold)
  }

  /**
   * Near-dup pairs → connected components → survivor per component
   * (min doc_id) — the drop-list decision of a dedup pipeline.
   *
   * Adaptive strategy, same pattern as Spark's size-based join selection:
   * a VERIFIED near-dup edge set is orders of magnitude smaller than the
   * corpus that produced it (it is the output of an exact-Jaccard filter,
   * not the corpus), so when it fits comfortably on the driver
   * (`driverEdgeLimit`, default 2M edges ≈ 32 MB collected as specialized
   * (Long, Long) tuples) the components come from a single collect +
   * union-find — one Spark job, no iteration. Above the limit it falls
   * back to [[distributedClusters]], the fully-distributed
   * O(log diameter) label-propagation loop. Both paths emit every node
   * that appears in `pairs` (self-loops included) with its component's
   * min doc_id.
   */
  def nearDupClusters(pairs: DataFrame, driverEdgeLimit: Long = 2L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col("doc_a"), col("doc_b")).cache()
    try {
      if (p.count() <= driverEdgeLimit) {
        // path-compressing union-find over the collected edge list
        val edges = p.as[(Long, Long)].collect()
        val parent = scala.collection.mutable.LongMap.empty[Long]
        val nodes = scala.collection.mutable.SortedSet.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          nodes += a; nodes += b
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        nodes.toSeq.map(v => (v, find(v))).toDF("doc_id", "cluster")
      } else distributedClusters(p)
    } finally p.unpersist()
  }

  /**
   * Fully-distributed connected components: min-label propagation PLUS
   * pointer jumping (label(v) ← label(label(v)), the Shiloach–Vishkin
   * shortcut). Labels always point to a smaller node id in the same
   * component, so following the label chain one extra step per round
   * roughly doubles the propagated distance — O(log diameter) rounds
   * instead of O(diameter). Each round materializes the hop result ONCE
   * (localCheckpoint) so the jump's self-lookup doesn't recompute the
   * neighbor-min join, then runs a cheap convergence count over it.
   *
   * `roundHook` fires after each completed round with the 1-based round
   * number — observability for the O(log d) convergence claim (the
   * weak-scaling probe records rounds vs graph diameter through it).
   */
  def distributedClusters(pairs: DataFrame,
                          roundHook: Int => Unit = _ => ()): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0) {
      // one hop of neighbor-min: c1(v) = min(cluster(v), min over N(v))
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("cluster")).as("nmin"))
      val hop = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("c1"))
        .localCheckpoint() // materialize once — consumed by both join sides
      // pointer jump: c2(v) = c1(c1(v)) — c1 is always a node id of the
      // same component, so the self-lookup stays within the component
      val parent = hop.select(col("doc_id").as("c1"), col("c1").as("c2"))
      val next = hop.join(parent, Seq("c1"), "left")
        .select(col("doc_id"), col("old"),
          least(col("c1"), coalesce(col("c2"), col("c1"))).as("cluster"))
        .localCheckpoint()
      changed = next.filter(col("cluster") =!= col("old")).count()
      labels = next.select(col("doc_id"), col("cluster"))
      round += 1
      roundHook(round)
    }
    edges.unpersist() // labels is checkpointed — no lineage back to edges
    labels
  }

  private val SimBits = 60

  /**
   * 60-bit SimHash fingerprint per doc from distinct word tokens. The token
   * hash is the top 15 hex chars of md5 (< 2^60) so the DuckDB oracle can
   * reproduce it bit-for-bit; bit j of the fingerprint is set when the sum
   * over tokens of (2*bit_j(hash)-1) is positive.
   *
   * Computed by the native [[graft.plans.SimHash60]] expression — one
   * projection pass where the row already lives, replacing the composed
   * explode → md5 → 60 bit-vote aggregates shape (a |corpus|×avg-tokens
   * row explosion through a shuffle for what is a fixed-size per-row fold).
   */
  def simHash(docs: DataFrame): DataFrame =
    // null texts are dropped, matching the composed explode pipeline this
    // replaces (explode of a null token array emits no row for the doc)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), graft.plans.SimHash60(col("text")).as("simhash"))

  /** (doc_id, simhash, band, band_val) banded fingerprint frame —
    * B = maxHamming+1 bands of 60/B bits each; the shared projection
    * under the batch self-join ([[simHashPairs]]) and the streaming
    * screen ([[graft.streaming.StreamingNearDup]]). Works on batch AND
    * streaming frames (pure projection + explode). */
  def simHashBanded(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    val bandBits = SimBits / bands // fingerprints have 60 bits; drop remainder bits into last band
    val fp = simHash(docs)
    val bandStructs = (0 until bands).map { b =>
      val width = if (b == bands - 1) SimBits - bandBits * (bands - 1) else bandBits
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), b * bandBits) % (1L << width)).as("band_val"))
    }
    fp.select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bh"))
      .select(col("doc_id"), col("simhash"), col("bh.band"), col("bh.band_val"))
  }

  /**
   * Near-dup pairs within `maxHamming`, banded: pigeonhole over the
   * [[simHashBanded]] bands guarantees exact recall at the radius.
   */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = simHashBanded(docs, maxHamming)
    val l = banded.select(col("band"), col("band_val"), col("doc_id").as("doc_a"), col("simhash").as("fp_a"))
    val r = banded.select(col("band"), col("band_val"), col("doc_id").as("doc_b"), col("simhash").as("fp_b"))
    l.join(r, Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fp_a ^ fp_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------- persisted near-dup index (build → store → serve) -------------

  /** Partition-bucket count for the banded store. Band hashes are
    * uniform, so buckets are balanced; a lookup's dynamic partition
    * pruning reads at most min(buckets, bands·|queries|) of them. */
  val IndexBuckets = 64

  /**
   * Materialize a MinHash-LSH near-dup index — the dedup analog of
   * [[Similarity.writeIvfIndex]]: pay the corpus-wide signature pass
   * ONCE, then serve "what in the corpus near-duplicates THIS doc?"
   * lookups (incoming-batch screening, takedown/contamination tracing)
   * without re-scanning corpus text.
   *
   * Layout:
   *  - `path/bands`      (band, band_hash, doc_id), partitioned by
   *                      `bucket = band_hash mod [[IndexBuckets]]` — the
   *                      serving join's pruning dimension;
   *  - `path/signatures` one row per doc, mh0..mh{n-1} (estimate-prune);
   *  - `path/shingles`   (doc_id, h) hashed shingles (exact verify);
   *  - `path/sizes`      (doc_id, n) shingle-set sizes (Jaccard
   *                      denominators — precomputed so serving never
   *                      aggregates the corpus).
   *
   * At 100 TB the build is one shuffle on doc_id (signatures) + three
   * writes off the cached shingle frame; no query ever re-signs the
   * corpus.
   */
  def writeNearDupIndex(docs: DataFrame, path: String, shingleK: Int = 3,
                        bands: Int = 20, rowsPerBand: Int = 3): Unit = {
    // a REBUILD at a path whose previous store had pending deletes must
    // not inherit them — leftover tombstones would screen docs present
    // in the NEW corpus out of every lookup
    IndexStore.clearSideTables(docs.sparkSession, path, Seq("deleted_docs"))
    writeIndexTables(docs, path, shingleK, bands, rowsPerBand, overwrite = true)
    // build params persist with the store: lookups and appends with
    // mismatched parameters would compute incompatible hashes and
    // silently return near-empty results — validated instead
    IndexStore.writeMeta(docs.sparkSession, path,
      NearDup.Meta.row(shingleK, bands, rowsPerBand))
  }

  /** The four-table write sequence shared by build and append (one
    * shingle-hash pass feeds all four; only the SaveMode differs — a
    * drift between the two would break append/rebuild equivalence). */
  private def writeIndexTables(docs: DataFrame, path: String, shingleK: Int,
                               bands: Int, rowsPerBand: Int,
                               overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    val sh = shingleFrame(docs, shingleK)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")).cache()
    sh.count() // materialize eagerly — three writers read it
    try {
      val sig = minHashSignatures(sh, bands * rowsPerBand).cache()
      try {
        // bucket is INT on both write and probe side: a type mismatch would
        // wrap the partition attribute in a cast and defeat the DPP rule.
        // Repartition ON the partition column first — without it every
        // write task fans out a file into every bucket directory
        // (tasks×buckets small files; measured to dominate build cost);
        // with it each bucket's rows land together (file count ∝ buckets)
        def writeBands(): Unit = IndexStore.writeBucketed(
          lshBands(sig, bands, rowsPerBand)
            .withColumn("bucket", pmod(col("band_hash"), lit(IndexBuckets.toLong)).cast("int")),
          path, "bands", overwrite)
        def writeSigs(): Unit = sig.write.mode(mode).parquet(s"$path/signatures")
        def writeShingles(): Unit = sh.write.mode(mode).parquet(s"$path/shingles")
        def writeSizes(): Unit = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
          .write.mode(mode).parquet(s"$path/sizes")
        if (overwrite) {
          // BUILD: the four tables derive from the two materialized frames
          // and land at disjoint paths — written concurrently (§2.6); the
          // caller's meta write after this call is the commit marker
          // (requireIndexParams refuses a store whose meta never landed)
          sig.count() // materialize BEFORE the concurrent writers race to compute it
          IndexStore.inParallel(
            Seq(() => writeBands(), () => writeSigs(), () => writeShingles(),
              () => writeSizes()))
        }
        else {
          // APPEND: the three payload tables are unordered among
          // themselves (a crash leaves some subset landed — the same
          // duplicates-until-compaction class as the old sequential
          // prefix, healed identically by the replay + compaction), so
          // they overlap (§2.6); sizes — the replay SCREEN — still lands
          // strictly LAST, so a half-landed batch is always re-applied by
          // the replay rather than screened away
          sig.count() // materialize before the concurrent writers race
          IndexStore.inParallel(
            Seq(() => writeBands(), () => writeSigs(), () => writeShingles()))
          writeSizes()
        }
      } finally sig.unpersist()
    } finally sh.unpersist()
  }

  /**
   * Index maintenance compaction — after many [[appendToNearDupIndex]]
   * waves each table accumulates batch-sized file increments (and the
   * banded store one file per bucket PER WAVE); this job rewrites every
   * table dense again: bands back to one file per bucket, the flat
   * tables to the session's default parallelism. Contents are untouched
   * (spec-asserted: lookups identical before/after).
   *
   * Scale shape: each table rewrites to a TEMP directory and then
   * REPLACES the old one with two filesystem renames — never
   * read-and-overwrite-in-place (which would require materializing the
   * corpus-sized table in memory), and the swap window is metadata-sized.
   * The storage analog of [[graft.storage.GraftStorage.compact]] for the
   * index tier.
   */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    // the physical half of [[deleteFromNearDupIndex]]: tombstoned docs
    // purge inside the rewrites this compaction performs anyway; the
    // tombstones clear LAST (a crash before the clear leaves the screen
    // over already-purged data — harmless, the next compaction finishes)
    val dead = deletedDocs(spark, path).map(_.localCheckpoint())
    def purge(df: DataFrame): DataFrame =
      dead.fold(df)(d => df.join(broadcast(d), Seq("doc_id"), "left_anti"))
    // the four rewrites are independent (disjoint tables, each behind its
    // own swap; `dead` is checkpointed above) — run concurrently (§2.6)
    IndexStore.inParallel(
      (() => IndexStore.compactBucketed(spark, path, "bands", purge)) +:
      Seq("signatures", "shingles", "sizes").map(t =>
        () => IndexStore.compactFlat(spark, path, t, purge)))
    dead.foreach(_ => IndexStore.dropDeletes(spark, path, "deleted_docs"))
  }

  /**
   * Takedown / decontamination removal — delete documents from the
   * stored near-dup index by id (the training-pipeline dual of
   * [[appendToNearDupIndex]]: content found contaminated or subject to
   * removal must stop matching immediately). Same deferred-work split
   * as the tag index's tenant delete: the ids land in a delete-rate-
   * sized `deleted_docs/` tombstone table, [[nearDupLookup]] screens its
   * candidate set against it (broadcast anti-join — gone the instant the
   * tombstone lands), and the physical purge of the doc's rows across
   * all four tables rides the next [[compactNearDupIndex]] rewrite.
   * Tombstone-append-ONLY (the [[graft.storage.TagIndex.deleteTenant]]
   * discipline): no table rewrite, no [[graft.storage.AtomicSwap]]
   * window, so the delete is safe against a LIVE store — a concurrent
   * lookup sees the pre- or post-delete answer, never a missing path.
   * The `sizes` replay-screen rows purge at revival time instead:
   * re-registering a deleted id IS the [[appendToNearDupIndex]] revival
   * path, which purges the id's stale rows (including its pre-delete
   * shingles — they must never mix into the new text's Jaccard) before
   * its replay screen. Idempotent: already-tombstoned ids screen out of
   * the write, and the serving anti-join distincts regardless.
   */
  def deleteFromNearDupIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                             docIds: DataFrame): Unit =
    IndexStore.appendDeletes(spark, path, NearDup.DeletedDocs,
      docIds, registry = NearDup.Sizes, Seq("doc_id"))

  /** Pending doc tombstones, or None when none exist (the cheap common
    * case — serving plans stay anti-join-free). */
  private def deletedDocs(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[DataFrame] =
    IndexStore.pendingDeletes(spark, path, NearDup.DeletedDocs, Seq("doc_id"))

  /** Fail fast when a caller's parameters disagree with the store's —
    * mismatched shingleK/bands/rowsPerBand would hash into nothing. */
  private def requireIndexParams(spark: org.apache.spark.sql.SparkSession, path: String,
                                 shingleK: Int, bands: Int, rowsPerBand: Int): Unit =
    IndexStore.requireMeta(spark, path,
      NearDup.Meta.row(shingleK, bands, rowsPerBand))

  /**
   * Incremental index maintenance — screen an arriving batch against the
   * EXISTING store, then fold the batch in: the lifecycle a crawl
   * pipeline runs per ingest wave (screen → decide → admit), without
   * ever rebuilding the corpus-wide index.
   *
   * Returns the screening result ([[nearDupLookup]] of the batch against
   * the pre-append store — which is what the admission decision needs);
   * the append itself adds only batch-sized rows to each table (the
   * banded rows land in their hash buckets, so subsequent lookups prune
   * exactly as before). After the append, a lookup serves pairs against
   * old AND new members — equal to a from-scratch rebuild's (same
   * signature math, same tables; spec-asserted).
   *
   * The screen materializes EAGERLY (localCheckpoint — executor-resident
   * blocks, no driver collect) BEFORE the append mutates the store, so
   * the returned frame cannot observe the batch's own rows.
   *
   * Admission: with `dropMatched=true` (the screen-and-reject policy),
   * batch docs that near-duplicate the existing corpus are NOT admitted;
   * the default admits everything (flag-don't-drop).
   *
   * Replay safety: `sizes` is written LAST and acts as the append's
   * COMMIT MARKER — the id anti-join against it skips docs whose append
   * completed, so replaying a committed batch is a no-op. A replay after
   * a crash BEFORE the sizes write re-appends the batch, leaving
   * duplicate rows in the earlier tables for those docs; serving is
   * immune to that by construction ([[nearDupLookup]] distincts its
   * candidate set and counts DISTINCT shingle hashes), and the next
   * [[compactNearDupIndex]] could fold a dedup into its rewrite if the
   * dead weight matters.
   */
  def appendToNearDupIndex(batch: DataFrame, path: String, shingleK: Int = 3,
                           threshold: Double = 0.8,
                           bands: Int = 20, rowsPerBand: Int = 3,
                           dropMatched: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    requireIndexParams(spark, path, shingleK, bands, rowsPerBand)
    // revival: a batch re-registering a DELETED id must not land on top
    // of the id's stale pre-delete rows (serving is duplicate-immune but
    // not stale-text-immune — old shingles would pollute the new text's
    // Jaccard). The purge is store-sized — stale rows are scattered, so
    // each table pays one anti-join rewrite, the same order of work as a
    // compaction — but it is TARGETED in scope: only the revived ids
    // purge and only their tombstones clear (other pending deletes keep
    // riding the next compaction), a whole batch of revivals pays ONCE,
    // and the cost sits on the rare re-registration path, never on
    // normal appends. Crash-safe: every step before the replay screen
    // below is idempotent.
    deletedDocs(spark, path).foreach { d =>
      val revived = batch.select(col("doc_id")).distinct()
        .join(broadcast(d), Seq("doc_id"), "left_semi").localCheckpoint()
      if (!revived.isEmpty) {
        def purge(df: DataFrame): DataFrame =
          df.join(broadcast(revived), Seq("doc_id"), "left_anti")
        // four independent table rewrites (compactNearDupIndex's shape) —
        // concurrent; the tombstone clear stays LAST (crash discipline)
        IndexStore.inParallel(
          (() => IndexStore.compactBucketed(spark, path, "bands", purge)) +:
          Seq("signatures", "shingles", "sizes").map(t =>
            () => IndexStore.compactFlat(spark, path, t, purge)))
        IndexStore.clearDeletes(spark, path, NearDup.DeletedDocs,
          revived, Seq("doc_id"))
      }
    }
    // screen first — materialize the decision rows before mutating the store
    val screened = nearDupLookup(spark, path, batch, shingleK, threshold,
      bands, rowsPerBand).localCheckpoint(true)
    val fresh = IndexStore.screenFresh(batch, path, NearDup.Sizes, Seq("doc_id"))
    val admitted =
      if (dropMatched)
        fresh.join(screened.select(col("query_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      else fresh
    writeIndexTables(admitted, path, shingleK, bands, rowsPerBand, overwrite = false)
    screened
  }

  /**
   * Serve near-dup lookups against a [[writeNearDupIndex]] store: for
   * each query doc, every corpus doc with exact Jaccard ≥ threshold
   * (self-matches by id are excluded; identical TEXT under a different
   * id is a J=1 hit, which is the point).
   *
   * Serving shape, in corpus-cost order:
   *  1. query docs sign locally (query-sized);
   *  2. the banded store joins query band hashes on
   *     (bucket, band, band_hash) — `bucket` is the partition column, so
   *     dynamic partition pruning restricts the read to the queries'
   *     buckets (spec-asserted), and the band join itself is the
   *     candidate generator;
   *  3. candidates estimate-prune against the stored signatures
   *     (candidate-keyed joins);
   *  4. the shingle store is semi-joined down to candidate docs by a
   *     BROADCAST of the candidate id set (result-sized) before the
   *     intersection join, and Jaccard denominators come from the
   *     precomputed size table — serving never aggregates or reshuffles
   *     corpus-sized data.
   *
   * Same banding math as [[nearDupPairs]], so the miss probability at
   * threshold 0.8 with 20×3 is ~6e-7 — exact-oracle-safe.
   */
  def nearDupLookup(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, shingleK: Int = 3, threshold: Double = 0.8,
                    bands: Int = 20, rowsPerBand: Int = 3,
                    // false = keep everything in ONE inspectable plan
                    // (candidates compute twice); used by plan-shape specs
                    reuseCandidates: Boolean = true): DataFrame = {
    requireIndexParams(spark, path, shingleK, bands, rowsPerBand)
    val numPerms = bands * rowsPerBand
    // NOT cached, deliberately: the query shingle frame is query-sized
    // (recomputing it per consumer is noise next to the store reads), and
    // wrapping it in an InMemoryRelation would hide the queries' selective
    // filter from the DPP rule — the bucket pruning on the banded store
    // (the serving path's whole point) silently stops firing
    val qsh = shingleFrame(queries, shingleK)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val qsig = minHashSignatures(qsh, numPerms)
    val qbands = lshBands(qsig, bands, rowsPerBand)
      .withColumn("bucket", pmod(col("band_hash"), lit(IndexBuckets.toLong)).cast("int"))

    // 2. candidate generation — the query band set (bands·|queries| rows)
    // BROADCASTS, which both sides the hash join correctly and lets the
    // DPP rule reuse the broadcast to prune the banded store's buckets
    val candRaw = IndexStore.table(spark, path, NearDup.Bands)
      .select(col("bucket"), col("band"), col("band_hash"), col("doc_id").as("corpus_id"))
      .join(broadcast(qbands.select(col("bucket"), col("band"), col("band_hash"),
        col("doc_id").as("query_id"))), Seq("bucket", "band", "band_hash"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select("query_id", "corpus_id").distinct()
    // pending delete tombstones screen the candidate set (broadcast
    // anti-join, delete-rate-sized) — a deleted doc stops matching the
    // instant [[deleteFromNearDupIndex]] lands, before any purge runs;
    // absent tombstones leave the plan untouched
    val cand = deletedDocs(spark, path).fold(candRaw)(d =>
      candRaw.join(broadcast(d.select(col("doc_id").as("corpus_id"))),
        Seq("corpus_id"), "left_anti"))

    // 3. estimate-prune (unbiased Jaccard estimate from component equality)
    val storedSig = IndexStore.table(spark, path, NearDup.signatures(numPerms))
    val qs = qsig.select(col("doc_id").as("query_id") +:
      (0 until numPerms).map(i => col(s"mh$i").as(s"q_m$i")): _*)
    val cs = storedSig.select(col("doc_id").as("corpus_id") +:
      (0 until numPerms).map(i => col(s"mh$i").as(s"c_m$i")): _*)
    val eq = sigEqCount(numPerms, "q_m", "c_m")
    val minEstimate = minEstimateFor(threshold)
    // single-computed: BOTH the candidate-id broadcast and the
    // intersection join embed this subplan — naively the signatures scan
    // and the 60-column estimate filter would execute twice per lookup.
    // LAZY localCheckpoint (not .cache()): the cache manager substitutes
    // cached plans into LATER queries matching the same store path, so a
    // cached candidate set would silently serve STALE results after an
    // append/compact mutates the store (observed as dangling-file reads
    // in the lifecycle queries); checkpoint blocks are private to this
    // frame. (Checkpointing the RESULT is safe for DPP; only caching the
    // qsh probe lineage above would hide the selective filter.)
    // .distinct(): `sizes` is the append's COMMIT MARKER (written last),
    // so a crash between the earlier table appends and the sizes append
    // followed by a replay leaves duplicate signature rows for the batch
    // — the distinct (candidate-sized) makes serving immune to them
    val prunedRaw = cand.join(qs, Seq("query_id")).join(cs, Seq("corpus_id"))
      .filter(eq >= (lit(minEstimate) * numPerms).cast("int"))
      .select("query_id", "corpus_id")
      .distinct()
    val pruned = if (reuseCandidates) prunedRaw.localCheckpoint(false) else prunedRaw

    // 4. exact verify — corpus shingles first cut to candidate docs by a
    // broadcast semi-join (candidate ids are result-sized)
    val candIds = pruned.select(col("corpus_id").as("cand_id")).distinct()
    val storedSh = IndexStore.table(spark, path, NearDup.Shingles)
    val candSh = storedSh
      .join(broadcast(candIds), storedSh("doc_id") === candIds("cand_id"), "left_semi")
      .select(col("doc_id").as("corpus_id"), col("h"))
    // countDistinct, not count: crash-replayed appends can leave duplicate
    // shingle rows (see the commit-marker note above); distinct-h counts
    // the intersection correctly either way, in the same aggregate
    val inter = pruned
      .join(qsh.select(col("doc_id").as("query_id"), col("h")), Seq("query_id"))
      .join(candSh, Seq("corpus_id", "h"))
      .groupBy(col("query_id"), col("corpus_id")).agg(countDistinct(col("h")).as("inter"))
    val qn = qsh.groupBy(col("doc_id")).agg(count(lit(1)).as("qn"))
      .withColumnRenamed("doc_id", "query_id")
    val cn = IndexStore.table(spark, path, NearDup.Sizes)
      .select(col("doc_id").as("corpus_id"), col("n").as("cn"))
    inter
      .join(broadcast(qn), Seq("query_id"))
      .join(cn, Seq("corpus_id"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("qn") + col("cn") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("query_id", "corpus_id", "jaccard")
  }
}
