package graft

import graft.model.Buckets
import graft.operators.{Bpe, Dedup, MetricsOps, Similarity, Sketches, TextOps}
import graft.sources.EventsAdapter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Weak-scaling probe (dev tool, like Probe/ProbeNgram): replicates the
 * fixture N× with DISTINCT key spaces (suffixed metrics / shifted doc and
 * vec ids — N× groups and N× rows, not N× duplicates inside one group)
 * and times representative heavy operators. The point is the growth
 * CURVE, not the absolute numbers: a plan whose time scales ~linearly in
 * rows here has no hidden quadratic/driver-bound stage, which is the
 * property that must hold at the 100 TB design point.
 *
 * Usage: runMain graft.ProbeScale <sfDir> <n> [query ...]
 */
object ProbeScale {

  private def rmrf(s: SparkSession, path: String): Unit =
    graft.storage.IndexStore.rmrf(s, path)

  private def scaledGauge(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val g = EventsAdapter.gaugePoints(spark, dir)
    (0 until n).map(i => g.withColumn("metric", concat(col("metric"), lit(s"_$i"))))
      .reduce(_ unionByName _)
  }

  private def scaledDocs(spark: SparkSession, dir: String, n: Int): DataFrame =
    scaledDocsTagged(spark, dir, n, i => s"r$i")

  /** Letter-coded replica tags for operators that NORMALIZE digits away
    * (dedup_normalized maps [0-9]+ → 0, so an `r$i` digit tag would make
    * all n replicas canonical-identical — the probe would then measure
    * n-fold duplicate collapse inside fixed hash groups, not scaling). */
  private def scaledDocsAlpha(spark: SparkSession, dir: String, n: Int): DataFrame = {
    require(n <= 26, s"letter tags support at most 26 replicas (got $n)")
    scaledDocsTagged(spark, dir, n, i => s"r${('a' + i).toChar}")
  }

  private def scaledDocsTagged(spark: SparkSession, dir: String, n: Int,
                               tag: Int => String): DataFrame = {
    val d0 = spark.read.parquet(s"$dir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val step = 1000000L
    (0 until n).map { i =>
      // rewrite every 4th WORD per replica (not a tail suffix): a suffix
      // leaves cross-replica shingle Jaccard at (W-2)/W ≥ 0.8, so every
      // replica pair of the same doc is a near-dup and the pair OUTPUT
      // grows n² — measuring result size, not operator scaling. Changing
      // a quarter of the words kills ~6/7 of shared shingles (J ≈ 0.14),
      // so each replica contributes its own ~constant pair set.
      d0.withColumn("doc_id", col("doc_id") + lit(i * step))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            (w, idx) => when(pmod(idx, lit(4)) === 0, concat(w, lit(tag(i)))).otherwise(w)),
          " "))
    }.reduce(_ unionByName _)
  }

  private def scaledEmbs(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val e0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val step = 1000000L
    // rotate components cyclically per replica: a single-component nudge
    // leaves replica cosine ≈ 1 (cross-replica near-dup pairs → n² output);
    // rotation preserves norms and within-replica geometry while making
    // cross-replica cosine ≈ 0 for random vectors
    val dim = graft.operators.Similarity.Dim
    // past n = dim the rotation wraps: replica i and i+dim would be
    // IDENTICAL vectors, silently reintroducing the n² cross-replica
    // pair-output artifact this rotation exists to remove — fail loudly
    require(n <= dim, s"embedding replication is capped at Dim=$dim replicas (got $n)")
    (0 until n).map { i =>
      val r = i % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r), slice(col("embedding"), 1, r))
      e0.withColumn("vec_id", col("vec_id") + lit(i * step))
        .withColumn("embedding", rotated)
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(10)
    val only = args.drop(2).toSet
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val S = 1704067200000L
    val E = 1706659200000L

    def time(name: String)(df: => DataFrame): Unit =
      if (only.isEmpty || only(name)) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        spark.catalog.clearCache()
      }

    println(s"== weak-scaling probe: $dir x$n ==")
    time("gauge_stats") {
      MetricsOps.numericBucketStats(scaledGauge(spark, dir, n),
        Buckets.fromCount(S, E, 60), Seq(90.0, 99.0))
    }
    time("stats_by_metric") {
      MetricsOps.numericBucketStats(scaledGauge(spark, dir, n),
        Buckets.fromCount(S, E, 60), Seq(95.0), byMetric = true)
    }
    time("periods") {
      MetricsOps.periods(scaledGauge(spark, dir, n), col("n_value") > 75.0)
    }
    time("rate") {
      MetricsOps.rate(scaledGauge(spark, dir, n), isCounter = false)
    }
    time("per_metric_limit") {
      // round-10 multi-metric T2: series count grows n×, limit fixed —
      // the partial WindowGroupLimit must keep the rank exchange at
      // ≤ limit×series rows, so time tracks the scan, not the shuffle
      MetricsOps.perMetricLimitOrdered(
        scaledGauge(spark, dir, n), graft.model.Order.Desc, 5)
    }
    time("per_metric_limit_skew") {
      // skewed T2 twin: the uniform probe above grows series AND rows
      // together; here HALF of all rows collapse onto ONE hot metric
      // (timestamps jittered per replica so the hot series has n× points,
      // not n× duplicates). WindowGroupLimit's map-side partial pass must
      // cut the hot key to ≤ limit rows per input partition BEFORE the
      // rank exchange, so the hot partition never materializes
      val g = EventsAdapter.gaugePoints(spark, dir)
      val hot = (0 until n).map(i =>
        g.withColumn("metric", lit("hot"))
          .withColumn("time", col("time") + lit(i.toLong)))
        .reduce(_ unionByName _)
      MetricsOps.perMetricLimitOrdered(
        scaledGauge(spark, dir, n).unionByName(hot), graft.model.Order.Desc, 5)
    }
    time("dedup_minhash") {
      Dedup.nearDupPairs(scaledDocs(spark, dir, n), shingleK = 3, threshold = 0.8)
    }
    time("dedup_simhash") {
      Dedup.simHashPairs(scaledDocs(spark, dir, n), maxHamming = 3)
    }
    time("text_repetition") {
      // (doc_id, gram)-keyed aggregates: rows AND distinct keys grow n×,
      // per-partition load stays flat
      TextOps.repetitionStats(scaledDocs(spark, dir, n))
    }
    time("corpus_vocab") {
      // replica-suffixed words grow the vocab n×; top-N must stay
      // per-partition heaps + driver merge of ≤ topN rows
      TextOps.vocabulary(scaledDocs(spark, dir, n))
    }
    time("tfidf_terms") {
      // token-keyed df join + doc_id-keyed top-k window, both n×-keyed
      TextOps.tfidfTerms(scaledDocs(spark, dir, n))
    }
    time("doc_perplexity") {
      // token-keyed vocab join + doc-keyed sum, both n×-keyed; the 1-row
      // total broadcasts — no driver state
      TextOps.unigramSurprisal(scaledDocs(spark, dir, n))
    }
    time("corpus_mix") {
      // strata count fixed while token mass grows n× — rates adapt, the
      // corpus-side work is one scan + broadcast join
      TextOps.mixCorpus(scaledDocs(spark, dir, n),
        Map("src0" -> 0.2, "src1" -> 0.2, "src2" -> 0.6), budgetFrac = 0.2)
    }
    time("token_batching") {
      // per-shard windows: rows per shard grow n× at fixed nShards — the
      // executor-local sort is the measured cost; real deployments scale
      // nShards with the corpus
      TextOps.packBatches(scaledDocs(spark, dir, n))
    }
    time("knn_pq_adc") {
      // fixed 80-entry codebook, corpus n× — encode is one projection,
      // ADC reads codes only
      Similarity.pqTopK(scaledEmbs(spark, dir, n),
        scaledEmbs(spark, dir, 1).filter(col("vec_id") < 10), 10)
    }
    time("knn_ivfpq") {
      // probing caps the scored rows at nprobe/cells of the corpus
      Similarity.ivfPqTopK(scaledEmbs(spark, dir, n),
        scaledEmbs(spark, dir, 1).filter(col("vec_id") < 10), 10, nprobe = 2)
    }
    time("knn_pq_rerank") {
      // ADC shortlist + raw re-read pruned by the broadcast id set
      Similarity.pqRerankTopK(scaledEmbs(spark, dir, n),
        scaledEmbs(spark, dir, 1).filter(col("vec_id") < 10), 10)
    }
    time("knn_sq") {
      // int8 quantize both sides + exact integer dot; corpus n×
      Similarity.sqTopK(scaledEmbs(spark, dir, n),
        scaledEmbs(spark, dir, 1).filter(col("vec_id") < 10), 10)
    }
    time("dedup_normalized") {
      // regexp projection + one canonical-hash shuffle; LETTER replica
      // tags — digit tags would normalize away and collapse replicas
      TextOps.normalizedDedup(scaledDocsAlpha(spark, dir, n))
    }
    time("bigram_perplexity") {
      // bigram-type model join (incl. the skew-prone w1 aggregate) +
      // one bg-keyed corpus join
      TextOps.bigramSurprisal(scaledDocs(spark, dir, n))
    }
    time("corpus_report") {
      // single scan into a |sources|-group aggregate
      TextOps.corpusReport(scaledDocs(spark, dir, n))
    }
    time("knn_label_vote") {
      // fixed query set, corpus n× — one scan per probe, vote stays
      // query-sized
      Similarity.labelVote(scaledEmbs(spark, dir, n),
        scaledEmbs(spark, dir, 1).filter(col("vec_id") < 20), 15)
    }
    time("label_centroids") {
      // fixed label count: the (label, pos) component aggregate keys stay
      // constant while rows grow n× — pure map-side-combine growth
      Similarity.labelCentroids(scaledEmbs(spark, dir, n))
    }
    time("emb_srp_pairs") {
      Similarity.srpThresholdPairs(scaledEmbs(spark, dir, n), 0.3, numPlanes = 8)
    }
    time("knn_ivf") {
      val e = scaledEmbs(spark, dir, n)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), 10, nprobe = 2)
    }
    time("knn_ivf_kmeans") {
      // training cost scales with rows × iters (two aggregate passes) +
      // the final assignment/search — all shuffle-free but the cell join
      val e = scaledEmbs(spark, dir, n)
      Similarity.ivfKmeansTopK(e, e.filter(col("vec_id") < 10), 10, nprobe = 2,
        kCells = 4, iters = 2)
    }
    time("emb_srp_multiprobe") {
      Similarity.srpMultiTablePairs(scaledEmbs(spark, dir, n), 0.3, numPlanes = 8, numTables = 2)
    }
    time("p2sketch_stats") {
      // the O(1)-state percentile path under replication: rows grow 10x,
      // groups stay fixed (pooled buckets) — state must not
      MetricsOps.numericBucketStats(scaledGauge(spark, dir, n),
        Buckets.fromCount(S, E, 60), Seq(90.0, 99.0),
        mode = MetricsOps.PercentileMode.P2Sketch)
    }
    time("mixed_stats") {
      // EP2 fan-out: four branches over the replicated gauge frame used
      // as every type (types share the frame shape; the point is the
      // scan-share + four aggregations, not type semantics)
      val g = scaledGauge(spark, dir, n)
      val c = g.withColumn("l_value", col("n_value").cast("long"))
      val a = g.withColumn("avail", pmod(col("time"), lit(3)).cast("int"))
      MetricsOps.mixedTypeStats(Buckets.fromStep(S, E, 86400000L),
        gaugeDp = Some(g), counterDp = Some(c), availDp = Some(a),
        includeCounterRate = true)
    }
    time("doc_chunks") {
      TextOps.chunkDocs(scaledDocs(spark, dir, n), chunkTokens = 64, overlap = 16)
    }
    time("decontaminate") {
      // benchmark stays FIXED-size while the corpus replicates — the
      // broadcast-side invariant the 100 TB path depends on
      val d = scaledDocs(spark, dir, n)
      TextOps.decontaminate(d, d.filter(col("doc_id") < 20), shingleK = 8)
    }
    time("pii_scrub") {
      TextOps.piiScrub(scaledDocs(spark, dir, n))
    }
    time("decontam_bloom") {
      // same fixed-benchmark invariant as decontaminate; the Bloom build
      // is eval-set-sized, the corpus side is one scan + map-side filter
      val d = scaledDocs(spark, dir, n)
      Sketches.decontaminateBloom(d, d.filter(col("doc_id") < 20), shingleK = 8)
    }
    time("heavy_hitters") {
      // token-keyed exact top-K (per-partition heaps) + a constant-size
      // mergeable CMS aggregate; only K rows reach the driver
      Sketches.cmsHeavyHitters(scaledDocs(spark, dir, n))
    }
    time("vocab_hll") {
      // one distinct aggregate (the expensive exact path being audited)
      // + KB-state HLL in the same pass; replica-suffixed words grow the
      // key space n×
      Sketches.vocabCardinality(scaledDocs(spark, dir, n))
    }
    time("neardup_index") {
      // build (corpus-wide signature pass + partitioned writes) runs
      // eagerly inside the timed block, then the DPP-pruned lookup for a
      // FIXED query set — the curve measures build+serve with serving
      // cost bounded by the queries' buckets, not the corpus
      val d = scaledDocs(spark, dir, n)
      Dedup.writeNearDupIndex(d, "target/tmp/probe-ndidx", shingleK = 3)
      Dedup.nearDupLookup(spark, "target/tmp/probe-ndidx",
        d.filter(col("doc_id") < 20), shingleK = 3)
    }
    time("corpus_shuffle") {
      // one hash exchange on shard + per-shard sort; rows per shard grow
      // n× at fixed nShards (deployments scale nShards with the corpus)
      TextOps.corpusShuffle(scaledDocs(spark, dir, n))
    }
    time("source_cap") {
      // replica-tagged words leave sources fixed while rows grow n× —
      // the count broadcast stays |sources|-sized and only over-cap
      // sources (all of them, here) pay the per-source rank window
      TextOps.sourceCap(scaledDocs(spark, dir, n), cap = 100)
    }
    time("bpe_train") {
      // replica-tagged words grow the TYPE dictionary ~n×: the corpus
      // aggregate and the driver merge loop both scale in types, the
      // loud maxWordTypes cap bounds the loop like production trainers
      Bpe.trainMerges(scaledDocs(spark, dir, n), numMerges = 30)
    }
    // train OUTSIDE the timed block (trainMerges runs its own corpus
    // aggregate + driver loop — bpe_train times that) so this row
    // isolates the APPLY stage: encode UDF invocations = word TYPES
    // (~n×); the corpus-side join is token-keyed — the tfidf shape
    if (only.isEmpty || only("bpe_subwords")) {
      val d = scaledDocs(spark, dir, n)
      val m = Bpe.trainMerges(d, numMerges = 30).localCheckpoint()
      time("bpe_subwords") { Bpe.subwordStats(d, m) }
    }
    time("source_overlap") {
      // sources fixed at |fixture| while shingles grow n×: the KMV
      // aggregate state stays |sources|×k; the exact self-join (the
      // audit half) is the part that grows — at 100 TB only the sketch
      // path runs
      Sketches.sourceOverlapKMV(scaledDocs(spark, dir, n))
    }
    time("knn_trunc_rerank") {
      // fixed query set, corpus n× — stage 1 scans dims/Dim of the
      // floats, stage 2 touches the broadcast shortlist only
      Similarity.truncRerankTopK(scaledEmbs(spark, dir, n),
        scaledEmbs(spark, dir, 1).filter(col("vec_id") < 10), 10, dims = 16)
    }
    time("bm25_search") {
      // fixed query-term set, corpus n× — the broadcast term prune keeps
      // the postings exchange at matching-hits size (grows n×; the
      // tokenize scan dominates, as it should)
      val s2 = spark
      import s2.implicits._
      val q = Seq((0L, Seq("spark", "join")), (1L, Seq("window", "sort", "merge")),
        (2L, Seq("hash", "scan"))).toDF("query_id", "terms")
      graft.operators.Retrieval.bm25TopK(scaledDocs(spark, dir, n), q, 10)
    }
    if (only.isEmpty || only("bm25_index")) {
      // build (tokenize + partitioned writes) + statically pruned serve
      // for a fixed query set — the serve cost is bounded by the terms'
      // buckets, not the corpus (the index's point)
      val s2 = spark
      import s2.implicits._
      val q = Seq((0L, Seq("spark", "join")), (1L, Seq("window", "sort", "merge")),
        (2L, Seq("hash", "scan"))).toDF("query_id", "terms")
      val d = scaledDocs(spark, dir, n)
      time("bm25_index") {
        graft.operators.Retrieval.writeBm25Index(d, "target/tmp/probe-bm25idx")
        graft.operators.Retrieval.bm25StoredTopK(spark, "target/tmp/probe-bm25idx", q, 10)
      }
    }
    time("event_sessions") {
      // users (window partitions) grow n× while events per user stay
      // fixed — per-partition sort cost flat, key space n×
      val e0 = EventsAdapter.eventFrame(spark, dir)
      val ev = (0 until n).map(i =>
        e0.withColumn("user_id", col("user_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
      graft.operators.EventOps.sessionize(ev, gapMs = 43200000L)
    }
    time("user_retention") {
      // same n× user growth; cohort×offset matrix stays fixture-sized,
      // the distinct-count aggregate carries the n× keys
      val e0 = EventsAdapter.eventFrame(spark, dir)
      val ev = (0 until n).map(i =>
        e0.withColumn("user_id", col("user_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
      graft.operators.EventOps.cohortRetention(ev, S, 604800000L, 4)
    }
    time("quality_calibration") {
      // sources fixed while rows grow n× — per-source rank-window
      // partitions carry n× rows (the documented escalation point)
      TextOps.qualityCalibration(scaledDocs(spark, dir, n), keepFrac = 0.4)
    }
    def scaledEvents(nn: Int): DataFrame = {
      val e0 = EventsAdapter.eventFrame(spark, dir)
      (0 until nn).map(i =>
        e0.withColumn("user_id", col("user_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
    }
    time("asof_enrich") {
      // users n× — both sides of the union share the key exchange;
      // window state one running value
      val ev = scaledEvents(n)
      val left = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("time"), col("value"))
      val right = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("time"))
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
      graft.operators.AsOfJoin.asOf(left, right, "user_id", "time", "click_value")
    }
    time("series_changepoints") {
      // series n× — both rows-between means ride one series exchange
      graft.operators.MetricsOps.changePoints(scaledGauge(spark, dir, n),
        graft.model.TimeRange(S, E), w = 5, threshold = 20.0)
    }
    time("forecast_eval") {
      // series n× — one bucket aggregate + one series window
      graft.operators.MetricsOps.seasonalNaiveEval(scaledGauge(spark, dir, n),
        Buckets.fromStep(S, S + 28L * 86400000L, 86400000L), seasonBuckets = 7)
    }
    time("rolling_active_users") {
      // users n× — day sketches stay |days|-sized but carry n× entries;
      // the exact fanout audit is the part that grows
      graft.operators.EventOps.rollingActiveUsers(scaledEvents(n), anchorMs = S)
    }
    time("media_frame_search") {
      // fixed query-frame set, corpus frames n× — one scan per probe
      graft.operators.Multimodal.frameSearch(
        graft.operators.Multimodal.asMediaFrame(scaledDocs(spark, dir, n)),
        maxQueryDoc = 30L, k = 5)
    }
    if (only.isEmpty || only("tagindex")) {
      // catalog n× (suffixed metrics): build writes |entries| ∝ n; the
      // lookup must stay bounded by the referenced names' buckets (3 of
      // 32 here), not the catalog — the serving property that matters
      // when the catalog is itself a big table
      val cat = (0 until n).map(i => EventsAdapter.catalog(spark, dir)
          .withColumn("metric", concat(col("metric"), lit(s"_$i"))))
        .reduce(_ unionByName _)
      time("tagindex") {
        graft.storage.TagIndex.write(cat, "target/tmp/probe-tagidx")
        graft.storage.TagIndex.lookup(spark, "target/tmp/probe-tagidx",
          "(type = error AND seg IN [s0, s1]) OR user ~ '14.*'")
      }
    }
    if (only.isEmpty || only("tagindex_leaves")) {
      // leaf-count scaling at a FIXED catalog (n is ignored; ×4 here):
      // the single-scan boolean pivot should hold ~flat in leaves, where
      // the old per-leaf intersect/union form grew ~linearly (one pruned
      // scan + one set-op shuffle per leaf)
      val cat4 = (0 until 4).map(i => EventsAdapter.catalog(spark, dir)
          .withColumn("metric", concat(col("metric"), lit(s"_$i"))))
        .reduce(_ unionByName _)
      val p = "target/tmp/probe-tagidx-leaves"
      graft.storage.TagIndex.write(cat4, p)
      def leafExpr(leaves: Int): String =
        (0 until leaves).map { i =>
          i % 4 match {
            case 0 => s"seg = s${i % 5}"
            case 1 => s"user ~ '${i}.*'"
            case 2 => s"type != t$i"
            case _ => s"seg IN [s${i % 5}, s${(i + 1) % 5}]"
          }
        }.mkString(" OR ")
      Seq(2, 10, 20).foreach { leaves =>
        val t0 = System.nanoTime()
        graft.storage.TagIndex.lookup(spark, p, leafExpr(leaves))
          .write.format("noop").mode("overwrite").save()
        println(f"tagindex_${leaves}%dleaf     ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    if (only.isEmpty || only("tagindex_delete")) {
      // delete lifecycle at catalog n×: the DELETE must stay ~flat (one
      // tombstone row, append-only — never an entries or metrics pass),
      // the tombstone-screened lookup must track the clean lookup, and
      // the post-compact serve must carry the tombstone-free plan
      val cat2 = (0 until n).map(i => EventsAdapter.catalog(spark, dir)
          .withColumn("metric", concat(col("metric"), lit(s"_$i"))))
        .reduce(_ unionByName _)
      val p = "target/tmp/probe-tagidx-del"
      rmrf(spark, p) // a crashed prior run must not leak state into this one
      graft.storage.TagIndex.write(
        cat2.unionByName(cat2.withColumn("tenant_id", lit("beta"))), p)
      val expr = "(type = error AND seg IN [s0, s1]) OR user ~ '14.*'"
      var t0 = System.nanoTime()
      graft.storage.TagIndex.deleteTenant(spark, p, "beta")
      println(f"tagidx_delete          ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.storage.TagIndex.lookup(spark, p, expr)
        .write.format("noop").mode("overwrite").save()
      println(f"tagidx_lookup_screened ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.storage.TagIndex.compact(spark, p)
      println(f"tagidx_compact_purge   ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.storage.TagIndex.lookup(spark, p, expr)
        .write.format("noop").mode("overwrite").save()
      println(f"tagidx_lookup_clean    ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("neardup_delete")) {
      // takedown lifecycle at corpus n×: the DELETE's only store-sized
      // work is the single-column sizes registration screen (a pushed
      // one-column scan — near-flat, never a shingle/band pass), the
      // tombstone-screened lookup must track the clean lookup (the screen
      // is a broadcast anti-join on the candidate set), and the purge
      // rides the compaction rewrite the store owes anyway
      val d2 = scaledDocs(spark, dir, n)
      val p = "target/tmp/probe-nddel"
      rmrf(spark, p) // a crashed prior run must not leak state into this one
      Dedup.writeNearDupIndex(d2, p, shingleK = 3)
      val q = d2.filter(col("doc_id") < 50).localCheckpoint()
      var t0 = System.nanoTime()
      Dedup.deleteFromNearDupIndex(spark, p,
        d2.filter(col("doc_id") % 97 === 0).select("doc_id"))
      println(f"nddel_delete           ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      Dedup.nearDupLookup(spark, p, q, shingleK = 3, threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
      println(f"nddel_lookup_screened  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      Dedup.compactNearDupIndex(spark, p)
      println(f"nddel_compact_purge    ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      Dedup.nearDupLookup(spark, p, q, shingleK = 3, threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
      println(f"nddel_lookup_clean     ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("ivf_retrain")) {
      // drift-response lifecycle at corpus n×: the retrain is one
      // training pass + one whole-store partitioned rewrite — O(corpus),
      // the original build's cost, amortized over the drift schedule —
      // and the post-retrain serve must stay flat (cell-pruned read)
      val e2 = scaledEmbs(spark, dir, n)
      val p = "target/tmp/probe-ivfret"
      rmrf(spark, p)
      graft.operators.Similarity.writeIvfIndex(e2, p, kCells = 4, iters = 2)
      val q = e2.filter(col("vec_id") < 10).localCheckpoint()
      var t0 = System.nanoTime()
      graft.operators.Similarity.retrainIvfIndex(spark, p, kCells = 4, iters = 2)
      println(f"ivfret_retrain         ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.operators.Similarity.ivfStoredTopK(spark, p, q, 10, nprobe = 2)
        .write.format("noop").mode("overwrite").save()
      println(f"ivfret_serve           ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("rollup_hist")) {
      // histogram tier at raw n×: the BUILD is O(raw) by design (one
      // scan into a map-side-combined aggregate), while the SERVE —
      // histogram re-aggregate + quantile walk — reads hours×metrics×bins
      // tier rows and must stay near-flat as raw density grows (metrics
      // grow n× here, points-per-(metric,hour,bin) stay fixed, so tier
      // rows grow n× but remain orders below raw; the property that
      // matters is serve NEVER touching raw)
      val p = "target/tmp/probe-rollhist"
      rmrf(spark, p)
      graft.storage.GraftStorage.write(scaledGauge(spark, dir, n),
        s"$p/raw", org.apache.spark.sql.SaveMode.Overwrite)
      var t0 = System.nanoTime()
      graft.storage.GraftStorage.writeRollupHist(spark, s"$p/raw", s"$p/hist",
        vMin = 0.0, vMax = 500.0, bins = 20)
      println(f"rollhist_build         ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val b = Buckets.fromStep(S, E, 86400000L)
      t0 = System.nanoTime()
      MetricsOps.histogramQuantile(
        graft.storage.GraftStorage.rollupHistogram(spark, s"$p/hist", b), 0.95)
        .write.format("noop").mode("overwrite").save()
      println(f"rollhist_serve_q95     ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("rollup_avail")) {
      // availability tier at raw n× (replicated metric spaces): build is
      // one windowed pass over raw; the serve MERGE reads hours×metrics
      // summaries and must stay near-flat in raw density
      val av = EventsAdapter.availabilityPoints(spark, dir)
      val scaled = (0 until n).map(i =>
        av.withColumn("metric", concat(col("metric"), lit(s"_$i"))))
        .reduce(_ unionByName _)
      val p = "target/tmp/probe-avroll"
      rmrf(spark, p)
      graft.storage.GraftStorage.write(scaled, s"$p/raw",
        org.apache.spark.sql.SaveMode.Overwrite)
      var t0 = System.nanoTime()
      graft.storage.GraftStorage.writeRollupAvail(spark, s"$p/raw", s"$p/roll")
      println(f"avroll_build           ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.storage.GraftStorage.rollupAvailStats(spark, s"$p/roll",
        Buckets.fromStep(S, E, 86400000L))
        .write.format("noop").mode("overwrite").save()
      println(f"avroll_serve           ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("rollup_counter")) {
      // counter tier at raw n×: same posture — the serve's boundary-delta
      // window runs over hours×metrics rows only
      val ct = EventsAdapter.counterPoints(spark, dir)
      val scaled = (0 until n).map(i =>
        ct.withColumn("metric", concat(col("metric"), lit(s"_$i"))))
        .reduce(_ unionByName _)
      val p = "target/tmp/probe-ctrroll"
      rmrf(spark, p)
      graft.storage.GraftStorage.write(scaled, s"$p/raw",
        org.apache.spark.sql.SaveMode.Overwrite)
      var t0 = System.nanoTime()
      graft.storage.GraftStorage.writeRollupCounter(spark, s"$p/raw", s"$p/roll")
      println(f"ctrroll_build          ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.storage.GraftStorage.rollupCounterIncrease(spark, s"$p/roll",
        graft.model.TimeRange(S, E))
        .write.format("noop").mode("overwrite").save()
      println(f"ctrroll_serve          ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("rollup_rate")) {
      // rate tier at raw n×: build is one windowed pass over raw; the
      // serve (boundary window + bucket merge) reads hours×metrics
      // summaries only — near-flat in raw density, raw never read
      val ct = EventsAdapter.counterPoints(spark, dir)
      val scaled = (0 until n).map(i =>
        ct.withColumn("metric", concat(col("metric"), lit(s"_$i"))))
        .reduce(_ unionByName _)
      val p = "target/tmp/probe-rateroll"
      rmrf(spark, p)
      graft.storage.GraftStorage.write(scaled, s"$p/raw",
        org.apache.spark.sql.SaveMode.Overwrite)
      var t0 = System.nanoTime()
      graft.storage.GraftStorage.writeRollupRate(spark, s"$p/raw", s"$p/roll",
        isCounter = true)
      println(f"rateroll_build         ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.storage.GraftStorage.rollupRateStats(spark, s"$p/roll",
        Buckets.fromStep(S, E, 86400000L), isCounter = true, byMetric = true)
        .write.format("noop").mode("overwrite").save()
      println(f"rateroll_serve         ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("pca_ivf")) {
      // PCA-IVF at corpus n×: build = PCA fit + dims-wide k-means + one
      // partitioned write (O(corpus)); the serve is the scale claim —
      // stage 1 reads the probed cells' PROJECTED column only, stage 2
      // reranks a query-sized shortlist. Two sizings, the ivf/ivf-sc
      // pair's posture: fixed cells (probed fraction constant) and cells
      // ∝ corpus (probed fraction shrinks — the production flat path).
      val e2 = scaledEmbs(spark, dir, n).localCheckpoint()
      val q = e2.filter(col("vec_id") < 10).localCheckpoint()
      for ((tag, cells) <- Seq(("fixed", 4), ("scaled", 4 * n))) {
        val p = s"target/tmp/probe-pcaivf-$tag"
        rmrf(spark, p)
        var t0 = System.nanoTime()
        Similarity.writePcaIvfIndex(e2, p, dims = 16, kCells = cells, iters = 2)
        println(f"pcaivf_build_$tag%-9s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        t0 = System.nanoTime()
        Similarity.pcaIvfStoredTopK(spark, p, q, 10, nprobe = 2, shortlist = 50)
          .write.format("noop").mode("overwrite").save()
        println(f"pcaivf_serve_$tag%-9s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    if (only.isEmpty || only("ivfpq")) {
      // persisted IVF-PQ at corpus n×: build = k-means + encode + one
      // partitioned write (O(corpus)); the serve's stage 1 reads the
      // probed cells' CODES only (m ints/vector — the memory-bound
      // production tier), stage 2 a shortlist-sized full-width read.
      // Same two sizings as pca_ivf: fixed cells and cells ∝ corpus.
      val e2 = scaledEmbs(spark, dir, n).localCheckpoint()
      val q = e2.filter(col("vec_id") < 10).localCheckpoint()
      for ((tag, cells) <- Seq(("fixed", 4), ("scaled", 4 * n))) {
        val p = s"target/tmp/probe-ivfpq-$tag"
        rmrf(spark, p)
        var t0 = System.nanoTime()
        Similarity.writeIvfPqIndex(e2, p, kCells = cells, iters = 2)
        println(f"ivfpq_build_$tag%-10s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        t0 = System.nanoTime()
        Similarity.ivfPqStoredTopK(spark, p, q, 10, nprobe = 2, shortlist = 50)
          .write.format("noop").mode("overwrite").save()
        println(f"ivfpq_serve_$tag%-10s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    if (only.isEmpty || only("ivf_sampled")) {
      // bounded-sample training at corpus n×, cells ∝ corpus: full-corpus
      // Lloyd costs (iters+1) corpus×cells passes — the one superlinear
      // build cost left in the index family; the deterministic hash
      // sample trains on 4096 rows REGARDLESS of corpus, leaving one
      // corpus×cells assignment + the partitioned write as the whole
      // corpus-sized build
      val e2 = scaledEmbs(spark, dir, n).localCheckpoint()
      for ((tag, sample) <- Seq(("full", None), ("sampled", Some(4096)))) {
        val p = s"target/tmp/probe-ivfsmp-$tag"
        rmrf(spark, p)
        val t0 = System.nanoTime()
        Similarity.writeIvfIndex(e2, p, kCells = 4 * n, iters = 2, sampleN = sample)
        println(f"ivfsmp_build_$tag%-9s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    if (only.isEmpty || only("ivf_hier")) {
      // hierarchical vs flat ASSIGNMENT at corpus n×, cells ∝ corpus
      // (4·n cells), both with 4096-row sampled training: training cost
      // is fixed for both, so the build difference is the one remaining
      // corpus-sized pass — flat scores all 4n centroids per vector
      // (O(n·cells), the ~5.5× at ×16 the round-13 probe measured),
      // hier scores O(√cells + √cells) per vector (coarse hop + child
      // argmax) and should grow ~n·√cells. Serve stays flat over leaves
      // (request-sized) — timed to show it matches the flat store's.
      val e2 = scaledEmbs(spark, dir, n).localCheckpoint()
      val q = e2.filter(col("vec_id") < 10).localCheckpoint()
      for ((tag, build, p) <- Seq[(String, (String) => Unit, String)](
        ("flat", pp => Similarity.writeIvfIndex(e2, pp,
          kCells = 4 * n, iters = 2, sampleN = Some(4096)),
          "target/tmp/probe-ivfhier-flat"),
        ("hier", pp => Similarity.writeIvfIndex(e2, pp,
          kCells = 4 * n, iters = 2, sampleN = Some(4096), hier = true),
          "target/tmp/probe-ivfhier-hier"))) {
        rmrf(spark, p)
        var t0 = System.nanoTime()
        build(p)
        println(f"ivfhier_build_$tag%-8s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        t0 = System.nanoTime()
        Similarity.ivfStoredTopK(spark, p, q, 10, nprobe = 2)
          .write.format("noop").mode("overwrite").save()
        println(f"ivfhier_serve_$tag%-8s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    if (only.isEmpty || only("tenant_axis")) {
      // tenant-axis weak scaling (fixed per-tenant data, n× tenants): the
      // tier layout leads with tenant_id/mtype, so (a) a tenant-SCOPED
      // serve must stay FLAT in tenant count (partition pruning — the
      // histogram tier's scope params), while (b) fleet-wide serves grow
      // with the tier (n× rows) but keep per-tenant timelines on their
      // own merge keys (the A3/counter/burn tenant-key posture)
      val g = EventsAdapter.gaugePoints(spark, dir)
      val gT = (0 until n).map(i => g.withColumn("tenant_id", lit(s"t$i")))
        .reduce(_ unionByName _)
      val av = EventsAdapter.availabilityPoints(spark, dir)
      val avT = (0 until n).map(i => av.withColumn("tenant_id", lit(s"t$i")))
        .reduce(_ unionByName _)
      val p = "target/tmp/probe-tenants"
      rmrf(spark, p)
      graft.storage.GraftStorage.write(gT, s"$p/raw",
        org.apache.spark.sql.SaveMode.Overwrite)
      graft.storage.GraftStorage.write(avT, s"$p/avraw",
        org.apache.spark.sql.SaveMode.Overwrite)
      var t0 = System.nanoTime()
      graft.storage.GraftStorage.writeRollup(spark, s"$p/raw", s"$p/roll")
      graft.storage.GraftStorage.writeRollupHist(spark, s"$p/raw", s"$p/hist",
        vMin = 0.0, vMax = 500.0, bins = 20)
      graft.storage.GraftStorage.writeRollupAvail(spark, s"$p/avraw", s"$p/avroll")
      println(f"tenants_build          ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val b = Buckets.fromStep(S, E, 86400000L)
      t0 = System.nanoTime()
      graft.storage.GraftStorage.rollupHistogram(spark, s"$p/hist", b,
        tenant = Some("t0"), mtypeCode = Some(graft.model.MetricType.Gauge.code.toInt))
        .write.format("noop").mode("overwrite").save()
      println(f"tenants_hist_scoped    ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      // the sums serve drops tenant keys from its output, so a fleet-wide
      // unscoped merge is the cross-tenant mixing the round-12 guard now
      // REFUSES — the meaningful fleet measurement on this tier is the
      // scoped serve (the avail row below keeps the keyed fleet serve)
      graft.storage.GraftStorage.rollupStats(spark, s"$p/roll", b,
        tenant = Some("t0"),
        mtypeCode = Some(graft.model.MetricType.Gauge.code.toInt))
        .write.format("noop").mode("overwrite").save()
      println(f"tenants_stats_scoped   ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      t0 = System.nanoTime()
      graft.storage.GraftStorage.rollupAvailStats(spark, s"$p/avroll", b)
        .write.format("noop").mode("overwrite").save()
      println(f"tenants_avail_fleet    ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    if (only.isEmpty || only("pca_fit")) {
      // PCA fit at corpus n×: the Gram build is one scan with a fixed
      // 2080-key map-side-combined aggregate — time must track the scan
      // (~linear), never the pair fan-out; the eigensolve is a fixed
      // 64×64 driver cost
      val e2 = scaledEmbs(spark, dir, n).localCheckpoint()
      val t0 = System.nanoTime()
      val m = Similarity.pcaFit(e2, dims = 16)
      println(f"pca_fit                ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        f"  (top energy ${m.energies.head}%.1f)")
    }
    if (only.isEmpty || only("bm25_compact")) {
      // append waves then compact: work is store-sized (no corpus
      // re-tokenization), and the serve after compaction carries the
      // same pruned plan
      val d2 = scaledDocs(spark, dir, n)
      val s2 = spark
      import s2.implicits._
      val q = Seq((0L, Seq("spark", "join")), (1L, Seq("window", "sort", "merge")))
        .toDF("query_id", "terms")
      time("bm25_compact") {
        val p = "target/tmp/probe-bm25cmp"
        graft.operators.Retrieval.writeBm25Index(
          d2.filter(col("doc_id") % 2 === 0), p)
        graft.operators.Retrieval.appendToBm25Index(spark, p,
          d2.filter(col("doc_id") % 2 =!= 0))
        graft.operators.Retrieval.compactBm25Index(spark, p)
        graft.operators.Retrieval.bm25StoredTopK(spark, p, q, 10)
      }
    }
    if (only.isEmpty || only("cc_distributed")) {
      // the >2M-edge fallback path of nearDupClusters, exercised directly
      // on synthetic worst-case graphs: a CHAIN of length L is the
      // diameter-L adversary (plain min-propagation needs L rounds); the
      // pointer-jumping claim is rounds ≈ O(log L). The star is the
      // opposite extreme (diameter 2 → rounds must stay ~constant no
      // matter how many edges). Correctness asserted inline: every graph
      // is one component labeled by its min node.
      for ((name, len, mk) <- Seq[(String, Long, Long => DataFrame)](
        ("cc_chain_10k", 10000L,
          l => spark.range(l).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))),
        ("cc_chain_100k", 100000L,
          l => spark.range(l).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))),
        ("cc_chain_1m", 1000000L,
          l => spark.range(l).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))),
        ("cc_star_1m", 1000000L,
          l => spark.range(1, l).select(lit(0L).as("doc_a"), col("id").as("doc_b"))))) {
        var rounds = 0
        val t0 = System.nanoTime()
        val labels = Dedup.distributedClusters(mk(len), r => rounds = r)
        val bad = labels.filter(col("cluster") =!= 0L).count()
        println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
          f"rounds=$rounds%3d  mislabeled=$bad")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
