package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Continuous embedding stream → searchable IVF index: each micro-batch
 * of arriving vectors folds into the persisted ANN index — the first
 * batch trains the model and builds the store
 * ([[Similarity.writeIvfIndex]]), every later batch lands through the
 * stored-model append ([[Similarity.appendToIvfIndex]]) — so nearest-
 * neighbor serving trails ingestion by one trigger instead of waiting
 * for a corpus-wide rebuild. The vector-side twin of
 * [[StreamingRetrieval.indexIngest]]; every maintainer here runs the
 * shared `maintain` skeleton (batch materialization, discriminator
 * probe, empty-batch rule).
 *
 * Bootstrap-model posture: training on the FIRST wave and appending
 * with that model afterwards is the standard online-IVF operating
 * contract — the model is only as stale as the last re-train, drift is
 * detected out-of-band (`Similarity.centroidDrift`) and answered by
 * [[Similarity.retrainIvfIndex]], never per batch.
 *
 * Exactly-once effect WITHOUT a transactional sink: foreachBatch is
 * at-least-once, and the append's vec_id anti-join against the stored
 * vectors makes a replayed batch a no-op; a first-batch crash after the
 * build is the same replay no-op (centroids exist → append path →
 * anti-join). Serving ([[Similarity.ivfStoredTopK]]) stays separate and
 * unchanged — readers see the store between batch commits.
 */
object StreamingSimilarity {

  /** `hier = true` bootstraps through `Similarity.writeIvfIndex(hier =
    * true)` — the √cells assignment path for streams whose cell count
    * scales with the corpus. The store layout is IDENTICAL (leaf
    * centroids + cell-partitioned vectors), so appends, serving, and the
    * whole lifecycle run the shared flat-leaf machinery unchanged; only
    * the bootstrap (and, in the retrain variant, the drift response)
    * pays the cheaper two-level training. */
  def ivfIngest(vecs: DataFrame, indexPath: String, checkpoint: String,
                kCells: Int = 4, iters: Int = 2,
                hier: Boolean = false,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintain(vecs, indexPath, checkpoint, trigger, "centroids")(
      Similarity.writeIvfIndex(_, indexPath, kCells, iters, hier = hier))(
      (batch, _) => Similarity.appendToIvfIndex(batch.sparkSession, indexPath, batch))

  /**
   * Continuous embedding stream → searchable PCA-IVF store —
   * [[ivfIngest]]'s maintainer over the two-model unit: the first
   * non-empty micro-batch fits the basis, trains the PCA-space cells,
   * and builds the store ([[Similarity.writePcaIvfIndex]]); every later
   * batch projects through the STORED basis and appends into cells
   * assigned by the STORED centroids ([[Similarity.appendToPcaIvfIndex]]
   * — batch-sized, replay-safe, models untouched). The BASIS
   * (`pcamodel`) decides bootstrap vs append: the build lands it after
   * vectors/centroids. Both models age until the drift maintainer
   * retrains, the standard operating contract.
   */
  def pcaIvfIngest(vecs: DataFrame, indexPath: String, checkpoint: String,
                   dims: Int = 16, kCells: Int = 4, iters: Int = 2,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintain(vecs, indexPath, checkpoint, trigger, "pcamodel")(
      Similarity.writePcaIvfIndex(_, indexPath, dims, kCells, iters))(
      (batch, _) => Similarity.appendToPcaIvfIndex(batch.sparkSession, indexPath, batch))

  /**
   * Continuous embedding stream → IVF-PQ store — the memory-bound
   * serving tier kept current by ingest: bootstrap builds
   * ([[Similarity.writeIvfPqIndex]] — codebooks derive from the trained
   * centroids), later batches append with cells AND codes from the
   * stored model ([[Similarity.appendToIvfPqIndex]]). The `centroids`
   * table decides bootstrap vs append.
   */
  def ivfPqIngest(vecs: DataFrame, indexPath: String, checkpoint: String,
                  kCells: Int = 4, iters: Int = 2,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintain(vecs, indexPath, checkpoint, trigger, "centroids")(
      Similarity.writeIvfPqIndex(_, indexPath, kCells, iters))(
      (batch, _) => Similarity.appendToIvfPqIndex(batch.sparkSession, indexPath, batch))

  /**
   * Continuous embedding stream → persisted SRP-LSH store —
   * [[ivfIngest]]'s maintainer for the sign-bit bucketing: the first
   * non-empty micro-batch derives the hyperplanes (its lowest ids — the
   * deterministic plane rule) and builds the store
   * ([[Similarity.writeSrpIndex]] — one atomic swap unit); every later
   * batch buckets through the STORED planes
   * ([[Similarity.appendToSrpIndex]] — batch-sized, replay-safe via the
   * shared id anti-join). The `planes` table decides bootstrap vs
   * append — the whole store lands atomically, so its presence proves a
   * complete build.
   */
  def srpIngest(vecs: DataFrame, indexPath: String, checkpoint: String,
                numPlanes: Int = 8,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintain(vecs, indexPath, checkpoint, trigger, "planes")(
      Similarity.writeSrpIndex(_, indexPath, numPlanes))(
      (batch, _) => Similarity.appendToSrpIndex(batch.sparkSession, indexPath, batch))

  /**
   * Continuous embedding stream → persisted RESIDUAL-IVFADC store: the
   * first non-empty batch trains the coarse model AND the residual
   * codebooks and lands the whole unit atomically
   * ([[Similarity.writeIvfPqResidualIndex]]); later batches assign
   * cells and residual codes through the STORED model pair
   * ([[Similarity.appendToIvfPqResidualIndex]]). `residcb` decides
   * bootstrap vs append (atomic store — presence proves completeness).
   */
  def ivfPqResidualIngest(vecs: DataFrame, indexPath: String, checkpoint: String,
                          kCells: Int = 4, iters: Int = 2,
                          kCodes: Int = 8, codeIters: Int = 2,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintain(vecs, indexPath, checkpoint, trigger, "residcb")(
      Similarity.writeIvfPqResidualIndex(_, indexPath, kCells, iters, kCodes, codeIters))(
      (batch, _) => Similarity.appendToIvfPqResidualIndex(batch.sparkSession, indexPath, batch))

  /**
   * [[ivfIngest]] with the drift-response loop CLOSED: after each
   * stored-model append, the maintainer measures how far the data has
   * moved under the model — [[Similarity.centroidDrift]] between the
   * STORED centroids (each cell's label carrying its one trained vector)
   * and the stored corpus labeled by its cell partitions, i.e. per cell
   * the cosine of trained-centroid vs the cell's CURRENT mean — and when
   * any cell drops below `driftCosine`, fires
   * [[Similarity.retrainIvfIndex]]: the whole-store model+vectors swap
   * whose post-state is indistinguishable from a fresh build over the
   * live corpus (the knn_ivf_retrained contract). This is the operating
   * loop the bootstrap-model posture defers to ("re-train on drift, not
   * per batch"), now running inside the ingest query itself.
   *
   * Replay-safe like the rest of the maintainer: the append anti-joins
   * replayed ids away, the drift check re-reads the store, and a
   * replayed retrain rebuilds the identical deterministic model. The
   * per-batch drift check is O(cells), NOT O(corpus): each append also
   * folds its per-cell (count, decimal sums) into the store's
   * `cellfacts` side table ([[Similarity.mergeCellFacts]] — cells-sized,
   * exactly equal to a recompute because decimal sums merge
   * associatively), and [[Similarity.ivfDriftFromFacts]] reads facts +
   * centroids only — the old posture re-projected the whole corpus per
   * micro-batch, which cannot fly at 100 TB. A retrain rebuilds the
   * facts inside its swap; a missing facts table (crash window)
   * self-heals with one rebuild pass. `onRetrain(batchId)` is the
   * observability hook.
   */
  def ivfIngestWithRetrain(vecs: DataFrame, indexPath: String, checkpoint: String,
                           kCells: Int = 4, iters: Int = 2,
                           driftCosine: Double = 0.95,
                           onRetrain: Long => Unit = _ => (),
                           hier: Boolean = false,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintain(vecs, indexPath, checkpoint, trigger, "centroids") { batch =>
      Similarity.writeIvfIndex(batch, indexPath, kCells, iters, hier = hier)
      Similarity.rebuildCellFacts(batch.sparkSession, indexPath)
    } { (batch, batchId) =>
      val spark = batch.sparkSession
      // the append folds its per-cell facts in; a missing facts table
      // (bootstrap/retrain crash window) self-heals inside mergeCellFacts
      // with one rebuild pass
      Similarity.appendToIvfIndex(spark, indexPath, batch, updateFacts = true)
      // O(cells) drift read — facts + centroids, never the corpus
      val worst = Similarity.ivfDriftFromFacts(spark, indexPath)
        .agg(min(col("drift_cosine"))).collect()(0)
      if (!worst.isNullAt(0) && worst.getDouble(0) < driftCosine) {
        Similarity.retrainIvfIndex(spark, indexPath, kCells, iters, hier = hier)
        onRetrain(batchId)
      }
    }
}
