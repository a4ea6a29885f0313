package graft.streaming

import graft.operators.Retrieval
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Continuous corpus → searchable BM25 index: each micro-batch of
 * arriving documents folds into the persisted inverted index
 * ([[Retrieval.writeBm25Index]] on first contact, incremental
 * [[Retrieval.appendToBm25Index]] after), so the index trails the
 * crawl by one trigger instead of being rebuilt corpus-wide — the
 * retrieval-side twin of StreamingCorpus's dedup ingest. The `meta`
 * table decides bootstrap vs append, through the shared `maintain`
 * skeleton: an empty first batch builds no store (the next non-empty
 * batch does).
 *
 * Exactly-once effect WITHOUT a transactional sink: foreachBatch is
 * at-least-once, and the append's docstats screen (written before any
 * other table) makes a replayed batch a full no-op — so a micro-batch
 * retried after a crash cannot append its postings twice (which would
 * double-count tf, and df, which serving counts from the postings) or
 * add its docs to corpusstats twice. The one crash
 * window (screen landed, postings didn't) is repaired by the next
 * [[Retrieval.compactBm25Index]], which deregisters orphans so a
 * re-crawl lands them; a first-batch crash after the initial build is
 * the same replay no-op (meta exists → append path → anti-join).
 *
 * Serving ([[Retrieval.bm25StoredTopK]]) stays separate and unchanged —
 * readers see the store between batch commits, the reference's
 * eventual-consistency posture on its live feed.
 */
object StreamingRetrieval {

  def indexIngest(docs: DataFrame, indexPath: String, checkpoint: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintain(docs, indexPath, checkpoint, trigger, "meta")(
      Retrieval.writeBm25Index(_, indexPath))(
      (batch, _) => Retrieval.appendToBm25Index(batch.sparkSession, indexPath, batch))
}
