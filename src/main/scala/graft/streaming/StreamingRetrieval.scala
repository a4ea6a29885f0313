package graft.streaming

import graft.operators.Retrieval
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/**
 * Continuous corpus → searchable BM25 index: each micro-batch of
 * arriving documents folds into the persisted inverted index
 * ([[Retrieval.writeBm25Index]] on first contact, incremental
 * [[Retrieval.appendToBm25Index]] after), so the index trails the
 * crawl by one trigger instead of being rebuilt corpus-wide — the
 * retrieval-side twin of StreamingCorpus's dedup ingest.
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
    docs.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        // ONE materialization of the micro-batch feeds its multiple
        // passes (the build scans the batch once per table: postings,
        // corpusstats, docstats; the append reads it in the screen
        // anti-join, and in the revival probe while tombstones are
        // pending) — trigger-sized, unpersisted per batch
        val batch = batch0.persist()
        try {
          val spark = batch.sparkSession
          // the INDEX PATH's filesystem, not the default one — a scheme
          // mismatch (hdfs default, file: index or vice versa) would make
          // the probe answer false every trigger and silently rebuild
          val meta = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
          val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(meta))
            Retrieval.writeBm25Index(batch, indexPath)
          else Retrieval.appendToBm25Index(spark, indexPath, batch)
        } finally batch.unpersist()
      }
      .start()
}
