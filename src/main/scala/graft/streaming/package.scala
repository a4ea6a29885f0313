package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

package object streaming {

  /**
   * The one foreachBatch skeleton behind every index maintainer (the
   * [[StreamingSimilarity]] ANN stores and
   * [[StreamingRetrieval.indexIngest]]): each micro-batch of `frame`
   * builds the store at `indexPath` while its `discriminator` table is
   * absent (`bootstrap`) and folds into it once the table exists
   * (`append`, which also gets the batch id). Every build lands its
   * discriminator after the tables it vouches for, so a build that
   * crashed midway re-bootstraps on replay instead of appending through
   * a missing model.
   *
   * ONE materialization of the micro-batch feeds every pass over it: a
   * bootstrap's training re-reads the batch per pass plus once per table
   * write, an append reads it in its screen anti-join and in the revival
   * probe while tombstones are pending. Trigger-sized and unpersisted per
   * batch — bounded at any scale.
   *
   * The discriminator is probed on the INDEX PATH's filesystem, not the
   * default one: a scheme mismatch (hdfs default, file: index or vice
   * versa) would make the probe answer false every trigger and silently
   * rebuild.
   *
   * Empty batches: only a bootstrap checks for one — k-means, the PCA fit
   * and the SRP plane derivation refuse an empty input — so an empty
   * first batch builds nothing and the next non-empty batch bootstraps.
   * An append takes an empty batch as the no-op its id screen already
   * makes it, without a job to find out.
   *
   * Exactly-once effect WITHOUT a transactional sink: foreachBatch is
   * at-least-once, and every append screens the ids already in the store,
   * so a replayed batch is a no-op.
   */
  private[streaming] def maintain(frame: DataFrame, indexPath: String, checkpoint: String,
                                  trigger: Trigger, discriminator: String)
                                 (bootstrap: DataFrame => Unit)
                                 (append: (DataFrame, Long) => Unit): StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = batch0.persist()
        try {
          val probe = new org.apache.hadoop.fs.Path(s"$indexPath/$discriminator")
          val fs = probe.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
          if (fs.exists(probe)) append(batch, batchId)
          else if (!batch.isEmpty) bootstrap(batch)
        } finally batch.unpersist()
      }
      .start()
}
