package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Streaming token counts with COMPLETE-mode output through a
 * `foreachBatch` snapshot sink — the continuous form of the corpus
 * heavy-hitter query, and the two Structured Streaming output features
 * the rest of the suite doesn't exercise (Complete mode is how a
 * running aggregate is re-emitted whole; foreachBatch is the batch-API
 * escape hatch file sinks can't cover, since they only append).
 *
 * Each micro-batch atomically replaces the snapshot parquet with the
 * full current counts (overwrite inside foreachBatch — idempotent per
 * epoch by construction, so a replayed batch rewrites the same
 * answer); serving ranks the snapshot. State is the EXACT per-token
 * count map — vocabulary-sized, the Heaps-law-bounded word-count state
 * of the classic streaming example (the BPE dictionary argument); a
 * corpus whose vocabulary outgrows state moves to the mergeable-CMS
 * path (Sketches.cmsHeavyHitters) and gives up exactness for O(1)
 * state, the documented trade.
 */
object StreamingHeavyHitters {

  /** Runs the counts stream to completion (AvailableNow) and returns the
    * top-k from the final snapshot. */
  def run(spark: SparkSession, docsStream: DataFrame, snapshotPath: String,
          checkpoint: String, topK: Int = 20): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val counts = docsStream
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val q = counts.writeStream
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(snapshotPath)
      }
      .start()
    q.awaitTermination()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc)
    graft.storage.IndexStore.table(spark, snapshotPath, graft.storage.StoreTables.HeavyHitters)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("token"), col("cnt"), col("rank"))
  }
}
