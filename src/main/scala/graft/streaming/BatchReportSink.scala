package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one owner of the replay-safe per-micro-batch report format —
  * the reference's fixed-period sync loop as a Structured Streaming
  * trigger plus `foreachBatch`, for every stream whose batch body is
  * "screen the batch, write what the screen says".
  *
  * Each batch lands as one immutable `_batch=<id>` parquet partition
  * under the report dir, written with dynamic partition overwrite.
  * Replay contract: the stored artifact the screen reads is the state
  * (no streaming state store), the screen is deterministic, and so a
  * batch replayed after a crash overwrites its own partition
  * bit-identically — at-least-once in, exactly the same report out —
  * and never touches another batch's files.
  *
  * Served screens (each spec-gated in `StreamingSpecs`): eval-gram
  * decontamination (`Decontam.reportAgainstGrams`), media pHash
  * (`MediaScreen.screen`), exact prefix near-dup
  * (`PrefixStore.screen`), edit distance (`EditStore.screen`), the
  * composed d30 stack (`FullScreen.screen`), the stored-KN LM gate
  * (`BigramLmStore.gate`), the frozen quality classifier
  * (`QualityClassifier.gate`) and stream-static snapshot enrichment.
  * `StreamingLshDedup` and `StreamingVectorIngest` write their
  * per-batch outputs through [[writeBatch]] too.
  */
object BatchReportSink {

  /** Write `df` as batch `batchId`'s `_batch=<id>` partition of `dir`,
    * replacing only that partition.
    */
  def writeBatch(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch")
      .parquet(dir)

  /** Run `screen` on every non-empty micro-batch of `stream` and write
    * its result to `outDir` through [[writeBatch]].
    */
  def start(stream: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger)(screen: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) writeBatch(screen(batch), batchId, outDir)
      }
      .start()
}
