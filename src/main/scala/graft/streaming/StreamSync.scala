package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.SyncSpec
import graft.operators.{LwwMerge, SchemaTools}
import graft.sources.TableIO

/** Structured-Streaming periodic sync — the engine-native upgrade of
  * the reference's sleep-loop daemon (SyncCassElastic.py:45-47,
  * SURVEY.md §2.9 T1-T5):
  *
  *  - the drift-corrected sleep becomes `Trigger.ProcessingTime`
  *    (or `AvailableNow` for catch-up runs);
  *  - the lastruntime.log watermark becomes the engine's atomic
  *    `checkpointLocation` offset log — files are processed exactly
  *    once across restarts with no hand-rolled state;
  *  - each micro-batch LWW-merges into the destination via
  *    foreachBatch, committed as a sync leg commits ([[TableIO.pin]]):
  *    a snapshot store stages only the batch's winners as one delta,
  *    so a micro-batch writes O(batch), not O(store). Because the
  *    merge is idempotent (same version ⇒ incumbent kept), a replayed
  *    batch after a crash converges to the same state —
  *    at-least-once delivery + idempotent apply =
  *    effectively-once, the same guarantee the reference gets from ES
  *    external versioning (T5) but engine-side;
  *  - late data: the reference silently LOSES rows older than its
  *    window (T4). Here there is no window to miss — every file is
  *    an offset, and LWW decides by version, however late the row.
  */
object StreamSync {

  /** Start a one-direction incremental sync: parquet files landing in
    * `incomingDir` stream into `dest` under LWW merge. `schema` is
    * required by file streaming sources (no inference mid-stream).
    */
  def start(
      spark: SparkSession,
      incomingDir: String,
      schema: StructType,
      dest: TableIO,
      spec: SyncSpec,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val incoming = spark.readStream.schema(schema).parquet(incomingDir)
    incoming.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (dest.exists) {
          // a sync leg's commit: the micro-batch is one window, so the
          // store stages only its LWW winners ([[TableIO.pin]])
          val p = dest.pin(batch.sparkSession)
          val (d, in, _) = SchemaTools.alignBoth(p.df, batch)
          p.upsert(d, in, TableIO.Upsert(Seq(spec.idCol), spec.versionCol,
            windowed = true, new LwwMerge.Counts(s"${spec.name}-stream-$batchId")))
            .commit()
        } else
          // first run: the merge's payload-hash tie-break also ranks
          // rows of ONE batch sharing (id, version)
          dest.overwrite(LwwMerge.merge(batch.limit(0), batch,
            Seq(spec.idCol), spec.versionCol))
      }
      .start()
  }
}
