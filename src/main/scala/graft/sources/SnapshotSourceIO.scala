package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.v2.GraftSnapshotDataSource

/** Connector-backed [[TableIO]]: every read and write of a sync side
  * goes through the `graft-snapshot` DataSource V2 format — the
  * engine's own end-to-end path then exercises the connector's
  * snapshot pinning and parquet pushdown, exactly as a production
  * deployment would front Cassandra/Elasticsearch with their DSv2
  * connectors (reference pyCassElastic.py:172-186).
  *
  * Two-phase semantics under the connector differ from
  * [[ParquetTableIO]] deliberately:
  *  - `prepare` defers; `commit` runs the DSv2 overwrite, which is
  *    itself atomic per store (data files job-commit into a staged
  *    version dir, the pointer flips only after — a failed write
  *    leaves the store on the old version with no partial state);
  *  - computed-from-old-state safety needs no cross-store staging
  *    here, because the connector PINS each read to the snapshot that
  *    was live when the DataFrame was defined: each leg's plan keeps
  *    reading the other store's pre-commit version (the one commit of
  *    grace the store retains) even after that store publishes, so
  *    the sync runner commits both legs concurrently;
  *  - cross-store atomicity stays per-store atomic + idempotent
  *    retry: if one leg's write fails while the other's commits, the
  *    tick is half-applied — the watermark does NOT advance, and the
  *    retried tick re-merges the same window, which LWW absorbs
  *    (T5's at-least-once discipline; the reference's sequential
  *    ES-then-Cassandra writes have the same window, :508-582).
  */
final class SnapshotSourceIO(val path: String) extends TableIO {

  private def io = new ParquetTableIO(path)

  override def exists: Boolean = io.exists

  override def read(spark: SparkSession): DataFrame =
    spark.read.format(GraftSnapshotDataSource.Name).load(path)

  /** Bootstrap hook: the DSv2 format needs a published snapshot before
    * it can infer a schema, so first-time seeding goes through the
    * store layer directly.
    */
  def bootstrap(df: DataFrame): Unit = io.overwrite(df)

  override def prepare(df: DataFrame): TableIO.Prepared = new TableIO.Prepared {
    override def commit(): Unit =
      df.write.format(GraftSnapshotDataSource.Name)
        .mode(SaveMode.Overwrite).save(path)
    override def abort(): Unit = ()
  }
}
