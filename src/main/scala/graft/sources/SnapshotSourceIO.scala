package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.v2.GraftSnapshotDataSource

/** Connector-backed [[TableIO]]: every read and every full write of a
  * sync side goes through the `graft-snapshot` DataSource V2 format —
  * the engine's own end-to-end path then exercises the connector's
  * snapshot pinning, merge-on-read resolution and parquet pushdown,
  * exactly as a production deployment would front
  * Cassandra/Elasticsearch with their DSv2 connectors (reference
  * pyCassElastic.py:172-186).
  *
  * Two-phase semantics:
  *  - a sync leg's delta (a window's winners, see [[ParquetTableIO]])
  *    stages at `prepare` through the store layer and publishes at
  *    `commit` with the store's atomic manifest replace, exactly as on
  *    [[ParquetTableIO]]; the leg's read is pinned to the manifest the
  *    delta is appended to (`option("version")`);
  *  - a full write (`overwrite`, a folding leg) defers: `commit` runs
  *    the DSv2 overwrite, which is itself atomic per store (data files
  *    job-commit into a staged base dir, the manifest flips only after
  *    — a failed write leaves the store on the old version with no
  *    partial state). Computed-from-old-state safety needs no
  *    cross-store staging there, because the connector PINS each read
  *    to the manifest that was live when the DataFrame was defined:
  *    each leg's plan keeps reading the other store's pre-commit
  *    version (the one commit of grace the store retains) even after
  *    that store publishes, so the sync runner commits both legs
  *    concurrently;
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

  override def pin(spark: SparkSession): TableIO.Pinned = {
    val store = io
    store.currentManifest match {
      case Some(m) if m.base != path =>
        store.pinnedAt(spark, m, spark.read.format(GraftSnapshotDataSource.Name)
          .option("version", m.version).load(path), prepare)
      case _ => super.pin(spark) // unpublished or adopted: full writes only
    }
  }

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
