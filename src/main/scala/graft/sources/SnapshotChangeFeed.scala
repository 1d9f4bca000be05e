package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.SnapshotDiff

/** Poll-and-diff change feed over a versioned snapshot store — the
  * consumer complement of the connector's `option("version")` time
  * travel: each tick diffs the LIVE version against the last version
  * this feed processed and hands the keyed change set
  * (`change_type` ∈ insert/update/delete + old_/new_ payloads) to the
  * handler. The feed's own cursor (last processed version) advances
  * by atomic rename only AFTER the handler returns, so a crashed tick
  * replays its diff — at-least-once, and the diff is deterministic
  * given the two pinned versions (the connector pins each read's
  * snapshot at plan definition).
  *
  * The store's retention grace window (current + previous survive
  * commit cleanup) is exactly this feed's liveness contract: a feed
  * that polls at least once per producer commit always finds both
  * versions it needs. A feed that falls further behind FAILS LOUDLY
  * (the version it needs is gone) instead of silently skipping
  * changes; recover with [[bootstrap]], which re-emits the whole live
  * snapshot as inserts.
  *
  * Scale: the diff is [[SnapshotDiff]] — one key-partitioned
  * full-outer join of two snapshots, output ∝ churn; the cursor is a
  * few bytes. Nothing on the driver grows with the table.
  */
final class SnapshotChangeFeed(storePath: String, cursorDir: String,
    idCols: Seq[String]) {

  private val io = new ParquetTableIO(storePath)
  private def cursorPath: Path = Paths.get(cursorDir, "_feed_version")

  /** Last version this feed fully processed, if any. */
  def cursor: Option[Long] =
    if (Files.exists(cursorPath))
      Some(Files.readString(cursorPath).trim.toLong)
    else None

  private def advance(v: Long): Unit = Fs.replace(cursorPath, v.toString)

  private def at(spark: SparkSession, v: Long): DataFrame =
    spark.read.format("graft-snapshot").option("version", v).load(storePath)

  /** First contact (or recovery): the whole live snapshot as one
    * insert-only change set. Advances the cursor to the version it
    * emitted. Returns that version.
    */
  def bootstrap(spark: SparkSession)(handler: DataFrame => Unit): Long = {
    val cur = io.currentVersion
    val snap = at(spark, cur)
    val cmp = snap.columns.filterNot(idCols.contains).toSeq
    val asInserts = cmp.foldLeft(snap) { (d, c) =>
      d.withColumnRenamed(c, s"new_$c")
    }
    val withOld = cmp.foldLeft(asInserts) { (d, c) =>
      d.withColumn(s"old_$c",
        org.apache.spark.sql.functions.lit(null).cast(snap.schema(c).dataType))
    }
    handler(withOld.withColumn("change_type",
      org.apache.spark.sql.functions.lit("insert")))
    advance(cur)
    cur
  }

  /** One poll: diff live against the cursor, hand it over, advance.
    * Returns the new cursor if changes were processed, None when
    * already caught up. Throws when the cursor's version no longer
    * exists (the feed fell behind the retention window) — recover
    * with [[bootstrap]].
    */
  def tick(spark: SparkSession)(handler: DataFrame => Unit): Option[Long] = {
    val last = cursor.getOrElse(
      throw new IllegalStateException(
        s"change feed at $cursorDir has no cursor — call bootstrap first"))
    val cur = io.currentVersion
    if (cur == last) None
    else {
      if (io.versionManifest(last).isEmpty)
        throw new IllegalStateException(
          s"change feed fell behind: version $last of $storePath was " +
            "cleaned up (retention keeps current + previous only) — " +
            "re-bootstrap the feed")
      handler(SnapshotDiff.diff(at(spark, last), at(spark, cur), idCols))
      advance(cur)
      Some(cur)
    }
  }
}
