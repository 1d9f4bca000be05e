package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage abstraction fronting one "store" of a sync pair.
  *
  * The reference talks to live Cassandra / Elasticsearch
  * (pyCassElastic.py:172-186); this build is zero-egress, so the
  * shipped implementation is parquet snapshots — but every operator
  * only ever sees DataFrames, so a connector-backed TableIO
  * (cassandra DSv2 / es-hadoop) drops in without touching the engine.
  *
  * Writes are two-phase (`prepare` materializes, `Prepared.commit`
  * publishes) so a bidirectional sync can stage BOTH legs' outputs —
  * each computed from both stores' OLD state — before either store is
  * swapped. Single-phase `overwrite` is prepare+commit.
  */
trait TableIO {
  /** Location of the store; [[TableIO.key]] is its identity. */
  def path: String
  def read(spark: SparkSession): DataFrame
  def exists: Boolean
  def prepare(df: DataFrame): TableIO.Prepared
  final def overwrite(df: DataFrame): Unit = prepare(df).commit()
}

object TableIO {
  trait Prepared { def commit(): Unit; def abort(): Unit }

  /** A location in absolute, normalized form: two spellings of one
    * directory (relative, `./`, `../`) map to the same key.
    */
  def key(path: String): String = Paths.get(path).toAbsolutePath.normalize.toString
}

/** Parquet snapshot store with versioned-snapshot + atomic-pointer
  * commits (the same commit shape lakehouse table formats use).
  *
  * Layout: `path/v-<n>/…parquet` immutable snapshot dirs plus a tiny
  * `path/_current` pointer file naming the live one. A write
  * materializes `v-<n+1>` while readers keep resolving the pointer to
  * `v-<n>` (which also lets the new snapshot be computed FROM the old
  * one — Spark's own Overwrite truncates before reading); `commit`
  * is ONE atomic pointer replace. Readers never observe a
  * half-published state — unlike a directory rename swap, a reader
  * that resolved the pointer keeps a complete immutable dir (the
  * previous version is retained one commit as a grace window). This
  * is also the object-store-friendly shape: no directory moves of
  * data, just a small-object put. The abort path is the engine's
  * version of the reference's duplication guard — fail the leg rather
  * than leave a half-applied state (pyCassElastic.py:85-88).
  *
  * `partitionBy`: a date-derived column here turns the incremental
  * window scan into partition pruning — the reference's own
  * acknowledged redesign ("partition the data by day",
  * reference README.md:21,77). At 100 TB this is the difference
  * between a full scan and reading one day's partitions.
  */
/** @param keepVersionDir retention hook: a superseded snapshot dir
  *   whose NAME this predicate accepts survives the commit-time
  *   cleanup (beyond the standard one-commit grace window) — the
  *   artifact store passes the base versions its retained history
  *   ledgers still reference (time travel). Default keeps nothing
  *   extra.
  */
final class ParquetTableIO(val path: String, partitionBy: Seq[String] = Nil,
    derive: DataFrame => DataFrame = identity,
    keepVersionDir: String => Boolean = _ => false)
    extends TableIO {

  private def root: Path = Paths.get(path)
  private def pointer: Path = root.resolve("_current")

  /** Live snapshot dir (absolute), if any — the pointer's target; a
    * pointer-less directory that already holds parquet files is
    * ADOPTED as the version-0 snapshot (bootstrap from an existing
    * plain table; the first commit supersedes it).
    */
  def currentDir: Option[String] =
    if (Files.exists(pointer))
      Some(root.resolve(Files.readString(pointer).trim).toString)
    else if (Files.exists(root) && {
        val s = Files.list(root)
        try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      })
      Some(path)
    else None

  // snapshot dirs are "v-<n>" or "v-<n>-<uid>" (the uid disambiguates
  // concurrent writers); the numeric prefix is the version
  private def versionOf(dirName: String): Long =
    ParquetTableIO.versionOfDir(dirName)

  /** Version number of the live snapshot (0 when nothing is published
    * or the layout was adopted from a plain parquet dir).
    */
  def currentVersion: Long = currentDir match {
    case Some(d) if d != path => versionOf(Paths.get(d).getFileName.toString)
    case _ => 0L // nothing published, or an adopted plain layout
  }

  override def exists: Boolean = currentDir.isDefined

  /** Snapshot dir for a specific published version — the time-travel
    * hook for [[graft.sources.v2.GraftSnapshotDataSource]]. Only the
    * current and previous versions survive commit cleanup (the grace
    * window), so older versions resolve to None. When version `n`
    * matches the live pointer the pointer target wins (a concurrent
    * writer that lost the pointer race can leave a same-numbered
    * orphan dir until cleanup).
    */
  def versionDir(n: Long): Option[String] = {
    val cur = currentDir
    if (cur.exists(d => d != path &&
        versionOf(Paths.get(d).getFileName.toString) == n)) cur
    else if (!Files.exists(root)) None
    else {
      val s = Files.list(root)
      val hits =
        try s.toArray.toSeq.map(_.asInstanceOf[Path])
          .filter(f => Files.isDirectory(f) &&
            f.getFileName.toString.startsWith("v-") &&
            versionOf(f.getFileName.toString) == n)
          .map(_.toString).sorted
        finally s.close()
      hits.headOption
    }
  }

  override def read(spark: SparkSession): DataFrame = {
    val dir = currentDir.getOrElse(
      throw new IllegalStateException(s"no published snapshot at $path"))
    // Versioned snapshot dirs are IMMUTABLE by the commit protocol (a
    // fold/overwrite publishes a NEW v-<n>-<uid> dir and swaps the
    // pointer; nothing ever rewrites a published dir in place), so
    // they read through ImmutableParquet: the schema [[prepare]]
    // recorded (no footer-inference job) and one resolved plan per
    // (session, dir). The pointer is still re-read on EVERY call, so a
    // new snapshot is picked up immediately (its dir is a different
    // key). The adopted plain layout (dir == path) is not versioned
    // and reads plainly.
    if (dir == path) spark.read.parquet(dir)
    else ImmutableParquet.cached(spark, dir)
  }

  /** A staged (not yet published) snapshot version: a per-writer
    * unique dir the caller fills with data files, then publishes via
    * [[commitStaged]] (ONE atomic pointer replace) or discards via
    * [[abortStaged]]. `prepare` is stage+write; the DSv2 write path
    * ([[graft.sources.v2]]) stages a dir and hands it to parquet's own
    * BatchWrite, committing the pointer only after the file commit.
    */
  private[graft] final case class Staged(vName: String, vDir: Path, prev: Long)

  private[graft] def stage(): Staged = {
    val prev = currentVersion
    // per-writer unique staging name: two JVMs preparing concurrently
    // (e.g. verify and bench both lazily building the same index)
    // write disjoint dirs instead of racing a shared v-<n+1> — the
    // pointer swap stays last-writer-wins, the loser's snapshot ages
    // out through the normal version cleanup
    val vName = f"v-${prev + 1}%09d-" +
      java.util.UUID.randomUUID().toString.take(8)
    Staged(vName, root.resolve(vName), prev)
  }

  private[graft] def commitStaged(s: Staged): Unit = {
    val tmp = root.resolve(s"_current.tmp-${s.vName}")
    Files.writeString(tmp, s.vName)
    Files.move(tmp, pointer,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // retire everything older than the immediately previous
    // version — kept one commit as a grace window for readers
    // that resolved the pointer just before the swap. Adopted
    // plain-layout files (version 0) age out on the same schedule.
    // A digit-less "v-" name is NOT ours (every writer here stamps a
    // numeric version): versionOfDir parses it as 0 for ordering, but
    // deleting a foreign directory on that reading would be silent
    // data loss — skip it and leave a log line instead.
    if (Files.exists(root)) {
      val ls = Files.list(root)
      try ls.forEach { f =>
        val n = f.getFileName.toString
        if (n.startsWith("v-") && !ParquetTableIO.hasVersionDigits(n))
          System.err.println(s"graft table cleanup: skipping foreign " +
            s"version-less entry $f (not a v-<n> snapshot)")
        else if (n.startsWith("v-") && versionOf(n) < s.prev &&
            !keepVersionDir(n))
          ParquetTableIO.deleteTree(f)
        else if (s.prev >= 1 && !Files.isDirectory(f) && n != "_current")
          Files.deleteIfExists(f)
      } finally ls.close()
    }
  }

  private[graft] def abortStaged(s: Staged): Unit =
    ParquetTableIO.deleteTree(s.vDir)

  override def prepare(df: DataFrame): TableIO.Prepared = {
    val staged = stage()
    val out = derive(df)
    val w = out.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(staged.vDir.toString)
    ImmutableParquet.record(staged.vDir.toString, out.schema, partitionBy)
    new TableIO.Prepared {
      override def commit(): Unit = commitStaged(staged)
      override def abort(): Unit = abortStaged(staged)
    }
  }

  /** Small-file compaction: republish the current snapshot as
    * ~`targetFileBytes` files — the hygiene pass that keeps a
    * frequently-synced table from accruing thousands of tiny files
    * (each incremental tick writes some; scan cost at 100 TB is
    * dominated by file-open overhead once files shrink below a row
    * group). Rewrites via `coalesce` — no shuffle, the whole point of
    * a cheap compaction; file sizes are therefore approximate (skewed
    * upstream partitions coalesce unevenly — use an explicit
    * `overwrite(read(spark).repartition(n))` when strict evenness is
    * worth a shuffle). Goes through the normal versioned commit, so
    * readers never see a half-compacted table and the pre-compaction
    * version survives one commit as the usual grace window.
    *
    * Returns (files before, files after).
    */
  def compact(spark: SparkSession,
      targetFileBytes: Long = 128L << 20): (Long, Long) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val dir = Paths.get(currentDir.getOrElse(
      throw new IllegalStateException(s"no published snapshot at $path")))
    def parquetFiles(p: Path) = {
      val s = Files.walk(p)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet"))
        .toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    val files = parquetFiles(dir)
    val bytes = files.map(Files.size).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    overwrite(read(spark).coalesce(n))
    (files.size.toLong, parquetFiles(Paths.get(currentDir.get)).size.toLong)
  }
}

object ParquetTableIO {

  /** Delete `dir` and everything under it, children first; a missing
    * dir is a no-op. THE recursive delete of the engine's file layouts;
    * it also forgets every [[ImmutableParquet]] key under `dir`.
    */
  def deleteTree(dir: Path): Unit = {
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
    ImmutableParquet.evictUnder(dir)
  }

  /** Version number of a "v-<n>[-uid]" snapshot dir name — THE parser
    * for that naming contract (the artifact store's vacuum uses it
    * too; a second hand-rolled parser could drift). A digit-less name
    * parses as 0 for ORDERING only (older than everything real, never
    * mistaken for live); reclamation paths must additionally check
    * [[hasVersionDigits]] — a digit-less "v-" name is a foreign
    * entry, and deleting it on the parse-as-0 reading would be silent
    * data loss (the cleanup/vacuum sites skip-and-log instead).
    */
  private[graft] def versionOfDir(dirName: String): Long = {
    val digits = dirName.stripPrefix("v-").takeWhile(_.isDigit)
    if (digits.isEmpty) 0L else digits.toLong
  }

  /** Whether a "v-" name actually carries a numeric version. Every
    * writer of this naming contract stamps one, so a digit-less name
    * is FOREIGN — cleanup skips it (deleting on the conservative
    * parse-as-0 reading would silently destroy someone else's dir).
    */
  private[graft] def hasVersionDigits(dirName: String): Boolean =
    dirName.stripPrefix("v-").takeWhile(_.isDigit).nonEmpty

  /** Day-partitioned layout — the reference's acknowledged redesign
    * ("partition the data by day", reference README.md:21,77) made
    * real: every snapshot write derives `dayCol` from the epoch-millis
    * version column and lays files out `dayCol=YYYY-MM-DD/`. Pair with
    * `IncrementalScan(..., dayCol = Some(dayCol))` so the half-open
    * window lists and reads ONLY its days — at 100 TB the difference
    * between a full scan and one day's partitions per tick.
    */
  def dayPartitioned(path: String, versionCol: String,
      dayCol: String = "_day"): ParquetTableIO = {
    import org.apache.spark.sql.functions.{col, timestamp_millis, to_date}
    new ParquetTableIO(path, partitionBy = Seq(dayCol),
      derive = df => df.withColumn(dayCol,
        to_date(timestamp_millis(col(versionCol)))))
  }
}
