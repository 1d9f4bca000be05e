package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.operators.{LwwMerge, SchemaTools}

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
  *
  * A sync leg writes through [[pin]]: one read of the store pinned to
  * a version, and the leg's LWW upsert staged against exactly that
  * version. The default stages the full merge through `prepare` (a
  * whole-store rewrite); [[ParquetTableIO]] stages only the rows that
  * change.
  */
trait TableIO {
  /** Location of the store; [[TableIO.key]] is its identity. */
  def path: String
  def read(spark: SparkSession): DataFrame
  def exists: Boolean
  def prepare(df: DataFrame): TableIO.Prepared
  final def overwrite(df: DataFrame): Unit = prepare(df).commit()

  /** The store's content pinned to one version, and a sync leg's
    * upsert into it staged against exactly that version.
    */
  def pin(spark: SparkSession): TableIO.Pinned =
    new TableIO.Pinned(read(spark)) {
      def upsert(dest: DataFrame, incoming: DataFrame, u: TableIO.Upsert): TableIO.Prepared =
        prepare(u.merge(dest, incoming))
    }
}

object TableIO {
  trait Prepared { def commit(): Unit; def abort(): Unit }

  /** How a sync leg merges its incoming rows into a store: LWW on
    * `idCols` by `versionCol` ([[LwwMerge]]), counted in `counts`.
    * `windowed` says the incoming rows are one bounded window — the
    * only case in which a store may stage just the rows that win.
    */
  final case class Upsert(idCols: Seq[String], versionCol: String,
      windowed: Boolean, counts: LwwMerge.Counts) {
    def merge(dest: DataFrame, incoming: DataFrame): DataFrame =
      LwwMerge.merge(dest, incoming, idCols, versionCol, Some(counts))
    def winners(dest: DataFrame, incoming: DataFrame): DataFrame =
      LwwMerge.winners(dest, incoming, idCols, versionCol, Some(counts))
  }

  /** One pinned read of a store (`df`). `upsert(dest, incoming, u)`
    * stages the merge of `incoming` into `dest`, which is `df` aligned
    * to the sync's schema; nothing is published before `commit`.
    */
  abstract class Pinned(val df: DataFrame) {
    def upsert(dest: DataFrame, incoming: DataFrame, u: Upsert): Prepared
  }

  /** A location in absolute, normalized form: two spellings of one
    * directory (relative, `./`, `../`) map to the same key.
    */
  def key(path: String): String = Paths.get(path).toAbsolutePath.normalize.toString
}

/** Parquet snapshot store with versioned-snapshot + atomic-pointer
  * commits (the same commit shape lakehouse table formats use).
  *
  * Layout: immutable `path/v-<n>-<uid>/…parquet` dirs plus a tiny
  * `path/_current` manifest naming the live version. Its first line
  * is the BASE snapshot dir; each later line names one DELTA dir
  * committed on top of it, with the key columns its rows replace by
  * (`v-<m>-<uid>` TAB key…). A version is its manifest; its number is
  * that of its newest dir. Reads [[resolve]] the manifest: a row is
  * dropped when a newer delta holds its key. A store with no deltas
  * keeps a one-line pointer, and `prepare`/`overwrite`/`compact`
  * always publish a base with no deltas.
  *
  * A write materializes a new dir while readers keep resolving the
  * old manifest (which also lets the new version be computed FROM the
  * old one — Spark's own Overwrite truncates before reading); `commit`
  * is ONE atomic replace of `_current`. Readers never observe a
  * half-published state: a reader that resolved a manifest keeps
  * complete immutable dirs (the dirs of the previous manifest are
  * retained one commit as a grace window). This is also the
  * object-store-friendly shape: no directory moves of data, just a
  * small-object put. The abort path is the engine's version of the
  * reference's duplication guard — fail the leg rather than leave a
  * half-applied state (pyCassElastic.py:85-88).
  *
  * A sync leg ([[pin]]) over a window stages only its WINNERS
  * ([[LwwMerge.winners]]) as one delta — the reference upserts only
  * the window's rows (pyCassElastic.py:316-354), and the EDBT 2020
  * incremental framework keeps what earlier increments stored (PAPERS:
  * *Incremental Based Framework for Top-K Similarity Search*). The leg
  * folds instead — today's full merge, publishing a fresh base — when
  * its incoming rows are not a window, the base is an adopted plain
  * dir, the manifest already holds [[ParquetTableIO.MaxDeltas]]
  * deltas, or the deltas already hold 1/[[ParquetTableIO.FoldShare]]
  * of the base's rows (counted from parquet footers).
  *
  * `partitionBy`: a date-derived column here turns the incremental
  * window scan into partition pruning — the reference's own
  * acknowledged redesign ("partition the data by day",
  * reference README.md:21,77). At 100 TB this is the difference
  * between a full scan and reading one day's partitions. Deltas are
  * laid out the same way.
  *
  * @param keepVersionDir retention hook: a superseded dir whose NAME
  *   this predicate accepts survives the commit-time cleanup (beyond
  *   the standard one-commit grace window) — the artifact store passes
  *   the base versions its retained history ledgers still reference
  *   (time travel). Default keeps nothing extra.
  */
final class ParquetTableIO(val path: String, partitionBy: Seq[String] = Nil,
    derive: DataFrame => DataFrame = identity,
    keepVersionDir: String => Boolean = _ => false)
    extends TableIO {
  import ParquetTableIO._

  private def root: Path = Paths.get(path)
  private def pointer: Path = root.resolve("_current")

  /** The live manifest, if any; a pointer-less directory that already
    * holds parquet files is ADOPTED as a version-0 base (bootstrap from
    * an existing plain table; the first commit supersedes it).
    */
  def currentManifest: Option[Manifest] =
    if (Files.exists(pointer)) Some(parse(Files.readString(pointer)))
    else if (Fs.list(root).exists(_.getFileName.toString.endsWith(".parquet")))
      Some(Manifest(path, Nil))
    else None

  /** Base dir (absolute) of the live manifest, if any. */
  def currentDir: Option[String] = currentManifest.map(_.base)

  private def parse(text: String): Manifest = {
    val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    Manifest(root.resolve(lines.head).toString, lines.tail.map { l =>
      val f = l.split('\t')
      Delta(root.resolve(f.head).toString, f.tail.toSeq)
    })
  }

  private def render(m: Manifest): String =
    (nameOf(m.base) +: m.deltas.map(d => (nameOf(d.dir) +: d.keys).mkString("\t")))
      .mkString("\n")

  /** Version number of the live manifest (0 when nothing is published
    * or the layout was adopted from a plain parquet dir).
    */
  def currentVersion: Long = currentManifest match {
    case Some(m) if m.base != path => m.version
    case _ => 0L // nothing published, or an adopted plain layout
  }

  override def exists: Boolean = currentManifest.isDefined

  /** The dir stamped with version `n`, if it still exists. When the
    * live manifest's newest dir has version `n` it wins (a concurrent
    * writer that lost the pointer race can leave a same-numbered
    * orphan dir until cleanup).
    */
  def versionDir(n: Long): Option[String] = {
    val cur = currentManifest.filter(_.base != path).map(_.dirs.last)
    if (cur.exists(d => versionOfDir(nameOf(d)) == n)) cur
    else Fs.list(root)
      .filter(f => Files.isDirectory(f) &&
        f.getFileName.toString.startsWith("v-") &&
        versionOfDir(f.getFileName.toString) == n)
      .map(_.toString).sorted.headOption
  }

  /** The manifest of published version `n` — the time-travel hook for
    * [[graft.sources.v2.GraftSnapshotDataSource]]: a base dir is its
    * own manifest, a delta dir holds a copy of the manifest it
    * published. Only the current and previous manifests survive commit
    * cleanup (the grace window), so older versions resolve to None.
    */
  def versionManifest(n: Long): Option[Manifest] =
    versionDir(n).map { d =>
      val f = Paths.get(d, ManifestFile)
      if (Files.exists(f)) parse(Files.readString(f)) else Manifest(d, Nil)
    }.filter(_.dirs.forall(d => Files.isDirectory(Paths.get(d))))

  override def read(spark: SparkSession): DataFrame =
    resolve(spark, currentManifest.getOrElse(
      throw new IllegalStateException(s"no published snapshot at $path")))

  /** The rows of manifest `m`: the base's and each delta's rows, minus
    * those whose key a newer delta holds, under the newest (widest)
    * schema — additive columns null-pad older rows. Each drop is a
    * left-anti join on one delta's keys, which Spark broadcasts by its
    * size rule (deltas are window-sized); filters and day pruning push
    * through to every dir's scan.
    *
    * Published dirs are IMMUTABLE by the commit protocol (nothing ever
    * rewrites one in place), so each reads through ImmutableParquet:
    * the schema its writer recorded (no footer-inference job) and one
    * resolved plan per (session, dir). The pointer is re-read on every
    * [[read]], so a new manifest is picked up immediately. The adopted
    * plain layout (dir == path) is not versioned and reads plainly.
    */
  private[graft] def resolve(spark: SparkSession, m: Manifest): DataFrame = {
    def load(d: String) =
      if (d == path) spark.read.parquet(d) else ImmutableParquet.cached(spark, d)
    val base = load(m.base)
    if (m.deltas.isEmpty) base
    else {
      val deltas = m.deltas.map(d => d -> load(d.dir))
      val schema = (deltas.reverse.map(_._2) :+ base).map(_.schema)
        .reduceLeft(SchemaTools.evolve(_, _, failOnTypeConflict = false))
      def fit(df: DataFrame) = if (df.schema == schema) df else SchemaTools.align(df, schema)
      deltas.foldLeft(fit(base)) { case (acc, (d, df)) =>
        val keys = d.keys.zipWithIndex
        val held = df.select(keys.map { case (c, j) => col(c).as(s"__k$j") }: _*)
        acc.join(held, keys.map { case (c, j) => acc(c) <=> col(s"__k$j") }.reduce(_ && _),
          "left_anti").union(fit(df))
      }
    }
  }

  /** A staged (not yet published) version: a per-writer unique dir the
    * caller fills with data files, then publishes via [[commitStaged]]
    * (ONE atomic replace of `_current` with `manifest`) or discards via
    * [[abortStaged]]. `prepare` is stage+write; the DSv2 write path
    * ([[graft.sources.v2]]) stages a dir and hands it to parquet's own
    * BatchWrite, committing the pointer only after the file commit.
    */
  private[graft] final case class Staged(vName: String, vDir: Path, prev: Long,
      manifest: String)

  // per-writer unique staging name: two JVMs preparing concurrently
  // (e.g. verify and bench both lazily building the same index) write
  // disjoint dirs instead of racing a shared v-<n+1> — the pointer
  // swap stays last-writer-wins, the loser's dir ages out through the
  // normal version cleanup
  private def newName(version: Long): String =
    f"v-$version%09d-" + java.util.UUID.randomUUID().toString.take(8)

  /** Stages a new base. */
  private[graft] def stage(): Staged = {
    val prev = currentVersion
    val vName = newName(prev + 1)
    Staged(vName, root.resolve(vName), prev, vName)
  }

  private[graft] def commitStaged(s: Staged): Unit = {
    val before = if (Files.exists(pointer)) Files.readString(pointer) else ""
    Fs.replace(pointer, s.manifest)
    // retire every dir older than the previous version that neither
    // the new manifest nor the one it replaced names — the previous
    // manifest is kept one commit as a grace window for readers that
    // resolved it just before the swap; dirs at least as new as the
    // previous version may be a concurrent writer's staging. Adopted
    // plain-layout files (version 0) age out on the same schedule.
    // A digit-less "v-" name is NOT ours (every writer here stamps a
    // numeric version): versionOfDir parses it as 0 for ordering, but
    // deleting a foreign directory on that reading would be silent
    // data loss — skip it and leave a log line instead.
    val named = (s.manifest + "\n" + before).linesIterator
      .map(_.trim.takeWhile(_ != '\t')).toSet
    Fs.list(root).foreach { f =>
      val n = f.getFileName.toString
      if (n.startsWith("v-") && !hasVersionDigits(n))
        System.err.println(s"graft table cleanup: skipping foreign " +
          s"version-less entry $f (not a v-<n> snapshot)")
      else if (n.startsWith("v-") && versionOfDir(n) < s.prev &&
          !named(n) && !keepVersionDir(n))
        deleteTree(f)
      else if (s.prev >= 1 && !Files.isDirectory(f) && n != "_current")
        Files.deleteIfExists(f)
    }
  }

  private[graft] def abortStaged(s: Staged): Unit = deleteTree(s.vDir)

  private def write(out: DataFrame, dir: Path): Unit = {
    val w = out.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir.toString)
  }

  override def prepare(df: DataFrame): TableIO.Prepared = {
    val staged = stage()
    val out = derive(df)
    write(out, staged.vDir)
    ImmutableParquet.record(staged.vDir.toString, out.schema, partitionBy)
    prepared(staged)
  }

  private def prepared(staged: Staged): TableIO.Prepared = new TableIO.Prepared {
    override def commit(): Unit = commitStaged(staged)
    override def abort(): Unit = abortStaged(staged)
  }

  override def pin(spark: SparkSession): TableIO.Pinned = {
    val m = currentManifest.getOrElse(
      throw new IllegalStateException(s"no published snapshot at $path"))
    pinnedAt(spark, m, resolve(spark, m), prepare)
  }

  /** [[pin]] at manifest `m`, read as `read`; `full` publishes a fresh
    * base (this store's `prepare`, or the connector's write).
    */
  private[graft] def pinnedAt(spark: SparkSession, m: Manifest, read: DataFrame,
      full: DataFrame => TableIO.Prepared): TableIO.Pinned =
    new TableIO.Pinned(read) {
      def upsert(dest: DataFrame, incoming: DataFrame, u: TableIO.Upsert): TableIO.Prepared =
        if (!u.windowed || m.base == path || m.deltas.size >= MaxDeltas ||
            m.deltas.nonEmpty && m.deltas.map(d => ImmutableParquet.rows(spark, d.dir)).sum *
              FoldShare >= ImmutableParquet.rows(spark, m.base))
          full(u.merge(dest, incoming))
        else stageDelta(spark, m, df.schema, dest, incoming, u)
    }

  /** Writes the leg's winners as one delta dir on top of `m`. A leg
    * with no winners stages nothing, unless the sync's schema gained
    * columns: then an empty delta publishes the wider schema.
    */
  private def stageDelta(spark: SparkSession, m: Manifest, pinned: StructType,
      dest: DataFrame, incoming: DataFrame, u: TableIO.Upsert): TableIO.Prepared = {
    val vName = newName(m.version + 1)
    val vDir = root.resolve(vName)
    val out = derive(u.winners(dest, incoming))
    write(out, vDir)
    // rows from the footers: the observed counts arrive only after the
    // listener bus delivers them, and the fold rule reads these again
    val staged = ImmutableParquet.rows(spark, vDir.toString)
    val evolved = dest.columns.toSet != pinned.fieldNames.toSet
    if (staged == 0 && !evolved) {
      deleteTree(vDir)
      new TableIO.Prepared { def commit(): Unit = (); def abort(): Unit = () }
    } else {
      if (staged == 0) { // no partition dirs: one schema-only file
        deleteTree(vDir)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), out.schema)
          .write.parquet(vDir.toString)
        ImmutableParquet.record(vDir.toString, out.schema)
      } else ImmutableParquet.record(vDir.toString, out.schema, partitionBy)
      val next = render(m.copy(deltas = m.deltas :+ Delta(vDir.toString, u.idCols)))
      Files.writeString(vDir.resolve(ManifestFile), next)
      prepared(Staged(vName, vDir, m.version, next))
    }
  }

  /** Small-file compaction: republish the current version as
    * ~`targetFileBytes` files in one base — the hygiene pass that keeps
    * a frequently-synced table from accruing thousands of tiny files
    * (scan cost at 100 TB is dominated by file-open overhead once files
    * shrink below a row group); it also folds any deltas. Rewrites via
    * `coalesce` — no shuffle, the whole point of a cheap compaction;
    * file sizes are therefore approximate (skewed upstream partitions
    * coalesce unevenly — use an explicit
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
    val m = currentManifest.getOrElse(
      throw new IllegalStateException(s"no published snapshot at $path"))
    def parquetFiles(d: String) =
      Fs.walk(Paths.get(d)).filter(_.getFileName.toString.endsWith(".parquet"))
    val files = m.dirs.flatMap(parquetFiles)
    val bytes = files.map(Files.size).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    overwrite(read(spark).coalesce(n))
    (files.size.toLong, parquetFiles(currentDir.get).size.toLong)
  }
}

object ParquetTableIO {

  /** A delta dir and the key columns its rows replace by. */
  final case class Delta(dir: String, keys: Seq[String])

  /** A published version: its base snapshot dir, then the delta dirs
    * committed on top of it, oldest first (paths under the store).
    */
  final case class Manifest(base: String, deltas: Seq[Delta]) {
    def dirs: Seq[String] = base +: deltas.map(_.dir)
    def version: Long = versionOfDir(nameOf(dirs.last))
  }

  /** A manifest holds at most this many deltas; the next leg folds. */
  val MaxDeltas = 8

  /** A leg folds once the deltas hold 1/FoldShare of the base's rows. */
  val FoldShare = 8

  /** The copy of its manifest a delta dir holds (time travel). Spark's
    * file listing skips `_`-prefixed names, so reads never see it.
    */
  private val ManifestFile = "_manifest"

  private def nameOf(dir: String): String = Paths.get(dir).getFileName.toString

  /** Delete `dir` and everything under it, children first; a missing
    * dir is a no-op. THE recursive delete of the engine's file layouts;
    * it also forgets every [[ImmutableParquet]] key under `dir`.
    */
  def deleteTree(dir: Path): Unit = {
    Fs.walk(dir).reverse.foreach(Files.delete)
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
