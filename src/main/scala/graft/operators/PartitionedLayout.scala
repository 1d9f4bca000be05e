package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{ArtifactStore, Fs}
import graft.sources.ParquetTableIO.deleteTree

/** Directory-partitioned (hive-style) table layout — the scan-time
  * complement of [[Bucketing]]: where bucketing pre-satisfies a JOIN's
  * distribution, partitioning pre-satisfies a FILTER. Rows land under
  * `partCol=<value>/` directories, so a predicate on the partition
  * column prunes whole directories during planning (the scan's
  * `PartitionFilters` — zero I/O for excluded partitions, before any
  * row is read), and a join against a filtered dimension prunes them
  * at RUNTIME through dynamic partition pruning (the broadcast side's
  * values become a `dynamicpruningexpression` on the fact scan). At
  * 100 TB this is the difference between reading a month and reading
  * the decade: the dominant cost of a time-ranged query is decided by
  * layout, not by the query plan.
  *
  * INCREMENTAL MAINTENANCE (the store discipline applied to layout):
  * the layout tracks its source's per-file ledger. A pure file APPEND
  * re-clusters only the NEW files — O(new) — writing their rows into
  * (usually new) `partCol=` directories; any other source change
  * rewrites the layout into a fresh versioned data root. Both commit
  * through ONE atomic manifest rename: the manifest names the data
  * root and EVERY data file the layout consists of, and reads serve
  * exactly the manifest's files — so a crash anywhere mid-write
  * (half-moved increment files, a half-written rebuild root) leaves
  * the prior manifest serving the prior layout, bit-identically.
  * Replay is deterministic: increment file names derive from the
  * appended entry set (a re-run after a crash overwrites its own
  * debris), and a rebuild's data root is superseded wholesale.
  *
  * Single-writer per table per JVM (a JVM-wide per-table lock, same
  * contract as `IncrementalDocArtifact`); across processes the layout
  * is single-writer like any table-format committer — and ENFORCED
  * like one: every mutation (append increment, full rewrite, the
  * staging sweep) holds the table root's [[graft.sources.WriterLease]]
  * (`O_EXCL` lease file + heartbeat), so a second mutating process
  * gets a clean `ConcurrentWriterException` instead of interleaving
  * files into the live data root. Reads (and the fresh-manifest serve
  * path) never touch the lease.
  *
  * Reference analogue: none — the reference re-reads its whole source
  * window every sync (`pyCassElastic.py:199-212`); this is the layout
  * that makes such windows cheap at scale.
  */
object PartitionedLayout {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    locks.computeIfAbsent(table, _ => new Object)

  private def loc(table: String): String =
    s"${ArtifactStore.root}/partitioned/$table"

  private def manifestPath(table: String): Path =
    Paths.get(loc(table), "_manifest")

  /** `genEntries`: which SOURCE entries each append increment (by gen
    * id) covered — the provenance that makes increments RETRACTABLE
    * (a removal-only source change matching whole increments drops
    * their files from the manifest instead of re-laying out). The
    * original full build carries none: its rows live in arbitrary
    * part files, so a removal cutting into it always rewrites.
    *
    * `version`: monotone commit counter — assigned by [[writeManifest]]
    * (never by callers), and the address of TIME TRAVEL: every commit
    * also lands an immutable copy of the manifest under `_history/`,
    * so [[readVersion]] can serve any prior commit whose data files
    * still exist. History manifests are tiny text files; the DATA
    * retention policy is [[retainVersions]].
    */
  private final case class Manifest(dataRoot: String, files: Seq[String],
      entries: Seq[String],
      genEntries: Map[String, Seq[String]] = Map.empty,
      version: Long = 0L)

  private def historyDir(table: String): Path =
    Paths.get(loc(table), "_history")
  private def historyPath(table: String, version: Long): Path =
    historyDir(table).resolve(f"v$version%09d")

  private def parseManifest(p: Path): Option[Manifest] =
    if (!Files.exists(p)) None
    else {
      val lines = Files.readAllLines(p).toArray.toSeq.map(_.toString)
        .filter(_.nonEmpty)
      val root = lines.collectFirst { case l if l.startsWith("#root:") =>
        l.stripPrefix("#root:") }
      val genEntries = lines.filter(_.startsWith("#geni:")).map { l =>
        val body = l.stripPrefix("#geni:")
        val i = body.indexOf(':') // gen ids are hex — no ':' inside
        body.substring(0, i) -> body.substring(i + 1)
      }.groupBy(_._1).map { case (g, es) => g -> es.map(_._2) }
      // pre-versioning manifests carry no #vers line → version 0
      val version = lines.collectFirst { case l if l.startsWith("#vers:") =>
        l.stripPrefix("#vers:").toLong }.getOrElse(0L)
      root.map(r => Manifest(r,
        lines.filter(_.startsWith("#file:")).map(_.stripPrefix("#file:")),
        lines.filterNot(_.startsWith("#")),
        genEntries, version))
    }

  private def readManifest(table: String): Option[Manifest] =
    parseManifest(manifestPath(table))

  private def render(m: Manifest): String =
    (Seq("#root:" + m.dataRoot, "#vers:" + m.version) ++
      m.files.sorted.map("#file:" + _) ++
      m.genEntries.toSeq.sortBy(_._1).flatMap { case (g, es) =>
        es.sorted.map(e => s"#geni:$g:$e") } ++
      m.entries).mkString("\n")

  /** Write `_history/v<version>` if absent — immutable once written.
    * Called for the new manifest right after its commit, and for the
    * PRIOR live manifest right before it is superseded (which heals
    * the crash window between a commit's rename and its history copy:
    * the next commit re-derives the missing copy from the live file).
    */
  private def ensureHistoryCopy(table: String, m: Manifest): Unit = {
    val p = historyPath(table, m.version)
    if (!Files.exists(p)) Fs.replace(p, render(m))
  }

  /** Atomic-rename manifest commit — THE commit point of every layout
    * mutation; reads resolve exactly what it names. Assigns the next
    * version (callers never set one) and maintains the history copies
    * on both sides of the rename.
    */
  private def writeManifest(table: String, m: Manifest): Unit = {
    val prior = readManifest(table)
    prior.foreach(ensureHistoryCopy(table, _)) // heal a crashed copy
    val vm = m.copy(version = prior.map(_.version + 1).getOrElse(1L))
    Fs.replace(manifestPath(table), render(vm))
    ensureHistoryCopy(table, vm)
  }

  /** Gen ids are salted with the BASE manifest version: a crashed
    * append and its replay share the base (same id — the replay sweeps
    * its own debris and overwrites deterministically), while a
    * retract-then-reappend of the same entries commits in between and
    * so gets a FRESH id — its replay sweep can never clobber the
    * retracted gen's files where a raised [[retainVersions]] still
    * serves them to time travelers.
    */
  private[graft] def genId(newEntries: Seq[String], baseVersion: Long): String =
    Fs.digest(java.nio.ByteBuffer.allocate(8).putLong(baseVersion).array(),
      newEntries.sorted)

  /** How many trailing versions' DATA files the GC passes must keep
    * servable, live included (`graft.layout.retainVersions`, default
    * 1 = the live version only — exactly the pre-time-travel physical
    * behavior: a retract deletes its files immediately and a rewrite
    * keeps one superseded root as the reader grace window). Append
    * commits never delete anything, so on an append-only table EVERY
    * version stays travelable regardless of this knob; it only decides
    * how far back [[readVersion]] reaches across retracts/rewrites.
    * Space held by a raised retention is reclaimed by [[vacuum]].
    */
  private def retainVersions: Int =
    sys.props.get("graft.layout.retainVersions").map(_.toInt)
      .getOrElse(1).max(1)

  /** The manifests whose data files the GC passes must not delete:
    * the live one plus history back to `live.version - retain + 1`.
    */
  private def retainedManifests(table: String): Seq[Manifest] =
    readManifest(table).toSeq.flatMap { live =>
      val floor = live.version - (retainVersions - 1)
      live +: (floor until live.version)
        .flatMap(v => parseManifest(historyPath(table, v)))
    }

  /** Cluster `derive(source)` under `partCol=` directories, maintained
    * INCREMENTALLY against the source's file ledger:
    *
    *  - ledger unchanged → serve as-is (zero work — the idempotent
    *    repeated-pipeline case);
    *  - pure file append → re-cluster ONLY the new files into the
    *    live data root (new files under the affected `partCol=` dirs;
    *    existing files byte-untouched), commit by manifest rename;
    *  - anything else → full rewrite into a fresh versioned data root,
    *    committed by the same rename (the old root is GC'd after).
    *
    * Returns the layout table name for [[read]].
    */
  def ensureIncremental(spark: SparkSession, sourcePath: String,
      table: String, partCol: String,
      derive: DataFrame => DataFrame): String = lockFor(table).synchronized {
    def currentEntries(): Seq[String] =
      ArtifactStore.entries(sourcePath).filter { e =>
        val rel = e.substring(0, e.indexOf('|'))
        val name = rel.substring(rel.lastIndexOf('/') + 1)
        !(name.startsWith("_") || name.startsWith("."))
      }
    def isFresh(current: Seq[String]): Boolean =
      readManifest(table).exists(_.entries == current)
    if (isFresh(currentEntries())) table // serve path — no lease
    else {
      graft.sources.WriterLease.withLease(Paths.get(loc(table)),
        s"layout ensure $table") {
        sweepStaging(table)
        // RE-DECIDE under the lease: the pre-lease manifest read is a
        // stale decision if a foreign process committed between the
        // check and the lease acquisition — replaying it could append
        // into a superseded data root and revert the table. A re-read
        // that comes back fresh means the foreign writer did the work.
        val current = currentEntries()
        readManifest(table) match {
          case Some(m) if m.entries == current => ()
          case Some(m) if m.entries.nonEmpty &&
              m.entries.forall(current.toSet) &&
              current.exists(e => !m.entries.toSet(e)) =>
            appendIncrement(spark, sourcePath, table, partCol, derive, m,
              current)
          case Some(m) if current.nonEmpty &&
              current.forall(m.entries.toSet) &&
              m.entries.exists(e => !current.toSet(e)) &&
              retractIncrements(table, m, current) =>
            () // removal-only change matched whole increments — retracted
          case _ =>
            fullRewrite(spark, sourcePath, table, partCol, derive, current)
        }
      }
      table
    }
  }

  /** O(new): derive + cluster only the appended files, stage, then
    * move each staged file to a DETERMINISTIC gen-prefixed name inside
    * the live data root (a crashed replay first sweeps its own gen's
    * debris, so re-runs overwrite themselves), and commit the extended
    * manifest atomically.
    */
  private def appendIncrement(spark: SparkSession, sourcePath: String,
      table: String, partCol: String, derive: DataFrame => DataFrame,
      m: Manifest, current: Seq[String]): Unit = {
    val newEntries = current.filterNot(m.entries.toSet)
    val gen = genId(newEntries, m.version)
    val srcRoot = Paths.get(sourcePath)
    val newFiles = newEntries.map(e =>
      srcRoot.resolve(e.split('|').head).toString)
    val dataRoot = Paths.get(loc(table), m.dataRoot)
    // replay sweep: files of THIS gen from a crashed prior attempt
    // (they are invisible to reads — not in the manifest — but their
    // names must be free for the deterministic re-move)
    sweepGen(dataRoot, gen)
    val staging = Paths.get(loc(table), s"_staging_$gen")
    deleteTree(staging)
    derive(spark.read.parquet(newFiles: _*))
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(staging.toString)
    // move staged part-files to deterministic names in the live root
    // (the names are free: the replay sweep above deleted every g<gen>- file)
    val moved = scala.collection.mutable.ArrayBuffer[String]()
    Fs.list(staging).foreach { d =>
      val dn = d.getFileName.toString
      if (Files.isDirectory(d) && dn.contains("=")) {
        val tgt = dataRoot.resolve(dn)
        Files.createDirectories(tgt)
        Fs.list(d).filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString).zipWithIndex.foreach { case (f, i) =>
            val name = f"g$gen-$i%05d.parquet"
            Files.move(f, tgt.resolve(name))
            moved += s"$dn/$name"
          }
      }
    }
    deleteTree(staging)
    writeManifest(table, Manifest(m.dataRoot, m.files ++ moved, current,
      m.genEntries + (gen -> newEntries)))
  }

  /** BATCH ROLLBACK for the layout — the O(dropped) path for a
    * removal-only source change whose files are exactly whole append
    * increments: their gen-prefixed files drop out of the manifest in
    * one atomic rename (the retract analogue of [[appendIncrement]]),
    * and the physical files are deleted after the commit (the same
    * immediate-GC precedent as a rewrite's superseded-root cleanup —
    * a retract is an operator action). A removal cutting into the
    * original build's files (no gen provenance) or splitting an
    * increment returns false and the caller re-lays out wholesale.
    */
  private def retractIncrements(table: String, m: Manifest,
      current: Seq[String]): Boolean = {
    val removed = m.entries.toSet -- current.toSet
    val droppable = m.genEntries.filter { case (_, es) =>
      es.nonEmpty && es.toSet.subsetOf(removed) }
    if (droppable.valuesIterator.flatten.toSet != removed) return false
    val dropGens = droppable.keySet
    def ofDropped(f: String): Boolean = {
      val name = f.substring(f.lastIndexOf('/') + 1)
      dropGens.exists(g => name.startsWith(s"g$g-"))
    }
    val (dropFiles, keep) = m.files.partition(ofDropped)
    writeManifest(table,
      Manifest(m.dataRoot, keep, current, m.genEntries -- dropGens))
    // physical delete honors retention: a file still referenced by a
    // retained history version (raised retainVersions) stays servable
    // to time travelers and is reclaimed by vacuum() instead
    val retained = retainedManifests(table)
      .filter(_.dataRoot == m.dataRoot).flatMap(_.files).toSet
    val dataRoot = Paths.get(loc(table), m.dataRoot)
    dropFiles.filterNot(retained).foreach(f =>
      try Files.deleteIfExists(dataRoot.resolve(f))
      catch { case _: java.io.IOException => () }) // dead by manifest
    true
  }

  private def fullRewrite(spark: SparkSession, sourcePath: String,
      table: String, partCol: String, derive: DataFrame => DataFrame,
      current: Seq[String]): Unit = {
    val old = readManifest(table).map(_.dataRoot)
    val newRoot = "data-" + java.util.UUID.randomUUID().toString.take(8)
    val dataRoot = Paths.get(loc(table), newRoot)
    derive(spark.read.parquet(sourcePath))
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(dataRoot.toString)
    val files = Fs.walk(dataRoot)
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => dataRoot.relativize(f).toString)
    writeManifest(table, Manifest(newRoot, files, current))
    // the superseded root is invisible the instant the rename lands —
    // but an in-flight reader that resolved the OLD manifest may still
    // be scanning it, so it survives ONE rewrite as a grace window
    // (the store-fold / base-pointer discipline); anything older is
    // garbage-collected here UNLESS a retained history version (raised
    // retainVersions) still serves it to time travelers
    val keep = Set(newRoot) ++ old ++
      retainedManifests(table).map(_.dataRoot)
    Fs.list(Paths.get(loc(table)))
      .filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("data-") &&
        !keep(d.getFileName.toString))
      .foreach(deleteTree)
  }

  /** GC every orphaned `_staging_*` directory of `table` — the debris
    * of an appendIncrement that crashed after writing its staging dir.
    * A replay of the SAME gen would clean its own, but if the source
    * then changed non-append-only the replay never happens and the
    * (potentially large) directory would leak forever. Runs at the
    * top of every [[ensureIncremental]] MUTATION, under the table
    * lock AND the writer lease — no in-JVM append can be mid-staging
    * (the lock serializes writers), and the lease guarantees no other
    * process is either; the lease-free serve path never sweeps, so it
    * can never delete what a foreign writer is staging.
    */
  private def sweepStaging(table: String): Unit =
    Fs.list(Paths.get(loc(table)))
      .filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("_staging_"))
      .foreach(deleteTree)

  private def sweepGen(dataRoot: Path, gen: String): Unit =
    Fs.walk(dataRoot)
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.startsWith(s"g$gen-"))
      .foreach(Files.delete)

  /** Read a layout back — EXACTLY the committed manifest's files (an
    * orphan from a crashed writer is never listed, so it is never
    * read); the partition column is restored from the directory names
    * at planning time, which is what keeps `PartitionFilters` /
    * dynamic partition pruning operating on the layout.
    */
  def read(spark: SparkSession, table: String): DataFrame =
    serve(spark, table, readManifest(table).getOrElse(
      throw new IllegalStateException(s"no layout manifest for $table")))

  private def serve(spark: SparkSession, table: String,
      m: Manifest): DataFrame = {
    if (m.files.isEmpty)
      // partitionBy writes no partCol dirs for an empty result, so an
      // empty source (or a derive that filters everything out) commits
      // a zero-file manifest; passing zero paths to the parquet reader
      // would fail with an unrelated "unable to infer schema" — refuse
      // with the actual cause instead
      throw new IllegalStateException(
        s"layout $table has a committed manifest but zero data files " +
          "(empty source, or derive() produced no rows) — nothing to read")
    val dataRoot = Paths.get(loc(table), m.dataRoot)
    spark.read
      .option("basePath", dataRoot.toString)
      .parquet(m.files.map(f => dataRoot.resolve(f).toString): _*)
  }

  /** Every version addressable by [[readVersion]], ascending — the
    * history copies plus the live manifest (their data files may or
    * may not still exist; readVersion checks that at serve time).
    */
  def versions(table: String): Seq[Long] = {
    val hist = Fs.list(historyDir(table)).map(_.getFileName.toString)
      .filter(_.matches("v\\d+")) // stray/tmp files are not versions
      .map(_.stripPrefix("v").toLong)
    (hist ++ readManifest(table).map(_.version)).distinct.sorted
  }

  /** TIME TRAVEL: serve the layout exactly as version `version`
    * committed it — same file set, same partition pruning. Appends
    * never delete data files, so on an append-only table every version
    * back to the original build is servable; across retracts/rewrites
    * the reach is [[retainVersions]] (a version whose files the GC
    * already reclaimed refuses with the actual cause, not a scan
    * error). The read is lock- and lease-free like [[read]]: history
    * manifests are immutable once written.
    */
  def readVersion(spark: SparkSession, table: String,
      version: Long): DataFrame = {
    val live = readManifest(table).getOrElse(
      throw new IllegalStateException(s"no layout manifest for $table"))
    val m =
      if (live.version == version) live
      else parseManifest(historyPath(table, version)).getOrElse(
        throw new IllegalArgumentException(
          s"layout $table has no version $version " +
            s"(available: ${versions(table).mkString(", ")})"))
    val dataRoot = Paths.get(loc(table), m.dataRoot)
    val missing = m.files.filterNot(f => Files.exists(dataRoot.resolve(f)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"layout $table version $version is no longer servable: " +
          s"${missing.size} of its files were garbage-collected past " +
          "retention (raise -Dgraft.layout.retainVersions before the " +
          s"retract/rewrite that dropped them); first missing: " +
          missing.head)
    serve(spark, table, m)
  }

  /** Reclaim the space a raised [[retainVersions]] deferred: drop
    * history manifests older than the newest `keepLast` versions (the
    * live one always survives), then delete every data root and every
    * gen file inside the live root that no remaining manifest
    * references. Runs under the writer lease — vacuum deletes data, so
    * it is a mutation even though the live manifest never changes.
    * Like a retract's immediate GC (and unlike a rewrite's one-root
    * grace window), vacuum is an OPERATOR action: a reader mid-scan of
    * a version being vacuumed may fail — the operator chose to reclaim
    * that version, the engine's job is only that the live read and
    * every still-retained version stay untouched. Returns the number
    * of data files deleted.
    */
  def vacuum(table: String, keepLast: Int): Int =
    lockFor(table).synchronized {
      require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
      if (readManifest(table).isEmpty) 0
      else graft.sources.WriterLease.withLease(Paths.get(loc(table)),
        s"layout vacuum $table") {
        // the live manifest is read UNDER the lease: a foreign commit
        // between a pre-lease read and the acquisition would make the
        // floor computation stale — worst case deleting a history
        // manifest inside the NEW live version's keepLast window. The
        // pre-lease read above only short-circuits the no-table case
        // (acquiring would create the root directory as a side effect).
        val live = readManifest(table).getOrElse(
          return 0) // manifest vanished between check and lease
        val floor = live.version - (keepLast - 1)
        versions(table).filter(v => v < floor && v != live.version)
          .foreach(v => Files.deleteIfExists(historyPath(table, v)))
        val kept = live +: versions(table).filter(_ != live.version)
          .flatMap(v => parseManifest(historyPath(table, v)))
        val keptRoots = kept.map(_.dataRoot).toSet
        val keptByRoot = kept.groupBy(_.dataRoot)
          .map { case (r, ms) => r -> ms.flatMap(_.files).toSet }
        var deleted = 0
        Fs.list(Paths.get(loc(table)))
          .filter(d => Files.isDirectory(d) &&
            d.getFileName.toString.startsWith("data-"))
          .foreach { d =>
            val name = d.getFileName.toString
            if (!keptRoots(name)) {
              deleted += Fs.walk(d).count(Files.isRegularFile(_))
              deleteTree(d)
            } else {
              val referenced = keptByRoot(name)
              val victims = Fs.walk(d)
                .filter(f => Files.isRegularFile(f) &&
                  f.getFileName.toString.endsWith(".parquet"))
                .filterNot(f => referenced(d.relativize(f).toString))
              victims.foreach(Files.delete); deleted += victims.size
            }
          }
        deleted
      }
    }
}
