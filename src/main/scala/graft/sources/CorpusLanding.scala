package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.ParquetTableIO.deleteTree

/** THE micro-batch → corpus-generation landing protocol — the bridge
  * between Structured Streaming's at-least-once batch delivery and
  * [[IncrementalDocArtifact]]'s append-only corpus contract. A landed
  * batch becomes ordinary corpus files, so EVERY corpus-keyed store
  * (co-occurrence graph, digests, TF-IDF, band index, …) maintains
  * itself over a streamed corpus with its whole ops plane (advance,
  * fold, lease, suffix rollback, time travel) unchanged.
  *
  * Exactly-once at the FILE level under at-least-once delivery:
  *
  *  - the batch stages under the sibling `<corpusDir>_staging/b<id>/`
  *    (NEVER inside the corpus — the artifact ledger walks the corpus
  *    and a half-staged file must not look like an entry),
  *    hash-partitioned by `hashCol` into a FIXED part count, so the
  *    row→file assignment is deterministic for the same batch
  *    content;
  *  - each staged part renames (atomic, same filesystem) to the
  *    deterministic corpus name `b<id>_p<partIdx>of<parts>.parquet`,
  *    SKIPPING names that already exist — a replay re-stages (cheap,
  *    batch-sized) and lands only what a crash left missing, per
  *    name the content identical;
  *  - the parts count is IN the name: a replay with a different
  *    `parts` value splits rows differently, and skip-if-exists
  *    would silently lose (narrower replay of a wider crash) or
  *    double (wider replay of a narrower landing) rows — the
  *    mismatch refuses loudly instead.
  *
  * A reader that reconciles mid-landing sees a PREFIX of the batch's
  * files — a smaller generation; the rest lands as the next one.
  * Stores whose advance algebra is cross-generation exact (the
  * engine-wide [[IncrementalDocArtifact]] contract) are unaffected;
  * callers who must distinguish "my own partial landing" from
  * genuinely-prior data anchor on a batch-id column they land with
  * the rows (the accept-ingest loop does).
  *
  * java.nio like the artifact store it feeds — LOCAL filesystems
  * only, refused loudly otherwise.
  */
object CorpusLanding {

  /** Refuse URI-schemed paths: `Files.exists("s3a://…")` silently
    * resolves against the LOCAL fs as a weird relative path.
    */
  def requireLocal(path: String): Unit =
    require(!path.contains("://"),
      s"corpus landing requires a local-filesystem path, got $path — " +
        "the landing protocol and the artifact store it feeds are " +
        "java.nio-based; stage remote sinks onto local storage (or " +
        "mount them) before ingesting")

  /** Whether `corpusDir` holds any landed parquet yet. */
  def hasData(corpusDir: String): Boolean = {
    val p = Paths.get(corpusDir)
    Files.exists(p) && {
      val s = Files.list(p)
      try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  /** Land one batch's rows (all columns, as given) into `corpusDir`.
    *
    * @param hashCol   column whose hash fixes the row→part assignment
    * @param parts     files per batch — MUST be identical on replay
    *                  (enforced via the name, see class doc)
    * @param keepParts spec hook: keep only the first k renames — a
    *                  simulated crash mid-landing
    */
  def land(rows: DataFrame, batchId: Long, corpusDir: String,
      hashCol: String, parts: Int = 1,
      keepParts: Int = Int.MaxValue): Unit = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    requireLocal(corpusDir)
    val corpus = Paths.get(corpusDir)
    Files.createDirectories(corpus)
    val staging = Paths.get(corpusDir + "_staging", s"b$batchId")
    deleteTree(staging) // stale debris from a crashed attempt
    // one part needs no hash exchange: every row goes to part 0
    (if (parts == 1) rows.coalesce(1) else rows.repartition(parts, col(hashCol)))
      .write.mode("overwrite").parquet(staging.toString)
    // deterministic names by SPARK part index (parsed from the task's
    // own part-NNNNN prefix — empty partitions write no file, and the
    // index, not the listing position, is what replay reproduces)
    val s = Files.list(staging)
    val staged =
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      finally s.close()
    val targets = staged.map { f =>
      val idx = f.getFileName.toString.stripPrefix("part-")
        .takeWhile(_.isDigit)
      require(idx.nonEmpty, s"unexpected staged file name $f")
      f -> f"b$batchId%09d_p${idx.toInt}%dof$parts%d.parquet"
    }
    // PARTS-MISMATCH GUARD (see class doc)
    val landedOfBatch = {
      val prefix = f"b$batchId%09d_p"
      val ls = Files.list(corpus)
      try ls.toArray.toSeq.map(_.asInstanceOf[Path])
        .map(_.getFileName.toString)
        .filter(n => n.startsWith(prefix) && n.endsWith(".parquet"))
      finally ls.close()
    }
    val foreign = landedOfBatch.filterNot(_.endsWith(s"of$parts.parquet"))
    if (foreign.nonEmpty) {
      deleteTree(staging)
      // a landed name with no "of<parts>" suffix at all predates this
      // protocol — no parts value can ever match it, so "retry with
      // the original parts" would be impossible advice
      val preOf = foreign.filterNot(_.contains("of"))
      if (preOf.nonEmpty) throw new IllegalStateException(
        s"batch $batchId has landed files from a pre-parts-naming " +
          s"landing (${preOf.mkString(", ")}) — this corpus was " +
          "written by an older landing protocol; re-land its batches " +
          "into a fresh corpus directory (no parts value can match " +
          "the old names)")
      throw new IllegalStateException(
        s"batch $batchId was previously landed with a DIFFERENT " +
          s"parts split (existing ${foreign.mkString(", ")} vs this " +
          s"attempt's parts=$parts) — replaying with a changed parts " +
          "value would silently lose or double rows; retry with the " +
          "original parts")
    }
    // a landed file's schema is the batch's: recorded under the file's
    // (path, size, mtime) identity, so the advance that reads it next
    // runs no footer-inference job
    targets.take(keepParts).foreach { case (f, name) =>
      val target = corpus.resolve(name)
      if (!Files.exists(target)) {
        Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
        ImmutableParquet.record(target.toString, rows.schema)
      }
    }
    deleteTree(staging)
  }

  /** Atomically publish a small marker file WITH its content (write a
    * temp sibling, hard-link it into place): the marker either does
    * not exist or holds complete content — never the empty file a
    * crash inside create-then-write exposes. Create-if-absent; on a
    * lost race the winner's content is returned. Local filesystems
    * only (the protocol's standing constraint), where link creation
    * is the atomic fail-if-exists publish.
    */
  def stampMarker(path: Path, content: String): String =
    stampMarkerCreated(path, content)._1

  /** [[stampMarker]] plus whether THIS call created the marker — the
    * caller-side race detector: created=true proves the marker did
    * not exist when the link was attempted, so a precondition checked
    * BEFORE the stamp (e.g. "the sink is empty") can be re-validated
    * after winning it instead of trusting the check-then-stamp window.
    */
  def stampMarkerCreated(path: Path, content: String): (String, Boolean) = {
    require(content.trim.nonEmpty, "marker content must be non-empty")
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(
      s"${path.getFileName}.tmp.${java.util.UUID.randomUUID}")
    Files.writeString(tmp, content)
    try {
      try { Files.createLink(path, tmp); (content, true) }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          (Files.readString(path).trim, false)
      }
    } finally {
      Files.deleteIfExists(tmp)
      ()
    }
  }
}
