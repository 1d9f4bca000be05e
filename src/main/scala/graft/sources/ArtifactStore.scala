package graft.sources

import java.nio.file.{Files, Paths}

/** Keying discipline for persisted derived artifacts (postings
  * indexes, trained codebooks): every artifact lives under a key that
  * folds in a CONTENT FINGERPRINT of its source table, so a corpus
  * regrown in place — same path, even the same row count — keys to a
  * fresh build and can never serve a stale artifact. The fingerprint
  * is a filesystem walk (relative name, size, mtime per file), not a
  * data scan: any in-place rewrite changes mtimes, any content change
  * through a normal writer changes sizes/files, and the check costs
  * microseconds per query instead of a Spark job.
  *
  * `SPARK_GRAFT_INDEX_DIR` overrides the store root (defaults under
  * the build's target dir, so `clean` drops the cache with everything
  * else).
  */
object ArtifactStore {

  def root: String = sys.env.getOrElse(
    "SPARK_GRAFT_INDEX_DIR", "/root/repo/target/graft_index")

  /** Sorted per-file entries `relativePath|size|mtimeMillis` of a
    * source table path (file or directory) — the raw material of
    * [[fingerprint]], and the per-file state ledger the incremental
    * text index diffs to find what a corpus increment added.
    */
  def entries(tablePath: String): Seq[String] = {
    val p = Paths.get(tablePath)
    require(Files.exists(p), s"no source table at $tablePath")
    Fs.walk(p).filter(Files.isRegularFile(_))
      .map(f => s"${p.relativize(f)}|${Files.size(f)}|" +
        Files.getLastModifiedTime(f).toMillis)
      .sorted
  }

  /** Content fingerprint of a source table path (file or directory):
    * 16 hex chars over the sorted (relative path, size, mtime-millis)
    * file entries.
    */
  def fingerprint(tablePath: String): String = Fs.digest(entries(tablePath))

  /** Sanitized store key segment for a table path WITHOUT the content
    * fingerprint — the root for artifacts that version their content
    * internally (the incremental text index tracks indexed corpus
    * files in its own state ledger instead of keying whole rebuilds).
    */
  def pathKey(tablePath: String): String =
    tablePath.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Versioned store handle for `piece` of the artifact derived from
    * the table at `tablePath`.
    */
  def io(tablePath: String, piece: String): ParquetTableIO = {
    val key = tablePath.replaceAll("[^A-Za-z0-9._-]", "_") +
      "_" + fingerprint(tablePath)
    new ParquetTableIO(s"$root/$key/$piece")
  }
}
